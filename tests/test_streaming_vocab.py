"""Streaming vocab maintenance == batch word counts, replay-idempotent,
compaction-stable; tokenizer ops read the maintained table
(streaming/vocab.py)."""

import glob

from pyspark.sql import functions as F

from rag_vertex_ai_vector_search_spark.operators.tokenizer import (
    bpe_merge_pairs,
    bpe_merge_pairs_from_counts,
    vocab_coverage_from_counts,
    vocab_coverage_report,
)
from rag_vertex_ai_vector_search_spark.sources import load_table
from rag_vertex_ai_vector_search_spark.streaming.state import (
    apply_state_batch,
    compact_state,
    read_state,
    stream_state,
)
from rag_vertex_ai_vector_search_spark.streaming.vocab import vocab_state

import pytest

# Slow tier: excluded from the per-commit fast gate (pytest -m "not full");
# the full suite still runs before a round is declared done.
pytestmark = pytest.mark.full



def _batch_counts(docs):
    from rag_vertex_ai_vector_search_spark.operators.tokenizer import (
        _word_counts,
    )

    return _word_counts(docs, "text")


def _assert_same(a, b):
    assert a.exceptAll(b).isEmpty() and b.exceptAll(a).isEmpty()


def test_stream_vocab_matches_batch(spark, sf_smoke, tmp_path):
    docs = load_table(spark, sf_smoke, "documents").select("doc_id", "text")
    src = str(tmp_path / "src")
    table = str(tmp_path / "vocab")
    ckpt = str(tmp_path / "ckpt")
    docs.repartition(3).write.parquet(src)

    stream = spark.readStream.schema(docs.schema).option(
        "maxFilesPerTrigger", 1
    ).parquet(src)
    q = stream_state(stream, {table: vocab_state()}, checkpoint_dir=ckpt)
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    epochs = spark.read.parquet(table).select("_epoch").distinct().count()
    assert epochs >= 2, "stream must have produced multiple micro-batches"
    _assert_same(
        read_state(spark, table, vocab_state()),
        _batch_counts(docs).withColumn("n", F.col("n").cast("long")),
    )


def test_vocab_replay_idempotent_and_tokenizer_parity(spark, sf_smoke, tmp_path):
    """Replaying an epoch changes nothing, and the tokenizer reports
    computed from the maintained counts equal the batch-path reports."""
    docs = load_table(spark, sf_smoke, "documents").select("doc_id", "text")
    table = str(tmp_path / "vocab")
    first = docs.filter(F.col("doc_id") % 2 == 0)
    second = docs.filter(F.col("doc_id") % 2 == 1)
    apply_state_batch(first, 0, {table: vocab_state()})
    apply_state_batch(second, 1, {table: vocab_state()})
    apply_state_batch(
        second, 1, {table: vocab_state()}
    )  # at-least-once replay
    counts = read_state(spark, table, vocab_state())
    _assert_same(
        counts, _batch_counts(docs).withColumn("n", F.col("n").cast("long"))
    )

    cov_stream = vocab_coverage_from_counts(counts, top_k=20)
    cov_batch = vocab_coverage_report(docs, top_k=20)
    _assert_same(cov_stream, cov_batch)
    bpe_stream = bpe_merge_pairs_from_counts(counts, top_k=20)
    bpe_batch = bpe_merge_pairs(docs, top_k=20)
    _assert_same(bpe_stream, bpe_batch)


def test_vocab_compaction_folds_epochs(spark, sf_smoke, tmp_path):
    docs = load_table(spark, sf_smoke, "documents").select("doc_id", "text")
    table = str(tmp_path / "vocab")
    for i in range(4):
        apply_state_batch(
            docs.filter(F.col("doc_id") % 4 == i), i, {table: vocab_state()}
        )
    expected = read_state(spark, table, vocab_state()).collect()

    compact_state(spark, table, vocab_state())
    dirs = sorted(glob.glob(table + "/_epoch=*"))
    assert dirs == [table + "/_epoch=-1"]
    after = read_state(spark, table, vocab_state())
    _assert_same(after, spark.createDataFrame(expected, after.schema))


def test_train_bpe_reads_maintained_vocab(spark, sf_smoke, tmp_path):
    """train_bpe(counts=read_vocab(...)) learns the IDENTICAL merges
    as batch self-training -- the streaming-vocab table feeds BPE
    training without re-reading documents."""
    from rag_vertex_ai_vector_search_spark.operators.tokenizer import (
        train_bpe,
    )
    from rag_vertex_ai_vector_search_spark.sources import load_table

    docs = load_table(spark, sf_smoke, "documents").select("doc_id", "text")
    table = str(tmp_path / "vocab")
    apply_state_batch(
        docs.filter(F.col("doc_id") % 2 == 0), 0, {table: vocab_state()}
    )
    apply_state_batch(
        docs.filter(F.col("doc_id") % 2 == 1), 1, {table: vocab_state()}
    )
    maintained = read_state(spark, table, vocab_state())
    a = [tuple(r) for r in
         train_bpe(None, counts=maintained, n_merges=4)
         .orderBy("merge_rank").collect()]
    b = [tuple(r) for r in
         train_bpe(docs, n_merges=4).orderBy("merge_rank").collect()]
    assert a == b
