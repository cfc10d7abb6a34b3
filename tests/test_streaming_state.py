"""The maintained-state sink (streaming/state.py) over every family:
compaction under a session-level dynamic overwrite, fan-out replay,
and the folded schema of each table."""

import glob
from datetime import datetime

import pytest

from rag_vertex_ai_vector_search_spark.streaming.doremi_stream import (
    doremi_state,
)
from rag_vertex_ai_vector_search_spark.streaming.dsir_stream import dsir_state
from rag_vertex_ai_vector_search_spark.streaming.linestats import (
    line_df_state,
)
from rag_vertex_ai_vector_search_spark.streaming.ngram import ngram_state
from rag_vertex_ai_vector_search_spark.streaming.rollup import rollup_state
from rag_vertex_ai_vector_search_spark.streaming.sketch_stream import (
    bloom_state,
    cms_state,
    histogram_state,
    hll_state,
)
from rag_vertex_ai_vector_search_spark.streaming.state import (
    apply_state_batch,
    compact_state,
    read_state,
)
from rag_vertex_ai_vector_search_spark.streaming.vocab import vocab_state

DOCS = "doc_id long, source string, text string"
DOCS_0 = [
    (1, "web", "the cat sat\nthe end"),
    (2, "wiki", "a cat a dog\nthe end"),
]
DOCS_1 = [
    (3, "web", "the dog sat\nfin"),
    (4, "wiki", "a b c d e\nthe end"),
]
EVENTS = "ts timestamp, event_type string, user_id long, value double"
EVENTS_0 = [
    (datetime(2024, 1, 1, 10, 5), "click", 1, 1.25),
    (datetime(2024, 1, 1, 10, 30), "view", 2, 2.5),
]
EVENTS_1 = [
    (datetime(2024, 1, 1, 10, 45), "click", 1, 0.75),
    (datetime(2024, 1, 1, 11, 5), "click", 3, 4.0),
]
WORDS = "lang string, word string, v long"
WORDS_0 = [("en", "cat", 3), ("en", "dog", 17), ("de", "hund", 42)]
WORDS_1 = [("en", "cat", 3), ("de", "katze", 99), ("en", "eel", 0)]

# family -> (spec, input schema, epoch 0 rows, epoch 1 rows, the
# simpleString() of the table's read schema before the shared sink; for
# the rollup, that of its stored (hour, event_type, user_id) grain).
FAMILIES = {
    "vocab": (
        vocab_state(), DOCS, DOCS_0, DOCS_1,
        "struct<word:string,n:bigint>",
    ),
    "ngram": (
        ngram_state(), DOCS, DOCS_0, DOCS_1,
        "struct<prev2:string,prev:string,word:string,n:bigint>",
    ),
    "line_df": (
        line_df_state(), DOCS, DOCS_0, DOCS_1,
        "struct<line:string,n_docs:bigint>",
    ),
    "dsir": (
        dsir_state(n_buckets=64), DOCS, DOCS_0, DOCS_1,
        "struct<bucket:bigint,n:bigint>",
    ),
    "doremi": (
        doremi_state(n_rounds=2), DOCS, DOCS_0, DOCS_1,
        "struct<_domain:string,_round:int,word:string,_c:bigint>",
    ),
    "rollup": (
        rollup_state(), EVENTS, EVENTS_0, EVENTS_1,
        "struct<hour:timestamp,event_type:string,user_id:bigint,"
        "n_events:bigint,sum_value:decimal(28,2)>",
    ),
    "hll": (
        hll_state(col="word", group_cols=("lang",), p=4),
        WORDS, WORDS_0, WORDS_1,
        "struct<lang:string,bucket:int,max_rho:int>",
    ),
    "cms": (
        cms_state(col="word", depth=2, width=16), WORDS, WORDS_0, WORDS_1,
        "struct<row:int,bucket:int,cnt:bigint>",
    ),
    "bloom": (
        bloom_state(col="word", n_bits=256, k=2), WORDS, WORDS_0, WORDS_1,
        "struct<word:int,bits:bigint>",
    ),
    "histogram": (
        histogram_state(col="v", lo=0, hi=100, n_bins=8),
        WORDS, WORDS_0, WORDS_1,
        "struct<bin:int,cnt:bigint>",
    ),
}

_OVERWRITE_MODE = "spark.sql.sources.partitionOverwriteMode"


def _rows(df):
    return sorted(map(tuple, df.collect()))


@pytest.mark.parametrize("family", sorted(FAMILIES))
def test_compaction_under_session_dynamic_overwrite(spark, tmp_path, family):
    """A session-wide dynamic partitionOverwriteMode must not turn the
    compaction into a partial overwrite: only ``_epoch=-1`` remains and
    the folded table is unchanged (no double count)."""
    spec, schema, rows_0, rows_1, _ = FAMILIES[family]
    table = str(tmp_path / family)
    apply_state_batch(spark.createDataFrame(rows_0, schema), 0, {table: spec})
    apply_state_batch(spark.createDataFrame(rows_1, schema), 1, {table: spec})
    before = _rows(read_state(spark, table, spec))

    saved = spark.conf.get(_OVERWRITE_MODE, None)
    spark.conf.set(_OVERWRITE_MODE, "dynamic")
    try:
        compact_state(spark, table, spec)
    finally:
        if saved is None:
            spark.conf.unset(_OVERWRITE_MODE)
        else:
            spark.conf.set(_OVERWRITE_MODE, saved)

    assert sorted(glob.glob(table + "/_epoch=*")) == [table + "/_epoch=-1"]
    assert _rows(read_state(spark, table, spec)) == before


def test_fan_out_replay_leaves_every_sink_unchanged(spark, tmp_path):
    """One batch feeding two sinks, then a replay of the same epoch:
    both tables are unchanged and equal their single-sink builds, and
    the shared batch is not left cached."""
    vocab, dsir = vocab_state(), dsir_state(n_buckets=64)
    shared = {str(tmp_path / "vocab"): vocab, str(tmp_path / "dsir"): dsir}
    batches = [
        spark.createDataFrame(rows, DOCS) for rows in (DOCS_0, DOCS_1)
    ]
    for epoch, batch in enumerate(batches):
        apply_state_batch(batch, epoch, shared)
        assert not batch.is_cached
    folded = {p: _rows(read_state(spark, p, s)) for p, s in shared.items()}

    apply_state_batch(batches[1], 1, shared)  # at-least-once replay
    for path, spec in shared.items():
        assert _rows(read_state(spark, path, spec)) == folded[path]

    for name, spec in (("vocab", vocab), ("dsir", dsir)):
        single = str(tmp_path / f"single_{name}")
        for epoch, batch in enumerate(batches):
            apply_state_batch(batch, epoch, {single: spec})
        assert _rows(read_state(spark, single, spec)) == folded[
            str(tmp_path / name)
        ]


@pytest.mark.parametrize("family", sorted(FAMILIES))
def test_read_state_schema_is_pinned(spark, tmp_path, family):
    spec, schema, rows_0, _, want = FAMILIES[family]
    table = str(tmp_path / family)
    apply_state_batch(spark.createDataFrame(rows_0, schema), 0, {table: spec})
    assert read_state(spark, table, spec).schema.simpleString() == want

