"""Product quantization (tree-AH's "AH" half): compression honesty,
ADC ranking quality, and the exact-rerank cascade.

The quality gates mirror the reference's index economics
(common/config.py:30-41): quantized scoring must keep most of the true
top-k, and re-ranking with exact vectors must recover it.
"""

import numpy as np
from pyspark.sql import functions as F

from rag_vertex_ai_vector_search_spark.sources import load_table
from rag_vertex_ai_vector_search_spark.operators import knn_search
from rag_vertex_ai_vector_search_spark.operators.pq import (
    encode_pq,
    pq_search_rerank,
    pq_topk,
    train_pq,
)
import pytest


def _topk_sets(rows):
    out = {}
    for r in rows:
        out.setdefault(r.query_id, set()).add(r.neighbor_id)
    return out


def _recall(approx, exact):
    hits = sum(len(approx.get(q, set()) & s) for q, s in exact.items())
    total = sum(len(s) for s in exact.values())
    return hits / total


def _queries(emb, n=16):
    return emb.filter(F.col("vec_id") < n).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vector"),
    )


def test_pq_codes_are_m_bytes(spark, sf_smoke):
    emb = load_table(spark, sf_smoke, "embeddings")
    books = train_pq(emb, m=8, ksub=32, iters=4, sample_rows=500)
    index = encode_pq(emb, books)
    sizes = index.codes.select(
        F.length("pq_code").alias("n")
    ).distinct().collect()
    assert [r.n for r in sizes] == [8]  # 64-dim float -> 8 bytes: 32x
    assert index.codes.count() == emb.count()


def test_pq_encoding_is_deterministic(spark, sf_smoke):
    emb = load_table(spark, sf_smoke, "embeddings")
    b1 = train_pq(emb, m=8, ksub=16, iters=4, sample_rows=400, seed=7)
    b2 = train_pq(emb, m=8, ksub=16, iters=4, sample_rows=400, seed=7)
    assert np.array_equal(b1.codebooks, b2.codebooks)
    c1 = sorted(encode_pq(emb, b1).codes.collect())
    c2 = sorted(encode_pq(emb, b2).codes.collect())
    assert c1 == c2


def test_pq_adc_recall_and_rerank_exact(spark, sf_smoke):
    """ADC alone keeps most of the true top-k; the rerank cascade with a
    generous candidate pool returns *exactly* the fold top-k ids (exact
    scoring makes the final ranking independent of ADC error once the
    true neighbors are in the pool)."""
    emb = load_table(spark, sf_smoke, "embeddings")
    queries = _queries(emb)
    k = 10
    exact = _topk_sets(knn_search(emb, queries, k=k, method="fold").collect())

    books = train_pq(emb, m=16, ksub=64, iters=8, sample_rows=2000)
    index = encode_pq(emb, books)

    adc = _topk_sets(pq_topk(index, queries, k=k).collect())
    assert _recall(adc, exact) >= 0.6  # 4 bits/dim, uniform-random corpus

    n = emb.count()
    rer = _topk_sets(
        pq_search_rerank(
            index, emb, queries, k=k, rerank_candidates=n
        ).collect()
    )
    assert rer == exact


@pytest.mark.full
def test_pq_rerank_recall_on_clustered_data(spark):
    """On clustered data (the realistic regime) the standard cascade --
    ADC shortlist of 4k + exact rerank -- hits recall@10 >= 0.9."""
    rng = np.random.RandomState(11)
    n_centers, per_center, dim = 16, 30, 32
    centers = rng.randn(n_centers, dim)
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    rows = []
    vid = 0
    for c in centers:
        for _ in range(per_center):
            v = c + 0.2 * rng.randn(dim)
            v /= np.linalg.norm(v)
            rows.append((vid, [float(x) for x in v]))
            vid += 1
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    queries = emb.filter(F.col("vec_id") % 30 == 4).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vector"),
    )
    k = 10
    exact = _topk_sets(knn_search(emb, queries, k=k, method="fold").collect())
    books = train_pq(emb, m=8, ksub=64, iters=8, sample_rows=480)
    index = encode_pq(emb, books)
    rer = _topk_sets(
        pq_search_rerank(index, emb, queries, k=k).collect()
    )
    assert _recall(rer, exact) >= 0.9


def test_pq_rerank_scores_match_fold(spark, sf_smoke):
    """Rerank scores are the bit-exact fold dot product: for ids present
    in both results the scores must be identical doubles."""
    emb = load_table(spark, sf_smoke, "embeddings")
    queries = _queries(emb, n=4)
    k = 5
    exact = {
        (r.query_id, r.neighbor_id): r.score
        for r in knn_search(emb, queries, k=50, method="fold").collect()
    }
    books = train_pq(emb, m=8, ksub=32, iters=4, sample_rows=500)
    index = encode_pq(emb, books)
    got = pq_search_rerank(index, emb, queries, k=k, rerank_candidates=50)
    for r in got.collect():
        key = (r.query_id, r.neighbor_id)
        if key in exact:
            assert r.score == exact[key]


@pytest.mark.full
def test_ivf_pq_composition_recall(spark):
    """Full tree-AH cascade: coarse probe -> ADC over probed leaves ->
    exact rerank. recall@10 >= 0.85 at 50% probe on clustered data."""
    from rag_vertex_ai_vector_search_spark.operators.ivf import build_ivf_index
    from rag_vertex_ai_vector_search_spark.operators.pq import ivf_pq_search

    rng = np.random.RandomState(23)
    n_centers, per_center, dim = 12, 40, 32
    centers = rng.randn(n_centers, dim)
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    rows = []
    vid = 0
    for c in centers:
        for _ in range(per_center):
            v = c + 0.2 * rng.randn(dim)
            v /= np.linalg.norm(v)
            rows.append((vid, [float(x) for x in v]))
            vid += 1
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    queries = emb.filter(F.col("vec_id") % 40 == 7).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vector"),
    )
    k = 10
    exact = _topk_sets(knn_search(emb, queries, k=k, method="fold").collect())

    ivf = build_ivf_index(emb, n_clusters=12)
    books = train_pq(ivf.assigned, m=8, ksub=64, iters=8, sample_rows=480)
    pq = encode_pq(ivf.assigned, books, keep_cols=("cluster_id",))
    got = _topk_sets(
        ivf_pq_search(ivf, pq, queries, k=k, probe_percent=50.0).collect()
    )
    assert _recall(got, exact) >= 0.85

    # 100% probe + corpus-wide rerank pool degenerates to exact kNN.
    full = _topk_sets(
        ivf_pq_search(
            ivf, pq, queries, k=k, probe_percent=100.0,
            rerank_candidates=emb.count(),
        ).collect()
    )
    assert full == exact


def _clustered_emb(spark, seed=23, n_centers=12, per_center=40, dim=32):
    rng = np.random.RandomState(seed)
    centers = rng.randn(n_centers, dim)
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    rows = []
    vid = 0
    for c in centers:
        for _ in range(per_center):
            v = c + 0.2 * rng.randn(dim)
            v /= np.linalg.norm(v)
            rows.append((vid, [float(x) for x in v]))
            vid += 1
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


@pytest.mark.full
def test_ivf_pq_batch_composition_invariance(spark):
    """A query's tree-AH result must not depend on which other queries
    share the batch: with per-query leaf masking, solo and batched runs
    return identical rows (round-3 bug: ADC candidates came from the
    UNION of all queries' probed leaves)."""
    from rag_vertex_ai_vector_search_spark.operators.ivf import build_ivf_index
    from rag_vertex_ai_vector_search_spark.operators.pq import ivf_pq_search

    emb = _clustered_emb(spark)
    ivf = build_ivf_index(emb, n_clusters=12)
    books = train_pq(ivf.assigned, m=8, ksub=64, iters=8, sample_rows=480)
    pq = encode_pq(ivf.assigned, books, keep_cols=("cluster_id",))

    batch = emb.filter(F.col("vec_id") % 40 == 7).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vector"),
    )
    solo = batch.filter(F.col("query_id") == 7)
    kw = dict(k=10, probe_percent=25.0)
    got_batch = sorted(
        tuple(r) for r in ivf_pq_search(ivf, pq, batch, **kw)
        .filter(F.col("query_id") == 7)
        .select("query_id", "rank", "neighbor_id", "score").collect()
    )
    got_solo = sorted(
        tuple(r) for r in ivf_pq_search(ivf, pq, solo, **kw)
        .select("query_id", "rank", "neighbor_id", "score").collect()
    )
    assert got_solo == got_batch


def _labeled(emb):
    """Deterministic crowd/restrict attribute (5 labels)."""
    return emb.withColumn("label", (F.col("vec_id") % 5).cast("int"))


@pytest.mark.full
def test_ivf_pq_restrict_crowding_exact_equals_knn(spark):
    """Q3-Q5 composed through the cascade, exact configuration: full
    probe + corpus-wide rerank + restrict + crowding must provably
    equal exact restricted+crowded kNN (the declared sibling's gate)."""
    from rag_vertex_ai_vector_search_spark.operators.ivf import build_ivf_index
    from rag_vertex_ai_vector_search_spark.operators.pq import ivf_pq_search

    emb = _labeled(_clustered_emb(spark, seed=41))
    restrict = F.col("label").isin(0, 1, 2) & (F.col("vec_id") >= 40)
    queries = emb.filter(F.col("vec_id") % 40 == 7).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vector"),
    )
    k = 8
    exact = sorted(
        tuple(r) for r in knn_search(
            emb, queries, k=k, restrict=restrict,
            per_crowding_k=2, crowding_col="label", method="fold",
        ).select("query_id", "rank", "neighbor_id", "score", "label")
        .collect()
    )

    ivf = build_ivf_index(emb, n_clusters=12)
    books = train_pq(ivf.assigned, m=8, ksub=64, iters=8, sample_rows=480)
    pq = encode_pq(ivf.assigned, books, keep_cols=("cluster_id", "label"))
    for method in ("broadcast", "cogroup"):
        got = sorted(
            tuple(r) for r in ivf_pq_search(
                ivf, pq, queries, k=k,
                probe_percent=100.0, rerank_candidates=emb.count(),
                restrict=restrict, per_crowding_k=2, crowding_col="label",
                method=method,
            ).select("query_id", "rank", "neighbor_id", "score", "label")
            .collect()
        )
        assert got == exact, method


@pytest.mark.full
def test_ivf_pq_restrict_crowding_batch_invariance(spark):
    """Batch-composition invariance holds with restrict + crowding on:
    a query's restricted, diversified result must not depend on which
    other queries share the batch (per-query leaf masks compose with
    the restrict filter and the crowd cap)."""
    from rag_vertex_ai_vector_search_spark.operators.ivf import build_ivf_index
    from rag_vertex_ai_vector_search_spark.operators.pq import ivf_pq_search

    emb = _labeled(_clustered_emb(spark, seed=43))
    ivf = build_ivf_index(emb, n_clusters=12)
    books = train_pq(ivf.assigned, m=8, ksub=64, iters=8, sample_rows=480)
    pq = encode_pq(ivf.assigned, books, keep_cols=("cluster_id", "label"))

    batch = emb.filter(F.col("vec_id") % 40 == 7).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vector"),
    )
    solo = batch.filter(F.col("query_id") == 7)
    kw = dict(
        k=6, probe_percent=25.0, rerank_candidates=60,
        restrict=F.col("label").isin(0, 1, 2),
        per_crowding_k=2, crowding_col="label",
    )
    cols = ("query_id", "rank", "neighbor_id", "score", "label")
    got_batch = sorted(
        tuple(r) for r in ivf_pq_search(ivf, pq, batch, **kw)
        .filter(F.col("query_id") == 7).select(*cols).collect()
    )
    got_solo = sorted(
        tuple(r) for r in ivf_pq_search(ivf, pq, solo, **kw)
        .select(*cols).collect()
    )
    assert got_solo == got_batch
    # Crowding cap actually binds: never >2 rows per (query, label).
    import collections

    counts = collections.Counter((r[0], r[4]) for r in got_batch)
    assert counts and max(counts.values()) <= 2


@pytest.mark.full
def test_ivf_search_crowding_full_probe_equals_knn(spark):
    """ivf_search with crowding at 100% probe equals exact crowded kNN
    for every method (Q5 composed over the IVF path)."""
    from rag_vertex_ai_vector_search_spark.operators.ivf import (
        build_ivf_index, ivf_search,
    )

    emb = _labeled(_clustered_emb(spark, seed=47))
    restrict = F.col("label") != 4
    queries = emb.filter(F.col("vec_id") % 40 == 3).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vector"),
    )
    k = 8
    exact = sorted(
        tuple(r) for r in knn_search(
            emb, queries, k=k, restrict=restrict,
            per_crowding_k=2, crowding_col="label", method="fold",
        ).select("query_id", "rank", "neighbor_id", "score", "label")
        .collect()
    )
    ivf = build_ivf_index(emb, n_clusters=12)
    for method in ("gemm", "gemm_join", "fold"):
        got = sorted(
            tuple(r) for r in ivf_search(
                ivf, queries, k=k, probe_percent=100.0, method=method,
                restrict=restrict, per_crowding_k=2, crowding_col="label",
            ).select("query_id", "rank", "neighbor_id", "score", "label")
            .collect()
        )
        assert got == exact, method


def test_pq_cogroup_equals_broadcast(spark, sf_smoke):
    """pq_search_rerank(method="cogroup") must rank identically to the
    broadcast path (and to itself with per-query probe masks)."""
    emb = load_table(spark, sf_smoke, "embeddings")
    queries = _queries(emb, n=12)
    books = train_pq(emb, m=8, ksub=32, iters=4, sample_rows=500)
    index = encode_pq(emb, books)
    bk = sorted(
        tuple(r)
        for r in pq_search_rerank(index, emb, queries, k=7)
        .select("query_id", "rank", "neighbor_id").collect()
    )
    cg = sorted(
        tuple(r)
        for r in pq_search_rerank(index, emb, queries, k=7, method="cogroup")
        .select("query_id", "rank", "neighbor_id").collect()
    )
    assert cg == bk


@pytest.mark.full
def test_ivf_pq_cogroup_equals_broadcast(spark):
    from rag_vertex_ai_vector_search_spark.operators.ivf import build_ivf_index
    from rag_vertex_ai_vector_search_spark.operators.pq import ivf_pq_search

    emb = _clustered_emb(spark, seed=31)
    ivf = build_ivf_index(emb, n_clusters=12)
    books = train_pq(ivf.assigned, m=8, ksub=64, iters=8, sample_rows=480)
    pq = encode_pq(ivf.assigned, books, keep_cols=("cluster_id",))
    queries = emb.filter(F.col("vec_id") % 40 == 3).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vector"),
    )
    kw = dict(k=10, probe_percent=50.0)
    bk = sorted(
        tuple(r) for r in ivf_pq_search(ivf, pq, queries, **kw)
        .select("query_id", "rank", "neighbor_id").collect()
    )
    cg = sorted(
        tuple(r) for r in ivf_pq_search(ivf, pq, queries, method="cogroup", **kw)
        .select("query_id", "rank", "neighbor_id").collect()
    )
    assert cg == bk


def test_pq_cogroup_query_blocks_equals_broadcast(spark, sf_smoke):
    """n_query_blocks > 1 (the bounded-task-memory branch that
    replicates the code table across query blocks) must rank exactly
    like the broadcast path; its grouping keys are explicit bigints on
    both cogroup sides, not implicit coercions."""
    from rag_vertex_ai_vector_search_spark.operators.knn import (
        block_topk_cogroup,
    )
    from rag_vertex_ai_vector_search_spark.operators.pq import adc_scorer

    emb = load_table(spark, sf_smoke, "embeddings")
    queries = _queries(emb, n=12)
    books = train_pq(emb, m=8, ksub=32, iters=4, sample_rows=500)
    index = encode_pq(emb, books)
    bk = sorted(
        tuple(r) for r in pq_topk(index, queries, k=7)
        .select("query_id", "rank", "neighbor_id").collect()
    )
    for nqb in (2, 3):
        cg = sorted(
            tuple(r)
            for r in block_topk_cogroup(
                index.codes, queries, 7, adc_scorer(books), id_col="vec_id",
                n_index_blocks=4, n_query_blocks=nqb,
            ).select("query_id", "rank", "neighbor_id").collect()
        )
        assert cg == bk, f"n_query_blocks={nqb}"


def test_knn_cogroup_query_blocks_equals_fold(spark, sf_smoke):
    """Same n_query_blocks>1 guarantee for the GEMM cogroup scorer."""
    from rag_vertex_ai_vector_search_spark.operators.knn import (
        block_topk_cogroup, dot_scorer,
    )

    emb = load_table(spark, sf_smoke, "embeddings")
    queries = _queries(emb, n=12)
    fold = sorted(
        tuple(r) for r in knn_search(emb, queries, k=7, method="fold")
        .select("query_id", "rank", "neighbor_id").collect()
    )
    ranked = block_topk_cogroup(
        emb, queries, 7, dot_scorer("embedding"), id_col="vec_id",
        n_index_blocks=4, n_query_blocks=2,
    )
    cg = sorted(
        tuple(r) for r in ranked
        .select("query_id", "rank", "neighbor_id").collect()
    )
    assert cg == fold


def test_adc_topk_keeps_tied_codes_in_id_order(spark):
    """Duplicate documents share PQ codes, so their ADC scores tie
    exactly. Both strategies must return the (score desc, id asc)
    winners -- the global window's tie-break -- not an arbitrary subset
    of the rows tied at the k-th score."""
    import pandas as pd

    from rag_vertex_ai_vector_search_spark.operators.knn import (
        block_topk_cogroup,
    )
    from rag_vertex_ai_vector_search_spark.operators.pq import (
        PQIndex,
        _lut_for,
        adc_scorer,
        codebooks_from_vectors,
    )

    rng = np.random.default_rng(11)
    dim, m, ksub, n, nq, k = 8, 2, 4, 60, 6, 5
    books = codebooks_from_vectors(rng.normal(size=(ksub, dim)), m=m)
    codes = rng.integers(0, ksub, size=(n, m)).astype(np.uint8)
    ids = rng.permutation(10 * n)[:n].astype(np.int64)
    # one block per strategy: every tied row meets in one local top-k
    index = PQIndex(
        codes=spark.createDataFrame(
            pd.DataFrame({
                "vec_id": ids, "pq_code": [c.tobytes() for c in codes],
            }),
            "vec_id bigint, pq_code binary",
        ).coalesce(1),
        books=books,
        id_col="vec_id",
    )
    qmat = rng.normal(size=(nq, dim))
    queries = spark.createDataFrame(
        pd.DataFrame({"query_id": range(nq), "query_vector": qmat.tolist()}),
        "query_id bigint, query_vector array<double>",
    )
    lut = _lut_for(qmat, books.codebooks)
    adc = lut[:, 0, codes[:, 0]] + lut[:, 1, codes[:, 1]]  # (nq, n)
    want = {
        q: [int(i) for i in ids[np.lexsort((ids, -adc[q]))[:k]]]
        for q in range(nq)
    }

    def got(ranked):
        out = {}
        for r in ranked.orderBy("query_id", "rank").collect():
            out.setdefault(r.query_id, []).append(r.neighbor_id)
        return out

    assert got(pq_topk(index, queries, k)) == want
    assert got(block_topk_cogroup(
        index.codes, queries, k, adc_scorer(books), id_col="vec_id",
        n_index_blocks=1,
    )) == want


def test_pq_cogroup_never_collects_to_driver(spark, sf_smoke, monkeypatch):
    """The data-scale guarantee of the cogroup PQ path: building AND
    executing the cascade must never materialize the query set on the
    driver (mirrors test_knn_blocked's gemm_join guard)."""
    from pyspark.sql.classic.dataframe import DataFrame

    emb = load_table(spark, sf_smoke, "embeddings")
    queries = _queries(emb, n=5)
    books = train_pq(emb, m=8, ksub=32, iters=4, sample_rows=500)
    index = encode_pq(emb, books)

    def boom(self, *a, **kw):
        raise AssertionError("driver-side materialization in PQ cogroup path")

    for meth in ("collect", "take", "first", "toPandas", "toLocalIterator"):
        monkeypatch.setattr(DataFrame, meth, boom)
    out = pq_search_rerank(index, emb, queries, k=5, method="cogroup")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "FlatMapCoGroupsInPandas" in plan
    out.foreach(lambda r: None)


def test_pq_ksub_guard(spark, sf_smoke):
    """ksub > 256 cannot fit uint8 codes: train and encode must raise,
    never silently wrap (round-3 ADVICE item)."""
    import pytest as _pytest

    from rag_vertex_ai_vector_search_spark.operators.pq import PQCodebooks

    emb = load_table(spark, sf_smoke, "embeddings")
    with _pytest.raises(ValueError, match="ksub"):
        train_pq(emb, m=8, ksub=512, iters=1, sample_rows=100)
    fake = PQCodebooks(
        codebooks=np.zeros((8, 300, 8), dtype=np.float64), dim=64
    )
    with _pytest.raises(ValueError, match="ksub"):
        encode_pq(emb, fake)


@pytest.mark.full
def test_pq_anisotropic_beats_vanilla_on_clustered_data(spark):
    """ScaNN's score-aware refinement (train_pq(anisotropic_eta=...))
    must beat plain Lloyd's on BOTH its own objective (score-aware
    quantization loss) and the end metric (ADC recall@10 vs exact) on
    the clustered MIPS regime it targets. Deterministic: same seeds,
    same sample, same encode/ADC path -- only the codebook tensor
    differs."""
    from rag_vertex_ai_vector_search_spark.operators.pq import (
        score_aware_loss,
    )

    emb = _clustered_emb(
        spark, seed=11, n_centers=16, per_center=30, dim=32
    )
    queries = emb.filter(F.col("vec_id") % 30 == 4).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vector"),
    )
    k = 10
    exact = _topk_sets(knn_search(emb, queries, k=k, method="fold").collect())

    kw = dict(m=8, ksub=64, iters=8, sample_rows=480)
    vanilla = train_pq(emb, **kw)
    aniso = train_pq(emb, anisotropic_eta=4.0, **kw)

    sample = np.asarray(
        [r[0] for r in emb.orderBy("vec_id").select("embedding").collect()],
        dtype=np.float64,
    )
    assert (
        score_aware_loss(sample, aniso, eta=4.0)
        < score_aware_loss(sample, vanilla, eta=4.0)
    )

    rec_v = _recall(_topk_sets(pq_topk(encode_pq(emb, vanilla), queries,
                                       k=k).collect()), exact)
    rec_a = _recall(_topk_sets(pq_topk(encode_pq(emb, aniso), queries,
                                       k=k).collect()), exact)
    assert rec_a >= rec_v
    assert rec_a >= 0.7


def test_pq_anisotropic_eta_validation(spark):
    emb = _clustered_emb(spark, per_center=5)
    with pytest.raises(ValueError, match="anisotropic_eta"):
        train_pq(emb, m=8, ksub=16, anisotropic_eta=0.5)


@pytest.mark.full
def test_opq_rotation_orthogonal_and_lower_mse(spark):
    """OPQ (Ge et al. 2013): the learned rotation must be orthogonal,
    strictly lower the quantization MSE vs same-budget vanilla PQ on
    cross-slice-correlated data, and not lose L2 ADC recall (the
    metric OPQ is designed for; for MIPS ranking the anisotropic
    trainer is the right lever and composes via anisotropic_eta)."""
    from rag_vertex_ai_vector_search_spark.operators.pq import (
        _reconstruct, train_opq,
    )

    rng0 = np.random.RandomState(3)
    dim, m, ksub = 32, 8, 32
    centers = rng0.randn(10, dim) * np.linspace(3, 0.1, dim)
    x0 = np.vstack([c + 0.1 * rng0.randn(40, dim) for c in centers])
    qrot, _ = np.linalg.qr(rng0.randn(dim, dim))
    x = x0 @ qrot  # energy mixed across the dim/m slices
    emb = spark.createDataFrame(
        [(i, [float(v) for v in x[i]]) for i in range(len(x))],
        "vec_id long, embedding array<float>",
    )
    kw = dict(m=m, ksub=ksub, iters=8, sample_rows=len(x))
    vanilla = train_pq(emb, **kw)
    r, opq = train_opq(emb, opq_iters=12, **kw)

    assert np.allclose(r @ r.T, np.eye(dim), atol=1e-9)
    xs = np.asarray(
        [row[0] for row in emb.orderBy("vec_id")
         .select("embedding").collect()],
        dtype=np.float64,
    )
    mse_v = ((xs - _reconstruct(xs, vanilla.codebooks)) ** 2).mean()
    mse_o = ((xs @ r - _reconstruct(xs @ r, opq.codebooks)) ** 2).mean()
    assert mse_o < mse_v

    # L2 ADC recall (numpy mirror of the ADC table scan)
    qs = xs[np.arange(7, len(xs), 40)] + 0.05 * np.random.RandomState(9).randn(10, dim)
    k = 10
    ex = np.argsort(((qs[:, None, :] - xs[None, :, :]) ** 2).sum(-1),
                    axis=1)[:, :k]

    def l2_recall(xr, qr, books):
        dsub = dim // m
        dist = np.zeros((qr.shape[0], len(xr)))
        for j in range(m):
            sub = xr[:, j * dsub:(j + 1) * dsub]
            cs = books[j]
            d2 = ((sub ** 2).sum(1, keepdims=True) - 2 * sub @ cs.T
                  + (cs ** 2).sum(1))
            code = d2.argmin(1)
            qd = ((qr[:, j * dsub:(j + 1) * dsub][:, None, :]
                   - cs[None, :, :]) ** 2).sum(-1)
            dist += qd[:, code]
        ap = np.argsort(dist, axis=1)[:, :k]
        return np.mean([len(set(a) & set(e)) / k for a, e in zip(ap, ex)])

    rec_v = l2_recall(xs, qs, vanilla.codebooks)
    rec_o = l2_recall(xs @ r, qs @ r, opq.codebooks)
    assert rec_o >= rec_v


@pytest.mark.full
def test_opq_rotate_encode_rerank_degenerates_to_exact(spark, sf_smoke):
    """The rotated-space cascade keeps the unrotated cascade's
    degeneracy gate: ADC shortlist over rotated codes + exact rerank
    IN THE ROTATED SPACE with a corpus-wide pool == exact fold kNN of
    the rotated vectors (one orthogonal map applied to both sides of
    the same search problem). The rotation itself must be numerically
    dot-preserving to float tolerance."""
    from rag_vertex_ai_vector_search_spark.operators.pq import (
        rotate_vectors, train_opq,
    )

    emb = load_table(spark, sf_smoke, "embeddings")
    queries = _queries(emb, n=4)
    k = 5

    r, books = train_opq(
        emb, m=8, ksub=32, iters=4, opq_iters=4, sample_rows=500
    )
    rot_emb = rotate_vectors(emb, r)
    rot_q = rotate_vectors(queries, r, vec_col="query_vector")
    exact_rot = _topk_sets(
        knn_search(rot_emb, rot_q, k=k, method="fold").collect()
    )
    index = encode_pq(rot_emb, books)
    n = emb.count()
    got = _topk_sets(
        pq_search_rerank(index, rot_emb, rot_q, k=k, rerank_candidates=n)
        .collect()
    )
    assert got == exact_rot

    # numeric dot preservation of the rotation (orthogonality on the
    # actual data): <q, x> == <qR, xR> to float tolerance
    q0 = queries.orderBy("query_id").collect()[0].query_vector
    x0 = emb.orderBy("vec_id").collect()[7].embedding
    qr = rot_q.orderBy("query_id").collect()[0].query_vector
    xr = rot_emb.orderBy("vec_id").collect()[7].embedding
    d0 = sum(float(a) * float(b) for a, b in zip(q0, x0))
    dr = sum(float(a) * float(b) for a, b in zip(qr, xr))
    assert abs(d0 - dr) < 1e-6 * max(1.0, abs(d0))
