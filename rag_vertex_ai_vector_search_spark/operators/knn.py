"""Top-k nearest-neighbor search: the reference's one real query.

Semantics come from the Vertex FindNeighbors contract the reference's
ingestion configures (SURVEY.md §2.2): restrict pre-filters (Q3/Q4) ->
dot-product scoring (Q2, common/config.py:33) -> per-attribute crowding
(Q5, setup_vector_search.py:65-67) -> top-k (Q1,
approximate_neighbors_count, common/config.py:32) -> metadata hydration
join (Q7, firestore_ops.py:90-107).

Every search is a top-k scan followed by a key join. Exact (this
module), IVF (ivf.py) and PQ (pq.py) search share ONE block top-k
kernel for the scan: each family only generates its candidates and
picks a scorer and a strategy.

- **One local top-k** (``_local_topk``): per query, keep every block
  row at or above the k-th best score, then order by (score desc, id
  asc) -- the global window's tie-break, so boundary ties are never
  dropped at random. Optionally capped per crowd group first, and
  optionally masked to each query's probed clusters (IVF).
- **Two scorers** (``Scorer``): ``prepare`` turns the (nq, dim) query
  matrix into per-query state, ``score`` turns that state and one
  block of candidates into an (nq, n) score matrix. ``dot_scorer`` is
  identity + one float64 GEMM; ``pq.adc_scorer`` is the (nq, m, ksub)
  lookup table + an m-way gather over uint8 codes.
- **Two strategies.** ``block_topk_broadcast``: the query set is
  already on the driver; ``prepare`` runs once there and its output
  ships via ``SparkContext.broadcast`` (driver materialization +
  torrent broadcast, one fetch per executor -- the mechanism of Spark's
  own BroadcastExchange), then ONE ``mapInPandas`` pass scans the
  candidates in place with no shuffle before the window.
  ``block_topk_cogroup``: NO driver collect anywhere; the candidates
  hash into ``n_index_blocks``, queries replicate across the blocks
  (``n_query_blocks > 1`` also splits queries, replicating candidates,
  to bound per-task memory) and each ``cogroup().applyInPandas`` group
  prepares and scans. It costs one shuffle of the candidates; use it
  when the query set is too big to hold on the driver.

Both strategies finish with the global two-window ``_ranked``. The
shuffle after local pruning carries at most ``n_queries * k`` rows per
block, so per-query skew in the window stage is bounded. The local
crowding prune is exact for the two-window crowding semantics: any row
in the global capped top-k is within the top ``per_crowding_k`` of its
(query, crowd) group in its own block, and below-local-top-k rows can
never be promoted globally (each of the k locally-better capped rows
is either selected globally or evicted by a strictly better same-group
row, so >= k better capped rows always exist globally).

``knn_search`` methods: ``"gemm"`` = broadcast strategy + dot scorer,
``"gemm_join"`` = cogroup strategy + dot scorer, ``"fold"`` = broadcast
cross join + a sequential-fold dot product Column, fully declarative
(Catalyst pushes the restrict filters below the join) and bit-identical
to DuckDB's DOUBLE[] list_dot_product, which is what the oracle gate
hashes.
"""

from __future__ import annotations

from typing import Any, Callable, Iterator, NamedTuple

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.vector import dot_product

RESULT_COLUMNS = ("query_id", "rank", "neighbor_id", "score")

# Above this many query rows the driver-materializing strategies
# (SparkContext.broadcast of the query matrix / broadcast join of the
# query side) stop being safe: 65536 x 768-dim float64 is ~400 MB of
# driver + executor memory per fetch. The auto switch flips to the
# cogroup paths past it.
DEFAULT_QUERY_DRIVER_THRESHOLD = 65_536


def _resolve_query_method(
    queries_df: DataFrame,
    method: str,
    *,
    small: str,
    large: str,
    threshold: int | None = None,
) -> str:
    """``method="auto"`` -> count-based strategy switch (the
    cluster.py size-switch pattern applied to the query side): at or
    under ``threshold`` query rows pick ``small`` (driver-broadcast,
    zero-shuffle scoring -- the request-scale fast path), above it pick
    ``large`` (cogroup block scoring -- no driver materialization
    anywhere). The one count() job is the price of not making the
    caller know their scale; pass an explicit method to skip it.
    """
    if method != "auto":
        return method
    t = DEFAULT_QUERY_DRIVER_THRESHOLD if threshold is None else threshold
    return small if queries_df.count() <= t else large


class Scorer(NamedTuple):
    """How one block of candidate rows scores against the query set.

    ``col`` is the candidate column read. ``prepare(qmat)`` maps the
    (nq, dim) float64 query matrix to per-query state;
    ``score(state, block)`` maps that state and one block of ``col``
    to an (nq, n) float64 score matrix. The broadcast strategy ships
    ``score`` without ``prepare``, so ``score`` must need nothing but
    its arguments.
    """

    col: str
    prepare: Callable[[np.ndarray], Any]
    score: Callable[[Any, pd.Series], np.ndarray]


def _identity(qmat: np.ndarray) -> np.ndarray:
    return qmat


def _gemm(qmat: np.ndarray, vecs: pd.Series) -> np.ndarray:
    return qmat @ np.asarray(list(vecs), dtype=np.float64).T


def dot_scorer(vec_col: str) -> Scorer:
    """Exact dot product: one float64 GEMM per block."""
    return Scorer(vec_col, _identity, _gemm)


def _local_topk(
    qids,
    scores: np.ndarray,
    block: pd.DataFrame,
    k: int,
    *,
    id_col: str,
    probe_mask: np.ndarray | None = None,
    per_crowding_k: int | None = None,
    crowding_col: str | None = None,
) -> pd.DataFrame | None:
    """The one local top-k: an (nq, n) score matrix over ``block`` ->
    each query's local winners as (query_id, neighbor_id, score[,
    crowding_col]) rows, or None when no query has any.

    ``probe_mask`` (nq x n_clusters bool) + the block's ``cluster_id``
    restrict each query to its probed clusters, so a query's candidate
    set does not depend on which other queries share the block.
    """
    ids = block[id_col].to_numpy()
    crowd = block[crowding_col].to_numpy() if crowding_col else None
    if probe_mask is not None:
        allowed = probe_mask[:, block["cluster_id"].to_numpy()]  # (nq, nv)
        scores = np.where(allowed, scores, -np.inf)
    nv = scores.shape[1]
    has_crowd = per_crowding_k is not None and crowding_col is not None
    frames: list[pd.DataFrame] = []
    for qi in range(len(qids)):
        s = scores[qi]
        if probe_mask is not None:
            valid = s > -np.inf
            if not valid.any():
                continue
            n_valid = int(valid.sum())
        else:
            n_valid = nv
        if has_crowd:
            # Exact local prune: cap per crowd group, then top-k.
            df_local = pd.DataFrame(
                {"neighbor_id": ids, "score": s, "crowd": crowd}
            )
            if probe_mask is not None:
                df_local = df_local[valid]
            df_local = df_local.sort_values(
                ["score", "neighbor_id"], ascending=[False, True]
            )
            df_local = df_local.groupby("crowd", sort=False).head(
                per_crowding_k
            ).head(k)
            frames.append(pd.DataFrame({
                "query_id": qids[qi],
                "neighbor_id": df_local["neighbor_id"],
                "score": df_local["score"],
                crowding_col: df_local["crowd"],
            }))
        else:
            top = min(k, n_valid)
            if top < nv:
                # Everything at-or-above the top-th score stays a
                # candidate, so the (score desc, id asc) tie-break
                # below matches the global window exactly.
                threshold = np.partition(s, nv - top)[nv - top]
                cand = np.nonzero(s >= threshold)[0]
            else:
                cand = np.arange(nv)
            order = np.lexsort((ids[cand], -s[cand]))[:top]
            idx = cand[order]
            out = pd.DataFrame({
                "query_id": qids[qi],
                "neighbor_id": ids[idx],
                "score": s[idx],
            })
            if crowding_col:
                out[crowding_col] = crowd[idx]
            frames.append(out)
    return pd.concat(frames, ignore_index=True) if frames else None


def _ranked(scored: DataFrame, k: int, per_crowding_k: int | None,
            crowding_col: str | None) -> DataFrame:
    """Apply (optional) crowding cap then top-k; deterministic
    tie-break. Returns (query_id, rank, neighbor_id, score[,
    crowding_col])."""
    order = [F.col("score").desc(), F.col("neighbor_id").asc()]
    if per_crowding_k is not None and crowding_col is not None:
        crowd_w = Window.partitionBy("query_id", crowding_col).orderBy(*order)
        scored = (
            scored.withColumn("_crowd_rn", F.row_number().over(crowd_w))
            .filter(F.col("_crowd_rn") <= per_crowding_k)
            .drop("_crowd_rn")
        )
    topk_w = Window.partitionBy("query_id").orderBy(*order)
    return (
        scored.withColumn("rank", F.row_number().over(topk_w))
        .filter(F.col("rank") <= k)
        .select(*RESULT_COLUMNS, *([crowding_col] if crowding_col else []))
    )


def _scan_schema(
    candidates: DataFrame, id_col: str, query_id_type,
    crowding_col: str | None,
) -> T.StructType:
    schema = T.StructType([
        T.StructField("query_id", query_id_type),
        T.StructField("neighbor_id", candidates.schema[id_col].dataType),
        T.StructField("score", T.DoubleType()),
    ])
    if crowding_col:
        schema.add(crowding_col, candidates.schema[crowding_col].dataType)
    return schema


def _scan_cols(*cols: str | None) -> list[str]:
    """Candidate columns a scan reads, each once (a crowding column may
    also be the cluster column)."""
    return list(dict.fromkeys(c for c in cols if c))


def _collect_queries(
    queries_df: DataFrame, query_id_col: str, query_vec_col: str
) -> tuple[list, np.ndarray]:
    """The driver-held query set of the broadcast strategy: (ids, the
    (nq, dim) float64 query matrix)."""
    rows = queries_df.select(query_id_col, query_vec_col).collect()
    return (
        [r[0] for r in rows],
        np.asarray([r[1] for r in rows], dtype=np.float64),
    )


def block_topk_broadcast(
    candidates: DataFrame,
    qids: list,
    qmat: np.ndarray,
    k: int,
    scorer: Scorer,
    *,
    id_col: str,
    query_id_type,
    probe_mask: np.ndarray | None = None,
    per_crowding_k: int | None = None,
    crowding_col: str | None = None,
) -> DataFrame:
    """Block top-k over ``candidates`` for a driver-held query set
    (``qids``, ``qmat``; see ``_collect_queries``).

    ``scorer.prepare`` runs once on the driver and its output ships
    with ``qids`` and the optional ``probe_mask`` (nq x n_clusters
    bool, read against ``cluster_id``) via ``SparkContext.broadcast``;
    one ``mapInPandas`` pass scores each Arrow batch and keeps its
    local winners, and ``_ranked`` applies the global window. Returns
    (query_id, rank, neighbor_id, score[, crowding_col]).
    """
    spark = candidates.sparkSession
    schema = _scan_schema(candidates, id_col, query_id_type, crowding_col)
    if not qids:
        return _ranked(
            spark.createDataFrame([], schema), k, per_crowding_k, crowding_col
        )
    bc = spark.sparkContext.broadcast(
        (qids, scorer.prepare(qmat), probe_mask)
    )
    col, score = scorer.col, scorer.score
    kw = dict(id_col=id_col, per_crowding_k=per_crowding_k,
              crowding_col=crowding_col)

    def scan(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        b_qids, state, b_mask = bc.value
        for pdf in batches:
            if pdf.empty:
                continue
            out = _local_topk(
                b_qids, score(state, pdf[col]), pdf, k, probe_mask=b_mask,
                **kw,
            )
            if out is not None:
                yield out

    cols = _scan_cols(id_col, col, crowding_col,
                      None if probe_mask is None else "cluster_id")
    scored = candidates.select(*cols).mapInPandas(scan, schema)
    return _ranked(scored, k, per_crowding_k, crowding_col)


def block_topk_cogroup(
    candidates: DataFrame,
    queries_df: DataFrame,
    k: int,
    scorer: Scorer,
    *,
    id_col: str,
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vector",
    probe_col: str | None = None,
    n_clusters: int | None = None,
    per_crowding_k: int | None = None,
    crowding_col: str | None = None,
    n_index_blocks: int | None = None,
    n_query_blocks: int = 1,
) -> DataFrame:
    """Block top-k with NO driver collect anywhere.

    Both sides stay DataFrames end-to-end: the candidates hash into
    ``n_index_blocks`` (default: defaultParallelism), each query row
    replicates across those blocks (``explode`` through the shuffle --
    queries are the small side, so replicating them is the cheap
    direction), and every ``cogroup().applyInPandas`` group runs
    ``scorer.prepare`` on its queries, scores its candidates and keeps
    the local winners. ``n_query_blocks > 1`` additionally splits
    queries (replicating the candidates per query block) to bound
    per-task memory for data-scale query sets. Each (query, candidate)
    pair lands in exactly one group, so the union of local winners
    feeds the global ``_ranked`` window without dedup.

    IVF masking: pass ``probe_col`` (array<int> probed clusters per
    query) and ``n_clusters``; the mask is rebuilt per group against
    the candidates' ``cluster_id``, still with no driver state.
    Returns (query_id, rank, neighbor_id, score[, crowding_col]).
    """
    spark = candidates.sparkSession
    if n_index_blocks is None:
        n_index_blocks = spark.sparkContext.defaultParallelism
    if probe_col is not None and n_clusters is None:
        raise ValueError("probe_col requires n_clusters")

    # Both sides' grouping keys are explicitly bigint: pmod(xxhash64)
    # is bigint while exploded int literals are int, and cogroup key
    # matching must not lean on implicit coercion.
    idx = candidates.select(*_scan_cols(
        id_col, scorer.col, crowding_col,
        None if probe_col is None else "cluster_id",
    )).withColumn(
        "_ib", F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_index_blocks))
    )
    if n_query_blocks > 1:
        idx = idx.withColumn(
            "_qb",
            F.explode(F.array(*[F.lit(i).cast("bigint")
                                for i in range(n_query_blocks)])),
        )
        qb_expr = F.pmod(F.xxhash64(F.col(query_id_col)), F.lit(n_query_blocks))
    else:
        idx = idx.withColumn("_qb", F.lit(0).cast("bigint"))
        qb_expr = F.lit(0).cast("bigint")
    qcols = [query_id_col, query_vec_col] + ([probe_col] if probe_col else [])
    qry = queries_df.select(*qcols).withColumn("_qb", qb_expr).withColumn(
        "_ib", F.explode(F.array(*[F.lit(i).cast("bigint")
                                   for i in range(n_index_blocks)]))
    )

    schema = _scan_schema(
        candidates, id_col, queries_df.schema[query_id_col].dataType,
        crowding_col,
    )
    empty = pd.DataFrame({f.name: pd.Series(dtype=object) for f in schema})
    kw = dict(id_col=id_col, per_crowding_k=per_crowding_k,
              crowding_col=crowding_col)

    def scan_group(ipdf: pd.DataFrame, qpdf: pd.DataFrame) -> pd.DataFrame:
        if ipdf.empty or qpdf.empty:
            return empty
        qmat = np.asarray(list(qpdf[query_vec_col]), dtype=np.float64)
        probe_mask = None
        if probe_col:
            probe_mask = np.zeros((len(qpdf), n_clusters), dtype=bool)
            for i, lst in enumerate(qpdf[probe_col]):
                probe_mask[i, np.asarray(lst, dtype=np.int64)] = True
        out = _local_topk(
            qpdf[query_id_col].to_numpy(),
            scorer.score(scorer.prepare(qmat), ipdf[scorer.col]),
            ipdf, k, probe_mask=probe_mask, **kw,
        )
        return empty if out is None else out

    scored = (
        idx.groupby("_ib", "_qb")
        .cogroup(qry.groupby("_ib", "_qb"))
        .applyInPandas(scan_group, schema)
    )
    return _ranked(scored, k, per_crowding_k, crowding_col)


def knn_search(
    index_df: DataFrame,
    queries_df: DataFrame,
    k: int,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vector",
    restrict: Column | None = None,
    per_crowding_k: int | None = None,
    crowding_col: str | None = None,
    metadata_df: DataFrame | None = None,
    metadata_key: str = "data_point_id",
    method: str = "auto",
    auto_threshold: int | None = None,
) -> DataFrame:
    """Filtered, diversity-constrained top-k search.

    Returns (query_id, rank, neighbor_id, score[, crowding_col,
    metadata...]). ``restrict`` is applied BEFORE scoring so Catalyst
    can push it to the parquet scan (the reference filters inside the
    ANN traversal for the same reason, setup_vector_search.py:45-62).

    ``method="auto"`` picks "gemm" for query sets at or under
    ``auto_threshold`` (default DEFAULT_QUERY_DRIVER_THRESHOLD) and the
    collect-free "gemm_join" above it, so callers who don't know their
    query scale get the scale-safe strategy by default instead of a
    silent driver OOM.
    """
    method = _resolve_query_method(
        queries_df, method, small="gemm", large="gemm_join",
        threshold=auto_threshold,
    )
    if restrict is not None:
        index_df = index_df.filter(restrict)

    extra_cols = [crowding_col] if crowding_col else []
    crowding = dict(per_crowding_k=per_crowding_k, crowding_col=crowding_col)

    if method == "gemm":
        qids, qmat = _collect_queries(queries_df, query_id_col, query_vec_col)
        # Spread the GEMM across cores when the index arrived as few files.
        par = index_df.sparkSession.sparkContext.defaultParallelism
        if index_df.rdd.getNumPartitions() < par:
            index_df = index_df.repartition(par)
        out = block_topk_broadcast(
            index_df, qids, qmat, k, dot_scorer(vec_col), id_col=id_col,
            query_id_type=queries_df.schema[query_id_col].dataType,
            **crowding,
        )
    elif method == "gemm_join":
        out = block_topk_cogroup(
            index_df, queries_df, k, dot_scorer(vec_col), id_col=id_col,
            query_id_col=query_id_col, query_vec_col=query_vec_col,
            **crowding,
        )
    else:
        q = queries_df.select(
            F.col(query_id_col).alias("query_id"),
            F.col(query_vec_col).alias("_qvec"),
        )
        scored = (
            index_df.crossJoin(F.broadcast(q))
            .select(
                "query_id",
                F.col(id_col).alias("neighbor_id"),
                dot_product(F.col("_qvec"), F.col(vec_col)).alias("score"),
                *extra_cols,
            )
        )
        out = _ranked(scored, k, per_crowding_k, crowding_col)

    if metadata_df is not None:
        # Hydration join (Q7): the top-k result is tiny -- broadcast it,
        # not the metadata table, so the big side streams.
        meta_cols = [c for c in metadata_df.columns if c != metadata_key]
        keep_extra = [c for c in extra_cols if c not in meta_cols]
        out = out.join(
            metadata_df.withColumnRenamed(metadata_key, "neighbor_id"),
            "neighbor_id",
            "left",
        ).select("query_id", "rank", "neighbor_id", "score",
                 *keep_extra, *meta_cols)
    return out


def knn_search_cosine(
    index_df: DataFrame,
    queries_df: DataFrame,
    k: int,
    *,
    vec_col: str = "embedding",
    query_vec_col: str = "query_vector",
    **kwargs,
) -> DataFrame:
    """COSINE_DISTANCE counterpart of the dot-product search (the
    Vertex FindNeighbors contract enumerates COSINE alongside
    DOT_PRODUCT; the reference's unit-normalized embeddings make them
    coincide, arbitrary vectors do not): unit-normalize BOTH sides with
    the fold-mirrorable ``l2_normalize``, then reuse ``knn_search``
    verbatim -- every physical strategy (fold / gemm / cogroup / auto)
    inherits cosine for free, and the returned ``score`` IS the cosine
    similarity."""
    from ..functions.vector import l2_normalize

    idx = index_df.withColumn(vec_col, l2_normalize(F.col(vec_col)))
    qry = queries_df.withColumn(
        query_vec_col, l2_normalize(F.col(query_vec_col))
    )
    return knn_search(
        idx, qry, k, vec_col=vec_col, query_vec_col=query_vec_col, **kwargs
    )


def knn_search_l2(
    index_df: DataFrame,
    queries_df: DataFrame,
    k: int,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vector",
    **kwargs,
) -> DataFrame:
    """SQUARED_L2_DISTANCE search via the classic MIPS reduction:
    argmin ||q - v||^2 == argmax (q.v - 0.5*||v||^2), so augmenting
    index vectors with [-0.5*|v|^2] and queries with [1.0] turns L2
    nearest-neighbor into the dot-product search every strategy here
    already implements -- fold, GEMM, cogroup, IVF layouts, the lot,
    with zero changes to their internals.

    The ranking key is the augmented dot product (deterministic,
    fold-mirrorable); the returned ``score`` is the actual squared
    distance, rehydrated exactly for the k winners by joining the
    (tiny) result back to both vector tables -- two broadcast joins of
    a top-k-sized side, the Q7 hydration shape."""
    from ..functions.vector import dot_product as dd

    aug_v = F.concat(
        F.transform(F.col(vec_col), lambda x: x.cast("double")),
        F.array(F.lit(-0.5) * dd(F.col(vec_col), F.col(vec_col))),
    )
    aug_q = F.concat(
        F.transform(F.col(query_vec_col), lambda x: x.cast("double")),
        F.array(F.lit(1.0)),
    )
    idx = index_df.withColumn("_augv", aug_v)
    qry = queries_df.withColumn("_augq", aug_q)
    ranked = knn_search(
        idx, qry, k,
        id_col=id_col, vec_col="_augv",
        query_id_col=query_id_col, query_vec_col="_augq",
        **kwargs,
    ).select("query_id", "rank", "neighbor_id")
    q_side = queries_df.select(
        F.col(query_id_col).alias("query_id"),
        F.col(query_vec_col).alias("_qv"),
    )
    v_side = index_df.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("_vv")
    )
    from ..functions.vector import squared_l2

    small = ranked.join(F.broadcast(q_side), "query_id")
    # broadcast the top-k side so the full vector table streams
    return v_side.join(F.broadcast(small), "neighbor_id").select(
        "query_id",
        "rank",
        "neighbor_id",
        squared_l2(F.col("_qv"), F.col("_vv")).alias("score"),
    )


def brute_force_topk(
    index_df: DataFrame,
    queries_df: DataFrame,
    k: int,
    **kwargs,
) -> DataFrame:
    """Exact-scan baseline (alias of knn_search with the fold strategy)."""
    return knn_search(index_df, queries_df, k, method="fold", **kwargs)
