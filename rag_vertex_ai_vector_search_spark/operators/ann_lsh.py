"""LSH-bucketed approximate nearest neighbors: the equi-join scale path.

Alternative to IVF (operators/ivf.py) that needs NO training pass:
random-hyperplane signatures (sign of dot with h fixed Gaussian
directions) bucket similar vectors together; a query only scores
vectors sharing a bucket in at least one band. The candidate search is
a pure EQUI-JOIN on (band_id, bucket), which Spark executes as a
shuffled hash join -- no cross product, no centroid state, trivially
incremental (new vectors just hash in; no re-clustering drift, the
tree-AH rebalance problem the reference would hit with STREAM_UPDATE,
SURVEY §7).

Trade-off vs IVF: recall is tuned by (n_planes, bands) instead of
nprobe, and the hyperplanes are data-independent -- worse pruning on
strongly clustered corpora, but robust on anything (including uniform
vectors where k-means layouts can't help).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.vector import dot_product


def _hyperplanes(dim: int, n_planes: int, seed: int) -> list[list[float]]:
    rng = np.random.RandomState(seed)
    return rng.randn(n_planes, dim).tolist()


def _band_buckets(
    vec: Column, planes: list[list[float]], bands: int
) -> Column:
    """array<struct<band_id int, bucket bigint>> for one vector column.

    Each plane contributes one sign bit; bits are grouped into bands and
    packed into a bigint bucket id. All built-in expressions.
    """
    n_planes = len(planes)
    per_band = n_planes // bands
    bits = [
        F.when(
            dot_product(vec, F.array(*[F.lit(float(x)) for x in p])) >= 0, 1
        ).otherwise(0)
        for p in planes
    ]
    bucket_structs = []
    for b in range(bands):
        bucket = F.lit(0).cast("bigint")
        for i in range(per_band):
            bucket = bucket * 2 + bits[b * per_band + i]
        bucket_structs.append(
            F.struct(F.lit(b).alias("band_id"), bucket.alias("bucket"))
        )
    return F.array(*bucket_structs)


def lsh_topk(
    index_df: DataFrame,
    queries_df: DataFrame,
    k: int,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vector",
    n_planes: int = 16,
    bands: int = 4,
    seed: int = 42,
    restrict: Column | None = None,
    per_crowding_k: int | None = None,
    crowding_col: str | None = None,
) -> DataFrame:
    """Approximate top-k: score only bucket-colliding candidates.

    Returns (query_id, rank, neighbor_id, score[, crowding_col]) like
    knn_search; rows with no collision in any band are unreachable
    (that is the approximation).

    ``restrict`` / ``per_crowding_k`` / ``crowding_col`` compose the
    reference's serving contract (Q3-Q5) over this path too: the
    restrict filters the index BEFORE bucketing (pushed to the scan,
    and restricted-out rows never enter the candidate join), crowding
    caps via the same two-window ranking as the exact path. With
    n_planes=0 every pair collides, so restricted+crowded LSH provably
    equals exact restricted+crowded kNN -- the full-cover gate.
    """
    from .knn import _ranked

    if restrict is not None:
        index_df = index_df.filter(restrict)
    # derive dim from any query row (cheap: queries are the small side)
    first = queries_df.select(F.size(query_vec_col)).first()
    if first is None:
        return knn_empty(index_df, queries_df, query_id_col, id_col)
    dim = first[0]
    planes = _hyperplanes(dim, n_planes, seed)
    extra_cols = [crowding_col] if crowding_col else []

    idx = index_df.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("_v"),
        *extra_cols,
        F.explode(_band_buckets(F.col(vec_col), planes, bands)).alias("_b"),
    ).select("neighbor_id", "_v", *extra_cols, "_b.band_id", "_b.bucket")

    qry = queries_df.select(
        F.col(query_id_col).alias("query_id"),
        F.col(query_vec_col).alias("_q"),
        F.explode(_band_buckets(F.col(query_vec_col), planes, bands)).alias("_b"),
    ).select("query_id", "_q", "_b.band_id", "_b.bucket")

    candidates = (
        idx.join(F.broadcast(qry), ["band_id", "bucket"])
        .select("query_id", "neighbor_id", "_q", "_v", *extra_cols)
        .dropDuplicates(["query_id", "neighbor_id"])
    )

    scored = candidates.select(
        "query_id",
        "neighbor_id",
        dot_product("_q", "_v").alias("score"),
        *extra_cols,
    )
    return _ranked(scored, k, per_crowding_k, crowding_col)


def knn_empty(index_df, queries_df, query_id_col, id_col):
    spark = index_df.sparkSession
    from pyspark.sql import types as T

    schema = T.StructType([
        T.StructField("query_id", queries_df.schema[query_id_col].dataType),
        T.StructField("rank", T.IntegerType()),
        T.StructField("neighbor_id", index_df.schema[id_col].dataType),
        T.StructField("score", T.DoubleType()),
    ])
    return spark.createDataFrame([], schema)
