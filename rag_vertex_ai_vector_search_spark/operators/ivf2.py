"""Two-level (hierarchical) IVF: the centroid-ceiling escape hatch.

Flat IVF holds all centroids driver/broadcast-side; SCALE.md puts the
practical ceiling near 1e5 clusters x 768 dims (~600 MB). Corpora that
want more leaves (leaf size 500 at 1e11 rows -> 2e8 leaves) need a
coarse-over-fine hierarchy -- the standard IMI/two-level inverted file
(public method: Babenko & Lempitsky, "The Inverted Multi-Index", CVPR
2012; also the "tree" part of tree-AH at depth 2):

- **build**: k-means the sample into ``n_coarse`` buckets; k-means
  each bucket's residents into ``n_fine`` sub-leaves. Driver memory is
  ``(C + C*F) * dim`` doubles only for the TRAINED tensors -- probe
  ranking touches ``C + Pc*F`` rows per query, so C and F can each be
  ~1e4 where flat IVF capped at ~1e5 total.
- **assign**: one pandas-UDF pass: nearest coarse, then nearest fine
  WITHIN that coarse bucket; global leaf id = coarse * F + fine. The
  table partitions by leaf exactly like flat IVF (probe pruning stays
  partition pruning of bytes).
- **search**: rank coarse centroids, keep top ``Pc``; rank only THEIR
  fine centroids, keep top ``Pf`` per probed coarse. The candidate
  leaf set is per-query; scoring is flat IVF's declarative fold
  (``ivf._probed_fold``: exact, oracle-compatible scores over
  ``array_contains``-masked candidates).

Full probe at both levels provably degenerates to exact kNN
(tests/test_ivf2.py), the same gate trick as flat IVF / PQ.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .ivf import _probe_on_executors, _probed_fold
from .pq import _kmeans_1sub


@dataclass
class IVF2Index:
    assigned: DataFrame        # input cols + coarse_id + cluster_id
    coarse: np.ndarray         # (C, dim)
    fine: np.ndarray           # (C, F, dim)
    id_col: str
    vec_col: str

    def save(self, path: str) -> None:
        self.assigned.write.mode("overwrite").partitionBy(
            "cluster_id"
        ).parquet(path)


def _nearest(x: np.ndarray, cents: np.ndarray) -> np.ndarray:
    d2 = (
        (x ** 2).sum(axis=1, keepdims=True)
        - 2.0 * x @ cents.T
        + (cents ** 2).sum(axis=1)
    )
    return d2.argmin(axis=1)


def build_ivf2_index(
    df: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_coarse: int = 8,
    n_fine: int = 8,
    sample_rows: int = 100_000,
    iters: int = 8,
    seed: int = 42,
) -> IVF2Index:
    """Train the two-level codebooks on a bounded sample and assign
    every row its (coarse_id, cluster_id) leaf in one streaming pass."""
    n_rows = df.count()
    frac = min(1.0, sample_rows / max(n_rows, 1))
    sample_df = df.select(vec_col)
    if frac < 1.0:
        sample_df = sample_df.sample(fraction=frac, seed=seed)
    x = np.asarray(
        [r[0] for r in sample_df.limit(sample_rows).collect()],
        dtype=np.float64,
    )
    rng = np.random.default_rng(seed)
    coarse = _kmeans_1sub(x, n_coarse, iters, rng)
    assign = _nearest(x, coarse)
    dim = x.shape[1]
    fine = np.empty((n_coarse, n_fine, dim))
    for c in range(n_coarse):
        members = x[assign == c]
        if len(members) == 0:  # empty coarse bucket: inherit its centroid
            fine[c] = np.tile(coarse[c], (n_fine, 1))
        else:
            fine[c] = _kmeans_1sub(members, n_fine, iters, rng)

    spark = df.sparkSession
    bc = spark.sparkContext.broadcast((coarse, fine))

    @F.pandas_udf(
        T.StructType([
            T.StructField("coarse_id", T.IntegerType()),
            T.StructField("cluster_id", T.IntegerType()),
        ])
    )
    def _assign(vecs: pd.Series) -> pd.DataFrame:
        b_coarse, b_fine = bc.value
        vmat = np.asarray(list(vecs), dtype=np.float64)
        cid = _nearest(vmat, b_coarse)
        fid = np.empty(len(vmat), dtype=np.int64)
        for c in np.unique(cid):
            mask = cid == c
            fid[mask] = _nearest(vmat[mask], b_fine[c])
        leaf = cid * b_fine.shape[1] + fid
        return pd.DataFrame({
            "coarse_id": cid.astype("int32"),
            "cluster_id": leaf.astype("int32"),
        })

    assigned = (
        df.withColumn("_a", _assign(F.col(vec_col)))
        .withColumn("coarse_id", F.col("_a.coarse_id"))
        .withColumn("cluster_id", F.col("_a.cluster_id"))
        .drop("_a")
    )
    return IVF2Index(
        assigned=assigned, coarse=coarse, fine=fine,
        id_col=id_col, vec_col=vec_col,
    )


def ivf2_search(
    index: IVF2Index,
    queries_df: DataFrame,
    k: int,
    *,
    probe_coarse_percent: float = 25.0,
    probe_fine_percent: float = 25.0,
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vector",
    restrict=None,
    per_crowding_k: int | None = None,
    crowding_col: str | None = None,
) -> DataFrame:
    """Hierarchically pruned top-k: probe top coarse buckets, then top
    fine leaves within each probed bucket; exact fold scoring over the
    per-query leaf set. Probe assignment runs on executors (the
    codebook tensors ship in the UDF closure).

    ``restrict`` / ``per_crowding_k`` / ``crowding_col``: the
    reference's Q3-Q5 serving contract composed over the hierarchy --
    restrict filters the pruned candidate scan (pushed below scoring),
    crowding caps via the shared two-window ranking."""
    C, Fh = index.coarse.shape[0], index.fine.shape[1]
    pc = max(1, int(round(C * probe_coarse_percent / 100.0)))
    pf = max(1, int(round(Fh * probe_fine_percent / 100.0)))
    coarse, fine = index.coarse, index.fine

    @F.pandas_udf(T.ArrayType(T.IntegerType()))
    def _probe(vecs: pd.Series) -> pd.Series:
        out = []
        for v in vecs:
            q = np.asarray(v, dtype=np.float64)
            cd = ((q - coarse) ** 2).sum(axis=1)
            top_c = np.argsort(cd)[:pc]
            leaves = []
            for c in top_c:
                fd = ((q - fine[c]) ** 2).sum(axis=1)
                for f in np.argsort(fd)[:pf]:
                    leaves.append(int(c) * Fh + int(f))
            out.append(sorted(leaves))
        return pd.Series(out)

    pruned_q, all_probed = _probe_on_executors(
        queries_df, query_id_col, query_vec_col, _probe
    )
    candidates = index.assigned.filter(F.col("cluster_id").isin(all_probed))
    if restrict is not None:
        candidates = candidates.filter(restrict)
    return _probed_fold(
        candidates, pruned_q, k,
        id_col=index.id_col, vec_col=index.vec_col,
        per_crowding_k=per_crowding_k, crowding_col=crowding_col,
    )
