"""Product quantization (PQ) with asymmetric-distance scoring: the "AH"
half of the reference's tree-AH index.

The reference's index type is Vertex tree-AH (common/config.py:30-41):
"tree" = a coarse partition of the corpus into leaves (our IVF layout,
operators/ivf.py), "AH" = Asymmetric Hashing, i.e. product quantization
of the vectors with lookup-table (ADC) scoring at query time (public
algorithm: Jegou et al., "Product Quantization for Nearest Neighbor
Search", TPAMI 2011; Guo et al., "Accelerating Large-Scale Inference
with Anisotropic Vector Quantization" (ScaNN), ICML 2020).

Why it matters at 100 TB: a 768-dim float32 corpus is 3 KB/vector;
PQ with m=96 subspaces x 8 bits is 96 B/vector -- a 32x shrink. The
scan over codes is memory-bandwidth bound on BYTES, and the asymmetric
trick (query stays exact, only the corpus is quantized) keeps ranking
quality high. Spark mapping:

- **train**: per-subspace k-means on a bounded driver-side sample
  (numpy Lloyd's; centroid quality converges long before the corpus is
  seen -- same economics as the IVF build's sampled training).
- **encode**: one streaming pass; a vectorized pandas UDF maps each
  vector to an m-byte ``binary`` code. No shuffle.
- **search (ADC)**: per query build an (m x ksub) table of partial dot
  products <q_sub, codeword>; the score of a code is the sum of m
  table lookups. ADC is one more scorer (``adc_scorer``) of the block
  top-k kernel in knn.py: the same strategies and the same exact local
  top-k as knn_search's "gemm"/"gemm_join", with the LUT in place of
  the query matrix.
- **re-rank**: ADC top-``rerank_candidates`` ids (a tiny result) are
  broadcast-joined back to the exact vectors and re-scored with the
  bit-exact fold dot product -- the standard PQ + exact-rerank
  cascade, and the declared contract query's shape.

Not SQL-expressible (iterative k-means training), so the contract query
is a rows-only check; value correctness is the recall gate in
tests/test_pq.py (ADC-only and reranked recall vs exact kNN).
"""

from __future__ import annotations

from dataclasses import dataclass
from functools import partial

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.vector import dot_product
from .knn import (
    Scorer,
    _collect_queries,
    _ranked,
    _resolve_query_method,
    block_topk_broadcast,
    block_topk_cogroup,
)


@dataclass
class PQCodebooks:
    """Per-subspace codeword matrices. Tiny, driver/broadcast-held:
    (m, ksub, dsub) float64 -- e.g. 8 x 256 x 8 = 128 KiB."""

    codebooks: np.ndarray  # (m, ksub, dsub)
    dim: int

    @property
    def m(self) -> int:
        return self.codebooks.shape[0]

    @property
    def ksub(self) -> int:
        return self.codebooks.shape[1]

    @property
    def dsub(self) -> int:
        return self.codebooks.shape[2]


@dataclass
class PQIndex:
    """Encoded corpus + codebooks. ``codes`` holds ``id_col`` and an
    m-byte ``pq_code`` binary column (plus any pass-through columns)."""

    codes: DataFrame
    books: PQCodebooks
    id_col: str


def _kmeans_1sub(
    x: np.ndarray, ksub: int, iters: int, rng, init: np.ndarray | None = None
) -> np.ndarray:
    """Plain Lloyd's on one subspace sample (n, dsub) -> (ksub, dsub).
    Deterministic under the caller's seeded ``rng``. Empty clusters are
    re-seeded from the points farthest from their centroid. ``init``
    warm-starts from given centroids (the OPQ alternation keeps its
    codebooks across rotation updates)."""
    n = x.shape[0]
    if init is not None:
        cent = init.copy()
    else:
        k = min(ksub, n)
        cent = x[rng.choice(n, size=k, replace=False)].copy()
        if k < ksub:  # degenerate tiny corpus: pad with repeats
            cent = np.vstack([cent, cent[rng.integers(0, k, size=ksub - k)]])
    for _ in range(iters):
        # (n, ksub) squared distances via the expansion trick.
        d2 = (
            (x ** 2).sum(axis=1, keepdims=True)
            - 2.0 * x @ cent.T
            + (cent ** 2).sum(axis=1)
        )
        assign = d2.argmin(axis=1)
        far = d2[np.arange(n), assign].argsort()[::-1]
        spill = 0
        for j in range(ksub):
            mask = assign == j
            if mask.any():
                cent[j] = x[mask].mean(axis=0)
            else:
                cent[j] = x[far[spill % n]]
                spill += 1
    return cent


def _kmeans_1sub_aniso(
    x: np.ndarray, ksub: int, iters: int, rng, eta: float,
    init: np.ndarray | None = None,
) -> np.ndarray:
    """Anisotropic (score-aware) Lloyd's for one subspace -- the "A"
    refinement ScaNN brings to AH (Guo et al., ICML 2020, Thm 3.2):
    quantization error PARALLEL to the datapoint hurts high inner
    products (the pairs top-k ranking cares about) more than
    orthogonal error, so it is weighted ``eta`` >= 1 times harder.

    Per point, with residual r = c - x and unit direction u = x/|x|:
        loss(c) = |r|^2 + (eta - 1) * (r . u)^2
    Assignment minimizes this loss; the codeword update solves the
    per-cluster normal equations exactly:
        [ n_j I + (eta-1) sum u_i u_i^T ] c_j = eta * sum x_i
    (using M_i x_i = eta x_i when u_i = x_i/|x_i|), a dsub x dsub
    solve per cluster. eta = 1 degenerates to plain Lloyd's.
    Zero-norm points contribute isotropically (u = 0)."""
    n, d = x.shape
    norms = np.linalg.norm(x, axis=1)
    u = np.zeros_like(x)
    nz = norms > 0
    u[nz] = x[nz] / norms[nz, None]
    if init is not None:
        cent = init.copy()
    else:
        k = min(ksub, n)
        cent = x[rng.choice(n, size=k, replace=False)].copy()
        if k < ksub:
            cent = np.vstack([cent, cent[rng.integers(0, k, size=ksub - k)]])
    for _ in range(iters):
        d2 = (
            (x ** 2).sum(axis=1, keepdims=True)
            - 2.0 * x @ cent.T
            + (cent ** 2).sum(axis=1)
        )
        # (r . u) for every (point, codeword): c.u - |x| (u.x == |x|)
        proj = u @ cent.T - norms[:, None]
        loss = d2 + (eta - 1.0) * proj ** 2
        assign = loss.argmin(axis=1)
        far = loss[np.arange(n), assign].argsort()[::-1]
        spill = 0
        eye = np.eye(d)
        for j in range(ksub):
            mask = assign == j
            if mask.any():
                uj = u[mask]
                a = mask.sum() * eye + (eta - 1.0) * (uj.T @ uj)
                b = eta * x[mask].sum(axis=0)
                cent[j] = np.linalg.solve(a, b)
            else:
                cent[j] = x[far[spill % n]]
                spill += 1
    return cent


def score_aware_loss(
    sample: np.ndarray, books: "PQCodebooks", *, eta: float
) -> float:
    """Mean per-point score-aware quantization loss of ``sample`` under
    ``books`` (summed over subspaces, best-codeword assignment by the
    same loss). The training objective of the anisotropic trainer --
    exposed so tests can assert the anisotropic codebooks beat plain
    Lloyd's on the objective that predicts MIPS ranking quality."""
    sample = np.ascontiguousarray(sample, dtype=np.float64)
    m, dsub = books.m, books.dsub
    total = 0.0
    for j in range(m):
        x = np.ascontiguousarray(sample[:, j * dsub:(j + 1) * dsub])
        cent = books.codebooks[j]
        norms = np.linalg.norm(x, axis=1)
        u = np.zeros_like(x)
        nz = norms > 0
        u[nz] = x[nz] / norms[nz, None]
        d2 = (
            (x ** 2).sum(axis=1, keepdims=True)
            - 2.0 * x @ cent.T
            + (cent ** 2).sum(axis=1)
        )
        proj = u @ cent.T - norms[:, None]
        loss = d2 + (eta - 1.0) * proj ** 2
        total += loss.min(axis=1).sum()
    return float(total / sample.shape[0])


def train_pq(
    df: DataFrame,
    *,
    vec_col: str = "embedding",
    m: int = 8,
    ksub: int = 256,
    sample_rows: int = 65_536,
    iters: int = 12,
    seed: int = 42,
    anisotropic_eta: float | None = None,
) -> PQCodebooks:
    """Train per-subspace codebooks on a bounded sample.

    The sample (<= ``sample_rows`` full vectors) is the only data that
    touches the driver; at 100 TB this is a fixed ~200 MB regardless of
    corpus size, and the m independent k-means runs are numpy-local.
    ``dim`` must be divisible by ``m``.

    ``anisotropic_eta``: when set (> 1), train with the score-aware
    anisotropic loss (ScaNN, Guo et al. 2020) instead of plain
    euclidean Lloyd's -- parallel-to-datapoint quantization error is
    weighted ``eta`` times the orthogonal error, improving recall@k
    for inner-product search at the same code budget. Everything
    downstream (encode, ADC, rerank) is unchanged: the result is just
    a better codebook tensor.
    """
    if ksub > 256:
        raise ValueError(
            f"ksub={ksub} > 256: codes are stored as one uint8 per "
            "subspace; larger codebooks would silently wrap. Use more "
            "subspaces (m) instead."
        )
    n_rows = df.count()
    frac = min(1.0, sample_rows / max(n_rows, 1))
    sample_df = df.select(vec_col)
    if frac < 1.0:
        sample_df = sample_df.sample(fraction=frac, seed=seed)
    sample = np.asarray(
        [r[0] for r in sample_df.limit(sample_rows).collect()],
        dtype=np.float64,
    )
    if sample.size == 0:
        raise ValueError(
            "cannot train PQ on empty input: the corpus dataframe "
            "produced no sample rows (empty table or all rows filtered)"
        )
    dim = sample.shape[1]
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    dsub = dim // m
    rng = np.random.default_rng(seed)
    if anisotropic_eta is not None and anisotropic_eta < 1.0:
        raise ValueError(
            f"anisotropic_eta={anisotropic_eta} < 1: parallel error "
            "must weigh at least as much as orthogonal error"
        )
    books = np.stack([
        _kmeans_1sub(
            np.ascontiguousarray(sample[:, j * dsub:(j + 1) * dsub]),
            ksub, iters, rng,
        )
        if anisotropic_eta is None
        else _kmeans_1sub_aniso(
            np.ascontiguousarray(sample[:, j * dsub:(j + 1) * dsub]),
            ksub, iters, rng, anisotropic_eta,
        )
        for j in range(m)
    ])
    return PQCodebooks(codebooks=books, dim=dim)


def codebooks_from_vectors(vecs: np.ndarray, *, m: int) -> PQCodebooks:
    """Build codebooks directly from ``ksub`` given full-dimension
    vectors: entry ``c`` of subspace ``j`` is ``vecs[c]``'s j-th
    subvector. The pre-trained-quantizer seam (FAISS lets you assign
    ``ProductQuantizer.centroids`` wholesale): reuse codebooks trained
    elsewhere, share them across index shards -- or pin them to chosen
    corpus rows so the whole ADC cascade is closed-form and
    SQL-mirrorable (the oracled ``ann_recall_pq`` configuration)."""
    vecs = np.ascontiguousarray(vecs, dtype=np.float64)
    ksub, dim = vecs.shape
    if ksub > 256:
        raise ValueError(f"{ksub} codebook vectors > 256 uint8 codes")
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    dsub = dim // m
    books = np.stack([
        np.ascontiguousarray(vecs[:, j * dsub:(j + 1) * dsub])
        for j in range(m)
    ])
    return PQCodebooks(codebooks=books, dim=dim)


def encode_pq(
    df: DataFrame,
    books: PQCodebooks,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    keep_cols: tuple[str, ...] = (),
) -> PQIndex:
    """One streaming pass: vector -> m-byte binary code (narrow, no
    shuffle; the codebook tensor ships by torrent broadcast)."""
    if books.ksub > 256:
        raise ValueError(
            f"ksub={books.ksub} > 256 cannot be encoded as uint8 codes"
        )
    spark = df.sparkSession
    bc = spark.sparkContext.broadcast(books.codebooks)
    m, ksub, dsub = books.m, books.ksub, books.dsub

    @F.pandas_udf(T.BinaryType())
    def _encode(vecs: pd.Series) -> pd.Series:
        cb = bc.value  # (m, ksub, dsub)
        vmat = np.asarray(list(vecs), dtype=np.float64)  # (n, dim)
        n = vmat.shape[0]
        codes = np.empty((n, m), dtype=np.uint8)
        for j in range(m):
            sub = vmat[:, j * dsub:(j + 1) * dsub]  # (n, dsub)
            d2 = (
                (sub ** 2).sum(axis=1, keepdims=True)
                - 2.0 * sub @ cb[j].T
                + (cb[j] ** 2).sum(axis=1)
            )
            codes[:, j] = d2.argmin(axis=1).astype(np.uint8)
        return pd.Series([c.tobytes() for c in codes])

    codes = df.select(
        id_col, *keep_cols, _encode(F.col(vec_col)).alias("pq_code")
    )
    return PQIndex(codes=codes, books=books, id_col=id_col)


def _reconstruct(x: np.ndarray, codebooks: np.ndarray) -> np.ndarray:
    """Encode-then-decode ``x`` under ``codebooks``: each subvector is
    replaced by its nearest codeword (the PQ quantization x-tilde)."""
    m, _, dsub = codebooks.shape
    out = np.empty_like(x)
    for j in range(m):
        sub = x[:, j * dsub:(j + 1) * dsub]
        d2 = (
            (sub ** 2).sum(axis=1, keepdims=True)
            - 2.0 * sub @ codebooks[j].T
            + (codebooks[j] ** 2).sum(axis=1)
        )
        out[:, j * dsub:(j + 1) * dsub] = codebooks[j][d2.argmin(axis=1)]
    return out


def train_opq(
    df: DataFrame,
    *,
    vec_col: str = "embedding",
    m: int = 8,
    ksub: int = 256,
    sample_rows: int = 65_536,
    iters: int = 12,
    opq_iters: int = 10,
    seed: int = 42,
    anisotropic_eta: float | None = None,
) -> tuple[np.ndarray, PQCodebooks]:
    """Optimized Product Quantization (Ge et al., CVPR 2013, the
    non-parametric OPQ-NP): learn an ORTHOGONAL rotation R so the
    rotated data's subspaces carry balanced, independent energy --
    then PQ in the rotated space. Returns ``(R, books)`` with R a
    (dim, dim) orthogonal matrix (rows transform as x' = x @ R).

    Why: plain PQ quantizes FIXED dim/m slices; when variance is
    concentrated or correlated across slice boundaries (typical of
    learned embeddings), those slices waste code budget. OPQ
    alternates (a) Lloyd's on the rotated sample and (b) the exact
    orthogonal Procrustes solve R = U V^T from SVD(X^T X-tilde),
    which provably minimizes ||X R - X-tilde||_F over orthogonal R.
    Rotation preserves dot products, so search quality is pure win at
    the cost of one (dim x dim) GEMM per vector (rotate_vectors).

    Training runs on the same bounded driver sample as train_pq;
    ``anisotropic_eta`` composes (score-aware Lloyd's inside the
    rotated space). Final codebooks get a full ``iters`` refinement
    pass after the alternation converges.
    """
    n_rows = df.count()
    frac = min(1.0, sample_rows / max(n_rows, 1))
    sample_df = df.select(vec_col)
    if frac < 1.0:
        sample_df = sample_df.sample(fraction=frac, seed=seed)
    x = np.asarray(
        [r[0] for r in sample_df.limit(sample_rows).collect()],
        dtype=np.float64,
    )
    if x.size == 0:
        raise ValueError("cannot train OPQ on empty input")
    dim = x.shape[1]
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    dsub = dim // m
    rng = np.random.default_rng(seed)

    def _books(
        xr: np.ndarray, n_iters: int, prev: np.ndarray | None
    ) -> np.ndarray:
        return np.stack([
            _kmeans_1sub(
                np.ascontiguousarray(xr[:, j * dsub:(j + 1) * dsub]),
                ksub, n_iters, rng,
                init=None if prev is None else prev[j],
            )
            if anisotropic_eta is None
            else _kmeans_1sub_aniso(
                np.ascontiguousarray(xr[:, j * dsub:(j + 1) * dsub]),
                ksub, n_iters, rng, anisotropic_eta,
                init=None if prev is None else prev[j],
            )
            for j in range(m)
        ])

    # Warm-started alternation (OPQ-NP): codebooks persist across
    # rotation updates -- retraining from a fresh random init each
    # round would throw away the state the Procrustes step just
    # optimized R against, and the alternation would not converge.
    r = np.eye(dim)
    books = _books(x, iters, None)
    for _ in range(opq_iters):
        xr = x @ r
        books = _books(xr, 2, books)
        xq = _reconstruct(xr, books)
        u, _, vt = np.linalg.svd(x.T @ xq)
        r = u @ vt
    books = _books(x @ r, max(2, iters // 2), books)
    return r, PQCodebooks(codebooks=books, dim=dim)


def rotate_vectors(
    df: DataFrame,
    rotation: np.ndarray,
    *,
    vec_col: str = "embedding",
    out_col: str | None = None,
) -> DataFrame:
    """Apply ``x' = x @ R`` to a vector column (Arrow-batched GEMM per
    batch; the rotation ships by broadcast). Apply the SAME rotation
    to corpus vectors before encode_pq and to queries before ADC
    search -- exact rerank can keep joining the UNROTATED vectors by
    id (orthogonal R preserves the dot products being approximated)."""
    spark = df.sparkSession
    bc = spark.sparkContext.broadcast(np.ascontiguousarray(rotation))

    @F.pandas_udf(T.ArrayType(T.DoubleType()))
    def _rot(vecs: pd.Series) -> pd.Series:
        rot = bc.value
        vmat = np.asarray(list(vecs), dtype=np.float64)
        out = vmat @ rot
        return pd.Series(list(out))

    return df.withColumn(out_col or vec_col, _rot(F.col(vec_col)))


def _lut_for(qmat: np.ndarray, codebooks: np.ndarray) -> np.ndarray:
    """LUT[q, j, c] = <q_sub_j, codeword_jc>: one small GEMM per
    subspace. qmat (nq, dim), codebooks (m, ksub, dsub) -> (nq, m, ksub)."""
    m, _, dsub = codebooks.shape
    return np.stack([
        qmat[:, j * dsub:(j + 1) * dsub] @ codebooks[j].T
        for j in range(m)
    ], axis=1)


def _adc(lut: np.ndarray, codes: pd.Series) -> np.ndarray:
    """Score an (nq, m, ksub) LUT against a block of m-byte codes:
    unpack to an (n, m) uint8 matrix, then m vectorized gathers (no
    GEMM, no float vectors read) -> (nq, n)."""
    m = lut.shape[1]
    cmat = np.frombuffer(b"".join(codes), dtype=np.uint8).reshape(-1, m)
    scores = np.zeros((lut.shape[0], len(cmat)))
    for j in range(m):
        scores += lut[:, j, :][:, cmat[:, j]]
    return scores


def adc_scorer(books: PQCodebooks) -> Scorer:
    """The block top-k kernel's ADC scorer (knn.py): prepare = the
    per-query lookup table, score = the gather sum over ``pq_code``."""
    return Scorer(
        "pq_code", partial(_lut_for, codebooks=books.codebooks), _adc
    )


def pq_topk(
    index: PQIndex,
    queries_df: DataFrame,
    k: int,
    *,
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vector",
) -> DataFrame:
    """Asymmetric-distance top-k over the encoded corpus: the block
    top-k kernel's broadcast strategy with the ADC scorer. The query
    set is collected once, the LUT is built once on the driver and
    broadcast, and one ``mapInPandas`` pass scores the codes. Returns
    (query_id, rank, neighbor_id, score) where score is the ADC
    approximation of the dot product.
    """
    qids, qmat = _collect_queries(queries_df, query_id_col, query_vec_col)
    return block_topk_broadcast(
        index.codes, qids, qmat, k, adc_scorer(index.books),
        id_col=index.id_col,
        query_id_type=queries_df.schema[query_id_col].dataType,
    )


def ivf_pq_search(
    ivf_index,
    pq_index: PQIndex,
    queries_df: DataFrame,
    k: int,
    *,
    probe_percent: float = 10.0,
    rerank_candidates: int | None = None,
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vector",
    method: str = "auto",
    restrict=None,
    per_crowding_k: int | None = None,
    crowding_col: str | None = None,
    auto_threshold: int | None = None,
) -> DataFrame:
    """The full tree-AH composition (common/config.py:30-41): coarse
    probe over the IVF leaves ("tree") -> ADC scan of PQ codes inside
    the probed leaves only ("AH") -> exact rerank of the shortlist.

    ``pq_index.codes`` must carry the ``cluster_id`` column (encode the
    IVF-assigned table with ``keep_cols=("cluster_id",)``).

    ``restrict`` / ``per_crowding_k`` / ``crowding_col`` compose the
    reference's full serving contract (Q3-Q5) over the cascade: the
    reference writes restricts and the crowding tag into every
    datapoint of the tree-AH index (setup_vector_search.py:43-77), so
    the production query is "filtered, diversified top-k THROUGH the
    index", not over a brute-force scan. Restrict columns must be
    co-stored on the code table (``encode_pq(keep_cols=...)``) so the
    filter lands on the 32x-smaller code scan, pre-ADC; crowding is
    enforced on the exact reranked scores (see pq_search_rerank).

    Two prunes compose: the UNION of probed leaves becomes a static
    ``isin`` filter (on a ``partitionBy("cluster_id")`` layout that is
    partition pruning of BYTES -- combined with the 32x code shrink, a
    10% probe reads ~0.3% of the exact path's bytes), and each query is
    additionally MASKED to its own probed leaves during ADC scoring, so
    a query's candidate set does not depend on which other queries
    share the batch. The rerank then touches only the shortlist's full
    vectors.

    ``method``: "broadcast" (request-scale) is the block top-k
    kernel's broadcast strategy: the query set is collected once,
    probes rank driver-side in numpy (``ivf._probe_on_driver``; the
    same function the executor UDF wraps, so rankings are identical),
    and the LUT is built once and broadcast -- no probe-UDF job at all,
    which at request scale is most of the serving latency. "cogroup"
    (data-scale) is the kernel's cogroup strategy: probes run in the
    executor UDF (``ivf._probe_on_executors``) so the query set never
    touches the driver; its one collect is the bounded distinct
    probed-cluster-id set.

    Recall compounds (probe recall x ADC recall recovered by rerank) --
    gated in tests/test_pq.py on clustered data.
    """
    from .ivf import _probe_assign_udf, _probe_on_driver, _probe_on_executors

    method = _resolve_query_method(
        queries_df, method, small="broadcast", large="cogroup",
        threshold=auto_threshold,
    )
    broadcast = method != "cogroup"
    n_clusters = ivf_index.centroids.shape[0]
    nprobe = max(1, int(round(n_clusters * probe_percent / 100.0)))
    if broadcast:
        qids, qmat, probe_mask, all_probed = _probe_on_driver(
            queries_df, query_id_col, query_vec_col,
            ivf_index.centroids, nprobe,
        )
        # pandas + Arrow => a true LocalRelation: collect() on it is
        # driver-only and its broadcast-join side needs no job. A plain
        # createDataFrame(list) builds a LogicalRDD whose every collect
        # is a defaultParallelism-task job (~0.35 s of the warm serving
        # latency, measured r12).
        q = queries_df.sparkSession.createDataFrame(
            pd.DataFrame({"query_id": qids, "_qvec": qmat.tolist()}),
            T.StructType([
                T.StructField(
                    "query_id", queries_df.schema[query_id_col].dataType
                ),
                T.StructField("_qvec", T.ArrayType(T.DoubleType())),
            ]),
        )
    else:
        q, all_probed = _probe_on_executors(
            queries_df, query_id_col, query_vec_col,
            _probe_assign_udf(ivf_index.centroids, nprobe),
        )
    codes = pq_index.codes.filter(F.col("cluster_id").isin(all_probed))
    if restrict is not None:
        codes = codes.filter(restrict)
    cand_k = rerank_candidates if rerank_candidates is not None else 4 * k
    scorer = adc_scorer(pq_index.books)
    if broadcast:
        cands = block_topk_broadcast(
            codes, qids, qmat, cand_k, scorer, id_col=pq_index.id_col,
            query_id_type=queries_df.schema[query_id_col].dataType,
            probe_mask=probe_mask,
        )
    else:
        cands = block_topk_cogroup(
            codes, q, cand_k, scorer, id_col=pq_index.id_col,
            query_vec_col="_qvec", probe_col="_probe", n_clusters=n_clusters,
        )
    # Prune the RERANK scan to the probed leaves too (r12): the ADC
    # shortlist only ever contains probed-leaf rows and the rerank
    # join is inner on neighbor_id, so rows outside all_probed can
    # never survive -- filtering the vector side is a semantic no-op
    # that turns the full-index rerank read into the same partition
    # pruning the code scan already gets (on a partitionBy layout:
    # unread bytes; on a cached table: batch-stat skipping).
    vectors = ivf_index.assigned
    if "cluster_id" in vectors.columns:
        vectors = vectors.filter(F.col("cluster_id").isin(all_probed))
    return _rerank(
        cands, vectors, q, k,
        id_col=ivf_index.id_col, vec_col=ivf_index.vec_col,
        broadcast=broadcast,
        per_crowding_k=per_crowding_k, crowding_col=crowding_col,
    )


def pq_search_rerank(
    index: PQIndex,
    vectors_df: DataFrame,
    queries_df: DataFrame,
    k: int,
    *,
    rerank_candidates: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vector",
    method: str = "auto",
    restrict=None,
    per_crowding_k: int | None = None,
    crowding_col: str | None = None,
    auto_threshold: int | None = None,
) -> DataFrame:
    """The production cascade: ADC top-``rerank_candidates`` (default
    4k, mirroring approximate_neighbors_count=150 vs final k in the
    reference, common/config.py:32) -> join the candidate set back
    onto the exact vectors -> bit-exact fold re-score -> final top-k.
    Only ``n_queries * rerank_candidates`` full vectors are ever
    re-read.

    ``method="broadcast"`` (request-scale): ADC runs through pq_topk
    (the block top-k kernel's broadcast strategy) and the tiny
    candidate/query sides are broadcast-joined into the vector scan.
    ``method="cogroup"`` (data-scale): ADC runs through the kernel's
    cogroup strategy (no driver collect anywhere) and the rerank joins
    stay shuffle joins so AQE picks the strategy from actual sizes.
    ``method="auto"`` (default) counts the query side and picks
    "broadcast" at or under ``auto_threshold``
    (DEFAULT_QUERY_DRIVER_THRESHOLD), "cogroup" above -- the scale-safe
    path without the caller having to declare their scale.

    Reference serving contract composition (Q3-Q5 through the index,
    setup_vector_search.py:43-77):

    - ``restrict`` (boolean Column over columns co-stored on
      ``index.codes`` via ``encode_pq(keep_cols=...)``) filters the
      CODE table before ADC -- the filter runs on the 32x-smaller
      code scan and Catalyst pushes it into the (cluster-pruned)
      parquet read. The shortlist, and therefore the rerank, only ever
      sees restricted rows; no post-hoc filtering that would silently
      shrink k.
    - ``per_crowding_k`` / ``crowding_col`` apply the reference's
      crowding semantics (setup_vector_search.py:65-67) on the EXACT
      reranked scores via the same two-window ``_ranked`` the exact
      path uses (knn.py::_ranked), so cascade and brute-force crowding
      are one code path. The crowding column lives on ``vectors_df``
      and rides the rerank hydration join. With crowding on, size
      ``rerank_candidates`` generously (the ADC shortlist is not
      crowd-aware; a shortlist of c candidates can yield fewer than k
      post-cap survivors if one crowd dominates it).

    With ``probe_percent=100`` + ``rerank_candidates >= corpus`` this
    provably equals exact restricted+crowded kNN (the shortlist keeps
    every restricted row, rerank scores are bit-exact fold dot
    products, and the final window is the exact path's window) -- the
    oracled sibling the driver gate checks.
    """
    method = _resolve_query_method(
        queries_df, method, small="broadcast", large="cogroup",
        threshold=auto_threshold,
    )
    if restrict is not None:
        index = PQIndex(
            codes=index.codes.filter(restrict),
            books=index.books,
            id_col=index.id_col,
        )
    cand_k = rerank_candidates if rerank_candidates is not None else 4 * k
    if method == "cogroup":
        cands = block_topk_cogroup(
            index.codes, queries_df, cand_k, adc_scorer(index.books),
            id_col=index.id_col,
            query_id_col=query_id_col, query_vec_col=query_vec_col,
        )
    else:
        cands = pq_topk(
            index, queries_df, cand_k,
            query_id_col=query_id_col, query_vec_col=query_vec_col,
        )
    q = queries_df.select(
        F.col(query_id_col).alias("query_id"),
        F.col(query_vec_col).alias("_qvec"),
    )
    return _rerank(
        cands, vectors_df, q, k, id_col=id_col, vec_col=vec_col,
        broadcast=method != "cogroup",
        per_crowding_k=per_crowding_k, crowding_col=crowding_col,
    )


def _rerank(
    cands: DataFrame,
    vectors_df: DataFrame,
    q: DataFrame,
    k: int,
    *,
    id_col: str,
    vec_col: str,
    broadcast: bool,
    per_crowding_k: int | None,
    crowding_col: str | None,
) -> DataFrame:
    """Exact rerank of an ADC shortlist: join (query_id, neighbor_id)
    candidates onto the exact vectors and the (query_id, _qvec)
    queries ``q``, re-score with the bit-exact fold dot product, and
    apply the two-window ``_ranked``. ``broadcast`` hints both small
    sides into the vector scan (request scale); otherwise the joins
    stay shuffle joins so AQE plans them from actual sizes."""
    cands = cands.select("query_id", "neighbor_id")
    q = q.select("query_id", "_qvec")
    if broadcast:
        cands, q = F.broadcast(cands), F.broadcast(q)
    extra_cols = [crowding_col] if crowding_col else []
    exact = (
        vectors_df.select(
            F.col(id_col).alias("neighbor_id"), vec_col, *extra_cols
        )
        .join(cands, "neighbor_id")
        .join(q, "query_id")
        .select(
            "query_id",
            "neighbor_id",
            dot_product(F.col("_qvec"), F.col(vec_col)).alias("score"),
            *extra_cols,
        )
    )
    return _ranked(exact, k, per_crowding_k, crowding_col)
