"""The closed-loop workloads (one client, ``local[nproc]``).

Each workload drives the engine only through its public entry points,
times every call from outside, and checks every answer against the
numpy oracle in ``checks.py``. A workload fills ``Run.e2e`` with its
end-to-end metrics and ``Run.layer`` with its per-layer metrics.

Set-up ends with untimed warm-up windows or reads. The ingest
workload times one fixed tick, the first upsert after the bulk load,
whatever ``--seconds`` says.
"""

from __future__ import annotations

import itertools
import os
import statistics
import time

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

import checks
import gen
from rag_vertex_ai_vector_search_spark.operators.ingest import (
    ingest_documents,
)
from rag_vertex_ai_vector_search_spark.operators.ivf import build_ivf_index
from rag_vertex_ai_vector_search_spark.operators.pq import (
    encode_pq,
    train_pq,
)
from rag_vertex_ai_vector_search_spark.operators.serving import (
    ReplicaSource,
    ServingReplica,
    embed_query_text,
)
from rag_vertex_ai_vector_search_spark.sources.txlog import (
    TxLog,
    read_table_any,
    tx_merge,
)

K = 10
# the sizes are set by the run budget (README.md)
BATCH_N = 4_000
BATCH_GROUP = 40  # BATCH_N // BATCH_GROUP distinct query anchors
BATCH_WINDOW = 100
INGEST_N = 1_000
TICK_DOCS = 20
READS_PER_POOL = 3  # reads after the tick per new, changed, dup-text pool
# a batch run's mean recall_at_10 must stay at or above this floor, set
# below what this commit measured (README.md)
RECALL_FLOOR = 0.95


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


class Run:
    """State of one workload run: session, tracer, checks, metrics."""

    def __init__(self, spark, tracer, work: str, seed: int,
                 seconds: float):
        self.spark = spark
        self.tr = tracer
        self.work = work
        self.seed = seed
        self.seconds = seconds
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.e2e: dict[str, float] = {}
        self.layer: dict[str, float] = {}
        self.setup_end = 0.0
        self.loop_end = 0.0
        self.disk_bytes = 0
        self.disk_docs = 0
        self.queries = 0
        self.op_ms: dict[str, list[float]] = {}  # timed op walls (record)
        self.centroids = None  # ingest_upsert: trained IVF centroids
        self.books = None      # ingest_upsert: trained PQ codebooks

    def check(self, what: str, violations: list[str]) -> None:
        self.attempted += 1
        if violations:
            self.failed += 1
            if len(self.failures) < 20:
                self.failures.append(f"{what}: {'; '.join(violations)}")

    def start_loop(self) -> float:
        self.setup_end = time.perf_counter()
        self.tr.phase = "loop"
        return self.setup_end

    def loop_stat(self, name: str, key: str | None = None) -> float:
        """Median over the loop's ``name`` spans of wall ms or a count
        (traced runs only)."""
        spans = self.tr.named(name, "loop")
        if not spans:
            raise RuntimeError(f"no {name!r} span in the timed loop")
        return float(statistics.median(
            [s.ms if key is None else s.counts[key] for s in spans]))

    def loop_stats(self, span: str, keys) -> None:
        """``<span>_<short>`` per-layer metrics from the loop's ``span``
        spans, for (short, count key or None for wall ms)."""
        for short, key in keys:
            self.layer[f"{span}_{short}"] = self.loop_stat(span, key)


# ---------------------------------------------------------------- serving


def _write_serving_inputs(corpus: gen.ServingCorpus, in_dir: str) -> None:
    os.makedirs(in_dir, exist_ok=True)
    ids = np.arange(corpus.n, dtype=np.int64)
    offsets = pa.array(np.arange(corpus.n + 1, dtype=np.int32) * gen.DIM)
    pq.write_table(pa.table({
        "vec_id": ids,
        "embedding": pa.ListArray.from_arrays(
            offsets, pa.array(corpus.vectors.ravel())),
        "label": corpus.labels,
        "crowd": pa.array(corpus.crowds.tolist(), type=pa.string()),
    }), os.path.join(in_dir, "corpus.parquet"))
    pq.write_table(pa.table({
        "vec_id": ids,
        "title": [gen.title_of(int(i)) for i in ids],
    }), os.path.join(in_dir, "docs.parquet"))


def _build_serving(run: Run, n: int, group: int):
    """Bulk load: IVF build + layout write, PQ train, PQ encode + code
    write, replica warm-up. Returns (replica, corpus, load start); the
    caller's first warm-up answer ends ``visible_p50_ms``."""
    spark = run.spark
    corpus = gen.serving_corpus(run.seed, n, group)
    in_dir = os.path.join(run.work, "input")
    _write_serving_inputs(corpus, in_dir)
    vectors_path = os.path.join(run.work, "tables", "vectors")
    codes_path = os.path.join(run.work, "tables", "codes")
    docs_path = os.path.join(in_dir, "docs.parquet")
    df = spark.read.parquet(os.path.join(in_dir, "corpus.parquet"))

    t_load = time.perf_counter()
    with run.tr.span("ivf.build"):
        ivf = build_ivf_index(df, n_clusters=n // gen.LEAF_ROWS)
        ivf.save(vectors_path)
    with run.tr.span("pq.train"):
        books = train_pq(df)
    with run.tr.span("pq.encode"):
        encode_pq(
            read_table_any(spark, vectors_path), books,
            keep_cols=("cluster_id", "label"),
        ).codes.write.partitionBy("cluster_id").parquet(codes_path)
    run.e2e["ingest_docs_per_s"] = n / (time.perf_counter() - t_load)
    with run.tr.span("serving.warm"):
        replica = ServingReplica.from_source(
            spark,
            ReplicaSource(
                vectors_path=vectors_path, codes_path=codes_path,
                books=books, docs=lambda s: s.read.parquet(docs_path),
            ),
            dim=gen.DIM, doc_id_col="vec_id", hydrate_cols=("title",),
        )
    run.disk_bytes = _dir_bytes(vectors_path) + _dir_bytes(codes_path)
    run.disk_docs = n
    return replica, corpus, t_load


def _query_kwargs(label: int | None) -> dict:
    if label is None:
        return {}
    return dict(restrict=F.col("label") == label,
                per_crowding_k=gen.CROWD_CAP, crowding_col="crowd")


def _check_window(run: Run, corpus, queries: list[gen.Query], answers,
                  recalls: list[float]) -> None:
    """Check answers of queries sharing one label (or none)."""
    qmat = corpus.anchor_vecs[[q.anchor for q in queries]]
    exact = checks.exact_topk(corpus, qmat, K, queries[0].label)
    for q, rows, want in zip(queries, answers, exact):
        ans = checks.answer_from_rows(
            [r.asDict() for r in rows], "neighbor_id", "title")
        qvec = corpus.anchor_vecs[q.anchor].astype(np.float64)
        run.check(f"query {q.request_id}", checks.check_serving_answer(
            corpus, qvec, ans, K, q.label))
        recalls.append(checks.recall(ans, want))


def batch(run: Run) -> None:
    replica, corpus, t_load = _build_serving(run, BATCH_N, BATCH_GROUP)
    warm = gen.batch_windows(run.seed, corpus, BATCH_WINDOW, stream=9)
    # windows 1 and 2 of a stream: one plain, one restricted plan shape
    for win in itertools.islice(warm, 1, 3):
        replica.query_batch([(q.request_id, q.text) for q in win], k=K,
                            **_query_kwargs(win[0].label))
        run.e2e.setdefault("visible_p50_ms",
                           (time.perf_counter() - t_load) * 1e3)
    t_loop = run.start_loop()

    lat, answers = [], []
    windows = gen.batch_windows(run.seed, corpus, BATCH_WINDOW)
    for i, win in enumerate(windows):
        if i >= 2 and time.perf_counter() - t_loop >= run.seconds:
            break
        with run.tr.span("serving.batch", request=i):
            t0 = time.perf_counter()
            out = replica.query_batch(
                [(q.request_id, q.text) for q in win], k=K,
                **_query_kwargs(win[0].label),
            )
            lat.append((time.perf_counter() - t0) * 1e3)
        answers.append((win, out))
    run.loop_end = time.perf_counter()

    # a misrouted answer fails its query's exact-score and title checks
    recalls: list[float] = []
    for win, out in answers:
        _check_window(run, corpus, win, [rows for _, rows in out], recalls)
    rec = statistics.fmean(recalls)
    run.check("recall floor", checks.check_recall_floor(rec, RECALL_FLOOR))

    # each query of a window waits for the whole window
    run.queries = sum(len(w) for w, _ in answers)
    run.op_ms = {"window": lat}
    run.e2e["query_p50_ms"] = statistics.median(lat)
    run.e2e["qps"] = run.queries / (sum(lat) / 1e3)
    run.layer["serving.recall_at_10"] = rec
    run.layer["serving.query_p90_ms"] = float(np.percentile(lat, 90))
    if run.tr.enabled:
        run.loop_stats("serving.batch", (
            ("ms", None), ("jobs", "jobs"), ("tasks", "tasks"),
            ("exec_ms", "exec_run_ms"),
            ("shuffle_bytes", "shuffle_write_bytes"),
        ))


# ----------------------------------------------------------------- ingest


class TxTables:
    """The ingest workload's three engine-written tx tables, their
    latest versions and the number of ``tx_merge`` commits made."""

    def __init__(self, run: Run):
        base = os.path.join(run.work, "tables")
        self.paths = {name: os.path.join(base, name)
                      for name in ("vectors", "codes", "metadata")}
        self.version = dict.fromkeys(self.paths, -1)
        self.commits = 0

    def merge(self, run: Run, name: str, df) -> None:
        with run.tr.span("txlog.commit"):
            self.version[name] = tx_merge(run.spark, self.paths[name], df)
        self.commits += 1

    def commit_counts(self, spark, since: dict[str, int],
                      commits_since: int) -> dict[str, float]:
        """The ``txlog.*`` counts of the commits made after the
        ``since`` versions, read from the commit manifests: commits,
        retries (versions consumed beyond one per commit, i.e. rebases
        over other writers), and the data files added and their bytes."""
        commits = self.commits - commits_since
        files = bytes_ = 0
        for name, path in self.paths.items():
            log = TxLog(spark, path)
            old = {f["path"] for f in log.snapshot(since[name])["files"]}
            added = [f for f in log.snapshot(self.version[name])["files"]
                     if f["path"] not in old]
            files += len(added)
            bytes_ += sum(int(f["size"]) for f in added)
        versions = sum(self.version[n] - since[n] for n in self.paths)
        return {
            "txlog.commits": float(commits),
            "txlog.retries": float(versions - commits),
            "txlog.files_added": float(files),
            "txlog.bytes_written": float(bytes_),
        }

    def disk_bytes(self) -> int:
        return sum(_dir_bytes(p) for p in self.paths.values())


def _ingest_write(run: Run, tables: TxTables, docs_df,
                  train: bool = False) -> int:
    """ingest -> IVF build (``train``) or assignment to the trained
    centroids -> PQ training (``train``) and encode -> three tx commits.
    Returns the rejected count."""
    with run.tr.span("ingest.docs"):
        res = ingest_documents(docs_df, dim=gen.DIM)
        dp = res.datapoints.select(
            "data_point_id", "feature_vector", "crowding_attribute"
        ).cache()
        dp.count()
        rejected = res.rejected.count()
    vec = dict(id_col="data_point_id", vec_col="feature_vector")
    if train:
        with run.tr.span("ivf.build"):
            ivf = build_ivf_index(
                dp, n_clusters=INGEST_N // gen.LEAF_ROWS, **vec)
            assigned = ivf.assigned.cache()
            assigned.count()
        with run.tr.span("pq.train"):
            run.books = train_pq(dp, vec_col="feature_vector")
        run.centroids = ivf.centroids
    else:
        with run.tr.span("ivf.assign"):
            assigned = build_ivf_index(
                dp, centroids=run.centroids, **vec).assigned.cache()
            assigned.count()
    with run.tr.span("pq.encode"):
        codes = encode_pq(assigned, run.books, keep_cols=("cluster_id",),
                          **vec).codes.cache()
        codes.count()
    tables.merge(run, "vectors", assigned)
    tables.merge(run, "codes", codes)
    tables.merge(run, "metadata", res.metadata)
    for df in (dp, assigned, codes):
        df.unpersist()
    return rejected


def _tick(run: Run, replica, tables: TxTables,
          docs: gen.DocGenerator) -> tuple[gen.Tick, int, float, float]:
    """One upsert tick: ingest and commit ``TICK_DOCS`` docs, refresh
    the replica, read with the latest text of up to ``READS_PER_POOL``
    new, changed and duplicate-text keys each, and check the live
    state. Read and embed walls go to ``run.op_ms``. Returns (tick,
    rejected count, write ms, visible ms)."""
    spark = run.spark
    tick = docs.tick(TICK_DOCS)
    tick_df = spark.createDataFrame(
        pd.DataFrame({"doc_id": [d.doc_id for d in tick.docs],
                      "text": [d.text for d in tick.docs]}),
        "doc_id long, text string",
    )
    t0 = time.perf_counter()
    rejected = _ingest_write(run, tables, tick_df)
    write_ms = (time.perf_counter() - t0) * 1e3
    with run.tr.span("serving.refresh"):
        replica.refresh()
    visible_ms = (time.perf_counter() - t0) * 1e3

    rejected_keys = {gen.data_point_id(j) for j in docs.rejected}
    run.op_ms = {"read": [], "embed_us": []}
    # the first reads after a refresh run slower; several per pool keep
    # the median off that slope
    read_ids: list[int] = []
    for pool in (tick.new_keys, tick.changed_keys, tick.dup_keys):
        read_ids += [j for j in pool if j in docs.live][:READS_PER_POOL]
    for j in read_ids:
        text = docs.live[j]
        with run.tr.span("serving.query", request=j):
            with run.tr.span("serving.embed"):
                e0 = time.perf_counter()
                qvec = embed_query_text(text, dim=gen.DIM)
                run.op_ms["embed_us"].append(
                    (time.perf_counter() - e0) * 1e6)
            t_read = time.perf_counter()
            rows = replica.query(text, doc_id=j, k=K).collect()
            run.op_ms["read"].append((time.perf_counter() - t_read) * 1e3)
        run.check(f"embed doc {j}", checks.check_embedding(text, qvec))
        same = {gen.data_point_id(i) for i, t in docs.live.items()
                if t == text}
        ans = checks.answer_from_rows(
            [r.asDict() for r in rows], "neighbor_id", "content_sha")
        run.check(f"read doc {j}", checks.check_upsert_read(
            ans, gen.data_point_id(j), text, same, rejected_keys))

    with run.tr.span("txlog.read"):
        vec = read_table_any(spark, tables.paths["vectors"])
    keys = [r[0] for r in vec.select("data_point_id").collect()]
    counts = {name: read_table_any(spark, tables.paths[name]).count()
              for name in ("codes", "metadata")}
    run.check("live keys", checks.check_live_keys(
        keys, counts, docs.live, docs.rejected, gen.data_point_id))
    return tick, rejected, write_ms, visible_ms


def ingest_upsert(run: Run) -> None:
    spark = run.spark
    docs = gen.DocGenerator(run.seed)
    corpus = docs.corpus(INGEST_N)
    in_dir = os.path.join(run.work, "input")
    os.makedirs(in_dir, exist_ok=True)
    pq.write_table(pa.table({
        "doc_id": pa.array([d.doc_id for d in corpus], type=pa.int64()),
        "text": [d.text for d in corpus],
    }), os.path.join(in_dir, "docs.parquet"))
    tables = TxTables(run)

    _ingest_write(run, tables, spark.read.parquet(
        os.path.join(in_dir, "docs.parquet")), train=True)
    meta_path = tables.paths["metadata"]
    with run.tr.span("serving.warm"):
        replica = ServingReplica.from_source(
            spark,
            ReplicaSource(
                vectors_path=tables.paths["vectors"],
                codes_path=tables.paths["codes"],
                centroids=run.centroids, books=run.books,
                docs=lambda s: read_table_any(s, meta_path).select(
                    "data_point_id",
                    F.sha2("content", 256).alias("content_sha")),
                id_col="data_point_id", vec_col="feature_vector",
                extra_paths=(meta_path,),
            ),
            dim=gen.DIM, doc_id_col="data_point_id",
            hydrate_cols=("content_sha",),
        )
    warm_text = docs.live[min(docs.live)]
    replica.query(warm_text, doc_id=-1, k=K).collect()
    run.start_loop()

    # one fixed tick, whatever --seconds says (README.md)
    since, commits_since = dict(tables.version), tables.commits
    tick, rejected, write_ms, visible_ms = _tick(run, replica, tables, docs)
    run.loop_end = time.perf_counter()
    run.disk_bytes = tables.disk_bytes()
    run.disk_docs = len(docs.live)
    reads = run.op_ms["read"]
    run.queries = len(reads)
    run.op_ms.update(write=[write_ms], visible=[visible_ms])

    run.e2e["query_p50_ms"] = statistics.median(reads)
    run.e2e["qps"] = len(reads) / (sum(reads) / 1e3)
    run.e2e["ingest_docs_per_s"] = len(tick.docs) / (write_ms / 1e3)
    run.e2e["visible_p50_ms"] = visible_ms

    ly = run.layer
    ly["serving.query_p90_ms"] = float(np.percentile(reads, 90))
    ly["serving.embed_us"] = statistics.median(run.op_ms["embed_us"])
    ly["ingest.tick_ms"] = write_ms
    ly["ingest.docs"] = float(len(tick.docs))
    ly["ingest.rejected"] = float(rejected)
    ly["ingest.distinct_ratio"] = tick.distinct_ratio
    ly["txlog.live_files"] = float(sum(
        len(TxLog(spark, p).live_files()) for p in tables.paths.values()))
    ly.update(tables.commit_counts(spark, since, commits_since))
    if run.tr.enabled:
        run.loop_stats("serving.query", (
            ("ms", None), ("jobs", "jobs"), ("stages", "stages"),
            ("tasks", "tasks"), ("exec_ms", "exec_run_ms"),
            ("cpu_ms", "jvm_cpu_ms"),
        ))
        run.loop_stats("serving.refresh", (
            ("ms", None), ("jobs", "jobs"), ("input_bytes", "input_bytes"),
        ))
        ly["ingest.jobs"] = run.loop_stat("ingest.docs", "jobs")
        ly["ingest.shuffle_bytes"] = run.loop_stat(
            "ingest.docs", "shuffle_write_bytes")
        ly["ivf.assign_ms"] = run.loop_stat("ivf.assign")
        ly["pq.encode_ms"] = run.loop_stat("pq.encode")
        ly["txlog.commit_ms"] = run.loop_stat("txlog.commit")
        ly["txlog.read_ms"] = run.loop_stat("txlog.read")


WORKLOADS = {
    "batch": batch,
    "ingest_upsert": ingest_upsert,
}
