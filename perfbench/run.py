"""RAG vector-store benchmark: one workload, one run.

    python3 perfbench/run.py --workload batch --seed 1 \\
        --seconds 6 --trace 0

Run from the root of a checkout of the repository. The run writes only
under ``.perfbench_work/`` in that checkout: its inputs and tables (in
``run-<pid>/``, removed at the end), and a full result record with host
facts and, when traced, every span (in ``results/``). The last line of
standard output is the result:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end metrics, with
``--trace 1`` the per-layer metrics (``README.md`` defines both).
Exits 2 without a result when the engine package is not next to it.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import resource
import shutil
import subprocess
import sys
import time

T_START = time.perf_counter()

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "rag_vertex_ai_vector_search_spark"

SPEC = os.path.join(ROOT, "BENCHMARK.json")
# per-layer metrics of layers that do no work on a workload; they are
# reported as 0 (README.md), and any other unmeasured metric is an error
IDLE = {
    "batch": set("""
        ivf.assign_ms pq.encode_ms serving.embed_us serving.query_ms
        serving.query_jobs serving.query_stages serving.query_tasks
        serving.query_exec_ms serving.query_cpu_ms serving.refresh_ms
        serving.refresh_jobs serving.refresh_input_bytes ingest.tick_ms
        ingest.jobs ingest.shuffle_bytes ingest.docs ingest.rejected
        ingest.distinct_ratio ingest.self_ms txlog.commit_ms
        txlog.commits txlog.retries txlog.files_added txlog.bytes_written
        txlog.read_ms txlog.live_files txlog.self_ms
    """.split()),
    "ingest_upsert": set("""
        serving.batch_ms serving.batch_jobs serving.batch_tasks
        serving.batch_exec_ms serving.batch_shuffle_bytes
        serving.recall_at_10
    """.split()),
}


def _parse() -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True,
                   choices=sorted(IDLE))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args()


def _nproc() -> int:
    return len(os.sched_getaffinity(0))


def _prepare_env(work: str) -> dict:
    """Point every temp and spill directory into the work dir and make
    the engine importable by the Spark Python workers."""
    dirs = {k: os.path.join(work, k) for k in ("tmp", "local", "warehouse")}
    for d in dirs.values():
        os.makedirs(d, exist_ok=True)
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(_nproc()))
    os.environ["TMPDIR"] = dirs["tmp"]
    os.environ["SPARK_LOCAL_DIRS"] = dirs["local"]
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    sys.path.insert(0, ROOT)
    return {
        "spark.local.dir": dirs["local"],
        "spark.sql.warehouse.dir": dirs["warehouse"],
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={dirs['tmp']}",
    }


def _jvm_peak_rss_kb(spark) -> int:
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def _host_facts(spark, args) -> dict:
    import numpy
    import pyarrow
    import pyspark

    jsc = spark.sparkContext._jsc.sc()
    return {
        "nproc": _nproc(),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "master": spark.sparkContext.master,
        "jvm_max_heap_bytes": int(
            spark._jvm.java.lang.Runtime.getRuntime().maxMemory()),
        "storage_pool_bytes": int(
            jsc.env().memoryManager().maxOnHeapStorageMemory()),
        "pyspark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "numpy": numpy.__version__,
        "python": platform.python_version(),
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
    }


def _common_layers(run, tracer, storage) -> None:
    """Per-layer metrics every workload reports: set-up spans,
    residency, self time per layer and tracing overhead."""
    ly = run.layer

    def setup(name, key=None):
        spans = tracer.named(name, "setup")
        if not spans:
            raise RuntimeError(f"no {name!r} span in set-up")
        return sum(s.ms / 1e3 if key is None else s.counts[key]
                   for s in spans)

    ly["session.start_s"] = setup("session.start")
    ly["ivf.build_s"] = setup("ivf.build")
    ly["ivf.build_jobs"] = setup("ivf.build", "jobs")
    ly["pq.train_s"] = setup("pq.train")
    ly["pq.encode_s"] = setup("pq.encode")
    ly["serving.warm_s"] = setup("serving.warm")
    ly["serving.resident_mb"], ly["serving.cached_fraction"] = storage
    for layer, ms in tracer.self_ms_by_layer().items():
        ly[f"{layer}.self_ms"] = ms
    # the share by which the tracer's own bookkeeping stretched the loop
    book = tracer.overhead_s.get("loop", 0.0)
    loop = run.loop_end - run.setup_end
    ly["trace.overhead_pct"] = 100 * book / (loop - book)


def _metrics(spec: list[dict], values: dict, idle: set) -> dict:
    """The result's metrics, in ``BENCHMARK.json`` order and units."""
    out = {}
    for m in spec:
        if m["name"] in values:
            value = values[m["name"]]
        elif m["name"] in idle:
            value = 0.0
        else:
            raise KeyError(f"metric {m['name']} was not measured")
        out[m["name"]] = {"value": float(value), "unit": m["unit"]}
    return out


def _storage(spark) -> tuple[float, float]:
    """(MB resident, fraction of partitions cached) of the cached RDDs."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    parts = sum(i.numPartitions() for i in infos)
    cached = sum(i.numCachedPartitions() for i in infos)
    mem = sum(i.memSize() for i in infos) / 2**20
    return mem, (cached / parts if parts else 0.0)


def _stop(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main() -> int:
    args = _parse()
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"run.py: no {PACKAGE}/ package in {ROOT}; run from the "
              "root of a checkout of the repository", file=sys.stderr)
        return 2
    with open(SPEC) as f:
        spec = json.load(f)
    work = os.path.join(ROOT, ".perfbench_work")
    run_dir = os.path.join(work, f"run-{os.getpid()}")
    try:
        run, tracer, host, storage, rss_mb, walls = _measure(args, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    run.e2e["setup_s"] = run.setup_end - T_START
    run.e2e["disk_bytes_per_doc"] = run.disk_bytes / run.disk_docs
    run.e2e["peak_rss_mb"] = rss_mb
    if args.trace:
        _common_layers(run, tracer, storage)
        metrics = _metrics(spec["per_layer"], run.layer,
                           IDLE[args.workload])
    else:
        metrics = _metrics(spec["end_to_end"], run.e2e, set())
    result = {
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": metrics,
    }
    record = dict(
        result, host=host, failures=run.failures, queries=run.queries,
        walls=walls, op_ms=run.op_ms,
        end_to_end=run.e2e, per_layer=run.layer,
    )
    out_dir = os.path.join(work, "results")
    os.makedirs(out_dir, exist_ok=True)
    stem = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    with open(os.path.join(out_dir, stem + ".json"), "w") as f:
        json.dump(record, f, indent=1)
    if args.trace:
        tracer.dump(os.path.join(out_dir, stem + ".spans.json"))

    print(json.dumps({"host": host, "failures": run.failures[:5]}))
    print(json.dumps(result))
    return 0


def _measure(args, run_dir: str):
    """Start the session, run the workload, read host facts and memory,
    stop the session."""
    confs = _prepare_env(run_dir)

    import workloads
    from rag_vertex_ai_vector_search_spark.session import get_spark
    from tracing import Tracer

    tracer = Tracer(None, bool(args.trace))
    t0 = time.perf_counter()
    spark = get_spark(extra_confs=confs)
    tracer.record("session.start", t0, time.perf_counter())
    tracer.spark = spark
    try:
        run = workloads.Run(spark, tracer, run_dir, args.seed, args.seconds)
        workloads.WORKLOADS[args.workload](run)
        t_checked = time.perf_counter()
        tracer.enabled = False
        host = _host_facts(spark, args)
        storage = _storage(spark)
        rss_mb = (resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
                  + _jvm_peak_rss_kb(spark)) / 1024
    finally:
        _stop(spark)
    walls = {
        "setup_s": run.setup_end - T_START,
        "loop_s": run.loop_end - run.setup_end,
        "checks_s": t_checked - run.loop_end,
        "stop_s": time.perf_counter() - t_checked,
    }
    return run, tracer, host, storage, rss_mb, walls


if __name__ == "__main__":
    sys.exit(main())
