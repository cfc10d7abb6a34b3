"""Summarise or compare benchmark result records.

    python3 perfbench/compare.py RESULTS_DIR            # spread of one set
    python3 perfbench/compare.py BASE_DIR NEW_DIR       # base vs new

A result record is the JSON file ``run.py`` writes per run under
``.perfbench_work/results/``. For every (workload, traced) group this
prints each metric's median, quartile spread (IQR / median) and, with
two sets, the new median as a share of the base median. Where a set
holds traced and untraced runs of a workload, it also prints the
run-to-run tracing overhead: the rate the traced runs lose against the
untraced ones on ``qps`` and ``ingest_docs_per_s``. Records taken
on hosts with different core counts (``nproc`` or ``SPARK_GRAFT_CPUS``)
are refused: their timings are not comparable.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import sys


def load(path: str) -> list[dict]:
    files = sorted(glob.glob(os.path.join(path, "*.json")))
    return [json.load(open(f)) for f in files
            if not f.endswith(".spans.json")]


def cores(records: list[dict]) -> set[tuple]:
    return {(r["host"]["nproc"], r["host"]["SPARK_GRAFT_CPUS"])
            for r in records}


def groups(records: list[dict]) -> dict[tuple, list[dict]]:
    out: dict[tuple, list[dict]] = {}
    for r in records:
        out.setdefault((r["host"]["workload"], r["host"]["trace"]),
                       []).append(r)
    return out


def spread(values: list[float]) -> tuple[float, float]:
    """(median, IQR as a share of the median)."""
    med = statistics.median(values)
    if len(values) < 2:
        return med, 0.0
    q1, _, q3 = statistics.quantiles(values, n=4)
    return med, ((q3 - q1) / med if med else 0.0)


def main(argv: list[str]) -> int:
    if len(argv) not in (1, 2):
        print(__doc__, file=sys.stderr)
        return 2
    sets = [load(p) for p in argv]
    host_cores = set().union(*(cores(s) for s in sets))
    if len(host_cores) > 1:
        print(f"refusing to compare results from different core counts: "
              f"{sorted(host_cores)}", file=sys.stderr)
        return 1
    base = groups(sets[0])
    new = groups(sets[1]) if len(sets) == 2 else {}
    for key in sorted(base):
        runs = base[key]
        bad = sum(r["failed"] for r in runs)
        print(f"\n{key[0]} trace={key[1]}: {len(runs)} runs, "
              f"{bad} failed checks, cores {sorted(cores(runs))}")
        for name in runs[0]["metrics"]:
            med, iqr = spread([r["metrics"][name]["value"] for r in runs])
            line = f"  {name:32s} {med:14.4f}  iqr/med {iqr:6.3f}"
            if key in new:
                nmed, niqr = spread(
                    [r["metrics"][name]["value"] for r in new[key]])
                ratio = nmed / med if med else float("nan")
                line += f"  new {nmed:14.4f} ({ratio:6.3f}x, iqr {niqr:.3f})"
            print(line)
    for workload in sorted({w for w, _ in base}):
        if (workload, 0) in base and (workload, 1) in base:
            for name in ("qps", "ingest_docs_per_s"):
                plain, traced = (
                    statistics.median(r["end_to_end"][name]
                                      for r in base[(workload, t)])
                    for t in (0, 1))
                print(f"{workload}: tracing costs "
                      f"{100 * (1 - traced / plain):.1f}% of {name}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
