"""CDC engine benchmark: one workload, one seed, one JSON result line.

Usage (from the repository root)::

    python3 perfbench/run.py --workload bulk_replay --seed 1 --seconds 10 --trace 0

Workloads (described in ``workloads.py``): ``bulk_replay`` and
``tail_small_epochs``.  Both report the same end-to-end metrics.  Every
time among them is CPU time of the benchmark's processes (the Python
driver and the Spark JVM, JIT compiler threads left out; see
``cpuclock.py``), because wall time on a shared host measures the other
tenants as much as the engine:

* ``events_per_cpu_s`` — change events delivered (re-deliveries included)
  per CPU second: the median drain of ``bulk_replay``, the whole tail of
  ``tail_small_epochs``;
* ``op_cpu_p50_ms`` / ``op_cpu_tail_ms`` — one operation's CPU time,
  median and tail: a drain on ``bulk_replay``, one trigger cycle (from
  one epoch's batch reaching the engine to the next one's) on
  ``tail_small_epochs``.  The tail is the highest of p99/p95/p90/p80/
  p75/p50 with at least ten samples beyond it, or, with too few samples
  (the drains), the highest with one beyond it; the output file names
  which, with the sample count;
* ``table_bytes`` / ``table_files`` — data files of the live snapshot the
  workload leaves;
* ``setup_s`` — CPU seconds of the set-up: session start, WAL generation
  and the warm-up.

The output file also keeps every operation's wall time.

An operation (an epoch, a drain's table, a read) that raises or whose result
differs from the oracle counts as one failed operation (``failed`` of
``attempted``).

``--trace 0`` prints the end-to-end metrics.  ``--trace 1`` runs the same
set-up, then a traced pass in place of the timed one (span wrappers plus
the Spark event log): ``bulk_replay`` alternates untraced and traced drains
and adds a ``local[1]`` baseline, ``tail_small_epochs`` traces every other
epoch and then runs a traced read probe on its final table.  The untraced
operations of that pass give the tracing overhead; it prints the per-layer
metrics.  The last stdout line is always the short result object; spans,
per-operation samples and every per-layer number go to
``.perfbench/out/<workload>-seed<seed>-trace<t>.json``.

Everything the run writes (tables, WALs, Spark scratch, event logs) stays
under ``.perfbench/`` at the repository root and is removed at exit except
the output file.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

import cpuclock

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BENCH_DIR = os.path.join(ROOT, ".perfbench")

E2E_UNITS = {
    "events_per_cpu_s": "1/s",
    "op_cpu_p50_ms": "ms",
    "op_cpu_tail_ms": "ms",
    "table_bytes": "bytes",
    "table_files": "count",
    "setup_s": "s",
}


def _parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["bulk_replay", "tail_small_epochs"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = _parse_args(argv)
    work = os.path.join(BENCH_DIR, f"work-{os.getpid()}")
    out_dir = os.path.join(BENCH_DIR, "out")
    for d in ("local", "tmp"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.makedirs(out_dir, exist_ok=True)
    # Spark's shuffle scratch, the JVMs' and Python's temp files all land
    # inside the checkout: the environment reaches spark-submit's launcher
    # JVM too, and no JVM writes a /tmp/hsperfdata file
    tmp = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={tmp} {cpuclock.JVM_OPTIONS}")
    sys.path.insert(0, ROOT)
    workloads = None
    try:
        import workloads  # needs the engine package on sys.path

        res = workloads.run(args.workload, args.seed, args.seconds,
                            bool(args.trace), work)
    finally:
        if workloads is not None:
            workloads.shutdown_jvm()
        shutil.rmtree(work, ignore_errors=True)

    detail_path = os.path.join(
        out_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    with open(detail_path, "w") as fh:
        json.dump(res["detail"], fh, indent=1, default=str)
    if args.trace:
        metrics = {k: {"value": v, "unit": u}
                   for k, (v, u) in res["layers"].items()}
    else:
        metrics = {k: {"value": res["e2e"][k], "unit": u}
                   for k, u in E2E_UNITS.items()}
    print(json.dumps({
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    t0 = time.monotonic()
    rc = main()
    print(f"perfbench: done in {time.monotonic() - t0:.1f} s", file=sys.stderr)
    raise SystemExit(rc)
