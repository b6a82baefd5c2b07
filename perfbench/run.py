"""Repository benchmark: seeded user workloads through the public entry
points of ``ohsome_planet_spark``, with output checks and per-layer
tracing.

    python3 perfbench/run.py --workload bulk_history --seed 1 --seconds 1 --trace 0

Run from the repository root. Each run measures one cold job, which
takes longer than ``--seconds``. The last line of standard output is one
JSON object ``{"correct", "attempted", "failed", "metrics"}``; with
``--trace 0`` the metrics are the end-to-end metrics of BENCHMARK.json,
with ``--trace 1`` the per-layer ones (see perfbench/README.md).
Everything the run writes lives under ``.bench_work/`` in the current
directory and is removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
DRIVER_MEM = "3g"


def _fail(msg: str) -> int:
    print(f"perfbench: {msg}", file=sys.stderr)
    return 2


def _cpus() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def _prepare_env(work: str) -> None:
    """Keep every file Spark, the JVM and Python workers write inside
    ``work`` and pin the session to this machine's cores."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # the spark-submit launcher JVM would otherwise write perf data to /tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["SPARK_GRAFT_CPUS"] = str(_cpus())
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    os.environ.setdefault("PYSPARK_DRIVER_PYTHON", sys.executable)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(prog="perfbench")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "ohsome_planet_spark")):
        return _fail("run from the repository root (ohsome_planet_spark/ not found)")
    sys.path.insert(0, root)
    sys.path.insert(0, HERE)
    try:
        import ohsome_planet_spark  # noqa: F401
        import pyspark  # noqa: F401
        import duckdb  # noqa: F401
    except ImportError as e:
        return _fail(f"cannot import the program or its dependencies: {e}")
    import workloads

    if args.workload not in workloads.WORKLOADS:
        return _fail(f"unknown workload {args.workload!r}; one of {sorted(workloads.WORKLOADS)}")
    if args.seconds <= 0:
        return _fail("--seconds must be positive")

    work = os.path.join(root, ".bench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(work)
    _prepare_env(work)
    bench = workloads.Bench(work=work, seed=args.seed, trace=bool(args.trace))

    def on_term(*_):
        bench.kill_children()
        sys.exit(143)

    signal.signal(signal.SIGTERM, on_term)
    try:
        result = workloads.WORKLOADS[args.workload](bench)
    finally:
        try:
            bench.shutdown()
        finally:
            shutil.rmtree(work, ignore_errors=True)
            parent = os.path.dirname(work)
            if os.path.isdir(parent) and not os.listdir(parent):
                os.rmdir(parent)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
