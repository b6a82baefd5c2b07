#!/usr/bin/env python
"""Restart-interleaved A/B for confs that are NOT runtime-settable
(e.g. ``spark.io.compression.codec`` — guide §2.3): alternate FRESH
SparkSessions A,B,B,A,A,B,B,A,... (ABBA ordering cancels the box's
monotone warmup/drift trend), run the named queries once per session
through the noop sink, and compare per-query medians.

This is the measurement OPTIMIZATION_r13.md deferred: the within-session
interleaved instrument cannot flip a static conf, and single cross-session
pairs are hopeless at this sandbox's 3-5x noise. n>=4 sessions per variant
plus ABBA ordering is the cheapest shape that bounds both.

Usage:
    python tools/ab_restart.py --conf spark.io.compression.codec \
        --a lz4 --b zstd [--n 4] [--sf DIR] q1 q2 ...

The child protocol (--child) runs one session and prints one JSON line.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def child(args) -> None:
    import time

    from ohsome_planet_spark.plans.queries import all_queries
    from ohsome_planet_spark.session import get_spark, release_cached

    spark = get_spark(
        app_name=f"ab_restart_{args.value}",
        extra_conf={args.conf: args.value},
    )
    assert spark.conf.get(args.conf) == args.value, (
        f"conf did not take: {spark.conf.get(args.conf)!r}"
    )
    qs = all_queries()
    spark.range(1000).selectExpr("sum(id)").collect()  # warmup
    out = {}
    for name in args.queries:
        fn = qs[name]
        spark.sparkContext.setJobDescription(f"ab_restart:{name}")
        t0 = time.perf_counter()
        df = fn(spark, args.sf)
        df.write.format("noop").mode("overwrite").save()
        out[name] = round(time.perf_counter() - t0, 3)
        release_cached()
    print("ABJSON:" + json.dumps(out), flush=True)
    spark.stop()


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="+")
    ap.add_argument("--conf", required=True)
    ap.add_argument("--a", dest="a")
    ap.add_argument("--b", dest="b")
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--n", type=int, default=4, help="sessions per variant")
    ap.add_argument("--child", action="store_true")
    ap.add_argument("--value", help="(child) conf value for this session")
    args = ap.parse_args()
    if args.child and args.value is None:
        ap.error("--child requires --value")
    if not args.child and (args.a is None or args.b is None):
        ap.error("--a and --b are required (the two conf values to compare)")

    if args.child:
        child(args)
        return

    # ABBA ordering: A,B,B,A repeated — each consecutive pair of rounds
    # places each variant once-early/once-late, cancelling linear drift.
    order = []
    for i in range(args.n):
        order += ["a", "b"] if i % 2 == 0 else ["b", "a"]

    times: dict[str, dict[str, list[float]]] = {
        q: {"a": [], "b": []} for q in args.queries
    }
    for k, variant in enumerate(order):
        value = args.a if variant == "a" else args.b
        cmd = [
            sys.executable, os.path.abspath(__file__), "--child",
            "--conf", args.conf, "--value", value, "--sf", args.sf,
            *args.queries,
        ]
        proc = subprocess.run(
            cmd, capture_output=True, text=True, cwd=REPO, timeout=1800
        )
        line = [
            ln for ln in proc.stdout.splitlines() if ln.startswith("ABJSON:")
        ]
        if not line:
            print(f"session {k} ({variant}={value}) FAILED:\n{proc.stderr[-2000:]}")
            raise SystemExit(1)
        got = json.loads(line[-1][len("ABJSON:"):])
        for q, t in got.items():
            times[q][variant].append(t)
        print(f"session {k} {variant}={value}: {got}", flush=True)

    print("== summary (b/a ratio; spreads are min-max) ==")
    for q in args.queries:
        ma = statistics.median(times[q]["a"])
        mb = statistics.median(times[q]["b"])
        sa = f"{min(times[q]['a']):.2f}-{max(times[q]['a']):.2f}"
        sb = f"{min(times[q]['b']):.2f}-{max(times[q]['b']):.2f}"
        print(
            f"{mb / ma:5.2f}  {q}: a={ma:.2f} ({sa})  b={mb:.2f} ({sb})"
        )


if __name__ == "__main__":
    main()
