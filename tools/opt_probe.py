"""Optimization probe: per-query explain capture + isolated noop-sink
timing.

Usage::

    python tools/opt_probe.py explain name1,name2 [--out plans/_probe] [--suffix before]
    python tools/opt_probe.py time name1,name2 [--sink noop|count] [--reps 3]

``explain`` writes ``plans/_probe/<name>_<suffix>.txt`` (git-ignored)
with the ``.explain("formatted")`` output plus a one-line summary
(Exchange count, join strategies, Python-eval nodes) so plan diffs are
grep-able.

``time`` measures each query with the same steady-state discipline as
bench.py (warm until two consecutive runs within 1.3x, best-of-N) but
through the noop sink, isolating computation from the count() action.
"""

from __future__ import annotations

import argparse
import os
import re
import sys
import time

_REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if _REPO_ROOT not in sys.path:
    sys.path.insert(0, _REPO_ROOT)


def _summary(plan: str) -> str:
    counts = {}
    for pat, label in [
        (r"\bExchange\b", "Exchange"),
        (r"\bBroadcastExchange\b", "BroadcastExchange"),
        (r"\bSortMergeJoin\b", "SortMergeJoin"),
        (r"\bBroadcastHashJoin\b", "BroadcastHashJoin"),
        (r"\bShuffledHashJoin\b", "ShuffledHashJoin"),
        (r"\bBroadcastNestedLoopJoin\b", "BNLJoin"),
        (r"\bBatchEvalPython\b", "BatchEvalPython"),
        (r"\bArrowEvalPython\b", "ArrowEvalPython"),
        (r"\bMapInArrow\b|\bMapInPandas\b|\bFlatMapGroupsInPandas\b", "PythonMap"),
        (r"\bWindow\b", "Window"),
        (r"\bSort\b", "Sort"),
    ]:
        n = len(re.findall(pat, plan))
        if n:
            counts[label] = n
    return " ".join(f"{k}={v}" for k, v in sorted(counts.items()))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("mode", choices=["explain", "time"])
    ap.add_argument("names", help="comma-separated query names")
    ap.add_argument("--out", default=os.path.join(_REPO_ROOT, "plans", "_probe"))
    ap.add_argument("--suffix", default="before")
    ap.add_argument("--sink", choices=["noop", "count"], default="noop")
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument(
        "--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    )
    args = ap.parse_args()

    from udacity_data_engineering_capstone_project_spark import get_spark
    from udacity_data_engineering_capstone_project_spark.plans import (
        queries as qmod,
    )
    from udacity_data_engineering_capstone_project_spark.plans.queries import (
        REGISTRY,
        UNREGISTERED,
    )

    def _fn(name: str):
        spec = REGISTRY.get(name) or UNREGISTERED.get(name)
        return spec.fn if spec else getattr(qmod, name)

    spark = get_spark(app_name="opt-probe")
    spark.sparkContext.setLogLevel("ERROR")
    names = [n.strip() for n in args.names.split(",") if n.strip()]

    if args.mode == "explain":
        os.makedirs(args.out, exist_ok=True)
        for name in names:
            df = _fn(name)(spark, args.sf_dir)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
            path = os.path.join(args.out, f"{name}_{args.suffix}.txt")
            with open(path, "w") as fh:
                fh.write(plan)
            print(f"{name}: {_summary(plan)} -> {path}")
        spark.stop()
        return 0

    # time mode: steady-state warm + best-of-N through the chosen sink
    def _run(fn) -> float:
        spark.sparkContext._jvm.System.gc()
        t0 = time.perf_counter()
        df = fn(spark, args.sf_dir)
        if args.sink == "noop":
            df.write.format("noop").mode("overwrite").save()
        else:
            df.count()
        return time.perf_counter() - t0

    for name in names:
        fn = _fn(name)
        spark.catalog.clearCache()
        spark.sparkContext.setJobDescription(f"opt-probe:{name}")
        prev = None
        for _ in range(4):
            dt = _run(fn)
            if prev is not None and dt <= prev * 1.3 and prev <= dt * 1.3:
                break
            prev = dt
        samples = [round(_run(fn), 3) for _ in range(args.reps)]
        print(f"{name}: best={min(samples):.3f} samples={samples}")
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
