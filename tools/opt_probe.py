"""Optimization-round measurement probe (guide §1).

For each named query (default: the bench HEADLINE list) this dumps
``explain("formatted")`` to a directory, times the noop-sink execution
(min of N reps), counts the Spark jobs each execution launches (via a
per-query job group), and greps the plan for the features the
optimization guide says to look at: Exchange count, join strategies,
Python-boundary nodes, Generate (explode) nodes, scans.

Usage:
  python tools/opt_probe.py [--sf SF_DIR] [--plans DIR] [--reps N]
                            [--time/--no-time] [name ...]

Prints one TSV line per query:
  name  sec  jobs  exchanges  smj  bhj  shj  python  generate  scans
and writes <plans>/<name>.txt when --plans is given.
"""

from __future__ import annotations

import argparse
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from goeventstream_spark import queries as q
from goeventstream_spark.session import get_spark

q.load_registry()


def plan_features(plan: str) -> dict[str, int]:
    def c(pat: str) -> int:
        return len(re.findall(pat, plan))

    return {
        "exchanges": c(r"\bExchange\b"),
        "smj": c(r"\bSortMergeJoin\b"),
        "bhj": c(r"\bBroadcastHashJoin\b"),
        "shj": c(r"\bShuffledHashJoin\b"),
        "bnl": c(r"\bBroadcastNestedLoopJoin\b|\bCartesianProduct\b"),
        "python": c(r"BatchEvalPython|ArrowEvalPython|MapInArrow|MapInPandas|FlatMapGroupsInPandas"),
        "generate": c(r"\bGenerate\b"),
        "window": c(r"\bWindow\b"),
        "scans": c(r"Scan parquet|FileScan parquet"),
        "aggs": c(r"HashAggregate|SortAggregate|ObjectHashAggregate"),
        "sorts": c(r"(?m)^\(\d+\) Sort\b|\+- Sort\b|:- Sort\b"),
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--plans", default=None, help="directory to write <name>.txt plan dumps")
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--no-time", action="store_true", help="plans only, skip timed execution")
    ap.add_argument("names", nargs="*")
    args = ap.parse_args()

    import bench

    names = list(dict.fromkeys(args.names or bench.HEADLINE))
    spark = get_spark(app_name="opt-probe")
    spark.sparkContext.setLogLevel("ERROR")
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    if args.plans:
        os.makedirs(args.plans, exist_ok=True)

    # Warm codegen/JIT exactly like bench.py.
    if not args.no_time:
        q.QUERIES["tpch_q1_pricing_summary"](spark, args.sf).write.format("noop").mode("overwrite").save()

    tracker = spark.sparkContext.statusTracker()
    header = "name\tsec\tjobs\texch\tsmj\tbhj\tshj\tbnl\tpy\tgen\twin\tscan\tagg"
    print(header)
    total = 0.0
    for name in names:
        try:
            df = q.QUERIES[name](spark, args.sf)
            plan = df._jdf.queryExecution().explainString(mode)
        except Exception as e:  # noqa: BLE001
            print(f"{name}\tERR build: {e}")
            continue
        if args.plans:
            with open(os.path.join(args.plans, f"{name}.txt"), "w") as f:
                f.write(plan)
        feats = plan_features(plan)
        best, jobs = float("nan"), -1
        if not args.no_time:
            best = float("inf")
            for rep in range(args.reps):
                grp = f"probe-{name}-{rep}"
                spark.sparkContext.setJobGroup(grp, name)
                t0 = time.perf_counter()
                # rebuild per rep, matching bench.py methodology
                q.QUERIES[name](spark, args.sf).write.format("noop").mode("overwrite").save()
                dt = time.perf_counter() - t0
                if dt < best:
                    best = dt
                jobs = len(tracker.getJobIdsForGroup(grp))
                spark.sparkContext.setJobGroup(None, None)
            total += best
        print(
            f"{name}\t{best:.3f}\t{jobs}\t{feats['exchanges']}\t{feats['smj']}"
            f"\t{feats['bhj']}\t{feats['shj']}\t{feats['bnl']}\t{feats['python']}"
            f"\t{feats['generate']}\t{feats['window']}\t{feats['scans']}\t{feats['aggs']}",
            flush=True,
        )
    if not args.no_time:
        print(f"# total_min_sec={total:.1f} n={len(names)}")


if __name__ == "__main__":
    main()
