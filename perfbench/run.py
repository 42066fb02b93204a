"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Runs one workload from the root of a checkout and prints, as the last
line of stdout, one JSON object: ``correct``, ``attempted``, ``failed``
and ``metrics`` — the end-to-end metrics with ``--trace 0``, the
per-layer metrics (from a traced run) with ``--trace 1``. Human-readable
detail goes to stderr; ``--out PATH`` also writes the full record (with
every span when traced). Exits 1 if any output check failed, 2 if the
package under test is missing.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("analytics_light", "analytics_iterative", "serve_poll", "serve_ingest")


def layer_units() -> dict:
    """name -> unit of every per-layer metric BENCHMARK.json lists; a
    traced run reports all of them (0 where the layer is not on the
    workload's path)."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)["per_layer"]}


def _stop_jvm() -> None:
    """Stop the Spark JVM this process launched and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--out", help="also write the full run record (JSON) here")
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "goeventstream_spark", "__init__.py")):
        print("goeventstream_spark is not in this checkout; nothing to measure", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench import analytics, engine, serve
    from perfbench.measure import HostControl, Tracer, TreeRss

    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    event_dir = os.path.join(work, "eventlog") if args.trace else None
    engine.configure(ROOT, work, event_dir)
    tracer = Tracer(enabled=bool(args.trace))
    module = serve if args.workload.startswith("serve") else analytics
    t_run = time.perf_counter()
    try:
        with HostControl() as host, TreeRss() as rss:
            if host.report["stray_spark_pids"]:
                print(f"warning: Spark processes left from earlier runs: "
                      f"{host.report['stray_spark_pids']}", file=sys.stderr)
            res = module.run(args.workload, args.seed, args.seconds, work, ROOT, tracer)
        res["spark"].stop()
        metrics = dict(res["metrics"])
        record = {
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "run_wall_s": time.perf_counter() - t_run,
            "end_to_end": {k: v for k, (v, _u) in metrics.items()},
            "detail": res["detail"],
            "host": host.report,
            "rss_samples": rss.samples,
        }
        if args.trace:
            units = layer_units()
            layers = {k: 0 for k in units}
            layers.update(module.layer_metrics(res, tracer, event_dir))
            layers["process.rss_mb"] = rss.median_mb(*res["window"])
            layers["process.peak_rss_mb"] = rss.peak_mb()
            record["layers"] = layers
            record["spans"] = tracer.spans
            metrics = {k: (layers[k], u) for k, u in units.items()}
    finally:
        _stop_jvm()
        shutil.rmtree(work, ignore_errors=True)

    print(json.dumps({k: v for k, v in record.items() if k not in ("spans", "rss_samples")},
                     default=str), file=sys.stderr)
    if args.out:
        with open(args.out, "w") as f:
            json.dump(record, f, default=str)
    correct = res["failed"] == 0
    print(json.dumps({
        "correct": correct,
        "attempted": int(res["attempted"]),
        "failed": int(res["failed"]),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
