"""Batch analytics workloads: a fixed query set from the registry, each
query built and run to the noop sink, pass after pass, with the operator
memos cleared before every query.

A run sets up once, cold (session and JVM launch, registry import, one
warm query), and reports that as ``setup_s``. It then runs every query
once, collecting its output and checking its row count and digest
against ``expected.json`` (this pass also warms each query's code paths),
and finally repeats timed passes until ``seconds`` have passed and every
query has ``MIN_PASSES`` calm executions (see ``measure.CALM_STEAL``), or
until ``STRETCH`` times ``seconds`` have passed.
"""

from __future__ import annotations

import os
import time
import traceback

from perfbench import datagen, engine
from perfbench.measure import (
    CALM_STEAL,
    clip,
    cpu_ticks,
    digest_rows,
    geomean,
    job_intervals_s,
    median,
    read_event_log,
    stage_totals,
    steal_share,
    union_length,
)

QUERY_SETS = {
    # Short scan / aggregate / join / window queries: per-query fixed
    # costs (parquet listing and footers, Catalyst, a few jobs) dominate
    # and no operator loops on the driver.
    "analytics_light": [
        "stream_replay",
        "delta_scan",
        "latest_state",
        "sessionize",
        "tpch_q3_shipping_priority",
        "tpch_q13_custdist",
        "asof_click_purchase",
        "word_count",
    ],
    # LLM-pipeline operators: driver round trips made while the DataFrame
    # is built (the min-label fixpoint loop) and a shuffle-heavy substring
    # self-join dominate. Two queries, so that a run on a busy 4-core host
    # still fits its share of the comparison's time budget.
    "analytics_iterative": [
        "dedup_clusters",
        "substring_dedup_runs",
    ],
}
ALL_QUERIES = sorted({n for names in QUERY_SETS.values() for n in names})
# Timed passes per run, at the least: the JVM is still compiling the
# planner's hot paths over the first passes, so a fixed pass count keeps
# every run equally warm whatever the machine's speed.
MIN_PASSES = {"analytics_light": 3, "analytics_iterative": 2}
# While the host steals CPU time, passes go on for up to this many times
# ``seconds``, to find calm executions of every query.
STRETCH = 2.0
WARM_QUERY = "tpch_q1_pricing_summary"
LOADERS = ("load_table", "load_events_delta")


def run_to_sink(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def result_of(registry, spark, name: str, data_dir: str) -> dict:
    """Row count and order-insensitive digest of one query's output."""
    engine.clear_caches()
    rows = [r.asDict(recursive=False) for r in registry[name](spark, data_dir).collect()]
    return {"rows": len(rows), "digest": digest_rows(rows)}


class _LoaderSpans:
    """Wraps the package's table loaders, under every module-level name a
    package module bound them to, in a span and a job group of their own,
    so parquet listing/footer work and any job it runs count for the
    sources layer. ``close`` restores the originals."""

    def __init__(self, tracer, spark) -> None:
        import sys

        from goeventstream_spark.sources import tables

        sc = spark.sparkContext
        originals = {id(getattr(tables, n)): n for n in LOADERS if hasattr(tables, n)}
        self._undo = []
        for mod_name, mod in list(sys.modules.items()):
            if mod is None or not mod_name.startswith("goeventstream_spark"):
                continue
            for attr, val in list(vars(mod).items()):
                if id(val) in originals:
                    setattr(mod, attr, self._wrap(val, originals[id(val)], tracer, sc))
                    self._undo.append((mod, attr, val))

    @staticmethod
    def _wrap(fn, name, tracer, sc):
        def traced(*args, **kwargs):
            outer = sc.getLocalProperty("spark.jobGroup.id")
            sc.setLocalProperty("spark.jobGroup.id", f"{outer}|load")
            try:
                with tracer.span("sources." + name):
                    return fn(*args, **kwargs)
            finally:
                sc.setLocalProperty("spark.jobGroup.id", outer)

        return traced

    def close(self) -> None:
        for mod, attr, val in self._undo:
            setattr(mod, attr, val)


def run(workload: str, seed: int, seconds: float, work: str, root: str, tracer) -> dict:
    queries = QUERY_SETS[workload]
    variant = datagen.variant_of(seed)
    data_dir = datagen.write_tables(variant, os.path.join(work, "data"))
    expected = datagen.load_expected()["analytics"][str(variant)]
    registry = engine.load_registry()
    missing = [n for n in queries + [WARM_QUERY] if n not in registry]
    if missing:
        raise SystemExit(f"queries missing from the registry: {missing}")

    # ---- set-up: session + registry import + warm query ----
    def warm(spark):
        engine.clear_caches()
        run_to_sink(registry[WARM_QUERY](spark, data_dir))

    spark, _, setup = engine.cold_setup(tracer, root, warm)
    sc = spark.sparkContext

    # ---- output check (untimed; also warms every query) ----
    t_check = time.perf_counter()
    attempted = failed = 0
    mismatches = {}
    for name in queries:
        attempted += 1
        try:
            got = result_of(registry, spark, name, data_dir)
        except Exception:  # noqa: BLE001 - a failing query is a reported failure
            failed += 1
            mismatches[name] = traceback.format_exc(limit=3)
            continue
        if got != expected.get(name):
            failed += 1
            mismatches[name] = {"got": got, "want": expected.get(name)}

    # ---- timed passes ----
    loaders = _LoaderSpans(tracer, spark) if tracer.enabled else None
    times = {n: [] for n in queries}  # [(seconds, steal share)] per query
    passes = []
    t_begin, w_begin = time.perf_counter(), time.time()
    check_s = t_begin - t_check

    def done() -> bool:
        elapsed = time.perf_counter() - t_begin
        if len(passes) < MIN_PASSES[workload]:
            return False
        calm = min(sum(st < CALM_STEAL for _, st in ts) for ts in times.values())
        return elapsed >= STRETCH * seconds or (
            elapsed >= seconds and calm >= MIN_PASSES[workload])

    while not done():
        p = len(passes)
        t_pass = time.perf_counter()
        for name in queries:
            engine.clear_caches()
            rid = f"p{p}:{name}"
            attempted += 1
            try:
                with tracer.span("query", rid=rid, query=name, pass_no=p):
                    ticks = cpu_ticks()
                    t0 = time.perf_counter()
                    if tracer.enabled:
                        sc.setLocalProperty("spark.jobGroup.id", f"{rid}|build")
                    with tracer.span("queries.build"):
                        df = registry[name](spark, data_dir)
                    if tracer.enabled:
                        sc.setLocalProperty("spark.jobGroup.id", f"{rid}|exec")
                    with tracer.span("exec"):
                        run_to_sink(df)
                    times[name].append((time.perf_counter() - t0, steal_share(ticks, cpu_ticks())))
            except Exception:  # noqa: BLE001
                failed += 1
                mismatches.setdefault(name, traceback.format_exc(limit=3))
            finally:
                if tracer.enabled:
                    sc.setLocalProperty("spark.jobGroup.id", None)
        passes.append(time.perf_counter() - t_pass)
    timed_s = time.perf_counter() - t_begin
    if loaders is not None:
        loaders.close()

    # A query's latency is its best execution: later passes still run
    # warmer code, and the best of several, calm ones among them, is robust
    # to a neighbour's CPU burst.
    best = {n: min(t for t, _ in ts) for n, ts in times.items() if ts}
    executions = sum(len(ts) for ts in times.values())
    calm = sum(st < CALM_STEAL for ts in times.values() for _, st in ts)
    metrics = {
        "setup_s": (sum(setup.values()), "s"),
        "latency_ms": (geomean(list(best.values())) * 1000.0 if best else 0.0, "ms"),
    }
    return {
        "spark": spark,
        "app_id": spark.sparkContext.applicationId,
        "window": (w_begin, time.time()),
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
        "detail": {
            "variant": variant,
            "phase_s": {"check": check_s, "timed": timed_s},
            "passes_s": passes,
            "pass_s": median(passes),
            "per_query_best_s": best,
            "requests_per_s": executions / timed_s,
            "calm_share": calm / executions if executions else 0.0,
            "per_query_s": times,
            "setup_s": setup,
            "mismatches": mismatches,
        },
    }


def _query_layers(q, tracer, log, groups) -> dict:
    """Layer figures of one traced query execution (span ``q``)."""
    kids = [s for s in tracer.spans if s["parent"] == q["id"]]
    build = next(s for s in kids if s["name"] == "queries.build")
    sink = next(s for s in kids if s["name"] == "exec")
    build_ids = {build["id"]}
    loads = []
    for s in tracer.spans:  # loader spans nest under the build span
        if s["parent"] in build_ids:
            build_ids.add(s["id"])
            if s["name"].startswith("sources."):
                loads.append(s)
    rid = q["rid"]
    load_jobs = groups.get(f"{rid}|build|load", [])
    eager_jobs = groups.get(f"{rid}|build", [])
    exec_jobs = groups.get(f"{rid}|exec", [])
    load_iv = [(s["start"], s["end"]) for s in loads]
    eager_iv = clip(job_intervals_s(log, eager_jobs), build["start"], build["end"])
    exec_iv = clip(job_intervals_s(log, exec_jobs), sink["start"], sink["end"])
    build_s = build["end"] - build["start"]
    exec_s = sink["end"] - sink["start"]
    busy = union_length(exec_iv)
    tot = stage_totals(log, load_jobs + eager_jobs + exec_jobs)
    ex = stage_totals(log, exec_jobs)
    return {
        "sources.load_calls": len(loads),
        "sources.load_s": union_length(load_iv),
        "sources.jobs": len(load_jobs),
        "queries.build_s": build_s,
        "queries.build_self_s": build_s - union_length(load_iv + eager_iv),
        "operators.eager_jobs": len(eager_jobs),
        "operators.eager_job_s": union_length(eager_iv),
        "exec.s": exec_s,
        "exec.jobs": len(exec_jobs),
        "exec.job_busy_s": busy,
        "exec.driver_gap_s": exec_s - busy,
        "exec.stages": ex["stages"],
        "exec.tasks": ex["tasks"],
        "shuffle.write_bytes": tot["shuffle_write_bytes"],
        "shuffle.read_bytes": tot["shuffle_read_bytes"],
        "shuffle.write_records": tot["shuffle_write_records"],
        "spill.bytes": tot["spill_bytes"],
        "task.run_s": tot["run_ms"] / 1000.0,
        "task.cpu_s": tot["cpu_ms"] / 1000.0,
        "task.gc_s": tot["gc_ms"] / 1000.0,
        "task.skew": tot["skew"],
        "query.s": q["end"] - q["start"],
    }


def _sum_layers(rows) -> dict:
    out: dict[str, float] = {}
    for r in rows:
        for k, v in r.items():
            out[k] = max(out.get(k, 0.0), v) if k == "task.skew" else out.get(k, 0.0) + v
    return out


def layer_metrics(res: dict, tracer, event_log_dir: str) -> dict:
    """Per-layer metrics of a traced run, per timed pass (median over
    passes); counts repeat exactly. ``res['detail']`` gains the same
    figures per query."""
    log = read_event_log(event_log_dir, res["app_id"])
    groups: dict[str, list[int]] = {}
    for jid, job in log["jobs"].items():
        if job["group"]:
            groups.setdefault(job["group"], []).append(jid)
    per_exec = [
        (q["pass_no"], q["query"], _query_layers(q, tracer, log, groups))
        for q in tracer.named("query")
    ]
    passes = sorted({p for p, _, _ in per_exec})

    def per_pass_median(select) -> dict:
        sums = [_sum_layers([r for p2, n, r in per_exec if p2 == p and select(n)]) for p in passes]
        return {k: median([s[k] for s in sums]) for k in sums[0]}

    res["detail"]["layers_by_query"] = {
        n: per_pass_median(lambda m, n=n: m == n) for n in sorted({n for _, n, _ in per_exec})
    }
    out = per_pass_median(lambda n: True)
    out.pop("query.s")
    out["session.start_s"] = res["detail"]["setup_s"]["session.start_s"]
    out["registry.import_s"] = res["detail"]["setup_s"]["registry.import_s"]
    return out
