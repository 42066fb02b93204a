"""Traced-run report for every workload.

    python3 perfbench/report.py [--seed N] [--seconds S]

For each workload, runs ``run.py`` once untraced and once traced with the
same seed, then writes ``perfbench/report/<workload>.json`` (end-to-end
metrics of both runs, tracing overhead, per-layer metrics, span self
times, the share of the blocking path each layer accounts for) and a
summary ``perfbench/REPORT.md`` that also checks the workload-separation
predictions.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT_DIR = os.path.join(ROOT, "perfbench", "report")
WORKLOADS = ("analytics_light", "analytics_iterative", "serve_poll", "serve_ingest")


def _run(workload: str, seed: int, seconds: float, trace: int) -> dict:
    with tempfile.NamedTemporaryFile(suffix=".json", dir=os.path.join(ROOT, ".bench_work")) as f:
        cmd = [sys.executable, os.path.join(ROOT, "perfbench", "run.py"), "--workload", workload,
               "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace),
               "--out", f.name]
        p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
        if p.returncode != 0:
            raise SystemExit(f"{workload} trace={trace} failed:\n{p.stderr[-2000:]}")
        with open(f.name) as g:
            return json.load(g)


def _self_times(spans: list[dict], passes: int) -> dict:
    """Per pass: each span name's total duration and self time (duration
    minus the part its child spans cover), over the timed queries."""
    from perfbench.measure import Tracer

    tr = Tracer(enabled=True)
    tr.spans = spans
    by_id = {s["id"]: s for s in spans}

    def timed(s):
        while s is not None:
            if s["name"] == "query":
                return True
            s = by_id.get(s["parent"])
        return False

    out: dict[str, dict] = {}
    for s in spans:
        if timed(s):
            acc = out.setdefault(s["name"], {"total_s": 0.0, "self_s": 0.0})
            acc["total_s"] += (s["end"] - s["start"]) / passes
            acc["self_s"] += tr.self_time(s) / passes
    return out


def _blocking(workload: str, traced: dict) -> dict:
    """Shares of the end-to-end figure that the layers on the blocking
    path account for."""
    lay = traced["layers"]
    if workload.startswith("analytics"):
        base = traced["detail"]["pass_s"]
        parts = {k: lay[k] for k in ("sources.load_s", "queries.build_self_s",
                                     "operators.eager_job_s", "exec.job_busy_s",
                                     "exec.driver_gap_s")}
        return {"base": "pass_s", "base_value": base,
                "shares": {k: v / base for k, v in parts.items()},
                "covered": sum(parts.values()) / base}
    base = traced["end_to_end"]["latency_ms"]
    parts = {k: lay[k] for k in ("engine.wait_ms", "bridge.return_ms")}
    return {"base": "latency_ms", "base_value": base,
            "shares": {**{k: v / base for k, v in parts.items()},
                       "trigger.exec_ms": lay["trigger.exec_ms"] / base},
            "covered": sum(parts.values()) / base}


def _predictions(rep: dict) -> list[tuple[str, bool, str]]:
    light, it = rep["analytics_light"], rep["analytics_iterative"]
    poll, ing = rep["serve_poll"], rep["serve_ingest"]
    share = {w: r["blocking"]["shares"]["sources.load_s"] for w, r in (("l", light), ("i", it))}
    ej = (light["layers"]["operators.eager_jobs"], it["layers"]["operators.eager_jobs"])
    su = (poll["layers"]["state.update_ms"], ing["layers"]["state.update_ms"])
    sm = (poll["layers"]["state.memory_bytes"], ing["layers"]["state.memory_bytes"])
    ss = (poll["layers"]["state.sst_bytes"], ing["layers"]["state.sst_bytes"])
    return [
        ("sources.load_s is a larger share of pass_s on analytics_light than on "
         "analytics_iterative", share["l"] > share["i"],
         f"{share['l']:.1%} vs {share['i']:.1%}"),
        ("operators.eager_jobs is far higher on analytics_iterative",
         ej[1] >= 5 * max(ej[0], 1), f"{ej[1]:g} vs {ej[0]:g} per pass"),
        ("state.update_ms is higher on serve_ingest than on serve_poll",
         su[1] > su[0], f"{su[1]:g} ms vs {su[0]:g} ms per trigger"),
        ("state.memory_bytes is higher on serve_ingest than on serve_poll",
         sm[1] > sm[0], f"{sm[1]:g} B vs {sm[0]:g} B"),
        ("state.sst_bytes (state size) is higher on serve_ingest than on serve_poll",
         ss[1] > ss[0], f"{ss[1]:g} B vs {ss[0]:g} B"),
    ]


def _markdown(rep: dict, seed: int, seconds: float) -> str:
    lines = [
        "# Traced-run report",
        "",
        f"Generated by `python3 perfbench/report.py --seed {seed} --seconds {seconds:g}`: one",
        "untraced and one traced run per workload, same seed. Per-layer figures come",
        "from the traced run; analytics figures are per timed pass (median over",
        "passes), serve figures are medians per trigger or per poll over the timed",
        "phase. `analytics_light` and `serve_ingest` are not in BENCHMARK.json (see",
        "README.md); they are reported here for the sources and state-store",
        "contrasts. The tracing overhead compares",
        "one untraced and one traced run made minutes apart; the host's speed drifts",
        "by more than that between runs, so it is not resolved below that drift.",
        "",
    ]
    for wl, r in rep.items():
        lines += [f"## {wl}", "", "| metric | untraced | traced | tracing overhead |",
                  "|---|---|---|---|"]
        for k, v in r["end_to_end_untraced"].items():
            t = r["end_to_end_traced"][k]
            lines.append(f"| {k} | {v:.4g} | {t:.4g} | {r['tracing_overhead'][k]:+.1%} |")
        b = r["blocking"]
        lines += ["", f"Blocking path, as shares of {b['base']} = {b['base_value']:.4g}"
                  f" (spans cover {b['covered']:.1%}):", "",
                  "| layer | share |", "|---|---|"]
        lines += [f"| {k} | {v:.1%} |" for k, v in b["shares"].items()]
        lines += ["", "| per-layer metric | value |", "|---|---|"]
        lines += [f"| {k} | {v:.4g} |" for k, v in r["layers"].items() if v]
        if r.get("span_self_s"):
            lines += ["", "| span (per pass) | total s | self s |", "|---|---|---|"]
            lines += [f"| {k} | {v['total_s']:.3f} | {v['self_s']:.3f} |"
                      for k, v in r["span_self_s"].items()]
        lines.append("")
    lines += ["## Workload-separation predictions", "", "| prediction | holds | measured |",
              "|---|---|---|"]
    lines += [f"| {p} | {'yes' if ok else 'NO'} | {m} |" for p, ok, m in _predictions(rep)]
    return "\n".join(lines) + "\n"


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    args = ap.parse_args()
    sys.path.insert(0, ROOT)
    os.makedirs(OUT_DIR, exist_ok=True)
    os.makedirs(os.path.join(ROOT, ".bench_work"), exist_ok=True)
    rep = {}
    for wl in WORKLOADS:
        plain = _run(wl, args.seed, args.seconds, 0)
        traced = _run(wl, args.seed, args.seconds, 1)
        e0, e1 = plain["end_to_end"], traced["end_to_end"]
        r = {
            "workload": wl, "seed": args.seed, "seconds": args.seconds,
            "end_to_end_untraced": e0,
            "end_to_end_traced": e1,
            "tracing_overhead": {k: (e1[k] - v) / v for k, v in e0.items()},
            "layers": traced["layers"],
            "blocking": _blocking(wl, traced),
            "detail_untraced": plain["detail"],
            "detail_traced": traced["detail"],
        }
        if wl.startswith("analytics"):
            r["span_self_s"] = _self_times(traced["spans"], len(traced["detail"]["passes_s"]))
        rep[wl] = r
        with open(os.path.join(OUT_DIR, f"{wl}.json"), "w") as f:
            json.dump(r, f, indent=1, default=str)
        print(f"{wl}: done", file=sys.stderr, flush=True)
    with open(os.path.join(ROOT, "perfbench", "REPORT.md"), "w") as f:
        f.write(_markdown(rep, args.seed, args.seconds))
    return 0 if all(ok for _, ok, _ in _predictions(rep)) else 1


if __name__ == "__main__":
    sys.exit(main())
