"""Regenerate (or check) ``expected.json``: the expected output of every
check the benchmark makes, on each of the ``datagen.VARIANTS`` inputs.

    python3 perfbench/make_expected.py [--cpus N] [--check]

- analytics: row count and order-insensitive digest of every query in
  ``analytics.ALL_QUERIES`` on each variant's tables;
- serve_poll: hash of the ``protocol_replay.game_response`` envelope of
  the first ``serve.EXPECTED_POLLS`` polls of every game of each
  variant's schedule.

Derive the file only at a commit whose oracle parity sweep is clean, so
that the expected values are right and not merely repeatable. ``--check``
recomputes everything and reports each value that differs from the
committed file (exit 1) instead of writing it; run it with another
``--cpus`` to confirm that no kept query depends on task layout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
from itertools import islice

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def compute(spark, registry, work: str) -> dict:
    from perfbench import analytics, datagen, serve

    out = {"analytics": {}, "serve_poll": {}}
    for v in range(datagen.VARIANTS):
        data_dir = datagen.write_tables(v, os.path.join(work, f"data{v}"))
        out["analytics"][str(v)] = {
            name: analytics.result_of(registry, spark, name, data_dir)
            for name in analytics.ALL_QUERIES
        }
        polls = {
            g: list(islice(serve.game_schedule(v, "serve_poll", g), serve.EXPECTED_POLLS))
            for g in range(serve.GAMES)
        }
        bodies = serve.replay(spark, polls)
        out["serve_poll"][str(v)] = {
            f"g{g}": [serve.body_hash(bodies[(g, k)]) for k in range(serve.EXPECTED_POLLS)]
            for g in range(serve.GAMES)
        }
        print(f"variant {v} done", file=sys.stderr, flush=True)
    return out


def diff(got: dict, want: dict) -> list[str]:
    lines = []
    for section, variants in got.items():
        for v, items in variants.items():
            for key, val in items.items():
                ref = want.get(section, {}).get(v, {}).get(key)
                if ref != val:
                    lines.append(f"{section} variant {v} {key}: {val} != {ref}")
    return lines


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--cpus", type=int, default=None)
    ap.add_argument("--check", action="store_true")
    args = ap.parse_args()
    sys.path.insert(0, ROOT)
    from perfbench import datagen, engine

    work = os.path.join(ROOT, ".bench_work", f"expected-{os.getpid()}")
    engine.configure(ROOT, work, None, cpus=args.cpus or engine.CPUS)
    spark, _ = engine.start_session()
    try:
        got = compute(spark, engine.load_registry(), work)
    finally:
        spark.stop()
        shutil.rmtree(work, ignore_errors=True)
    if args.check:
        lines = diff(got, datagen.load_expected())
        print("\n".join(lines) or "expected.json matches")
        return 1 if lines else 0
    with open(datagen.EXPECTED_PATH, "w") as f:
        json.dump(got, f, indent=1, sort_keys=True)
        f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
