"""Run the full oracle-parity sweep at an arbitrary SF dir (default
sf0.01 — the scale the driver's CORRECTNESS gate uses), outside
pytest so it can be run ad hoc between rounds.

Usage: python tools/parity_sweep.py [sf_dir] [name_filter ...]
Prints one line per query and a final summary; exit 1 on any failure.
"""

from __future__ import annotations

import os
import sys
import time
import traceback

# Runnable from anywhere: python puts tools/ (the script dir) on
# sys.path, not the repo root, so add the root explicitly.
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from goeventstream_spark import queries as q
from goeventstream_spark.session import get_spark
from tests.oracle import assert_frames_match, run_oracle

q.load_registry()


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    filters = sys.argv[2:]
    spark = get_spark()
    names = sorted(q.QUERIES)
    if filters:
        names = [n for n in names if any(f in n for f in filters)]
    failed: list[str] = []
    for name in names:
        t0 = time.time()
        try:
            pdf = q.QUERIES[name](spark, sf_dir).toPandas()
            if name in q.ORACLES:
                oracle = run_oracle(q.ORACLES[name], sf_dir)
                assert_frames_match(pdf, oracle, name)
                status = f"pass ({len(pdf)} rows)"
            else:
                status = f"rows-only ({len(pdf)} rows)"
        except Exception:
            status = "FAIL"
            failed.append(name)
            traceback.print_exc()
        print(f"{name:45s} {status:25s} {time.time() - t0:6.2f}s", flush=True)
    print(f"\n{len(names) - len(failed)}/{len(names)} ok; failed: {failed}")
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
