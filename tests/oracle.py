"""DuckDB-oracle comparison helper mirroring the driver's correctness
gate: row count + schema (column names) + order-insensitive value
equality, with columns sorted by name before comparing.

Golden-result cache (round 10, VERDICT r9 #6 — keep the suite inside
the driver's pytest budget): a handful of declared oracles are
*minutes* of DuckDB work at sf0.001 (curate_corpus_substring's
detection + recursive closure + semdedup chain alone was 147 s of the
35-minute suite). Their results are deterministic functions of
(oracle SQL, fixture bytes), so ``run_oracle`` memoizes expensive
results to parquet files under ``tests/golden_oracle/`` keyed by
md5(sql + md5-of-every-fixture-file). The key makes staleness
impossible: ANY edit to the declared SQL or to a fixture file changes
the key and forces a fresh DuckDB run. Cheap oracles (the vast
majority) are always recomputed — only runs costing more than
``_GOLDEN_MIN_SEC`` are written. The Spark side of every parity test
is always computed fresh; this caches only the reference side, exactly
like a committed golden file."""

from __future__ import annotations

import hashlib
import os
import time

import duckdb
import pandas as pd

from goeventstream_spark.sources import TABLES

_GOLDEN_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "golden_oracle")
_GOLDEN_MIN_SEC = 10.0
# (path, st_mtime_ns, st_size) -> md5 of the file: a regenerated
# fixture has a new stamp, so its fingerprint is computed again.
_FP_CACHE: dict[tuple[str, int, int], str] = {}


def _file_md5(path: str) -> str:
    try:
        st = os.stat(path)
        key = (path, st.st_mtime_ns, st.st_size)
        digest = _FP_CACHE.get(key)
        if digest is None:
            with open(path, "rb") as f:
                digest = _FP_CACHE[key] = hashlib.md5(f.read()).hexdigest()
    except OSError:
        return "missing"
    return digest


def _fixture_fingerprint(sf_dir: str) -> str:
    return ";".join(f"{t}:{_file_md5(f'{sf_dir}/{t}.parquet')}" for t in TABLES)


def run_oracle(sql: str, sf_dir: str) -> pd.DataFrame:
    key = hashlib.md5(
        (sql + "\n@@\n" + _fixture_fingerprint(sf_dir)).encode()
    ).hexdigest()
    golden = os.path.join(_GOLDEN_DIR, f"{key}.parquet")
    if os.path.exists(golden):
        try:
            return pd.read_parquet(golden)
        except Exception:
            pass  # unreadable golden: fall through to a fresh run
    t0 = time.perf_counter()
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    out = con.execute(sql).fetchdf()
    if time.perf_counter() - t0 >= _GOLDEN_MIN_SEC:
        try:
            os.makedirs(_GOLDEN_DIR, exist_ok=True)
            out.to_parquet(golden, index=False)
        except Exception:
            pass  # non-parquet-able dtypes: just skip caching this one
    return out


def _canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = df[c].astype("datetime64[us]")
        elif pd.api.types.is_float_dtype(df[c]):
            df[c] = df[c].astype("float64")
        elif pd.api.types.is_integer_dtype(df[c]):
            df[c] = df[c].astype("Int64")
    return df.sort_values(by=list(df.columns), ignore_index=True, na_position="first")


def assert_frames_match(spark_pdf: pd.DataFrame, oracle_pdf: pd.DataFrame, name: str) -> None:
    assert sorted(spark_pdf.columns) == sorted(oracle_pdf.columns), (
        f"{name}: column mismatch {sorted(spark_pdf.columns)} vs {sorted(oracle_pdf.columns)}"
    )
    assert len(spark_pdf) == len(oracle_pdf), (
        f"{name}: row count {len(spark_pdf)} vs {len(oracle_pdf)}"
    )
    a, b = _canon(spark_pdf), _canon(oracle_pdf)
    try:
        pd.testing.assert_frame_equal(a, b, check_dtype=False, check_exact=True)
    except AssertionError as e:
        diff_mask = ~((a == b) | (a.isna() & b.isna()))
        bad = diff_mask.any(axis=1)
        sample = pd.concat(
            [a[bad].head(5).add_suffix("_spark"), b[bad].head(5).add_suffix("_oracle")], axis=1
        )
        raise AssertionError(f"{name}: value mismatch in {int(bad.sum())} rows\n{sample}\n{e}")
