"""Every declared query with an oracle must hash-match DuckDB — the
local mirror of the driver's CORRECTNESS gate (at sf0.001 for speed;
the driver re-runs at sf0.01)."""

from __future__ import annotations

import pytest

import goeventstream_spark.queries_llm  # noqa: F401  (registers into q.QUERIES)
import goeventstream_spark.queries_ext  # noqa: F401  (registers into q.QUERIES)
import goeventstream_spark.queries_r2  # noqa: F401
import goeventstream_spark.queries_r3  # noqa: F401  (registers into q.QUERIES)
import goeventstream_spark.queries_r3b  # noqa: F401  (registers into q.QUERIES)
import goeventstream_spark.queries_r3c  # noqa: F401  (registers into q.QUERIES)
import goeventstream_spark.queries_r3d  # noqa: F401  (registers into q.QUERIES)
import goeventstream_spark.queries_r3e  # noqa: F401  (registers into q.QUERIES)
import goeventstream_spark.queries_r3f  # noqa: F401  (registers into q.QUERIES)
import goeventstream_spark.queries_r3g  # noqa: F401  (registers into q.QUERIES)
import goeventstream_spark.queries_r3h  # noqa: F401  (registers into q.QUERIES)
import goeventstream_spark.queries_r3i  # noqa: F401  (registers into q.QUERIES)
import goeventstream_spark.queries_r3j  # noqa: F401  (registers into q.QUERIES)
import goeventstream_spark.queries_r3k  # noqa: F401  (registers into q.QUERIES)
import goeventstream_spark.queries_r3l  # noqa: F401  (registers into q.QUERIES)
import goeventstream_spark.queries_r3m  # noqa: F401  (registers into q.QUERIES)
from goeventstream_spark import queries as q
from tests.oracle import assert_frames_match, run_oracle


@pytest.mark.parametrize("name", sorted(q.QUERIES))
def test_query_matches_oracle(spark, sf_dir, name):
    fn = q.QUERIES[name]
    sdf = fn(spark, sf_dir)
    spark_pdf = sdf.toPandas()
    if name not in q.ORACLES:
        assert len(spark_pdf) >= 0  # rows-only check, mirroring the driver
        return
    oracle_pdf = run_oracle(q.ORACLES[name], sf_dir)
    assert_frames_match(spark_pdf, oracle_pdf, name)


def test_fixture_fingerprint_follows_a_regenerated_table(tmp_path):
    """Golden oracle results are keyed on the fixture fingerprint, so a
    table rewritten in place must change it within the same process."""
    import os

    from tests.oracle import _fixture_fingerprint

    table = tmp_path / "events.parquet"
    table.write_bytes(b"first")
    before = _fixture_fingerprint(str(tmp_path))
    assert _fixture_fingerprint(str(tmp_path)) == before
    table.write_bytes(b"second!")
    st = os.stat(table)
    os.utime(table, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
    assert _fixture_fingerprint(str(tmp_path)) != before
