"""Scan fan-out (round-9 optimization, converted to per-operator
opt-in in round 10 / VERDICT r9 #2): undersized single-split inputs to
compute-heavy operators are hash-repartitioned by key so pre-shuffle
map work uses the whole machine; production-sized inputs and tiny
fixtures are no-ops, and plain ``load_table`` never fans out any more
(the round-9 load-time documents fan-out taxed the table's light
consumers ~2x harder than its heavy wins justified — driver-measured).

The sf0.001 test fixtures sit below the 256 KiB floor, so the standing
plan-pin suite runs with fan-out never firing; these tests exercise the
firing path against a purpose-built >256 KiB single-row-group file.
"""

from __future__ import annotations

import hashlib
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from goeventstream_spark.sources import tables as T


@pytest.fixture(scope="module")
def big_single_file_dir(tmp_path_factory):
    """A fixture dir holding a single-file documents.parquet that is
    > _FANOUT_MIN_BYTES but still one row group (one scan split)."""
    d = tmp_path_factory.mktemp("fanout_sf")
    n = 30_000
    keys = pa.array(range(n), pa.int64())
    # high-entropy payload so the file genuinely crosses the size floor
    pay = pa.array(
        [hashlib.md5(str(i).encode()).hexdigest() for i in range(n)]
    )
    price = pa.array([float(i % 997) for i in range(n)], pa.float64())
    tbl = pa.table(
        {"doc_id": keys, "text": pay, "n_chars": price}
    )
    pq.write_table(tbl, d / "documents.parquet", row_group_size=n)
    assert os.path.getsize(d / "documents.parquet") > T._FANOUT_MIN_BYTES
    return str(d)


def test_load_table_never_fans_out(spark, big_single_file_dir):
    # round 10: the load-time fan-out key list is empty — even an
    # undersized single-split documents scan loads without an exchange
    # (heavy operators opt in themselves via scan_fanout_for)
    df = T.load_table(spark, big_single_file_dir, "documents")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "REPARTITION_BY_NUM" not in plan, plan


def test_fanout_for_fires_on_undersized_scan(spark, big_single_file_dir):
    df = T.scan_fanout_for(
        T.load_table(spark, big_single_file_dir, "documents"), "doc_id"
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "REPARTITION_BY_NUM" in plan, plan
    assert "hashpartitioning(doc_id" in plan, plan


def test_fanout_for_preserves_pushdown_and_rows(spark, big_single_file_dir):
    df = T.scan_fanout_for(
        T.load_table(spark, big_single_file_dir, "documents"), "doc_id"
    ).where(F.col("n_chars") > 990.0)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [IsNotNull(n_chars), GreaterThan(n_chars,990.0)" in plan, plan
    # value-equality against the raw (fanout-disabled) read
    raw = spark.read.parquet(f"{big_single_file_dir}/documents.parquet").where(
        F.col("n_chars") > 990.0
    )
    got = sorted(r.doc_id for r in df.collect())
    want = sorted(r.doc_id for r in raw.collect())
    assert got == want and len(got) > 0


def test_fanout_for_parallelism_matches_session(spark, big_single_file_dir):
    df = T.scan_fanout_for(
        T.load_table(spark, big_single_file_dir, "documents"), "doc_id"
    )
    assert df.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism


def test_fanout_for_noop_below_size_floor(spark, sf_dir):
    # sf0.001 fixtures are all below the floor: plan must be untouched
    df = T.scan_fanout_for(
        T.load_table(spark, sf_dir, "documents"), "doc_id"
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "REPARTITION_BY_NUM" not in plan, plan


def test_fanout_for_noop_when_scan_already_parallel(
    spark, big_single_file_dir, monkeypatch
):
    # a production-scale table (est. splits >= parallelism) is a no-op:
    # simulate by shrinking the split size so est_splits >= cores
    monkeypatch.setattr(T, "_split_bytes", lambda _s: 1024)
    df = T.scan_fanout_for(
        T.load_table(spark, big_single_file_dir, "documents"), "doc_id"
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "REPARTITION_BY_NUM" not in plan, plan


def test_heavy_operator_opts_in(spark, big_single_file_dir):
    # dedup.shingles is a heavy consumer: its plan over an undersized
    # single-split input must carry the opt-in repartition
    from goeventstream_spark.operators import dedup

    docs = T.load_table(spark, big_single_file_dir, "documents")
    sh = dedup.shingles(docs)
    plan = sh._jdf.queryExecution().executedPlan().toString()
    assert "REPARTITION_BY_NUM" in plan, plan


class _FakeConf:
    def __init__(self, v):
        self._v = v

    def get(self, _key, _default=None):
        return self._v


class _FakeSpark:
    def __init__(self, v):
        self.conf = _FakeConf(v)


def test_split_bytes_suffixes():
    # ADVICE r9: t/p suffixes parse; garbage degrades to the 128 MiB
    # default instead of raising inside load_table. (Spark's own conf
    # setter validates values, so the raw-string parse is exercised
    # through a stub — the same string shapes Spark would hand back.)
    assert T._split_bytes(_FakeSpark("1t")) == 1 << 40
    assert T._split_bytes(_FakeSpark("2p")) == 2 << 50
    assert T._split_bytes(_FakeSpark("512m")) == 512 << 20
    assert T._split_bytes(_FakeSpark("not-a-size")) == 128 << 20
    assert T._split_bytes(_FakeSpark("134217728")) == 134217728
