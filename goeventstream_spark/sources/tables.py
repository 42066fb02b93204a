"""Parquet table sources for the engine.

The fixture star schema (FIXTURES.md) mirrors the reference's data model:
``events`` is the append-only event log (reference model/event.go:7-12 —
{T, Type, Origin, Body} becomes {ts/event_id, event_type, user_id,
value+props}); the TPC-H-ish dims exercise the relational surface the
reference lacks (SURVEY.md §2a "explicitly absent").

Scale notes: parquet scans here are the 100 TB entry point — operators
must keep filters/projections *above* these reads expressed so Catalyst
pushes them into the scan (verify via .explain: PushedFilters/ReadSchema).
At cluster scale `events` would be partitioned by (game, date); the
fixtures are single files, but no operator in this package assumes that.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


# Scan fan-out: the sf fixtures are single parquet files with ONE row
# group, so Spark reads each as ONE input split and every pre-shuffle
# operator runs on one core of local[N]. No table fans out at load time:
# a load-time ``documents`` fan-out (round 9) taxed the table's light
# consumers (word_count/vocab_*/bigram_*/bpe_*, +2.6 s across the
# family) more than its heavy wins, and events/orders/lineitem/
# embeddings fan-out was measured slower too (+0.1..+0.9 s per query).
# Instead the compute-heavy operators (dedup.shingles /
# winnowing_fingerprints / simhash / substring_gram_table / _tokenized,
# text.ngram_novelty, multimodal segment generators,
# sampling.weighted_sample_topk) call ``scan_fanout_for`` on their own
# input, so light consumers of the same table never pay the exchange.
_FANOUT_MIN_BYTES = 256 << 10  # below this, single-task is the right plan


def _split_bytes(spark: SparkSession) -> int:
    """Parse spark.sql.files.maxPartitionBytes. Full byte-suffix map
    (k/m/g/t/p — Spark accepts all of them) and a defensive fallback to
    the 128 MiB default: a parse failure must degrade to the no-fanout
    estimate, never raise inside load_table (ADVICE r9)."""
    raw = str(spark.conf.get("spark.sql.files.maxPartitionBytes", "134217728"))
    mult = {"k": 1 << 10, "m": 1 << 20, "g": 1 << 30, "t": 1 << 40, "p": 1 << 50}
    low = raw.strip().lower().rstrip("b")
    try:
        if low and low[-1] in mult:
            return int(low[:-1]) * mult[low[-1]]
        return int(low)
    except ValueError:
        return 128 << 20


def scan_fanout_for(df: DataFrame, *keys: str, min_bytes: int | None = None) -> DataFrame:
    """Operator-level fan-out: hash-repartition ``df`` by ``keys`` when
    its estimated input size is big enough to deserve parallel map work
    but small enough that the scan would read it as fewer splits than
    the session parallelism.

    For operators whose per-row map work is heavy (shingle/gram
    explodes + md5 batteries, hash batteries, weighted draws, codec
    passes) but whose input is a relational table that must NOT fan out
    globally (the extra exchange is a measured net tax on that table's
    cheap consumers).

    Gate: the size estimate comes from the OPTIMIZED LOGICAL plan's
    statistics — one Catalyst analyze+optimize of ``df``, no physical
    planning, no RDD conversion, no job (the previous
    ``df.rdd.getNumPartitions()`` probe forced a full physical planning
    per call and read pre-AQE partition counts). Estimated splits =
    size / spark.sql.files.maxPartitionBytes; at production scale the
    scan already has >= parallelism splits so this is a no-op, and
    inputs whose stats are unknown (e.g. localCheckpoint leaves report
    defaultSizeInBytes = huge) also fall through to the no-op side —
    the safe direction. Inputs under ``min_bytes`` (default
    ``_FANOUT_MIN_BYTES``) stay single-task: fanning a tiny fixture adds
    a shuffle with no win."""
    spark = df.sparkSession
    target = spark.sparkContext.defaultParallelism
    floor = _FANOUT_MIN_BYTES if min_bytes is None else min_bytes
    try:
        size = int(
            df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        )
    except Exception:
        return df
    split = _split_bytes(spark)
    est_splits = -(-size // split) if size > 0 else 1
    if size < floor or est_splits >= target:
        return df
    return df.repartition(target, *[F.col(k) for k in keys])


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one fixture table. Schema comes from parquet footers (no
    inference pass); column pruning/pushdown happen in the scan node.

    Timestamp columns are normalized to TIMESTAMP_LTZ instants no matter
    how the fixture writer stamped them:

    - TIMESTAMP(NANOS) (round-1 fixtures): Spark's vectorized reader
      rejects nanos, so we read raw INT64 (legacy conf, runtime-settable)
      and convert with integer division — NOT float division, which
      would lose precision on ~1.7e18 ns epochs.
    - TIMESTAMP(MICROS, isAdjustedToUTC=false) (round-2 fixtures): Spark
      infers TIMESTAMP_NTZ, which the datetime-arithmetic functions
      (unix_millis etc.) reject. The wall times are UTC by generation,
      and the session tz is pinned UTC below, so a plain cast reattaches
      the instant exactly.

    DuckDB reads both encodings as naive-UTC timestamps, so oracle
    epoch arithmetic agrees exactly with either path.
    """
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    # Timestamp arithmetic (tick derivation, NTZ->instant casts) must
    # not depend on the caller session's timezone conf — the driver
    # passes its own SparkSession. Pin UTC (runtime-settable).
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    path = f"{sf_dir}/{name}.parquet"
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(path)
        if dict(df.dtypes).get("ts") == "bigint":
            df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
        return _ntz_to_instant(df)
    return _ntz_to_instant(spark.read.parquet(path))


def _ntz_to_instant(df: DataFrame) -> DataFrame:
    """Cast every TIMESTAMP_NTZ column to TIMESTAMP_LTZ.

    Callers pin the session tz to UTC first, so the cast interprets the
    stored UTC wall time as UTC — an exact instant reattachment. The
    cast sits directly above the scan; Catalyst still prunes columns,
    and tick/range predicates are pushed below it by
    ``load_events_delta`` where scan pruning matters.
    """
    ntz_cols = [f.name for f in df.schema.fields if f.dataType.typeName() == "timestamp_ntz"]
    if not ntz_cols:
        return df
    return df.withColumns({c: F.col(c).cast("timestamp") for c in ntz_cols})


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every fixture table as a temp view for spark.sql use."""
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)


def load_events_delta(
    spark: SparkSession,
    sf_dir: str,
    t_lo: int,
    t_hi: int,
    stream_start_ms: int = 1_704_067_200_000,  # 2024-01-01T00:00:00Z
    tick_ms: int = 50,
) -> DataFrame:
    """Events restricted to ticks (t_lo, t_hi] with the range predicate
    PUSHED INTO THE PARQUET SCAN.

    The tick column derives from ts through a nanos->micros conversion
    Catalyst cannot invert, so a filter on `t` never reaches the scan.
    But tick is monotone in the raw INT64 nanos column, and the tick
    range maps exactly to a nanos range (integer truncation preserves
    the equivalences: ms >= X <=> ns >= X*1e6 for integer X):

        t >  t_lo  <=>  ns >= (start + (t_lo+1)*50) * 1e6
        t <= t_hi  <=>  ns <  (start + (t_hi+1)*50) * 1e6

    Filtering BEFORE the conversion makes it a plain comparison on a
    stored column -> parquet row-group pruning (and, on a date/tick-
    partitioned 100 TB event lake, partition pruning). This is what
    turns the reference's O(log-length) rescan (model/eventStream.go:63-71)
    into O(delta) at scale.
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    raw = spark.read.parquet(f"{sf_dir}/events.parquet")
    ts_type = dict(raw.dtypes).get("ts")
    if ts_type == "bigint":
        lo_ns = (stream_start_ms + (t_lo + 1) * tick_ms) * 1_000_000
        hi_ns = (stream_start_ms + (t_hi + 1) * tick_ms) * 1_000_000
        return raw.where((F.col("ts") >= lo_ns) & (F.col("ts") < hi_ns)).withColumn(
            "ts", F.expr("timestamp_micros(ts div 1000)")
        )
    if ts_type == "timestamp_ntz":
        # Same range rewrite against the stored NTZ column: the micros
        # bounds become NTZ literals (constant-folded from the LTZ
        # epoch constructor under the pinned-UTC session), so the
        # comparison is literal-vs-stored-column -> parquet row-group
        # (and at scale partition) pruning, exactly as the nanos path.
        lo_us = (stream_start_ms + (t_lo + 1) * tick_ms) * 1_000
        hi_us = (stream_start_ms + (t_hi + 1) * tick_ms) * 1_000
        lo_lit = F.timestamp_micros(F.lit(lo_us)).cast("timestamp_ntz")
        hi_lit = F.timestamp_micros(F.lit(hi_us)).cast("timestamp_ntz")
        return _ntz_to_instant(
            raw.where((F.col("ts") >= lo_lit) & (F.col("ts") < hi_lit))
        )
    # Plain TIMESTAMP (LTZ) storage: same micros range rewrite — the
    # bounds are instants, the comparison is literal-vs-stored-column.
    # Never fall back to an UNFILTERED read: the contract is the range.
    lo_us = (stream_start_ms + (t_lo + 1) * tick_ms) * 1_000
    hi_us = (stream_start_ms + (t_hi + 1) * tick_ms) * 1_000
    return raw.where(
        (F.col("ts") >= F.timestamp_micros(F.lit(lo_us)))
        & (F.col("ts") < F.timestamp_micros(F.lit(hi_us)))
    )
