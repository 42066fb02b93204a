"""Declared query registry — the contract surface for the driver.

Every implemented operator from SURVEY.md §2 gets:
  - a callable (spark, sf_dir) -> DataFrame   (the Spark-first plan)
  - an ANSI-SQL oracle string for DuckDB      (None => rows-only check)

Column names are aliased identically on both sides (the driver's compare
sorts columns by name and value-hashes). Computed integer columns are
cast to BIGINT on both sides; double aggregates are rounded to 2
decimals on both sides (fixture money values have 2 decimals, so true
sums are >= 0.005 from any rounding boundary — float noise cannot flip
the rounded value).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from goeventstream_spark.operators import relational as rel
from goeventstream_spark.operators import stream_ops as so
from goeventstream_spark.sources import load_table

# DuckDB-side tick expression, kept textually in one place so every
# oracle agrees with stream_ops.tick_col (floor of ms-elapsed / 50).
_TICK = (
    "CAST(floor((epoch_ms(ts) - epoch_ms(TIMESTAMP '2024-01-01 00:00:00')) / 50) AS BIGINT)"
)

# Fixed delta-window parameters for the declared queries (the operator
# itself is fully parameterized). Ticks 20M..30M = fixture days ~12-18.
T_LO, T_HI = 20_000_000, 30_000_000

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}


def query(name: str, oracle: str | None = None):
    def deco(fn: QueryFn) -> QueryFn:
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


def load_registry() -> dict[str, QueryFn]:
    """Import every ``queries*`` registration module and return QUERIES.

    The modules are found by ``pkgutil`` rather than a hand-kept list:
    a hand-kept list silently dropped ``queries_r4`` in round 4 and the
    parity sweep quietly ran 278 of 279 queries."""
    import importlib
    import pkgutil

    import goeventstream_spark

    for m in pkgutil.iter_modules(goeventstream_spark.__path__):
        if m.name.startswith("queries"):
            importlib.import_module(f"goeventstream_spark.{m.name}")
    return QUERIES


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "events")


# ---------------------------------------------------------------------------
# Stream-semantics operators (reference surface, SURVEY.md §2b group 1)
# ---------------------------------------------------------------------------


@query(
    "assign_ticks",
    f"SELECT event_id, ts, user_id, event_type, value, props, {_TICK} AS t FROM events",
)
def q_assign_ticks(spark: SparkSession, sf_dir: str) -> DataFrame:
    return so.assign_ticks(_events(spark, sf_dir))


@query(
    "delta_scan",
    f"""
    SELECT * FROM (
      SELECT event_id, ts, user_id, event_type, value, props, {_TICK} AS t FROM events
    ) WHERE t > {T_LO} AND t <= {T_HI}
    """,
)
def q_delta_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's core query (R9), with the tick range translated
    to a raw-nanos range pushed into the parquet scan (see
    sources.load_events_delta) — O(delta), not O(log-length)."""
    from goeventstream_spark.sources.tables import load_events_delta

    pruned = load_events_delta(spark, sf_dir, T_LO, T_HI)
    return so.delta_scan(pruned, T_LO, T_HI)


@query(
    "latest_state",
    f"""
    SELECT user_id, t, data, event_id FROM (
      SELECT user_id, {_TICK} AS t, props AS data, event_id,
             row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
      FROM events
    ) WHERE rn = 1
    """,
)
def q_latest_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    return so.latest_state(_events(spark, sf_dir))


@query(
    "state_delta",
    f"""
    SELECT user_id, t, data, event_id FROM (
      SELECT user_id, {_TICK} AS t, props AS data, event_id,
             row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
      FROM events
    ) WHERE rn = 1 AND t > {T_LO}
    """,
)
def q_state_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    return so.state_delta(_events(spark, sf_dir), T_LO)


@query(
    "connects",
    f"""
    WITH firsts AS (
      SELECT CAST(user_id % 4 AS BIGINT) AS game, user_id,
             min(ts) AS first_ts, min({_TICK}) AS t
      FROM events GROUP BY 1, 2
    )
    SELECT game, user_id, first_ts, t,
           CAST(row_number() OVER (PARTITION BY game ORDER BY first_ts, user_id)
                AS BIGINT) AS proxy_id
    FROM firsts
    """,
)
def q_connects(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R5 proxy allocation in its reference scope: the counter is per
    game (model/game.go:49-53), so the declared query derives the game
    key (fixtures carry none) and the counter window partitions by it —
    no globally unpartitioned Window anywhere in the plan."""
    ev = _events(spark, sf_dir).withColumn("game", (F.col("user_id") % 4).cast("long"))
    df = so.connects(ev)
    return df.withColumn("proxy_id", F.col("proxy_id").cast("long"))


@query(
    "disconnects",
    f"""
    SELECT user_id, ts AS last_seen_ts, {_TICK} AS t, event_id FROM (
      SELECT *, lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_ts
      FROM events
    ) WHERE next_ts IS NULL OR epoch_ms(next_ts) - epoch_ms(ts) > {so.CLIENT_TIMEOUT_S * 1000}
    """,
)
def q_disconnects(spark: SparkSession, sf_dir: str) -> DataFrame:
    return so.disconnects(_events(spark, sf_dir))


@query(
    "sessionize",
    """
    SELECT event_id, ts, user_id, event_type, value, props,
           CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
    FROM (
      SELECT *, CASE WHEN lag(ts) OVER w IS NULL
                       OR epoch_ms(ts) - epoch_ms(lag(ts) OVER w) > 3600000
                     THEN 1 ELSE 0 END AS is_new
      FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    """,
)
def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    return so.sessionize(_events(spark, sf_dir), gap_s=3600)


@query(
    "session_stats",
    """
    WITH s AS (
      SELECT *, CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                       ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
      FROM (
        SELECT *, CASE WHEN lag(ts) OVER w IS NULL
                         OR epoch_ms(ts) - epoch_ms(lag(ts) OVER w) > 3600000
                       THEN 1 ELSE 0 END AS is_new
        FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
      )
    )
    SELECT user_id, session_id, min(ts) AS session_start, max(ts) AS session_end,
           count(*) AS n_events,
           CAST(sum(CAST(value AS DECIMAL(28,2))) AS DOUBLE) AS sum_value
    FROM s GROUP BY user_id, session_id
    """,
)
def q_session_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return so.session_stats(_events(spark, sf_dir), gap_s=3600)


@query(
    "stream_replay",
    f"""
    WITH te AS (SELECT *, {_TICK} AS t FROM events),
    s AS (
      SELECT *, CASE WHEN lag(ts) OVER w IS NULL
                       OR epoch_ms(ts) - epoch_ms(lag(ts) OVER w) > 10000
                     THEN 1 ELSE 0 END AS is_new
      FROM te WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    s2 AS (
      SELECT *, sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                  ROWS UNBOUNDED PRECEDING) AS session_id
      FROM s
    ),
    bounds AS (
      SELECT user_id, session_id, min(ts) AS start_ts, max(ts) AS end_ts
      FROM s2 GROUP BY 1, 2
    )
    SELECT t, user_id, event_type, body FROM (
      SELECT t, user_id, event_type, props AS body FROM te
      UNION ALL
      SELECT CAST(floor((epoch_ms(start_ts) - epoch_ms(TIMESTAMP '2024-01-01 00:00:00')) / 50) AS BIGINT),
             user_id, '_c', CAST(NULL AS VARCHAR) FROM bounds
      UNION ALL
      SELECT CAST(floor((epoch_ms(end_ts) - epoch_ms(TIMESTAMP '2024-01-01 00:00:00')) / 50) AS BIGINT),
             user_id, '_d', CAST(NULL AS VARCHAR) FROM bounds
    )
    """,
)
def q_stream_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    return so.stream_replay(_events(spark, sf_dir), gap_s=so.CLIENT_TIMEOUT_S)


# ---------------------------------------------------------------------------
# Relational surface (SURVEY.md §2b group 2 — absent from the reference,
# required for a real analytics engine over the event log)
# ---------------------------------------------------------------------------
#
# Double-precision discipline: money aggregates are summed as DECIMAL
# (exact, order-independent) and cast to DOUBLE at the end, so Spark and
# DuckDB produce bit-identical values; ratios divide those identical
# doubles, which is IEEE-deterministic. See relational.dec_sum.

_SUM_QTY = "CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)"
_SUM_BASE = "CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)"
_SUM_DISC_PRICE = (
    "CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1 - l_discount AS DECIMAL(8,2))) AS DOUBLE)"
)
_SUM_CHARGE = (
    "CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1 - l_discount AS DECIMAL(8,2))"
    " * CAST(1 + l_tax AS DECIMAL(8,2))) AS DOUBLE)"
)


@query(
    "tpch_q1_pricing_summary",
    f"""
    SELECT l_returnflag, l_linestatus,
           {_SUM_QTY} AS sum_qty,
           {_SUM_BASE} AS sum_base_price,
           {_SUM_DISC_PRICE} AS sum_disc_price,
           {_SUM_CHARGE} AS sum_charge,
           {_SUM_QTY} / count(*) AS avg_qty,
           {_SUM_BASE} / count(*) AS avg_price,
           CAST(sum(CAST(l_discount AS DECIMAL(8,2))) AS DOUBLE) / count(*) AS avg_disc,
           count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2000-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q_tpch_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: scan + filter (pushed to parquet) + hash agg with
    map-side partials. The heaviest relational pattern at 100 TB; no
    shuffle beyond the single agg exchange."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.where(F.col("l_shipdate") <= F.lit("2000-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.expr(_SUM_QTY).alias("sum_qty"),
            F.expr(_SUM_BASE).alias("sum_base_price"),
            F.expr(_SUM_DISC_PRICE).alias("sum_disc_price"),
            F.expr(_SUM_CHARGE).alias("sum_charge"),
            (F.expr(_SUM_QTY) / F.count("*")).alias("avg_qty"),
            (F.expr(_SUM_BASE) / F.count("*")).alias("avg_price"),
            (F.expr("CAST(sum(CAST(l_discount AS DECIMAL(8,2))) AS DOUBLE)") / F.count("*")).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


@query(
    "revenue_by_region",
    f"""
    SELECT r_name, {_SUM_DISC_PRICE} AS revenue, count(*) AS n_lineitems
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation   ON c_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    GROUP BY r_name
    """,
)
def q_revenue_by_region(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: star join. Broadcast hints go ONLY on the true
    dimensions (region/nation — constant-size at any scale factor);
    orders and customer scale with the fact table, so they are left to
    the planner: at fixture scale AQE broadcasts them at runtime, at
    100 TB they exceed the threshold and correctly shuffle (or come
    pre-bucketed on the join key — see test_scale_patterns). Hinting a
    fact-sized table would OOM the driver at scale."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nat = load_table(spark, sf_dir, "nation")
    reg = load_table(spark, sf_dir, "region")
    return (
        li.join(orders.select("o_orderkey", "o_custkey"), li.l_orderkey == F.col("o_orderkey"))
        .join(cust.select("c_custkey", "c_nationkey"), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nat.select("n_nationkey", "n_regionkey")), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(reg.select("r_regionkey", "r_name")), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("r_name")
        .agg(F.expr(_SUM_DISC_PRICE).alias("revenue"), F.count("*").alias("n_lineitems"))
    )


@query(
    "top_orders_per_priority",
    """
    SELECT o_orderpriority, o_orderkey, o_totalprice, rk FROM (
      SELECT o_orderpriority, o_orderkey, o_totalprice,
             CAST(row_number() OVER (PARTITION BY o_orderpriority
                                     ORDER BY o_totalprice DESC, o_orderkey) AS BIGINT) AS rk
      FROM orders
    ) WHERE rk <= 5
    """,
)
def q_top_orders_per_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return rel.topk_per_group(
        orders.select("o_orderpriority", "o_orderkey", "o_totalprice"),
        ["o_orderpriority"],
        [F.col("o_totalprice").desc(), F.col("o_orderkey")],
        k=5,
    )


@query(
    "order_window_funcs",
    """
    SELECT o_orderkey, o_custkey, o_totalprice,
           CAST(rank() OVER w AS BIGINT) AS rnk,
           CAST(dense_rank() OVER w AS BIGINT) AS drnk,
           CAST(ntile(4) OVER w AS BIGINT) AS tile4,
           lag(o_totalprice) OVER w AS prev_price,
           lead(o_totalprice) OVER w AS next_price,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
                OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                      ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS running_total
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    """,
)
def q_order_window_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window-function suite: all functions share ONE window spec, so
    Catalyst plans a single exchange+sort on o_custkey."""
    orders = load_table(spark, sf_dir, "orders")
    from pyspark.sql import Window

    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    wrun = w.rowsBetween(Window.unboundedPreceding, 0)
    return orders.select(
        "o_orderkey",
        "o_custkey",
        "o_totalprice",
        F.rank().over(w).cast("long").alias("rnk"),
        F.dense_rank().over(w).cast("long").alias("drnk"),
        F.ntile(4).over(w).cast("long").alias("tile4"),
        F.lag("o_totalprice").over(w).alias("prev_price"),
        F.lead("o_totalprice").over(w).alias("next_price"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).over(wrun).cast("double").alias("running_total"),
    )


@query(
    "cube_order_stats",
    """
    SELECT o_orderstatus, o_orderpriority, count(*) AS n_orders,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
    FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
)
def q_cube_order_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return orders.cube("o_orderstatus", "o_orderpriority").agg(
        F.count("*").alias("n_orders"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double").alias("total_price"),
    )


@query(
    "rollup_region_nation_balance",
    """
    SELECT r_name, n_name, count(*) AS n_customers,
           CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_balance
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY ROLLUP (r_name, n_name)
    """,
)
def q_rollup_region_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    nat = load_table(spark, sf_dir, "nation")
    reg = load_table(spark, sf_dir, "region")
    return (
        cust.join(F.broadcast(nat), cust.c_nationkey == nat.n_nationkey)
        .join(F.broadcast(reg), nat.n_regionkey == reg.r_regionkey)
        .rollup("r_name", "n_name")
        .agg(
            F.count("*").alias("n_customers"),
            F.sum(F.col("c_acctbal").cast("decimal(18,2)")).cast("double").alias("total_balance"),
        )
    )


@query(
    "semi_join_customers_with_orders",
    """
    SELECT c_custkey, c_name, c_acctbal FROM customer
    WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    """,
)
def q_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    return cust.join(
        orders, cust.c_custkey == orders.o_custkey, "left_semi"
    ).select("c_custkey", "c_name", "c_acctbal")


@query(
    "anti_join_customers_without_open_orders",
    """
    SELECT c_custkey, c_name, c_acctbal FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_orderstatus = 'P')
    """,
)
def q_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    return cust.join(
        orders.where(F.col("o_orderstatus") == "P"),
        cust.c_custkey == orders.o_custkey,
        "left_anti",
    ).select("c_custkey", "c_name", "c_acctbal")


@query(
    "intersect_multi_status_customers",
    """
    SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'F'
    INTERSECT
    SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'O'
    """,
)
def q_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    f = orders.where(F.col("o_orderstatus") == "F").select(F.col("o_custkey").alias("custkey"))
    o = orders.where(F.col("o_orderstatus") == "O").select(F.col("o_custkey").alias("custkey"))
    return f.intersect(o)


@query(
    "except_customers_without_open_orders",
    """
    SELECT c_custkey AS custkey FROM customer
    EXCEPT
    SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'P'
    """,
)
def q_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    return cust.select(F.col("c_custkey").alias("custkey")).subtract(
        orders.where(F.col("o_orderstatus") == "P").select(F.col("o_custkey").alias("custkey"))
    )


@query(
    "union_mktsegments",
    """
    SELECT c_custkey AS custkey, c_mktsegment AS segment FROM customer WHERE c_mktsegment = 'BUILDING'
    UNION
    SELECT c_custkey AS custkey, c_mktsegment AS segment FROM customer WHERE c_mktsegment = 'FURNITURE'
    """,
)
def q_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    b = cust.where(F.col("c_mktsegment") == "BUILDING").select(
        F.col("c_custkey").alias("custkey"), F.col("c_mktsegment").alias("segment")
    )
    fset = cust.where(F.col("c_mktsegment") == "FURNITURE").select(
        F.col("c_custkey").alias("custkey"), F.col("c_mktsegment").alias("segment")
    )
    return b.unionByName(fset).distinct()


@query(
    "agg_distinct_parts",
    """
    SELECT l_returnflag, count(DISTINCT l_partkey) AS distinct_parts,
           count(DISTINCT l_suppkey) AS distinct_supps, count(*) AS n
    FROM lineitem GROUP BY l_returnflag
    """,
)
def q_agg_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.countDistinct("l_partkey").alias("distinct_parts"),
        F.countDistinct("l_suppkey").alias("distinct_supps"),
        F.count("*").alias("n"),
    )


@query(
    "percentile_quantity_stats",
    """
    SELECT l_returnflag,
           quantile_cont(l_quantity, 0.25) AS q25,
           quantile_cont(l_quantity, 0.5) AS q50,
           quantile_cont(l_quantity, 0.75) AS q75,
           min(l_quantity) AS min_qty, max(l_quantity) AS max_qty
    FROM lineitem GROUP BY l_returnflag
    """,
)
def q_percentile_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles (Spark `percentile` == ANSI
    quantile_cont). l_quantity is integer-valued, so quartile
    interpolation is exact in binary — bit-identical cross-engine."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.expr("percentile(l_quantity, 0.25)").alias("q25"),
        F.expr("percentile(l_quantity, 0.5)").alias("q50"),
        F.expr("percentile(l_quantity, 0.75)").alias("q75"),
        F.min("l_quantity").alias("min_qty"),
        F.max("l_quantity").alias("max_qty"),
    )


@query(
    "scalar_funcs",
    """
    SELECT event_id,
           CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_val,
           upper(event_type) AS type_upper,
           substr(event_type, 1, 3) AS type_prefix,
           concat_ws('-', event_type, CAST(user_id AS VARCHAR)) AS tag,
           CAST(length(props) AS BIGINT) AS props_len,
           CAST(month(ts) AS BIGINT) AS month,
           CAST(year(ts) AS BIGINT) AS year,
           CAST(date_trunc('day', ts) AS TIMESTAMP) AS day_bucket
    FROM events
    """,
)
def q_scalar_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar-function coverage: JSON (the reference's opaque Body
    payloads are JSON — README.md:13), string, datetime. All built-in
    expressions, zero UDFs, full whole-stage codegen."""
    ev = load_table(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.get_json_object("props", "$.k").cast("long").alias("k_val"),
        F.upper("event_type").alias("type_upper"),
        F.substring("event_type", 1, 3).alias("type_prefix"),
        F.concat_ws("-", F.col("event_type"), F.col("user_id").cast("string")).alias("tag"),
        F.length("props").cast("long").alias("props_len"),
        F.month("ts").cast("long").alias("month"),
        F.year("ts").cast("long").alias("year"),
        F.date_trunc("day", F.col("ts")).alias("day_bucket"),
    )


@query(
    "word_count",
    """
    SELECT word, count(*) AS cnt
    FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
    WHERE word <> ''
    GROUP BY word
    """,
)
def q_word_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(F.explode(F.split("text", " ")).alias("word"))
        .where(F.col("word") != "")
        .groupBy("word")
        .agg(F.count("*").alias("cnt"))
    )


@query(
    "asof_click_purchase",
    """
    WITH tagged AS (
      SELECT user_id, ts AS _ts, 1 AS _side, event_id, ts, value,
             CAST(NULL AS TIMESTAMP) AS r_ts, CAST(NULL AS DOUBLE) AS r_value
      FROM events WHERE event_type = 'click'
      UNION ALL
      SELECT user_id, ts, 0, NULL, NULL, NULL, ts, value
      FROM events WHERE event_type = 'purchase'
    ),
    carried AS (
      -- ONE struct carry, mirroring relational.asof_join: independent
      -- per-column IGNORE NULLS carries would mix fields from
      -- different purchases whenever a purchase value is NULL
      SELECT *, last_value(CASE WHEN r_ts IS NOT NULL
                                THEN struct_pack(ts := r_ts, val := r_value) END
                           IGNORE NULLS) OVER win AS _m
      FROM tagged
      WINDOW win AS (PARTITION BY user_id ORDER BY _ts, _side, r_value
                     ROWS UNBOUNDED PRECEDING)
    )
    SELECT event_id, user_id, ts, value,
           _m.ts AS asof_ts, _m.val AS asof_value
    FROM carried WHERE _side = 1
    """,
)
def q_asof_click_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each click paired with the user's most recent
    purchase at-or-before it (union-merge composition — the only as-of
    shape that scales; see relational.asof_join)."""
    ev = load_table(spark, sf_dir, "events")
    clicks = ev.where(F.col("event_type") == "click").select("event_id", "user_id", "ts", "value")
    purchases = ev.where(F.col("event_type") == "purchase").select("user_id", "ts", "value")
    return rel.asof_join(
        clicks, purchases, keys=["user_id"], left_ts="ts", right_ts="ts", value_cols=["value"]
    ).select(
        "event_id", "user_id", "ts", "value",
        F.col("asof_ts"), F.col("asof_value"),
    )


@query(
    "range_join_order_lineitem_7d",
    """
    SELECT o_orderkey, count(*) AS n_items,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
    FROM orders JOIN lineitem
      ON l_shipdate >= o_orderdate AND l_shipdate < o_orderdate + INTERVAL 7 DAY
    GROUP BY o_orderkey
    """,
)
def q_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Band join + aggregate, with the decomposable aggregate PUSHED
    BELOW the join: lineitems pre-aggregate per exact ship date (~2.5k
    groups), each order joins at most 7 daily partials, partials re-sum
    per order. The naive pair-then-aggregate form materializes
    O(orders x band-density) rows — ~450M at sf0.1, minutes of work;
    this form is ~1M joined rows and holds at 100 TB because the
    pair blowup never materializes. Decimal partials keep the re-sum
    exact. Generic pair-producing band join: relational.range_join.
    """
    day_ms = 86_400_000
    week_ms = 7 * day_ms
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    li = load_table(spark, sf_dir, "lineitem").select("l_shipdate", "l_extendedprice")
    daily = li.groupBy("l_shipdate").agg(
        F.count("*").alias("_n"),
        F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).alias("_s"),
    )
    lo = F.floor(rel.ms("o_orderdate") / day_ms)
    hi = F.floor((rel.ms("o_orderdate") + week_ms - 1) / day_ms)
    l_b = orders.withColumn("_day", F.explode(F.sequence(lo, hi)))
    r_b = daily.withColumn("_day", F.floor(rel.ms("l_shipdate") / day_ms))
    band = (rel.ms(r_b["l_shipdate"]) >= rel.ms(l_b["o_orderdate"])) & (
        rel.ms(r_b["l_shipdate"]) < rel.ms(l_b["o_orderdate"]) + F.lit(week_ms)
    )
    joined = l_b.join(r_b, (l_b["_day"] == r_b["_day"]) & band)
    return joined.groupBy("o_orderkey").agg(
        F.sum("_n").alias("n_items"),
        F.sum("_s").cast("double").alias("sum_price"),
    )


@query(
    "approx_stats",
    """
    SELECT l_returnflag,
           count(DISTINCT l_partkey) AS exact_parts,
           quantile_cont(l_quantity, 0.5) AS exact_median_qty,
           TRUE AS parts_within_rsd,
           TRUE AS median_within_rank
    FROM lineitem GROUP BY l_returnflag
    """,
)
def q_approx_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL + quantile-sketch surface (approx_count_distinct,
    percentile_approx), declared as a HASH-ORACLED pass: the sketch
    values themselves are approximate by design, so the query emits
    the EXACT values (DuckDB replays those) plus within-bound booleans
    the oracle asserts as TRUE literals. The bounds are the ones the
    error-bound pytest pins (test_approx_stats_error_bounds_vs_exact):
    HLL within 4 sigma of its default rsd (4 x 0.05 relative), and the
    approximate median between the exact 40th and 60th percentiles
    (percentile_approx's rank error at default accuracy 10000 is 1e-4,
    so +-0.10 rank is a 1000x safety margin). If a Spark upgrade ever
    drifts a sketch out of bound, the boolean flips and the driver's
    value hash flags it — the sketches stay under test cross-engine."""
    li = load_table(spark, sf_dir, "lineitem")
    # Three narrow passes instead of one catch-all agg (which planned
    # an Expand for countDistinct AND buffered every l_quantity per
    # group for the exact percentiles — 8 s at sf0.1 and an OOM shape
    # at 100 TB): (1) the sketches alone — constant state per group;
    # (2) exact distinct as two map-side-combinable hash aggs; (3)
    # exact percentiles over the COMPRESSED (flag, quantity, count)
    # relation via percentile's frequency argument — l_quantity's
    # value domain is bounded (TPC-H: 50 ints), so the buffer is 50
    # weighted values per group, never the raw rows. Identical values,
    # 3-row join inputs, broadcast joins.
    sketches = li.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_partkey").alias("_approx_parts"),
        F.percentile_approx("l_quantity", 0.5).alias("_approx_median"),
    )
    exact_d = (
        li.groupBy("l_returnflag", "l_partkey")
        .agg(F.lit(1).alias("_one"))
        .groupBy("l_returnflag")
        .agg(F.count("*").alias("exact_parts"))
    )
    pct = (
        li.groupBy("l_returnflag", "l_quantity")
        .agg(F.count("*").alias("_cnt"))
        .groupBy("l_returnflag")
        .agg(
            F.expr("percentile(l_quantity, 0.5, _cnt)").alias("exact_median_qty"),
            F.expr("percentile(l_quantity, 0.4, _cnt)").alias("_p40"),
            F.expr("percentile(l_quantity, 0.6, _cnt)").alias("_p60"),
        )
    )
    agg = sketches.join(F.broadcast(exact_d), "l_returnflag").join(
        F.broadcast(pct), "l_returnflag"
    )
    return agg.select(
        "l_returnflag",
        "exact_parts",
        "exact_median_qty",
        (
            F.abs(F.col("_approx_parts") - F.col("exact_parts"))
            <= F.lit(4 * 0.05) * F.col("exact_parts")
        ).alias("parts_within_rsd"),
        (
            (F.col("_approx_median") >= F.col("_p40"))
            & (F.col("_approx_median") <= F.col("_p60"))
        ).alias("median_within_rank"),
    )
