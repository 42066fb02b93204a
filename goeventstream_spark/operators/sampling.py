"""Deterministic sampling and dataset mixing (training-data pipeline).

Reference parity note: the reference (michaeldgagnon/GoEventStream) has no
sampling surface — these are north-star LLM-pipeline extensions
(BASELINE.json), designed for the 100 TB path:

- ``sample_by_hash``: Bernoulli sampling keyed on a *content-stable* hash
  of the id, not ``rand()``. Purely map-side (no shuffle, no RNG state),
  reproducible across runs/engines/partitionings — re-running the
  pipeline on a grown corpus keeps every previously-kept doc. The keep
  decision compares the first 4 hex chars of md5 against a threshold;
  md5 hex is lowercase in both Spark and DuckDB, so lexicographic
  compare == numeric compare and oracles match exactly.
- ``dataset_mix``: per-source keep-rates (the "data mixture" step before
  training). Rates live in a tiny dim table that is broadcast — at
  100 TB the corpus scan stays shuffle-free; only the kept rows move on.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def sample_key(id_col: str = "doc_id") -> Column:
    """First 4 hex chars of md5 of the id rendered as a string —
    a uniform 16-bit sample key, portable across engines."""
    return F.substring(F.md5(F.col(id_col).cast("string")), 1, 4)


def sample_by_hash(df: DataFrame, threshold_hex: str = "3fff", id_col: str = "doc_id") -> DataFrame:
    """Keep rows whose sample key <= ``threshold_hex`` (4 lowercase hex
    chars; '3fff' ~ 25%, '7fff' ~ 50%, 'ffff' = keep all)."""
    return df.withColumn("sample_key", sample_key(id_col)).where(
        F.col("sample_key") <= F.lit(threshold_hex)
    )


def mix_rates_dim(spark, sources: list[str], thresholds: list[str]) -> DataFrame:
    """Tiny (source -> keep-threshold) dim table for dataset mixing."""
    return spark.createDataFrame(
        list(zip(sources, thresholds)), "source string, keep_threshold string"
    )


def dataset_mix(df: DataFrame, rates: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Weighted per-source sampling: broadcast-join the rates dim, keep
    rows whose hash key clears their source's threshold. The corpus side
    never shuffles; sources absent from ``rates`` are dropped (inner
    join), which is the usual "mixture spec is exhaustive" contract."""
    return (
        df.join(F.broadcast(rates), "source")
        .withColumn("sample_key", sample_key(id_col))
        .where(F.col("sample_key") <= F.col("keep_threshold"))
    )


def train_val_test_split(
    df: DataFrame,
    val_hex: str = "0ccc",
    test_hex: str = "1999",
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic three-way corpus split on the content-stable
    sample key: key <= ``val_hex`` -> 'val', else <= ``test_hex`` ->
    'test', else 'train' (defaults ~5% / ~5% / ~90%).

    Same 100 TB contract as ``sample_by_hash``: purely map-side, no
    RNG state, and stable under corpus growth — a doc's split never
    changes when new data arrives, which is what keeps eval sets
    uncontaminated across pipeline re-runs.
    """
    k = sample_key(id_col)
    return df.withColumn(
        "split",
        F.when(k <= F.lit(val_hex), "val")
        .when(k <= F.lit(test_hex), "test")
        .otherwise("train"),
    )


def weighted_sample_topk(
    df: DataFrame,
    weight_col: str,
    key_cols: tuple[str, ...],
    k: int = 100,
    *,
    max_weight: int,
) -> DataFrame:
    """Deterministic weighted sampling WITHOUT replacement: keep the k
    rows with the highest priority, where priority = max of ``w``
    independent uniform draws (w = integer weight). max-of-w-uniforms
    is distributed as u^(1/w) — the exponential-keys (Efraimidis-
    Spirakis A-Res) priority — but computed entirely in *exact*
    arithmetic: draws are 8-hex-char uniforms (lexicographic order on
    lowercase hex == numeric order), so no pow()/log() float whose
    libm rounding could differ across engines or runs. Each 128-bit
    md5 digest is sliced into FOUR 32-bit draw lanes, so hash work per
    row is ceil(w/4) digests, not w — draw j comes from lane j%4 of
    digest md5(key#(j div 4)), and the draw set for weight w is a
    prefix of the set for any w' > w (the dedup-merge invariant).
    32-bit draws collide more often than 128-bit ones, but ties order
    deterministically by key in both engines, so parity is unaffected.

    Plan: each row folds its draws in place — map-side, no exploded
    rows ever hit a shuffle. A groupBy on the item key then
    merges duplicate keys (their draw ids coincide, so the union of
    draws is just max(w) draws — the aggregation takes max priority
    and max weight), and the global top-k plans as
    TakeOrderedAndProject (per-partition top-k + driver merge of
    k x partitions rows — no single-partition window).

    Scale contract: weights are BOUNDED integers (quantities, bucketed
    counts — the declared query deciles its weight for exactly this
    reason), and ``max_weight`` is that static bound (the declared
    query's decile cap of 5). The priority is a FLAT ``greatest()``
    over max_weight conditional lanes — plain whole-stage-codegen
    expressions with subexpression-eliminated digests — so md5 work is
    ceil(w/4) per row. A row heavier than ``max_weight`` fails the
    query rather than being truncated. For unbounded weights,
    decompose w into powers of two and draw one key per set bit
    (log2(w) fan-out) — same distribution, same exactness.
    """
    if max_weight < 1:
        raise ValueError(f"max_weight must be >= 1, got {max_weight}")
    ks = [F.col(c) for c in key_cols]
    key_expr = ", ".join(key_cols)
    lanes = []
    for j in range(max_weight):
        i, lane = divmod(j, 4)
        draw = F.expr(
            f"substring(md5(concat_ws('#', {key_expr}, {i})), {lane * 8 + 1}, 8)"
        )
        lanes.append(
            draw if j == 0 else F.when(F.col("_w") > j, draw).otherwise(F.lit(""))
        )
    row_pri = F.greatest(*lanes) if len(lanes) > 1 else lanes[0]
    # Enforce the declared bound instead of silently truncating a
    # heavier row to max_weight draws (which would skew the
    # sampling distribution with no signal).
    row_pri = F.when(
        F.col("_w") > max_weight,
        F.raise_error(
            F.concat(
                F.lit(
                    f"weighted_sample_topk: weight exceeds declared max_weight={max_weight}: "
                ),
                F.col("_w").cast("string"),
            )
        ),
    ).otherwise(row_pri)
    # A-Res semantics: weight <= 0 means probability 0 — excluded
    # outright (also keeps the ungated first lane from fabricating a
    # draw for w=0).
    # Fan out an undersized scan first: the md5 draw battery is the
    # whole cost of this operator, and a single-split input would run
    # it on one core (measured −1.4 s on the declared lineitem query;
    # no-op when the input is already parallel).
    from goeventstream_spark.sources.tables import scan_fanout_for

    pri = (
        scan_fanout_for(df, *key_cols)
        .withColumn("_w", F.col(weight_col).cast("int"))
        .where(F.col("_w") > 0)
        .select(*ks, F.col("_w"), row_pri.alias("_pri"))
        .groupBy(*ks)
        .agg(
            F.max("_pri").alias("sample_pri"),
            F.max("_w").cast("long").alias("weight"),
        )
    )
    order = [F.col("sample_pri").desc()] + [F.col(c).asc() for c in key_cols]
    return pri.orderBy(*order).limit(k)


def temperature_mix(
    df: DataFrame, group_col: str = "lang", id_col: str = "doc_id"
) -> DataFrame:
    """Temperature-based mixture rebalancing at alpha = 0.5 (the
    T5/multilingual-LM recipe: sample group g with probability
    proportional to n_g^alpha, i.e. downsample heavy groups toward
    balance): keep probability p_g = sqrt(n_min / n_g), so the
    smallest group is kept whole and a 4x-larger group is halved.
    Rates are COMPUTED from the corpus in the same plan — one bounded
    group-count aggregate, broadcast back; the corpus side never
    shuffles, and the keep decision is the deterministic md5 sample
    key (same mechanism as dataset_mix), so the subsample is stable
    under reruns and growth.

    alpha = 0.5 keeps the exponent a single IEEE sqrt (bit-identical
    cross-engine, so the declared query hash-oracles); a general
    alpha would need pow(), whose last-ulp behavior differs between
    libm implementations — if you need it, precompute thresholds
    driver-side and feed dataset_mix instead.
    """
    rates = temperature_rates(df, group_col)
    key_int = F.conv(sample_key(id_col), 16, 10).cast("long")
    return df.join(F.broadcast(rates.drop("n_docs")), group_col).where(
        key_int < F.col("keep_threshold")
    )


def temperature_rates(df: DataFrame, group_col: str = "lang") -> DataFrame:
    """The computed (group, n_docs, keep_threshold) rates relation of
    temperature_mix — exposed so reports can state the mixture spec
    without re-deriving it. threshold = floor(sqrt(n_min/n_g) * 65536)
    compared against the 16-bit md5 sample key."""
    counts = df.groupBy(group_col).agg(F.count("*").cast("long").alias("n_docs"))
    nmin = counts.agg(F.min("n_docs").alias("_nmin"))
    return counts.crossJoin(F.broadcast(nmin)).select(
        group_col,
        "n_docs",
        F.floor(
            F.sqrt(F.col("_nmin").cast("double") / F.col("n_docs").cast("double"))
            * F.lit(65536)
        )
        .cast("long")
        .alias("keep_threshold"),
    )


def dsir_importance(
    docs: DataFrame,
    target_pred,
    n_buckets: int = 64,
    scale: int = 1_000_000,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """DSIR-style data-selection scores (Xie et al. 2023, "Data
    Selection for Language Models via Importance Resampling"): weight
    each document by how much its hashed-unigram distribution looks
    like the TARGET corpus vs the RAW corpus.

    Per hash bucket b the importance ratio is the add-one-smoothed
        p_target(b) / p_raw(b)
          = (tc_b + 1) * (R + n_buckets) / ((rc_b + 1) * (T + n_buckets))
    kept LOG-FREE as one scaled integer division (libm log is not
    bit-portable across engines; the ratio form is) — same discipline
    as the unigram-fluency rationals. A document's score is the exact
    BIGINT sum of its per-bucket token counts times the bucket score.

    Scale shape: bucket distributions are two n_buckets-key
    aggregations (map-side combinable); the per-bucket score table is
    n_buckets rows BROADCAST back onto the per-doc bucket counts; one
    final per-doc fold. Nothing driver-side; corpus scanned twice
    (distribution + scoring), the second scan prunable to (doc, text).
    """
    words = docs.select(
        F.col(id_col),
        target_pred.cast("int").alias("is_target"),
        F.explode(F.split(F.col(text_col), " ")).alias("word"),
    )
    bucket = (
        F.conv(F.substring(F.md5("word"), 1, 4), 16, 10).cast("int")
        % F.lit(n_buckets)
    ).alias("bucket")
    wb = words.select(id_col, "is_target", bucket)
    dist = wb.groupBy("bucket").agg(
        F.sum("is_target").cast("long").alias("tc"),
        F.count("*").cast("long").alias("rc"),
    )
    spine = docs.sparkSession.range(n_buckets).select(
        F.col("id").cast("int").alias("bucket")
    )
    totals = dist.agg(
        F.sum("tc").cast("long").alias("t_total"),
        F.sum("rc").cast("long").alias("r_total"),
    )
    scores = (
        spine.join(dist, "bucket", "left")
        .na.fill({"tc": 0, "rc": 0})
        .crossJoin(F.broadcast(totals))
        .select(
            "bucket",
            F.expr(
                f"div({scale} * (tc + 1) * (r_total + {n_buckets}),"
                f" (rc + 1) * (t_total + {n_buckets}))"
            ).alias("bucket_score"),
        )
    )
    per_doc = wb.groupBy(id_col, "bucket").agg(
        F.count("*").cast("long").alias("cnt")
    )
    return (
        per_doc.join(F.broadcast(scores), "bucket")
        .groupBy(id_col)
        .agg(
            F.sum("cnt").cast("long").alias("n_tokens"),
            F.sum(F.col("cnt") * F.col("bucket_score"))
            .cast("long")
            .alias("dsir_score"),
        )
    )


def balanced_quota_sample(
    df: DataFrame, block_col: str = "cell", id_col: str = "vec_id"
) -> DataFrame:
    """Cluster-balanced sampling (the DCLM / DeepSeekMath topic-rebalance
    step): allocate every block (semantic cluster, source, shard) the
    SAME quota — floor(total / n_blocks), at least 1 — and keep each
    block's quota by a deterministic md5 draw, so over-represented
    topics are down-sampled toward a uniform topic mixture while rare
    topics keep everything they have.

    Output: one row per block — (block, n_total, quota, n_kept,
    kept_id_sum), where kept_id_sum is the order-independent checksum
    of the kept id set (the report pins the exact sample, not just its
    size).

    Scale shape: the quota is a 1-row aggregate broadcast-cross-joined
    (never a global window); the per-block rank window is bounded by
    the block population, which upstream hot-cell capping
    (clustering.ivf_cell_assign_capped) keeps under a known fraction
    of the corpus — the same bound that makes in-block pair generation
    safe makes this window safe.
    """
    from pyspark.sql import Window

    tot = df.agg(
        F.count("*").alias("_n"), F.countDistinct(block_col).alias("_nc")
    )
    draw = F.md5(F.col(id_col).cast("string"))
    w = Window.partitionBy(block_col).orderBy(draw, id_col)
    ranked = (
        df.crossJoin(F.broadcast(tot))
        .withColumn("_quota", F.expr("greatest(CAST(1 AS BIGINT), _n div _nc)"))
        .withColumn("_rn", F.row_number().over(w))
    )
    kept = F.col("_rn") <= F.col("_quota")
    return ranked.groupBy(F.col(block_col).alias("block")).agg(
        F.count("*").cast("long").alias("n_total"),
        F.max("_quota").cast("long").alias("quota"),
        F.sum(F.when(kept, 1).otherwise(0)).cast("long").alias("n_kept"),
        F.sum(F.when(kept, F.col(id_col)).otherwise(0)).cast("long").alias(
            "kept_id_sum"
        ),
    )
