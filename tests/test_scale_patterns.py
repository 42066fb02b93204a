"""Scale-pattern tests: salting, bucketed co-located joins, sketch
accuracy — the techniques the engine reaches for when AQE alone isn't
enough at 100 TB."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from goeventstream_spark import plans
from goeventstream_spark.operators.relational import salted_agg
from goeventstream_spark.sources import load_table


def test_salted_agg_equals_direct(spark, sf_dir):
    """Salted two-phase aggregation must be bit-equal to the direct
    form (decimal partials merge exactly)."""
    li = load_table(spark, sf_dir, "lineitem")
    direct = {
        (r.l_returnflag): (r.n, float(r.s))
        for r in li.groupBy("l_returnflag")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("l_quantity").cast("decimal(18,2)")).alias("s"),
        )
        .collect()
    }
    salted = {
        (r.l_returnflag): (r.n, float(r.s))
        for r in salted_agg(
            li,
            ["l_returnflag"],
            [
                F.count("*").alias("n"),
                F.sum(F.col("l_quantity").cast("decimal(18,2)")).alias("s"),
            ],
            salt_buckets=8,
        ).collect()
    }
    assert salted == direct


def test_bucketed_join_eliminates_shuffle(spark, sf_dir, tmp_path):
    """Bucketing both sides of a join on the key co-locates matching
    rows: the join plans with ZERO shuffle exchanges. This is the
    at-rest layout discipline for 100 TB fact-fact joins."""
    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_lineitem")
    # external tables (explicit path) keep the bucketed data in tmp —
    # the warehouse dir is a static conf and can't be repointed here
    load_table(spark, sf_dir, "orders").write.bucketBy(8, "o_orderkey").sortBy(
        "o_orderkey"
    ).option("path", str(tmp_path / "b_orders")).mode("overwrite").saveAsTable("b_orders")
    load_table(spark, sf_dir, "lineitem").write.bucketBy(8, "l_orderkey").sortBy(
        "l_orderkey"
    ).option("path", str(tmp_path / "b_lineitem")).mode("overwrite").saveAsTable("b_lineitem")
    # disable broadcast so the join would otherwise shuffle both sides
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = (
            spark.table("b_lineitem")
            .join(spark.table("b_orders"), F.col("l_orderkey") == F.col("o_orderkey"))
            .groupBy("o_orderstatus")
            .agg(F.count("*").alias("n"))
        )
        plan = plans.physical_plan(joined)
        assert "SortMergeJoin" in plan
        # the JOIN itself must be exchange-free (only the final 3-group
        # agg may shuffle): bucket scan feeds the sort directly
        join_part = plan.split("HashAggregate")[-1]
        assert "Exchange hashpartitioning" not in join_part, join_part
        n = sum(r.n for r in joined.collect())
        assert n == load_table(spark, sf_dir, "lineitem").count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "64m")
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_lineitem")


def test_approx_sketches_within_tolerance(spark, sf_dir):
    """approx_count_distinct (HLL++) and percentile_approx have no
    exact oracle; pin their accuracy against exact computations."""
    li = load_table(spark, sf_dir, "lineitem")
    r = li.agg(
        F.approx_count_distinct("l_partkey").alias("apx"),
        F.countDistinct("l_partkey").alias("exact"),
        F.percentile_approx("l_quantity", 0.5).alias("apx_med"),
        F.expr("percentile(l_quantity, 0.5)").alias("exact_med"),
    ).collect()[0]
    assert abs(r.apx - r.exact) / r.exact < 0.05
    assert abs(r.apx_med - r.exact_med) <= 1.0


def test_aqe_coalesces_small_shuffles(spark, sf_dir):
    """AQE must be live in the engine session: a small grouped agg
    plans AQEShuffleRead (coalesced partitions) at runtime."""
    li = load_table(spark, sf_dir, "lineitem")
    df = li.groupBy("l_returnflag").agg(F.count("*").alias("n"))
    df.collect()
    final_plan = df._jdf.queryExecution().executedPlan().toString()
    assert "AQEShuffleRead" in final_plan or "coalesced" in final_plan


def test_lsh_banded_ann_recall_and_pruning(spark, sf_dir):
    """The banded-LSH ANN path must (a) return a subset of the exact
    blocked result's pair space with correct cosines, and (b) hit the
    measured recall floor while pruning the candidate space."""
    from pyspark.sql import functions as F

    from goeventstream_spark.operators.similarity import (
        embedding_near_dup,
        lsh_banded_near_dup,
    )
    from goeventstream_spark.sources import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    # exact ground truth WITHOUT label blocking (LSH doesn't see labels)
    a, b = emb.alias("a"), emb.alias("b")
    from goeventstream_spark.operators.similarity import cosine

    exact = {
        (r.vec_a, r.vec_b)
        for r in a.join(b, F.col("a.vec_id") < F.col("b.vec_id"))
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            cosine(F.col("a.embedding"), F.col("b.embedding"), 64).alias("c"),
        )
        .where(F.col("c") >= 0.35)
        .collect()
    }
    got = {(r.vec_a, r.vec_b) for r in lsh_banded_near_dup(emb, threshold=0.35).collect()}
    assert got <= exact  # no false positives (exact cosine verifies)
    if exact:
        recall = len(got & exact) / len(exact)
        assert recall >= 0.6, f"recall {recall:.2f} below measured floor"


def test_ivf_topk_recall_vs_brute_force(spark, sf_dir):
    """IVF-probed ANN must recover most of the exact top-5 neighbor
    sets while probing only n_probe/n_centroids of the corpus."""
    from pyspark.sql import functions as F

    from goeventstream_spark.operators.similarity import cosine_topk, ivf_topk
    from goeventstream_spark.sources import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    qs = emb.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_embedding")
    )
    exact = {
        (r.query_id, r.vec_id) for r in cosine_topk(emb, qs, k=5).collect()
    }
    approx = {
        (r.query_id, r.vec_id)
        for r in ivf_topk(emb, qs, k=5, n_centroids=16, n_probe=4).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.5, f"IVF recall {recall:.2f} below floor"


def test_hll_union_merge_accuracy(spark, sf_dir):
    """The scale contract of sketches: per-segment partial HLL
    sketches unioned with hll_union_agg must estimate the GLOBAL
    distinct count within DataSketches' published error (~1.6% at
    lgK=12; allow 3x) — this is what lets a 100 TB lake maintain
    distinct counts per partition and merge on demand instead of
    rescanning."""
    from pyspark.sql import functions as F

    from goeventstream_spark.sources import load_table

    orders = load_table(spark, sf_dir, "orders").select("o_custkey")
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    j = orders.join(cust, orders.o_custkey == cust.c_custkey)
    partials = j.groupBy("c_mktsegment").agg(F.hll_sketch_agg("o_custkey").alias("sk"))
    est = partials.agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est")
    ).collect()[0].est
    exact = j.select("o_custkey").distinct().count()
    assert abs(est - exact) / exact < 0.05, (est, exact)


def test_pq_adc_recall_vs_brute_force(spark, sf_dir):
    """PQ-ADC shortlist + exact re-rank must recover most of the exact
    top-5 neighbor sets (measured 1.0 on the fixtures; floor leaves
    regen margin), and encoding must be deterministic across runs."""
    from pyspark.sql import functions as F

    from goeventstream_spark.operators.similarity import (
        cosine_topk,
        pq_adc_topk,
        pq_index,
    )
    from goeventstream_spark.sources import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    qs = emb.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_embedding")
    )
    exact = {(r.query_id, r.vec_id) for r in cosine_topk(emb, qs, k=5).collect()}
    approx = {(r.query_id, r.vec_id) for r in pq_adc_topk(emb, qs, k=5).collect()}
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.7, f"PQ recall {recall:.2f} below floor"

    c1 = {r.vec_id: list(r.codes) for r in pq_index(emb)[0].collect()}
    c2 = {r.vec_id: list(r.codes) for r in pq_index(emb)[0].collect()}
    assert c1 == c2


def test_aqe_splits_skewed_join_partitions(spark, sf_dir):
    """AQE's skew-join handling must actually engage on a skewed
    shuffle join: with one key owning ~90% of the fact rows and
    broadcast disabled, the final adaptive SortMergeJoin marks the
    skewed side (skew=true) and splits it into multiple sub-partitions
    — the runtime defense that keeps one straggler task from owning a
    hot key at 100 TB (salting, test above, is the static form for
    when even AQE's split granularity isn't enough)."""
    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
        # shrink the skew thresholds so fixture-sized data qualifies
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "16KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "8KB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.coalescePartitions.minPartitionSize": "1KB",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        li = load_table(spark, sf_dir, "lineitem")
        # 90% of rows collapse onto one join key. The round-robin
        # repartition gives the shuffle MANY map tasks: AQE splits a
        # skewed reduce partition along map-output boundaries, so a
        # single-mapper shuffle (one fixture file = one scan task) is
        # unsplittable no matter how skewed — at 100 TB the thousands
        # of scan tasks provide this granularity naturally.
        fact = li.repartition(16).select(
            F.when(F.col("l_linenumber") > 1, F.lit(0))
            .otherwise(F.col("l_orderkey"))
            .alias("k"),
            "l_quantity",
        )
        dim = (
            load_table(spark, sf_dir, "orders")
            .select(F.col("o_orderkey").alias("k"), "o_orderpriority")
        )
        joined = fact.join(dim, "k").groupBy("o_orderpriority").agg(
            F.sum("l_quantity").alias("q")
        )
        # collect() finalizes THIS DataFrame's own QueryExecution (a
        # noop write would plan a separate one, still isFinalPlan=false)
        joined.collect()
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan, plan[:2000]
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_pq_index_persistence_roundtrip(spark, sf_dir, tmp_path):
    """The ANN index is a TABLE: persist PQ codes as parquet and the
    codebooks as a small JSON artifact, reload both, and search with
    the reloaded index — results must be identical to searching with a
    freshly trained index (training is deterministic). This is the
    100 TB workflow: encode once, write the 32x-compressed codes
    beside the corpus, and every later search scans codes only —
    never retrains, never rereads raw embeddings except for the
    shortlist re-rank."""
    import json

    from goeventstream_spark.operators import similarity
    from goeventstream_spark.sources import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    qs = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_embedding")
    )

    # n_codes must match the search-time codebook size (pq_adc_topk
    # trains 256-entry books; pq_index's own default is 16)
    codes_df, books = similarity.pq_index(emb, n_codes=256)
    codes_path = str(tmp_path / "pq_codes")
    codes_df.write.mode("overwrite").parquet(codes_path)
    books_path = tmp_path / "codebooks.json"
    books_path.write_text(json.dumps(books))

    loaded_codes = spark.read.parquet(codes_path)
    loaded_books = json.loads(books_path.read_text())
    got = sorted(
        (r.query_id, r.vec_id, round(r.cos_sim, 9))
        for r in similarity.pq_adc_topk(
            emb, qs, k=5, index=(loaded_codes, loaded_books)
        ).collect()
    )
    want = sorted(
        (r.query_id, r.vec_id, round(r.cos_sim, 9))
        for r in similarity.pq_adc_topk(emb, qs, k=5).collect()
    )
    assert got == want and len(got) > 0


def test_runtime_bloom_filter_prunes_fact_side(spark, sf_dir):
    """Runtime row-level filtering: when a selective dim-side filter
    feeds a shuffle join, the optimizer should inject a bloom filter
    (might_contain) on the fact side so non-matching rows die at the
    scan instead of crossing the shuffle — at 100 TB this is the
    difference between shuffling the whole fact table and shuffling
    the ~1/5 that survives. Fixture scans sit below the 10 GB
    application-side default, so the thresholds shrink to engage the
    same code path the cluster would use."""
    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "50MB",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "1KB",
        # broadcast joins skip bloom injection (broadcast already
        # prunes); force the shuffle-join shape the filter targets
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        li = load_table(spark, sf_dir, "lineitem")
        o = load_table(spark, sf_dir, "orders").where(
            F.col("o_orderpriority") == "1-URGENT"
        )
        j = (
            li.join(o, li.l_orderkey == o.o_orderkey)
            .groupBy("o_orderpriority")
            .count()
        )
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "might_contain" in plan or "bloom" in plan.lower(), plan
        # and the result is still correct
        [row] = j.collect()
        expected = (
            li.join(o.hint("broadcast"), li.l_orderkey == o.o_orderkey).count()
        )
        assert row["count"] == expected
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_cms_upper_bound_and_partial_merge(spark, sf_dir):
    """CMS invariants: (1) every estimate >= the true count (min over
    rows can only over-count via collisions, never under-count);
    (2) sketches built on disjoint halves of the corpus and summed
    cell-wise equal the whole-corpus sketch — the associative partial
    merge that lets per-day sketches re-aggregate without rescans."""
    from goeventstream_spark.operators import sketches as sk

    docs = load_table(spark, sf_dir, "documents")
    toks = (
        docs.select(
            F.col("doc_id"), F.explode(F.split(F.col("text"), " ")).alias("token")
        ).where(F.col("token") != "")
    )
    cms = sk.cms_build(toks, "token")
    exact = toks.groupBy("token").agg(F.count("*").alias("exact_n")).limit(200)
    est = sk.cms_estimate(cms, exact.select("token"), "token")
    joined = exact.join(est, "token").collect()
    assert joined and all(r["cms_est"] >= r["exact_n"] for r in joined)

    half_a = sk.cms_build(toks.where(F.col("doc_id") % 2 == 0), "token")
    half_b = sk.cms_build(toks.where(F.col("doc_id") % 2 == 1), "token")
    merged = (
        half_a.unionByName(half_b)
        .groupBy("row_i", "bucket")
        .agg(F.sum("cnt").alias("cnt"))
    )
    full = {(r["row_i"], r["bucket"]): r["cnt"] for r in cms.collect()}
    got = {(r["row_i"], r["bucket"]): r["cnt"] for r in merged.collect()}
    assert got == full


def test_shuffle_profile_shows_map_side_combine(spark, sf_dir):
    """Executed-metric evidence (not just plan shape) that partial
    aggregation fires: tpch_q1 groups ~6k scanned rows into 6, and the
    exchange must carry the GROUP count, not the input count — the
    difference between shuffling kilobytes and shuffling the fact
    table at 100 TB."""
    from goeventstream_spark.plans import shuffle_profile

    import goeventstream_spark.queries  # noqa: F401
    from goeventstream_spark import queries as q

    prof = shuffle_profile(q.QUERIES["tpch_q1_pricing_summary"](spark, sf_dir))
    assert prof, "no exchange found"
    [ex] = prof
    assert ex["input_rows"] is not None and ex["input_rows"] <= 50, prof
    assert ex["data_size_bytes"] < 100_000, prof


def test_shuffle_profile_salted_agg_bounded_by_groups(spark, sf_dir):
    """The two-phase salted aggregation's exchanges must carry at most
    (groups x salt) + groups rows — never the raw fact rows. This is
    the executed-metrics proof that the skew defense does not trade
    hot keys for a full-table shuffle."""
    from goeventstream_spark.plans import shuffle_profile

    import goeventstream_spark.queries_ext  # noqa: F401  (registers)
    from goeventstream_spark import queries as q

    df = q.QUERIES["salted_agg_status_totals"](spark, sf_dir)
    n_input = load_table(spark, sf_dir, "orders").count()
    prof = shuffle_profile(df)
    assert prof, "no exchange found"
    for ex in prof:
        if ex["input_rows"] is not None:
            assert ex["input_rows"] < n_input / 10, prof




def test_triangle_orientation_bounds_wedge_fanout(spark, sf_dir):
    """The degree-orientation invariant that makes triangle counting
    O(m^1.5) instead of hub-quadratic: every node's ORIENTED out-degree
    is O(sqrt(2m)), even though raw degrees can be much larger. This is
    the property that holds at any scale — wedge fan-out per node is
    bounded by the global edge count, not by the hottest hub."""
    import math

    from goeventstream_spark.operators import graph as gr

    li = load_table(spark, sf_dir, "lineitem")
    edges = gr.cooccurrence_edges(li, "l_orderkey", "l_partkey")
    m = edges.count()
    deg = (
        edges.selectExpr("a AS v")
        .unionAll(edges.selectExpr("b AS v"))
        .groupBy("v")
        .agg(F.count("*").alias("deg"))
    )
    max_raw = deg.agg(F.max("deg")).collect()[0][0]
    # reconstruct the oriented edges exactly as triangle_participation
    # does and measure the max out-degree
    o = (
        edges.join(deg.withColumnRenamed("v", "a").withColumnRenamed("deg", "da"), "a")
        .join(deg.withColumnRenamed("v", "b").withColumnRenamed("deg", "db"), "b")
        .selectExpr(
            "CASE WHEN da < db OR (da = db AND a < b) THEN a ELSE b END AS src"
        )
        .groupBy("src")
        .agg(F.count("*").alias("out_deg"))
    )
    max_out = o.agg(F.max("out_deg")).collect()[0][0]
    bound = math.isqrt(2 * m) + 1
    assert max_out <= bound, (max_out, bound, m)
    # and the orientation must actually be doing work on this graph
    assert max_out < max_raw, (max_out, max_raw)


def test_bloom_probe_shuffles_bounded_by_distinct_keys(spark, sf_dir):
    """Executed-metric proof the bloom confusion report never shuffles
    raw fact rows: every exchange carries at most k x distinct probe
    keys (the exploded position relation) — the orders table itself
    reduces to its distinct custkeys before anything wide happens, so
    at 100 TB the probe cost is O(distinct keys), not O(rows)."""
    from goeventstream_spark.plans import shuffle_profile

    import goeventstream_spark.queries_r3  # noqa: F401  (registers)
    from goeventstream_spark import queries as q

    orders = load_table(spark, sf_dir, "orders")
    n_rows = orders.count()
    n_keys = orders.select("o_custkey").distinct().count()
    bound = max(4 * n_keys, 16384)  # k=4 positions per key; filter <= m bits
    prof = shuffle_profile(q.QUERIES["bloom_membership_report"](spark, sf_dir))
    assert prof, "no exchange found"
    for ex in prof:
        if ex["input_rows"] is not None:
            assert ex["input_rows"] <= bound, (ex, bound)
    assert n_rows > n_keys  # the bound is actually tighter than the table


def test_incremental_dedup_bucketed_index_history_shuffle_free(spark, sf_dir, tmp_path):
    """The 100 TB deployment shape of incremental_minhash_dedup made
    concrete: persist the banded history index bucketed on band_sig;
    the per-batch band join then scans history WITHOUT re-shuffling it
    — only the (small) delta side exchanges — and the pair set equals
    the unbucketed operator's exactly."""
    from goeventstream_spark.operators import dedup

    docs = load_table(spark, sf_dir, "documents")
    hist_docs = docs.where(F.col("doc_id") % 2 == 0)
    delta_docs = docs.where(F.col("doc_id") % 2 == 1)
    hist_sigs = dedup.minhash_signatures(dedup.shingles(hist_docs))
    banded_hist = dedup._banded(hist_sigs, dedup.DEFAULT_NUM_HASHES, dedup.DEFAULT_BANDS)
    spark.sql("DROP TABLE IF EXISTS b_sig_index")
    banded_hist.write.bucketBy(8, "band_id", "band_sig").sortBy("band_id", "band_sig").option(
        "path", str(tmp_path / "b_sig_index")
    ).mode("overwrite").saveAsTable("b_sig_index")

    delta_sigs = dedup.minhash_signatures(dedup.shingles(delta_docs))
    banded_delta = dedup._banded(
        delta_sigs, dedup.DEFAULT_NUM_HASHES, dedup.DEFAULT_BANDS
    )
    nh = dedup.DEFAULT_NUM_HASHES
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        a = banded_delta.alias("a")
        b = spark.table("b_sig_index").alias("b")
        pairs = (
            a.join(
                b,
                (F.col("a.band_id") == F.col("b.band_id"))
                & (F.col("a.band_sig") == F.col("b.band_sig"))
                & (F.col("a.doc_id") != F.col("b.doc_id")),
            )
            .select(
                F.least(F.col("a.doc_id"), F.col("b.doc_id")).alias("doc_a"),
                F.greatest(F.col("a.doc_id"), F.col("b.doc_id")).alias("doc_b"),
                *[
                    (F.col(f"a.m{i}") == F.col(f"b.m{i}")).cast("int").alias(f"_eq{i}")
                    for i in range(nh)
                ],
            )
            .distinct()
        )
        est = sum(F.col(f"_eq{i}") for i in range(nh)) / F.lit(float(nh))
        got_df = pairs.select("doc_a", "doc_b", est.alias("est_jaccard")).where(
            F.col("est_jaccard") >= 0.5
        )
        plan = plans.physical_plan(got_df)
        assert "b_sig_index" in plan and "SortMergeJoin" in plan, plan
        # exactly ONE band-key exchange — the delta side; the history
        # side's bucketed scan feeds the join's sort directly
        band_exchanges = [
            seg
            for seg in plan.split("Exchange hashpartitioning")[1:]
            if seg.lstrip().startswith("(band")
        ]
        assert len(band_exchanges) == 1, plan
        got = {(r.doc_a, r.doc_b, r.est_jaccard) for r in got_df.collect()}
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    # equality vs the operator on the delta-vs-history portion
    _s, want_pairs = dedup.incremental_minhash_dedup(hist_sigs, delta_docs)
    want = {
        (r.doc_a, r.doc_b, r.est_jaccard)
        for r in want_pairs.collect()
        # bucketed test joins delta vs HISTORY only; drop delta-delta
        if (r.doc_a % 2 == 0) or (r.doc_b % 2 == 0)
    }
    assert got == want


def test_misra_gries_candidate_volume_bounded(spark, sf_dir):
    """The heavy-hitter propose stage must emit <= numPartitions * k
    rows REGARDLESS of vocabulary size — the sketch contract that
    replaces the full-vocabulary frequency shuffle at 100 TB."""
    from goeventstream_spark.operators import sketches
    from goeventstream_spark.sources import load_table
    from pyspark.sql import functions as F

    n_parts, k = 8, 64
    words = (
        load_table(spark, sf_dir, "documents")
        .select(F.explode(F.split("text", " ")).alias("word"))
        .repartition(n_parts)
    )
    cand = sketches.misra_gries_candidates(words, "word", k=k)
    assert cand.count() <= n_parts * k


def test_dynamic_partition_pruning_on_date_partitioned_fact(spark, sf_dir, tmp_path):
    """Dynamic partition pruning: joining a date-partitioned fact with
    a FILTERED dim must prune fact partitions at runtime (the filter's
    value set is only known after the dim scan) — the scan carries a
    dynamicpruning partition filter instead of reading all days. This
    is THE access-path discipline for a date-partitioned 100 TB lake:
    a 3-day dim restriction reads 3 partitions, not 30."""
    ev = load_table(spark, sf_dir, "events").withColumn(
        "day", F.to_date("ts")
    )
    fact_path = str(tmp_path / "events_by_day")
    ev.write.partitionBy("day").mode("overwrite").parquet(fact_path)
    fact = spark.read.parquet(fact_path)
    days = [
        r.day for r in ev.select("day").distinct().orderBy("day").limit(5).collect()
    ]
    dim = spark.createDataFrame(
        [(d, "on" if d in days[:3] else "off") for d in days],
        "day date, status string",
    )
    # the dim-side predicate must be "likely selective" (an EqualTo on
    # an attribute) for the PartitionPruning rule to fire — a bare
    # boolean-column filter does NOT qualify; the broadcast hint keeps
    # the inserted subquery on the reuse-broadcast path.
    sel = dim.where(F.col("status") == "on").hint("broadcast")
    joined = fact.join(sel, "day").groupBy("day").agg(
        F.sum("value").alias("v"), F.count("*").alias("n")
    )
    plan = plans.physical_plan(joined)
    assert "dynamicpruning" in plan.lower(), plan
    got = {(r.day, r.n) for r in joined.collect()}
    want = {
        (r.day, r.n)
        for r in ev.join(sel, "day")
        .groupBy("day")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert got == want and len(got) == 3


def test_pq_float_pipeline_algebra_pinned(spark, sf_dir):
    """The float PQ path (rows-only by design: sampled float Lloyd
    codebooks are not SQL-expressible — the MECHANISM is hash-oracled
    end-to-end by the fixed-point twins kmeans_fixed_point /
    ivf_fixed_topk / pq_fixed_adc_topk) gets its algebra pinned here
    against an independent numpy replay:
    (a) every emitted code is an argmin of the subvector against the
        returned codebook (<= min + eps, tie-tolerant), and
    (b) every pq_adc_topk result row survives an independently
        recomputed ADC shortlist of the same size — the two-stage
        shortlist+re-rank pipeline, not just a recall floor."""
    import numpy as np
    from pyspark.sql import functions as F

    from goeventstream_spark.operators.similarity import pq_adc_topk, pq_index
    from goeventstream_spark.sources import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    vecs = {r.vec_id: np.asarray(r.embedding, dtype=np.float64)
            for r in emb.select("vec_id", "embedding").collect()}

    # (a) encode argmin invariant, default geometry (8 x 16)
    codes_df, books = pq_index(emb)
    B = [np.asarray(b, dtype=np.float64) for b in books]
    sub = B[0].shape[1]
    for r in codes_df.collect():
        v = vecs[r.vec_id]
        v = v / np.linalg.norm(v)
        for s, code in enumerate(r.codes):
            d2 = ((B[s] - v[s * sub:(s + 1) * sub]) ** 2).sum(axis=1)
            assert d2[code] <= d2.min() + 1e-9, (r.vec_id, s)

    # (b) search geometry (8 x 256): replay the ADC shortlist per query
    # and require every returned neighbor to be inside it.
    n_codes, rerank, k = 256, 50, 5
    codes_df, books = pq_index(emb, 8, n_codes)
    B = [np.asarray(b, dtype=np.float64) for b in books]
    sub = B[0].shape[1]
    codes = {r.vec_id: list(r.codes) for r in codes_df.collect()}
    qs = emb.where(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_embedding")
    )
    got = pq_adc_topk(emb, qs, k=k, n_codes=n_codes, rerank=rerank).collect()
    assert {r.query_id for r in got} == {0, 1, 2}
    for qid in (0, 1, 2):
        q = vecs[qid] / np.linalg.norm(vecs[qid])
        adc = []
        for vid, c in codes.items():
            if vid == qid:
                continue
            d = 0.0
            for s in range(8):
                d += ((q[s * sub:(s + 1) * sub] - B[s][c[s]]) ** 2).sum()
            adc.append((d, vid))
        shortlist = {vid for _, vid in sorted(adc)[:rerank]}
        for r in got:
            if r.query_id == qid:
                assert r.vec_id in shortlist, (qid, r.vec_id)
        assert sum(1 for r in got if r.query_id == qid) == k


def test_ivf_float_pipeline_algebra_pinned(spark, sf_dir):
    """Float IVF (rows-only by design — sampled float-Lloyd centroids;
    the mechanism is hash-oracled by ivf_fixed_topk) gets its algebra
    pinned against an independent numpy replay, mirroring the PQ pin:
    (a) every corpus vector's centroid_id is an argmin over the
        returned centers (tie-tolerant), and
    (b) every ivf_topk neighbor actually lives in one of its query's
        n_probe nearest cells — the probe pruning is real, not
        incidental."""
    import numpy as np
    from pyspark.sql import functions as F

    from goeventstream_spark.operators.similarity import ivf_index, ivf_topk
    from goeventstream_spark.sources import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    n_centroids, n_probe, k = 16, 4, 5
    assigned, centers = ivf_index(emb, n_centroids)
    C = np.asarray(centers, dtype=np.float64)

    vecs, cell = {}, {}
    for r in assigned.select("vec_id", "embedding", "centroid_id").collect():
        vecs[r.vec_id] = np.asarray(r.embedding, dtype=np.float64)
        cell[r.vec_id] = r.centroid_id

    # (a) assignment argmin invariant
    for vid, v in vecs.items():
        d2 = ((C - v) ** 2).sum(axis=1)
        assert d2[cell[vid]] <= d2.min() + 1e-9, vid

    # (b) probe-set membership for every returned neighbor
    qs = emb.where(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_embedding")
    )
    got = ivf_topk(emb, qs, k=k, n_centroids=n_centroids, n_probe=n_probe).collect()
    assert {r.query_id for r in got} == {0, 1, 2}
    for qid in (0, 1, 2):
        d2 = ((C - vecs[qid]) ** 2).sum(axis=1)
        cutoff = np.sort(d2)[n_probe - 1] + 1e-9
        probe_cells = {int(c) for c in np.flatnonzero(d2 <= cutoff)}
        for r in got:
            if r.query_id == qid:
                assert cell[r.vec_id] in probe_cells, (qid, r.vec_id)


def test_approx_stats_error_bounds_vs_exact(spark, sf_dir):
    """approx_stats' error bounds, asserted directly (the declared query
    now emits these same bounds as oracle-checked booleans — this test
    is the independent pin that proves them): HLL distinct counts must
    sit within the published rsd envelope (default 5%, asserted at 4
    sigma for fixture safety) of the exact count, and the approximate
    median must be an ACTUAL data value lying between the exact 40th
    and 60th percentiles — percentile_approx returns a member of the
    dataset by construction."""
    from pyspark.sql import functions as F

    from goeventstream_spark.sources import load_table

    li = load_table(spark, sf_dir, "lineitem")
    approx = {
        r.l_returnflag: (r.approx_parts, r.approx_median_qty)
        for r in li.groupBy("l_returnflag").agg(
            F.approx_count_distinct("l_partkey").alias("approx_parts"),
            F.percentile_approx("l_quantity", 0.5).alias("approx_median_qty"),
        ).collect()
    }
    exact = {
        r.l_returnflag: (r.n_parts, r.p40, r.p60, set(r.qtys))
        for r in li.groupBy("l_returnflag").agg(
            F.countDistinct("l_partkey").alias("n_parts"),
            F.expr("percentile(l_quantity, 0.4)").alias("p40"),
            F.expr("percentile(l_quantity, 0.6)").alias("p60"),
            F.collect_set("l_quantity").alias("qtys"),
        ).collect()
    }
    assert set(approx) == set(exact)
    for flag, (a_parts, a_med) in approx.items():
        n_parts, p40, p60, qtys = exact[flag]
        rel_err = abs(a_parts - n_parts) / n_parts
        assert rel_err <= 4 * 0.05, (flag, a_parts, n_parts)
        assert p40 <= a_med <= p60, (flag, a_med, p40, p60)
        assert a_med in qtys, (flag, a_med)


def test_ivf_cell_assign_precomputed_centroids_skip_training(spark, sf_dir):
    """The production shape for IVF-cell blocking: a persisted codebook
    assigns without retraining. Precomputed-centroid assignment must
    equal the trained run exactly and must plan as a pure map pass —
    zero exchanges, zero joins."""
    from goeventstream_spark.operators.clustering import (
        ivf_cell_assign,
        kmeans_fit,
        quantize_vectors,
    )
    from goeventstream_spark.plans import physical_plan
    from goeventstream_spark.sources import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    _, cents = kmeans_fit(quantize_vectors(emb, scale=1000), k=4, iters=2)

    trained = {
        r.vec_id: r.cell for r in ivf_cell_assign(emb, k=4, iters=2).collect()
    }
    reused = {
        r.vec_id: r.cell
        for r in ivf_cell_assign(emb, centroids=cents).collect()
    }
    assert trained == reused

    plan = physical_plan(ivf_cell_assign(emb, centroids=cents))
    assert "Exchange" not in plan, plan
    assert "Join" not in plan, plan


def _adversarial_vec(i: int) -> list[float]:
    """Deterministic adversarial IVF fixture: 160/200 vectors in a spread
    cluster near (0.8..0.9)^4, 40 in three far-apart cold regions. Cold
    vectors take the LOW ids so the lowest-id k-means seeds all start
    outside the hot cluster — the whole cluster then collapses into the
    single nearest cell (the skew shape the hot-cell guard targets)."""
    if i >= 40:  # hot cluster, spread so a sub-k-means can split it
        return [0.8 + 0.1 * (((i * (d + 3)) % 17) / 17.0) for d in range(4)]
    base = [(-0.9, -0.9, -0.9, -0.9), (0.9, -0.9, 0.9, -0.9),
            (-0.9, 0.9, -0.9, 0.9)][i % 3]
    return [b + 0.001 * (i // 3) for b in base]


def test_ivf_capped_splits_adversarial_hot_cell(spark):
    """Hot-cell guard (the 100 TB skew hazard): an adversarial corpus
    that concentrates 80% of vectors in one dense region puts them all
    in one IVF cell — whose all-pairs block is quadratic.
    ivf_cell_assign_capped must deterministically re-cluster that cell
    one level and provably shrink the max block, while leaving every
    cold-cell assignment byte-identical to the uncapped run."""
    from pyspark.sql import Row
    from pyspark.sql import functions as F

    from goeventstream_spark.operators.clustering import (
        ivf_cell_assign,
        ivf_cell_assign_capped,
    )

    emb = spark.createDataFrame(
        [Row(vec_id=i, label=i % 3, embedding=_adversarial_vec(i)) for i in range(200)]
    )

    base = ivf_cell_assign(emb, k=4, iters=2)
    base_sizes = {r.cell: r["count"] for r in base.groupBy("cell").count().collect()}
    assert max(base_sizes.values()) >= 160  # the adversarial block exists

    cap = 80
    capped = ivf_cell_assign_capped(emb, k=4, iters=2, cap=cap)
    capped_sizes = {
        r.cell: r["count"] for r in capped.groupBy("cell").count().collect()
    }
    # (a) the quadratic block is gone: every block is within the cap
    assert max(capped_sizes.values()) <= cap, capped_sizes
    # (b) cold cells untouched: same (vec_id, cell) pairs for every
    # vector whose base cell was under the cap
    cold = {r.cell for r in base.groupBy("cell").count().collect() if r["count"] <= cap}
    base_map = {r.vec_id: r.cell for r in base.select("vec_id", "cell").collect()}
    capped_map = {r.vec_id: r.cell for r in capped.select("vec_id", "cell").collect()}
    for vid, c in base_map.items():
        if c in cold:
            assert capped_map[vid] == c, vid
        else:
            assert capped_map[vid] >= 4, vid  # split ids start at k
    # (c) id encoding is collision-free: split ids are fresh (>= k) and
    # never collide with a surviving base id
    split_ids = {c for v, c in capped_map.items() if base_map[v] not in cold}
    assert split_ids.isdisjoint({c for v, c in capped_map.items() if base_map[v] in cold})
    assert all(c >= 4 for c in split_ids)
    # (d) deterministic: an independent second run is identical
    rerun = {
        r.vec_id: r.cell
        for r in ivf_cell_assign_capped(emb, k=4, iters=2, cap=cap)
        .select("vec_id", "cell")
        .collect()
    }
    assert rerun == capped_map


def test_ivf_capped_accepts_non_bigint_ids(spark):
    """The hot-cell probe pads its union with NULLs of the seeds' own
    id and rank types: a STRING or INT ``id_col`` must split the hot
    cell exactly as BIGINT ids of the same order do."""
    from pyspark.sql import Row

    from goeventstream_spark.operators.clustering import ivf_cell_assign_capped

    emb = spark.createDataFrame(
        [Row(vec_id=i, key=f"v{i:04d}", embedding=_adversarial_vec(i)) for i in range(200)]
    ).selectExpr("vec_id", "key", "CAST(vec_id AS INT) AS small", "embedding")
    want = {
        r.vec_id: r.cell
        for r in ivf_cell_assign_capped(emb, k=4, iters=2, cap=80).collect()
    }
    assert max(want.values()) >= 4  # the hot cell was split
    by_key = {
        r.key: r.cell
        for r in ivf_cell_assign_capped(
            emb.drop("vec_id"), k=4, iters=2, cap=80, id_col="key"
        ).collect()
    }
    assert by_key == {f"v{i:04d}": c for i, c in want.items()}
    by_int = {
        r.small: r.cell
        for r in ivf_cell_assign_capped(
            emb.drop("vec_id"), k=4, iters=2, cap=80, id_col="small"
        ).collect()
    }
    assert by_int == want


def test_ivf_capped_noop_and_frac_on_fixture(spark, sf_dir):
    """On the real (balanced) fixture the guard is a no-op at a loose
    cap — byte-identical to ivf_cell_assign — and cap_frac triggers a
    real one-level split of the single cell above the fraction."""
    from goeventstream_spark.operators.clustering import (
        ivf_cell_assign,
        ivf_cell_assign_capped,
    )
    from goeventstream_spark.sources import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    base = {r.vec_id: r.cell for r in ivf_cell_assign(emb).select("vec_id", "cell").collect()}
    loose = {
        r.vec_id: r.cell
        for r in ivf_cell_assign_capped(emb, cap=10**9).select("vec_id", "cell").collect()
    }
    assert loose == base

    frac = {
        r.vec_id: r.cell
        for r in ivf_cell_assign_capped(emb, cap_frac=0.26)
        .select("vec_id", "cell")
        .collect()
    }
    total = len(base)
    hot = {c for c in set(base.values())
           if sum(1 for v in base.values() if v == c) > 0.26 * total}
    assert hot, "fixture regression: expected at least one >26% cell"
    for vid, c in base.items():
        assert (frac[vid] == c) if c not in hot else (frac[vid] >= 4), vid
    # the split shrank the hot block
    from collections import Counter

    assert max(Counter(frac.values()).values()) < max(Counter(base.values()).values())


def test_shared_capped_cells_memo(spark, sf_dir, monkeypatch):
    """VERDICT r7 #2: the capped-IVF guard trajectory is paid ONCE per
    (session, corpus key, params) — the four consumer queries share a
    single assignment instead of re-running the ~2.5 s census + seed
    rank + Lloyd rounds each. Pin: (a) the memo returns the identical
    DataFrame for an identical key and never re-enters the trajectory;
    (b) any parameter change is a different key; (c) the memoized
    result is the direct construction, value-for-value."""
    from goeventstream_spark.operators import clustering
    from goeventstream_spark.sources import load_table

    clustering.clear_shared_capped_cache()
    emb = load_table(spark, sf_dir, "embeddings")
    want = {
        r.vec_id: r.cell
        for r in clustering.ivf_cell_assign_capped(
            emb, k=4, iters=2, cap_frac=0.26, max_levels=1
        )
        .select("vec_id", "cell")
        .collect()
    }

    calls = {"n": 0}
    inner = clustering.ivf_cell_assign_capped

    def counting(*a, **kw):
        calls["n"] += 1
        return inner(*a, **kw)

    monkeypatch.setattr(clustering, "ivf_cell_assign_capped", counting)
    a = clustering.shared_capped_cells(
        emb, sf_dir, k=4, iters=2, cap_frac=0.26, max_levels=1
    )
    b = clustering.shared_capped_cells(
        emb, sf_dir, k=4, iters=2, cap_frac=0.26, max_levels=1
    )
    assert a is b and calls["n"] == 1
    c = clustering.shared_capped_cells(
        emb, sf_dir, k=4, iters=2, cap_frac=0.26, max_levels=2
    )
    d = clustering.shared_capped_cells(
        emb, str(sf_dir) + "-other-corpus", k=4, iters=2,
        cap_frac=0.26, max_levels=1,
    )
    assert c is not a and d is not a and calls["n"] == 3
    got = {r.vec_id: r.cell for r in a.select("vec_id", "cell").collect()}
    assert got == want
    clustering.clear_shared_capped_cache()


def test_partitioned_lake_executed_scan_pruning(spark, sf_dir, tmp_path):
    """EXECUTED scan-pruning evidence for the (game, date)-partitioned
    event lake — files/partitions actually read, not plan text. A
    delta/replay query touching one game and a 3-day window must read
    exactly those partition directories; a join-driven (DPP) filter
    must also prune at RUNTIME. This is the metric that proves the
    lake layout turns a 100 TB scan into an O(delta) read."""
    from pyspark.sql import functions as F

    from goeventstream_spark.plans.profile import execution_profile
    from goeventstream_spark.sources import io as gio
    from goeventstream_spark.sources import load_table

    lake_path = str(tmp_path / "event_lake")
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type",
        (F.col("user_id") % 4).cast("long").alias("game"),
        F.to_date("ts").alias("dt"),
    )
    gio.write_partitioned_parquet(ev, lake_path, ["game", "dt"])
    lake = spark.read.parquet(lake_path)
    n_total = lake.select("game", "dt").distinct().count()
    assert n_total > 20  # the lake is genuinely multi-partition

    def scan_metrics(df):
        prof = execution_profile(df)
        scans = [e for e in prof if e["node"].startswith("Scan parquet")]
        assert scans, prof
        return scans

    # (a) static pruning: 1 game x 3 days -> exactly 3 partitions read
    replay = (
        lake.where(
            (F.col("game") == 1)
            & (F.col("dt") >= "2024-01-13")
            & (F.col("dt") <= "2024-01-15")
        )
        .groupBy("event_type")
        .agg(F.count("*").alias("n"))
    )
    m = scan_metrics(replay)[0]["metrics"]
    assert m["numPartitions"] == 3, m
    assert m["numFiles"] <= 3 * 2, m  # at most a couple files per partition
    assert m["numOutputRows"] > 0, m

    # (b) dynamic partition pruning: the date filter arrives through a
    # JOIN against a small dim, so pruning must happen at RUNTIME — the
    # executed scan must still read only the joined dates' partitions.
    # Same construction discipline as the plan-shape DPP pin above: the
    # dim predicate is an EqualTo on an attribute (a bare tiny dim with
    # no filter does NOT qualify for the PartitionPruning rule) and the
    # broadcast hint keeps the subquery on the reuse-broadcast path.
    dim = spark.createDataFrame(
        [
            ("2024-01-13", "on"), ("2024-01-14", "on"), ("2024-01-15", "on"),
            ("2024-01-16", "off"), ("2024-01-17", "off"),
        ],
        "d string, status string",
    ).select(F.to_date("d").alias("dt"), "status")
    joined = (
        lake.join(dim.where(F.col("status") == "on").hint("broadcast"), "dt")
        .groupBy("event_type")
        .agg(F.count("*").alias("n"))
    )
    scans = scan_metrics(joined)
    lake_scan = max(scans, key=lambda e: e["metrics"].get("numPartitions", 0))
    mp = lake_scan["metrics"]
    # 3 'on' dates x 4 games = 12 of the lake's partitions, runtime-pruned
    assert mp["numPartitions"] < n_total, mp
    assert mp["numPartitions"] <= 3 * 4, mp


def test_ivf_capped_fresh_ids_with_oversized_codebook(spark):
    """With an explicit codebook LARGER than k, base cells run
    0..len(centroids)-1 — split ids must start above ALL of them, or a
    hot cell's sub-cells silently merge with untouched base cells and
    void the cap."""
    from pyspark.sql import Row

    from goeventstream_spark.operators.clustering import ivf_cell_assign_capped

    # 8 well-separated unit-ish centroids on the 1000-grid; all vectors
    # near centroid 7, so cell 7 is hot and everything else is cold.
    cents = [[1000 * (1 if d == j % 4 else -1) * (1 if j < 4 else 2) for d in range(4)]
             for j in range(8)]
    emb = spark.createDataFrame(
        [
            Row(vec_id=i, label=0,
                embedding=[c / 1000 + 0.05 * ((i * (d + 2)) % 7) for d, c in enumerate(cents[7])])
            for i in range(60)
        ]
    )
    capped = ivf_cell_assign_capped(
        emb, k=4, iters=2, cap=20, centroids=cents, max_levels=3
    )
    cells = {r.cell for r in capped.select("cell").distinct().collect()}
    # every split id must be >= len(centroids)=8, never colliding with
    # the live base id range 0..7 (the old bug handed out 4..7)
    assert all(c >= 8 for c in cells), cells


def test_reliable_checkpoint_option_for_iterative_operators(spark, tmp_path):
    """ADVICE r7 / VERDICT r7 #6: the iterative operators' per-round
    lineage truncation accepts a cluster-shape ``checkpoint_dir`` —
    reliable checkpoint() into durable storage, so on a real cluster
    an executor loss mid-query recomputes instead of failing. Pin:
    (a) results identical to the default localCheckpoint path for all
    three operators; (b) checkpoint data actually lands under the
    directory (the durability evidence)."""
    import os

    from goeventstream_spark.operators.dedup import (
        dedup_clusters,
        dedup_clusters_contraction,
    )
    from goeventstream_spark.operators.graph import kcore_peel_trajectory

    ckpt = str(tmp_path / "ckpt")
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21), (21, 22), (1, 22)],
        ["doc_a", "doc_b"],
    )
    want = {
        (r.doc_id, r.cluster_id) for r in dedup_clusters(pairs).collect()
    }
    got = {
        (r.doc_id, r.cluster_id)
        for r in dedup_clusters(pairs, checkpoint_dir=ckpt).collect()
    }
    assert got == want and got

    want_c = {
        (r.doc_id, r.cluster_id)
        for r in dedup_clusters_contraction(pairs).collect()
    }
    got_c = {
        (r.doc_id, r.cluster_id)
        for r in dedup_clusters_contraction(pairs, checkpoint_dir=ckpt).collect()
    }
    assert got_c == want_c == want

    edges = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 3), (3, 4), (4, 5), (5, 1), (2, 4)], ["a", "b"]
    )
    want_k = [tuple(r) for r in kcore_peel_trajectory(edges, k=2, rounds=3).collect()]
    got_k = [
        tuple(r)
        for r in kcore_peel_trajectory(
            edges, k=2, rounds=3, checkpoint_dir=ckpt
        ).collect()
    ]
    assert got_k == want_k

    # durable checkpoint data really landed under the directory
    files = [
        os.path.join(dp, f) for dp, _dn, fn in os.walk(ckpt) for f in fn
    ]
    assert files, "reliable checkpoint wrote nothing"
    # ADVICE r8: every setCheckpointDir call mints a fresh UUID child
    # dir; materialize must re-point the context only when the
    # requested dir differs, so the MANY rounds above share ONE child
    assert len(os.listdir(ckpt)) == 1, os.listdir(ckpt)


def test_capped_cells_lake_matches_memo_and_skips_guard(
    spark, sf_dir, tmp_path, monkeypatch
):
    """VERDICT r8 #4: the persisted capped-cells lake. Pins: (a) the
    lake-backed assignment is row-equal to the direct trajectory (the
    memo path's identical construction); (b) a session that finds the
    lake provably does NOT re-run the guard trajectory (the
    constructor is poisoned and never called); (c) a parameter
    mismatch against the recorded manifest refuses rather than serving
    a stale assignment; (d) a leftover crashed build dir (attempt-
    private, never read) doesn't block a fresh build, and a lake dir
    that exists WITHOUT the _SUCCESS marker is refused loudly."""
    import os

    import pytest

    from goeventstream_spark.operators import clustering
    from goeventstream_spark.sources import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    lake = str(tmp_path / "cells_lake")
    want = {
        r.vec_id: r.cell
        for r in clustering.ivf_cell_assign_capped(
            emb, k=4, iters=2, cap_frac=0.26, max_levels=1
        ).select("vec_id", "cell").collect()
    }
    os.makedirs(lake + "__build_crashed")  # (d) crashed-build leftover
    got = {
        r.vec_id: r.cell
        for r in clustering.capped_cells_lake(
            emb, lake, k=4, iters=2, cap_frac=0.26, max_levels=1
        ).select("vec_id", "cell").collect()
    }
    assert got == want and got
    # the foreign leftover neither blocked the build nor was adopted
    assert os.path.exists(lake + "__build_crashed")
    assert os.path.exists(os.path.join(lake, "_SUCCESS"))
    # a partial lake (no _SUCCESS) is refused, not published over
    partial = str(tmp_path / "partial_lake")
    os.makedirs(partial)
    with pytest.raises(ValueError, match="no _SUCCESS"):
        clustering.capped_cells_lake(
            emb, partial, k=4, iters=2, cap_frac=0.26, max_levels=1
        )
    # (b) fresh-session shape: the guard must never run when the lake
    # exists — poison the constructor
    def boom(*a, **kw):
        raise AssertionError("guard trajectory re-ran despite the lake")

    monkeypatch.setattr(clustering, "ivf_cell_assign_capped", boom)
    got2 = {
        r.vec_id: r.cell
        for r in clustering.capped_cells_lake(
            emb, lake, k=4, iters=2, cap_frac=0.26, max_levels=1
        ).select("vec_id", "cell").collect()
    }
    assert got2 == want
    # (c) different knobs against the same lake: refuse loudly
    with pytest.raises(ValueError, match="built with"):
        clustering.capped_cells_lake(
            emb, lake, k=4, iters=2, cap_frac=0.3, max_levels=1
        )


def test_clear_shared_caches_api(spark, sf_dir):
    """ADVICE r8: the session memos assume immutable data behind each
    cache_key; clear_shared_caches() is the exported invalidation for
    callers that regenerate a keyed corpus mid-session (and for tests,
    instead of reaching into private module dicts). Pin: entries are
    dropped (runs entries unpersisted), and the next call re-enters
    the underlying construction."""
    from goeventstream_spark.operators import clear_shared_caches, clustering, dedup
    from goeventstream_spark.sources import load_table

    clear_shared_caches()
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    emb = load_table(spark, sf_dir, "embeddings")
    runs = dedup.shared_substring_runs(docs, sf_dir, min_len=20, max_df=4)
    cells = clustering.shared_capped_cells(
        emb, sf_dir, k=4, iters=1, cap_frac=0.26, max_levels=1
    )
    dropped = clear_shared_caches()
    assert dropped == {"substring_runs": 1, "capped_cells": 1}
    assert not runs.storageLevel.useMemory  # unpersisted on invalidation
    runs2 = dedup.shared_substring_runs(docs, sf_dir, min_len=20, max_df=4)
    cells2 = clustering.shared_capped_cells(
        emb, sf_dir, k=4, iters=1, cap_frac=0.26, max_levels=1
    )
    assert runs2 is not runs and cells2 is not cells
    clear_shared_caches()
