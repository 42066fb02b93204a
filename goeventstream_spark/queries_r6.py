"""Round-6 query registrations — five genuinely new operator families
on top of the hardening work this round closed:

- ``kmv_setops_report``: KMV / bottom-k distinct sketches with
  union/intersection estimation (the Theta-sketch workload) — exact
  bottom-k is deterministic given the md5 hash, so even the sketch
  ESTIMATES hash-compare cross-engine, with exact counts and error
  ppms beside them.
- ``cluster_balanced_sample``: DCLM-style topic rebalancing over the
  hot-cell-capped IVF cells (uniform per-cluster quotas, deterministic
  md5 draws, order-independent kept-set checksums).
- ``kcore_peel_trajectory``: bounded-round k-core decomposition of the
  support-filtered co-purchase graph — the iterative graph-peeling
  family (PageRank's fixed-point cousin), with the per-round
  trajectory itself as the deterministic result.
- ``semantic_decontaminate``: embedding-space benchmark
  decontamination (the semantic twin of the k-gram ``decontaminate``):
  corpus vectors cosine-close to any held-out bench vector inside the
  same capped IVF cell are flagged, per-label contamination report.
- ``bpe_train_steps``: THREE true BPE training iterations as one
  declarative plan — each merge rewrites the corpus tokenization
  before the next pair census, with the winning pair broadcast back
  as a 1-row relation (no collect).

Cross-engine determinism: all counts/sums BIGINT; every ratio is one
integer floor-division (Spark ``div`` == DuckDB ``//`` on the
non-negative values used here); cosine follows the established
list_dot_product left-fold contract of queries_llm; string merges use
``replace`` (non-overlapping left-to-right in both engines) with
ASCII-control sentinels chr(1..3) that never reach the output.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from goeventstream_spark.queries import query
from goeventstream_spark.sources import load_table

# 12-hex-digit md5 slice -> BIGINT in [0, 2^48): DuckDB side (the
# queries_llm strpos idiom); Spark side uses conv(). 48 bits keeps
# every estimator product (31 * 2^48, k * est) inside BIGINT.
_KMV_K = 32
_KMV_H = 1 << 48
_HEX12_USER = " + ".join(
    "(strpos('0123456789abcdef', substr(md5(CAST(user_id AS VARCHAR)), "
    f"{j + 1}, 1)) - 1) * {16 ** (11 - j)}"
    for j in range(12)
)


@query(
    "kmv_setops_report",
    f"""
    WITH ev AS (
      SELECT DISTINCT event_type, {_HEX12_USER} AS h FROM events
    ),
    sk AS (
      SELECT event_type, h FROM (
        SELECT event_type, h,
               row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
        FROM ev
      ) WHERE rn <= {_KMV_K}
    ),
    stats AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS n_exact FROM ev GROUP BY 1
    ),
    tp AS (SELECT DISTINCT event_type FROM sk),
    pairs AS (
      SELECT a.event_type AS type_a, b.event_type AS type_b
      FROM tp a JOIN tp b ON a.event_type < b.event_type
    ),
    m AS (
      SELECT type_a, type_b, h, max(in_a) AS in_a, max(in_b) AS in_b FROM (
        SELECT p.type_a, p.type_b, s.h, 1 AS in_a, 0 AS in_b
        FROM pairs p JOIN sk s ON s.event_type = p.type_a
        UNION ALL
        SELECT p.type_a, p.type_b, s.h, 0 AS in_a, 1 AS in_b
        FROM pairs p JOIN sk s ON s.event_type = p.type_b
      ) GROUP BY 1, 2, 3
    ),
    mg AS (
      SELECT type_a, type_b, h, in_a, in_b FROM (
        SELECT type_a, type_b, h, in_a, in_b,
               row_number() OVER (PARTITION BY type_a, type_b ORDER BY h) AS rn
        FROM m
      ) WHERE rn <= {_KMV_K}
    ),
    pp AS (
      SELECT type_a, type_b,
             CAST(count(*) AS BIGINT) AS n_merged,
             max(h) AS mk,
             CAST(sum(in_a * in_b) AS BIGINT) AS k_common
      FROM mg GROUP BY 1, 2
    ),
    ex AS (
      SELECT a.event_type AS type_a, b.event_type AS type_b,
             CAST(count(*) AS BIGINT) AS exact_intersect
      FROM ev a JOIN ev b ON a.h = b.h AND a.event_type < b.event_type
      GROUP BY 1, 2
    ),
    calc AS (
      SELECT pp.type_a, pp.type_b, pp.k_common, pp.n_merged,
             CASE WHEN pp.n_merged < {_KMV_K} THEN pp.n_merged
                  ELSE CAST({(_KMV_K - 1) * _KMV_H} AS BIGINT) // pp.mk
             END AS est_union,
             sa.n_exact AS na, sb.n_exact AS nb,
             CAST(coalesce(ex.exact_intersect, 0) AS BIGINT) AS exact_intersect
      FROM pp
      JOIN stats sa ON sa.event_type = pp.type_a
      JOIN stats sb ON sb.event_type = pp.type_b
      LEFT JOIN ex ON ex.type_a = pp.type_a AND ex.type_b = pp.type_b
    )
    SELECT type_a, type_b,
           CAST(k_common AS BIGINT) AS k_common,
           CAST(est_union AS BIGINT) AS est_union,
           CAST(na + nb - exact_intersect AS BIGINT) AS exact_union,
           CAST((1000000 * abs(est_union - (na + nb - exact_intersect)))
                // (na + nb - exact_intersect) AS BIGINT) AS union_err_ppm,
           CAST((k_common * est_union)
                // least(CAST({_KMV_K} AS BIGINT), n_merged) AS BIGINT)
             AS est_intersect,
           CAST(exact_intersect AS BIGINT) AS exact_intersect
    FROM calc
    """,
)
def q_kmv_setops_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV (k-minimum-values / bottom-k) distinct sketches per event
    type, with the Theta-sketch set-operation workload on top: for
    every type pair, estimate |A ∪ B| from the merged bottom-k and
    |A ∩ B| via the Jaccard rule K_common/k · est_union (Beyer et al.
    SIGMOD'07), next to the EXACT union/intersection and the error in
    ppm — the sketch-accuracy audit a 100 TB overlap analysis runs on
    a small slice before trusting sketches corpus-wide.

    Determinism: the sketch is the exact bottom-k of a deterministic
    48-bit md5 hash, so estimates are reproducible values, not random
    draws — DuckDB replays hash, sketch, merge, and estimators
    bit-identically. When a set has fewer than k hashes the sketch IS
    the set and the estimator falls back to the exact count (the
    standard KMV small-set rule), so the query is total at every SF.

    100 TB shape: per-key bottom-k via the two-phase partition-local
    rank (sketches.kmv_bottom_k — no single task ever sorts a whole
    key); everything downstream of the sketches operates on k-row
    relations per (bounded) type pair. The exact sides join on the
    hash key (equi-shuffle) and exist to audit the estimator; at
    production scale one drops them and keeps the sketch half, which
    touches each input row exactly once.
    """
    from goeventstream_spark.operators import sketches

    k = _KMV_K
    events = load_table(spark, sf_dir, "events")
    # ev feeds the sketch, the exact per-type counts, and both sides of
    # the exact-intersect self-join — materialize the distinct once
    # (the oracle's DuckDB CTE is materialized by the multi-reference
    # heuristic; this keeps the Spark side the equal twin)
    ev = (
        events.select("event_type", sketches.kmv_hash48("user_id"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    sk = sketches.kmv_bottom_k(ev, "event_type", k=k).select("event_type", "h")
    stats = ev.groupBy("event_type").agg(F.count("*").cast("long").alias("n_exact"))
    tp = sk.select("event_type").distinct()
    pairs = (
        tp.alias("a")
        .join(F.broadcast(tp.alias("b")), F.col("a.event_type") < F.col("b.event_type"))
        .select(
            F.col("a.event_type").alias("type_a"),
            F.col("b.event_type").alias("type_b"),
        )
    )
    ma = pairs.join(sk.withColumnRenamed("event_type", "type_a"), "type_a").select(
        "type_a", "type_b", "h", F.lit(1).alias("in_a"), F.lit(0).alias("in_b")
    )
    mb = pairs.join(sk.withColumnRenamed("event_type", "type_b"), "type_b").select(
        "type_a", "type_b", "h", F.lit(0).alias("in_a"), F.lit(1).alias("in_b")
    )
    m = (
        ma.unionByName(mb)
        .groupBy("type_a", "type_b", "h")
        .agg(F.max("in_a").alias("in_a"), F.max("in_b").alias("in_b"))
    )
    w = Window.partitionBy("type_a", "type_b").orderBy("h")
    mg = m.withColumn("rn", F.row_number().over(w)).where(F.col("rn") <= k)
    pp = mg.groupBy("type_a", "type_b").agg(
        F.count("*").cast("long").alias("n_merged"),
        F.max("h").alias("mk"),
        F.sum(F.col("in_a") * F.col("in_b")).cast("long").alias("k_common"),
    )
    ex = (
        ev.alias("a")
        .join(
            ev.alias("b"),
            (F.col("a.h") == F.col("b.h"))
            & (F.col("a.event_type") < F.col("b.event_type")),
        )
        .groupBy(
            F.col("a.event_type").alias("type_a"),
            F.col("b.event_type").alias("type_b"),
        )
        .agg(F.count("*").cast("long").alias("exact_intersect"))
    )
    calc = (
        pp.join(
            stats.withColumnRenamed("event_type", "type_a").withColumnRenamed(
                "n_exact", "na"
            ),
            "type_a",
        )
        .join(
            stats.withColumnRenamed("event_type", "type_b").withColumnRenamed(
                "n_exact", "nb"
            ),
            "type_b",
        )
        .join(ex, ["type_a", "type_b"], "left")
        .withColumn(
            "exact_intersect", F.coalesce("exact_intersect", F.lit(0)).cast("long")
        )
        .withColumn(
            "est_union",
            F.expr(
                f"CASE WHEN n_merged < {k} THEN n_merged"
                f" ELSE CAST({(k - 1) * _KMV_H} AS BIGINT) div mk END"
            ),
        )
    )
    return calc.select(
        "type_a",
        "type_b",
        F.col("k_common").cast("long").alias("k_common"),
        F.col("est_union").cast("long").alias("est_union"),
        (F.col("na") + F.col("nb") - F.col("exact_intersect"))
        .cast("long")
        .alias("exact_union"),
        F.expr(
            "(1000000 * abs(est_union - (na + nb - exact_intersect)))"
            " div (na + nb - exact_intersect)"
        )
        .cast("long")
        .alias("union_err_ppm"),
        F.expr(f"(k_common * est_union) div least(CAST({k} AS BIGINT), n_merged)")
        .cast("long")
        .alias("est_intersect"),
        F.col("exact_intersect").cast("long").alias("exact_intersect"),
    )


def _cluster_balanced_sample_sql() -> str:
    from goeventstream_spark.kq_sql import KQ_CAPPED_CELL_CTES, KQ_CELL_CTES

    return f"""
    WITH {KQ_CELL_CTES},
    {KQ_CAPPED_CELL_CTES},
    tot AS (SELECT CAST(count(*) AS BIGINT) AS n,
                   CAST(count(DISTINCT cell) AS BIGINT) AS nc FROM kcap),
    q AS (SELECT greatest(CAST(1 AS BIGINT), n // nc) AS quota FROM tot),
    r AS (
      SELECT cell, vec_id,
             row_number() OVER (PARTITION BY cell
                                ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rn
      FROM kcap
    )
    SELECT CAST(cell AS BIGINT) AS block,
           CAST(count(*) AS BIGINT) AS n_total,
           CAST(max(quota) AS BIGINT) AS quota,
           CAST(sum(CASE WHEN rn <= quota THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           CAST(sum(CASE WHEN rn <= quota THEN vec_id ELSE 0 END) AS BIGINT)
             AS kept_id_sum
    FROM r, q GROUP BY cell
    """


@query("cluster_balanced_sample", _cluster_balanced_sample_sql())
def q_cluster_balanced_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-balanced sampling (the DCLM / topic-rebalance curation
    step): every hot-cell-capped IVF cell gets the SAME keep quota
    (floor(total/n_cells), min 1), filled by a deterministic md5 draw —
    over-represented semantic clusters are down-sampled toward a
    uniform topic mixture, rare clusters keep everything. The report
    pins the exact kept SET per cell via an order-independent id-sum
    checksum, not just sizes.

    Composes the round's skew-guarded blocking
    (clustering.ivf_cell_assign_capped, cap_frac 0.26 — the oracle
    replays the full conditional split trajectory via
    kq_sql.KQ_CAPPED_CELL_CTES) with sampling.balanced_quota_sample.

    100 TB shape: the quota is a 1-row broadcast (never a global
    window); the per-cell draw-rank window is bounded by the cell
    population, which the hot-cell cap bounds by construction — the
    same guarantee that makes in-cell pair generation safe.
    """
    from goeventstream_spark.kq_sql import KQ_CAPPED_FRAC
    from goeventstream_spark.operators import clustering, sampling

    emb = load_table(spark, sf_dir, "embeddings")
    cells = clustering.ivf_cell_assign_capped(
        emb, k=4, iters=2, scale=1000,
        cap_frac=KQ_CAPPED_FRAC, max_levels=1,
    ).select(F.col("vec_id"), F.col("cell").cast("long").alias("cell"))
    return sampling.balanced_quota_sample(cells, block_col="cell", id_col="vec_id")


@query(
    "kcore_peel_trajectory",
    """
    WITH op AS MATERIALIZED (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
    e0 AS MATERIALIZED (
      SELECT a.p AS a, b.p AS b FROM op a JOIN op b ON a.o = b.o AND a.p < b.p
      GROUP BY 1, 2 HAVING count(*) >= 2
    ),
    d1 AS MATERIALIZED (SELECT node FROM (SELECT a AS node FROM e0 UNION ALL SELECT b FROM e0)
           GROUP BY node HAVING count(*) >= 3),
    e1 AS MATERIALIZED (SELECT a, b FROM e0 WHERE a IN (SELECT node FROM d1)
                                 AND b IN (SELECT node FROM d1)),
    d2 AS MATERIALIZED (SELECT node FROM (SELECT a AS node FROM e1 UNION ALL SELECT b FROM e1)
           GROUP BY node HAVING count(*) >= 3),
    e2 AS MATERIALIZED (SELECT a, b FROM e1 WHERE a IN (SELECT node FROM d2)
                                 AND b IN (SELECT node FROM d2)),
    d3 AS MATERIALIZED (SELECT node FROM (SELECT a AS node FROM e2 UNION ALL SELECT b FROM e2)
           GROUP BY node HAVING count(*) >= 3),
    e3 AS MATERIALIZED (SELECT a, b FROM e2 WHERE a IN (SELECT node FROM d3)
                                 AND b IN (SELECT node FROM d3)),
    d4 AS MATERIALIZED (SELECT node FROM (SELECT a AS node FROM e3 UNION ALL SELECT b FROM e3)
           GROUP BY node HAVING count(*) >= 3),
    e4 AS MATERIALIZED (SELECT a, b FROM e3 WHERE a IN (SELECT node FROM d4)
                                 AND b IN (SELECT node FROM d4)),
    d5 AS MATERIALIZED (SELECT node FROM (SELECT a AS node FROM e4 UNION ALL SELECT b FROM e4)
           GROUP BY node HAVING count(*) >= 3),
    e5 AS MATERIALIZED (SELECT a, b FROM e4 WHERE a IN (SELECT node FROM d5)
                                 AND b IN (SELECT node FROM d5))
    SELECT CAST(1 AS BIGINT) AS peel_round,
           (SELECT CAST(count(*) AS BIGINT) FROM d1) AS nodes_remaining,
           (SELECT CAST(count(*) AS BIGINT) FROM e1) AS edges_remaining
    UNION ALL SELECT CAST(2 AS BIGINT),
           (SELECT CAST(count(*) AS BIGINT) FROM d2),
           (SELECT CAST(count(*) AS BIGINT) FROM e2)
    UNION ALL SELECT CAST(3 AS BIGINT),
           (SELECT CAST(count(*) AS BIGINT) FROM d3),
           (SELECT CAST(count(*) AS BIGINT) FROM e3)
    UNION ALL SELECT CAST(4 AS BIGINT),
           (SELECT CAST(count(*) AS BIGINT) FROM d4),
           (SELECT CAST(count(*) AS BIGINT) FROM e4)
    UNION ALL SELECT CAST(5 AS BIGINT),
           (SELECT CAST(count(*) AS BIGINT) FROM d5),
           (SELECT CAST(count(*) AS BIGINT) FROM e5)
    """,
)
def q_kcore_peel_trajectory(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core decomposition (k=3) of the support-filtered co-purchase
    part graph (parts sharing >= 2 orders), as a bounded 5-round peel
    trajectory: each round drops nodes of current degree < 3, then
    edges that lost an endpoint; the fixed point is the 3-core, and
    two consecutive equal rows certify convergence. The trajectory
    (not just the fixed point) is the declared result, so the output
    is deterministic whether or not 5 rounds converge — at sf0.01 the
    graph peels for all 5 rounds, at sf0.1 it empties by round 2, and
    pytest pins round-by-round equality to an independent Python peel
    to its true fixed point.

    100 TB shape (graph.kcore_peel_trajectory): per round, one
    map-side-combinable degree aggregation plus two left-semi
    equi-joins — the same unrolled-iteration discipline as
    nation_pagerank, with no windows, no collect, no cartesian. The
    support>=2 filter is the standard co-occurrence denoiser and also
    the edge-volume bound (pair counts shuffle on the pair key).
    """
    from goeventstream_spark.operators import graph

    li = load_table(spark, sf_dir, "lineitem")
    # the costliest subplan (lineitem self-join) feeds round 1 three
    # times plus the round-1 summary — materialize once, like the two
    # sibling graph queries below
    edges = graph.cooccurrence_edges(
        li, "l_orderkey", "l_partkey", min_support=2
    ).localCheckpoint(eager=False)
    return graph.kcore_peel_trajectory(edges, k=3, rounds=5)


def _semantic_decontaminate_sql() -> str:
    from goeventstream_spark.kq_sql import KQ_CAPPED_CELL_CTES, KQ_CELL_CTES

    return f"""
    WITH {KQ_CELL_CTES},
    {KQ_CAPPED_CELL_CTES},
    ev2 AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS dv FROM embeddings),
    corp AS (SELECT * FROM ev2 WHERE vec_id % 16 <> 7),
    ben AS (SELECT * FROM ev2 WHERE vec_id % 16 = 7),
    fl AS (
      SELECT DISTINCT c.vec_id, c.label
      FROM corp c
      JOIN kcap kc ON kc.vec_id = c.vec_id
      JOIN kcap kb ON kb.cell = kc.cell
      JOIN ben b ON b.vec_id = kb.vec_id
      WHERE list_dot_product(c.dv, b.dv)
            / (sqrt(list_dot_product(c.dv, c.dv))
               * sqrt(list_dot_product(b.dv, b.dv))) >= 0.35
    ),
    cg AS (SELECT label, CAST(count(*) AS BIGINT) AS n_corpus FROM corp GROUP BY 1),
    fg AS (SELECT label, CAST(count(*) AS BIGINT) AS nf FROM fl GROUP BY 1)
    SELECT CAST(cg.label AS INT) AS label, cg.n_corpus,
           CAST(coalesce(fg.nf, 0) AS BIGINT) AS n_flagged,
           CAST((1000000 * coalesce(fg.nf, 0)) // cg.n_corpus AS BIGINT)
             AS flagged_ppm
    FROM cg LEFT JOIN fg USING (label)
    """


@query("semantic_decontaminate", _semantic_decontaminate_sql())
def q_semantic_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space benchmark decontamination — the semantic twin of
    the k-gram ``decontaminate`` query: corpus vectors whose cosine to
    ANY held-out benchmark vector (vec_id % 16 == 7, the deterministic
    eval split) reaches 0.35 inside the same hot-cell-capped IVF cell
    are flagged as contaminated; the report is per-label corpus size,
    flagged count, and contamination ppm. Paraphrased eval leakage
    that exact n-gram matching misses is exactly what this pass
    catches in a real training pipeline.

    Recall contract: probe=1 cell blocking (the SemDeDup convention
    this repo's semantic queries share) — a contaminated pair split
    across cells is not flagged; the oracle replays the identical
    blocking, so the declared semantics are the blocked ones.

    100 TB shape: pair generation reuses similarity.embedding_near_dup
    on the capped cells (bounded in-cell Arrow GEMM blocks, one
    shuffle on the cell key); the bench side is a ~1/16 hash slice, so
    flagged pairs are sparse; per-label rollup is one bounded agg.
    """
    from goeventstream_spark.kq_sql import KQ_CAPPED_FRAC
    from goeventstream_spark.operators import clustering
    from goeventstream_spark.operators.similarity import _arrow_pair_scores

    emb = load_table(spark, sf_dir, "embeddings")
    cells = clustering.ivf_cell_assign_capped(
        emb, k=4, iters=2, scale=1000,
        cap_frac=KQ_CAPPED_FRAC, max_levels=1,
    )
    # only corpus x bench pairs are scored (a full in-cell triangular
    # enumeration would spend ~8x the Arrow GEMM work on corpus-corpus
    # and bench-bench pairs this query then discards); the scorer is
    # the same left-fold Arrow pass as embedding_near_dup, so the
    # oracle's list_dot_product chain stays bit-identical
    bench = cells.where(F.col("vec_id") % 16 == 7).select(
        "cell",
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_embedding"),
    )
    corp_side = cells.where(F.col("vec_id") % 16 != 7).select(
        "cell", "vec_id", "embedding"
    )
    scored = _arrow_pair_scores(corp_side.join(bench, "cell"))
    flagged = (
        scored.where(F.col("cos_sim") >= 0.35)
        .select("vec_id")
        .distinct()
        .join(emb.select("vec_id", "label"), "vec_id")
        .groupBy("label")
        .agg(F.count("*").cast("long").alias("nf"))
    )
    corp = emb.where(F.col("vec_id") % 16 != 7)
    cg = corp.groupBy("label").agg(F.count("*").cast("long").alias("n_corpus"))
    return (
        cg.join(flagged, "label", "left")
        .withColumn("nf", F.coalesce("nf", F.lit(0)).cast("long"))
        .select(
            F.col("label").cast("int").alias("label"),
            "n_corpus",
            F.col("nf").alias("n_flagged"),
            F.expr("(1000000 * nf) div n_corpus").cast("long").alias("flagged_ppm"),
        )
    )


def _bpe_ctes(steps: int = 3) -> str:
    """Shared oracle CTE chain generalized to depth-k (VERDICT r8 #3):
    the distinct vocabulary rewritten through ``steps`` learned merges
    (v{steps} carries w0..w{steps}, p1..p{steps}, c1..c{steps}) —
    composed by the trainer trajectory and the fertility report at the
    declared depth 3, and by the encode report at the trainer's proven
    depth 8. Merge i's sentinel is chr(i); the v0 filter excludes
    every sentinel the chain will mint, exactly mirroring
    text.bpe_merged_vocab's defensive filter."""

    def pc(i: int) -> str:
        return f"""
    pc{i} AS (
      SELECT pair, sum(freq) AS c FROM (
        SELECT freq, unnest(list_transform(generate_series(1, length(w{i - 1}) - 1),
                                           j -> substr(w{i - 1}, j, 2))) AS pair
        FROM v{i - 1} WHERE length(w{i - 1}) >= 2
      ) GROUP BY 1
    ),
    t{i} AS (SELECT pair AS p{i}, c AS c{i} FROM pc{i} ORDER BY c DESC, pair LIMIT 1),
    v{i} AS (SELECT v{i - 1}.*, replace(w{i - 1}, p{i}, chr({i})) AS w{i}, p{i}, c{i}
             FROM v{i - 1}, t{i})"""

    filt = "\n        AND ".join(
        f"strpos(word, chr({i})) = 0" for i in range(1, steps + 1)
    )
    chain = ",".join(pc(i) for i in range(1, steps + 1))
    return f"""v0 AS (
      SELECT word AS w0, CAST(count(*) AS BIGINT) AS freq FROM (
        SELECT unnest(string_split(text, ' ')) AS word FROM documents
      ) WHERE word <> '' AND {filt}
      GROUP BY 1
    ),{chain}"""


def _bpe_v3_ctes() -> str:
    """The depth-3 instantiation (the trainer's and fertility report's
    declared depth — their hashes are pinned at 3)."""
    return _bpe_ctes(3)


def _bpe_steps_sql() -> str:
    return f"""
    WITH {_bpe_v3_ctes()},
    s AS (
      SELECT CAST(sum(freq * length(w0)) AS BIGINT) AS t0,
             CAST(sum(freq * length(w1)) AS BIGINT) AS t1,
             CAST(sum(freq * length(w2)) AS BIGINT) AS t2,
             CAST(sum(freq * length(w3)) AS BIGINT) AS t3,
             max(p1) AS p1, CAST(max(c1) AS BIGINT) AS c1,
             max(p2) AS p2, CAST(max(c2) AS BIGINT) AS c2,
             max(p3) AS p3, CAST(max(c3) AS BIGINT) AS c3
      FROM v3
    )
    SELECT CAST(1 AS BIGINT) AS step, p1 AS pair, c1 AS pair_count,
           t0 AS tokens_before, t1 AS tokens_after FROM s
    UNION ALL
    SELECT CAST(2 AS BIGINT), replace(p2, chr(1), p1), c2, t1, t2 FROM s
    UNION ALL
    SELECT CAST(3 AS BIGINT), replace(replace(p3, chr(2), p2), chr(1), p1),
           c3, t2, t3 FROM s
    """


@query("bpe_train_steps", _bpe_steps_sql())
def q_bpe_train_steps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three TRUE BPE tokenizer-training iterations (Sennrich et al.
    2016) as one declarative plan — unlike ``bpe_merge_candidates``
    (the pass-1 pair census), each step here rewrites the corpus
    tokenization with the learned merge before the next pair count,
    so steps 2 and 3 count pairs over MERGED tokens. Output per step:
    the winning pair (surface chars), its freq-weighted count, and
    corpus token totals before/after the merge — the compression
    trajectory a tokenizer-training run reports.

    See text.bpe_train_steps for the sentinel-token representation,
    the replace() merge-order contract, and the 100 TB shape (distinct
    vocabulary explodes map-side; pair censuses aggregate over the
    bounded pair alphabet; each winner is a 1-row broadcast — the
    whole trainer never collects).
    """
    from goeventstream_spark.operators.text import bpe_train_steps

    docs = load_table(spark, sf_dir, "documents")
    return bpe_train_steps(docs, steps=3)


# Deterministic ±1 Rademacher sign for the JL projection matrix:
# parity of the first md5 hex digit of "d_j" (d, j zero-based).
# Spark and DuckDB spellings of the same integer algebra.
_JL_DIMS, _JL_K = 64, 16
_JL_SIGN_SPARK = (
    "1 - 2 * (CAST(conv(substring(md5(concat(CAST(d AS STRING), '_',"
    " CAST(j AS STRING))), 1, 1), 16, 10) AS INT) % 2)"
)
_JL_SIGN_DUCK = (
    "1 - 2 * ((strpos('0123456789abcdef', substr(md5(CAST(d AS VARCHAR)"
    " || '_' || CAST(j AS VARCHAR)), 1, 1)) - 1) % 2)"
)


@query(
    "jl_projection_audit",
    f"""
    WITH e AS (SELECT vec_id, list_transform(CAST(embedding AS DOUBLE[]),
                        x -> CAST(floor(x * 1000) AS BIGINT)) AS v
               FROM embeddings),
    u AS (SELECT vec_id, generate_subscripts(v, 1) - 1 AS d, unnest(v) AS q FROM e),
    proj AS (
      SELECT d, j, {_JL_SIGN_DUCK} AS s FROM (
        SELECT dr.range AS d, jr.range AS j
        FROM range(0, {_JL_DIMS}) dr, range(0, {_JL_K}) jr
      )
    ),
    y AS (SELECT vec_id, j, sum(s * q) AS y FROM u JOIN proj USING (d) GROUP BY 1, 2),
    n1 AS (SELECT vec_id, sum(q * q) AS n2o FROM u GROUP BY 1),
    n2 AS (SELECT vec_id, sum(y * y) AS n2p FROM y GROUP BY 1)
    SELECT n1.vec_id,
           CAST(n2o AS BIGINT) AS norm2_orig,
           CAST(n2p AS BIGINT) AS norm2_proj,
           CAST((1000000 * n2p) // nullif({_JL_K} * n2o, 0) AS BIGINT)
             AS distortion_ppm
    FROM n1 JOIN n2 USING (vec_id)
    """,
)
def q_jl_projection_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson-Lindenstrauss random-projection dimensionality reduction
    (64 -> 16 dims) with a per-vector distortion audit: project every
    integer-grid vector through a deterministic ±1 Rademacher matrix
    (Achlioptas 2001 — database-friendly random projections; the sign
    of dimension (d, j) is an md5 parity, so the "random" matrix is a
    pure expression, never stored) and report
    ||y||²/(k·||q||²) in ppm — the JL lemma says these concentrate
    around 1e6, and the audit is the evidence a pipeline checks before
    swapping full vectors for projected ones in coarse filtering.

    Integer-exact throughout: grid values q_d = floor(1000·x_d) are
    BIGINT, projections y_j = Σ ±q_d are BIGINT sums, both norms are
    BIGINT dot products, and the single division is an integer floor —
    hash-identical cross-engine, no transcendentals.

    100 TB shape: one posexplode map pass over the corpus, one join
    against the 1024-row broadcast sign matrix, two map-side-combinable
    aggregations keyed by (vec_id, j) / vec_id. Nothing global, no
    windows, no collect; the projected width k is a constant.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    u = emb.select(
        "vec_id", F.posexplode("embedding").alias("d", "x")
    ).select(
        "vec_id",
        "d",
        F.expr("CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT)").alias("q"),
    )
    proj = (
        spark.range(_JL_DIMS)
        .select(F.col("id").cast("int").alias("d"))
        .crossJoin(spark.range(_JL_K).select(F.col("id").cast("int").alias("j")))
        .select("d", "j", F.expr(_JL_SIGN_SPARK).alias("s"))
    )
    y = (
        u.join(F.broadcast(proj), "d")
        .groupBy("vec_id", "j")
        .agg(F.sum(F.col("s") * F.col("q")).alias("y"))
    )
    n1 = u.groupBy("vec_id").agg(F.sum(F.col("q") * F.col("q")).alias("n2o"))
    n2 = y.groupBy("vec_id").agg(F.sum(F.col("y") * F.col("y")).alias("n2p"))
    return n1.join(n2, "vec_id").select(
        "vec_id",
        F.col("n2o").cast("long").alias("norm2_orig"),
        F.col("n2p").cast("long").alias("norm2_proj"),
        F.expr(f"(1000000 * n2p) div nullif({_JL_K} * n2o, 0)")
        .cast("long")
        .alias("distortion_ppm"),
    )


_COS_FULL = (
    "list_dot_product(q.qe, c.e) / (sqrt(list_dot_product(q.qe, q.qe))"
    " * sqrt(list_dot_product(c.e, c.e)))"
)


MATRYOSHKA_QUERY_CAP = 64


@query(
    "matryoshka_recall_report",
    f"""
    WITH full_e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS e
                    FROM embeddings),
    tr_e AS (SELECT vec_id, label, (CAST(embedding AS DOUBLE[]))[1:16] AS e
             FROM embeddings),
    qf AS (SELECT vec_id AS query_id, label, e AS qe FROM full_e
           WHERE vec_id % 20 = 0
           ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
           LIMIT {MATRYOSHKA_QUERY_CAP}),
    qt AS (SELECT q.query_id, t.label, t.e AS qe
           FROM qf q JOIN tr_e t ON t.vec_id = q.query_id),
    topf AS (
      SELECT query_id, vec_id FROM (
        SELECT q.query_id, c.vec_id,
               row_number() OVER (PARTITION BY q.query_id
                                  ORDER BY {_COS_FULL} DESC, c.vec_id) AS rk
        FROM qf q, full_e c WHERE c.vec_id <> q.query_id
      ) WHERE rk <= 5
    ),
    topt AS (
      SELECT query_id, vec_id FROM (
        SELECT q.query_id, c.vec_id,
               row_number() OVER (PARTITION BY q.query_id
                                  ORDER BY {_COS_FULL} DESC, c.vec_id) AS rk
        FROM qt q, tr_e c WHERE c.vec_id <> q.query_id
      ) WHERE rk <= 5
    ),
    hits AS (
      SELECT f.query_id, count(*) AS hit
      FROM topf f JOIN topt t ON t.query_id = f.query_id AND t.vec_id = f.vec_id
      GROUP BY 1
    )
    SELECT CAST(q.label AS INT) AS label,
           CAST(count(*) AS BIGINT) AS n_queries,
           CAST(sum(coalesce(h.hit, 0)) AS BIGINT) AS hits,
           CAST((1000000 * sum(coalesce(h.hit, 0))) // (5 * count(*)) AS BIGINT)
             AS recall_ppm
    FROM qf q LEFT JOIN hits h USING (query_id)
    GROUP BY q.label
    """,
)
def q_matryoshka_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka / truncated-dimension retrieval evaluation: for every
    20th vector as a query, exact cosine top-5 over the corpus at FULL
    width (64 dims) vs at the first 16 dims only, reporting per-label
    recall@5 of the truncated index against the full one — the audit
    that decides whether prefix-truncated embeddings (Kusupati et al.
    2022, Matryoshka representation learning) are good enough for the
    cheap first-stage filter at 100 TB.

    Both rankings reuse similarity.cosine_topk (broadcast query side,
    Arrow-batched corpus scan whose double fold is bit-identical to the
    SQL sum chain); truncation is an array slice, so the truncated pass
    reads the SAME column pruned to a prefix. Recall is exact integer
    arithmetic (hits / 5·n_queries in ppm, one floor division).

    BOUNDED QUERY STRATUM (r7, the ann_quality_report convention):
    cosine_topk's contract is a broadcast-able query side, and 5% of a
    100 TB corpus is not broadcast-able — so the stratum is capped at
    an ABSOLUTE MATRYOSHKA_QUERY_CAP=64 queries, chosen as the 64
    lowest by (md5(vec_id), vec_id) within the every-20th stratum: a
    deterministic hash-sample whose membership is independent of
    corpus layout, computed as a TakeOrderedAndProject(64) — the
    driver never materializes more than cap rows and the broadcast is
    O(cap·dims) regardless of corpus size. The cap provably BINDS at
    sf0.1 (stratum 100 -> 64) and is a no-op at sf0.01 (stratum 25),
    so both the capped and uncapped selection paths are hash-pinned
    cross-engine. The truncated query set is derived from the SAME
    capped ids (join on query_id), so both rankings always evaluate an
    identical stratum.
    """
    from goeventstream_spark.operators import similarity

    emb = load_table(spark, sf_dir, "embeddings")
    tr = emb.select(
        "vec_id", "label", F.slice("embedding", 1, 16).alias("embedding")
    )
    qf = (
        emb.where(F.col("vec_id") % 20 == 0)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("label").alias("q_label"),
            F.col("embedding").alias("q_embedding"),
        )
        .orderBy(F.md5(F.col("query_id").cast("string")), "query_id")
        .limit(MATRYOSHKA_QUERY_CAP)
    )
    qt = qf.select(
        "query_id", F.slice("q_embedding", 1, 16).alias("q_embedding")
    )
    topf = similarity.cosine_topk(emb, qf.drop("q_label"), k=5).select(
        "query_id", "vec_id"
    )
    topt = similarity.cosine_topk(tr, qt, k=5).select("query_id", "vec_id")
    hits = (
        topf.join(topt, ["query_id", "vec_id"])
        .groupBy("query_id")
        .agg(F.count("*").alias("hit"))
    )
    return (
        qf.select("query_id", "q_label")
        .join(hits, "query_id", "left")
        .withColumn("hit", F.coalesce("hit", F.lit(0)))
        .groupBy(F.col("q_label").cast("int").alias("label"))
        .agg(
            F.count("*").cast("long").alias("n_queries"),
            F.sum("hit").cast("long").alias("hits"),
            F.expr("(1000000 * sum(hit)) div (5 * count(*))")
            .cast("long")
            .alias("recall_ppm"),
        )
    )


def _bpe_fertility_sql() -> str:
    return f"""
    WITH {_bpe_v3_ctes()}
    SELECT CAST(length(w3) AS BIGINT) AS tokens_per_word,
           CAST(count(*) AS BIGINT) AS n_distinct_words,
           CAST(sum(freq) AS BIGINT) AS corpus_words,
           CAST(sum(freq * length(w0)) AS BIGINT) AS corpus_chars
    FROM v3 GROUP BY 1
    """


@query("bpe_fertility_report", _bpe_fertility_sql())
def q_bpe_fertility_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility distribution after the 3 learned BPE merges:
    how many tokens each word costs under the trained-so-far merge
    table — the histogram a tokenizer-training run watches to decide
    how many more merges the token budget needs (fertility = tokens
    per word; chars ride along so compression per bucket is visible).
    Reuses the trainer's merged vocabulary (text.bpe_merged_vocab);
    the aggregation is one bounded group-by on token count.
    """
    from goeventstream_spark.operators.text import bpe_merged_vocab

    v = bpe_merged_vocab(load_table(spark, sf_dir, "documents"), steps=3)
    return v.groupBy(
        F.length("w3").cast("long").alias("tokens_per_word")
    ).agg(
        F.count("*").cast("long").alias("n_distinct_words"),
        F.sum("freq").cast("long").alias("corpus_words"),
        F.sum(F.col("freq") * F.length("w0")).cast("long").alias("corpus_chars"),
    )


def _calibration_sql() -> str:
    from goeventstream_spark.queries_llm import _WORDS
    from goeventstream_spark.queries_r3 import _GOPHER_PASS_CTE
    from goeventstream_spark.queries_r5 import _HEX6

    return f"""
    WITH {_WORDS},
    {_GOPHER_PASS_CTE},
    w AS (
      SELECT doc_id, ({_HEX6}) % 2001 - 1000 AS wt FROM words
    ),
    d AS (
      SELECT doc_id, sum(wt) AS sw, count(*) AS n FROM w GROUP BY doc_id
    ),
    j AS (
      SELECT d.doc_id,
             CAST(floor((d.sw * 5) / (1000.0 * d.n)) AS BIGINT) AS bucket,
             CASE WHEN gq.doc_id IS NULL THEN 0 ELSE 1 END AS pass
      FROM d LEFT JOIN gq ON gq.doc_id = d.doc_id
    )
    SELECT bucket,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(pass) AS BIGINT) AS n_gopher_pass,
           CAST((1000000 * sum(pass)) // count(*) AS BIGINT) AS pass_ppm
    FROM j GROUP BY bucket
    """


@query("classifier_calibration_report", _calibration_sql())
def q_classifier_calibration_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calibration / reliability readout of the hashed linear quality
    classifier against the Gopher rule gate as reference labels: bucket
    every document by its classifier logit band (the queries_r5
    fixed-band bucketing, floor(5·sw/(1000·n))) and report how often
    the rule gate passes inside each band — the monotonicity check a
    curation pipeline runs before trusting a cheap learned score to
    replace (or pre-filter for) the expensive rule cascade.

    Both sides reuse the declared components exactly: the classifier
    relation is text.hashed_linear_scores, the labels are
    text.gopher_quality_flags' gopher_pass; the oracle composes the
    same two published CTE fragments. All counts BIGINT; the rate is
    one integer floor division per (bounded) bucket.

    100 TB shape: two independent explode+agg passes over the corpus
    joined once on doc_id (both sides already keyed by it), then one
    bounded aggregation over ~10 logit bands.
    """
    from goeventstream_spark.operators.text import (
        gopher_quality_flags,
        hashed_linear_scores,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    d = hashed_linear_scores(docs)
    g = gopher_quality_flags(docs).select("doc_id", "gopher_pass")
    return (
        d.join(g, "doc_id", "left")
        .select(
            F.floor((F.col("sw") * 5) / (F.lit(1000.0) * F.col("n")))
            .cast("long")
            .alias("bucket"),
            F.coalesce("gopher_pass", F.lit(0)).alias("pass"),
        )
        .groupBy("bucket")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("pass").cast("long").alias("n_gopher_pass"),
            F.expr("(1000000 * sum(pass)) div count(*)")
            .cast("long")
            .alias("pass_ppm"),
        )
    )


@query(
    "link_prediction_ra_topk",
    """
    WITH op AS MATERIALIZED (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
                             FROM lineitem),
    e2 AS MATERIALIZED (
      SELECT a.p AS a, b.p AS b FROM op a JOIN op b ON a.o = b.o AND a.p < b.p
      GROUP BY 1, 2 HAVING count(*) >= 2
    ),
    deg AS MATERIALIZED (
      SELECT node, count(*) AS d FROM (
        SELECT a AS node FROM e2 UNION ALL SELECT b FROM e2
      ) GROUP BY node
    ),
    arcs AS MATERIALIZED (
      SELECT a AS z, b AS x FROM e2 UNION ALL SELECT b AS z, a AS x FROM e2
    ),
    wedges AS (
      SELECT w1.x AS u, w2.x AS v, w1.z AS z
      FROM arcs w1
      JOIN arcs w2 ON w1.z = w2.z AND w1.x < w2.x
      JOIN deg dz ON dz.node = w1.z AND dz.d <= 64
    ),
    cand AS (
      SELECT u, v,
             CAST(count(*) AS BIGINT) AS common_neighbors,
             CAST(sum(1000000000 // dz.d) AS BIGINT) AS ra_ppb
      FROM wedges JOIN deg dz ON dz.node = wedges.z
      GROUP BY u, v
    )
    SELECT u AS part_u, v AS part_v, common_neighbors, ra_ppb
    FROM cand
    WHERE NOT EXISTS (SELECT 1 FROM e2 WHERE e2.a = cand.u AND e2.b = cand.v)
    ORDER BY ra_ppb DESC, part_u, part_v LIMIT 20
    """,
)
def q_link_prediction_ra_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link prediction on the support>=2 co-purchase graph: the top-20
    NON-adjacent part pairs by Resource-Allocation index
    RA(u,v) = Σ_z 1/deg(z) over common neighbors z (Zhou-Lü-Zhang
    2009) — where edge_strength_ra_topk scores EXISTING ties, this
    ranks candidate ties that do not exist yet, the
    "customers who bought these also bought" recommender primitive.

    Scale contract: candidate generation is open-wedge enumeration,
    whose volume is Σ_z deg(z)² — quadratic in hub degree. Two
    defenses: the support>=2 edge filter (the same denoiser the k-core
    query uses) and an explicit hub cap (wedge centers with deg > 64
    are excluded — their per-neighbor RA contribution is < 1/64 of a
    low-degree center's, and capping bounds wedge work by cap·|E|).
    Both are part of the declared semantics; the oracle replays them.
    1/deg terms are parts-per-billion BIGINT floors (order-free sums);
    existing edges drop via an anti-join; top-20 is TakeOrdered.
    """
    from goeventstream_spark.operators import graph

    li = load_table(spark, sf_dir, "lineitem")
    e2 = graph.cooccurrence_edges(
        li, "l_orderkey", "l_partkey", min_support=2
    ).localCheckpoint(eager=False)
    deg = (
        e2.select(F.explode(F.array("a", "b")).alias("node"))
        .groupBy("node")
        .agg(F.count("*").alias("d"))
    )
    arcs = e2.select(F.col("a").alias("z"), F.col("b").alias("x")).unionAll(
        e2.select(F.col("b").alias("z"), F.col("a").alias("x"))
    )
    # Hub cap FIRST: only capped wedge centers enter the self-join, so
    # hub wedges are never enumerated (previously the cap filtered
    # after the pair join — deg² work for hubs before dropping them).
    # No broadcast hint: deg is O(|V|) — data-sized, not a dimension —
    # and a forced broadcast would bypass the autoBroadcast threshold
    # and OOM at 100 TB; the cap join is a plain equi-join on z, so
    # AQE picks broadcast vs shuffle from the actual capped size.
    capped = (
        deg.where(F.col("d") <= 64).withColumnRenamed("node", "z")
    )
    w1 = arcs.withColumnRenamed("x", "u").join(capped, "z")
    w2 = arcs.withColumnRenamed("x", "v")
    wedges = w1.join(w2, "z").where(F.col("u") < F.col("v"))
    cand = wedges.groupBy("u", "v").agg(
        F.count("*").cast("long").alias("common_neighbors"),
        F.expr("CAST(sum(1000000000 div d) AS BIGINT)").alias("ra_ppb"),
    )
    non_edges = cand.join(
        e2, (cand["u"] == e2["a"]) & (cand["v"] == e2["b"]), "left_anti"
    )
    return (
        non_edges.select(
            F.col("u").alias("part_u"),
            F.col("v").alias("part_v"),
            "common_neighbors",
            "ra_ppb",
        )
        .orderBy(F.col("ra_ppb").desc(), "part_u", "part_v")
        .limit(20)
    )


def _walk_step_duck(i: int) -> str:
    return f"""
    s{i} AS MATERIALIZED (
      SELECT start, nbr AS node FROM (
        SELECT c.start, n.x AS nbr,
               row_number() OVER (
                 PARTITION BY c.start
                 ORDER BY md5(CAST(c.node AS VARCHAR) || '_{i}_'
                              || CAST(n.x AS VARCHAR)), n.x) AS rk
        FROM s{i - 1} c JOIN warcs n ON n.z = c.node
      ) WHERE rk = 1
    )"""


@query(
    "deterministic_walk_paths",
    f"""
    WITH op AS MATERIALIZED (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
                             FROM lineitem),
    we AS MATERIALIZED (
      SELECT a.p AS a, b.p AS b FROM op a JOIN op b ON a.o = b.o AND a.p < b.p
      GROUP BY 1, 2 HAVING count(*) >= 2
    ),
    warcs AS MATERIALIZED (
      SELECT a AS z, b AS x FROM we UNION ALL SELECT b AS z, a AS x FROM we
    ),
    s0 AS MATERIALIZED (SELECT DISTINCT z AS start, z AS node FROM warcs),
    {_walk_step_duck(1).lstrip()},{_walk_step_duck(2)},{_walk_step_duck(3)}
    SELECT start, CAST(1 AS BIGINT) AS step, node FROM s1
    UNION ALL SELECT start, CAST(2 AS BIGINT), node FROM s2
    UNION ALL SELECT start, CAST(3 AS BIGINT), node FROM s3
    """,
)
def q_deterministic_walk_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """node2vec-style walk corpus generation, made reproducible: one
    3-step walk from EVERY node of the support>=2 co-purchase graph,
    where each step moves to the neighbor minimizing
    md5(current || '_' || step || '_' || neighbor) — a deterministic
    stand-in for the uniform next-step draw with identical plumbing
    (per-node neighbor ranking), so the emitted (start, step, node)
    paths — the skip-gram training corpus of DeepWalk/node2vec — are
    bit-reproducible and cross-engine oracled. Walks that meet at the
    same node on the same step move together (the hash keys on
    (current, step), not on start) — documented, and exactly what a
    shared per-step random tape does.

    100 TB shape: each step is one equi-join of the frontier against
    the arc list plus a rank window partitioned per start (bounded by
    the current node's degree); 3 steps unrolled, frontier size
    constant at |V|. No collect, no global windows, no cartesian.
    """
    from goeventstream_spark.operators import graph

    li = load_table(spark, sf_dir, "lineitem")
    e2 = graph.cooccurrence_edges(
        li, "l_orderkey", "l_partkey", min_support=2
    ).localCheckpoint(eager=False)
    arcs = e2.select(F.col("a").alias("z"), F.col("b").alias("x")).unionAll(
        e2.select(F.col("b").alias("z"), F.col("a").alias("x"))
    ).localCheckpoint(eager=False)
    cur = arcs.select(F.col("z").alias("start"), F.col("z").alias("node")).distinct()
    outs = []
    for i in range(1, 4):
        cand = cur.join(arcs.withColumnRenamed("z", "node"), "node").select(
            "start",
            F.col("x").alias("nbr"),
            F.md5(
                F.concat(
                    F.col("node").cast("string"),
                    F.lit(f"_{i}_"),
                    F.col("x").cast("string"),
                )
            ).alias("draw"),
        )
        w = Window.partitionBy("start").orderBy("draw", "nbr")
        # Round 10 (VERDICT r9 #5): lazy checkpoint — the plan is
        # truncated either way; eager ran one standalone job per step
        # (3 extra jobs before the query's action). Each step's blocks
        # materialize inside the final action and are reused by its two
        # consumers (next step's join + the output union).
        cur = (
            cand.withColumn("rk", F.row_number().over(w))
            .where(F.col("rk") == 1)
            .select("start", F.col("nbr").alias("node"))
            .localCheckpoint(eager=False)
        )
        outs.append(
            cur.select("start", F.lit(i).cast("long").alias("step"), "node")
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out


@query(
    "aqp_sample_estimates",
    """
    WITH s AS (
      SELECT o_orderpriority,
             CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
             CASE WHEN substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 1) = '0'
                  THEN 1 ELSE 0 END AS in_sample
      FROM orders
    )
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT) AS exact_count,
           CAST(16 * sum(in_sample) AS BIGINT) AS est_count,
           CAST((1000000 * abs(16 * sum(in_sample) - count(*))) // count(*)
                AS BIGINT) AS count_err_ppm,
           CAST(sum(cents) AS BIGINT) AS exact_cents,
           CAST(16 * sum(in_sample * cents) AS BIGINT) AS est_cents,
           CAST((1000000 * abs(16 * sum(in_sample * cents) - sum(cents)))
                // sum(cents) AS BIGINT) AS cents_err_ppm
    FROM s GROUP BY o_orderpriority
    """,
)
def q_aqp_sample_estimates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate query processing (BlinkDB-style) with its accuracy
    audit: per order priority, the Horvitz-Thompson estimates of group
    count and revenue from a deterministic 1/16 hash sample (first md5
    hex digit of the key = '0', inclusion probability exactly 1/16 →
    inverse-probability weight 16) next to the exact answers and the
    error in ppm — the calibration run that decides whether dashboards
    can serve the 16x-cheaper sampled scan at 100 TB.

    Determinism: the sample is a pure hash predicate (the repo's
    sampling.sample_by_hash membership rule), so the "random" estimate
    is a reproducible value the oracle replays exactly; money stays in
    integer cents and the error ratios are single floor divisions.

    100 TB shape: ONE scan computes both sides here (the audit); the
    production form filters the sample predicate at the parquet scan
    and touches 1/16 of the data. Estimation is the same
    map-side-combinable aggregation either way — no extra shuffle for
    the weighting, since the weight is a constant.
    """
    orders = load_table(spark, sf_dir, "orders")
    s = orders.select(
        "o_orderpriority",
        F.expr("CAST(round(o_totalprice * 100) AS BIGINT)").alias("cents"),
        F.when(
            F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 1) == "0", 1
        )
        .otherwise(0)
        .alias("in_sample"),
    )
    return s.groupBy("o_orderpriority").agg(
        F.count("*").cast("long").alias("exact_count"),
        (16 * F.sum("in_sample")).cast("long").alias("est_count"),
        F.expr("(1000000 * abs(16 * sum(in_sample) - count(*))) div count(*)")
        .cast("long")
        .alias("count_err_ppm"),
        F.sum("cents").cast("long").alias("exact_cents"),
        (16 * F.sum(F.col("in_sample") * F.col("cents")))
        .cast("long")
        .alias("est_cents"),
        F.expr(
            "(1000000 * abs(16 * sum(in_sample * cents) - sum(cents)))"
            " div sum(cents)"
        )
        .cast("long")
        .alias("cents_err_ppm"),
    )
