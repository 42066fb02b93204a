"""Round-9 query registrations — closing the substring-dedup loop:

- ``substring_apply_audit``: detection RE-RUN over the STRIPPED corpus
  (VERDICT r8 #5) — per-language residual band-gram mass after one
  apply pass. Lee et al. 2022 leave "is one pass enough" implicit;
  this is the quantitative readout (and the natural fixed-point
  stopping metric for an iterated strip): seam-created grams (two kept
  segments joining into a NEW duplicated 20-gram) and hot grams whose
  document frequency FELL into the dedup band when covered copies were
  excised both show up here as nonzero residual.
- ``curate_corpus_substring``: the full curation funnel with the
  substring stage composed in (VERDICT r8 #6) — Gopher gate ->
  substring strip (apply, detection scoped to the gated corpus) ->
  near-duplicate clustering on the STRIPPED text (exact n-gram Jaccard
  pairs -> connected components, keep the lowest-id representative) ->
  SemDeDup semantic prune, reported as per-stage survivor counts
  (docs + chars), the funnel-shape readout a pipeline dashboard shows.
- ``substring_apply_round2``: the fixed-point ITERATION — detection
  and the strip run a second time over the pass-1 output, reporting
  per-language second-pass removal beside pass-1 state; the
  convergence evidence the audit's residual motivates.

Cross-engine determinism: gram keys are md5 of the raw 20-char
substring; counts are BIGINT; the one ratio is the 128-bit
integer-floor ppm pattern; the SemDeDup cosine threshold reuses the
exact float algebra curate_corpus_semantic already pins.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from goeventstream_spark.operators import dedup, similarity, text
from goeventstream_spark.queries import query
from goeventstream_spark.queries_r7 import SUBSTR_MAX_DF, SUBSTR_MIN_LEN
from goeventstream_spark.sources import load_table


def _detect_and_strip_ctes(src: str, p: str = "") -> str:
    """The full detect -> strip oracle chain over relation ``src``
    (doc_id, text), emitting ``{p}after(doc_id, ta)`` with ta = the
    stripped text for EVERY src document — the substring_dedup_apply
    trajectory (queries_r7) parameterized on its source so the audit
    (src=documents), the funnel (src=the Gopher-gated subset), and the
    second-pass strip (src=the pass-1 output, CTE names prefixed with
    ``p``) replay the identical transform. DISTINCT on iv is the
    tie-order guard pinned in r8 (duplicate intervals make separate
    window passes nondeterministic in DuckDB)."""
    body = f"""pos AS (
      SELECT doc_id, text,
             unnest(generate_series(1, length(text) - {SUBSTR_MIN_LEN - 1})) AS p
      FROM {src}
    ),
    g AS (SELECT doc_id, CAST(p AS BIGINT) AS pos,
                 md5(substr(text, CAST(p AS INT), {SUBSTR_MIN_LEN})) AS gh
          FROM pos),
    el AS (SELECT gh FROM (SELECT gh, count(DISTINCT doc_id) AS df
                           FROM g GROUP BY gh)
           WHERE df BETWEEN 2 AND {SUBSTR_MAX_DF}),
    m AS (SELECT a.doc_id AS doc_a, a.pos AS pos_a,
                 b.doc_id AS doc_b, b.pos AS pos_b
          FROM g a JOIN el USING (gh) JOIN g b USING (gh)
          WHERE a.doc_id < b.doc_id),
    runs AS (
      SELECT doc_a, doc_b, CAST(min(pos_a) AS BIGINT) AS start_a,
             CAST(min(pos_a) - diag AS BIGINT) AS start_b,
             CAST(max(pos_a) - min(pos_a) + {SUBSTR_MIN_LEN} AS BIGINT) AS match_len
      FROM (SELECT doc_a, doc_b, pos_a - pos_b AS diag, pos_a,
                   pos_a - row_number() OVER (PARTITION BY doc_a, doc_b,
                                                           pos_a - pos_b
                                              ORDER BY pos_a) AS grp
            FROM m)
      GROUP BY doc_a, doc_b, diag, grp),
    iv AS (
      SELECT DISTINCT doc_b AS doc_id, start_b AS s,
                      start_b + match_len AS e
      FROM runs
    ),
    sw AS (SELECT doc_id, s, e,
                  max(e) OVER (PARTITION BY doc_id ORDER BY s, e
                               ROWS BETWEEN UNBOUNDED PRECEDING
                                        AND 1 PRECEDING) AS pme
           FROM iv),
    isl AS (SELECT doc_id, s, e,
                   sum(CASE WHEN pme IS NULL OR s > pme THEN 1 ELSE 0 END)
                     OVER (PARTITION BY doc_id ORDER BY s, e
                           ROWS UNBOUNDED PRECEDING) AS grp
            FROM sw),
    merged AS (SELECT doc_id, min(s) AS s, max(e) AS e
               FROM isl GROUP BY doc_id, grp),
    segs AS (
      SELECT doc_id,
             coalesce(lag(e) OVER (PARTITION BY doc_id ORDER BY s), 1) AS ks,
             s AS ke
      FROM merged
      UNION ALL
      SELECT doc_id, max(e) AS ks, NULL AS ke FROM merged GROUP BY doc_id
    ),
    strip AS (
      SELECT s.doc_id,
             string_agg(substr(d.text, CAST(s.ks AS INT),
                               CAST(coalesce(s.ke, length(d.text) + 1) - s.ks
                                    AS INT)),
                        '' ORDER BY s.ks) AS text_after
      FROM segs s JOIN {src} d USING (doc_id)
      GROUP BY s.doc_id
    ),
    after AS (
      SELECT d.doc_id, coalesce(st.text_after, d.text) AS ta
      FROM {src} d LEFT JOIN strip st USING (doc_id)
    )"""
    if not p:
        return body
    import re

    # rename every chain-internal CTE: declarations and references are
    # whole-word occurrences (column names like pos_a / text_after have
    # no word boundary at the prefix, so they are untouched)
    for name in (
        "pos", "g", "el", "m", "runs", "iv", "sw",
        "isl", "merged", "segs", "strip", "after",
    ):
        body = re.sub(rf"\b{name}\b", f"{p}{name}", body)
    return body


@query(
    "substring_apply_audit",
    f"""
    WITH {_detect_and_strip_ctes("documents")},
    g2 AS (
      SELECT doc_id, md5(substr(ta, CAST(p AS INT), {SUBSTR_MIN_LEN})) AS gh
      FROM (SELECT doc_id, ta,
                   unnest(generate_series(1, length(ta) - {SUBSTR_MIN_LEN - 1}))
                     AS p
            FROM after)
    ),
    band AS (SELECT gh FROM (SELECT gh, count(DISTINCT doc_id) AS df
                             FROM g2 GROUP BY gh)
             WHERE df BETWEEN 2 AND {SUBSTR_MAX_DF}),
    occ AS (SELECT g2.doc_id, g2.gh FROM g2 JOIN band USING (gh)),
    lo AS (
      SELECT d.lang,
             CAST(count(*) AS BIGINT) AS residual_occurrences,
             CAST(count(DISTINCT o.gh) AS BIGINT) AS residual_grams,
             CAST(count(DISTINCT o.doc_id) AS BIGINT) AS docs_with_residual
      FROM occ o JOIN documents d USING (doc_id)
      GROUP BY d.lang
    ),
    la AS (
      SELECT d.lang, CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(length(a.ta)) AS BIGINT) AS chars_after
      FROM after a JOIN documents d USING (doc_id)
      GROUP BY d.lang
    )
    SELECT la.lang, la.n_docs,
           CAST(coalesce(lo.docs_with_residual, 0) AS BIGINT) AS docs_with_residual,
           la.chars_after,
           CAST(coalesce(lo.residual_grams, 0) AS BIGINT) AS residual_grams,
           CAST(coalesce(lo.residual_occurrences, 0) AS BIGINT)
             AS residual_occurrences,
           CAST((CAST(1000000 AS HUGEINT) * coalesce(lo.residual_occurrences, 0))
                // la.chars_after AS BIGINT) AS residual_ppm
    FROM la LEFT JOIN lo USING (lang)
    """,
)
def q_substring_apply_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Residual-duplication audit AFTER substring_dedup_apply: run the
    gram census over the stripped corpus and report, per language, the
    band-gram mass a SECOND detection pass would seed from — documents
    still carrying a band gram, distinct residual grams, occurrence
    count, and occurrences-per-million-chars. Nonzero residual comes
    from (a) excision seams minting new duplicated grams (the fixture
    exhibits exactly one, pinned in pytest) and (b) hot grams whose df
    fell INTO the band 2..{SUBSTR_MAX_DF} when higher-df copies were
    excised as parts of longer runs. 100 TB shape: one extra
    corpus-linear gram pass + one census over the stripped text on top
    of the one detection the strip runs; the band join is forced merge
    (corpus-sized both sides, the standing Generate-estimate rule)."""
    docs = load_table(spark, sf_dir, "documents")
    # lazy checkpoint: the stripped corpus feeds both the second gram
    # pass and the per-language chars_after rollup — the strip's merge
    # join + fold must run once, not per consumer
    stripped = dedup.substring_dedup_apply(
        docs,
        min_len=SUBSTR_MIN_LEN,
        max_df=SUBSTR_MAX_DF,
    ).localCheckpoint(eager=False)
    g2 = dedup.substring_gram_table(
        stripped, min_len=SUBSTR_MIN_LEN, text_col="text_after"
    )
    band = (
        g2.groupBy("gh")
        .agg(F.count_distinct("doc_id").alias("df"))
        .where((F.col("df") >= 2) & (F.col("df") <= SUBSTR_MAX_DF))
        .select("gh")
    )
    occ = g2.join(band.hint("merge"), "gh")
    langs = docs.select("doc_id", "lang")
    lo = (
        occ.join(langs, "doc_id")
        .groupBy("lang")
        .agg(
            F.count("*").cast("long").alias("residual_occurrences"),
            F.count_distinct("gh").cast("long").alias("residual_grams"),
            F.count_distinct("doc_id").cast("long").alias("docs_with_residual"),
        )
    )
    la = (
        stripped.join(langs, "doc_id")
        .groupBy("lang")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum(F.length("text_after")).cast("long").alias("chars_after"),
        )
    )
    return (
        la.join(lo, "lang", "left")
        .select(
            "lang",
            "n_docs",
            F.coalesce("docs_with_residual", F.lit(0))
            .cast("long")
            .alias("docs_with_residual"),
            "chars_after",
            F.coalesce("residual_grams", F.lit(0))
            .cast("long")
            .alias("residual_grams"),
            F.coalesce("residual_occurrences", F.lit(0))
            .cast("long")
            .alias("residual_occurrences"),
            # 128-bit multiply: 1e6 * occurrences overflows BIGINT past
            # ~9.2 TB of residual per language — inside the 100 TB target
            F.expr(
                "(CAST(1000000 AS DECIMAL(38,0)) *"
                " coalesce(residual_occurrences, 0)) div chars_after"
            )
            .cast("long")
            .alias("residual_ppm"),
        )
    )


# Gopher gate over raw `documents`: ONE definition — the published
# queries_r3 fragment (itself shared with curate_corpus_semantic and
# classifier_calibration_report) composed over the queries_llm words
# CTE, so the gate thresholds cannot silently diverge across queries
# (a hand copy here was review-flagged as the third copy of the
# threshold block).
from goeventstream_spark.queries_llm import _WORDS  # noqa: E402
from goeventstream_spark.queries_r3 import _GOPHER_PASS_CTE  # noqa: E402

_GOPHER_GATED = f"""{_WORDS},
    {_GOPHER_PASS_CTE},
    gated AS (SELECT d.doc_id, d.text FROM documents d JOIN gq USING (doc_id))"""


@query(
    "curate_corpus_substring",
    f"""
    WITH RECURSIVE {_GOPHER_GATED},
    {_detect_and_strip_ctes("gated")},
    w2 AS (
      SELECT doc_id, word, pos FROM (
        SELECT doc_id, unnest(string_split(ta, ' ')) AS word,
               generate_subscripts(string_split(ta, ' '), 1) AS pos
        FROM after
      ) WHERE word <> ''
    ),
    sh2 AS (
      SELECT DISTINCT doc_id, shingle FROM (
        SELECT doc_id,
               concat_ws(' ', word, lead(word, 1) OVER win,
                         lead(word, 2) OVER win) AS shingle,
               lead(word, 2) OVER win AS w3
        FROM w2 WINDOW win AS (PARTITION BY doc_id ORDER BY pos)
      ) WHERE w3 IS NOT NULL
    ),
    sizes AS (SELECT doc_id, count(*) AS n FROM sh2 GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
      FROM sh2 a JOIN sh2 b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    jpairs AS (
      SELECT doc_a, doc_b FROM (
        SELECT doc_a, doc_b,
               CAST(n_common AS DOUBLE)
                 / CAST(sa.n + sb.n - n_common AS DOUBLE) AS jaccard
        FROM inter
        JOIN sizes sa ON doc_a = sa.doc_id
        JOIN sizes sb ON doc_b = sb.doc_id
      ) WHERE jaccard >= 0.5
    ),
    cedges AS (
      SELECT doc_a AS src, doc_b AS dst FROM jpairs
      UNION SELECT doc_b AS src, doc_a AS dst FROM jpairs
    ),
    reach AS (
      SELECT src AS id, src AS lbl FROM cedges
      UNION
      SELECT e.dst AS id, r.lbl FROM reach r JOIN cedges e ON e.src = r.id
    ),
    comp AS (SELECT id, min(lbl) AS cluster_id FROM reach GROUP BY id),
    kept3 AS (
      SELECT a.doc_id, a.ta FROM after a
      LEFT JOIN comp c ON a.doc_id = c.id
      WHERE coalesce(c.cluster_id, a.doc_id) = a.doc_id
    ),
    e AS (
      SELECT em.vec_id, em.label, CAST(em.embedding AS DOUBLE[]) AS v
      FROM embeddings em JOIN kept3 ON em.vec_id = kept3.doc_id
    ),
    dom AS (
      SELECT DISTINCT b.vec_id FROM e a JOIN e b
      ON a.label = b.label AND a.vec_id < b.vec_id
      AND list_dot_product(a.v, b.v)
          / (sqrt(list_dot_product(a.v, a.v))
             * sqrt(list_dot_product(b.v, b.v))) >= 0.3
    ),
    kept4 AS (
      -- the semantic stage prunes WITHIN the embedded subset and
      -- requires an embedding to survive it (the curate_corpus_semantic
      -- precedent): at sf0.1 the fixture embeds only a prefix of the
      -- doc ids, and an unembedded doc cannot be semantically verified
      SELECT k.doc_id, k.ta FROM kept3 k JOIN e ON e.vec_id = k.doc_id
      WHERE k.doc_id NOT IN (SELECT vec_id FROM dom)
    )
    SELECT CAST(1 AS BIGINT) AS stage_id, 'input' AS stage,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(coalesce(sum(length(text)), 0) AS BIGINT) AS n_chars
    FROM documents
    UNION ALL
    SELECT CAST(2 AS BIGINT), 'gopher', CAST(count(*) AS BIGINT),
           CAST(coalesce(sum(length(text)), 0) AS BIGINT) FROM gated
    UNION ALL
    SELECT CAST(3 AS BIGINT), 'substring_strip', CAST(count(*) AS BIGINT),
           CAST(coalesce(sum(length(ta)), 0) AS BIGINT) FROM after
    UNION ALL
    SELECT CAST(4 AS BIGINT), 'near_dedup', CAST(count(*) AS BIGINT),
           CAST(coalesce(sum(length(ta)), 0) AS BIGINT) FROM kept3
    UNION ALL
    SELECT CAST(5 AS BIGINT), 'semdedup', CAST(count(*) AS BIGINT),
           CAST(coalesce(sum(length(ta)), 0) AS BIGINT) FROM kept4
    """,
)
def q_curate_corpus_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The curation funnel with the substring stage composed in
    (VERDICT r8 #6): Gopher quality gate -> substring strip
    (substring_dedup_apply, detection scoped to the gated survivors —
    each stage consumes the previous stage's output) -> near-duplicate
    clustering over the STRIPPED text (exact n-gram Jaccard pairs ->
    connected components, keep the lowest-id representative — the
    curate_corpus_near justification: at 100 TB the pair source is the
    MinHash-LSH candidate path; exact Jaccard keeps the recursive-CTE
    oracle exact) -> SemDeDup semantic prune of the survivors'
    embeddings. Output is the per-stage survivor readout (stage, docs,
    chars): stage 3 keeps n_docs constant and shrinks n_chars (the
    strip deletes text, not documents); stages 4-5 drop documents.
    Stage 5 requires an embedding to survive (the
    curate_corpus_semantic precedent — an unembedded doc cannot be
    semantically verified; the sf0.1 fixture embeds only a prefix of
    the doc ids, so this is a live branch, not a technicality).

    Scale shape: each stage is an existing audited operator; the strip
    is the funnel's one text-bearing shuffle; only the components loop
    breaks the single Catalyst plan (inherent, localCheckpoint per
    round). Detection runs once, over the gated corpus, inside the
    strip."""
    docs = load_table(spark, sf_dir, "documents")
    gate = (
        text.gopher_quality_flags(docs)
        .where(F.col("gopher_pass") == 1)
        .select("doc_id")
    )
    # materialized once (round-9 opt): gated feeds BOTH the strip
    # derivation and the stage-2 readout — without this the whole
    # Gopher word-level gate (~0.75 s at sf0.1) executes twice
    gated = docs.select("doc_id", "text").join(gate, "doc_id").localCheckpoint(
        eager=False
    )
    # lazy checkpoint: three consumers (pair generation, the kept3
    # join, the stage-3 readout) must not re-run the strip transform —
    # the queries_r3 sigs discipline for shared mid-funnel relations
    stripped = dedup.substring_dedup_apply(
        gated,
        min_len=SUBSTR_MIN_LEN,
        max_df=SUBSTR_MAX_DF,
    ).localCheckpoint(eager=False)
    pairs = dedup.ngram_jaccard_pairs(
        stripped.select("doc_id", F.col("text_after").alias("text"))
    ).select("doc_a", "doc_b")
    clusters = dedup.dedup_clusters(pairs, all_docs=stripped.select("doc_id"))
    kept3 = stripped.join(
        clusters.where(F.col("doc_id") == F.col("cluster_id")).select("doc_id"),
        "doc_id",
    ).localCheckpoint(eager=False)
    emb = load_table(spark, sf_dir, "embeddings")
    emb_s = emb.join(
        kept3.select(F.col("doc_id").alias("vec_id")), "vec_id"
    )
    kept_vec = similarity.semdedup_keep(emb_s, threshold=0.3).select(
        F.col("vec_id").alias("doc_id")
    )
    kept4 = kept3.join(kept_vec, "doc_id")

    def stage(i: int, name: str, df: DataFrame, text_col: str) -> DataFrame:
        return df.agg(
            F.count("*").cast("long").alias("n_docs"),
            F.coalesce(F.sum(F.length(text_col)), F.lit(0))
            .cast("long")
            .alias("n_chars"),
        ).select(
            F.lit(i).cast("long").alias("stage_id"),
            F.lit(name).alias("stage"),
            "n_docs",
            "n_chars",
        )

    return (
        stage(1, "input", docs, "text")
        .unionByName(stage(2, "gopher", gated, "text"))
        .unionByName(stage(3, "substring_strip", stripped, "text_after"))
        .unionByName(stage(4, "near_dedup", kept3, "text_after"))
        .unionByName(stage(5, "semdedup", kept4, "text_after"))
    )


@query(
    "substring_apply_round2",
    f"""
    WITH {_detect_and_strip_ctes("documents")},
    docs2 AS (SELECT doc_id, ta AS text FROM after),
    {_detect_and_strip_ctes("docs2", "r2")},
    rr AS (SELECT d.lang, CAST(count(*) AS BIGINT) AS residual_runs
           FROM r2runs r JOIN documents d ON r.doc_b = d.doc_id
           GROUP BY d.lang)
    SELECT d.lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(length(a1.ta)) AS BIGINT) AS chars_after_pass1,
           CAST(sum(length(a1.ta)) - sum(length(a2.ta)) AS BIGINT)
             AS chars_removed_pass2,
           CAST(sum(length(a2.ta)) AS BIGINT) AS chars_after_pass2,
           CAST(coalesce(max(rr.residual_runs), 0) AS BIGINT) AS residual_runs,
           CAST((CAST(1000000 AS HUGEINT)
                 * (sum(length(a1.ta)) - sum(length(a2.ta))))
                // sum(length(a1.ta)) AS BIGINT) AS removed2_ppm
    FROM documents d
    JOIN after a1 USING (doc_id)
    JOIN r2after a2 USING (doc_id)
    LEFT JOIN rr ON rr.lang = d.lang
    GROUP BY d.lang
    """,
)
def q_substring_apply_round2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SECOND pass of exact substring dedup — the fixed-point
    iteration the audit's residual motivates (substring_apply_audit
    proves one pass leaves seeds; this query runs detection AND the
    strip AGAIN over the pass-1 output and reports what the iteration
    actually recovers): per language, chars after pass 1, chars a
    second apply removes, chars after pass 2, the second-pass run
    count, and removed2 ppm relative to the pass-1 corpus. Pass-2
    removal is bounded above by the audit's residual mass and is
    typically far smaller than pass 1 — the convergence evidence for
    stopping after one pass at 100 TB (or iterating when it isn't).
    Both engines replay the identical chain twice (the oracle's pass-2
    CTEs are the pass-1 chain renamed), so a drift in either pass
    breaks the hash. Plan shape: pass 2 is the same corpus-linear
    detection over the (smaller) stripped corpus; both strips' text
    crosses exactly one merge join each; the stripped intermediates
    are lazily checkpointed for their two consumers."""
    docs = load_table(spark, sf_dir, "documents")
    stripped1 = dedup.substring_dedup_apply(
        docs,
        min_len=SUBSTR_MIN_LEN,
        max_df=SUBSTR_MAX_DF,
    ).localCheckpoint(eager=False)
    docs2 = stripped1.select("doc_id", F.col("text_after").alias("text"))
    # lazy checkpoint: runs2 feeds both the pass-2 strip and the
    # residual_runs rollup — pass-2 detection must run once, not per
    # consumer
    runs2 = dedup.repeated_substring_runs(
        docs2, min_len=SUBSTR_MIN_LEN, max_df=SUBSTR_MAX_DF
    ).localCheckpoint(eager=False)
    stripped2 = dedup.substring_dedup_apply(
        docs2, min_len=SUBSTR_MIN_LEN, max_df=SUBSTR_MAX_DF, runs=runs2
    ).localCheckpoint(eager=False)
    langs = docs.select("doc_id", "lang")
    rr = (
        runs2.join(
            langs.select(F.col("doc_id").alias("doc_b"), "lang"), "doc_b"
        )
        .groupBy("lang")
        .agg(F.count("*").cast("long").alias("residual_runs"))
    )
    per_doc = (
        stripped1.select("doc_id", F.length("text_after").alias("_l1"))
        .join(
            stripped2.select("doc_id", F.length("text_after").alias("_l2")),
            "doc_id",
        )
        .join(langs, "doc_id")
    )
    return (
        per_doc.groupBy("lang")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("_l1").cast("long").alias("chars_after_pass1"),
            (F.sum("_l1") - F.sum("_l2")).cast("long").alias("chars_removed_pass2"),
            F.sum("_l2").cast("long").alias("chars_after_pass2"),
        )
        .join(rr, "lang", "left")
        .select(
            "lang",
            "n_docs",
            "chars_after_pass1",
            "chars_removed_pass2",
            "chars_after_pass2",
            F.coalesce("residual_runs", F.lit(0))
            .cast("long")
            .alias("residual_runs"),
            # the standing 128-bit ppm pattern
            F.expr(
                "(CAST(1000000 AS DECIMAL(38,0)) * chars_removed_pass2)"
                " div chars_after_pass1"
            )
            .cast("long")
            .alias("removed2_ppm"),
        )
    )
