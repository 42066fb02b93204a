"""Round-7 query registrations — exact substring dedup, the
suffix-array-class primitive of Lee et al. 2022 (arXiv:2107.06499,
"Deduplicating Training Data Makes Language Models Better") that the
registry previously only approximated with fixed-width span hashes
(`duplicated_spans`) and winnowing fingerprints:

- ``substring_dedup_runs``: every maximal cross-document run of
  matching 20-grams is one exact shared substring (sorted k-mer
  groups + diagonal gaps-and-islands extension — no suffix automaton
  needed for a bounded minimum match length); the declared query emits
  the top-200 longest runs under a total tiebreak.
- ``substring_dedup_coverage``: per-language duplicated-character
  costing — the exact union length of every run interval per document
  (running-max sweep, no double counting): total duplicated mass.
- ``substring_dedup_strip_report``: the APPLY half — characters
  actually deleted when each run keeps its lowest-doc_id occurrence
  canonical (doc_b-side interval union only), per language.
- ``substring_dedup_apply`` (r8): the transform itself — every
  document with its doc_b-side runs excised, hashed byte-exact as
  (doc_id, md5(text_after), len_after).
- ``substring_self_runs`` (r8): WITHIN-document maximal repeats (the
  self-dedup half of Lee et al.), per-doc occurrence band 2..4.
- ``substring_self_apply`` (r8): the within-document strip — every
  later occurrence excised, the first copy surviving, hashed like
  substring_dedup_apply.

Cross-engine determinism: gram keys are md5 of the raw 20-char
substring (identical hex in both engines); positions, lengths, and
coverage sums are BIGINT; the one ratio is an integer floor-division.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from goeventstream_spark.operators import dedup
from goeventstream_spark.queries import query
from goeventstream_spark.sources import load_table

SUBSTR_MIN_LEN = 20
SUBSTR_MAX_DF = 4

# The per-position gram relation shared by the cross-document AND
# within-document oracles (md5 keys — identical hex in both engines).
_SUBSTR_GRAM_CTES = f"""pos AS (
      SELECT doc_id, text,
             unnest(generate_series(1, length(text) - {SUBSTR_MIN_LEN - 1})) AS p
      FROM documents
    ),
    g AS (SELECT doc_id, CAST(p AS BIGINT) AS pos,
                 md5(substr(text, CAST(p AS INT), {SUBSTR_MIN_LEN})) AS gh
          FROM pos)"""

# The shared trajectory both oracles replay: per-position md5 gram
# keys, the 2..max_df document-frequency stop-list (BINDS on the
# fixture — max df 9 at sf0.001 / 6 at sf0.01), the doc_a < doc_b
# match join, and maximal diagonal runs via gaps-and-islands.
_SUBSTR_RUNS_CTES = f"""{_SUBSTR_GRAM_CTES},
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
      GROUP BY doc_a, doc_b, diag, grp)"""


@query(
    "substring_dedup_runs",
    f"""
    WITH {_SUBSTR_RUNS_CTES}
    SELECT doc_a, doc_b, start_a, start_b, match_len
    FROM runs
    ORDER BY match_len DESC, doc_a, doc_b, start_a, start_b
    LIMIT 200
    """,
)
def q_substring_dedup_runs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-200 longest exact repeated substrings across documents
    (dedup.repeated_substring_runs, min_len=20, max_df=4): each row is
    one MAXIMAL shared substring — start offsets in both docs plus its
    length — found by extending matching 20-gram seeds along pair
    diagonals. The limit is a TakeOrderedAndProject under a TOTAL
    tiebreak (match_len desc, doc_a, doc_b, start_a, start_b — unique
    per run since a run's diagonal is start_a - start_b), so the 200
    boundary is deterministic cross-engine; the full runs relation
    stays available as the operator (substring_dedup_coverage consumes
    it un-truncated)."""
    return (
        dedup.repeated_substring_runs(
            load_table(spark, sf_dir, "documents"),
            min_len=SUBSTR_MIN_LEN,
            max_df=SUBSTR_MAX_DF,
        )
        .orderBy(
            F.col("match_len").desc(), "doc_a", "doc_b", "start_a", "start_b"
        )
        .limit(200)
    )


@query(
    "substring_dedup_coverage",
    f"""
    WITH {_SUBSTR_RUNS_CTES},
    iv AS (
      SELECT doc_a AS doc_id, start_a AS s, start_a + match_len AS e FROM runs
      UNION ALL
      SELECT doc_b, start_b, start_b + match_len FROM runs
    ),
    sw AS (SELECT doc_id, s, e,
                  max(e) OVER (PARTITION BY doc_id ORDER BY s, e
                               ROWS BETWEEN UNBOUNDED PRECEDING
                                        AND 1 PRECEDING) AS pme
           FROM iv),
    per_doc AS (
      SELECT doc_id,
             CAST(sum(greatest(0, e - greatest(s, coalesce(pme, s)))) AS BIGINT)
               AS dup_chars
      FROM sw GROUP BY doc_id)
    SELECT d.lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(p.doc_id) AS BIGINT) AS docs_with_dup,
           CAST(sum(length(d.text)) AS BIGINT) AS total_chars,
           CAST(coalesce(sum(p.dup_chars), 0) AS BIGINT) AS dup_chars,
           CAST((CAST(1000000 AS HUGEINT) * coalesce(sum(p.dup_chars), 0))
                // sum(length(d.text)) AS BIGINT) AS dup_ppm
    FROM documents d LEFT JOIN per_doc p USING (doc_id)
    GROUP BY d.lang
    """,
)
def q_substring_dedup_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language exact duplicated-character coverage
    (dedup.substring_dup_coverage): the union length of every
    repeated-substring run interval per document — overlapping and
    nested runs counted once via the running-max interval sweep — then
    rolled up to (n_docs, docs_with_dup, total_chars, dup_chars,
    dup_ppm) per language. This is the costing readout that decides
    whether running substring dedup pays at 100 TB: dup_ppm IS the
    fraction of the corpus the dedup pass would delete."""
    docs = load_table(spark, sf_dir, "documents")
    per_doc = dedup.substring_dup_coverage(
        docs,
        min_len=SUBSTR_MIN_LEN,
        max_df=SUBSTR_MAX_DF,
    )
    return (
        docs.select("doc_id", "lang", F.length("text").alias("_len"))
        .join(per_doc, "doc_id", "left")
        .groupBy("lang")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.count("dup_chars").cast("long").alias("docs_with_dup"),
            F.sum("_len").cast("long").alias("total_chars"),
            F.coalesce(F.sum("dup_chars"), F.lit(0))
            .cast("long")
            .alias("dup_chars"),
            # 128-bit multiply (DECIMAL(38,0) here, HUGEINT in the oracle):
            # 1e6 * sum(chars) overflows BIGINT past ~9.2 TB of text per
            # language — squarely inside the 100 TB target. div truncates,
            # // floors; both operands are non-negative so they agree.
            F.expr(
                "(CAST(1000000 AS DECIMAL(38,0)) * coalesce(sum(dup_chars), 0))"
                " div sum(_len)"
            )
            .cast("long")
            .alias("dup_ppm"),
        )
    )


@query(
    "substring_dedup_strip_report",
    f"""
    WITH {_SUBSTR_RUNS_CTES},
    iv AS (
      SELECT doc_b AS doc_id, start_b AS s, start_b + match_len AS e FROM runs
    ),
    sw AS (SELECT doc_id, s, e,
                  max(e) OVER (PARTITION BY doc_id ORDER BY s, e
                               ROWS BETWEEN UNBOUNDED PRECEDING
                                        AND 1 PRECEDING) AS pme
           FROM iv),
    per_doc AS (
      SELECT doc_id,
             CAST(sum(greatest(0, e - greatest(s, coalesce(pme, s)))) AS BIGINT)
               AS removed_chars
      FROM sw GROUP BY doc_id)
    SELECT d.lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(p.doc_id) AS BIGINT) AS docs_stripped,
           CAST(sum(length(d.text)) AS BIGINT) AS chars_before,
           CAST(coalesce(sum(p.removed_chars), 0) AS BIGINT) AS chars_removed,
           CAST(sum(length(d.text)) - coalesce(sum(p.removed_chars), 0)
                AS BIGINT) AS chars_after,
           CAST((CAST(1000000 AS HUGEINT) * coalesce(sum(p.removed_chars), 0))
                // sum(length(d.text)) AS BIGINT) AS removed_ppm
    FROM documents d LEFT JOIN per_doc p USING (doc_id)
    GROUP BY d.lang
    """,
)
def q_substring_dedup_strip_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The APPLY half of substring dedup, costed per language
    (dedup.substring_strip_savings): characters deleted when every
    duplicated run keeps only its lowest-doc_id occurrence — the
    doc_b-side interval union per document, rolled up to (docs
    stripped, chars before/removed/after, removed ppm). Differs from
    substring_dedup_coverage (which counts BOTH sides — total
    duplicated mass) in exactly the way Lee et al.'s dedup differs
    from a duplication census: one canonical copy survives, so
    chars_removed < dup_chars whenever a run's canonical side exists."""
    docs = load_table(spark, sf_dir, "documents")
    per_doc = dedup.substring_strip_savings(
        docs,
        min_len=SUBSTR_MIN_LEN,
        max_df=SUBSTR_MAX_DF,
    )
    return (
        docs.select("doc_id", "lang", F.length("text").alias("_len"))
        .join(per_doc, "doc_id", "left")
        .groupBy("lang")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.count("removed_chars").cast("long").alias("docs_stripped"),
            F.sum("_len").cast("long").alias("chars_before"),
            F.coalesce(F.sum("removed_chars"), F.lit(0))
            .cast("long")
            .alias("chars_removed"),
            (F.sum("_len") - F.coalesce(F.sum("removed_chars"), F.lit(0)))
            .cast("long")
            .alias("chars_after"),
            # Same 128-bit-multiply overflow guard as dup_ppm above.
            F.expr(
                "(CAST(1000000 AS DECIMAL(38,0)) * coalesce(sum(removed_chars),"
                " 0)) div sum(_len)"
            )
            .cast("long")
            .alias("removed_ppm"),
        )
    )


@query(
    "substring_dedup_apply",
    f"""
    WITH {_SUBSTR_RUNS_CTES},
    iv AS (
      -- DISTINCT is load-bearing: duplicate (s, e) intervals (the same
      -- span duplicated against several partners) make the (s, e) sort
      -- order ambiguous, and pme and the island running sum are
      -- evaluated in SEPARATE window passes whose tie orders can
      -- disagree, nondeterministically merging adjacent islands
      -- (observed: DuckDB returned two different strips for the same
      -- doc across runs). A union of intervals is a set operation, so
      -- dedup is semantics-free and leaves no ties to order.
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
      FROM segs s JOIN documents d USING (doc_id)
      GROUP BY s.doc_id
    )
    SELECT d.doc_id,
           md5(coalesce(st.text_after, d.text)) AS text_md5,
           CAST(length(coalesce(st.text_after, d.text)) AS BIGINT) AS len_after
    FROM documents d LEFT JOIN strip st USING (doc_id)
    """,
)
def q_substring_dedup_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The APPLY of substring dedup emitted as DATA
    (dedup.substring_dedup_apply): every document with its doc_b-side
    duplicated runs excised — one canonical (lowest-doc_id) occurrence
    of each run survives the corpus, the Lee et al. 2022 transform
    itself rather than its costing. Declared result is the
    hash-comparable readout (doc_id, md5(text_after), length after):
    the md5 pins the stripped text byte-for-byte cross-engine without
    hashing megabytes of prose through the driver compare. Closes the
    detect (substring_dedup_runs) -> cost (strip_report) -> transform
    loop; length(text) - len_after equals substring_strip_savings'
    removed_chars row for row (property-pinned in pytest)."""
    docs = load_table(spark, sf_dir, "documents")
    stripped = dedup.substring_dedup_apply(
        docs,
        min_len=SUBSTR_MIN_LEN,
        max_df=SUBSTR_MAX_DF,
    )
    return stripped.select(
        "doc_id",
        F.md5("text_after").alias("text_md5"),
        F.length("text_after").cast("long").alias("len_after"),
    )


SELF_MAX_OCC = 4


@query(
    "substring_self_runs",
    f"""
    WITH {_SUBSTR_GRAM_CTES},
    selfel AS (SELECT doc_id, gh
               FROM (SELECT doc_id, gh, count(*) AS occ
                     FROM g GROUP BY doc_id, gh)
               WHERE occ BETWEEN 2 AND {SELF_MAX_OCC}),
    m AS (SELECT a.doc_id, a.pos AS pos_a, b.pos AS pos_b
          FROM g a
          JOIN selfel e ON a.doc_id = e.doc_id AND a.gh = e.gh
          JOIN g b ON b.doc_id = a.doc_id AND b.gh = a.gh
          WHERE a.pos < b.pos),
    runs AS (
      SELECT doc_id, CAST(min(pos_a) AS BIGINT) AS start_a,
             CAST(min(pos_a) - diag AS BIGINT) AS start_b,
             CAST(max(pos_a) - min(pos_a) + {SUBSTR_MIN_LEN} AS BIGINT)
               AS match_len
      FROM (SELECT doc_id, pos_a - pos_b AS diag, pos_a,
                   pos_a - row_number() OVER (PARTITION BY doc_id,
                                                           pos_a - pos_b
                                              ORDER BY pos_a) AS grp
            FROM m)
      GROUP BY doc_id, diag, grp)
    SELECT doc_id, start_a, start_b, match_len
    FROM runs
    ORDER BY match_len DESC, doc_id, start_a, start_b
    LIMIT 200
    """,
)
def q_substring_self_runs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-200 longest WITHIN-document repeated substrings
    (dedup.repeated_substring_self_runs, min_len=20, max_occ=4): each
    row is one maximal self-repeat — both start offsets inside the
    same document plus its length — the self-dedup half of Lee et al.
    2022 that cross-doc runs deliberately exclude (doc_a < doc_b).
    The per-doc occurrence band 2..4 is the stop-list analog (bounds
    per-gram fan-out at occ^2 per document; the fixture's max
    within-doc occurrence is 2, so the band is loose there — the
    binding case is property-pinned in pytest). Total tiebreak
    (match_len desc, doc_id, start_a, start_b — unique per run), so
    the 200 boundary is deterministic cross-engine."""
    return (
        dedup.repeated_substring_self_runs(
            load_table(spark, sf_dir, "documents"),
            min_len=SUBSTR_MIN_LEN,
            max_occ=SELF_MAX_OCC,
        )
        .orderBy(F.col("match_len").desc(), "doc_id", "start_a", "start_b")
        .limit(200)
    )


@query(
    "substring_self_apply",
    f"""
    WITH {_SUBSTR_GRAM_CTES},
    selfel AS (SELECT doc_id, gh
               FROM (SELECT doc_id, gh, count(*) AS occ
                     FROM g GROUP BY doc_id, gh)
               WHERE occ BETWEEN 2 AND {SELF_MAX_OCC}),
    m AS (SELECT a.doc_id, a.pos AS pos_a, b.pos AS pos_b
          FROM g a
          JOIN selfel e ON a.doc_id = e.doc_id AND a.gh = e.gh
          JOIN g b ON b.doc_id = a.doc_id AND b.gh = a.gh
          WHERE a.pos < b.pos),
    runs AS (
      SELECT doc_id, CAST(min(pos_a) - diag AS BIGINT) AS start_b,
             CAST(max(pos_a) - min(pos_a) + {SUBSTR_MIN_LEN} AS BIGINT)
               AS match_len
      FROM (SELECT doc_id, pos_a - pos_b AS diag, pos_a,
                   pos_a - row_number() OVER (PARTITION BY doc_id,
                                                           pos_a - pos_b
                                              ORDER BY pos_a) AS grp
            FROM m)
      GROUP BY doc_id, diag, grp),
    iv AS (
      -- DISTINCT: the island sweep's tie-order hazard (see
      -- substring_dedup_apply); interval union is a set operation
      SELECT DISTINCT doc_id, start_b AS s, start_b + match_len AS e
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
      FROM segs s JOIN documents d USING (doc_id)
      GROUP BY s.doc_id
    )
    SELECT d.doc_id,
           md5(coalesce(st.text_after, d.text)) AS text_md5,
           CAST(length(coalesce(st.text_after, d.text)) AS BIGINT) AS len_after
    FROM documents d LEFT JOIN strip st USING (doc_id)
    """,
)
def q_substring_self_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The WITHIN-document strip transform (dedup.substring_self_apply
    over substring_self_runs): every later occurrence of a self-repeat
    excised, the document's first copy surviving — the self half of
    Lee et al.'s apply, hashed like substring_dedup_apply as
    (doc_id, md5(text_after), len_after) so the transform is
    byte-pinned cross-engine. Interval machinery is the shared
    _strip_intervals sweep+fold; the oracle replays the self-run
    trajectory plus the same DISTINCT-guarded island sweep."""
    docs = load_table(spark, sf_dir, "documents")
    stripped = dedup.substring_self_apply(
        docs, min_len=SUBSTR_MIN_LEN, max_occ=SELF_MAX_OCC
    )
    return stripped.select(
        "doc_id",
        F.md5("text_after").alias("text_md5"),
        F.length("text_after").cast("long").alias("len_after"),
    )
