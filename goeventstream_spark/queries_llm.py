"""LLM-data-pipeline query registrations (SURVEY.md §2b group 3).

Oracle SQL here is machine-generated where it is wide (MinHash
signature columns, SimHash bit arithmetic, LSH hyperplane literals) so
the DuckDB text is guaranteed to implement the same math as the Spark
plan. Shared determinism primitives: md5 (identical hex both engines),
strpos/instr hex decoding, integer-count ratio divisions, and
left-to-right double dot products.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from goeventstream_spark.operators import dedup
from goeventstream_spark.operators import sampling, multimodal, similarity, text
from goeventstream_spark.queries import query
from goeventstream_spark.sources import load_table

# ---------------------------------------------------------------------------
# Shared DuckDB CTE fragments
# ---------------------------------------------------------------------------

_WORDS = """
  words AS (
    SELECT doc_id, word, pos FROM (
      SELECT doc_id, unnest(string_split(text, ' ')) AS word,
             generate_subscripts(string_split(text, ' '), 1) AS pos
      FROM documents
    ) WHERE word <> ''
  )
"""

_SHINGLES = (
    _WORDS
    + """,
  sh AS (
    SELECT DISTINCT doc_id, shingle FROM (
      SELECT doc_id,
             concat_ws(' ', word, lead(word, 1) OVER win, lead(word, 2) OVER win) AS shingle,
             lead(word, 2) OVER win AS w3
      FROM words WINDOW win AS (PARTITION BY doc_id ORDER BY pos)
    ) WHERE w3 IS NOT NULL
  )
"""
)

_NUM_HASHES = dedup.DEFAULT_NUM_HASHES
_BANDS = dedup.DEFAULT_BANDS
_ROWS_PER_BAND = _NUM_HASHES // _BANDS

# Shared quality-score oracle fragment (mirrors text.quality_score).
# ONE definition: the length band / ratio formula previously lived in
# five separate SQL strings that could silently drift. Requires a
# `words` CTE in scope (_WORDS / _SHINGLES provide it).
_QUAL_CTE = f"""
  qstats AS (
    SELECT doc_id, count(*) AS n_words,
           CAST(count(DISTINCT word) AS DOUBLE) / count(*) AS distinct_ratio,
           CAST(sum(CASE WHEN word IN {text.STOPWORDS!r} THEN 1 ELSE 0 END) AS DOUBLE) / count(*) AS stopword_ratio
    FROM words GROUP BY doc_id
  ),
  qual AS (
    SELECT doc_id, n_words,
           (CASE WHEN n_words >= 20 AND n_words <= 100000 THEN 1.0 ELSE 0.0 END
            + distinct_ratio + stopword_ratio) AS quality_score
    FROM qstats
  )
"""

_SIG_COLS = ", ".join(
    f"min(md5('{i}|' || shingle)) AS m{i}" for i in range(_NUM_HASHES)
)
_SIG = _SHINGLES + f",\n  sig AS (SELECT doc_id, {_SIG_COLS} FROM sh GROUP BY doc_id)"


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "documents")


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "embeddings")


# ---------------------------------------------------------------------------
# Deduplication
# ---------------------------------------------------------------------------


@query(
    "exact_dedup",
    r"""
    SELECT md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS content_hash,
           min(doc_id) AS keep_doc_id, count(*) AS dup_count
    FROM documents GROUP BY 1
    """,
)
def q_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.exact_dedup(_docs(spark, sf_dir))


@query(
    "minhash_signatures",
    f"WITH {_SIG} SELECT * FROM sig",
)
def q_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.minhash_signatures(dedup.shingles(_docs(spark, sf_dir)))


_BANDED = _SIG + f""",
  banded AS (
    {" UNION ALL ".join(
        f"SELECT doc_id, {', '.join(f'm{i}' for i in range(_NUM_HASHES))}, {b} AS band_id, "
        f"md5(concat_ws('|', {', '.join(f'm{b * _ROWS_PER_BAND + r}' for r in range(_ROWS_PER_BAND))})) AS band_sig "
        "FROM sig"
        for b in range(_BANDS)
    )}
  )
"""

_EST_JACCARD = (
    "("
    + " + ".join(f"CAST(a.m{i} = b.m{i} AS INT)" for i in range(_NUM_HASHES))
    + f") / {float(_NUM_HASHES)}"
)


@query(
    "minhash_near_dedup",
    f"""
    WITH {_BANDED}
    SELECT doc_a, doc_b, est_jaccard FROM (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
             {_EST_JACCARD} AS est_jaccard
      FROM banded a JOIN banded b
        ON a.band_id = b.band_id AND a.band_sig = b.band_sig AND a.doc_id < b.doc_id
    ) WHERE est_jaccard >= 0.5
    """,
)
def q_minhash_near_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.minhash_near_dedup(_docs(spark, sf_dir), threshold=0.5)


@query(
    "ngram_jaccard_pairs",
    f"""
    WITH {_SHINGLES},
    sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b, jaccard FROM (
      SELECT doc_a, doc_b,
             CAST(n_common AS DOUBLE) / CAST(sa.n + sb.n - n_common AS DOUBLE) AS jaccard
      FROM inter
      JOIN sizes sa ON doc_a = sa.doc_id
      JOIN sizes sb ON doc_b = sb.doc_id
    ) WHERE jaccard >= 0.5
    """,
)
def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.ngram_jaccard_pairs(_docs(spark, sf_dir), threshold=0.5)


# Deterministic eval-set split for the decontamination demo: first md5
# hex digit of the doc id = '0' (~1/16 of docs act as the "benchmark").
# Content-stable — no rand(), identical split in both engines.
_BENCH_PRED_SQL = "substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) = '0'"


@query(
    "decontaminate",
    f"""
    WITH {_SHINGLES},
    bench AS (SELECT doc_id FROM documents WHERE {_BENCH_PRED_SQL}),
    bsh AS (SELECT DISTINCT sh.shingle FROM sh JOIN bench ON sh.doc_id = bench.doc_id)
    SELECT sh.doc_id AS doc_id, count(*) AS n_contaminated_ngrams
    FROM sh JOIN bsh ON sh.shingle = bsh.shingle
    WHERE sh.doc_id NOT IN (SELECT doc_id FROM bench)
    GROUP BY 1
    """,
)
def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    is_bench = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1) == "0"
    return dedup.decontaminate(docs.where(~is_bench), docs.where(is_bench))


@query(
    "curate_corpus",
    rf"""
    WITH {_SHINGLES},
    bench AS (SELECT doc_id FROM documents WHERE {_BENCH_PRED_SQL}),
    {_QUAL_CTE},
    qkeep AS (SELECT doc_id FROM qual WHERE quality_score >= 1.5),
    corpusq AS (
      SELECT d.doc_id, d.text FROM documents d
      JOIN qkeep ON d.doc_id = qkeep.doc_id
      WHERE d.doc_id NOT IN (SELECT doc_id FROM bench)
    ),
    keep AS (
      SELECT min(doc_id) AS doc_id FROM (
        SELECT doc_id, md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS h
        FROM corpusq
      ) GROUP BY h
    ),
    flagged AS (
      SELECT DISTINCT sh.doc_id
      FROM sh
      JOIN (SELECT DISTINCT s2.shingle FROM sh s2 JOIN bench ON s2.doc_id = bench.doc_id) bsh
        ON sh.shingle = bsh.shingle
      WHERE sh.doc_id IN (SELECT doc_id FROM keep)
    )
    SELECT d.doc_id, d.lang, d.source, d.n_chars
    FROM documents d
    JOIN keep ON d.doc_id = keep.doc_id
    WHERE d.doc_id NOT IN (SELECT doc_id FROM flagged)
    """,
)
def q_curate_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end corpus curation funnel — the composed shape of a
    training-data pipeline pass: heuristic quality gate, exact content
    dedup (keep lowest id), then benchmark decontamination, emitting
    the surviving documents' metadata.

    Each stage is an existing operator; the funnel is pure composition,
    so the whole thing stays one Catalyst plan (filters and pruning
    flow across stage boundaries). Scale notes per stage: quality is
    one agg shuffle over words; dedup one agg shuffle on content hash;
    decontamination broadcasts the (tiny) benchmark shingle set.
    """
    docs = _docs(spark, sf_dir)
    is_bench = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1) == "0"
    corpus = docs.where(~is_bench)
    bench = docs.where(is_bench)
    qual_ids = (
        text.quality_score(corpus)
        .where(F.col("quality_score") >= 1.5)
        .select("doc_id")
    )
    survivors = corpus.join(qual_ids, "doc_id")
    keep_ids = dedup.exact_dedup(survivors).select(F.col("keep_doc_id").alias("doc_id"))
    survivors = survivors.join(keep_ids, "doc_id")
    flagged = dedup.decontaminate(survivors, bench).select("doc_id")
    return survivors.join(flagged, "doc_id", "left_anti").select(
        "doc_id", "lang", "source", "n_chars"
    )


_BITS = dedup.SIMHASH_BITS
_WV = " + ".join(
    f"(strpos('0123456789abcdef', substr(md5(word), {j + 1}, 1)) - 1) * {16 ** (_BITS // 4 - 1 - j)}"
    for j in range(_BITS // 4)
)
_VOTES = ", ".join(
    f"sum(CASE WHEN (wv >> {k}) & 1 = 1 THEN 1 ELSE -1 END) AS v{k}" for k in range(_BITS)
)
_SIMHASH_VAL = " + ".join(
    f"CASE WHEN v{k} > 0 THEN {2**k} ELSE 0 END" for k in range(_BITS)
)
_SIMHASH_CTE = f"""{_WORDS},
    wv AS (SELECT doc_id, CAST({_WV} AS BIGINT) AS wv FROM words),
    votes AS (SELECT doc_id, {_VOTES} FROM wv GROUP BY doc_id),
    simhashes AS (SELECT doc_id, CAST({_SIMHASH_VAL} AS BIGINT) AS simhash FROM votes)"""


@query(
    "simhash_fingerprints",
    f"WITH {_SIMHASH_CTE} SELECT doc_id, simhash FROM simhashes",
)
def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.simhash(_docs(spark, sf_dir))


_SEG_BITS = _BITS // 4
_SEG_MASK = (1 << _SEG_BITS) - 1


@query(
    "simhash_near_dup_pairs",
    f"""
    WITH {_SIMHASH_CTE},
    segs AS (
      SELECT doc_id, simhash, seg_id, (simhash >> (seg_id * {_SEG_BITS})) & {_SEG_MASK} AS seg_val
      FROM simhashes, (SELECT unnest([0, 1, 2, 3]) AS seg_id)
    )
    SELECT doc_a, doc_b, hamming FROM (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
             CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
      FROM segs a JOIN segs b
        ON a.seg_id = b.seg_id AND a.seg_val = b.seg_val AND a.doc_id < b.doc_id
    ) WHERE hamming <= 3
    """,
)
def q_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.simhash_near_dup_pairs(_docs(spark, sf_dir))


# ---------------------------------------------------------------------------
# Text analysis
# ---------------------------------------------------------------------------



@query(
    "text_stats",
    f"""
    WITH {_WORDS}
    SELECT doc_id, count(*) AS n_words, count(DISTINCT word) AS n_distinct_words,
           CAST(sum(length(word)) AS DOUBLE) / count(*) AS avg_word_len,
           CAST(sum(CASE WHEN word IN {text.STOPWORDS!r} THEN 1 ELSE 0 END) AS DOUBLE) / count(*) AS stopword_ratio,
           CAST(count(DISTINCT word) AS DOUBLE) / count(*) AS distinct_ratio
    FROM words GROUP BY doc_id
    """,
)
def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.text_stats(_docs(spark, sf_dir))


@query(
    "quality_score",
    f"""
    WITH {_WORDS},
    {_QUAL_CTE}
    SELECT doc_id, n_words, quality_score FROM qual
    """,
)
def q_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.quality_score(_docs(spark, sf_dir))


_LANGS = sorted(text.LANG_MARKERS)
_LANG_SCORES = ", ".join(
    f"CAST(sum(CASE WHEN word IN {text.LANG_MARKERS[lang]!r} THEN 1 ELSE 0 END) AS DOUBLE) / count(*) AS score_{lang}"
    for lang in _LANGS
)
_BEST = "greatest(" + ", ".join(f"score_{lang}" for lang in _LANGS) + ")"
_PRED = (
    "CASE "
    + " ".join(f"WHEN score_{lang} = {_BEST} THEN '{lang}'" for lang in _LANGS)
    + " END"
)


@query(
    "lang_id",
    f"""
    WITH {_WORDS},
    scores AS (SELECT doc_id, count(*) AS n_words, {_LANG_SCORES} FROM words GROUP BY doc_id)
    SELECT doc_id, {", ".join(f"score_{lang}" for lang in _LANGS)},
           CASE WHEN {_BEST} > 0 THEN {_PRED} ELSE 'und' END AS pred_lang
    FROM scores
    """,
)
def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.lang_id(_docs(spark, sf_dir))


@query(
    "token_count",
    """
    SELECT doc_id,
           CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS BIGINT) AS ws_tokens,
           CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]')) AS BIGINT) AS re_tokens,
           CAST(length(text) AS BIGINT) AS n_chars_text
    FROM documents
    """,
)
def q_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = text.token_count(_docs(spark, sf_dir))
    return df.withColumnRenamed("n_bytes", "n_chars_text")


@query(
    "doc_fingerprints",
    r"""
    SELECT doc_id,
           md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp_md5,
           substr(md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')), 1, 16) AS fp_prefix64
    FROM documents
    """,
)
def q_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.fingerprint(_docs(spark, sf_dir))


@query(
    "term_scores_topk",
    f"""
    WITH {_WORDS},
    tf AS (SELECT doc_id, word, count(*) AS tf FROM words GROUP BY doc_id, word),
    df AS (SELECT word, count(*) AS df FROM (SELECT DISTINCT doc_id, word FROM words) GROUP BY word),
    nd AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents)
    SELECT doc_id, word, score, rk FROM (
      SELECT tf.doc_id, tf.word,
             CAST(tf AS DOUBLE) * (CAST(n_docs AS DOUBLE) / CAST(df AS DOUBLE)) AS score,
             CAST(row_number() OVER (PARTITION BY tf.doc_id
                                     ORDER BY CAST(tf AS DOUBLE) * (CAST(n_docs AS DOUBLE) / CAST(df AS DOUBLE)) DESC,
                                              tf.word) AS BIGINT) AS rk
      FROM tf JOIN df ON tf.word = df.word, nd
    ) WHERE rk <= 5
    """,
)
def q_term_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.term_scores(_docs(spark, sf_dir), top_k=5)


# ---------------------------------------------------------------------------
# Similarity search
# ---------------------------------------------------------------------------

_COS = (
    "list_dot_product(qe, e) / (sqrt(list_dot_product(qe, qe)) * sqrt(list_dot_product(e, e)))"
)


@query(
    "similarity_topk",
    f"""
    WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qe
               FROM embeddings WHERE vec_id < 10),
    c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
    scored AS (
      SELECT query_id, vec_id, {_COS} AS cos_sim
      FROM q, c WHERE vec_id <> query_id
    )
    SELECT query_id, vec_id, cos_sim, rk FROM (
      SELECT *, CAST(row_number() OVER (PARTITION BY query_id
                                        ORDER BY cos_sim DESC, vec_id) AS BIGINT) AS rk
      FROM scored
    ) WHERE rk <= 5
    """,
)
def q_similarity_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _emb(spark, sf_dir)
    queries_df = emb.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_embedding")
    )
    return similarity.cosine_topk(emb, queries_df, k=5).select(
        "query_id", "vec_id", "cos_sim", "rk"
    )


def _embedding_near_dup_sql() -> str:
    from goeventstream_spark.kq_sql import KQ_CELL_CTES

    return f"""
    WITH {KQ_CELL_CTES},
    ev AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
    SELECT vec_a, vec_b, cos_sim FROM (
      SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
             list_dot_product(a.v, b.v)
               / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) AS cos_sim
      FROM ev a JOIN ev b ON a.label = b.label AND a.vec_id < b.vec_id
      JOIN a3 ca ON ca.vec_id = a.vec_id
      JOIN a3 cb ON cb.vec_id = b.vec_id AND cb.cluster_id = ca.cluster_id
    ) WHERE cos_sim >= 0.35
    """


@query("embedding_near_dup", _embedding_near_dup_sql())
def q_embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate embedding pairs above cosine 0.35, blocked on the
    compound (IVF cell, label) key. A raw label has fixed cardinality —
    its blocks grow linearly with the corpus and per-block all-pairs is
    quadratic at scale — so the declared blocking composes the
    deterministic fixed-point IVF cell (clustering.ivf_cell_assign,
    k=4, 2 Lloyd iterations; cell count grows with the corpus and
    bounds block size by construction). The oracle replays the
    identical integer-grid k-means trajectory, so the blocking is
    hash-exact; pairs straddling cells are dropped by BOTH engines —
    the documented ANN approximation (property-pinned as a subset of
    the label-blocked output in tests).

    ROLE: this is the UNCAPPED EVAL TWIN — the PRODUCTION path is
    `embedding_near_dup_capped`, whose hot-cell guard
    (clustering.ivf_cell_assign_capped) re-clusters any cell above 26%
    of the corpus before pair generation and is the variant a 100 TB
    pipeline must run (a skewed corpus concentrated in one base cell
    re-creates the quadratic block this query cannot defend against).
    Migrating this query onto the capped assign would make it
    row-identical to the capped twin at every scale, so it is kept on
    the base assign deliberately: it pins the UNguarded trajectory the
    guard's split is measured against (the capped output is
    property-pinned as a refinement of these blocks), mirroring
    ann_quality_report's exact-vs-approx eval convention. See
    COVERAGE.md."""
    from goeventstream_spark.operators import clustering

    emb_cell = clustering.ivf_cell_assign(
        _emb(spark, sf_dir), k=4, iters=2, scale=1000
    )
    return similarity.embedding_near_dup(
        emb_cell, threshold=0.35, block_col=["cell", "label"]
    )


def _plane_literal(p: int, dims: int = 64) -> str:
    vals = [
        "1.0" if int(hashlib.md5(f"{p}|{j}".encode()).hexdigest(), 16) % 2 == 0 else "-1.0"
        for j in range(dims)
    ]
    return "CAST([" + ", ".join(vals) + "] AS DOUBLE[])"


_BUCKET = " + ".join(
    f"CASE WHEN list_dot_product(v, {_plane_literal(p)}) >= 0 THEN {2**p} ELSE 0 END"
    for p in range(8)
)


@query(
    "lsh_buckets",
    f"""
    WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
    SELECT vec_id, label, CAST({_BUCKET} AS BIGINT) AS lsh_bucket FROM e
    """,
)
def q_lsh_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    return similarity.lsh_bucket(_emb(spark, sf_dir)).select("vec_id", "label", "lsh_bucket")


# ---------------------------------------------------------------------------
# Multimodal plumbing (mapInPandas; deterministic fake decode)
# ---------------------------------------------------------------------------

_HEXPAIR_1 = "(strpos('0123456789abcdef', substr(h, 1, 1)) - 1) * 16 + (strpos('0123456789abcdef', substr(h, 2, 1)) - 1)"
_HEXPAIR_2 = "(strpos('0123456789abcdef', substr(h, 3, 1)) - 1) * 16 + (strpos('0123456789abcdef', substr(h, 4, 1)) - 1)"


@query(
    "multimodal_features",
    f"""
    WITH m AS (SELECT doc_id, md5(text) AS h, octet_length(encode(text)) AS n_bytes FROM documents)
    SELECT doc_id, CAST(n_bytes AS BIGINT) AS n_bytes, h AS content_md5,
           CAST(64 + {_HEXPAIR_1} AS BIGINT) AS width,
           CAST(64 + {_HEXPAIR_2} AS BIGINT) AS height
    FROM m
    """,
)
def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-column pipeline: text -> utf-8 binary payload ->
    mapInPandas feature extraction (Arrow-batched). The fake decode is
    deterministic (md5-derived dims), so even the Python-UDF path is
    oracle-checked exactly."""
    media = multimodal.as_media(_docs(spark, sf_dir))
    return multimodal.extract_features(media, fake=True)


# ---------------------------------------------------------------------------
# Sampling / dataset mixing / chunking (training-pipeline surface)
# ---------------------------------------------------------------------------




@query(
    "deterministic_sample",
    """
    SELECT doc_id, source, sample_key FROM (
      SELECT doc_id, source, substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) AS sample_key
      FROM documents
    ) WHERE sample_key <= '3fff'
    """,
)
def q_deterministic_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """~25% Bernoulli sample keyed on md5(doc_id) — reproducible,
    shuffle-free, stable under corpus growth (unlike rand())."""
    return sampling.sample_by_hash(_docs(spark, sf_dir), "3fff").select(
        "doc_id", "source", "sample_key"
    )


_MIX_THRESHOLDS = ["ffff", "7fff", "3fff", "1fff"]
_MIX_SOURCES = [f"src{i}" for i in range(20)]
_MIX_SQL_DIM = ", ".join(
    f"('src{i}', '{_MIX_THRESHOLDS[i % 4]}')" for i in range(20)
)


@query(
    "dataset_mix",
    f"""
    WITH rates(source, keep_threshold) AS (VALUES {_MIX_SQL_DIM})
    SELECT source, n_docs, CAST(total_chars AS BIGINT) AS total_chars FROM (
      SELECT d.source, count(*) AS n_docs, sum(d.n_chars) AS total_chars
      FROM documents d JOIN rates r ON d.source = r.source
      WHERE substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 4) <= r.keep_threshold
      GROUP BY d.source
    )
    """,
)
def q_dataset_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source weighted sampling (training-mixture step): rates dim
    broadcast against the corpus, then a per-source audit aggregate."""
    rates = sampling.mix_rates_dim(
        spark, _MIX_SOURCES, [_MIX_THRESHOLDS[i % 4] for i in range(20)]
    )
    kept = sampling.dataset_mix(_docs(spark, sf_dir), rates)
    return kept.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").cast("long").alias("total_chars"),
    )


@query(
    "train_val_test_split",
    """
    SELECT split, source, n_docs, CAST(total_chars AS BIGINT) AS total_chars FROM (
      SELECT CASE WHEN k <= '0ccc' THEN 'val'
                  WHEN k <= '1999' THEN 'test'
                  ELSE 'train' END AS split,
             source, count(*) AS n_docs, sum(n_chars) AS total_chars
      FROM (
        SELECT substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) AS k, source, n_chars
        FROM documents
      ) GROUP BY 1, 2
    )
    """,
)
def q_train_val_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic ~5/5/90 split audit: docs and chars per
    (split, source) — one map-side split column, one agg shuffle."""
    split = sampling.train_val_test_split(_docs(spark, sf_dir))
    return split.groupBy("split", "source").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").cast("long").alias("total_chars"),
    )


@query(
    "doc_chunks",
    """
    SELECT doc_id,
           CAST(chunk_start - 1 AS BIGINT) AS chunk_offset,
           CAST((chunk_start - 1) // 160 AS BIGINT) AS chunk_idx,
           substr(text, chunk_start, 200) AS chunk_text,
           CAST(length(substr(text, chunk_start, 200)) AS BIGINT) AS chunk_len
    FROM (
      SELECT doc_id, text,
             unnest(generate_series(1, greatest(length(text) - 40, 1), 160)) AS chunk_start
      FROM documents
    )
    """,
)
def q_doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping 200-char chunks at stride 160 — map-side explode,
    the pre-tokenization split of a training pipeline."""
    return text.chunk_documents(_docs(spark, sf_dir), chunk_size=200, stride=160)


@query("ivf_topk")  # KMeans-trained index: no SQL oracle (rows-only check)
def q_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN top-k via IVF probing (similarity.ivf_topk) — the scale path
    for similarity search. Recall vs brute force and the probe-all ==
    exact equivalence are pinned in test_scale_patterns; the driver
    records the weaker rows-only check since KMeans training is not
    SQL-expressible."""
    emb = _emb(spark, sf_dir)
    queries_df = emb.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_embedding")
    )
    return similarity.ivf_topk(emb, queries_df, k=5).select(
        "query_id", "vec_id", "cos_sim", "rk"
    )


def _band_bits_sql(b: int, planes_per_band: int = 4) -> str:
    return " || ".join(
        f"CASE WHEN list_dot_product(v, {_plane_literal(b * planes_per_band + r)}) >= 0 "
        "THEN '1' ELSE '0' END"
        for r in range(planes_per_band)
    )


_BANDS_SQL = ", ".join(f"{_band_bits_sql(b)} AS b{b}" for b in range(8))
_BAND_COLLIDE = " OR ".join(f"a.b{b} = b.b{b}" for b in range(8))


@query(
    "lsh_banded_near_dup",
    f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    sigs AS (SELECT vec_id, v, {_BANDS_SQL} FROM e),
    pairs AS (
      SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, a.v AS va, b.v AS vb
      FROM sigs a JOIN sigs b ON a.vec_id < b.vec_id AND ({_BAND_COLLIDE})
    )
    SELECT vec_a, vec_b, cos_sim FROM (
      SELECT vec_a, vec_b,
             list_dot_product(va, vb)
               / (sqrt(list_dot_product(va, va)) * sqrt(list_dot_product(vb, vb))) AS cos_sim
      FROM pairs
    ) WHERE cos_sim >= 0.35
    """,
)
def q_lsh_banded_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded hyperplane-LSH near-dup (similarity.lsh_banded_near_dup):
    candidates from band collisions, exact cosine verify. RECALL is
    approximate by design (floor pinned in test_scale_patterns), but
    since round 3 the RESULT is deterministic end-to-end — md5-parity
    planes + exact-fold projections make the collision set itself
    reproducible in SQL — so the full pair set is hash-oracled (the
    oracle's O(n²) OR-join is oracle-side only; the engine never joins
    outside a bucket)."""
    return similarity.lsh_banded_near_dup(_emb(spark, sf_dir), threshold=0.35)


@query(
    "repetition_stats",
    """
    WITH words AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents
    ),
    tf AS (
      SELECT doc_id, word, count(*) AS tf FROM words WHERE word <> '' GROUP BY 1, 2
    ),
    ranked AS (
      SELECT doc_id, word, tf,
             sum(tf) OVER (PARTITION BY doc_id) AS n_words,
             row_number() OVER (PARTITION BY doc_id ORDER BY tf DESC, word) AS rk
      FROM tf
    )
    SELECT doc_id, word AS top_word, CAST(tf AS BIGINT) AS top_tf,
           CAST(n_words AS BIGINT) AS n_words,
           CAST(tf AS DOUBLE) / CAST(n_words AS DOUBLE) AS top_share
    FROM ranked WHERE rk = 1
    """,
)
def q_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dominant-term concentration (repetition quality signal) — see
    text.repetition_stats."""
    return text.repetition_stats(_docs(spark, sf_dir))


# ---------------------------------------------------------------------------
# Near-dup clustering (connected components) + representative selection
# ---------------------------------------------------------------------------

_JPAIRS_CTE = (
    _SHINGLES
    + """,
  sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
  inter AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
    FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    GROUP BY 1, 2
  ),
  jpairs AS (
    SELECT doc_a, doc_b FROM (
      SELECT doc_a, doc_b,
             CAST(n_common AS DOUBLE) / CAST(sa.n + sb.n - n_common AS DOUBLE) AS jaccard
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
  comp AS (SELECT id, min(lbl) AS cluster_id FROM reach GROUP BY id)"""
)


@query(
    "dedup_clusters",
    f"""
    WITH RECURSIVE {_JPAIRS_CTE}
    SELECT d.doc_id, coalesce(c.cluster_id, d.doc_id) AS cluster_id
    FROM documents d LEFT JOIN comp c ON d.doc_id = c.id
    """,
)
def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over exact n-gram Jaccard near-dup pairs
    (dedup.dedup_clusters): min-label propagation, O(diameter) rounds,
    one shuffle per round. Oracle = DuckDB recursive transitive closure.
    At 100 TB the pair source is the LSH candidate path; the exact
    Jaccard pairs here keep the oracle deterministic."""
    docs = _docs(spark, sf_dir)
    return dedup.dedup_clusters(dedup.ngram_jaccard_pairs(docs), all_docs=docs)


@query(
    "dedup_representatives",
    f"""
    WITH RECURSIVE {_JPAIRS_CTE},
    {_QUAL_CTE},
    assign AS (
      SELECT d.doc_id, coalesce(c.cluster_id, d.doc_id) AS cluster_id
      FROM documents d LEFT JOIN comp c ON d.doc_id = c.id
    ),
    ranked AS (
      SELECT a.cluster_id, a.doc_id, q.quality_score,
             row_number() OVER (PARTITION BY a.cluster_id
                                ORDER BY q.quality_score DESC, a.doc_id) AS rk,
             count(*) OVER (PARTITION BY a.cluster_id) AS n_members
      FROM assign a JOIN qual q ON a.doc_id = q.doc_id
    )
    SELECT cluster_id, doc_id AS rep_doc_id,
           CAST(n_members AS BIGINT) AS n_members,
           quality_score AS rep_quality
    FROM ranked WHERE rk = 1
    """,
)
def q_dedup_representatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep-best-per-cluster: highest quality_score member of each
    near-dup component (dedup.dedup_representatives) — the decision
    table the curation funnel joins to drop redundant docs."""
    docs = _docs(spark, sf_dir)
    clusters = dedup.dedup_clusters(dedup.ngram_jaccard_pairs(docs), all_docs=docs)
    return dedup.dedup_representatives(clusters, text.quality_score(docs))


# ---------------------------------------------------------------------------
# Corpus n-gram stats + embedding quantization
# ---------------------------------------------------------------------------


@query(
    "bigram_topk",
    """
    WITH w AS (
      SELECT lang, doc_id, word, pos FROM (
        SELECT lang, doc_id, unnest(string_split(text, ' ')) AS word,
               generate_subscripts(string_split(text, ' '), 1) AS pos
        FROM documents
      ) WHERE word <> ''
    ),
    bg AS (
      SELECT lang,
             word || ' ' || lead(word) OVER (PARTITION BY doc_id ORDER BY pos) AS bigram
      FROM w
    ),
    cnt AS (
      SELECT lang, bigram, count(*) AS n FROM bg
      WHERE bigram IS NOT NULL GROUP BY 1, 2
    )
    SELECT lang, bigram, n, rk FROM (
      SELECT lang, bigram, n,
             CAST(row_number() OVER (PARTITION BY lang ORDER BY n DESC, bigram) AS BIGINT) AS rk
      FROM cnt
    ) WHERE rk <= 5
    """,
)
def q_bigram_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level top-5 bigrams per language (text.bigram_topk):
    shuffle-free zip_with bigram generation, one count shuffle, tiny
    per-language top-k window."""
    return text.bigram_topk(_docs(spark, sf_dir))


@query(
    "embedding_quantize",
    """
    SELECT vec_id,
           127.0 / list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS scale,
           array_to_string(
             list_transform(embedding,
               x -> CAST(floor(CAST(x AS DOUBLE)
                      * (127.0 / list_max(list_transform(embedding, y -> abs(CAST(y AS DOUBLE))))))
                    AS BIGINT)),
             ',') AS qvec
    FROM embeddings
    """,
)
def q_embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 scalar quantization of the embedding column
    (similarity.quantize_embeddings): map-side higher-order functions,
    no shuffle; quantized vector emitted as a joined string for
    cross-engine hashing."""
    return similarity.quantize_embeddings(_emb(spark, sf_dir))


@query(
    "quality_deciles",
    f"""
    WITH {_WORDS},
    {_QUAL_CTE},
    q AS (
      SELECT qual.doc_id, d.source, quality_score
      FROM qual JOIN documents d ON qual.doc_id = d.doc_id
    )
    SELECT source, decile, count(*) AS n_docs,
           min(quality_score) AS min_q, max(quality_score) AS max_q
    FROM (
      SELECT source, quality_score,
             CAST(ntile(10) OVER (PARTITION BY source
                                  ORDER BY quality_score, doc_id) AS BIGINT) AS decile
      FROM q
    )
    GROUP BY source, decile
    """,
)
def q_quality_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum bucketing: per-source quality deciles (ntile over the
    quality score, doc_id tie-break for determinism) with per-bucket
    count and score range — the table a curriculum-ordered training
    mix samples from. Window partitions by source, so no global
    single-partition sort; the final agg is tiny."""
    from pyspark.sql import Window

    docs = _docs(spark, sf_dir)
    q = text.quality_score(docs).join(docs.select("doc_id", "source"), "doc_id")
    w = Window.partitionBy("source").orderBy("quality_score", "doc_id")
    return (
        q.withColumn("decile", F.ntile(10).over(w).cast("long"))
        .groupBy("source", "decile")
        .agg(
            F.count("*").alias("n_docs"),
            F.min("quality_score").alias("min_q"),
            F.max("quality_score").alias("max_q"),
        )
    )


@query(
    "sequence_packing",
    """
    SELECT doc_id, source, n_tokens,
           CAST(coalesce(cum_before, 0) // 512 AS BIGINT) AS pack_id
    FROM (
      SELECT doc_id, source, n_tokens,
             sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS cum_before
      FROM (
        SELECT doc_id, source,
               CAST(len(list_filter(string_split(text, ' '), w -> w <> '')) AS BIGINT)
                 AS n_tokens
        FROM documents
      )
    )
    """,
)
def q_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy training-sequence packing into 512-token budgets per
    source (text.sequence_packing): one running-sum window per group,
    deterministic doc-id order, no sequential loop."""
    return text.sequence_packing(_docs(spark, sf_dir))


@query(
    "curate_corpus_near",
    rf"""
    WITH RECURSIVE {_SHINGLES},
    bench AS (SELECT doc_id FROM documents WHERE {_BENCH_PRED_SQL}),
    {_QUAL_CTE},
    qf AS (SELECT doc_id, quality_score FROM qual WHERE quality_score >= 1.5),
    surv AS (
      SELECT q.doc_id, q.quality_score FROM qf q
      WHERE q.doc_id NOT IN (SELECT doc_id FROM bench)
    ),
    shq AS (SELECT sh.doc_id, sh.shingle FROM sh JOIN surv ON sh.doc_id = surv.doc_id),
    sizes AS (SELECT doc_id, count(*) AS n FROM shq GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
      FROM shq a JOIN shq b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    jpairs AS (
      SELECT doc_a, doc_b FROM (
        SELECT doc_a, doc_b,
               CAST(n_common AS DOUBLE) / CAST(sa.n + sb.n - n_common AS DOUBLE) AS jaccard
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
    assign AS (
      SELECT s.doc_id, coalesce(c.cluster_id, s.doc_id) AS cluster_id, s.quality_score
      FROM surv s LEFT JOIN comp c ON s.doc_id = c.id
    ),
    reps AS (
      SELECT doc_id FROM (
        SELECT doc_id,
               row_number() OVER (PARTITION BY cluster_id
                                  ORDER BY quality_score DESC, doc_id) AS rk
        FROM assign
      ) WHERE rk = 1
    ),
    flagged AS (
      SELECT DISTINCT sh.doc_id
      FROM sh
      JOIN (SELECT DISTINCT s2.shingle FROM sh s2 JOIN bench ON s2.doc_id = bench.doc_id) bsh
        ON sh.shingle = bsh.shingle
      WHERE sh.doc_id IN (SELECT doc_id FROM reps)
    )
    SELECT d.doc_id, d.lang, d.source, d.n_chars
    FROM documents d
    JOIN reps ON d.doc_id = reps.doc_id
    WHERE d.doc_id NOT IN (SELECT doc_id FROM flagged)
    """,
)
def q_curate_corpus_near(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup-aware curation funnel — the full modern pipeline pass:
    quality gate, NEAR-duplicate clustering (exact n-gram Jaccard pairs
    -> connected components), keep the best-quality representative per
    cluster, then benchmark decontamination. Versus curate_corpus
    (exact-hash dedup), this drops paraphrased/near-identical documents
    too — the step that actually shrinks crawled corpora.

    Every stage is an existing operator; only the connected-components
    loop breaks the single Catalyst plan (inherent to iterative graph
    algorithms — O(diameter) rounds, localCheckpoint between rounds).
    At 100 TB the pair source becomes the MinHash-LSH candidate path;
    exact Jaccard here keeps the DuckDB recursive-CTE oracle exact.
    """
    docs = _docs(spark, sf_dir)
    is_bench = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1) == "0"
    corpus = docs.where(~is_bench)
    bench = docs.where(is_bench)
    qual = text.quality_score(corpus).where(F.col("quality_score") >= 1.5)
    survivors = corpus.join(qual.select("doc_id"), "doc_id")
    pairs = dedup.ngram_jaccard_pairs(survivors)
    clusters = dedup.dedup_clusters(pairs, all_docs=survivors)
    reps = dedup.dedup_representatives(clusters, qual).select(
        F.col("rep_doc_id").alias("doc_id")
    )
    kept = survivors.join(reps, "doc_id")
    flagged = dedup.decontaminate(kept, bench).select("doc_id")
    return kept.join(flagged, "doc_id", "left_anti").select(
        "doc_id", "lang", "source", "n_chars"
    )


@query("pq_codes")
def q_pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization encoding (similarity.pq_index): 8 uint8
    codes per 64-dim vector, codebooks trained on a bounded
    deterministic sample. Rows-only by design (sampled float-Lloyd
    codebooks are not SQL-expressible); the PQ mechanism itself is
    hash-oracled end-to-end by the fixed-point twin pq_fixed_adc_topk,
    and this float encoder's argmin algebra is replayed independently
    in test_scale_patterns (test_pq_float_pipeline_algebra_pinned),
    plus encode determinism + reconstruction distortion pins."""
    codes, _ = similarity.pq_index(_emb(spark, sf_dir))
    return codes.select("vec_id", F.concat_ws(",", F.col("codes")).alias("code_str"))


@query("pq_adc_topk")
def q_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ asymmetric-distance top-k (similarity.pq_adc_topk): per-query
    distance tables + O(subspaces) lookups per candidate over the
    32x-compressed codes. Rows-only by design (float codebooks); the
    mechanism is hash-oracled by the fixed-point twin pq_fixed_adc_topk,
    and this float pipeline's shortlist+re-rank algebra is replayed
    independently in test_scale_patterns
    (test_pq_float_pipeline_algebra_pinned) plus a recall floor vs
    exact cosine."""
    emb = _emb(spark, sf_dir)
    qs = emb.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_embedding")
    )
    return similarity.pq_adc_topk(emb, qs, k=5)


@query(
    "duplicated_spans",
    """
    WITH toks AS (
      SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS ws
      FROM documents
    ), spans AS (
      SELECT doc_id, s AS span_start,
             md5(array_to_string(ws[s : s + 19], ' ')) AS h
      FROM toks, unnest(generate_series(1, greatest(len(ws) - 19, 1), 10)) AS t(s)
    ), cross_doc AS (
      SELECT h FROM spans GROUP BY h HAVING count(DISTINCT doc_id) >= 2
    ), per_doc AS (
      SELECT doc_id, count(*) AS n_spans FROM spans GROUP BY doc_id
    ), flagged AS (
      SELECT doc_id, count(*) AS dup_spans FROM spans
      WHERE h IN (SELECT h FROM cross_doc) GROUP BY doc_id
    )
    SELECT p.doc_id, p.n_spans,
           coalesce(f.dup_spans, 0) AS dup_spans,
           CAST(coalesce(f.dup_spans, 0) AS DOUBLE) / CAST(p.n_spans AS DOUBLE)
             AS dup_ratio
    FROM per_doc p LEFT JOIN flagged f ON p.doc_id = f.doc_id
    """,
)
def q_duplicated_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring-level exact dedup (dedup.duplicated_spans): 20-token
    rolling windows at stride 10, md5 span hashes, per-doc counts of
    spans shared verbatim with another document — the repeated-passage
    scrub that document-level and near-dup dedup both miss."""
    return dedup.duplicated_spans(_docs(spark, sf_dir), window=20, stride=10)


@query(
    "strip_duplicated_spans",
    """
    WITH toks AS (
      SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS ws
      FROM documents
    ), spans AS (
      SELECT doc_id, s AS span_start, len(ws) AS n_toks,
             md5(array_to_string(ws[s : s + 19], ' ')) AS h
      FROM toks, unnest(generate_series(1, greatest(len(ws) - 19, 1), 10)) AS t(s)
    ), flagged AS (
      SELECT h FROM spans GROUP BY h HAVING count(DISTINCT doc_id) >= 2
    ), cover AS (
      SELECT DISTINCT s.doc_id, p AS pos
      FROM spans s JOIN flagged USING (h),
           unnest(generate_series(s.span_start,
                                  least(s.span_start + 19, s.n_toks))) AS u(p)
    ), words AS (
      SELECT doc_id, generate_subscripts(ws, 1) AS pos, unnest(ws) AS w
      FROM toks
    ), kept AS (
      SELECT w.doc_id,
             array_to_string(list(w.w ORDER BY w.pos), ' ') AS clean_text,
             count(*) AS n_kept
      FROM words w LEFT JOIN cover c ON w.doc_id = c.doc_id AND w.pos = c.pos
      WHERE c.pos IS NULL
      GROUP BY w.doc_id
    )
    SELECT t.doc_id,
           coalesce(k.clean_text, '') AS clean_text,
           CAST(coalesce(k.n_kept, 0) AS BIGINT) AS n_kept,
           CAST(len(t.ws) - coalesce(k.n_kept, 0) AS BIGINT) AS n_stripped
    FROM toks t LEFT JOIN kept k USING (doc_id)
    """,
)
def q_strip_duplicated_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The removal half of substring dedup (dedup.strip_duplicated_spans;
    C4 §2.2 discards repeated spans — duplicated_spans above only
    flags): every token covered by a cross-document verbatim 20-token
    span is stripped and the survivors reassemble in order. Fully
    hash-oracled including the rebuilt text."""
    return dedup.strip_duplicated_spans(_docs(spark, sf_dir), window=20, stride=10)


@query(
    "token_diversity",
    """
    WITH words AS (
      SELECT doc_id, word FROM (
        SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents
      ) WHERE word <> ''
    ), tf AS (
      SELECT doc_id, word, count(*) AS tf FROM words GROUP BY doc_id, word
    )
    SELECT doc_id,
           CAST(sum(tf) AS BIGINT) AS n_words,
           CAST(count(*) AS BIGINT) AS n_types,
           CAST(count(*) AS DOUBLE) / CAST(sum(tf) AS DOUBLE) AS type_token_ratio,
           1.0 - CAST(sum(tf * tf) AS DOUBLE)
                 / (CAST(sum(tf) AS DOUBLE) * CAST(sum(tf) AS DOUBLE))
             AS simpson_diversity
    FROM tf GROUP BY doc_id
    """,
)
def q_token_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexical diversity (text.token_diversity): type-token ratio and
    Gini-Simpson index from integer term frequencies — the rational
    (bit-exact cross-engine) stand-in for entropy-based quality
    scoring."""
    return text.token_diversity(_docs(spark, sf_dir))


def _embedding_near_dup_capped_sql() -> str:
    from goeventstream_spark.kq_sql import KQ_CAPPED_CELL_CTES, KQ_CELL_CTES

    return f"""
    WITH {KQ_CELL_CTES},
    {KQ_CAPPED_CELL_CTES},
    ev AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
    SELECT vec_a, vec_b, cos_sim FROM (
      SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
             list_dot_product(a.v, b.v)
               / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) AS cos_sim
      FROM ev a JOIN ev b ON a.label = b.label AND a.vec_id < b.vec_id
      JOIN kcap ca ON ca.vec_id = a.vec_id
      JOIN kcap cb ON cb.vec_id = b.vec_id AND cb.cell = ca.cell
    ) WHERE cos_sim >= 0.35
    """


@query("embedding_near_dup_capped", _embedding_near_dup_capped_sql())
def q_embedding_near_dup_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """embedding_near_dup with the HOT-CELL-GUARDED blocking key
    (clustering.ivf_cell_assign_capped): any IVF cell holding more
    than 26% of the corpus is deterministically re-clustered one level
    with the same fixed-point k-means before pair generation — the
    skew guard that keeps a clustered corpus from re-creating the
    quadratic in-cell block at 100 TB. cap_frac 0.26 provably
    exercises the split on the fixture at both gate scales (one cell
    sits above it at sf0.01 AND sf0.1), and the oracle replays the
    full conditional trajectory in SQL (kq_sql.KQ_CAPPED_CELL_CTES),
    so the guard itself is hash-pinned cross-engine. The declared
    query pins max_levels=1 (what the SQL transcribes); the
    adversarial multi-level path is property-pinned in pytest
    (test_ivf_capped_splits_adversarial_hot_cell)."""
    from goeventstream_spark.kq_sql import KQ_CAPPED_FRAC
    from goeventstream_spark.operators import clustering

    emb_cell = clustering.ivf_cell_assign_capped(
        _emb(spark, sf_dir), k=4, iters=2, scale=1000,
        cap_frac=KQ_CAPPED_FRAC, max_levels=1,
    )
    return similarity.embedding_near_dup(
        emb_cell, threshold=0.35, block_col=["cell", "label"]
    )
