"""Deduplication operators for LLM training-data pipelines
(SURVEY.md §2b group 3 — north-star extensions beyond the reference).

All compositions of built-in JVM expressions — no Python UDFs anywhere,
so every stage stays in whole-stage codegen and scales by partitioning:

- exact_dedup:    one hash-shuffle on content hash.
- minhash LSH:    shingle explode -> per-doc signature agg (one shuffle
                  on doc_id) -> band explode -> self-join on band
                  signature (one shuffle on band key). At 100 TB the
                  band join is the only quadratic-risk stage and its
                  blowup is bounded by bucket collision rate, not n².
- ngram_jaccard:  inverted-index pair generation (shuffle on shingle)
                  — exact but O(sum of per-shingle doc-pair counts);
                  use MinHash-LSH first at scale, this as the verifier.
- simhash:        per-word hash -> bit votes -> per-doc agg; pure
                  map-side until the doc_id agg.

Cross-engine determinism: every hash is md5 (identical hex output in
Spark and DuckDB); MinHash "permutations" are min() over md5(i||'|'||s)
as *string* min — total order on hex strings agrees everywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from goeventstream_spark.operators.lineage import materialize
from goeventstream_spark.sources.tables import scan_fanout_for

DEFAULT_NUM_HASHES = 16
DEFAULT_BANDS = 4

DEFAULT_SHINGLE_K = 3
SIMHASH_BITS = 32


def normalized_text(col: str = "text") -> F.Column:
    """Normalization for exact dedup: lowercase + trim + collapse
    internal whitespace runs."""
    return F.regexp_replace(F.lower(F.trim(F.col(col))), r"\s+", " ")


def exact_dedup(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Exact duplicate removal: md5 over normalized text; keep the
    lowest id per content hash, count the duplicates."""
    return (
        docs.select(F.col(id_col), F.md5(normalized_text(text_col)).alias("content_hash"))
        .groupBy("content_hash")
        .agg(
            F.min(id_col).alias("keep_doc_id"),
            F.count("*").alias("dup_count"),
        )
    )


def shingles(
    docs: DataFrame, k: int = DEFAULT_SHINGLE_K, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Distinct word k-shingles per document via posexplode + lead
    windows. Measured note: an array higher-order-function formulation
    (transform over a sequence) avoids the window shuffle but is ~2x
    slower here — Spark interprets HOF lambdas outside whole-stage
    codegen, while lag/lead windows stay fully codegen'd.

    Round 10: per-operator scan fan-out (VERDICT r9 #2 — replaces the
    round-9 load-time documents fan-out, so the table's light consumers
    stop paying the exchange): the posexplode + shingle build is the
    heavy pre-shuffle map work; an undersized single-split input would
    run it on one core. The doc_id window below reuses the fan-out
    partitioning."""
    docs = scan_fanout_for(docs, id_col)
    words = docs.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), " ")).alias("pos", "word"),
    ).where(F.col("word") != "")
    w = Window.partitionBy(id_col).orderBy("pos")
    parts = [F.col("word")] + [F.lead("word", i).over(w) for i in range(1, k)]
    sh = words.select(
        F.col(id_col),
        F.concat_ws(" ", *parts).alias("shingle"),
        parts[-1].alias("_last"),
    ).where(F.col("_last").isNotNull())
    return sh.select(id_col, "shingle").distinct()


def minhash_signatures(
    sh: DataFrame, num_hashes: int = DEFAULT_NUM_HASHES, id_col: str = "doc_id"
) -> DataFrame:
    """MinHash signature per document: hash family i is
    md5(i || '|' || shingle); the signature component is the *string*
    minimum of the hex digests — exact, portable, and a single
    partial-aggregatable min() per component."""
    return sh.groupBy(id_col).agg(
        *[
            F.min(F.md5(F.concat(F.lit(f"{i}|"), F.col("shingle")))).alias(f"m{i}")
            for i in range(num_hashes)
        ]
    )


def _banded(
    sig: DataFrame, num_hashes: int, bands: int, id_col: str = "doc_id"
) -> DataFrame:
    """Band-explode a signature table: one row per (doc, band) with
    the band signature (md5 of the band's components) plus the full
    signature columns carried through for est-Jaccard computation."""
    rows_per_band = num_hashes // bands
    return sig.select(
        F.col(id_col),
        *[F.col(f"m{i}") for i in range(num_hashes)],
        F.posexplode(
            F.array(
                *[
                    F.md5(
                        F.concat_ws(
                            "|",
                            *[F.col(f"m{b * rows_per_band + r}") for r in range(rows_per_band)],
                        )
                    )
                    for b in range(bands)
                ]
            )
        ).alias("band_id", "band_sig"),
    )


def lsh_candidate_pairs(
    sig: DataFrame,
    num_hashes: int = DEFAULT_NUM_HASHES,
    bands: int = DEFAULT_BANDS,
    id_col: str = "doc_id",
) -> DataFrame:
    """LSH banding: hash each band of the signature, self-join per band
    on (band_id, band_sig), emit distinct candidate pairs with the
    MinHash-estimated Jaccard (fraction of equal signature components).

    The band self-join shuffles on the band signature — collisions (not
    n²) bound the work, which is the whole point of LSH at scale.
    """
    if num_hashes % bands != 0:
        raise ValueError(
            f"lsh_candidate_pairs: num_hashes={num_hashes} not divisible "
            f"by bands={bands} — trailing signature components would be "
            "silently left out of every band"
        )
    # materialize once: both self-join sides consume the banded table
    # and ReuseExchange is not guaranteed across the aliased sides —
    # without this the shingle->signature agg chain executes twice per
    # run (round-9 opt; same fix as the multimodal pair operators)
    banded = _banded(sig, num_hashes, bands, id_col).localCheckpoint(eager=False)
    a = banded.alias("a")
    b = banded.alias("b")
    # est_jaccard is computed BEFORE the distinct, so only 3 columns
    # cross it. Fold the per-component equality flags into one sum here
    # rather than carrying num_hashes aliased _eq columns through the
    # dedup: est is a pure function of the pair (both sides' signatures
    # are fixed per doc), so distinct-then-sum and sum-then-distinct
    # agree — and the narrow shape keeps Catalyst's constraint
    # propagation linear when callers join pairs onward (with the wide
    # _eq projection, stacking even one more join on the result sent
    # InferFiltersFromConstraints into a combinatorial alias blowup
    # that never returned from optimization).
    est = sum(
        (F.col(f"a.m{i}") == F.col(f"b.m{i}")).cast("int")
        for i in range(num_hashes)
    ) / F.lit(float(num_hashes))
    return (
        a.join(
            b,
            (F.col(f"a.band_id") == F.col(f"b.band_id"))
            & (F.col(f"a.band_sig") == F.col(f"b.band_sig"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("doc_a"),
            F.col(f"b.{id_col}").alias("doc_b"),
            est.alias("est_jaccard"),
        )
        .distinct()
    )


def minhash_near_dedup(
    docs: DataFrame,
    threshold: float = 0.5,
    num_hashes: int = DEFAULT_NUM_HASHES,
    bands: int = DEFAULT_BANDS,
    k: int = DEFAULT_SHINGLE_K,
) -> DataFrame:
    """Full MinHash-LSH near-duplicate pipeline: shingle -> signature ->
    band join -> estimated-Jaccard filter."""
    sig = minhash_signatures(shingles(docs, k), num_hashes)
    return lsh_candidate_pairs(sig, num_hashes, bands).where(
        F.col("est_jaccard") >= F.lit(threshold)
    )


def incremental_minhash_dedup(
    history_sigs: DataFrame,
    delta_docs: DataFrame | None,
    threshold: float = 0.5,
    num_hashes: int = DEFAULT_NUM_HASHES,
    bands: int = DEFAULT_BANDS,
    k: int = DEFAULT_SHINGLE_K,
    id_col: str = "doc_id",
    delta_sigs: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Incremental near-dedup: dedup a DELTA of new documents against a
    corpus represented ONLY by its persisted MinHash signature table —
    the production ingest shape at 100 TB, where re-shingling the
    historical corpus per batch is a non-starter. Returns
    ``(delta_sigs, dup_pairs)``: the delta's signature rows (append
    them to the index for the next batch) and every near-dup pair
    involving at least one delta doc (delta-vs-history AND
    delta-vs-delta).

    Because signatures and band keys are doc-local, the incremental
    result is EXACTLY the full-recompute pair set restricted to pairs
    touching the delta (pinned by test_incremental_minhash_equals_full
    on arbitrary splits). Join shape: the banded DELTA (small) drives
    the band join; history participates only through its signature
    table — persist that table bucketed by band_sig and the join is
    shuffle-free on the history side.

    Pass ``delta_sigs`` instead of ``delta_docs`` when the delta's
    signatures are already materialized (the streaming sink does,
    to avoid re-shingling the batch it just indexed).
    """
    if delta_sigs is None:
        delta_sigs = minhash_signatures(shingles(delta_docs, k), num_hashes)
    sig_cols = [id_col, *[f"m{i}" for i in range(num_hashes)]]
    all_sigs = history_sigs.select(*sig_cols).unionByName(delta_sigs.select(*sig_cols))
    a = _banded(delta_sigs, num_hashes, bands, id_col).alias("a")
    b = _banded(all_sigs, num_hashes, bands, id_col).alias("b")
    # est folded pre-distinct so only 3 columns cross it — same
    # narrow-pair shape (and constraint-propagation rationale) as
    # lsh_candidate_pairs; est is symmetric in (a, b) so the
    # canonicalized pair carries one well-defined value.
    est = sum(
        (F.col(f"a.m{i}") == F.col(f"b.m{i}")).cast("int")
        for i in range(num_hashes)
    ) / F.lit(float(num_hashes))
    pairs = (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_sig") == F.col("b.band_sig"))
            & (F.col(f"a.{id_col}") != F.col(f"b.{id_col}")),
        )
        .select(
            # canonicalize so a delta-delta pair found in both orders
            # (and in several bands) collapses in the distinct below;
            # the equality flags are symmetric, so order is irrelevant
            F.least(F.col(f"a.{id_col}"), F.col(f"b.{id_col}")).alias("doc_a"),
            F.greatest(F.col(f"a.{id_col}"), F.col(f"b.{id_col}")).alias("doc_b"),
            est.alias("est_jaccard"),
        )
        .distinct()
    )
    dup_pairs = pairs.where(F.col("est_jaccard") >= F.lit(threshold))
    return delta_sigs, dup_pairs


def prefix_filter_jaccard_join(
    docs: DataFrame,
    threshold: float = 0.5,
    k: int = DEFAULT_SHINGLE_K,
    id_col: str = "doc_id",
) -> DataFrame:
    """EXACT Jaccard set-similarity self-join via prefix filtering
    (PPJoin family, Xiao et al. WWW'08) — the scale path for exact
    near-dup detection, complementary to MinHash-LSH (approximate,
    recall < 1) and the plain inverted index (exact but explodes on
    frequent tokens).

    Shape: rank each doc's shingles rare-first by global document
    frequency (ties by shingle — one canonical total order), keep only
    the first |s| - ceil(t*|s|) + 1 as the doc's PREFIX, and generate
    candidates by self-joining prefixes on the shingle. Any pair with
    Jaccard >= t and sizes passing the t*|other| check shares at least
    ceil(t*max(|a|,|b|)) shingles, so its prefixes must collide —
    recall is exactly 1 by the prefix-filter theorem. Candidates are
    then verified with exact intersection counts, so precision is also
    exactly 1: output == ngram_jaccard_pairs, pinned in pytest.

    100 TB anatomy: the only quadratic-risk stage — the prefix
    self-join — shuffles on the shingle, and the rare-first order
    means the hottest tokens sit OUTSIDE almost every prefix: a token
    appears in a doc's prefix only when the doc has few rarer tokens,
    so posting lists of the candidate join are the df-ranked TAIL, not
    the head that kills the naive inverted index. Verification touches
    candidate pairs only."""
    # The shingle relation feeds three consumers (ranking + both verify
    # sides); checkpoint it once so the explode+lead-window build isn't
    # re-executed per consumer — the in-plan analogue of persisting the
    # corpus shingle table, which is what a 100 TB deployment does.
    sh = shingles(docs, k, id_col).localCheckpoint(eager=False)
    # df and |s| as WINDOW counts, not agg+join-back: the naive shape
    # (groupBy shingle, groupBy doc, two joins) recomputes the shingle
    # explode three times and shuffles it four; windows compute both
    # counts in the two shuffles the ranking needs anyway (the two
    # doc-partitioned windows share one exchange). At 100 TB this
    # ranked relation is what you'd persist as the corpus's similarity
    # index, bucketed by shingle.
    w_sh = Window.partitionBy("shingle")
    w_doc = Window.partitionBy(id_col)
    w_rank = Window.partitionBy(id_col).orderBy("df", "shingle")
    pref = (
        sh.withColumn("df", F.count("*").over(w_sh))
        .withColumn("n_sh", F.count("*").over(w_doc))
        .withColumn("pos", F.row_number().over(w_rank))
        .where(
            F.col("pos")
            <= F.col("n_sh") - F.ceil(F.lit(threshold) * F.col("n_sh")) + 1
        )
        .select(id_col, "shingle", "n_sh")
        # materialize once: the candidate self-join consumes pref on
        # both sides and would otherwise re-run the two window
        # exchanges per side (round-9 opt)
        .localCheckpoint(eager=False)
    )
    a, b = pref.alias("a"), pref.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
            # size filter: |smaller| >= t*|larger| or Jaccard < t a priori
            & (F.col("a.n_sh").cast("double") >= F.lit(threshold) * F.col("b.n_sh"))
            & (F.col("b.n_sh").cast("double") >= F.lit(threshold) * F.col("a.n_sh")),
        )
        .select(
            F.col(f"a.{id_col}").alias("doc_a"),
            F.col(f"b.{id_col}").alias("doc_b"),
            # sizes ride along on the pair — no join back to a sizes
            # relation after verification
            F.col("a.n_sh").alias("n_a"),
            F.col("b.n_sh").alias("n_b"),
        )
        .distinct()
    )
    # exact verification on candidates only: intersection via the
    # shingle sets, then the |A ∪ B| = |A| + |B| - |A ∩ B| identity
    sh_a = sh.select(F.col(id_col).alias("doc_a"), "shingle")
    sh_b = sh.select(F.col(id_col).alias("doc_b"), "shingle")
    return (
        cand.join(sh_a, "doc_a")
        .join(sh_b, ["doc_b", "shingle"])
        .groupBy("doc_a", "doc_b", "n_a", "n_b")
        .agg(F.count("*").alias("n_common"))
        .select(
            "doc_a",
            "doc_b",
            (
                F.col("n_common").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("n_common")).cast("double")
            ).alias("jaccard"),
        )
        .where(F.col("jaccard") >= F.lit(threshold))
    )


def edit_distance_qgram_join(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_dist: int = 3,
    q: int = 3,
    block_cols: tuple[str, ...] = (),
    expand: str = "all",
) -> DataFrame:
    """EXACT bounded-edit-distance self-join via q-gram prefix
    filtering over DISTINCT strings — candidate volume scales with
    gram-collision counts among distinct values, never with
    block-size**2 (the scale-true replacement for fixed-cardinality
    blocking: at 100x the corpus a fixed block's pairs grow 10^4x,
    while gram posting lists grow ~linearly and the distinct
    projection absorbs duplicate-heavy corpora entirely).

    Returns ordered pairs ``(id_a, id_b)`` with ``id_a < id_b``,
    ``levenshtein(text_a, text_b) <= max_dist`` and, if ``block_cols``
    is given, equality on every block column (exact-match predicates
    the caller's semantics already require, e.g. ``p_size``).

    Anatomy — three stages, each shuffle-bounded by a DATA-dependent
    quantity:

    1. DISTINCT PROJECTION: rows collapse to (text, blocks) groups
       with a representative id (the group min) — one hash-agg
       shuffle. Similarity work then runs on distinct values only;
       for all-unique corpora this is a passthrough, for
       duplicate-heavy ones (real product/entity tables) it removes
       the dominant quadratic term outright.
    2. PREFIX-FILTERED CANDIDATES over the groups, exact by two
       public results:
       - COUNT BOUND (Gravano et al., "Approximate String Joins in a
         Database (Almost) for Free", VLDB'01): one edit operation
         destroys at most ``q`` q-grams, so ``ed(a,b) <= k`` forces a
         bag-intersection of at least ``T = max(|Ga|,|Gb|) - k*q``
         q-grams (``|G| = len - q + 1``).
       - PREFIX FILTER (Chaudhuri et al. ICDE'06 / Xiao et al.
         WWW'08): under any global total order on grams, two bags
         sharing >= T elements must collide within their first
         ``|G| - T + 1`` elements — at most ``k*q + 1`` grams PER
         STRING with the T above: a CONSTANT. Joining distinct-gram
         prefixes of size k*q+1 is a superset of the bag-prefix join
         (a gram inside the first k*q+1 bag elements is among the
         first <= k*q+1 distinct values in the same order), so recall
         stays exactly 1. Grams are ranked rare-first by global
         document frequency (ties by gram — one canonical order), so
         hot grams sit OUTSIDE almost every prefix; the tiny df
         relation (one row per distinct gram) broadcasts, and the
         rank shuffle is AQE-skew-splittable, unlike a
         window-over-gram.
       The bound is vacuous only when BOTH strings are short
       (``max(len) < q + k*q``: two length-4 strings at ed 2 can
       share zero 3-grams) — those pairs come from an all-pairs
       fallback restricted to the short stratum; the gram join
       requires ``greatest(len_a, len_b) >= q + k*q`` so the two
       candidate sets are provably disjoint. Every candidate is then
       verified with the builtin bounded ``levenshtein(a, b, k)``
       (codegen'd, early-exit), so precision is exact too.
    3. EXPANSION back to id pairs, output-bound:
       - ``expand="all"``: every qualifying id pair — within-group
         (ed = 0) pairs plus the cross product of matched groups'
         members. Equals the naive theta join row-for-row (pinned in
         tests/test_operators.py).
       - ``expand="spanning"``: a reduced edge set with the SAME
         connected components — star edges member->representative
         plus one representative edge per matched group pair. For
         transitive-closure consumers (entity resolution, near-dup
         clustering) this is the right contract: O(rows + matched
         groups) edges instead of sum-of-group-size-products, while
         min-label propagation yields identical cluster ids (the
         min id reachable is a component property)."""
    if expand not in ("all", "spanning"):
        raise ValueError(f"expand must be 'all' or 'spanning', got {expand!r}")
    kq = max_dist * q
    blocks = list(block_cols)
    base = df.select(
        F.col(id_col).alias("_id"),
        F.col(text_col).alias("_txt"),
        F.length(text_col).alias("_len"),
        *blocks,
    )
    # stage 1: distinct (text, blocks) groups; _rep = min id is unique
    # per group (ids are unique, group id-sets are disjoint)
    # materialized once (round-9 opt): grp feeds the gram explode, the
    # short stratum, and the member-expansion join
    grp = base.groupBy("_txt", "_len", *blocks).agg(
        F.min("_id").alias("_rep")
    ).localCheckpoint(eager=False)
    grams = grp.where(F.col("_len") >= q).select(
        "_rep",
        "_txt",
        "_len",
        *blocks,
        F.explode(
            F.expr(
                f"array_distinct(transform(sequence(1, length(_txt) - {q} + 1),"
                f" i -> substring(_txt, i, {q})))"
            )
        ).alias("gram"),
    )
    gram_df = grams.groupBy("gram").agg(F.count("*").alias("df"))
    w_rank = Window.partitionBy("_rep").orderBy("df", "gram")
    pref = (
        grams.join(gram_df, "gram")
        .withColumn("pos", F.row_number().over(w_rank))
        .where(F.col("pos") <= kq + 1)
        .select("_rep", "_txt", "_len", "gram", *blocks)
        # materialized once for the candidate self-join sides (round-9
        # opt; same measured-winner shape as prefix_filter's pref)
        .localCheckpoint(eager=False)
    )
    a = pref.select(
        F.col("_rep").alias("rep_a"),
        F.col("_txt").alias("txt_a"),
        F.col("_len").alias("len_a"),
        F.col("gram").alias("gram_a"),
        *[F.col(c).alias(f"{c}_a") for c in blocks],
    )
    b = pref.select(
        F.col("_rep").alias("rep_b"),
        F.col("_txt").alias("txt_b"),
        F.col("_len").alias("len_b"),
        F.col("gram").alias("gram_b"),
        *[F.col(c).alias(f"{c}_b") for c in blocks],
    )
    block_eq = [F.col(f"{c}_a") == F.col(f"{c}_b") for c in blocks]
    # texts are distinct per block, so txt ordering dedups emission
    cond = (
        (F.col("gram_a") == F.col("gram_b"))
        & (F.col("txt_a") < F.col("txt_b"))
        & (F.abs(F.col("len_a") - F.col("len_b")) <= max_dist)
        # disjointness with the short-stratum fallback: the count
        # bound is only valid (T >= 1) on this side of the split
        & (F.greatest("len_a", "len_b") >= q + kq)
    )
    for eq in block_eq:
        cond = cond & eq
    # verify BEFORE the pair-dedup: bounded levenshtein early-exits on
    # the (majority) non-matches, so distinct sees only true pairs
    long_pairs = (
        a.join(b, cond)
        .where(F.levenshtein(F.col("txt_a"), F.col("txt_b"), max_dist) >= 0)
        .select("rep_a", "rep_b")
        .distinct()
    )
    shorts = grp.where(F.col("_len") < q + kq)
    sa = shorts.select(
        F.col("_rep").alias("rep_a"),
        F.col("_txt").alias("txt_a"),
        *[F.col(c).alias(f"{c}_a") for c in blocks],
    )
    sb = shorts.select(
        F.col("_rep").alias("rep_b"),
        F.col("_txt").alias("txt_b"),
        *[F.col(c).alias(f"{c}_b") for c in blocks],
    )
    scond = F.col("txt_a") < F.col("txt_b")
    for eq in block_eq:
        scond = scond & eq
    short_pairs = (
        sa.join(sb, scond)
        .where(F.levenshtein(F.col("txt_a"), F.col("txt_b"), max_dist) >= 0)
        .select("rep_a", "rep_b")
    )
    rep_pairs = long_pairs.unionByName(short_pairs)
    members = base.join(
        grp.select("_txt", *blocks, "_rep"), ["_txt", *blocks]
    ).select("_id", "_rep")
    if expand == "spanning":
        intra = members.where(F.col("_id") != F.col("_rep")).select(
            F.col("_rep").alias("id_a"), F.col("_id").alias("id_b")
        )
        inter = rep_pairs.select(
            F.least("rep_a", "rep_b").alias("id_a"),
            F.greatest("rep_a", "rep_b").alias("id_b"),
        )
        return intra.unionByName(inter)
    m1 = members.select(F.col("_id").alias("ia"), F.col("_rep").alias("rep_a"))
    m2 = members.select(F.col("_id").alias("ib"), F.col("_rep").alias("rep_b"))
    intra = m1.join(
        m2,
        (F.col("rep_a") == F.col("rep_b")) & (F.col("ia") < F.col("ib")),
    ).select(F.col("ia").alias("id_a"), F.col("ib").alias("id_b"))
    inter = (
        rep_pairs.join(m1, "rep_a")
        .join(m2, "rep_b")
        .select(
            F.least("ia", "ib").alias("id_a"),
            F.greatest("ia", "ib").alias("id_b"),
        )
    )
    return intra.unionByName(inter)


def ngram_jaccard_pairs(docs: DataFrame, k: int = DEFAULT_SHINGLE_K, threshold: float = 0.5) -> DataFrame:
    """Exact n-gram Jaccard similarity via inverted index: explode
    distinct shingles, self-join on shingle to count intersections,
    then |A ∪ B| = |A| + |B| - |A ∩ B|. Exact but heavier than LSH —
    at scale run it only on LSH candidates."""
    sh = shingles(docs, k)
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n_shingles"))
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count("*").alias("n_common"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_shingles").alias("n_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_shingles").alias("n_b"))
    jac = (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            (
                F.col("n_common").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("n_common")).cast("double")
            ).alias("jaccard"),
        )
    )
    return jac.where(F.col("jaccard") >= F.lit(threshold))


def decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    k: int = DEFAULT_SHINGLE_K,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Benchmark decontamination: flag corpus documents sharing any
    word k-gram with an evaluation/benchmark set (the published
    training-data hygiene step — e.g. the 13-gram overlap filter of the
    GPT-3 appendix-C methodology, here with the repo-wide shingle k).

    Returns (doc_id, n_contaminated_ngrams): one row per contaminated
    corpus document with the count of its distinct shingles that also
    occur anywhere in the benchmark set. Join anti-wise against this
    output to drop the offenders.

    100 TB shape: benchmark sets are tiny relative to the corpus (a few
    M n-grams vs ~10^11), so the benchmark shingle set is broadcast and
    the corpus-side shingle stream joins map-side — the corpus is never
    shuffled by this operator; the only shuffle is the per-doc count
    aggregation over the (rare) hit stream.
    """
    bench_sh = shingles(benchmark, k, id_col, text_col).select("shingle").distinct()
    corp_sh = shingles(corpus, k, id_col, text_col)
    return (
        corp_sh.join(F.broadcast(bench_sh), "shingle")
        .groupBy(id_col)
        .agg(F.count("*").alias("n_contaminated_ngrams"))
    )


def _hex_val(ch: F.Column) -> F.Column:
    """Portable hex-digit -> 0..15 (instr is 1-based, like strpos)."""
    return F.instr(F.lit("0123456789abcdef"), ch) - F.lit(1)


def simhash(docs: DataFrame, bits: int = SIMHASH_BITS, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """SimHash fingerprint: per-word 32-bit hash (first 8 hex chars of
    md5, decoded positionally so DuckDB can mirror it with strpos), ±1
    bit votes summed per document, sign -> fingerprint bits.

    Pure expression pipeline: explode words (map-side), one agg shuffle
    on doc_id with `bits` integer sums.

    Round 10: per-operator scan fan-out on doc_id (VERDICT r9 #2) —
    the word explode + 8-hex decode + 32 bit-vote sums are the heavy
    map side; partial aggregation still runs before the doc_id shuffle.
    """
    docs = scan_fanout_for(docs, id_col)
    words = docs.select(F.col(id_col), F.explode(F.split(F.col(text_col), " ")).alias("word")).where(
        F.col("word") != ""
    )
    h = F.md5(F.col("word"))
    word_val = sum(
        _hex_val(F.substring(h, j + 1, 1)).cast("long") * F.lit(16 ** (bits // 4 - 1 - j)).cast("long")
        for j in range(bits // 4)
    ).cast("long")
    wv = words.select(id_col, word_val.alias("wv"))
    votes = wv.groupBy(id_col).agg(
        *[
            F.sum(
                F.when(F.shiftright(F.col("wv"), k).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
            ).alias(f"v{k}")
            for k in range(bits)
        ]
    )
    sim = sum(
        F.when(F.col(f"v{k}") > 0, F.lit(2**k).cast("long")).otherwise(F.lit(0).cast("long"))
        for k in range(bits)
    ).cast("long")
    return votes.select(F.col(id_col), sim.alias("simhash"))


def simhash_near_dup_pairs(docs: DataFrame, bits: int = SIMHASH_BITS, chunks: int = 4, max_hamming: int = 3) -> DataFrame:
    """SimHash near-dup candidates: split the fingerprint into
    ``chunks`` segments and self-join on segment equality (pigeonhole:
    hamming <= chunks-1 guarantees a shared segment), then filter by
    exact hamming distance via bit_count(xor)."""
    if bits % chunks != 0:
        raise ValueError(
            f"simhash_near_dup_pairs: bits={bits} not divisible by "
            f"chunks={chunks} — the top bits would be in no segment and "
            "the pigeonhole guarantee (hamming <= chunks-1 shares a "
            "segment) would silently fail"
        )
    seg_bits = bits // chunks
    sh = simhash(docs, bits)
    mask = (1 << seg_bits) - 1
    segs = sh.select(
        "doc_id",
        "simhash",
        F.posexplode(
            F.array(
                *[
                    F.shiftright(F.col("simhash"), c * seg_bits).bitwiseAND(F.lit(mask))
                    for c in range(chunks)
                ]
            )
        ).alias("seg_id", "seg_val"),
    )
    a, b = segs.alias("a"), segs.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.seg_id") == F.col("b.seg_id"))
            & (F.col("a.seg_val") == F.col("b.seg_val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.simhash").alias("sim_a"),
            F.col("b.simhash").alias("sim_b"),
        )
        .distinct()
    )
    hamming = F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b")))
    return cand.select("doc_a", "doc_b", hamming.cast("long").alias("hamming")).where(
        F.col("hamming") <= max_hamming
    )


def dedup_clusters(
    pairs: DataFrame,
    all_docs: DataFrame | None = None,
    src_col: str = "doc_a",
    dst_col: str = "doc_b",
    id_col: str = "doc_id",
    max_iters: int = 50,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Connected components over a near-duplicate pair list: every doc
    gets ``cluster_id`` = the minimum doc id reachable through pairs —
    the canonical "group near-dups, then keep one" step a real curation
    pipeline runs after MinHash/SimHash candidate generation.

    Min-label propagation to fixpoint: each round every vertex sends its
    current label across its edges and keeps the min — one shuffle per
    round over |E|+|V| rows, so rounds = O(component diameter). Near-dup
    components are short chains (diameter ~ duplicate-burst length), so
    this converges in a handful of rounds at any corpus size; for
    adversarially long chains use :func:`dedup_clusters_contraction`
    (large-star/small-star, O(log n) rounds, property-tested equal to
    this propagation on random graphs).

    Scale discipline: each round's lineage is truncated so the plan
    does not grow with iterations — ``localCheckpoint`` by default,
    reliable ``checkpoint`` when ``checkpoint_dir`` is set (executor
    loss then recomputes from durable storage instead of failing the
    job; see operators.lineage); convergence detection rides the round's
    own shuffle — each vertex carries its previous label through the
    min-aggregation (``max(_prev)`` is exact: exactly one labels row
    per id contributes a non-null ``_prev``), so "did anything change"
    is a filter-count over the already-checkpointed round output. One
    shuffle + one action per round, no extra join, any id type.

    ``max_iters`` budgets the rounds AFTER the fused first round: the
    vertex-dedup shuffle below already computes round 1's
    ``min(id, min(neighbors))`` labels, so the function performs up to
    ``max_iters + 1`` propagation rounds in total and ``max_iters=0``
    yields one full round, not identity labels.

    If ``all_docs`` is given, docs in no pair appear as singleton
    clusters (cluster_id = own id).
    """
    sym = pairs.select(
        F.col(src_col).alias("src"), F.col(dst_col).alias("dst")
    ).union(pairs.select(F.col(dst_col).alias("src"), F.col(src_col).alias("dst")))
    edges = materialize(sym, checkpoint_dir)
    # Fused first round: from identity labels, round 1 would yield
    # lbl = min(id, min(neighbors)) — compute that directly in the
    # same shuffle that deduplicates vertices, saving one iteration.
    labels = (
        edges.groupBy("src")
        .agg(F.min("dst").alias("_mn"))
        .select(F.col("src").alias("id"), F.least("src", "_mn").alias("lbl"))
    )
    labels = materialize(labels, checkpoint_dir)
    lbl_type = dict(labels.dtypes)["lbl"]
    for _ in range(max_iters):
        msgs = edges.join(
            labels.withColumnRenamed("id", "src"), "src"
        ).select(
            F.col("dst").alias("id"),
            "lbl",
            F.lit(None).cast(lbl_type).alias("_prev"),
        )
        # Pointer jumping was measured slower here (OPTIMIZATION_r10.md §4).
        rows = labels.withColumn("_prev", F.col("lbl")).union(msgs)
        # Lazy checkpoint: the convergence count below is the action
        # that materializes it — one job per round instead of two.
        # The previous label rides the same shuffle as the min-agg
        # (each id has exactly one labels row, so max(_prev) recovers
        # it exactly), making the changed-count a filter over the
        # checkpointed round output instead of a join against the
        # previous round. Works for any id/label type, unlike a
        # sum(label) probe (NULL for strings).
        agged = materialize(
            rows.groupBy("id")
            .agg(F.min("lbl").alias("lbl"), F.max("_prev").alias("_prev")),
            checkpoint_dir,
            eager=False,
        )
        changed = agged.where(~F.col("lbl").eqNullSafe(F.col("_prev"))).count()
        labels = agged.select("id", "lbl")
        if changed == 0:
            break
    clusters = labels.select(F.col("id").alias(id_col), F.col("lbl").alias("cluster_id"))
    if all_docs is None:
        return clusters
    return all_docs.select(id_col).join(clusters, id_col, "left").select(
        id_col, F.coalesce("cluster_id", F.col(id_col)).alias("cluster_id")
    )


def dedup_clusters_contraction(
    pairs: DataFrame,
    all_docs: DataFrame | None = None,
    src_col: str = "doc_a",
    dst_col: str = "doc_b",
    id_col: str = "doc_id",
    max_iters: int = 40,
    rounds_out: list | None = None,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Connected components in O(log n) rounds via alternating
    large-star / small-star edge contraction (Kiveris et al.,
    "Connected Components in MapReduce and Beyond", SoCC'14) — the
    scale path :func:`dedup_clusters`'s docstring cites for
    adversarially long duplicate chains, where min-label propagation's
    O(diameter) rounds blow up.

    Per round over the canonical (a < b) edge set:
    - large-star: every node u links its GREATER neighbors to
      m(u) = min(Γ(u) ∪ {u}) — long tails collapse toward minima;
    - small-star: every node u links its smaller-or-equal neighbors
      and itself to m(u) — stars re-center on the true minimum.

    Both steps are one groupBy(src) agg + one join on src over the
    symmetrized edges: identical shuffle anatomy to one propagation
    round, but the edge set itself contracts, giving the logarithmic
    bound. Fixpoint = the canonical edge set stops changing, checked
    with one exceptAll count per round (edges strictly shrink toward
    stars, so the check is cheap late rounds). At convergence every
    component is a star centered on its minimum id, so the label read
    is edge (a, b) -> cluster(b) = a with no further iteration.

    ``rounds_out``, when given, receives the number of alternation
    rounds used (test hook for the O(log n) bound). ``checkpoint_dir``
    switches per-round lineage truncation from localCheckpoint to
    reliable checkpoint (operators.lineage.materialize).
    """
    canon = materialize(
        pairs.select(
            F.least(src_col, dst_col).alias("src"),
            F.greatest(src_col, dst_col).alias("dst"),
        )
        .where(F.col("src") != F.col("dst"))
        .distinct(),
        checkpoint_dir,
    )

    def _sym(e: DataFrame) -> DataFrame:
        return e.union(
            e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )

    def _mins(sym: DataFrame) -> DataFrame:
        return sym.groupBy("src").agg(
            F.least(F.col("src"), F.min("dst")).alias("m")
        )

    def _canon(e: DataFrame) -> DataFrame:
        return (
            e.select(
                F.least("src", "dst").alias("src"),
                F.greatest("src", "dst").alias("dst"),
            )
            .where(F.col("src") != F.col("dst"))
            .distinct()
        )

    rounds = 0
    for _ in range(max_iters):
        rounds += 1
        # large-star: (v, m(u)) for v in Γ(u), v > u
        sym = _sym(canon)
        large = _canon(
            sym.where(F.col("dst") > F.col("src"))
            .join(_mins(sym), "src")
            .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
        )
        # small-star: (v, m(u)) for v in Γ(u), v <= u, plus (u, m(u))
        sym2 = _sym(large)
        mins2 = _mins(sym2)
        small = materialize(
            _canon(
                sym2.where(F.col("dst") < F.col("src"))
                .join(mins2, "src")
                .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
                .union(mins2.select("src", F.col("m").alias("dst")))
            ),
            checkpoint_dir,
        )
        if small.exceptAll(canon).count() == 0 and canon.exceptAll(small).count() == 0:
            canon = small
            break
        canon = small
    if rounds_out is not None:
        rounds_out.append(rounds)
    clusters = (
        _sym(canon)
        .groupBy(F.col("src").alias(id_col))
        .agg(F.least(F.col(id_col), F.min("dst")).alias("cluster_id"))
    )
    if all_docs is None:
        return clusters
    return all_docs.select(id_col).join(clusters, id_col, "left").select(
        id_col, F.coalesce("cluster_id", F.col(id_col)).alias("cluster_id")
    )


def dedup_representatives(
    clusters: DataFrame,
    quality: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """Pick one representative per near-dup cluster: the highest
    ``quality_score`` member (ties broken by lowest doc id). Returns
    (cluster_id, rep_doc_id, n_members, rep_quality) — the "keep best,
    drop the rest" decision table a curation funnel joins against.

    One window over the cluster assignment joined to per-doc quality:
    shuffle on cluster_id only; quality is per-doc map-side input.
    Cluster members absent from ``quality`` drop out of the inner join
    (and of n_members) — score everything you want counted.
    """
    scored = clusters.join(quality.select(id_col, "quality_score"), id_col)
    w = Window.partitionBy("cluster_id").orderBy(
        F.col("quality_score").desc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("_rk", F.row_number().over(w))
        .withColumn("n_members", F.count("*").over(Window.partitionBy("cluster_id")))
        .where(F.col("_rk") == 1)
        .select(
            "cluster_id",
            F.col(id_col).alias("rep_doc_id"),
            F.col("n_members").cast("long").alias("n_members"),
            F.col("quality_score").alias("rep_quality"),
        )
    )


def _tokenized(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, ws, n_toks): the repo-wide space-split + empty-filter token
    array per document — shared root of the span FLAG and REMOVE halves
    so their tokenization cannot drift. Round 10: per-operator scan
    fan-out on the id (VERDICT r9 #2) — the split + span-hash explode
    built on this relation is the heavy map work downstream."""
    docs = scan_fanout_for(docs, id_col)
    toks = F.filter(F.split(F.col(text_col), " "), lambda x: x != F.lit(""))
    return docs.select(F.col(id_col), toks.alias("ws")).select(
        id_col, "ws", F.size("ws").alias("n_toks")
    )


def _span_table(base: DataFrame, window: int, stride: int, id_col: str) -> DataFrame:
    """(id, n_toks, span_start, h): one md5-hashed token window per
    stride step over a ``_tokenized`` relation, generated map-side."""
    starts = F.sequence(
        F.lit(1),
        F.greatest(F.col("n_toks") - F.lit(window - 1), F.lit(1)),
        F.lit(stride),
    )
    return base.select(
        id_col, "n_toks", F.explode(starts).alias("span_start"), "ws"
    ).select(
        id_col,
        "n_toks",
        "span_start",
        F.md5(F.concat_ws(" ", F.slice("ws", F.col("span_start"), window))).alias("h"),
    )


def _cross_doc_span_hashes(spans: DataFrame, id_col: str) -> DataFrame:
    """Span hashes occurring verbatim in >= 2 distinct documents."""
    return (
        spans.groupBy("h")
        .agg(F.count_distinct(id_col).alias("n_docs"))
        .where(F.col("n_docs") >= 2)
        .select("h")
    )


def duplicated_spans(
    docs: DataFrame,
    window: int = 20,
    stride: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Substring-level exact dedup (the training-data "repeated
    passage" scrub): slide a ``window``-token window with ``stride``
    over each document, hash each span (md5 of the space-joined
    tokens), and report per document how many of its spans also occur
    verbatim in at least one OTHER document.

    Unlike document-level exact_dedup (whole-text hash) or MinHash
    (similarity), this catches boilerplate passages shared across
    otherwise-distinct documents — the thing substring-dedup passes in
    real pretraining pipelines (e.g. suffix-array dedup) target. The
    windowed rolling-hash formulation is the scalable stand-in for a
    suffix array: spans are generated map-side (explode over start
    positions, zero shuffle), then ONE shuffle groups spans by hash to
    count distinct source docs, and one more aggregates back per doc.
    At 100 TB both shuffles carry compact (hash, doc_id) pairs, never
    raw text; skewed boilerplate hashes (the whole point of the query)
    are bounded by count-distinct partial aggregation.

    Output: (doc_id, n_spans, dup_spans, dup_ratio) with dup_ratio an
    exact integer-count division.
    """
    spans = _span_table(_tokenized(docs, id_col, text_col), window, stride, id_col)
    cross_doc = _cross_doc_span_hashes(spans, id_col)
    # ONE pass over spans: a shuffle left join on h (NOT broadcast —
    # the duplicated-hash set is proportional to the amount of
    # boilerplate, unbounded at 100 TB; spans is already
    # hash-partitioned on h by the agg above, so the exchange is
    # reused) tags each span occurrence, then a single per-doc agg
    # yields both counts — no second spans aggregate, no final join.
    tagged = spans.join(cross_doc.withColumn("_dup", F.lit(1)), "h", "left")
    return tagged.groupBy(id_col).agg(
        F.count("*").alias("n_spans"),
        F.sum(F.coalesce(F.col("_dup"), F.lit(0))).cast("long").alias("dup_spans"),
    ).select(
        id_col,
        "n_spans",
        "dup_spans",
        (F.col("dup_spans").cast("double") / F.col("n_spans").cast("double")).alias(
            "dup_ratio"
        ),
    )


def strip_duplicated_spans(
    docs: DataFrame,
    window: int = 20,
    stride: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """The REMOVAL half of substring-level dedup (C4 §2.2 discards
    repeated three-sentence spans; :func:`duplicated_spans` above only
    FLAGS): strip every token covered by a span that occurs verbatim in
    at least one other document, and reassemble the surviving tokens in
    order. Output one row per input doc:
    (doc_id, clean_text, n_kept, n_stripped).

    Same span anatomy as duplicated_spans (map-side window explode, one
    shuffle grouping span hashes). Coverage is the union of flagged
    span ranges (clipped to doc length; overlapping spans count each
    position once), subtracted from the token stream with a left-anti
    join on (doc, position); reassembly is one per-doc aggregation
    (sort_array over (pos, word) structs — deterministic, no window).
    All built-in expressions, no UDF; every step replays exactly in
    SQL, so the transform is hash-oracled, not just flag-checked.
    """
    base = _tokenized(docs, id_col, text_col)
    spans = _span_table(base, window, stride, id_col)
    flagged_hashes = _cross_doc_span_hashes(spans, id_col)
    # positions covered by any flagged span, deduped (overlaps) —
    # the join on h reuses the agg's hash partitioning, as above
    covered = (
        spans.join(flagged_hashes, "h")
        .select(
            id_col,
            F.explode(
                F.sequence(
                    F.col("span_start"),
                    F.least(
                        F.col("span_start") + F.lit(window - 1), F.col("n_toks")
                    ),
                )
            ).alias("pos"),
        )
        .distinct()
    )
    words = base.select(
        id_col, F.posexplode("ws").alias("pos0", "w")
    ).select(id_col, (F.col("pos0") + 1).alias("pos"), "w")
    kept = (
        words.join(covered, [id_col, "pos"], "left_anti")
        .groupBy(id_col)
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "w"))),
                    lambda s: s.getField("w"),
                ),
                " ",
            ).alias("clean_text"),
            F.count("*").cast("long").alias("n_kept"),
        )
    )
    return base.join(kept, id_col, "left").select(
        id_col,
        F.coalesce("clean_text", F.lit("")).alias("clean_text"),
        F.coalesce("n_kept", F.lit(0)).cast("long").alias("n_kept"),
        (F.col("n_toks") - F.coalesce("n_kept", F.lit(0))).cast("long").alias("n_stripped"),
    )


def winnowing_fingerprints(
    docs: DataFrame,
    k: int = 3,
    w: int = 4,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson & Aiken,
    SIGMOD'03 — the MOSS algorithm): hash every positioned word
    k-shingle, then from each window of ``w`` consecutive hashes keep
    the minimum (ties to the RIGHTMOST position — the robust-winnowing
    rule). Guarantee: any two documents sharing a run of at least
    w + k - 1 words share a selected fingerprint, while only ~2/(w+1)
    of all shingle hashes are kept — position-aware near-dup evidence
    at a fraction of full-shingle cost (the md5 full-doc fingerprint
    catches only exact dups; shingle Jaccard keeps everything).

    Returns one row per selected (doc, pos) with the 60-bit hash.
    Plan shape: one posexplode, one lead-window per doc (same anatomy
    as `shingles`), and one bounded w-offset self-join per window
    start — all keyed on doc_id, so the whole pipeline rides a single
    partitioning; output is O(m/w) rows per doc.

    Round 10: per-operator scan fan-out on doc_id (VERDICT r9 #2) so an
    undersized single-split input does not serialize the explode +
    hash battery on one core; every window/join below is doc_id-keyed
    and reuses the partitioning.
    """
    docs = scan_fanout_for(docs, id_col)
    words = (
        docs.select(
            F.col(id_col),
            F.posexplode(F.split(F.col(text_col), " ")).alias("raw_pos", "word"),
        )
        .where(F.col("word") != "")
        # dense positions AFTER the empty filter — window arithmetic
        # below assumes consecutive integers
        .withColumn(
            "pos",
            F.row_number().over(
                Window.partitionBy(id_col).orderBy("raw_pos")
            )
            - 1,
        )
    )
    win = Window.partitionBy(id_col).orderBy("pos")
    parts = [F.col("word")] + [F.lead("word", i).over(win) for i in range(1, k)]
    sh = (
        words.select(
            id_col, "pos", F.concat_ws(" ", *parts).alias("shingle"),
            F.lead("word", k - 1).over(win).alias("_tail"),
        )
        .where(F.col("_tail").isNotNull())
        .select(
            id_col,
            "pos",
            F.conv(F.substring(F.md5("shingle"), 1, 15), 16, 10)
            .cast("long")
            .alias("h"),
        )
    )
    starts = sh.select(F.col(id_col), F.col("pos").alias("wstart")).join(
        sh.groupBy(id_col).agg(F.max("pos").alias("_mx")), id_col
    ).where(F.col("wstart") + w - 1 <= F.col("_mx")).select(id_col, "wstart")
    # equi-join on (doc, pos) against exploded window offsets: O(m*w)
    # candidate rows, never the O(m^2) per-doc cross a doc_id-only join
    # plus range filter would build on long documents
    cand = starts.select(
        id_col,
        "wstart",
        F.explode(F.sequence(F.col("wstart"), F.col("wstart") + w - 1)).alias("pos"),
    ).join(sh, [id_col, "pos"])
    pick = cand.withColumn(
        "rk",
        F.row_number().over(
            Window.partitionBy(id_col, "wstart").orderBy(
                F.col("h"), F.col("pos").desc()
            )
        ),
    ).where(F.col("rk") == 1)
    return pick.select(id_col, "pos", "h").distinct()


def substring_gram_table(
    docs: DataFrame,
    min_len: int = 20,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(id, pos, gh): every character position's ``min_len``-gram,
    md5-keyed — the seed relation of exact substring dedup. One small
    pre-explode repartition of the raw docs (the documented one-shuffle
    contract — see the inline comment), then generation is map-side
    (one explode over 1..len-K+1); hashing the gram BEFORE any further
    exchange shrinks downstream shuffle payloads from K chars to a
    fixed 32-hex key, the repo's span-hash contract
    (md5-collision-free at any realistic corpus size)."""
    k = min_len
    n = F.length(text_col) - (k - 1)
    # Redistribute the PRE-explode relation: the explode fans out
    # ~L rows (one 48-byte gram row per character), so generation
    # parallelism must not depend on the input file layout (one small
    # parquet file = one scan partition = single-threaded hashing, 6x
    # the whole query's cost measured at sf0.1). This shuffle moves
    # raw docs once — ~L x smaller than the gram-table shuffles that
    # follow it, at every scale. The partition count is pinned to
    # defaultParallelism because AQE would otherwise coalesce the
    # (tiny pre-explode) shuffle back to one partition, re-serializing
    # the L-x generation it exists to spread.
    n_parts = docs.sparkSession.sparkContext.defaultParallelism
    return (
        docs.where(F.length(text_col) >= k)
        .repartition(n_parts, F.col(id_col))
        .select(
            F.col(id_col),
            F.col(text_col).alias("_t"),
            F.explode(F.sequence(F.lit(1), n)).alias("pos"),
        )
        .select(
            id_col,
            F.col("pos").cast("long").alias("pos"),
            F.md5(F.col("_t").substr(F.col("pos"), F.lit(k))).alias("gh"),
        )
    )


def repeated_substring_runs(
    docs: DataFrame,
    min_len: int = 20,
    max_df: int = 4,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Exact repeated-substring finder — the suffix-array-class dedup
    primitive of Lee et al. 2022 ("Deduplicating Training Data Makes
    Language Models Better", arXiv:2107.06499), re-expressed as sorted
    k-mer groups + diagonal run extension instead of a suffix
    automaton: every maximal cross-document run of matching
    ``min_len``-grams is one exact shared substring of length
    ``min_len + run - 1``.

    Construction: (1) the per-position gram table (map-side, md5
    keys); (2) gram document-frequency, keeping grams seen in 2..
    ``max_df`` DISTINCT docs — the hot-gram stop-list that bounds
    self-join fan-out per gram at df² doc pairs (corpus-frequent
    boilerplate grams are exactly the quadratic hazard; the cap is
    DECLARED semantics, replayed by the oracle, and BINDS on the
    fixture at both gate scales — max fixture df 9 > 4); (3) the
    per-gram match join with doc_a < doc_b; (4) gaps-and-islands on
    each (doc_a, doc_b, diagonal = pos_a - pos_b): consecutive pos_a
    runs collapse to one maximal match (pos_a - row_number() is
    constant within a run). Two overlapping matched grams always sit
    on the same diagonal, so maximality is exact over the SURVIVING
    (df <= ``max_df``) seed grams: a gram interior to a true shared
    substring whose df exceeds ``max_df`` is stop-listed, which can
    split one maximal run into shorter pieces (and, when the surviving
    seeds gap by more than k-1 positions, undercount coverage). That
    trade is the declared semantics — oracle and python model replay
    the same stop-list rule.

    Output: (doc_a, doc_b, start_a, start_b, match_len), one row per
    maximal run, match_len >= min_len by construction. Cross-document
    only (within-doc repetition is winnowing_fingerprints' job).

    100 TB shape: the gram table is corpus-linear and never carries
    text past the first projection; both shuffles (df agg, match join)
    move fixed-width (gh, id, pos) rows; the islands window partitions
    by (doc pair, diagonal) — bounded by min(len_a, len_b) rows, a
    per-document bound, never a corpus fraction. Degenerate periodic
    documents (one gram repeated at every position) cost
    occurrences_a x occurrences_b on one diagonal pair — the
    low-entropy class a Gopher-style quality gate drops upstream.
    """
    g = substring_gram_table(docs, min_len=min_len, id_col=id_col, text_col=text_col)
    el = _substring_stoplist(g, max_df, id_col)
    # Both joins are FORCED to sort-merge: every relation here is
    # corpus-sized (the gram table is ~L rows per document; the
    # stop-list is proportional to the corpus's repeated content, the
    # duplicated_spans unbounded-at-100TB argument) — but Catalyst's
    # static size estimate does not scale through Generate, so without
    # the hint it plans a BroadcastHashJoin that ships the ENTIRE gram
    # relation to every task (observed at sf0.1: a 67 MB broadcast of
    # the 1.4M-row b-side, flaky driver OOM under default heap; fatal
    # at any real scale). Merge is the spill-safe shape.
    ga = g.select(
        F.col(id_col).alias("doc_a"), F.col("pos").alias("pos_a"), "gh"
    ).join(el.hint("merge"), "gh")
    gb = g.select(F.col(id_col).alias("doc_b"), F.col("pos").alias("pos_b"), "gh")
    m = ga.join(gb.hint("merge"), "gh").where(F.col("doc_a") < F.col("doc_b"))
    return _matches_to_runs(m, min_len)


_SHARED_RUNS_CACHE: "dict[tuple, DataFrame]" = {}
_SHARED_RUNS_CACHE_MAX = 8


def clear_shared_runs_cache() -> int:
    """Explicitly invalidate the shared_substring_runs memo,
    unpersisting every cached relation (ADVICE r8: the memo assumes
    the data behind each cache_key is immutable for the session's
    lifetime — callers that regenerate or append to a keyed corpus
    mid-session MUST call this, or consumers silently read the stale
    persisted detection). Also the supported way for plan-shape tests
    to pin the full pipeline instead of an InMemoryTableScan. Returns
    the number of entries dropped."""
    n = len(_SHARED_RUNS_CACHE)
    while _SHARED_RUNS_CACHE:
        _SHARED_RUNS_CACHE.popitem()[1].unpersist()
    return n


def shared_substring_runs(
    docs: DataFrame,
    cache_key: object,
    min_len: int = 20,
    max_df: int = 4,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Session-scoped memo + persist of repeated_substring_runs — the
    shared detection relation its four declared consumers read
    (substring_dedup_runs / _coverage / _strip_report / _apply), the
    same in-session materialization discipline as
    clustering.shared_capped_cells. Unlike the cell assignment (whose
    cost is DRIVER-side trajectory collects, so a lazy plan suffices),
    the runs relation's cost is plan EXECUTION (gram explode +
    stop-list + match join), so the memoized DataFrame is persist()ed:
    the first consumer's action computes and caches it — corpus-runs
    are a tiny fraction of corpus size (one row per maximal duplicated
    span) — and the other three read the cache, exactly the
    detect-once / consume-many shape of a real Lee et al. pipeline.
    ``cache_key`` is the corpus identity (callers pass sf_dir); the
    memo key adds the session and every detection parameter; bounded
    FIFO, evicted entries unpersisted. The keyed corpus is assumed
    immutable for the session — if it is regenerated or appended to,
    call clear_shared_runs_cache() / operators.clear_shared_caches()
    or consumers silently read the stale persisted detection."""
    key = (docs.sparkSession, cache_key, min_len, max_df, id_col, text_col)
    df = _SHARED_RUNS_CACHE.get(key)
    if df is None:
        df = repeated_substring_runs(
            docs, min_len=min_len, max_df=max_df, id_col=id_col, text_col=text_col
        ).persist()
        while len(_SHARED_RUNS_CACHE) >= _SHARED_RUNS_CACHE_MAX:
            _SHARED_RUNS_CACHE.pop(next(iter(_SHARED_RUNS_CACHE))).unpersist()
        _SHARED_RUNS_CACHE[key] = df
    return df


def _substring_stoplist(grams: DataFrame, max_df: int, id_col: str) -> DataFrame:
    """Grams seen in 2..max_df DISTINCT docs — the eligible seed set."""
    return (
        grams.groupBy("gh")
        .agg(F.count_distinct(id_col).alias("df"))
        .where((F.col("df") >= 2) & (F.col("df") <= max_df))
        .select("gh")
    )


def _matches_to_runs(m: DataFrame, min_len: int) -> DataFrame:
    """Gaps-and-islands over (doc_a, doc_b, pos_a, pos_b) gram-match
    rows: maximal consecutive pos_a runs per (pair, diagonal) — shared
    by the batch and the incremental substring-dedup paths so run
    merging cannot drift between them."""
    w = Window.partitionBy("doc_a", "doc_b", "diag").orderBy("pos_a")
    return (
        m.withColumn("diag", F.col("pos_a") - F.col("pos_b"))
        .withColumn("grp", F.col("pos_a") - F.row_number().over(w))
        .groupBy("doc_a", "doc_b", "diag", "grp")
        .agg(
            F.min("pos_a").cast("long").alias("start_a"),
            (F.max("pos_a") - F.min("pos_a") + min_len).cast("long").alias("match_len"),
        )
        .select(
            "doc_a",
            "doc_b",
            "start_a",
            (F.col("start_a") - F.col("diag")).cast("long").alias("start_b"),
            "match_len",
        )
    )


def substring_census_update(
    delta_grams: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """The additive per-gram census partial for ONE batch: (gh, df)
    where df counts the batch's distinct documents containing the
    gram. Appending each batch's partial to a census lake maintains
    the global document frequency as a sum of partials — exact
    because document ids never straddle batches (each document is
    ingested once), so per-batch distinct counts add. This is the
    stop-list's O(delta)-per-batch maintenance shape (VERDICT r7 #1):
    the only aggregate over raw gram rows reads the delta alone;
    history is touched as pre-aggregated (gh, df) partials, the same
    partial-merge contract the CMS lake pins."""
    return delta_grams.groupBy("gh").agg(
        F.count_distinct(id_col).cast("long").alias("df")
    )


def incremental_substring_runs(
    history_grams: DataFrame,
    delta_docs: DataFrame | None,
    min_len: int = 20,
    max_df: int = 4,
    id_col: str = "doc_id",
    text_col: str = "text",
    delta_grams: DataFrame | None = None,
    history_census: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Incremental exact substring dedup: find every repeated-substring
    run between a DELTA of new documents and a corpus represented ONLY
    by its persisted gram table (substring_gram_table rows — the
    production ingest shape, where re-gramming history per batch is a
    non-starter; grams are position-local to their document, so the
    persisted index is exactly sufficient). Returns ``(delta_grams,
    runs)``: the delta's gram rows (append to the index) and every
    maximal run touching at least one delta doc (delta-vs-history AND
    delta-vs-delta), doc_a < doc_b canonical.

    CONTRACT (pinned by test_incremental_substring_equals_full): the
    result equals repeated_substring_runs over the FULL corpus-so-far
    restricted to pairs touching the delta, for ANY history/delta
    split — because the document-frequency stop-list is recomputed
    over history+delta (one aggregate over compact index rows), not
    frozen. Across MULTIPLE batches the union is therefore a SUPERSET
    of the final-corpus recompute: df only grows as the corpus grows,
    so a gram can cross the cap and stop seeding runs for LATER pairs,
    but runs already emitted under an earlier, smaller corpus stand —
    the ingest-time decision semantics (a pair judged duplicate when
    its second member arrived). Equality holds exactly when no
    supporting gram crosses the cap between batches; both directions
    are pinned (test_streaming_substring_union_superset_on_df_drift).

    Pass ``delta_grams`` instead of ``delta_docs`` when the delta's
    grams are already materialized (the streaming sink does, to avoid
    re-gramming the batch it just indexed).

    Pass ``history_census`` — per-gram (gh, df) partials covering
    exactly the history grams' documents, possibly many partial rows
    per gh (substring_census_update per ingested batch, appended to a
    census lake) — to replace the stop-list's full-index aggregate
    with an ADDITIVE one: the delta's own census is one delta-only
    aggregate, history df arrives pre-aggregated, and because only
    grams PRESENT IN THE DELTA can seed a match (the match join is
    delta-vs-corpus), the history partials are semi-joined down to the
    delta's gram set before the merge sum — every per-batch aggregate
    input is delta-bounded, O(delta) per micro-batch instead of the
    O(corpus-so-far) full-index census (VERDICT r7 #1; plan-pinned by
    test_incremental_census_aggregates_delta_only). The stop-list
    value is IDENTICAL to the recompute (sums of per-batch distinct
    counts equal global distinct counts — docs never straddle
    batches), so the incremental==full and df-drift contracts are
    unchanged.
    """
    if delta_grams is None:
        delta_grams = substring_gram_table(
            delta_docs, min_len=min_len, id_col=id_col, text_col=text_col
        )
    cols = [id_col, "pos", "gh"]
    all_g = history_grams.select(*cols).unionByName(delta_grams.select(*cols))
    if history_census is None:
        el = _substring_stoplist(all_g, max_df, id_col)
    else:
        dc = substring_census_update(delta_grams, id_col)
        # history partials pruned to the delta's gram set FIRST: the
        # semi-join output is <= one row per (delta gram, history
        # partial), so the merge sum's input is delta-sized. merge
        # hints for the standing Generate-size-estimate reason.
        hc = history_census.select("gh", "df").join(
            dc.select("gh").hint("merge"), "gh", "left_semi"
        )
        el = (
            hc.unionByName(dc)
            .groupBy("gh")
            .agg(F.sum("df").alias("df"))
            .where((F.col("df") >= 2) & (F.col("df") <= max_df))
            .select("gh")
        )
    # merge hints for the same reason as repeated_substring_runs: the
    # stop-list and the full gram index are corpus-sized, and static
    # estimates through Generate would otherwise broadcast them
    da = delta_grams.select(
        F.col(id_col).alias("id_d"), F.col("pos").alias("pos_d"), "gh"
    ).join(el.hint("merge"), "gh")
    ot = all_g.select(
        F.col(id_col).alias("id_o"), F.col("pos").alias("pos_o"), "gh"
    )
    lt = F.col("id_d") < F.col("id_o")
    m = (
        da.join(ot.hint("merge"), "gh")
        .where(F.col("id_d") != F.col("id_o"))
        .select(
            F.when(lt, F.col("id_d")).otherwise(F.col("id_o")).alias("doc_a"),
            F.when(lt, F.col("pos_d")).otherwise(F.col("pos_o")).alias("pos_a"),
            F.when(lt, F.col("id_o")).otherwise(F.col("id_d")).alias("doc_b"),
            F.when(lt, F.col("pos_o")).otherwise(F.col("pos_d")).alias("pos_b"),
        )
        # delta-delta matches arrive in both orders; gram keys are
        # (doc, pos)-unique so this distinct removes ONLY that symmetry
        .distinct()
    )
    return delta_grams, _matches_to_runs(m, min_len)


def substring_dup_coverage(
    docs: DataFrame,
    min_len: int = 20,
    max_df: int = 4,
    id_col: str = "doc_id",
    text_col: str = "text",
    runs: DataFrame | None = None,
) -> DataFrame:
    """Per-document duplicated-character coverage: the union length of
    every repeated_substring_runs interval touching the document (as
    either side of a pair) — the "how many chars would substring dedup
    delete" costing that motivates Lee et al.'s pipeline. Interval
    union is exact via the running-max sweep: per doc, order intervals
    by (start, end) and count only the part of each interval past the
    max end seen so far — overlapping and nested runs (common, since
    runs on different diagonals cover the same span) never double
    count. The sweep window partitions per doc_id, bounded by that
    doc's run count. Output: (doc_id, dup_chars), docs with no runs
    absent (left-join + coalesce at the call site).

    ``runs``: pass a precomputed repeated_substring_runs relation
    (e.g. shared_substring_runs) to skip re-detection."""
    if runs is None:
        runs = repeated_substring_runs(
            docs, min_len=min_len, max_df=max_df, id_col=id_col, text_col=text_col
        )
    iv = runs.select(
        F.col("doc_a").alias(id_col),
        F.col("start_a").alias("s"),
        (F.col("start_a") + F.col("match_len")).alias("e"),
    ).unionAll(
        runs.select(
            F.col("doc_b").alias(id_col),
            F.col("start_b").alias("s"),
            (F.col("start_b") + F.col("match_len")).alias("e"),
        )
    )
    return _interval_union_per_doc(iv, id_col, "dup_chars")


def _interval_union_per_doc(
    iv: DataFrame, id_col: str, out_col: str
) -> DataFrame:
    """Exact union length of (id, s, e) half-open intervals per id via
    the running-max sweep (only the part of each interval past the max
    end seen so far counts). Per-id window, bounded by that id's
    interval count."""
    w = (
        Window.partitionBy(id_col)
        .orderBy("s", "e")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    contrib = F.greatest(
        F.lit(0).cast("long"),
        F.col("e") - F.greatest(F.col("s"), F.coalesce(F.max("e").over(w), F.col("s"))),
    )
    return (
        iv.withColumn("_c", contrib)
        .groupBy(id_col)
        .agg(F.sum("_c").cast("long").alias(out_col))
    )


def substring_strip_savings(
    docs: DataFrame,
    min_len: int = 20,
    max_df: int = 4,
    id_col: str = "doc_id",
    text_col: str = "text",
    runs: DataFrame | None = None,
) -> DataFrame:
    """The APPLY half of exact substring dedup (Lee et al. 2022 §3:
    remove every duplicated substring occurrence except one): per
    document, the characters that WOULD be deleted keeping the
    lowest-doc_id occurrence of each run canonical — i.e. the interval
    union of the doc's doc_b sides only (doc_a < doc_b canonical, so
    the lower id always keeps its copy; a doc can still lose chars it
    keeps against one partner but loses against a lower one — the
    union handles the overlap exactly). Output: (doc_id,
    removed_chars); docs never on a b-side are absent.

    ``runs``: pass a precomputed repeated_substring_runs relation
    (e.g. shared_substring_runs) to skip re-detection."""
    if runs is None:
        runs = repeated_substring_runs(
            docs, min_len=min_len, max_df=max_df, id_col=id_col, text_col=text_col
        )
    iv = runs.select(
        F.col("doc_b").alias(id_col),
        F.col("start_b").alias("s"),
        (F.col("start_b") + F.col("match_len")).alias("e"),
    )
    return _interval_union_per_doc(iv, id_col, "removed_chars")


def substring_dedup_apply(
    docs: DataFrame,
    min_len: int = 20,
    max_df: int = 4,
    id_col: str = "doc_id",
    text_col: str = "text",
    runs: DataFrame | None = None,
) -> DataFrame:
    """The APPLY of exact substring dedup as DATA, not a costing
    report (Lee et al. 2022 §3, closing the detect -> cost ->
    transform loop): every document with its doc_b-side run intervals
    EXCISED — each duplicated run keeps only its lowest-doc_id
    occurrence, exactly the rule substring_strip_savings costs.
    Output: (id_col, text_after) for EVERY input document (docs never
    on a b-side keep their text verbatim), so
    length(text) - length(text_after) == removed_chars row for row.

    Shape: doc_b run intervals are merged to disjoint islands with the
    same running-max sweep as the costing (per-doc window, bounded by
    the doc's run count, intervals each >= min_len so a doc holds at
    most len/min_len islands); the kept segments are then rebuilt in
    ONE fold over the doc's sorted island array (substr + concat,
    JVM-side, no Python). This is the one substring-dedup operator
    where text legitimately crosses a shuffle — the transform must
    co-locate a doc's text with its islands (one merge join on the id;
    forced merge, the standing Generate-estimate rule).

    ``runs``: pass a precomputed repeated_substring_runs relation
    (e.g. shared_substring_runs) to skip re-detection."""
    if runs is None:
        runs = repeated_substring_runs(
            docs, min_len=min_len, max_df=max_df, id_col=id_col, text_col=text_col
        )
    iv = runs.select(
        F.col("doc_b").alias(id_col),
        F.col("start_b").alias("s"),
        (F.col("start_b") + F.col("match_len")).alias("e"),
    )
    return _strip_intervals(docs, iv, id_col=id_col, text_col=text_col)


def _strip_intervals(
    docs: DataFrame,
    iv: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Excise (id, s, e) half-open 1-based character intervals from
    each document: merge to disjoint islands (running-max sweep), then
    rebuild the kept text in one JVM-side fold. Shared by the batch
    APPLY (substring_dedup_apply) and the streaming strip-on-ingest
    sink so the transform cannot drift between them. Returns
    (id_col, text_after) for EVERY doc in ``docs``.

    Intervals are DEDUPLICATED first (a union is a set operation):
    duplicate (s, e) rows — the same span duplicated against several
    partners — make the island sweep's (s, e) sort order ambiguous,
    and an engine that evaluates the running-max and the island
    running-sum in separate passes can order the ties differently and
    nondeterministically merge adjacent islands (the DuckDB oracle
    exhibited exactly this before its matching DISTINCT). Spark
    evaluates both frames over one sort, but determinism here must not
    depend on that physical detail."""
    iv = iv.distinct()
    w_prev = (
        Window.partitionBy(id_col)
        .orderBy("s", "e")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_run = (
        Window.partitionBy(id_col)
        .orderBy("s", "e")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    merged = (
        iv.withColumn("_pme", F.max("e").over(w_prev))
        .withColumn(
            "_new",
            (F.col("_pme").isNull() | (F.col("s") > F.col("_pme"))).cast("int"),
        )
        .withColumn("_grp", F.sum("_new").over(w_run))
        .groupBy(id_col, "_grp")
        .agg(F.min("s").alias("s"), F.max("e").alias("e"))
    )
    ivs = merged.groupBy(id_col).agg(
        F.array_sort(F.collect_list(F.struct("s", "e"))).alias("_ivs")
    )
    fold = (
        "aggregate(_ivs, named_struct('p', CAST(1 AS BIGINT), 'acc', ''),"
        " (st, iv) -> named_struct('p', iv.e, 'acc',"
        f"   concat(st.acc, substr({text_col}, CAST(st.p AS INT),"
        "     CAST(iv.s - st.p AS INT)))),"
        f" st -> concat(st.acc, substr({text_col}, CAST(st.p AS INT))))"
    )
    return (
        docs.select(id_col, text_col)
        .join(ivs.hint("merge"), id_col, "left")
        .select(
            id_col,
            F.when(F.col("_ivs").isNull(), F.col(text_col))
            .otherwise(F.expr(fold))
            .alias("text_after"),
        )
    )


def repeated_substring_self_runs(
    docs: DataFrame,
    min_len: int = 20,
    max_occ: int = 4,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """WITHIN-document exact repeated substrings — Lee et al. 2022
    dedups self-repeats too (a crawl page repeating its own nav
    boilerplate), which the registry previously covered only via
    fixed-width winnowing shingles. Same machinery as
    repeated_substring_runs with the pair predicate generalized to
    doc_a == doc_b: matching ``min_len``-gram positions (pos_a <
    pos_b, so each unordered position pair once; the diagonal
    pos_a - pos_b is strictly negative, never 0) extend along
    diagonals via the shared _matches_to_runs gaps-and-islands.
    Output: (doc_id, start_a, start_b, match_len), one row per maximal
    self-run, start_a < start_b, match_len >= min_len.

    The stop-list analog is the PER-DOC occurrence band 2..``max_occ``
    (cross-doc df is the wrong knob here — a gram can be corpus-rare
    yet pathological within one low-entropy document): it bounds the
    per-gram self-join fan-out at occ^2 PER DOCUMENT, the same
    quadratic hazard the cross-doc cap bounds at df^2. Like max_df,
    the cap is declared semantics, replayed by the oracle and the
    python model. A periodic region (one gram at every position)
    exceeds the band and is stop-listed outright — the degenerate
    class the cross-doc docstring already routes to quality gates.

    100 TB shape: everything is per-document after the gram table —
    the occurrence census, the self-join (keyed on (id, gh)), and the
    islands window all partition by doc; no relation ever holds a
    corpus-cross pair. Both data-sized joins forced merge (the
    standing Generate-estimate rule)."""
    g = substring_gram_table(
        docs, min_len=min_len, id_col=id_col, text_col=text_col
    )
    el = (
        g.groupBy(id_col, "gh")
        .agg(F.count("*").alias("_occ"))
        .where((F.col("_occ") >= 2) & (F.col("_occ") <= max_occ))
        .select(id_col, "gh")
    )
    occ_g = g.join(el.hint("merge"), [id_col, "gh"])
    a = occ_g.select(F.col(id_col).alias("_id"), "gh", F.col("pos").alias("pos_a"))
    b = occ_g.select(F.col(id_col).alias("_id"), "gh", F.col("pos").alias("pos_b"))
    m = (
        a.join(b.hint("merge"), ["_id", "gh"])
        .where(F.col("pos_a") < F.col("pos_b"))
        .select(
            F.col("_id").alias("doc_a"),
            F.col("_id").alias("doc_b"),
            "pos_a",
            "pos_b",
        )
    )
    return _matches_to_runs(m, min_len).select(
        F.col("doc_a").alias(id_col), "start_a", "start_b", "match_len"
    )


def substring_self_apply(
    docs: DataFrame,
    min_len: int = 20,
    max_occ: int = 4,
    id_col: str = "doc_id",
    text_col: str = "text",
    runs: DataFrame | None = None,
) -> DataFrame:
    """The within-document strip transform — the self half of Lee et
    al.'s apply, completing detect -> transform for self-repeats the
    way substring_dedup_apply does for cross-document runs: every
    LATER occurrence interval of a self-run (start_b side; start_a <
    start_b, so the document's FIRST copy survives) is excised via the
    shared _strip_intervals sweep+fold. Chained repeats compose
    correctly through the interval union: for k copies, every run
    lands its start_b on copies 2..k, so exactly the first survives.
    Output: (id_col, text_after) for EVERY input document."""
    if runs is None:
        runs = repeated_substring_self_runs(
            docs, min_len=min_len, max_occ=max_occ, id_col=id_col, text_col=text_col
        )
    iv = runs.select(
        F.col(id_col),
        F.col("start_b").alias("s"),
        (F.col("start_b") + F.col("match_len")).alias("e"),
    )
    return _strip_intervals(docs.select(id_col, text_col), iv, id_col, text_col)
