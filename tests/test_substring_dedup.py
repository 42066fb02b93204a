"""Exact substring dedup (Lee et al. 2022 class): the operator must
equal an independent pure-python model — brute-force gram indexing +
diagonal run merging + interval union — on fixed corpora with known
overlaps AND on randomized hypothesis corpora from a tiny alphabet
(where the hot-gram stop-list and self-overlapping runs actually
fire). The DuckDB oracle pins the declared queries; these pin the
OPERATOR semantics against a non-SQL reference, so a bug shared by
both SQL dialects still gets caught.
"""

from __future__ import annotations

import collections

from hypothesis import given, settings
from hypothesis import strategies as st

from goeventstream_spark.operators.dedup import (
    repeated_substring_runs,
    substring_dup_coverage,
    substring_strip_savings,
)


def _py_runs(texts: dict[int, str], k: int, max_df: int):
    """Reference: gram occurrence lists -> df stop-list -> per
    (doc_a, doc_b, diagonal) position sets -> maximal consecutive
    runs. 1-based positions, cross-doc only, doc_a < doc_b."""
    grams: dict[str, list[tuple[int, int]]] = collections.defaultdict(list)
    for d, t in texts.items():
        for i in range(len(t) - k + 1):
            grams[t[i : i + k]].append((d, i + 1))
    matches: dict[tuple[int, int, int], set[int]] = collections.defaultdict(set)
    for occ in grams.values():
        docs = {d for d, _ in occ}
        if not (2 <= len(docs) <= max_df):
            continue
        for da, pa in occ:
            for db, pb in occ:
                if da < db:
                    matches[(da, db, pa - pb)].add(pa)
    out = set()
    for (da, db, diag), ps in matches.items():
        sp = sorted(ps)
        start = prev = sp[0]
        for p in sp[1:] + [None]:
            if p is not None and p == prev + 1:
                prev = p
                continue
            out.add((da, db, start, start - diag, prev - start + k))
            if p is not None:
                start = prev = p
    return out


def _py_union(spans: list[tuple[int, int]]) -> int:
    """Reference union length of half-open integer intervals."""
    spans = sorted(spans)
    tot, cur_s, cur_e = 0, None, None
    for s, e in spans:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                tot += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    tot += cur_e - cur_s
    return tot


def _py_coverage(runs) -> dict[int, int]:
    """Reference interval-union length per doc over both run sides."""
    iv: dict[int, list[tuple[int, int]]] = collections.defaultdict(list)
    for da, db, sa, sb, ln in runs:
        iv[da].append((sa, sa + ln))
        iv[db].append((sb, sb + ln))
    return {d: _py_union(spans) for d, spans in iv.items()}


def _spark_runs(spark, texts, k, max_df):
    docs = spark.createDataFrame(sorted(texts.items()), ["doc_id", "text"])
    return {
        (r.doc_a, r.doc_b, r.start_a, r.start_b, r.match_len)
        for r in repeated_substring_runs(docs, min_len=k, max_df=max_df).collect()
    }


def test_substring_runs_fixed_corpus(spark):
    """Hand-checkable fixture: a 10-char passage shared by three docs
    at different offsets (gram df 3 <= cap 3), a boilerplate word in
    ALL four docs (df 4 > cap -> stop-listed, so it yields NO run),
    and a periodic tail whose self-overlapping grams must still
    collapse to one maximal run per doc pair."""
    texts = {
        1: "COMMONabcdefghij....zzzzzzzz",
        2: "YCOMMONabcdefghijZ..zzzzzzzz",
        3: "abcdefghij",
        4: "COMMON only here....zzzzzzzz",
    }
    k = 4
    got = _spark_runs(spark, texts, k, max_df=3)
    want = _py_runs(texts, k, max_df=3)
    assert got == want
    # the full 16-char 'COMMONabcdefghij' passage is ONE maximal run
    # for docs 1/2; docs 1/3 and 2/3 share only the 10-char core
    assert (1, 2, 1, 2, 16) in got
    assert (1, 3, 7, 1, 10) in got
    assert (2, 3, 8, 1, 10) in got
    # COMMON alone (df 3 grams, under the cap) matches docs 1/4
    assert (1, 4, 1, 1, 6) in got
    # the periodic z-tail self-overlaps: maximal runs exist on SEVERAL
    # diagonals of the same pair (the declared per-diagonal maximality)
    diags_12 = {r[2] - r[3] for r in got if r[:2] == (1, 2) and r[4] < 16}
    assert len(diags_12) >= 3, sorted(got)
    # tightening the cap to df<=2 stop-lists the df-3 grams: the
    # COMMON run disappears and the 1/4 dot-tail run shrinks to the
    # two surviving '....'/'...z' seed positions (length 5)
    got2 = _spark_runs(spark, texts, k, max_df=2)
    assert got2 == _py_runs(texts, k, max_df=2)
    assert not any(r[:2] == (1, 4) and r[2] == 1 for r in got2), got2
    assert (1, 4, 17, 17, 5) in got2


@settings(max_examples=8, deadline=None)
@given(
    st.dictionaries(
        st.integers(1, 6),
        st.text(alphabet="ab ", min_size=0, max_size=40),
        min_size=2,
        max_size=6,
    )
)
def test_substring_runs_match_python_on_random_corpora(spark, texts):
    """Tiny alphabet -> dense gram collisions: the df stop-list,
    multi-occurrence diagonals, and run merging all fire. The operator
    must equal the brute-force model exactly."""
    k, max_df = 3, 3
    got = _spark_runs(spark, texts, k, max_df)
    want = _py_runs(texts, k, max_df)
    assert got == want
    cov_rows = {
        r.doc_id: r.dup_chars
        for r in substring_dup_coverage(
            spark.createDataFrame(sorted(texts.items()), ["doc_id", "text"]),
            min_len=k,
            max_df=max_df,
        ).collect()
    }
    assert cov_rows == _py_coverage(want)
    # the APPLY half: b-side-only union (the lowest-id copy survives)
    strip_rows = {
        r.doc_id: r.removed_chars
        for r in substring_strip_savings(
            spark.createDataFrame(sorted(texts.items()), ["doc_id", "text"]),
            min_len=k,
            max_df=max_df,
        ).collect()
    }
    b_side = collections.defaultdict(list)
    for _da, db, _sa, sb, ln in want:
        b_side[db].append((sb, sb + ln))
    assert strip_rows == {d: _py_union(sp) for d, sp in b_side.items()}
    # one canonical copy always survives: strip never removes more
    # than the duplication census counts
    for d, rm in strip_rows.items():
        assert rm <= cov_rows[d], d



# ---------------------------------------------------------------------------
# Incremental + streaming twins
# ---------------------------------------------------------------------------


def _empty_grams(spark):
    from goeventstream_spark.operators.dedup import substring_gram_table

    return substring_gram_table(
        spark.createDataFrame([], "doc_id long, text string"), min_len=3
    )


@settings(max_examples=6, deadline=None)
@given(
    st.dictionaries(
        st.integers(1, 6),
        st.text(alphabet="ab ", min_size=0, max_size=40),
        min_size=2,
        max_size=6,
    ),
    st.integers(0, 1),
)
def test_incremental_substring_equals_full(spark, texts, parity):
    """For ANY history/delta split, dedup of the delta against the
    persisted gram index (stop-list recomputed over history+delta)
    must equal the full-corpus recompute restricted to pairs touching
    the delta."""
    from goeventstream_spark.operators.dedup import (
        incremental_substring_runs,
        repeated_substring_runs,
        substring_gram_table,
    )

    k, max_df = 3, 3
    hist_docs = {d: t for d, t in texts.items() if d % 2 == parity}
    delta_docs = {d: t for d, t in texts.items() if d % 2 != parity}
    if not delta_docs:
        return
    mk = lambda m: spark.createDataFrame(  # noqa: E731
        sorted(m.items()), "doc_id long, text string"
    )
    hist_grams = (
        substring_gram_table(mk(hist_docs), min_len=k)
        if hist_docs
        else _empty_grams(spark)
    )
    _g, runs = incremental_substring_runs(
        hist_grams, mk(delta_docs), min_len=k, max_df=max_df
    )
    got = {
        (r.doc_a, r.doc_b, r.start_a, r.start_b, r.match_len)
        for r in runs.collect()
    }
    full = {
        (r.doc_a, r.doc_b, r.start_a, r.start_b, r.match_len)
        for r in repeated_substring_runs(
            mk(texts), min_len=k, max_df=max_df
        ).collect()
    }
    want = {t for t in full if t[0] in delta_docs or t[1] in delta_docs}
    assert got == want


def test_incremental_substring_union_superset_on_df_drift(spark):
    """The one-sided df drift, demonstrated: a gram under the cap when
    a pair arrived stays judged duplicate (ingest-time semantics) even
    after later documents push the gram over the cap — the union of
    incremental batches is a STRICT superset of the final-corpus
    recompute exactly then, and each batch still equals its own
    corpus-so-far recompute."""
    from goeventstream_spark.operators.dedup import (
        incremental_substring_runs,
        repeated_substring_runs,
    )

    k, max_df = 3, 2
    b1 = {1: "XXshared", 2: "YYYshared"}
    b2 = {3: "ZshardZshared"}
    mk = lambda m: spark.createDataFrame(  # noqa: E731
        sorted(m.items()), "doc_id long, text string"
    )

    g1, r1 = incremental_substring_runs(
        _empty_grams(spark), mk(b1), min_len=k, max_df=max_df
    )
    g1 = g1.localCheckpoint(eager=True)
    s1 = {tuple(r) for r in r1.collect()}
    # batch 1 == its own corpus recompute (everything touches the delta)
    assert s1 == {
        tuple(r) for r in repeated_substring_runs(mk(b1), min_len=k, max_df=max_df).collect()
    }
    assert s1, "the shared passage must match in batch 1"

    _g2, r2 = incremental_substring_runs(g1, mk(b2), min_len=k, max_df=max_df)
    s2 = {tuple(r) for r in r2.collect()}
    union = s1 | s2
    final = {
        tuple(r)
        for r in repeated_substring_runs(
            mk({**b1, **b2}), min_len=k, max_df=max_df
        ).collect()
    }
    # 'shared' grams now sit in 3 docs > cap 2: the final recompute
    # drops them, but the batch-1 verdict stands -> strict superset
    assert final < union, (sorted(final), sorted(union))
    assert s1 - final, "batch-1 runs must be the dropped evidence"


def test_streaming_substring_dedup_matches_batch(spark, sf_dir, tmp_path):
    """3-micro-batch ingest over the fixture corpus with a cap the
    fixture never crosses (max_df=50 > max fixture df 9): every batch
    partition equals the corpus-so-far recompute restricted to pairs
    touching the batch, and the union equals the full-corpus
    recompute — each run exactly once, in its later doc's batch."""
    from pyspark.sql import functions as F

    from goeventstream_spark.operators.dedup import repeated_substring_runs
    from goeventstream_spark.sources import load_table
    from goeventstream_spark.streaming.dedup import streaming_substring_dedup

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    src = str(tmp_path / "src")
    for i in range(3):
        docs.where(F.col("doc_id") % 3 == i).coalesce(1).write.mode(
            "append"
        ).parquet(src)
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = streaming_substring_dedup(
        stream,
        index_dir=str(tmp_path / "index"),
        runs_dir=str(tmp_path / "runs"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        min_len=20,
        max_df=50,
    )
    q.awaitTermination(240)

    got_runs = spark.read.parquet(str(tmp_path / "runs"))
    got = {
        (r.doc_a, r.doc_b, r.start_a, r.start_b, r.match_len)
        for r in got_runs.collect()
    }
    want = {
        (r.doc_a, r.doc_b, r.start_a, r.start_b, r.match_len)
        for r in repeated_substring_runs(docs, min_len=20, max_df=50).collect()
    }
    assert got == want
    # each run exactly once across batch partitions
    assert got_runs.count() == len(got)
    # the index grams every document exactly once
    index = spark.read.parquet(str(tmp_path / "index"))
    n_docs_indexed = index.select("doc_id").distinct().count()
    assert n_docs_indexed == docs.where(F.length("text") >= 20).count()
    # the additive census lake sums to the exact global gram df
    census = spark.read.parquet(str(tmp_path / "index_census"))
    got_df = {
        r.gh: r.s
        for r in census.groupBy("gh").agg(F.sum("df").alias("s")).collect()
    }
    want_df = {
        r.gh: r.d
        for r in index.groupBy("gh")
        .agg(F.count_distinct("doc_id").alias("d"))
        .collect()
    }
    assert got_df == want_df


def test_substring_bucketed_gram_index_history_shuffle_free(spark, sf_dir, tmp_path):
    """The 100 TB deployment shape of incremental_substring_runs made
    concrete (the minhash bucketed-index discipline,
    test_scale_patterns.py): persist the history gram index bucketed on
    gh; the per-batch match join then scans history WITHOUT
    re-shuffling it — exactly ONE gh exchange (the small delta side) —
    and the run set equals the incremental operator's delta-vs-history
    portion exactly."""
    from pyspark.sql import functions as F

    from goeventstream_spark import plans
    from goeventstream_spark.operators.dedup import (
        _matches_to_runs,
        _substring_stoplist,
        incremental_substring_runs,
        substring_gram_table,
    )
    from goeventstream_spark.sources import load_table

    k, max_df = 20, 4
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    hist_docs = docs.where(F.col("doc_id") % 2 == 0)
    delta_docs = docs.where(F.col("doc_id") % 2 == 1)
    hist_grams = substring_gram_table(hist_docs, min_len=k)
    spark.sql("DROP TABLE IF EXISTS gram_index_bkt")
    hist_grams.write.bucketBy(8, "gh").sortBy("gh").option(
        "path", str(tmp_path / "gram_index_bkt")
    ).mode("overwrite").saveAsTable("gram_index_bkt")

    delta_grams = substring_gram_table(delta_docs, min_len=k)
    hist_bkt = spark.table("gram_index_bkt")
    # the stop-list is maintained OUTSIDE the join under test (an
    # additive per-gram census at deployment) — checkpoint it so its
    # own census shuffles don't appear in the match-join plan, and
    # broadcast it so the only shuffled relation is the delta
    el = _substring_stoplist(
        hist_bkt.unionByName(delta_grams), max_df, "doc_id"
    ).localCheckpoint(eager=True)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        da = delta_grams.join(F.broadcast(el), "gh").select(
            F.col("doc_id").alias("id_d"), F.col("pos").alias("pos_d"), "gh"
        )
        ob = hist_bkt.select(
            F.col("doc_id").alias("id_o"), F.col("pos").alias("pos_o"), "gh"
        )
        lt = F.col("id_d") < F.col("id_o")
        m = (
            da.join(ob, "gh")
            .select(
                F.when(lt, F.col("id_d")).otherwise(F.col("id_o")).alias("doc_a"),
                F.when(lt, F.col("pos_d")).otherwise(F.col("pos_o")).alias("pos_a"),
                F.when(lt, F.col("id_o")).otherwise(F.col("id_d")).alias("doc_b"),
                F.when(lt, F.col("pos_o")).otherwise(F.col("pos_d")).alias("pos_b"),
            )
        )
        runs_df = _matches_to_runs(m, k)
        plan = plans.physical_plan(runs_df)
        assert "gram_index_bkt" in plan and "SortMergeJoin" in plan, plan
        gh_exchanges = [
            seg
            for seg in plan.split("Exchange hashpartitioning")[1:]
            if seg.lstrip().startswith("(gh")
        ]
        assert len(gh_exchanges) == 1, plan
        got = {
            (r.doc_a, r.doc_b, r.start_a, r.start_b, r.match_len)
            for r in runs_df.collect()
        }
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS gram_index_bkt")
    _g, want_runs = incremental_substring_runs(
        hist_grams, delta_docs, min_len=k, max_df=max_df
    )
    want = {
        (r.doc_a, r.doc_b, r.start_a, r.start_b, r.match_len)
        for r in want_runs.collect()
        # the bucketed join is delta-vs-HISTORY only; drop delta-delta
        if (r.doc_a % 2 == 0) or (r.doc_b % 2 == 0)
    }
    assert got == want


def test_substring_stoplist_bounds_viral_boilerplate(spark):
    """Adversarial skew: one 40-char passage goes viral (verbatim in 60
    of 200 docs). Without the df stop-list the match join would emit
    >= C(60,2) = 1770 doc pairs PER GRAM POSITION (the quadratic
    hot-gram blowup); with the declared 2..4 cap the viral grams are
    stop-listed, the executed match volume stays at the sparse pairs
    only, and the result still equals the python model exactly."""
    from pyspark.sql import functions as F

    from goeventstream_spark.operators.dedup import (
        _substring_stoplist,
        substring_gram_table,
    )

    viral = "VIRAL-BOILERPLATE-PASSAGE-0123456789-END"
    assert len(viral) == 40
    texts = {}
    for d in range(200):
        filler = f"doc{d:03d}-" + "".join(
            chr(97 + (d * 31 + j) % 26) for j in range(30)
        )
        texts[d] = (filler + viral) if d < 60 else (filler + f"tail{d:03d}")
    # two sparse true duplicates that must survive the stop-list
    texts[198] = texts[198] + "sparse-shared-needle-xyz"
    texts[199] = texts[199] + "sparse-shared-needle-xyz"
    k, max_df = 8, 4
    got = _spark_runs(spark, texts, k, max_df)
    want = _py_runs(texts, k, max_df)
    assert got == want
    # the viral passage yields NO run: all its grams have df 60 > 4
    viral_docs = set(range(60))
    assert not any(
        r[0] in viral_docs and r[1] in viral_docs and r[4] >= len(viral) for r in got
    ), sorted(got)[:5]
    # the sparse needle DOES survive
    assert any(r[:2] == (198, 199) for r in got), sorted(got)
    # census: the viral grams really are over the cap (the guard binds)
    docs_df = spark.createDataFrame(sorted(texts.items()), ["doc_id", "text"])
    g = substring_gram_table(docs_df, min_len=k)
    dfs = {
        r.gh: r.df
        for r in g.groupBy("gh").agg(F.count_distinct("doc_id").alias("df")).collect()
    }
    import hashlib

    viral_gram_h = hashlib.md5(viral[:k].encode()).hexdigest()
    assert dfs[viral_gram_h] == 60
    # and the eligible seed relation holds none of them
    el = {r.gh for r in _substring_stoplist(g, max_df, "doc_id").collect()}
    assert viral_gram_h not in el


def test_streaming_substring_dedup_survives_empty_first_batch(spark, tmp_path):
    """ADVICE r7: a first micro-batch whose documents are ALL shorter
    than min_len (20) grams to an empty relation; under dynamic
    overwrite that writes zero parquet files, and a naive re-read of
    the index lake would die on schema inference and kill the stream.
    Pin the guard: the stream survives the empty-index batch, later
    batches dedup normally, and the runs lake equals the full
    recompute over the long documents."""
    from pyspark.sql import functions as F

    from goeventstream_spark.operators.dedup import repeated_substring_runs
    from goeventstream_spark.streaming.dedup import streaming_substring_dedup

    passage = "the shared twenty-plus-character passage that repeats"
    long_docs = [(10, "A" * 7 + passage + "B" * 9), (11, "C" * 5 + passage + "D" * 3)]
    docs = spark.createDataFrame(
        [(1, "tiny"), (2, "short doc"), *long_docs], ["doc_id", "text"]
    )
    src = str(tmp_path / "src")
    # file 1 = only sub-min_len docs -> empty gram batch; file 2 = the rest
    docs.where(F.length("text") < 20).coalesce(1).write.mode("append").parquet(src)
    docs.where(F.length("text") >= 20).coalesce(1).write.mode("append").parquet(src)
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = streaming_substring_dedup(
        stream,
        index_dir=str(tmp_path / "index"),
        runs_dir=str(tmp_path / "runs"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        min_len=20,
        max_df=4,
    )
    q.awaitTermination(240)
    assert q.exception() is None, q.exception()

    got = {
        (r.doc_a, r.doc_b, r.start_a, r.start_b, r.match_len)
        for r in spark.read.parquet(str(tmp_path / "runs")).collect()
    }
    want = {
        (r.doc_a, r.doc_b, r.start_a, r.start_b, r.match_len)
        for r in repeated_substring_runs(docs, min_len=20, max_df=4).collect()
    }
    assert got == want and got, got


@settings(max_examples=6, deadline=None)
@given(
    st.dictionaries(
        st.integers(1, 6),
        st.text(alphabet="ab ", min_size=0, max_size=40),
        min_size=2,
        max_size=6,
    ),
    st.integers(0, 1),
)
def test_incremental_censused_equals_uncensused(spark, texts, parity):
    """The additive-census stop-list (VERDICT r7 #1) is a pure
    execution-shape change: for ANY history/delta split, the censused
    path — history df arriving as per-batch (gh, df) partials, here
    deliberately split into TWO partial batches to exercise the
    sum-of-partials merge — must equal the full-index-aggregate path
    row for row."""
    from pyspark.sql import functions as F

    from goeventstream_spark.operators.dedup import (
        incremental_substring_runs,
        substring_census_update,
        substring_gram_table,
    )

    k, max_df = 3, 3
    hist_docs = {d: t for d, t in texts.items() if d % 2 == parity}
    delta_docs = {d: t for d, t in texts.items() if d % 2 != parity}
    if not delta_docs:
        return
    mk = lambda m: spark.createDataFrame(  # noqa: E731
        sorted(m.items()), "doc_id long, text string"
    )
    hist_grams = (
        substring_gram_table(mk(hist_docs), min_len=k)
        if hist_docs
        else _empty_grams(spark)
    )
    # two history partials (docs split by id quartile) accumulated in
    # the lake, exactly the multi-batch census shape
    h1 = hist_grams.where(F.col("doc_id") <= 3)
    h2 = hist_grams.where(F.col("doc_id") > 3)
    census = substring_census_update(h1).unionByName(substring_census_update(h2))

    _g, want_runs = incremental_substring_runs(
        hist_grams, mk(delta_docs), min_len=k, max_df=max_df
    )
    _g2, got_runs = incremental_substring_runs(
        hist_grams, mk(delta_docs), min_len=k, max_df=max_df,
        history_census=census,
    )
    want = {tuple(r) for r in want_runs.collect()}
    got = {tuple(r) for r in got_runs.collect()}
    assert got == want


def test_incremental_census_aggregates_delta_only(spark, tmp_path):
    """Plan pin for the additive census: with history grams AND the
    census lake persisted as parquet, the censused runs plan scans the
    history GRAM index exactly once (the match side) — the stop-list
    no longer aggregates it — while the uncensused plan scans it
    twice; the census partials enter through a LeftSemi prune on the
    delta's gram set before the merge sum. And the two paths return
    identical runs."""
    from goeventstream_spark import plans
    from goeventstream_spark.operators.dedup import (
        incremental_substring_runs,
        substring_census_update,
        substring_gram_table,
    )

    k, max_df = 4, 4
    hist = spark.createDataFrame(
        [(1, "AAAAshared-passage-one...."), (2, "BBshared-passage-oneZZ")],
        "doc_id long, text string",
    )
    delta = spark.createDataFrame(
        [(9, "XXshared-passage-oneYY")], "doc_id long, text string"
    )
    hist_dir = str(tmp_path / "gram_index")
    census_dir = str(tmp_path / "census")
    hg = substring_gram_table(hist, min_len=k)
    hg.write.parquet(hist_dir)
    substring_census_update(hg).write.parquet(census_dir)
    hist_grams = spark.read.parquet(hist_dir)
    census = spark.read.parquet(census_dir)

    _g, runs_cen = incremental_substring_runs(
        hist_grams, delta, min_len=k, max_df=max_df, history_census=census
    )
    _g2, runs_full = incremental_substring_runs(
        hist_grams, delta, min_len=k, max_df=max_df
    )
    plan_cen = plans.physical_plan(runs_cen)
    plan_full = plans.physical_plan(runs_full)
    # scan signatures (plan Location strings truncate paths, and
    # column pruning varies the gram scan's schema): any history
    # gram-index scan starts with doc_id; the census lake is (gh, df)
    gram_scan = "ReadSchema: struct<doc_id:bigint"
    census_scan = "ReadSchema: struct<gh:string,df:bigint>"
    assert plan_cen.count(gram_scan) == 1, plan_cen
    assert plan_full.count(gram_scan) >= 2, plan_full
    assert plan_cen.count(census_scan) == 1, plan_cen
    assert "LeftSemi" in plan_cen, plan_cen
    got = {tuple(r) for r in runs_cen.collect()}
    want = {tuple(r) for r in runs_full.collect()}
    assert got == want and got


def _py_strip(texts: dict[int, str], k: int, max_df: int) -> dict[int, str]:
    """Reference apply: excise the union of doc_b-side run intervals
    (1-based, half-open) from each document."""
    iv: dict[int, list[tuple[int, int]]] = collections.defaultdict(list)
    for _da, db, _sa, sb, ln in _py_runs(texts, k, max_df):
        iv[db].append((sb, sb + ln))
    out = {}
    for d, t in texts.items():
        keep, p = [], 1
        for s, e in sorted(iv.get(d, [])):
            if s > p:
                keep.append(t[p - 1 : s - 1])
            p = max(p, e)
        keep.append(t[p - 1 :])
        out[d] = "".join(keep)
    return out


@settings(max_examples=8, deadline=None)
@given(
    st.dictionaries(
        st.integers(1, 6),
        st.text(alphabet="ab ", min_size=0, max_size=40),
        min_size=2,
        max_size=6,
    )
)
def test_substring_apply_matches_python_model(spark, texts):
    """substring_dedup_apply == the pure-python strip on randomized
    tiny-alphabet corpora (overlapping/nested/adjacent doc_b intervals
    and whole-document excisions all fire here), byte for byte."""
    from goeventstream_spark.operators.dedup import substring_dedup_apply

    k, max_df = 3, 3
    docs = spark.createDataFrame(sorted(texts.items()), "doc_id long, text string")
    got = {
        r.doc_id: r.text_after
        for r in substring_dedup_apply(docs, min_len=k, max_df=max_df).collect()
    }
    assert got == _py_strip(texts, k, max_df)


def test_substring_apply_consistency_and_no_surviving_dup(spark, sf_dir):
    """On the fixture corpus: (a) length(text) - length(text_after)
    equals substring_strip_savings' removed_chars row for row — the
    transform and its costing cannot drift; (b) the one-canonical-copy
    guarantee: every ORIGINAL occurrence of a 20-gram whose document
    frequency is in the dedup band [2..max_df] is fully covered by a
    removal interval in every doc except the gram's lowest-id doc.
    (Stated on original positions deliberately: excision seams can
    join two kept segments into a NEW 20-gram that coincidentally
    equals a duplicated one — the fixture exhibits exactly one such
    seam — so 'the stripped TEXT contains no band gram' is not the
    operator's contract; canonical-copy-per-original-occurrence is.)"""
    from goeventstream_spark.operators.dedup import (
        repeated_substring_runs,
        substring_dedup_apply,
        substring_strip_savings,
    )
    from goeventstream_spark.sources import load_table

    k, max_df = 20, 4
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    stripped = {
        r.doc_id: r.text_after
        for r in substring_dedup_apply(docs, min_len=k, max_df=max_df).collect()
    }
    orig = {r.doc_id: r.text for r in docs.collect()}
    removed = {
        r.doc_id: r.removed_chars
        for r in substring_strip_savings(docs, min_len=k, max_df=max_df).collect()
    }
    assert set(stripped) == set(orig)
    assert removed, "fixture regression: expected stripped documents"
    for d, t in orig.items():
        assert len(t) - len(stripped[d]) == removed.get(d, 0), d

    # removal intervals from the ORACLE-PINNED runs operator (b sides)
    iv: dict[int, list[tuple[int, int]]] = collections.defaultdict(list)
    for r in repeated_substring_runs(docs, min_len=k, max_df=max_df).collect():
        iv[r.doc_b].append((r.start_b, r.start_b + r.match_len))

    def covered(d: int, pos: int) -> bool:
        return any(s <= pos and pos + k <= e for s, e in iv.get(d, ()))

    gram_occ: dict[str, list[tuple[int, int]]] = collections.defaultdict(list)
    for d, t in orig.items():
        for i in range(len(t) - k + 1):
            gram_occ[t[i : i + k]].append((d, i + 1))
    checked = 0
    for g, occ in gram_occ.items():
        ds = {d for d, _ in occ}
        if not (2 <= len(ds) <= max_df):
            continue
        keeper = min(ds)
        for d, pos in occ:
            if d != keeper:
                assert covered(d, pos), (g, d, pos)
                checked += 1
    assert checked, "fixture regression: no band grams exercised"


def _py_self_runs(texts: dict[int, str], k: int, max_occ: int):
    """Reference within-doc runs: per-doc gram position lists, the
    2..max_occ occurrence band, position pairs pa < pb, maximal
    consecutive runs per (doc, diagonal)."""
    out = set()
    for d, t in texts.items():
        grams: dict[str, list[int]] = collections.defaultdict(list)
        for i in range(len(t) - k + 1):
            grams[t[i : i + k]].append(i + 1)
        matches: dict[int, set[int]] = collections.defaultdict(set)
        for ps in grams.values():
            if not (2 <= len(ps) <= max_occ):
                continue
            for pa in ps:
                for pb in ps:
                    if pa < pb:
                        matches[pa - pb].add(pa)
        for diag, ps in matches.items():
            sp = sorted(ps)
            start = prev = sp[0]
            for p in sp[1:] + [None]:
                if p is not None and p == prev + 1:
                    prev = p
                    continue
                out.add((d, start, start - diag, prev - start + k))
                if p is not None:
                    start = prev = p
    return out


def test_substring_self_runs_fixed_corpus(spark):
    """Hand-checkable self-repeats: a doc repeating an 8-char passage
    twice (one maximal run), a doc whose passage appears 5 times
    (occ > max_occ=4 -> stop-listed, no runs), and a periodic region
    (every gram at occ > band -> stop-listed outright, the declared
    degenerate-class routing)."""
    from goeventstream_spark.operators.dedup import repeated_substring_self_runs

    k = 4
    texts = {
        1: "PASSAGE1..middle..PASSAGE1.",
        2: "dup6dup6dup6dup6dup6dup6",  # every gram occ 5..6 > 4
        3: "zzzzzzzzzzzz",  # periodic: 'zzzz' occ 9 > 4
        4: "no repeats here at all",
    }
    docs = spark.createDataFrame(sorted(texts.items()), "doc_id long, text string")
    got = {
        (r.doc_id, r.start_a, r.start_b, r.match_len)
        for r in repeated_substring_self_runs(docs, min_len=k, max_occ=4).collect()
    }
    want = _py_self_runs(texts, k, max_occ=4)
    assert got == want
    # doc 1: the full 9-char 'PASSAGE1.' is ONE maximal run at (1, 19)
    assert (1, 1, 19, 9) in got
    # docs 2 and 3: every repeated gram is over the band -> silent
    assert not any(r[0] in (2, 3, 4) for r in got), sorted(got)


@settings(max_examples=8, deadline=None)
@given(
    st.dictionaries(
        st.integers(1, 5),
        st.text(alphabet="ab ", min_size=0, max_size=40),
        min_size=1,
        max_size=4,
    )
)
def test_substring_self_runs_match_python_on_random_corpora(spark, texts):
    """Tiny alphabet: within-doc gram collisions everywhere, the occ
    band binding constantly, self-overlapping diagonals merging. The
    operator must equal the brute-force model exactly."""
    from goeventstream_spark.operators.dedup import repeated_substring_self_runs

    k, max_occ = 3, 4
    docs = spark.createDataFrame(sorted(texts.items()), "doc_id long, text string")
    got = {
        (r.doc_id, r.start_a, r.start_b, r.match_len)
        for r in repeated_substring_self_runs(
            docs, min_len=k, max_occ=max_occ
        ).collect()
    }
    assert got == _py_self_runs(texts, k, max_occ)


def test_rewritten_table_is_reread(spark, sf_dir, tmp_path):
    """A table rewritten at the same path is read afresh: collect
    substring_dedup_runs, overwrite documents.parquet with a subset
    that drops the top run's documents, collect again in the same
    session with the same sf_dir string — the second result is the
    runs of the NEW table, not a result reused by path."""
    import shutil

    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from goeventstream_spark.queries import QUERIES
    from goeventstream_spark.queries_r7 import SUBSTR_MAX_DF, SUBSTR_MIN_LEN
    from goeventstream_spark.sources import load_table

    path = tmp_path / "documents.parquet"
    shutil.copyfile(f"{sf_dir}/documents.parquet", path)
    first = QUERIES["substring_dedup_runs"](spark, str(tmp_path)).collect()
    assert first
    top = {first[0].doc_a, first[0].doc_b}

    table = pq.read_table(path)
    dropped = pc.is_in(table["doc_id"], value_set=pa.array(sorted(top)))
    pq.write_table(table.filter(pc.invert(dropped)), path)

    second = QUERIES["substring_dedup_runs"](spark, str(tmp_path)).collect()
    want = (
        repeated_substring_runs(
            load_table(spark, str(tmp_path), "documents"),
            min_len=SUBSTR_MIN_LEN,
            max_df=SUBSTR_MAX_DF,
        )
        .orderBy(F.col("match_len").desc(), "doc_a", "doc_b", "start_a", "start_b")
        .limit(200)
        .collect()
    )
    assert second == want
    # equality alone is not enough: a persisted runs relation is served
    # by Spark's cache to ANY plan-equal query, the direct one included
    assert not any({r.doc_a, r.doc_b} & top for r in second)


def test_streaming_substring_strip_matches_batch(spark, sf_dir, tmp_path):
    """Strip-on-ingest == batch apply: documents arriving in
    non-decreasing doc_id order over 3 micro-batches, with a cap the
    fixture never crosses (no df drift), must produce exactly the
    full-corpus substring_dedup_apply output — every doc_b-side
    interval excised in the batch where its document arrived, one
    canonical copy surviving corpus-wide."""
    from pyspark.sql import functions as F

    from goeventstream_spark.operators.dedup import substring_dedup_apply
    from goeventstream_spark.sources import load_table
    from goeventstream_spark.streaming.dedup import streaming_substring_strip

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    n = docs.count()
    t1, t2 = n // 3, 2 * n // 3
    src = str(tmp_path / "src")
    # id-RANGE splits: ingest order must be non-decreasing in doc_id
    # for the streaming==batch equality (see the sink docstring)
    docs.where(F.col("doc_id") < t1).coalesce(1).write.mode("append").parquet(src)
    docs.where((F.col("doc_id") >= t1) & (F.col("doc_id") < t2)).coalesce(
        1
    ).write.mode("append").parquet(src)
    docs.where(F.col("doc_id") >= t2).coalesce(1).write.mode("append").parquet(src)
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = streaming_substring_strip(
        stream,
        index_dir=str(tmp_path / "index"),
        stripped_dir=str(tmp_path / "stripped"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        min_len=20,
        max_df=50,
        runs_dir=str(tmp_path / "runs"),
    )
    q.awaitTermination(240)
    assert q.exception() is None, q.exception()

    out = spark.read.parquet(str(tmp_path / "stripped"))
    got = {r.doc_id: r.text_after for r in out.collect()}
    want = {
        r.doc_id: r.text_after
        for r in substring_dedup_apply(docs, min_len=20, max_df=50).collect()
    }
    assert got == want
    # every document emitted exactly once, in exactly one partition
    assert out.count() == len(want) == n
    # and something was actually stripped (fixture regression guard)
    orig = {r.doc_id: r.text for r in docs.collect()}
    assert any(got[d] != orig[d] for d in got)


def test_compact_substring_lakes_contracts(spark, sf_dir, tmp_path):
    """VERDICT r8 #1 — lake compaction between micro-batches: after
    ingesting two batches, compact the census lake to EXACTLY one row
    per gh and the gram index into few gh-clustered files, then resume
    the stream for a third batch. Pins: (a) one-row-per-gh census with
    values equal to the pre-compaction partial sums; (b) the gram
    index's row set is unchanged; (c) the resumed stream's
    incremental==full runs contract is unchanged by compaction; (d)
    compaction is idempotent on re-run; (e) the index lake's data file
    count shrinks to <= target_files."""
    import glob

    from pyspark.sql import functions as F

    from goeventstream_spark.operators.dedup import repeated_substring_runs
    from goeventstream_spark.sources import load_table
    from goeventstream_spark.streaming.dedup import (
        compact_substring_lakes,
        streaming_substring_dedup,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    src = str(tmp_path / "src")
    idx, cen = str(tmp_path / "index"), str(tmp_path / "census")
    runs_dir, ckpt = str(tmp_path / "runs"), str(tmp_path / "ckpt")
    for i in range(2):
        docs.where(F.col("doc_id") % 3 == i).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    def start():
        stream = (
            spark.readStream.schema(docs.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        return streaming_substring_dedup(
            stream, index_dir=idx, runs_dir=runs_dir, checkpoint_dir=ckpt,
            min_len=20, max_df=50, census_dir=cen,
        )

    q = start()
    q.awaitTermination(240)
    assert q.exception() is None, q.exception()

    pre_census = {
        r.gh: r.s
        for r in spark.read.parquet(cen)
        .groupBy("gh").agg(F.sum("df").alias("s")).collect()
    }
    pre_index = {
        (r.doc_id, r.pos, r.gh) for r in spark.read.parquet(idx).collect()
    }
    res = compact_substring_lakes(
        spark, index_dir=idx, census_dir=cen, target_files=4
    )
    assert res["census"]["compacted_batches"] == 2
    assert res["index"]["compacted_batches"] == 2
    census = spark.read.parquet(cen)
    # (a) exactly one row per gh, values = the pre-compaction sums
    assert census.count() == census.select("gh").distinct().count()
    assert {r.gh: r.df for r in census.collect()} == pre_census
    # compacted rows carry the highest folded batch id
    assert {r.batch_id for r in census.select("batch_id").distinct().collect()} == {1}
    # (b) the gram index rows are untouched as a set
    assert {
        (r.doc_id, r.pos, r.gh) for r in spark.read.parquet(idx).collect()
    } == pre_index
    # (e) few, gh-clustered files
    assert len(glob.glob(f"{idx}/batch_id=*/[!.]*.parquet")) <= 4

    # (d) idempotent: a second compaction is a fixpoint
    res2 = compact_substring_lakes(
        spark, index_dir=idx, census_dir=cen, target_files=4
    )
    assert res2["census"]["rows"] == len(pre_census)
    assert {r.gh: r.df for r in spark.read.parquet(cen).collect()} == pre_census

    # (c) resume the stream on a third batch: the union over batches
    # still equals the full-corpus recompute (no df drift at cap 50)
    docs.where(F.col("doc_id") % 3 == 2).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    q = start()
    q.awaitTermination(240)
    assert q.exception() is None, q.exception()
    got = {
        (r.doc_a, r.doc_b, r.start_a, r.start_b, r.match_len)
        for r in spark.read.parquet(runs_dir).collect()
    }
    want = {
        (r.doc_a, r.doc_b, r.start_a, r.start_b, r.match_len)
        for r in repeated_substring_runs(docs, min_len=20, max_df=50).collect()
    }
    assert got == want and got
    # and the census lake still sums to the exact global gram df
    got_df = {
        r.gh: r.s
        for r in spark.read.parquet(cen)
        .groupBy("gh").agg(F.sum("df").alias("s")).collect()
    }
    want_df = {
        r.gh: r.d
        for r in spark.read.parquet(idx)
        .groupBy("gh").agg(F.count_distinct("doc_id").alias("d"))
        .collect()
    }
    assert got_df == want_df


def test_compact_substring_lakes_partial_upto(spark, tmp_path):
    """Partial compaction — the deployment cadence where only batches
    older than the active window are folded: with partials from
    batches 0..2 and upto_batch_id=1, batches 0-1 fold to one row per
    gh at batch_id=1 while batch 2's partials ride along VERBATIM;
    global sums are unchanged; a later full compaction folds the rest
    to a single partition."""
    from pyspark.sql import functions as F

    from goeventstream_spark.operators.dedup import (
        substring_census_update,
        substring_gram_table,
    )
    from goeventstream_spark.streaming.dedup import compact_substring_lakes

    passage = "a shared twenty-char passage!!"
    docs = spark.createDataFrame(
        [(1, passage + "one"), (2, "two " + passage), (3, passage + " three")],
        ["doc_id", "text"],
    )
    cen = str(tmp_path / "census")
    grams = substring_gram_table(docs, min_len=20)
    for b in (0, 1, 2):
        (
            substring_census_update(grams.where(F.col("doc_id") == b + 1))
            .withColumn("batch_id", F.lit(b))
            .write.mode("append").partitionBy("batch_id").parquet(cen)
        )
    want = {
        r.gh: r.s
        for r in spark.read.parquet(cen)
        .groupBy("gh").agg(F.sum("df").alias("s")).collect()
    }
    batch2_rows = {
        (r.gh, r.df)
        for r in spark.read.parquet(cen).where(F.col("batch_id") == 2).collect()
    }
    res = compact_substring_lakes(
        spark, census_dir=cen, upto_batch_id=1, target_files=2
    )
    assert res["census"]["compacted_batches"] == 2
    lake = spark.read.parquet(cen)
    # folded range lives at batch_id=1; batch 2 untouched row-for-row
    assert {r.b for r in lake.select(F.col("batch_id").alias("b")).distinct().collect()} == {1, 2}
    assert {
        (r.gh, r.df) for r in lake.where(F.col("batch_id") == 2).collect()
    } == batch2_rows
    folded = lake.where(F.col("batch_id") == 1)
    assert folded.count() == folded.select("gh").distinct().count()
    # sums preserved through the partial fold
    assert {
        r.gh: r.s
        for r in lake.groupBy("gh").agg(F.sum("df").alias("s")).collect()
    } == want
    # a later FULL compaction folds everything to one partition
    compact_substring_lakes(spark, census_dir=cen, target_files=2)
    lake2 = spark.read.parquet(cen)
    assert {r.b for r in lake2.select(F.col("batch_id").alias("b")).distinct().collect()} == {2}
    assert lake2.count() == len(want)
    assert {r.gh: r.df for r in lake2.collect()} == want


def test_bucketed_sink_survives_catalog_loss_restart(spark, sf_dir, tmp_path):
    """Restart-safety of the bucketed lakes (review catch): saveAsTable
    metadata lives in the in-memory session catalog and dies with the
    application, but a checkpointed stream resumes in a NEW process.
    Simulate the restart by DROPping both tables between runs (files
    stay on disk): the resumed stream must recreate the definitions
    OVER the existing lakes (schema + bucket spec + recovered
    partitions) and keep full history — the runs union still equals
    the full-corpus recompute, and the recreated table scan is still
    bucketed."""
    from pyspark.sql import functions as F

    from goeventstream_spark import plans
    from goeventstream_spark.operators.dedup import repeated_substring_runs
    from goeventstream_spark.sources import load_table
    from goeventstream_spark.streaming.dedup import (
        lake_table_name,
        streaming_substring_dedup,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    src = str(tmp_path / "src")
    idx, cen = str(tmp_path / "index"), str(tmp_path / "census")
    idx_tbl, cen_tbl = lake_table_name("idx", idx), lake_table_name("cen", cen)
    for i in range(2):
        docs.where(F.col("doc_id") % 3 == i).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    def start():
        stream = (
            spark.readStream.schema(docs.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        return streaming_substring_dedup(
            stream, index_dir=idx, runs_dir=str(tmp_path / "runs"),
            checkpoint_dir=str(tmp_path / "ckpt"), min_len=20, max_df=50,
            census_dir=cen, bucketed=True,
        )

    try:
        q = start()
        q.awaitTermination(240)
        assert q.exception() is None, q.exception()
        # application restart: the in-memory catalog is gone
        spark.sql(f"DROP TABLE IF EXISTS {idx_tbl}")
        spark.sql(f"DROP TABLE IF EXISTS {cen_tbl}")
        docs.where(F.col("doc_id") % 3 == 2).coalesce(1).write.mode(
            "append"
        ).parquet(src)
        q = start()
        q.awaitTermination(240)
        assert q.exception() is None, q.exception()
        got = {
            (r.doc_a, r.doc_b, r.start_a, r.start_b, r.match_len)
            for r in spark.read.parquet(str(tmp_path / "runs")).collect()
        }
        want = {
            (r.doc_a, r.doc_b, r.start_a, r.start_b, r.match_len)
            for r in repeated_substring_runs(docs, min_len=20, max_df=50).collect()
        }
        assert got == want and got
        # pre-restart history survived into the recreated table
        assert {
            r.b
            for r in spark.table(idx_tbl)
            .select(F.col("batch_id").alias("b")).distinct().collect()
        } == {0, 1, 2}
        # and the recreated definition still scans bucketed
        plan = plans.physical_plan(
            spark.table(idx_tbl).groupBy("gh").agg(F.count("*"))
        )
        assert "Exchange" not in plan, plan
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {idx_tbl}")
        spark.sql(f"DROP TABLE IF EXISTS {cen_tbl}")


def test_compact_refuses_bucketed_lake_and_tolerates_zero_file_lake(
    spark, tmp_path
):
    """Two review catches: (a) compact_substring_lakes pointed at a
    directory backing a REGISTERED bucketed lake table refuses loudly
    (path-side rewrite would void the catalog's bucket metadata);
    (b) a lake whose batches all wrote zero files (every doc below the
    length floor) compacts to a clean no-op instead of dying on schema
    inference."""
    import os

    import pytest
    from pyspark.sql import functions as F

    from goeventstream_spark.streaming.dedup import (
        compact_substring_lakes,
        lake_table_name,
        streaming_substring_dedup,
    )

    # (b) zero-file lake: stream over only sub-min_len docs
    docs = spark.createDataFrame([(1, "tiny"), (2, "short doc")], ["doc_id", "text"])
    src = str(tmp_path / "src")
    docs.coalesce(1).write.mode("append").parquet(src)
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    idx, cen = str(tmp_path / "index"), str(tmp_path / "census")
    q = streaming_substring_dedup(
        stream, index_dir=idx, runs_dir=str(tmp_path / "runs"),
        checkpoint_dir=str(tmp_path / "ckpt"), min_len=20, max_df=4,
        census_dir=cen,
    )
    q.awaitTermination(240)
    assert q.exception() is None, q.exception()
    assert os.path.isdir(idx)
    res = compact_substring_lakes(spark, index_dir=idx, census_dir=cen)
    assert res == {
        "index": {"compacted_batches": 0, "rows": 0},
        "census": {"compacted_batches": 0, "rows": 0},
    }

    # (a) a dir registered as a bucketed lake table is refused
    bdir = str(tmp_path / "bucketed_census")
    tbl = lake_table_name("cen", bdir)
    try:
        spark.createDataFrame(
            [("aa", 1, 0)], ["gh", "df", "batch_id"]
        ).write.partitionBy("batch_id").bucketBy(4, "gh").option(
            "path", bdir
        ).saveAsTable(tbl)
        with pytest.raises(ValueError, match="bucket"):
            compact_substring_lakes(spark, census_dir=bdir)
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")


def test_compact_substring_lakes_crash_recovery(spark, tmp_path):
    """The publish is crash-safe: a pre-image left by a crash between
    the two swap renames (lake gone, __precompact present) is restored
    before compacting; a leftover __compact_tmp build is swept; and a
    pre-image orphaned AFTER a successful publish is dropped without
    touching the live lake."""
    import os
    import shutil

    from pyspark.sql import functions as F

    from goeventstream_spark.operators.dedup import (
        substring_census_update,
        substring_gram_table,
    )
    from goeventstream_spark.streaming.dedup import compact_substring_lakes

    docs = spark.createDataFrame(
        [(1, "a shared twenty-char passage!xyz"), (2, "zz shared twenty-char passage!")],
        ["doc_id", "text"],
    )
    cen = str(tmp_path / "census")
    grams = substring_gram_table(docs, min_len=20)
    for b in (0, 1):
        (
            substring_census_update(grams.where(F.col("doc_id") == b + 1))
            .withColumn("batch_id", F.lit(b))
            .write.mode("append").partitionBy("batch_id").parquet(cen)
        )
    want = {
        r.gh: r.s
        for r in spark.read.parquet(cen)
        .groupBy("gh").agg(F.sum("df").alias("s")).collect()
    }
    # crash mid-swap: lake renamed away, replacement never moved in
    os.rename(cen, cen + "__precompact")
    os.makedirs(cen + "__compact_tmp")  # plus a junk half-built tmp
    res = compact_substring_lakes(spark, census_dir=cen, target_files=2)
    assert res["census"]["compacted_batches"] == 2
    after = spark.read.parquet(cen)
    assert {r.gh: r.df for r in after.collect()} == want
    assert after.count() == len(want)  # one row per gh
    assert not os.path.exists(cen + "__precompact")
    assert not os.path.exists(cen + "__compact_tmp")
    # orphaned pre-image AFTER a successful publish: dropped, lake kept
    shutil.copytree(cen, cen + "__precompact")
    res2 = compact_substring_lakes(spark, census_dir=cen, target_files=2)
    assert not os.path.exists(cen + "__precompact")
    assert {r.gh: r.df for r in spark.read.parquet(cen).collect()} == want


def test_bucketed_sink_lake_history_join_shuffle_free(spark, sf_dir, tmp_path):
    """VERDICT r8 #2 — the shuffle-free pin asserted on the SINK's own
    output, not a hand-built fixture table: run
    streaming_substring_dedup(bucketed=True) over two micro-batches,
    then (a) the runs and census values equal the plain-parquet sink's
    exactly (layout is physical, not semantic); (b) a next batch's
    match join against the sink-written index TABLE scans history
    bucketed — exactly ONE gh exchange, the delta side; (c) a replayed
    insert overwrites only its own partition (exactly-once kept)."""
    from pyspark.sql import functions as F

    from goeventstream_spark import plans
    from goeventstream_spark.operators.dedup import (
        _matches_to_runs,
        _substring_stoplist,
        substring_gram_table,
    )
    from goeventstream_spark.sources import load_table
    from goeventstream_spark.streaming.dedup import (
        lake_table_name,
        streaming_substring_dedup,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    n = docs.count()
    t1 = n // 2
    hist_docs = docs.where(F.col("doc_id") < t1)
    next_docs = docs.where(F.col("doc_id") >= t1)
    src = str(tmp_path / "src")
    hist_docs.where(F.col("doc_id") % 2 == 0).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    hist_docs.where(F.col("doc_id") % 2 == 1).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    idx, cen = str(tmp_path / "index"), str(tmp_path / "census")
    idx_tbl = lake_table_name("idx", idx)
    cen_tbl = lake_table_name("cen", cen)
    try:
        stream = (
            spark.readStream.schema(docs.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        q = streaming_substring_dedup(
            stream,
            index_dir=idx,
            runs_dir=str(tmp_path / "runs"),
            checkpoint_dir=str(tmp_path / "ckpt"),
            min_len=20,
            max_df=50,
            census_dir=cen,
            bucketed=True,
        )
        q.awaitTermination(240)
        assert q.exception() is None, q.exception()

        # (a) semantics identical to the plain sink: runs == the
        # corpus-so-far recompute's per-batch union (reuse the batch
        # operator as the reference, max_df uncrossed on the fixture)
        from goeventstream_spark.operators.dedup import repeated_substring_runs

        got = {
            (r.doc_a, r.doc_b, r.start_a, r.start_b, r.match_len)
            for r in spark.read.parquet(str(tmp_path / "runs")).collect()
        }
        want = {
            (r.doc_a, r.doc_b, r.start_a, r.start_b, r.match_len)
            for r in repeated_substring_runs(
                hist_docs, min_len=20, max_df=50
            ).collect()
        }
        assert got == want and got
        # census lake (via the catalog) sums to the exact global df
        got_df = {
            r.gh: r.s
            for r in spark.table(cen_tbl)
            .groupBy("gh").agg(F.sum("df").alias("s")).collect()
        }
        want_df = {
            r.gh: r.d
            for r in spark.table(idx_tbl)
            .groupBy("gh").agg(F.count_distinct("doc_id").alias("d"))
            .collect()
        }
        assert got_df == want_df

        # (c) replayed insert = per-partition overwrite, not duplication
        from goeventstream_spark.streaming.dedup import _write_bucketed_partition

        b1 = spark.table(idx_tbl).where(F.col("batch_id") == 1)
        n_before = spark.table(idx_tbl).count()
        _write_bucketed_partition(spark, b1, idx_tbl, idx, 8)
        assert spark.table(idx_tbl).count() == n_before

        # (b) the next batch's match join: history scanned from the
        # sink's bucketed table, no history re-shuffle — ONE gh
        # exchange (the delta), the test_substring_bucketed_* proof
        # shape now on sink-written data
        k, max_df = 20, 4
        delta_grams = substring_gram_table(next_docs, min_len=k)
        hist_bkt = spark.table(idx_tbl).drop("batch_id")
        el = _substring_stoplist(
            hist_bkt.unionByName(delta_grams), max_df, "doc_id"
        ).localCheckpoint(eager=True)
        prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            da = delta_grams.join(F.broadcast(el), "gh").select(
                F.col("doc_id").alias("id_d"), F.col("pos").alias("pos_d"), "gh"
            )
            ob = hist_bkt.select(
                F.col("doc_id").alias("id_o"), F.col("pos").alias("pos_o"), "gh"
            )
            lt = F.col("id_d") < F.col("id_o")
            m = da.join(ob, "gh").select(
                F.when(lt, F.col("id_d")).otherwise(F.col("id_o")).alias("doc_a"),
                F.when(lt, F.col("pos_d")).otherwise(F.col("pos_o")).alias("pos_a"),
                F.when(lt, F.col("id_o")).otherwise(F.col("id_d")).alias("doc_b"),
                F.when(lt, F.col("pos_o")).otherwise(F.col("pos_d")).alias("pos_b"),
            )
            runs_df = _matches_to_runs(m, k)
            plan = plans.physical_plan(runs_df)
            assert idx_tbl in plan and "SortMergeJoin" in plan, plan
            gh_exchanges = [
                seg
                for seg in plan.split("Exchange hashpartitioning")[1:]
                if seg.lstrip().startswith("(gh")
            ]
            assert len(gh_exchanges) == 1, plan
            assert runs_df.count() > 0
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {idx_tbl}")
        spark.sql(f"DROP TABLE IF EXISTS {cen_tbl}")


def test_compact_bucketed_census_table(spark, sf_dir, tmp_path):
    """Census compaction for the bucketed lake layout: after two
    bucketed-sink batches, fold the census TABLE to one row per gh via
    the catalog (table-level overwrite — never path-side, which would
    void the bucket metadata). Pins: value-preserving one-row-per-gh
    fold; the compacted table still scans BUCKETED (groupBy(gh) plans
    no exchange); a resumed third batch keeps the census sums exact."""
    from pyspark.sql import functions as F

    from goeventstream_spark import plans
    from goeventstream_spark.sources import load_table
    from goeventstream_spark.streaming.dedup import (
        compact_bucketed_census,
        lake_table_name,
        streaming_substring_dedup,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    src = str(tmp_path / "src")
    idx, cen = str(tmp_path / "index"), str(tmp_path / "census")
    idx_tbl, cen_tbl = lake_table_name("idx", idx), lake_table_name("cen", cen)
    for i in range(2):
        docs.where(F.col("doc_id") % 3 == i).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    def start():
        stream = (
            spark.readStream.schema(docs.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        return streaming_substring_dedup(
            stream, index_dir=idx, runs_dir=str(tmp_path / "runs"),
            checkpoint_dir=str(tmp_path / "ckpt"), min_len=20, max_df=50,
            census_dir=cen, bucketed=True,
        )

    try:
        q = start()
        q.awaitTermination(240)
        assert q.exception() is None, q.exception()
        want = {
            r.gh: r.s
            for r in spark.table(cen_tbl)
            .groupBy("gh").agg(F.sum("df").alias("s")).collect()
        }
        n = compact_bucketed_census(spark, cen_tbl)
        after = spark.table(cen_tbl)
        assert n == after.count() == len(want)
        assert {r.gh: r.df for r in after.collect()} == want
        assert {r.batch_id for r in after.select("batch_id").distinct().collect()} == {1}
        # still bucketed: a gh aggregate over the compacted table
        # plans NO exchange
        plan = plans.physical_plan(after.groupBy("gh").agg(F.sum("df")))
        assert "Exchange" not in plan, plan
        # resumed stream: census stays exact
        docs.where(F.col("doc_id") % 3 == 2).coalesce(1).write.mode(
            "append"
        ).parquet(src)
        q = start()
        q.awaitTermination(240)
        assert q.exception() is None, q.exception()
        got_df = {
            r.gh: r.s
            for r in spark.table(cen_tbl)
            .groupBy("gh").agg(F.sum("df").alias("s")).collect()
        }
        want_df = {
            r.gh: r.d
            for r in spark.table(idx_tbl)
            .groupBy("gh").agg(F.count_distinct("doc_id").alias("d"))
            .collect()
        }
        assert got_df == want_df
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {idx_tbl}")
        spark.sql(f"DROP TABLE IF EXISTS {cen_tbl}")


def test_streaming_substring_strip_survives_empty_first_runs_batch(spark, tmp_path):
    """ADVICE r8: with ``runs_dir`` set, a first micro-batch with NO
    duplicates (the common case — history is empty at batch 0) writes
    ZERO run files, and the strip sink's audit-trail re-read of the
    runs lake used to die on schema inference, killing the stream
    (and its checkpoint replay). Pin the guard: the stream survives
    the runs-empty batch — note the gram INDEX is nonempty here, so
    the index/census guards alone don't cover it — later batches strip
    normally, and the output equals the batch apply."""
    from pyspark.sql import functions as F

    from goeventstream_spark.operators.dedup import substring_dedup_apply
    from goeventstream_spark.streaming.dedup import streaming_substring_strip

    passage = "the shared twenty-plus-character passage that repeats"
    docs = spark.createDataFrame(
        [
            (1, "a first long document with entirely unrepeated prose xyz"),
            (2, "another long document, also unique in every twenty-gram"),
            (3, "B" * 4 + passage + "C" * 6),
            (4, "D" * 9 + passage + "E" * 2),
        ],
        ["doc_id", "text"],
    )
    src = str(tmp_path / "src")
    # file 1 = long but duplicate-free docs -> nonempty index, EMPTY
    # runs partition; file 2 = the duplicated pair
    docs.where(F.col("doc_id") <= 2).coalesce(1).write.mode("append").parquet(src)
    docs.where(F.col("doc_id") >= 3).coalesce(1).write.mode("append").parquet(src)
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = streaming_substring_strip(
        stream,
        index_dir=str(tmp_path / "index"),
        stripped_dir=str(tmp_path / "stripped"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        min_len=20,
        max_df=4,
        runs_dir=str(tmp_path / "runs"),
    )
    q.awaitTermination(240)
    assert q.exception() is None, q.exception()

    got = {
        r.doc_id: r.text_after
        for r in spark.read.parquet(str(tmp_path / "stripped")).collect()
    }
    want = {
        r.doc_id: r.text_after
        for r in substring_dedup_apply(docs, min_len=20, max_df=4).collect()
    }
    assert got == want
    # doc 4 (the doc_b side) actually lost the passage
    assert passage not in got[4] and passage in got[3]


def test_streaming_substring_strip_bucketed_equals_plain(spark, tmp_path):
    """The strip sink's bucketed lake layout is physical, not
    semantic: bucketed=True emits byte-identical stripped text to the
    plain-parquet run on the same 2-batch schedule (including a
    duplicate-free first batch — the lake guards hold through the
    catalog path too)."""
    from pyspark.sql import functions as F

    from goeventstream_spark.streaming.dedup import (
        lake_table_name,
        streaming_substring_strip,
    )

    passage = "the shared twenty-plus-character passage that repeats"
    docs = spark.createDataFrame(
        [
            (1, "a first long document with entirely unrepeated prose xyz"),
            (2, "B" * 4 + passage + "C" * 6),
            (3, "D" * 9 + passage + "E" * 2),
        ],
        ["doc_id", "text"],
    )
    src = str(tmp_path / "src")
    docs.where(F.col("doc_id") <= 1).coalesce(1).write.mode("append").parquet(src)
    docs.where(F.col("doc_id") >= 2).coalesce(1).write.mode("append").parquet(src)

    outs = {}
    for mode in ("plain", "bucketed"):
        base = tmp_path / mode
        idx, cen = str(base / "index"), str(base / "census")
        try:
            stream = (
                spark.readStream.schema(docs.schema)
                .option("maxFilesPerTrigger", 1)
                .parquet(src)
            )
            q = streaming_substring_strip(
                stream,
                index_dir=idx,
                stripped_dir=str(base / "stripped"),
                checkpoint_dir=str(base / "ckpt"),
                min_len=20,
                max_df=4,
                census_dir=cen,
                runs_dir=str(base / "runs"),
                bucketed=(mode == "bucketed"),
            )
            q.awaitTermination(240)
            assert q.exception() is None, q.exception()
            outs[mode] = {
                (r.doc_id, r.batch_id): r.text_after
                for r in spark.read.parquet(str(base / "stripped")).collect()
            }
        finally:
            if mode == "bucketed":
                spark.sql(f"DROP TABLE IF EXISTS {lake_table_name('idx', idx)}")
                spark.sql(f"DROP TABLE IF EXISTS {lake_table_name('cen', cen)}")
    assert outs["plain"] == outs["bucketed"] and len(outs["plain"]) == 3
    assert passage not in outs["plain"][(3, 1)]


def test_streaming_substring_strip_out_of_order_contract(spark, sf_dir, tmp_path):
    """VERDICT r8 #7 — the reordered-arrival contract made exact. For
    a PERMUTED batch schedule (ids interleaved across batches, so
    arrival is not doc_id-monotone):

    (1) each batch's emitted text_after equals substring_dedup_apply
        over the corpus-AS-OF-EMISSION restricted to the batch's docs —
        the ingest-time decision, exactly;
    (2) with no df drift, emission-time strip intervals are a SUBSET
        of the final-corpus apply's (pairwise runs are prefix-stable:
        a shared gram of a co-present pair is band-eligible in every
        enclosing corpus under an uncrossed cap), so
        len(emitted) >= len(final apply) per doc; and whenever every
        lower-id partner of a doc arrived no later than the doc
        itself, emitted == final — both directions of the
        superset-of-final-strip analogue of the runs df-drift
        contract;
    (3) the schedule genuinely exercises the late-partner branch: some
        doc's emitted text is strictly longer than its final strip
        (emitted data is immutable — no retro-editing)."""
    import collections

    from pyspark.sql import functions as F

    from goeventstream_spark.operators.dedup import (
        repeated_substring_runs,
        substring_dedup_apply,
    )
    from goeventstream_spark.sources import load_table
    from goeventstream_spark.streaming.dedup import streaming_substring_strip

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    order = (2, 0, 1)  # modulo classes: interleaved, non-monotone
    src = str(tmp_path / "src")
    for j in order:
        docs.where(F.col("doc_id") % 3 == j).coalesce(1).write.mode(
            "append"
        ).parquet(src)
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = streaming_substring_strip(
        stream,
        index_dir=str(tmp_path / "index"),
        stripped_dir=str(tmp_path / "stripped"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        min_len=20,
        max_df=50,
    )
    q.awaitTermination(240)
    assert q.exception() is None, q.exception()
    out = spark.read.parquet(str(tmp_path / "stripped"))

    # (1) per-batch equality vs the corpus-as-of-emission apply
    emitted: dict[int, str] = {}
    arrival: dict[int, int] = {}
    for i in range(3):
        prefix_mods = [order[j] for j in range(i + 1)]
        prefix = docs.where((F.col("doc_id") % 3).isin(prefix_mods))
        want_i = {
            r.doc_id: r.text_after
            for r in substring_dedup_apply(prefix, min_len=20, max_df=50).collect()
            if r.doc_id % 3 == order[i]
        }
        got_i = {
            r.doc_id: r.text_after
            for r in out.where(F.col("batch_id") == i).collect()
        }
        assert got_i == want_i, f"batch {i}"
        emitted.update(got_i)
        for d in got_i:
            arrival[d] = i

    # (2) vs the FINAL apply: one-sided, with exact equality when no
    # partner arrived late
    final = {
        r.doc_id: r.text_after
        for r in substring_dedup_apply(docs, min_len=20, max_df=50).collect()
    }
    partners = collections.defaultdict(set)
    for r in repeated_substring_runs(docs, min_len=20, max_df=50).collect():
        partners[r.doc_b].add(r.doc_a)
    late_branch = 0
    for d, t in emitted.items():
        assert len(t) >= len(final[d]), d
        if all(arrival[p] <= arrival[d] for p in partners[d]):
            assert t == final[d], d
        if t != final[d]:
            late_branch += 1
            assert any(arrival[p] > arrival[d] for p in partners[d]), d
    # (3) the permutation really created late partners
    assert late_branch > 0


def test_bucketed_census_lake_stoplist_shuffle_free_history(spark, sf_dir, tmp_path):
    """Deployment shape of the additive census (the bucketed-gram-index
    discipline applied to the stop-list): persist the census partials
    bucketed on gh; the per-batch stop-list derivation (LeftSemi prune
    on the delta's gram set + merge sum) then reads history census
    WITHOUT re-shuffling it — the only gh exchange in the stop-list
    plan is the delta-census side — and the derived stop-list equals
    the full-index recompute exactly."""
    from pyspark.sql import functions as F

    from goeventstream_spark import plans
    from goeventstream_spark.operators.dedup import (
        _substring_stoplist,
        substring_census_update,
        substring_gram_table,
    )
    from goeventstream_spark.sources import load_table

    k, max_df = 20, 4
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    hist_docs = docs.where(F.col("doc_id") % 2 == 0)
    delta_docs = docs.where(F.col("doc_id") % 2 == 1)
    hist_grams = substring_gram_table(hist_docs, min_len=k)
    spark.sql("DROP TABLE IF EXISTS census_bkt")
    substring_census_update(hist_grams).write.bucketBy(8, "gh").sortBy(
        "gh"
    ).option("path", str(tmp_path / "census_bkt")).mode("overwrite").saveAsTable(
        "census_bkt"
    )
    try:
        delta_grams = substring_gram_table(delta_docs, min_len=k)
        dc = substring_census_update(delta_grams).localCheckpoint(eager=True)
        hc = spark.table("census_bkt").join(
            dc.select("gh").hint("merge"), "gh", "left_semi"
        )
        el = (
            hc.unionByName(dc)
            .groupBy("gh")
            .agg(F.sum("df").alias("df"))
            .where((F.col("df") >= 2) & (F.col("df") <= max_df))
            .select("gh")
        )
        plan = plans.physical_plan(el)
        assert "census_bkt" in plan and "SortMergeJoin" in plan, plan
        gh_exchanges = [
            seg
            for seg in plan.split("Exchange hashpartitioning")[1:]
            if seg.lstrip().startswith("(gh")
        ]
        # ONE gh exchange for the semi-join probe (the checkpointed
        # delta census) plus ONE for the union-merge aggregate's delta
        # leg; the bucketed history census is NEVER re-shuffled
        assert len(gh_exchanges) <= 2, plan
        got = {r.gh for r in el.collect()}
    finally:
        spark.sql("DROP TABLE IF EXISTS census_bkt")
    cols = ["doc_id", "pos", "gh"]
    all_g = hist_grams.select(*cols).unionByName(delta_grams.select(*cols))
    full = {r.gh for r in _substring_stoplist(all_g, max_df, "doc_id").collect()}
    # the censused stop-list is the full recompute RESTRICTED to the
    # delta's gram set (only delta grams can seed incremental matches)
    delta_ghs = {r.gh for r in dc.select("gh").collect()}
    assert got == (full & delta_ghs) and got


def _py_self_strip(texts: dict[int, str], k: int, max_occ: int) -> dict[int, str]:
    """Reference self-apply: excise the union of start_b-side self-run
    intervals (the later occurrence of every self-repeat)."""
    iv: dict[int, list[tuple[int, int]]] = collections.defaultdict(list)
    for d, _sa, sb, ln in _py_self_runs(texts, k, max_occ):
        iv[d].append((sb, sb + ln))
    out = {}
    for d, t in texts.items():
        keep, p = [], 1
        for s, e in sorted(iv.get(d, [])):
            if s > p:
                keep.append(t[p - 1 : s - 1])
            p = max(p, e)
        keep.append(t[p - 1 :])
        out[d] = "".join(keep)
    return out


@settings(max_examples=8, deadline=None)
@given(
    st.dictionaries(
        st.integers(1, 5),
        st.text(alphabet="ab ", min_size=0, max_size=40),
        min_size=1,
        max_size=4,
    )
)
def test_substring_self_apply_matches_python_model(spark, texts):
    """substring_self_apply == the pure-python self-strip on randomized
    tiny-alphabet corpora (chained repeats, overlapping later-copy
    intervals, whole-tail excisions), byte for byte."""
    from goeventstream_spark.operators.dedup import substring_self_apply

    k, max_occ = 3, 4
    docs = spark.createDataFrame(sorted(texts.items()), "doc_id long, text string")
    got = {
        r.doc_id: r.text_after
        for r in substring_self_apply(docs, min_len=k, max_occ=max_occ).collect()
    }
    assert got == _py_self_strip(texts, k, max_occ)


def test_substring_self_apply_first_copy_survives(spark):
    """Chained-repeat contract: with k copies of a passage in one doc,
    exactly the FIRST survives (every run's start_b lands on copies
    2..k) — and a doc with no in-band self-repeats is untouched."""
    from goeventstream_spark.operators.dedup import substring_self_apply

    k = 4
    p = "UNIQpassage!"
    texts = {1: p + "--" + p + "==" + p, 2: "completely clean text"}
    docs = spark.createDataFrame(sorted(texts.items()), "doc_id long, text string")
    got = {
        r.doc_id: r.text_after
        for r in substring_self_apply(docs, min_len=k, max_occ=4).collect()
    }
    assert got == _py_self_strip(texts, k, 4)
    assert got[1].startswith(p) and got[1].count("UNIQ") == 1, got[1]
    assert got[2] == texts[2]
