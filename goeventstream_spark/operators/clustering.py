"""Deterministic fixed-point Lloyd k-means, fully hash-oracled.

MLlib's KMeans (and any float k-means) is not cross-engine
reproducible: centroid means depend on float summation order. This
variant makes every step exact integer arithmetic so the SAME
clustering falls out of any engine:

- vectors are quantized to an integer grid: v_i = floor(x_i * scale)
  (floor, not round — round() half-up/half-even disagrees across
  engines at representation boundaries);
- assignment is argmin of the exact integer squared distance, ties to
  the lowest centroid id;
- the centroid update is the FLOORED mean floor(sum_i / n) — still on
  the integer grid, so the next assignment is again exact.

Init is the k lowest-id vectors (deterministic farthest-point/k-means++
inits exist but need a tie story; lowest-id keeps the oracle plain).

Scale shape (the part that must survive 100 TB): centroids are k x dims
integers — corpus-size-INDEPENDENT — and live on the driver between
iterations exactly like `similarity.ivf_index` codebooks; each Lloyd
iteration is one broadcast-assignment map pass plus one
(k x dims)-key aggregation. Nothing driver-side ever scales with the
corpus. The quantized grid also means assignment can run on int8/int16
SIMD at scale, the same trick PQ uses.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def quantize_vectors(
    emb: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding", scale: int = 1000
) -> DataFrame:
    """(id, v): the embedding on the integer grid, floor(x * scale)."""
    return emb.select(
        F.col(id_col).alias("vec_id"), _grid_vector(vec_col, scale).alias("v")
    )


def _sqdist(v_col, centroid: list[int]):
    """Exact integer squared distance between the row's grid vector and
    a driver-held centroid literal."""
    c = F.array(*[F.lit(int(ci)) for ci in centroid])
    diffs = F.zip_with(v_col, c, lambda a, b: (a - b) * (a - b))
    return F.aggregate(diffs, F.lit(0).cast("long"), lambda acc, x: acc + x)


def _grid_vector(vec_col: str, scale: int):
    """The floor(x * scale) integer-grid column — the ONE quantization
    expression (quantize_vectors / ivf_cell_assign share it so their
    hash-exact oracle pairing cannot drift)."""
    return F.transform(
        F.col(vec_col).cast("array<double>"),
        lambda x: F.floor(x * F.lit(float(scale))).cast("long"),
    )


def _nearest_cid(v_col, centroids: list[list[int]]):
    """Column: id of the nearest centroid literal (ties to lowest cid).
    Shared by assign() and ivf_cell_assign; handles the 1-centroid
    codebook F.least cannot (it needs >= 2 args)."""
    if len(centroids) == 1:
        return F.lit(0).cast("long")
    best = F.least(
        *[
            F.struct(
                _sqdist(v_col, c).alias("d"),
                F.lit(cid).cast("long").alias("cid"),
            )
            for cid, c in enumerate(centroids)
        ]
    )
    return best.getField("cid")


def assign(vectors: DataFrame, centroids: list[list[int]]) -> DataFrame:
    """(vec_id, v, cluster_id): nearest centroid, ties to lowest id.
    Centroids are literals — the assignment is a pure map pass, no
    shuffle, no join."""
    return vectors.select(
        "vec_id", "v", _nearest_cid(F.col("v"), centroids).alias("cluster_id")
    )


def update(assigned: DataFrame, old: list[list[int]]) -> list[list[int]]:
    """Floored-mean centroids. One aggregation whose key space is
    k x dims (bounded), collected to the driver (k x dims ints — the
    same corpus-size-independent collect contract as IVF codebooks).
    A cluster that lost all members keeps its previous centroid."""
    stats = (
        assigned.select("cluster_id", F.posexplode("v").alias("dim", "val"))
        .groupBy("cluster_id", "dim")
        .agg(F.sum("val").alias("s"), F.count("*").alias("n"))
        .collect()
    )
    new = [list(c) for c in old]
    for r in stats:
        new[r.cluster_id][r.dim] = r.s // r.n  # floor div: s, n exact ints
    return new


def kmeans_fit(
    vectors: DataFrame, k: int = 4, iters: int = 2
) -> tuple[DataFrame, list[list[int]]]:
    """Run ``iters`` Lloyd iterations over a quantized (vec_id, v)
    relation; return (last assignment, final centroids). The last
    assignment is the one that PRODUCED the final centroids (classic
    Lloyd reporting)."""
    init = vectors.orderBy("vec_id").limit(k).collect()
    centroids = [list(r.v) for r in sorted(init, key=lambda r: r.vec_id)]
    assigned = None
    for _ in range(iters):
        assigned = assign(vectors, centroids)
        centroids = update(assigned, centroids)
    return assigned, centroids


def kmeans_fixed_point(
    emb: DataFrame, k: int = 4, iters: int = 2, scale: int = 1000
) -> DataFrame:
    """Run ``iters`` Lloyd iterations; return per-cluster summary
    (cluster_id, n_members, sum_vec_id, centroid_dim0) — all BIGINT,
    hash-comparable against a SQL transcription of the same steps."""
    # 3 passes read this relation; at fixture scale Spark recomputes it
    # for free, at 100 TB the caller persists the quantized table once.
    vectors = quantize_vectors(emb, scale=scale)
    assigned, centroids = kmeans_fit(vectors, k=k, iters=iters)
    return (
        assigned.groupBy("cluster_id")
        .agg(
            F.count("*").cast("long").alias("n_members"),
            F.sum("vec_id").cast("long").alias("sum_vec_id"),
        )
        .withColumn(
            "centroid_dim0",
            F.element_at(
                F.array(*[F.lit(int(c[0])) for c in centroids]).cast("array<long>"),
                F.col("cluster_id").cast("int") + 1,
            ),
        )
        .select("cluster_id", "n_members", "sum_vec_id", "centroid_dim0")
    )


def ivf_cell_assign(
    emb: DataFrame,
    k: int = 4,
    iters: int = 2,
    scale: int = 1000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: list[list[int]] | None = None,
) -> DataFrame:
    """``emb`` plus a ``cell`` column: the deterministic fixed-point
    IVF cell id (nearest final centroid of `kmeans_fit` on the integer
    grid, ties to lowest centroid id). This is THE scale-true blocking
    key for pairwise embedding work (near-dup, kNN graph): unlike a
    raw metadata label — whose cardinality is small and fixed, so
    blocks grow linearly with the corpus — k grows with the corpus and
    bounds per-cell size by construction.

    One training run (k x dims driver-held ints, corpus-size
    independent), then the assignment is a pure literal-broadcast map
    pass over ``emb`` — no join, no shuffle, and fully replayable in
    SQL (same trajectory as ivf_fixed_search's a3 CTE). Pass
    ``centroids`` to skip training entirely — the production shape: a
    persisted codebook is trained once and every downstream query
    assigns against it for free (same contract as ivf_fixed_search)."""
    if centroids is not None:
        cents = centroids
    else:
        vectors = quantize_vectors(
            emb, id_col=id_col, vec_col=vec_col, scale=scale
        )
        _, cents = kmeans_fit(vectors, k=k, iters=iters)
    return emb.withColumn(
        "cell", _nearest_cid(_grid_vector(vec_col, scale), cents)
    )


def ivf_fixed_search(
    emb: DataFrame,
    k: int = 4,
    iters: int = 2,
    probes: int = 2,
    n_queries: int = 3,
    top_k: int = 5,
    scale: int = 1000,
    centroids: list[list[int]] | None = None,
) -> DataFrame:
    """IVF search with a FULLY deterministic trajectory — the oracled
    complement to `similarity.ivf_topk` (whose sampled float-KMeans
    codebooks are rows-only by design): coarse centroids come from
    `kmeans_fit` on the integer grid, the corpus is assigned to the
    FINAL centroids in one literal-broadcast map pass, each query
    probes its ``probes`` nearest cells, and candidates are ranked by
    exact integer distance (ties to vec_id). Every step is integer
    arithmetic, so a SQL engine replays the identical search.

    Scale anatomy (same as ivf_topk): centroids are k x dims driver
    ints; assignment/probing are map passes; the probe join keys on
    cluster_id, so each query touches ~probes/k of the corpus."""
    vectors = quantize_vectors(emb, scale=scale)
    # pass precomputed centroids to share ONE training run across
    # sibling searches (e.g. probed vs probe-all in the quality report)
    cents = (
        centroids
        if centroids is not None
        else kmeans_fit(vectors, k=k, iters=iters)[1]
    )
    indexed = assign(vectors, cents).select(
        "cluster_id", F.col("vec_id"), F.col("v")
    )
    cells = F.array_sort(
        F.array(
            *[
                F.struct(
                    _sqdist(F.col("v"), c).alias("d"),
                    F.lit(cid).cast("long").alias("cid"),
                )
                for cid, c in enumerate(cents)
            ]
        )
    )
    probed = (
        vectors.where(F.col("vec_id") < n_queries)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("v").alias("qv"),
            F.explode(F.slice(cells, 1, probes).getField("cid")).alias(
                "cluster_id"
            ),
        )
    )
    dist = F.aggregate(
        F.zip_with(F.col("qv"), F.col("v"), lambda a, b: (a - b) * (a - b)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    scored = (
        probed.join(indexed, "cluster_id")
        .where(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id", dist.alias("dist"))
    )
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy("dist", "vec_id")
    return scored.withColumn("rk", F.row_number().over(w).cast("long")).where(
        F.col("rk") <= top_k
    )


def pq_fixed_adc_topk(
    emb: DataFrame,
    n_sub: int = 4,
    k: int = 4,
    iters: int = 1,
    n_queries: int = 3,
    top_k: int = 5,
    scale: int = 1000,
    dims: int = 64,
) -> DataFrame:
    """Product quantization with a FULLY hash-oracled trajectory — the
    deterministic complement to `similarity.pq_index`/`pq_adc_topk`
    (whose sampled float codebooks are rows-only by design): split the
    integer-grid vector into ``n_sub`` subspaces, train a fixed-point
    k-means codebook per subspace, encode every vector as its nearest
    per-subspace centroid ids (one literal-broadcast map pass), and
    search by Asymmetric Distance Computation — the query's exact
    integer distance to each candidate's RECONSTRUCTED subspace
    centroids, summed. Every step is integer arithmetic; SQL replays
    the identical train-encode-search pipeline.

    Scale anatomy (same as the production PQ): codebooks are
    n_sub * k * (dims/n_sub) driver ints; encoding is map-side; ADC is
    one broadcast-queries scan over the (vec_id, codes) table, which is
    dims/(n_sub*8)x smaller than the raw vectors — the whole point of
    PQ at 100 TB."""
    sub_dims = dims // n_sub
    vectors = quantize_vectors(emb, scale=scale)

    def sl(col, s: int):
        return F.slice(col, s * sub_dims + 1, sub_dims)

    # Train ALL subspace codebooks in one pass per Lloyd iteration:
    # serial per-subspace kmeans_fit costs n_sub x the fixed job
    # overhead for identical math. One init collect, then per round a
    # single (subspace, cluster, dim)-keyed aggregation (bounded key
    # space n_sub * k * sub_dims) updates every codebook at once.
    init = vectors.orderBy("vec_id").limit(k).collect()
    init_rows = sorted(init, key=lambda r: r.vec_id)
    cents: list[list[list[int]]] = [
        [list(r.v)[s * sub_dims : (s + 1) * sub_dims] for r in init_rows]
        for s in range(n_sub)
    ]
    for _ in range(iters):
        per_sub = [
            vectors.select(
                F.lit(s).alias("sub"),
                sl(F.col("v"), s).alias("sv"),
                _nearest_cid(sl(F.col("v"), s), cents[s]).alias("cluster_id"),
            )
            for s in range(n_sub)
        ]
        stacked = per_sub[0]
        for p in per_sub[1:]:
            stacked = stacked.unionByName(p)
        stats = (
            stacked.select("sub", "cluster_id", F.posexplode("sv").alias("dim", "val"))
            .groupBy("sub", "cluster_id", "dim")
            .agg(F.sum("val").alias("s"), F.count("*").alias("n"))
            .collect()
        )
        new_cents = [[list(c) for c in cs] for cs in cents]
        for r in stats:
            new_cents[r.sub][r.cluster_id][r.dim] = r.s // r.n
        cents = new_cents
    code_cols = []
    for s in range(n_sub):
        code_cols.append(
            _nearest_cid(sl(F.col("v"), s), cents[s]).alias(f"code_{s}")
        )
    codes = vectors.select("vec_id", *code_cols)
    queries = vectors.where(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    adc = None
    for s in range(n_sub):
        dists = F.array(
            *[_sqdist(sl(F.col("qv"), s), c) for c in cents[s]]
        )
        term = F.element_at(dists, F.col(f"code_{s}").cast("int") + 1)
        adc = term if adc is None else adc + term
    scored = (
        codes.crossJoin(F.broadcast(queries))
        .where(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id", adc.cast("long").alias("adc_dist"))
    )
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy("adc_dist", "vec_id")
    return scored.withColumn("rk", F.row_number().over(w).cast("long")).where(
        F.col("rk") <= top_k
    )


def hot_cell_detection_plans(base: DataFrame, k: int) -> tuple[DataFrame, DataFrame]:
    """The hot-cell guard's two detection relations, built WITHOUT any
    window over the raw rows of a cell. A hot cell is, by definition, a
    corpus-fraction partition — ``Window.partitionBy("cell")`` over its
    raw rows would buffer+sort that fraction inside ONE task, the exact
    single-task hazard the guard exists to remove (and the class the
    repo-wide ordered-window gate polices elsewhere).

    - populations: a plain ``groupBy(cell).count()`` — partial
      map-side aggregation, no row buffering, output one row per cell.
    - seeds: the k lowest vec_ids per cell via the ``kmv_bottom_k``
      two-phase discipline (operators/sketches.py:284): phase 1 ranks
      within (cell, spark-partition-id) and keeps <= k rows per pair —
      each task sorts only its own slice of the cell — phase 2 re-ranks
      the <= k * n_partitions survivors per cell. Min-k of
      per-partition min-k's equals the global min-k under any row
      placement, so the partition-id intermediate is invisible in the
      result, and the only Window partitioned by bare ``cell`` runs on
      the bounded survivor relation.

    Exposed as a module-level helper so the plan pin
    (tests/test_plans.py::test_hot_cell_guard_two_phase_detection) can
    explain exactly what the guard executes. Returns the UNexecuted
    (counts, seeds) DataFrames; seeds carries ``_rk`` in 1..k.
    """
    from pyspark.sql import Window

    counts = base.groupBy("cell").agg(F.count("*").alias("_n"))
    w1 = Window.partitionBy("cell", "_pid").orderBy("vec_id")
    w2 = Window.partitionBy("cell").orderBy("vec_id")
    seeds = (
        base.withColumn("_pid", F.spark_partition_id())
        .withColumn("_rn", F.row_number().over(w1))
        .where(F.col("_rn") <= k)
        .select("cell", "vec_id", "v")
        .withColumn("_rk", F.row_number().over(w2))
        .where(F.col("_rk") <= k)
    )
    return counts, seeds


def capped_cells_lake(
    emb: DataFrame,
    lake_dir: str,
    k: int = 4,
    iters: int = 2,
    scale: int = 1000,
    cap: int | None = None,
    cap_frac: float | None = None,
    max_levels: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """PERSISTED capped-cell assignment (VERDICT r8 #4): the guard
    trajectory (hot-cell census + two-phase seed rank + joint Lloyd
    rounds) runs ONCE per corpus snapshot and its (id, cell)
    assignment is written to ``lake_dir``; every later session joins
    the lake instead of re-running the driver-coordinated trajectory.
    Returns ``emb`` with the ``cell`` column joined on — the same
    relation shape ivf_cell_assign_capped returns.

    Publish is crash/concurrency-safe: the assignment is written to an
    ATTEMPT-PRIVATE staging dir (mkdtemp — concurrent builders never
    share a tmp path, so none can delete or clobber another's
    half-written build) and renamed into place; a concurrent builder
    of the same lake loses the rename and adopts the winner's
    assignment (both computed the same deterministic trajectory). A
    builder that crashes mid-write leaves a ``<lake>__build_*`` dir
    the operator never reads — safe to delete any time. A lake_dir
    that exists WITHOUT the _SUCCESS marker (partial or foreign data)
    is refused loudly with the delete-to-rebuild instruction, never
    published over or silently adopted. ``_params.json`` records the
    trajectory parameters and a mismatch on read raises — a lake must
    never silently serve an assignment built under different knobs.
    The corpus behind ``lake_dir`` is assumed immutable (the
    materialized-column contract); regenerating it means deleting the
    lake.

    100 TB shape: the join back is one exchange on the id key (or zero
    with an id-bucketed lake + emb layout); the trajectory cost —
    ~2.5 s of driver-coordinated fixed overhead regardless of corpus
    size — is paid once per snapshot ever, not once per session."""
    import json
    import os
    import shutil

    if (cap is None) == (cap_frac is None):
        raise ValueError("exactly one of cap / cap_frac is required")
    spark = emb.sparkSession
    params = {
        "k": k, "iters": iters, "scale": scale, "cap": cap,
        "cap_frac": cap_frac, "max_levels": max_levels,
        "id_col": id_col, "vec_col": vec_col,
    }
    pfile = os.path.join(lake_dir, "_params.json")
    if not os.path.exists(os.path.join(lake_dir, "_SUCCESS")):
        if os.path.exists(lake_dir):
            # a directory without _SUCCESS is a partial/foreign state we
            # must never publish over (rename would fail forever) nor
            # silently adopt — refuse with the recovery instruction
            raise ValueError(
                f"capped_cells_lake at {lake_dir} exists but has no "
                "_SUCCESS marker (partial or foreign data) — delete the "
                "directory to rebuild"
            )
        cells = ivf_cell_assign_capped(
            emb, k=k, iters=iters, scale=scale, cap=cap, cap_frac=cap_frac,
            max_levels=max_levels, id_col=id_col, vec_col=vec_col,
        )
        # attempt-private staging dir: concurrent builders of the same
        # lake must never share a tmp path (one would rmtree/rename the
        # other's half-written build — the write_idempotent discipline)
        import tempfile

        parent = os.path.dirname(os.path.abspath(lake_dir)) or "."
        os.makedirs(parent, exist_ok=True)
        tmp = tempfile.mkdtemp(
            prefix=os.path.basename(lake_dir.rstrip("/")) + "__build_", dir=parent
        )
        cells.select(id_col, "cell").write.mode("overwrite").parquet(tmp)
        with open(os.path.join(tmp, "_params.json"), "w") as fh:
            json.dump(params, fh)
        try:
            os.rename(tmp, lake_dir)
        except OSError:
            shutil.rmtree(tmp)  # a concurrent builder published first
    with open(pfile) as fh:
        saved = json.load(fh)
    if saved != params:
        raise ValueError(
            f"capped_cells_lake at {lake_dir} was built with {saved}, "
            f"requested {params} — delete the lake to rebuild"
        )
    assign = spark.read.parquet(lake_dir)
    return emb.join(assign, id_col)


def ivf_cell_assign_capped(
    emb: DataFrame,
    k: int = 4,
    iters: int = 2,
    scale: int = 1000,
    cap: int | None = None,
    cap_frac: float | None = None,
    max_levels: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: list[list[int]] | None = None,
) -> DataFrame:
    """`ivf_cell_assign` with a HOT-CELL guard: any cell whose
    population exceeds the cap (absolute ``cap`` rows, or ``cap_frac``
    of the corpus) is deterministically re-clustered with the SAME
    fixed-point k-means (k sub-cells, ``iters`` Lloyd iterations,
    init = the k lowest ids within the cell, floored integer means,
    assignment to the FINAL sub-centroids with ties to the lowest
    sub-id) — so a skewed corpus that concentrates in one cell cannot
    re-create the quadratic pair block that cell-blocking exists to
    prevent. Splitting repeats on still-oversized sub-cells up to
    ``max_levels`` times: ONE level is not always enough, because a
    hot cell's k lowest-id seeds can all sit in a tiny satellite
    cluster inside it, leaving the dense mass in one sub-cell (the
    adversarial pytest fixture exhibits exactly this). Every level is
    the same integer-exact trajectory, so the whole assignment stays
    deterministic and SQL-replayable.

    Output keeps the ``cell`` column (BIGINT); ids are stable and
    collision-free: an unsplit cell keeps its id, and each split cell
    (in sorted-id order within its level) consumes k fresh ids from a
    counter that starts at k. Downstream blocked-pair consumers
    (similarity.embedding_near_dup, knn_graph_within_label) compose
    unchanged via ``block_col=["cell", ...]``.

    Scale shape: the base assignment and every per-level rewrite are
    pure literal-broadcast map passes (zero joins / zero shuffles,
    the ivf_cell_assign contract); hot-cell detection is a
    ``groupBy(cell).count()`` plus a two-phase partition-local seed
    rank (``hot_cell_detection_plans``) — no window ever buffers the
    raw rows of a hot cell in one task; training sub-codebooks is ``iters``
    bounded aggregations per level over ONLY the hot subset, with
    driver collects bounded by (#hot-cells x k x dims) ints —
    corpus-size independent, the IVF codebook contract. All hot cells
    of a level train in one joint pass (keyed by cell), not a
    per-cell loop. A degenerate cell of identical vectors can never
    split; ``max_levels`` bounds the retries."""
    if (cap is None) == (cap_frac is None):
        raise ValueError("exactly one of cap / cap_frac is required")
    cur = ivf_cell_assign(
        emb, k=k, iters=iters, scale=scale, id_col=id_col,
        vec_col=vec_col, centroids=centroids,
    )
    v_col = _grid_vector(vec_col, scale)
    limit: float | None = None
    # Fresh split ids start ABOVE every live base id: with an explicit
    # codebook larger than k, base cells run 0..len(centroids)-1 and
    # starting at k would hand a split the id of an untouched base cell
    # — two unrelated blocks silently merged and the cap voided.
    next_id = max(k, len(centroids) if centroids is not None else k)
    for _level in range(max_levels):
        base = cur.select("cell", F.col(id_col).alias("vec_id"), v_col.alias("v"))
        # Round 10 (guide §7.3 job floor): ONE probe action per level
        # instead of two. The level previously ran counts.collect(),
        # decided the hot set, then ran seeds.collect() on the hot
        # subset — two driver round-trips whose latency, not data,
        # dominates at any scale (the relations are cell-bounded). The
        # k-lowest-id seeds of a cell depend only on that cell's own
        # rows (hot_cell_detection_plans' placement-independence
        # contract), so computing seeds for EVERY cell alongside the
        # counts and filtering to the hot set driver-side yields the
        # exact same books; both relations ride one tagged union and
        # one collect. Work is unchanged (both passes scanned base
        # anyway); only a driver barrier disappears — measured 15 -> 12
        # jobs, ~0.9 s/construction at sf0.1 (OPTIMIZATION_r10.md).
        counts_df, seeds_df = hot_cell_detection_plans(base, k)
        # The NULL padding takes each column's real type: the caller's
        # id_col may be any orderable type, not only BIGINT.
        seed_types = dict(seeds_df.dtypes)
        probe = counts_df.select(
            "cell",
            "_n",
            *[F.lit(None).cast(seed_types[c]).alias(c) for c in ("vec_id", "v", "_rk")],
        ).unionByName(
            seeds_df.select(
                "cell",
                F.lit(None).cast(dict(counts_df.dtypes)["_n"]).alias("_n"),
                "vec_id",
                "v",
                "_rk",
            )
        )
        rows = probe.collect()
        counts = {int(r.cell): r._n for r in rows if r._n is not None}
        if limit is None:
            limit = cap if cap is not None else cap_frac * sum(counts.values())
        hot = sorted(c for c, n in counts.items() if n > limit)
        if not hot:
            break
        sub = base.where(F.col("cell").isin(hot))
        # Joint init: the k lowest vec_ids PER hot cell (kmeans_fit's
        # seed rule) — filtered driver-side from the probe's seed rows.
        hotset = set(hot)
        seeds = [r for r in rows if r._n is None and int(r.cell) in hotset]
        books: dict[int, list[list[int]]] = {h: [] for h in hot}
        for r in sorted(seeds, key=lambda r: (r.cell, r._rk)):
            books[int(r.cell)].append(list(r.v))

        def _scid(df: DataFrame, bk: dict[int, list[list[int]]]) -> DataFrame:
            # bk passed explicitly each call: the codebook rebinds every
            # iteration, so a definition-time default would freeze the
            # seeds and silently assign iteration 2 against them.
            return df.withColumn(
                "scid",
                F.coalesce(
                    *[
                        F.when(F.col("cell") == h, _nearest_cid(F.col("v"), bk[h]))
                        for h in hot
                    ]
                ),
            )

        for _ in range(iters):
            # Floored-mean update for ALL hot cells in one aggregation;
            # key space (#hot x k x dims) is bounded, collected like
            # `update` — an empty sub-cluster keeps its previous centroid.
            stats = (
                _scid(sub, books)
                .select("cell", "scid", F.posexplode("v").alias("dim", "val"))
                .groupBy("cell", "scid", "dim")
                .agg(F.sum("val").alias("s"), F.count("*").alias("n"))
                .collect()
            )
            new = {h: [list(c) for c in b] for h, b in books.items()}
            for r in stats:
                new[int(r.cell)][r.scid][r.dim] = r.s // r.n
            books = new

        # Level rewrite in ONE literal map pass — hot rows re-assign to
        # their cell's FINAL sub-centroids inline, cold rows keep ids.
        id_base = {h: next_id + j * k for j, h in enumerate(hot)}
        next_id += k * len(hot)
        newcell = F.coalesce(
            *[
                F.when(
                    F.col("cell") == h,
                    F.lit(id_base[h]) + _nearest_cid(v_col, books[h]),
                )
                for h in hot
            ],
            F.col("cell"),
        )
        cur = cur.withColumn("cell", newcell.cast("long"))
    return cur
