"""Advanced streaming shapes: stream-static dimension joins, streaming
deduplication, and checkpointed exactly-once recovery across restarts."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from goeventstream_spark.sources import load_table
from goeventstream_spark.streaming import read_event_stream
from goeventstream_spark.streaming.windows import EVENTS_SCHEMA


def _chunks_dir(spark, sf_dir, tmp_path_factory, n_chunks=4):
    out = str(tmp_path_factory.mktemp("adv_src"))
    ev = load_table(spark, sf_dir, "events").orderBy("ts")
    rows = ev.collect()
    chunk = (len(rows) + n_chunks - 1) // n_chunks
    paths = []
    for i in range(n_chunks):
        part = rows[i * chunk : (i + 1) * chunk]
        d = str(tmp_path_factory.mktemp(f"adv_c{i}"))
        spark.createDataFrame(part, ev.schema).coalesce(1).write.mode("overwrite").parquet(d)
        src = next(f for f in os.listdir(d) if f.endswith(".parquet"))
        dest = os.path.join(out, f"{i:04d}.parquet")
        os.rename(os.path.join(d, src), dest)
        os.utime(dest, (1_000_000 + i, 1_000_000 + i))
        paths.append(dest)
    return out, paths


def test_stream_static_dim_join(spark, sf_dir, tmp_path_factory):
    """Stream-static join: each micro-batch hash-joins against the
    static dimension (re-read per batch, broadcast at this size) —
    the standard streaming enrichment shape."""
    src, _ = _chunks_dir(spark, sf_dir, tmp_path_factory)
    stream = read_event_stream(spark, src)
    dim = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    enriched = stream.join(dim, "user_id", "left")
    q = (
        enriched.groupBy("c_mktsegment")
        .agg(F.count("*").alias("n"))
        .writeStream.format("memory")
        .queryName("enrich_out")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = {r.c_mktsegment: r.n for r in spark.sql("SELECT * FROM enrich_out").collect()}
    batch = (
        load_table(spark, sf_dir, "events")
        .join(dim, "user_id", "left")
        .groupBy("c_mktsegment")
        .agg(F.count("*").alias("n"))
        .collect()
    )
    want = {r.c_mktsegment: r.n for r in batch}
    assert got == want


def test_streaming_dedup_within_watermark(spark, sf_dir, tmp_path_factory):
    """Streaming exact dedup: duplicate the source chunks; every event
    id must come out exactly once."""
    src, paths = _chunks_dir(spark, sf_dir, tmp_path_factory)
    # duplicate every chunk file (same rows, later mtime => later batch)
    import shutil

    for i, p in enumerate(list(paths)):
        dup = p.replace(".parquet", "_dup.parquet")
        shutil.copyfile(p, dup)
        os.utime(dup, (2_000_000 + i, 2_000_000 + i))
    stream = read_event_stream(spark, src)
    deduped = stream.withWatermark("ts", "30 days").dropDuplicatesWithinWatermark(["event_id"])
    q = (
        deduped.writeStream.format("memory")
        .queryName("dedup_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    out = spark.sql("SELECT event_id FROM dedup_out").collect()
    n_events = load_table(spark, sf_dir, "events").count()
    assert len(out) == n_events
    assert len({r.event_id for r in out}) == n_events


def test_checkpoint_recovery_exactly_once(spark, sf_dir, tmp_path_factory, tmp_path):
    """Stop-and-restart with a checkpoint: the restarted query resumes
    from the committed offset and never re-emits processed events."""
    src, paths = _chunks_dir(spark, sf_dir, tmp_path_factory, n_chunks=4)
    # phase 1: move the last two chunks OUT of the source dir (a rename
    # within the dir is not enough — the source globs everything not
    # dot/underscore-prefixed)
    stash = str(tmp_path / "stash")
    os.makedirs(stash)
    hidden = []
    for p in paths[2:]:
        os.rename(p, os.path.join(stash, os.path.basename(p)))
        hidden.append(p)
    ckpt = str(tmp_path / "ckpt")
    sink = str(tmp_path / "sink_parquet")

    def run_query():
        stream = read_event_stream(spark, src)
        q = (
            stream.select("event_id", "ts", "user_id")
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)

    run_query()
    n_phase1 = spark.read.parquet(sink).count()
    assert 0 < n_phase1 < load_table(spark, sf_dir, "events").count()
    # phase 2: reveal the rest, restart from the same checkpoint
    for p in hidden:
        os.rename(os.path.join(stash, os.path.basename(p)), p)
    run_query()
    final = spark.read.parquet(sink)
    n_events = load_table(spark, sf_dir, "events").count()
    assert final.count() == n_events  # nothing lost
    assert final.select("event_id").distinct().count() == n_events  # nothing duplicated


def test_rate_source_live_ingest_registry(spark):
    """R1's 'events arrive over a wire' path end-to-end from a LIVE
    non-file source (main.go:48-92): a rate-micro-batch stream feeds
    client_registry; connects appear on first contact and a client
    that stops polling is disconnected when the watermark passes
    last_seen + timeout — no parquet/JSONL anywhere in the pipe."""
    import json
    import time

    from goeventstream_spark.streaming.stateful import client_registry

    # 5 users round-robin; user 4 stops after batch 2. Event time
    # advances 20 s per batch, so with a 10 s timeout user 4's _d
    # fires as soon as the watermark (0 s delay) passes batch2_ts+10s.
    raw = (
        spark.readStream.format("rate-micro-batch")
        .option("rowsPerBatch", 50)
        .option("advanceMillisPerBatch", 20_000)
        .option("startTimestamp", 1_000_000)
        .option("numPartitions", 2)
        .load()
    )
    events = (
        raw.select(
            (F.col("value") % 5).alias("user_id"),
            F.col("timestamp").alias("ts"),
            F.to_json(F.struct(F.col("value"))).alias("props"),
        )
        .where(~((F.col("user_id") == 4) & (F.col("value") >= 150)))
    )
    out = client_registry(events)
    q = (
        out.writeStream.format("memory")
        .queryName("rate_reg_out")
        .outputMode("append")
        .trigger(processingTime="200 milliseconds")
        .start()
    )
    try:
        deadline = time.time() + 240
        rows = []
        while time.time() < deadline:
            rows = spark.sql("SELECT * FROM rate_reg_out").collect()
            if any(r.marker == "_d" and r.user_id == 4 for r in rows):
                break
            time.sleep(1)
    finally:
        q.stop()
    connects = {r.user_id for r in rows if r.marker == "_c"}
    assert connects == {0, 1, 2, 3, 4}, f"missing connects: {connects}"
    d_rows = [r for r in rows if r.marker == "_d" and r.user_id == 4]
    assert d_rows, "user 4 never disconnected after going silent"
    # _d is stamped at last_seen + timeout, batch 2 ts = start + 2*20s
    assert d_rows[0].event_ms == 1_000_000 + 40_000 + 10_000
    # LWW state rows carry the latest props per user
    states = [r for r in rows if r.marker == "state" and r.user_id == 0]
    assert states and all(json.loads(r.data)["value"] % 5 == 0 for r in states)


def test_foreach_batch_transactional_partitioned_sink(spark, sf_dir, tmp_path_factory, tmp_path):
    """The foreachBatch production sink pattern: each micro-batch
    writes to a (event_date, batch_id)-partitioned parquet lake under
    dynamic partition overwrite, so a batch replayed after a crash
    overwrites exactly its own partitions instead of duplicating — the
    lake-side half of exactly-once. batch_id MUST be part of the
    partition key: partitioning by date alone lets a later batch that
    straddles a date boundary clobber an earlier batch's rows for that
    date (this test caught exactly that). The final lake must equal
    the full input, and date filters must prune the lake layout."""
    src_dir, _ = _chunks_dir(spark, sf_dir, tmp_path_factory)
    lake = str(tmp_path / "lake")
    stream = read_event_stream(spark, src_dir)

    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", None)
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        def sink(batch_df, batch_id):
            (
                batch_df.withColumn("event_date", F.to_date("ts"))
                .withColumn("batch_id", F.lit(batch_id))
                .write.mode("overwrite")
                .partitionBy("event_date", "batch_id")
                .parquet(lake)
            )

        q = (
            stream.writeStream.foreachBatch(sink)
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
    finally:
        if prev is None:
            spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
        else:
            spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)

    got = spark.read.parquet(lake)
    want = load_table(spark, sf_dir, "events")
    assert got.count() == want.count()
    g = got.groupBy("event_date").count().collect()
    w = (
        want.withColumn("event_date", F.to_date("ts"))
        .groupBy("event_date")
        .count()
        .collect()
    )
    assert sorted((str(r.event_date), r["count"]) for r in g) == sorted(
        (str(r.event_date), r["count"]) for r in w
    )
    # partition pruning works against the lake layout
    one_day = g[0].event_date
    pruned = spark.read.parquet(lake).where(F.col("event_date") == F.lit(one_day))
    assert pruned.count() == next(r["count"] for r in g if r.event_date == one_day)


def test_protocol_source_live_ingest_registry(spark):
    """The full R1 wire path on the CUSTOM Python Data Source: the
    protocol_events stream feeds client_registry directly — connects on
    first contact, LWW state updates per poll, and a _d for the client
    that goes silent once the watermark passes last_seen + timeout.
    Complements the rate-source variant: here the source itself speaks
    the protocol's tick clock (50 ms/tick, md5-deterministic payloads)."""
    import time

    from goeventstream_spark.sources import protocol_source
    from goeventstream_spark.streaming.stateful import client_registry

    protocol_source.register(spark)
    # 3 clients; client 2 goes silent at tick 40 (t=2s). timeout 2s ->
    # its _d stamps at tick-40-ts + 2s once the watermark (driven by
    # still-polling clients) passes that point. 40 ticks/batch = 2s of
    # event time per micro-batch.
    raw = (
        spark.readStream.format("protocol_events")
        .option("n_clients", 3)
        .option("ticks_per_batch", 40)
        .option("numPartitions", 2)
        .option("silent_client", 2)
        .option("silent_after", 40)
        .load()
    )
    events = raw.select(
        "user_id", "ts", F.to_json(F.struct("event_type", "value")).alias("props")
    )
    out = client_registry(events, timeout_ms=2_000)
    q = (
        out.writeStream.format("memory")
        .queryName("proto_reg_out")
        .outputMode("append")
        .trigger(processingTime="200 milliseconds")
        .start()
    )
    try:
        deadline = time.time() + 240
        rows = []
        while time.time() < deadline:
            rows = spark.sql("SELECT * FROM proto_reg_out").collect()
            if any(r.marker == "_d" and r.user_id == 2 for r in rows):
                break
            time.sleep(1)
    finally:
        q.stop()
    connects = {r.user_id for r in rows if r.marker == "_c"}
    assert connects == {0, 1, 2}, f"missing connects: {connects}"
    d_rows = [r for r in rows if r.marker == "_d" and r.user_id == 2]
    assert d_rows, "silent client never swept"
    # last poll at tick 39 -> _d = base + 39*50ms + 2000ms
    assert d_rows[0].event_ms == protocol_source.BASE_MS + 39 * 50 + 2_000


def test_game_server_on_live_source_equals_batch_replay(spark):
    """Capstone wire-path parity: the FULL streaming server
    (stateful.game_server) fed by the custom protocol_events live
    source produces GameResponse envelopes identical to the batch
    replay (protocol_replay.game_response) over the SAME deterministic
    event stream read in batch — tick clock, proxy ids, deliveries,
    and LWW state deltas, across micro-batch boundaries."""
    import time

    from goeventstream_spark.operators import protocol_replay as pr
    from goeventstream_spark.sources import protocol_source
    from goeventstream_spark.streaming import game_server

    protocol_source.register(spark)
    opts = {"n_clients": 4, "numPartitions": 2}

    def to_polls(df):
        return df.select(
            (F.col("user_id") % 2).cast("string").alias("game"),
            F.col("event_id").alias("sync_id"),
            "user_id",
            F.unix_millis("ts").alias("poll_ms"),
            F.to_json(
                F.array(F.array(F.col("event_type"), F.col("value").cast("string")))
            ).alias("posted_json"),
            F.col("value").cast("string").alias("state_json"),
        )

    raw = (
        spark.readStream.format("protocol_events")
        .options(ticks_per_batch=15, **opts)
        .load()
    )
    q = (
        game_server(to_polls(raw))
        .writeStream.format("memory")
        .queryName("live_server_out")
        .outputMode("append")
        .trigger(processingTime="200 milliseconds")
        .start()
    )
    try:
        deadline = time.time() + 120
        while time.time() < deadline:
            n = spark.sql("SELECT count(*) c FROM live_server_out").collect()[0].c
            if n >= 4 * 30:  # at least two micro-batches of ticks
                break
            time.sleep(0.5)
    finally:
        q.stop()
    got = {
        r.sync_id: (r.t, r.proxy_id, r.response)
        for r in spark.sql("SELECT * FROM live_server_out").collect()
    }
    assert got, "streaming server produced nothing"
    # the stream consumed whole tick batches; mirror that exact range
    n_ticks = max(sid // 1_000_000 for sid in got) + 1
    batch = (
        spark.read.format("protocol_events")
        .options(ticks=n_ticks, **opts)
        .load()
    )
    syncs = batch.select(
        F.col("event_id").alias("sync_id"),
        "user_id",
        F.unix_millis("ts").alias("poll_ms"),
        (F.col("user_id") % 2).alias("game_key"),
    )
    posted = batch.select(
        F.col("event_id").alias("sync_id"),
        F.lit(0).cast("long").alias("event_seq"),
        "event_type",
        F.col("value").cast("string").alias("body"),
    )
    states = batch.select(
        F.col("event_id").alias("sync_id"), F.col("value").cast("string").alias("data")
    )
    want = {
        r.sync_id: (r.t, r.proxy_id, r.response)
        for r in pr.game_response(syncs, posted, states, game_col="game_key").collect()
    }
    assert set(got) == set(want)
    mismatches = [
        (sid, got[sid], want[sid]) for sid in sorted(got) if got[sid] != want[sid]
    ]
    assert not mismatches, mismatches[:3]


def test_game_server_checkpoint_recovery_equals_batch(
    spark, sf_dir, tmp_path_factory, tmp_path
):
    """Keyed-state recovery for the FULL server: stop the streaming
    game_server mid-stream, restart it from the checkpoint over the
    remaining input, and the union of both phases' envelopes must
    still equal the one-shot batch replay — the per-game clock,
    proxy counters, and event-log state all restore from the state
    store, not from reprocessing."""
    from goeventstream_spark.operators import protocol_replay as pr
    from goeventstream_spark.streaming import game_server
    from goeventstream_spark.streaming.windows import read_event_stream

    src, paths = _chunks_dir(spark, sf_dir, tmp_path_factory, n_chunks=4)
    stash = str(tmp_path / "stash")
    os.makedirs(stash)
    hidden = []
    for p in paths[2:]:
        os.rename(p, os.path.join(stash, os.path.basename(p)))
        hidden.append(p)
    ckpt = str(tmp_path / "ckpt")
    sink = str(tmp_path / "sink")

    def to_polls(df):
        return df.select(
            (F.col("user_id") % 4).cast("string").alias("game"),
            F.col("event_id").alias("sync_id"),
            "user_id",
            F.unix_millis("ts").alias("poll_ms"),
            F.to_json(
                F.array(F.array(F.col("event_type"), F.col("props")))
            ).alias("posted_json"),
            F.col("props").alias("state_json"),
        )

    def run_phase():
        q = (
            game_server(to_polls(read_event_stream(spark, src)))
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)

    run_phase()
    n_phase1 = spark.read.parquet(sink).count()
    ev = load_table(spark, sf_dir, "events")
    assert 0 < n_phase1 < ev.count()
    for p in hidden:
        os.rename(os.path.join(stash, os.path.basename(p)), p)
    run_phase()

    got = {
        r.sync_id: (r.t, r.proxy_id, r.response)
        for r in spark.read.parquet(sink).collect()
    }
    syncs = ev.select(
        F.col("event_id").alias("sync_id"),
        "user_id",
        F.unix_millis("ts").alias("poll_ms"),
        (F.col("user_id") % 4).alias("game_key"),
    )
    posted = ev.select(
        F.col("event_id").alias("sync_id"),
        F.lit(0).cast("long").alias("event_seq"),
        "event_type",
        F.col("props").alias("body"),
    )
    states = ev.select(F.col("event_id").alias("sync_id"), F.col("props").alias("data"))
    want = {
        r.sync_id: (r.t, r.proxy_id, r.response)
        for r in pr.game_response(syncs, posted, states, game_col="game_key").collect()
    }
    assert set(got) == set(want)
    mismatches = [
        (sid, got[sid], want[sid]) for sid in sorted(got) if got[sid] != want[sid]
    ]
    assert not mismatches, mismatches[:3]


def test_game_server_over_live_http_socket_wire(spark):
    """R1 network fidelity end-to-end: reference-shaped HTTP POSTs
    (``POST /{stream}/{clientPrivateId}/{lastKnownTick}`` + GameRequest
    JSON, main.go:48-92) hit a live bridge, flow through Spark's
    built-in socket source, are URL/JSON-parsed DECLARATIVELY
    (sources/http_bridge.wire_stream), drive the full streaming
    game_server, and the resulting envelopes are byte-equal to the
    batch replay of the same wire traffic."""
    import json
    import time

    from goeventstream_spark.operators import protocol_replay as pr
    from goeventstream_spark.sources.http_bridge import HttpWireBridge, wire_stream
    from goeventstream_spark.streaming import game_server

    bridge = HttpWireBridge().start()
    base = 1_700_000_000_000
    sched = []  # (game, sync_id, user, poll_ms, events, state)

    def post(game, user, now, events=None, state=None):
        sid = bridge.post(
            game, str(user), 0, events=events, state=state, now_ms=base + now
        )
        sched.append((game, sid, user, base + now, events or [], state))

    q = (
        game_server(wire_stream(spark, bridge.host, bridge.tcp_port))
        .writeStream.format("memory")
        .queryName("wire_server_out")
        .outputMode("append")
        .trigger(processingTime="200 milliseconds")
        .start()
    )
    try:
        # joins + posted events + LWW state reports across two games
        post("g0", 7, 0, state={"hp": "100"})
        post("g1", 7, 10)
        post("g0", 8, 60, events=[("move", "n")])
        post("g0", 9, 120)
        post("g1", 8, 130, events=[("fire", "x"), ("move", "s")], state={"hp": "90"})
        for i in range(1, 15):  # steady polling; ticks advance (200 ms = 4 ticks)
            post(
                "g0", 7, i * 200,
                events=[("m", str(i))] if i % 3 == 0 else None,
                state={"hp": str(100 - i)} if i % 4 == 0 else None,
            )
            post("g0", 8, i * 200 + 30)
        post("g0", 9, 15_000)       # >10 s silent: _d sweep + fresh proxy
        post("g1", 7, 70_000, state={"hp": "1"})  # >60 s idle: generation restart
        post("g1", 8, 70_100)

        deadline = time.time() + 120
        while time.time() < deadline:
            n = spark.sql("SELECT count(*) c FROM wire_server_out").collect()[0].c
            if n >= len(sched):
                break
            time.sleep(0.5)
    finally:
        q.stop()
        bridge.stop()

    got = {
        r.sync_id: (r.t, r.proxy_id, r.response)
        for r in spark.sql("SELECT * FROM wire_server_out").collect()
    }
    assert len(got) == len(sched), f"sink has {len(got)}/{len(sched)} envelopes"

    syncs = spark.createDataFrame(
        [(sid, u, ms, g) for g, sid, u, ms, _e, _s in sched],
        "sync_id long, user_id long, poll_ms long, game_key string",
    )
    posted = spark.createDataFrame(
        [
            (sid, seq, et, body)
            for _g, sid, _u, _ms, evs, _s in sched
            for seq, (et, body) in enumerate(evs)
        ],
        "sync_id long, event_seq long, event_type string, body string",
    )
    states = spark.createDataFrame(
        [
            (sid, json.dumps(s, separators=(",", ":")))
            for _g, sid, _u, _ms, _e, s in sched
            if s is not None
        ],
        "sync_id long, data string",
    )
    want = {
        r.sync_id: (r.t, r.proxy_id, r.response)
        for r in pr.game_response(syncs, posted, states, game_col="game_key").collect()
    }
    assert set(got) == set(want)
    mismatches = [
        (sid, got[sid], want[sid]) for sid in sorted(got) if got[sid] != want[sid]
    ]
    assert not mismatches, mismatches[:3]


def test_streaming_incremental_dedup_equals_batch(spark, sf_dir, tmp_path):
    """Continuous-ingest near-dedup: documents arrive in 3 micro-
    batches; each batch dedups against the persisted signature index
    only (no history re-shingle), appends its signatures, and emits
    its pairs. The union over batches must equal the full-corpus
    minhash_near_dedup pair set exactly — each pair once, in the
    partition of its later batch."""
    from goeventstream_spark.operators import dedup as dedup_ops
    from goeventstream_spark.streaming.dedup import streaming_minhash_dedup

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
    q = streaming_minhash_dedup(
        stream,
        index_dir=str(tmp_path / "index"),
        pairs_dir=str(tmp_path / "pairs"),
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    q.awaitTermination(180)

    got_pairs = spark.read.parquet(str(tmp_path / "pairs"))
    got = {(r.doc_a, r.doc_b): r.est_jaccard for r in got_pairs.collect()}
    want = {
        (r.doc_a, r.doc_b): r.est_jaccard
        for r in dedup_ops.minhash_near_dedup(docs).collect()
    }
    assert got == want
    # no pair emitted twice across batch partitions
    assert got_pairs.count() == len(got)
    # the index holds every document's signature exactly once
    index = spark.read.parquet(str(tmp_path / "index"))
    assert index.count() == docs.count()
    assert index.select("doc_id").distinct().count() == docs.count()


def test_streaming_minhash_survives_empty_first_batch(spark, tmp_path):
    """ADVICE r7 (the minhash instance of the empty-first-batch trap):
    a first micro-batch whose docs all have fewer than k=3 words
    shingles to an empty signature relation and writes zero index
    files; the guarded re-read must keep the stream alive and later
    batches must dedup normally."""
    from goeventstream_spark.operators import dedup as dedup_ops
    from goeventstream_spark.streaming.dedup import streaming_minhash_dedup

    near = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    docs = spark.createDataFrame(
        [(1, "solo"), (2, "two words"), (10, near), (11, near + " extra")],
        ["doc_id", "text"],
    )
    src = str(tmp_path / "src")
    docs.where(F.col("doc_id") < 10).coalesce(1).write.mode("append").parquet(src)
    docs.where(F.col("doc_id") >= 10).coalesce(1).write.mode("append").parquet(src)
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = streaming_minhash_dedup(
        stream,
        index_dir=str(tmp_path / "index"),
        pairs_dir=str(tmp_path / "pairs"),
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    q.awaitTermination(180)
    assert q.exception() is None, q.exception()
    got = {
        (r.doc_a, r.doc_b): r.est_jaccard
        for r in spark.read.parquet(str(tmp_path / "pairs")).collect()
    }
    want = {
        (r.doc_a, r.doc_b): r.est_jaccard
        for r in dedup_ops.minhash_near_dedup(docs).collect()
    }
    assert got == want and got


def test_streaming_cms_partial_merge_equals_batch(spark, sf_dir, tmp_path):
    """Sketch accumulation over continuous ingest: per-micro-batch
    partial CMS cells, merged on read, must equal the full-corpus
    batch sketch EXACTLY (counters are associative sums) — the
    never-rebuild contract for a 100 TB stream."""
    from goeventstream_spark.operators import sketches as sk
    from goeventstream_spark.streaming.sketches import streaming_cms_build

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    src = str(tmp_path / "src")
    for i in range(3):
        docs.where(F.col("doc_id") % 3 == i).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    def toks(df):
        return df.select(
            F.explode(F.split("text", " ")).alias("token")
        ).where(F.col("token") != "")

    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = streaming_cms_build(
        toks(stream),
        cells_dir=str(tmp_path / "cells"),
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    q.awaitTermination(180)

    cells = spark.read.parquet(str(tmp_path / "cells"))
    assert cells.select("batch_id").distinct().count() == 3
    merged = {
        (r.row_i, r.bucket): r.cnt for r in sk.cms_merge(cells).collect()
    }
    full = {
        (r.row_i, r.bucket): r.cnt for r in sk.cms_build(toks(docs), "token").collect()
    }
    assert merged == full


def test_streaming_heavy_hitters_superset_and_exact(spark, sf_dir, tmp_path):
    """Continuous-ingest heavy hitters: documents arrive in 3 micro-
    batches; each batch merges exact counts into the persisted
    per-bucket Misra-Gries index (<= k counters per bucket, forever).
    The final candidate set must contain every word with global count
    > n/(k+1), and candidates + exact verify must equal the batch
    heavy_hitters output exactly."""
    from goeventstream_spark.operators import sketches
    from goeventstream_spark.streaming.sketches import (
        read_heavy_hitter_index,
        streaming_heavy_hitter_index,
    )

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
    q = streaming_heavy_hitter_index(
        stream,
        index_dir=str(tmp_path / "hh_index"),
        checkpoint_dir=str(tmp_path / "hh_ckpt"),
        k=64,
        n_buckets=32,
    )
    q.awaitTermination(180)

    words = docs.select(F.explode(F.split("text", " ")).alias("word"))
    n = words.count()
    true_counts = {
        r.word: r.cnt
        for r in words.groupBy("word").agg(F.count("*").alias("cnt")).collect()
    }
    cand = {
        r.word
        for r in read_heavy_hitter_index(spark, str(tmp_path / "hh_index")).collect()
    }
    must_have = {w for w, c in true_counts.items() if c * 65 > n}
    assert must_have <= cand, sorted(must_have - cand)[:5]

    # replay idempotency: re-running the whole stream from a FRESH
    # checkpoint over the SAME index dir (every batch id replayed on
    # top of existing versions) must reproduce the identical summary —
    # each batch reads only committed versions < its own id, never its
    # own stale output, so no count is merged twice.
    first = {
        (r.bucket, r.word, r.mg_count)
        for r in read_heavy_hitter_index(spark, str(tmp_path / "hh_index")).collect()
    }
    q2 = streaming_heavy_hitter_index(
        stream,
        index_dir=str(tmp_path / "hh_index"),
        checkpoint_dir=str(tmp_path / "hh_ckpt2"),
        k=64,
        n_buckets=32,
    )
    q2.awaitTermination(180)
    replayed = {
        (r.bucket, r.word, r.mg_count)
        for r in read_heavy_hitter_index(spark, str(tmp_path / "hh_index")).collect()
    }
    assert replayed == first

    # candidates + exact verify == the batch operator's output
    want = {
        (r.word, r.cnt, r.n_total)
        for r in sketches.heavy_hitters(words, "word", k=64, denom=32).collect()
    }
    got = {
        (w, c, n) for w, c in true_counts.items() if w in cand and c * 32 > n
    }
    assert got == want


def test_streaming_dsir_distribution_equals_batch(spark, sf_dir, tmp_path):
    """The accumulated (bucket, tc, rc) lake, merged, must equal the
    batch DSIR distribution exactly — both counters are associative
    sums, so continuous ingest never re-scans history."""
    from goeventstream_spark.streaming.sketches import (
        streaming_dsir_distribution,
        word_bucket,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang", "text")
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
    q = streaming_dsir_distribution(
        stream,
        cells_dir=str(tmp_path / "cells"),
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    q.awaitTermination(180)

    merged = (
        spark.read.parquet(str(tmp_path / "cells"))
        .groupBy("bucket")
        .agg(F.sum("tc").alias("tc"), F.sum("rc").alias("rc"))
    )
    got = {(r.bucket, r.tc, r.rc) for r in merged.collect()}
    words = docs.select(
        (F.col("lang") == "en").cast("int").alias("is_target"),
        F.explode(F.split("text", " ")).alias("word"),
    )
    want = {
        (r.bucket, r.tc, r.rc)
        for r in words.select(
            "is_target", word_bucket(F.col("word"), 64).alias("bucket")
        )
        .groupBy("bucket")
        .agg(
            F.sum("is_target").cast("long").alias("tc"),
            F.count("*").cast("long").alias("rc"),
        )
        .collect()
    }
    assert got == want


def test_reference_client_receives_inline_game_responses(spark):
    """Inline wire fidelity (main.go:84-91): a scripted client written
    against the REFERENCE contract — POST a GameRequest, read the
    GameResponse envelope off the same HTTP exchange, repeat — polls
    the engine unmodified. Every inline body must be byte-equal to the
    batch protocol replay of the same traffic; no request may fall
    back to the 202 ACK path."""
    import json

    from goeventstream_spark.operators import protocol_replay as pr
    from goeventstream_spark.sources.http_bridge import (
        HttpWireBridge,
        serve_inline,
    )

    bridge = HttpWireBridge(inline_timeout_s=60).start()
    q = serve_inline(spark, bridge, trigger_ms=200)
    base = 1_800_000_000_000
    sched = []  # (game, sync_id, user, poll_ms, events, state)
    inline = {}  # sync_id -> (status, body)
    sid = 0

    def poll(game, user, now, events=None, state=None):
        nonlocal sid
        sid += 1  # bridge assigns 1..n in arrival order; polls are serial
        status, body = bridge.post_sync(
            game, str(user), 0, events=events, state=state, now_ms=base + now
        )
        sched.append((game, sid, user, base + now, events or [], state))
        inline[sid] = (status, body)

    try:
        poll("g0", 7, 0, state={"hp": "100"})
        poll("g1", 7, 10)
        poll("g0", 8, 60, events=[("move", "n")])
        poll("g0", 9, 120)
        poll("g1", 8, 130, events=[("fire", "x")], state={"hp": "90"})
        for i in range(1, 8):
            poll("g0", 7, i * 200, events=[("m", str(i))] if i % 3 == 0 else None)
            poll("g0", 8, i * 200 + 30, state={"hp": str(90 - i)} if i % 4 == 0 else None)
        poll("g0", 9, 15_000)  # >10 s silent: _d sweep + fresh proxy
        poll("g1", 7, 70_000)  # >60 s idle: generation restart
    finally:
        q.stop()
        bridge.stop()

    assert all(status == 200 for status, _ in inline.values()), {
        s: st for s, (st, _) in inline.items() if st != 200
    }

    syncs = spark.createDataFrame(
        [(s, u, ms, g) for g, s, u, ms, _e, _st in sched],
        "sync_id long, user_id long, poll_ms long, game_key string",
    )
    posted = spark.createDataFrame(
        [
            (s, seq, et, body)
            for _g, s, _u, _ms, evs, _st in sched
            for seq, (et, body) in enumerate(evs)
        ],
        "sync_id long, event_seq long, event_type string, body string",
    )
    states = spark.createDataFrame(
        [
            (s, json.dumps(st, separators=(",", ":")))
            for _g, s, _u, _ms, _e, st in sched
            if st is not None
        ],
        "sync_id long, data string",
    )
    want = {
        r.sync_id: r.response
        for r in pr.game_response(syncs, posted, states, game_col="game_key").collect()
    }
    mismatches = [
        (s, inline[s][1], want[s])
        for s in sorted(want)
        if inline[s][1] != want[s]
    ]
    assert not mismatches, mismatches[:3]


def test_game_server_state_scale_10000_games_rocksdb(spark):
    """Streaming state-scale proof: 10 000 games x 2 users x 2
    generations (a 60 s idle gap forces the GC/restart path in every
    game) under the RocksDB state store provider. Asserts (a) the
    session really runs RocksDB, (b) per-key state stays bounded — the
    state operator holds exactly one row per game, NOT per poll or per
    generation, (c) the RocksDB store's OWN memory/SST metrics stay
    bounded per game (row counts alone can hide blob bloat), and
    (d) all 60 000 envelopes are byte-equal to the batch protocol
    replay."""
    import json

    from goeventstream_spark.operators import protocol_replay as pr

    assert "RocksDBStateStoreProvider" in spark.conf.get(
        "spark.sql.streaming.stateStore.providerClass"
    )

    from goeventstream_spark.streaming import game_server

    n_games = 10_000
    base = 1_900_000_000_000
    rounds = [  # (file_idx, [(user, offset_ms, events, state), ...])
        (0, [(1, 0, None, {"hp": "100"}), (2, 50, None, None)]),
        (1, [(1, 300, [("m", "1")], None), (2, 350, None, None)]),
        # >60 s idle: every game GCs and restarts its generation
        (2, [(1, 70_000, None, None), (2, 70_050, None, {"hp": "5"})]),
    ]
    sched = []  # (game, sync_id, user, poll_ms, events, state)
    for f, polls in rounds:
        for g in range(n_games):
            game = f"g{g:04d}"
            for u, off, evs, st in polls:
                sid = f * 10_000_000 + g * 10 + u  # time-ordered per game
                sched.append((game, sid, u, base + off, evs or [], st))

    import tempfile

    with tempfile.TemporaryDirectory() as tmp:
        src = f"{tmp}/polls"
        for f, _ in rounds:
            rows = [
                (
                    g, s, u, ms,
                    json.dumps([[t, b] for t, b in evs]) if evs else None,
                    json.dumps(st, separators=(",", ":")) if st is not None else None,
                )
                for g, s, u, ms, evs, st in sched
                if s // 10_000_000 == f
            ]
            spark.createDataFrame(
                rows,
                "game string, sync_id long, user_id long, poll_ms long,"
                " posted_json string, state_json string",
            ).coalesce(1).write.mode("append").parquet(src)
        # one file per micro-batch, committed in time order
        stream = (
            spark.readStream.schema(
                "game string, sync_id long, user_id long, poll_ms long,"
                " posted_json string, state_json string"
            )
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        q = (
            game_server(stream)
            .writeStream.format("memory")
            .queryName("scale_server_out")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(600)
        progress = q.lastProgress
        assert progress is not None
        op = progress["stateOperators"][0]
        state_rows = op["numRowsTotal"]
        # one state blob per game — not per poll (60000), not per
        # generation (20000): bounded by live-game count forever
        assert state_rows == n_games, state_rows
        # RocksDB's OWN accounting, not just operator row counts: the
        # store must report real usage, and the per-game footprint
        # (SST files + in-memory tables, averaged over games) must stay
        # small — a per-poll or per-generation leak would show up here
        # as KBs/game even if numRowsTotal lied
        cm = op["customMetrics"]
        sst = cm["rocksdbSstFileSize"]
        mem = op["memoryUsedBytes"] + cm["rocksdbPinnedBlocksMemoryUsage"]
        assert sst > 0, cm
        assert (sst + mem) / n_games < 4096, (sst, mem)

    got = {
        r.sync_id: r.response
        for r in spark.sql("SELECT * FROM scale_server_out").collect()
    }
    assert len(got) == len(sched)

    syncs = spark.createDataFrame(
        [(s, u, ms, g) for g, s, u, ms, _e, _st in sched],
        "sync_id long, user_id long, poll_ms long, game_key string",
    )
    posted = spark.createDataFrame(
        [
            (s, seq, et, body)
            for _g, s, _u, _ms, evs, _st in sched
            for seq, (et, body) in enumerate(evs)
        ] or [(None, None, None, None)],
        "sync_id long, event_seq long, event_type string, body string",
    ).where("sync_id IS NOT NULL")
    states = spark.createDataFrame(
        [
            (s, json.dumps(st, separators=(",", ":")))
            for _g, s, _u, _ms, _e, st in sched
            if st is not None
        ],
        "sync_id long, data string",
    )
    want = {
        r.sync_id: r.response
        for r in pr.game_response(syncs, posted, states, game_col="game_key").collect()
    }
    mismatches = [(s, got[s], want[s]) for s in sorted(want) if got[s] != want[s]]
    assert not mismatches, mismatches[:3]
    spark.catalog.dropTempView("scale_server_out")


_SERVE_RESTART_SCRIPT = """
import json, sys
sys.path.insert(0, sys.argv[1])
from goeventstream_spark import get_spark
from goeventstream_spark.operators import protocol_replay as pr
from goeventstream_spark.sources.http_bridge import HttpWireBridge, serve_inline

ckpt = sys.argv[2]
base = 1_800_000_000_000
bridge = HttpWireBridge(inline_timeout_s=60).start()
sched, inline, daemons = [], {}, []


def poll(game, user, now, events=None, state=None):
    sid = len(sched) + 1  # bridge assigns 1..n in arrival order; polls are serial
    inline[sid] = bridge.post_sync(
        game, str(user), 0, events=events, state=state, now_ms=base + now
    )
    sched.append((game, sid, user, base + now, events or [], state))


def run(first, last):
    # A new SparkContext: a new Python daemon, new workers, one stream
    # on the shared checkpoint.
    spark = get_spark(app_name="serve-restart", master="local[2]", shuffle_partitions=2)
    spark.sparkContext.setLogLevel("ERROR")
    daemons.append(spark.sparkContext.parallelize([0], 1).map(lambda _: __import__("os").getppid()).first())
    q = serve_inline(spark, bridge, trigger_ms=200, checkpoint_dir=ckpt)
    try:
        for i in range(first, last):
            poll("g0", 7 + i % 3, i * 200,
                 events=[("m", str(i))] if i % 3 == 0 else None,
                 state={"hp": str(100 - i)} if i % 4 == 0 else None)
            poll("g1", 7, i * 170 + 30, events=[("f", str(i))] if i % 2 else None)
    finally:
        q.stop()
    return spark


run(0, 6).stop()
spark = run(6, 12)
bridge.stop()
syncs = spark.createDataFrame(
    [(s, u, ms, g) for g, s, u, ms, _e, _st in sched],
    "sync_id long, user_id long, poll_ms long, game_key string",
)
posted = spark.createDataFrame(
    [(s, seq, et, body) for _g, s, _u, _ms, evs, _st in sched for seq, (et, body) in enumerate(evs)],
    "sync_id long, event_seq long, event_type string, body string",
)
states = spark.createDataFrame(
    [(s, json.dumps(st, separators=(",", ":"))) for _g, s, _u, _ms, _e, st in sched if st is not None],
    "sync_id long, data string",
)
want = {r.sync_id: r.response for r in pr.game_response(syncs, posted, states, game_col="game_key").collect()}
print(json.dumps({"daemons": daemons, "inline": inline, "want": want}))
spark.stop()
"""


def test_serve_inline_restart_from_checkpoint_is_byte_equal(tmp_path):
    """The reference's determinism invariant across a server restart:
    ``serve_inline`` is stopped after 12 polls and a new one, in a new
    SparkContext (new Python daemon and workers), resumes on the same
    ``checkpoint_dir`` and bridge. Every envelope, before and after the
    restart, must be byte-equal to the batch ``game_response`` replay of
    the whole schedule. Runs in a child process, from a foreign working
    directory with no PYTHONPATH, because it stops its SparkContext."""
    import json
    import subprocess
    import sys

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    out = subprocess.run(
        [sys.executable, "-c", _SERVE_RESTART_SCRIPT, root, str(tmp_path / "ckpt")],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=900,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    res = json.loads(out.stdout.strip().splitlines()[-1])
    assert len(set(res["daemons"])) == 2, res["daemons"]
    inline, want = res["inline"], res["want"]
    assert sorted(inline, key=int) == sorted(want, key=int) and len(want) == 24
    not_ok = {s: st for s, (st, _) in inline.items() if st != 200}
    assert not not_ok, not_ok
    mismatches = [(s, inline[s][1], want[s]) for s in sorted(want, key=int) if inline[s][1] != want[s]]
    assert not mismatches, mismatches[:3]


def test_inline_bridge_falls_back_to_ack_on_timeout():
    """With inline_timeout_s set but no engine attached, a POST must
    degrade to the documented decoupled contract — HTTP 202 with the
    assigned sync_id — instead of hanging or erroring, and the request
    must still be queued for the socket source."""
    from goeventstream_spark.sources.http_bridge import HttpWireBridge

    bridge = HttpWireBridge(inline_timeout_s=0.05).start()
    try:
        status, body = bridge.post_sync("g0", "7", 0, now_ms=1)
        assert status == 202
        import json

        assert json.loads(body) == {"SyncId": 1}
        assert len(bridge._lines) == 1  # queued for the stream regardless
    finally:
        bridge.stop()


def test_inline_bridge_serves_concurrent_clients(spark):
    """R17 over the wire: two clients poll INLINE simultaneously (both
    requests in flight at once, distinct games) and each receives its
    own correct envelope — the per-sync_id delivery must never cross
    wires under the threaded HTTP server."""
    import json
    import threading

    from goeventstream_spark.sources.http_bridge import (
        HttpWireBridge,
        serve_inline,
    )

    bridge = HttpWireBridge(inline_timeout_s=60).start()
    q = serve_inline(spark, bridge, trigger_ms=200)
    base = 2_000_000_000_000
    results = {}

    def client(game, user):
        status, body = bridge.post_sync(game, str(user), 0, now_ms=base)
        results[game] = (status, json.loads(body))

    try:
        threads = [
            threading.Thread(target=client, args=(f"c{i}", 10 + i))
            for i in range(4)
        ]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=90)
    finally:
        q.stop()
        bridge.stop()

    assert set(results) == {"c0", "c1", "c2", "c3"}
    assert all(status == 200 for status, _ in results.values()), results
    # each fresh game allocates proxy "1" from ITS OWN counter and the
    # envelope equals the batch replay of that single poll — if any
    # delivery crossed wires, sync_ids/games would mismatch
    from goeventstream_spark.operators import protocol_replay as pr

    for i in range(4):
        _status, env = results[f"c{i}"]
        syncs = spark.createDataFrame(
            [(1, 10 + i, base, f"c{i}")],
            "sync_id long, user_id long, poll_ms long, game_key string",
        )
        empty = spark.createDataFrame(
            [], "sync_id long, event_seq long, event_type string, body string"
        )
        states = spark.createDataFrame([], "sync_id long, data string")
        want = pr.game_response(syncs, empty, states, game_col="game_key").collect()[0]
        assert env == json.loads(want.response), (i, env, want.response)


def test_bridge_rejects_malformed_gamerequest_like_reference():
    """main.go:66-68 behavior: a body that does not decode into
    GameRequest panics in the reference — the request has NO effect and
    Go's net/http panic recovery closes the connection without writing
    a response (the client sees a connection error, not a status). The
    bridge's chosen HTTP analogue is 500 with an empty body; it must
    answer 500 and must NOT
    enqueue the request; a JSON null body (valid for Go's Decode into a
    struct) and a plain object must still be accepted. OPTIONS answers
    200 with the reference's exact CORS headers (main.go:50-56)."""
    import json
    import urllib.error
    import urllib.request

    from goeventstream_spark.sources.http_bridge import HttpWireBridge

    bridge = HttpWireBridge().start()
    try:
        url = f"http://{bridge.host}:{bridge.http_port}/g0/7/0"

        def raw_post(data: bytes):
            req = urllib.request.Request(url, data=data, method="POST")
            try:
                with urllib.request.urlopen(req, timeout=10) as rsp:
                    return rsp.status, rsp.read()
            except urllib.error.HTTPError as e:
                return e.code, b""

        bad_bodies = (
            b"{not json", b"", b"[1,2]", b'"str"', b"\xff\xfe",
            b'{"Events": 5}',                      # []Event <- number
            b'{"Events": [3]}',                    # Event <- number
            b'{"Events": [{"Type": 5}]}',          # string <- number
            b'{"Events": [{"T": 1.5}]}',           # int64 <- fraction
            b'{"State": [1]}',                     # map <- array
            b'{"State": {"hp": 9}}',               # string <- number
        )
        for bad in bad_bodies:
            status, _ = raw_post(bad)
            assert status == 500, (bad, status)
        assert bridge._lines == [], "rejected requests must not enqueue"

        status, body = raw_post(b"null")
        assert status == 202 and json.loads(body)["SyncId"] == 1
        status, body = raw_post(b"{}")
        assert status == 202 and json.loads(body)["SyncId"] == 2
        # Go's Decode reads the FIRST value; trailing bytes not validated
        status, body = raw_post(b'{"State": {"hp": "9"}} trailing garbage')
        assert status == 202 and json.loads(body)["SyncId"] == 3
        assert len(bridge._lines) == 3

        req = urllib.request.Request(url, method="OPTIONS")
        with urllib.request.urlopen(req, timeout=10) as rsp:
            assert rsp.status == 200
            assert rsp.headers["Access-Control-Allow-Origin"] == "*"
            assert rsp.headers["Access-Control-Allow-Methods"] == "POST, GET, OPTIONS"
            assert rsp.headers["Access-Control-Allow-Headers"] == "Content-Type"
    finally:
        bridge.stop()


def test_streaming_quality_gate_equals_batch(spark, sf_dir, tmp_path):
    """Ingest-time classifier gating: documents arrive in 3 micro-
    batches; each batch is scored and split by the SAME pure
    per-document gates the batch query uses, so the union of kept
    partitions must equal the batch keep set exactly (and kept +
    rejects must partition the corpus)."""
    from goeventstream_spark.streaming.quality import (
        quality_gate_flags,
        streaming_quality_gate,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source", "text")
    # token-less docs (empty / whitespace-only text) must NOT vanish:
    # the gate scores them sw=0 -> kept lake, so kept + rejects still
    # partition the corpus (the fixture alone can't exercise this)
    tokenless = spark.createDataFrame(
        [
            (1_000_001, "synthetic", ""),
            (1_000_002, "synthetic", "   "),
            (1_000_003, "synthetic", None),  # NULL text must not vanish either
        ],
        "doc_id long, source string, text string",
    )
    docs = docs.unionByName(tokenless)
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
    q = streaming_quality_gate(
        stream,
        kept_dir=str(tmp_path / "kept"),
        rejects_dir=str(tmp_path / "rejects"),
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    q.awaitTermination(180)

    kept = spark.read.parquet(str(tmp_path / "kept"))
    rejects = spark.read.parquet(str(tmp_path / "rejects"))
    got_kept = {r.doc_id for r in kept.select("doc_id").collect()}
    want_kept = {
        r.doc_id
        for r in quality_gate_flags(docs)
        .where(F.col("is_quality") | F.col("is_explore"))
        .collect()
    }
    assert got_kept == want_kept and len(got_kept) > 0
    assert {1_000_001, 1_000_002, 1_000_003} <= got_kept  # sw=0 -> kept
    got_rej = {r.doc_id for r in rejects.select("doc_id").collect()}
    assert got_rej.isdisjoint(got_kept)
    assert len(got_rej) + len(got_kept) == docs.count()
    # every doc exactly once across the two lakes
    assert kept.count() == len(got_kept)
    assert rejects.count() == len(got_rej)


def test_inline_bridge_bounded_threads_200_concurrent_pollers():
    """The r5 concurrency hazard, proven fixed: 200 clients poll INLINE
    simultaneously and all park awaiting engine envelopes. Pending
    polls must cost sockets, not threads — the bridge's HTTP pool stays
    at its fixed bound (16 here) with every worker FREE while all 200
    polls are held open (a fresh malformed POST still gets its 500
    immediately), and once the engine delivers, every poller receives
    its own HTTP 200 envelope with ZERO 202 fallbacks."""
    import json
    import threading
    import time
    import urllib.error
    import urllib.request

    from goeventstream_spark.sources.http_bridge import HttpWireBridge

    n_clients, pool = 200, 16
    bridge = HttpWireBridge(inline_timeout_s=120, pool_workers=pool).start()
    results: dict[int, tuple[int, str]] = {}
    try:
        def client(i: int) -> None:
            results[i] = bridge.post_sync(
                "g0", str(i), 0, now_ms=1, timeout=120
            )

        threads = [
            threading.Thread(target=client, args=(i,), daemon=True)
            for i in range(n_clients)
        ]
        for t in threads:
            t.start()
        # all 200 polls parked (held-open sockets, no thread each)
        deadline = time.time() + 60
        while time.time() < deadline:
            with bridge._rsp_cond:
                n_parked = len(bridge._pending)
            if n_parked >= n_clients:
                break
            time.sleep(0.02)
        assert n_parked >= n_clients, n_parked

        # thread budget at peak: the fixed pool, nothing per-poll
        bridge_threads = [
            t for t in threading.enumerate() if t.name.startswith("bridge-http")
        ]
        assert len(bridge_threads) <= pool, [t.name for t in bridge_threads]

        # liveness under full park: workers are idle, so an unrelated
        # malformed POST is answered NOW (the old design would need a
        # 201st thread for this)
        req = urllib.request.Request(
            f"http://{bridge.host}:{bridge.http_port}/g0/x/0",
            data=b"[]", method="POST",
        )
        t0 = time.monotonic()
        try:
            urllib.request.urlopen(req, timeout=10)
            raise AssertionError("malformed body must 500")
        except urllib.error.HTTPError as e:
            assert e.code == 500
        assert time.monotonic() - t0 < 5

        # engine delivers every envelope; all pollers get 200, no ACKs
        for sid in range(1, n_clients + 1):
            bridge.deliver(
                sid,
                json.dumps(
                    {"T": 1, "Events": [], "States": {}, "ProxyId": str(sid)}
                ),
            )
        for t in threads:
            t.join(timeout=120)
        assert not any(t.is_alive() for t in threads)
        statuses = sorted(s for s, _ in results.values())
        assert statuses == [200] * n_clients, statuses[:10]
        proxy_ids = {json.loads(b)["ProxyId"] for _, b in results.values()}
        assert len(proxy_ids) == n_clients  # each poller got ITS envelope
        with bridge._rsp_cond:
            assert not bridge._pending
        with bridge._http.hijack_lock:
            assert not bridge._http.hijacked
    finally:
        bridge.stop()
