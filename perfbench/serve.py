"""Serve-loop workloads: the reference's sync protocol end to end.

Generator threads (one per game, at most ``nproc`` of them) poll an
``HttpWireBridge`` answered inline by ``serve_inline`` in a closed loop:
each thread sends its next ``post_sync`` only after the previous one
returned. A thread rotates among ``CLIENTS`` client ids of its game and
stamps every poll with ``X-Sim-Now-Ms`` from the game's logical clock,
so the whole schedule — and every expected reply — follows from the
seed. After the run the completed schedule is replayed through the batch
``protocol_replay.game_response``, and every 200 body must equal its
replay byte for byte.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import threading
import time
from itertools import islice

from perfbench import datagen, engine
from perfbench.measure import (
    CALM_STEAL,
    cpu_ticks,
    median,
    parse_progress,
    percentile,
    read_event_log,
    stage_totals,
    steal_share,
)

GAMES = 4
CLIENTS = 4
BASE_MS = 1_800_000_000_000
INLINE_TIMEOUT_S = 20.0
POST_TIMEOUT_S = 40.0
TRIGGER_MS = 200
# The timed loop runs ``seconds``, and then on, in steps of a second and up
# to STRETCH times ``seconds``, until MIN_CALM_POLLS polls were calm (see
# ``measure.CALM_STEAL``). The latency is the median over the calm polls
# when there are that many, else over all polls.
STRETCH = 2.0
MIN_CALM_POLLS = 24
# expected.json holds the replayed envelope of the first EXPECTED_POLLS
# polls of every game; a run that gets further replays live instead.
EXPECTED_POLLS = 64
_ALNUM = "abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789"

# name -> traffic shape
WORKLOADS = {
    # <= 1 small event per poll, a state report every 4th poll
    "serve_poll": {"event_p": 0.5, "events": 1, "body": 12, "prefill": 0},
    # every poll posts 128 x 256 B events, after a prefill that takes
    # each game's log past 10^4 events
    "serve_ingest": {"event_p": 1.0, "events": 128, "body": 256,
                     "prefill": 10, "prefill_events": 1024},
}


def n_games() -> int:
    return max(1, min(GAMES, os.cpu_count() or 1))


def game_schedule(seed: int, workload: str, game: int):
    """Endless poll sequence of one game: dicts with client, now_ms,
    events [(type, body)], state (dict or None). The first ``prefill``
    polls are the untimed warm-up of ``serve_ingest``."""
    shape = WORKLOADS[workload]
    rng = random.Random(f"{seed}:{workload}:{game}")
    clock = BASE_MS + 1000 * game
    k = 0
    while True:
        clock += rng.randint(60, 400)
        prefill = k < shape["prefill"]
        n_ev = shape["prefill_events"] if prefill else shape["events"]
        events = []
        if rng.random() < shape["event_p"]:
            events = [
                ("move", "".join(rng.choices(_ALNUM, k=shape["body"])))
                for _ in range(n_ev)
            ]
        state = {"hp": str(rng.randint(0, 999))} if k % 4 == 0 else None
        yield {"client": 1 + k % CLIENTS, "now_ms": clock, "events": events, "state": state}
        k += 1


def schedule_bytes(seed: int, workload: str, polls: int) -> bytes:
    """The first ``polls`` polls of every game, serialized."""
    sched = [list(islice(game_schedule(seed, workload, g), polls)) for g in range(n_games())]
    return json.dumps(sched, sort_keys=True, separators=(",", ":")).encode()


def _start_stream(spark, work: str):
    from goeventstream_spark.sources.http_bridge import HttpWireBridge, serve_inline

    bridge = HttpWireBridge(inline_timeout_s=INLINE_TIMEOUT_S).start()
    query = serve_inline(
        spark, bridge, trigger_ms=TRIGGER_MS,
        checkpoint_dir=os.path.join(work, "checkpoint"),
    )
    return bridge, query


def _post(bridge, game: str, poll: dict, last_known: int):
    return bridge.post_sync(
        game, str(poll["client"]), last_known, events=poll["events"] or None,
        state=poll["state"], now_ms=poll["now_ms"], timeout=POST_TIMEOUT_S,
    )


def _warm_poll(bridge) -> None:
    status, body = bridge.post_sync("warmup", "1", 0, now_ms=BASE_MS, timeout=POST_TIMEOUT_S)
    if status != 200:
        # Typically Python workers that cannot import the package: every
        # poll would wait out the inline timeout. Never time such a run.
        raise SystemExit(f"warm-up poll answered {status}, not 200: {body[:200]}")


class _Client(threading.Thread):
    """One game's closed-loop poller."""

    def __init__(self, bridge, seed, workload, g, tracer, start_evt, deadline_box):
        super().__init__(name=f"client-g{g}", daemon=True)
        self.bridge, self.g, self.tracer = bridge, g, tracer
        self.game = f"g{g}"
        self.sched = game_schedule(seed, workload, g)
        self.prefill = WORKLOADS[workload]["prefill"]
        self.start_evt, self.deadline_box = start_evt, deadline_box
        self.polls: list[dict] = []  # completed schedule, in order
        self.records: list[dict] = []  # timed polls
        self.prefill_bodies: list[str | None] = []  # hashes of untimed polls
        self.error: BaseException | None = None
        self.last_known: dict[int, int] = {}
        self.prefilled = threading.Event()

    def _one(self, timed: bool) -> None:
        poll = next(self.sched)
        k = len(self.polls)
        rid = f"{self.game}:{k}"
        ticks = cpu_ticks()
        t0 = time.perf_counter()
        w0 = time.time()
        try:
            status, body = _post(self.bridge, self.game, poll, self.last_known.get(poll["client"], 0))
        except Exception as e:  # noqa: BLE001 - timeouts and resets are failed polls
            status, body = -1, repr(e)
        t1 = time.perf_counter()
        steal = steal_share(ticks, cpu_ticks())
        self.tracer.record("post_sync", w0, time.time(), rid=rid, body=body if status == 200 else None)
        if status == 200:
            self.last_known[poll["client"]] = json.loads(body)["T"]
        self.polls.append(poll)
        if not timed:
            self.prefill_bodies.append(body_hash(body) if status == 200 else None)
        else:
            self.records.append({"k": k, "status": status, "body": body, "t0": t0, "t1": t1,
                                 "steal": steal})

    def run(self) -> None:
        try:
            for _ in range(self.prefill):
                self._one(timed=False)
            self.prefilled.set()
            self.start_evt.wait()
            while time.perf_counter() < self.deadline_box[0]:
                self._one(timed=True)
        except BaseException as e:  # noqa: BLE001 - surfaced by the main thread
            self.error = e
            self.prefilled.set()


def body_hash(body: str) -> str:
    return hashlib.sha256(body.encode("utf-8")).hexdigest()[:16]


def replay(spark, polls_by_game: dict[int, list[dict]]) -> dict:
    """Batch ``protocol_replay.game_response`` of every completed poll:
    (game index, poll index) -> envelope."""
    from goeventstream_spark.operators import protocol_replay as pr

    syncs, posted, states = [], [], []
    games = len(polls_by_game)
    for g, polls in polls_by_game.items():
        for k, poll in enumerate(polls):
            sid = k * games + g + 1  # generator-side id, increasing per game
            syncs.append((sid, poll["client"], poll["now_ms"], f"g{g}"))
            posted.extend((sid, i, t, b) for i, (t, b) in enumerate(poll["events"]))
            if poll["state"] is not None:
                states.append((sid, json.dumps(poll["state"], separators=(",", ":"))))
    df = pr.game_response(
        spark.createDataFrame(syncs, "sync_id long, user_id long, poll_ms long, game_key string"),
        spark.createDataFrame(posted, "sync_id long, event_seq long, event_type string, body string"),
        spark.createDataFrame(states, "sync_id long, data string"),
        game_col="game_key",
    )
    return {
        ((r.sync_id - 1) % games, (r.sync_id - 1) // games): r.response
        for r in df.select("sync_id", "response").collect()
    }


def expected_hashes(spark, workload: str, variant: int, clients) -> dict:
    """(game, poll) -> hash of the expected envelope: from expected.json
    when it covers every completed poll, else from a live replay."""
    gold = datagen.load_expected().get(workload, {}).get(str(variant))
    if gold and all(len(c.polls) <= len(gold[c.game]) for c in clients):
        return {(c.g, k): gold[c.game][k] for c in clients for k in range(len(c.polls))}
    live = replay(spark, {c.g: c.polls for c in clients})
    return {key: body_hash(body) for key, body in live.items()}


def run(workload: str, seed: int, seconds: float, work: str, root: str, tracer) -> dict:
    variant = datagen.variant_of(seed)
    # ---- set-up: session + registry import + stream start + the first
    # 200 envelope ----
    def warm(spark):
        bridge, query = _start_stream(spark, work)
        _warm_poll(bridge)
        return bridge, query

    spark, (bridge, query), setup = engine.cold_setup(tracer, root, warm)

    if tracer.enabled:
        deliver = bridge.deliver

        def traced_deliver(sync_id, response):
            w = time.time()
            deliver(sync_id, response)
            tracer.record("bridge.deliver", w, time.time(), sync_id=int(sync_id), body=response)

        bridge.deliver = traced_deliver  # the instance serve_inline delivers through

    # ---- timed closed loop ----
    start_evt, deadline_box = threading.Event(), [float("inf")]
    clients = [
        _Client(bridge, variant, workload, g, tracer, start_evt, deadline_box)
        for g in range(n_games())
    ]
    for c in clients:
        c.start()
    for c in clients:
        c.prefilled.wait()
    t_begin, w_begin = time.perf_counter(), time.time()
    deadline_box[0] = t_begin + seconds
    start_evt.set()
    # Extend the deadline before it passes, so that no client stops early.
    while deadline_box[0] < t_begin + STRETCH * seconds:
        time.sleep(max(0.0, deadline_box[0] - 0.5 - time.perf_counter()))
        calm = sum(r["steal"] < CALM_STEAL for c in clients for r in list(c.records))
        if calm >= MIN_CALM_POLLS:
            break
        deadline_box[0] += 1.0
    for c in clients:
        c.join(timeout=STRETCH * seconds + 2 * POST_TIMEOUT_S)
    hung = [c.name for c in clients if c.is_alive()]
    errors = [repr(c.error) for c in clients if c.error is not None]
    t_end = time.perf_counter()
    progress = [json.loads(p.json) for p in query.recentProgress]
    query.stop()
    bridge.stop()
    t_stop = time.perf_counter()
    if hung or errors:
        raise SystemExit(f"serve clients failed: hung={hung} errors={errors}")

    # ---- output check: every 200 body equals the batch replay ----
    want = expected_hashes(spark, workload, variant, clients)
    t_replay = time.perf_counter()
    attempted = failed = 0
    lat_ms, calm_ms, in_window = [], [], []
    mismatches = []
    for c in clients:
        for r in c.records:
            attempted += 1
            if r["status"] != 200 or body_hash(r["body"]) != want.get((c.g, r["k"])):
                failed += 1
                if len(mismatches) < 3:
                    mismatches.append({"game": c.game, "k": r["k"], "status": r["status"],
                                       "got": r["body"][:300]})
                continue
            ms = (r["t1"] - r["t0"]) * 1000.0
            lat_ms.append(ms)
            if r["steal"] < CALM_STEAL:
                calm_ms.append(ms)
            if r["t1"] <= deadline_box[0]:
                in_window.append(r["t1"])
        # the untimed prefill polls must have been answered correctly too
        prefill_bad = [k for k in range(c.prefill) if c.prefill_bodies[k] != want.get((c.g, k))]
        failed += len(prefill_bad)
        attempted += c.prefill
    metrics = {
        "setup_s": (sum(setup.values()), "s"),
        "latency_ms": (median(calm_ms if len(calm_ms) >= MIN_CALM_POLLS else lat_ms)
                       if lat_ms else 0.0, "ms"),
    }
    return {
        "spark": spark,
        "app_id": spark.sparkContext.applicationId,
        "attempted": max(attempted, 1),
        "failed": failed,
        "metrics": metrics,
        "detail": {
            "phase_s": {"timed": t_end - t_begin, "stop": t_stop - t_end, "replay": t_replay - t_stop},
            "polls": len(lat_ms),
            "calm_polls": len(calm_ms),
            "requests_per_s": len(in_window) / (max(in_window) - t_begin) if in_window else 0.0,
            # the highest of these percentiles with >= 10 samples beyond it
            "latency_tail_ms": next(
                ({f"p{p}": v} for p in (99, 95, 90, 85, 75)
                 if (v := percentile(lat_ms, p)) is not None), None),
            "polls_per_game": {c.game: len(c.records) for c in clients},
            "log_events_per_game": {c.game: sum(len(p["events"]) for p in c.polls) for c in clients},
            "setup_s": setup,
            "mismatches": mismatches,
        },
        "progress": progress,
        "window": (w_begin, w_begin + deadline_box[0] - t_begin),
    }


def layer_metrics(res: dict, tracer, event_log_dir: str) -> dict:
    """Per-layer metrics of a traced serve run: medians per trigger or per
    poll over the timed phase, counts summed over it."""
    lo, hi = res["window"]
    trig = [t for t in parse_progress(res["progress"]) if lo <= t["ts"] <= hi]
    out = {
        "session.start_s": res["detail"]["setup_s"]["session.start_s"],
        "registry.import_s": res["detail"]["setup_s"]["registry.import_s"],
        "trigger.count": len(trig),
    }

    def med(key):
        return median([t[key] for t in trig]) if trig else 0.0

    for name, key in [
        ("trigger.rows", "rows"), ("trigger.exec_ms", "exec_ms"),
        ("trigger.add_batch_ms", "add_batch_ms"), ("trigger.planning_ms", "planning_ms"),
        ("trigger.wal_ms", "wal_ms"), ("trigger.commit_offsets_ms", "commit_offsets_ms"),
        ("state.update_ms", "state_update_ms"), ("state.commit_ms", "state_commit_ms"),
    ]:
        out[name] = med(key)
    last = trig[-1] if trig else {}
    out["state.memory_bytes"] = last.get("state_memory_bytes", 0)
    out["state.sst_bytes"] = last.get("state_sst_bytes", 0)
    out["state.rows_total"] = last.get("state_rows_total", 0)
    out["state.instances"] = last.get("state_instances", 0)

    log = read_event_log(event_log_dir, res["app_id"])
    batch_ids = {t["batch_id"] for t in trig}
    by_batch: dict[int, list[int]] = {}
    for jid, job in log["jobs"].items():
        if job["batch_id"] in batch_ids:
            by_batch.setdefault(job["batch_id"], []).append(jid)
    out["trigger.tasks"] = (
        median([stage_totals(log, j)["tasks"] for j in by_batch.values()]) if by_batch else 0
    )
    tot = stage_totals(log, [j for js in by_batch.values() for j in js])
    out["shuffle.write_bytes"] = tot["shuffle_write_bytes"]
    out["shuffle.read_bytes"] = tot["shuffle_read_bytes"]
    out["shuffle.write_records"] = tot["shuffle_write_records"]
    out["spill.bytes"] = tot["spill_bytes"]
    out["task.run_s"] = tot["run_ms"] / 1000.0
    out["task.cpu_s"] = tot["cpu_ms"] / 1000.0
    out["task.gc_s"] = tot["gc_ms"] / 1000.0
    out["task.skew"] = tot["skew"]

    # engine.wait: POST sent -> the engine hands its envelope to the
    # bridge; bridge.return: that hand-off -> the client holds the 200.
    posts = [s for s in tracer.named("post_sync") if s["body"] is not None and s["start"] >= lo]
    delivers = sorted(tracer.named("bridge.deliver"), key=lambda s: s["start"])
    used, wait, ret = set(), [], []
    for p in posts:
        for d in delivers:
            if d["id"] in used or d["start"] < p["start"]:
                continue
            if d["start"] > p["end"]:
                break
            if d["body"] == p["body"]:
                used.add(d["id"])
                wait.append((d["start"] - p["start"]) * 1000.0)
                ret.append((p["end"] - d["end"]) * 1000.0)
                break
    out["engine.wait_ms"] = median(wait) if wait else 0.0
    out["bridge.return_ms"] = median(ret) if ret else 0.0
    out["serve.matched_polls"] = len(wait)
    return out
