"""The reference's client-registry and per-game state machines as Spark
keyed state — the only genuinely custom stateful logic in the whole
engine (SURVEY.md §4: "custom work is semantic, not planner-level").

Reference semantics reproduced (file:line in the reference repo):
- connect:    first sight of an unknown client id -> emit ``_c``
              (model/game.go:44-58, model/eventStream.go:81-83)
- proxy ids:  per-game monotone counter, allocated at connect
              (model/game.go:49-53), reset when the game restarts
- state LWW:  every report overwrites the whole state map, stamped with
              the latest event time (model/stateStream.go:19-21)
- disconnect: silent > 10 s -> emit ``_d``, hard-delete state
              (model/game.go:92-107, model/stateStream.go:37-39)
- game GC:    a game idle > 60 s is deleted and recreated on the next
              poll — fresh generation, seed, counters
              (model/game.go:76-78, main.go:32-46)

Seven keyed operators, each with one implementation on
``applyInPandasWithState``: a ``_update`` closure that reads the
group's state, calls a pure fold core (``_fold_*`` / ``_process_*``)
and writes the state back. The fold cores hold all the semantics, so
each can be tested and reasoned about without Spark.

- ``client_registry`` — per-user registry with event-time timeouts: the
  watermark-driven analogue of the lazy liveness sweep. Timeouts fire
  when the event-time watermark passes last_seen + gap (the batch
  analogues stream_ops.connects/disconnects/latest_state are exact).
- ``game_registry`` — per-GAME keyed state machine (one key = one game
  = the reference's one mutex, model/game.go:25-32) that allocates
  monotone proxy ids, expires clients lazily per poll exactly like the
  reference, and segments generations on > 60 s idle (GC -> restart).
  Output is envelope-equal to the batch ``protocol_replay.connections``
  proxy assignment on in-order input (pinned in test_streaming.py).
- ``game_server`` — the whole reference request lifecycle per game,
  emitting one GameResponse envelope per poll.
- ``streaming_funnel``, ``first_seen_activity``,
  ``streaming_attribution``, ``streaming_ewma`` — incremental forms of
  batch analytics queries, exact under a 0-second watermark.

Spark 4's transform-with-state pandas API is not used. Its Python
state server speaks protobuf, so it needs ``google.protobuf``, which
this environment does not have; a twin on it never ran and no test
lane reached it, so it was deleted. Bringing it back means adding a
test lane that runs it. The state schemas below stay as they are, so
existing checkpoints keep restoring.

Keyed state per key is one small record (client_registry) or one small
map of active clients (game_registry) — memory O(active clients), like
the reference's registries (SURVEY.md §6).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupStateTimeout
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
)

CLIENT_TIMEOUT_MS = 10_000
GAME_TIMEOUT_MS = 60_000


# ---------------------------------------------------------------------------
# client_registry: per-user connect / LWW-state / timeout-disconnect
# ---------------------------------------------------------------------------

REGISTRY_OUTPUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("marker", StringType()),  # _c | _d | state
        StructField("event_ms", LongType()),
        StructField("data", StringType()),
    ]
)

# (last_seen_ms, state_json, timer_ms, last_seq): timer_ms holds the
# armed event-time timeout (last_seen + timeout). Nothing reads it back
# (each update re-arms the GroupStateTimeout); it stays in the schema so
# checkpoints written with it still restore.
REGISTRY_STATE_SCHEMA = StructType(
    [
        StructField("last_seen_ms", LongType()),
        StructField("state_json", StringType()),
        StructField("timer_ms", LongType()),
        StructField("last_seq", LongType()),
    ]
)

_REG_COLS = ["user_id", "marker", "event_ms", "data"]


def _fold_registry_rows(last_seen, best_json, last_seq, pdfs):
    """Shared semantics core: fold a batch of (ts, event_id, props)
    rows into (first_ms, last_seen, best_json, last_seq) — LWW by
    (event time, event_id), the SAME total order batch
    stream_ops.latest_state uses (ts desc, event_id desc), so the two
    surfaces agree even on equal-ms ties. A max-fold, so the result is
    independent of chunk order and of how the stream was batched.
    Sources without an event_id column tie on a zero sequence
    (first-write-wins at equal ms across batches)."""
    first_ms = None
    for pdf in pdfs:
        if len(pdf) == 0:
            continue
        ms_vals = (pdf["ts"].astype("int64") // 1_000_000).tolist()
        seqs = (
            pdf["event_id"].tolist()
            if "event_id" in pdf.columns
            else [0] * len(pdf)
        )
        for m, seq, props in zip(ms_vals, seqs, pdf["props"].tolist()):
            if first_ms is None or m < first_ms:
                first_ms = m
            if (
                last_seen is None
                or m > last_seen
                or (m == last_seen and (last_seq is None or seq > last_seq))
            ):
                last_seen = m
                best_json = props
                last_seq = seq
    return first_ms, last_seen, best_json, last_seq


def client_registry(
    events: DataFrame,
    timeout_ms: int = CLIENT_TIMEOUT_MS,
    watermark: str | None = "0 seconds",
) -> DataFrame:
    """Keyed registry over user_id: emits ``_c`` on first contact,
    ``state`` rows on last-writer-wins updates, ``_d`` when the
    event-time watermark passes last_seen + timeout.

    Input must carry (user_id, ts, props) — plus ``event_id`` when the
    source has one, which makes equal-ms LWW ties match batch
    latest_state's (ts desc, event_id desc) order exactly.
    ``watermark`` is the
    watermark delay applied to ``ts``; pass ``None`` to respect a
    watermark the caller already set instead of overriding it (ADVICE
    r1). With the default 0-second delay any event arriving out of
    order across micro-batches is dropped as late and timeouts fire as
    eagerly as the watermark advances — a tighter sweep than the
    reference's lazy poll-driven one."""
    cols = ["user_id", "ts", "props"] + (
        ["event_id"] if "event_id" in events.columns else []
    )
    src = events.select(*cols)
    if watermark is not None:
        src = src.withWatermark("ts", watermark)

    def _update(key, pdfs, state):  # uses module fold cores — executors need the package importable
        import pandas as _pd

        user_id = key[0]
        if state.hasTimedOut:
            last_seen = state.get[0]
            state.remove()
            yield _pd.DataFrame(
                [(user_id, "_d", last_seen + timeout_ms, None)], columns=_REG_COLS
            )
            return

        existed = state.exists
        last_seen = state.get[0] if existed else None
        best_json = state.get[1] if existed else None
        last_seq = state.get[3] if existed and len(state.get) > 3 else None
        first_ms, last_seen, best_json, last_seq = _fold_registry_rows(
            last_seen, best_json, last_seq, pdfs
        )
        if first_ms is None:
            return
        rows = []
        if not existed:
            rows.append((user_id, "_c", first_ms, None))
        rows.append((user_id, "state", last_seen, best_json))
        state.update((last_seen, best_json, last_seen + timeout_ms, last_seq))
        state.setTimeoutTimestamp(last_seen + timeout_ms)
        yield _pd.DataFrame(rows, columns=_REG_COLS)

    return src.groupBy("user_id").applyInPandasWithState(
        _update,
        outputStructType=REGISTRY_OUTPUT_SCHEMA,
        stateStructType=REGISTRY_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )


# ---------------------------------------------------------------------------
# game_registry: per-game proxy allocation + GC/restart generations
# ---------------------------------------------------------------------------

GAME_REGISTRY_OUTPUT_SCHEMA = StructType(
    [
        StructField("game", StringType()),
        StructField("gen", LongType()),
        StructField("user_id", LongType()),  # NULL for _a rows
        StructField("marker", StringType()),  # _a | _c | _d
        StructField("poll_ms", LongType()),
        StructField("proxy_id", StringType()),  # NULL for _a rows
    ]
)

# One record per game: (gen, last_poll_ms, next_proxy, clients_json)
# where clients_json maps user_id -> [proxy, last_touch_ms]. A game's
# active-client set is small (the reference holds it in one map under
# one mutex), so one JSON blob per game is the honest equivalent.
GAME_STATE_SCHEMA = StructType(
    [
        StructField("gen", LongType()),
        StructField("last_poll_ms", LongType()),
        StructField("next_proxy", LongType()),
        StructField("clients_json", StringType()),
    ]
)

_GAME_COLS = ["game", "gen", "user_id", "marker", "poll_ms", "proxy_id"]


def _process_game_polls(
    game,
    gen,
    last_poll,
    next_proxy,
    active,
    polls,
    client_timeout_ms,
    game_timeout_ms,
):
    """Shared semantics core: run the reference's per-poll transition
    (model/game.go:60-73) over a sorted poll batch. Mutates ``active``
    in place; returns (gen, last_poll, next_proxy, out_rows)."""
    out = []
    # polls: (poll_ms, seq, user_id) — seq is the arrival sequence
    # (sync_id when the source carries one), so equal-ms ties process
    # in ARRIVAL order exactly like the reference's mutex-serialized
    # HTTP loop and the batch connections() proxy window.
    for now, _seq, user in sorted(polls):
        if last_poll is None or now - last_poll > game_timeout_ms:
            # GC -> recreate (model/game.go:76-78): new generation,
            # fresh seed and counters
            gen += 1
            next_proxy = 1
            active.clear()
            out.append((game, gen, None, "_a", now, None))
        last_poll = now
        # lazy liveness sweep (model/game.go:92-107)
        for u in sorted(active):
            proxy, touch = active[u]
            if now - touch > client_timeout_ms:
                out.append((game, gen, u, "_d", now, str(proxy)))
                del active[u]
        if user not in active:
            # monotone per-game proxy id (model/game.go:49-53)
            active[user] = (next_proxy, now)
            out.append((game, gen, user, "_c", now, str(next_proxy)))
            next_proxy += 1
        else:
            active[user] = (active[user][0], now)
    return gen, last_poll, next_proxy, out


def game_registry(
    polls: DataFrame,
    client_timeout_ms: int = CLIENT_TIMEOUT_MS,
    game_timeout_ms: int = GAME_TIMEOUT_MS,
) -> DataFrame:
    """Streaming per-game state machine with proxy-id allocation
    (VERDICT r1 next-#5): input must carry (game, user_id, poll_ms)
    and arrive in event-time order across micro-batches (the in-order
    single-writer assumption the reference's HTTP loop provides).
    Emits ``_a`` per game instance and ``_c``/``_d`` with the exact
    per-game monotone proxy ids of model/game.go:49-53; envelope-equal
    to batch ``protocol_replay.connections`` (test_streaming.py). Pass
    a ``sync_id`` column when the source has an arrival sequence —
    equal-ms polls then tie in arrival order exactly like the batch
    replay; without one, ties fall back to user_id."""
    cols = ["game", "user_id", "poll_ms"] + (
        ["sync_id"] if "sync_id" in polls.columns else []
    )
    src = polls.select(*cols)

    def _update(key, pdfs, state):  # uses module fold cores — executors need the package importable
        import json as _json

        import pandas as _pd

        game = key[0]
        existed = state.exists
        gen, last_poll, next_proxy = (
            (state.get[0], state.get[1], state.get[2]) if existed else (0, None, 1)
        )
        active = (
            {int(u): (p, t) for u, (p, t) in _json.loads(state.get[3]).items()}
            if existed
            else {}
        )
        polls = []
        for pdf in pdfs:
            if len(pdf) == 0:
                continue
            seqs = (
                pdf["sync_id"].tolist()
                if "sync_id" in pdf.columns
                else pdf["user_id"].tolist()
            )
            polls.extend(
                zip(pdf["poll_ms"].tolist(), seqs, pdf["user_id"].tolist())
            )
        if not polls:
            return
        gen, last_poll, next_proxy, out = _process_game_polls(
            game, gen, last_poll, next_proxy, active, polls, client_timeout_ms, game_timeout_ms
        )
        state.update(
            (gen, last_poll, next_proxy, _json.dumps({str(u): v for u, v in active.items()}))
        )
        yield _pd.DataFrame(out, columns=_GAME_COLS)

    return src.groupBy("game").applyInPandasWithState(
        _update,
        outputStructType=GAME_REGISTRY_OUTPUT_SCHEMA,
        stateStructType=GAME_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# ---------------------------------------------------------------------------
# streaming_funnel: incremental ordered-funnel progression per user
# ---------------------------------------------------------------------------

FUNNEL_OUTPUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("t_view_ms", LongType()),
        StructField("t_click_ms", LongType()),
        StructField("t_purchase_ms", LongType()),
    ]
)

FUNNEL_STATE_SCHEMA = StructType(
    [
        StructField("t_view_ms", LongType()),
        StructField("t_click_ms", LongType()),
        StructField("t_purchase_ms", LongType()),
    ]
)

_FUNNEL_COLS = ["user_id", "t_view_ms", "t_click_ms", "t_purchase_ms"]


def _advance_funnel(stage, pdfs, steps):
    """Fold a batch of (ts, event_type) rows into the 3-stage tuple in
    event-time order. Greedy in-order advancement equals the batch
    min-after-min semantics when events arrive in event-time order
    (the watermark contract); returns (changed, new_stage)."""
    tv, tc, tp = stage
    changed = False
    rows = []
    for pdf in pdfs:
        if len(pdf) == 0:
            continue
        ms = (pdf["ts"].astype("int64") // 1_000_000).tolist()
        rows.extend(zip(ms, pdf["event_type"].tolist()))
    for m, etype in sorted(rows):
        if etype == steps[0] and tv is None:
            tv, changed = m, True
        elif etype == steps[1] and tc is None and tv is not None and m > tv:
            tc, changed = m, True
        elif etype == steps[2] and tp is None and tc is not None and m > tc:
            tp, changed = m, True
    return changed, (tv, tc, tp)


def streaming_funnel(
    events: DataFrame,
    steps: tuple[str, ...] = ("view", "click", "purchase"),
    watermark: str | None = "0 seconds",
) -> DataFrame:
    """Incremental funnel over an unbounded event stream: keyed state
    tracks each user's (first view, first click after it, first
    purchase after that); a row is emitted whenever a user advances a
    stage, so the LAST row per user is their current funnel position.

    Semantics contract: greedy in-order advancement — identical to the
    batch analytics.funnel under event-time-ordered arrival, which the
    watermark enforces (late rows are dropped, not reordered). Per-user
    state is three longs; no timers, so state lives for the stream's
    lifetime (add a TTL timer if user cardinality is unbounded).
    """
    src = events.select("user_id", "ts", "event_type")
    if watermark is not None:
        src = src.withWatermark("ts", watermark)

    def _update(key, pdfs, state):  # uses module fold cores — executors need the package importable
        import pandas as _pd

        cur = state.get if state.exists else (None, None, None)
        changed, new = _advance_funnel(cur, pdfs, steps)
        if not changed:
            return
        state.update(new)
        yield _pd.DataFrame([(key[0], *new)], columns=_FUNNEL_COLS)

    return src.groupBy("user_id").applyInPandasWithState(
        _update,
        outputStructType=FUNNEL_OUTPUT_SCHEMA,
        stateStructType=FUNNEL_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# ---------------------------------------------------------------------------
# game_server: the FULL reference request lifecycle (model/game.go:60-74)
# as one streaming job — tick, GC/restart, liveness sweep, connect +
# proxy allocation, event append with T assignment, LWW state upsert,
# MarkSent, delta scans, and the serialized GameResponse envelope.
# ---------------------------------------------------------------------------

GAME_SERVER_OUTPUT_SCHEMA = StructType(
    [
        StructField("game", StringType()),
        StructField("sync_id", LongType()),
        StructField("user_id", LongType()),
        StructField("t", LongType()),
        StructField("proxy_id", StringType()),
        StructField("response", StringType()),
    ]
)

GAME_SERVER_STATE_SCHEMA = StructType([StructField("blob", StringType())])

_SERVER_COLS = ["game", "sync_id", "user_id", "t", "proxy_id", "response"]

TICK_MS = 50


def _new_server_state():
    return {
        "gen": 0,
        "last_poll": None,
        "next_proxy": 1,
        "last_tick": None,
        "ev_t": 0,
        "state_t": 1,
        "last_sent": 0,
        "active": {},      # user -> [proxy, last_touch_ms]
        "last_known": {},  # user -> last T this client saw (this gen)
        "log": [],         # [t, kind_order, event_type, origin, body]
        "states": {},      # proxy -> [state_t, data_json]
    }


def _esc(s: str) -> str:
    return s.replace("\\", "\\\\").replace('"', '\\"')


def _process_server_polls(st, game, polls, client_timeout_ms, game_timeout_ms):
    """Run the reference's Process() (model/game.go:60-74) over a
    (poll_ms, sync_id)-sorted poll batch against a python state dict.
    Returns output rows; mutates ``st``. The tick is the reference's
    own imperative formula (strict elapsed > 50 with remainder carry,
    model/game.go:81-90) — the batch replay's closed-form clock is
    proven equivalent, here we just run the original.
    Serialization canonicalizations match operators/protocol_replay.
    game_response exactly (events sort by (t, kind_order, mapped
    origin, serialized); states by numeric origin; seed body 'seed').
    """
    out = []
    for now, sync_id, user, posted, state_json in polls:
        # GC -> recreate (deterministic-limit idealization, shared
        # with the batch replay: every > 60 s gap restarts)
        if st["last_poll"] is None or now - st["last_poll"] > game_timeout_ms:
            gen = st["gen"] + 1
            st.update(_new_server_state())
            st["gen"] = gen
            st["last_tick"] = now
            # Restart(): _a appended at T = LastSentT + 1 = 1
            st["log"].append([1, 0, "_a", "_", "seed"])
        st["last_poll"] = now

        # tick(now) — model/game.go:81-90
        elapsed = now - st["last_tick"]
        if elapsed > TICK_MS:
            count = elapsed // TICK_MS
            st["ev_t"] += count
            st["state_t"] += count
            st["last_tick"] = now - (elapsed % TICK_MS)

        append_t = st["last_sent"] + 1

        # updateClients: lazy expiry sweep, then touch/create caller
        for u in sorted(list(st["active"])):
            proxy, touch = st["active"][u]
            if now - touch > client_timeout_ms:
                st["log"].append([append_t, 1, "_d", "_", str(proxy)])
                st["states"].pop(str(proxy), None)
                del st["active"][u]
        ukey = str(user)
        if ukey not in st["active"]:
            proxy = st["next_proxy"]
            st["next_proxy"] += 1
            st["active"][ukey] = [proxy, now]
            st["log"].append([append_t, 2, "_c", "_", str(proxy)])
        else:
            st["active"][ukey][1] = now
        proxy = str(st["active"][ukey][0])

        # applyEvents: Origin = caller proxy, T = LastSentT + 1
        for seq, (etype, body) in enumerate(posted):
            st["log"].append([append_t, 3 + seq, etype, proxy, body or ""])

        # applyState: LWW upsert stamped with the state stream clock
        if state_json is not None:
            st["states"][proxy] = [st["state_t"], state_json]

        # MarkSent, then the delta scans
        st["last_sent"] = st["ev_t"]
        last_known = st["last_known"].get(ukey, 0)

        evs = []
        for t, kind, etype, origin, body in st["log"]:
            if last_known < t <= st["ev_t"]:
                o = "_" if etype in ("_a", "_c", "_d") else origin
                s = f'{{"T":{t},"Type":"{etype}","Origin":"{o}","Body":"{_esc(body)}"}}'
                evs.append((t, kind, o, s))
        evs.sort()
        sts = []
        for p, (stt, data) in st["states"].items():
            if last_known < stt <= st["state_t"]:
                sts.append((int(p), f'{{"T":{stt},"Origin":"{p}","Data":{data}}}'))
        sts.sort()

        response = (
            '{"T":%d,"Events":[%s],"States":[%s],"ProxyId":"%s"}'
            % (
                st["ev_t"],
                ",".join(s for *_k, s in evs),
                ",".join(s for _o, s in sts),
                proxy,
            )
        )
        st["last_known"][ukey] = st["ev_t"]
        out.append((game, sync_id, user, st["ev_t"], proxy, response))
    return out


def _parse_server_polls(pdfs):
    """Collect one micro-batch's poll rows into the (poll_ms, sync_id)-
    sorted tuple list _process_server_polls consumes; None if empty."""
    import json as _json

    polls = []
    for pdf in pdfs:
        if len(pdf) == 0:
            continue
        posted = [
            _json.loads(p) if p else [] for p in pdf["posted_json"].tolist()
        ]
        state_js = [
            (s if isinstance(s, str) else None) for s in pdf["state_json"].tolist()
        ]
        polls.extend(
            zip(
                pdf["poll_ms"].tolist(),
                pdf["sync_id"].tolist(),
                pdf["user_id"].tolist(),
                posted,
                state_js,
            )
        )
    if not polls:
        return None
    polls.sort(key=lambda p: (p[0], p[1]))
    return polls


def _fold_server_batch(blob, game, pdfs, client_timeout_ms, game_timeout_ms):
    import json as _json

    polls = _parse_server_polls(pdfs)
    if polls is None:
        return blob, None
    st = _json.loads(blob) if blob else _new_server_state()
    out = _process_server_polls(st, game, polls, client_timeout_ms, game_timeout_ms)
    return _json.dumps(st), out


def game_server(
    polls: DataFrame,
    client_timeout_ms: int = CLIENT_TIMEOUT_MS,
    game_timeout_ms: int = GAME_TIMEOUT_MS,
) -> DataFrame:
    """The reference server as a streaming query: input rows are polls
    (game, sync_id, user_id, poll_ms, posted_json, state_json) arriving
    in event-time order per game; output is one GameResponse envelope
    row per poll, envelope-equal to the batch
    ``protocol_replay.game_response`` (pinned in test_streaming.py).

    posted_json: JSON array of [event_type, body] pairs posted with the
    poll (GameRequest.Events); state_json: the state map JSON or null
    (GameRequest.State).

    Scale: one key = one game; state is O(current-generation log) per
    game — the reference's own memory shape. Partitioning gives the
    per-game mutex for free (R17); games shard across executors.
    """
    src = polls.select(
        "game", "sync_id", "user_id", "poll_ms", "posted_json", "state_json"
    )
    ct, gt = client_timeout_ms, game_timeout_ms

    def _update(key, pdfs, state):
        import pandas as _pd

        blob = state.get[0] if state.exists else None
        blob, out = _fold_server_batch(blob, key[0], pdfs, ct, gt)
        if out is None:
            return
        state.update((blob,))
        yield _pd.DataFrame(out, columns=_SERVER_COLS)

    return src.groupBy("game").applyInPandasWithState(
        _update,
        outputStructType=GAME_SERVER_OUTPUT_SCHEMA,
        stateStructType=GAME_SERVER_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# ---------------------------------------------------------------------------
# first_seen_activity: streaming growth accounting (new vs returning)
# ---------------------------------------------------------------------------

FIRST_SEEN_OUTPUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("day", StringType()),
        StructField("is_new", LongType()),
    ]
)

FIRST_SEEN_STATE_SCHEMA = StructType(
    [StructField("first_day", StringType()), StructField("last_day", StringType())]
)


def _fold_first_seen(first_day, last_day, pdfs):
    """Shared semantics core: fold a batch of ts rows into new
    (first_day, last_day) plus the (day, is_new) rows to emit. Days
    arrive non-decreasing per user across batches (the watermark
    drops regressions), so one last_day scalar dedupes (user, day)."""
    out = []
    days = []
    for pdf in pdfs:
        if len(pdf) == 0:
            continue
        days.extend(pdf["ts"].dt.strftime("%Y-%m-%d").tolist())
    for day in sorted(days):
        if first_day is None:
            first_day = day
        if last_day is None or day > last_day:
            last_day = day
            out.append((day, 1 if day == first_day else 0))
    return first_day, last_day, out


def first_seen_activity(
    events: DataFrame, watermark: str | None = "0 seconds"
) -> DataFrame:
    """Streaming growth accounting: one output row per (user, day)
    activity, flagged is_new on the user's first-ever day — the keyed-
    state analogue of the batch ``daily_user_accounting`` query
    (aggregate the output by day to get active/new/returning/
    cumulative-unique). Per-user state is two date strings; the
    watermark (0 s default — see client_registry's ADVICE note) drops
    event-time regressions so one last_day scalar dedupes days.

    CONTRACT: exact batch equivalence requires the 0-second watermark.
    The fold keeps one last_day scalar, so any allowed lateness breaks
    it two ways no state tweak can fix in append mode: a late-but-
    within-watermark event on a not-yet-seen EARLIER day would be
    silently swallowed by the last_day dedupe, and a late true first
    day cannot retract an is_new=1 already emitted for a later day.
    Non-zero delays (and ``watermark=None``) are therefore REJECTED
    rather than silently wrong; an at-scale lateness-tolerant variant
    needs event-time timers that hold each day's emission until the
    watermark closes it.
    """
    if watermark is None or _watermark_delay_ms(watermark) != 0:
        raise ValueError(
            "first_seen_activity is exact only under a 0-second watermark "
            f"(got {watermark!r}): the single last_day state scalar drops "
            "late earlier days and append mode cannot retract is_new rows. "
            "Use the batch daily_user_accounting query for late data."
        )
    src = events.select("user_id", "ts").withWatermark("ts", watermark)

    def _update(key, pdfs, state):
        # references the module-level fold core — executors must be
        # able to import goeventstream_spark (true under pytest/local
        # mode; ship the package via --py-files on a cluster)
        import pandas as pd

        cur = state.get if state.exists else (None, None)
        first_day, last_day, out = _fold_first_seen(cur[0], cur[1], pdfs)
        if not out:
            return
        state.update((first_day, last_day))
        yield pd.DataFrame([(key[0], d, n) for d, n in out], columns=["user_id", "day", "is_new"])

    return src.groupBy("user_id").applyInPandasWithState(
        _update,
        outputStructType=FIRST_SEEN_OUTPUT_SCHEMA,
        stateStructType=FIRST_SEEN_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


_WM_UNIT_MS = {
    "microsecond": 0.001,
    "millisecond": 1,
    "second": 1000,
    "minute": 60_000,
    "hour": 3_600_000,
    "day": 86_400_000,
    "week": 7 * 86_400_000,
}


def _watermark_delay_ms(delay: str) -> float:
    """Parse a Spark watermark delay-threshold string ('10 seconds',
    '1 hour') into milliseconds; raises on anything unrecognized."""
    import re

    total = 0.0
    parts = re.findall(r"(-?\d+(?:\.\d+)?)\s*([a-zA-Z]+)", delay)
    if not parts:
        raise ValueError(f"unparseable watermark delay: {delay!r}")
    for num, unit in parts:
        unit = unit.lower().rstrip("s")
        if unit not in _WM_UNIT_MS:
            raise ValueError(f"unknown watermark unit {unit!r} in {delay!r}")
        total += float(num) * _WM_UNIT_MS[unit]
    return total


# ---------------------------------------------------------------------------
# streaming_attribution: last-touch conversion attribution on keyed state
# ---------------------------------------------------------------------------

ATTRIB_OUTPUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("channel", StringType()),
        StructField("cents", LongType()),
        StructField("purchase_ms", LongType()),
    ]
)

ATTRIB_STATE_SCHEMA = StructType(
    [StructField("lt_channel", StringType()), StructField("lt_ms", LongType())]
)

ATTRIB_LOOKBACK_MS = 7 * 24 * 3600 * 1000


def _fold_attrib(lt_channel, lt_ms, pdfs):
    """Shared semantics core: walk a batch of (ms, event_type, cents)
    rows in (ms, event_id) order; touches update the carried last
    touch, purchases emit (channel-or-direct, cents, ms) under the
    7-day lookback. Matches the batch query's strictly-prior window:
    a same-row purchase never attributes to itself, and a touch at an
    earlier (ms, event_id) in the same batch DOES count."""
    out = []
    rows = []
    # Arrow delivers ONE GROUP as multiple chunks (maxRecordsPerBatch);
    # collect every chunk before sorting — a per-chunk sort would let a
    # purchase in an early chunk miss an earlier-ts touch in a later one.
    for pdf in pdfs:
        if len(pdf) == 0:
            continue
        ms_vals = (pdf["ts"].astype("int64") // 1_000_000).tolist()
        rows.extend(
            zip(ms_vals, pdf["event_id"].tolist(), pdf["event_type"].tolist(),
                pdf["cents"].tolist())
        )
    import pandas as _pd

    for ms, _eid, etype, cents in sorted(rows):
        if etype == "purchase":
            ch = (
                lt_channel
                if lt_ms is not None and ms - lt_ms <= ATTRIB_LOOKBACK_MS
                else "direct"
            )
            # null value -> null cents (the batch query's sum skips
            # nulls; int(None/NaN) would kill the micro-batch)
            out.append((ch, None if _pd.isna(cents) else int(cents), ms))
        else:
            lt_channel, lt_ms = etype, ms
    return lt_channel, lt_ms, out


def streaming_attribution(
    events: DataFrame, watermark: str | None = "0 seconds"
) -> DataFrame:
    """Streaming last-touch attribution: keyed state carries each
    user's most recent view/click; every purchase is emitted with the
    channel that gets credit (7-day lookback, else 'direct') — the
    incremental analogue of the batch ``attribution_by_channel``
    last-touch model (aggregate the output by channel to reproduce
    it). Per-user state is one (channel, ms) pair; the watermark
    enforces the event-time order the batch window semantics assume.

    CONTRACT: like first_seen_activity, exact batch equivalence
    requires the 0-second watermark — the fold credits purchases in
    arrival order, and a late-but-allowed touch that should have won
    an already-emitted purchase cannot retract it in append mode.
    Non-zero delays (and ``watermark=None``) are rejected.
    """
    if watermark is None or _watermark_delay_ms(watermark) != 0:
        raise ValueError(
            "streaming_attribution is exact only under a 0-second watermark "
            f"(got {watermark!r}): purchases are credited in arrival order "
            "and emitted rows cannot be retracted when a late touch wins. "
            "Use the batch attribution_by_channel query for late data."
        )
    src = events.where(
        F.col("event_type").isin("view", "click", "purchase")
    ).select(
        "user_id", "ts", "event_id", "event_type",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    if watermark is not None:
        src = src.withWatermark("ts", watermark)

    def _update(key, pdfs, state):
        # references the module-level fold core — executors must be
        # able to import goeventstream_spark (true under pytest/local
        # mode; ship the package via --py-files on a cluster)
        import pandas as pd

        cur = state.get if state.exists else (None, None)
        lt_channel, lt_ms, out = _fold_attrib(cur[0], cur[1], pdfs)
        if lt_ms is not None:
            state.update((lt_channel, lt_ms))
        if out:
            yield pd.DataFrame(
                [(key[0], ch, c, ms) for ch, c, ms in out],
                columns=["user_id", "channel", "cents", "purchase_ms"],
            )

    return src.groupBy("user_id").applyInPandasWithState(
        _update,
        outputStructType=ATTRIB_OUTPUT_SCHEMA,
        stateStructType=ATTRIB_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# ---------------------------------------------------------------------------
# streaming EWMA: keyed incremental scan over closed hours
# ---------------------------------------------------------------------------

EWMA_OUTPUT_SCHEMA = StructType(
    [
        StructField("event_type", StringType()),
        StructField("hour_epoch", LongType()),
        StructField("cnt", LongType()),
        StructField("ewma_ppm", LongType()),
    ]
)

EWMA_STATE_SCHEMA = StructType(
    [
        StructField("open_hour", LongType()),
        StructField("open_cnt", LongType()),
        StructField("e_prev", LongType()),
        StructField("has_prev", LongType()),
    ]
)


def _fold_ewma(state, pdfs):
    """Shared semantics core (mirrors analytics.ewma_series): fold a
    batch of ts rows into updated (open_hour, open_cnt, e_prev,
    has_prev) plus the (hour, cnt, ewma) rows for every hour CLOSED by
    the arrival of a later hour — gap hours emit cnt=0. Hours arrive
    non-decreasing across batches (time-ordered source + 0 s
    watermark), so one open-hour accumulator suffices."""
    from collections import Counter

    import pandas as pd

    counts = Counter()
    for pdf in pdfs:
        if len(pdf) == 0:
            continue
        # unit-safe, tz-naive-safe hour index: pure timedelta floor
        # (datetime64 .astype(int64) would silently change meaning
        # between ns- and us-backed frames)
        hrs = (pd.to_datetime(pdf["ts"]) - pd.Timestamp("1970-01-01")) // (
            pd.Timedelta(hours=1)
        )
        for v in hrs:
            counts[int(v)] += 1
    if not counts:
        return state, []
    open_hour, open_cnt, e_prev, has_prev = state
    out = []

    def close(hour, cnt):
        nonlocal e_prev, has_prev
        e_prev = (
            cnt * 1_000_000
            if not has_prev
            else (cnt * 1_000_000 + 3 * e_prev) // 4
        )
        has_prev = 1
        out.append((hour, cnt, e_prev))

    for h in sorted(counts):
        if open_hour is None:
            open_hour, open_cnt = h, 0
        elif h > open_hour:
            close(open_hour, open_cnt)
            for gap in range(open_hour + 1, h):
                close(gap, 0)
            open_hour, open_cnt = h, 0
        counts_h = counts[h]
        open_cnt += counts_h
    return (open_hour, open_cnt, e_prev, has_prev), out


def streaming_ewma(
    events: DataFrame, watermark: str | None = "0 seconds"
) -> DataFrame:
    """Streaming form of ``analytics.ewma_series``: per-event-type
    hourly counts folded through the exact integer EWMA recurrence
    e_t = (x_t*1e6 + 3*e_{t-1}) DIV 4, emitting each hour (gap hours
    included, cnt=0) once a later hour's first event closes it. State
    per key is four longs — O(1), corpus-size-independent.

    CONTRACT: exact batch equivalence (ewma_series minus each key's
    still-open max hour) requires the 0-second watermark and a
    time-ordered source, same as first_seen_activity: the single
    open-hour accumulator cannot accept an hour that arrives after a
    later hour already closed it, and append mode cannot retract an
    emitted EWMA. Non-zero delays are rejected; a lateness-tolerant
    variant needs event-time timers holding each hour open until the
    watermark passes it.
    """
    if watermark is None or _watermark_delay_ms(watermark) != 0:
        raise ValueError(
            "streaming_ewma is exact only under a 0-second watermark "
            f"(got {watermark!r}): a closed hour cannot be reopened and "
            "append mode cannot retract an emitted EWMA row. Use the "
            "batch ewma_series for late data."
        )
    src = events.select("event_type", "ts").withWatermark("ts", watermark)

    def _update(key, pdfs, state):
        import pandas as pd

        cur = state.get if state.exists else (None, 0, 0, 0)
        new_state, out = _fold_ewma(tuple(cur), pdfs)
        if new_state[0] is not None:
            state.update(tuple(new_state))
        if not out:
            return
        yield pd.DataFrame(
            [(key[0], h * 3600, c, e) for h, c, e in out],
            columns=["event_type", "hour_epoch", "cnt", "ewma_ppm"],
        )

    return src.groupBy("event_type").applyInPandasWithState(
        _update,
        outputStructType=EWMA_OUTPUT_SCHEMA,
        stateStructType=EWMA_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
