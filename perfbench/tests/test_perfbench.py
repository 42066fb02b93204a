"""Tests of the benchmark's own code (no Spark session needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import threading
import time
from itertools import islice

import pytest

from perfbench import datagen, measure, serve

FIXTURES = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixtures")


def _fixture(name):
    with open(os.path.join(FIXTURES, name)) as f:
        return f.read()


# ---- inputs -------------------------------------------------------------


@pytest.mark.parametrize("workload", sorted(serve.WORKLOADS))
def test_same_seed_gives_byte_identical_schedule(workload):
    a = serve.schedule_bytes(7, workload, 40)
    assert a == serve.schedule_bytes(7, workload, 40)
    assert a != serve.schedule_bytes(8, workload, 40)


def test_schedule_keeps_every_client_inside_the_client_timeout():
    polls = list(islice(serve.game_schedule(3, "serve_poll", 0), 200))
    last_seen = {}
    for p in polls:
        if p["client"] in last_seen:
            assert p["now_ms"] - last_seen[p["client"]] < 10_000
        last_seen[p["client"]] = p["now_ms"]
    assert sorted(last_seen) == list(range(1, serve.CLIENTS + 1))
    assert all(len(p["events"]) <= 1 for p in polls)


def test_ingest_prefill_takes_each_game_past_ten_thousand_events():
    shape = serve.WORKLOADS["serve_ingest"]
    polls = list(islice(serve.game_schedule(1, "serve_ingest", 2), shape["prefill"]))
    assert sum(len(p["events"]) for p in polls) >= 10_000


def test_tables_repeat_per_seed_and_vary_across_seeds():
    a, b, c = datagen.make_tables(3), datagen.make_tables(3), datagen.make_tables(4)
    assert set(a) == {"region", "nation", "customer", "supplier", "part", "orders",
                      "lineitem", "events", "documents", "embeddings"}
    for name in a:
        assert a[name].equals(b[name])
    assert not a["lineitem"].equals(c["lineitem"])
    assert a["lineitem"].num_rows == datagen.ROWS["lineitem"]


def test_every_variant_has_expected_values():
    exp = datagen.load_expected()
    from perfbench import analytics

    for v in range(datagen.VARIANTS):
        assert set(exp["analytics"][str(v)]) == set(analytics.ALL_QUERIES)
        assert all(len(h) == serve.EXPECTED_POLLS for h in exp["serve_poll"][str(v)].values())


# ---- statistics and spans ----------------------------------------------


def test_percentile_needs_ten_samples_beyond():
    xs = list(range(1, 201))  # 200 samples: p95 is rank 190, 10 beyond
    assert measure.percentile(xs, 95) == 190
    assert measure.percentile(xs[:199], 95) is None  # 9 beyond
    assert measure.percentile(list(range(100)), 90) == 89
    assert measure.percentile(list(range(99)), 90) is None
    assert measure.percentile([], 50) is None


def test_union_length_merges_overlaps():
    assert measure.union_length([(0, 2), (1, 3), (5, 6)]) == 4
    assert measure.union_length([]) == 0
    assert measure.clip([(0, 10), (20, 30)], 5, 25) == [(5, 10), (20, 25)]


def test_steal_share_is_stolen_over_all_ticks_between_readings():
    assert measure.steal_share((1000, 10), (1400, 22)) == 12 / 400
    assert measure.steal_share((1000, 10), (1000, 10)) == 0.0
    total, stolen = measure.cpu_ticks()
    assert total > 0 and 0 <= stolen <= total


def test_span_self_time_subtracts_children():
    tr = measure.Tracer(enabled=True)
    with tr.span("outer", rid="r1") as outer:
        time.sleep(0.02)
        with tr.span("inner") as inner:
            time.sleep(0.03)
    assert inner["parent"] == outer["id"] and inner["rid"] == "r1"
    own = tr.self_time(outer)
    assert 0.015 < own < (outer["end"] - outer["start"]) - 0.025


def test_disabled_tracer_records_nothing():
    tr = measure.Tracer(enabled=False)
    with tr.span("x"):
        pass
    tr.record("y", 0.0, 1.0)
    assert tr.spans == []


def test_digest_ignores_row_order_and_last_bit_float_noise():
    rows = [{"a": 1, "b": 0.1 + 0.2, "c": [1.0, None]}, {"a": 2, "b": 3.0, "c": []}]
    same = [{"c": [], "b": 3.0, "a": 2}, {"a": 1, "b": 0.3, "c": [1.0, None]}]
    other = [{"a": 1, "b": 0.3001, "c": [1.0, None]}, {"a": 2, "b": 3.0, "c": []}]
    assert measure.digest_rows(rows) == measure.digest_rows(same)
    assert measure.digest_rows(rows) != measure.digest_rows(other)


# ---- parsers, against recorded fixtures ---------------------------------


def test_event_log_parser_on_recorded_fixture():
    # word_count to the noop sink (jobs 1 and 2; job 2 reuses job 1's
    # shuffle, so its map stage is skipped) and one serve_inline batch
    events = [json.loads(line) for line in _fixture("eventlog.jsonl").splitlines() if line]
    log = measure.parse_event_log(events)
    jobs = log["jobs"]
    assert sorted(jobs) == [1, 2, 6]
    assert jobs[1]["group"] == jobs[2]["group"] == "p0:word_count|exec"
    assert jobs[1]["batch_id"] is None and jobs[6]["batch_id"] == 3
    assert all(j["end_ms"] >= j["start_ms"] for j in jobs.values())
    wc = measure.stage_totals(log, [1, 2])
    assert (wc["stages"], wc["tasks"]) == (2, 2)
    assert wc["shuffle_write_bytes"] == wc["shuffle_read_bytes"] > 0
    assert wc["shuffle_write_records"] > 0
    batch = measure.stage_totals(log, [6])
    assert (batch["stages"], batch["tasks"]) == (2, 8)
    assert batch["skew"] > 1.0
    assert batch["cpu_ms"] > 0 and batch["run_ms"] > 0
    assert measure.job_intervals_s(log, [6, 99]) == [
        (jobs[6]["start_ms"] / 1000.0, jobs[6]["end_ms"] / 1000.0)
    ]


def test_progress_parser_on_recorded_fixture():
    progress = json.loads(_fixture("progress.json"))
    trig = measure.parse_progress(progress)
    with_rows = [p for p in progress if p["numInputRows"] > 0]
    assert len(trig) == len(with_rows) == 3
    t, p = trig[0], with_rows[0]
    assert (t["batch_id"], t["rows"]) == (p["batchId"], p["numInputRows"])
    assert t["add_batch_ms"] == p["durationMs"]["addBatch"]
    assert t["exec_ms"] == p["durationMs"]["triggerExecution"]
    ops = p["stateOperators"]
    assert t["state_update_ms"] == sum(o["allUpdatesTimeMs"] for o in ops)
    assert t["state_instances"] == sum(o["numStateStoreInstances"] for o in ops) == 4
    assert t["state_sst_bytes"] == sum(o["customMetrics"]["rocksdbSstFileSize"] for o in ops) > 0
    assert t["ts"] > 1.7e9


# ---- load generator -----------------------------------------------------


def test_generator_keeps_at_most_nproc_threads(monkeypatch):
    monkeypatch.setattr(os, "cpu_count", lambda: 2)
    assert serve.n_games() == 2
    monkeypatch.setattr(os, "cpu_count", lambda: 64)
    assert serve.n_games() == serve.GAMES
    assert serve.GAMES <= 4


class _FakeBridge:
    """Counts concurrent post_sync calls (open connections)."""

    def __init__(self):
        self.lock = threading.Lock()
        self.open = 0
        self.max_open = 0
        self.calls = 0

    def post_sync(self, game, client, last_known, events=None, state=None, now_ms=None, timeout=0):
        with self.lock:
            self.open += 1
            self.calls += 1
            self.max_open = max(self.max_open, self.open)
        time.sleep(0.005)
        with self.lock:
            self.open -= 1
        return 200, json.dumps({"T": 1, "Events": [], "States": [], "ProxyId": "1"})


def test_closed_loop_holds_one_connection_per_thread():
    bridge = _FakeBridge()
    start, box = threading.Event(), [time.perf_counter() + 0.3]
    clients = [
        serve._Client(bridge, 1, "serve_poll", g, measure.Tracer(False), start, box)
        for g in range(serve.n_games())
    ]
    for c in clients:
        c.start()
    start.set()
    for c in clients:
        c.join(timeout=10)
    assert not any(c.is_alive() for c in clients)
    assert all(c.error is None for c in clients)
    assert bridge.calls > len(clients)
    assert bridge.max_open <= len(clients) <= (os.cpu_count() or 1)
