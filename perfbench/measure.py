"""Measurement helpers shared by the workloads: spans, percentiles,
process-tree memory, output digests, and parsers for the Spark event log
and ``StreamingQuery.recentProgress``.

Everything here is plain Python with no Spark import, so the parsers and
helpers can be tested against recorded fixtures without a JVM.
"""

from __future__ import annotations

import datetime as _dt
import decimal
import hashlib
import math
import os
import statistics
import threading
import time
from contextlib import contextmanager, nullcontext

# Significant digits kept when a float enters an output digest. Enough to
# catch any real change, few enough that a last-bit difference from a
# different floating-point summation order does not flip the digest.
FLOAT_DIGITS = 9
RSS_INTERVAL_S = 0.25


# --------------------------------------------------------------------------
# statistics
# --------------------------------------------------------------------------


def median(values) -> float:
    return float(statistics.median(values))


def geomean(values) -> float:
    return math.exp(sum(math.log(v) for v in values) / len(values))


def percentile(values, p: float, min_beyond: int = 10) -> float | None:
    """The ``p``-th percentile (nearest rank) of ``values``, or None when
    fewer than ``min_beyond`` samples lie above it — a percentile with a
    handful of samples beyond it is one or two outliers, not a tail."""
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        return None
    rank = max(1, math.ceil(p / 100.0 * n))
    if n - rank < min_beyond:
        return None
    return float(xs[rank - 1])


def union_length(intervals) -> float:
    """Total length covered by a set of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def clip(intervals, lo: float, hi: float):
    return [(max(s, lo), min(e, hi)) for s, e in intervals if e > lo and s < hi]


# --------------------------------------------------------------------------
# spans
# --------------------------------------------------------------------------


class Tracer:
    """In-memory spans (name, start, end, parent, request id) in
    wall-clock seconds, so they line up with the millisecond timestamps
    of the Spark event log. A disabled tracer records nothing and its
    ``span`` costs one attribute test."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self._lock = threading.Lock()
        self._local = threading.local()

    def span(self, name: str, rid: str | None = None, **attrs):
        if not self.enabled:
            return nullcontext()
        return self._span(name, rid, attrs)

    @contextmanager
    def _span(self, name, rid, attrs):
        stack = self._local.__dict__.setdefault("stack", [])
        rec = {
            "id": None,
            "name": name,
            "parent": stack[-1]["id"] if stack else None,
            "rid": rid if rid is not None else (stack[-1]["rid"] if stack else None),
            "start": time.time(),
            "end": None,
            **attrs,
        }
        with self._lock:
            rec["id"] = len(self.spans)
            self.spans.append(rec)
        stack.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            stack.pop()

    def record(self, name: str, start: float, end: float, rid=None, **attrs) -> None:
        """Add a span measured elsewhere (e.g. on another thread)."""
        if not self.enabled:
            return
        with self._lock:
            self.spans.append(
                {"id": len(self.spans), "name": name, "parent": None, "rid": rid,
                 "start": start, "end": end, **attrs}
            )

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def self_time(self, span: dict) -> float:
        kids = [(c["start"], c["end"]) for c in self.spans if c["parent"] == span["id"]]
        dur = span["end"] - span["start"]
        return dur - union_length(clip(kids, span["start"], span["end"]))


# --------------------------------------------------------------------------
# process-tree memory
# --------------------------------------------------------------------------


def _tree_rss_bytes(root: int, skip: int) -> int:
    """Resident bytes of ``root`` and its descendants, leaving out the
    subtree of ``skip``."""
    children: dict[int, list[int]] = {}
    rss: dict[int, int] = {}
    page = os.sysconf("SC_PAGE_SIZE")
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
            with open(f"/proc/{entry}/statm") as f:
                resident = int(f.read().split()[1])
        except (OSError, IndexError, ValueError):
            continue  # process ended while we looked
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        pid = int(entry)
        children.setdefault(ppid, []).append(pid)
        rss[pid] = resident * page
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        if pid != skip:
            total += rss.get(pid, 0)
            todo.extend(children.get(pid, ()))
    return total


def _sample_until_eof(root: int, interval_s: float) -> None:
    """Sampler process body: print one JSON list of [wall time, bytes]
    samples of ``root``'s process tree once stdin reaches end of file."""
    import json
    import select
    import sys

    samples = []
    while True:
        samples.append([time.time(), _tree_rss_bytes(root, os.getpid())])
        ready, _, _ = select.select([sys.stdin], [], [], interval_s)
        if ready and not sys.stdin.read(1):
            print(json.dumps(samples))
            return


class TreeRss:
    """Samples the resident memory of this process and all its
    descendants (driver Python, JVM, Python workers) from a separate
    process, so that sampling never holds this interpreter's lock."""

    def __init__(self) -> None:
        self._proc = None
        self.samples: list[tuple[float, int]] = []

    def __enter__(self) -> "TreeRss":
        import subprocess
        import sys

        code = "import sys; from perfbench.measure import _sample_until_eof; " \
               "_sample_until_eof(int(sys.argv[1]), float(sys.argv[2]))"
        root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        self._proc = subprocess.Popen(
            [sys.executable, "-c", code, str(os.getpid()), str(RSS_INTERVAL_S)],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True, cwd=root,
        )
        return self

    def __exit__(self, *exc) -> None:
        import json

        out, _ = self._proc.communicate(timeout=60)
        self.samples = [tuple(s) for s in json.loads(out)]

    def peak_mb(self) -> float:
        return max(b for _, b in self.samples) / (1024 * 1024)

    def median_mb(self, lo: float, hi: float) -> float:
        """Median resident memory over the wall-clock window [lo, hi]."""
        inside = [b for t, b in self.samples if lo <= t <= hi]
        return median(inside) / (1024 * 1024) if inside else self.peak_mb()


# --------------------------------------------------------------------------
# host control
# --------------------------------------------------------------------------


# A timed sample (one query execution, one poll) is calm when the
# hypervisor stole less than this share of the CPU time while it ran. On a
# shared host other tenants steal 0-20% in bursts of seconds, and a sample
# taken in such a burst reads up to 1.5x slow; the program under test
# cannot change how much is stolen.
CALM_STEAL = 0.03


def cpu_ticks() -> tuple[int, int]:
    """(all ticks, stolen ticks) of this machine's CPUs since boot."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return sum(ticks), ticks[7] if len(ticks) > 7 else 0


def steal_share(before: tuple[int, int], after: tuple[int, int]) -> float:
    """Share of the CPU time between two ``cpu_ticks`` readings that the
    hypervisor stole."""
    total = after[0] - before[0]
    return (after[1] - before[1]) / total if total > 0 else 0.0


def calibrate_s(n: int = 1_000_000) -> float:
    """Seconds of a fixed pure-Python loop: the host's single-thread speed
    right now, independent of the program under test."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(n):
        acc += i * i
    return time.perf_counter() - t0


def stray_spark_pids() -> list[int]:
    """Spark JVMs and Python workers that are not this process's
    descendants: leftovers of earlier runs that would compete for CPU."""
    parent, cmd = {}, {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                parent[int(entry)] = int(f.read().rsplit(")", 1)[1].split()[1])
            with open(f"/proc/{entry}/cmdline", "rb") as f:
                cmd[int(entry)] = f.read().replace(b"\0", b" ").decode(errors="replace")
        except (OSError, IndexError, ValueError):
            continue
    me = os.getpid()

    def mine(pid):
        while pid > 1:
            if pid == me:
                return True
            pid = parent.get(pid, 0)
        return False

    return sorted(p for p, c in cmd.items()
                  if ("org.apache.spark" in c or "pyspark.daemon" in c or "pyspark.worker" in c)
                  and not mine(p))


class HostControl:
    """What the host did around a run, for telling a slow program from a
    slow host: the calibration loop before and after, the share of CPU
    time the hypervisor stole during the run, and stray Spark processes
    found at the start."""

    def __enter__(self) -> "HostControl":
        self.report = {"calib_before_s": calibrate_s(), "stray_spark_pids": stray_spark_pids()}
        self._ticks = cpu_ticks()
        return self

    def __exit__(self, *exc) -> None:
        self.report["steal_share"] = steal_share(self._ticks, cpu_ticks())
        self.report["calib_after_s"] = calibrate_s()


# --------------------------------------------------------------------------
# output digests
# --------------------------------------------------------------------------


def canonical(value) -> str:
    """A stable text form of one output value: floats to FLOAT_DIGITS
    significant digits, nested rows, lists and maps recursively."""
    if value is None:
        return "null"
    if isinstance(value, bool):
        return "true" if value else "false"
    if isinstance(value, int):
        return str(value)
    if isinstance(value, float):
        if math.isnan(value):
            return "nan"
        if value == 0.0:
            return "0"
        return format(value, f".{FLOAT_DIGITS}g")
    if isinstance(value, decimal.Decimal):
        return canonical(float(value))
    if isinstance(value, str):
        return repr(value)
    if isinstance(value, (bytes, bytearray)):
        return "0x" + bytes(value).hex()
    if isinstance(value, (_dt.datetime, _dt.date)):
        return value.isoformat()
    if isinstance(value, dict):
        items = sorted((canonical(k), canonical(v)) for k, v in value.items())
        return "{" + ",".join(f"{k}:{v}" for k, v in items) + "}"
    if hasattr(value, "asDict"):  # pyspark Row
        return canonical(value.asDict(recursive=False))
    if isinstance(value, (list, tuple)):
        return "[" + ",".join(canonical(v) for v in value) + "]"
    return repr(value)


def digest_rows(rows: list[dict]) -> str:
    """Order-insensitive digest of a result: each row's columns in name
    order, the rows sorted, then SHA-256 of the lot."""
    lines = sorted(
        "|".join(f"{k}={canonical(r[k])}" for k in sorted(r)) for r in rows
    )
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode("utf-8"))
        h.update(b"\n")
    return h.hexdigest()


# --------------------------------------------------------------------------
# Spark event log
# --------------------------------------------------------------------------


def parse_event_log(events) -> dict:
    """Reduce parsed Spark event-log records (one dict per line) to
    jobs, stages and tasks.

    jobs:   id -> {group, batch_id, start_ms, end_ms, stages}
    stages: id -> {tasks, run_ms, cpu_ms, gc_ms, shuffle_write_bytes,
                   shuffle_write_records, shuffle_read_bytes, spill_bytes,
                   task_run_ms (list)}
    """
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = {}
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            batch = props.get("streaming.sql.batchId")
            jobs[ev["Job ID"]] = {
                "group": props.get("spark.jobGroup.id"),
                "batch_id": int(batch) if batch is not None else None,
                "start_ms": ev["Submission Time"],
                "end_ms": None,
                "stages": list(ev.get("Stage IDs") or []),
            }
        elif kind == "SparkListenerJobEnd":
            if ev["Job ID"] in jobs:
                jobs[ev["Job ID"]]["end_ms"] = ev["Completion Time"]
        elif kind == "SparkListenerTaskEnd":
            m = ev.get("Task Metrics")
            if not m:
                continue
            st = stages.setdefault(
                ev["Stage ID"],
                {"tasks": 0, "run_ms": 0, "cpu_ms": 0.0, "gc_ms": 0,
                 "shuffle_write_bytes": 0, "shuffle_write_records": 0,
                 "shuffle_read_bytes": 0, "spill_bytes": 0, "task_run_ms": []},
            )
            sw = m.get("Shuffle Write Metrics") or {}
            sr = m.get("Shuffle Read Metrics") or {}
            st["tasks"] += 1
            st["run_ms"] += m.get("Executor Run Time", 0)
            st["cpu_ms"] += m.get("Executor CPU Time", 0) / 1e6
            st["gc_ms"] += m.get("JVM GC Time", 0)
            st["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
            st["shuffle_write_records"] += sw.get("Shuffle Records Written", 0)
            st["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get(
                "Local Bytes Read", 0
            )
            st["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                "Disk Bytes Spilled", 0
            )
            st["task_run_ms"].append(m.get("Executor Run Time", 0))
    return {"jobs": jobs, "stages": stages}


def read_event_log(log_dir: str, app_id: str) -> dict:
    """Parse the event log of application ``app_id`` under ``log_dir``:
    a single file, or a directory of rolled ``events_<n>_...`` files."""
    import json

    name = next(n for n in os.listdir(log_dir) if app_id in n)
    path = os.path.join(log_dir, name)
    if os.path.isdir(path):
        parts = [n for n in os.listdir(path) if n.startswith("events_")]
        files = [os.path.join(path, n) for n in sorted(parts, key=lambda n: int(n.split("_")[1]))]
    else:
        files = [path]
    events = []
    for fname in files:
        with open(fname) as f:
            events.extend(json.loads(line) for line in f if line.strip())
    return parse_event_log(events)


def stage_totals(log: dict, job_ids) -> dict:
    """Sum the task metrics of every stage that ran for ``job_ids``.
    ``task.skew`` is the worst stage's max/median task run time."""
    out = {"stages": 0, "tasks": 0, "run_ms": 0, "cpu_ms": 0.0, "gc_ms": 0,
           "shuffle_write_bytes": 0, "shuffle_write_records": 0,
           "shuffle_read_bytes": 0, "spill_bytes": 0, "skew": 1.0}
    seen = set()
    for j in job_ids:
        for sid in log["jobs"].get(j, {}).get("stages", []):
            st = log["stages"].get(sid)
            if st is None or sid in seen:
                continue  # skipped stage (shuffle reuse) ran no tasks
            seen.add(sid)
            out["stages"] += 1
            for k in ("tasks", "run_ms", "cpu_ms", "gc_ms", "shuffle_write_bytes",
                      "shuffle_write_records", "shuffle_read_bytes", "spill_bytes"):
                out[k] += st[k]
            runs = st["task_run_ms"]
            med = statistics.median(runs)
            if len(runs) > 1 and med > 0:
                out["skew"] = max(out["skew"], max(runs) / med)
    return out


def job_intervals_s(log: dict, job_ids) -> list[tuple[float, float]]:
    return [
        (log["jobs"][j]["start_ms"] / 1000.0, log["jobs"][j]["end_ms"] / 1000.0)
        for j in job_ids
        if j in log["jobs"] and log["jobs"][j]["end_ms"] is not None
    ]


# --------------------------------------------------------------------------
# StreamingQuery.recentProgress
# --------------------------------------------------------------------------


def parse_progress(progress) -> list[dict]:
    """One record per trigger that processed input, from the JSON form of
    ``StreamingQuery.recentProgress`` entries (idle progress reports with
    no input rows are skipped)."""
    out = []
    for p in progress:
        rows = p.get("numInputRows", 0)
        dur = p.get("durationMs") or {}
        if rows <= 0 or "addBatch" not in dur:
            continue
        ops = p.get("stateOperators") or []
        out.append(
            {
                "batch_id": p["batchId"],
                "ts": _dt.datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp(),
                "rows": rows,
                "exec_ms": dur.get("triggerExecution", 0),
                "add_batch_ms": dur.get("addBatch", 0),
                "planning_ms": dur.get("queryPlanning", 0),
                "wal_ms": dur.get("walCommit", 0),
                "commit_offsets_ms": dur.get("commitOffsets", 0),
                "state_update_ms": sum(o.get("allUpdatesTimeMs", 0) for o in ops),
                "state_commit_ms": sum(o.get("commitTimeMs", 0) for o in ops),
                "state_memory_bytes": sum(o.get("memoryUsedBytes", 0) for o in ops),
                # RocksDB reports its memtable/cache use as memoryUsedBytes;
                # the size of the state itself is in its SST files
                "state_sst_bytes": sum(
                    (o.get("customMetrics") or {}).get("rocksdbSstFileSize", 0) for o in ops
                ),
                "state_rows_total": sum(o.get("numRowsTotal", 0) for o in ops),
                "state_instances": sum(o.get("numStateStoreInstances", 0) for o in ops),
            }
        )
    return out
