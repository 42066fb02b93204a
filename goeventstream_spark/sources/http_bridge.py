"""R1 wire-path fidelity: the reference's actual network entry point is
an HTTP listener taking ``POST /{stream}/{clientPrivateId}/{lastKnownTick}``
with a JSON GameRequest body (main.go:48-92). This module provides the
live-ingest analogue for the Spark engine:

- :class:`HttpWireBridge` — a stdlib HTTP server that accepts the
  reference's exact wire shape and bridges each request as one JSON
  line over a TCP socket that Spark's built-in ``socket`` streaming
  source consumes. The bridge stamps arrival order (``sync_id``) and
  server wall time (``now_ms``) exactly where the reference does
  (main.go:71), leaving ALL protocol parsing to the engine.
- :func:`wire_stream` — the Spark side of R1: a socket-source stream
  plus the URL-path split and GameRequest JSON decode (main.go:58-69)
  done declaratively, emitting poll rows ready for
  ``streaming.game_server``.

Inline response fidelity (main.go:84-91): the reference answers each
POST in the same HTTP exchange with the GameResponse
``{T, Events, States, ProxyId}``. With ``inline_timeout_s`` set, the
bridge holds each POST open until :func:`serve_inline`'s foreachBatch
sink delivers that sync_id's envelope from ``game_server``, then
replies HTTP 200 with the envelope body — so an UNMODIFIED reference
client polls this engine and receives byte-correct responses. If the
engine does not produce the envelope within the deadline (e.g. the
stream is down), the bridge falls back to the decoupled contract: an
HTTP 202 ACK carrying the assigned sync_id, whose envelope still exits
via the sink. Without ``inline_timeout_s`` the bridge always ACKs 202
— the broker-shaped deployment (ingest decoupled from delivery; the
in-memory queue stands where Kafka would, replaying from the start of
its buffer on socket reconnect = at-least-once).
"""

from __future__ import annotations

import json
import queue
import socket
import threading
import time
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    MapType,
    StringType,
    StructField,
    StructType,
)

class _DaemonPool:
    """Fixed pool of DAEMON worker threads (the bridge's hard handler
    concurrency bound). concurrent.futures' ThreadPoolExecutor is the
    wrong tool here twice over: its workers are non-daemon and joined
    by an atexit hook, so one wedged handler would hang interpreter
    exit, and shutdown(cancel_futures=True) cannot cancel an already
    RUNNING task. Daemon workers + a best-effort drain keep the bridge
    unable to block process exit by construction."""

    def __init__(self, n: int, name: str) -> None:
        self._q: queue.SimpleQueue = queue.SimpleQueue()
        self._threads = [
            threading.Thread(target=self._run, name=f"{name}-{i}", daemon=True)
            for i in range(n)
        ]
        for t in self._threads:
            t.start()

    def _run(self) -> None:
        while True:
            item = self._q.get()
            if item is None:
                return
            fn, args = item
            try:
                fn(*args)
            except Exception:  # noqa: BLE001 - handler errors die quietly
                pass

    def submit(self, fn, *args) -> None:
        self._q.put((fn, args))

    def shutdown(self) -> None:
        for _ in self._threads:
            self._q.put(None)


# GameRequest {Events []Event, State map[string]string} — main.go:97-100;
# posted events carry Type/Body (T/Origin are server-overwritten, so a
# faithful client needn't send them and the engine ignores them if sent).
GAME_REQUEST_SCHEMA = StructType(
    [
        StructField(
            "Events",
            ArrayType(
                StructType(
                    [
                        StructField("Type", StringType()),
                        StructField("Body", StringType()),
                    ]
                )
            ),
        ),
        StructField("State", MapType(StringType(), StringType())),
    ]
)


def _decodes_as_game_request(raw: bytes) -> bool:
    """Would Go's ``json.NewDecoder(body).Decode(&GameRequest)`` succeed
    (main.go:63-68)? Decode reads the first JSON value and ignores
    trailing bytes; empty body is io.EOF (error); the value must be an
    object or null; Events must unmarshal into []Event (list of
    objects, string Type/Body/Origin, integer T) and State into
    map[string]string — any type mismatch errors in Go."""
    try:
        text = raw.decode("utf-8")
        parsed, _end = json.JSONDecoder().raw_decode(text.lstrip())
    except (ValueError, UnicodeDecodeError):
        return False
    if parsed is None:
        return True
    if not isinstance(parsed, dict):
        return False
    events = parsed.get("Events")
    if events is not None:
        if not isinstance(events, list):
            return False
        for e in events:
            if not isinstance(e, dict):
                return False
            for k in ("Type", "Body", "Origin"):
                if k in e and e[k] is not None and not isinstance(e[k], str):
                    return False
            t = e.get("T")
            if t is not None and (isinstance(t, bool) or not isinstance(t, int)):
                return False
    state = parsed.get("State")
    if state is not None:
        if not isinstance(state, dict):
            return False
        if any(v is not None and not isinstance(v, str) for v in state.values()):
            return False
    return True


class HttpWireBridge:
    """Accepts the reference wire protocol over HTTP and re-emits each
    request as one JSON line ``{"sync_id", "now_ms", "path", "body"}``
    on a TCP port for Spark's socket source. ``X-Sim-Now-Ms`` header,
    when present, overrides the server clock (test determinism; the
    reference uses time.Now() — main.go:71)."""

    def __init__(
        self,
        host: str = "127.0.0.1",
        inline_timeout_s: float | None = None,
        pool_workers: int = 32,
    ) -> None:
        self.host = host
        self._lines: list[bytes] = []
        self._lock = threading.Condition()
        self._stop = False
        self._seq = 0
        self._inline_timeout = inline_timeout_s
        self._responses: dict[int, str] = {}
        self._rsp_cond = threading.Condition()
        # Pending inline polls: sync_id -> (hijacked socket, deadline).
        # A held-open POST costs a dict entry + an OS socket, NOT a
        # thread — the single dispatcher thread answers every one, so
        # 10k concurrent pollers and 10 use the same thread budget.
        self._pending: dict[int, tuple[socket.socket, float]] = {}
        bridge = self

        class _Handler(BaseHTTPRequestHandler):
            # A client that connects and never finishes sending its
            # body would otherwise park a bounded-pool worker FOREVER
            # (Content-Length > bytes sent blocks rfile.read); the
            # socket timeout bounds every worker's I/O wait. Hijacked
            # pending polls are unaffected — holding a socket idle is
            # not an I/O operation.
            timeout = 60

            def do_POST(self) -> None:  # noqa: N802 (stdlib casing)
                length = int(self.headers.get("Content-Length", 0))
                raw = self.rfile.read(length) if length else b""
                # Reference behavior (main.go:66-68): a body that does
                # not decode into GameRequest panics — the request has
                # NO effect. Go's net/http panic recovery then CLOSES
                # the connection without writing a response (the client
                # sees a connection error, not a status line); this
                # bridge's 500-with-empty-body is its chosen HTTP
                # analogue of that panic-and-close, not a byte-level
                # match. Mirror
                # Go's json.Decoder.Decode: read the FIRST JSON value
                # (trailing bytes are not validated), require it to
                # unmarshal into the GameRequest struct — object or
                # null at the top, Events a list of objects with
                # string Type/Body/Origin and integer T, State a map
                # of string values. (Divergence, documented: Go also
                # matches field names case-insensitively; the engine's
                # from_json schema is canonical-case only, so the
                # bridge validates the canonical casing.)
                if not _decodes_as_game_request(raw):
                    self.send_response(500)
                    self.send_header("Content-Length", "0")
                    self.send_header("Access-Control-Allow-Origin", "*")
                    self.send_header("Connection", "close")
                    self.end_headers()
                    return
                now_hdr = self.headers.get("X-Sim-Now-Ms")
                now_ms = int(now_hdr) if now_hdr else int(time.time() * 1000)
                with bridge._lock:
                    bridge._seq += 1
                    sid = bridge._seq
                    line = json.dumps(
                        {
                            "sync_id": sid,
                            "now_ms": now_ms,
                            "path": self.path,
                            "body": raw.decode("utf-8"),
                        }
                    ).encode("utf-8")
                    bridge._lines.append(line)
                    bridge._lock.notify_all()
                if bridge._inline_timeout is not None:
                    # Reference inline contract: hold the exchange open
                    # until the engine's envelope for THIS sync arrives.
                    # The wait must NOT hold this worker thread (r5: one
                    # parked thread per pending poll is unbounded), so
                    # the handler HIJACKS the connection — registers the
                    # raw socket with the dispatcher and returns; the
                    # hijack-aware shutdown_request leaves the socket
                    # open and the dispatcher thread writes the 200
                    # envelope (or the 202 ACK at deadline) later.
                    self.close_connection = True
                    bridge._register_pending(
                        sid,
                        self.connection,
                        time.monotonic() + bridge._inline_timeout,
                    )
                    return
                payload = json.dumps({"SyncId": sid}).encode("utf-8")
                self.send_response(202)
                self.send_header("Content-Type", "application/json")
                self.send_header("Content-Length", str(len(payload)))
                # CORS preflight parity with main.go:50-56
                self.send_header("Access-Control-Allow-Origin", "*")
                # one poll per connection: an idle keep-alive poller
                # must not park a bounded-pool worker between polls
                self.send_header("Connection", "close")
                self.end_headers()
                self.wfile.write(payload)

            def do_OPTIONS(self) -> None:  # noqa: N802
                # 200 with CORS headers, exactly the reference's
                # early-return preflight path (main.go:50-56)
                self.send_response(200)
                self.send_header("Content-Length", "0")
                self.send_header("Access-Control-Allow-Origin", "*")
                self.send_header("Access-Control-Allow-Methods", "POST, GET, OPTIONS")
                self.send_header("Access-Control-Allow-Headers", "Content-Type")
                self.end_headers()

            def log_message(self, *args) -> None:  # silence test output
                pass

        class _PooledServer(ThreadingHTTPServer):
            """ThreadingHTTPServer spawns an UNBOUNDED thread per
            connection; this variant runs handlers on a fixed pool
            (`pool_workers` threads — the bridge's hard concurrency
            bound) and skips teardown for sockets a handler hijacked
            (pending inline polls, owned by the dispatcher)."""

            # survive a synchronized poll burst: connections queue in
            # the OS accept backlog while the fixed pool drains them
            # (the stdlib default of 5 drops clients under load)
            request_queue_size = 512

            def __init__(srv, addr, handler):
                srv.hijacked: set[socket.socket] = set()
                srv.hijack_lock = threading.Lock()
                srv.pool = _DaemonPool(pool_workers, "bridge-http")
                super().__init__(addr, handler)

            def process_request(srv, request, client_address):
                srv.pool.submit(
                    srv.process_request_thread, request, client_address
                )

            def shutdown_request(srv, request):
                with srv.hijack_lock:
                    if request in srv.hijacked:
                        return  # dispatcher answers and closes it
                super().shutdown_request(request)

            def server_close(srv):
                super().server_close()
                srv.pool.shutdown()

        self._http = _PooledServer((host, 0), _Handler)
        self.http_port = self._http.server_address[1]
        self._tcp = socket.socket(socket.AF_INET, socket.SOCK_STREAM)
        self._tcp.setsockopt(socket.SOL_SOCKET, socket.SO_REUSEADDR, 1)
        self._tcp.bind((host, 0))
        self._tcp.listen(4)
        self.tcp_port = self._tcp.getsockname()[1]
        self._threads = [
            threading.Thread(target=self._http.serve_forever, daemon=True),
            threading.Thread(target=self._serve_tcp, daemon=True),
            threading.Thread(target=self._dispatch_inline, daemon=True),
        ]

    def start(self) -> "HttpWireBridge":
        for t in self._threads:
            t.start()
        return self

    def _serve_tcp(self) -> None:
        # One feeder thread per connection: a stream restarted on this
        # bridge connects while the feeder of the stopped stream may
        # still wait for lines on a socket whose peer has gone; the new
        # connection must not queue behind it.
        while not self._stop:
            try:
                conn, _ = self._tcp.accept()
            except OSError:
                return
            threading.Thread(target=self._feed, args=(conn,), daemon=True).start()

    def _feed(self, conn: socket.socket) -> None:
        # replay from the start of the buffer (at-least-once on
        # reconnect — what a broker offset-reset would do)
        cursor = 0
        try:
            while not self._stop:
                with self._lock:
                    while cursor >= len(self._lines) and not self._stop:
                        self._lock.wait(timeout=0.2)
                    batch = self._lines[cursor:]
                    cursor = len(self._lines)
                for line in batch:
                    conn.sendall(line + b"\n")
        except OSError:
            pass  # client went away
        finally:
            conn.close()

    def deliver(self, sync_id: int, response: str) -> None:
        """Hand a game_server envelope back to the waiting POST for
        ``sync_id`` (called by :func:`serve_inline`'s foreachBatch
        sink). Envelopes for already-answered/timed-out syncs are kept
        until bridge stop — harmless, bounded by request count."""
        with self._rsp_cond:
            self._responses[int(sync_id)] = response
            self._rsp_cond.notify_all()

    def _register_pending(
        self, sid: int, sock: socket.socket, deadline: float
    ) -> None:
        with self._http.hijack_lock:
            self._http.hijacked.add(sock)
        with self._rsp_cond:
            if not self._stop:
                self._pending[sid] = (sock, deadline)
                self._rsp_cond.notify_all()
                return
        # Shutdown race: a handler can reach here AFTER the dispatcher
        # drained and returned — registering now would leave the poller
        # unanswered and the socket leaked. Answer the documented
        # drain-to-ACK inline instead.
        self._send_and_close(sock, 202, json.dumps({"SyncId": sid}).encode())

    def _send_and_close(
        self, sock: socket.socket, status: int, payload: bytes
    ) -> None:
        reason = {200: "OK", 202: "Accepted"}[status]
        head = (
            f"HTTP/1.1 {status} {reason}\r\n"
            "Content-Type: application/json\r\n"
            f"Content-Length: {len(payload)}\r\n"
            "Access-Control-Allow-Origin: *\r\n"
            "Connection: close\r\n\r\n"
        ).encode("ascii")
        try:
            sock.sendall(head + payload)
        except OSError:
            pass  # poller went away; nothing to answer
        finally:
            with self._http.hijack_lock:
                self._http.hijacked.discard(sock)
            try:
                sock.close()
            except OSError:
                pass

    def _dispatch_inline(self) -> None:
        """The ONE thread that answers every pending inline poll:
        engine envelopes as HTTP 200, deadline expiries as the 202 ACK
        fallback, bridge stop as a drain-to-ACK. Socket writes happen
        outside the lock."""
        while True:
            to_send: list[tuple[socket.socket, int, bytes]] = []
            with self._rsp_cond:
                if self._stop:
                    for sid, (sock, _) in self._pending.items():
                        to_send.append(
                            (sock, 202, json.dumps({"SyncId": sid}).encode())
                        )
                    self._pending.clear()
                else:
                    now = time.monotonic()
                    for sid in list(self._pending):
                        sock, deadline = self._pending[sid]
                        rsp = self._responses.pop(sid, None)
                        if rsp is not None:
                            to_send.append((sock, 200, rsp.encode("utf-8")))
                        elif deadline <= now:
                            to_send.append(
                                (sock, 202, json.dumps({"SyncId": sid}).encode())
                            )
                        else:
                            continue
                        del self._pending[sid]
                    if not to_send:
                        next_dl = min(
                            (d for _, d in self._pending.values()), default=None
                        )
                        self._rsp_cond.wait(
                            timeout=0.2
                            if next_dl is None
                            else max(0.0, min(next_dl - now, 0.2))
                        )
                        continue
            for sock, status, payload in to_send:
                self._send_and_close(sock, status, payload)
            if self._stop:
                return

    def stop(self) -> None:
        self._stop = True
        with self._lock:
            self._lock.notify_all()
        with self._rsp_cond:
            self._rsp_cond.notify_all()
        self._http.shutdown()
        self._http.server_close()
        try:
            self._tcp.close()
        except OSError:
            pass

    def post(self, game: str, client_id: str, last_known: int, events=None, state=None, now_ms: int | None = None) -> int:
        """Test/demo client: one reference-shaped sync POST. Returns the
        assigned sync_id from the ACK."""
        import urllib.request

        body = {}
        if events:
            body["Events"] = [{"Type": t, "Body": b} for t, b in events]
        if state is not None:
            body["State"] = state  # omitempty — absent when not reported
        req = urllib.request.Request(
            f"http://{self.host}:{self.http_port}/{game}/{client_id}/{last_known}",
            data=json.dumps(body).encode("utf-8"),
            method="POST",
            headers={"Content-Type": "application/json"}
            | ({"X-Sim-Now-Ms": str(now_ms)} if now_ms is not None else {}),
        )
        with urllib.request.urlopen(req, timeout=10) as rsp:
            return json.loads(rsp.read())["SyncId"]

    def post_sync(
        self, game: str, client_id: str, last_known: int,
        events=None, state=None, now_ms: int | None = None, timeout: float = 30,
    ) -> tuple[int, str]:
        """Reference-shaped client poll (main.go:84-91 contract):
        returns (http_status, body). Against an inline bridge the body
        is the raw GameResponse envelope (status 200); on inline
        timeout it is the 202 ACK."""
        import urllib.request

        body = {}
        if events:
            body["Events"] = [{"Type": t, "Body": b} for t, b in events]
        if state is not None:
            body["State"] = state
        req = urllib.request.Request(
            f"http://{self.host}:{self.http_port}/{game}/{client_id}/{last_known}",
            data=json.dumps(body).encode("utf-8"),
            method="POST",
            headers={"Content-Type": "application/json"}
            | ({"X-Sim-Now-Ms": str(now_ms)} if now_ms is not None else {}),
        )
        with urllib.request.urlopen(req, timeout=timeout) as rsp:
            return rsp.status, rsp.read().decode("utf-8")


def wire_stream(spark: SparkSession, host: str, port: int) -> DataFrame:
    """The Spark side of R1 (main.go:58-69), declaratively: read the
    bridge's JSON lines from the built-in socket source, split the URL
    path into (game, clientPrivateId, lastKnownTick), and decode the
    GameRequest body — emitting poll rows in the exact shape
    ``streaming.game_server`` consumes. ``last_known_t`` is parsed for
    wire fidelity; the server derives each client's delta from its own
    per-client watermark state, as the reference effectively does for
    honest clients (README.md:20).
    """
    raw = (
        spark.readStream.format("socket")
        .option("host", host)
        .option("port", port)
        .load()
    )
    env_schema = StructType(
        [
            StructField("sync_id", StringType()),
            StructField("now_ms", StringType()),
            StructField("path", StringType()),
            StructField("body", StringType()),
        ]
    )
    env = raw.select(F.from_json("value", env_schema).alias("e")).select("e.*")
    parts = F.split(F.col("path"), "/")  # "/game/client/lastKnown" -> ["", g, c, t]
    req = F.from_json("body", GAME_REQUEST_SCHEMA)
    return env.select(
        parts.getItem(1).alias("game"),
        F.col("sync_id").cast("long").alias("sync_id"),
        parts.getItem(2).cast("long").alias("user_id"),
        F.col("now_ms").cast("long").alias("poll_ms"),
        parts.getItem(3).cast("long").alias("last_known_t"),
        F.when(
            req["Events"].isNotNull(),
            F.to_json(
                F.transform(req["Events"], lambda e: F.array(e["Type"], e["Body"]))
            ),
        ).alias("posted_json"),
        F.when(req["State"].isNotNull(), F.to_json(req["State"])).alias("state_json"),
    )


def serve_inline(
    spark: SparkSession,
    bridge: HttpWireBridge,
    trigger_ms: int = 200,
    checkpoint_dir: str | None = None,
):
    """Wire the full reference server loop: bridge -> socket source ->
    declarative URL/JSON parse -> streaming ``game_server`` ->
    foreachBatch delivery back into the bridge, which answers each held
    POST with its envelope (main.go:84-91 inline contract). Returns the
    StreamingQuery; stop it before stopping the bridge.

    The delivery sink runs driver-side (foreachBatch body) and collects
    each micro-batch — bounded by the poll rate per trigger, never by
    corpus size; the heavy lifting (parse, per-game state machine)
    stays distributed in game_server.

    Each POST waits for one trigger. ``game_server`` runs every state
    partition on every trigger (``spark.sql.shuffle.partitions`` at the
    first start of the checkpoint), each a Python task plus a RocksDB
    commit. Per trigger of 4 polls on 4 partitions (local[4], 4-core
    x86, medians): ~520 ms trigger = ~420 ms addBatch + ~35 ms planning
    + ~35 ms WAL + ~35 ms offset commit. Inside addBatch, summed over
    the 4 parallel partitions: ~310 ms of state updates (the Python
    task) and ~600 ms of state commits, ~520 ms of it
    ``rocksdbCommitFileSyncLatencyMs``. With the engine's worker daemon
    (see ``session``) the per-task zip re-read is gone and the RocksDB
    commit is the next floor; under the stock daemon state updates took
    ~1.35 s summed.
    """
    from goeventstream_spark.streaming import game_server

    def _deliver(batch_df: DataFrame, _batch_id: int) -> None:
        for row in batch_df.select("sync_id", "response").collect():
            bridge.deliver(row.sync_id, row.response)

    writer = (
        game_server(wire_stream(spark, bridge.host, bridge.tcp_port))
        .writeStream.foreachBatch(_deliver)
        .outputMode("append")
        .trigger(processingTime=f"{trigger_ms} milliseconds")
    )
    if checkpoint_dir is not None:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    return writer.start()
