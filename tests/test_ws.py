"""`/api/ws` websocket hub: RFC 6455 handshake/framing plus the
SpanAdded broadcast after ingest (otel-worker/src/lib.rs:69-72,
ws/worker.rs:12-97, api/models.rs:55-121)."""

from __future__ import annotations

import base64
import json
import os
import socket

import pytest

from otel_worker_spark import ws
from otel_worker_spark.api import TraceApi, serve
from otel_worker_spark.fixtures import (
    GOLDEN_CHILD_SPAN_ID,
    GOLDEN_ROOT_SPAN_ID,
    GOLDEN_TRACE_ID,
    golden_trace_envelope,
    service_lookup_df,
)
from otel_worker_spark.pipeline import PipelineStores


def test_accept_key_rfc_vector():
    # the worked example from RFC 6455 §1.3
    assert (
        ws.accept_key("dGhlIHNhbXBsZSBub25jZQ==")
        == "s3pPLMBiTxaQ9kYGzzhZRbK+xOo="
    )


def test_frame_round_trip_masked_and_plain():
    class FakeSock:
        def __init__(self, data):
            self.data = data

        def recv(self, n):
            out, self.data = self.data[:n], self.data[n:]
            return out

    for mask in (False, True):
        for payload in (b"", b"x", b"a" * 200, os.urandom(70000)):
            frame = ws.encode_frame(payload, ws.OP_TEXT, mask=mask)
            got = ws.read_frame(FakeSock(frame))
            assert got == (ws.OP_TEXT, payload)


def _ws_connect(host, port):
    s = socket.create_connection((host, port), timeout=30)
    key = base64.b64encode(os.urandom(16)).decode()
    s.sendall(
        (
            f"GET /api/ws HTTP/1.1\r\nHost: {host}:{port}\r\n"
            "Upgrade: websocket\r\nConnection: Upgrade\r\n"
            f"Sec-WebSocket-Key: {key}\r\nSec-WebSocket-Version: 13\r\n\r\n"
        ).encode()
    )
    buf = b""
    while b"\r\n\r\n" not in buf:
        buf += s.recv(4096)
    return s, buf.decode(), key


def test_ws_upgrade_broadcast_ping_close(spark, tmp_root):
    stores = PipelineStores(spark, tmp_root + "/stores")
    api = TraceApi(spark, stores, service_lookup_df(spark), token="tok")
    srv = serve(api)
    try:
        host, port = srv.server_address
        sock, headers, key = _ws_connect(host, port)
        # handshake: 101, correct accept, the reference's ws-id header
        assert " 101 " in headers.splitlines()[0]
        assert ws.accept_key(key) in headers
        assert ws.WS_ID_HEADER in headers.lower() or "Otel-Worker-Websocket-Id" in headers
        assert srv.ws_hub.connection_count() == 1

        # ingest over HTTP (note: /api/ws itself needed no bearer) →
        # SpanAdded broadcast arrives as one text frame
        import urllib.request

        body = json.dumps(golden_trace_envelope(), separators=(",", ":")).encode()
        req = urllib.request.Request(
            f"http://{host}:{port}/v1/traces", data=body, method="POST"
        )
        req.add_header("Content-Type", "application/json")
        req.add_header("Authorization", "Bearer tok")
        with urllib.request.urlopen(req) as resp:
            assert resp.status == 200
        opcode, payload = ws.read_frame(sock)
        assert opcode == ws.OP_TEXT
        msg = json.loads(payload)
        assert msg["type"] == "spanAdded"
        pairs = {tuple(p) for p in msg["details"]["newSpans"]}
        assert (GOLDEN_TRACE_ID, GOLDEN_ROOT_SPAN_ID) in pairs
        assert (GOLDEN_TRACE_ID, GOLDEN_CHILD_SPAN_ID) in pairs
        assert "messageId" not in msg  # skip_serializing_if None

        # ping → pong with the same payload (client frames masked)
        sock.sendall(ws.encode_frame(b"hb", ws.OP_PING, mask=True))
        assert ws.read_frame(sock) == (ws.OP_PONG, b"hb")

        # close → echoed close, hub retires the connection
        sock.sendall(ws.encode_frame(b"", ws.OP_CLOSE, mask=True))
        opcode, _ = ws.read_frame(sock)
        assert opcode == ws.OP_CLOSE
        sock.close()
        import time

        for _ in range(50):
            if srv.ws_hub.connection_count() == 0:
                break
            time.sleep(0.1)
        assert srv.ws_hub.connection_count() == 0
    finally:
        srv.shutdown()


def test_failed_span_added_broadcast_is_logged(spark, tmp_root, monkeypatch, caplog):
    """A SpanAdded broadcast that fails (here: the manifest read) never
    fails the ingest, but leaves a warning with the traceback."""
    import logging
    import urllib.request

    stores = PipelineStores(spark, tmp_root + "/stores")
    api = TraceApi(spark, stores, service_lookup_df(spark))

    def broken_read_batch(batch_id):
        raise OSError("manifest unreadable")

    monkeypatch.setattr(stores.manifest, "read_batch", broken_read_batch)
    srv = serve(api)
    try:
        host, port = srv.server_address
        sock, _headers, _key = _ws_connect(host, port)
        assert srv.ws_hub.connection_count() == 1
        body = json.dumps(golden_trace_envelope(), separators=(",", ":")).encode()
        req = urllib.request.Request(
            f"http://{host}:{port}/v1/traces", data=body, method="POST"
        )
        req.add_header("Content-Type", "application/json")
        with caplog.at_level(logging.WARNING, logger="otel_worker_spark.api"):
            with urllib.request.urlopen(req) as resp:
                assert resp.status == 200
        sock.close()
    finally:
        srv.shutdown()
    (rec,) = [r for r in caplog.records if r.name == "otel_worker_spark.api"]
    assert rec.levelno == logging.WARNING and "SpanAdded" in rec.getMessage()
    assert rec.exc_info and "manifest unreadable" in str(rec.exc_info[1])


def test_ws_route_requires_upgrade_header(spark, tmp_root):
    stores = PipelineStores(spark, tmp_root + "/stores")
    api = TraceApi(spark, stores, service_lookup_df(spark))
    srv = serve(api)
    try:
        host, port = srv.server_address
        import urllib.error
        import urllib.request

        try:
            urllib.request.urlopen(f"http://{host}:{port}/api/ws")
            status = 200
        except urllib.error.HTTPError as e:
            status = e.code
        # StatusCode::UPGRADE_REQUIRED (ws/handlers.rs:33-36)
        assert status == 426
    finally:
        srv.shutdown()


def test_read_frame_timeout_is_not_fatal():
    class TimeoutSock:
        def recv(self, n):
            raise TimeoutError()

    assert ws.read_frame(TimeoutSock()) == (ws.OP_NONE, b"")


def test_idle_subscriber_outlives_send_timeout_and_still_receives(spark, tmp_root):
    """The send-protection socket timeout (10 s) must not evict an
    IDLE subscriber: after sitting past the timeout, the connection
    still receives the next broadcast."""
    import time
    import urllib.request

    stores = PipelineStores(spark, tmp_root + "/stores")
    api = TraceApi(spark, stores, service_lookup_df(spark))
    srv = serve(api)
    try:
        host, port = srv.server_address
        sock, _headers, _key = _ws_connect(host, port)
        time.sleep(11)
        assert srv.ws_hub.connection_count() == 1
        body = json.dumps(golden_trace_envelope(), separators=(",", ":")).encode()
        req = urllib.request.Request(
            f"http://{host}:{port}/v1/traces", data=body, method="POST"
        )
        req.add_header("Content-Type", "application/json")
        with urllib.request.urlopen(req) as resp:
            assert resp.status == 200
        opcode, payload = ws.read_frame(sock)
        assert opcode == ws.OP_TEXT
        assert json.loads(payload)["type"] == "spanAdded"
        sock.close()
    finally:
        srv.shutdown()


def test_debug_ws_cli_prints_span_added(spark, tmp_root):
    """jobs.py debug-ws (the reference's debug client): connects,
    reports the ws id, and prints the spanAdded broadcast."""
    import os as _os
    import subprocess
    import sys
    import threading
    import urllib.request

    stores = PipelineStores(spark, tmp_root + "/stores")
    api = TraceApi(spark, stores, service_lookup_df(spark))
    srv = serve(api)
    try:
        host, port = srv.server_address
        jobs = _os.path.join(
            _os.path.dirname(_os.path.dirname(_os.path.abspath(__file__))), "jobs.py"
        )
        proc = subprocess.Popen(
            [sys.executable, jobs, "debug-ws",
             "--endpoint", f"ws://{host}:{port}/api/ws", "--max-messages", "1"],
            stdout=subprocess.PIPE,
            text=True,
        )
        first = proc.stdout.readline()
        assert json.loads(first)["connected"] is True

        def ingest():
            body = json.dumps(golden_trace_envelope(), separators=(",", ":")).encode()
            req = urllib.request.Request(
                f"http://{host}:{port}/v1/traces", data=body, method="POST"
            )
            req.add_header("Content-Type", "application/json")
            urllib.request.urlopen(req).read()

        t = threading.Thread(target=ingest)
        t.start()
        msg = json.loads(proc.stdout.readline())
        assert msg["type"] == "spanAdded"
        t.join(60)
        proc.wait(timeout=60)
    finally:
        srv.shutdown()


def test_read_frame_midframe_timeout_closes_not_desyncs():
    """ADVICE r3: a timeout that fires AFTER part of a frame was
    consumed cannot be treated as an idle tick — the byte stream can
    no longer be re-framed, so read_frame must signal close (None).
    Zero-byte timeouts stay idle ticks (previous test)."""

    class OneByteThenTimeout:
        def __init__(self):
            self.sent = False

        def recv(self, n):
            if not self.sent:
                self.sent = True
                return b"\x81"  # first header byte of a text frame
            raise TimeoutError()

    assert ws.read_frame(OneByteThenTimeout()) is None

    class HeaderThenTimeout:
        """Complete 2-byte header, then timeout before the payload."""

        def __init__(self):
            self.chunks = [b"\x81", b"\x05"]

        def recv(self, n):
            if self.chunks:
                return self.chunks.pop(0)
            raise TimeoutError()

    assert ws.read_frame(HeaderThenTimeout()) is None
