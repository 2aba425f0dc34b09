"""Real HTTP round-trips against the serving shim: reference route
table, status codes (200/204/400/401/404), camelCase wire JSON, and
the OTLP ingest content-type echo (api.rs:62-91, handlers/*.rs,
middleware/auth.rs)."""

from __future__ import annotations

import json
import urllib.error
import urllib.request

import pytest

from otel_worker_spark.api import TraceApi, serve
from otel_worker_spark.fixtures import (
    GOLDEN_CHILD_SPAN_ID,
    GOLDEN_ROOT_SPAN_ID,
    GOLDEN_TRACE_ID,
    golden_trace_envelope,
    service_lookup_df,
)
from otel_worker_spark.pipeline import PipelineStores

TOKEN = "s3cret-token"


def _req(base, path, method="GET", body=None, headers=None):
    req = urllib.request.Request(base + path, data=body, method=method)
    for k, v in (headers or {}).items():
        req.add_header(k, v)
    try:
        with urllib.request.urlopen(req) as resp:
            return resp.status, resp.read(), dict(resp.headers)
    except urllib.error.HTTPError as e:
        return e.code, e.read(), dict(e.headers)


@pytest.fixture()
def server(spark, tmp_root):
    stores = PipelineStores(spark, tmp_root + "/stores")
    api = TraceApi(spark, stores, service_lookup_df(spark))
    srv = serve(api)
    host, port = srv.server_address
    yield f"http://{host}:{port}", api
    srv.shutdown()


def _ingest_golden(base):
    body = json.dumps(golden_trace_envelope(), separators=(",", ":")).encode()
    return _req(
        base, "/v1/traces", "POST", body, {"Content-Type": "application/json"}
    )


def test_http_round_trip(server):
    base, _api = server
    status, out, _ = _ingest_golden(base)
    assert status == 200 and json.loads(out) == {}

    # list → one TraceSummary, camelCase keys, spans ordered by start
    status, out, _ = _req(base, "/v1/traces?limit=5")
    assert status == 200
    traces = json.loads(out)
    assert [t["traceId"] for t in traces] == [GOLDEN_TRACE_ID]
    spans = traces[0]["spans"]
    assert [s["spanId"] for s in spans] == [GOLDEN_ROOT_SPAN_ID, GOLDEN_CHILD_SPAN_ID]
    # root omits parentSpanId on the wire (serde skips None)
    assert "parentSpanId" not in spans[0]
    assert spans[1]["parentSpanId"] == GOLDEN_ROOT_SPAN_ID

    # point GETs
    status, out, _ = _req(base, f"/v1/traces/{GOLDEN_TRACE_ID}")
    assert status == 200 and json.loads(out)["traceId"] == GOLDEN_TRACE_ID
    status, out, _ = _req(base, f"/v1/traces/{GOLDEN_TRACE_ID}/spans")
    assert status == 200 and len(json.loads(out)) == 2
    status, out, _ = _req(
        base, f"/v1/traces/{GOLDEN_TRACE_ID}/spans/{GOLDEN_CHILD_SPAN_ID}"
    )
    assert status == 200
    got = json.loads(out)
    assert got["name"] == "database.query" and got["kind"] == "Client"

    # 404 mappings (valid hex, absent rows)
    status, out, _ = _req(base, "/v1/traces/" + "ab" * 16)
    assert status == 404 and json.loads(out) == {"error": "notFound"}
    status, out, _ = _req(
        base, f"/v1/traces/{GOLDEN_TRACE_ID}/spans/" + "ab" * 8
    )
    assert status == 404 and json.loads(out) == {"error": "spanNotFound"}

    # only a missing limit defaults to 20: limit=0 is an empty page;
    # a limit or time the Query extractor can't parse → 400, not 500
    status, out, _ = _req(base, "/v1/traces?limit=0")
    assert status == 200 and json.loads(out) == []
    assert _req(base, "/v1/traces?limit=abc")[0] == 400
    assert _req(base, "/v1/traces?limit=-1")[0] == 400
    assert _req(base, "/v1/traces?time=yesterday")[0] == 400
    status, out, _ = _req(base, "/v1/traces?limit=99999999999")
    assert status == 200 and len(json.loads(out)) == 1

    # HexEncodedId path rejection → 400; router fallback → 404
    assert _req(base, "/v1/traces/not-hex")[0] == 400
    assert _req(base, f"/v1/traces/{GOLDEN_TRACE_ID}/spans/zz")[0] == 400
    assert _req(base, "/v1/other")[0] == 404
    assert _req(base, f"/v1/traces/{GOLDEN_TRACE_ID}/nope")[0] == 404


def test_http_deletes(server):
    base, _api = server
    # a never-written store deletes nothing, without error
    assert _req(base, f"/v1/traces/{GOLDEN_TRACE_ID}", "DELETE")[0] == 204
    assert _req(base, f"/v1/traces/{GOLDEN_TRACE_ID}/spans/{GOLDEN_CHILD_SPAN_ID}", "DELETE")[0] == 204
    _ingest_golden(base)
    status, out, _ = _req(
        base,
        f"/v1/traces/{GOLDEN_TRACE_ID}/spans/{GOLDEN_CHILD_SPAN_ID}",
        "DELETE",
    )
    assert status == 204 and out == b""
    assert (
        _req(base, f"/v1/traces/{GOLDEN_TRACE_ID}/spans/{GOLDEN_CHILD_SPAN_ID}")[0]
        == 404
    )
    assert len(json.loads(_req(base, f"/v1/traces/{GOLDEN_TRACE_ID}/spans")[1])) == 1

    status, out, _ = _req(base, f"/v1/traces/{GOLDEN_TRACE_ID}", "DELETE")
    assert status == 204
    assert _req(base, f"/v1/traces/{GOLDEN_TRACE_ID}")[0] == 404
    assert json.loads(_req(base, "/v1/traces")[1]) == []


def test_reads_reuse_one_snapshot_per_commit(spark, tmp_root, monkeypatch):
    """A commit's first read plans over the files and its second builds
    the cached snapshot; later reads reuse it without reading the table.
    This process's next commit replaces it, and shutting the server down
    releases it."""
    stores = PipelineStores(spark, tmp_root + "/stores")
    api = TraceApi(spark, stores, service_lookup_df(spark))
    srv = serve(api)
    base = "http://%s:%d" % srv.server_address
    try:
        _ingest_golden(base)
        reads = []
        real_read = stores.spans.read
        monkeypatch.setattr(
            stores.spans, "read", lambda *a, **k: reads.append(k) or real_read(*a, **k)
        )
        assert not api._spans().is_cached
        snap = api._spans()
        assert snap.is_cached
        assert _req(base, "/v1/traces")[0] == 200
        assert _req(base, f"/v1/traces/{GOLDEN_TRACE_ID}")[0] == 200
        assert _req(base, f"/v1/traces/{GOLDEN_TRACE_ID}/spans/{GOLDEN_CHILD_SPAN_ID}")[0] == 200
        assert api._spans() is snap
        assert reads == [{"as_of": stores.spans.latest_seq()}] * 2

        _req(base, f"/v1/traces/{GOLDEN_TRACE_ID}/spans/{GOLDEN_CHILD_SPAN_ID}", "DELETE")
        assert not api._spans().is_cached and snap.is_cached
        fresh = api._spans()
        assert fresh is not snap and not snap.is_cached and fresh.is_cached
        assert reads[-1] == {"as_of": stores.spans.latest_seq()}
    finally:
        srv.shutdown()
    assert not fresh.is_cached and api._snapshot is None


def test_span_get_runs_one_job(server, spark):
    """A point read over a warm snapshot is one Spark job, whichever
    partition holds the span, and answers as before."""
    base, api = server
    _ingest_golden(base)
    api._spans(), api._spans()  # plain read, then the snapshot build
    tracker = spark.sparkContext.statusTracker()
    for span_id in (GOLDEN_ROOT_SPAN_ID, GOLDEN_CHILD_SPAN_ID, "ee" * 8):
        group = f"span-get-{span_id}"
        spark.sparkContext.setJobGroup(group, group)
        try:
            status, body = api.span_get(GOLDEN_TRACE_ID, span_id)
        finally:
            spark.sparkContext.setJobGroup("", "")
        assert len(tracker.getJobIdsForGroup(group)) == 1
        if span_id == "ee" * 8:
            assert (status, body) == (404, {"error": "spanNotFound"})
        else:
            assert status == 200 and body["spanId"] == span_id


def test_reads_do_not_wait_for_a_snapshot_build(server, monkeypatch):
    """While one read builds the snapshot, other reads of the same
    commit answer from the plan over the files instead of waiting."""
    import threading

    base, api = server
    _ingest_golden(base)
    assert api.trace_get(GOLDEN_TRACE_ID)[0] == 200  # first read: no build
    started, release = threading.Event(), threading.Event()
    real_build = api._build_snapshot

    def held_build(*a):
        started.set()
        assert release.wait(120)
        return real_build(*a)

    monkeypatch.setattr(api, "_build_snapshot", held_build)
    build_status = []
    build_read = threading.Thread(
        target=lambda: build_status.append(api.trace_get(GOLDEN_TRACE_ID)[0])
    )
    build_read.start()
    try:
        assert started.wait(120)
        assert not api._spans().is_cached
        assert [t["traceId"] for t in json.loads(_req(base, "/v1/traces")[1])] == [
            GOLDEN_TRACE_ID
        ]
        assert api.span_get(GOLDEN_TRACE_ID, GOLDEN_CHILD_SPAN_ID)[0] == 200
    finally:
        release.set()
        build_read.join(timeout=120)
    assert not build_read.is_alive() and build_status == [200]
    assert api._spans().is_cached


OTHER_TRACE_ID = "cd" * 16


def _commit_from_another_writer(spark, root):
    """The golden spans under OTHER_TRACE_ID, committed through a
    second PipelineStores on the same root."""
    from otel_worker_spark.fixtures import token_df_from_payloads
    from otel_worker_spark.pipeline import ingest_batch

    env = golden_trace_envelope()
    for sp in env["resourceSpans"][0]["scopeSpans"][0]["spans"]:
        sp["traceId"] = OTHER_TRACE_ID
    tok = token_df_from_payloads(spark, [json.dumps(env, separators=(",", ":"))])
    ingest_batch(spark, tok, service_lookup_df(spark), PipelineStores(spark, root), "other")


def test_reads_see_another_writers_commit(server, spark, tmp_root):
    """A batch committed by another writer on the same root shows up on
    the next request, although this process serves a snapshot."""
    base, api = server
    _ingest_golden(base)
    for _ in range(2):
        assert [t["traceId"] for t in json.loads(_req(base, "/v1/traces")[1])] == [
            GOLDEN_TRACE_ID
        ]
    assert api._spans().is_cached
    _commit_from_another_writer(spark, tmp_root + "/stores")
    for _ in range(2):  # the plan over the files, then the new snapshot
        listed = {t["traceId"] for t in json.loads(_req(base, "/v1/traces")[1])}
        assert listed == {GOLDEN_TRACE_ID, OTHER_TRACE_ID}
        status, out, _ = _req(base, "/v1/traces/" + OTHER_TRACE_ID)
        assert status == 200 and len(json.loads(out)["spans"]) == 2


def test_concurrent_reads_build_each_snapshot_once(server, spark, tmp_root, monkeypatch):
    """Reads from more threads than cores race a commit by another
    writer: every read answers, the commit is visible afterwards, and
    no commit's snapshot is built twice (the build claim is
    check-then-act)."""
    import os
    import sys
    import threading

    base, api = server
    _ingest_golden(base)
    built = []
    real_build = api._build_snapshot
    monkeypatch.setattr(
        api, "_build_snapshot", lambda seq, *a: built.append(seq) or real_build(seq, *a)
    )
    statuses = []

    def reader():
        for _ in range(3):
            statuses.append(api.trace_get(GOLDEN_TRACE_ID)[0])

    threads = [threading.Thread(target=reader) for _ in range(2 * (os.cpu_count() or 2))]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        for t in threads:
            t.start()
        _commit_from_another_writer(spark, tmp_root + "/stores")
        for t in threads:
            t.join(timeout=300)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert statuses == [200] * 3 * len(threads)
    for _ in range(2):
        assert len(api.span_list(OTHER_TRACE_ID)[1]) == 2
    assert built and len(built) == len(set(built))
    assert built[-1] == api.stores.spans.latest_seq()


def test_http_ingest_idempotent_and_protobuf(server, spark):
    base, api = server
    # same export re-delivered → no duplicate spans
    _ingest_golden(base)
    _ingest_golden(base)
    assert len(json.loads(_req(base, f"/v1/traces/{GOLDEN_TRACE_ID}/spans")[1])) == 2

    # protobuf ingest: response echoes the content type with an empty
    # (no partial_success) body; spans land identically
    from otel_worker_spark.proto import encode_export_request

    env = golden_trace_envelope()
    for sp in env["resourceSpans"][0]["scopeSpans"][0]["spans"]:
        sp["traceId"] = "cd" * 16  # a second trace, over the wire path
    wire = encode_export_request(env)
    status, out, headers = _req(
        base, "/v1/traces", "POST", wire, {"Content-Type": "application/x-protobuf"}
    )
    assert status == 200 and out == b""
    assert len(json.loads(_req(base, "/v1/traces/" + "cd" * 16 + "/spans")[1])) == 2


def test_http_ingest_non_utf8_json_quarantines(server):
    """A JSON body that is not UTF-8 answers 200 like malformed JSON and
    lands as one undecodable_payload quarantine row."""
    base, api = server
    body = b'{"resourceSpans":[{"x":"\xff\xfe"}]}'
    status, out, _ = _req(
        base, "/v1/traces", "POST", body, {"Content-Type": "application/json"}
    )
    assert status == 200 and out == b"{}"
    rows = api.stores.spans.read().filter("signal = 'quarantine'").collect()
    assert [(r.invalid_reason, r.n_tok) for r in rows] == [("undecodable_payload", len(body))]
    assert json.loads(_req(base, "/v1/traces")[1]) == []


def test_http_ingest_malformed_protobuf_is_400(server):
    """Malformed protobuf wire bytes are a client error, as on the gRPC
    path (INVALID_ARGUMENT): 400, nothing written."""
    base, api = server
    status, out, _ = _req(
        base, "/v1/traces", "POST", b"\x0a\xff\x01", {"Content-Type": "application/x-protobuf"}
    )
    assert status == 400 and out == b""
    assert api.stores.spans.committed_batches() == {}


def test_http_auth_gate(spark, tmp_root):
    stores = PipelineStores(spark, tmp_root + "/stores-auth")
    api = TraceApi(spark, stores, service_lookup_df(spark), token=TOKEN)
    srv = serve(api)
    base = "http://%s:%s" % srv.server_address
    try:
        assert _req(base, "/v1/traces")[0] == 401          # missing header
        assert _req(base, "/v1/traces", headers={"Authorization": f"Bearer wrong"})[0] == 401
        assert _req(base, "/v1/traces", headers={"Authorization": f"bearer {TOKEN}"})[0] == 401
        status, out, _ = _req(base, "/v1/traces", headers={"Authorization": f"Bearer {TOKEN}"})
        assert status == 200 and json.loads(out) == []
        # ingest behind the gate too
        body = json.dumps(golden_trace_envelope(), separators=(",", ":")).encode()
        assert _req(base, "/v1/traces", "POST", body, {"Content-Type": "application/json"})[0] == 401
        assert _req(
            base, "/v1/traces", "POST", body,
            {"Content-Type": "application/json", "Authorization": f"Bearer {TOKEN}"},
        )[0] == 200
    finally:
        srv.shutdown()


def test_client_cli_round_trip(server):
    """The jobs.py `client` wrappers (reference: otel-worker-cli
    client traces/spans commands) against a live server: list, get,
    delete, and the 404→exit-1 path. The client process is pure
    urllib — no Spark session."""
    import os
    import subprocess
    import sys

    base, _api = server
    _ingest_golden(base)
    jobs = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "jobs.py")

    def run(*args):
        return subprocess.run(
            [sys.executable, jobs, "client", *args, "--base-url", base],
            capture_output=True,
            text=True,
            timeout=120,
        )

    out = run("traces-list", "--limit", "5")
    assert out.returncode == 0
    traces = json.loads(out.stdout)
    assert [t["traceId"] for t in traces] == [GOLDEN_TRACE_ID]

    out = run("span-get", "--trace-id", GOLDEN_TRACE_ID,
              "--span-id", GOLDEN_CHILD_SPAN_ID)
    assert out.returncode == 0
    assert json.loads(out.stdout)["spanId"] == GOLDEN_CHILD_SPAN_ID

    out = run("trace-get", "--trace-id", "00" * 16)
    assert out.returncode == 1
    assert json.loads(out.stdout) == {"error": "notFound"}

    out = run("trace-delete", "--trace-id", GOLDEN_TRACE_ID)
    assert out.returncode == 0
    out = run("traces-list")
    assert out.returncode == 0 and json.loads(out.stdout) == []


def test_gzip_request_and_response_codings(server):
    """RequestDecompressionLayer parity (api.rs:85): a gzip'd export
    body inflates transparently; CompressionLayer parity (api.rs:
    87-90): responses gzip only when the client advertises it; an
    unknown content coding is refused."""
    import gzip

    base, _api = server
    body = json.dumps(golden_trace_envelope(), separators=(",", ":")).encode()
    status, out, _ = _req(
        base, "/v1/traces", "POST", gzip.compress(body, mtime=0),
        {"Content-Type": "application/json", "Content-Encoding": "gzip"},
    )
    assert status == 200 and json.loads(out) == {}

    # plain client → plain response
    status, out, headers = _req(base, "/v1/traces?limit=5")
    assert status == 200 and "Content-Encoding" not in headers
    plain = json.loads(out)

    # gzip-capable client → gzip'd response, same content
    status, out, headers = _req(
        base, "/v1/traces?limit=5", headers={"Accept-Encoding": "gzip"}
    )
    assert status == 200 and headers.get("Content-Encoding") == "gzip"
    assert json.loads(gzip.decompress(out)) == plain

    # unsupported request coding → 415
    status, _, _ = _req(
        base, "/v1/traces", "POST", b"xx",
        {"Content-Type": "application/json", "Content-Encoding": "br"},
    )
    assert status == 415


def test_gzip_bomb_is_413_not_oom(server):
    """ADVICE r3: the 10 MiB body limit must apply to the DECOMPRESSED
    stream (DefaultBodyLimit inside RequestDecompressionLayer,
    api.rs:66,85). A small gzip bomb that inflates to ~64 MiB must
    bounce with 413 after at most ~10 MiB of inflate work — never
    buffer the expansion."""
    import gzip

    bomb = gzip.compress(b"\x00" * (64 * 1024 * 1024), mtime=0)
    assert len(bomb) < 1024 * 1024  # small on the wire
    status, _, _ = _req(
        base := server[0], "/v1/traces", "POST", bomb,
        {"Content-Type": "application/json", "Content-Encoding": "gzip"},
    )
    assert status == 413

    # corrupt gzip stays a 400, as before
    status, _, _ = _req(
        base, "/v1/traces", "POST", b"\x1f\x8b\x00garbage",
        {"Content-Type": "application/json", "Content-Encoding": "gzip"},
    )
    assert status == 400


def test_unauthed_bad_content_length_gets_401(spark, tmp_root):
    """r5 advice: a non-numeric Content-Length on the UNauthenticated
    path must still produce the 401 (with the connection closed, since
    the body can't be safely drained) — previously the int() parse sat
    outside _route's try and an uncaught ValueError dropped the
    connection with a server-side traceback."""
    import socket as _socket

    stores = PipelineStores(spark, tmp_root + "/stores-badcl")
    api = TraceApi(spark, stores, service_lookup_df(spark), token=TOKEN)
    srv = serve(api)
    host, port = srv.server_address
    try:
        sock = _socket.create_connection((host, port), timeout=10)
        sock.sendall(
            b"POST /v1/traces HTTP/1.1\r\nHost: x\r\n"
            b"Content-Type: application/json\r\n"
            b"Content-Length: banana\r\n\r\n"
        )
        sock.settimeout(10)
        data = b""
        while True:
            got = sock.recv(65536)
            if not got:
                break
            data += got
        sock.close()
        assert b" 401" in data.split(b"\r\n", 1)[0]
        assert data.count(b"HTTP/1.") == 1  # closed, no desynced follow-up
    finally:
        srv.shutdown()


def test_oversized_post_bounce_closes_connection(server):
    """r4 advice: a 413 sent without draining the body must close the
    connection — otherwise a keep-alive client's unread body bytes get
    parsed as the next request line (garbage 400s)."""
    import socket as _socket

    base, _api = server
    host, port = base.replace("http://", "").split(":")
    sock = _socket.create_connection((host, int(port)), timeout=10)
    body_decl = 20 * 1024 * 1024
    req = (
        f"POST /v1/traces HTTP/1.1\r\nHost: x\r\n"
        f"Connection: keep-alive\r\nContent-Type: application/json\r\n"
        f"Content-Length: {body_decl}\r\n\r\n"
    ).encode() + b"GET /not-a-request HTTP/1.1\r\n\r\n"
    sock.sendall(req)
    sock.settimeout(10)
    data = b""
    while True:
        try:
            got = sock.recv(65536)
        except TimeoutError:
            raise AssertionError("server kept the desynced connection open")
        if not got:
            break
        data += got
    sock.close()
    # exactly ONE response — the 413 — and no second (garbage) response
    assert data.split(b"\r\n", 1)[0].endswith(b"413 Request Entity Too Large") or b" 413 " in data.split(b"\r\n", 1)[0] + b" "
    assert data.count(b"HTTP/1.") == 1
