"""MCP JSON-RPC adapter: protocol handshake, resources, tools, error
codes and the SpanAdded → list_changed notification loop, mirrored
against otel-worker-cli/src/commands/mcp.rs."""

from __future__ import annotations

import io
import json

import pytest

from otel_worker_spark.api import TraceApi
from otel_worker_spark.fixtures import (
    GOLDEN_TRACE_ID,
    golden_trace_envelope,
    service_lookup_df,
)
from otel_worker_spark.mcp import MCP_VERSION, McpServer
from otel_worker_spark.pipeline import PipelineStores


@pytest.fixture()
def mcp(spark, tmp_root):
    stores = PipelineStores(spark, tmp_root + "/stores")
    api = TraceApi(spark, stores, service_lookup_df(spark))
    srv = McpServer(api)
    body = json.dumps(golden_trace_envelope(), separators=(",", ":")).encode()
    api.ingest(body, "application/json")
    return srv


def _req(srv, method, params=None, id=1):
    return srv.handle({"jsonrpc": "2.0", "id": id, "method": method, "params": params})


def test_initialize_and_ping(mcp):
    out = _req(mcp, "initialize", {"protocolVersion": MCP_VERSION})
    r = out["result"]
    assert r["protocolVersion"] == MCP_VERSION
    assert r["capabilities"]["resources"]["listChanged"] is True
    assert "tools" in r["capabilities"] and r["serverInfo"]["name"]
    # only 2024-11-05 is supported (mcp.rs:296-299)
    bad = _req(mcp, "initialize", {"protocolVersion": "2025-01-01"})
    assert bad["error"]["code"] == -32602
    assert _req(mcp, "ping")["result"] == {}


def test_resources_list_and_read(mcp):
    out = _req(mcp, "resources/list")
    res = out["result"]["resources"]
    assert res == [
        {"name": f"trace {GOLDEN_TRACE_ID}", "uri": f"trace://{GOLDEN_TRACE_ID}"}
    ]
    got = _req(mcp, "resources/read", {"uri": f"trace://{GOLDEN_TRACE_ID}"})
    contents = got["result"]["contents"]
    assert len(contents) == 2
    assert all(c["mimeType"] == "application/json" for c in contents)
    assert all(c["uri"].startswith("span://") for c in contents)
    assert json.loads(contents[0]["text"])["traceId"] == GOLDEN_TRACE_ID
    # unknown scheme → invalid params (mcp.rs bail on resource_type)
    assert _req(mcp, "resources/read", {"uri": "span://x"})["error"]["code"] == -32602
    assert _req(mcp, "resources/read", {"uri": "no-scheme"})["error"]["code"] == -32602


def test_tools(mcp):
    tools = _req(mcp, "tools/list")["result"]["tools"]
    assert [t["name"] for t in tools] == ["get_trace"]
    assert tools[0]["inputSchema"]["required"] == ["trace_id"]

    out = _req(mcp, "tools/call", {"name": "get_trace", "arguments": {"trace_id": GOLDEN_TRACE_ID}})
    r = out["result"]
    assert r["isError"] is False
    summary = json.loads(r["content"][0]["text"])
    assert summary["traceId"] == GOLDEN_TRACE_ID and len(summary["spans"]) == 2

    missing = _req(mcp, "tools/call", {"name": "get_trace", "arguments": {"trace_id": "ab" * 16}})
    assert missing["result"]["isError"] is True
    assert _req(mcp, "tools/call", {"name": "nope", "arguments": {}})["error"]["code"] == -32601
    assert _req(mcp, "tools/call", {"name": "get_trace", "arguments": {}})["error"]["code"] == -32602
    assert _req(mcp, "unknown/method")["error"]["code"] == -32601


def test_stdio_loop_and_notifications(spark, tmp_root):
    stores = PipelineStores(spark, tmp_root + "/stores")
    api = TraceApi(spark, stores, service_lookup_df(spark))
    srv = McpServer(api)
    body = json.dumps(golden_trace_envelope(), separators=(",", ":")).encode()

    lines = [
        json.dumps({"jsonrpc": "2.0", "id": 1, "method": "initialize",
                    "params": {"protocolVersion": MCP_VERSION}}),
        "not json at all",
        json.dumps({"jsonrpc": "2.0", "method": "notifications/initialized"}),
        json.dumps({"jsonrpc": "2.0", "id": 2, "method": "ping"}),
    ]

    # SpanAdded lands between cursor establishment and the loop: the
    # stdio loop must interleave a list_changed notification
    srv.poll_notifications()
    api.ingest(body, "application/json")
    out = io.StringIO()
    srv.serve_stdio(iter(lines), out)
    msgs = [json.loads(l) for l in out.getvalue().splitlines()]

    notes = [m for m in msgs if m.get("method") == "notifications/resources/list_changed"]
    assert len(notes) == 1                             # one new manifest batch
    replies = [m for m in msgs if "result" in m or "error" in m]
    assert replies[0]["id"] == 1 and "result" in replies[0]
    assert replies[1]["error"]["code"] == -32700       # parse error
    assert replies[-1]["id"] == 2 and replies[-1]["result"] == {}
    # the client notification produced no response: 3 replies total
    assert len(replies) == 3


def test_mcp_cli_over_stdio(spark, tmp_root):
    """jobs.py mcp: the reference's `otel-worker mcp` stdio transport
    (mcp.rs:545-551) as a process over a store another process wrote —
    stdout carries the JSON-RPC responses and nothing else."""
    import os
    import subprocess
    import sys

    stores_dir = os.path.join(tmp_root, "stores")
    api = TraceApi(spark, PipelineStores(spark, stores_dir), service_lookup_df(spark))
    body = json.dumps(golden_trace_envelope(), separators=(",", ":")).encode()
    assert api.ingest(body, "application/json")[0] == 200

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    stdin = "".join(
        json.dumps(m) + "\n"
        for m in (
            {"jsonrpc": "2.0", "id": 1, "method": "initialize",
             "params": {"protocolVersion": MCP_VERSION}},
            {"jsonrpc": "2.0", "id": 2, "method": "resources/list"},
        )
    )
    done = subprocess.run(
        [sys.executable, os.path.join(repo, "jobs.py"), "mcp", "--stores", stores_dir],
        input=stdin, capture_output=True, text=True, cwd=repo,
        env=dict(os.environ, SPARK_GRAFT_CPUS="2"), timeout=600,
    )
    assert done.returncode == 0, done.stderr[-2000:]
    init, listed = [json.loads(line) for line in done.stdout.splitlines()]
    assert init["id"] == 1 and init["result"]["protocolVersion"] == MCP_VERSION
    assert listed["id"] == 2
    assert listed["result"]["resources"] == [
        {"name": f"trace {GOLDEN_TRACE_ID}", "uri": f"trace://{GOLDEN_TRACE_ID}"}
    ]
