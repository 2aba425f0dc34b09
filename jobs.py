#!/usr/bin/env python
"""spark-submit entrypoints for the engine.

Run on a cluster as:

    spark-submit --py-files otel_worker_spark.zip jobs.py ingest \\
        --tokens /data/token_sequences --stores /data/otel \\
        --checkpoint /data/otel/_ckpt [--stream]

    spark-submit ... jobs.py ingest --resume --tokens /data/token_sequences \\
        --stores /data/otel          (resumable: skips committed offsets)
    spark-submit ... jobs.py ingest-metrics --stores /data/otel
    spark-submit ... jobs.py traces-list --stores /data/otel --limit 20
    spark-submit ... jobs.py delete-trace --stores /data/otel --trace-id <hex>
    spark-submit ... jobs.py token-curate --tokens /data/token_sequences \\
        --out /data/gate --bench /data/benchmarks [--kept-out /data/kept]
        [--mixture --rates-out /data/rates]
    spark-submit ... jobs.py ann-build --embeddings /data/emb --index /data/ann
    spark-submit ... jobs.py ann-serve --embeddings /data/emb --index /data/ann --k 5
    spark-submit ... jobs.py bench           (local benchmarking, see bench.py)

Local mode works identically (the session factory picks master from
SPARK_GRAFT_CPUS). The ingest job is the reference's dev server
(otel-worker-cli `dev` command) re-expressed as a Spark job; each
query subcommand is one of the reference's HTTP endpoints
(SURVEY.md §2.11).
"""

from __future__ import annotations

import argparse
import json
import os
import sys

from otel_worker_spark.fixtures import service_lookup_df
from otel_worker_spark.lineage import OffsetLog, ingest_directory
from otel_worker_spark.parse_arrow import valid_hex
from otel_worker_spark.pipeline import PipelineStores, ingest_batch
from otel_worker_spark.queries import NotFound, trace_get, traces_list
from otel_worker_spark.session import get_spark
from otel_worker_spark.streaming import start_ingest_stream


def _stores(spark, root: str) -> PipelineStores:
    return PipelineStores(spark, root)


def cmd_ingest(args) -> None:
    spark = get_spark("ingest")
    stores = _stores(spark, args.stores)
    lookup = service_lookup_df(spark)
    offsets = OffsetLog(spark, args.stores)
    if args.stream:
        q = start_ingest_stream(
            spark, args.tokens, lookup, stores,
            checkpoint_dir=args.checkpoint, available_now=not args.continuous,
            offsets=offsets,
        )
        q.awaitTermination()
    elif args.resume:
        # resumable batch ingest from the checkpointed offset table:
        # files already covered by a committed offset are skipped
        receipts = ingest_directory(
            spark, args.tokens, lookup, stores, offsets,
            files_per_batch=args.files_per_batch,
        )
        for r in receipts:
            print(json.dumps({
                "batch_id": r["batch_id"], "row_count": r["row_count"],
                "skipped": r["skipped"],
                "rows_per_s": r["metrics"]["rows_per_s"],
            }))
    else:
        tokens = spark.read.parquet(args.tokens)
        receipt = ingest_batch(spark, tokens, lookup, stores, batch_id=args.batch_id)
        print(json.dumps({k: receipt[k] for k in ("batch_id", "row_count", "skipped")}))


def cmd_ingest_metrics(args) -> None:
    """Per-batch ingest-rate metrics + per-sink lineage from the
    offset table (the north rule's observability face)."""
    spark = get_spark("ingest-metrics")
    offsets = OffsetLog(spark, args.stores)
    for row in offsets.metrics_df().collect():
        print(json.dumps(row.asDict()))
    for row in (
        offsets.lineage_df().groupBy("partition").sum("rows").collect()
    ):
        print(json.dumps({"partition": row[0], "rows": row[1]}))


def cmd_traces_list(args) -> None:
    spark = get_spark("traces-list")
    spans = _stores(spark, args.stores).spans.read().filter("signal != 'quarantine'")
    for row in traces_list(spans, limit=args.limit, time=args.time).collect():
        print(json.dumps({"traceId": row.trace_id, "endTime": str(row.end_time)}))


def cmd_trace_get(args) -> None:
    spark = get_spark("trace-get")
    spans = _stores(spark, args.stores).spans.read().filter("signal != 'quarantine'")
    try:
        row = trace_get(spans, args.trace_id)
    except NotFound:
        print(json.dumps({"error": "not found"}))
        sys.exit(4)
    print(
        json.dumps(
            {
                "traceId": row.trace_id,
                "spans": [
                    {k: str(v) for k, v in s.asDict().items() if k != "_ord"}
                    for s in row.spans
                ],
            }
        )
    )


def cmd_delete_trace(args) -> None:
    # validate BEFORE interpolating into the predicate string — same
    # hex gate the parse stage enforces (reference rejects non-hex ids
    # at deserialization, data/models.rs:93-95)
    if not valid_hex(args.trace_id):
        print(json.dumps({"error": "trace-id must be lowercase hex"}))
        sys.exit(2)
    spark = get_spark("delete-trace")
    n = _stores(spark, args.stores).spans.delete_where(
        f"trace_id = '{args.trace_id}'"
    )
    print(json.dumps({"rowsAffected": n}))


def cmd_curate(args) -> None:
    """Run the corpus curation DAG (quality filter -> exact-dedup
    survivors -> train split -> sequence packing) over a documents
    parquet and write the packed-chunk table + a summary receipt."""
    from otel_worker_spark.ops.corpus import curate_and_pack

    spark = get_spark("curate")
    docs = spark.read.parquet(args.docs)
    packed = curate_and_pack(docs, capacity=args.capacity)
    packed.write.mode("errorifexists").option("compression", "zstd").parquet(args.out)
    from pyspark.sql import functions as F

    row = spark.read.parquet(args.out).agg(
        F.count("*").alias("spans"),
        F.countDistinct("doc_id").alias("docs"),
        F.sum("n_in_chunk").alias("tokens"),
        F.countDistinct("source", "chunk_id").alias("chunks"),
    ).collect()[0]
    print(json.dumps({
        "inputDocs": docs.count(),
        "packedDocs": row["docs"],
        "chunks": row["chunks"],
        "tokens": row["tokens"],
        "capacity": args.capacity,
        "out": args.out,
    }))


def cmd_token_curate(args) -> None:
    """Run the token-native release gate (Lee-et-al dup-rate filter +
    benchmark L-gram decontamination, ops/token_stats.curation_gate)
    over a north-rule token parquet: write the per-doc gate table,
    optionally the kept token rows, and print a JSON receipt."""
    from pyspark.sql import functions as F

    from otel_worker_spark.ops import token_stats as tks

    if args.rates_out and not args.mixture:
        raise SystemExit("token-curate: --rates-out requires --mixture")
    spark = get_spark("token-curate")
    tok = spark.read.parquet(args.tokens)
    bench = (
        tks.benchmark_grams(spark.read.parquet(args.bench))
        if args.bench
        else None
    )
    gate = tks.curation_gate(tok, bench_grams_df=bench)
    gate.write.mode("errorifexists").option("compression", "zstd").parquet(args.out)
    gate = spark.read.parquet(args.out)
    kept_tok = tok.join(
        gate.where("kept = 1").select("doc_id"), "doc_id", "left_semi"
    )
    sampled = None
    if args.mixture:
        # α=1/2 temperature mixture over the POST-gate corpus: the
        # gate decides admissibility, the mixture decides volume.
        # Rates are frozen from this snapshot (and optionally
        # persisted — the artifact streaming.sample_gate_stream
        # serves), then the deterministic md5-uniform gate thins.
        rates = tks.sample_rates(tks.mixture_weights(kept_tok))
        if args.rates_out:
            rates.write.mode("errorifexists").option(
                "compression", "zstd"
            ).parquet(args.rates_out)
            rates = spark.read.parquet(args.rates_out)
        # persisted: both the receipt count and the --kept-out write
        # consume the decisions, and without a cache each would replay
        # the full scan → gate → thinning lineage
        decisions = tks.apply_sample_gate(kept_tok, rates).persist()
        kept_tok = tok.join(
            decisions.where("kept = 1").select("doc_id"), "doc_id", "left_semi"
        )
        sampled = decisions.agg(F.sum("kept")).collect()[0][0] or 0
    if args.kept_out:
        kept_tok.write.mode("errorifexists").option("compression", "zstd").parquet(
            args.kept_out
        )
    row = gate.agg(
        F.count("*").alias("docs"),
        F.sum("dropped").alias("dropped"),
        F.sum("contaminated").alias("contaminated"),
        F.sum("kept").alias("kept"),
    ).collect()[0]
    print(json.dumps({
        "docs": row["docs"],
        "dropped": row["dropped"],
        "contaminated": row["contaminated"],
        "kept": row["kept"],
        "sampled": sampled,
        "bench": args.bench or "fixture-holdout",
        "out": args.out,
        "keptOut": args.kept_out,
        "ratesOut": args.rates_out if args.mixture else None,
    }))


def cmd_ann_build(args) -> None:
    """Build a persisted ANN index (the build half of the build/serve
    split, ops/ann_index.py): train on the embeddings parquet, write
    the model + encoded corpus into TableStore tables under --index
    (posting/code lists as cent_id partitions). Run once; serve many
    with ``ann-serve``."""
    from otel_worker_spark.ops import ann_index as ai

    spark = get_spark("ann-build")
    embs = spark.read.parquet(args.embeddings)
    builders = {
        "ivf": lambda: ai.build_ivf_index(embs, args.index),
        "pq": lambda: ai.build_pq_index(embs, args.index),
        "ivfpq": lambda: ai.build_ivfpq_index(embs, args.index),
    }
    receipt = builders[args.family]()
    print(json.dumps({
        "family": args.family,
        "index": args.index,
        "rows": receipt.get("row_count"),
        "files": len(receipt.get("added_files", [])),
        "skipped": receipt.get("skipped", False),
    }))


def cmd_ann_serve(args) -> None:
    """Answer a top-k query FROM a persisted ANN index — no training,
    no corpus encode; only the probed posting/code partitions are read
    (file-list pruning)."""
    from otel_worker_spark.ops import ann_index as ai

    spark = get_spark("ann-serve")
    embs = spark.read.parquet(args.embeddings)
    servers = {
        "ivf": lambda: ai.ivf_serve_topk(embs, args.index, args.queries, args.k),
        "pq": lambda: ai.pq_serve_topk(embs, args.index, args.queries, args.k),
        "ivfpq": lambda: ai.ivfpq_serve_topk(embs, args.index, args.queries, args.k),
    }
    rows = servers[args.family]().collect()
    print(json.dumps({
        "family": args.family,
        "results": [
            {"queryId": r.query_id, "rank": r.rank, "neighborId": r.neighbor_id}
            for r in rows
        ],
    }))


def cmd_optimize(args) -> None:
    """Table maintenance over a deployment's store set: OPTIMIZE-style
    small-file compaction (per partition value, one atomic commit per
    table) followed by vacuum of superseded/orphaned files. The
    scheduled companion of a streaming ingest — run it daily so the
    epoch-per-micro-batch file pattern never degrades read plans."""
    spark = get_spark("optimize")
    stores = _stores(spark, args.stores)
    out = {}
    for name in ("spans", "quarantine"):
        st = getattr(stores, name)
        compacted = st.compact_small_files(target_rows=args.target_rows)
        vacuumed = st.vacuum() if not args.no_vacuum else {"files": 0, "bytes": 0}
        out[name] = {"compacted": compacted, "vacuumed": vacuumed}
    if args.bucket:
        # the serving-copy compaction: rewrite the spans snapshot into
        # the bucket(N, trace_id) layout so every trace-keyed join and
        # aggregate runs zero-exchange (store.compact_to_bucketed;
        # plan-asserted in tests/test_plans.py)
        bucketed = stores.spans.compact_to_bucketed(
            args.bucket_table, args.bucket, buckets=args.buckets
        )
        out["bucketed"] = {
            "table": args.bucket_table,
            "path": args.bucket,
            "buckets": args.buckets,
            "rows": bucketed.count(),
        }
    print(json.dumps(out))


def cmd_serve(args) -> None:
    """The reference's dev server (`otel-worker-cli dev`): the HTTP
    front (REST route table + gRPC Export path) over a live store
    set. Blocks until interrupted."""
    from otel_worker_spark.api import TraceApi, serve

    spark = get_spark("serve")
    stores = _stores(spark, args.stores)
    api = TraceApi(spark, stores, service_lookup_df(spark), token=args.token)
    srv = serve(api, host=args.host, port=args.port)
    host, port = srv.server_address
    out = {"listening": f"http://{host}:{port}"}
    grpc_srv = None
    if args.grpc_port is not None:
        # the reference runs tonic BESIDE axum (dev.rs:101-103); the
        # h2c front is the real-HTTP/2 carrier for TraceService/Export
        from otel_worker_spark.http2 import serve_grpc_h2c

        grpc_srv = serve_grpc_h2c(api, host=args.host, port=args.grpc_port)
        ghost, gport = grpc_srv.server_address
        out["grpc_listening"] = f"h2c://{ghost}:{gport}"
    print(json.dumps(out), flush=True)
    try:
        import threading

        threading.Event().wait()
    except KeyboardInterrupt:
        srv.shutdown()
        if grpc_srv is not None:
            grpc_srv.shutdown()


def cmd_package(args) -> None:
    """Build the ``--py-files`` artifact for cluster submission: a
    zip of the ``otel_worker_spark`` package (source only, no caches)
    that every executor's Python worker can import. The cluster
    deploy story (BASELINE.json execution constraint) is then exactly
    the docstring at the top of this file:

        spark-submit --py-files otel_worker_spark.zip jobs.py <cmd> ...

    No Spark session needed. Round-tripped end-to-end by
    tests/test_submit_packaging.py, which spark-submits an ingest
    against the built zip from a scratch cwd."""
    import zipfile

    pkg_dir = os.path.join(os.path.dirname(os.path.abspath(__file__)), "otel_worker_spark")
    n = 0
    with zipfile.ZipFile(args.out, "w", zipfile.ZIP_DEFLATED) as z:
        for root, dirs, files in os.walk(pkg_dir):
            dirs[:] = [d for d in dirs if d != "__pycache__"]
            for f in sorted(files):
                if not f.endswith(".py"):
                    continue
                full = os.path.join(root, f)
                rel = os.path.join(
                    "otel_worker_spark", os.path.relpath(full, pkg_dir)
                )
                z.write(full, rel)
                n += 1
    print(json.dumps({"out": args.out, "modules": n}))


def cmd_client(args) -> None:
    """Thin HTTP ApiClient — the reference's `client traces|spans
    get/list/delete` commands (otel-worker-cli/src/commands/client/
    traces.rs:27-108, spans.rs:25-107): hit a running server's REST
    route, pretty-print the JSON response. No Spark session."""
    import urllib.error
    import urllib.request

    routes = {
        "traces-list": ("GET", "/v1/traces"),
        "trace-get": ("GET", "/v1/traces/{trace_id}"),
        "trace-delete": ("DELETE", "/v1/traces/{trace_id}"),
        "spans-list": ("GET", "/v1/traces/{trace_id}/spans"),
        "span-get": ("GET", "/v1/traces/{trace_id}/spans/{span_id}"),
        "span-delete": ("DELETE", "/v1/traces/{trace_id}/spans/{span_id}"),
    }
    method, path = routes[args.action]
    path = path.format(trace_id=args.trace_id or "", span_id=args.span_id or "")
    url = args.base_url.rstrip("/") + path
    qs = []
    if args.limit is not None:
        qs.append(f"limit={args.limit}")
    if args.time is not None:
        qs.append(f"time={args.time}")
    if qs:
        url += "?" + "&".join(qs)
    req = urllib.request.Request(url, method=method)
    if args.auth_token:
        req.add_header("Authorization", f"Bearer {args.auth_token}")
    try:
        with urllib.request.urlopen(req) as resp:
            body = resp.read()
            status = resp.status
    except urllib.error.HTTPError as e:
        body = e.read()
        status = e.code
    if body:
        try:
            print(json.dumps(json.loads(body), indent=2))
        except ValueError:
            sys.stdout.buffer.write(body + b"\n")
    if status >= 400:
        sys.exit(1)


def cmd_debug_ws(args) -> None:
    """The reference's `debug ws` command (otel-worker-cli/src/
    commands/debug/ws.rs:16-58): connect to a server's `/api/ws`,
    print the connection id from the response header, then print every
    received server message until EOF or --max-messages. No Spark."""
    import base64
    import os as _os
    import socket
    from urllib.parse import urlparse

    from otel_worker_spark import ws as wsmod

    u = urlparse(args.endpoint.replace("ws://", "http://"))
    sock = socket.create_connection((u.hostname, u.port or 80), timeout=60)
    key = base64.b64encode(_os.urandom(16)).decode()
    sock.sendall(
        (
            f"GET {u.path or '/api/ws'} HTTP/1.1\r\nHost: {u.hostname}\r\n"
            "Upgrade: websocket\r\nConnection: Upgrade\r\n"
            f"Sec-WebSocket-Key: {key}\r\nSec-WebSocket-Version: 13\r\n\r\n"
        ).encode()
    )
    buf = b""
    while b"\r\n\r\n" not in buf:
        buf += sock.recv(4096)
    headers = buf.decode()
    ws_id = ""
    for line in headers.splitlines():
        if line.lower().startswith(wsmod.WS_ID_HEADER + ":"):
            ws_id = line.split(":", 1)[1].strip()
    print(json.dumps({"connected": True, "wsId": ws_id}), flush=True)
    seen = 0
    while args.max_messages is None or seen < args.max_messages:
        frame = wsmod.read_frame(sock)
        if frame is None:
            break
        opcode, payload = frame
        if opcode == wsmod.OP_TEXT:
            print(payload.decode(), flush=True)
            seen += 1
        elif opcode == wsmod.OP_CLOSE:
            break
    sock.close()


def cmd_truncate(args) -> None:
    """S9: delete database (otel-worker-cli/src/commands/system/
    database.rs:29-42) — truncate every table of a deployment."""
    spark = get_spark("truncate")
    stores = _stores(spark, args.stores)
    for name in ("spans", "quarantine"):
        getattr(stores, name).truncate()
    print(json.dumps({"truncated": True}))


def main() -> None:
    p = argparse.ArgumentParser(prog="jobs.py")
    sub = p.add_subparsers(dest="cmd", required=True)

    pi = sub.add_parser("ingest")
    pi.add_argument("--tokens", required=True)
    pi.add_argument("--stores", required=True)
    pi.add_argument("--checkpoint", default=None)
    pi.add_argument("--batch-id", default="0")
    pi.add_argument("--stream", action="store_true")
    pi.add_argument("--continuous", action="store_true")
    pi.add_argument("--resume", action="store_true")
    pi.add_argument("--files-per-batch", type=int, default=16)
    pi.set_defaults(fn=cmd_ingest)

    pm = sub.add_parser("ingest-metrics")
    pm.add_argument("--stores", required=True)
    pm.set_defaults(fn=cmd_ingest_metrics)

    pl = sub.add_parser("traces-list")
    pl.add_argument("--stores", required=True)
    pl.add_argument("--limit", type=int, default=None)
    pl.add_argument("--time", default=None)
    pl.set_defaults(fn=cmd_traces_list)

    pg = sub.add_parser("trace-get")
    pg.add_argument("--stores", required=True)
    pg.add_argument("--trace-id", required=True)
    pg.set_defaults(fn=cmd_trace_get)

    pd_ = sub.add_parser("delete-trace")
    pd_.add_argument("--stores", required=True)
    pd_.add_argument("--trace-id", required=True)
    pd_.set_defaults(fn=cmd_delete_trace)

    pc = sub.add_parser("curate")
    pc.add_argument("--docs", required=True)
    pc.add_argument("--out", required=True)
    pc.add_argument("--capacity", type=int, default=64)
    pc.set_defaults(fn=cmd_curate)

    ptc = sub.add_parser("token-curate")
    ptc.add_argument("--tokens", required=True,
                     help="north-rule token parquet (doc_id, tokens, n_tok, source)")
    ptc.add_argument("--out", required=True, help="per-doc gate table output")
    ptc.add_argument("--bench",
                     help="benchmark token parquet; omit to gate against the "
                          "fixture's deterministic holdout")
    ptc.add_argument("--kept-out", help="also write the kept token rows here")
    ptc.add_argument("--mixture", action="store_true",
                     help="after the gate, thin kept rows by the α=1/2 "
                          "temperature mixture rates (deterministic "
                          "md5-uniform sampling, ops/token_stats)")
    ptc.add_argument("--rates-out",
                     help="with --mixture: persist the frozen per-source "
                          "rate table (the streaming gate's static dim)")
    ptc.set_defaults(fn=cmd_token_curate)

    pab = sub.add_parser("ann-build")
    pab.add_argument("--embeddings", required=True)
    pab.add_argument("--index", required=True)
    pab.add_argument("--family", choices=("ivf", "pq", "ivfpq"), default="ivfpq")
    pab.set_defaults(fn=cmd_ann_build)

    pas = sub.add_parser("ann-serve")
    pas.add_argument("--embeddings", required=True)
    pas.add_argument("--index", required=True)
    pas.add_argument("--family", choices=("ivf", "pq", "ivfpq"), default="ivfpq")
    pas.add_argument("--queries", type=int, default=8)
    pas.add_argument("--k", type=int, default=5)
    pas.set_defaults(fn=cmd_ann_serve)

    po = sub.add_parser("optimize")
    po.add_argument("--stores", required=True)
    po.add_argument("--target-rows", type=int, default=100_000)
    po.add_argument("--no-vacuum", action="store_true")
    po.add_argument(
        "--bucket", default=None, metavar="PATH",
        help="also rewrite the spans snapshot into a bucketed layout at PATH",
    )
    po.add_argument("--bucket-table", default="spans_bucketed")
    po.add_argument("--buckets", type=int, default=16)
    po.set_defaults(fn=cmd_optimize)

    ps = sub.add_parser("serve")
    ps.add_argument("--stores", required=True)
    ps.add_argument("--host", default="127.0.0.1")
    ps.add_argument("--port", type=int, default=8080)
    ps.add_argument("--token", default=None)
    ps.add_argument(
        "--grpc-port", type=int, default=None,
        help="also serve OTLP/gRPC over real HTTP/2 (h2c) on this port",
    )
    ps.set_defaults(fn=cmd_serve)

    pp = sub.add_parser("package")
    pp.add_argument("--out", default="otel_worker_spark.zip")
    pp.set_defaults(fn=cmd_package)

    pcl = sub.add_parser("client")
    pcl.add_argument(
        "action",
        choices=[
            "traces-list", "trace-get", "trace-delete",
            "spans-list", "span-get", "span-delete",
        ],
    )
    pcl.add_argument("--base-url", default="http://127.0.0.1:6767")
    pcl.add_argument("--auth-token", default=None)
    pcl.add_argument("--trace-id", default=None)
    pcl.add_argument("--span-id", default=None)
    pcl.add_argument("--limit", type=int, default=None)
    pcl.add_argument("--time", default=None)
    pcl.set_defaults(fn=cmd_client)

    pw = sub.add_parser("debug-ws")
    pw.add_argument("--endpoint", default="ws://127.0.0.1:6767/api/ws")
    pw.add_argument("--max-messages", type=int, default=None)
    pw.set_defaults(fn=cmd_debug_ws)

    pt = sub.add_parser("truncate")
    pt.add_argument("--stores", required=True)
    pt.set_defaults(fn=cmd_truncate)

    args = p.parse_args()
    args.fn(args)


if __name__ == "__main__":
    main()
