"""The workloads. Each is a closed loop driven from this process.

A workload builds its inputs from the seed and warms up in ``setup``,
runs operations until a deadline in ``run`` (checking every output it
gets back), and runs its end-of-run checks in ``finish``. ``ladder``
gives the traced run's per-layer rungs where Spark fuses the layers
into one stage, so wrapping Python calls cannot split them.
"""

from __future__ import annotations

import http.client
import json
import os
import statistics
import threading
import time
from collections import defaultdict
from datetime import datetime

import numpy as np
from pyspark.sql import functions as F

import host
import inputs
from otel_worker_spark import api, fixtures, parse_arrow, pipeline, queries, sources
from otel_worker_spark.ops import dedup

#: bulk_agg: sequences in the token table one pass reads, and passes
#: before timing (the first pass compiles; later ones still speed up, the
#: same way in every run)
BULK_SEQUENCES = 10_000
BULK_WARMUP = 2
#: api_mixed: committed batches (and their size) behind the API, client
#: threads, and the requests planned per second of --seconds (a fixed
#: count per run, about what one client completes on 4 cores). One
#: client, as a viewer user waits for each page: a request's latency
#: then holds no queueing behind a second client's Spark jobs. The sizes
#: of all three workloads keep one run within about 45 s on 4 cores, so
#: the benchmark's many repeated runs fit their time budget. Two batches
#: and the run's exports keep the spans table below 32 live files, the
#: point (``spark.sql.sources.parallelPartitionDiscovery.threshold``)
#: where Spark starts listing them with a job of its own; a store that
#: crosses it partway through some runs and not others reads bimodal.
API_BATCHES = 2
API_BATCH = 500
API_CLIENTS = 1
API_PLAN_RPS = 1.5
#: request kinds of api_mixed, repeated in seeded order per block of 15.
#: No recorded traffic of this API exists to copy, so the mix is assumed.
#: It models a trace viewer that opens the trace list, then some traces
#: and spans from it, now and then a stale link that 404s, beside one
#: exporter whose small batches are sometimes re-delivered: reads
#: outnumber writes about six to one.
API_BLOCK = (["list"] * 5 + ["trace"] * 3 + ["trace_404"] + ["span"] * 3
             + ["span_404"] + ["export"] + ["replay"])
EXPORT_SPANS = 10
#: dedup_docs corpus shape
DEDUP_DOCS = 1_000
DEDUP_FAMILY = 5
DEDUP_FAMILIES = 20
DEDUP_LARGE_FAMILY = 100
#: repeats of each ladder rung (the median is reported)
LADDER_REPS = 3


def median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def tail(xs: list[float]) -> tuple[float, float]:
    """(value, percentile) of the highest percentile with at least ten
    samples beyond it; (0, 0) when the sample supports none at or above
    the median."""
    n = len(xs)
    k = n - 11  # index of the sample with exactly ten above it
    if k < 0 or 2 * (k + 1) < n:  # no such percentile at or above the median
        return 0.0, 0.0
    return sorted(xs)[k], 100.0 * (k + 1) / n


class Workload:
    name = ""

    def __init__(self, spark, root: str, seed: int, seconds: int, tracer=None):
        self.spark = spark
        self.root = root
        self.seed = seed
        self.seconds = seconds
        self.tracer = tracer
        self.rng = np.random.default_rng(seed)
        self.props: dict = {}
        #: wall seconds of each set-up step, recorded with the result
        self.phases: dict[str, float] = {}
        self._phase_t = time.perf_counter()
        self.latencies: list[float] = []
        #: (operation kind, traced) -> latencies, for the tracing overhead
        self.by_kind: dict[tuple[str, bool], list[float]] = defaultdict(list)
        self.items = 0
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.layer: dict[str, float] = {}

    def path(self, *parts: str) -> str:
        return os.path.join(self.root, self.name, *parts)

    def phase(self, name: str) -> None:
        """Close the set-up step that ends now under ``name``."""
        now = time.perf_counter()
        self.phases[name] = now - self._phase_t
        self._phase_t = now

    def record(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            if len(self.failures) < 20:
                self.failures.append(what)

    def timed(self, seconds: float, kind: str = "op") -> None:
        """Record the latency of one operation of ``kind``."""
        self.latencies.append(seconds)
        traced = self.tracer is not None and self.tracer.enabled
        self.by_kind[(kind, traced)].append(seconds)

    def tracing_overhead_pct(self) -> float:
        """Traced over untraced median latency, per operation kind, as a
        sample-weighted mean in percent: kinds whose latencies differ
        several-fold then cannot stand in for each other."""
        num = den = 0.0
        for (kind, traced), on in self.by_kind.items():
            off = self.by_kind.get((kind, False))
            if traced and off and median(off) > 0:
                num += (median(on) / median(off)) * (len(on) + len(off))
                den += len(on) + len(off)
        return 100.0 * (num / den - 1.0) if den else 0.0

    def span(self, name: str):
        if self.tracer is None:
            from contextlib import nullcontext

            return nullcontext()
        return self.tracer.span(name)

    def events_tokens(self, n: int, batch: int | None = None):
        """Seeded events -> parquet -> the fixture's token table. With
        ``batch`` the token table is partitioned ``b=<event_id // batch>``
        so each micro-batch reads as its own directory."""
        hot, type_p = inputs.event_mix(self.rng)
        ev = inputs.event_table(self.rng, 0, n, hot, type_p)
        self.props.update(inputs.event_properties(ev))
        inputs.write_events(ev, self.path("events"), host.nproc())
        tok = fixtures.token_sequences_from_events(
            self.spark, None, events=self.spark.read.parquet(self.path("events")))
        writer = tok.write
        if batch is not None:
            tok = tok.withColumn(
                "b", F.floor(F.substring("doc_id", 5, 20).cast("long") / batch))
            writer = tok.write.partitionBy("b")
        writer.parquet(self.path("tokens"))
        return self.path("events", "*.parquet")

    def setup(self) -> None:
        raise NotImplementedError

    def run(self, deadline: float) -> None:
        """Closed loop: one operation after another until ``deadline``,
        and at least one."""
        self.step()
        while time.perf_counter() < deadline:
            self.step()

    def segment(self, i: int, n: int, deadline: float) -> None:
        """Part ``i`` of ``n`` of a traced run's measured phase."""
        self.run(deadline)

    def step(self) -> None:
        """One checked operation."""
        raise NotImplementedError

    def close(self) -> None:
        """Release what ``setup`` started."""

    def finish(self) -> None:
        """End-of-run output checks (beyond the per-operation ones)."""

    def ladder(self) -> None:
        """Traced-run rungs; fills ``self.layer``."""

    def rungs(self, fns: dict, reference=None) -> tuple[dict[str, float], float]:
        """Median seconds of each rung in ``fns`` (name -> function) and
        of ``reference``, run untraced. A round runs every rung once and
        then the reference, and ``LADDER_REPS`` rounds run, so all of them
        see the same JIT and host state."""
        ts: dict[str, list[float]] = {name: [] for name in fns}
        ref: list[float] = []
        for _ in range(LADDER_REPS):
            for name, fn in fns.items():
                with self.span(name):
                    t0 = time.perf_counter()
                    fn()
                    ts[name].append(time.perf_counter() - t0)
            if reference is not None:
                self.tracer.enabled = False
                try:
                    t0 = time.perf_counter()
                    reference()
                    ref.append(time.perf_counter() - t0)
                finally:
                    self.tracer.enabled = True
        return {name: median(v) for name, v in ts.items()}, median(ref)


class BulkAgg(Workload):
    """One token table, read whole, parsed, enriched, routed and
    aggregated per signal, over and over."""

    name = "bulk_agg"

    def setup(self) -> None:
        events = self.events_tokens(BULK_SEQUENCES)
        self.phase("inputs")
        self.expected = inputs.expected_by_signal(events)
        self.phase("oracle")
        self.lookup = fixtures.service_lookup_df(self.spark)
        self.lookup.cache().count()
        for _ in range(BULK_WARMUP):
            self.once()
        self.phase("warmup")

    def tokens(self):
        return sources.read_token_table(self.spark, self.path("tokens"))

    def aggregate(self):
        return (
            pipeline.transform_batch(self.tokens(), self.lookup, with_inner=False)
            .groupBy("signal")
            .agg(F.count("*").alias("n"), F.sum("n_tok").alias("sum_n_tok"))
        )

    def once(self) -> dict:
        return {r.signal: (r.n, r.sum_n_tok) for r in self.aggregate().collect()}

    def step(self) -> None:
        with self.span("pipeline.agg_pass"):
            t0 = time.perf_counter()
            try:
                got = self.once()
            except Exception as e:  # a failed pass is counted, not fatal
                got = repr(e)
            self.timed(time.perf_counter() - t0)
        self.record(got == self.expected, f"per-signal rows/sum_n_tok {got}")
        self.items += BULK_SEQUENCES

    def ladder(self) -> None:
        noop = lambda df: df.write.mode("overwrite").format("noop").save()  # noqa: E731
        workers = lambda: host.descendants(self.spark.sparkContext._gateway.proc.pid)  # noqa: E731
        python_cpu: list[float] = []

        def parse() -> None:
            cpu0 = host.cpu_seconds(workers())
            noop(parse_arrow.parse_token_sequences_arrow(self.tokens(), with_inner=False))
            python_cpu.append(host.cpu_seconds(workers()) - cpu0)

        t, untraced = self.rungs({
            "sources.scan_rung": lambda: noop(self.tokens()),
            "parse_arrow.kernel_rung": parse,
            "pipeline.transform_rung": lambda: noop(
                pipeline.transform_batch(self.tokens(), self.lookup, with_inner=False)),
            "parse_arrow.inner_rung": lambda: noop(
                pipeline.transform_batch(self.tokens(), self.lookup, with_inner=True)),
            "pipeline.agg_rung": lambda: noop(self.aggregate()),
        }, reference=self.once)
        scan, parse_s, route, full = (t["sources.scan_rung"], t["parse_arrow.kernel_rung"],
                                      t["pipeline.transform_rung"], t["pipeline.agg_rung"])
        counts = self.once()
        self.layer.update({
            "sources.scan_s": scan,
            "parse_arrow.kernel_s": parse_s - scan,
            "parse_arrow.python_cpu_s": median(python_cpu),
            "parse_arrow.inner_s": t["parse_arrow.inner_rung"] - route,
            "parse_arrow.rows_in": sum(n for n, _ in counts.values()),
            "parse_arrow.rows_quarantined": counts.get("quarantine", (0, 0))[0],
            "pipeline.transform_s": route - parse_s,
            "pipeline.agg_s": full - route,
            # the rungs telescope to the last one, a noop-sink write of the
            # aggregate; the untraced collect pass it should reproduce
            # runs in the same rounds
            "ladder.rungs_vs_pass_pct": 100.0 * (full / untraced - 1.0),
        })

    def local1(self, spark) -> float:
        """Sequences per second of the same pass on a ``local[1]`` session."""
        self.spark = spark
        self.lookup = fixtures.service_lookup_df(spark)
        self.once()
        ts = []
        for _ in range(2):
            t0 = time.perf_counter()
            self.once()
            ts.append(time.perf_counter() - t0)
        return BULK_SEQUENCES / median(ts)


class ApiMixed(Workload):
    """``api.serve`` on loopback over a store of ``API_BATCHES`` committed
    micro-batches; ``API_CLIENTS`` closed-loop clients send a seeded mix
    of list and point-read requests, small exports, and re-deliveries of
    already-committed exports that must be skipped (exactly once)."""

    name = "api_mixed"

    def setup(self) -> None:
        self.events = [self.events_tokens(API_BATCH * API_BATCHES, batch=API_BATCH)]
        self.phase("inputs")
        self.lookup = fixtures.service_lookup_df(self.spark)
        self.lookup.cache().count()
        self.stores = pipeline.PipelineStores(self.spark, self.path("store"))
        for b in range(API_BATCHES):
            tok = sources.read_token_table(self.spark, self.path("tokens", f"b={b}"))
            receipt = pipeline.ingest_batch(self.spark, tok, self.lookup, self.stores, b)
            if receipt["row_count"] != API_BATCH:
                raise RuntimeError(f"store build: batch {b} receipt {receipt}")
        self.phase("store")
        self.exports = self.export_bodies()
        self.exported: list[int] = []  # indexes of export bodies sent
        self.server = api.serve(api.TraceApi(self.spark, self.stores, self.lookup))
        self.port = self.server.server_address[1]
        warmup = [self.request(k) for k in ("list", "trace", "span", "export", "replay")]
        self.plan = self.request_plan()
        self.all_results: list[dict] = []
        conn = self.connect()
        try:
            for req in warmup:
                if not self.send(conn, req)["ok"]:
                    raise RuntimeError(f"warm-up request failed: {req['kind']} {req['path']}")
        finally:
            conn.close()
        self.phase("warmup")

    def connect(self) -> http.client.HTTPConnection:
        return http.client.HTTPConnection("127.0.0.1", self.port, timeout=120)

    def export_bodies(self) -> list[bytes]:
        """OTLP/JSON export bodies of ``EXPORT_SPANS`` spans each, from
        events past the committed range, rendered by the fixture's
        DuckDB payload recipe (one envelope per event, merged)."""
        import duckdb

        # the warm-up's, the plan's, and the ladder's
        n = 1 + API_BLOCK.count("export") * self.n_requests() // len(API_BLOCK) + LADDER_REPS
        hot, type_p = inputs.event_mix(self.rng)
        ev = inputs.event_table(self.rng, API_BATCH * API_BATCHES, n * EXPORT_SPANS, hot, type_p)
        inputs.write_events(ev, self.path("export_events"), 1)
        self.events.append(self.path("export_events", "*.parquet"))
        con = duckdb.connect()
        try:
            con.register("events", ev)
            payloads = [r[0] for r in con.sql(
                "SELECT " + fixtures.render(fixtures.payload_sql("duckdb"), "duckdb")
                + " FROM events ORDER BY event_id").fetchall()]
        finally:
            con.close()
        bodies = []
        for i in range(0, len(payloads), EXPORT_SPANS):
            envs = [json.loads(p) for p in payloads[i:i + EXPORT_SPANS]]
            merged = {"resourceSpans": [rs for e in envs for rs in e["resourceSpans"]]}
            bodies.append(json.dumps(merged, separators=(",", ":")).encode())
        return bodies

    def n_requests(self) -> int:
        """Whole blocks only, so every seed sends the same mix."""
        blocks = max(1, round(self.seconds * API_PLAN_RPS / len(API_BLOCK)))
        return blocks * len(API_BLOCK)

    def known_ids(self) -> tuple[str, str]:
        while True:
            eid = int(self.rng.integers(0, API_BATCH * API_BATCHES))
            if eid % inputs.POISON_EVERY:
                return inputs.trace_id_of(eid), inputs.span_id_of(eid)

    def request(self, kind: str) -> dict:
        if kind == "list":
            return {"kind": kind, "method": "GET", "path": "/v1/traces", "want": 200}
        if kind in ("export", "replay"):
            if kind == "export":
                self.exported.append(len(self.exported))
                i = self.exported[-1]
            else:  # the export the warm-up committed
                i = 0
            return {"kind": kind, "method": "POST", "path": "/v1/traces", "want": 200,
                    "body": self.exports[i]}
        if kind.endswith("_404"):
            tid, sid = self.rng.bytes(16).hex(), self.rng.bytes(8).hex()
            want = 404
        else:
            (tid, sid), want = self.known_ids(), 200
        path = f"/v1/traces/{tid}" + (f"/spans/{sid}" if kind.startswith("span") else "")
        return {"kind": kind.removesuffix("_404"), "method": "GET", "path": path,
                "want": want, "trace_id": tid, "span_id": sid}

    def request_plan(self) -> list[dict]:
        kinds: list[str] = []
        for _ in range(self.n_requests() // len(API_BLOCK)):
            kinds += list(self.rng.permutation(API_BLOCK))
        return [self.request(k) for k in kinds]

    def send(self, conn, req: dict) -> dict:
        headers = {"Content-Type": "application/json"} if "body" in req else {}
        t0 = time.perf_counter()
        conn.request(req["method"], req["path"], body=req.get("body"), headers=headers)
        resp = conn.getresponse()
        body = resp.read()
        return {"kind": req["kind"], "want": req["want"], "rtt": time.perf_counter() - t0,
                "status": resp.status, "ok": self.check(req, resp.status, body)}

    @staticmethod
    def check(req: dict, status: int, body: bytes) -> bool:
        """Status as planned; a list page holds at most 20 traces, newest
        end time first; a point read returns the ids asked for."""
        if status != req["want"]:
            return False
        if status != 200:
            return True
        try:
            doc = json.loads(body)
            if req["kind"] in ("export", "replay"):
                return doc == {}
            if req["kind"] == "list":
                ends = [max(datetime.fromisoformat(s["endTime"]) for s in t["spans"])
                        for t in doc]
                return (0 < len(doc) <= queries.DEFAULT_TRACE_LIMIT
                        and ends == sorted(ends, reverse=True))
            if req["kind"] == "trace":
                return doc["traceId"] == req["trace_id"]
            return doc["spanId"] == req["span_id"] and doc["traceId"] == req["trace_id"]
        except (ValueError, KeyError, TypeError):
            return False

    def run(self, deadline: float) -> None:
        """Runs the whole request plan: a fixed request count, so every
        version of the program sees the same store growth (``deadline``
        is unused; ``--seconds`` sized the plan)."""
        self.send_all(self.plan)

    def segment(self, i: int, n: int, deadline: float) -> None:
        """Part ``i`` of ``n`` of the request plan."""
        self.send_all(self.plan[i * len(self.plan) // n:(i + 1) * len(self.plan) // n])

    def send_all(self, plan: list[dict]) -> None:
        """Send ``plan`` from ``API_CLIENTS`` closed-loop clients."""
        todo = list(reversed(plan))
        lock = threading.Lock()
        results: list[dict] = []
        traced = self.tracer is not None and self.tracer.enabled

        def client() -> None:
            conn = self.connect()
            try:
                while True:
                    with lock:
                        if not todo:
                            return
                        req = todo.pop()
                    try:
                        res = self.send(conn, req)
                    except (OSError, http.client.HTTPException) as e:
                        conn.close()
                        conn = self.connect()
                        res = {"kind": req["kind"], "want": req["want"], "rtt": 0.0,
                               "status": 0, "ok": False, "error": repr(e)}
                    res["traced"] = traced
                    with lock:
                        results.append(res)
            finally:
                conn.close()

        threads = [threading.Thread(target=client, name=f"client-{i}") for i in range(API_CLIENTS)]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        for r in results:
            self.record(r["ok"], f"{r['kind']} -> {r['status']} {r.get('error', '')}")
            self.timed(r["rtt"], f"{r['kind']}-{r['want']}")
            self.items += 1
        self.all_results += results

    def finish(self) -> None:
        """Exactly once: each batch and each distinct export is logged
        once per table, and the spans table holds exactly their rows."""
        n_batches = API_BATCHES + len(self.exported)
        logged = [[e["batch_id"] for e in t.lineage() if e["op"] == "append"]
                  for t in (self.stores.spans, self.stores.receipts, self.stores.manifest)]
        once = all(len(ids) == len(set(ids)) == n_batches for ids in logged)
        first = API_BATCH * API_BATCHES
        last = first + EXPORT_SPANS * len(self.exported)
        expected = inputs.expected_by_signal(self.events, f"event_id < {last}")
        rows = self.stores.spans.read().groupBy("signal").count().collect()
        got = {r["signal"]: r["count"] for r in rows}
        ok = once and got == {s: n for s, (n, _) in expected.items()}
        self.record(ok, f"store rows {got} vs {expected}; appends per table "
                        f"{[len(ids) for ids in logged]} for {n_batches} batches")

    def ladder(self) -> None:
        read_files = len(self.stores.spans.live_files())
        log_entries = len(self.stores.spans.lineage())
        # handler time of the plan's traced requests; the traced run names
        # each wrapped TraceApi route ``api.<route>``
        handler = sum(sum(d) for name, d in self.tracer.durations().items()
                      if name.startswith("api."))
        # The plan's few exports may all fall in untraced segments, so the
        # write path gets traced exports (and a re-delivery) of its own.
        conn = self.connect()
        try:
            for kind in ["export"] * LADDER_REPS + ["replay"]:
                res = self.send(conn, self.request(kind))
                self.record(res["ok"], f"ladder {kind} -> {res['status']}")
        finally:
            conn.close()
        tables = (self.stores.spans, self.stores.quarantine, self.stores.receipts,
                  self.stores.manifest)
        exports = [e for t in tables for e in t.lineage() if str(e["batch_id"]).startswith("http-")]
        files = [f["file"] for e in exports for f in e["files"]]
        n = len(self.exported)
        results = self.all_results

        def ms(kinds, stat) -> float:
            return 1e3 * stat([r["rtt"] for r in results if r["kind"] in kinds])

        status = [r["status"] for r in results]
        traced = [r["rtt"] for r in results if r["traced"]]
        self.layer.update({
            "api.status_2xx": sum(200 <= s < 300 for s in status),
            "api.status_4xx": sum(400 <= s < 500 for s in status),
            "api.status_5xx": sum(s >= 500 or s == 0 for s in status),
            "api.http_s": (sum(traced) - handler) / max(len(traced), 1),
            "api.list_p50_ms": ms(("list",), median),
            "api.list_tail_ms": ms(("list",), lambda xs: tail(xs)[0]),
            "api.lookup_p50_ms": ms(("trace", "span"), median),
            "api.lookup_tail_ms": ms(("trace", "span"), lambda xs: tail(xs)[0]),
            "api.export_p50_ms": ms(("export",), median),
            "store.commits_per_batch": len(exports) / n,
            "store.files_per_batch": len(files) / n,
            "store.bytes_per_batch": sum(os.path.getsize(f) for f in files) / n,
            "store.log_entries": log_entries,
            "store.read_files": read_files,
        })

    def close(self) -> None:
        self.server.shutdown()
        self.server.server_close()


class DedupDocs(Workload):
    """``dedup_groups`` over a seeded corpus with planted near-duplicate
    families, repeated."""

    name = "dedup_docs"

    def setup(self) -> None:
        table, self.families, props = inputs.documents(
            self.rng, DEDUP_DOCS, DEDUP_FAMILY, DEDUP_FAMILIES, DEDUP_LARGE_FAMILY)
        self.props.update(props)
        inputs.write_events(table, self.path("docs"), host.nproc())
        self.phase("inputs")
        self.once()
        self.phase("warmup")

    def docs(self):
        return self.spark.read.parquet(self.path("docs"))

    def once(self) -> dict[int, int]:
        try:
            rows = dedup.dedup_groups(self.docs(), hash_impl="xxhash64").collect()
        finally:
            dedup.release_persisted_signatures()
        return {r.doc_id: r.survivor_doc_id for r in rows}

    def correct(self, survivor: dict[int, int]) -> bool:
        """Every planted family maps to one survivor of its own."""
        if len(survivor) != DEDUP_DOCS:
            return False
        picked = [{survivor.get(d) for d in fam} for fam in self.families]
        return all(len(p) == 1 for p in picked) and len(set.union(*picked)) == len(picked)

    def step(self) -> None:
        with self.span("dedup.run"):
            t0 = time.perf_counter()
            try:
                ok = self.correct(self.once())
            except Exception:  # a failed run is counted, not fatal
                ok = False
            self.timed(time.perf_counter() - t0)
        self.record(ok, "planted families not collapsed to one survivor each")
        self.items += DEDUP_DOCS

    def ladder(self) -> None:
        noop = lambda df: df.write.mode("overwrite").format("noop").save()  # noqa: E731
        counts: dict[str, int] = {}

        def cold(key, df) -> None:
            """Count ``df``, then drop the signatures it persisted so the
            next rung computes its own, as one dedup_groups call does."""
            try:
                counts[key] = df.count()
            finally:
                dedup.release_persisted_signatures()

        t, _ = self.rungs({
            "dedup.signatures_rung": lambda: noop(
                dedup.minhash_signatures(self.docs(), "xxhash64")),
            "dedup.candidates_rung": lambda: cold("cand", dedup.minhash_lsh_pairs(
                self.docs(), threshold=0.0, hash_impl="xxhash64")),
            "dedup.verify_rung": lambda: cold("ver", dedup.verified_pairs(
                self.docs(), hash_impl="xxhash64")),
            "dedup.groups_rung": self.once,
        })
        sig, cand, ver = (t["dedup.signatures_rung"], t["dedup.candidates_rung"],
                          t["dedup.verify_rung"])
        self.layer.update({
            "dedup.signatures_s": sig,
            "dedup.candidates_s": cand - sig,
            "dedup.verify_s": ver - cand,
            "dedup.components_s": t["dedup.groups_rung"] - ver,
            "dedup.candidate_pairs": counts["cand"],
            "dedup.verified_pairs": counts["ver"],
            "dedup.useful_ratio": counts["ver"] / counts["cand"] if counts["cand"] else 0.0,
        })

WORKLOADS = {w.name: w for w in (BulkAgg, ApiMixed, DedupDocs)}
