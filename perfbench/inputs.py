"""Seeded inputs for the benchmark, and the expectations they imply.

Everything the program under test sees is drawn here from ``--seed``:

- events-like rows (hot-service share, event-type mix, timestamps,
  values), turned into token sequences by the package's own fixture
  recipe ``fixtures.token_sequences_from_events`` so the payload bytes
  and their DuckDB oracle (``fixtures.parsed_spans_sql``) stay the
  single source of truth;
- documents with planted near-duplicate families (one of them large)
  for the dedup workload.

Each generator also returns the input properties it actually drew, so
a result records what it was measured on.
"""

from __future__ import annotations

import hashlib
import os
import string

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ["signup", "purchase", "view", "click", "error"]
N_USERS = 1500
EPOCH_US = int(np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64))
MONTH_US = 30 * 86_400 * 1_000_000
#: every event with event_id % POISON_EVERY == 0 carries a non-hex trace
#: id in the fixture recipe and must land in quarantine
POISON_EVERY = 97


def event_table(rng: np.random.Generator, first_id: int, n: int,
                hot_share: float, type_p: np.ndarray) -> pa.Table:
    """``n`` events with ids ``first_id ..``, in the schema the fixture
    recipe reads (event_id, ts, user_id, event_type, value, props).

    ``hot_share`` is the share of rows from the hot service (the
    recipe maps ``user_id % 3 == 0`` to ``checkout``)."""
    hot = rng.random(n) < hot_share
    base = rng.integers(0, N_USERS // 3, n) * 3
    user_id = np.where(hot, base, base + rng.integers(1, 3, n))
    return pa.table({
        "event_id": np.arange(first_id, first_id + n, dtype=np.int64),
        "ts": pa.array(EPOCH_US + rng.integers(0, MONTH_US, n), pa.timestamp("us")),
        "user_id": user_id.astype(np.int64),
        "event_type": np.asarray(EVENT_TYPES)[rng.choice(len(EVENT_TYPES), n, p=type_p)],
        # two decimals below 1000: Spark and DuckDB print these doubles
        # identically, which the byte-exact payload oracle relies on
        "value": np.minimum(np.round(rng.exponential(50.0, n), 2), 999.99),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    })


def event_mix(rng: np.random.Generator) -> tuple[float, np.ndarray]:
    """The seeded traffic shape: hot-service share and event-type mix.
    Kept near the fixture's own shape (1/3 hot, uniform types) so seeds
    vary the input without changing the kind of work."""
    hot_share = float(rng.uniform(0.30, 0.40))
    w = 1.0 + rng.uniform(-0.15, 0.15, len(EVENT_TYPES))
    return hot_share, w / w.sum()


def write_events(table: pa.Table, path: str, n_files: int) -> None:
    """Write ``table`` as ``n_files`` parquet files under ``path`` so a
    Spark read gets that many partitions."""
    os.makedirs(path, exist_ok=True)
    step = -(-table.num_rows // n_files)
    for i in range(n_files):
        part = table.slice(i * step, step)
        if part.num_rows:
            pq.write_table(part, os.path.join(path, f"part-{i:03d}.parquet"))


def event_properties(table: pa.Table) -> dict:
    """What an event table actually holds (recorded with each result)."""
    et = table.column("event_type").to_numpy(zero_copy_only=False)
    uid = table.column("user_id").to_numpy()
    eid = table.column("event_id").to_numpy()
    return {
        "events": table.num_rows,
        "hot_service_share": round(float(np.mean(uid % 3 == 0)), 4),
        "event_type_mix": {t: round(float(np.mean(et == t)), 4) for t in EVENT_TYPES},
        "poison_rows": int(np.sum(eid % POISON_EVERY == 0)),
    }


# ---- expectations from the package's DuckDB oracle ---------------------------


def expected_by_signal(events: str | list[str], where: str = "TRUE") -> dict[str, tuple[int, int]]:
    """signal -> (rows, sum n_tok) the pipeline must produce for the
    events (parquet globs) matched by ``where``: the valid rows from
    ``fixtures.parsed_spans_sql()`` plus the poison rows as quarantine."""
    import duckdb

    from otel_worker_spark.fixtures import parsed_spans_sql, payload_sql, render

    con = duckdb.connect()
    try:
        globs = ", ".join(f"'{g}'" for g in ([events] if isinstance(events, str) else events))
        con.sql(f"CREATE VIEW events AS SELECT * FROM read_parquet([{globs}]) WHERE {where}")
        rows = con.sql(f"""
            SELECT signal, count(*), sum(n_tok) FROM ({parsed_spans_sql()}) GROUP BY signal
            UNION ALL
            SELECT 'quarantine', count(*), sum(length({render(payload_sql('duckdb'), 'duckdb')}))
            FROM events WHERE event_id % {POISON_EVERY} = 0
        """).fetchall()
    finally:
        con.close()
    return {s: (int(n), int(t or 0)) for s, n, t in rows if n}


def trace_id_of(event_id: int) -> str:
    """The recipe's trace id (``md5('trace-' || event_id // 10)``)."""
    return hashlib.md5(f"trace-{event_id // 10}".encode()).hexdigest()


def span_id_of(event_id: int) -> str:
    """The recipe's span id (``substr(md5('span-' || event_id), 1, 16)``)."""
    return hashlib.md5(f"span-{event_id}".encode()).hexdigest()[:16]


# ---- documents with planted near-duplicate families --------------------------


def documents(rng: np.random.Generator, n_docs: int, family_size: int,
              n_families: int, large_family: int, words_per_doc: int = 40
              ) -> tuple[pa.Table, list[list[int]], dict]:
    """``n_docs`` documents of random words. Planted families: one of
    ``large_family`` members and ``n_families`` of ``family_size``; each
    member is its family's base text with its last letter replaced, so
    exactly one of its ~275 shingles differs (Jaccard >= 0.99 between
    members) and the 16-permutation LSH links every member. One letter
    changed at a random place alters five shingles (Jaccard ~0.93
    between members), and on about one seed in forty left a member
    unlinked. Doc ids are shuffled so a family's members are scattered.
    Returns (table, families, props)."""
    letters = np.array(list(string.ascii_lowercase))
    vocab = ["".join(rng.choice(letters, rng.integers(4, 9))) for _ in range(20_000)]

    def text() -> str:
        return " ".join(vocab[i] for i in rng.integers(0, len(vocab), words_per_doc))

    def mutate(text: str) -> str:
        return text[:-1] + str(rng.choice(letters))

    sizes = [large_family] + [family_size] * n_families
    if sum(sizes) > n_docs:
        raise ValueError("planted families exceed the corpus")
    ids = rng.permutation(n_docs).astype(np.int64)
    texts: dict[int, str] = {}
    families: list[list[int]] = []
    k = 0
    for size in sizes:
        base = text()
        members = [int(i) for i in ids[k:k + size]]
        k += size
        for j, doc in enumerate(members):
            texts[doc] = base if j == 0 else mutate(base)
        families.append(members)
    for doc in ids[k:]:
        texts[int(doc)] = text()
    order = sorted(texts)
    body = [texts[d] for d in order]
    table = pa.table({
        "doc_id": pa.array(order, pa.int64()),
        "text": body,
        "lang": ["en"] * n_docs,
        "source": [f"src{d % 7}" for d in order],
        "n_chars": pa.array([len(t) for t in body], pa.int64()),
    })
    props = {
        "documents": n_docs,
        "planted_families": len(families),
        "large_family": large_family,
        "family_size": family_size,
        "duplicated_share": round(sum(sizes) / n_docs, 4),
        "mean_chars": round(float(np.mean([len(t) for t in body])), 1),
    }
    return table, families, props
