"""Seeded input generator for the benchmark workloads.

Everything here runs outside the timed loop and is a pure function of
the seed (and the size constants below): the same seed writes the same
rows, a different seed different ones. Inputs land under the run's work
directory inside the checkout; nothing else on disk is read or written.

The tables follow the schema and value domains of the engine's
TPC-H-ish fixture (see the repository's TESTDATA.md): the ledger fact is
derived from lineitem x orders, the audit log from events, and the
llmdata layers read documents and embeddings.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import io
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = (("en", 0.41), ("zh", 0.15), ("es", 0.15), ("fr", 0.15), ("de", 0.14))
N_SOURCES = 20
EMB_DIM = 64
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("view", "click", "purchase", "signup", "error")

# Rows per table at scale 1.0 (the fixture's sf0.01 row counts).
BASE_ROWS = {
    "customer": 1500, "supplier": 100, "part": 2000, "orders": 15000,
    "lineitem": 60000, "events": 10000, "documents": 500, "embeddings": 500,
}

_DAY0 = dt.datetime(1995, 1, 1)
_EVENTS0 = dt.datetime(2024, 1, 1)


def _rng(seed: int, stream: str) -> np.random.Generator:
    """Independent generator per (seed, input stream), so adding rows to
    one input never shifts another's values."""
    key = int.from_bytes(hashlib.sha256(f"{seed}:{stream}".encode()).digest()[:8], "little")
    return np.random.default_rng(key)


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def random_texts(rng: np.random.Generator, n: int, lo: int = 8, hi: int = 96) -> list[str]:
    lens = rng.integers(lo, hi, n)
    words = rng.integers(0, len(VOCAB), int(lens.sum()))
    out, at = [], 0
    for k in lens:
        out.append(" ".join(VOCAB[w] for w in words[at:at + k]))
        at += k
    return out


def _ts(base: dt.datetime, seconds: np.ndarray) -> pa.Array:
    us = (np.asarray(seconds, dtype=np.float64) * 1e6).astype(np.int64)
    base_us = int(base.replace(tzinfo=dt.timezone.utc).timestamp() * 1e6)
    return pa.array(base_us + us, type=pa.int64()).cast(pa.timestamp("us"))


def make_tables(seed: int, scale: float, n_docs: int, n_emb: int) -> dict[str, pa.Table]:
    """The ten catalog tables. ``scale`` sizes the ledger/audit tables
    relative to the fixture's sf0.01; documents and embeddings are sized
    separately because the workloads that read them need other sizes."""
    n = {k: max(1, int(v * scale)) for k, v in BASE_ROWS.items()}
    n["documents"], n["embeddings"] = n_docs, n_emb
    r = _rng(seed, "tables")
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    nc, ns, np_, no, nl = (n[k] for k in ("customer", "supplier", "part", "orders", "lineitem"))
    t["customer"] = pa.table({
        "c_custkey": pa.array(range(nc), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(r.integers(0, 25, nc), pa.int32()),
        "c_acctbal": _money(r, -999.99, 9999.99, nc),
        "c_mktsegment": [SEGMENTS[i] for i in r.integers(0, 5, nc)],
    })
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(range(ns), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(r.integers(0, 25, ns), pa.int32()),
        "s_acctbal": _money(r, -999.99, 9999.99, ns),
    })
    adj = ("small", "red", "blue", "hot", "old", "big", "cold", "new")
    noun = ("ring", "widget", "bolt", "gear", "gizmo", "nut", "spring", "valve")
    t["part"] = pa.table({
        "p_partkey": pa.array(range(np_), pa.int64()),
        "p_name": [f"{adj[a]} {noun[b]}" for a, b in r.integers(0, 8, (np_, 2))],
        "p_brand": [f"Brand#{i}" for i in r.integers(1, 26, np_)],
        "p_type": [("ECONOMY", "SMALL", "MEDIUM", "PROMO", "STANDARD", "LARGE")[i]
                   for i in r.integers(0, 6, np_)],
        "p_size": pa.array(r.integers(1, 51, np_), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(np_) % 1000) / 10, 1),
    })
    span_days = 6.6 * 365
    t["orders"] = pa.table({
        "o_orderkey": pa.array(range(no), pa.int64()),
        "o_custkey": pa.array(r.integers(0, nc, no), pa.int64()),
        "o_orderstatus": [("F", "O", "P")[i] for i in r.integers(0, 3, no)],
        "o_totalprice": _money(r, 1000, 500000, no),
        "o_orderdate": _ts(_DAY0, r.integers(0, int(span_days), no) * 86400),
        "o_orderpriority": [PRIORITIES[i] for i in r.integers(0, 5, no)],
    })
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(r.integers(0, no, nl), pa.int64()),
        "l_partkey": pa.array(r.integers(0, np_, nl), pa.int64()),
        "l_suppkey": pa.array(r.integers(0, ns, nl), pa.int64()),
        "l_linenumber": pa.array(r.integers(1, 8, nl), pa.int32()),
        "l_quantity": r.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": _money(r, 900, 105000, nl),
        "l_discount": r.integers(0, 11, nl) / 100.0,
        "l_tax": r.integers(0, 9, nl) / 100.0,
        "l_returnflag": [("A", "N", "R")[i] for i in r.integers(0, 3, nl)],
        "l_linestatus": [("F", "O")[i] for i in r.integers(0, 2, nl)],
        "l_shipdate": _ts(_DAY0, (r.integers(1, int(span_days) + 90, nl)) * 86400),
    })
    ne = n["events"]
    users = max(15, ne // 66)
    secs = np.sort(r.uniform(0, 30 * 86400, ne))
    t["events"] = pa.table({
        "event_id": pa.array(range(ne), pa.int64()),
        "ts": _ts(_EVENTS0, secs),
        "user_id": pa.array(r.integers(0, users, ne), pa.int64()),
        "event_type": [EVENT_TYPES[i] for i in r.integers(0, 5, ne)],
        "value": _money(r, 0.01, 490.0, ne),
        "props": [json.dumps({"k": int(k)}) for k in r.integers(0, 100, ne)],
    })
    t["documents"] = documents_table(_rng(seed, "documents"), n_docs)
    e = _rng(seed, "embeddings").normal(size=(n_emb, EMB_DIM)).astype(np.float32)
    e /= np.linalg.norm(e, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(range(n_emb), pa.int64()),
        "embedding": pa.array(list(e), pa.list_(pa.float32())),
        "label": pa.array(np.arange(n_emb) % 10, pa.int32()),
    })
    return t


def documents_table(rng: np.random.Generator, n: int) -> pa.Table:
    texts = random_texts(rng, n)
    p = np.array([w for _, w in LANGS])
    langs = rng.choice(len(LANGS), n, p=p / p.sum())
    return pa.table({
        "doc_id": pa.array(range(n), pa.int64()),
        "text": texts,
        "lang": [LANGS[i][0] for i in langs],
        "source": [f"src{i % N_SOURCES}" for i in range(n)],
        "n_chars": pa.array([len(x) for x in texts], pa.int64()),
    })


def write_tables(tables: dict[str, pa.Table], out_dir: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, tab in tables.items():
        pq.write_table(tab, os.path.join(out_dir, f"{name}.parquet"))


def table_digest(tab: pa.Table) -> str:
    """Content digest of an Arrow table (schema + values, row order
    included: the generator is order-deterministic)."""
    sink = io.BytesIO()
    with pa.ipc.new_stream(sink, tab.schema) as w:
        w.write_table(tab.combine_chunks())
    return hashlib.sha256(sink.getvalue()).hexdigest()


def inputs_digest(parts: dict) -> str:
    """One digest over named inputs: tables are digested by content,
    anything else by its canonical JSON."""
    h = hashlib.sha256()
    for name in sorted(parts):
        v = parts[name]
        d = table_digest(v) if isinstance(v, pa.Table) else json.dumps(v, sort_keys=True)
        h.update(f"{name}={d}\n".encode())
    return h.hexdigest()


# ---------------------------------------------------------------------------
# ledger_reports: the request stream
# ---------------------------------------------------------------------------

REQUEST_TYPES = (
    "gl_sums", "gl_sums_hg", "executive_summary", "aged_receivable",
    "stock_ageing", "stock_netting", "as_of", "snapshot_diff",
)


def _period(width: str, year: int, k: int) -> tuple[str, str]:
    """The ``k``-th month or quarter of ``year`` (mod 12 / mod 4), or the
    year itself."""
    if width == "year":
        return f"{year}-01-01", f"{year}-12-31"
    months = 3 if width == "quarter" else 1
    first = 1 + (k * months) % 12
    lo = dt.date(year, first, 1)
    nxt = first + months
    hi = dt.date(year + (nxt > 12), (nxt - 1) % 12 + 1, 1) - dt.timedelta(days=1)
    return lo.isoformat(), hi.isoformat()


WIDTHS = ("month", "quarter", "year")


def ledger_requests(seed: int) -> list[dict]:
    """One request of every type. The request shapes are fixed: type
    ``t`` asks for ``t % 3`` comparison periods over a ``WIDTHS[2t % 3]``
    period, the ``5t``-th month or quarter of year ``1996 + 3t % 5``, so
    every width and comparison count occurs, and the shapes and data
    volumes (as-of reports scan every row up to their date) are the same
    for every seed. The seed sets the order of the requests, the as-of
    day within the period and the audit snapshot times: it moves a run's
    inputs, not its cost mix."""
    rng = _rng(seed, "requests")
    out = []
    for t in rng.permutation(len(REQUEST_TYPES)):
        t = int(t)
        width = WIDTHS[2 * t % 3]
        lo, hi = _period(width, 1996 + 3 * t % 5, 5 * t)
        req = {"type": REQUEST_TYPES[t], "date_from": lo, "date_to": hi, "width": width,
               "comparisons": t % 3}
        day = int(rng.integers(2, 28))
        req["as_of"] = f"{hi[:8]}{min(day, int(hi[8:])):02d}"
        e1, e2 = sorted(int(x) for x in rng.choice(np.arange(2, 29), 2, replace=False))
        req["t1"] = f"2024-01-{e1:02d} 00:00:00"
        req["t2"] = f"2024-01-{e2:02d} 12:00:00"
        out.append(req)
    return out


# ---------------------------------------------------------------------------
# corpus_build: planted duplicates and per-doc embeddings
# ---------------------------------------------------------------------------


def salted(text: str, k: int) -> str:
    """Replica ``k``'s text exactly as ``tools/scaling_probe.replicated``
    salts it (every space-separated token prefixed with ``r{k}``)."""
    return " ".join(f"r{k}{t}" for t in text.split(" "))


def corpus_plants(seed: int, docs: pa.Table, replicas: int, shares: dict) -> dict:
    """Planted duplicates over the replicated corpus, whose ids are
    ``doc_id + k * n`` for replica ``k``. Returns the planted rows and
    the ground truth the output checks use:

    - exact: a byte-identical copy of a replica doc under a new id;
    - near: a copy with one token replaced (3-shingle Jaccard >= 0.8 for
      the lengths chosen);
    - semantic: fresh text whose embedding sits next to its source's;
    - contaminated: a corpus doc carrying a 12-token passage of a
      benchmark doc (the decontamination stage's target).
    """
    rng = _rng(seed, "plants")
    n = len(docs)
    ids = np.arange(n * replicas)
    texts = docs.column("text").to_pylist()
    total = n * replicas
    counts = {k: max(1, int(round(v * total))) for k, v in shares.items()}
    long_ids = [i for i in ids if len(texts[i % n].split(" ")) >= 40]
    picks = rng.choice(long_ids, sum(counts.values()), replace=False)
    rows, truth, at = [], {k: [] for k in counts}, 0
    next_id = total
    bench_texts = random_texts(_rng(seed, "bench"), 40, 30, 60)
    for kind in ("exact", "near", "semantic", "contaminated"):
        for src in picks[at:at + counts[kind]]:
            src = int(src)
            base = salted(texts[src % n], src // n)
            if kind == "exact":
                text = base
            elif kind == "near":
                toks = base.split(" ")
                j = int(rng.integers(0, len(toks)))
                toks[j] = f"r{src // n}planted"
                text = " ".join(toks)
            elif kind == "semantic":
                text = salted(random_texts(rng, 1, 40, 80)[0], src // n)
            else:
                b = bench_texts[int(rng.integers(0, len(bench_texts)))].split(" ")
                toks = base.split(" ")
                toks[5:5] = b[:12]
                text = " ".join(toks)
            rows.append((next_id, text, src))
            truth[kind].append((next_id, src))
            next_id += 1
        at += counts[kind]
    plant_tab = pa.table({
        "doc_id": pa.array([r[0] for r in rows], pa.int64()),
        "text": [r[1] for r in rows],
        "lang": [docs.column("lang")[r[2] % n].as_py() for r in rows],
        "source": [docs.column("source")[r[2] % n].as_py() for r in rows],
        "n_chars": pa.array([len(r[1]) for r in rows], pa.int64()),
    })
    bench_tab = pa.table({
        "doc_id": pa.array(range(10**9, 10**9 + len(bench_texts)), pa.int64()),
        "text": bench_texts,
    })
    return {"plants": plant_tab, "bench": bench_tab, "truth": truth,
            "n_input": total + len(rows)}


def resident_table(docs: pa.Table, replicas: int, plants: pa.Table) -> pa.Table:
    """The replicated corpus plus its plants, as
    ``tools/scaling_probe.replicated`` + the plant rows build it in Spark:
    replica ``k`` of doc ``d`` is id ``d + k * n`` with salted text."""
    n = len(docs)
    texts = docs.column("text").to_pylist()
    ids = list(range(n * replicas)) + plants.column("doc_id").to_pylist()
    return pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": [salted(texts[i % n], i // n) for i in range(n * replicas)]
        + plants.column("text").to_pylist(),
    })


def corpus_embeddings(seed: int, base_emb: np.ndarray, n_ids: int,
                      semantic: list[tuple[int, int]]) -> pa.Table:
    """One vector per corpus doc: its fixture embedding (row ``id % n``)
    diluted by seeded noise, so that unrelated docs sit far apart
    (cosine ~0.1) and only the planted semantic pairs clear a 0.8
    threshold."""
    rng = _rng(seed, "corpus-emb")
    base = base_emb[np.arange(n_ids) % len(base_emb)]
    v = 0.35 * base + rng.normal(size=(n_ids, EMB_DIM)) / np.sqrt(EMB_DIM)
    for new, src in semantic:
        v[new] = v[src] + 0.05 * rng.normal(size=EMB_DIM) / np.sqrt(EMB_DIM)
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(range(n_ids), pa.int64()),
        "doc_id": pa.array(range(n_ids), pa.int64()),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
    })


# ---------------------------------------------------------------------------
# corpus_build's write path: the arriving JSONL batch
# ---------------------------------------------------------------------------


def ingest_batch(seed: int, base: pa.Table, batch_docs: int,
                 malformed_share: float, copy_share: float) -> dict:
    """One JSONL batch for the write path. It carries a planted share of
    malformed lines (the JSONL source's corrupt channel must reject
    exactly these) and of byte-identical copies of docs already in the
    base index (the dedup stream must match every one). Ids start above
    the base corpus so the two id spaces are disjoint; text uses the salt
    of a replica beyond the base's, so fresh docs are no near-duplicates
    of resident ones."""
    rng = _rng(seed, "ingest")
    base_ids = base.column("doc_id").to_pylist()
    base_text = dict(zip(base_ids, base.column("text").to_pylist()))
    long_base = [i for i in base_ids if len(base_text[i].split(" ")) >= 30]
    next_id = max(base_ids) + 1
    n_bad = max(1, int(round(malformed_share * batch_docs)))
    n_copy = max(1, int(round(copy_share * batch_docs)))
    fresh = [salted(t, 99) for t in random_texts(rng, batch_docs - n_copy)]
    copies = [int(x) for x in rng.choice(long_base, n_copy, replace=False)]
    docs = [(next_id + i, t) for i, t in enumerate(fresh)]
    docs += [(next_id + len(fresh) + i, base_text[c]) for i, c in enumerate(copies)]
    lines = [json.dumps({"doc_id": i, "text": t, "source": f"src{i % N_SOURCES}"})
             for i, t in docs]
    lines += [f'{{"doc_id": {next_id + batch_docs + i}, "text": "trunc' for i in range(n_bad)]
    order = rng.permutation(len(lines))
    return {
        "docs": docs,
        "lines": [lines[i] for i in order],
        "n_docs": len(docs),
        "n_malformed": n_bad,
        "copies": {next_id + len(fresh) + i: c for i, c in enumerate(copies)},
        "text_bytes": sum(len(t.encode()) for _, t in docs),
    }
