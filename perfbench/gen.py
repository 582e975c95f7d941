"""Seeded input generators for the benchmark.

Everything here is a pure function of the seed: the same seed gives the same
rows, byte for byte. Two families of inputs:

- a **session lake** (sessions with parent trees, transcripts, trace events)
  in the shapes of :mod:`lakehouse_spark.schemas` — plain Python rows, so the
  benchmark's correctness model and the Spark store start from one list;
- a **star-schema corpus** in the testdata layout (``<dir>/<table>.parquet``
  for region … embeddings) written with pyarrow, the base that
  ``plans.scale_synth`` multiplies for the batch workload.
"""

from __future__ import annotations

import os
import random
from datetime import datetime, timedelta

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

PROJECTS = [f"proj{i}" for i in range(8)]
STATUSES = ["created", "active", "completed", "failed", "terminated"]
PROFILES = ["default", "dev", "review"]
TOOLS = ["Bash", "Read", "Edit", "Grep", "Write", "Task"]
NOISE_EVENTS = ["llm:request", "llm:response", "context:compact"]
T0 = datetime(2026, 1, 1)


def _iso(t: datetime) -> str:
    return t.strftime("%Y-%m-%dT%H:%M:%S.") + f"{t.microsecond // 1000:03d}+00:00"


# -- session lake --------------------------------------------------------------


def session_row(rng: random.Random, i: int, parent: str | None) -> tuple:
    """One SESSION-schema row; ``created_at`` strictly increases with ``i``
    so list orderings are total without relying on the tie-break."""
    created = T0 + timedelta(minutes=7 * i, seconds=rng.randrange(60))
    status = rng.choice(STATUSES)
    ended = created + timedelta(minutes=rng.randrange(5, 90)) if status in (
        "completed", "failed", "terminated") else None
    return (
        f"sess-{i:05d}", f"session {i}", parent, rng.choice(PROJECTS), status,
        created, created + timedelta(seconds=5), ended, rng.choice(PROFILES),
        0, 0, None, "boom" if status == "failed" else None, None,
        rng.random() < 0.4, None, i,
    )


def session_events(rng: random.Random, sid: str, start: datetime, turns: int) -> list[tuple]:
    """TRACE_EVENT rows for ``turns`` prompt turns: each turn has thinking
    deltas, sequential tool:pre/tool:post pairs with distinct durations,
    and noise events at DEBUG level; the log ends with ``session:end``."""
    rows: list[tuple] = []
    t = start
    seq = 0

    def add(event: str, lvl: str, data):
        nonlocal seq, t
        seq += 1
        t = t + timedelta(milliseconds=rng.randrange(5, 4000))
        rows.append((sid, _iso(t), lvl, event, data, seq))

    for turn in range(turns):
        add("prompt:submit", "INFO", (f"prompt {turn}", None, None, None, None, None))
        for _ in range(rng.randrange(0, 3)):
            add("thinking:delta", "DEBUG", (None, None, None, None, "hmm", None))
        for _ in range(rng.randrange(1, 5)):
            tool = rng.choice(TOOLS)
            add("tool:pre", "INFO", (None, tool, {"arg": "x"}, None, None, None))
            ok = rng.random() < 0.9
            result = (True, "ok", None) if ok else (False, None, ("failed",))
            add("tool:post", "INFO", (None, tool, None, None, None, result))
            if rng.random() < 0.5:
                add(rng.choice(NOISE_EVENTS), "DEBUG", None)
    add("session:end", "INFO", None)
    return rows


def session_messages(rng: random.Random, sid: str, start: datetime, n: int) -> list[tuple]:
    return [
        (sid, start + timedelta(seconds=30 * k), "user" if k % 2 == 0 else "assistant",
         f"message {k} of {sid}", None, rng.randrange(1, 500), k + 1)
        for k in range(n)
    ]


def session_lake(seed: int, n_sessions: int, turns: tuple[int, int] = (1, 6),
                 msgs: tuple[int, int] = (0, 24)) -> dict[str, list[tuple]]:
    """Rows for the three lake tables. About a third of the sessions hang
    under an earlier session, forming trees at most five levels deep."""
    rng = random.Random(seed)
    sessions, messages, events = [], [], []
    depth: list[int] = []
    for i in range(n_sessions):
        parent = None
        depth.append(0)
        if i > 4 and rng.random() < 0.35:
            p = rng.randrange(max(0, i - 40), i)
            if depth[p] < 4:  # well inside the closure's depth cap
                parent, depth[i] = f"sess-{p:05d}", depth[p] + 1
        row = session_row(rng, i, parent)
        sessions.append(row)
        messages += session_messages(rng, row[0], row[5], rng.randrange(*msgs))
        events += session_events(rng, row[0], row[5], rng.randrange(*turns))
    return {"sessions": sessions, "messages": messages, "events": events}


# -- star-schema corpus --------------------------------------------------------

_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PTYPES = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]
_ADJ = ["blue", "hot", "small", "old", "red", "new", "cold", "large"]
_NOUN = ["bolt", "gear", "anvil", "ring", "widget", "rod", "plate", "gizmo"]
_PRIOS = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVTYPES = ["click", "signup", "error", "view", "purchase"]
_LANGS = ["en", "en", "en", "zh", "de", "fr", "es"]
_WORDS = ("a the key agg row scan slow fast table value part hash merge batch "
          "spark line sort window order data column join small customer query "
          "big stream group filter vector").split()
_EPOCH_1995 = int(datetime(1995, 1, 1).timestamp()) * 1_000_000
_DAY_US = 86_400 * 1_000_000


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), pa.int64()).cast(pa.timestamp("us"))


def _write(dst: str, name: str, cols: dict) -> int:
    table = pa.table(cols)
    pq.write_table(table, os.path.join(dst, f"{name}.parquet"))
    return table.num_rows


def star_corpus(seed: int, dst: str, sf: float) -> dict[str, int]:
    """Write the ten testdata tables at scale ``sf`` (row counts follow the
    testdata generations: 150k customers, 1.5M orders, ~4 lines per order
    per unit of sf). Returns {table: rows}."""
    os.makedirs(dst, exist_ok=True)
    r = np.random.default_rng(seed)
    n_cust = max(50, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(50, int(200_000 * sf))
    n_ord = max(200, int(1_500_000 * sf))
    n_ev = max(500, int(1_000_000 * sf))
    n_doc = max(500, int(50_000 * sf))
    n_emb = max(500, int(20_000 * sf))
    rows: dict[str, int] = {}
    rows["region"] = _write(dst, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    rows["nation"] = _write(dst, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    rows["customer"] = _write(dst, "customer", {
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(r.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(r.uniform(-999, 9999, n_cust), 2),
        "c_mktsegment": [_SEGMENTS[i] for i in r.integers(0, 5, n_cust)]})
    rows["supplier"] = _write(dst, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(r.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(r.uniform(-999, 9999, n_supp), 2)})
    rows["part"] = _write(dst, "part", {
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": [f"{_ADJ[a]} {_NOUN[b]}" for a, b in
                   zip(r.integers(0, 8, n_part), r.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in r.integers(1, 26, n_part)],
        "p_type": [_PTYPES[t] for t in r.integers(0, 6, n_part)],
        "p_size": pa.array(r.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1, 2)})
    odate = _EPOCH_1995 + r.integers(0, 2404, n_ord) * _DAY_US
    rows["orders"] = _write(dst, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(r.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": [("F", "O", "P")[s] for s in r.integers(0, 3, n_ord)],
        "o_totalprice": np.round(r.uniform(1000, 500_000, n_ord), 2),
        "o_orderdate": _ts(odate),
        "o_orderpriority": [_PRIOS[p] for p in r.integers(0, 5, n_ord)]})
    per = r.integers(1, 8, n_ord)
    lok = np.repeat(np.arange(n_ord), per)
    n_li = len(lok)
    lnum = np.concatenate([np.arange(1, k + 1) for k in per]).astype("int32")
    qty = r.integers(1, 51, n_li).astype("float64")
    rows["lineitem"] = _write(dst, "lineitem", {
        "l_orderkey": pa.array(lok, pa.int64()),
        "l_partkey": pa.array(r.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(r.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(lnum, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * r.uniform(900, 3000, n_li), 2),
        "l_discount": r.integers(0, 11, n_li) / 100.0,
        "l_tax": r.integers(0, 9, n_li) / 100.0,
        "l_returnflag": [("A", "N", "R")[f] for f in r.integers(0, 3, n_li)],
        "l_linestatus": [("F", "O")[f] for f in r.integers(0, 2, n_li)],
        "l_shipdate": _ts(odate[lok] + r.integers(1, 122, n_li) * _DAY_US)})
    ev_us = int(datetime(2024, 1, 1).timestamp()) * 1_000_000 + np.sort(
        r.integers(0, 30 * _DAY_US, n_ev))
    rows["events"] = _write(dst, "events", {
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": _ts(ev_us),
        "user_id": pa.array(r.integers(0, 150, n_ev), pa.int64()),
        "event_type": [_EVTYPES[e] for e in r.integers(0, 5, n_ev)],
        "value": np.round(r.uniform(0.01, 500, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, n_ev)]})
    texts: list[str] = []
    for i in range(n_doc):
        if i > 10 and r.random() < 0.08:
            # near-duplicate: an earlier doc with a few tokens replaced
            toks = texts[int(r.integers(0, i))].split()
            for j in r.integers(0, len(toks), 3):
                toks[j] = _WORDS[int(r.integers(0, len(_WORDS)))]
        else:
            toks = [_WORDS[w] for w in r.integers(0, len(_WORDS), int(r.integers(8, 90)))]
        texts.append(" ".join(toks))
    rows["documents"] = _write(dst, "documents", {
        "doc_id": pa.array(np.arange(n_doc), pa.int64()),
        "text": texts,
        "lang": [_LANGS[k] for k in r.integers(0, len(_LANGS), n_doc)],
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})
    emb = r.normal(0, 1, (n_emb, 64)).astype("float32")
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    rows["embeddings"] = _write(dst, "embeddings", {
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(r.integers(0, 10, n_emb), pa.int32())})
    return rows
