"""Seeded input generators: the TPC-H-shaped fixture tables the query
workloads read, and the OTX-shaped pulse batches the ETL workload pulls
through the REST stub.

The tables follow the schemas and value domains of the engine's fixture
set (TESTDATA.md / FIXTURES.md): same column names and types, same
categorical domains, same key ranges per scale factor. Only the seed
changes the values; row counts depend on the scale factor alone, so every
seed does the same amount of work.
"""

from __future__ import annotations

import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_ADJ = ["small", "red", "blue", "hot", "new", "cold", "large", "old"]
_NOUN = ["ring", "widget", "bolt", "gear", "rod", "anvil", "plate", "gizmo"]
_EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
_LANGS = ["en", "fr", "es", "zh", "de"]
_LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
_VOCAB = (
    "scan column window order sort part agg value line key join merge group "
    "query a vector hash slow stream filter fast the batch spark table small "
    "data big customer row"
).split()


def _days(rng, n: int, start: dt.date, end: dt.date) -> np.ndarray:
    span = (end - start).days
    base = np.datetime64(start.isoformat(), "us")
    return base + rng.integers(0, span + 1, n).astype("timedelta64[D]").astype(
        "timedelta64[us]"
    )


def tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """All fixture tables for ``seed`` at scale factor ``sf``."""
    rng = np.random.default_rng([seed, 1])
    n_cust, n_supp = int(150_000 * sf), max(10, int(10_000 * sf))
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_li, n_ev = int(6_000_000 * sf), int(1_000_000 * sf)
    n_users, n_docs, dim = max(15, int(15_000 * sf)), 500, 64

    out: dict[str, pa.Table] = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    out["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": rng.choice(_SEGMENTS, n_cust),
    })
    out["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
    })
    adj, noun = rng.integers(0, 8, n_part), rng.integers(0, 8, n_part)
    out["part"] = pa.table({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{_ADJ[a]} {_NOUN[b]}" for a, b in zip(adj, noun)],
        "p_brand": [f"Brand#{k}" for k in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(_TYPES, n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 1),
    })
    out["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": rng.choice(["O", "F", "P"], n_ord),
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_ord), 2),
        "o_orderdate": _days(rng, n_ord, dt.date(1995, 1, 1), dt.date(2001, 8, 1)),
        "o_orderpriority": rng.choice(_PRIORITIES, n_ord),
    })
    out["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_li).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900.0, 105000.0, n_li), 2),
        "l_discount": np.round(rng.uniform(0.0, 0.1, n_li), 2),
        "l_tax": np.round(rng.uniform(0.0, 0.08, n_li), 2),
        "l_returnflag": rng.choice(["A", "N", "R"], n_li),
        "l_linestatus": rng.choice(["O", "F"], n_li),
        "l_shipdate": _days(rng, n_li, dt.date(1995, 1, 2), dt.date(2001, 11, 4)),
    })
    month_us = 30 * 86_400 * 1_000_000
    ts = np.sort(rng.integers(0, month_us, n_ev))
    out["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pa.array(np.datetime64("2024-01-01", "us") + ts.astype("timedelta64[us]")),
        "user_id": rng.integers(0, n_users, n_ev).astype(np.int64),
        "event_type": rng.choice(_EVENT_TYPES, n_ev),
        "value": np.maximum(0.01, np.round(rng.exponential(50.0, n_ev), 2)),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    texts = [
        " ".join(rng.choice(_VOCAB, int(k))) for k in rng.integers(10, 100, n_docs)
    ]
    # one document in twenty is a planted near-duplicate of another
    for i in np.flatnonzero(rng.random(n_docs) < 0.05):
        texts[i] = texts[int(rng.integers(0, n_docs))] + " dup"
    out["documents"] = pa.table({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(_LANGS, n_docs, p=_LANG_P),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    vec = rng.standard_normal((n_docs, dim)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    out["embeddings"] = pa.table({
        "vec_id": np.arange(n_docs, dtype=np.int64),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n_docs).astype(np.int32),
    })
    return out


def write_tables(seed: int, sf: float, out_dir: str) -> str:
    """Write every table as ``<out_dir>/<name>.parquet``; returns out_dir."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables(seed, sf).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir


# --------------------------------------------------------------------------
# OTX-shaped pulse batches
# --------------------------------------------------------------------------

#: Share of keyed records in a batch that update a key an earlier batch sent.
UPDATE_SHARE = 0.6


def _stamp(t: dt.datetime) -> str:
    return t.strftime("%Y-%m-%dT%H:%M:%S.%f")


def pulse_batch(seed: int, index: int, n: int, seen_keys: list[str]) -> list:
    """Batch ``index`` of ``n`` items as they appear on the wire.

    About 60 % of the keyed records update keys in ``seen_keys`` (the keys
    earlier batches sent); the rest are new keys, which are appended to
    ``seen_keys``. Every batch also carries in-batch duplicates of a key
    with a later ``modified``, records whose only id is the top-level one,
    records whose ids are NULL or empty (the keyless insert fallback), and
    JSON nulls in place of a pulse.
    """
    rng = np.random.default_rng([seed, 2, index])
    base = dt.datetime(2024, 1, 1) + dt.timedelta(hours=index)
    items: list = []
    for i in range(n):
        kind = rng.random()
        modified = _stamp(base + dt.timedelta(seconds=int(rng.integers(0, 3600))))
        if kind < 0.03:
            items.append(None)  # JSON null item
            continue
        if kind < 0.07:
            pid = None if kind < 0.05 else ""
            top = None
        elif kind < 0.12 and items and isinstance(items[-1], dict):
            prev = items[-1]  # in-batch duplicate, later modified
            pid = (prev.get("pulse_info") or {}).get("id") or prev.get("id")
            top = None
            if pid is None:
                pid = f"p{seed}-{index}-{i}"
            modified = _stamp(base + dt.timedelta(seconds=3600 + i))
        elif seen_keys and rng.random() < UPDATE_SHARE:
            pid, top = seen_keys[int(rng.integers(0, len(seen_keys)))], None
        else:
            pid, top = f"p{seed}-{index}-{i}", None
            seen_keys.append(pid)
        if pid and rng.random() < 0.15:
            # id only at the top level: pulse_info.id empty -> coalesce
            top, info_id = pid, ""
        else:
            info_id = pid
        count = int(rng.integers(0, 50))
        items.append({
            "id": top,
            "name": f"pulse {i} of batch {index}",
            "created": _stamp(base),
            "modified": modified,
            "indicator_count": None if rng.random() < 0.1 else count,
            "pulse_info": {
                "id": info_id,
                "name": f"pulse-{index}-{i}",
                "created": _stamp(base),
                "modified": modified,
            },
            "tags": [f"t{int(k)}" for k in rng.integers(0, 20, 2)],
            "indicators": [
                {"indicator": f"10.0.{index % 250}.{i % 250}", "type": "IPv4"}
            ],
        })
    return items


def render_pages(items: list, per_page: int) -> list[bytes]:
    """Pre-render the wire pages ({"results": [...]}) of one batch."""
    return [
        json.dumps({"results": items[i : i + per_page]}).encode()
        for i in range(0, len(items), per_page)
    ]
