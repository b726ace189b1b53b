"""Seeded input generation for every workload.

Everything here is plain numpy + pyarrow, so inputs exist before the
engine starts and the same seed always yields byte-identical files
(``input_digest`` hashes them).  Registry tables mirror the schema and
value domains of the repository's TPC-H-ish test tables; stream inputs are
written in event-time order so that no row is late by construction.
"""

from __future__ import annotations

import hashlib
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: registry scale factor: row counts are the test tables' at this sf
REGISTRY_SF = 0.002

_WORDS = (
    "vector big window join table part merge small customer scan hash sort "
    "key fast column dup batch stream spark group query order data slow row "
    "filter line value a the agg"
).split()
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["de", "en", "en", "es", "fr", "zh"]
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_DAY_US = 86_400_000_000
_EPOCH_1995_US = 788_918_400_000_000  # 1995-01-01
_EPOCH_2024_US = 1_704_067_200_000_000  # 2024-01-01


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), type=pa.timestamp("us"))


def _write(path: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), path)


def registry_tables(out_dir: str, seed: int, sf: float = REGISTRY_SF) -> dict[str, int]:
    """Write the ten registry tables under ``out_dir``; returns row counts."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust = int(150_000 * sf)
    n_supp = max(10, int(10_000 * sf))
    n_part = int(200_000 * sf)
    n_ord = int(1_500_000 * sf)
    n_users = max(15, int(15_000 * sf))
    n_events = int(1_000_000 * sf)
    n_docs = 300
    n_vecs = 300

    _write(f"{out_dir}/region.parquet", {
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": _REGIONS,
    })
    _write(f"{out_dir}/nation.parquet", {
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
    })
    _write(f"{out_dir}/customer.parquet", {
        "c_custkey": np.arange(n_cust, dtype="int64"),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": [_SEGMENTS[i] for i in rng.integers(0, 5, n_cust)],
    })
    _write(f"{out_dir}/supplier.parquet", {
        "s_suppkey": np.arange(n_supp, dtype="int64"),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
    })
    retail = np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2)
    _write(f"{out_dir}/part.parquet", {
        "p_partkey": np.arange(n_part, dtype="int64"),
        "p_name": [f"{_ADJ[a]} {_NOUN[b]}" for a, b in zip(
            rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": [_PTYPES[i] for i in rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": retail,
    })
    odate = _EPOCH_1995_US + rng.integers(0, 2404, n_ord) * _DAY_US
    _write(f"{out_dir}/orders.parquet", {
        "o_orderkey": np.arange(n_ord, dtype="int64"),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, n_ord)],
        "o_totalprice": np.round(rng.uniform(1000.0, 500_000.0, n_ord), 2),
        "o_orderdate": _ts(odate),
        "o_orderpriority": [_PRIORITIES[i] for i in rng.integers(0, 5, n_ord)],
    })
    lines = rng.integers(1, 8, n_ord)
    okey = np.repeat(np.arange(n_ord, dtype="int64"), lines)
    lnum = np.concatenate([np.arange(1, k + 1) for k in lines])
    n_li = len(okey)
    qty = rng.integers(1, 51, n_li).astype("float64")
    pkey = rng.integers(0, n_part, n_li)
    _write(f"{out_dir}/lineitem.parquet", {
        "l_orderkey": okey,
        "l_partkey": pkey,
        "l_suppkey": rng.integers(0, n_supp, n_li),
        "l_linenumber": pa.array(lnum, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * retail[pkey] * rng.uniform(0.98, 1.02, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, n_li)],
        "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, n_li)],
        "l_shipdate": _ts(np.repeat(odate, lines) + rng.integers(1, 122, n_li) * _DAY_US),
    })
    ev_ts = np.sort(_EPOCH_2024_US + rng.integers(0, 30 * _DAY_US, n_events))
    _write(f"{out_dir}/events.parquet", {
        "event_id": np.arange(n_events, dtype="int64"),
        "ts": _ts(ev_ts),
        "user_id": rng.integers(0, n_users, n_events),
        "event_type": [_EVENT_TYPES[i] for i in rng.integers(0, 5, n_events)],
        "value": np.round(rng.exponential(50.0, n_events) + 0.01, 2),
        "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n_events)],
    })
    texts: list[str] = []
    for i in range(n_docs):
        if i > 20 and rng.random() < 0.08:
            # near duplicate of an earlier document: a few words swapped
            words = texts[int(rng.integers(0, i))].split()
            for j in rng.integers(0, len(words), 2):
                words[j] = _WORDS[int(rng.integers(0, len(_WORDS)))]
            words.append("dup")
        else:
            words = [_WORDS[j] for j in rng.integers(0, len(_WORDS), int(rng.integers(10, 100)))]
        texts.append(" ".join(words))
    _write(f"{out_dir}/documents.parquet", {
        "doc_id": np.arange(n_docs, dtype="int64"),
        "text": texts,
        "lang": [_LANGS[i] for i in rng.integers(0, len(_LANGS), n_docs)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype="int64"),
    })
    vecs = rng.standard_normal((n_vecs, 64)).astype("float32")
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    _write(f"{out_dir}/embeddings.parquet", {
        "vec_id": np.arange(n_vecs, dtype="int64"),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_vecs), pa.int32()),
    })
    return {"lineitem": n_li, "orders": n_ord, "events": n_events, "documents": n_docs}


# ---------------------------------------------------------------------------
# Stream inputs.  Each file covers one contiguous slice of event time and
# the slices never overlap, so consuming files in publish order never
# presents a row behind the watermark.
# ---------------------------------------------------------------------------

#: event-time rows per second of every stream (independent of wall time)
EVENT_RATE = 10_000


def _stream_slice(rng, first_row: int, n: int, n_keys: int, t0_us: int) -> dict:
    ts = t0_us + (first_row + np.arange(n, dtype="int64")) * (1_000_000 // EVENT_RATE)
    return {
        "key": [f"k{k}" for k in rng.integers(0, n_keys, n)],
        "value": rng.integers(0, 997, n).astype("float64"),
        "ts": _ts(ts),
    }


def keyed_stream_files(out_dir: str, seed: int, file_rows: list[int], n_keys: int,
                       t0_offset_s: float = 0.0) -> list[str]:
    """One parquet file of (key, value, ts) per entry of ``file_rows``,
    in event-time order."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    t0 = _EPOCH_2024_US + int(t0_offset_s * 1_000_000)
    paths, first = [], 0
    for i, n in enumerate(file_rows):
        path = f"{out_dir}/part-{i:05d}.parquet"
        _write(path, _stream_slice(rng, first, n, n_keys, t0))
        paths.append(path)
        first += n
    return paths


def order_json_files(out_dir: str, seed: int, file_rows: list[int],
                     bad_share: float) -> tuple[list[str], int]:
    """JSON order payloads with a seeded share of malformed rows, one file
    per entry of ``file_rows``.  Returns the paths and the exact number of
    malformed rows."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    paths, n_bad, first = [], 0, 0
    for i, n in enumerate(file_rows):
        order_id = np.arange(first, first + n, dtype="int64")
        users = rng.integers(0, 5_000, n)
        price = rng.integers(1, 100_000, n) / 100.0
        bad = rng.random(n) < bad_share
        n_bad += int(bad.sum())
        payload = []
        for o, u, p, b in zip(order_id.tolist(), users.tolist(), price.tolist(), bad.tolist()):
            body = f'{{"order_id": {o}, "user_id": {u}, "price": {p}}}'
            # a malformed record is a truncated payload: no field survives
            payload.append(body[: 1 + o % 9] if b else body)
        ts = _EPOCH_2024_US + (first + np.arange(n)) * (1_000_000 // EVENT_RATE)
        path = f"{out_dir}/part-{i:05d}.parquet"
        _write(path, {"value": payload, "ts": _ts(ts)})
        paths.append(path)
        first += n
    return paths, n_bad


def input_digest(paths: list[str]) -> str:
    """sha256 over the bytes of every input file, in the given order."""
    h = hashlib.sha256()
    for p in paths:
        h.update(os.path.basename(p).encode())
        with open(p, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]
