"""Seeded input generators. The same seed always gives the same inputs.

- ``seismic_catalog`` / ``fault_plan``: the channel catalog the daily job
  fans out, and per day which hourly chunk requests the sensors answer
  with a dead letter (HTTP 404 or a connection timeout) or a zero-byte
  payload.
- ``tpch_tables``: lineitem / orders / customer in the fixture schema, for
  the governed table and the registered relational queries.
- ``curation_corpus``: documents with planted exact and near duplicates,
  and embeddings with planted near-duplicate vectors.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

EPOCH = dt.datetime(2024, 1, 1)

# ---------------------------------------------------------------- seismic

NETWORKS = ("OX", "GB", "IU", "XR")
CHANNELS = ("HHZ", "HHN", "HHE")


def seismic_catalog(seed: int, n_stations: int, n_hosts: int) -> pd.DataFrame:
    """One row per channel: NSLC codes, the host serving it and a dense
    ``channel_id`` used in request keys."""
    rng = np.random.default_rng([seed, 1])
    rows = []
    for s in range(n_stations):
        net = NETWORKS[rng.integers(len(NETWORKS))]
        host = f"10.0.{rng.integers(n_hosts)}.1:8080"
        for ch in CHANNELS:
            rows.append((net, f"S{s:03d}", "00", ch, host))
    cat = pd.DataFrame(
        rows, columns=["network", "station", "location", "channel", "host"]
    )
    cat["channel_id"] = np.arange(len(cat), dtype=np.int64)
    return cat


def fault_plan(
    seed: int,
    day: int,
    n_channels: int,
    hours: int = 24,
    dead_frac: float = 0.08,
    empty_frac: float = 0.02,
) -> pd.DataFrame:
    """Chunks whose first fetch fails or comes back empty on ``day``.

    Columns: channel_id, hour, fault ('status=404' | 'timeout=1' |
    'empty=1' — the stub transport's markers)."""
    rng = np.random.default_rng([seed, 2, day])
    n = n_channels * hours
    n_dead = int(round(n * dead_frac))
    n_empty = int(round(n * empty_frac))
    picked = rng.choice(n, size=n_dead + n_empty, replace=False)
    faults = np.array(
        ["status=404", "timeout=1"] * ((n_dead + 1) // 2), dtype=object
    )[:n_dead]
    faults = np.concatenate([faults, np.array(["empty=1"] * n_empty, dtype=object)])
    return pd.DataFrame(
        {
            "channel_id": (picked // hours).astype(np.int64),
            "hour": (picked % hours).astype(np.int32),
            "fault": faults,
        }
    )


def request_key(day: int, channel_id, hour):
    """Table key of one (day, channel, hour) chunk: days occupy disjoint
    key ranges, so a day is one stats-prunable key range."""
    return day * 1_000_000 + channel_id * 100 + hour


def day_key_range(day: int) -> tuple[int, int]:
    return day * 1_000_000, day * 1_000_000 + 999_999


# ------------------------------------------------------------ TPC-H-ish

SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")


def _dates(rng, n: int, lo: str, hi: str) -> np.ndarray:
    lo_d, hi_d = np.datetime64(lo, "D"), np.datetime64(hi, "D")
    span = int((hi_d - lo_d) / np.timedelta64(1, "D"))
    return (lo_d + rng.integers(0, span, n)).astype("datetime64[us]")


def tpch_tables(seed: int, n_orders: int) -> dict[str, pa.Table]:
    """customer / orders / lineitem with about 4 lines per order."""
    rng = np.random.default_rng([seed, 3])
    n_cust = max(10, n_orders // 10)
    customer = pa.table(
        {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": np.round(rng.uniform(-999, 9999, n_cust), 2),
            "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)],
        }
    )
    o_date = _dates(rng, n_orders, "1992-01-01", "1998-08-01")
    orders = pa.table(
        {
            "o_orderkey": np.arange(n_orders, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_orders).astype(np.int64),
            "o_orderstatus": np.array(["F", "O", "P"])[
                rng.choice(3, n_orders, p=[0.49, 0.49, 0.02])
            ],
            "o_totalprice": np.round(rng.uniform(900, 400000, n_orders), 2),
            "o_orderdate": o_date,
            "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_orders)],
        }
    )
    lines = rng.integers(1, 8, n_orders)
    n_li = int(lines.sum())
    okey = np.repeat(np.arange(n_orders, dtype=np.int64), lines)
    starts = np.repeat(np.cumsum(lines) - lines, lines)
    linenumber = (np.arange(n_li) - starts + 1).astype(np.int32)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    ship = o_date[okey] + rng.integers(1, 122, n_li).astype("timedelta64[D]")
    lineitem = pa.table(
        {
            "l_orderkey": okey,
            "l_partkey": rng.integers(0, 20000, n_li).astype(np.int64),
            "l_suppkey": rng.integers(0, 1000, n_li).astype(np.int64),
            "l_linenumber": linenumber,
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * rng.uniform(900, 2000, n_li), 2),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
            "l_shipdate": ship.astype("datetime64[us]"),
        }
    )
    return {"customer": customer, "orders": orders, "lineitem": lineitem}


# ------------------------------------------------------------- curation

VOCAB = (
    "the a data table scan merge join sort hash key value row column query "
    "filter group window order batch stream spark vector line part customer "
    "small big fast slow agg index file commit change feed sensor channel "
    "trace wave quake station signal noise depth shard sample release"
).split()
LANGS = ("en", "en", "en", "de", "es", "fr", "zh")


def curation_corpus(
    seed: int, n_docs: int, n_vecs: int, dup_frac: float = 0.05
) -> tuple[dict[str, pa.Table], list[tuple[int, int]]]:
    """``documents`` with ``dup_frac`` exact and ``dup_frac`` near
    duplicates (one word changed), and ``embeddings`` (64-d, unit norm,
    10 label clusters) with ``dup_frac`` near-copies of earlier vectors.
    Also returns the planted (original, copy) vector id pairs."""
    rng = np.random.default_rng([seed, 4])
    vocab = np.array(VOCAB)
    texts = []
    for _ in range(n_docs):
        n_words = int(rng.integers(8, 120))
        # a few documents repeat one word — the quality gate drops them
        if rng.random() < 0.05:
            texts.append(" ".join([vocab[rng.integers(len(vocab))]] * n_words))
        else:
            texts.append(" ".join(vocab[rng.integers(0, len(vocab), n_words)]))
    n_dup = int(n_docs * dup_frac)
    src = rng.choice(n_docs // 2, size=2 * n_dup, replace=False)
    dst = n_docs // 2 + rng.choice(n_docs - n_docs // 2, size=2 * n_dup, replace=False)
    for s, d in zip(src[:n_dup], dst[:n_dup]):  # exact
        texts[d] = texts[s]
    for s, d in zip(src[n_dup:], dst[n_dup:]):  # near: one word replaced
        words = texts[s].split(" ")
        words[int(rng.integers(len(words)))] = "quake"
        texts[d] = " ".join(words)
    documents = pa.table(
        {
            "doc_id": np.arange(n_docs, dtype=np.int64),
            "text": texts,
            "lang": np.array(LANGS)[rng.integers(0, len(LANGS), n_docs)],
            "source": [f"src{i}" for i in rng.integers(0, 64, n_docs)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )
    labels = rng.integers(0, 10, n_vecs).astype(np.int32)
    centers = rng.normal(size=(10, 64))
    vecs = centers[labels] * 0.35 + rng.normal(size=(n_vecs, 64))
    n_vdup = int(n_vecs * dup_frac)
    vsrc = rng.choice(n_vecs // 2, size=n_vdup, replace=False)
    vdst = n_vecs // 2 + rng.choice(n_vecs - n_vecs // 2, size=n_vdup, replace=False)
    vecs[vdst] = vecs[vsrc] + rng.normal(scale=0.02, size=(n_vdup, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    embeddings = pa.table(
        {
            "vec_id": np.arange(n_vecs, dtype=np.int64),
            "embedding": pa.array(
                list(vecs.astype(np.float32)), type=pa.list_(pa.float32())
            ),
            "label": labels,
        }
    )
    pairs = [(int(a), int(b)) for a, b in zip(vsrc, vdst)]
    return {"documents": documents, "embeddings": embeddings}, pairs


def write_tables(tables: dict[str, pa.Table], sf_dir: str) -> None:
    """One parquet file per table, the fixture layout ``load_table`` reads."""
    os.makedirs(sf_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(sf_dir, f"{name}.parquet"))
