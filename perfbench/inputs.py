"""Seeded inputs for the benchmark, written without the program's help.

Two kinds of input, both pure functions of the seed:

- ``write_tables``: the ten tables the headline queries read (TPC-H-ish
  star schema, an ``events`` stream table, ``documents`` and
  ``embeddings``), shaped like the repository's sf0.01 test tables:
  the same row counts, column types (``events.ts`` included, stored as
  INT64 TIMESTAMP(MICROS) like the test data), key ranges and value
  distributions.
- ``stage_orders``: order records staged as a Kafka-like topic of
  parquet files (one file per partition per epoch) carrying the JSON
  wire text the reference producer sends.  The JSON is written here, not
  with the program's encoder, so a symmetric encode/decode bug cannot
  pass.  The expected pipeline outputs are computed from the plain
  records with DuckDB.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import zlib
from dataclasses import dataclass
from pathlib import Path

import duckdb
import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()

#: The reference producer's catalog (product -> price range).
CATALOG = {
    "Laptop": (799.99, 1999.99),
    "Mouse": (19.99, 79.99),
    "Keyboard": (39.99, 149.99),
    "Monitor": (199.99, 799.99),
    "Headphones": (49.99, 299.99),
    "Webcam": (39.99, 149.99),
    "USB Cable": (5.99, 19.99),
    "External Drive": (59.99, 249.99),
    "Mouse Pad": (9.99, 39.99),
    "Docking Station": (99.99, 299.99),
}

_WORDS = (
    "a the key agg row scan slow fast table value part hash merge batch spark "
    "line sort window order data column join small customer query big stream "
    "group filter vector"
).split()


def _rng(seed: int, stream: str) -> np.random.Generator:
    return np.random.default_rng([seed, zlib.crc32(stream.encode())])


def _cents(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return rng.integers(round(lo * 100), round(hi * 100) + 1, n) / 100.0


def _days(rng, start: dt.date, end: dt.date, n: int) -> pa.Array:
    span = (end - start).days
    base = np.datetime64(start, "us")
    days = rng.integers(0, span + 1, n).astype("timedelta64[D]").astype("timedelta64[us]")
    return pa.array(base + days, pa.timestamp("us"))


def _documents(rng, n: int) -> list[str]:
    """Random sequences of 10-99 words; one document in twenty is a near
    copy of another (the same words plus a trailing ``dup``), so the
    dedup queries have work to find and no two texts are equal."""
    docs = [
        " ".join(_WORDS[j] for j in rng.integers(0, len(_WORDS), int(rng.integers(10, 100))))
        for _ in range(n)
    ]
    copies = rng.choice(n, n // 20, replace=False)
    originals = rng.choice(np.setdiff1d(np.arange(n), copies), len(copies), replace=False)
    for i, j in zip(copies, originals):
        docs[i] = docs[j] + " dup"
    return docs


def table_arrays(seed: int) -> dict[str, pa.Table]:
    """The ten headline tables for ``seed`` (sf0.01 row counts)."""
    n_cust, n_supp, n_part, n_ord, n_li, n_ev, n_doc, n_emb = (
        1500, 100, 2000, 15000, 60000, 10000, 500, 500
    )
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
    r = _rng(seed, "customer")
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(r.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _cents(r, -999.99, 9999.99, n_cust),
        "c_mktsegment": segs[r.integers(0, 5, n_cust)],
    })
    r = _rng(seed, "supplier")
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(r.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _cents(r, -999.99, 9999.99, n_supp),
    })
    r = _rng(seed, "part")
    colors = np.array(["hot", "large", "cold", "small", "new", "red", "blue", "old"])
    nouns = np.array(["bolt", "plate", "anvil", "rod", "widget", "gizmo", "ring", "gear"])
    types = np.array(["ECONOMY", "SMALL", "STANDARD", "MEDIUM", "LARGE", "PROMO"])
    out["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": [f"{c} {n}" for c, n in zip(colors[r.integers(0, 8, n_part)], nouns[r.integers(0, 8, n_part)])],
        "p_brand": [f"Brand#{b}" for b in r.integers(1, 26, n_part)],
        "p_type": types[r.integers(0, 6, n_part)],
        "p_size": pa.array(r.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2),
    })
    r = _rng(seed, "orders")
    prios = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(r.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[r.integers(0, 3, n_ord)],
        "o_totalprice": _cents(r, 1000.0, 500000.0, n_ord),
        "o_orderdate": _days(r, dt.date(1995, 1, 1), dt.date(2001, 8, 1), n_ord),
        "o_orderpriority": prios[r.integers(0, 5, n_ord)],
    })
    r = _rng(seed, "lineitem")
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(r.integers(0, n_ord, n_li), pa.int64()),
        "l_partkey": pa.array(r.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(r.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(r.integers(1, 8, n_li), pa.int32()),
        "l_quantity": r.integers(1, 51, n_li).astype("float64"),
        "l_extendedprice": _cents(r, 900.0, 105000.0, n_li),
        "l_discount": r.integers(0, 11, n_li) / 100.0,
        "l_tax": r.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[r.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[r.integers(0, 2, n_li)],
        "l_shipdate": _days(r, dt.date(1995, 1, 2), dt.date(2001, 11, 4), n_li),
    })
    r = _rng(seed, "events")
    # arrivals spread uniformly over 30 days (exponential gaps, mean
    # about 260 s), strictly increasing, microsecond precision
    offsets = np.sort(r.integers(0, 30 * 86_400_000_000 - n_ev, n_ev)) + np.arange(n_ev)
    ts = np.datetime64("2024-01-01T00:00:00", "us") + offsets.astype("timedelta64[us]")
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(r.integers(0, 150, n_ev), pa.int64()),
        "event_type": np.array(["click", "error", "purchase", "signup", "view"])[r.integers(0, 5, n_ev)],
        "value": np.maximum(np.round(r.exponential(50.0, n_ev), 2), 0.01),
        "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, n_ev)],
    })
    r = _rng(seed, "documents")
    docs = _documents(r, n_doc)
    langs = np.array(["en", "en", "en", "de", "es", "fr", "zh"])
    out["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_doc), pa.int64()),
        "text": docs,
        "lang": langs[r.integers(0, len(langs), n_doc)],
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": pa.array([len(d) for d in docs], pa.int64()),
    })
    r = _rng(seed, "embeddings")
    emb = r.standard_normal((n_emb, 64))
    emb = (emb / np.linalg.norm(emb, axis=1, keepdims=True)).astype("float32")
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(r.integers(0, 10, n_emb), pa.int32()),
    })
    return out


def write_tables(seed: int, out_dir: Path) -> Path:
    """Write the headline tables as ``<out_dir>/<table>.parquet``."""
    out_dir.mkdir(parents=True, exist_ok=True)
    for name, table in table_arrays(seed).items():
        pq.write_table(table, out_dir / f"{name}.parquet")
    return out_dir


# --- orders ------------------------------------------------------------------

@dataclass(frozen=True)
class OrderSpec:
    """Shape of one staged order backlog."""

    epochs: int
    records_per_epoch: int
    invalid_share: float
    partitions: int = 3


def order_records(seed: int, spec: OrderSpec) -> pd.DataFrame:
    """Plain order records from the reference producer's catalog:
    orderId, product, price, timestamp, plus the wire-only columns
    ``kind`` (how the record is damaged, '' if valid) and ``epoch``.
    Invalid records are the pipeline's DLQ cases: a non-positive price,
    a missing field, or an undecodable payload."""
    r = _rng(seed, "orders")
    n = spec.epochs * spec.records_per_epoch
    names = list(CATALOG)
    idx = r.integers(0, len(names), n)
    lo = np.array([CATALOG[p][0] for p in names])[idx]
    hi = np.array([CATALOG[p][1] for p in names])[idx]
    price = np.floor(lo * 100 + r.random(n) * (hi - lo) * 100) / 100.0
    kinds = np.array(["neg_price", "zero_price", "no_product", "no_order_id", "undecodable"])
    bad = r.random(n) < spec.invalid_share
    kind = np.where(bad, kinds[r.integers(0, len(kinds), n)], "")
    price = np.where(kind == "neg_price", -price, np.where(kind == "zero_price", 0.0, price))
    product = np.array(names, dtype=object)[idx]
    order_id = np.array([f"ORD-{seed % 10000:04d}-{i:09d}" for i in range(n)], dtype=object)
    product[(kind == "no_product") | (kind == "undecodable")] = None
    order_id[(kind == "no_order_id") | (kind == "undecodable")] = None
    pdf = pd.DataFrame({
        "orderId": order_id,
        "product": product,
        "price": price,
        "timestamp": 1_700_000_000_000 + np.cumsum(r.integers(1, 50, n)),
        "kind": kind,
        "epoch": np.arange(n) // spec.records_per_epoch,
    })
    # An undecodable payload carries no price either.
    pdf.loc[pdf["kind"] == "undecodable", "price"] = np.nan
    return pdf


def json_message(order_id, product, price, ts, kind: str) -> str:
    """One order on the JSON wire, damaged as ``kind`` says."""
    if kind == "undecodable":
        return "order#" + str(ts)
    rec = {"orderId": order_id, "product": product, "price": round(price, 2), "timestamp": int(ts)}
    if kind == "no_product":
        del rec["product"]
    if kind == "no_order_id":
        del rec["orderId"]
    return json.dumps(rec)


def stage_orders(seed: int, spec: OrderSpec, topic_dir: Path) -> pd.DataFrame:
    """Stage the backlog under ``topic_dir``: for each epoch one parquet
    file per partition (``key``, ``value``, ``partition``, ``offset``),
    the epoch's files sharing one modification time that increases with
    the epoch, so a file source reading ``partitions`` files per trigger
    replays the topic epoch by epoch.  Returns the plain records."""
    pdf = order_records(seed, spec)
    topic_dir.mkdir(parents=True, exist_ok=True)
    values = pa.array(
        [json_message(*rec) for rec in zip(
            pdf["orderId"], pdf["product"], pdf["price"], pdf["timestamp"], pdf["kind"])],
        pa.string(),
    )
    keys = pa.array(pdf["orderId"].fillna(""), pa.string())
    part = np.array([zlib.crc32(k.encode()) % spec.partitions for k in keys.to_pylist()], np.int32)
    mtime0 = 1_700_000_000
    for e in range(spec.epochs):
        lo, hi = e * spec.records_per_epoch, (e + 1) * spec.records_per_epoch
        for p in range(spec.partitions):
            sel = pa.array(np.flatnonzero(part[lo:hi] == p) + lo)
            path = topic_dir / f"epoch-{e:05d}-p{p}.parquet"
            pq.write_table(
                pa.table({
                    "key": keys.take(sel),
                    "value": values.take(sel),
                    "partition": pa.array(np.full(len(sel), p), pa.int32()),
                    "offset": sel.cast(pa.int64()),
                }),
                path,
            )
            os.utime(path, (mtime0 + e, mtime0 + e))
    return pdf


def expected_outputs(records: pd.DataFrame) -> dict:
    """What the pipeline must produce for ``records``, computed by DuckDB:
    valid and DLQ counts, DLQ count per (error_type, product) and the
    per-product count / exact sum / average / min / max of valid prices."""
    con = duckdb.connect()
    try:
        con.register("r", records[["orderId", "product", "price"]])
        valid = "orderId IS NOT NULL AND product IS NOT NULL AND price IS NOT NULL AND price > 0"
        n_valid, n_dlq = con.execute(
            f"SELECT count(*) FILTER ({valid}), count(*) FILTER (NOT coalesce({valid}, false)) FROM r"
        ).fetchone()
        dlq = con.execute(
            f"""SELECT 'PermanentError' AS error_type, coalesce(product, 'UNKNOWN') AS product,
                       count(*) AS error_count
                FROM r WHERE NOT coalesce({valid}, false) GROUP BY ALL"""
        ).df()
        stats = con.execute(
            f"""SELECT product, count(*) AS order_count,
                       CAST(sum(CAST(price AS DECIMAL(18,2))) AS DOUBLE) AS price_sum,
                       CAST(sum(CAST(price AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS average_price,
                       min(price) AS minimum_price, max(price) AS maximum_price
                FROM r WHERE {valid} GROUP BY product"""
        ).df()
    finally:
        con.close()
    return {"valid": int(n_valid), "dlq": int(n_dlq), "error_stats": dlq, "snapshot": stats}
