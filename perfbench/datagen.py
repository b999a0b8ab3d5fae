"""Seeded synthetic tables in the shape of the engine's test tables.

The benchmark runs in a checkout that holds only the repository's
files, so it cannot read a pre-generated data set: every input is made
here from the run's seed. The tables mirror the schemas and value
domains of the repository's fixture tables (FIXTURES.md, TESTDATA.md):
``documents``, ``events``, ``embeddings`` and the TPC-H-like star
schema. Row counts scale with ``sf`` the way the fixture sets do
(sf 0.01: 500 documents, 10 000 events, 60 000 line items).

The same ``(seed, sf)`` always gives byte-identical parquet files.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ("en", "de", "es", "fr", "zh")
LANG_P = (0.41, 0.14, 0.15, 0.15, 0.15)
EVENT_TYPES = ("signup", "click", "view", "purchase", "error")
EPOCH_2024_US = 1_704_067_200_000_000
DAY_US = 86_400_000_000
EPOCH_1995_US = 788_918_400_000_000


def _us(values) -> pa.Array:
    return pa.array(np.asarray(values, dtype=np.int64), type=pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def documents(rng: np.random.Generator, n: int) -> pa.Table:
    """Bag-of-words documents of 8-99 words over a 30-word vocabulary;
    about 1% are near-duplicates of an earlier document (the text plus a
    ``dup`` token), so dedup has work."""
    texts: list[str] = []
    for i in range(n):
        if i > 10 and rng.random() < 0.01:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
            continue
        words = rng.choice(VOCAB, size=int(rng.integers(8, 100)))
        texts.append(" ".join(words))
    return pa.table(
        {
            "doc_id": np.arange(n, dtype=np.int64),
            "text": pa.array(texts, type=pa.string()),
            "lang": pa.array(rng.choice(LANGS, size=n, p=LANG_P), type=pa.string()),
            "source": pa.array([f"src{i % 20}" for i in range(n)], type=pa.string()),
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def events(rng: np.random.Generator, n: int, n_users: int) -> pa.Table:
    """Click-stream events over 30 days, ``event_id`` in time order;
    ``signup`` is one of five equally likely event types."""
    ts = EPOCH_2024_US + np.sort(rng.integers(0, 30 * DAY_US, n))
    return pa.table(
        {
            "event_id": np.arange(n, dtype=np.int64),
            "ts": _us(ts),
            "user_id": rng.integers(0, n_users, n).astype(np.int64),
            "event_type": pa.array(rng.choice(EVENT_TYPES, size=n), type=pa.string()),
            "value": _money(rng, 0.01, 490.0, n),
            "props": pa.array(
                [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)], type=pa.string()
            ),
        }
    )


REPRESENTATION = pa.struct([("path", pa.string()), ("created_by", pa.string())])
METADATA = pa.struct(
    [("values", pa.map_(pa.string(), pa.string())), ("created_by", pa.string())]
)


def datarecord_events(
    rng: np.random.Generator, n: int, n_users: int, n_files: int
) -> list[pa.Table]:
    """A click-stream mapped onto DataRecordEvents the way the catalog's
    ``bucketed_snapshot_consolidation`` maps it: ``signup`` becomes a
    CREATE carrying ``name`` and ``representation`` (``/u<user>``),
    every other event an UPSERT_METADATA carrying ``{event_type,
    value_cents}``. Returned as ``n_files`` equal slices in event-time
    order, one per micro-batch."""
    ev = events(rng, n, n_users)
    users = ev["user_id"].to_numpy()
    kinds = ev["event_type"].to_pylist()
    cents = np.round(ev["value"].to_numpy() * 100).astype(np.int64)
    create = [k == "signup" for k in kinds]
    uname = [f"/u{u}" for u in users]
    table = pa.table(
        {
            "doc_id": users,
            "command": ["CREATE" if c else "UPSERT_METADATA" for c in create],
            "event_ts": ev["ts"].cast(pa.timestamp("us", tz="UTC")),
            "name": [u if c else None for u, c in zip(uname, create)],
            "representation": pa.array(
                [{"path": u, "created_by": "events"} if c else None
                 for u, c in zip(uname, create)],
                type=REPRESENTATION,
            ),
            "metadata": pa.array(
                [None if c else {
                    "values": [("event_type", k), ("value_cents", str(v))],
                    "created_by": "events",
                } for c, k, v in zip(create, kinds, cents)],
                type=METADATA,
            ),
        }
    )
    per = n // n_files
    return [table.slice(i * per, per) for i in range(n_files)]


def embeddings(rng: np.random.Generator, n: int, dim: int = 64) -> pa.Table:
    """Unit vectors drawn around ten labelled centres."""
    centres = rng.normal(size=(10, dim))
    label = rng.integers(0, 10, n).astype(np.int32)
    v = centres[label] + 0.8 * rng.normal(size=(n, dim))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table(
        {
            "vec_id": np.arange(n, dtype=np.int64),
            "embedding": pa.array(list(v), type=pa.list_(pa.float32())),
            "label": label,
        }
    )


def star_schema(rng: np.random.Generator, sf: float) -> dict[str, pa.Table]:
    n_cust, n_part = int(150_000 * sf), int(200_000 * sf)
    n_supp, n_ord = int(10_000 * sf), int(1_500_000 * sf)
    n_line = 4 * n_ord
    region = pa.table(
        {
            "r_regionkey": np.arange(5, dtype=np.int32),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }
    )
    nation = pa.table(
        {
            "n_nationkey": np.arange(25, dtype=np.int32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": (np.arange(25) % 5).astype(np.int32),
        }
    )
    customer = pa.table(
        {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": rng.choice(
                ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"],
                size=n_cust,
            ),
        }
    )
    colours = ["red", "blue", "green", "small", "large", "shiny", "old", "new"]
    things = ["widget", "anvil", "ring", "gear", "bolt", "valve", "lamp", "pipe"]
    part = pa.table(
        {
            "p_partkey": np.arange(n_part, dtype=np.int64),
            "p_name": [
                f"{colours[a]} {things[b]}"
                for a, b in rng.integers(0, 8, (n_part, 2))
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": rng.choice(
                ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"],
                size=n_part,
            ),
            "p_size": rng.integers(1, 51, n_part).astype(np.int32),
            "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 2),
        }
    )
    supplier = pa.table(
        {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }
    )
    orders = pa.table(
        {
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
            "o_orderstatus": rng.choice(["F", "O", "P"], size=n_ord),
            "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
            "o_orderdate": _us(EPOCH_1995_US + rng.integers(0, 2400, n_ord) * DAY_US),
            "o_orderpriority": rng.choice(
                ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"],
                size=n_ord,
            ),
        }
    )
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    lineitem = pa.table(
        {
            "l_orderkey": rng.integers(0, n_ord, n_line).astype(np.int64),
            "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
            "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
            "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_line), 2),
            "l_discount": np.round(rng.integers(0, 11, n_line) / 100, 2),
            "l_tax": np.round(rng.integers(0, 9, n_line) / 100, 2),
            "l_returnflag": rng.choice(["A", "N", "R"], size=n_line),
            "l_linestatus": rng.choice(["F", "O"], size=n_line),
            "l_shipdate": _us(EPOCH_1995_US + rng.integers(0, 2500, n_line) * DAY_US),
        }
    )
    return {
        "region": region,
        "nation": nation,
        "customer": customer,
        "part": part,
        "supplier": supplier,
        "orders": orders,
        "lineitem": lineitem,
    }


def write_tables(out_dir: str, seed: int, sf: float) -> None:
    """Write every fixture table for ``sf`` under ``out_dir`` as
    ``<name>.parquet``."""
    rng = np.random.default_rng(seed)
    tables = star_schema(rng, sf)
    tables["documents"] = documents(rng, int(50_000 * sf))
    tables["events"] = events(rng, int(1_000_000 * sf), int(15_000 * sf))
    tables["embeddings"] = embeddings(rng, max(100, int(50_000 * sf)))
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
