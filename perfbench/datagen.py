"""Seeded input generators.

Everything the benchmark feeds the program is made here from a seed
(the run's ``--seed``, or a fixed one for the Engine's cached base
store): the same seed gives byte-identical inputs. Two families:

- :func:`write_star_schema` writes the ten parquet tables the registry
  queries read (a TPC-H-like star schema plus ``events``,
  ``documents`` and ``embeddings``), with the column names, types and
  value domains those queries filter on;
- :class:`EventRows`, :func:`dim_table` and :func:`payload` make the
  events-shaped rows the Engine workload ingests and writes; the
  answer checks read the same rows back with DuckDB.
"""

from __future__ import annotations

import datetime as _dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()

STAR_TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]

_US_PER_DAY = 86_400_000_000


def _ts(base: _dt.datetime, us: np.ndarray) -> pa.Array:
    epoch_us = int((base - _dt.datetime(1970, 1, 1)).total_seconds()) * 1_000_000
    return pa.array((us + epoch_us).astype("datetime64[us]"))


def _pick(rng: np.random.Generator, values: list[str], n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)])


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def write_star_schema(out_dir: str, sf: float, seed: int) -> dict[str, int]:
    """Write the ten star-schema tables for scale factor ``sf`` under
    ``out_dir/<table>.parquet``; returns the row count of each."""
    rng = np.random.default_rng([seed, 1])
    os.makedirs(out_dir, exist_ok=True)
    n_cust = max(150, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1500, int(1_500_000 * sf))
    n_line = max(6000, int(6_000_000 * sf))
    n_ev = max(1000, int(1_000_000 * sf))
    n_doc = max(500, int(50_000 * sf))
    n_emb = max(500, int(20_000 * sf))
    day = _dt.datetime(1995, 1, 1)
    i32 = lambda a: pa.array(np.asarray(a, dtype=np.int32))  # noqa: E731

    tables: dict[str, pa.Table] = {}
    tables["region"] = pa.table({"r_regionkey": i32(range(5)), "r_name": REGIONS})
    tables["nation"] = pa.table({
        "n_nationkey": i32(range(25)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": i32([i % 5 for i in range(25)]),
    })
    tables["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": i32(rng.integers(0, 25, n_cust)),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": _pick(rng, SEGMENTS, n_cust),
    })
    tables["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": i32(rng.integers(0, 25, n_supp)),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    tables["part"] = pa.table({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": _pick(rng, names, n_part),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
        "p_type": _pick(rng, PART_TYPES, n_part),
        "p_size": i32(rng.integers(1, 51, n_part)),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 1),
    })
    order_days = rng.integers(0, 2404, n_ord) * _US_PER_DAY
    tables["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _ts(day, order_days),
        "o_orderpriority": _pick(rng, PRIORITIES, n_ord),
    })
    ship_days = (1 + rng.integers(0, 2499, n_line)) * _US_PER_DAY
    tables["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_line),
        "l_partkey": rng.integers(0, n_part, n_line),
        "l_suppkey": rng.integers(0, n_supp, n_line),
        "l_linenumber": i32(rng.integers(1, 8, n_line)),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": _pick(rng, ["A", "N", "R"], n_line),
        "l_linestatus": _pick(rng, ["F", "O"], n_line),
        "l_shipdate": _ts(day, ship_days),
    })
    ev_us = np.sort(rng.integers(0, 30 * _US_PER_DAY, n_ev))
    tables["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": _ts(_dt.datetime(2024, 1, 1), ev_us),
        "user_id": rng.integers(0, max(150, n_ev // 67), n_ev),
        "event_type": _pick(rng, EVENT_TYPES, n_ev),
        "value": np.round(rng.exponential(25.0, n_ev) + 0.01, 2),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]),
    })
    texts: list[str] = []
    for i in range(n_doc):
        if i >= 20 and rng.random() < 0.05:
            # near-duplicate of an earlier document: the LSH self-check
            # needs pairs whose shingle Jaccard is at least 0.7
            base = texts[int(rng.integers(0, i))]
            texts.append(base + " dup" * int(rng.integers(1, 3)))
        else:
            words = rng.choice(len(VOCAB), int(rng.integers(10, 100)))
            texts.append(" ".join(VOCAB[w] for w in words))
    tables["documents"] = pa.table({
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": _pick(rng, LANGS, n_doc, p=LANG_P),
        "source": pa.array([f"src{s}" for s in rng.integers(0, 20, n_doc)]),
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    labels = rng.integers(0, 10, n_emb)
    centers = rng.normal(0.0, 1.0, (10, 64))
    vecs = centers[labels] + rng.normal(0.0, 0.6, (n_emb, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    tables["embeddings"] = pa.table({
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": i32(labels),
    })
    for name, tbl in tables.items():
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))
    return {name: tbl.num_rows for name, tbl in tables.items()}


# -- Engine workloads ------------------------------------------------------

EV_T0 = _dt.datetime(2024, 1, 1)
EV_T0_US = int((EV_T0 - _dt.datetime(1970, 1, 1)).total_seconds()) * 1_000_000
DAY_US = _US_PER_DAY
EV_DAYS = 30
N_PAGES = 500
COUNTRIES = [f"C{i:02d}" for i in range(40)]
DEVICES = ["android", "ios", "tv", "web"]
REFERRERS = ["ads", "direct", "email", "search", "social"]
STATUS = [200, 201, 304, 404, 500]
DIM_CATEGORIES = 12


def ts_literal(us: int) -> str:
    """Microsecond ISO literal for a ``TIMESTAMP '...'`` in SQL."""
    t = EV_T0 + _dt.timedelta(microseconds=int(us) - EV_T0_US)
    return t.strftime("%Y-%m-%d %H:%M:%S.%f")


class EventRows:
    """The ``ev`` table: ids ``e#########`` in timestamp order over
    ``EV_DAYS`` days, 18 payload columns, split into three schema
    variants so the store holds three generations (``qty`` turns from
    long into double, then ``status_code`` from long into string)."""

    def __init__(self, n_rows: int, seed: int):
        rng = np.random.default_rng([seed, 2])
        n = n_rows
        self.n_rows = n
        us = np.sort(rng.integers(0, EV_DAYS * DAY_US, n)) + EV_T0_US
        self.table = pa.table({
            "id": pa.array([f"e{i:09d}" for i in range(n)]),
            "timestamp": pa.array(us.astype("datetime64[us]")).cast(
                pa.timestamp("us", tz="UTC")),
            "user_id": rng.integers(0, 50_000, n),
            "session_id": rng.integers(0, 1_000_000_000, n),
            "page_id": rng.integers(0, N_PAGES, n),
            "event_type": _pick(rng, EVENT_TYPES, n),
            "country": _pick(rng, COUNTRIES, n),
            "device": _pick(rng, DEVICES, n),
            "referrer": _pick(rng, REFERRERS, n),
            "amount": _money(rng, 0.0, 500.0, n),
            "qty": rng.integers(1, 20, n),
            "price": _money(rng, 0.0, 100.0, n),
            "latency_ms": rng.integers(1, 3000, n),
            "status_code": np.asarray(STATUS)[rng.integers(0, len(STATUS), n)],
            "bytes_in": rng.integers(0, 1_000_000, n),
            "bytes_out": rng.integers(0, 1_000_000, n),
            "score": rng.random(n),
            "ok": rng.random(n) < 0.9,
        })

    def generations(self) -> list[pa.Table]:
        """The rows in three consecutive time slices, each with its own
        physical schema."""
        n = self.n_rows
        cuts = [0, n // 3, 2 * n // 3, n]
        out = []
        for g in range(3):
            part = self.table.slice(cuts[g], cuts[g + 1] - cuts[g])
            if g >= 1:
                part = _recast(part, "qty", pa.float64())
            if g >= 2:
                part = _recast(part, "status_code", pa.string())
            out.append(part)
        return out


def dim_table() -> pa.Table:
    """``dim``: one row per ``page_id`` with its category and weight."""
    k = np.arange(N_PAGES, dtype=np.int64)
    return pa.table({
        "id": pa.array([f"d{i:04d}" for i in k]),
        "timestamp": pa.array(np.full(N_PAGES, EV_T0_US).astype("datetime64[us]")).cast(
            pa.timestamp("us", tz="UTC")),
        "dkey": k,
        "category": pa.array([f"cat{i % DIM_CATEGORIES:02d}" for i in k]),
        "weight": (k % 7).astype(np.float64),
    })


def payload(rng: np.random.Generator) -> dict:
    """One write-API payload, typed like the latest generation."""
    return {
        "user_id": int(rng.integers(0, 50_000)),
        "session_id": int(rng.integers(0, 1_000_000_000)),
        "page_id": int(rng.integers(0, N_PAGES)),
        "event_type": EVENT_TYPES[int(rng.integers(0, len(EVENT_TYPES)))],
        "country": COUNTRIES[int(rng.integers(0, len(COUNTRIES)))],
        "device": DEVICES[int(rng.integers(0, len(DEVICES)))],
        "referrer": REFERRERS[int(rng.integers(0, len(REFERRERS)))],
        "amount": round(float(rng.uniform(0.0, 500.0)), 2),
        "qty": float(rng.integers(1, 20)),
        "price": round(float(rng.uniform(0.0, 100.0)), 2),
        "latency_ms": int(rng.integers(1, 3000)),
        "status_code": str(STATUS[int(rng.integers(0, len(STATUS)))]),
        "bytes_in": int(rng.integers(0, 1_000_000)),
        "bytes_out": int(rng.integers(0, 1_000_000)),
        "score": float(rng.random()),
        "ok": bool(rng.random() < 0.9),
    }


def _recast(tbl: pa.Table, col: str, typ: pa.DataType) -> pa.Table:
    i = tbl.schema.get_field_index(col)
    return tbl.set_column(i, col, tbl[col].cast(typ))


def written_table(rows: list[tuple[str, int, dict]]) -> pa.Table:
    """Arrow view of rows acked through the write API — ``(id,
    timestamp_us, payload)`` — with the columns the answer checks read."""
    return pa.table({
        "id": pa.array([r[0] for r in rows], type=pa.string()),
        "timestamp": pa.array(
            np.asarray([r[1] for r in rows], dtype=np.int64).astype("datetime64[us]")),
        "page_id": pa.array([r[2]["page_id"] for r in rows], type=pa.int64()),
        "event_type": pa.array([r[2]["event_type"] for r in rows], type=pa.string()),
        "amount": pa.array([r[2]["amount"] for r in rows], type=pa.float64()),
    })
