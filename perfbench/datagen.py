"""Seeded input generation for the benchmark.

``write_tables`` writes the ten star-schema tables the registry queries
read, with the same names, column types, parquet layout (one file, one
row group, INT64 timestamps) and value distributions as the engine's
testdata at the same scale factor. ``write_landing`` turns the canonical
sales fact of those tables into the reference's landing set: one
``sales_data_YYYY-MM-01.csv`` per month, with a seed-chosen few files
missing a mandatory column and a few carrying an extra column.

Everything derives from the seed, so the same seed gives byte-identical
inputs.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
ADJECTIVES = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUNS = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()
LANGS = ["en", "zh", "de", "fr", "es"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
EMBED_DIM = 64

ORDER_DAY0 = np.datetime64("1995-01-01", "D")
ORDER_DAYS = 2405  # 1995-01-01 .. 2001-08-01
SHIP_DAY0 = np.datetime64("1995-01-02", "D")
SHIP_DAYS = 2499  # 1995-01-02 .. 2001-11-04
EVENT_T0 = np.datetime64("2024-01-01T00:00:00", "us")
EVENT_SPAN_US = 30 * 86_400 * 1_000_000


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, row_group_size=max(table.num_rows, 1))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _documents(rng: np.random.Generator, n: int) -> list[str]:
    """Random texts over a 30-word vocabulary; 5% are near-duplicates of an
    earlier text (suffixed ``dup``), a few are exact copies."""
    texts: list[str] = []
    for i in range(n):
        r = rng.random()
        if i > 10 and r < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        elif i > 10 and r < 0.052:
            texts.append(texts[int(rng.integers(0, i))])
        else:
            k = int(rng.integers(10, 101))
            texts.append(" ".join(WORDS[j] for j in rng.integers(0, len(WORDS), k)))
    return texts


def write_tables(
    out_dir: str, seed: int, sf: float, order_days: int = ORDER_DAYS, customer_nations: int = 25
) -> dict[str, int]:
    """Write the star schema at scale factor ``sf``; returns rows per table.

    ``order_days`` narrows the order-date range (from 1995-01-01), and with
    it the number of months the sales fact spans; ``customer_nations``
    narrows the customers' nations, which the canonical fact maps to
    stores."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_li, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_users, n_docs = int(15_000 * sf), max(500, int(50_000 * sf))
    n_vec = max(500, int(20_000 * sf))

    tables: dict[str, pa.Table] = {}
    tables["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS}
    )
    tables["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    tables["customer"] = pa.table(
        {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, customer_nations, n_cust).astype(np.int32),
            "c_acctbal": _money(rng, -1000, 10000, n_cust),
            "c_mktsegment": rng.choice(SEGMENTS, n_cust),
        }
    )
    tables["supplier"] = pa.table(
        {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": _money(rng, -1000, 10000, n_supp),
        }
    )
    pk = np.arange(n_part, dtype=np.int64)
    tables["part"] = pa.table(
        {
            "p_partkey": pk,
            "p_name": [
                f"{ADJECTIVES[a]} {NOUNS[b]}"
                for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": rng.choice(PART_TYPES, n_part),
            "p_size": rng.integers(1, 51, n_part).astype(np.int32),
            "p_retailprice": np.round(900 + (pk % 1000) / 10, 1),
        }
    )
    tables["orders"] = pa.table(
        {
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
            "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
            "o_totalprice": _money(rng, 1000, 500000, n_ord),
            "o_orderdate": pa.array(
                (ORDER_DAY0 + rng.integers(0, order_days, n_ord)).astype("datetime64[us]")
            ),
            "o_orderpriority": rng.choice(PRIORITIES, n_ord),
        }
    )
    tables["lineitem"] = pa.table(
        {
            "l_orderkey": rng.integers(0, n_ord, n_li).astype(np.int64),
            "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
            "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
            "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
            "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
            "l_extendedprice": _money(rng, 900, 105000, n_li),
            "l_discount": np.round(rng.integers(0, 11, n_li) / 100, 2),
            "l_tax": np.round(rng.integers(0, 9, n_li) / 100, 2),
            "l_returnflag": rng.choice(["A", "N", "R"], n_li),
            "l_linestatus": rng.choice(["F", "O"], n_li),
            "l_shipdate": pa.array(
                (SHIP_DAY0 + rng.integers(0, SHIP_DAYS, n_li)).astype("datetime64[us]")
            ),
        }
    )
    offsets = np.sort(rng.integers(0, EVENT_SPAN_US, n_ev))
    tables["events"] = pa.table(
        {
            "event_id": np.arange(n_ev, dtype=np.int64),
            "ts": pa.array(EVENT_T0 + offsets.astype("timedelta64[us]")),
            "user_id": rng.integers(0, n_users, n_ev).astype(np.int64),
            "event_type": rng.choice(EVENT_TYPES, n_ev),
            "value": np.round(rng.exponential(50.0, n_ev), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        }
    )
    texts = _documents(rng, n_docs)
    tables["documents"] = pa.table(
        {
            "doc_id": np.arange(n_docs, dtype=np.int64),
            "text": texts,
            "lang": rng.choice(LANGS, n_docs, p=LANG_P),
            "source": [f"src{i % 20}" for i in range(n_docs)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )
    labels = rng.integers(0, 10, n_vec)
    centers = rng.standard_normal((10, EMBED_DIM))
    vecs = rng.standard_normal((n_vec, EMBED_DIM)) + 0.15 * centers[labels]
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    tables["embeddings"] = pa.table(
        {
            "vec_id": np.arange(n_vec, dtype=np.int64),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": labels.astype(np.int32),
        }
    )
    for name, table in tables.items():
        _write(table, os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}


@dataclass
class LandingSet:
    """Where each month's CSV went: the months ``load`` lands, the months
    ``incremental`` lands, and the files that break the contract."""

    load: list[str]
    incremental: list[str]
    missing_column: list[str]
    extra_column: list[str]
    input_bytes: int


def write_landing(
    tables_dir: str, out_dir: str, seed: int, held_back: int, n_missing: int, n_extra: int
) -> LandingSet:
    """One CSV per month of the canonical sales fact (``datasets.
    CANONICAL_SALES_SQL``) under ``out_dir``. The last ``held_back``
    months are the incremental batch; ``n_missing`` earlier months lose
    ``store_id`` (the file must be rejected) and ``n_extra`` carry a
    ``payment_mode`` column (the file is accepted, the extra folded)."""
    from salesdata_engineering_spark.datasets import CANONICAL_SALES_SQL

    con = duckdb.connect()
    try:
        for t in ("lineitem", "orders", "customer"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{tables_dir}/{t}.parquet'")
        fact = con.execute(
            f"""SELECT customer_id, store_id, product_name, sales_date, sales_person_id,
                       price, quantity, CAST(round(total_cost, 2) AS DECIMAL(18,2)) AS total_cost,
                       substr(sales_date, 1, 7) AS month
                FROM ({CANONICAL_SALES_SQL})
                ORDER BY ALL"""
        ).fetch_arrow_table()
    finally:
        con.close()
    months = sorted(set(fact.column("month").to_pylist()))
    rng = np.random.default_rng(seed + 1)
    early = months[: len(months) - held_back]
    picks = rng.choice(len(early), n_missing + n_extra, replace=False)
    missing = {early[i] for i in picks[:n_missing]}
    extra = {early[i] for i in picks[n_missing:]}

    os.makedirs(out_dir, exist_ok=True)
    month_col = fact.column("month").to_numpy(zero_copy_only=False)
    base = fact.drop(["month"])
    landing = LandingSet([], [], [], [], 0)
    import pyarrow.csv as pcsv

    for m in months:
        part = base.filter(pa.array(month_col == m))
        if m in missing:
            part = part.drop(["store_id"])
        if m in extra:
            pay = rng.choice(["cash", "UPI"], part.num_rows)
            part = part.append_column("payment_mode", pa.array(pay))
        path = os.path.join(out_dir, f"sales_data_{m}-01.csv")
        pcsv.write_csv(part, path)
        landing.input_bytes += os.path.getsize(path)
        (landing.load if m in early else landing.incremental).append(path)
        if m in missing:
            landing.missing_column.append(path)
        if m in extra:
            landing.extra_column.append(path)
    return landing
