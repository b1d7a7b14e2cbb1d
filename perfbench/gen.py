"""Seeded input generation for the benchmark workloads.

Every input is a pure function of ``(seed, scale)``: the same seed gives
byte-identical parquet and CSV files. The tables have the schemas and
value distributions of the engine's fixture set (TPC-H-ish star,
``events``, ``documents``, ``embeddings``), so every headline query and
its DuckDB oracle run on them unchanged; scale 0.1 gives the row counts
of the ``sf0.1`` fixture (600k lineitem, 100k events over 30 days).

The raw video files for ``star_ingest`` come from the generated
``events`` table through the engine's own ``refdata.VIDEO_DATA_CTE``
(the title/events branch vocabulary), one CSV per day; the seed also
sets each day's row order.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
LANGS = ["en", "en", "en", "es", "zh", "de", "fr"]
WORDS = (
    "query row stream the spark line small fast group customer batch sort "
    "value hash filter big data part column order scan a slow agg key "
    "window table merge vector join"
).split()
SEGMENTS = ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
PART_ADJ = ["blue", "red", "cold", "hot", "small", "large", "green", "dark"]
PART_NOUN = ["ring", "plate", "gear", "rod", "bolt", "anvil", "widget", "nut"]
PART_TYPES = ["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
MONTH_START = dt.datetime(2024, 1, 1)
DAYS = 30


def _days_since_epoch(base: dt.date) -> int:
    return (base - dt.date(1970, 1, 1)).days


def _dates(rng: np.random.Generator, n: int, lo: dt.date, span_days: int) -> pa.Array:
    days = rng.integers(0, span_days, n) + _days_since_epoch(lo)
    return pa.array(days.astype("int64") * 86_400_000_000, pa.timestamp("us"))


def _money(rng: np.random.Generator, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def events_table(seed: int, scale: float) -> pa.Table:
    """``events``: one month of timestamped user events (30 days)."""
    rng = np.random.default_rng([seed, 1])
    n = max(100, int(1_000_000 * scale))
    span_us = DAYS * 86_400_000_000
    start_us = int(MONTH_START.replace(tzinfo=dt.timezone.utc).timestamp() * 1e6)
    ts = np.sort(rng.choice(span_us, n, replace=False)) + start_us
    return pa.table(
        {
            "event_id": pa.array(np.arange(n, dtype="int64")),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, max(15, int(15_000 * scale)), n)),
            "event_type": pa.array(rng.choice(EVENT_TYPES, n)),
            "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
        }
    )


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    texts = []
    for _ in range(n):
        if texts and rng.random() < 0.05:
            # near-duplicate of an earlier document, as in the fixture set
            texts.append(texts[int(rng.integers(0, len(texts)))] + " dup")
        else:
            texts.append(" ".join(rng.choice(WORDS, int(rng.integers(10, 101)))))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype="int64")),
            "text": pa.array(texts),
            "lang": pa.array(rng.choice(LANGS, n)),
            "source": pa.array([f"src{i}" for i in rng.integers(0, 20, n)]),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _embeddings(rng: np.random.Generator, n: int, dim: int = 64) -> pa.Table:
    vecs = rng.standard_normal((n, dim)).astype("float32")
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype="int64")),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n).astype("int32")),
        }
    )


def write_fixture(out_dir: str, seed: int, scale: float) -> str:
    """Write the ten fixture tables at ``scale`` (0.1 ≈ the sf0.1 fixture)
    as ``<out_dir>/<table>.parquet``; returns ``out_dir``."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 2])
    n_cust = max(15, int(150_000 * scale))
    n_part = max(20, int(200_000 * scale))
    n_supp = max(10, int(10_000 * scale))
    n_ord = max(150, int(1_500_000 * scale))
    n_li = max(600, int(6_000_000 * scale))
    n_docs = max(500, int(50_000 * scale))
    n_vecs = max(500, int(20_000 * scale))

    pq.write_table(
        pa.table(
            {
                "r_regionkey": pa.array(np.arange(5, dtype="int32")),
                "r_name": pa.array(REGIONS),
            }
        ),
        f"{out_dir}/region.parquet",
    )
    pq.write_table(
        pa.table(
            {
                "n_nationkey": pa.array(np.arange(25, dtype="int32")),
                "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
                "n_regionkey": pa.array((np.arange(25) % 5).astype("int32")),
            }
        ),
        f"{out_dir}/nation.parquet",
    )
    pq.write_table(
        pa.table(
            {
                "c_custkey": pa.array(np.arange(n_cust, dtype="int64")),
                "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
                "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype("int32")),
                "c_acctbal": pa.array(_money(rng, n_cust, -999.99, 9999.99)),
                "c_mktsegment": pa.array(rng.choice(SEGMENTS, n_cust)),
            }
        ),
        f"{out_dir}/customer.parquet",
    )
    pq.write_table(
        pa.table(
            {
                "s_suppkey": pa.array(np.arange(n_supp, dtype="int64")),
                "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
                "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype("int32")),
                "s_acctbal": pa.array(_money(rng, n_supp, -999.99, 9999.99)),
            }
        ),
        f"{out_dir}/supplier.parquet",
    )
    pq.write_table(
        pa.table(
            {
                "p_partkey": pa.array(np.arange(n_part, dtype="int64")),
                "p_name": pa.array(
                    [
                        f"{a} {b}"
                        for a, b in zip(
                            rng.choice(PART_ADJ, n_part), rng.choice(PART_NOUN, n_part)
                        )
                    ]
                ),
                "p_brand": pa.array([f"Brand#{i}" for i in rng.integers(1, 26, n_part)]),
                "p_type": pa.array(rng.choice(PART_TYPES, n_part)),
                "p_size": pa.array(rng.integers(1, 51, n_part).astype("int32")),
                "p_retailprice": pa.array(np.round(rng.uniform(900, 1000, n_part), 1)),
            }
        ),
        f"{out_dir}/part.parquet",
    )
    pq.write_table(
        pa.table(
            {
                "o_orderkey": pa.array(np.arange(n_ord, dtype="int64")),
                "o_custkey": pa.array(rng.integers(0, n_cust, n_ord)),
                "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n_ord)),
                "o_totalprice": pa.array(_money(rng, n_ord, 1000.0, 500_000.0)),
                "o_orderdate": _dates(rng, n_ord, dt.date(1995, 1, 1), 2404),
                "o_orderpriority": pa.array(rng.choice(PRIORITIES, n_ord)),
            }
        ),
        f"{out_dir}/orders.parquet",
    )
    qty = rng.integers(1, 51, n_li).astype("float64")
    pq.write_table(
        pa.table(
            {
                "l_orderkey": pa.array(rng.integers(0, n_ord, n_li)),
                "l_partkey": pa.array(rng.integers(0, n_part, n_li)),
                "l_suppkey": pa.array(rng.integers(0, n_supp, n_li)),
                "l_linenumber": pa.array(rng.integers(1, 8, n_li).astype("int32")),
                "l_quantity": pa.array(qty),
                "l_extendedprice": pa.array(np.round(qty * rng.uniform(900, 2100, n_li), 2)),
                "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
                "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
                "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n_li)),
                "l_linestatus": pa.array(rng.choice(["F", "O"], n_li)),
                "l_shipdate": _dates(rng, n_li, dt.date(1995, 1, 2), 2498),
            }
        ),
        f"{out_dir}/lineitem.parquet",
    )
    pq.write_table(events_table(seed, scale), f"{out_dir}/events.parquet")
    pq.write_table(_documents(rng, n_docs), f"{out_dir}/documents.parquet")
    pq.write_table(_embeddings(rng, n_vecs), f"{out_dir}/embeddings.parquet")
    return out_dir


def write_daily_raw(events_path: str, out_dir: str, seed: int) -> list[str]:
    """Turn one month of ``events`` into 30 daily raw video CSV files
    (``DateTime, VideoTitle, events``) via ``refdata.VIDEO_DATA_CTE``;
    the seed shuffles each day's row order. Returns the paths in day
    order."""
    import duckdb

    from etl__project_spark.refdata import VIDEO_DATA_CTE

    os.makedirs(out_dir, exist_ok=True)
    con = duckdb.connect()
    try:
        con.execute(f"CREATE VIEW events AS SELECT * FROM '{events_path}'")
        con.execute(
            f"CREATE TABLE vd AS WITH {VIDEO_DATA_CTE} "
            "SELECT DateTime, VideoTitle, events, event_id FROM video_data"
        )
        paths = []
        for day in range(1, DAYS + 1):
            path = os.path.join(out_dir, f"day{day:02d}.csv")
            con.execute(
                f"""COPY (SELECT DateTime, VideoTitle, events FROM vd
                    WHERE DateTime LIKE '2024-01-{day:02d}T%'
                    ORDER BY hash(event_id + {int(seed)}))
                    TO '{path}' (HEADER, QUOTE '"', ESCAPE '\\')"""
            )
            paths.append(path)
        return paths
    finally:
        con.close()
