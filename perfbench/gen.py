"""Seeded input generators. Every input a workload feeds the engine comes
from here and depends only on ``--seed``. Sizes are stratified (one per
stratum of the size range), so every seed carries about the same amount of
work while the values, assignment and order differ."""

from __future__ import annotations

import datetime as dt
import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# -- worksheets ----------------------------------------------------------------

COLUMN_KINDS = ("int", "decimal", "timestamp", "boolean", "text", "blank")
WORDS = (
    "alpha beta gamma delta north south east west red green blue sheet "
    "load table order row cell range value total price qty note ok"
).split()
_T0 = dt.datetime(2023, 1, 1)


def _cell(kind: str, rng: random.Random) -> str:
    if kind == "int":
        return str(rng.randint(-100_000, 1_000_000))
    if kind == "decimal":
        return f"{rng.uniform(-1000, 100_000):.2f}"
    if kind == "timestamp":
        return (_T0 + dt.timedelta(seconds=rng.randrange(0, 3 * 365 * 86400))).isoformat()
    if kind == "boolean":
        return rng.choice(("true", "false", "yes", "no"))
    if kind == "text":
        return " ".join(rng.choices(WORDS, k=rng.randint(1, 4)))
    return ""


def sheet_rows(data_rows: int, n_cols: int, rng: random.Random) -> tuple[list[str], list[list[str]]]:
    """Column kinds and the worksheet: a header row plus ``data_rows`` rows
    of mixed-type string cells. The first column is an int id, the others
    cycle through the six kinds, in seeded order; 2 % of the cells of typed
    columns are blank. Cells are drawn from a seeded pool
    of 500 values per column kind."""
    kinds = [COLUMN_KINDS[j % 6] for j in range(n_cols - 1)]
    rng.shuffle(kinds)
    kinds = ["int"] + kinds
    pools = {k: [_cell(k, rng) for _ in range(500)] for k in set(kinds)}
    for k in ("int", "decimal", "timestamp", "boolean"):
        if k in pools:
            pools[k][:10] = [""] * 10
    header = [f"{k}_{i}" for i, k in enumerate(kinds)]
    cols = [rng.choices(pools[k], k=data_rows) for k in kinds]
    return kinds, [header] + [list(r) for r in zip(*cols)]


def stratified_sizes(n: int, rng: random.Random, lo: int = 100, hi: int = 20_000) -> list[int]:
    """One size per log-uniform stratum of [lo, hi]: the stratum's midpoint,
    moved by the seed within the middle 30 % of the stratum (a wider draw
    lets the few largest sheets swing a run's totals), ascending."""
    return [round(lo * (hi / lo) ** ((i + 0.35 + 0.3 * rng.random()) / n)) for i in range(n)]


# -- analytics tables ----------------------------------------------------------

_DOC_WORDS = (
    "a the big small fast slow spark query table row column data value key "
    "join hash sort merge scan filter group agg window order line part "
    "customer stream batch vector"
).split()


def _ts_us(days0: dt.datetime, offsets_s: np.ndarray) -> pa.Array:
    base = int(days0.replace(tzinfo=dt.timezone.utc).timestamp() * 1_000_000)
    return pa.array(base + (offsets_s * 1_000_000).astype(np.int64), pa.timestamp("us"))


def analytics_tables(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write the catalog's ten analytics tables (the schemas and value
    domains of the fixtures TESTDATA.md describes) at scale ``sf`` as one
    parquet file each under ``out_dir``; returns rows per table."""
    rs = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_li, n_ord, n_part = int(6_000_000 * sf), int(1_500_000 * sf), int(200_000 * sf)
    n_sup, n_cust, n_ev = int(10_000 * sf), int(150_000 * sf), int(1_000_000 * sf)
    n_users, n_docs, n_emb = int(15_000 * sf), max(500, int(50_000 * sf)), max(500, int(20_000 * sf))
    epoch95 = dt.datetime(1995, 1, 1)
    money = lambda a: np.round(a, 2)  # noqa: E731
    tables = {
        "region": {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        },
        "nation": {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        },
        "customer": {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rs.integers(0, 25, n_cust, dtype=np.int32),
            "c_acctbal": money(rs.uniform(-999.99, 9999.99, n_cust)),
            "c_mktsegment": rs.choice(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_cust),
        },
        "supplier": {
            "s_suppkey": np.arange(n_sup, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_sup)],
            "s_nationkey": rs.integers(0, 25, n_sup, dtype=np.int32),
            "s_acctbal": money(rs.uniform(-999.99, 9999.99, n_sup)),
        },
        "part": {
            "p_partkey": np.arange(n_part, dtype=np.int64),
            "p_name": [
                f"{a} {b}"
                for a, b in zip(
                    rs.choice("blue cold hot large new old red small".split(), n_part),
                    rs.choice("anvil bolt gear gizmo plate ring rod widget".split(), n_part),
                )
            ],
            "p_brand": [f"Brand#{i}" for i in rs.integers(1, 26, n_part)],
            "p_type": rs.choice(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], n_part),
            "p_size": rs.integers(1, 51, n_part, dtype=np.int32),
            "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 1),
        },
        "orders": {
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rs.integers(0, n_cust, n_ord, dtype=np.int64),
            "o_orderstatus": rs.choice(["F", "O", "P"], n_ord),
            "o_totalprice": money(rs.uniform(1000, 500_000, n_ord)),
            "o_orderdate": _ts_us(epoch95, rs.integers(0, 2400, n_ord) * 86400),
            "o_orderpriority": rs.choice(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord),
        },
        "lineitem": {
            "l_orderkey": rs.integers(0, n_ord, n_li, dtype=np.int64),
            "l_partkey": rs.integers(0, n_part, n_li, dtype=np.int64),
            "l_suppkey": rs.integers(0, n_sup, n_li, dtype=np.int64),
            "l_linenumber": rs.integers(1, 8, n_li, dtype=np.int32),
            "l_quantity": rs.integers(1, 51, n_li).astype(np.float64),
            "l_extendedprice": money(rs.uniform(900, 105_000, n_li)),
            "l_discount": rs.integers(0, 11, n_li) / 100,
            "l_tax": rs.integers(0, 9, n_li) / 100,
            "l_returnflag": rs.choice(["A", "N", "R"], n_li),
            "l_linestatus": rs.choice(["F", "O"], n_li),
            "l_shipdate": _ts_us(epoch95, rs.integers(1, 2500, n_li) * 86400),
        },
        "events": {
            "event_id": np.arange(n_ev, dtype=np.int64),
            "ts": _ts_us(dt.datetime(2024, 1, 1), np.sort(rs.uniform(0, 30 * 86400, n_ev))),
            "user_id": rs.integers(0, n_users, n_ev, dtype=np.int64),
            "event_type": rs.choice(["click", "error", "purchase", "signup", "view"], n_ev),
            "value": money(np.clip(rs.exponential(80, n_ev), 0.01, 490.02)),
            "props": [f'{{"k": {k}}}' for k in rs.integers(0, 100, n_ev)],
        },
    }
    texts = []
    for i in range(n_docs):
        if i > 10 and rs.random() < 0.05:
            texts.append(texts[int(rs.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(rs.choice(_DOC_WORDS, int(rs.integers(10, 100)))))
    tables["documents"] = {
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": rs.choice(["de", "en", "es", "fr", "zh"], n_docs),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }
    centers = rs.normal(0, 1, (10, 64))
    labels = rs.integers(0, 10, n_emb)
    vecs = centers[labels] + rs.normal(0, 0.8, (n_emb, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    tables["embeddings"] = {
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": labels.astype(np.int32),
    }
    rows = {}
    for name, cols in tables.items():
        t = pa.table({k: v if isinstance(v, pa.Array) else pa.array(v) for k, v in cols.items()})
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
        rows[name] = t.num_rows
    return rows
