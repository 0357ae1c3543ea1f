"""Seeded input generators for the benchmark.

``write_tables`` writes the ten parquet tables the registered queries read
(``catalog.TABLES``), with the schemas and value distributions of the
project's test tables. The tables come from a fixed seed, so every run
sees the same tables and the golden result hashes in ``golden.json`` hold;
``--seed`` varies only the request order and the rows the connector
workload writes (``connector_rows``).

Sizes follow TPC-H ratios at scale factor ``sf`` (``sf=0.01``: 60k
lineitem rows, 15k orders, 10k events), with floors on the text and
vector tables so the LLM operators always have a non-trivial corpus.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

TABLE_SEED = 42

_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
_PART_ADJ = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
_PART_NOUN = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
_SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
_PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
_EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
_REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")


def _days(rng, lo: str, hi: str, n: int) -> np.ndarray:
    """``n`` midnight timestamps drawn uniformly from [lo, hi]."""
    start = np.datetime64(lo, "D")
    span = int((np.datetime64(hi, "D") - start).astype(int))
    return (start + rng.integers(0, span + 1, n)).astype("datetime64[us]")


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, values, n: int) -> np.ndarray:
    return np.asarray(values, dtype=object)[rng.integers(0, len(values), n)]


def _documents(rng, n: int) -> pd.DataFrame:
    lengths = rng.integers(10, 100, n)
    texts = [" ".join(_pick(rng, _WORDS, k)) for k in lengths]
    # 5% near-duplicates: another document's text plus one or two " dup"
    for i in rng.choice(n, n // 20, replace=False):
        src = int(rng.integers(0, n))
        texts[i] = texts[src] + " dup" * int(rng.integers(1, 3))
    lang = rng.choice(["en", "zh", "es", "de", "fr"], n, p=[0.44, 0.14, 0.14, 0.14, 0.14])
    return pd.DataFrame(
        {
            "doc_id": np.arange(n, dtype=np.int64),
            "text": texts,
            "lang": lang,
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def _embeddings(rng, n: int, dim: int = 64) -> pa.Table:
    labels = rng.integers(0, 10, n).astype(np.int32)
    centroids = rng.normal(size=(10, dim))
    vecs = rng.normal(size=(n, dim)) + 0.15 * centroids[labels]
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype=np.int64)),
            "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
            "label": pa.array(labels),
        }
    )


def _events(rng, n: int, n_users: int) -> pd.DataFrame:
    start = np.datetime64("2024-01-01T00:00:00", "us")
    offsets = np.sort(rng.integers(0, 30 * 86_400_000_000, n))
    return pd.DataFrame(
        {
            "event_id": np.arange(n, dtype=np.int64),
            "ts": start + offsets.astype("timedelta64[us]"),
            "user_id": rng.integers(0, n_users, n).astype(np.int64),
            "event_type": _pick(rng, _EVENT_TYPES, n),
            "value": np.round(rng.exponential(50.0, n), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
        }
    )


def tables(sf: float) -> dict[str, pa.Table]:
    """The ten test tables at scale ``sf``, from :data:`TABLE_SEED`."""
    rng = np.random.default_rng(TABLE_SEED)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_line = int(1_500_000 * sf), int(6_000_000 * sf)
    i32 = lambda a: np.asarray(a, dtype=np.int32)  # noqa: E731
    frames = {
        "region": pd.DataFrame({"r_regionkey": i32(range(5)), "r_name": list(_REGIONS)}),
        "nation": pd.DataFrame(
            {
                "n_nationkey": i32(range(25)),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": i32([i % 5 for i in range(25)]),
            }
        ),
        "customer": pd.DataFrame(
            {
                "c_custkey": np.arange(n_cust, dtype=np.int64),
                "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
                "c_nationkey": i32(rng.integers(0, 25, n_cust)),
                "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
                "c_mktsegment": _pick(rng, _SEGMENTS, n_cust),
            }
        ),
        "supplier": pd.DataFrame(
            {
                "s_suppkey": np.arange(n_supp, dtype=np.int64),
                "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
                "s_nationkey": i32(rng.integers(0, 25, n_supp)),
                "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
            }
        ),
        "part": pd.DataFrame(
            {
                "p_partkey": np.arange(n_part, dtype=np.int64),
                "p_name": [
                    f"{a} {b}"
                    for a, b in zip(_pick(rng, _PART_ADJ, n_part), _pick(rng, _PART_NOUN, n_part))
                ],
                "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
                "p_type": _pick(rng, _PART_TYPES, n_part),
                "p_size": i32(rng.integers(1, 51, n_part)),
                "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 1),
            }
        ),
        "orders": pd.DataFrame(
            {
                "o_orderkey": np.arange(n_ord, dtype=np.int64),
                "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
                "o_orderstatus": _pick(rng, ("F", "O", "P"), n_ord),
                "o_totalprice": _money(rng, 1000, 500_000, n_ord),
                "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", n_ord),
                "o_orderpriority": _pick(rng, _PRIORITIES, n_ord),
            }
        ),
        "lineitem": pd.DataFrame(
            {
                "l_orderkey": rng.integers(0, n_ord, n_line).astype(np.int64),
                "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
                "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
                "l_linenumber": i32(rng.integers(1, 8, n_line)),
                "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
                "l_extendedprice": _money(rng, 900, 105_000, n_line),
                "l_discount": rng.integers(0, 11, n_line) / 100,
                "l_tax": rng.integers(0, 9, n_line) / 100,
                "l_returnflag": _pick(rng, ("A", "N", "R"), n_line),
                "l_linestatus": _pick(rng, ("F", "O"), n_line),
                "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", n_line),
            }
        ),
        "events": _events(rng, int(1_000_000 * sf), max(15, int(15_000 * sf))),
        "documents": _documents(rng, max(250, int(50_000 * sf))),
    }
    out = {name: pa.Table.from_pandas(df, preserve_index=False) for name, df in frames.items()}
    out["embeddings"] = _embeddings(rng, max(250, int(20_000 * sf)))
    return out


def write_tables(sf_dir: str, sf: float) -> None:
    """Write every table as ``{sf_dir}/{name}.parquet``."""
    os.makedirs(sf_dir, exist_ok=True)
    for name, table in tables(sf).items():
        pq.write_table(table, os.path.join(sf_dir, f"{name}.parquet"))


def connector_rows(seed: int, n: int) -> pd.DataFrame:
    """``n`` rows for the connector round trips, drawn from ``seed``.

    Amounts are whole cents so they survive a text round trip exactly.
    """
    rng = np.random.default_rng(seed)
    return pd.DataFrame(
        {
            "id": np.arange(n, dtype=np.int64),
            "name": [f"row-{k:07d}" for k in rng.integers(0, 10_000_000, n)],
            "amount": np.round(rng.uniform(-1000, 1000, n), 2),
            "qty": rng.integers(0, 1000, n).astype(np.int64),
            "day": _days(rng, "2020-01-01", "2024-12-31", n),
        }
    )
