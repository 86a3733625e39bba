"""Seeded synthetic inputs in the engine's table layout.

The tables follow the schema, key ranges and value distributions of the
TPC-H-ish test data the operators are written against. Only the tables
the benchmark's queries and their oracles read are made: ``orders``,
``lineitem`` and ``part`` (the ETL DAGs and the graph queries) and
``embeddings`` (k-means). Row counts scale with ``sf`` the way that
data does: ``lineitem`` has 6M x sf rows. Everything is drawn from one
``numpy.random.Generator`` so the same ``(sf, seed)`` gives the same
bytes.
"""

from __future__ import annotations

import os
from datetime import date

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.csv as pacsv
import pyarrow.parquet as pq

PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
ADJECTIVES = ("small", "red", "blue", "hot", "old", "large", "new", "cold")
NOUNS = ("ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil", "rod")
EMBED_DIM = 64
EMBED_LABELS = 10


def row_counts(sf: float) -> dict[str, int]:
    """Rows per table at scale factor ``sf``. ``customer`` and
    ``supplier`` are not made; their counts bound the foreign keys."""
    return {
        "customer": max(10, int(150_000 * sf)),
        "supplier": max(10, int(10_000 * sf)),
        "part": max(10, int(200_000 * sf)),
        "orders": max(10, int(1_500_000 * sf)),
        "lineitem": max(10, int(6_000_000 * sf)),
        "embeddings": max(10, int(round(2000 * (sf / 0.1) ** 0.6))),
    }


def _days(rng, n: int, lo: date, hi: date) -> np.ndarray:
    """Uniform midnight timestamps in ``[lo, hi]``."""
    span = (hi - lo).days
    base = np.datetime64(lo.isoformat(), "us")
    return base + rng.integers(0, span + 1, n).astype("timedelta64[D]")


def _money(rng, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, choices, n: int) -> np.ndarray:
    return np.asarray(choices, dtype=object)[rng.choice(len(choices), n)]


def make_tables(sf: float, seed: int) -> dict[str, pa.Table]:
    """The tables at scale ``sf``, drawn from ``seed``."""
    rng = np.random.default_rng(seed)
    n = row_counts(sf)
    i64 = pa.int64()
    i32 = pa.int32()
    ts = pa.timestamp("us")
    t: dict[str, pa.Table] = {}
    np_ = n["part"]
    pk = np.arange(np_)
    t["part"] = pa.table({
        "p_partkey": pa.array(pk, i64),
        "p_name": [
            f"{a} {b}" for a, b in zip(
                _pick(rng, ADJECTIVES, np_), _pick(rng, NOUNS, np_)
            )
        ],
        "p_brand": [f"Brand#{k}" for k in rng.integers(1, 26, np_)],
        "p_type": _pick(rng, PART_TYPES, np_),
        "p_size": pa.array(rng.integers(1, 51, np_), i32),
        "p_retailprice": np.round(900 + (pk % 1000) / 10, 1),
    })
    no = n["orders"]
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(no), i64),
        "o_custkey": pa.array(rng.integers(0, n["customer"], no), i64),
        "o_orderstatus": _pick(rng, ("F", "O", "P"), no),
        "o_totalprice": _money(rng, no, 1000, 500000),
        "o_orderdate": pa.array(
            _days(rng, no, date(1995, 1, 1), date(2001, 8, 1)), ts
        ),
        "o_orderpriority": _pick(rng, PRIORITIES, no),
    })
    nl = n["lineitem"]
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, no, nl), i64),
        "l_partkey": pa.array(rng.integers(0, np_, nl), i64),
        "l_suppkey": pa.array(rng.integers(0, n["supplier"], nl), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), i32),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": _money(rng, nl, 900, 105000),
        "l_discount": rng.integers(0, 11, nl) / 100,
        "l_tax": rng.integers(0, 9, nl) / 100,
        "l_returnflag": _pick(rng, ("A", "N", "R"), nl),
        "l_linestatus": _pick(rng, ("F", "O"), nl),
        "l_shipdate": pa.array(
            _days(rng, nl, date(1995, 1, 2), date(2001, 11, 4)), ts
        ),
    })
    t["embeddings"] = _embeddings(rng, n["embeddings"])
    return t


def _embeddings(rng, n: int) -> pa.Table:
    """Unit vectors drawn around ten weakly separated centres."""
    centres = rng.standard_normal((EMBED_LABELS, EMBED_DIM))
    centres /= np.linalg.norm(centres, axis=1, keepdims=True)
    labels = rng.integers(0, EMBED_LABELS, n)
    x = 0.14 * centres[labels] + rng.normal(0, 0.124, (n, EMBED_DIM))
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(x), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })


def write_tables(tables: dict[str, pa.Table], sf_dir: str) -> None:
    """One ``<name>.parquet`` file per table, as the catalog expects."""
    os.makedirs(sf_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(sf_dir, f"{name}.parquet"))


def write_landing(table: pa.Table, out_dir: str, n_files: int, rng) -> None:
    """Land ``table`` as ``n_files`` headed CSV files in a shuffled row
    order."""
    os.makedirs(out_dir, exist_ok=True)
    shuffled = table.take(pa.array(rng.permutation(table.num_rows)))
    bounds = np.linspace(0, table.num_rows, n_files + 1).astype(int)
    opts = pacsv.WriteOptions(include_header=True)
    for k in range(n_files):
        chunk = shuffled.slice(bounds[k], bounds[k + 1] - bounds[k])
        pacsv.write_csv(
            _csv_ready(chunk), os.path.join(out_dir, f"part-{k:03d}.csv"), opts
        )


def _csv_ready(table: pa.Table) -> pa.Table:
    """Timestamps as ``yyyy-MM-dd HH:mm:ss.ffffff`` text, which Spark's
    CSV reader parses under an explicit ``TIMESTAMP_NTZ`` schema."""
    cols = []
    for field, col in zip(table.schema, table.columns):
        if pa.types.is_timestamp(field.type):
            col = pc.strftime(col, format="%Y-%m-%d %H:%M:%S")
        cols.append(col)
    return pa.table(cols, names=table.column_names)
