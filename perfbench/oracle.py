"""Check each op's output against its DuckDB oracle.

Runs after the timed region, in the parent process, on the same
generated tables the engine read. A query op matches when its row
count, column names and order-insensitive value hash equal the
oracle's, the comparison ``scripts/check_correctness.py`` makes. An
``etl_daily`` date matches when each of the three CSVs its DAGs
exported equals the parity query's oracle with that date's
``run_date`` in place of the default ingestion date.
"""

from __future__ import annotations

import os

import duckdb

#: Export file of each reference DAG → the parity query that oracles it.
ETL_EXPORTS = {
    "agg_public_holiday.csv": "etl_agg_public_holiday",
    "agg_shipments.csv": "etl_agg_shipments",
    "best_performing_product.csv": "etl_best_performing_product",
}


def connect(data_dir: str) -> duckdb.DuckDBPyConnection:
    """DuckDB with one view per table under ``data_dir``."""
    con = duckdb.connect()
    for name in sorted(os.listdir(data_dir)):
        if name.endswith(".parquet"):
            path = os.path.join(data_dir, name)
            con.execute(
                f"CREATE VIEW {name[:-8]} AS SELECT * FROM read_parquet('{path}')"
            )
    return con


def digest(cols: list[str], rows: list[tuple]) -> dict:
    from scripts.check_correctness import _hash_rows

    return {"cols": list(cols), "rows": len(rows), "hash": _hash_rows(cols, rows)}


def oracle_digest(con, sql: str) -> dict:
    res = con.execute(sql)
    return digest([d[0] for d in res.description], res.fetchall())


def csv_digest(con, path: str) -> dict:
    res = con.execute(f"SELECT * FROM read_csv('{path}', header = true)")
    return digest([d[0] for d in res.description], res.fetchall())


def mismatch(got: dict, want: dict) -> str | None:
    """Why ``got`` differs from ``want``, or None when they match."""
    if got["rows"] != want["rows"]:
        return f"rows {got['rows']} != {want['rows']}"
    if sorted(got["cols"]) != sorted(want["cols"]):
        return f"cols {sorted(got['cols'])} != {sorted(want['cols'])}"
    if got["hash"] != want["hash"]:
        return "value-hash mismatch"
    return None


def etl_sql(sql: str, run_date: str, default_date: str) -> str:
    """A parity oracle for logical date ``run_date``."""
    old = f"DATE '{default_date}'"
    if old not in sql:
        raise ValueError(f"oracle has no {old} to replace")
    return sql.replace(old, f"DATE '{run_date}'")


def check_op(con, op: dict, oracles: dict[str, str], default_date: str) -> str | None:
    """Why an op failed (its error, or how its output differs from the
    oracle), or None when it passed."""
    if op.get("error"):
        return op["error"]
    if op.get("query"):
        return mismatch(op, oracle_digest(con, oracles[op["query"]]))
    for dag_runs in op["reports"].values():
        bad = [r for r in dag_runs if r["state"] != "success"]
        if bad:
            return f"task {bad[0]['name']} {bad[0]['state']}: {bad[0]['error']}"
    for fname, query in ETL_EXPORTS.items():
        path = os.path.join(op["export"], fname)
        if not os.path.exists(path):
            return f"missing export {fname}"
        sql = etl_sql(oracles[query], op["run_date"], default_date)
        why = mismatch(csv_digest(con, path), oracle_digest(con, sql))
        if why:
            return f"{fname}: {why}"
    return None


def count_failures(con, ops: list[dict], oracles: dict[str, str], default_date: str) -> int:
    """Number of failed ops; each op's reason lands in ``op["problem"]``."""
    failed = 0
    for op in ops:
        op["problem"] = check_op(con, op, oracles, default_date)
        failed += op["problem"] is not None
    return failed
