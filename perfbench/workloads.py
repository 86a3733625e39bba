"""The workloads: what each runs, in which order, on what data.

A workload is a list of ops. An op is one query (its builder plus a
``collect()``) or, in ``etl_daily``, one logical date of the paper's
pipeline. The generated tables are one fixed dataset (``DATA_SEED``),
as the engine's own test data is; the seed varies how that data
arrives and is used: for ``etl_daily`` the logical dates and each
landing table's row order and file split, for ``iterative_pylane`` the
query order, which keeps each memo's builder before its reuser.
``--seconds`` sets how much work a run does through the fixed per-unit
cost estimates below, never through a clock, so every commit measured
with the same settings does the same work.
"""

from __future__ import annotations

import random
from dataclasses import dataclass
from datetime import date, timedelta

#: ``etl_daily`` loads sources, sinks and plans and bypasses the graph,
#: checkpoint and Python-lane code; ``iterative_pylane`` loads exactly
#: that code.
WORKLOADS = ("etl_daily", "iterative_pylane")

#: Scale factor of each workload's generated tables (README.md gives
#: each layer's share of the run at the scales tried).
SF = {"etl_daily": 0.1, "iterative_pylane": 0.01}

#: Seed of the generated tables. Tables drawn from the run's seed made
#: ``graph_components`` converge in 31 jobs on some seeds and 38 on
#: others, nearly a fifth of the run's CPU time.
DATA_SEED = 0

#: Tables the ETL DAGs read; each lands as CSV for every logical date.
ETL_TABLES = ("orders", "lineitem", "part")

#: Schemas of the landing CSV files, as Spark DDL.
LANDING_DDL = {
    "orders": (
        "o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING, "
        "o_totalprice DOUBLE, o_orderdate TIMESTAMP_NTZ, "
        "o_orderpriority STRING"
    ),
    "lineitem": (
        "l_orderkey BIGINT, l_partkey BIGINT, l_suppkey BIGINT, "
        "l_linenumber INT, l_quantity DOUBLE, l_extendedprice DOUBLE, "
        "l_discount DOUBLE, l_tax DOUBLE, l_returnflag STRING, "
        "l_linestatus STRING, l_shipdate TIMESTAMP_NTZ"
    ),
    "part": (
        "p_partkey BIGINT, p_name STRING, p_brand STRING, p_type STRING, "
        "p_size INT, p_retailprice DOUBLE"
    ),
}

#: One query per mechanism the workload exists to load. The two graph
#: queries share the session's checkpointed edge-frame memo: the first
#: builds it, the second reuses it.
PYLANE_QUERIES = (
    "graph_components",  # eager build-time jobs, localCheckpoint
    "graph_pagerank",  # session memo hit, iterative joins
    "kmeans_embeddings",  # persist inside an iterative loop
    "mm_image_hist_equalize",  # Arrow mapInPandas
)

#: Query → the query that builds the session memo it reuses. The seed's
#: query order keeps the builder first; the reverse order took about
#: 12 % less CPU time in all.
REUSES = {"graph_pagerank": "graph_components"}

#: Estimated seconds of one unit of work at ``SF`` on a 4-core host:
#: one logical date (the first, on a cold JVM, takes about twice the
#: average), or one pass over the query list. Only used to turn
#: ``--seconds`` into an amount of work.
UNIT_COST_S = {"etl_daily": 12.0, "iterative_pylane": 25.0}


@dataclass(frozen=True)
class Op:
    """One timed unit of work. ``name`` is unique within a run and is
    the Spark job-group prefix of everything the op runs."""

    name: str
    query: str | None = None
    run_date: str | None = None
    landing_files: int = 1


def units(workload: str, seconds: float) -> int:
    """How many dates (``etl_daily``) or passes over the query list a
    run of ``seconds`` does."""
    return max(1, round(seconds / UNIT_COST_S[workload]))


def plan(workload: str, seed: int, seconds: float) -> list[Op]:
    """The run's ops, in order."""
    n = units(workload, seconds)
    if workload == "etl_daily":
        rng = random.Random(f"{workload}:{seed}")
        first = date(2024, 1, 1) + timedelta(days=rng.randrange(365))
        return [
            Op(
                name=f"etl@{d}",
                run_date=str(d),
                landing_files=rng.randint(1, 4),
            )
            for d in (first + timedelta(days=k) for k in range(n))
        ]
    if workload != "iterative_pylane":
        raise ValueError(f"unknown workload {workload!r}")
    rng = random.Random(f"{workload}:{seed}")
    ops = []
    for p in range(n):
        order = rng.sample(PYLANE_QUERIES, len(PYLANE_QUERIES))
        for query, producer in REUSES.items():
            i, j = order.index(producer), order.index(query)
            if j < i:
                order[i], order[j] = query, producer
        ops += [Op(name=q + (f"#{p}" if n > 1 else ""), query=q) for q in order]
    return ops
