"""Python-lane contract (operators/python_lane.py): row-wise Arrow
work goes through ``map_rows``; grouped Python-lane transforms and
compute-bound narrow stages must pin task parallelism to core count
via the shared helper, and the pin must be a REPARTITION_BY_NUM
exchange AQE cannot coalesce."""

from __future__ import annotations

import ast
import re
from pathlib import Path

from tests.conftest import SF_DIR

OPS_DIR = Path(__file__).resolve().parent.parent / "postgres_s3_etl_spark"


def test_cogroup_pin_survives_aqe(spark):
    """After execution (AQE final plan), the cogroup's two input
    exchanges must still hash-partition on the keys at core count —
    no single-partition coalesced read feeding the Python node."""
    from postgres_s3_etl_spark.operators.cogroup import (
        q_order_billing_cogroup,
    )

    df = q_order_billing_cogroup(spark, SF_DIR)
    df.collect()  # materialize so the plan below is the AQE-final one
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "FlatMapCoGroupsInPandas" in plan
    n = spark.sparkContext.defaultParallelism
    # Both sides carry the explicit numbered hash repartition.
    assert len(re.findall(rf"hashpartitioning\([ol]_orderkey#\d+L?, {n}\)", plan)) >= 2, plan
    assert "REPARTITION_BY_NUM" in plan
    # AQE must not have collapsed either INPUT side to one partition.
    # (The final ORDER BY above the Python node may coalesce — that's
    # the bounded result, not the per-group work.) In the plan-tree
    # string the Python node's input subtree prints after its line.
    subtree = plan.split("FlatMapCoGroupsInPandas", 1)[1]
    assert "AQEShuffleRead coalesced" not in subtree, plan


def test_helper_used_at_every_site():
    """No operator may inline the defaultParallelism-repartition
    idiom — new Python-lane or compute-pinning sites must go through
    repartition_for_grouped_python so the contract stays auditable
    in one place."""
    offenders = []
    for py in OPS_DIR.rglob("*.py"):
        if py.name == "python_lane.py":
            continue
        src = py.read_text()
        # the raw idiom: .repartition(<defaultParallelism>, ...)
        if re.search(
            r"\.repartition\(\s*(spark\.sparkContext\.)?defaultParallelism",
            src,
        ) or re.search(r"\.repartition\(dp,", src):
            offenders.append(str(py))
    assert not offenders, offenders


def test_helper_emits_numbered_hash_exchange(spark):
    from postgres_s3_etl_spark.operators.python_lane import (
        repartition_for_grouped_python,
    )

    df = repartition_for_grouped_python(spark.range(100), "id")
    plan = df._jdf.queryExecution().executedPlan().toString()
    n = spark.sparkContext.defaultParallelism
    assert f"hashpartitioning(id#" in plan and f", {n})" in plan, plan


def test_widen_if_narrow_is_noop_when_wide(spark):
    """At >= cores input partitions (the cluster case) the helper
    must return the SAME plan — no exchange inserted."""
    from postgres_s3_etl_spark.operators.python_lane import widen_if_narrow

    n = spark.sparkContext.defaultParallelism
    wide = spark.range(1000, numPartitions=n)
    out = widen_if_narrow(wide, "id")
    assert out is wide  # literally unchanged, not just equivalent
    narrow = spark.range(1000, numPartitions=1)
    out2 = widen_if_narrow(narrow, "id")
    assert out2 is not narrow
    assert out2.rdd.getNumPartitions() == n


def test_pq_subs_widened_on_one_file_scan(spark):
    """The PQ family's shared encode entry (_pq_subs) must run at
    core-count parallelism even when the embeddings scan is a single
    local file (round-12 fix: the last compute-heavy embedding family
    left on the unwidened scan)."""
    from postgres_s3_etl_spark.operators.similarity import _pq_subs, _vecs

    n = spark.sparkContext.defaultParallelism
    vecs = _vecs(spark, SF_DIR).select("vec_id", "v")
    assert vecs.rdd.getNumPartitions() < n  # the local one-file artifact
    subs = _pq_subs(vecs)
    assert subs.rdd.getNumPartitions() == n
    plan = subs._jdf.queryExecution().executedPlan().toString()
    assert "REPARTITION_BY_NUM" in plan, plan

    # And with an already-parallel input the widen is absent.
    wide_vecs = vecs.repartition(n, "vec_id")
    plan2 = _pq_subs(wide_vecs)._jdf.queryExecution().executedPlan().toString()
    assert plan2.count("REPARTITION_BY_NUM") == 1, plan2  # only our own


#: The only Python-lane sites in the media modules that build whole
#: columns per batch instead of mapping rows.
COLUMN_WISE_SITES = {"extract_features", "mm_image_ssim_pairs"}


def _double_odd(i):
    if i % 2:
        yield (i, 2 * i)


def test_map_rows_names_columns_from_ddl_and_struct(spark):
    from pyspark.sql.types import LongType, StructField, StructType

    from postgres_s3_etl_spark.operators.python_lane import map_rows

    df = spark.range(6, numPartitions=2)
    struct = StructType(
        [StructField("i", LongType()), StructField("twice", LongType())]
    )
    for schema in ("i bigint, twice bigint", struct):
        out = map_rows(df, _double_odd, schema)
        assert out.columns == ["i", "twice"]
        # rows for which fn yields nothing are dropped
        rows = sorted(tuple(r) for r in out.collect())
        assert rows == [(1, 2), (3, 6), (5, 10)]


def test_map_rows_passes_columns_in_order_and_expands(spark):
    from postgres_s3_etl_spark.operators.python_lane import map_rows

    df = spark.createDataFrame(
        [(1, "ab"), (2, ""), (3, "c")], "k int, s string"
    )

    def chars(k, s):
        for pos, ch in enumerate(s):
            yield (k, pos, ch)

    out = map_rows(df, chars, "k int, pos int, ch string")
    rows = sorted(tuple(r) for r in out.collect())
    assert rows == [(1, 0, "a"), (1, 1, "b"), (3, 0, "c")]


def test_map_rows_partition_with_no_output(spark):
    from postgres_s3_etl_spark.operators.python_lane import map_rows

    # ids 0-3 land in the first partition, 4-7 in the second; only the
    # second yields rows.
    df = spark.range(0, 8, 1, numPartitions=2)

    def high(i):
        if i >= 4:
            yield (i,)

    out = map_rows(df, high, "i bigint")
    assert sorted(r.i for r in out.collect()) == [4, 5, 6, 7]
    empty = map_rows(df, lambda i: iter(()), "i bigint")
    assert empty.columns == ["i"] and empty.collect() == []


def test_map_rows_nested_output_type(spark):
    from postgres_s3_etl_spark.operators.python_lane import map_rows

    df = spark.range(3, numPartitions=1)
    out = map_rows(
        df, lambda i: iter([(i, list(range(i)))]), "i bigint, xs array<int>"
    )
    assert out.schema.simpleString() == "struct<i:bigint,xs:array<int>>"
    rows = sorted((r.i, r.xs) for r in out.collect())
    assert rows == [(0, []), (1, [0]), (2, [0, 1])]


def test_media_modules_map_rows_at_every_row_wise_site():
    """Row-wise Arrow work in the media modules goes through map_rows:
    the only hand-written batch generators (and direct mapInPandas
    calls) left are the column-wise sites."""
    for name in ("multimodal.py", "flac_codec.py"):
        tree = ast.parse((OPS_DIR / "operators" / name).read_text())
        with_batches, with_map_in_pandas = set(), set()
        for fn in tree.body:
            if not isinstance(fn, ast.FunctionDef):
                continue
            for node in ast.walk(fn):
                if getattr(node, "name", None) == "batches":
                    with_batches.add(fn.name)
                if getattr(node, "attr", None) == "mapInPandas":
                    with_map_in_pandas.add(fn.name)
        expected = COLUMN_WISE_SITES if name == "multimodal.py" else set()
        assert with_batches == expected, (name, with_batches)
        assert with_map_in_pandas == expected, (name, with_map_in_pandas)
