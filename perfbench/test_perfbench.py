"""Tests of the benchmark's own code; none of them starts Spark.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
for p in (HERE, ROOT):
    if p not in sys.path:
        sys.path.insert(0, p)

import datagen  # noqa: E402
import eventlog  # noqa: E402
import oracle  # noqa: E402
import procstat  # noqa: E402
import run  # noqa: E402
import spans  # noqa: E402
import speedprobe  # noqa: E402
import worker  # noqa: E402
import workloads  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    BENCH = json.load(_f)

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


# -- output schema -------------------------------------------------------


def test_benchmark_json_follows_the_contract():
    assert set(BENCH) == {
        "command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"
    }
    assert BENCH["command"][:2] == ["python3", "perfbench/run.py"]
    assert BENCH["paths"] == ["perfbench"]
    assert 1 <= BENCH["run_seconds"] <= 60
    assert {w["name"] for w in BENCH["workloads"]} <= set(workloads.WORKLOADS)
    for w in BENCH["workloads"]:
        assert set(w) == {"name", "why"} and "\n" not in w["why"]
        assert len(w["why"]) <= 200
    names = [m["name"] for k in ("end_to_end", "per_layer") for m in BENCH[k]]
    assert len(names) == len(set(names))
    for m in BENCH["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"}
        assert 0 < m["bound"] <= 0.25
    for m in BENCH["per_layer"]:
        assert set(m) == {"name", "unit", "better"}
    for m in BENCH["end_to_end"] + BENCH["per_layer"]:
        assert NAME.match(m["name"]) and UNIT.match(m["unit"])
        assert m["better"] in ("higher", "lower")
    setup = next(m for m in BENCH["end_to_end"] if m["name"] == "setup_s")
    assert (setup["unit"], setup["better"]) == ("s", "lower")
    assert setup["bound"] == max(m["bound"] for m in BENCH["end_to_end"])


def _fake_run(wall_s: float) -> dict:
    return {
        "setup_s": 9.0, "setup_ref_s": 9.0, "wall_s": wall_s,
        "wall_ref_s": wall_s / 2,
        "op_p50_s": 2.0, "cpu_s": 50.0, "cpu_ref_s": 25.0,
        "peak_rss_mb": 1500.0, "jobs": 40, "host_steal_s": 1.0,
        "vcpu_speed": 0.5, "ops": [],
    }


def test_untraced_report_has_every_end_to_end_metric_and_unit():
    values = run.plain_values(_fake_run(20.0), [{"setup_ref_s": 7.0}])
    assert values["setup_s"] == 8.0  # median of the probe and the run
    out = run.report(values, trace=0)
    assert list(out) == [m["name"] for m in BENCH["end_to_end"]]
    for m in BENCH["end_to_end"]:
        assert out[m["name"]]["unit"] == m["unit"]
    with pytest.raises(KeyError):
        run.report({"wall_s": 1.0}, trace=0)


def _event(kind: str, **kw) -> dict:
    return {"Event": kind, **kw}


def _task(stage: int, run_ms=10, cpu_ns=5_000_000, ok=True, accs=()) -> dict:
    return _event(
        "SparkListenerTaskEnd",
        **{
            "Stage ID": stage,
            "Task End Reason": {"Reason": "Success" if ok else "ExceptionFailure"},
            "Task Info": {"Accumulables": [
                {"ID": i, "Name": "x", "Update": str(v)} for i, v in accs
            ]},
            "Task Metrics": {
                "Executor Run Time": run_ms, "Executor CPU Time": cpu_ns,
                "JVM GC Time": 1, "Disk Bytes Spilled": 0,
                "Shuffle Read Metrics": {"Remote Bytes Read": 0, "Local Bytes Read": 100},
                "Shuffle Write Metrics": {"Shuffle Bytes Written": 100},
                "Input Metrics": {"Bytes Read": 1000, "Records Read": 7},
            },
        },
    )


def _job(group: str, stages: list[int]) -> list[dict]:
    props = {"Properties": {"spark.jobGroup.id": group}}
    return [_event("SparkListenerJobStart", **props)] + [
        _event("SparkListenerStageSubmitted", **{"Stage Info": {"Stage ID": s}}, **props)
        for s in stages
    ]


def _python_plan(ids: tuple[int, int, int]) -> dict:
    rows, sent, run_ms = ids
    return {"nodeName": "Project", "metrics": [], "children": [{
        "nodeName": "MapInPandas", "children": [], "metrics": [
            {"name": "number of output rows", "accumulatorId": rows},
            {"name": "data sent to Python workers", "accumulatorId": sent},
            {"name": "time to run Python workers", "accumulatorId": run_ms},
        ],
    }]}


SQL = "org.apache.spark.sql.execution.ui."


def _synthetic_log(path: str) -> None:
    events = (
        _job("q:build", [0])
        + [_task(0)]
        + _job("q:catalog.load_table", [1])
        + [_task(1)]
        + [_event(SQL + "SparkListenerSQLExecutionStart", sparkPlanInfo=_python_plan((10, 11, 12)))]
        # Adaptive execution re-plans with fresh accumulator ids.
        + [_event(SQL + "SparkListenerSQLAdaptiveExecutionUpdate", sparkPlanInfo=_python_plan((20, 21, 22)))]
        + _job("q:run", [2, 3])
        + [_task(2, accs=[(20, 5), (21, 400), (22, 30), (99, 1000)]),
           _task(3, ok=False, accs=[(20, 1)])]
        + _job("e:sinks.write_parquet", [4])
        + [_task(4)]
        + [_event(SQL + "SparkListenerDriverAccumUpdates", accumUpdates=[[12, 3]])]
    )
    with open(path, "w") as f:
        f.writelines(json.dumps(e) + "\n" for e in events)


def test_event_log_folds_by_job_group_and_python_nodes(tmp_path):
    path = tmp_path / "events_1_local-1"
    _synthetic_log(str(path))
    log = eventlog.read(str(tmp_path))
    run_g = log["groups"]["q:run"]
    assert (run_g["jobs"], run_g["stages"], run_g["tasks"], run_g["failed_tasks"]) == (1, 2, 2, 1)
    assert log["groups"]["q:build"]["input_records"] == 7
    # Accumulator 99 belongs to no Python node; 12 arrives from the driver.
    assert log["python"] == {"rows": 6, "bytes_sent": 400, "exec_ms": 33}
    assert eventlog.total(log["groups"])["jobs"] == 4


def test_traced_report_has_every_per_layer_metric_and_unit(tmp_path):
    _synthetic_log(str(tmp_path / "events_1_local-1"))
    tracer = spans.Tracer()
    tracer.start_op("q")
    with tracer.span("operators.build", group=spans.BUILD):
        with tracer.span("catalog.load_table"):
            pass
    with tracer.span("operators.action", group=spans.RUN):
        pass
    materialize = {
        "materialize.cached_rdds": 2, "materialize.held_mb": 1.0,
        "materialize.held_rdd_mb": 0.5, "materialize.storage_mb_max": 1.5,
    }
    layers = worker.layer_metrics(tracer, str(tmp_path), 8.0, 20.0, materialize)
    assert layers["metrics"]["catalog.schema_jobs"] == 1
    assert layers["metrics"]["operators.action_jobs"] == 1
    assert layers["metrics"]["sources.rows_in"] == 7
    assert layers["metrics"]["spark.cpu_util"] == pytest.approx(0.5)
    values = run.traced_values(_fake_run(20.0), _fake_run(21.0) | {"trace": layers})
    assert values["trace.overhead"] == pytest.approx(1.05)
    out = run.report(values, trace=1)
    assert list(out) == [m["name"] for m in BENCH["per_layer"]]
    for m in BENCH["per_layer"]:
        assert out[m["name"]]["unit"] == m["unit"]
        assert isinstance(out[m["name"]]["value"], (int, float))


def test_times_are_scaled_by_the_speed_in_their_own_window():
    ref = speedprobe.REF_S
    # vCPUs at reference speed until t=10, then at half of it.
    samples = [(t / 10, t % 4, ref if t < 100 else 2 * ref) for t in range(200)]
    assert speedprobe.scale(samples, 0.0, 9.9) == pytest.approx(1.0)
    assert speedprobe.scale(samples, 10.0, 19.9) == pytest.approx(0.5)
    assert speedprobe.scale(samples, 5.0, 14.95) == pytest.approx(1 / 1.5)
    assert speedprobe.scale(samples, 15.0, 15.0) == pytest.approx(0.5)
    with pytest.raises(ValueError):
        speedprobe.scale(samples, 30.0, 40.0)
    ops = [
        {"seconds": 4.0, "steal_s": 0.0, "cpu_s": 12.0, "window": [1.0, 5.0]},
        {"seconds": 6.0, "steal_s": 2.0, "cpu_s": 6.0, "window": [12.0, 18.0]},
        {"seconds": 0.01, "steal_s": 0.0, "cpu_s": 0.0, "window": [18.0, 18.01]},
    ]
    result = {"setup_s": 3.0, "setup_window": [11.0, 14.0], "setup_cpu_s": 3.0,
              "setup_steal_s": 1.0, "region": [1.0, 18.0], "ops": ops}
    out = run.at_ref_speed(result, samples)
    assert out["setup_ref_s"] == pytest.approx(3.0 * 0.75 * 0.5)
    # A quarter of the second op's busy time was stolen; the third op
    # used no CPU at all.
    assert out["wall_ref_s"] == pytest.approx(4.0 + 6.0 * 0.75 * 0.5 + 0.01 * 0.5)
    assert out["cpu_ref_s"] == pytest.approx(12.0 + 6.0 * 0.5)
    probe = run.at_ref_speed({"setup_s": 2.0, "setup_window": [0.0, 9.9],
                              "setup_cpu_s": 2.0, "setup_steal_s": 0.0}, samples)
    assert probe["setup_ref_s"] == pytest.approx(2.0)


def test_speed_probe_samples_every_cpu_until_stdin_closes(tmp_path):
    out = str(tmp_path / "speed.json")
    proc = speedprobe.start(out, dict(os.environ))
    time.sleep(4 * speedprobe.PERIOD_S)
    samples = speedprobe.stop(proc, out)
    assert proc.returncode == 0
    assert {cpu for _, cpu, _ in samples} == os.sched_getaffinity(0)
    assert all(seconds > 0 for _, _, seconds in samples)


# -- oracle checks -------------------------------------------------------


@pytest.fixture(scope="module")
def tiny_db(tmp_path_factory):
    data = str(tmp_path_factory.mktemp("data"))
    datagen.write_tables(datagen.make_tables(0.0005, seed=5), data)
    con = oracle.connect(data)
    yield con
    con.close()


def _query_op(con, query: str, sql: str) -> dict:
    return {"op": query, "query": query, "error": None} | oracle.oracle_digest(con, sql)


def test_forced_oracle_mismatch_counts_as_a_failed_op(tiny_db):
    oracles = {
        "q_ok": "SELECT p_size, count(*) AS n FROM part GROUP BY 1",
        "q_bad": "SELECT p_size, count(*) AS n FROM part GROUP BY 1",
    }
    ops = [
        _query_op(tiny_db, "q_ok", oracles["q_ok"]),
        # Same shape and row count, one value off: only the hash catches it.
        _query_op(tiny_db, "q_bad", "SELECT p_size, count(*) + (p_size = 1)::INT AS n "
                                    "FROM part GROUP BY 1"),
        {"op": "q_err", "query": "q_ok", "error": "Py4JJavaError: boom"},
    ]
    assert oracle.count_failures(tiny_db, ops, oracles, "2024-01-01") == 2
    assert ops[0]["problem"] is None
    assert ops[1]["problem"] == "value-hash mismatch"
    assert ops[2]["problem"].startswith("Py4JJavaError")


def test_etl_exports_are_checked_per_logical_date(tiny_db, tmp_path):
    oracles = {
        q: f"SELECT DATE '2024-01-01' AS ingestion_date, count(*) AS n FROM {t}"
        for q, t in zip(oracle.ETL_EXPORTS.values(), ("orders", "lineitem", "part"))
    }
    run_date = "2024-03-05"
    for fname, q in oracle.ETL_EXPORTS.items():
        sql = oracle.etl_sql(oracles[q], run_date, "2024-01-01")
        tiny_db.execute(f"COPY ({sql}) TO '{tmp_path / fname}' (HEADER)")
    ok = {"op": f"etl@{run_date}", "query": None, "run_date": run_date,
          "error": None, "export": str(tmp_path),
          "reports": {"orders_ETL": [{"name": "load", "state": "success", "error": None}]}}
    assert oracle.check_op(tiny_db, ok, oracles, "2024-01-01") is None
    # The default date in an export is a mismatch for another run_date.
    stale = ok | {"run_date": "2024-03-06"}
    assert "value-hash mismatch" in oracle.check_op(tiny_db, stale, oracles, "2024-01-01")
    failed_task = ok | {"reports": {"orders_ETL": [
        {"name": "load", "state": "failed", "error": "OSError: disk"}]}}
    assert oracle.count_failures(tiny_db, [failed_task], oracles, "2024-01-01") == 1


# -- spans ---------------------------------------------------------------


def _span(i, name, parent, start, end):
    return spans.Span(i, name, "q", parent, start, end)


def test_self_time_subtracts_child_spans():
    tree = [
        _span(0, "op", None, 0.0, 10.0),
        _span(1, "operators.build", 0, 1.0, 6.0),
        _span(2, "catalog.load_table", 1, 2.0, 3.0),
        _span(3, "catalog.load_table", 1, 3.5, 4.0),
        _span(4, "operators.action", 0, 6.0, 9.0),
    ]
    assert spans.self_times(tree) == pytest.approx(
        {"op": 2.0, "operators": 6.5, "catalog": 1.5}
    )
    assert spans.layer_seconds(tree, "catalog.load_table") == pytest.approx(1.5)


class _FakeContext:
    def __init__(self):
        self.groups: list[str] = []

    def setJobGroup(self, group, description):
        self.groups.append(group)


def test_nested_spans_restore_the_enclosing_job_group():
    sc = _FakeContext()
    tracer = spans.Tracer(sc)
    tracer.start_op("q")
    with tracer.span("operators.build", group=spans.BUILD):
        with tracer.span("catalog.load_table"):
            pass
    assert sc.groups == ["q:op", "q:build", "q:catalog.load_table", "q:build", "q:op"]
    assert [s.parent for s in tracer.spans] == [None, 0]


def test_untraced_tracer_tags_jobs_but_records_nothing():
    sc = _FakeContext()
    tracer = spans.Tracer(sc, record=False)
    tracer.start_op("q")
    with tracer.span("operators.action", group=spans.RUN):
        with tracer.span("catalog.load_table"):
            pass
    assert tracer.spans == []
    assert sc.groups == ["q:op", "q:run", "q:op"]


def test_patch_everywhere_reaches_from_imports():
    import types

    mod = types.ModuleType("perfbench_fake_mod")
    sys.modules[mod.__name__] = mod

    def f():
        return 1

    mod.f = mod.alias = f
    try:
        tracer = spans.Tracer()
        spans.patch_everywhere(f, spans.wrap(tracer, f, "catalog.f"), ("perfbench_fake",))
        assert mod.alias() == 1 and mod.f() == 1
        assert [s.name for s in tracer.spans] == ["catalog.f", "catalog.f"]
    finally:
        del sys.modules[mod.__name__]


# -- /proc readers -------------------------------------------------------


def _fake_proc(root, pid, ppid, ticks, hwm_kb=0, cmd="x"):
    d = root / str(pid)
    d.mkdir()
    utime, stime, cutime, cstime = ticks
    rest = ["S", str(ppid)] + ["0"] * 9 + [str(utime), str(stime), str(cutime), str(cstime)] + ["0"] * 5
    (d / "stat").write_text(f"{pid} ({cmd}) " + " ".join(rest) + "\n")
    (d / "status").write_text(f"Name:\t{cmd}\nVmHWM:\t  {hwm_kb} kB\nVmRSS:\t 1 kB\n")
    (d / "cmdline").write_bytes(b"\0".join(a.encode() for a in cmd.split()) + b"\0")


def test_proc_cpu_sums_the_tree_including_reaped_children(tmp_path):
    tick = os.sysconf("SC_CLK_TCK")
    _fake_proc(tmp_path, 10, 1, (tick, tick, 2 * tick, 0), cmd="python3 worker.py")
    _fake_proc(tmp_path, 11, 10, (3 * tick, 0, 0, 0), hwm_kb=2048, cmd="/usr/bin/java SparkSubmit")
    # A name with spaces and parentheses must not shift the fields.
    _fake_proc(tmp_path, 12, 11, (tick, 0, 0, 0), cmd="py (daemon) x")
    _fake_proc(tmp_path, 20, 1, (100 * tick, 0, 0, 0), cmd="other")
    proc = str(tmp_path)
    assert sorted(procstat.tree(10, proc)) == [10, 11, 12]
    assert procstat.tree_cpu_s(10, proc) == pytest.approx(
        {"driver": 4, "jvm": 3, "python_workers": 1}
    )
    assert procstat.find_jvm(10, proc) == 11
    assert procstat.status_kb(11, "VmHWM", proc) == 2048
    assert procstat.status_kb(99, "VmHWM", proc) == 0
    (tmp_path / "stat").write_text(
        f"cpu  9 0 9 90 0 0 0 {3 * tick} 0 0\n"
        "cpu0 5 0 5 45 0 0 0 1 0 0\ncpu1 4 0 4 45 0 0 0 2 0 0\n"
        "intr 7\nctxt 3\n"
    )
    assert procstat.host_steal_s(proc) == 3
    assert procstat.host_cpus(proc) == 2


def test_proc_readers_on_this_process():
    me = os.getpid()
    before = procstat.tree_cpu_s(me)["driver"]
    end = time.process_time() + 0.2
    while time.process_time() < end:
        pass
    assert procstat.tree_cpu_s(me)["driver"] - before >= 0.1
    assert procstat.status_kb(me, "VmHWM") >= procstat.status_kb(me, "VmRSS") > 0


# -- inputs and plans ----------------------------------------------------


def test_inputs_and_plans_are_a_function_of_the_seed():
    a, b = datagen.make_tables(0.001, 3), datagen.make_tables(0.001, 3)
    assert all(a[t].equals(b[t]) for t in a)
    assert not a["lineitem"].equals(datagen.make_tables(0.001, 4)["lineitem"])
    for table, ddl in workloads.LANDING_DDL.items():
        assert [c.split()[0] for c in ddl.split(", ")] == a[table].column_names
    assert workloads.plan("etl_daily", 7, 25) == workloads.plan("etl_daily", 7, 25)
    dates = {op.run_date for s in range(5) for op in workloads.plan("etl_daily", s, 25)}
    assert len(dates) > 2
    orders = set()
    for s in range(5):
        ops = workloads.plan("iterative_pylane", s, 25)
        assert sorted(op.query for op in ops) == sorted(workloads.PYLANE_QUERIES)
        order = [op.query for op in ops]
        assert order.index("graph_components") < order.index("graph_pagerank")
        orders.add(tuple(order))
    assert len(orders) > 1


def test_landing_files_split_and_shuffle_every_row(tmp_path):
    import numpy as np
    import pyarrow.csv as pacsv

    table = datagen.make_tables(0.001, 1)["orders"]
    datagen.write_landing(table, str(tmp_path), 3, np.random.default_rng(0))
    parts = sorted(tmp_path.iterdir())
    assert len(parts) == 3
    keys = [k for p in parts for k in pacsv.read_csv(p).column("o_orderkey").to_pylist()]
    assert sorted(keys) == table.column("o_orderkey").to_pylist()
    assert keys != sorted(keys)
