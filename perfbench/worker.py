"""One measured run in a fresh process.

``run.py`` starts this file twice per benchmark run; it is not meant to
be run by hand. Both modes take the session's extra Spark settings from
``$PERFBENCH_CONF``. Modes:

- ``worker.py probe <spawn_t>``: start the engine's session and print
  how long that took from ``spawn_t`` (the parent's ``time.monotonic()``
  just before it started this process), with the CPU time and steal in
  that time, then exit.
- ``worker.py run <spawn_t> <spec.json>``: start the session, run the
  spec's ops in the timed region, then write every measurement to the
  spec's ``out`` file.

A fresh process per run keeps every session memo of the engine cold,
as it is for a nightly batch; the benchmark never touches those memos.
"""

from __future__ import annotations

import gc
import json
import os
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

# Only standard-library modules before the session starts, so that
# ``setup_s`` times the engine's start-up and not the benchmark's imports.
import eventlog  # noqa: E402
import procstat  # noqa: E402
import spans as tr  # noqa: E402
import workloads  # noqa: E402


def start_session(spawn_t: float, steal0: float, tracer: tr.Tracer, extra_conf=None):
    """Start the engine's session; returns the session, the set-up
    (its time and window from ``spawn_t`` to a ready session on the
    monotonic clock, the CPU time of this process tree so far, and the
    host's steal since ``steal0``) and the ``get_spark`` time."""
    from postgres_s3_etl_spark.session import get_spark

    conf = json.loads(os.environ["PERFBENCH_CONF"]) | (extra_conf or {})
    t0 = time.monotonic()
    with tracer.span("session.get_spark"):
        spark = get_spark("perfbench", extra_conf=conf)
    t1 = time.monotonic()
    setup = {
        "setup_s": t1 - spawn_t,
        "setup_window": [spawn_t, t1],
        "setup_cpu_s": sum(procstat.tree_cpu_s(os.getpid()).values()),
        "setup_steal_s": procstat.host_steal_s() - steal0,
    }
    return spark, setup, t1 - t0


def probe(spawn_t: float, steal0: float) -> None:
    spark, setup, _ = start_session(spawn_t, steal0, tr.Tracer(record=False))
    print(json.dumps(setup))
    spark.stop()


# -- ops ---------------------------------------------------------------


def run_query(spark, tracer, queries, op, sf_dir):
    """Builder then ``collect()``; returns ``(columns, rows)``."""
    with tracer.span("operators.build", group=tr.BUILD):
        df = queries[op.query](spark, sf_dir)
    with tracer.span("operators.action", group=tr.RUN):
        rows = df.collect()
    return df.columns, rows


def run_etl_date(spark, op, paths):
    """One logical date: land → staging parquet → the three DAGs."""
    from postgres_s3_etl_spark.plans import etl_dags
    from postgres_s3_etl_spark.sinks import files as sinks
    from postgres_s3_etl_spark.sources import files as sources

    staging = os.path.join(paths["staging"], op.run_date)
    for table in workloads.ETL_TABLES:
        df = sources.read_csv(
            spark,
            os.path.join(paths["landing"], op.run_date, table),
            schema=workloads.LANDING_DDL[table],
        )
        sinks.write_parquet(df, os.path.join(staging, f"{table}.parquet"))
    export = os.path.join(paths["export"], op.run_date)
    reports = etl_dags.run_all(spark, staging, export, run_date=op.run_date)
    return {
        dag: [vars(r) for r in runs] for dag, runs in reports.items()
    }, export


# -- tracing hooks -----------------------------------------------------


def _du(path: str) -> tuple[int, int]:
    """(bytes, data files) under ``path``, skipping Spark's markers."""
    if os.path.isfile(path):
        return os.path.getsize(path), 1
    size = files = 0
    for root, _, names in os.walk(path):
        for n in names:
            if n.startswith(("_", ".")):
                continue
            size += os.path.getsize(os.path.join(root, n))
            files += 1
    return size, files


def instrument(tracer: tr.Tracer) -> None:
    """Wrap each layer's public entry points in spans, from outside."""
    from postgres_s3_etl_spark import catalog
    from postgres_s3_etl_spark.plans.pipeline import Pipeline
    from postgres_s3_etl_spark.sinks import files as sinks
    from postgres_s3_etl_spark.sources import files as sources

    prefixes = ("postgres_s3_etl_spark", "__spark_entry__")
    counts = tracer.counts

    def count(key):
        def after(result, args, kwargs):
            counts[key] += 1
        return after

    def read_in(result, args, kwargs):
        counts["sources.bytes_in"] += _du(kwargs.get("path", args[1]))[0]

    def parquet_out(result, args, kwargs):
        size, files = _du(kwargs.get("path", args[1]))
        counts["sinks.bytes_out"] += size
        counts["sinks.files_out"] += files

    def csv_out(result, args, kwargs):
        counts["sinks.bytes_out"] += os.path.getsize(result)
        counts["sinks.files_out"] += 1

    for fn, name, after in (
        (catalog.load_table, "catalog.load_table", count("catalog.load_calls")),
        (sources.read_csv, "sources.read_csv", read_in),
        (sinks.write_parquet, "sinks.write_parquet", parquet_out),
        (sinks.export_csv, "sinks.export_csv", csv_out),
    ):
        tr.patch_everywhere(fn, tr.wrap(tracer, fn, name, after), prefixes)

    pipeline_run = Pipeline.run

    def traced_run(self, context=None):
        for task in self.tasks.values():
            task.fn = tr.wrap(tracer, task.fn, f"plans.{task.name}")
        with tracer.span("plans.run"):
            report = pipeline_run(self, context)
        for r in report:
            counts[f"plans.{r.name}_s"] += r.seconds
            counts["plans.attempts"] += r.attempts
        return report

    Pipeline.run = traced_run


# -- measurements after the timed region -------------------------------


def status_counters(sc, op_name: str) -> dict[str, int]:
    """Jobs, stages and tasks an op ran, from the status tracker (no
    event log needed). Stages that were skipped ran no task and do not
    count."""
    st = sc.statusTracker()
    jobs = stages = tasks = 0
    seen: set[int] = set()
    for group in ("op", tr.BUILD, tr.RUN):
        for jid in st.getJobIdsForGroup(f"{op_name}:{group}"):
            jobs += 1
            info = st.getJobInfo(jid)
            for sid in info.stageIds if info else ():
                s = st.getStageInfo(sid)
                ran = s.numCompletedTasks + s.numFailedTasks if s else 0
                if sid not in seen and ran:
                    seen.add(sid)
                    stages += 1
                    tasks += ran
    return {"jobs": jobs, "stages": stages, "tasks": tasks}


def storage(sc) -> tuple[float, float, int]:
    """(storage memory in use, of which cached RDD blocks, both in MB;
    cached RDDs) across executors."""
    jsc = sc._jsc.sc()
    used = sum(
        i.usedOnHeapStorageMemory() + i.usedOffHeapStorageMemory()
        for i in jsc.statusTracker().getExecutorInfos()
    )
    rdds = jsc.getRDDStorageInfo()
    rdd_bytes = sum(r.memSize() + r.diskSize() for r in rdds)
    return used / 2**20, rdd_bytes / 2**20, len(rdds)


def held_storage(sc) -> tuple[float, float, int]:
    """``storage(sc)`` counting only what the program still references:
    unreferenced frames and broadcasts are released first (Python and
    JVM garbage collection, then Spark's context cleaner, which runs
    asynchronously), so the value does not depend on when a collector
    last happened to run. Settled means unchanged for a second."""
    readings = [storage(sc)]
    for _ in range(16):
        gc.collect()
        sc._jvm.java.lang.System.gc()
        time.sleep(0.5)
        readings.append(storage(sc))
        if len(readings) >= 3 and readings[-1] == readings[-2] == readings[-3]:
            break
    return readings[-1]


def rss_mb(pid: int) -> tuple[float, float]:
    """Peak resident memory of this driver and of its JVM."""
    jvm = procstat.find_jvm(pid)
    return (
        procstat.status_kb(pid, "VmHWM") / 1024,
        procstat.status_kb(jvm, "VmHWM") / 1024 if jvm else 0.0,
    )


def run(spec: dict, spawn_t: float, steal0: float) -> dict:
    record = bool(spec["trace"])
    event_log = {
        "spark.eventLog.enabled": "true",
        # Spark 4 compresses with zstd by default; the parser reads plain JSON.
        "spark.eventLog.compress": "false",
        "spark.eventLog.dir": "file://" + spec["paths"]["eventlog"],
    }
    tracer = tr.Tracer(record=record)
    spark, setup, start_s = start_session(
        spawn_t, steal0, tracer, event_log if record else None
    )
    sc = spark.sparkContext
    tracer.sc = sc
    import __spark_entry__

    queries = __spark_entry__.queries()
    ops = [workloads.Op(**o) for o in spec["ops"]]
    if record:
        instrument(tracer)
    storage_max = 0.0
    pid = os.getpid()
    results = []

    cpu0 = procstat.tree_cpu_s(pid)
    steal0 = procstat.host_steal_s()
    region_start = time.monotonic()
    t_region = time.perf_counter()
    for op in ops:
        tracer.start_op(op.name)
        res = {"op": op.name, "query": op.query, "run_date": op.run_date,
               "error": None}
        cpu_op = sum(procstat.tree_cpu_s(pid).values())
        steal_op = procstat.host_steal_s()
        start = time.monotonic()
        t0 = time.perf_counter()
        try:
            with tracer.span("op", group="op"):
                if op.query:
                    res["output"] = run_query(
                        spark, tracer, queries, op, spec["paths"]["data"]
                    )
                else:
                    res["reports"], res["export"] = run_etl_date(
                        spark, op, spec["paths"]
                    )
        except Exception as exc:  # noqa: BLE001 — a failed op is counted, the run goes on
            traceback.print_exc()
            res["error"] = f"{type(exc).__name__}: {exc}"[:2000]
        res["seconds"] = time.perf_counter() - t0
        res["window"] = [start, time.monotonic()]
        res["cpu_s"] = sum(procstat.tree_cpu_s(pid).values()) - cpu_op
        res["steal_s"] = procstat.host_steal_s() - steal_op
        results.append(res)
        if record:
            storage_max = max(storage_max, storage(sc)[0])
    wall_s = time.perf_counter() - t_region
    region = [region_start, time.monotonic()]
    cpu1 = procstat.tree_cpu_s(pid)
    cpu_parts = {k: cpu1[k] - cpu0[k] for k in cpu1}
    steal_s = procstat.host_steal_s() - steal0
    rss_parts = rss_mb(pid)
    if record:
        held_mb, held_rdd_mb, cached_rdds = held_storage(sc)

    from oracle import digest

    for res in results:
        if not record:
            res |= status_counters(sc, res["op"])
        if "output" in res:
            cols, rows = res.pop("output")
            res |= digest(cols, [tuple(r) for r in rows])
    out = {
        **setup,
        "wall_s": wall_s,
        "region": region,
        "op_p50_s": statistics.median(r["seconds"] for r in results),
        "cpu_s": sum(cpu_parts.values()),
        "cpu_parts_s": cpu_parts,
        "peak_rss_mb": sum(rss_parts),
        "rss_driver_jvm_mb": rss_parts,
        "host_steal_s": steal_s,
        "ops": results,
    }
    if not record:
        out["jobs"] = sum(r["jobs"] for r in results)
    spark.stop()
    if record:
        out["trace"] = layer_metrics(
            tracer, spec["paths"]["eventlog"], start_s, wall_s, {
                "materialize.cached_rdds": cached_rdds,
                "materialize.held_mb": held_mb,
                "materialize.held_rdd_mb": held_rdd_mb,
                "materialize.storage_mb_max": storage_max,
            },
        )
    return out


def layer_metrics(tracer, eventlog_dir, start_s, wall_s, materialize):
    """Every per-layer metric of the traced run, plus the spans.
    ``materialize`` holds the storage readings the worker took."""
    log = eventlog.read(eventlog_dir)
    groups = log["groups"]
    spans = tracer.spans
    counts = tracer.counts

    def jobs(suffix):
        return eventlog.total(groups, lambda g: g.endswith(":" + suffix))["jobs"]

    write_groups = eventlog.total(
        groups, lambda g: g.endswith(":sinks.write_parquet")
    )
    spark_all = eventlog.total(groups)
    selfs = tr.self_times(spans)
    m = {
        "session.start_s": start_s,
        "catalog.load_calls": counts["catalog.load_calls"],
        "catalog.load_s": tr.layer_seconds(spans, "catalog.load_table"),
        "catalog.schema_jobs": jobs("catalog.load_table"),
        "operators.build_s": tr.layer_seconds(spans, "operators.build"),
        "operators.build_jobs": jobs(tr.BUILD),
        "operators.action_s": tr.layer_seconds(spans, "operators.action"),
        "operators.action_jobs": jobs(tr.RUN),
        "sources.read_csv_s": tr.layer_seconds(spans, "sources.read_csv"),
        # read_csv is lazy: its rows are scanned by the staging write.
        "sources.rows_in": write_groups["input_records"],
        "sources.bytes_in": counts["sources.bytes_in"],
        "sinks.write_parquet_s": tr.layer_seconds(spans, "sinks.write_parquet"),
        "sinks.export_csv_s": tr.layer_seconds(spans, "sinks.export_csv"),
        "sinks.bytes_out": counts["sinks.bytes_out"],
        "sinks.files_out": counts["sinks.files_out"],
        "plans.extract_s": counts["plans.extract_s"],
        "plans.transform_s": counts["plans.transform_s"],
        "plans.load_s": counts["plans.load_s"],
        "plans.attempts": counts["plans.attempts"],
        "python_lane.rows": log["python"]["rows"],
        "python_lane.bytes_sent": log["python"]["bytes_sent"],
        "python_lane.exec_ms": log["python"]["exec_ms"],
        "spark.jobs": spark_all["jobs"],
        "spark.stages": spark_all["stages"],
        "spark.tasks": spark_all["tasks"],
        "spark.failed_tasks": spark_all["failed_tasks"],
        "spark.task_run_s": spark_all["run_ms"] / 1e3,
        "spark.task_cpu_s": spark_all["cpu_ns"] / 1e9,
        "spark.cpu_util": (
            spark_all["cpu_ns"] / 1e6 / spark_all["run_ms"]
            if spark_all["run_ms"] else 0.0
        ),
        "spark.gc_s": spark_all["gc_ms"] / 1e3,
        "spark.shuffle_read_mb": spark_all["shuffle_read"] / 2**20,
        "spark.shuffle_write_mb": spark_all["shuffle_write"] / 2**20,
        "spark.spill_mb": spark_all["spill"] / 2**20,
        "spark.input_mb": spark_all["input_bytes"] / 2**20,
        "trace.wall_s": wall_s,
    } | materialize
    for layer in ("catalog", "operators", "sources", "sinks", "plans"):
        m[f"{layer}.self_s"] = selfs.get(layer, 0.0)
    return {"metrics": m, "spans": tracer.dump(), "groups": groups}


def main(argv: list[str]) -> int:
    # Steal from here on; the interpreter's start before it is not counted.
    steal0 = procstat.host_steal_s()
    mode, spawn_t = argv[1], float(argv[2])
    if mode == "probe":
        probe(spawn_t, steal0)
        return 0
    with open(argv[3]) as f:
        spec = json.load(f)
    out = run(spec, spawn_t, steal0)
    with open(spec["out"], "w") as f:
        json.dump(out, f, default=str)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
