"""End-to-end and per-layer benchmark of the ETL engine.

    python3 perfbench/run.py --workload etl_daily --seed 1 --seconds 25 --trace 0

Run from the root of a checkout. The runner generates the workload's
inputs from ``--seed`` under ``.perfbench/``, derives the Spark session
from the host, and measures in fresh processes (``worker.py``):

- ``--trace 0``: one set-up probe, then the measured run; prints every
  end-to-end metric of ``BENCHMARK.json``. ``setup_s`` is the median of
  the two set-ups.
- ``--trace 1``: one untraced run, then one run with the event log and
  spans on; prints every per-layer metric, each layer's self time, the
  tracing overhead (traced ``wall_s`` over untraced) and the untraced
  run's wall-clock figures.

Throughout, ``speedprobe.py`` samples how fast the vCPUs run; every
bounded time is taken less the hypervisor's steal and scaled by that
speed to the time at reference vCPU speed, so that the host's load from
one minute to the next does not read as a change of the program.

Every op's output is checked against its DuckDB oracle after the timed
region. Per-op lines go to stdout first; the last line is one JSON
object with ``correct``, ``attempted``, ``failed`` and ``metrics``.
Details (per-op counters, spans) are written to
``.perfbench/results/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import uuid

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKER = os.path.join(HERE, "worker.py")
sys.path.insert(0, HERE)

import datagen  # noqa: E402
import oracle  # noqa: E402
import procstat  # noqa: E402
import speedprobe  # noqa: E402
import workloads  # noqa: E402

#: A run must end well inside the three minutes it is allowed.
DEADLINE_S = 170.0
RUN_MARK = "PERFBENCH_RUN"
#: Set-up probes before an untraced run; with the run's own set-up they
#: give the median ``setup_s``.
SETUP_PROBES = 1


def host_env(work: str, run_id: str) -> dict[str, str]:
    """The environment of every process of a run, derived from this
    host through the engine's existing variables only."""
    env = dict(os.environ)
    for key in ("SPARK_MASTER", "SPARK_GRAFT_SHUFFLE_PARTITIONS"):
        env.pop(key, None)
    with open("/proc/meminfo") as f:
        total_mb = int(f.readline().split()[1]) // 1024
    tmp = os.path.join(work, "tmp")
    env |= {
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        # The 48g default heap is larger than most hosts' RAM.
        "SPARK_GRAFT_DRIVER_MEM": f"{min(total_mb // 4, 4096)}m",
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        # Python workers import the engine from the checkout.
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, env.get("PYTHONPATH")) if p
        ),
        "PYSPARK_PYTHON": sys.executable,
        "TMPDIR": tmp,
        "JAVA_TOOL_OPTIONS": (
            f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp} "
            "-XX:-UsePerfData"
        ),
        "PERFBENCH_CONF": json.dumps({
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        }),
        RUN_MARK: run_id,
    }
    return env


def reap(run_id: str) -> None:
    """Stop every process of this run that is still alive and wait
    until each has ended."""
    for sig in (signal.SIGTERM, signal.SIGKILL):
        pids = procstat.pids_with_env(RUN_MARK, run_id)
        for pid in pids:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        for _ in range(100):
            if not procstat.pids_with_env(RUN_MARK, run_id):
                return
            time.sleep(0.1)


def probe_mark(run_id: str) -> str:
    """The run mark of the speed probe, which outlives each worker."""
    return run_id + "-probe"


def child(args: list[str], env: dict[str, str], deadline: float) -> str:
    """Run ``worker.py`` with ``args`` (after the spawn time) and return
    its stdout; raise if it fails or outlives ``deadline``."""
    spawn_t = time.monotonic()
    proc = subprocess.Popen(
        [sys.executable, WORKER, args[0], repr(spawn_t), *args[1:]],
        env=env, cwd=ROOT, stdout=subprocess.PIPE, text=True,
    )
    try:
        out, _ = proc.communicate(timeout=max(1.0, deadline - time.monotonic()))
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.communicate()
        raise
    finally:
        reap(env[RUN_MARK])
    if proc.returncode != 0:
        raise RuntimeError(f"worker {args[0]} exited with {proc.returncode}")
    return out


def make_inputs(workload: str, seed: int, ops: list[workloads.Op], work: str) -> None:
    """Generate the run's tables under ``work/data`` and, for each
    logical date, its CSV landing files."""
    tables = datagen.make_tables(workloads.SF[workload], workloads.DATA_SEED)
    datagen.write_tables(tables, os.path.join(work, "data"))
    rng = np.random.default_rng([seed, 1])
    for op in ops:
        if op.run_date:
            for t in workloads.ETL_TABLES:
                datagen.write_landing(
                    tables[t],
                    os.path.join(work, "landing", op.run_date, t),
                    op.landing_files,
                    rng,
                )


def measure(tag: str, trace: int, ops, work: str, env, deadline) -> dict:
    """One worker run; its outputs checked before the next run may
    overwrite them."""
    own = os.path.join(work, tag)
    paths = {
        "data": os.path.join(work, "data"),
        "landing": os.path.join(work, "landing"),
        "staging": os.path.join(own, "staging"),
        "export": os.path.join(own, "export"),
        "eventlog": os.path.join(own, "eventlog"),
    }
    os.makedirs(paths["eventlog"])
    spec = {
        "trace": trace,
        "paths": paths,
        "ops": [vars(op) for op in ops],
        "out": os.path.join(own, "result.json"),
    }
    spec_file = os.path.join(own, "spec.json")
    with open(spec_file, "w") as f:
        json.dump(spec, f)
    child(["run", spec_file], env, deadline)
    with open(spec["out"]) as f:
        result = json.load(f)
    import __spark_entry__
    from postgres_s3_etl_spark.operators.etl import INGESTION_DATE

    con = oracle.connect(paths["data"])
    try:
        result["failed"] = oracle.count_failures(
            con, result["ops"], __spark_entry__.oracle_sql(), INGESTION_DATE
        )
    finally:
        con.close()
    return result


def metric_specs(trace: int) -> list[dict]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    return bench["per_layer" if trace else "end_to_end"]


def report(values: dict[str, float], trace: int) -> dict:
    return {
        m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
        for m in metric_specs(trace)
    }


def unstolen(cpu_s: float, steal_s: float) -> float:
    """The share of the busy vCPU time of a stretch of wall-clock time
    that the hypervisor did not steal. Steal accrues only on a vCPU
    that has work, so the stretch less its steal is its length times
    this share: all of the steal counts when one thread ran, a quarter
    of it when four ran side by side."""
    busy = cpu_s + steal_s
    return cpu_s / busy if busy else 1.0


def at_ref_speed(result: dict, samples: list) -> dict:
    """``result`` plus its times less steal and at reference vCPU
    speed, each scaled by the speed in its own window: the set-up, and
    each op's latency and CPU time, summed over the ops."""
    setup = (
        result["setup_s"]
        * unstolen(result["setup_cpu_s"], result["setup_steal_s"])
        * speedprobe.scale(samples, *result["setup_window"])
    )
    if "ops" not in result:
        return result | {"setup_ref_s": setup}
    wall = cpu = 0.0
    for op in result["ops"]:
        speed = speedprobe.scale(samples, *op["window"])
        wall += op["seconds"] * unstolen(op["cpu_s"], op["steal_s"]) * speed
        cpu += op["cpu_s"] * speed
    return result | {
        "setup_ref_s": setup,
        "vcpu_speed": speedprobe.scale(samples, *result["region"]),
        "wall_ref_s": wall,
        "cpu_ref_s": cpu,
    }


def plain_values(result: dict, probes: list[dict]) -> dict:
    """End-to-end values of an untraced run; ``setup_s`` is the median
    over the probes and the run's own set-up, each at reference speed."""
    samples = [p["setup_ref_s"] for p in probes] + [result["setup_ref_s"]]
    return result | {"setup_s": statistics.median(samples), "setup_samples_s": samples}


def traced_values(plain: dict, traced: dict) -> dict:
    """Per-layer values of a traced run; the overhead is its makespan
    over that of the untraced run of the same ops just before it, both
    at reference speed."""
    return traced["trace"]["metrics"] | {
        "trace.overhead": traced["wall_ref_s"] / plain["wall_ref_s"],
        "untraced.wall_s": plain["wall_s"],
        "untraced.op_p50_s": plain["op_p50_s"],
        "untraced.peak_rss_mb": plain["peak_rss_mb"],
        "host.steal_s": plain["host_steal_s"],
        "host.vcpu_speed": plain["vcpu_speed"],
    }


def print_ops(result: dict) -> None:
    for op in result["ops"]:
        counters = " ".join(
            f"{k}={op[k]}" for k in ("jobs", "stages", "tasks") if k in op
        )
        status = "ok" if op["problem"] is None else f"FAIL {op['problem']}"
        print(f"op {op['op']:<36} {op['seconds']:8.3f}s {counters} {status}")


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=workloads.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    deadline = time.monotonic() + DEADLINE_S

    sys.path.insert(0, ROOT)
    try:
        import __spark_entry__  # noqa: F401
        import scripts.check_correctness  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: the engine is not importable here: {exc}", file=sys.stderr)
        return 2

    run_id = uuid.uuid4().hex
    base = os.path.join(ROOT, ".perfbench")
    work = os.path.join(base, f"work-{run_id[:12]}")
    env = host_env(work, run_id)
    for d in ("tmp", "local"):
        os.makedirs(os.path.join(work, d))
    speed_out = os.path.join(work, "speed.json")
    try:
        ops = workloads.plan(args.workload, args.seed, args.seconds)
        make_inputs(args.workload, args.seed, ops, work)
        speed = speedprobe.start(speed_out, env | {RUN_MARK: probe_mark(run_id)})
        if args.trace:
            runs = [
                measure("plain", 0, ops, work, env, deadline),
                measure("traced", 1, ops, work, env, deadline),
            ]
            probes = []
        else:
            probes = [
                json.loads(child(["probe"], env, deadline).splitlines()[-1])
                for _ in range(SETUP_PROBES)
            ]
            runs = [measure("plain", 0, ops, work, env, deadline)]
        samples = speedprobe.stop(speed, speed_out)
        probes = [at_ref_speed(p, samples) for p in probes]
        runs = [at_ref_speed(r, samples) for r in runs]
        if args.trace:
            values = traced_values(*runs)
        else:
            values = plain_values(runs[0], probes)
        for r in runs:
            print_ops(r)
        attempted = sum(len(r["ops"]) for r in runs)
        failed = sum(r["failed"] for r in runs)
        os.makedirs(os.path.join(base, "results"), exist_ok=True)
        name = f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
        with open(os.path.join(base, "results", name), "w") as f:
            json.dump({"values": values, "runs": runs}, f, indent=1, default=str)
        result = {
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": report(values, args.trace),
        }
    finally:
        reap(run_id)
        reap(probe_mark(run_id))
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
