"""How fast this machine's vCPUs run while a benchmark run measures.

On a shared host a vCPU's speed moves with what the host runs beside
it. On one 4-vCPU VM, a pure-Python loop pinned to one vCPU took 57 ms
of its own CPU time while another took 82 ms for the same loop at the
same moment, with no steal; a few minutes later both ran it 15 % faster
than before. Such slowdowns inflate a run's CPU time and makespan
alike: ten runs of the same ``etl_daily`` work took 38.4-52.0 s of CPU
time.

The probe samples them: one thread per usable CPU, pinned to it, wakes
every ``PERIOD_S`` and times a fixed loop of ``LOOP`` iterations on its
own thread CPU clock, which leaves out the time the thread did not run
(stolen by the hypervisor or given to other threads). A sample is
``(monotonic time at its end, cpu, seconds)``. ``scale`` turns the
samples of a window into the factor that maps a time measured in that
window to the time at reference speed.

    python3 perfbench/speedprobe.py <out.json>

prints ``ready`` once its threads run, samples until its stdin
closes, then writes the samples to ``out.json``. It takes about 2 % of
each CPU.
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys
import threading
import time

#: Iterations of the timed loop: 0.5-0.9 ms on a 2 GHz Xeon vCPU.
LOOP = 20_000
PERIOD_S = 0.05
#: The loop time that defines reference speed, about the fastest the
#: loop ran on that vCPU.
REF_S = 0.5e-3


def probe(cpu: int, stop: threading.Event, samples: list) -> None:
    os.sched_setaffinity(0, {cpu})
    while not stop.wait(PERIOD_S):
        t0 = time.thread_time_ns()
        s = 0
        for i in range(LOOP):
            s += i
        seconds = (time.thread_time_ns() - t0) / 1e9
        samples.append((time.monotonic(), cpu, seconds))


def scale(samples: list, start: float, end: float) -> float:
    """``REF_S`` over the mean loop time of the samples taken between
    ``start`` and ``end``: below 1 when the vCPUs ran slower than the
    reference. A time measured in the window times this factor is the
    time at reference speed. A window shorter than two sampling periods
    (an op that fails at once) is widened to two around its middle."""
    mid, half = (start + end) / 2, max((end - start) / 2, PERIOD_S)
    times = [seconds for t, _, seconds in samples if abs(t - mid) <= half]
    if not times:
        raise ValueError(f"no speed samples between {start} and {end}")
    return REF_S / statistics.fmean(times)


def start(out: str, env: dict[str, str]) -> subprocess.Popen:
    """Start the probe; returns once it samples."""
    proc = subprocess.Popen(
        [sys.executable, os.path.abspath(__file__), out],
        env=env, stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True,
    )
    if proc.stdout.readline().strip() != "ready":
        proc.kill()
        proc.wait()
        raise RuntimeError("the speed probe did not start")
    return proc


def stop(proc: subprocess.Popen, out: str) -> list:
    """Stop the probe started by ``start`` and return its samples."""
    proc.stdin.close()
    proc.wait(timeout=10)
    proc.stdout.close()
    with open(out) as f:
        return json.load(f)


def main(argv: list[str]) -> int:
    stop_event = threading.Event()
    samples: list = []
    threads = [
        threading.Thread(target=probe, args=(cpu, stop_event, samples), daemon=True)
        for cpu in sorted(os.sched_getaffinity(0))
    ]
    for t in threads:
        t.start()
    print("ready", flush=True)
    sys.stdin.read()
    stop_event.set()
    for t in threads:
        t.join()
    with open(argv[1], "w") as f:
        json.dump(samples, f)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
