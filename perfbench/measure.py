"""Timed operations, output checks and the statistics the result reports.

Every timed operation records its wall time and its CPU time (this
process plus the Spark JVM). The result gates on CPU time: on a shared
host, wall time also grows with the time the host takes the CPUs away
(steal). Over ten runs per workload on the 4-core VM the benchmark was
tuned on, with steal between 0 and 31%, wall times spread by 30-47% and
CPU times by 14-19% (quartile distance over median). Wall times are
printed beside them.

Set-up is the exception: it is gated on the wall time of the fastest of
the run's 24 or more set-ups. A set-up is the same 20-40 ms of work
every time, and whatever else runs meanwhile (the JVM's compiler,
collector and listener threads, or the host taking the CPUs away) only
adds to it. Its CPU time is mostly those JVM threads: within one run it
fell from 0.13 s to 0.02 s over 16 set-ups while their wall time stayed
between 21 and 38 ms. Over ten seeds per workload, with host steal up
to 8% and 19%, the quartile distance over median was 0.14 and 0.12 for
the fastest set-up's wall time, 0.19 and 0.67 for the median set-up's
wall time, and 0.40 and 0.20 for the median set-up's CPU time. In ten
quiet runs the median set-up spread less (0.06 and 0.08, against 0.08
and 0.21), but only the fastest stayed under 0.25 in both.
"""

from __future__ import annotations

import math
import statistics
import sys
import time
import traceback
from collections import defaultdict

from perfbench.trace import Tracer, install

SETUP_REPEATS = 12


class OpFailed(Exception):
    """A timed operation raised; the rep it belongs to is abandoned."""


def cpu_name(metric: str) -> str:
    """``backfill_s`` -> ``backfill_cpu_s``: the CPU-time twin of a timing."""
    return metric.removesuffix("_s") + "_cpu_s"


def host_cpu_jiffies() -> tuple[int, int]:
    """(steal, total) jiffies of the host's CPUs so far, from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields)


class Recorder:
    """Collects samples per metric and counts attempted/failed operations.

    Every timed operation and every output check is one attempted
    operation. A failure is counted and reported on stderr, never skipped.
    """

    def __init__(self, tracer: Tracer) -> None:
        self.tracer = tracer
        self.samples: dict[str, list[float]] = defaultdict(list)
        # Samples of traced reps are kept apart: tracing adds its own cost.
        self.traced_samples: dict[str, list[float]] = defaultdict(list)
        self.target = self.samples
        self.attempted = 0
        self.failed = 0
        self.recording = True
        # Wall and CPU seconds per metric within the current rep.
        self.rep_wall: dict[str, float] = defaultdict(float)
        self.rep_cpu: dict[str, float] = defaultdict(float)
        self.windows: list[tuple[float, float]] = []
        self.jvm_pid: int | None = None

    def cpu_seconds(self) -> float:
        """CPU time of this process and of the Spark JVM so far.

        The JVM's share is read from its process CPU clock, which Linux
        exposes to other processes as clock id ``(~pid << 3) | 2``
        (``CPUCLOCK_SCHED``) in nanoseconds, where ``/proc/<pid>/stat``
        counts 10 ms ticks.
        """
        total = time.process_time()
        if self.jvm_pid is not None:
            total += time.clock_gettime((~self.jvm_pid << 3) | 2)
        return total

    def sample(self, metric: str, value: float) -> None:
        if self.recording:
            self.target[metric].append(value)

    def op(self, metric: str, fn, *args, **kwargs):
        """Run ``fn`` as one timed operation of ``metric`` and return its
        result."""
        self.attempted += 1
        c0 = self.cpu_seconds()
        t0 = time.perf_counter()
        try:
            with self.tracer.span(f"op.{metric}"):
                out = fn(*args, **kwargs)
        except Exception as exc:
            self.failed += 1
            print(f"perfbench: operation {metric} failed: {exc!r}", file=sys.stderr)
            traceback.print_exc(file=sys.stderr)
            raise OpFailed(metric) from exc
        wall = time.perf_counter() - t0
        cpu = self.cpu_seconds() - c0
        self.sample(metric, wall)
        self.sample(cpu_name(metric), cpu)
        self.rep_wall[metric] += wall
        self.rep_cpu[metric] += cpu
        return out

    def check(self, name: str, ok: bool, detail: str = "") -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            print(f"perfbench: check {name} FAILED {detail}", file=sys.stderr)
        return ok

    def check_call(self, name: str, fn, *args) -> bool:
        """Run a check function that returns (ok, detail); an exception in
        it is a failed check."""
        try:
            ok, detail = fn(*args)
        except Exception as exc:  # a broken check is a failed check
            ok, detail = False, repr(exc)
            traceback.print_exc(file=sys.stderr)
        return self.check(name, ok, detail)


def one_rep(wl, rep: int, rec: Recorder, record: bool = True, traced: bool = False) -> float | None:
    """Set up, run, check and tear down one rep of workload ``wl``; the
    tracer is installed for set-up and run only, never for the checks.

    Every set-up is one ``setup_s`` sample; per rep it samples ``total``
    (every other timed operation), in wall and CPU seconds.
    Returns the rep's total wall time, or None if an operation failed.
    """
    rec.recording = record
    rec.target = rec.traced_samples if traced else rec.samples
    rec.rep_wall.clear()
    rec.rep_cpu.clear()
    if traced:
        install(rec.tracer)
        window = [time.time(), None]
    total = None
    r = None
    try:
        # Set-up is short, so it is repeated; the result takes the fastest
        # set-up of the run.
        for _ in range(SETUP_REPEATS - 1):
            wl.teardown(rec.op("setup_s", wl.setup, rep), False)
        r = rec.op("setup_s", wl.setup, rep)
        rec.rep_wall.pop("setup_s")
        rec.rep_cpu.pop("setup_s")
        wl.run_rep(r)
        total = sum(rec.rep_wall.values())
        rec.sample("total_s", total)
        rec.sample("total_cpu_s", sum(rec.rep_cpu.values()))
    except OpFailed:
        total = None
    finally:
        if traced:
            rec.tracer.uninstall()
            window[1] = time.time()
            rec.windows.append(tuple(window))
        if r is not None:
            try:
                wl.check(r)
            finally:
                wl.teardown(r, record)
        rec.recording = True
        rec.target = rec.samples
    return total


def summary(values: list[float]) -> dict:
    """Median with its sample count, and the highest percentile that still
    has at least ten samples beyond it (None below eleven samples)."""
    n = len(values)
    out = {"median": statistics.median(values), "n": n, "pctl": None, "pctl_value": None,
           "samples": [round(v, 4) for v in values]}
    if n > 10:
        p = math.floor(100 * (n - 10) / n)
        if p > 0:
            ordered = sorted(values)
            out["pctl"] = p
            out["pctl_value"] = ordered[max(0, math.ceil(p / 100 * n) - 1)]
    return out


def median(values: list[float]) -> float:
    return statistics.median(values)


def group_sums(samples: dict[str, list[float]], groups: dict[str, tuple[str, ...]]) -> dict[str, float]:
    """Per group, the sum of its operations' medians, wall and CPU: a slow
    sample of one operation moves only that operation's median."""
    out = {}
    for group, names in groups.items():
        out[f"{group}_s"] = sum(median(samples[n]) for n in names)
        out[f"{group}_cpu_s"] = sum(median(samples[cpu_name(n)]) for n in names)
    return out
