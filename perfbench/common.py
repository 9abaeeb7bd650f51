"""What every workload shares: the run context, the timed loop, the
per-layer table and the value hash used by the output checks."""

from __future__ import annotations

import hashlib
import math
import os
import statistics
import sys
import time
from dataclasses import dataclass, field

from . import stats
from .trace import Counters, NullTracer


@dataclass
class Ctx:
    spark: object
    tracer: NullTracer
    seed: int
    seconds: float
    work: str
    jvm_pid: int
    session_start_s: float
    attempted: int = 0
    failed: int = 0
    problems: list = field(default_factory=list)

    def check(self, ok: bool, what: str) -> bool:
        """Count one checked operation; remember what went wrong."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            if len(self.problems) < 20:
                self.problems.append(what)
        return ok

    def jobs_mark(self) -> int:
        return int(self.spark.sparkContext._jsc.sc().dagScheduler().nextJobId())


def settle(ctx: "Ctx", idle_cores: float = 0.3, window_s: float = 0.25, limit_s: float = 8.0) -> float:
    """Collect garbage in the JVM, then wait until the JVM and its
    Python workers are idle (JIT compilation from the previous journey
    has drained) so a timed pass starts from a quiet process.  Returns
    the seconds spent; at most ``limit_s`` plus one window."""
    t0 = time.perf_counter()
    ctx.spark._jvm.System.gc()
    quiet = 0
    while quiet < 2 and time.perf_counter() - t0 < limit_s:
        c0 = stats.cpu_seconds(ctx.jvm_pid)
        time.sleep(window_s)
        busy = (stats.cpu_seconds(ctx.jvm_pid) - c0) / window_s
        quiet = quiet + 1 if busy < idle_cores else 0
    return time.perf_counter() - t0


def repeat_median(fn, reps: int = 3):
    """Run ``fn`` ``reps`` times; return (median seconds, last result)."""
    times, out = [], None
    for _ in range(reps):
        t0 = time.perf_counter()
        out = fn()
        times.append(time.perf_counter() - t0)
    return statistics.median(times), out


class Passes:
    """The closed timed loop: whole passes until ``seconds`` have been
    measured, with wall, CPU, page faults and Spark job counts per pass.
    Checks run between passes, outside the timed region."""

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.wall: list[float] = []
        self.cpu: list[float] = []
        self.jobs: list[int] = []
        self.faults: list[int] = []
        self.measured = 0.0

    def run(self, one_pass) -> None:
        self.settle_s = settle(self.ctx)
        i = 0
        while not self.wall or self.measured < self.ctx.seconds:
            c0, j0 = stats.cpu_seconds(self.ctx.jvm_pid), self.ctx.jobs_mark()
            f0 = stats.minor_faults(self.ctx.jvm_pid)
            t0 = time.perf_counter()
            with self.ctx.tracer.span("pass", index=i):
                check = one_pass(i)
            dt = time.perf_counter() - t0
            print(f"# pass {i}: {dt:.3f} s", file=sys.stderr, flush=True)
            self.jobs.append(self.ctx.jobs_mark() - j0)
            self.cpu.append(stats.cpu_seconds(self.ctx.jvm_pid) - c0)
            self.faults.append(stats.minor_faults(self.ctx.jvm_pid) - f0)
            self.wall.append(dt)
            self.measured += dt
            if check is not None:
                check()
            i += 1


def value_hash(cols, rows) -> str:
    """Order-insensitive hash of a result: columns sorted by name,
    floats rounded to 9 places (-0.0 folded), lists and dicts
    canonicalised, rows sorted."""

    def cell(v):
        import datetime

        if v is None:
            return "\x00NULL"
        if isinstance(v, float):
            return "NaN" if math.isnan(v) else repr(round(v, 9) + 0.0)
        if isinstance(v, (list, tuple)):
            return "[" + ",".join(cell(x) for x in v) + "]"
        if isinstance(v, dict):
            return "{" + ",".join(f"{k}:{cell(v[k])}" for k in sorted(v)) + "}"
        if isinstance(v, datetime.datetime):
            return v.isoformat()
        return str(v)

    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("\x01".join(cell(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()[:16]


def dir_bytes(path: str) -> tuple[int, int]:
    """(bytes, files) under ``path``."""
    total = n = 0
    for root, _, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
                n += 1
            except OSError:
                pass
    return total, n


class LayerTable:
    """A traced run's spans with their status-store counters, for
    summing per-layer metrics over the spans inside timed passes."""

    def __init__(self, ctx: Ctx):
        self.spans = ctx.tracer.spans
        self.counters = Counters(ctx.spark)
        # spans inside a timed pass; set-up and checks are left out
        self.measured: set[int] = set()
        for s in self.spans:
            if s["name"] == "pass" or s["parent"] in self.measured:
                self.measured.add(s["id"])

    def named(self, *names: str) -> list[dict]:
        return [s for s in self.spans if s["name"] in names and s["id"] in self.measured]

    def wall(self, spans) -> float:
        return sum(s["end"] - s["start"] for s in spans)

    def sum(self, spans, key: str) -> float:
        return sum(self.counters.of(s)[key] for s in spans)

    def passes(self) -> list[dict]:
        return [s for s in self.spans if s["name"] == "pass"]
