"""Spans recorded from outside the package, plus Spark's status store.

A :class:`Tracer` records one span per call: name, start, end, parent
span and run id, kept in memory and written out at the end.  Spans are
opened by the benchmark around its own calls, or by wrapping a public
function by module attribute (:meth:`Tracer.wrap`) in traced runs only.

At each span boundary the tracer notes the scheduler's next job and
stage ids.  With one client thread the jobs and stages a span launched
are exactly the ids between its two marks, so the counters are read
once, after the measured region, from the AppStatusStore (stages) and
the SQL status store (the Python-boundary bytes on Python eval nodes).
:class:`NullTracer` has the same interface and records nothing; the
untraced run uses it.
"""

from __future__ import annotations

import contextlib
import functools
import json
import re
import time


def covered(interval: tuple[float, float], children: list[tuple[float, float]]) -> float:
    """Length of the part of ``interval`` covered by the union of
    ``children`` (each clipped to ``interval``)."""
    lo, hi = interval
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in children if b > lo and a < hi)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id -> duration minus what its child spans cover."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {
        s["id"]: (s["end"] - s["start"]) - covered((s["start"], s["end"]), kids.get(s["id"], []))
        for s in spans
    }


class NullTracer:
    """Tracing off: spans cost one generator frame and touch no JVM."""

    enabled = False

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        yield None

    def wrap(self, owner, attr: str, name=None, defaults=None) -> None:
        pass

    def restore(self) -> None:
        pass


class Tracer(NullTracer):
    enabled = True

    def __init__(self, spark, run_id: str):
        self.spark = spark
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._saved: list[tuple[object, str, object]] = []
        self._dag = spark.sparkContext._jsc.sc().dagScheduler()

    def marks(self) -> tuple[int, int]:
        return int(self._dag.nextJobId()), int(self._dag.nextStageId())

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        rec = {
            "id": len(self.spans), "name": name, "run": self.run_id,
            "parent": self._stack[-1] if self._stack else None, **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        rec["job0"], rec["stage0"] = self.marks()
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            rec["job1"], rec["stage1"] = self.marks()
            self._stack.pop()

    def wrap(self, owner, attr: str, name=None, defaults=None) -> None:
        """Replace ``owner.attr`` (a module function or a class's method)
        with a wrapper that opens a span per call.  ``name`` is a string
        or ``f(args, kwargs) -> str``; it defaults to ``attr``.
        ``defaults`` are keyword arguments passed unless the caller
        gives them."""
        fn = getattr(owner, attr)
        self._saved.append((owner, attr, owner.__dict__[attr]))
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            label = name(args, kwargs) if callable(name) else (name or attr)
            with tracer.span(label):
                return fn(*args, **{**(defaults or {}), **kwargs})

        setattr(owner, attr, traced)

    def restore(self) -> None:
        for owner, attr, orig in reversed(self._saved):
            setattr(owner, attr, orig)
        self._saved.clear()

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


# -- status store --------------------------------------------------------

_STAGE_FIELDS = {
    "executor_cpu_s": ("executorCpuTime", 1e-9),
    "executor_run_s": ("executorRunTime", 1e-3),
    "input_bytes": ("inputBytes", 1),
    "output_bytes": ("outputBytes", 1),
    "shuffle_read_bytes": ("shuffleReadBytes", 1),
    "shuffle_write_bytes": ("shuffleWriteBytes", 1),
    "gc_s": ("jvmGcTime", 1e-3),
    "tasks": ("numTasks", 1),
}


def stage_counters(spark) -> dict[int, dict[str, float]]:
    """Stage id -> counters summed over attempts, read from the
    AppStatusStore (it is populated with the UI off)."""
    store = spark._jsparkSession.sparkContext().statusStore()
    empty = spark._jvm.java.util.ArrayList()
    # Scala default arguments through their synthesized accessors.
    args = [empty] + [getattr(store, f"stageList$default${i}")() for i in range(2, 6)]
    cc = spark._jvm.scala.jdk.javaapi.CollectionConverters
    out: dict[int, dict[str, float]] = {}
    for s in cc.asJava(store.stageList(*args)):
        d = out.setdefault(int(s.stageId()), dict.fromkeys(_STAGE_FIELDS, 0.0))
        for key, (getter, scale) in _STAGE_FIELDS.items():
            d[key] += getattr(s, getter)() * scale
    return out


_PY_SENT = "data sent to Python workers"
_PY_RECV = "data returned from Python workers"
_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
_SIZE = re.compile(r"([\d.]+) (B|KiB|MiB|GiB|TiB)")


def parse_size_metric(text: str | None) -> float:
    """Total bytes from a formatted SQL size metric ("total (min, med,
    max ...)\\n4.9 MiB (...)"), or a bare "4.9 MiB"."""
    if not text:
        return 0.0
    m = _SIZE.search(text.split("\n", 1)[-1])
    return float(m.group(1)) * _UNITS[m.group(2)] if m else 0.0


def python_bytes_by_job(spark) -> dict[int, tuple[float, float]]:
    """First job id of each SQL execution -> (bytes sent to, bytes
    returned from Python workers), from the SQL metrics Spark attaches
    to its Python eval nodes."""
    sq = spark._jsparkSession.sharedState().statusStore()
    cc = spark._jvm.scala.jdk.javaapi.CollectionConverters
    out: dict[int, tuple[float, float]] = {}
    for e in cc.asJava(sq.executionsList()):
        wanted = {}
        for m in cc.asJava(e.metrics()):
            if m.name() in (_PY_SENT, _PY_RECV):
                wanted[int(m.accumulatorId())] = m.name()
        jobs = [int(j) for j in cc.asJava(e.jobs().keySet())]
        if not wanted or not jobs:
            continue
        vals = cc.asJava(sq.executionMetrics(e.executionId()))
        sent = recv = 0.0
        for acc, label in wanted.items():
            b = parse_size_metric(vals.get(acc))
            if label == _PY_SENT:
                sent += b
            else:
                recv += b
        out[min(jobs)] = (sent, recv)
    return out


class Counters:
    """Per-span counters from the status stores, read once."""

    def __init__(self, spark):
        self.stages = stage_counters(spark)
        self.python = python_bytes_by_job(spark)

    def of(self, span: dict) -> dict[str, float]:
        d = dict.fromkeys(_STAGE_FIELDS, 0.0)
        for sid in range(span["stage0"], span["stage1"]):
            for k, v in self.stages.get(sid, {}).items():
                d[k] += v
        d["jobs"] = span["job1"] - span["job0"]
        d["stages"] = span["stage1"] - span["stage0"]
        d["python_bytes_sent"] = d["python_bytes_received"] = 0.0
        for j, (sent, recv) in self.python.items():
            if span["job0"] <= j < span["job1"]:
                d["python_bytes_sent"] += sent
                d["python_bytes_received"] += recv
        return d
