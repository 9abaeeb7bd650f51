"""Summary statistics and process counters for the benchmark."""

from __future__ import annotations

import os
import statistics

TAIL_BEYOND = 10


def median(xs: list[float]) -> float:
    return float(statistics.median(xs))


def tail(xs: list[float], beyond: int = TAIL_BEYOND) -> tuple[float, float, bool]:
    """``(value, percentile, supported)``: the highest nearest-rank
    percentile of ``xs`` with at least ``beyond`` samples above it.

    With ``n`` samples the value at sorted index ``n - beyond - 1`` has
    exactly ``beyond`` samples beyond it, at percentile
    ``(n - beyond) / n * 100``.  With ``beyond`` samples or fewer no
    percentile is supported: the maximum is returned and ``supported``
    is False, so the caller can say so."""
    s = sorted(xs)
    n = len(s)
    if n == 0:
        raise ValueError("tail of no samples")
    if n <= beyond:
        return float(s[-1]), 100.0, False
    k = n - beyond - 1
    return float(s[k]), 100.0 * (k + 1) / n, True


def timing(xs: list[float]) -> dict:
    """Median, supported tail percentile and sample count."""
    v, p, ok = tail(xs)
    return {"p50": median(xs), "tail": v, "tail_pct": round(p, 1),
            "tail_supported": ok, "n": len(xs)}


# -- /proc counters -------------------------------------------------------

_CLK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            s = f.read()
    except OSError:
        return None
    # comm may contain spaces; fields resume after the closing paren
    return s[s.rindex(")") + 2:].split()


def descendants(pid: int) -> list[int]:
    """``pid`` and every live process below it."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            f = _stat_fields(int(d))
            if f is not None:
                children.setdefault(int(f[1]), []).append(int(d))
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, []))
    return out


def cpu_seconds(pid: int) -> float:
    """utime+stime of ``pid`` and its live descendants, plus the
    reaped children each of them has waited for."""
    total = 0
    for p in descendants(pid):
        f = _stat_fields(p)
        if f is not None:
            # utime, stime, cutime, cstime (fields 14-17, 1-based)
            total += sum(int(x) for x in f[11:15])
    return total / _CLK


def minor_faults(pid: int) -> int:
    """Minor page faults of ``pid`` and its live descendants, plus those
    of the reaped children each of them has waited for."""
    total = 0
    for p in descendants(pid):
        f = _stat_fields(p)
        if f is not None:
            # minflt, cminflt (fields 10-11, 1-based)
            total += int(f[7]) + int(f[8])
    return total


def peak_rss_mb(pid: int) -> float:
    """Sum of VmHWM (peak resident set) over ``pid`` and its live
    descendants."""
    kb = 0
    for p in descendants(pid):
        try:
            with open(f"/proc/{p}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
        except OSError:
            pass
    return kb / 1024.0
