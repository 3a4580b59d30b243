"""Small measurement helpers: the tail-percentile rule, result hashing
and peak resident memory."""

from __future__ import annotations

import hashlib
import math
import os
import statistics

#: a tail percentile must leave at least this many samples beyond it
TAIL_BEYOND = 10


def tail(values: list[float]) -> tuple[float, float]:
    """(value, percentile) of the highest percentile that has at least
    ``TAIL_BEYOND`` samples beyond it: the (TAIL_BEYOND+1)-th largest
    sample, at percentile 100·(n − TAIL_BEYOND)/n. With too few
    samples it degrades to the maximum (percentile 100)."""
    if not values:
        raise ValueError("no samples")
    s = sorted(values)
    n = len(s)
    if n <= TAIL_BEYOND:
        return s[-1], 100.0
    return s[n - TAIL_BEYOND - 1], 100.0 * (n - TAIL_BEYOND) / n


def median(values: list[float]) -> float:
    return statistics.median(values)


def geomean(values: list[float]) -> float:
    return math.exp(sum(math.log(v) for v in values) / len(values))


def _norm_cell(v) -> str:
    # the engine's oracle-check normalization (tools/check_oracle.py):
    # NULL/NaN alike, floats to 9 significant digits, containers and
    # temporals by value
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return "<null>"
    if isinstance(v, float):
        if math.isinf(v):
            return "inf" if v > 0 else "-inf"
        return f"{v:.9g}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_norm_cell(x) for x in v) + "]"
    if hasattr(v, "tolist") and not isinstance(v, (str, bytes)):
        return _norm_cell(v.tolist())
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{_norm_cell(x)}" for k, x in sorted(v.items())) + "}"
    return str(v)


def hash_rows(columns: list[str], rows) -> tuple[int, list[str], str]:
    """(row count, sorted column names, md5) — order-insensitive over
    rows and columns."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    lines = sorted("\x01".join(_norm_cell(r[i]) for i in order) for r in rows)
    return len(lines), [columns[i] for i in order], hashlib.md5("\x02".join(lines).encode()).hexdigest()


def hash_frame(pdf) -> tuple[int, list[str], str]:
    return hash_rows(list(pdf.columns), pdf.itertuples(index=False, name=None))


def _status(pid: int, field: str) -> str:
    """One field of /proc/<pid>/status ('' when the process is gone)."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(field + ":"):
                    return line.split(":", 1)[1].strip()
    except OSError:
        pass
    return ""


def peak_rss_mb(pids: list[int]) -> float:
    """Sum of the high-water resident set sizes (VmHWM) of this process
    and the given processes, in MiB."""
    return sum(int((_status(p, "VmHWM") or "0").split()[0]) for p in [os.getpid(), *pids]) / 1024


def java_descendants(pid: int) -> list[int]:
    """Descendants of ``pid`` running a JVM (the Spark driver)."""
    return [p for p in descendants(pid) if _status(p, "Name") == "java"]


def descendants(pid: int) -> list[int]:
    """Every live descendant of ``pid`` (from /proc)."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out

