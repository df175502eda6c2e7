"""Metric arithmetic for the benchmark: pure functions over samples and
spans, kept apart from Spark so they can be tested on synthetic input."""

from __future__ import annotations

import re
import statistics
from collections.abc import Iterable
from types import ModuleType

TAIL_ABOVE = 10


def tail(samples: Iterable[float], above: int = TAIL_ABOVE) -> tuple[float, float, int]:
    """The sample at the highest percentile that still has at least
    ``above`` samples above it, as ``(value, percentile, n)``.

    With ``n`` sorted samples that is the one at index ``n - above - 1``,
    the ``100 * (n - above) / n`` percentile. Until ``n`` exceeds
    ``4 * above`` that percentile is at or below the upper quartile, so
    the samples cannot resolve a tail above it: the upper quartile
    (``statistics.quantiles``, exclusive method) is returned instead,
    with percentile 75.
    """
    xs = sorted(samples)
    n = len(xs)
    if n == 0:
        raise ValueError("no samples")
    if n <= 4 * above:
        return (statistics.quantiles(xs, n=4)[2] if n > 1 else xs[0]), 75.0, n
    return xs[n - above - 1], 100.0 * (n - above) / n, n


def covered(start: float, end: float, intervals: Iterable[tuple[float, float]]) -> float:
    """Length of ``[start, end]`` covered by the union of ``intervals``."""
    total, reach = 0.0, start
    for a, b in sorted((max(a, start), min(b, end)) for a, b in intervals):
        if b <= reach:
            continue
        total += b - max(a, reach)
        reach = b
    return total


def self_time(start: float, end: float, children: Iterable[tuple[float, float]]) -> float:
    """A span's duration minus the part of it its child spans cover;
    overlapping children are counted once."""
    return (end - start) - covered(start, end, children)


def write_amp(bytes_written: int, user_bytes: int) -> float:
    """Bytes written to storage per byte of new user rows. A workload
    that writes nothing and adds no rows amplifies nothing: 1.0."""
    if user_bytes <= 0:
        if bytes_written:
            raise ValueError("bytes written without any new user rows")
        return 1.0
    return bytes_written / user_bytes


def core_util(executor_run_s: float, exec_wall_s: float, cores: int) -> float:
    """Share of the cores' time during the exec step spent running tasks."""
    return executor_run_s / (exec_wall_s * cores) if exec_wall_s > 0 else 0.0


def spread(values: list[float]) -> float:
    """Interquartile distance as a share of the median."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2 if q2 else 0.0


def discover_caches(modules: Iterable[ModuleType]) -> dict[str, dict]:
    """Every module-level dict whose name ends in ``_CACHE``, keyed
    ``module.NAME``. Names are found by enumeration, so a cache added to
    a module later is covered without editing a list."""
    found: dict[str, dict] = {}
    for mod in modules:
        for name, value in vars(mod).items():
            if name.endswith("_CACHE") and isinstance(value, dict):
                found[f"{mod.__name__}.{name}"] = value
    return found


def new_keys(before: dict[str, set], caches: dict[str, dict]) -> int:
    """Keys present in ``caches`` now that ``before`` did not hold."""
    return sum(len(set(c) - before.get(name, set())) for name, c in caches.items())


_UNITS = {
    "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
    "B": 1, "KiB": 1024, "MiB": 1024**2, "GiB": 1024**3, "TiB": 1024**4,
}
_VALUE = re.compile(r"(-?[\d.,]+)\s*(ms|s|m|h|B|KiB|MiB|GiB|TiB)\b")


def parse_sql_metric(text: str) -> float:
    """Total of one formatted Spark SQL metric, in seconds or bytes.

    The SQL status store keeps metrics only as display strings: a single
    value (``"2.1 s"``, ``"68.6 KiB"``) or, for several tasks, a header
    line and ``"total (min, med, max ...)"`` values whose first is the
    total. Display rounding limits precision to about three digits.
    """
    body = text.split("\n", 1)[-1]
    m = _VALUE.search(body)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS[m.group(2)]
