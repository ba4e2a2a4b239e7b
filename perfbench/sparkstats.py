"""Spark SQL metrics of finished executions, read from the session's
SQL status store (``spark._jsparkSession.sharedState().statusStore()``).

The store holds each metric as Spark's display string, e.g.
``total (min, med, max (stageId: taskId))\\n5.8 s (1.4 s, 1.5 s, 1.5 s
(stage 0.0: task 0))``; this module parses those strings back into
numbers (seconds, bytes, counts).
"""

from __future__ import annotations

import re
from dataclasses import dataclass

_UNITS = {
    "ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
    "B": 1.0, "KiB": 2.0**10, "MiB": 2.0**20, "GiB": 2.0**30, "TiB": 2.0**40,
    "PiB": 2.0**50,
}
_QUANTITY = r"([0-9][0-9,]*(?:\.[0-9]+)?)\s*(ns|ms|s|m|h|B|KiB|MiB|GiB|TiB|PiB)?"
_BREAKDOWN = re.compile(
    r"total \(min, med, max[^\n]*\n\s*" + _QUANTITY + r"\s*\(\s*" + _QUANTITY
    + r",\s*" + _QUANTITY + r",\s*" + _QUANTITY
)
_SINGLE = re.compile(r"^\s*" + _QUANTITY + r"\s*$")


@dataclass
class Metric:
    total: float
    min: float = 0.0
    med: float = 0.0
    max: float = 0.0


def _num(value: str, unit: str | None) -> float:
    return float(value.replace(",", "")) * _UNITS.get(unit or "", 1.0)


def parse_metric(text: str) -> Metric | None:
    """Parse one display string; None for forms this module does not
    read (averages, non-numeric values)."""
    m = _BREAKDOWN.search(text)
    if m:
        g = m.groups()
        return Metric(*(_num(g[i], g[i + 1]) for i in range(0, 8, 2)))
    m = _SINGLE.match(text)
    if m:
        v = _num(m.group(1), m.group(2))
        return Metric(v, v, v, v)
    return None


def _status_store(spark):
    return spark._jsparkSession.sharedState().statusStore()


def last_execution_id(spark) -> int:
    ids = [e.executionId() for e in _iter(_status_store(spark).executionsList())]
    return max(ids, default=-1)


def _iter(seq):
    it = seq.iterator()
    while it.hasNext():
        yield it.next()


def executions_since(spark, after_id: int) -> list[dict[str, list[Metric]]]:
    """For each SQL execution with id > ``after_id``: metric name ->
    the parsed value of every plan node carrying that metric."""
    sc = spark.sparkContext._jsc.sc()
    # The status store is fed asynchronously by the listener bus.
    sc.listenerBus().waitUntilEmpty(30_000)
    store = _status_store(spark)
    out = []
    for e in _iter(store.executionsList()):
        eid = e.executionId()
        if eid <= after_id:
            continue
        values = store.executionMetrics(eid)
        # Adaptive re-planning lists a node's metrics once per plan
        # version; each accumulator is counted once.
        names = {pm.accumulatorId(): pm.name() for pm in _iter(e.metrics())}
        per_name: dict[str, list[Metric]] = {}
        for acc_id, name in names.items():
            v = values.get(acc_id)
            if not v.isDefined():
                continue
            parsed = parse_metric(v.get())
            if parsed is not None:
                per_name.setdefault(name, []).append(parsed)
        out.append(per_name)
    return out


def total(executions: list[dict[str, list[Metric]]], name: str) -> float:
    """Sum of a metric's totals over all nodes of all executions."""
    return sum(m.total for ex in executions for m in ex.get(name, []))


def heaviest(executions: list[dict[str, list[Metric]]], name: str) -> Metric | None:
    """The single node value with the largest total (e.g. the kernel
    stage's python runtime, for its per-task min/median/max)."""
    found = [m for ex in executions for m in ex.get(name, [])]
    return max(found, key=lambda m: m.total, default=None)
