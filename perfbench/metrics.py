"""Pure helpers of the benchmark: percentiles, utilisation, span self
time, DAG task attribution, plan counts, metric names and the result
line.  Nothing
here touches Spark, so all of it is unit-tested without a session."""
from __future__ import annotations

import json
import math
import re
import statistics
from collections.abc import Iterable, Sequence
from dataclasses import dataclass

#: A metric name: starts with a letter or digit, then at most 63 more
#: letters, digits, ``_``, ``.`` or ``-``.
NAME_RE = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")
#: A unit: at most 16 letters, digits, ``_``, ``/``, ``%``, ``.``, ``-``.
UNIT_RE = re.compile(r"[A-Za-z0-9_/%.-]{1,16}")

#: Samples that must lie beyond a reported percentile.
MIN_TAIL = 10


def valid_name(name: str) -> bool:
    return NAME_RE.fullmatch(name) is not None


def valid_unit(unit: str) -> bool:
    return UNIT_RE.fullmatch(unit) is not None


def samples_beyond(n: int, q: float) -> int:
    """How many of ``n`` sorted samples lie above the ``q``-th percentile."""
    return n - math.ceil(n * q / 100.0)


def tail_supported(n: int, q: float) -> bool:
    """Whether ``n`` samples support reporting the ``q``-th percentile:
    at least :data:`MIN_TAIL` samples must lie beyond it."""
    return samples_beyond(n, q) >= MIN_TAIL


def percentile(values: Sequence[float], q: float) -> float:
    """The ``q``-th percentile by linear interpolation between closest
    ranks; raises ValueError when the sample does not support it."""
    if not values:
        raise ValueError("no samples")
    if q != 50 and not tail_supported(len(values), q):
        raise ValueError(
            f"p{q:g} needs {MIN_TAIL} samples beyond it; "
            f"{len(values)} samples leave {samples_beyond(len(values), q)}"
        )
    xs = sorted(values)
    pos = (len(xs) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def slot_busy_frac(executor_run_s: float, wall_s: float, cores: int) -> float:
    """Executor run time over the task slots the action had: its wall
    time times the cores.  1.0 means every core ran a task throughout."""
    if wall_s <= 0 or cores <= 0:
        return 0.0
    return executor_run_s / (wall_s * cores)


@dataclass(frozen=True)
class Span:
    """One traced interval: ``parent`` is the index of the enclosing span
    in the same list, or None for a root; ``run`` names the query call or
    DAG day the span belongs to."""

    name: str
    start: float
    end: float
    parent: int | None
    run: str

    @property
    def duration(self) -> float:
        return self.end - self.start


def covered(intervals: Iterable[tuple[float, float]]) -> float:
    """Total length of the union of ``intervals``."""
    total = 0.0
    cur_lo = cur_hi = None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def busy_within(
    intervals: Iterable[tuple[float, float]], lo: float, hi: float
) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``: the
    part of that window in which at least one of them ran."""
    return covered(
        (max(a, lo), min(b, hi)) for a, b in intervals if min(b, hi) > max(a, lo)
    )


def self_times(spans: Sequence[Span]) -> list[float]:
    """Each span's duration minus the part of its interval its children
    cover (children clipped to the parent's interval)."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            p = spans[s.parent]
            lo, hi = max(s.start, p.start), min(s.end, p.end)
            if hi > lo:
                children.setdefault(s.parent, []).append((lo, hi))
    return [
        s.duration - covered(children.get(i, ())) for i, s in enumerate(spans)
    ]


def self_time_by_name(spans: Sequence[Span]) -> dict[str, float]:
    """Summed self time per span name."""
    out: dict[str, float] = {}
    for s, t in zip(spans, self_times(spans)):
        out[s.name] = out.get(s.name, 0.0) + t
    return out


def attribute_day(
    entries: Sequence[tuple[str, float]], day_end: float
) -> dict[str, float]:
    """Split a DAG day among its tasks: each task runs from its first
    entry to the next task's first entry, the last one to ``day_end``.

    ``entries`` are ``(task, time)`` in call order; a task entered more
    than once (its init query, then its own query) keeps its first
    entry."""
    firsts: list[tuple[str, float]] = []
    seen: set[str] = set()
    for task, t in entries:
        if task not in seen:
            seen.add(task)
            firsts.append((task, t))
    ends = [t for _task, t in firsts[1:]] + [day_end]
    return {task: end - t for (task, t), end in zip(firsts, ends)}


def explained_split(wall_s: float, parts: Sequence[float]) -> tuple[float, float]:
    """(unexplained seconds, explained fraction) of a ``wall_s`` interval
    whose measured, non-overlapping ``parts`` account for some of it."""
    explained = sum(parts)
    frac = explained / wall_s if wall_s > 0 else 0.0
    return wall_s - explained, frac


#: Plan nodes that are stage boundaries, wrappers or scans rather than
#: row operators; none of them can carry a whole-stage-codegen star.
_NOT_ROW_OPERATORS = (
    "AdaptiveSparkPlan", "ResultQueryStage", "ShuffleQueryStage",
    "BroadcastQueryStage", "TableCacheQueryStage", "AQEShuffleRead",
    "Exchange", "BroadcastExchange", "ReusedExchange", "InputAdapter",
    "WholeStageCodegen", "Subquery", "SubqueryBroadcast", "ReusedSubquery",
)
_NODE_RE = re.compile(r"^[\s+:-]*(\*\(\d+\) )?([A-Za-z][A-Za-z0-9]*)", re.M)


def plan_stats(plan: str) -> dict[str, int]:
    """Counts from an executed plan's tree string: ``exchanges`` (shuffle
    and broadcast exchanges; a reused exchange is not counted) and
    ``non_wscg_nodes`` (row operators without a whole-stage-codegen
    star, scans excluded).  An adaptive plan prints its initial plan
    after the final one; only the final plan is counted."""
    plan = plan.split("== Initial Plan ==", 1)[0]
    exchanges = non_wscg = 0
    for m in _NODE_RE.finditer(plan):
        starred, node = m.group(1) is not None, m.group(2)
        if node in ("Exchange", "BroadcastExchange"):
            exchanges += 1
        elif (
            not starred
            and node not in _NOT_ROW_OPERATORS
            and "Scan" not in node
        ):
            non_wscg += 1
    return {"exchanges": exchanges, "non_wscg_nodes": non_wscg}


def median(values: Sequence[float]) -> float:
    return statistics.median(values) if values else 0.0


def result_line(
    correct: bool,
    attempted: int,
    failed: int,
    metrics: dict[str, tuple[float, str]],
) -> str:
    """The benchmark's last output line.  Raises ValueError on a bad
    metric name or unit, or a value that is not a finite number."""
    out = {}
    for name, (value, unit) in metrics.items():
        if not valid_name(name):
            raise ValueError(f"bad metric name {name!r}")
        if not valid_unit(unit):
            raise ValueError(f"bad unit {unit!r} for {name}")
        if not math.isfinite(value):
            raise ValueError(f"{name} is not finite: {value}")
        out[name] = {"value": value, "unit": unit}
    if attempted < 1:
        raise ValueError("attempted must be at least 1")
    return json.dumps({
        "correct": bool(correct),
        "attempted": int(attempted),
        "failed": int(failed),
        "metrics": out,
    })
