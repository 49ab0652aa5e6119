"""Metric arithmetic shared by the benchmark parent, its worker and its
tests. Pure functions over plain numbers and span dicts."""

from __future__ import annotations

import math
import statistics


def quartiles(xs) -> tuple[float, float]:
    """(Q1, Q3) as ``statistics.quantiles(xs, n=4)`` gives them; a single
    sample is its own quartiles."""
    xs = list(xs)
    if len(xs) < 2:
        return xs[0], xs[0]
    q = statistics.quantiles(xs, n=4)
    return q[0], q[2]


def geomean(xs) -> float:
    xs = list(xs)
    if not xs or min(xs) <= 0:
        raise ValueError(f"geomean needs positive values, got {xs}")
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def core_util(task_s: float, exec_s: float, cores: int) -> float:
    """Share of the cores' wall time that tasks were running."""
    return task_s / (exec_s * cores)


# A stage counts toward task_skew only if it holds this share of the task time.
SKEW_MIN_SHARE = 0.1


def task_skew(stages) -> float:
    """Max over stages of (max task time / median task time).

    ``stages`` holds dicts with ``tasks``, ``task_s``, ``med_task_s`` and
    ``max_task_s``. Only stages with two or more tasks that hold at least
    ``SKEW_MIN_SHARE`` of the summed task time count: a stage of a few
    millisecond-long tasks would otherwise report a large ratio that
    no wall time depends on. Returns 1.0 when no stage qualifies.
    """
    total = sum(s["task_s"] for s in stages)
    ratios = [s["max_task_s"] / max(s["med_task_s"], 1e-3)
              for s in stages
              if s["tasks"] >= 2 and s["task_s"] >= SKEW_MIN_SHARE * total > 0]
    return max(ratios, default=1.0)


def union_length(intervals, lo=-math.inf, hi=math.inf) -> float:
    """Length of the union of ``(start, end)`` intervals clipped to
    ``[lo, hi]``."""
    covered, cur = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, cur), min(b, hi)
        if b > a:
            covered += b - a
            cur = b
    return covered


def self_times(spans) -> dict[int, float]:
    """Self time of each span: its duration minus the part of it that
    its direct children cover."""
    kids: dict = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {s["id"]: (s["end"] - s["start"])
            - union_length(kids.get(s["id"], []), s["start"], s["end"])
            for s in spans}
