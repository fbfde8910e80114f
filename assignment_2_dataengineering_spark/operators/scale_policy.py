"""Scale policy: every "plan A below a measured size, plan B at or above
it" decision the engine makes, in one table.

Each rule flips at the geometric mean of the two closest measured
points that bracket its crossover, so the threshold sits several-fold
from both; graph_bucket, whose crossover lies beyond the measured
tiers, is extrapolated instead (see its entry). The measures are cheap by construction: `plan_bytes` reads
the optimizer's estimate without running a job, and PageRank's edge
count is the action its first superstep would run anyway.

An env override, where a rule has one, beats the measure; "auto" or
unset means the measure decides, and a malformed value raises a
ValueError naming the variable rather than running an unmeasured plan.
Which callers read the override (and what explicit arguments beat it)
stays at each call site. Every rule changes the plan only, never a
query's answer; the measured crossovers are in SCALE.md §6k-§6m.
"""

from __future__ import annotations

import os
from dataclasses import dataclass
from typing import Any, Callable

from pyspark.sql import DataFrame


def plan_bytes(df: DataFrame) -> int:
    """The Catalyst optimizer's sizeInBytes estimate for a plan —
    file-size-based for file relations (and input-scaled through unary
    nodes under basic stats), so reading it costs no job."""
    return int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())


def _one_of(*values: str) -> Callable[[str], str]:
    def parse(raw: str) -> str:
        if raw not in values:
            raise ValueError(f"must be 'auto' or one of {values}")
        return raw

    return parse


def _positive_int(raw: str) -> int:
    try:
        k = int(raw)
    except ValueError:
        raise ValueError("must be 'auto' or a positive integer") from None
    if k < 1:
        raise ValueError("must be >= 1")
    return k


@dataclass(frozen=True)
class Rule:
    threshold: int
    below: Any
    above: Any
    env: str | None = None
    parse: Callable[[str], Any] | None = None  # raises ValueError on junk


RULES: dict[str, Rule] = {
    # span_dedup's first-occurrence form, by plan bytes of the
    # (doc_id, text) scan. The min-over-window form wins at sf10
    # (5.4-6.4 s vs 8.8); at sf100 it draws a 44-135 s sort-JIT lottery
    # that the sort-free join form holds at 75-79 s. Scans read 3.68e7
    # bytes at sf10 and 4.10e8 at sf100 (`git show
    # e2c2e91:scripts/r9_measure.py`, phase 0).
    "span_first_occurrence": Rule(
        120_000_000, "window", "join",
        "SPARK_GRAFT_SPAN_FIRST_OCC", _one_of("window", "join"),
    ),
    # materialize()'s form, by plan bytes of the materialized subtree.
    # Every sf0.1 site estimate fell in 1.7e5-1.5e6 (localCheckpoint won
    # 6 of 8 sites) and every sf10 one in 2.9e7-1.4e8 (DISK_ONLY persist
    # won 6 of 7); `git show f069018:scripts/r11_measure.py`, durability
    # phase.
    "materialize": Rule(
        6_500_000, "local_checkpoint", "disk_persist",
        "SPARK_GRAFT_MATERIALIZE", _one_of("local_checkpoint", "disk_persist"),
    ),
    # q_psi_drift materializes its intermediates only at or above this
    # many plan bytes of the 3-column events projection: lazy won at
    # sf0.1 (1,125,169 bytes; 2.15 vs 2.63 s), materialized at sf10
    # (108,053,139 bytes; -17% in the r10 A/B). `git show
    # f069018:scripts/r11_measure.py`, psi phase.
    "psi_materialize": Rule(11_000_000, False, True),
    # _user_edges' lead-bucket grain, by plan bytes of the 4-column
    # events projection. Hour won at sf100 (1.27e9 bytes; 36.6 s vs
    # minute 41.1, day 45.7) and was within 12% of day at sf10 (1.28e8
    # bytes), where minute cost 18.8 s; day's 667k rows/bucket spilled
    # at sf100. Hour buckets reach the ~211k-row load between day's good
    # and bad points only at ~7.6x sf100, so minute is for event rates
    # beyond measurement. `git show 3a416b0:scripts/r10_measure.py`,
    # phase 0; only the measured grains are accepted.
    "graph_bucket": Rule(
        9_600_000_000, "hour", "minute",
        "SPARK_GRAFT_GRAPH_BUCKET", _one_of("minute", "hour", "day"),
    ),
    # PageRank's superstep checkpoint cadence, by distinct edge count.
    # k=1 wins at sf10 (246,386 edges; 13.6 s vs 14.0-15.1), k=2 at
    # sf100 (1,596,386 edges; 45-54 s vs 61-65) once checkpointing the
    # full rank table every round costs more than one recompute.
    # `git show e2c2e91:scripts/r9_measure.py`, phase 0.
    "pagerank_cadence": Rule(
        630_000, 1, 2, "SPARK_GRAFT_PR_CHECKPOINT_EVERY", _positive_int,
    ),
}


def choose(name: str, measure: int) -> Any:
    """The value rule `name` picks for `measure`: `below` under the
    threshold, `above` at or over it."""
    rule = RULES[name]
    return rule.above if measure >= rule.threshold else rule.below


def override(name: str) -> Any:
    """Rule `name`'s env override, validated; None when unset or
    "auto"."""
    rule = RULES[name]
    raw = os.environ.get(rule.env, "auto")
    if raw == "auto":
        return None
    try:
        return rule.parse(raw)
    except ValueError as e:
        raise ValueError(f"{rule.env} {e}; got {raw!r}") from None
