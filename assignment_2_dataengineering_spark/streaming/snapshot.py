"""Latest-per-key snapshot state (SURVEY.md §2.9 T4, §7.4 hard part 1).

The reference keeps `latest_by_facility[fid] = {**prev, **validated}`
under an RLock (dashboard.py:363-370): per-key last-write-wins with
field-level merge. Spark owns the concurrency; the operator has two
forms with one answer:

- batch/replay form (`latest_snapshot_batch`): a ts-ordered window per
  key with per-field backfill via last(ignorenulls);
- streaming form (`streaming_latest_snapshot`): groupBy(key) with one
  max_by per field in `update` output mode. The merge buffer lives in
  Spark's state store, one row per key, checkpointed with the query,
  so a restarted query resumes the merged snapshot.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def latest_snapshot_batch(events: DataFrame, key: str, ts_col: str = "ts") -> DataFrame:
    """Field-merged latest snapshot over a bounded event set: for each
    measure, the newest non-null value (`{**prev, **new}` semantics —
    a newer event missing a field does NOT erase the older value).

    last(col, ignorenulls=True) over a ts-ordered window per key; one
    shuffle on the key. Ties at the SAME (key, ts) order by the
    measure values ascending — a deterministic total order, where a
    bare ts sort left the winner partition-layout-dependent. (The
    streaming form has no such order: max_by keeps whichever tied
    row it merges last, so conflicting same-instant readings should
    be pre-deduped when the two must agree — windows.dedup_events
    does exactly that in the pipeline.)"""
    measures = [c for c in events.columns if c not in (key, ts_col, "timestamp")]
    order = [F.col(ts_col).asc()] + [F.col(m).asc_nulls_first() for m in measures]
    w = Window.partitionBy(key).orderBy(*order).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    merged = events.select(
        key,
        F.col(ts_col),
        *[F.last(c, ignorenulls=True).over(w).alias(c) for c in measures],
    )
    w2 = Window.partitionBy(key).orderBy(
        F.col(ts_col).desc(), *[F.col(m).desc_nulls_last() for m in measures]
    )
    return (
        merged.withColumn("__rn", F.row_number().over(w2))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
        .withColumnRenamed(ts_col, "last_ts")
    )


def streaming_latest_snapshot(events: DataFrame, key: str, ts_col: str = "ts") -> DataFrame:
    """Streaming form of `latest_snapshot_batch`: per-key aggregation,
    attached to `writeStream.outputMode("update")`. Each field is
    max_by over an ordering that is null where the field is null, and
    max_by skips null orderings, so a field keeps its newest non-null
    value: a newer event missing a field does not erase it, and an
    older event arriving in a later micro-batch fills only fields no
    newer event carried. Spark's state store holds one row per key
    (bounded by key cardinality, not stream length — the scalable
    analog of the reference's dict). Each emission is the key's
    snapshot so far, so readers take each key's last emission."""
    measures = [c for c in events.columns if c not in (key, ts_col, "timestamp")]
    return events.groupBy(key).agg(
        F.max(ts_col).alias("last_ts"),
        *[F.max_by(c, F.when(F.col(c).isNotNull(), F.col(ts_col))).alias(c) for c in measures],
    )


def enrichment_upsert_batch(
    dim_state: dict[str, DataFrame], fetch_missing, write_back=None
):
    """J8 fallback-enrichment upsert (dashboard.py:277-307): per
    micro-batch, anti-join event keys against the dim; fetch rows for the
    misses from a secondary source (JDBC in the reference); append
    insert-if-absent. `fetch_missing(keys_df) -> DataFrame` abstracts the
    secondary lookup (JDBC/REST/static); `write_back(rows_df)` — e.g.
    sources/jdbc.jdbc_write_back — persists the newly-learned rows into
    the primary lookup store, completing the reference's
    `INSERT ... ON CONFLICT DO NOTHING` (dashboard.py:298-303). The
    new-row set is localCheckpointed once so the in-memory dim append
    and the write-back observe the SAME rows without re-running the
    secondary fetch."""

    def apply(batch: DataFrame, batch_id: int) -> None:
        dim = dim_state["df"]
        key = dim.columns[0]
        misses = batch.select(key).distinct().join(dim.select(key), key, "left_anti")
        fetched = fetch_missing(misses)
        if fetched is not None:
            new_rows = fetched.join(
                dim.select(key), key, "left_anti"
            ).localCheckpoint()
            # checkpoint the UNION too: without it batch k's anti-join
            # re-evaluates a k-deep union chain (unbounded plan growth)
            dim_state["df"] = dim.unionByName(new_rows).localCheckpoint()
            if write_back is not None:
                write_back(new_rows)

    return apply
