"""E2E for the custom stateful tier (streaming/stateful.py): running
bounded top-k over a two-batch file stream must equal the batch top-k
over the union — associativity of the merge, and state bounded at k
values per key — and the decayed counter must equal its one-shot batch
aggregate whatever the arrival order.
"""

from __future__ import annotations

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from assignment_2_dataengineering_spark.streaming import stateful

K = 3


@pytest.fixture()
def two_batch_dir(spark, tmp_path_factory):
    """Two parquet files -> two micro-batches (maxFilesPerTrigger=1)."""
    import shutil

    d = tmp_path_factory.mktemp("topk_stream")
    rows1 = [(u, float(u * 100 + i)) for u in range(4) for i in range(6)]
    rows2 = [(u, float(u * 100 + 50 + i)) for u in range(4) for i in range(6)]
    spark.createDataFrame(rows1, "user_id long, value double").coalesce(1).write.parquet(
        str(d / "b1")
    )
    spark.createDataFrame(rows2, "user_id long, value double").coalesce(1).write.parquet(
        str(d / "b2")
    )
    src = d / "src"
    src.mkdir()
    n = 0
    for sub in ("b1", "b2"):
        for f in sorted((d / sub).glob("*.parquet")):
            shutil.copy(f, src / f"{n:03d}.parquet")
            n += 1
    return d


def test_running_topk_matches_batch_oracle(spark, two_batch_dir):
    d = two_batch_dir
    stream = (
        spark.readStream.schema("user_id long, value double")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(d / "src"))
    )
    out = stateful.running_topk(stream, key="user_id", value_col="value", k=K)
    q = (
        out.writeStream.format("memory")
        .queryName("topk_sink")
        .outputMode("update")
        .option("checkpointLocation", str(d / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    sink = spark.table("topk_sink")
    # update mode re-emits per batch; the row with max n_seen per key is
    # the final state
    final = (
        sink.groupBy("key")
        .agg(F.max_by("topk", "n_seen").alias("topk"), F.max("n_seen").alias("n_seen"))
        .collect()
    )
    got = {r["key"]: (list(r["topk"]), r["n_seen"]) for r in final}

    batch = spark.read.parquet(str(d / "src")).collect()
    expect = {}
    for r in batch:
        expect.setdefault(r["user_id"], []).append(r["value"])
    expect = {u: sorted(vs, reverse=True)[:K] for u, vs in expect.items()}

    assert set(got) == set(expect)
    for u, (topk, n_seen) in got.items():
        assert topk == expect[u], (u, topk, expect[u])
        assert len(topk) == K  # state bounded at k
        assert n_seen == 12  # both batches counted exactly once


def test_decayed_counter_matches_batch_and_ignores_arrival_order(
    spark, tmp_path_factory
):
    """Streaming decayed counter == one-shot batch aggregate, even when
    micro-batches arrive out of event-time order (batch 1 holds the
    LATER days)."""
    import shutil
    from datetime import datetime

    d = tmp_path_factory.mktemp("decay_stream")
    later = [
        (u, datetime(2024, 1, 10 + (u % 3), 12, 0, 0), float(u) + 10.5)
        for u in range(4)
        for _ in range(3)
    ]
    earlier = [
        (u, datetime(2024, 1, 1 + (u % 5), 9, 30, 0), float(u) * 2 + 3.25)
        for u in range(4)
        for _ in range(2)
    ]
    schema = "user_id long, ts timestamp_ntz, value double"
    spark.createDataFrame(later, schema).coalesce(1).write.parquet(str(d / "b1"))
    spark.createDataFrame(earlier, schema).coalesce(1).write.parquet(str(d / "b2"))
    src = d / "src"
    src.mkdir()
    n = 0
    for sub in ("b1", "b2"):
        for f in sorted((d / sub).glob("*.parquet")):
            shutil.copy(f, src / f"{n:03d}.parquet")
            n += 1

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    out = stateful.decayed_counter(stream)
    q = (
        out.writeStream.format("memory")
        .queryName("decay_sink")
        .outputMode("update")
        .option("checkpointLocation", str(d / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    res = spark.sql(
        """SELECT key, anchor_day, decayed_cents FROM (
             SELECT *, row_number() OVER (PARTITION BY key
                                          ORDER BY n_seen DESC) AS rn
             FROM decay_sink) WHERE rn = 1"""
    ).collect()
    got = {r.key: (r.anchor_day, r.decayed_cents) for r in res}

    # one-shot batch twin: anchor at each key's max epoch-day
    allrows = spark.createDataFrame(later + earlier, schema)
    day = (F.unix_micros(F.col("ts").cast("timestamp")) / F.lit(86_400_000_000)).cast(
        "long"
    )
    batch = (
        allrows.withColumn("d", day)
        .withColumn("cents", F.floor(F.col("value") * 100))
        .withColumn("maxd", F.max("d").over(Window.partitionBy("user_id")))
        .groupBy("user_id", "maxd")
        .agg(
            (F.sum(F.col("cents") * F.pow(F.lit(2.0), F.col("d") - F.col("maxd"))) / 100.0).alias(
                "dc"
            )
        )
        .collect()
    )
    want = {r.user_id: (r.maxd, r.dc) for r in batch}
    assert got == want


def test_running_topk_drops_nan_keeps_sort_invariant(spark, tmp_path_factory):
    """NaN values are DROPPED (plain sorted() leaves NaN unordered —
    corrupting the retained list and making the merge batch-boundary-
    dependent — and the pandas→Arrow boundary conflates NaN with null,
    so NaN cannot round-trip through state anyway); real values around
    a NaN must survive in exact order."""
    import shutil

    d = tmp_path_factory.mktemp("topk_nan")
    b1 = [(1, 5.0), (1, float("nan")), (1, 1.0)]
    b2 = [(1, 9.0), (1, 3.0)]
    for i, rows in enumerate((b1, b2)):
        spark.createDataFrame(rows, "user_id long, value double").coalesce(
            1
        ).write.parquet(str(d / f"b{i}"))
    src = d / "src"
    src.mkdir()
    n = 0
    for i in range(2):
        for f in sorted((d / f"b{i}").glob("*.parquet")):
            shutil.copy(f, src / f"{n:03d}.parquet")
            n += 1
    stream = (
        spark.readStream.schema("user_id long, value double")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    out = stateful.running_topk(stream, key="user_id", value_col="value", k=3)
    q = (
        out.writeStream.format("memory")
        .queryName("topk_nan_sink")
        .outputMode("update")
        .option("checkpointLocation", str(d / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    final = (
        spark.table("topk_nan_sink")
        .groupBy("key")
        .agg(F.max_by("topk", "n_seen").alias("topk"))
        .collect()[0]["topk"]
    )
    assert final == [9.0, 5.0, 3.0]  # NaN dropped, order exact
