"""Streaming queries (SURVEY.md §2b).

Every query here executes on the REAL Structured Streaming path:
`streaming/runner.run_file_stream` materializes the events table as a
time-range-partitioned parquet directory and replays it through
`readStream` in bounded micro-batches (`maxFilesPerTrigger=1` +
`availableNow`), collecting from a memory sink.

Why the oracle hash still holds on the real path: the replay is
range-partitioned ON the event-time column, so micro-batch k+1's
earliest timestamp is ≥ micro-batch k's latest — no row ever arrives
behind the watermark, and windowed/complete-mode state converges to
exactly the batch aggregate.  The EXCEPTION is deliberate: the two
watermark keys use the explicit-batch replay (run_file_stream
batch_col) to deliver a deterministic late-arrival set, and their
oracles replay the resulting watermark progression in SQL.
tests/test_streaming.py proves the batch ≡ stream equality for each
transform, plus the watermark-drop and checkpoint-resume behaviors
the equality queries don't exercise.

Column pruning note: the runner writes + rescans the source once per
micro-batch, so each query stages only the columns its transform
reads (the wide `props` string would be range-sorted and re-read 4×
for nothing — measured 2× the whole query at sf0.1).  Safe because
the replay is time-ordered: output never depends on batch assignment.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mapreduce_framework_spark.io import table
from mapreduce_framework_spark.registry import register
from mapreduce_framework_spark.streaming.runner import run_file_stream
from mapreduce_framework_spark.streaming.transforms import (
    dedup_events,
    session_windows,
    sliding_counts,
    tumbling_counts,
)


@register(
    "stream_tumbling_count",
    oracle="""
SELECT time_bucket(INTERVAL '5 minutes', ts) AS wstart,
       time_bucket(INTERVAL '5 minutes', ts) + INTERVAL 5 MINUTE AS wend,
       event_type,
       count(*) AS cnt
FROM events
GROUP BY 1, 2, 3
""".strip(),
    tags=("streaming",),
    bench=True,
)
def stream_tumbling_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5-minute tumbling counts per event type, run as a real
    micro-batched stream (complete mode: final state = batch result)."""
    ev = table(spark, sf_dir, "events").select("ts", "event_type")
    return run_file_stream(spark, ev, tumbling_counts, output_mode="complete")


@register(
    "stream_sliding",
    oracle="""
SELECT wstart, wstart + INTERVAL 10 MINUTE AS wend, event_type, count(*) AS cnt
FROM (
  SELECT event_type,
         unnest([time_bucket(INTERVAL '5 minutes', ts),
                 time_bucket(INTERVAL '5 minutes', ts) - INTERVAL 5 MINUTE]) AS wstart
  FROM events
)
GROUP BY 1, 2, 3
""".strip(),
    tags=("streaming",),
)
def stream_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """10-minute windows sliding every 5 (each event in exactly two),
    run as a real micro-batched stream in complete mode."""
    ev = table(spark, sf_dir, "events").select("ts", "event_type")
    return run_file_stream(spark, ev, sliding_counts, output_mode="complete")


@register(
    "stream_session",
    oracle="""
WITH marked AS (
  SELECT user_id, ts,
         CASE WHEN lag(ts) OVER w IS NULL
                OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
              THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
),
sess AS (
  SELECT user_id, ts,
         SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                ROWS UNBOUNDED PRECEDING) AS sid
  FROM marked
)
SELECT user_id,
       min(ts) AS session_start,
       max(ts) + INTERVAL 30 MINUTE AS session_end,
       count(*) AS n_events
FROM sess
GROUP BY user_id, sid
""".strip(),
    tags=("streaming", "session"),
)
def stream_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """30-minute-gap session windows per user on the real streaming
    path (complete mode merges session state across micro-batches; the
    oracle reconstructs Spark's session semantics via gaps-and-islands
    SQL: new session when gap > 30 min, end = last event + gap)."""
    ev = table(spark, sf_dir, "events").select("ts", "user_id")
    return run_file_stream(spark, ev, session_windows, output_mode="complete")


@register(
    "stream_dedup",
    oracle="""
SELECT event_id, min(ts) AS first_ts, count(*) AS n_copies
FROM events
GROUP BY event_id
""".strip(),
    tags=("streaming", "dedup"),
)
def stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-once accounting by event_id on the real streaming path
    (complete-mode keyed aggregation: first timestamp + copy count; the
    drop-duplicates flavor with watermark-bounded id state is
    tests/test_streaming.py::test_streaming_dedup_exactly_once)."""
    ev = table(spark, sf_dir, "events").select("ts", "event_id")
    return run_file_stream(spark, ev, dedup_events, output_mode="complete")


@register(
    "stream_watermark_late",
    # Exact watermark-semantics oracle (round 6; was rows-only): the
    # explicit batch assignment (batch_col path of run_file_stream) is
    # pure SQL, so DuckDB replays the watermark progression itself —
    # batches 1-3 are the non-late rows split at the 1/3 and 2/3 points
    # of the replay's TIME SPAN (integer-micros cutoffs from a skinny
    # min/max aggregate — no global sort; see _late_replay_source),
    # batch 4 is the deterministic 5% late set (event_id % 20 = 0).
    # EMPIRICALLY CALIBRATED detail (pyspark 4.1.2, verified against the
    # real micro-batch run at all three SFs): the late-data filter for a
    # batch uses the watermark PUBLISHED ENTERING that batch — i.e. the
    # one computed from batches up to N-2 — while state eviction at the
    # batch's end uses the freshly-advanced value.  So a batch-4 late
    # row is dropped iff its 5-minute window closed before
    # max(ts of batches 1-2) - 10 min, and append mode emits
    # exactly the windows closed by the final watermark
    # max(all ts) - 10 min.  The filter is on the grouping window's
    # end, not the row's ts.
    oracle="""
WITH e AS (SELECT ts, event_type, event_id, epoch_us(ts) AS um FROM events),
early AS (SELECT ts, event_type, um FROM e WHERE event_id % 20 <> 0),
b AS (SELECT min(um) + (2 * (max(um) - min(um))) // 3 AS t2 FROM early),
late  AS (SELECT ts, event_type FROM e WHERE event_id % 20 = 0),
wmf AS (SELECT max(ts) - INTERVAL 10 MINUTE AS wm FROM early, b WHERE um <= t2),
fwm AS (SELECT max(ts) - INTERVAL 10 MINUTE AS wm FROM e),
kept AS (
  SELECT ts, event_type FROM early
  UNION ALL
  SELECT l.ts, l.event_type FROM late l, wmf
  WHERE time_bucket(INTERVAL 5 MINUTE, l.ts) + INTERVAL 5 MINUTE > wmf.wm
)
SELECT time_bucket(INTERVAL 5 MINUTE, ts) AS wstart,
       time_bucket(INTERVAL 5 MINUTE, ts) + INTERVAL 5 MINUTE AS wend,
       event_type,
       count(*) AS cnt
FROM kept, fwm
WHERE time_bucket(INTERVAL 5 MINUTE, ts) + INTERVAL 5 MINUTE <= fwm.wm
GROUP BY 1, 2, 3
""".strip(),
    tags=("streaming", "watermark"),
    bench=True,
)
def stream_watermark_late(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL Structured Streaming run with DETERMINISTIC late arrivals:
    the 5% late set (event_id % 20 = 0) is withheld from the
    time-ordered replay (time-third batches of the rest) and delivered
    in a final 4th batch, when the watermark has already advanced to
    max(on-time ts) - 10 min.  Late rows whose 5-minute window closed
    before that mark are DROPPED by the watermark (the round-5 shape
    replayed strictly time-ordered ranges, so no row was ever actually
    late — the drop path went unexercised); late rows for still-open
    windows are counted.  Append mode emits exactly the windows the
    final watermark closes; trailing windows stay in state.  The whole
    progression is SQL-expressible because the batch assignment is an
    explicit expression (see run_file_stream's batch_col), so this key
    is hash-checked against a DuckDB replay of the semantics —
    batching invariance for the complete-mode keys and exactly-once
    resume stay pinned in tests/test_streaming.py."""
    src = _late_replay_source(spark, sf_dir)
    return run_file_stream(
        spark,
        src,
        tumbling_counts,
        watermark=("ts", "10 minutes"),
        output_mode="append",
        batch_col="_b",
    )


def _replay_cutoffs(early: DataFrame) -> DataFrame:
    """One-row frame with the two batch cutoffs at 1/3 and 2/3 of the
    non-late rows' TIME SPAN, as integer epoch-microseconds (`div` keeps
    the arithmetic integer-exact, so DuckDB's `//` reproduces it
    bit-for-bit).  A skinny min/max aggregate — the scale-safe
    replacement for the round-6 `ntile(3) OVER (ORDER BY ts, event_id)`,
    which funneled the whole events table through one task (the global
    no-partition window; invisible at sf0.1, fatal at 100 TB).  Equal
    TIME thirds instead of equal COUNT thirds: batch sizes stay within
    a few percent of each other on the events table at every SF, and
    batch assignment becomes a broadcast threshold comparison — map-side,
    no shuffle at all."""
    return early.agg(
        F.min(F.unix_micros("ts")).alias("lo"),
        F.max(F.unix_micros("ts")).alias("hi"),
    ).select(
        F.expr("lo + (hi - lo) div 3").alias("t1"),
        F.expr("lo + (2 * (hi - lo)) div 3").alias("t2"),
    )


def _late_replay_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared deterministic late-arrival replay source: non-late rows in
    time-third order (batches 1-3, split at the broadcast `_replay_cutoffs`
    thresholds — no global sort anywhere in the plan), the 5% late set
    (event_id % 20 = 0) withheld to batch 4.  Used by
    `stream_watermark_late` (the windowed result) and
    `stream_watermark_drop_report` (the metrics accounting of the same
    run).  tests/test_plans.py pins the no-single-partition shape."""
    events = table(spark, sf_dir, "events").select("ts", "event_type", "event_id")
    is_late = F.col("event_id") % 20 == 0
    early = events.where(~is_late)
    um = F.unix_micros("ts")
    early_b = (
        early.crossJoin(F.broadcast(_replay_cutoffs(early)))
        .withColumn(
            "_b",
            F.lit(1)
            + (um > F.col("t1")).cast("int")
            + (um > F.col("t2")).cast("int"),
        )
        .drop("t1", "t2")
    )
    late = events.where(is_late).withColumn("_b", F.lit(4))
    return early_b.unionByName(late).drop("event_id")


@register(
    "stream_watermark_drop_report",
    # The oracle pins only LAYOUT-INDEPENDENT quantities (round-7, per
    # advisory): semantic drop counts, the append sink's emitted-window
    # count (engine-measured, but a set cardinality — invariant to
    # partitioning), and a boolean attesting the engine's
    # numRowsDroppedByWatermark metric lies in its semantic bounds.
    # CALIBRATED metric detail: the drop metric counts
    # POST-partial-aggregation rows — late rows collapse toward
    # (window, event_type) groups map-side before the state operator
    # sees them — so its exact value depends on how many input
    # partitions the late batch spans (one file read as one partition →
    # total collapse → the group count; a row-group split or a smaller
    # maxPartitionBytes → anywhere up to the raw count).  Hash-pinning
    # the metric itself (round 6 did) breaks on a layout change with no
    # code change; the invariant worth pinning is
    # n_dropped_groups ≤ metric ≤ n_dropped_rows, reported here as
    # drop_metric_in_bounds and asserted with values in
    # tests/test_streaming.py.
    oracle="""
WITH e AS (SELECT ts, event_type, event_id, epoch_us(ts) AS um FROM events),
early AS (SELECT ts, event_type, um FROM e WHERE event_id % 20 <> 0),
b AS (SELECT min(um) + (2 * (max(um) - min(um))) // 3 AS t2 FROM early),
late  AS (SELECT ts, event_type FROM e WHERE event_id % 20 = 0),
wmf AS (SELECT max(ts) - INTERVAL 10 MINUTE AS wm FROM early, b WHERE um <= t2),
fwm AS (SELECT max(ts) - INTERVAL 10 MINUTE AS wm FROM e),
admitted AS (
  SELECT l.ts, l.event_type FROM late l, wmf
  WHERE time_bucket(INTERVAL 5 MINUTE, l.ts) + INTERVAL 5 MINUTE > wmf.wm
),
dropped AS (
  SELECT time_bucket(INTERVAL 5 MINUTE, l.ts) AS ws, l.event_type
  FROM late l, wmf
  WHERE time_bucket(INTERVAL 5 MINUTE, l.ts) + INTERVAL 5 MINUTE <= wmf.wm
),
kept_windows AS (
  SELECT DISTINCT time_bucket(INTERVAL 5 MINUTE, ts) AS ws, event_type,
         time_bucket(INTERVAL 5 MINUTE, ts) + INTERVAL 5 MINUTE AS we
  FROM (SELECT ts, event_type FROM early
        UNION ALL SELECT ts, event_type FROM admitted)
)
SELECT CAST((SELECT count(*) FROM e) AS BIGINT) AS n_input,
       CAST((SELECT count(*) FROM late) AS BIGINT) AS n_late,
       CAST((SELECT count(*) FROM dropped) AS BIGINT) AS n_dropped_rows,
       CAST((SELECT count(DISTINCT (ws, event_type)) FROM dropped)
            AS BIGINT) AS n_dropped_groups,
       CAST((SELECT count(*) FROM kept_windows, fwm WHERE we <= fwm.wm)
            AS BIGINT) AS n_emitted_windows,
       CAST((SELECT count(*) FROM kept_windows, fwm WHERE we > fwm.wm)
            AS BIGINT) AS n_held_windows,
       TRUE AS drop_metric_in_bounds
""".strip(),
    tags=("streaming", "watermark", "profiling"),
    bench=True,
)
def stream_watermark_drop_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Late-data accounting for the watermark replay — the streaming
    twin of `dedup_semantic_cap_report`: an operator that silently
    drops data must say HOW MUCH.  Runs the same deterministic
    late-arrival replay as `stream_watermark_late` and reports, in one
    row: the semantic drop counts (`n_dropped_rows` raw,
    `n_dropped_groups` distinct (window, type) over the dropped set),
    `n_emitted_windows` as the append sink's actual row count, the
    derived `n_held_windows` (in state, never emitted), and
    `drop_metric_in_bounds` — whether Spark's state-operator
    numRowsDroppedByWatermark summed over micro-batches lies in
    [n_dropped_groups, n_dropped_rows].  Calibration showed the metric
    counts post-partial-aggregation rows, so its exact value is an
    input-layout artifact (total map-side collapse to groups when the
    late batch is one input partition; up to the raw count when a
    row-group split or smaller maxPartitionBytes fragments it) — the
    in-bounds invariant is what HOLDS at any layout, so that is what
    the oracle hash-pins (bound values asserted in
    tests/test_streaming.py).  The driver-side reads here are the
    streaming metrics API (StreamingQueryProgress) plus k-row counts —
    a metrics report, not a data-plane collect.  At 100 TB the same
    progress objects stream to the metrics sink per micro-batch;
    alerting on drop counts vs n_late is how a pipeline notices its
    watermark delay is too tight for real arrival skew."""
    src = _late_replay_source(spark, sf_dir)
    progress: list = []
    sink = run_file_stream(
        spark,
        src,
        tumbling_counts,
        watermark=("ts", "10 minutes"),
        output_mode="append",
        batch_col="_b",
        collect_progress=progress,
    )
    n_emitted = sink.count()
    engine_dropped_metric = sum(
        int(op["numRowsDroppedByWatermark"])
        for p in progress
        for op in p["stateOperators"]
    )

    events = table(spark, sf_dir, "events").select("ts", "event_type", "event_id")
    is_late = F.col("event_id") % 20 == 0
    early = events.where(~is_late)
    wmf = (
        early.crossJoin(F.broadcast(_replay_cutoffs(early)))
        .where(F.unix_micros("ts") <= F.col("t2"))
        .agg((F.max("ts") - F.expr("INTERVAL 10 MINUTES")).alias("wm"))
    )
    fwm = events.agg((F.max("ts") - F.expr("INTERVAL 10 MINUTES")).alias("fw"))
    # ONE grouped pass computes every semantic count (round-12
    # optimization; guide §1.2 "don't compute things twice" / §2.3
    # "aggregate before you shuffle"): the round-9 shape ran SIX
    # separate count jobs — n_input, n_late, admitted, dropped-groups
    # distinct, kept-windows — each rescanning events (and several
    # re-deriving the watermark subtree inside their broadcasts).  All
    # of them are functions of the per-(window, event_type) group
    # totals: a late row is admitted iff its window's end > wm (a
    # GROUP-level predicate — every row of a group shares its window),
    # so one aggregate keyed on (window, type) + one scalar roll-up
    # yields identical numbers with one events scan.
    per_group = (
        events.crossJoin(F.broadcast(wmf))
        .crossJoin(F.broadcast(fwm))
        .select(
            F.window("ts", "5 minutes").alias("w"),
            "event_type",
            is_late.alias("late"),
            "wm",
            "fw",
        )
        .groupBy("w", "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.when(F.col("late"), 1).otherwise(0)).alias("n_late_rows"),
            F.first("wm").alias("wm"),
            F.first("fw").alias("fw"),
        )
    )
    dropped_g = F.col("n_late_rows") > 0  # late rows exist in the group…
    closed_at_wm = F.col("w.end") <= F.col("wm")  # …and its window was closed
    kept_g = (F.col("n_rows") > F.col("n_late_rows")) | (
        dropped_g & ~closed_at_wm
    )  # any early row, or admitted-late rows
    totals = per_group.agg(
        F.sum("n_rows").alias("n_input"),
        F.sum("n_late_rows").alias("n_late"),
        F.sum(F.when(closed_at_wm, F.col("n_late_rows")).otherwise(0)).alias(
            "n_dropped_rows"
        ),
        F.sum((dropped_g & closed_at_wm).cast("long")).alias("n_dropped_groups"),
        F.sum((kept_g & (F.col("w.end") > F.col("fw"))).cast("long")).alias(
            "n_held"
        ),
    ).collect()[0]
    n_input, n_late = totals["n_input"], totals["n_late"]
    n_dropped_rows, n_dropped_groups = (
        totals["n_dropped_rows"],
        totals["n_dropped_groups"],
    )
    n_held = totals["n_held"]
    in_bounds = n_dropped_groups <= engine_dropped_metric <= n_dropped_rows
    return spark.createDataFrame(
        [
            (
                n_input,
                n_late,
                n_dropped_rows,
                n_dropped_groups,
                n_emitted,
                n_held,
                in_bounds,
            )
        ],
        "n_input long, n_late long, n_dropped_rows long, "
        "n_dropped_groups long, n_emitted_windows long, "
        "n_held_windows long, drop_metric_in_bounds boolean",
    )


@register(
    "stream_stateful_running_total",
    oracle="""
SELECT user_id,
       count(*) AS n_events,
       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS total_cents
FROM events
GROUP BY user_id
""".strip(),
    tags=("streaming", "stateful"),
    bench=True,
)
def stream_stateful_running_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom per-key stateful operator (applyInPandasWithState) run on
    the REAL streaming path: events replayed in time-ordered
    micro-batches, per-user (count, cents) state updated incrementally.
    The final state per user is batching-invariant — integer-cent
    accumulation — so the full stream run is hash-checked against the
    batch oracle, unlike typical stateful ops that settle for rows-only."""
    from pyspark.sql import functions as F

    from mapreduce_framework_spark.streaming.stateful import running_totals

    ev = table(spark, sf_dir, "events").select("ts", "user_id", "value")
    # Python-stateful lane: per-key Python cost dominates the batch, so
    # the partition autoscale gets the tighter rows-per-partition target
    # (see run_file_stream's docstring; A/B grid in OPTIMIZATION_r13.md).
    updates = run_file_stream(
        spark,
        ev,
        running_totals,
        output_mode="update",
        state_rows_per_partition=6_000,
    )
    final = (
        updates.groupBy("user_id")
        .agg(F.max(F.struct("n_events", "total_cents")).alias("s"))
        .select("user_id", F.col("s.n_events").alias("n_events"), F.col("s.total_cents").alias("total_cents"))
    )
    return final


@register(
    "stream_interval_join",
    oracle="""
SELECT c.event_id AS click_id,
       p.event_id AS purchase_id,
       c.user_id,
       c.ts AS click_ts,
       p.ts AS purchase_ts
FROM events c
JOIN events p
  ON c.user_id = p.user_id
 AND c.event_type = 'click'
 AND p.event_type = 'purchase'
 AND p.ts >= c.ts
 AND p.ts < c.ts + INTERVAL 10 MINUTE
""".strip(),
    tags=("streaming", "join"),
    # Gated (round-8 verdict task #5): its one-shot PRICES_r07 moved
    # 5.3->15.5 s on a loaded box; bench membership makes drift visible
    # against a min-of-3 first recording instead of one-shot noise.
    bench=True,
)
def stream_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Click→purchase attribution within 10 minutes as a TRUE
    stream-stream self-join: watermarked source, append mode (inner
    interval joins emit on match; the watermark bounds buffered state
    to the 10-minute horizon, so at 100 TB the join holds a time slice
    of each stream, not its history).  Time-ordered replay means no
    match is ever dropped, so the result equals the batch join exactly."""
    from mapreduce_framework_spark.streaming.transforms import (
        click_purchase_interval_join,
    )

    ev = table(spark, sf_dir, "events").select("ts", "user_id", "event_type", "event_id")
    return run_file_stream(
        spark,
        ev,
        click_purchase_interval_join,
        watermark=("ts", "10 minutes"),
        output_mode="append",
    )


@register(
    "stream_exactly_once_sink",
    # The sink contents are the source rows exactly once, so the oracle
    # is the source itself — including after the simulated post-crash
    # retry of batch 0 that the query performs (a re-run must be
    # indistinguishable from the original write).
    oracle="""
SELECT event_id, ts, user_id FROM events
""".strip(),
    tags=("streaming", "sink", "exactly-once"),
)
def stream_exactly_once_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-once streaming delivery into a parquet sink, driver-hash-
    checked: the events stream replays through ``foreachBatch`` with the
    idempotent partition-by-batch-id writer (streaming/sinks.py), then
    batch 0 is deliberately re-applied with the same batch id — the
    post-crash retry Structured Streaming may perform — and the sink is
    read back.  Hash equality against the raw source proves no loss and
    no duplication.  This is the engine-grade version of the
    reference's requeue + overwrite-by-name exactly-once machinery
    (workerimpl.cc:319-333)."""
    import os
    import shutil

    from mapreduce_framework_spark.io import user_scratch_dir
    from mapreduce_framework_spark.streaming.runner import stage_replay
    from mapreduce_framework_spark.streaming.sinks import idempotent_parquet_writer

    ev = table(spark, sf_dir, "events").select("event_id", "ts", "user_id")
    # Fixed per-process scratch, cleared per invocation (a reused
    # checkpoint would make the availableNow pass a no-op); it must
    # outlive this function — the returned frame lazily reads sink_dir.
    base = user_scratch_dir("eo_sink")
    shutil.rmtree(base, ignore_errors=True)
    src_dir, sink_dir, ckpt = (
        os.path.join(base, "src"),
        os.path.join(base, "sink"),
        os.path.join(base, "ckpt"),
    )
    part_files = stage_replay(ev, src_dir)

    write_batch = idempotent_parquet_writer(sink_dir)
    q = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
        .writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    # Simulated post-crash retry: re-run batch 0's write with its id.
    # Batch 0 is re-derived from the SOURCE (the first part file in the
    # replay's mtime order — exactly what FileStreamSource fed batch 0),
    # never from the sink: lazily reading the sink path while
    # dynamic-overwriting the same path is the self-read-overwrite shape
    # Spark rejects under non-local committers ("Cannot overwrite a path
    # that is also being read from").
    batch0 = spark.read.parquet(part_files[0]).select("event_id", "ts", "user_id")
    write_batch(batch0, 0)

    return spark.read.parquet(sink_dir).select("event_id", "ts", "user_id")


@register(
    "stream_cdc_upsert",
    # Last-writer-wins materialization of the changelog, minus
    # tombstoned keys — the oracle is the batch window equivalent.
    oracle="""
SELECT user_id,
       ts AS last_ts,
       event_id AS last_event_id,
       event_type AS last_event_type,
       value AS last_value
FROM (
  SELECT *, row_number() OVER (PARTITION BY user_id
                               ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
)
WHERE rn = 1 AND event_type <> 'error'
""".strip(),
    tags=("streaming", "sink", "cdc"),
)
def stream_cdc_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC upsert materialization: the events table replayed as a
    keyed changelog (every event upserts its user's state; ``error``
    events are tombstones), merged per micro-batch into a parquet
    state snapshot via ``foreachBatch`` — the streaming MERGE INTO
    pattern on a plain file sink.

    The merge is a PING-PONG: batch b reads snapshot state_{b-1},
    unions the batch, reduces last-writer-wins (max_by on the unique
    (ts, event_id) order), and writes state_b to a NEW directory —
    never overwriting what it reads (the self-read-overwrite shape
    Spark rejects under non-local committers), and idempotent under
    Structured Streaming's post-crash batch retry: re-running batch b
    regenerates state_b from the same inputs.  Tombstones are KEPT in
    the snapshot (so a later upsert can supersede them) and filtered
    only in the final read-back.

    Scale: snapshot size is bounded by live-key cardinality, not
    changelog length; the per-batch reduce shuffles (keys ∪ batch)
    once on the key.  On a lakehouse deployment the same transform
    body becomes MERGE INTO on a Delta/Iceberg table (which replaces
    the ping-pong with ACID row-level rewrite); the plan — in-batch
    last-wins reduce, then key-colocated merge with the snapshot — is
    identical.  Time-ordered replay makes the final snapshot equal the
    batch window (the oracle); out-of-order arrivals are ALSO handled
    correctly because last-wins compares (ts, event_id), not arrival
    order — tests/test_streaming.py pins batching-invariance.

    Disk lifecycle (round-5): superseded snapshots are pruned inside
    the merge (state_{b-2} removed once state_b is durable — the retry
    contract only ever replays the LAST uncommitted batch, which needs
    state_{b-1}), io.user_scratch_dir reclaims what dead driver pids
    left behind, and the source/checkpoint scratch is removed on
    completion — so a replay of ANY batch count holds at most two
    snapshots on disk (pinned by tests/test_streaming.py::
    test_cdc_merge_disk_stays_bounded)."""
    import os
    import shutil

    from mapreduce_framework_spark.io import user_scratch_dir
    from mapreduce_framework_spark.streaming.runner import stage_replay

    ev = table(spark, sf_dir, "events").select(
        "ts", "event_id", "user_id", "event_type", "value"
    )
    base = user_scratch_dir("cdc")
    shutil.rmtree(base, ignore_errors=True)
    src_dir, state_root, ckpt = (
        os.path.join(base, "src"),
        os.path.join(base, "state"),
        os.path.join(base, "ckpt"),
    )
    os.makedirs(state_root, exist_ok=True)
    stage_replay(ev, src_dir)

    q = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
        .writeStream.foreachBatch(cdc_merge(state_root))
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    last = max(
        int(d.rsplit("_", 1)[1])
        for d in os.listdir(state_root)
        if d.startswith("state_")
    )
    # The returned frame reads ONLY the final snapshot; everything else
    # (replayed source, stream checkpoint, the one older snapshot the
    # retry contract kept) is scratch now.
    shutil.rmtree(src_dir, ignore_errors=True)
    shutil.rmtree(ckpt, ignore_errors=True)
    for d in os.listdir(state_root):
        if d.startswith("state_") and d != f"state_{last}":
            shutil.rmtree(os.path.join(state_root, d), ignore_errors=True)
    from pyspark.sql import functions as F

    return (
        spark.read.parquet(os.path.join(state_root, f"state_{last}"))
        .where(F.col("event_type") != "error")
        .select(
            "user_id",
            F.col("ts").alias("last_ts"),
            F.col("event_id").alias("last_event_id"),
            F.col("event_type").alias("last_event_type"),
            F.col("value").alias("last_value"),
        )
    )


def cdc_merge(state_root: str):
    """foreachBatch callable for the ping-pong CDC merge: batch b reads
    state_{b-1}, reduces last-writer-wins, writes state_b, then prunes
    state_{b-2} — the oldest snapshot a post-crash retry could still
    need is state_{b-1} (Structured Streaming replays only the last
    uncommitted batch), so disk holds ≤ 2 snapshots at any batch
    depth."""
    import os
    import shutil

    def merge(batch: DataFrame, batch_id: int) -> None:
        from pyspark.sql import functions as F

        prev_dir = os.path.join(state_root, f"state_{batch_id - 1}")
        out_dir = os.path.join(state_root, f"state_{batch_id}")
        cur = batch
        if batch_id > 0 and os.path.isdir(prev_dir):
            cur = batch.sparkSession.read.parquet(prev_dir).unionByName(batch)
        (
            cur.groupBy("user_id")
            .agg(
                F.max_by(
                    F.struct("ts", "event_id", "event_type", "value"),
                    F.struct("ts", "event_id"),
                ).alias("s")
            )
            .select("user_id", "s.ts", "s.event_id", "s.event_type", "s.value")
            .write.mode("overwrite")
            .parquet(out_dir)
        )
        superseded = os.path.join(state_root, f"state_{batch_id - 2}")
        if batch_id > 1 and os.path.isdir(superseded):
            shutil.rmtree(superseded, ignore_errors=True)

    return merge


@register(
    "stream_static_enrich",
    # Stream-static joins are STATELESS in Structured Streaming: each
    # micro-batch joins against the (broadcast) static side and emits
    # immediately — no watermark, no join state.  Every event matches
    # exactly one customer (custkey is unique), so the appended union
    # over batches equals the batch join and the oracle is plain SQL.
    oracle="""
SELECT e.event_id, e.user_id, e.event_type,
       c.c_mktsegment AS segment, c.c_nationkey AS nation
FROM events e
JOIN customer c ON e.user_id = c.c_custkey
""".strip(),
    tags=("streaming", "join"),
)
def stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dimension enrichment on the streaming path: the events stream
    joined per-micro-batch to the STATIC customer table (broadcast) —
    the third Structured Streaming join surface after stream-stream
    interval (stream_interval_join) and CDC upsert (stream_cdc_upsert).
    Stream-static inner joins are stateless: Spark re-plans the join
    each micro-batch with the static side broadcast, so there is no
    watermark and no state store — at 100 TB the stream holds NOTHING
    between batches and the dimension costs one broadcast per batch.
    This is the canonical "tag every event with its account segment"
    step of a feature/training pipeline, run where it belongs: at
    ingest, not as a post-hoc batch join over the accumulated log."""
    dim = F.broadcast(
        table(spark, sf_dir, "customer").select(
            "c_custkey",
            F.col("c_mktsegment").alias("segment"),
            F.col("c_nationkey").alias("nation"),
        )
    )

    def enrich(df: DataFrame) -> DataFrame:
        return df.join(
            dim, df["user_id"] == dim["c_custkey"], "inner"
        ).select("event_id", "user_id", "event_type", "segment", "nation")

    ev = table(spark, sf_dir, "events").select("ts", "event_id", "user_id", "event_type")
    return run_file_stream(spark, ev, enrich, output_mode="append")


@register(
    "stream_session_timers",
    # Emission contract, mirrored exactly (round-9 review fix — the
    # old oracle applied the watermark cutoff to ALL sessions, but the
    # engine emits a PROOF-CLOSED session the moment its successor
    # event arrives, watermark or not): every session except the
    # user's LAST is proof-closed by construction (its successor
    # exists in the stream), so it always emits; the last session
    # emits only via the timer, i.e. iff the final watermark
    # (max(ts) - 10 s) moved STRICTLY past end + gap.
    oracle="""
WITH e AS (SELECT user_id, CAST(epoch_ms(ts) AS BIGINT) AS ms FROM events),
f AS (
  SELECT user_id, ms,
         CASE WHEN ms - lag(ms) OVER (PARTITION BY user_id ORDER BY ms)
                   > 43200000
                OR lag(ms) OVER (PARTITION BY user_id ORDER BY ms) IS NULL
              THEN 1 ELSE 0 END AS ns
  FROM e
),
s AS (
  SELECT user_id, ms,
         SUM(ns) OVER (PARTITION BY user_id ORDER BY ms
                       ROWS UNBOUNDED PRECEDING) AS sid
  FROM f
),
a AS (
  SELECT user_id, sid, min(ms) AS start_ms, max(ms) AS end_ms,
         count(*) AS n_events
  FROM s GROUP BY 1, 2
),
m AS (SELECT user_id, max(sid) AS max_sid FROM a GROUP BY user_id),
wm AS (SELECT max(ms) - 10000 AS w FROM e)
SELECT a.user_id, start_ms, end_ms, CAST(n_events AS BIGINT) AS n_events
FROM a JOIN m ON a.user_id = m.user_id, wm
WHERE a.sid < m.max_sid OR end_ms + 43200000 < w
""".strip(),
    tags=("streaming", "stateful", "timers"),
    bench=True,
)
def stream_session_timers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TIMER-DRIVEN session emission on the real micro-batch path
    (round-8 verdict task #5): per-user 12 h-gap sessions where the
    closing row is produced because TIME passed — the event-time timer
    re-armed at last_ts + gap fires when the watermark crosses it and
    emits the session — not because an input row arrived (arriving
    rows only emit the PREVIOUS session when they prove the gap
    exceeded).  Open sessions at end-of-stream are deliberately held:
    they are not closed yet, and the oracle applies the same
    final-watermark cutoff.  The lane is ``applyInPandasWithState`` +
    ``EventTimeTimeout`` (streaming/stateful.py timeout_sessions): one
    event-time timer per key, which sessionization needs exactly."""
    from mapreduce_framework_spark.streaming.stateful import timeout_sessions

    ev = table(spark, sf_dir, "events").select("ts", "user_id")
    # Python-stateful lane — tighter autoscale target, same rationale
    # as stream_stateful_running_total.
    return run_file_stream(
        spark,
        ev,
        timeout_sessions,
        watermark=("ts", "10 seconds"),
        output_mode="append",
        state_rows_per_partition=6_000,
    )
