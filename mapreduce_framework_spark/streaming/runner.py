"""File-source streaming runner.

Materializes a batch DataFrame as a time-range-partitioned parquet
directory, replays it as a stream in bounded micro-batches
(``maxFilesPerTrigger=1`` + ``availableNow``), and collects the result
from a memory sink.  Range partitioning on the time column makes the
micro-batch sequence time-ordered, so watermark semantics behave as
they would on a live, mostly-ordered stream — with the synthetic ~5%
late arrivals actually exercising late-row dropping.

The replay files and checkpoint live in ``io.user_scratch_dir`` and are
removed before :func:`run_file_stream` returns or raises.  On a real
deployment the same transform attaches to a Kafka/files source with a
checkpoint dir; nothing in the transforms changes.
"""

from __future__ import annotations

import glob
import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession

from mapreduce_framework_spark.io import user_scratch_dir


def stage_replay(
    source_df: DataFrame,
    src_dir: str,
    *,
    n_batches: int = 4,
    order_col: str = "ts",
    batch_col: str | None = None,
) -> list[str]:
    """Write ``source_df`` under ``src_dir`` as the replay files of a
    file-source stream and return them in replay order — the ONE
    replay stager (run_file_stream and the foreachBatch sink queries
    in queries/streaming.py all stage through it).

    Default: ``n_batches`` files range-partitioned on ``order_col``
    (every other column breaks ties) and sorted within each file.
    ``batch_col``: one file per explicit batch value instead (see
    :func:`run_file_stream`).  Either way the files' mtimes are pinned
    to replay order, so ``maxFilesPerTrigger=1`` feeds them in a
    reproducible sequence."""
    if batch_col is not None:
        from pyspark.sql import functions as F

        tiebreak = [c for c in source_df.columns if c not in (order_col, batch_col)]
        # ONE pass stages every batch (round-12 optimization; guide §2.4
        # "remove shuffles outright"): the old loop ran a distinct+collect
        # of the batch ids and then one filtered write PER id — five full
        # computations of source_df (which for the watermark keys embeds
        # the events scan + cutoff aggregate) where one suffices.  A
        # dynamic-partition write by the batch column emits exactly one
        # file per batch value: hash-repartitioning ON the batch column
        # puts all of a batch's rows in one task, and the partitioned
        # writer starts a new file per partition value within a task.
        # Batch ids are recovered from the directory names — no extra
        # job.  Layout per batch file is unchanged (same rows, same
        # (order_col, *tiebreak) sort, batch column dropped by the
        # partitioned write), so the replayed batch sequence — and every
        # watermark cutoff derived from it — is bit-identical.
        stage_dir = os.path.join(src_dir, "_stage")
        (
            source_df.repartition(8, F.col(batch_col))
            .sortWithinPartitions(batch_col, order_col, *tiebreak)
            .write.mode("overwrite")
            .partitionBy(batch_col)
            .parquet(stage_dir)
        )
        for d in os.listdir(stage_dir):
            if not d.startswith(f"{batch_col}="):
                continue
            bi = int(d.split("=", 1)[1])
            [pf] = glob.glob(os.path.join(stage_dir, d, "part-*"))
            os.rename(pf, os.path.join(src_dir, f"batch-{bi:05d}.parquet"))
        shutil.rmtree(stage_dir)
        part_files = sorted(glob.glob(os.path.join(src_dir, "batch-*.parquet")))
    else:
        # Tie-break the range partitioning with every remaining column:
        # on order_col alone, equal-timestamp rows land in batch files
        # nondeterministically (scan task order), which shifts watermark
        # cutoffs between runs — the replay must be bit-reproducible.
        tiebreak = [c for c in source_df.columns if c != order_col]
        source_df.repartitionByRange(
            n_batches, order_col, *tiebreak
        ).sortWithinPartitions(order_col, *tiebreak).write.mode("overwrite").parquet(
            src_dir
        )
        part_files = sorted(glob.glob(os.path.join(src_dir, "part-*")))
    # FileStreamSource replays files in MODIFICATION-TIME order, and the
    # parallel writer tasks finish in racy order — pin mtimes to file-name
    # order so batch sequence (hence watermark progression) is identical
    # across runs.
    base = 1_600_000_000
    for i, f in enumerate(part_files):
        os.utime(f, (base + i * 60, base + i * 60))
    return part_files


def run_file_stream(
    spark: SparkSession,
    source_df: DataFrame,
    transform,
    *,
    watermark: tuple[str, str] | None = None,
    output_mode: str = "complete",
    n_batches: int = 4,
    order_col: str = "ts",
    state_partitions: int | None = None,
    state_rows_per_partition: int = 25_000,
    max_files_per_trigger: int | None = 1,
    batch_col: str | None = None,
    collect_progress: list | None = None,
) -> DataFrame:
    """Replay ``source_df`` as ``n_batches`` time-ordered micro-batches
    through ``transform``; return the memory-sink contents.

    ``max_files_per_trigger`` sets how many source files each
    micro-batch consumes (None → no cap: availableNow processes
    everything in one batch).  Varying it changes BATCHING only; for
    complete/update-mode state the final result must be invariant —
    tests/test_streaming.py pins that across 1, 2, and all-at-once.

    ``state_partitions`` bounds the stateful-operator parallelism for
    the run: every micro-batch commits one state-store delta PER
    shuffle partition, so over-partitioning a small replay spends most
    of its time fsyncing near-empty state files (measured ~2× the
    whole query at 32 partitions on the windowed keys), while
    UNDER-partitioning starves the operators that do real per-row work
    (the Python stateful lanes measured 1.25× faster at 16 than at the
    former fixed 8).  Default ``None`` = AUTOSCALE from the replay's
    actual row count (parquet footer metadata of the staged files —
    driver-side, no job): ``clamp(rows / state_rows_per_partition, 2,
    defaultParallelism)``.  ``state_rows_per_partition`` is the
    per-operator-class cost knob: the default 25 000 fits JVM windowed
    aggregates and stream-stream joins (per-row work is ns-scale, so
    the per-partition state-commit cost dominates early); Python
    stateful transforms (applyInPandasWithState) should pass ~6 000 — their per-key
    Python cost is ~3 orders larger, so they repay more parallelism
    (A/B grid in OPTIMIZATION_r13.md).  On a cluster the same rule
    sizes ``spark.sql.shuffle.partitions`` to the stateful stage's
    volume instead of the scan width, and the parallelism clamp scales
    with the executor fleet.  The session value is restored after the
    run — streams capture the conf at start().

    ``batch_col``: when set, ``source_df`` carries an EXPLICIT integer
    batch assignment and the runner writes one file per batch value in
    ascending order (column dropped before write).  Unlike the default
    ``repartitionByRange`` path — whose sampled range bounds are not
    reproducible outside Spark — an explicit assignment is a pure SQL
    expression, so a DuckDB oracle can replay the exact batch sequence
    (and therefore the exact watermark progression).  This is how
    `stream_watermark_late` delivers deterministic LATE arrivals: early
    rows in time order, a fixed late set in the final batch.

    ``collect_progress``: pass a list to receive the query's
    StreamingQueryProgress objects after termination — the engine-side
    metrics surface (numRowsDroppedByWatermark, per-batch watermarks)
    that `stream_watermark_drop_report` hash-checks against SQL.
    """
    # Memory sink: nothing the returned frame reads lives on disk, so
    # the replay files and the checkpoint are removed before this
    # returns or raises.  Cleared first as well — a reused checkpoint
    # would turn the availableNow pass into a no-op.
    root = user_scratch_dir("stream")
    shutil.rmtree(root, ignore_errors=True)
    src_dir, ckpt_dir = os.path.join(root, "src"), os.path.join(root, "ckpt")
    try:
        part_files = stage_replay(
            source_df,
            src_dir,
            n_batches=n_batches,
            order_col=order_col,
            batch_col=batch_col,
        )
        if state_partitions is None:
            # Scale-adaptive partitioning (round-13; guide §2.2 "fewer,
            # larger partitions" / round-12 verdict task #1): the staged
            # files' parquet footers give the exact replay row count for
            # free (driver-side metadata, no job), and the A/B grid in
            # OPTIMIZATION_r13.md shows both failure modes a constant
            # invites — 8 partitions starves the Python stateful lanes on
            # 32 cores, 32 partitions drowns the windowed/join lanes in
            # near-empty state-store commits.
            import pyarrow.parquet as pq

            n_rows = sum(pq.ParquetFile(f).metadata.num_rows for f in part_files)
            state_partitions = max(
                2,
                min(
                    spark.sparkContext.defaultParallelism,
                    n_rows // max(state_rows_per_partition, 1) + 1,
                ),
            )

        reader = spark.readStream.schema(source_df.schema)
        if max_files_per_trigger is not None:
            reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
        stream = reader.parquet(src_dir)
        if watermark is not None:
            stream = stream.withWatermark(*watermark)

        out = transform(stream)
        sink_name = f"mfs_sink_{uuid.uuid4().hex[:12]}"
        prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", str(state_partitions))
        # recentProgress retains only the last numRecentProgressUpdates
        # entries (default 100) — a deeper replay would silently truncate the
        # metrics `collect_progress` hands to stream_watermark_drop_report.
        # Size the buffer to the replay and verify nothing was evicted below.
        min_batches = (
            -(-len(part_files) // max_files_per_trigger)
            if max_files_per_trigger is not None
            else 1
        )
        prev_recent = None
        if collect_progress is not None:
            prev_recent = spark.conf.get(
                "spark.sql.streaming.numRecentProgressUpdates", "100"
            )
            spark.conf.set(
                "spark.sql.streaming.numRecentProgressUpdates",
                str(max(100, min_batches + 16)),
            )
        try:
            query = (
                out.writeStream.format("memory")
                .queryName(sink_name)
                .outputMode(output_mode)
                .option("checkpointLocation", ckpt_dir)
                .trigger(availableNow=True)
                .start()
            )
            query.awaitTermination()
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
            if prev_recent is not None:
                spark.conf.set(
                    "spark.sql.streaming.numRecentProgressUpdates", prev_recent
                )
        if collect_progress is not None:
            got = [p for p in query.recentProgress if p["numInputRows"] > 0]
            assert len(got) >= min_batches, (
                f"progress buffer evicted entries: {len(got)} data batches "
                f"retained < {min_batches} replayed files/trigger groups"
            )
            collect_progress.extend(query.recentProgress)
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return spark.table(sink_name)
