"""SparkSession factory with scale-conscious defaults.

The same config block is intended to be valid on a 1000-executor cluster;
only master/parallelism knobs come from the environment.  Rationale per
setting is inline — these are the knobs that decide whether the engine
survives a 100 TB run, so they live in one audited place.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _cpus() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))


# Runtime-settable confs the engine's semantics depend on — applied by
# get_spark's builder AND, since the driver contract hands our queries
# an externally-built SparkSession, (re-)applied per entry call:
#   - session.timeZone: timestamp columns collect in session-local time;
#     a non-UTC harness session would shift every timestamp result
#     against the (naive-UTC) parquet data and the DuckDB oracle.
#   - adaptive.*: re-plan at runtime from observed sizes — coalesce
#     small shuffle partitions, convert to broadcast joins late, split
#     skewed partitions: the skew/coalesce safety nets every plan assumes.
#   - arrow.*: pandas/mapInPandas/UDTF paths must take the Arrow lane —
#     correctness is unaffected but a pickled-row fallback is 10-100×
#     slower, which at bench scale reads as a regression.
#   - filterPushdown: predicates reach the parquet reader.
#   - autoBroadcastJoinThreshold: dims ≤ 64 MiB ship to every executor
#     instead of shuffling the fact table.
RUNTIME_CONFS: dict[str, str] = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.parquet.filterPushdown": "true",
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    # Semantics pins (the values every oracle was validated under — a
    # harness session configured differently would silently change
    # division-by-zero/cast behavior, identifier resolution, or decimal
    # widening):
    "spark.sql.ansi.enabled": "true",
    "spark.sql.caseSensitive": "false",
    "spark.sql.decimalOperations.allowPrecisionLoss": "true",
}


def get_spark(app_name: str = "mapreduce_framework_spark") -> SparkSession:
    """Build (or return the active) SparkSession.

    In tests / bench this is ``local[$SPARK_GRAFT_CPUS]``; on a real
    cluster the master is supplied externally and everything below still
    applies.
    """
    active = SparkSession.getActiveSession()
    if active is not None:
        return active

    cpus = _cpus()
    builder = (
        SparkSession.builder.appName(app_name)
        .master(os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]"))
        .config(map=RUNTIME_CONFS)
        # --- Shuffle parallelism.  Local testing uses one partition per
        # core; a cluster deployment raises this (rule of thumb: 2-3× the
        # total core count) and lets AQE coalesce down.
        .config("spark.sql.shuffle.partitions", str(max(cpus, 8)))
        # --- Scan split sizing: 128 MiB splits amortize task overhead on
        # big files while keeping per-task memory bounded.
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        # --- Arrow batch size for every pandas UDF / toPandas boundary.
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # --- Parquet: answer min/max/count from footers where possible.
        .config("spark.sql.parquet.aggregatePushdown", "true")
        # Keep the UI off in harness runs; one less port/thread.
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
    )
    return builder.getOrCreate()


def apply_runtime_confs(spark: SparkSession) -> SparkSession:
    """Pin semantics-critical runtime confs on an externally-built
    session (idempotent, cheap — plain SQLConf writes)."""
    for k, v in RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:  # pragma: no cover - locked custom conf
            pass
    return spark


def stop_spark() -> None:
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
