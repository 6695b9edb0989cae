"""Size-gated eager materialization for multiply-consumed frames.

Round-12 added eager ``localCheckpoint`` sites in front of frames that
several downstream consumers re-derive (guide §1.2 "don't compute
things twice").  The driver's round-12 bench showed the flip side: at
bench scale (sf0.1, inputs of a few MB) the materialization job + disk
round-trip costs MORE than the re-scans it saves — quality_lm_perplexity
0.68×, dedup_ladder_funnel 0.78×, dedup_minhash 0.80× round-over-round
— while at real scale the same sites save multiple corpus passes.  And
at 100 TB an UNBOUNDED ``localCheckpoint`` is its own hazard (guide §5):
blocks live unreplicated on executor-local disk, so one lost executor
kills every consumer, and a corpus-sized frame can exhaust local disk.

:func:`sized_local_checkpoint` resolves both ends with one gate, from
Catalyst's own driver-side size estimate (no job is run):

- estimate < ``min_bytes``  → return the frame LAZY (recompute is
  cheaper than materialize+reread; the round-12 regression class),
- estimate > ``max_bytes``  → LAZY again, unless
  ``$SPARK_GRAFT_CKPT_RELIABLE_DIR`` names a reliable-FS directory, in
  which case the frame takes ``checkpoint()`` to that dir (replicated,
  executor-loss-safe) — so at scale the query degrades to re-scan or
  a reliable write instead of gambling the query on local disk,
- otherwise → ``localCheckpoint(eager=True)`` exactly as round-12 did.

Results are identical on every path — the gate only picks WHERE the
frame's bytes live (nowhere / executor disk / reliable FS), pinned by
tests/test_operators.py::test_sized_checkpoint_paths_identical.

Thresholds: ``MIN_BYTES`` = 64 MiB (below that, a second scan of
page-cached parquet is single-digit ms while a checkpoint job costs a
barrier + write + re-read) and ``MAX_BYTES`` = 64 GiB (the point where
a single executor-local copy of the frame stops being an acceptable
availability/disk bet on a shared cluster; size to the smallest
per-executor scratch volume you run with).  Callers and tests may pass
``min_bytes``/``max_bytes`` per call; the only environment knob is the
deployment path ``$SPARK_GRAFT_CKPT_RELIABLE_DIR``.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame

MIN_BYTES = 64 << 20  # 64 MiB
MAX_BYTES = 64 << 30  # 64 GiB


def plan_size_estimate(df: DataFrame) -> int:
    """Catalyst's ``sizeInBytes`` estimate of the optimized logical
    plan — driver-side arithmetic over file sizes and operator
    heuristics, no Spark job.  An ESTIMATE: joins/explodes propagate
    multiplicatively and can overshoot.  For this gate an overshoot is
    not uniformly safe: across ``MIN_BYTES`` it turns materialization
    ON (one extra job at worst), but across ``MAX_BYTES`` it turns it
    OFF — the frame stays lazy (or takes the reliable checkpoint when
    one is configured), so a frame that would have fit on executor disk
    is recomputed by every consumer."""
    stats = df._jdf.queryExecution().optimizedPlan().stats()
    size = stats.sizeInBytes()
    # py4j maps scala.math.BigInt to a Python int already; older
    # bridges hand back the Java object.
    return size if isinstance(size, int) else int(size.toString())


def sized_local_checkpoint(
    df: DataFrame,
    *,
    min_bytes: int | None = None,
    max_bytes: int | None = None,
) -> DataFrame:
    """Eagerly materialize ``df`` iff its estimated size lands in
    [min_bytes, max_bytes] (default ``MIN_BYTES``/``MAX_BYTES``) — see
    the module docstring for the rationale and the
    ``SPARK_GRAFT_CKPT_RELIABLE_DIR`` path."""
    lo = MIN_BYTES if min_bytes is None else min_bytes
    hi = MAX_BYTES if max_bytes is None else max_bytes
    est = plan_size_estimate(df)
    if est < lo:
        return df
    if est > hi:
        reliable_dir = os.environ.get("SPARK_GRAFT_CKPT_RELIABLE_DIR")
        if reliable_dir:
            from mapreduce_framework_spark.operators.components import (
                iter_checkpoint,
            )

            return iter_checkpoint(df, reliable=True, checkpoint_dir=reliable_dir)
        return df
    return df.localCheckpoint(eager=True)
