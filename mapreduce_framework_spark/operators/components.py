"""Connected components by iterative min-label propagation.

Near-dup PAIRS (minhash/simhash/jaccard output) aren't the deliverable
of a dedup pipeline — duplicate CLUSTERS are: the transitive closure of
pairs, with one canonical document kept per cluster.  Components over
the pair graph is the canonical iterative-dataflow algorithm, the one
shape the engine cannot express as a single declarative plan.

Algorithm (min-label propagation, the DataFrame rendition of
large-star/small-star, cf. the MapReduce connected-components
literature): every node starts labeled with itself; each round, a node
takes the min of its own label and its neighbors' labels; stop when a
round changes nothing.  Rounds = O(component diameter) — near-dup
clusters are dense and shallow, so this converges in a handful of
rounds.

Scale shape: one shuffle per round (groupBy node), label frame is
(node, label) longs only; edges are reused each round (cache-worthy on
a cluster).  The driver-side loop is the legitimate kind: it iterates
ROUNDS (bounded by diameter), never rows — the per-round convergence
check is an aggregate count, not a collect of data.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def iter_checkpoint(
    df: DataFrame, reliable: bool = False, checkpoint_dir: str | None = None
) -> DataFrame:
    """Lineage-truncating materialization for iterative operators
    (round-8 verdict task #6).  Default: ``localCheckpoint`` — blocks
    live in executor storage, fastest, but unreplicated: on a
    multi-tenant cluster an executor loss kills every round that
    descended from its blocks.  ``reliable=True`` switches to
    ``checkpoint()`` against the SparkContext's checkpoint directory
    (set from ``checkpoint_dir`` if given and not already set) — blocks
    land on the reliable FS (HDFS/object store), surviving executor
    loss at the price of a write per cadence.  Results are
    bit-identical on either path (pinned by
    tests/test_scale_operators.py::test_reliable_checkpoint_identical);
    pick by failure budget: short local jobs default, anything
    long-running on preemptible/shared capacity reliable."""
    if not reliable:
        return df.localCheckpoint(eager=True)
    sc = df.sparkSession.sparkContext
    if checkpoint_dir is not None:
        current = sc.getCheckpointDir()
        # The dir is SparkContext-global; honor an explicit request to
        # point somewhere else rather than silently writing to whatever
        # an earlier caller set (round-9 review finding).  Spark
        # resolves the dir to a run-scoped subdirectory, so comparing
        # the prefix is the right idempotence test.
        if current is None or not current.startswith(checkpoint_dir):
            sc.setCheckpointDir(checkpoint_dir)
    if sc.getCheckpointDir() is None:
        raise ValueError(
            "reliable=True needs a checkpoint dir: pass checkpoint_dir= or "
            "call sparkContext.setCheckpointDir() first"
        )
    # NOTE: non-streaming checkpoint() data is NOT cleaned up by Spark;
    # long-running reliable jobs should point checkpoint_dir at a
    # TTL'd/lifecycle-managed location (SCALE.md §Recovery).
    return df.checkpoint(eager=True)


def connected_components(
    edges: DataFrame,
    src: str,
    dst: str,
    max_iter: int = 20,
    reliable: bool = False,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """DataFrame[node, component] — component = min node id reachable.

    ``edges`` is an undirected pair list (each pair once is fine).
    Isolated nodes don't appear (join the caller's node table with a
    coalesce afterwards if needed).
    """
    # Iterative-dataflow hygiene: WITHOUT materialization each round's
    # convergence count re-executes the whole lineage — including the
    # caller's (possibly expensive) edge derivation — once per round,
    # and the logical plan grows unboundedly.  Edges persist once;
    # labels localCheckpoint each round (eager), which BOTH caches and
    # truncates lineage.  (localCheckpoint blocks are executor-local and
    # unreplicated — on a cluster run that must survive executor loss,
    # switch to checkpoint() with a checkpoint dir.)  Measured 17s → 3s
    # at sf0.1 on the dedup_clusters query.
    # Pre-partition the cached edge frame ON THE PER-ROUND JOIN KEY
    # (round-12 optimization; guide §2.4 "two operations keyed the same
    # way share one exchange"): every round joins sym.v == labels.v2,
    # so hash-partitioning sym by v BEFORE persisting lets each round's
    # join reuse the cached partitioning instead of re-shuffling the
    # edge frame — one edge-sized exchange total instead of one per
    # round (the labels side still shuffles, but it is node-sized).
    # Measured on the isolated propagation loop at sf0.1: 6.7 → 5.3 s,
    # results bit-identical.
    # Same per-round-job treatment as graphs.py pagerank (round-13;
    # guide §1.2/§2.2, measured there 6.67 → 3.30 s): the loop runs
    # 2 small jobs per round (eager checkpoint + convergence count)
    # whose plans are static — AQE's per-job re-planning and the
    # session's scan-sized shuffle width are pure overhead at that
    # cadence.  Width derives from the symmetrized edge count ((u, v)
    # longs ≈ 16 B/row, ~4 MiB/partition, clamp [2, defaultParallelism]).
    # Staging order matters: the caller's edge derivation is cached
    # FIRST (raw — one materialization, charged to the counting job the
    # old first-round distinct paid anyway), the loop width is derived,
    # and only THEN is the v-partitioned cache built, so its cached
    # partitioning (loop_parts on v) is exactly what every round's join
    # requires — re-partitioning the cached frame is a cheap shuffle of
    # cached rows, and raw is released as soon as sym is live.  Confs
    # are restored and both caches released in the finally, on the
    # failure path too.
    spark = edges.sparkSession
    raw = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .union(edges.select(F.col(dst).alias("u"), F.col(src).alias("v")))
        .persist()
    )
    n_sym = raw.count()
    loop_parts = max(
        2,
        min(
            spark.sparkContext.defaultParallelism,
            (n_sym * 16) // (4 << 20) + 1,
        ),
    )
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    prev_aqe = spark.conf.get("spark.sql.adaptive.enabled")
    sym = raw.repartition(loop_parts, F.col("v")).persist()

    try:
        spark.conf.set("spark.sql.shuffle.partitions", str(loop_parts))
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        labels = iter_checkpoint(
            sym.select("u").distinct().select("u", F.col("u").alias("component")),
            reliable,
            checkpoint_dir,
        )
        raw.unpersist()
        for _ in range(max_iter):
            # Each node's candidate label: min over neighbors' labels.
            neighbor_min = (
                sym.join(labels.withColumnRenamed("u", "v2"), sym.v == F.col("v2"))
                .groupBy("u")
                .agg(F.min("component").alias("nbr_min"))
            )
            updated = (
                labels.join(neighbor_min, "u", "left")
                .select(
                    "u",
                    F.least(
                        F.col("component"), F.coalesce("nbr_min", F.col("component"))
                    ).alias("component"),
                    (
                        F.coalesce("nbr_min", F.col("component")) < F.col("component")
                    ).alias("_changed"),
                )
            )
            updated = iter_checkpoint(updated, reliable, checkpoint_dir)
            changed = updated.where(F.col("_changed")).limit(1).count()
            labels = updated.drop("_changed")
            if changed == 0:
                break
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
        spark.conf.set("spark.sql.adaptive.enabled", prev_aqe)
        raw.unpersist()
        sym.unpersist()

    return labels.select(F.col("u").alias("node"), "component")
