"""Scans, pushdown, and sink round-trip (SURVEY.md §2a O1-O3, O12, O21).

The reference hand-rolls ranged blob reads with word-boundary fixing
(w7/src/worker/worker.h:42-86,196-232) and size-balanced sharding
(w7/src/master/dbconn.h:39-64); here both are FileSourceScan built-ins.
What we own is making sure pruning/pushdown actually reach the scan —
tests assert `PushedFilters`/`ReadSchema` on these plans.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mapreduce_framework_spark.io import table, user_scratch_dir
from mapreduce_framework_spark.registry import register


@register(
    "scan_project",
    oracle="""
SELECT l_orderkey, l_partkey, l_quantity, l_extendedprice
FROM lineitem
""".strip(),
    tags=("scan",),
)
def scan_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-pruned scan: ReadSchema must contain exactly 4 columns."""
    return table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_quantity", "l_extendedprice"
    )


@register(
    "scan_filter_pushdown",
    oracle="""
SELECT o_orderkey, o_custkey, o_totalprice, o_orderdate
FROM orders
WHERE o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate < TIMESTAMP '1997-01-01'
  AND o_orderstatus = 'O'
""".strip(),
    tags=("scan", "filter"),
    bench=True,
)
def scan_filter_pushdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Predicates reach the parquet reader (PushedFilters), so row groups
    outside the date range are skipped via min/max stats — at 100 TB this
    is the difference between scanning a year and scanning a decade."""
    o = table(spark, sf_dir, "orders")
    return o.where(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderstatus") == "O")
    ).select("o_orderkey", "o_custkey", "o_totalprice", "o_orderdate")


@register(
    "sink_roundtrip",
    # Round-trip must be lossless, so the oracle is simply the same
    # aggregate computed directly on the source table.
    oracle="""
SELECT l_returnflag, count(*) AS cnt
FROM lineitem
WHERE l_quantity > 25
GROUP BY l_returnflag
""".strip(),
    tags=("sink",),
)
def sink_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write a filtered projection to parquet (partitioned by the group
    key, mirroring the reference's one-blob-per-reducer sink,
    workerimpl.cc:319-333), read it back, aggregate."""
    src = (
        table(spark, sf_dir, "lineitem")
        .where(F.col("l_quantity") > 25)
        .select("l_orderkey", "l_quantity", "l_returnflag")
    )
    out = user_scratch_dir("sink")
    src.write.mode("overwrite").partitionBy("l_returnflag").parquet(out)
    back = spark.read.parquet(out)
    return back.groupBy("l_returnflag").agg(F.count(F.lit(1)).alias("cnt"))


@register(
    "sink_merge_upsert",
    oracle="""
WITH updates AS (
  SELECT o_orderkey, o_custkey, 'X' AS o_orderstatus,
         CAST(CAST(o_totalprice AS DECIMAL(18,2)) * CAST('1.1' AS DECIMAL(3,2))
              AS DOUBLE) AS o_totalprice
  FROM orders WHERE o_orderkey % 10 = 0
),
merged AS (
  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
  FROM orders WHERE o_orderkey % 10 <> 0
  UNION ALL
  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice FROM updates
)
SELECT o_orderstatus, count(*) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total
FROM merged
GROUP BY o_orderstatus
""".strip(),
    tags=("sink", "merge"),
)
def sink_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE/upsert on plain parquet: rows from the change batch replace
    snapshot rows by key (left_anti keeps unmatched snapshot rows, the
    batch is unioned in), written back and re-read.  This is the
    incremental-maintenance primitive for a snapshot table without a
    table format: at scale the anti-join broadcasts the (small) change
    batch, so the rewrite cost is one snapshot scan — and pairing it
    with partitioned layout (overwrite_partitions_dynamic in sources/)
    bounds the rewrite to touched partitions."""
    o = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
    )
    updates = (
        o.where(F.col("o_orderkey") % 10 == 0)
        .withColumn("o_orderstatus", F.lit("X"))
        # Exact decimal markup, NOT round(double*1.1, 2): rounding a
        # double product is the classic cross-engine boundary trap —
        # the same decimal value rounds differently once the binary
        # representation straddles .xx5 (bit at sf0.01).
        .withColumn(
            "o_totalprice",
            (
                F.col("o_totalprice").cast("decimal(18,2)")
                * F.lit("1.1").cast("decimal(3,2)")
            ).cast("double"),
        )
    )
    merged = o.join(
        F.broadcast(updates.select("o_orderkey")), "o_orderkey", "left_anti"
    ).unionByName(updates)
    out = user_scratch_dir("merge")
    merged.write.mode("overwrite").parquet(out)
    back = spark.read.parquet(out)
    return back.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_orders"),
        # Scale 4, not 2: the markup above has 4 decimal places, and
        # re-rounding it to 2 at cast time is engine-dependent.
        F.sum(F.col("o_totalprice").cast("decimal(18,4)")).cast("double").alias("total"),
    )


@register(
    "sink_scd2",
    bench=True,
    oracle="""
WITH snap AS (
  SELECT c_custkey, c_mktsegment,
         TIMESTAMP '1995-01-01 00:00:00' AS valid_from
  FROM customer
),
changes AS (
  SELECT c_custkey, 'REASSIGNED' AS c_mktsegment
  FROM customer WHERE c_custkey % 20 = 0
),
closed AS (
  SELECT s.c_custkey, s.c_mktsegment, s.valid_from,
         CASE WHEN c.c_custkey IS NOT NULL
              THEN TIMESTAMP '1997-06-01 00:00:00' END AS valid_to
  FROM snap s LEFT JOIN changes c ON s.c_custkey = c.c_custkey
),
inserted AS (
  SELECT c_custkey, c_mktsegment,
         TIMESTAMP '1997-06-01 00:00:00' AS valid_from,
         CAST(NULL AS TIMESTAMP) AS valid_to
  FROM changes
)
SELECT c_custkey, c_mktsegment, valid_from, valid_to,
       CASE WHEN valid_to IS NULL THEN 1 ELSE 0 END AS is_current
FROM (SELECT * FROM closed UNION ALL SELECT * FROM inserted)
""".strip(),
    tags=("sink", "scd2"),
)
def sink_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension type-2 maintenance on plain parquet:
    a change batch closes the matched current rows (valid_to stamped)
    and appends new current rows, written back and re-read.  With
    MERGE-less parquet this is the standard history-table recipe:
    broadcast the (small) change batch into one snapshot scan — the
    same single-scan rewrite bound as sink_merge_upsert, but producing
    validity intervals instead of replacement.  At scale, partitioning
    the history table by is_current (or valid_to IS NULL) keeps the
    'current view' read to a partition subset."""
    v_old = F.lit("1995-01-01 00:00:00").cast("timestamp")
    v_new = F.lit("1997-06-01 00:00:00").cast("timestamp")
    snap = (
        table(spark, sf_dir, "customer")
        .select("c_custkey", "c_mktsegment")
        .withColumn("valid_from", v_old)
    )
    changes = (
        snap.where(F.col("c_custkey") % 20 == 0)
        .select("c_custkey")
        .withColumn("c_mktsegment", F.lit("REASSIGNED"))
    )
    closed = snap.join(
        F.broadcast(changes.select("c_custkey", F.lit(1).alias("chg"))),
        "c_custkey",
        "left",
    ).select(
        "c_custkey",
        "c_mktsegment",
        "valid_from",
        F.when(F.col("chg").isNotNull(), v_new).alias("valid_to"),
    )
    inserted = changes.select(
        "c_custkey",
        "c_mktsegment",
        v_new.alias("valid_from"),
        F.lit(None).cast("timestamp").alias("valid_to"),
    )
    history = closed.unionByName(inserted)
    out = user_scratch_dir("scd2")
    history.write.mode("overwrite").parquet(out)
    back = spark.read.parquet(out)
    return back.select(
        "c_custkey",
        "c_mktsegment",
        "valid_from",
        "valid_to",
        F.when(F.col("valid_to").isNull(), 1).otherwise(0).alias("is_current"),
    )


@register(
    "sink_sorted_clustered",
    oracle="""
SELECT CAST(date_trunc('month', l_shipdate) AS DATE) AS month,
       count(*) AS n_items,
       CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4)))
            AS DOUBLE) AS revenue
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1996-07-01 00:00:00'
GROUP BY 1
""".strip(),
    tags=("sink", "clustering"),
)
def sink_sorted_clustered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sort-clustered parquet layout: rewrite lineitem sorted by
    l_shipdate WITHIN partitions, then answer a date-range question
    from the clustered copy.  sortWithinPartitions (no global sort, no
    extra shuffle) is the layout half of data skipping: with rows
    clustered on the filter column, parquet row-group min/max stats
    become disjoint ranges and the pushed-down predicate prunes most
    row groups at scan time — at 100 TB this is the difference between
    reading six months and reading every file.  The result is
    layout-independent (the oracle reads the original table), which is
    exactly the point: clustering changes the COST, not the answer."""
    src = table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_shipdate", "l_extendedprice", "l_discount"
    )
    out = user_scratch_dir("clustered")
    src.sortWithinPartitions("l_shipdate").write.mode("overwrite").parquet(out)
    back = spark.read.parquet(out).where(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-07-01").cast("timestamp"))
    )
    return back.groupBy(
        F.date_trunc("month", F.col("l_shipdate")).cast("date").alias("month")
    ).agg(
        F.count(F.lit(1)).alias("n_items"),
        F.sum(
            (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                "decimal(18,4)"
            )
        )
        .cast("double")
        .alias("revenue"),
    )


def _interleave_expr(xcol: str, ycol: str, bits: int, div: str) -> str:
    """Morton bit-interleave of two non-negative ints as portable
    integer arithmetic (``div`` = 'div' for Spark SQL, '//' for DuckDB;
    `%` is identical on non-negative operands): bit i of x lands at
    position 2i, bit i of y at 2i+1."""
    terms = []
    for i in range(bits):
        terms.append(f"((({xcol}) {div} {1 << i}) % 2) * {1 << (2 * i)}")
        terms.append(f"((({ycol}) {div} {1 << i}) % 2) * {1 << (2 * i + 1)}")
    return " + ".join(terms)


def _zorder_oracle() -> str:
    z8 = _interleave_expr("xs8", "ys8", 8, "//")
    zh = _interleave_expr("xh", "yh", 3, "//")
    return f"""
WITH o AS (
  SELECT o_custkey AS x,
         date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS y,
         CAST(round(o_totalprice * 100) AS BIGINT) AS cents
  FROM orders
),
b AS (
  SELECT min(x) AS xmin, max(x) AS xmax, min(y) AS ymin, max(y) AS ymax,
         max(x) - min(x) + 1 AS xspan, max(y) - min(y) + 1 AS yspan
  FROM o
),
box AS (
  SELECT xmin, ymin, xspan, yspan,
         xmin + (xspan * 1) // 8 AS x_lo, xmin + (xspan * 3) // 8 AS x_hi,
         ymin + (yspan * 2) // 8 AS y_lo, ymin + (yspan * 5) // 8 AS y_hi
  FROM b
),
z AS (
  SELECT o.x, o.y, o.cents,
         ((o.x - b.xmin) * 256) // b.xspan AS xs8,
         ((o.y - b.ymin) * 256) // b.yspan AS ys8
  FROM o, b
),
zz AS (SELECT x, y, cents, ({z8}) // 1024 AS zbucket FROM z),
cand AS (
  SELECT ({zh}) AS zbucket
  FROM box,
       (SELECT unnest(range(0, 8)) AS xh) xs,
       (SELECT unnest(range(0, 8)) AS yh) ys
  WHERE xh BETWEEN (((x_lo - xmin) * 256) // xspan) // 32
               AND (((x_hi - 1 - xmin) * 256) // xspan) // 32
    AND yh BETWEEN (((y_lo - ymin) * 256) // yspan) // 32
               AND (((y_hi - 1 - ymin) * 256) // yspan) // 32
),
scanned AS (SELECT zz.* FROM zz JOIN cand USING (zbucket))
SELECT (SELECT count(DISTINCT zbucket) FROM zz) AS buckets_total,
       (SELECT count(DISTINCT zbucket) FROM scanned) AS buckets_scanned,
       (SELECT count(*) FROM scanned) AS rows_scanned,
       (SELECT count(*) FROM scanned, box
         WHERE x >= x_lo AND x < x_hi AND y >= y_lo AND y < y_hi) AS n_matched,
       (SELECT CAST(coalesce(sum(cents), 0) AS BIGINT) FROM scanned, box
         WHERE x >= x_lo AND x < x_hi AND y >= y_lo AND y < y_hi)
         AS revenue_cents
""".strip()


@register(
    "sink_zorder",
    oracle=_zorder_oracle(),
    tags=("sink", "clustering"),
    bench=True,
)
def sink_zorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) clustered rewrite + 2-D box query with curve-
    derived bucket pruning — the multi-dimensional extension of
    sink_sorted_clustered: one dimension can be clustered by a plain
    sort, but a (customer, date) box query needs BOTH dimensions local,
    and interleaving their bits gives every bucket a bounding rectangle
    so a box query touches only the buckets whose rectangle intersects
    it (the Delta/Iceberg OPTIMIZE ZORDER layout, public folklore since
    Morton '66).

    Mechanics (all exact integer arithmetic, identical in the oracle):
    coordinates normalize to 8 bits via in-plan min/max spans, the
    16-bit Morton code `zval` sorts rows inside files, its top 6 bits
    (3 per dimension) form the partition bucket, and the query box —
    itself derived in-plan as span fractions, so it intersects at every
    SF — enumerates its candidate buckets from the SAME arithmetic
    (≤64-row grid, no data scan).  The rewrite goes to parquet
    partitioned by bucket; the read back joins the broadcast candidate
    list on the PARTITION column and applies the residual predicate.
    Output: one metrics row — buckets total/scanned, rows scanned vs
    matched, exact revenue — layout-independent, so the oracle
    recomputes it from the raw table; equality proves the pruned scan
    lost nothing.

    Pruning depth, honestly: with the box derived IN-PLAN (this key's
    all-SF determinism requirement), Spark plans the candidate list as
    a broadcast hash join — rows from non-candidate buckets are
    discarded at the join, not at file listing, because the DPP rule
    wants a literal-selective build side.  The production serving path
    is ``zorder_box_probe`` below: bounds arrive as literals (catalog
    stats recorded at write time), the candidate buckets enumerate in
    pure driver arithmetic (no data access), and the literal IN lands
    in the scan's PartitionFilters — actual file-listing pruning,
    pinned by tests/test_plans.py.

    Scale: min/max and the candidate grid are skinny broadcasts; the
    only corpus-sized work is the clustering write's one shuffle. At
    100 TB the bucket count rises with the data (more bits of the same
    code) and a box query reads buckets_scanned/buckets_total of the
    corpus — measured 12/64 at sf0.01 and sf0.1 — instead of everything."""
    out, b = zorder_cluster(spark, sf_dir)
    back = spark.read.parquet(out)

    box = b.select(
        "xmin",
        "ymin",
        "xspan",
        "yspan",
        F.expr("xmin + (xspan * 1) div 8").alias("x_lo"),
        F.expr("xmin + (xspan * 3) div 8").alias("x_hi"),
        F.expr("ymin + (yspan * 2) div 8").alias("y_lo"),
        F.expr("ymin + (yspan * 5) div 8").alias("y_hi"),
    )
    zh = _interleave_expr("xh", "yh", 3, "div")
    cand = (
        box.crossJoin(spark.range(8).select(F.col("id").alias("xh")))
        .crossJoin(spark.range(8).select(F.col("id").alias("yh")))
        .where(
            F.expr(
                "xh BETWEEN (((x_lo - xmin) * 256) div xspan) div 32"
                "       AND (((x_hi - 1 - xmin) * 256) div xspan) div 32"
                " AND yh BETWEEN (((y_lo - ymin) * 256) div yspan) div 32"
                "       AND (((y_hi - 1 - ymin) * 256) div yspan) div 32"
            )
        )
        # INT, matching the re-read partition column's inferred type: a
        # cast on the scan side would block dynamic partition pruning.
        .select(F.expr(zh).cast("int").alias("zbucket"))
    )
    # ONE pass over the clustered copy computes the whole metrics row
    # (round-12 made it one scan; round-13 re-shaped the aggregate):
    # the round-12 form ran TWO countDistinct aggregates over the
    # row-level join, which plans as an Expand that doubles the row
    # stream before the shuffle — the driver's r12 bench had the key
    # 0.71× round-over-round.  Aggregating per zbucket FIRST (map-side
    # partial aggregation, one skinny row per bucket) and joining the
    # broadcast candidate list against the ≤64-row bucket table turns
    # every countDistinct into a plain count and drops the Expand;
    # numbers identical because the scanned/matched predicates are
    # bucket-level (the candidate list is distinct by construction —
    # an 8×8 grid projected through the bijective interleave).
    in_box = (
        (F.col("x") >= F.col("x_lo"))
        & (F.col("x") < F.col("x_hi"))
        & (F.col("y") >= F.col("y_lo"))
        & (F.col("y") < F.col("y_hi"))
    )
    per_bucket = (
        back.crossJoin(F.broadcast(box))
        .groupBy("zbucket")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(in_box.cast("long")).alias("n_in_box"),
            F.sum(F.when(in_box, F.col("cents"))).alias("box_cents"),
        )
    )
    sel = F.col("_c").isNotNull()
    return (
        per_bucket.join(
            F.broadcast(cand.withColumn("_c", F.lit(1))), "zbucket", "left"
        )
        .agg(
            F.count(F.lit(1)).alias("buckets_total"),
            F.count("_c").alias("buckets_scanned"),
            # coalesce(…, 0): the round-8/12 row-level sums returned 0
            # (not null) when nothing is scanned; keep that contract.
            F.coalesce(F.sum(F.when(sel, F.col("n_rows"))), F.lit(0)).alias(
                "rows_scanned"
            ),
            F.coalesce(F.sum(F.when(sel, F.col("n_in_box"))), F.lit(0)).alias(
                "n_matched"
            ),
            F.coalesce(
                F.sum(F.when(sel, F.col("box_cents"))), F.lit(0)
            ).alias("revenue_cents"),
        )
    )

def zorder_cluster(spark: SparkSession, sf_dir: str) -> tuple:
    """Write the z-order clustered copy of orders (see sink_zorder) and
    return (path, bounds frame) — shared by the registered key and the
    serving-path plan test."""
    o = table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("x"),
        F.datediff(F.col("o_orderdate"), F.lit("1995-01-01").cast("date"))
        .cast("bigint")
        .alias("y"),
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
    )
    # Eager checkpoint: the 1-row bounds frame feeds the clustering
    # write, the box, AND the candidate grid — lazily each branch would
    # rescan orders for the same min/max (5 raw scans at sf sizes; at
    # 100 TB these stats come from the catalog, and this is the in-plan
    # equivalent: computed once, 6 integers pinned).
    b = o.agg(
        F.min("x").alias("xmin"),
        F.max("x").alias("xmax"),
        F.min("y").alias("ymin"),
        F.max("y").alias("ymax"),
        (F.max("x") - F.min("x") + 1).alias("xspan"),
        (F.max("y") - F.min("y") + 1).alias("yspan"),
    ).localCheckpoint(eager=True)
    z8 = _interleave_expr("xs8", "ys8", 8, "div")
    clustered = (
        o.crossJoin(F.broadcast(b))
        .withColumn("xs8", F.expr("((x - xmin) * 256) div xspan"))
        .withColumn("ys8", F.expr("((y - ymin) * 256) div yspan"))
        .withColumn("zval", F.expr(z8))
        .withColumn("zbucket", F.expr("zval div 1024"))
        .select("x", "y", "cents", "zval", "zbucket")
    )
    out = user_scratch_dir("zorder")
    clustered.repartition("zbucket").sortWithinPartitions("zval").write.mode(
        "overwrite"
    ).partitionBy("zbucket").parquet(out)
    return out, b


def zorder_candidate_buckets(
    x_lo: int,
    x_hi: int,
    y_lo: int,
    y_hi: int,
    xmin: int,
    xspan: int,
    ymin: int,
    yspan: int,
) -> list[int]:
    """Pure-arithmetic candidate enumeration for a half-open box
    [x_lo, x_hi) × [y_lo, y_hi) over the sink_zorder layout: the same
    truncating-division normalization as the write path, top 3 bits per
    dimension, Morton-interleaved.  No data access — this is the
    driver-side math a catalog probe runs before touching storage."""

    def hi3(v: int, vmin: int, vspan: int) -> int:
        return (((v - vmin) * 256) // vspan) // 32

    xh_lo, xh_hi = hi3(x_lo, xmin, xspan), hi3(x_hi - 1, xmin, xspan)
    yh_lo, yh_hi = hi3(y_lo, ymin, yspan), hi3(y_hi - 1, ymin, yspan)
    out = []
    for xh in range(max(0, xh_lo), min(7, xh_hi) + 1):
        for yh in range(max(0, yh_lo), min(7, yh_hi) + 1):
            z = 0
            for i in range(3):
                z += ((xh >> i) & 1) << (2 * i)
                z += ((yh >> i) & 1) << (2 * i + 1)
            out.append(z)
    return sorted(out)


def zorder_box_probe(
    spark: SparkSession,
    path: str,
    x_lo: int,
    x_hi: int,
    y_lo: int,
    y_hi: int,
    xmin: int,
    xspan: int,
    ymin: int,
    yspan: int,
) -> DataFrame:
    """Serving-path box query over a sink_zorder layout with LITERAL
    bounds (catalog stats recorded at write time): candidate buckets
    enumerate on the driver (zorder_candidate_buckets, pure math), the
    literal IN hits the scan's PartitionFilters — file-listing pruning,
    the thing the in-plan metrics key can't get from Spark's DPP rule —
    and the residual box predicate lands in DataFilters for row-group
    skipping on the zval-sorted files."""
    cands = zorder_candidate_buckets(
        x_lo, x_hi, y_lo, y_hi, xmin, xspan, ymin, yspan
    )
    if not cands:
        raise ValueError("box does not intersect the layout's domain")
    return (
        spark.read.parquet(path)
        .where(F.col("zbucket").isin(cands))
        .where(
            (F.col("x") >= x_lo)
            & (F.col("x") < x_hi)
            & (F.col("y") >= y_lo)
            & (F.col("y") < y_hi)
        )
    )


@register(
    "sink_snapshot_time_travel",
    # The oracle reconstructs BOTH versions straight from the source
    # table: v1 = the base projection; v2 = v1 with bucket-3 orders
    # marked 'X' at an exact-decimal 1.1 markup (sink_merge_upsert's
    # arithmetic convention).  The engine must read each version from
    # its MANIFEST — v1 re-read after the v2 commit proves snapshot
    # isolation.
    oracle="""
WITH base AS (
  SELECT o_orderkey, CAST(o_orderkey % 8 AS INT) AS bucket,
         o_orderstatus, o_totalprice
  FROM orders
),
v2 AS (
  SELECT o_orderkey, bucket,
         CASE WHEN bucket = 3 THEN 'X' ELSE o_orderstatus END AS o_orderstatus,
         CASE WHEN bucket = 3
              THEN CAST(CAST(o_totalprice AS DECIMAL(18,2))
                        * CAST('1.1' AS DECIMAL(3,2)) AS DOUBLE)
              ELSE o_totalprice END AS o_totalprice
  FROM base
)
SELECT 1 AS version, o_orderstatus, count(*) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total
FROM base GROUP BY o_orderstatus
UNION ALL
SELECT 2 AS version, o_orderstatus, count(*) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total
FROM v2 GROUP BY o_orderstatus
""".strip(),
    tags=("sink", "merge"),
)
def sink_snapshot_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot isolation + time travel on plain parquet — the table-
    format capability class (Delta/Iceberg are unavailable as plain
    PySpark in this environment, so the layout IS the point): data
    lives in per-bucket parquet directories, each COMMIT is an
    immutable JSON manifest listing the file set of that version, and
    a reader binds to a manifest, never to a directory listing.

    The run commits v1 (8 bucket files), then a copy-on-write update
    of bucket 3 only (status 'X', exact-decimal 1.1 markup) — v2's
    manifest swaps ONE bucket file and shares the other 7 untouched
    (asserted), which is the Iceberg/Delta cost model: rewrite touched
    files, share the rest, O(changed data) per commit at 100 TB.  The
    returned frame aggregates BOTH versions read back through their
    manifests — reading v1 AFTER the v2 commit must still see the
    original rows (snapshot isolation), and the oracle checks both
    reconstructions by value.  The manifest read is a driver-side
    metadata op (a few hundred bytes), the same class as a table
    format's snapshot log."""
    import json
    import os

    base = table(spark, sf_dir, "orders").select(
        "o_orderkey",
        (F.col("o_orderkey") % 8).cast("int").alias("bucket"),
        "o_orderstatus",
        "o_totalprice",
    )
    # Pid-scoped fixed scratch (swept on crash, overwritten on re-run);
    # ONE partitioned write replaces the 8 per-bucket jobs that each
    # re-scanned orders.
    root = user_scratch_dir("tt")
    v1_dir = os.path.join(root, "v1")
    base.write.mode("overwrite").partitionBy("bucket").parquet(v1_dir)
    v1_files = [os.path.join(v1_dir, f"bucket={b}") for b in range(8)]
    with open(os.path.join(root, "manifest-v1.json"), "w") as fh:
        json.dump({"version": 1, "files": v1_files}, fh)

    # Copy-on-write commit: ONLY bucket 3 is rewritten.
    updated = (
        spark.read.parquet(v1_files[3])
        .withColumn("o_orderstatus", F.lit("X"))
        .withColumn(
            "o_totalprice",
            (
                F.col("o_totalprice").cast("decimal(18,2)")
                * F.lit("1.1").cast("decimal(3,2)")
            ).cast("double"),
        )
    )
    updated.write.mode("overwrite").parquet(os.path.join(root, "v2-bucket3"))
    v2_files = list(v1_files)
    v2_files[3] = os.path.join(root, "v2-bucket3")
    with open(os.path.join(root, "manifest-v2.json"), "w") as fh:
        json.dump({"version": 2, "files": v2_files}, fh)
    assert sum(a != b for a, b in zip(v1_files, v2_files)) == 1  # CoW: 1 file swapped

    outs = []
    for version in (1, 2):
        with open(os.path.join(root, f"manifest-v{version}.json")) as fh:
            manifest = json.load(fh)
        snap = spark.read.parquet(*manifest["files"])
        outs.append(
            snap.groupBy("o_orderstatus").agg(
                F.count(F.lit(1)).alias("n_orders"),
                F.sum(F.col("o_totalprice").cast("decimal(18,4)"))
                .cast("double")
                .alias("total"),
            ).select(
                F.lit(version).alias("version"),
                "o_orderstatus",
                "n_orders",
                "total",
            )
        )
    return outs[0].unionByName(outs[1])
