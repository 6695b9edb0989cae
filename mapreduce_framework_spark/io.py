"""Sources and sinks.

The reference's "dataset = blob container, file = block blob" model
(SURVEY.md §1; reference w7/src/master/dbconn.h:107-113) maps to
directory-of-parquet reads here.  Split planning, record-boundary-safe
text splitting, and ranged reads (reference w7/src/worker/worker.h:42-86,
196-232) are all Spark built-ins — FileSourceScan packs splits by
``spark.sql.files.maxPartitionBytes``.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Dimensions small enough to broadcast at ANY scale factor (bounded-size
# tables: 5 regions / 25 nations, fixed by the schema not by SF).
ALWAYS_BROADCAST = frozenset({"region", "nation"})

DEFAULT_SF_DIR = "/root/testdata/sf0.001"


def sf_dir_from_env(default: str = DEFAULT_SF_DIR) -> str:
    return os.environ.get("SPARK_GRAFT_SF_DIR", default)


def user_tmp_root(prefix: str) -> str:
    """Mode-0700 per-user directory under the temp dir — the ONE
    implementation of the pattern (a predictable name directly under
    world-writable /tmp would let another local user pre-create and
    poison the path; the round-8 ADVICE class).  Shared by the cache
    root below and the scratch roots, so a future hardening (e.g. an
    ownership check against symlink races) lands once."""
    import tempfile

    root = os.path.join(tempfile.gettempdir(), f"{prefix}_u{os.getuid()}")
    os.makedirs(root, mode=0o700, exist_ok=True)
    os.chmod(root, 0o700)  # pre-existing dir keeps its old mode otherwise
    return root


def user_cache_root() -> str:
    """Per-user root for the build-once artifact caches (spilled
    corpora, persisted adjacency/index caches) — deliberately shared
    ACROSS PROCESSES of one user: keyed by source-file identity,
    atomic-rename published."""
    return user_tmp_root("mfs_cache")


def cache_sf_token(sf_dir: str) -> str:
    """Collision-proof scale-factor component for cache keys and GC
    families.  A bare ``basename(sf_dir)`` is ambiguous under
    :func:`reap_superseded`'s prefix matching: family ``kind_sf1``
    prefix-matches ``kind_sf1_alt_...``, which puts sf1_alt's LIVE
    cache inside sf1's family where one idle hour gets it reaped
    (round-10 ADVICE).  Suffixing a short hash of the full normalized
    path keeps same-SF tokens identical across sessions while making
    cross-SF prefix nesting impossible in practice (the basenames
    would have to nest AND the 24-bit-truncated hashes align exactly
    at the nesting boundary)."""
    import hashlib

    p = os.path.normpath(os.path.abspath(sf_dir))
    return f"{os.path.basename(p)}.{hashlib.sha1(p.encode()).hexdigest()[:6]}"


def reap_superseded(family: str, keep: str, age_s: float = 3600.0) -> list[str]:
    """Generation GC for the build-once artifact caches (round-9
    verdict task #6: ``user_cache_root()`` accreted one directory per
    (sf, file-identity, params) forever).  Removes sibling cache dirs
    that share ``family`` (the stable prefix: artifact kind + every
    component that may legitimately coexist, e.g. the SF) but are not
    ``keep`` — i.e. generations whose file-identity/params/version
    component changed, which by the cache-key contract means their
    input or code is gone.  The ``age_s`` guard (default 1 h) keeps a
    concurrent session on an older code version from having its
    artifact reaped mid-read: a superseded dir is only removed once it
    has sat untouched past the guard.  Returns the reaped names (for
    the unit test); never raises — GC must not fail a query."""
    import shutil
    import time

    root = user_cache_root()
    prefix = family if family.endswith("_") else family + "_"
    if not (keep.startswith(prefix) or keep == family):
        raise ValueError(
            f"reap_superseded: keep={keep!r} is not in family {family!r} — "
            "the sweep would reap the artifact it just published"
        )
    reaped: list[str] = []
    now = time.time()
    try:
        names = os.listdir(root)
    except OSError:
        return reaped
    for name in names:
        if name == keep or not name.startswith(prefix):
            continue
        path = os.path.join(root, name)
        try:
            if not os.path.isdir(path) or now - os.path.getmtime(path) < age_s:
                continue
            shutil.rmtree(path, ignore_errors=True)
            reaped.append(name)
        except OSError:
            continue
    return reaped


def publish_cached(
    cache_name: str, build, family: str | None = None, reap_age_s: float = 3600.0
) -> str:
    """The ONE stage-then-atomic-rename cache publish (previously
    copy-pasted between the mapreduce corpus spill and the kv-sink
    cache — a hardening of the publish race must land once, here).

    ``build(staged_path)`` materializes the artifact at a private
    staged path; the finished directory is then renamed to
    ``user_cache_root()/cache_name``.  Cross-session safe: rename is
    atomic, the loser of a concurrent-create race discards its copy,
    and readers only ever see a complete directory.  The CALLER owns
    key hygiene: ``cache_name`` must encode everything the artifact
    depends on — source-file identity AND a version component for any
    code the output derives from (a stale artifact under an
    input-only key survives code changes and fails oracles forever).

    ``family`` opts into generation GC: pass the stable prefix of
    ``cache_name`` (kind + SF + fixed params — everything EXCEPT the
    file-identity/version tail; build the SF component with
    :func:`cache_sf_token`, not a bare basename) and superseded
    sibling generations are swept via :func:`reap_superseded` after
    publish.

    Lazy-read window (documented limit): the mtime touch below marks
    last USE at cache-lookup time, but a Spark plan built over the
    returned path executes lazily — an action fired more than
    ``reap_age_s`` after the lookup, with a newer generation published
    in between and no intervening lookup, can lose the superseded
    parquet mid-read to another session's sweep.  The repo's readers
    re-resolve the cache per query invocation (every *_probe key calls
    its cache fn before building the plan), which bounds the
    lookup-to-action gap to one query's planning time — orders of
    magnitude inside the 1 h guard.
    """
    import shutil
    import tempfile

    dest = os.path.join(user_cache_root(), cache_name)
    if os.path.isdir(dest):
        # Refresh the dir mtime on every cache HIT: reap_superseded's
        # age guard keys on mtime, and reads alone never update it — a
        # session steadily USING an older-generation artifact would
        # otherwise look idle and get reaped mid-read by a newer
        # session's publish (round-10 review finding).  With the touch,
        # mtime approximates last use and the guard means what its
        # docstring says.
        try:
            os.utime(dest)
        except OSError:
            pass
    else:
        stage = tempfile.mkdtemp(prefix=f"{cache_name}_stage_")
        staged = os.path.join(stage, "artifact")
        build(staged)
        try:
            os.rename(staged, dest)
        except OSError:
            # Only the lost-race shape is benign (a concurrent session
            # published first, so dest now exists and is complete).  A
            # rename that failed for any OTHER reason — EXDEV when
            # TMPDIR moved across filesystems between calls, EACCES —
            # must not fall through to "return a path that isn't
            # there": that surfaces later as a baffling missing-path
            # error far from the cause (round-9 ADVICE).
            if not os.path.isdir(dest):
                shutil.rmtree(stage, ignore_errors=True)
                raise
        shutil.rmtree(stage, ignore_errors=True)
    if family is not None:
        reap_superseded(family, keep=cache_name, age_s=reap_age_s)
    return dest


def user_scratch_dir(kind: str) -> str:
    """Pid-scoped FIXED scratch path under a per-user 0700 root — the
    ONLY per-call scratch policy in the package: every query artifact
    and stream replay lives here, nowhere else under the temp dir
    (tests/test_scratch_lifecycle.py guards the package for stray
    ``mkdtemp``/``gettempdir`` calls).

    Fixed, not mkdtemp-fresh: repeated invocations in one process
    overwrite instead of accrete, so disk holds at most one copy per
    (kind, live pid).  The dead-pid sweep of sibling entries reclaims
    what crashed or killed processes left behind.  Callers whose
    returned frame reads the scratch lazily keep it until the next call
    of the same kind; callers that finish eagerly delete it before
    returning.  Returns the path; the caller creates/overwrites it."""
    import shutil

    root = user_tmp_root("mfs_scratch")
    for entry in os.listdir(root):
        try:
            pid = int(entry.rsplit("_", 1)[1])
        except (ValueError, IndexError):
            continue
        if pid == os.getpid():
            continue
        try:
            os.kill(pid, 0)
        except ProcessLookupError:
            shutil.rmtree(os.path.join(root, entry), ignore_errors=True)
        except PermissionError:
            pass  # live pid owned by someone else — leave it
    return os.path.join(root, f"{kind}_{os.getpid()}")


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one table. Parquet scan → column pruning + predicate pushdown
    happen automatically once the caller selects/filters.

    ``events.ts`` must surface as TIMESTAMP (not TIMESTAMP_NTZ):
    watermarks and epoch casts require it, and with the session timezone
    pinned to UTC the values are bit-identical to the naive timestamps
    DuckDB reads from the same files.  The testdata generator has shipped
    the column both as parquet TIMESTAMP(NANOS) — which Spark's
    vectorized reader rejects, so we read raw nanos (legacy conf) and
    truncate to microseconds, the same ns→µs truncation DuckDB applies —
    and as TIMESTAMP(MICROS, isAdjustedToUTC=false), which a default
    session infers as TIMESTAMP_NTZ; both normalize to TIMESTAMP here.
    """
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(path)
        ts_type = dict(df.dtypes).get("ts")
        if ts_type == "bigint":
            from pyspark.sql import functions as F

            # Integer division: double division of int64 nanos loses
            # precision above 2^53 and shifts timestamps by ±1 µs.
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif ts_type == "timestamp_ntz":
            from pyspark.sql import functions as F

            # NTZ→LTZ cast interprets the naive value in the session
            # timezone; pinned UTC makes it value-preserving.
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
        return df
    return spark.read.parquet(path)


def read_text_corpus(spark: SparkSession, path: str) -> DataFrame:
    """Reference-fidelity text source: one row per line, line-boundary-safe
    splits (reference fixes word boundaries by hand, worker.h:196-232;
    Spark's text source does this natively)."""
    return spark.read.text(path)


def write_parquet(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """Default sink. One file per partition mirrors the reference's
    ``out_<reducer_id>`` blob-per-reducer layout (workerimpl.cc:319-333)."""
    df.write.mode(mode).parquet(path)
