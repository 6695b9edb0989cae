"""Sources and sinks.

The reference's "dataset = blob container, file = block blob" model
(SURVEY.md §1; reference w7/src/master/dbconn.h:107-113) maps to
directory-of-parquet reads here.  Split planning, record-boundary-safe
text splitting, and ranged reads (reference w7/src/worker/worker.h:42-86,
196-232) are all Spark built-ins — FileSourceScan packs splits by
``spark.sql.files.maxPartitionBytes``.
"""

from __future__ import annotations

import functools
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
    """Per-user root for the build-once artifact caches of
    :func:`publish_cached` — deliberately shared ACROSS PROCESSES of one
    user: names are derived from input identity and code version, and
    every publish is an atomic rename."""
    return user_tmp_root("mfs_cache")


def _sf_token(sf_dir: str) -> str:
    """Scale-factor component of a cache family: the basename (readable)
    plus a short hash of the full normalized path, so two SF dirs that
    share a basename never share a family, while every spelling of one
    path (relative, trailing slash) maps to the same token."""
    import hashlib

    p = os.path.normpath(os.path.abspath(sf_dir))
    return f"{os.path.basename(p)}.{hashlib.sha1(p.encode()).hexdigest()[:6]}"


@functools.cache
def _code_version() -> str:
    """sha1 of every ``.py`` source in this package, computed once per
    process: the ONE code version of every cached artifact."""
    import hashlib
    import pathlib

    pkg = pathlib.Path(__file__).parent
    h = hashlib.sha1()
    for f in sorted(pkg.rglob("*.py")):
        h.update(str(f.relative_to(pkg)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()[:8]


def reap_superseded(family: str, keep: str, age_s: float = 3600.0) -> list[str]:
    """Generation GC for :func:`publish_cached`: removes the cache dirs
    of ``family`` other than ``keep`` — generations whose input identity
    or code version changed, so no current caller can ask for them
    again.  Families match exactly, never by prefix, so artifacts of
    another kind, SF or parameter set are untouchable.  The ``age_s``
    guard keeps a concurrent session on an older code version from
    having its artifact reaped mid-read: a superseded dir goes only
    once it has sat untouched (no cache hit) past the guard.  Returns
    the reaped names; never raises — GC must not fail a query."""
    import shutil
    import time

    root = user_cache_root()
    reaped: list[str] = []
    now = time.time()
    try:
        names = os.listdir(root)
    except OSError:
        return reaped
    for name in names:
        # Names are <family>-<generation> and a generation holds no
        # "-", so the family is everything before the last one.
        if name == keep or name.rpartition("-")[0] != family:
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


def publish_cached(kind: str, sf_dir: str, table: str, build, params: str = "") -> str:
    """Build-once artifact cache: returns ``user_cache_root()/<name>``,
    calling ``build(staged_path)`` only when no artifact of that name
    exists yet.

    io owns key hygiene; callers only name the artifact.  The artifact
    must be a function of ``<sf_dir>/<table>.parquet``, ``params`` and
    this package's code, nothing else.  The name is
    ``<kind>_<sf token>[_<params>]-<size>_<mtime_ns>_<code version>``:

    - the part before the last ``-`` is the GC family (kind, SF,
      params — the axes along which artifacts legitimately coexist);
    - the generation after it is the input file's ``st_size`` and
      ``st_mtime_ns`` plus the code version.

    Code-version rule: the version is a hash of every ``.py`` file in
    the package (:func:`_code_version`), so ANY code change starts a
    new generation of EVERY cache.  That is coarse on purpose: a
    per-artifact version has to list what the artifact derives from,
    and a list that misses a helper serves a stale artifact against a
    fresh oracle until someone clears the cache by hand.

    Publish: ``build`` writes at a private staged path, then one
    atomic rename moves the complete directory into place; the loser
    of a concurrent-create race discards its copy, so readers only
    ever see complete artifacts.  Every call then sweeps the family's
    superseded generations (:func:`reap_superseded`, 1 h age guard).

    A hit refreshes the directory mtime, so the age guard measures time
    since last USE.  Lazy-read window (documented limit): a Spark plan
    over the returned path executes lazily; an action fired more than
    the guard after the lookup, with a newer generation published in
    between, can lose the superseded parquet mid-read.  The repo's
    readers resolve the cache per query invocation, which bounds the
    lookup-to-action gap to one query's planning time."""
    import shutil
    import tempfile

    st = os.stat(os.path.join(sf_dir, f"{table}.parquet"))
    family = "_".join(p for p in (kind, _sf_token(sf_dir), params) if p)
    name = f"{family}-{st.st_size}_{st.st_mtime_ns}_{_code_version()}"
    dest = os.path.join(user_cache_root(), name)
    if os.path.isdir(dest):
        try:
            os.utime(dest)
        except OSError:
            pass
    else:
        stage = tempfile.mkdtemp(prefix=f"{name}_stage_")
        try:
            staged = os.path.join(stage, "artifact")
            build(staged)
            try:
                os.rename(staged, dest)
            except OSError:
                # Only the lost-race shape is benign (a concurrent
                # session published first, so dest now exists and is
                # complete).  Any other failure — EXDEV when TMPDIR
                # moved across filesystems, EACCES — must raise here,
                # not return a path that is not there.
                if not os.path.isdir(dest):
                    raise
        finally:
            shutil.rmtree(stage, ignore_errors=True)
    reap_superseded(family, keep=name)
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
