"""End-to-end reference-contract job as a hash-checked query.

Runs the full compat path (text source → user mapfunc via mapInPandas →
hash shuffle on key → user reducefunc → key:value text sink → re-read)
with OUR implementations of the reference's sample word-count
map/reduce contract, and checks it against the same DuckDB oracle as
the declarative flagship ``wordcount``.  Proves a reference user's
job runs unchanged AND produces identical answers to the fast path.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mapreduce_framework_spark import compat
from mapreduce_framework_spark.functions.tokenize import tokenize_sql_duckdb
from mapreduce_framework_spark.io import table, user_scratch_dir
from mapreduce_framework_spark.registry import register

_ORACLE = f"""
SELECT word, count(*) AS cnt
FROM (
    SELECT unnest({tokenize_sql_duckdb('text')}) AS word
    FROM documents
)
GROUP BY word
""".strip()


def _spill_corpus(spark: SparkSession, sf_dir: str) -> str:
    """Spill documents.text to a one-doc-per-line text corpus, cached
    per (sf, source-file identity): the corpus is a pure function of
    documents.parquet, so repeated invocations share one copy — the
    round-6 switch to per-invocation dirs (a real two-session race fix
    for OUTPUT paths) also made every bench run re-spill the corpus,
    pricing the key 1.5× its round-5 time.  Inputs are immutable once
    written, so caching the INPUT spill is safe; output dirs stay
    per-process (io.user_scratch_dir).  Cross-session safe: staged in
    a private dir, then atomically renamed into place — the loser of a
    concurrent-create race discards its copy, and readers only ever
    see a complete directory (rename is atomic; no partially-written
    corpus exists under the published name)."""
    st = os.stat(os.path.join(sf_dir, "documents.parquet"))
    # cache_sf_token: path-hash-suffixed basename, so no sf_dir
    # basename can nest inside another SF's GC family (round-10
    # ADVICE; also covers the older trailing-slash degeneration).
    from mapreduce_framework_spark.io import cache_sf_token, publish_cached

    sf_base = cache_sf_token(sf_dir)
    key = f"{sf_base}_{st.st_size}_{st.st_mtime_ns}"

    def build(staged: str) -> None:
        table(spark, sf_dir, "documents").select("text").write.mode(
            "overwrite"
        ).text(staged)

    # Input-identity key alone is sound HERE (unlike the kv-sink cache,
    # which also hashes its code version): the spill is a pure
    # projection of documents.parquet, no derivation code to go stale.
    return publish_cached(
        f"mfs_mr_corpus_{key}",
        build,
        family=f"mfs_mr_corpus_{sf_base}",
    )


@register("mapreduce_job_wordcount", oracle=_ORACLE, tags=("compat", "udf"), bench=True)
def mapreduce_job_wordcount(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference job contract end-to-end: documents.text spilled to a
    text corpus (one doc per line — the reference's file-of-lines input
    model), then mapfunc/reducefunc with R=5 (the graded small run's R,
    w6/docs/workshop9.md:17)."""
    # OUTPUT dir: the pid-scoped scratch path — two sessions on one host
    # never share it, so neither can overwrite the other's sink while
    # its lazy re-read is mid-scan; repeated calls in one process
    # overwrite their own.  The INPUT corpus is cached (_spill_corpus).
    run_dir = user_scratch_dir("mr")
    corpus = _spill_corpus(spark, sf_dir)
    out = os.path.join(run_dir, "out")
    result = compat.run_job(
        spark,
        corpus,
        compat.make_wordcount_mapfunc(),
        compat.make_wordcount_reducefunc(),
        num_reducers=5,
        output_path=out,
    )
    return result.select(
        F.col("key").alias("word"), F.col("value").alias("cnt")
    )


_CHAIN_ORACLE = f"""
SELECT substring(word, 1, 1) AS letter, count(*) AS total
FROM (
    SELECT unnest({tokenize_sql_duckdb('text')}) AS word
    FROM documents
)
GROUP BY 1
""".strip()


def _make_first_letter_mapfunc():
    """Second-stage mapfunc: consumes the FIRST job's ``key:value``
    output lines (word:count) and re-keys counts by first letter.
    Closure-built so cloudpickle ships it by value (executors never
    import this package)."""

    def mapfunc(path: str) -> dict[str, int]:
        counts: dict[str, int] = {}
        with open(path, encoding="utf-8", errors="replace") as f:
            for line in f:
                line = line.rstrip("\n")
                if not line:
                    continue
                key, _, value = line.rpartition(":")
                if key:
                    letter = key[0]
                    counts[letter] = counts.get(letter, 0) + int(value)
        return counts

    return mapfunc


@register("mapreduce_job_chained", oracle=_CHAIN_ORACLE, tags=("compat", "udf"))
def mapreduce_job_chained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Closure under composition, end-to-end (design.md:74: "output …
    must be in the same format as we expect from input"): job 1 is the
    reference word count; job 2's INPUT PATH is job 1's text sink
    directory, unmodified — its mapfunc parses the ``word:count`` lines
    and re-keys totals by first letter, its reducefunc is the stock sum
    reducer.  The oracle recomputes the composition declaratively from
    the source corpus, so the hash proves the two chained opaque-UDF
    jobs equal one two-level aggregation — chaining loses nothing."""
    # Pid-scoped OUTPUT dir as in mapreduce_job_wordcount above; shared
    # cached input corpus likewise.
    run_dir = user_scratch_dir("mrc")
    corpus = _spill_corpus(spark, sf_dir)
    mid = os.path.join(run_dir, "mid")
    compat.run_job(
        spark,
        corpus,
        compat.make_wordcount_mapfunc(),
        compat.make_wordcount_reducefunc(),
        num_reducers=5,
        output_path=mid,
    )
    result = compat.run_job(
        spark,
        mid,  # job 2 reads job 1's sink as-is: the chaining invariant
        _make_first_letter_mapfunc(),
        compat.make_wordcount_reducefunc(),
        num_reducers=3,
    )
    return result.select(F.col("key").alias("letter"), F.col("value").alias("total"))
