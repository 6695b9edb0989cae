"""One benchmark run inside a fresh interpreter.

``run.py`` starts this process in its own session with an isolated
``TMPDIR``; everything the engine writes lands there.  The worker sets
the engine up, warms it, runs one workload as a single closed-loop
client (the next job is submitted only after the previous result is
collected), gates every timed job against its answer outside the timed
region, and writes its raw measurements to ``--out`` as JSON.

With ``--trace 1`` it also records spans around each call into the
program's modules, runs the per-layer probes, and reads Spark's event
log and streaming progress once the session has stopped.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import sys
import threading
import time

import corpus
import procs
import tracer

# One query per layer the mix must cover: the declarative and contract
# word counts (functions, compat, io cache), a multi-way join, a
# TPC-H-shaped plan, a window, an operator-backed top-k and a stateful
# micro-batched stream.  A longer list makes every run too long: job_mix
# warms up with two full passes, and a cold pass over twelve queries takes
# ~40 s on 4 cores.  The count is odd so that the median job of whole
# passes is one query's, not the mean of two unlike ones.
MIX = (
    "wordcount",
    "mapreduce_job_wordcount",
    "join_multiway",
    "sql_q5_shape",
    "window_sessionize",
    "sim_search_topk",
    "stream_tumbling_count",
)
MIX_TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def _parse() -> argparse.Namespace:
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True, choices=("mr_contract", "job_mix"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--root", required=True, help="checkout root holding the program")
    p.add_argument("--corpus", help="generated corpus (mr_contract, and every traced run)")
    p.add_argument("--mix-dir", required=True, help="table directory of job_mix")
    p.add_argument("--spawned", type=float, required=True, help="time.monotonic() at spawn")
    p.add_argument("--out", required=True)
    return p.parse_args()


# ---------------------------------------------------------------- gates

def _norm(v):
    """Cell normalization of the repository's oracle comparison
    (tools/verify_local.py): decimals as floats, floats to 9 places,
    timestamps and dates as ISO text, sequences as tuples."""
    import math
    from datetime import date, datetime
    from decimal import Decimal

    if isinstance(v, Decimal):
        return float(v)
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else round(v, 9)
    if isinstance(v, datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    return v


def normalized(cols, rows):
    """Columns sorted by name, cells normalized, rows sorted: the
    order-insensitive form two engines' results are compared in."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(_norm(r[i]) for i in order) for r in rows]
    out.sort(key=lambda t: tuple((str(type(x)), str(x)) for x in t))
    return [cols[i] for i in order], out


def counts_of(table, key: str, value: str) -> dict[str, int]:
    return dict(zip(table.column(key).to_pylist(), table.column(value).to_pylist()))


def wordcount_gate(answer: dict[str, int], got: dict[str, int]) -> str | None:
    """None when ``got`` equals the answer key, else what differs."""
    if got == answer:
        return None
    missing = answer.keys() - got.keys()
    extra = got.keys() - answer.keys()
    wrong = [k for k in answer.keys() & got.keys() if answer[k] != got[k]]
    return f"{len(missing)} missing, {len(extra)} extra, {len(wrong)} wrong counts (e.g. {sorted(wrong)[:3]})"


class MixOracle:
    """DuckDB answers for the mix, computed on first use and kept."""

    def __init__(self, sf_dir: str):
        import duckdb

        self.con = duckdb.connect()
        for t in MIX_TABLES:
            path = os.path.join(sf_dir, f"{t}.parquet")
            if os.path.exists(path):
                self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
        self._cache: dict[str, tuple] = {}

    def gate(self, spec, cols, rows) -> str | None:
        if spec.name not in self._cache:
            res = self.con.execute(spec.oracle)
            self._cache[spec.name] = normalized([d[0] for d in res.description], res.fetchall())
        want_cols, want = self._cache[spec.name]
        got_cols, got = normalized(cols, rows)
        if got_cols != want_cols:
            return f"columns {got_cols} != oracle {want_cols}"
        if got != want:
            return f"{len(got)} rows differ from the oracle's {len(want)}"
        return None


# ------------------------------------------------------------- workloads

class MrContract:
    """``mr_contract``: the reference's own job, one per iteration, over
    the seeded corpus, gated against the corpus answer key."""

    # The first job pays JIT, codegen and Python worker start; the second
    # is still measurably slower than the third.
    WARMUP_JOBS = 2

    def __init__(self, spark, corpus_path: str, tr: tracer.Tracer, tmp: str):
        from mapreduce_framework_spark import compat

        self.spark, self.path, self.tr, self.tmp = spark, corpus_path, tr, tmp
        self.meta = corpus.read_meta(corpus_path)
        self.answer = corpus.read_answer(corpus_path)
        self.shards = os.path.join(corpus_path, "shards")
        self.compat = compat
        self.mapfunc = compat.make_wordcount_mapfunc()
        self.reducefunc = compat.make_wordcount_reducefunc()
        self.seq = 0

    def _run(self, job):
        self.seq += 1
        out = os.path.join(self.tmp, f"mr_out_{self.seq}")
        with self.tr.span("compat.run_job", job):
            df = self.compat.run_job(
                self.spark, self.shards, self.mapfunc, self.reducefunc,
                num_reducers=self.meta["reducers"], output_path=out,
            )
        # 10^5+ result rows come back as Arrow, the engine's bulk lane.
        with self.tr.span("compat.collect", job):
            table = df.toArrow()
        return table, out

    def warmup(self) -> None:
        for _ in range(self.WARMUP_JOBS):
            shutil.rmtree(self._run(None)[1], ignore_errors=True)

    def units(self, rng):
        while True:
            yield ["mr_contract"]

    def job(self, name: str, job: str):
        """Run one timed job; return (seconds, gate) where ``gate()``
        checks the result and is called outside the timed region."""
        t0 = time.perf_counter()
        table, out = self._run(job)
        dt = time.perf_counter() - t0

        def gate():
            try:
                return wordcount_gate(self.answer, counts_of(table, "key", "value"))
            finally:
                shutil.rmtree(out, ignore_errors=True)

        return dt, gate

    def input_bytes(self, name: str) -> int:
        return self.meta["text_bytes"]


class MixWorkload:
    """``job_mix``: the registry queries over a small star schema, each
    run once per pass; the seed orders every measured pass."""

    def __init__(self, spark, sf_dir: str, tr: tracer.Tracer):
        from mapreduce_framework_spark.registry import get_query

        self.spark, self.sf_dir, self.tr = spark, sf_dir, tr
        self.specs = {n: get_query(n) for n in MIX}
        self.oracle = None  # opened at the first gate, outside set-up
        sizes = {t: os.path.getsize(os.path.join(sf_dir, f"{t}.parquet")) for t in MIX_TABLES}
        # A query's input is every table its oracle reads.
        self.bytes = {
            n: sum(sz for t, sz in sizes.items() if _reads(s.oracle, t))
            for n, s in self.specs.items()
        }

    def run(self, name: str, job):
        spec = self.specs[name]
        with self.tr.span(f"queries.{name}.call", job):
            df = spec.fn(self.spark, self.sf_dir)
        with self.tr.span(f"queries.{name}.collect", job):
            rows = df.collect()
        return spec, df.columns, rows

    # The first pass pays each query's first-call costs; jobs still get
    # faster over the next one, as the JIT compiles the hot paths.
    WARMUP_PASSES = 2

    def warmup(self) -> None:
        for _ in range(self.WARMUP_PASSES):
            for name in MIX:
                self.run(name, None)

    def units(self, rng):
        while True:
            order = list(MIX)
            rng.shuffle(order)
            yield order

    def job(self, name: str, job: str):
        t0 = time.perf_counter()
        spec, cols, rows = self.run(name, job)
        dt = time.perf_counter() - t0

        def gate():
            if self.oracle is None:
                self.oracle = MixOracle(self.sf_dir)
            return self.oracle.gate(spec, cols, rows)

        return dt, gate

    def input_bytes(self, name: str) -> int:
        return self.bytes[name]


def _reads(sql: str, table: str) -> bool:
    import re

    return re.search(rf"\b{table}\b", sql) is not None


def corpus_probes(spark, tr: tracer.Tracer, corpus_path: str, tmp: str) -> list[str]:
    """Per-layer probes over the seeded corpus, each layer called once
    from outside, warm.  The declarative word count over the corpus and
    its trip through the ``key:value`` sink are gated against the answer
    key the contract jobs are gated against; returns what failed."""
    from pyspark.sql import functions as F

    from mapreduce_framework_spark import compat, io
    from mapreduce_framework_spark.functions.tokenize import tokens
    from mapreduce_framework_spark.registry import get_query

    meta = corpus.read_meta(corpus_path)
    answer = corpus.read_answer(corpus_path)
    shards = os.path.join(corpus_path, "shards")
    mapfunc = compat.make_wordcount_mapfunc()

    def noop(df):
        df.write.format("noop").mode("overwrite").save()

    with tr.span("io.parquet_scan"):
        noop(io.table(spark, corpus_path, "documents").select("text"))
    with tr.span("io.text_scan"):
        noop(io.read_text_corpus(spark, shards))
    with tr.span("functions.tokenize_scan"):
        docs = io.table(spark, corpus_path, "documents").select("text")
        noop(docs.select(F.explode(tokens(F.col("text"))).alias("word")))
    with tr.span("compat.mapfunc"):
        mapfunc(os.path.join(shards, sorted(os.listdir(shards))[0]))
    with tr.span("compat.run_job_nosink"):
        noop(compat.run_job(
            spark, shards, mapfunc, compat.make_wordcount_reducefunc(),
            num_reducers=meta["reducers"],
        ))

    errors = []
    with tr.span("queries.wordcount.corpus"):
        declarative = get_query("wordcount").fn(spark, corpus_path).toArrow()
    err = wordcount_gate(answer, counts_of(declarative, "word", "cnt"))
    if err:
        errors.append(f"declarative wordcount over the corpus: {err}")
    kv = spark.createDataFrame(declarative.rename_columns(["key", "value"]).to_pandas()).cache()
    kv.count()
    sink = os.path.join(tmp, "probe_sink")
    with tr.span("compat.sink_write"):
        compat.write_kv_text(kv, sink)
    with tr.span("compat.sink_read"):
        back = compat.read_kv_text(spark, sink).toArrow()
    err = wordcount_gate(answer, counts_of(back, "key", "value"))
    if err:
        errors.append(f"key:value sink round trip: {err}")
    kv.unpersist()
    shutil.rmtree(sink, ignore_errors=True)
    return errors


class RssSampler:
    """Peak resident memory of the engine while a job runs: the driver
    JVM plus Python workers, i.e. this session's processes other than
    the benchmark's own interpreter, sampled from ``/proc``."""

    def __init__(self, interval: float = 0.1):
        self.interval = interval
        self.peak = 0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def _loop(self) -> None:
        me = os.getpid()
        sid = os.getsid(0)
        while not self._stop.wait(self.interval):
            rss = sum(procs.rss_bytes(p) for p in procs.session_pids(sid) if p != me)
            with self._lock:
                self.peak = max(self.peak, rss)

    def take(self) -> int:
        """Peak since the last call."""
        with self._lock:
            peak, self.peak = self.peak, 0
        return peak

    def close(self) -> None:
        self._stop.set()
        self._thread.join()


# ------------------------------------------------------------------ main

def main() -> int:
    args = _parse()
    sys.path.insert(0, args.root)
    tr = tracer.Tracer(enabled=bool(args.trace))
    result: dict = {"workload": args.workload, "seed": args.seed, "jobs": []}

    with tr.span("session.get_spark"):
        from mapreduce_framework_spark.session import get_spark

        spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    with tr.span("session.first_job"):
        spark.range(1000).selectExpr("sum(id)").collect()

    tmp = os.environ["TMPDIR"]
    mix = MixWorkload(spark, args.mix_dir, tr) if args.workload == "job_mix" or args.trace else None
    wl = mix if args.workload == "job_mix" else MrContract(spark, args.corpus, tr, tmp)

    probe = tracer.RunProbe(spark) if args.trace else None
    with tr.span("warmup"):
        if probe:
            probe.cache.before()
        wl.warmup()
        if probe:
            probe.cache.after()
    result["setup_s"] = time.monotonic() - args.spawned

    if probe:
        probe.begin_measured()
    rss = RssSampler()
    rng = random.Random(args.seed)
    # Whole units (a job, or a pass of the mix) until --seconds of job
    # time have been measured.
    busy = 0.0
    units = wl.units(rng)
    while busy < args.seconds:
        for name in next(units):
            jid = f"job{len(result['jobs'])}"
            if probe:
                probe.cache.before()
            rss.take()
            t0 = time.perf_counter()
            try:
                with tr.span("job", jid, query=name):
                    dt, gate = wl.job(name, jid)
            except Exception as exc:  # a failed job is counted, not fatal
                dt, err = time.perf_counter() - t0, f"{type(exc).__name__}: {exc}"
            else:
                err = gate()
            peak = rss.take()
            if probe:
                probe.cache.after()
            busy += dt
            result["jobs"].append({
                "name": name, "s": dt, "error": err, "input_bytes": wl.input_bytes(name),
                "peak_rss": peak,
            })
    rss.close()

    if probe:
        # Every traced run measures every layer: the corpus probes, and
        # on mr_contract one pass of the mix (its queries and streams).
        with tr.span("probes"):
            result["probe_errors"] = corpus_probes(spark, tr, args.corpus, tmp)
            if wl is not mix:
                for name in MIX:
                    mix.run(name, f"probe-{name}")
        probe.end_measured()
    spark.stop()

    if args.trace:
        result["layers"] = tracer.layer_metrics(
            tr, probe, tokens=corpus.read_meta(args.corpus)["tokens"], mix=MIX,
        )
        result["spans"] = tr.spans
    with open(args.out, "w") as f:
        json.dump(result, f)
    return 0


if __name__ == "__main__":
    sys.exit(main())
