"""The repository's benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload WORKLOAD --seed N --seconds S --trace 0|1

Run from the root of a checkout.  Workloads (see BENCHMARK.json):

* ``mr_contract`` - the reference's own job: ``compat.run_job`` word
                    count over M seeded text shards into R ``key:value``
                    files, read back and collected.
* ``job_mix``     - a fixed list of registry queries over the small star
                    schema in ``perfbench/mixdata/sf0.01``, each once per
                    pass, in an order drawn from the seed.

Each run starts a fresh interpreter (``worker.py``) in its own session
with ``TMPDIR``, ``SPARK_LOCAL_DIRS`` and the JVM temp dir pointed at a
fresh directory under ``perfbench/.runs``; every cache, scratch and
output directory the program creates lands there, and the directory and
every process of the session are gone when the run ends.  Spark runs as
``local[<cpus>]`` with one closed-loop client.

The last line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``.  A traced run
also probes each layer over the seeded corpus (the registry
``wordcount`` and the ``key:value`` sink round trip are gated against
the corpus answer key) and writes
``perfbench/.results/trace_<workload>/spans.json`` and ``layers.txt``.
A wrong or failed job makes the exit code 1; a missing program, 2.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import signal
import statistics
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
DATA = os.path.join(BENCH, ".data")
RUNS = os.path.join(BENCH, ".runs")
RESULTS = os.path.join(BENCH, ".results")
MIX_DIR = os.path.join(BENCH, "mixdata", "sf0.01")
WORKLOADS = ("mr_contract", "job_mix")
DEADLINE_S = 165  # a run that has not finished by then is killed and fails
KEEP_CORPORA = 12
DRIVER_MEM = "2g"
TAIL_BEYOND = 10

sys.path.insert(0, BENCH)
import corpus  # noqa: E402
import procs  # noqa: E402
import tracer  # noqa: E402


def _parse(argv) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _sweep_stale_runs() -> None:
    """Remove run directories whose run process is gone."""
    if not os.path.isdir(RUNS):
        return
    for name in os.listdir(RUNS):
        try:
            pid = int(name.rsplit("_", 1)[1])
        except (IndexError, ValueError):
            continue
        if procs.proc_stat(pid) is None:
            shutil.rmtree(os.path.join(RUNS, name), ignore_errors=True)


def _prune_corpora(keep: str) -> None:
    entries = sorted(
        (os.path.join(DATA, n) for n in os.listdir(DATA) if n.startswith("corpus_")),
        key=os.path.getmtime,
        reverse=True,
    )
    for path in entries[KEEP_CORPORA:]:
        if path != keep:
            shutil.rmtree(path, ignore_errors=True)


# -------------------------------------------------------------- metrics

def tail(jobs: list[dict]) -> tuple[float, str]:
    """The tail job time, as (value, what it is).

    With at least 10 x ``TAIL_BEYOND`` jobs it is the highest percentile
    with ``TAIL_BEYOND`` samples beyond it, p90 or above.  A run has
    fewer jobs than that, and below it the rule lands at or under the
    median, while the maximum of a handful of jobs measures the host's
    hiccups more than the program.  The tail is then the median time of
    the slowest query: the wait for the slowest kind of job in the run.
    A workload of one query (``mr_contract``) has its median there."""
    xs = sorted(j["s"] for j in jobs)
    k = len(xs) - TAIL_BEYOND
    if k >= 9 * TAIL_BEYOND:
        return xs[k - 1], f"p{100.0 * k / len(xs):.1f} of n={len(xs)}"
    by_query: dict[str, list[float]] = {}
    for j in jobs:
        by_query.setdefault(j["name"], []).append(j["s"])
    name, times = max(by_query.items(), key=lambda kv: statistics.median(kv[1]))
    return statistics.median(times), f"median of the slowest query, {name}, n={len(times)} of {len(xs)}"


def end_to_end(result: dict) -> dict:
    times = [j["s"] for j in result["jobs"]]
    busy = sum(times)
    tail_s, _ = tail(result["jobs"])
    return {
        "setup_s": (result["setup_s"], "s"),
        "job_s_p50": (statistics.median(times), "s"),
        "job_s_tail": (tail_s, "s"),
        "input_mb_s": (sum(j["input_bytes"] for j in result["jobs"]) / 1e6 / busy, "MB/s"),
        "jobs_per_min": (60.0 * len(times) / busy, "1/min"),
        "peak_rss_mb": (statistics.median(j["peak_rss"] for j in result["jobs"]) / 1e6, "MB"),
    }


# ----------------------------------------------------------------- main

def run(args) -> int:
    if not os.path.isfile(os.path.join(ROOT, "mapreduce_framework_spark", "__init__.py")):
        print(f"perfbench: no program under {ROOT}; run from the root of a checkout",
              file=sys.stderr)
        return 2
    cpus = len(os.sched_getaffinity(0))

    corpus_path = None
    if args.workload == "mr_contract" or args.trace:
        corpus_path = corpus.ensure_corpus(DATA, args.seed)
        os.utime(corpus_path)
        _prune_corpora(corpus_path)

    os.makedirs(RUNS, exist_ok=True)
    _sweep_stale_runs()
    run_dir = os.path.join(RUNS, f"{args.workload}_{os.getpid()}")
    tmp = os.path.join(run_dir, "tmp")
    events = os.path.join(run_dir, "events")
    for d in (tmp, events):
        os.makedirs(d)
    try:
        return _run_in(args, run_dir, tmp, events, corpus_path, cpus)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def _run_in(args, run_dir, tmp, events, corpus_path, cpus) -> int:
    # Both JVMs, spark-submit's launcher and the driver, keep their temp
    # files in the run directory and write no /tmp/hsperfdata_*.
    jvm_tmp = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    submit = ["--driver-java-options", f"{jvm_tmp} -Xms{DRIVER_MEM}"]
    if args.trace:
        submit += [
            "--conf", "spark.eventLog.enabled=true",
            "--conf", f"spark.eventLog.dir=file://{events}",
            "--conf", "spark.eventLog.compress=false",
            "--conf", "spark.eventLog.rolling.enabled=false",
        ]
    env = dict(os.environ)
    env.update(
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=os.path.join(tmp, "spark-local"),
        SPARK_GRAFT_CPUS=str(cpus),
        # A fixed heap (with -Xms above) keeps the driver's memory and
        # collector behaviour the same from run to run, whatever the host.
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
        PYSPARK_SUBMIT_ARGS=" ".join(shlex.quote(a) for a in submit + ["pyspark-shell"]),
        SPARK_LAUNCHER_OPTS=jvm_tmp,
    )
    env.pop("SPARK_GRAFT_MASTER", None)
    out = os.path.join(run_dir, "result.json")
    log_path = os.path.join(run_dir, "worker.log")
    cmd = [
        sys.executable, os.path.join(BENCH, "worker.py"),
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--root", ROOT, "--out", out,
    ]
    cmd += ["--mix-dir", MIX_DIR]
    if corpus_path:
        cmd += ["--corpus", corpus_path]

    with open(log_path, "wb") as log:
        spawned = time.monotonic()
        child = subprocess.Popen(
            cmd + ["--spawned", repr(spawned)], cwd=run_dir, env=env,
            stdin=subprocess.DEVNULL, stdout=log, stderr=subprocess.STDOUT,
            start_new_session=True, preexec_fn=procs.die_with_parent,
        )
        try:
            child.wait(timeout=DEADLINE_S)
        except subprocess.TimeoutExpired:
            print(f"perfbench: run exceeded {DEADLINE_S} s", file=sys.stderr)
        finally:
            procs.stop_session(child.pid)
            child.wait()

    if child.returncode != 0 or not os.path.isfile(out):
        with open(log_path, errors="replace") as f:
            sys.stderr.write(f.read()[-4000:])
        print(f"perfbench: worker failed (exit {child.returncode})", file=sys.stderr)
        return 1
    with open(out) as f:
        result = json.load(f)
    return report(args, result, cpus, corpus_path)


def report(args, result: dict, cpus: int, corpus_path) -> int:
    jobs = result["jobs"]
    failed = [j for j in jobs if j["error"]]
    for j in failed:
        print(f"perfbench: {j['name']} failed its gate: {j['error']}", file=sys.stderr)
    probe_errors = result.get("probe_errors", [])
    for e in probe_errors:
        print(f"perfbench: {e}", file=sys.stderr)
    e2e = end_to_end(result)
    _, tail_of = tail(jobs)
    detail = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "master": f"local[{cpus}]", "jobs": len(jobs),
        "job_s_tail": tail_of,
        "failed_frac": len(failed) / len(jobs),
    }
    if args.workload == "mr_contract":
        meta = corpus.read_meta(corpus_path)
        detail.update(M=meta["shards"], R=meta["reducers"], corpus_bytes=meta["text_bytes"],
                      distinct_keys=meta["distinct"], row_groups=meta["row_groups"])

    os.makedirs(RESULTS, exist_ok=True)
    last = os.path.join(RESULTS, f"last_{args.workload}.json")
    if args.trace:
        overhead = "unknown: no untraced run of this workload in this checkout yet"
        if os.path.isfile(last):
            with open(last) as f:
                base = json.load(f)["job_s_p50"]
            traced = e2e["job_s_p50"][0]
            overhead = f"job_s_p50 {traced:.4f} s traced - {base:.4f} s untraced = {traced - base:+.4f} s ({(traced - base) / base:+.1%})"
        trace_dir = os.path.join(RESULTS, f"trace_{args.workload}")
        tracer.write_report(trace_dir, result, overhead)
        detail.update(tracing_overhead=overhead, trace_dir=os.path.relpath(trace_dir, ROOT))
        metrics = result["layers"]
    else:
        with open(last, "w") as f:
            json.dump({k: v for k, (v, _) in e2e.items()}, f)
        metrics = e2e

    print("perfbench " + json.dumps(detail))
    print(json.dumps({
        "correct": not failed and not probe_errors,
        "attempted": len(jobs),
        "failed": len(failed),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 1 if failed or probe_errors else 0


def _terminate(signum, frame):
    raise SystemExit(128 + signum)


def main(argv=None) -> int:
    # Turn SIGTERM into an exit, so the run's session is stopped and its
    # directory removed on the way out.
    signal.signal(signal.SIGTERM, _terminate)
    return run(_parse(argv))


if __name__ == "__main__":
    sys.exit(main())
