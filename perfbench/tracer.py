"""Traced-run tooling: spans, per-layer counters and the report.

Spans are recorded by the benchmark around its own calls into the
program's modules (``session``, ``io``, ``functions``, ``compat``,
``queries``); nothing inside the program is instrumented.  Spark's own
layers come from outside too: stage and task metrics from the event log
(enabled for the traced run only, through ``PYSPARK_SUBMIT_ARGS``, so
the session is still built by ``session.get_spark()``), and micro-batch
progress from a ``StreamingQueryListener``.  Everything stays in memory
until the run ends.

This module imports nothing from Spark at load time: ``run.py`` uses it
to write the report.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from contextlib import contextmanager


class Tracer:
    """Spans as dicts: name, start, end (epoch seconds), parent index,
    job id.  Disabled tracers record nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, job: str | None = None, **attrs):
        if not self.enabled:
            yield
            return
        rec = {
            "name": name,
            "start": time.time(),
            "end": None,
            "parent": self._stack[-1] if self._stack else None,
            "job": job if job is not None else self._inherited_job(),
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.time()

    def _inherited_job(self):
        return self.spans[self._stack[-1]]["job"] if self._stack else None


class _CacheWatch:
    """New and reused directories under ``io.user_cache_root()``: a
    cache hit refreshes the directory's mtime (``io.publish_cached``),
    a build adds a name."""

    def __init__(self, root: str):
        self.root = root
        self.builds = 0
        self.hits = 0
        self._before: dict[str, int] = {}

    def _snapshot(self) -> dict[str, int]:
        try:
            names = os.listdir(self.root)
        except FileNotFoundError:
            return {}
        snap = {}
        for n in names:
            try:
                snap[n] = os.stat(os.path.join(self.root, n)).st_mtime_ns
            except FileNotFoundError:
                pass
        return snap

    def before(self) -> None:
        self._before = self._snapshot()

    def after(self) -> None:
        now = self._snapshot()
        self.builds += sum(1 for n in now if n not in self._before)
        self.hits += sum(1 for n, m in now.items() if n in self._before and m != self._before[n])


class RunProbe:
    """Counters gathered around the measured jobs of a traced run."""

    def __init__(self, spark):
        from pyspark.sql.streaming import StreamingQueryListener

        from mapreduce_framework_spark.io import user_cache_root

        self.spark = spark
        self.event_dir = spark.sparkContext.getConf().get("spark.eventLog.dir", "")
        self.cache = _CacheWatch(user_cache_root())
        self.progress: list[dict] = []
        self._measuring = False
        self._since = 0.0
        probe = self

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = json.loads(event.progress.json)
                if probe._measuring and _epoch(p["timestamp"]) >= probe._since:
                    probe.progress.append(p)

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self._listener = _Listener()
        spark.streams.addListener(self._listener)

    def begin_measured(self) -> None:
        self._measuring = True
        self._since = time.time()

    def end_measured(self) -> None:
        time.sleep(0.5)  # the listener bus delivers progress asynchronously
        self._measuring = False
        self.spark.streams.removeListener(self._listener)


def _epoch(iso: str) -> float:
    from datetime import datetime

    return datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


def _event_log(event_dir: str) -> list[dict]:
    """Every event of the run's event log: one plain JSON-lines file, as
    the traced run turns rolling and compression off."""
    path = event_dir.removeprefix("file:").removeprefix("//")
    events = []
    for name in sorted(os.listdir(path)):
        if name.startswith("."):
            continue
        with open(os.path.join(path, name)) as fh:
            events += [json.loads(line) for line in fh if line.strip()]
    return events


def spark_counters(events: list[dict], windows: list[tuple[float, float]]) -> dict:
    """Sum Spark's job, stage and task metrics over the events that
    started inside one of ``windows`` (epoch seconds)."""

    def inside(ms) -> bool:
        t = ms / 1000.0
        return any(a <= t <= b for a, b in windows)

    c = dict.fromkeys(
        ("jobs", "stages", "attempts", "succeeded", "run_ms", "gc_ms", "shuffle_bytes",
         "shuffle_records", "spill_bytes"), 0,
    )
    for e in events:
        kind = e.get("Event")
        if kind == "SparkListenerJobStart" and inside(e["Submission Time"]):
            c["jobs"] += 1
        elif kind == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            if "Submission Time" in info and inside(info["Submission Time"]):
                c["stages"] += 1
        elif kind == "SparkListenerTaskEnd" and inside(e["Task Info"]["Launch Time"]):
            c["attempts"] += 1
            c["succeeded"] += e.get("Task End Reason", {}).get("Reason") == "Success"
            m = e.get("Task Metrics") or {}
            c["run_ms"] += m.get("Executor Run Time", 0)
            c["gc_ms"] += m.get("JVM GC Time", 0)
            c["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
            w = m.get("Shuffle Write Metrics") or {}
            c["shuffle_bytes"] += w.get("Shuffle Bytes Written", 0)
            c["shuffle_records"] += w.get("Shuffle Records Written", 0)
    return c


def _median(xs, default=0.0):
    return statistics.median(xs) if xs else default


def layer_metrics(tr: Tracer, probe: RunProbe, tokens: int, mix) -> dict:
    """Per-layer metrics of a traced run, each ``(value, unit)``.
    Spark and exchange figures are per measured job, except the combine
    ratio, which is the contract job's (``compat.run_job_nosink`` probe)
    map-output records over the corpus's tokens."""
    spans = tr.spans

    def dur(s):
        return s["end"] - s["start"]

    def span_s(name, measured=False):
        return _median([dur(s) for s in spans
                        if s["name"] == name and (s["job"] is not None or not measured)])

    windows = [(s["start"], s["end"]) for s in spans if s["name"] == "job"]
    n = max(len(windows), 1)
    events = _event_log(probe.event_dir)
    sc = spark_counters(events, windows)
    nosink = spark_counters(events, [(s["start"], s["end"]) for s in spans
                                     if s["name"] == "compat.run_job_nosink"])

    parquet = span_s("io.parquet_scan")
    tok_scan = span_s("functions.tokenize_scan")
    tokenize = max(tok_scan - parquet, 0.0) if tok_scan else 0.0
    out = {
        "session.get_spark_s": (span_s("session.get_spark"), "s"),
        "session.first_job_s": (span_s("session.first_job"), "s"),
        "io.parquet_scan_s": (parquet, "s"),
        "io.text_scan_s": (span_s("io.text_scan"), "s"),
        "io.cache_builds": (probe.cache.builds, "count"),
        "io.cache_hits": (probe.cache.hits, "count"),
        "functions.tokenize_s": (tokenize, "s"),
        "functions.tokens_per_s": ((tokens / tokenize) if tokenize else 0.0, "1/s"),
        "compat.mapfunc_s": (span_s("compat.mapfunc"), "s"),
        "compat.run_job_nosink_s": (span_s("compat.run_job_nosink"), "s"),
        "compat.sink_write_s": (span_s("compat.sink_write"), "s"),
        "compat.sink_read_s": (span_s("compat.sink_read"), "s"),
        "exchange.shuffle_write_mb": (sc["shuffle_bytes"] / 1e6 / n, "MB"),
        "exchange.shuffle_records": (sc["shuffle_records"] / n, "count"),
        "exchange.combine_ratio": (nosink["shuffle_records"] / tokens, "ratio"),
        "exchange.spill_mb": (sc["spill_bytes"] / 1e6 / n, "MB"),
        "spark.jobs": (sc["jobs"] / n, "count"),
        "spark.stages": (sc["stages"] / n, "count"),
        "spark.tasks": (sc["succeeded"] / n, "count"),
        "spark.executor_run_s": (sc["run_ms"] / 1000.0 / n, "s"),
        "spark.gc_s": (sc["gc_ms"] / 1000.0 / n, "s"),
        "spark.task_retry_ratio": ((sc["attempts"] / sc["succeeded"]) if sc["succeeded"] else 0.0, "ratio"),
    }
    for q in mix:
        out[f"queries.{q}.call_s"] = (span_s(f"queries.{q}.call", measured=True), "s")
        out[f"queries.{q}.collect_s"] = (span_s(f"queries.{q}.collect", measured=True), "s")

    def state(p, field):
        return sum(op.get(field, 0) for op in p.get("stateOperators", []))

    last_batch: dict[str, dict] = {}  # per streaming query run
    for p in probe.progress:
        if p["batchId"] >= last_batch.get(p["runId"], p)["batchId"]:
            last_batch[p["runId"]] = p
    batch_ms = [p["durationMs"].get("triggerExecution", 0) for p in probe.progress]
    commit_ms = [state(p, "commitTimeMs") for p in probe.progress]
    final_rows = [state(p, "numRowsTotal") for p in last_batch.values()]
    out["streaming.batches"] = ((len(probe.progress) / len(last_batch)) if last_batch else 0.0, "count")
    out["streaming.batch_ms_p50"] = (_median(batch_ms), "ms")
    out["streaming.state_commit_ms"] = (_median(commit_ms), "ms")
    out["streaming.state_rows"] = (_median(final_rows), "count")
    return out


def self_times(spans: list[dict]) -> list[dict]:
    """Per span name: calls, total seconds and self seconds (duration
    minus the part its child spans cover)."""
    child_cover = [0.0] * len(spans)
    for s in spans:
        if s["parent"] is not None:
            child_cover[s["parent"]] += s["end"] - s["start"]
    rows: dict[str, dict] = {}
    for i, s in enumerate(spans):
        r = rows.setdefault(s["name"], {"name": s["name"], "calls": 0, "total_s": 0.0, "self_s": 0.0})
        d = s["end"] - s["start"]
        r["calls"] += 1
        r["total_s"] += d
        r["self_s"] += d - child_cover[i]
    return sorted(rows.values(), key=lambda r: -r["self_s"])


def write_report(trace_dir: str, result: dict, overhead: str) -> None:
    """``spans.json`` plus ``layers.txt``: self time per span name and
    per layer, the per-layer metrics, and the tracing overhead."""
    os.makedirs(trace_dir, exist_ok=True)
    with open(os.path.join(trace_dir, "spans.json"), "w") as f:
        json.dump(result["spans"], f)
    rows = self_times(result["spans"])
    layers: dict[str, float] = {}
    for r in rows:
        layer = r["name"].split(".")[0]
        layers[layer] = layers.get(layer, 0.0) + r["self_s"]
    lines = [f"workload {result['workload']}  seed {result['seed']}", f"tracing overhead: {overhead}", ""]
    lines.append(f"{'span':<44}{'calls':>7}{'total_s':>11}{'self_s':>11}")
    lines += [f"{r['name']:<44}{r['calls']:>7}{r['total_s']:>11.3f}{r['self_s']:>11.3f}" for r in rows]
    lines += ["", f"{'layer':<44}{'self_s':>11}"]
    lines += [f"{k:<44}{v:>11.3f}" for k, v in sorted(layers.items(), key=lambda kv: -kv[1])]
    lines += ["", f"{'metric':<44}{'value':>14}  unit"]
    lines += [f"{k:<44}{v:>14.6g}  {u}" for k, (v, u) in result["layers"].items()]
    with open(os.path.join(trace_dir, "layers.txt"), "w") as f:
        f.write("\n".join(lines) + "\n")
