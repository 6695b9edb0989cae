"""Self-tests of the benchmark harness (no Spark session needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import subprocess
import sys

import pytest

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [BENCH, ROOT]

import corpus  # noqa: E402
import run  # noqa: E402
import tracer  # noqa: E402
import worker  # noqa: E402

SMALL = 150_000  # corpus bytes: enough lines for every shard and row group


@pytest.fixture(scope="module")
def small(tmp_path_factory):
    return corpus.ensure_corpus(str(tmp_path_factory.mktemp("corpora")), 7, SMALL)


def digest(path: str) -> str:
    """sha256 over every generated file but meta.json, in name order."""
    h = hashlib.sha256()
    for dirpath, dirnames, filenames in os.walk(path):
        dirnames.sort()
        for name in sorted(filenames):
            if name == "meta.json":
                continue
            full = os.path.join(dirpath, name)
            h.update(os.path.relpath(full, path).encode())
            with open(full, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def _spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_same_seed_gives_identical_inputs_and_answer(small, tmp_path):
    again = corpus.ensure_corpus(str(tmp_path), 7, SMALL)
    assert digest(small) == digest(again)
    with open(os.path.join(small, "answer.tsv"), "rb") as a, open(os.path.join(again, "answer.tsv"), "rb") as b:
        assert a.read() == b.read()


def test_different_seed_gives_different_corpus(small, tmp_path):
    other = corpus.ensure_corpus(str(tmp_path), 8, SMALL)
    assert digest(small) != digest(other)


def test_inputs_agree_with_each_other_and_the_answer(small):
    import pyarrow.parquet as pq

    from mapreduce_framework_spark.compat import make_wordcount_mapfunc

    meta = corpus.read_meta(small)
    shard_dir = os.path.join(small, "shards")
    shards = sorted(os.listdir(shard_dir))
    assert len(shards) == meta["shards"]
    lines = []
    for name in shards:
        with open(os.path.join(shard_dir, name)) as f:
            lines += f.read().splitlines()
    docs = pq.ParquetFile(os.path.join(small, "documents.parquet"))
    assert docs.num_row_groups == corpus.ROW_GROUPS
    assert docs.read(columns=["text"]).column("text").to_pylist() == lines
    # The key follows the program's reference mapper, shard by shard.
    mapfunc = make_wordcount_mapfunc()
    total: dict[str, int] = {}
    for name in shards:
        for w, c in mapfunc(os.path.join(shard_dir, name)).items():
            total[w] = total.get(w, 0) + c
    assert corpus.read_answer(small) == total


def test_gate_rejects_one_count_off_by_one(small):
    answer = corpus.read_answer(small)
    assert worker.wordcount_gate(answer, dict(answer)) is None
    word = next(iter(answer))
    for delta in (1, -1):
        wrong = dict(answer)
        wrong[word] += delta
        assert worker.wordcount_gate(answer, wrong) is not None


def test_mix_gate_rejects_one_count_off_by_one(tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(pa.table({"doc_id": ["a", "b"], "text": ["x y", "y"]}), tmp_path / "documents.parquet")
    oracle = worker.MixOracle(str(tmp_path))

    class Spec:
        name = "t"
        oracle = "SELECT text, count(*) AS cnt FROM documents GROUP BY text"

    assert oracle.gate(Spec, ["cnt", "text"], [(1, "y"), (1, "x y")]) is None
    assert oracle.gate(Spec, ["cnt", "text"], [(2, "y"), (1, "x y")]) is not None


def _jobs(times, name="q"):
    return [{"name": name, "s": t} for t in times]


def test_tail_has_ten_samples_beyond_it():
    assert run.tail(_jobs(float(i) for i in range(1, 201))) == (190.0, "p95.0 of n=200")


def test_tail_of_a_short_run_is_the_slowest_querys_median():
    jobs = _jobs([1.0, 2.0, 9.0], "slow") + _jobs([0.5, 0.4, 0.6, 8.0], "fast")
    assert run.tail(jobs) == (2.0, "median of the slowest query, slow, n=3 of 7")
    assert run.tail(_jobs([3.0, 1.0, 2.0]))[0] == 2.0


def test_printed_metric_names_match_benchmark_json(tmp_path):
    spec = _spec()
    result = {
        "setup_s": 12.0,
        "jobs": [{"name": "x", "s": 2.0, "error": None, "input_bytes": 10**6, "peak_rss": 10**9}] * 3,
    }
    e2e = run.end_to_end(result)
    assert {k: u for k, (_, u) in e2e.items()} == {m["name"]: m["unit"] for m in spec["end_to_end"]}

    class Probe:
        event_dir = str(tmp_path)
        cache = tracer._CacheWatch(str(tmp_path))
        progress: list = []

    layers = tracer.layer_metrics(tracer.Tracer(True), Probe, tokens=1000, mix=worker.MIX)
    assert {k: u for k, (_, u) in layers.items()} == {m["name"]: m["unit"] for m in spec["per_layer"]}
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)


def test_fails_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns(".data", ".runs", ".results", "__pycache__"))
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "mr_contract", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""
