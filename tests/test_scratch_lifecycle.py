"""Scratch-directory lifecycle: every per-call query artifact lives in
io.user_scratch_dir, so repeated calls keep the temp dir bounded and a
memory-sink stream replay leaves nothing behind at all."""

from __future__ import annotations

import os
import re
import tempfile
from pathlib import Path

import pytest

from tests.conftest import SF_DIR

PACKAGE = Path(__file__).resolve().parent.parent / "mapreduce_framework_spark"


def _tree(root: str, depth: int = 2) -> set[str]:
    """Relative paths of everything within ``depth`` levels of ``root``:
    the temp root's entries plus what the per-user roots hold."""
    out: set[str] = set()
    for dirpath, dirnames, filenames in os.walk(root):
        rel = os.path.relpath(dirpath, root)
        level = 0 if rel == "." else rel.count(os.sep) + 1
        for name in dirnames + filenames:
            out.add(os.path.normpath(os.path.join(rel, name)))
        if level + 1 >= depth:
            dirnames[:] = []
    return out


@pytest.fixture
def private_tmp(tmp_path, monkeypatch):
    """Point the driver's temp dir at an empty per-test directory, with
    the per-user scratch root already in place."""
    from mapreduce_framework_spark.io import user_scratch_dir

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    user_scratch_dir("stream")
    return str(tmp_path)


def test_repeated_queries_keep_scratch_bounded(spark, private_tmp):
    """Three calls each of a stream replay, a reference-contract job and
    a parquet sink round trip: after the first call the temp root (and
    the per-user roots inside it) gains no entries, and the stream
    replay leaves nothing behind at all."""
    from mapreduce_framework_spark.registry import get_query

    keys = ("stream_tumbling_count", "mapreduce_job_wordcount", "sink_roundtrip")
    first: set[str] | None = None
    for call in range(3):
        for key in keys:
            before = _tree(private_tmp, depth=3)
            assert get_query(key).fn(spark, SF_DIR).collect(), key
            if key == "stream_tumbling_count":
                left = _tree(private_tmp, depth=3) - before
                assert not left, f"stream replay left {sorted(left)}"
        now = _tree(private_tmp)
        if first is None:
            first = now
        else:
            assert now <= first, f"call {call + 1} leaked: {sorted(now - first)}"


def test_stream_replay_removes_scratch_when_transform_fails(spark, private_tmp):
    from mapreduce_framework_spark.io import table
    from mapreduce_framework_spark.streaming import run_file_stream

    def broken(stream):
        raise ValueError("planted transform failure")

    ev = table(spark, SF_DIR, "events").select("ts", "event_type")
    before = _tree(private_tmp, depth=3)
    with pytest.raises(ValueError, match="planted transform failure"):
        run_file_stream(spark, ev, broken)
    assert _tree(private_tmp, depth=3) == before


def test_package_has_one_temp_dir_policy():
    """Per-call scratch goes through io.user_scratch_dir; a new
    ``mkdtemp``/``gettempdir`` call elsewhere in the package would bring
    back an unswept, unbounded temp-dir policy."""
    pat = re.compile(r"\b(?:mkdtemp|gettempdir)\(")
    offenders = [
        f"{p.relative_to(PACKAGE)}:{i}"
        for p in sorted(PACKAGE.rglob("*.py"))
        if p.name != "io.py" or p.parent != PACKAGE
        for i, line in enumerate(p.read_text().splitlines(), 1)
        if pat.search(line)
    ]
    assert offenders == [], offenders
