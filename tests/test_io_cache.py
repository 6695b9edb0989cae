"""io.publish_cached, the build-once artifact cache: io derives every
name from (kind, SF, params, input identity, code version), publishes by
atomic rename, and sweeps superseded generations of the same family."""

from __future__ import annotations

import os
import tempfile
import time
from urllib.parse import urlparse

import pytest

from mapreduce_framework_spark import io
from mapreduce_framework_spark.io import publish_cached, reap_superseded, user_cache_root
from tests.conftest import SF_DIR


@pytest.fixture(autouse=True)
def private_cache_root(tmp_path, monkeypatch):
    """Each test gets an empty cache root of its own (io places it under
    the temp dir), so nothing leaks into the shared per-user cache."""
    (tmp_path / "tmp").mkdir()
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path / "tmp"))


def _sf(parent, name: str = "sf1") -> str:
    """A fake SF dir holding one input table ``t.parquet``: io only stats
    it, the test builds never read it."""
    d = parent / name
    d.mkdir()
    (d / "t.parquet").write_bytes(b"v1")
    return str(d)


def _family(dest: str) -> str:
    return os.path.basename(dest).rpartition("-")[0]


def _age(path: str, age_s: float = 7200) -> None:
    past = time.time() - age_s
    os.utime(path, (past, past))


def _builder(calls: list):
    def build(staged: str) -> None:
        calls.append(staged)
        os.makedirs(staged)
        with open(os.path.join(staged, "artifact.txt"), "w") as f:
            f.write("v1")

    return build


def test_publish_cached_builds_once_and_returns_dest(tmp_path):
    sf, calls = _sf(tmp_path), []
    dest = publish_cached("once", sf, "t", _builder(calls), "p1")
    assert os.path.dirname(dest) == user_cache_root()
    assert os.path.isfile(os.path.join(dest, "artifact.txt"))
    _age(dest)
    dest2 = publish_cached("once", sf, "t", _builder(calls), "p1")
    assert dest2 == dest and len(calls) == 1, "second publish must hit the cache"
    assert time.time() - os.path.getmtime(dest) < 600, "a hit refreshes the mtime"
    # A different params value is another family: built separately.
    other = publish_cached("once", sf, "t", _builder(calls), "p2")
    assert other != dest and _family(other) != _family(dest) and len(calls) == 2


def test_publish_cached_raises_when_rename_fails_and_dest_missing(tmp_path):
    """A rename failure that is NOT the lost-race shape (dest absent
    afterwards) must raise at the publish site, not surface later as a
    missing-path error far from the cause.  A build that never creates
    the staged dir makes os.rename fail with ENOENT while dest stays
    absent — the exact must-not-swallow shape."""
    def build(staged: str) -> None:
        pass  # never materializes the staged path

    with pytest.raises(OSError):
        publish_cached("broken", _sf(tmp_path), "t", build)
    assert os.listdir(user_cache_root()) == []
    assert os.listdir(tempfile.gettempdir()) == [os.path.basename(user_cache_root())]


def test_publish_cached_with_family_sweeps_superseded(tmp_path):
    sf, calls = _sf(tmp_path), []
    old = publish_cached("gen", sf, "t", _builder(calls))
    with open(os.path.join(sf, "t.parquet"), "wb") as f:
        f.write(b"v2 - a different size")
    new = publish_cached("gen", sf, "t", _builder(calls))
    assert new != old and _family(new) == _family(old) and len(calls) == 2
    assert os.path.isdir(old), "the age guard keeps a recently used generation"
    _age(old)
    publish_cached("gen", sf, "t", _builder(calls))  # a hit sweeps too
    assert len(calls) == 2
    assert not os.path.isdir(old), "publish must sweep the superseded generation"
    assert os.path.isdir(new)


def test_reap_superseded_reaps_old_generation_keeps_live():
    root, fam = user_cache_root(), "fam_sf1.abc123"

    def cache_dir(name: str, age_s: float = 0.0) -> str:
        path = os.path.join(root, name)
        os.makedirs(path, exist_ok=True)
        if age_s:
            _age(path, age_s)
        return path

    keep = cache_dir(f"{fam}-2_2_v", age_s=7200)
    old = cache_dir(f"{fam}-1_1_v", age_s=7200)
    # Families match exactly: one that merely extends this family's
    # name is another kind/SF/params and is untouchable.
    longer = cache_dir(f"{fam}_x-1_1_v", age_s=7200)
    fresh = cache_dir(f"{fam}-3_3_v")  # young: inside the guard

    reaped = reap_superseded(fam, keep=os.path.basename(keep), age_s=3600)

    assert reaped == [os.path.basename(old)]
    assert not os.path.isdir(old), "superseded generation must be reaped"
    assert os.path.isdir(keep), "the live generation must survive"
    assert os.path.isdir(longer), "foreign families are untouchable"
    assert os.path.isdir(fresh), "the age guard protects recent siblings"


def test_sf_dirs_never_share_or_nest_families(tmp_path):
    """An SF dir whose basename extends another's ('sf1' vs 'sf1_alt'),
    or shares it under another parent, must not land in the other SF's
    family — its live cache would be reaped once idle past the guard.
    Every spelling of one path still hits the same cache."""
    a = _sf(tmp_path, "sf1")
    b = _sf(tmp_path, "sf1_alt")
    (tmp_path / "other").mkdir()
    c = _sf(tmp_path / "other", "sf1")
    calls: list = []
    dests = [publish_cached("sf", d, "t", _builder(calls)) for d in (b, c)]
    for d in dests:
        _age(d)
    a_dest = publish_cached("sf", a, "t", _builder(calls))
    assert len({_family(d) for d in [a_dest, *dests]}) == 3
    assert all(os.path.isdir(d) for d in dests), "another SF's cache was reaped"
    rel = os.path.relpath(a) + os.sep
    assert publish_cached("sf", rel, "t", _builder(calls)) == a_dest
    assert len(calls) == 3


def test_code_change_rebuilds_graph_adjacency(spark, monkeypatch):
    """The adjacency cache is keyed by io's code version like every
    other cache: a code change builds a new top-level directory in the
    same family, and the superseded one stays reapable."""
    from mapreduce_framework_spark.queries.graphs import persisted_cosupply_adjacency

    root = user_cache_root()

    def cache_dir(df) -> str:
        [name] = {
            os.path.relpath(urlparse(f).path, root).split(os.sep)[0]
            for f in df.inputFiles()
        }
        return name

    old = cache_dir(persisted_cosupply_adjacency(spark, SF_DIR))
    monkeypatch.setattr(io, "_code_version", lambda: "c0dec0de")
    new = cache_dir(persisted_cosupply_adjacency(spark, SF_DIR))
    assert new != old and _family(new) == _family(old)
    assert os.path.isdir(os.path.join(root, old))
    _age(os.path.join(root, old))
    assert reap_superseded(_family(new), keep=new) == [old]
