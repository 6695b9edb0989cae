"""The README evidence ledger must cover exactly the registry and be an
honest rendering of the artifact files it CLAIMS to summarize (the
LEDGER-MANIFEST line), with every claimed artifact present on disk.

Round-7 verdict task #1: the old test regenerated the ledger from a
live glob, so the driver's post-snapshot CORRECTNESS_r{N}.json /
BENCH_r{N}.json landing AFTER the builder's final regeneration turned
this test red at every round boundary (rounds 5-7). The manifest-based
check below is immune to that race by construction: artifacts newer
than the manifest are simply not consulted, and `make round-start`
folds them in at the next round's first turn. The race itself is
reproduced as a fixture in
test_newer_driver_artifact_does_not_redden_the_ledger."""

from __future__ import annotations

import json
import re
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO / "tools"))


def test_ledger_matches_registry_and_manifest_artifacts():
    from evidence_ledger import BEGIN, END, gather, parse_manifest, render

    txt = (REPO / "README.md").read_text()
    assert BEGIN in txt and END in txt, "ledger section missing from README"
    current = re.search(re.escape(BEGIN) + r".*?" + re.escape(END), txt, re.S).group(0)

    names = parse_manifest(txt)
    assert names is not None, (
        "ledger block has no LEDGER-MANIFEST line — regenerate with "
        "`python tools/evidence_ledger.py`"
    )
    files = [REPO / n for n in names]
    missing_on_disk = [p.name for p in files if not p.exists()]
    assert not missing_on_disk, (
        f"README ledger claims artifacts that do not exist: {missing_on_disk}"
    )

    # Round-11 verdict task #1: a `_wip` working name manifested mid-round
    # reddened the ledger when the round-close rename deleted it.  The
    # committed manifest may only ever cite final artifact names.
    wip = [n for n in names if "_wip" in n]
    assert not wip, (
        f"README manifest cites in-flight working artifacts {wip} — rerun "
        "`python tools/evidence_ledger.py` AFTER the round-close renames"
    )

    ledger = gather(files)
    from mapreduce_framework_spark.registry import all_queries

    assert set(ledger) == set(all_queries()), (
        "ledger keys drifted from the registry — run `python tools/evidence_ledger.py`"
    )
    assert current == render(ledger, files), (
        "README ledger is stale vs its own manifest — run "
        "`python tools/evidence_ledger.py`"
    )
    # Every key must have SOME recorded evidence once artifacts exist
    # for it; 'NO ARTIFACT YET' is only legitimate for keys added after
    # the latest verify sweep.
    missing = [k for k, v in ledger.items() if v.startswith("NO ARTIFACT")]
    assert len(missing) <= 5, f"too many unevidenced keys: {missing}"


def test_newer_driver_artifact_does_not_redden_the_ledger(tmp_path):
    """Exactly the end-of-round race the verdict describes: the driver
    writes a NEW CORRECTNESS file after the README was last regenerated.
    The manifest-based check must still pass — the new artifact is out of
    manifest scope — while a live-glob regeneration would differ."""
    from evidence_ledger import artifact_files, gather, parse_manifest, render

    txt = (REPO / "README.md").read_text()
    names = parse_manifest(txt)
    assert names is not None

    manifest_files = [REPO / n for n in names]
    baseline_block = render(gather(manifest_files), manifest_files)

    # Simulate the driver landing CORRECTNESS_r99.json post-snapshot: a
    # green sample for a key the manifest has only ever seen sweep-green.
    fake = tmp_path / "CORRECTNESS_r99.json"
    fake.write_text(
        json.dumps(
            {"wordcount": {"rows_match": True, "schema_match": True, "hash_match": True}}
        )
    )
    post_race_files = sorted(manifest_files + [fake], key=lambda p: p.name)

    # A live-glob-style regeneration over the post-race artifact set DOES
    # change the rendering (the key is promoted to driver r99)...
    raced_block = render(gather(post_race_files), post_race_files)
    assert raced_block != baseline_block, (
        "fixture is inert — pick a key whose evidence the fake artifact changes"
    )
    # ...but the manifest-scoped regeneration — what the test above actually
    # does — is byte-identical, so the README stays green across the boundary.
    assert render(gather(manifest_files), manifest_files) == baseline_block

    # And artifact_files() on the real repo must be a superset of the
    # manifest: the README may lag new artifacts but can never cite ghosts.
    on_disk = {p.name for p in artifact_files()}
    assert set(names) <= on_disk


def test_unmanifested_artifacts_are_only_the_newest_round():
    """Round-8 ADVICE item: the manifest-scoped check alone would stay
    green forever if a red driver artifact sat on disk outside the
    manifest.  Close the hole: an on-disk artifact absent from the
    manifest is legitimate ONLY when it is from a round strictly newer
    than every manifested artifact of its category — i.e. exactly the
    end-of-round race (the driver lands CORRECTNESS_r{N} after the
    round-{N} snapshot), which `make round-start` folds in at the next
    round's first turn.  An older artifact dropped from the manifest —
    the way a regression could be hidden indefinitely — reddens here."""
    from evidence_ledger import artifact_files, parse_manifest

    txt = (REPO / "README.md").read_text()
    names = set(parse_manifest(txt))

    def round_of(name: str) -> int | None:
        m = re.search(r"_r(\d+)", name)
        return int(m.group(1)) if m else None

    for category in ("CORRECTNESS", "VERIFY_LOCAL", "VERIFY_SAMPLE"):
        manifested = [
            r
            for n in names
            if n.startswith(category) and (r := round_of(n)) is not None
        ]
        newest_manifested = max(manifested, default=0)
        stragglers = [
            p.name
            for p in artifact_files()
            if p.name.startswith(category)
            and p.name not in names
            and (round_of(p.name) or 0) <= newest_manifested
        ]
        assert not stragglers, (
            f"{category} artifacts on disk but missing from the README "
            f"manifest and NOT newer than the manifest's r{newest_manifested}: "
            f"{stragglers} — a regression could hide there; run "
            "`python tools/evidence_ledger.py` (make round-start)"
        )


def test_env_gated_skip_ledger_is_exact():
    """Round-9 verdict task #7: the README's environment-gated-tests
    table must track EXACTLY the gate sites that exist in tests/ — a
    new skipif/importorskip/pytest.skip landing without a ledger row
    (or a ledger row whose gate site was removed) reddens here, so the
    unexercised-lane count stays a maintained number."""
    import re

    ledger_sec = re.search(
        r"### Environment-gated tests.*?\n## ", (REPO / "README.md").read_text(), re.S
    )
    assert ledger_sec, "README lost the environment-gated-tests ledger"
    ledger = ledger_sec.group(0)

    # The gate sites on disk (mechanical sweep, mirrors how this list
    # was derived).  Intra-suite ordering guards (skip reasons that
    # reference in-suite state, e.g. "covered below") are not
    # environment gates and are excluded.
    gates = []
    for p in sorted((REPO / "tests").glob("*.py")):
        for i, line in enumerate(p.read_text().splitlines(), 1):
            if re.search(r"pytest\.skip\(|skipif\(|importorskip\(", line):
                gates.append((p.name, i, line.strip()))
    env_gates = [
        g for g in gates if "covered below" not in g[2]
    ]
    expected_files = {
        "test_multimodal.py",
        "test_scale_gate.py",
        "test_scale_operators.py",
    }
    assert {g[0] for g in env_gates} == expected_files, (
        f"gate sites drifted: {sorted({g[0] for g in env_gates})} — update the "
        "README ledger AND this test's expected set together"
    )
    for f in expected_files:
        assert f.removesuffix(".py").replace("test_", "tests/test_") + ".py" in ledger or f in ledger, (
            f"README ledger has no row for gate site {f}"
        )
