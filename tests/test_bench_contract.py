"""Pins for the bench harness contract (no Spark session needed).

VERDICT r8 #2: the bench's hand-maintained HEADLINE+EXTENDED lists timed
162 of 231 registry queries, so a plan regression in the other 69 had no
perf tripwire.  The timed set is now derived from the registry itself;
this module pins that derivation so the gap can never silently reopen,
plus the frozen-basket and calibration-record invariants the cross-round
comparisons depend on.
"""

from __future__ import annotations

import os
import subprocess
import sys

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)

import bench  # noqa: E402


def _registry():
    import __spark_entry__ as entrymod

    return entrymod.queries()


def test_timed_set_is_the_whole_registry():
    qs = _registry()
    timed = bench.timed_names(qs)
    assert timed == list(qs), (
        f"bench times {len(timed)} of {len(qs)} registry queries — "
        "every registry query must have a perf tripwire (VERDICT r8 #2)"
    )


def test_headline_basket_is_frozen_and_timed():
    # the 30-query basket is the cross-round headline — frozen by VERDICT
    # r3 #9; every member must exist in the registry (a renamed query
    # would silently shrink `headline_total` and fake a speedup)
    qs = _registry()
    assert len(bench.HEADLINE_BASKET) == 30
    missing = [n for n in bench.HEADLINE_BASKET if n not in qs]
    assert not missing, f"frozen basket names missing from registry: {missing}"


def test_code_fingerprint_ignores_artifact_only_commits():
    """host_drift is only valid when the recorded bench belongs to the same
    CODE as the re-timed commit (ADVICE r8).  The fingerprint hashes the
    timing-relevant paths, so the driver's artifact-only round-stamp commit
    fingerprints identically to the final builder commit under it."""
    head = bench._code_fingerprint(_REPO, "HEAD")
    assert head.count("-") == len(bench._CODE_PATHS) - 1
    assert "missing" not in head
    # r8's stamp commit only added BENCH/VERDICT/CORRECTNESS artifacts on
    # top of the last r8 builder commit — code fingerprints must match
    stamp = "e07566a"
    parent = subprocess.run(
        ["git", "rev-parse", f"{stamp}^"],
        cwd=_REPO, capture_output=True, text=True, timeout=30,
    ).stdout.strip()
    if parent:  # shallow clones may lack history; then there is nothing to pin
        assert bench._code_fingerprint(_REPO, stamp) == bench._code_fingerprint(
            _REPO, parent
        )


def test_calibration_scan_skips_mismatched_newer_records(tmp_path):
    """ADVICE r9: when the newest BENCH record's fingerprint mismatches the
    re-timed commit (an older commit being re-timed after a newer round
    landed), the scan must continue to older records and use the first
    fingerprint-matched one — not give up on the first mismatch."""
    import json

    def _write(rnd, tree, total):
        p = tmp_path / f"BENCH_r{rnd:02d}.json"
        p.write_text(json.dumps({"parsed": {"calibration": {
            "current_total_s": total, "current_code_tree": tree}}}))
        return str(p)

    newest = _write(11, "tree-B", 10.0)
    matched = _write(10, "tree-A", 8.0)
    paths = [newest, matched]  # newest-first, as _calibration sorts them
    record, skipped = bench._newest_matching_record(paths, "tree-A")
    assert record == ("BENCH_r10.json", 8.0, "code-tree-verified")
    assert skipped == ["BENCH_r11.json:tree-B.."]
    # no match anywhere -> None, both skipped
    record, skipped = bench._newest_matching_record(paths, "tree-C")
    assert record is None and len(skipped) == 2
    # legacy record without fingerprint is accepted, flagged as assumed
    legacy = tmp_path / "BENCH_r09.json"
    legacy.write_text(json.dumps({"parsed": {"calibration": {
        "current_total_s": 7.0}}}))
    record, skipped = bench._newest_matching_record(
        [newest, str(legacy)], "tree-C"
    )
    assert record == ("BENCH_r09.json", 7.0, "assumed-legacy-record")


def test_bench_round_files_sort_by_integer_round(tmp_path):
    """ADVICE r8: reverse-lex sort picks BENCH_r09 over BENCH_r100 — the
    newest-record scan must order by the integer round."""
    import re

    names = ["BENCH_r09.json", "BENCH_r100.json", "BENCH_r2.json"]
    by_round = sorted(
        names,
        key=lambda p: int(re.search(r"r(\d+)", p).group(1)),
        reverse=True,
    )
    assert by_round[0] == "BENCH_r100.json"
    assert sorted(names, reverse=True)[0] != "BENCH_r100.json"  # the old bug


def test_registry_import_failure_is_loud(monkeypatch):
    """A registry module that fails to import fails ``queries()`` instead of
    silently dropping its queries from the registry and the bench basket."""
    import pytest

    import kafka_error_handling_spark.plans as plans_pkg
    from kafka_error_handling_spark.plans import registry

    monkeypatch.delattr(plans_pkg, "graph", raising=False)
    # a None entry makes ``from . import graph`` raise ImportError
    monkeypatch.setitem(sys.modules, "kafka_error_handling_spark.plans.graph", None)
    with pytest.raises(ImportError):
        registry.queries()
