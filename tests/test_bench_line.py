"""The driver-stdout contract: bench.py's ONE JSON line must fit the
driver's ~1.9 KB stdout tail WITH a complete per-query map at the LIVE
registry size — round 10 lost the map when 200 queries overflowed the
old fixed-precision form, which is exactly the regression this pins."""

from __future__ import annotations

import json

import pytest

import bench
from custom_python_etl_data_connector_rohitharumugams_spark.plans import all_queries


def _fixture(t_sub: float, t_mid: float) -> tuple[dict, dict, float]:
    """Synthetic timings over the REAL registry names: alternate
    sub-second and multi-second values (the realistic worst case for
    line length — all-sub-second corpora encode shorter)."""
    names = sorted(all_queries())
    timings = {
        n: (t_sub if i % 2 == 0 else t_mid) for i, n in enumerate(names)
    }
    keymap = {f"{i:02x}": n for i, n in enumerate(names)}
    return timings, keymap, round(sum(timings.values()), 3)


def test_stdout_line_fits_budget_with_full_map_at_live_registry_size():
    timings, keymap, total = _fixture(0.4, 1.7)
    line = bench.build_stdout_line(timings, keymap, total, 0.1)
    assert len(line) <= bench.STDOUT_LINE_BUDGET
    parsed = json.loads(line)
    assert len(parsed["queries"]) == len(timings), "per-query map was dropped"
    assert parsed["unit"] == "sec" and parsed["value"] == total


def test_stdout_line_coarse_tier_preserves_subsecond_precision():
    """When the fine tier overflows, >=1 s values round to integers but
    sub-second values keep their decimal (they are the ones where a
    0.1 s delta is signal)."""
    timings, keymap, total = _fixture(0.4, 11.74)  # 2-digit secs force coarse
    line = bench.build_stdout_line(timings, keymap, total, 0.1)
    assert len(line) <= bench.STDOUT_LINE_BUDGET
    parsed = json.loads(line)
    if parsed["queries"]:  # coarse tier, not the empty-map fallback
        vals = set(parsed["queries"].values())
        assert 0.4 in vals
        assert 12 in vals or 11.7 in vals


def test_keymap_frozen_across_rounds_and_appends_new_names(tmp_path):
    """Round-13 PERF had 119 misaligned prev/now pairs because keys were
    re-assigned alphabetically each run; resolve_keymap must (a) keep every
    prior assignment for names still registered, (b) append new names after
    the max key instead of shifting existing ones, and (c) leave holes for
    dropped names (keys never reused)."""
    prior = {"00": "alpha", "01": "mike", "02": "zulu"}
    (tmp_path / "BENCH_KEYMAP_r13.json").write_text(
        json.dumps({"round": 13, "keymap": prior})
    )
    # 'bravo' sorts between alpha and mike: pre-freeze it would have
    # shifted mike/zulu; frozen it must land AFTER zulu's key
    got = bench.resolve_keymap(["alpha", "mike", "zulu", "bravo"], tmp_path)
    assert got == {"00": "alpha", "01": "mike", "02": "zulu", "03": "bravo"}
    # dropped name leaves a hole; its key is not reused by a new name
    got2 = bench.resolve_keymap(["alpha", "zulu", "charlie"], tmp_path)
    assert got2 == {"00": "alpha", "02": "zulu", "03": "charlie"}


def test_keymap_never_reuses_the_dropped_max_key(tmp_path):
    """A name dropped while holding the MAX key must retire that key too:
    seeding the next key from the pruned map would hand zulu's '02' to
    charlie and misalign the round-over-round per-query table."""
    prior = {"00": "alpha", "01": "mike", "02": "zulu"}
    (tmp_path / "BENCH_KEYMAP_r13.json").write_text(
        json.dumps({"round": 13, "keymap": prior})
    )
    got = bench.resolve_keymap(["alpha", "mike", "charlie"], tmp_path)
    assert got == {"00": "alpha", "01": "mike", "03": "charlie"}


def test_keymap_corrupt_newest_sidecar_fails_loudly(tmp_path):
    """A truncated newest sidecar must raise and name the file, never fall
    back to an empty map (that re-keys every query alphabetically)."""
    (tmp_path / "BENCH_KEYMAP_r12.json").write_text(
        json.dumps({"round": 12, "keymap": {"00": "alpha"}})
    )
    bad = tmp_path / "BENCH_KEYMAP_r13.json"
    bad.write_text(json.dumps({"round": 13, "keymap": {"00": "alpha"}})[:20])
    with pytest.raises(RuntimeError, match="BENCH_KEYMAP_r13.json"):
        bench.resolve_keymap(["alpha"], tmp_path)


def test_keymap_matches_committed_round13_assignments():
    """The live registry's frozen keys must be byte-identical to the
    committed round-13 sidecar for every name that existed then — the
    property the driver's PERF table depends on."""
    import pathlib

    repo = pathlib.Path(bench.__file__).resolve().parent
    r13 = json.loads((repo / "BENCH_KEYMAP_r13.json").read_text())["keymap"]
    live = bench.resolve_keymap(sorted(all_queries()), repo)
    for key, name in r13.items():
        if name in set(all_queries()):
            assert live[key] == name


def test_stdout_line_never_exceeds_budget_even_degenerate():
    """1000 fake queries with ugly values must still emit a parseable
    line under budget (the empty-map fallback)."""
    names = [f"q{i:04d}" for i in range(1000)]
    timings = {n: 123.456 for n in names}
    keymap = {f"{i:03x}": n for i, n in enumerate(names)}
    line = bench.build_stdout_line(timings, keymap, 123456.0, 0.1)
    assert len(line) <= bench.STDOUT_LINE_BUDGET
    json.loads(line)
