"""Self-tests of the benchmark's own parts (not of the engine).

    python3 perfbench/selftest.py          # from the repository root, ~1 min

1. The upstream generator: one seed always yields the same truth, another
   seed a different one; the server honours ``page``, ``since`` and answers
   the first request of a sync with 429 + ``Retry-After``.
2. The connector checks: the truth passes, and a planted one-cell change,
   a duplicate key, a missing ``ingested_at`` or a compaction that changed a
   row is reported.
3. The runner: a registered query whose output has one cell changed is
   reported as a failed operation, while the unchanged run of the same query
   passes its oracle.
"""

from __future__ import annotations

import copy
import hashlib
import json
import os
import shutil
import sys
import time
import urllib.error
import urllib.request
from argparse import Namespace

# the engine and tests/parity.py are imported from the repository root
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import checks  # noqa: E402
import run  # noqa: E402
import upstream  # noqa: E402


def _digest(rows) -> str:
    return hashlib.sha256(json.dumps(rows, sort_keys=True).encode()).hexdigest()


def _expect_fail(fn, *args) -> None:
    try:
        fn(*args)
    except checks.CheckFailed:
        return
    raise AssertionError(f"{fn.__name__} accepted a wrong collection")


def test_upstream() -> None:
    a, b = upstream.truth(11), upstream.truth(11)
    assert _digest(a) == _digest(b), "one seed gave two truths"
    assert _digest(a) != _digest(upstream.truth(12)), "two seeds gave one truth"
    assert len(a) == upstream.N_INITIAL + upstream.N_SYNCS * upstream.N_NEW

    import workloads

    api = workloads.Upstream(11)
    try:
        def get(query: str):
            req = urllib.request.Request(f"{api.base}/items?{query}",
                                         headers={"Authorization": f"Bearer {upstream.TOKEN}"})
            try:
                with urllib.request.urlopen(req, timeout=10) as r:
                    return r.status, json.loads(r.read()), r.headers
            except urllib.error.HTTPError as e:
                return e.code, None, e.headers

        code, _, headers = get("page=0&page_size=10")
        assert code == 429 and headers.get("Retry-After"), "first request of a sync must get 429"
        code, body, _ = get("page=0&page_size=10")
        assert code == 200 and [r["id"] for r in body["data"]] == list(range(10))
        _, body, _ = get("page=1&page_size=10")
        assert [r["id"] for r in body["data"]] == list(range(10, 20)), "page is not honoured"
        _, body, _ = get("page=100000&page_size=10")
        assert body["data"] == [], "a page past the end must be empty"
        api.control("version?version=1")
        assert get("page=0&page_size=10")[0] == 429, "429 must be re-armed for each sync"
        since = (upstream.T0 - upstream.dt.timedelta(seconds=1)).isoformat()
        _, body, _ = get(f"page=0&page_size=100000&since={since}")
        got = body["data"]
        assert len(got) == upstream.N_UPDATES + upstream.N_NEW + upstream.N_EMPTY, "since is not honoured"
        assert all(r["updated_at"] > since for r in got)
        stats = api.control("stats")
        assert stats["retries"] == 1 and stats["requests"] == 2
    finally:
        api.close()


def test_connector_checks() -> None:
    truth = upstream.truth(5, 1)
    rows = [dict(r, ingested_at="2024-03-02T00:00:00") for r in truth]
    checks.check_collection(rows, truth)
    planted = copy.deepcopy(rows)
    planted[len(planted) // 2]["profile"]["country"] = "XX"
    _expect_fail(checks.check_collection, planted, truth)
    _expect_fail(checks.check_collection, rows + [rows[0]], truth)
    no_stamp = copy.deepcopy(rows)
    no_stamp[3]["ingested_at"] = None
    _expect_fail(checks.check_collection, no_stamp, truth)
    checks.check_compaction(rows, copy.deepcopy(rows), 16, 16)
    _expect_fail(checks.check_compaction, rows, planted, 16, 16)
    _expect_fail(checks.check_compaction, rows, rows, 16, 17)


def _change_one_cell(pdf) -> None:
    col = next(c for c in pdf.columns if pdf[c].dtype.kind in "if")
    pdf.loc[pdf.index[0], col] = pdf[col].iloc[0] + 1


def test_runner_reports_planted_change() -> None:
    run_id = f"selftest-{os.getpid()}-{time.time_ns()}"
    run_dir = os.path.join(run.OUT, "runs", run_id)
    os.makedirs(run_dir)
    run._isolate_temp(run_dir)
    runner = run.Runner(Namespace(workload="stream_replay", seed=0, seconds=0, trace=False), run_id, run_dir)
    try:
        runner.start()
        clean = runner.run_pass("clean", traced=False)
        assert runner.failed == 0 and all(o["ok"] for o in clean["ops"]), clean
        original = runner.workload._op

        def planted_op(ctx, name):
            op = original(ctx, name)
            inner = op.run

            def run_changed(rec):
                pdf = inner(rec)
                _change_one_cell(pdf)
                return pdf

            op.run = run_changed
            return op

        runner.workload._op = planted_op
        planted = runner.run_pass("planted", traced=False)
        assert runner.failed == 1 and runner.attempted == 2, (runner.failed, runner.attempted)
        assert planted["ops"][0]["error"].startswith("check:"), planted["ops"][0]["error"]
        assert runner.checker_errors == 0
    finally:
        runner.close()
        shutil.rmtree(run_dir, ignore_errors=True)


def main() -> int:
    for test in (test_upstream, test_connector_checks, test_runner_reports_planted_change):
        t0 = time.perf_counter()
        test()
        print(f"ok  {test.__name__}  ({time.perf_counter() - t0:.1f} s)")
    return 0


if __name__ == "__main__":
    sys.exit(main())
