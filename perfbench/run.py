"""Oracle-checked benchmark of the connector engine, one workload per run.

    python3 perfbench/run.py --workload connector_etl --seed 1 --seconds 4 --trace 0

Run it from the repository root. Each run is a fresh process with an empty
temporary directory under ``.perfbench/runs`` (removed at the end). It
launches the JVM with a first set-up, sets the engine up ``N_SETUPS`` more
times in that JVM (each a fresh session), runs one cold pass, the workload's
uncounted warm-up passes (``workloads.WARMUP_PASSES``), then warm passes until
``--seconds`` have gone by (at least two), checks every output right after
the operation that produced it, and prints one JSON line last:

    {"correct": true, "attempted": N, "failed": F, "metrics": {...}}

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` runs the cold
pass and alternate warm passes under spans and Spark accounting, reports the
per-layer metrics, and writes every span and op record to
``.perfbench/traces/<workload>-seed<seed>-<run>.json``.

Query workloads read the fixture tables in ``$SPARK_GRAFT_SF_DIR``, by
default ``perfbench/fixtures/sf0.1``, which holds the sf0.1 ``events``
table only.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# the engine and tests/parity.py are imported from the repository root
sys.path.insert(0, ROOT)

import accounting  # noqa: E402
import checks  # noqa: E402
import layers  # noqa: E402
import workloads  # noqa: E402
from custom_python_etl_data_connector_rohitharumugams_spark import session  # noqa: E402
from pyspark import SparkContext  # noqa: E402

OUT = os.path.join(ROOT, ".perfbench")
#: set-ups in the running JVM after the first one; setup_s is their median.
#: One set-up there takes 0.3-0.8 s, so a median of one or two of them
#: follows the host's load more than the code.
N_SETUPS = 5
#: the first warm pass still runs faster than the cold one but slower than
#: the next (JIT and worker warm-up), so warm_s is a median over at least two
MIN_WARM_PASSES = 2

E2E_UNITS = {"setup_s": "s", "cold_s": "s", "warm_s": "s"}


def _isolate_temp(run_dir: str) -> None:
    """Point every temporary file of this process, the JVM and the Python
    workers into the run's own directory."""
    for sub in ("tmp", "spark-local", "java"):
        os.makedirs(os.path.join(run_dir, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    tempfile.tempdir = os.environ["TMPDIR"]
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    opts = f"-Djava.io.tmpdir={os.path.join(run_dir, 'java')} -XX:-UsePerfData"
    os.environ["JAVA_TOOL_OPTIONS"] = (os.environ.get("JAVA_TOOL_OPTIONS", "") + " " + opts).strip()


def _median(xs):
    return statistics.median(xs) if xs else 0.0


class Runner:
    def __init__(self, args, run_id: str, run_dir: str):
        self.args = args
        self.run_id = run_id
        self.run_dir = run_dir
        self.passes: list[dict] = []
        self.failed = 0
        self.attempted = 0
        self.checker_errors = 0

    # ---------------------------------------------------------------- setup
    def start(self) -> None:
        self.steal = accounting.StealMeter()
        self.nproc = os.cpu_count() or 1
        self.tracer = accounting.Tracer(self.run_id, self.args.trace)
        self.rss = accounting.RssSampler()
        self.rss.start()
        self.workload = workloads.make(self.args.workload)
        self.ctx = workloads.Context(None, self.args.seed, os.path.join(self.run_dir, "work"),
                                     workloads.sf_dir(), self.nproc)
        self.workload.start(self.ctx)
        # the first set-up launches the JVM; the timed ones each stop the
        # session and start a fresh one in that JVM
        self.first_setup = self._setup()
        self.rss.jvm_pid = self.ctx.spark.sparkContext._gateway.proc.pid
        self.setups = []
        for _ in range(N_SETUPS):
            self.ctx.spark.stop()
            self.setups.append(self._setup())
        self.listener = None
        if self.args.workload == "stream_replay":
            self.listener = accounting.BatchListener()
            self.ctx.spark.streams.addListener(self.listener)
        self.acct = accounting.SparkAccounting(self.ctx.spark)

    def _setup(self) -> dict:
        """One set-up: its total time and its layers' times."""
        with self.tracer.span("setup"):
            t0 = time.perf_counter()
            with self.tracer.span("session.get_spark"):
                self.ctx.spark = session.get_spark(cpus=self.nproc)
            t_start = time.perf_counter() - t0
            with self.tracer.span("workload.setup"):
                layer = self.workload.setup(self.ctx)
            total = time.perf_counter() - t0
        self.ctx.spark.sparkContext.setLogLevel("ERROR")
        return {"total_s": total, "session.start_s": t_start, **layer}

    # ----------------------------------------------------------------- pass
    def run_pass(self, label: str, traced: bool) -> dict:
        ops = self.workload.ops(self.ctx, len(self.passes))
        recs = []
        with self.tracer.span(f"pass.{label}", traced=traced):
            for op in ops:
                recs.append(self._run_op(op, label, traced))
        summary = {"label": label, "traced": traced,
                   "seconds": sum(r.get("seconds", 0.0) for r in recs), "ops": recs}
        self.passes.append(summary)
        print(f"[perfbench] {label} pass{' (traced)' if traced else ''}: {summary['seconds']:.3f} s "
              + " ".join(f"{r['op']}={r.get('seconds', float('nan')):.2f}" for r in recs), file=sys.stderr)
        return summary

    def _run_op(self, op, label: str, traced: bool) -> dict:
        rec = {"op": op.name, "kind": op.kind, "pass": label, "traced": traced}
        self.attempted += 1
        error = group = None
        try:
            op.before()
            group = self.acct.begin(op.name) if traced else None
            with self.tracer.span(op.name, kind=op.kind) as attrs:
                t0 = time.time()
                output = op.run(rec)
                t1 = time.time()
            rec["seconds"] = t1 - t0
        except Exception:  # noqa: BLE001 - an operation that raises counts as failed
            error = traceback.format_exc(limit=6)
        finally:
            if group is not None:
                self.acct.clear_group()
        if error is None:
            try:
                op.check(output)
            except checks.CheckFailed as e:
                error = f"check: {e}"
            except Exception:  # noqa: BLE001 - the checker itself broke
                self.checker_errors += 1
                error = "checker: " + traceback.format_exc(limit=6)
        # accounting and bookkeeping: a fault here is the benchmark's, not
        # the operation's, and makes the run's result incorrect
        try:
            if error is None:
                op.after(rec)
                if traced:
                    rec["spark"] = attrs["spark"] = self.acct.end(group, t0, t1)
                    if "df" in rec:
                        rec["phases_ms"] = accounting.catalyst_phases_ms(rec["df"])
            if self.listener is not None:
                self.acct.drain()
                rec["batches"] = self.listener.take()
        except Exception:  # noqa: BLE001
            self.checker_errors += 1
            print("[perfbench] accounting failed:\n" + traceback.format_exc(limit=6), file=sys.stderr)
        rec.pop("df", None)
        rec["ok"] = error is None
        if error is not None:
            self.failed += 1
            rec["error"] = error
            print(f"[perfbench] {label} {op.name} FAILED: {error[:3000]}", file=sys.stderr)
        return rec

    def run(self) -> None:
        trace = self.args.trace
        self.cold = self.run_pass("cold", traced=trace)
        for _ in range(workloads.WARMUP_PASSES.get(self.args.workload, 0)):
            self.run_pass("warm-up", traced=False)
        self.warm, self.warm_traced = [], []
        t_end = time.perf_counter() + self.args.seconds
        # with --trace 1 the warm passes alternate untraced/traced, so the
        # tracing overhead is measured within the run
        while len(self.warm) + len(self.warm_traced) < MIN_WARM_PASSES or time.perf_counter() < t_end:
            self.warm.append(self.run_pass("warm", traced=False))
            if trace:
                self.warm_traced.append(self.run_pass("warm", traced=True))

    # -------------------------------------------------------------- metrics
    def end_to_end(self) -> dict:
        return {
            "setup_s": _median([s["total_s"] for s in self.setups]),
            "cold_s": self.cold["seconds"],
            "warm_s": _median([p["seconds"] for p in self.warm]),
        }

    def finish(self) -> dict:
        self.rss.stop()
        steal = self.steal.share()
        print(f"[perfbench] CPU time stolen by the hypervisor during the run: {steal:.1%}", file=sys.stderr)
        if self.args.trace:
            metrics = layers.per_layer(self, steal)
            units = layers.UNITS
            os.makedirs(os.path.join(OUT, "traces"), exist_ok=True)
            path = os.path.join(OUT, "traces", f"{self.args.workload}-seed{self.args.seed}-{self.run_id}.json")
            self.tracer.write(path, {"workload": self.args.workload, "seed": self.args.seed,
                                     "first_setup": self.first_setup, "setups": self.setups, "metrics": metrics, "passes": self.passes})
            print(f"[perfbench] trace written to {os.path.relpath(path, ROOT)}; tracing overhead "
                  f"{metrics['trace.overhead_s']:+.3f} s per warm pass", file=sys.stderr)
        else:
            metrics = self.end_to_end()
            units = E2E_UNITS
        return {
            "correct": self.checker_errors == 0,
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
        }

    def close(self) -> None:
        """Stop the workload's processes, the session and the JVM, and wait
        until each has ended."""
        if hasattr(self, "workload"):
            self.workload.stop()
        spark = getattr(getattr(self, "ctx", None), "spark", None)
        if spark is None:
            return
        gw = SparkContext._gateway
        proc = getattr(gw, "proc", None)
        spark.stop()
        if gw is not None:
            gw.shutdown()
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:  # never leave the JVM behind
                proc.kill()
                proc.wait()


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    args.trace = bool(args.trace)
    run_id = f"{os.getpid()}-{time.time_ns()}"
    run_dir = os.path.join(OUT, "runs", run_id)
    os.makedirs(run_dir)
    _isolate_temp(run_dir)
    runner = Runner(args, run_id, run_dir)
    try:
        runner.start()
        runner.run()
        result = runner.finish()
    finally:
        runner.close()
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
