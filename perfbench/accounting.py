"""Measurement from outside the engine: spans, memory sampling and Spark's
own accounting.

- :class:`Tracer` keeps spans (name, start, end, parent, run id, attributes)
  in memory and writes them out once, when the run ends.
- :class:`RssSampler` samples resident memory of the benchmark process, the
  JVM and the JVM's Python workers from ``/proc``.
- :class:`SparkAccounting` runs each operation under its own job group and
  reads, once the operation has finished, its jobs, stages and tasks from the
  status tracker, its task time, shuffle, spill and Python-worker metrics from
  the UI's REST API (on localhost), and the Catalyst phase times of the
  DataFrame it returned.
- :class:`BatchListener` is a ``StreamingQueryListener`` that keeps each
  micro-batch's progress.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import threading
import time
import urllib.request
from contextlib import contextmanager

from pyspark.sql.streaming import StreamingQueryListener


class Tracer:
    """In-memory spans; ``enabled=False`` makes :meth:`span` a no-op."""

    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield attrs
            return
        rec = {
            "run_id": self.run_id,
            "id": len(self.spans),
            "parent": self._stack[-1] if self._stack else None,
            "name": name,
            "start": time.time(),
            "end": None,
            "attrs": attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield attrs
        finally:
            self._stack.pop()
            rec["end"] = time.time()

    def write(self, path: str, extra: dict) -> None:
        with open(path, "w") as fh:
            json.dump({"run_id": self.run_id, **extra, "spans": self.spans}, fh)


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except (FileNotFoundError, ProcessLookupError, PermissionError):
        pass
    return 0


def _descendants(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except (FileNotFoundError, ProcessLookupError, PermissionError):
            continue
        # the command field may hold spaces; ppid is the 2nd field after ')'
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], list(children.get(root, []))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


class RssSampler:
    """Peak resident memory of this process, the JVM and its Python workers
    (every descendant of the JVM), sampled every ``interval`` seconds."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.jvm_pid: int | None = None
        self.peak_total_kb = 0
        self.peak_jvm_kb = 0
        self.peak_python_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="rss-sampler", daemon=True)

    def start(self) -> None:
        self._thread.start()

    def sample(self) -> None:
        own = _rss_kb(os.getpid())
        jvm = workers = 0
        if self.jvm_pid is not None:
            jvm = _rss_kb(self.jvm_pid)
            workers = sum(_rss_kb(p) for p in _descendants(self.jvm_pid))
        self.peak_total_kb = max(self.peak_total_kb, own + jvm + workers)
        self.peak_jvm_kb = max(self.peak_jvm_kb, jvm)
        self.peak_python_kb = max(self.peak_python_kb, workers)

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.sample()


class StealMeter:
    """Share of the host's CPU time the hypervisor gave to other guests
    (``steal`` in ``/proc/stat``) since construction: a run that reads high
    here was slowed from outside."""

    def __init__(self):
        self._start = self._read()

    @staticmethod
    def _read() -> list[int]:
        with open("/proc/stat") as fh:
            return [int(x) for x in fh.readline().split()[1:]]

    def share(self) -> float:
        d = [b - a for a, b in zip(self._start, self._read())]
        return d[7] / sum(d) if sum(d) else 0.0


def _spark_ts(s: str | None) -> float | None:
    # REST API timestamps look like 2026-10-18T01:50:00.123GMT
    if not s:
        return None
    return dt.datetime.strptime(s, "%Y-%m-%dT%H:%M:%S.%f%Z").replace(tzinfo=dt.timezone.utc).timestamp()


#: Python evaluation node metrics (Spark's PythonSQLMetrics), by the name
#: the SQL REST API shows them under
PY_METRICS = {
    "time to start Python workers": "python_boot_s",
    "time to initialize Python workers": "python_init_s",
    "time to run Python workers": "python_run_s",
    "data sent to Python workers": "python_bytes_sent",
    "data returned from Python workers": "python_bytes_received",
}
_UNITS = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
          "B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}


def parse_metric(text: str) -> float:
    """A SQL metric as the UI formats it ("2.5 s", "62.8 KiB", "1,234", or
    "total (min, med, max ...)\n2.5 s (...)") as seconds, bytes or a count."""
    if "\n" in text:
        text = text.split("\n", 1)[1]
    parts = text.replace(",", "").split()
    value = float(parts[0])
    if len(parts) > 1 and parts[1] in _UNITS:
        value *= _UNITS[parts[1]]
    return value


class SparkAccounting:
    """Per-operation Spark accounting, read after the operation finished."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.ui = self.sc.uiWebUrl
        self.app = self.sc.applicationId
        self._n = 0

    def begin(self, op: str) -> str:
        self._n += 1
        group = f"perfbench-{self._n}-{op}"
        self.sc.setJobGroup(group, op)
        return group

    def clear_group(self) -> None:
        self.sc.setJobGroup("perfbench-idle", "between operations")

    def _get(self, path: str):
        with urllib.request.urlopen(f"{self.ui}/api/v1/applications/{self.app}/{path}", timeout=30) as r:
            return json.loads(r.read())

    def drain(self) -> None:
        # the UI store is fed from the listener bus; wait until it caught up
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()

    def end(self, group: str, t0: float, t1: float) -> dict:
        """Counts and times of the jobs the operation ran in ``group``."""
        self.drain()
        tracker = self.sc.statusTracker()
        job_ids = set(tracker.getJobIdsForGroup(group))
        jobs = [j for j in self._get("jobs") if j["jobId"] in job_ids]
        stage_ids = {s for j in jobs for s in j["stageIds"]}
        # stages skipped because their shuffle output was reused never ran
        stages = [s for s in self._get("stages") if s["stageId"] in stage_ids and s["status"] != "SKIPPED"]
        out = {
            "jobs": len(job_ids),
            "stages": len(stages),
            "tasks": sum(s["numCompleteTasks"] + s["numFailedTasks"] for s in stages),
            "task_s": sum(s["executorRunTime"] for s in stages) / 1e3,
            "task_cpu_s": sum(s["executorCpuTime"] for s in stages) / 1e9,
            "gc_s": sum(s["jvmGcTime"] for s in stages) / 1e3,
            "shuffle_read_bytes": sum(s["shuffleReadBytes"] for s in stages),
            "shuffle_write_bytes": sum(s["shuffleWriteBytes"] for s in stages),
            "spill_bytes": sum(s["memoryBytesSpilled"] + s["diskBytesSpilled"] for s in stages),
            **self._python_metrics(job_ids),
        }
        # time in the operation during which none of its jobs was running
        spans = sorted(
            (max(_spark_ts(j["submissionTime"]), t0), min(_spark_ts(j.get("completionTime")) or t1, t1))
            for j in jobs if j.get("submissionTime")
        )
        busy, cur_lo, cur_hi = 0.0, None, None
        for lo, hi in spans:
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    busy += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            busy += cur_hi - cur_lo
        out["idle_between_jobs_s"] = max(0.0, (t1 - t0) - busy)
        return out

    def _python_metrics(self, job_ids: set) -> dict:
        """Sums over the Python evaluation nodes of the SQL executions that
        ran the operation's jobs. A Python data source's scan (the REST
        reader's ``BatchScan``) is one too, but it reports only the bytes it
        exchanged with its workers and its rows, not the workers' times."""
        out = {key: 0.0 for key in PY_METRICS.values()}
        out["python_rows"] = 0.0
        for ex in self._get("sql?details=true&planDescription=false&length=100000"):
            if not job_ids.intersection(ex.get("successJobIds", []) + ex.get("failedJobIds", [])):
                continue
            for node in ex.get("nodes", []):
                metrics = {m["name"]: m["value"] for m in node.get("metrics", [])}
                # stateful nodes carry the same metrics but exchange nothing
                if not parse_metric(metrics.get("data sent to Python workers", "0")):
                    continue
                for name, key in PY_METRICS.items():
                    out[key] += parse_metric(metrics.get(name, "0"))
                out["python_rows"] += parse_metric(metrics.get("number of output rows", "0"))
        return out

    def heap_peak_mb(self) -> float:
        """Sum of the JVM heap pools' peak usage since the JVM started."""
        mf = self.sc._jvm.java.lang.management.ManagementFactory
        total = 0
        for pool in mf.getMemoryPoolMXBeans():
            if str(pool.getType()) == "Heap memory":
                total += pool.getPeakUsage().getUsed()
        return total / 2**20


def catalyst_phases_ms(df) -> dict:
    """Analysis, optimization and planning time of ``df``'s query execution."""
    phases = df._jdf.queryExecution().tracker().phases()  # a Scala Map
    out = {}
    for name in ("analysis", "optimization", "planning"):
        opt = phases.get(name)
        if opt.isDefined():
            out[name] = opt.get().durationMs()
    return out


class BatchListener(StreamingQueryListener):
    """Keeps every micro-batch progress report (as plain dicts)."""

    def __init__(self):
        self.batches: list[dict] = []
        self._lock = threading.Lock()

    def onQueryStarted(self, event) -> None:  # noqa: N802 (Spark API)
        pass

    def onQueryProgress(self, event) -> None:  # noqa: N802
        p = event.progress
        rec = {
            "id": str(p.id),
            "batch_id": p.batchId,
            "duration_ms": dict(p.durationMs),
            "input_rows": p.numInputRows,
            "state_rows": sum(s.numRowsTotal for s in p.stateOperators),
        }
        with self._lock:
            self.batches.append(rec)

    def onQueryIdle(self, event) -> None:  # noqa: N802
        pass

    def onQueryTerminated(self, event) -> None:  # noqa: N802
        pass

    def take(self) -> list[dict]:
        with self._lock:
            out, self.batches = self.batches, []
        return out
