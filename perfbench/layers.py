"""Per-layer metrics of a traced run, computed from its op records.

Layer figures describe the traced warm passes (median over them), except
these: set-up figures are medians over the set-ups ``setup_s`` counts, and
``session.jvm_launch_s`` is the first set-up's ``get_spark``;
``operators.python_boot_s`` comes from the cold pass (where workers start),
peaks from the whole run, and the ``etl_*`` and ``microbatch_p50_ms``
figures from the untraced warm passes.
Where a workload bypasses a layer, that layer's figures read zero.
"""

from __future__ import annotations

import statistics

UNITS = {
    "session.start_s": "s",
    "session.jvm_launch_s": "s",
    "session.jvm_peak_rss_mb": "MB",
    "session.jvm_heap_peak_mb": "MB",
    "catalog.resolve_s": "s",
    "sources.register_s": "s",
    "sources.http_requests": "count",
    "sources.http_empty_pages": "count",
    "sources.http_bytes": "bytes",
    "sources.extract_window_s": "s",
    "sources.busiest_reader_share": "ratio",
    "sources.http_retries": "count",
    "sources.time_to_first_request_s": "s",
    "sources.docsink_rows_written_per_record": "ratio",
    "sources.docsink_files": "count",
    "plans.build_s": "s",
    "plans.analysis_ms": "ms",
    "plans.optimization_ms": "ms",
    "plans.planning_ms": "ms",
    "plans.jobs": "count",
    "plans.stages": "count",
    "plans.tasks": "count",
    "plans.idle_between_jobs_s": "s",
    "plans.task_s": "s",
    "plans.task_cpu_s": "s",
    "plans.gc_s": "s",
    "plans.shuffle_read_bytes": "bytes",
    "plans.shuffle_write_bytes": "bytes",
    "plans.spill_bytes": "bytes",
    "operators.python_boot_s": "s",
    "operators.python_run_s": "s",
    "operators.python_bytes_sent": "bytes",
    "operators.python_bytes_received": "bytes",
    "operators.python_rows": "count",
    "operators.python_peak_rss_mb": "MB",
    "streaming.batches": "count",
    "streaming.trigger_ms": "ms",
    "streaming.planning_ms": "ms",
    "streaming.add_batch_ms": "ms",
    "streaming.wal_commit_ms": "ms",
    "streaming.latest_offset_ms": "ms",
    "streaming.input_rows": "count",
    "streaming.state_rows": "count",
    "etl_full_load_s": "s",
    "etl_sync_s": "s",
    "etl_compaction_s": "s",
    "microbatch_p50_ms": "ms",
    "peak_rss_mb": "MB",
    "trace.overhead_s": "s",
    "host.steal_share": "ratio",
}

_SPARK = {
    "plans.jobs": "jobs",
    "plans.stages": "stages",
    "plans.tasks": "tasks",
    "plans.idle_between_jobs_s": "idle_between_jobs_s",
    "plans.task_s": "task_s",
    "plans.task_cpu_s": "task_cpu_s",
    "plans.gc_s": "gc_s",
    "plans.shuffle_read_bytes": "shuffle_read_bytes",
    "plans.shuffle_write_bytes": "shuffle_write_bytes",
    "plans.spill_bytes": "spill_bytes",
    "operators.python_bytes_sent": "python_bytes_sent",
    "operators.python_bytes_received": "python_bytes_received",
    "operators.python_rows": "python_rows",
}
_STREAM = {
    "streaming.trigger_ms": "triggerExecution",
    "streaming.planning_ms": "queryPlanning",
    "streaming.add_batch_ms": "addBatch",
    "streaming.wal_commit_ms": "walCommit",
    "streaming.latest_offset_ms": "latestOffset",
}


def _median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def _pass_layers(p: dict, page_share) -> dict:
    ops = [o for o in p["ops"] if o.get("ok")]
    spark = [o["spark"] for o in ops if "spark" in o]
    out = {k: sum(s[v] for s in spark) for k, v in _SPARK.items()}
    out["operators.python_run_s"] = sum(s["python_run_s"] for s in spark)
    out["plans.build_s"] = sum(o.get("build_s", 0.0) for o in ops)
    for phase in ("analysis", "optimization", "planning"):
        out[f"plans.{phase}_ms"] = sum(o.get("phases_ms", {}).get(phase, 0) for o in ops)
    batches = [b for o in ops for b in o.get("batches", [])]
    out["streaming.batches"] = len(batches)
    for k, v in _STREAM.items():
        out[k] = sum(b["duration_ms"].get(v, 0) for b in batches)
    out["streaming.input_rows"] = sum(b["input_rows"] for b in batches)
    out["streaming.state_rows"] = sum(b["state_rows"] for b in batches)
    loads = [o for o in ops if o["kind"] in ("full_load", "sync")]
    srv = [o["server"] for o in loads]
    out["sources.http_requests"] = sum(s["requests"] for s in srv)
    out["sources.http_empty_pages"] = sum(s["empty_pages"] for s in srv)
    out["sources.http_bytes"] = sum(s["bytes"] for s in srv)
    out["sources.http_retries"] = sum(s["retries"] for s in srv)
    out["sources.extract_window_s"] = sum(
        s["last_request_unix"] - s["first_request_unix"] for s in srv if s["first_request_unix"])
    out["sources.time_to_first_request_s"] = _median(
        [o["server"]["first_request_unix"] - o["t_call"] for o in loads if o["server"]["first_request_unix"]])
    full = [o for o in loads if o["kind"] == "full_load"]
    out["sources.busiest_reader_share"] = page_share(full[0]["server"]["data_pages"]) if full else 0.0
    records = sum(s["records"] for s in srv)
    out["sources.docsink_rows_written_per_record"] = (
        sum(o["rows_written"] for o in loads) / records if records else 0.0)
    out["sources.docsink_files"] = loads[-1]["files"] if loads else 0
    return out


def _etl(passes: list[dict]) -> dict:
    def med(kind):
        return _median([_median([o["seconds"] for o in p["ops"] if o["kind"] == kind and "seconds" in o])
                        for p in passes])

    batches = [b["duration_ms"].get("triggerExecution", 0) for p in passes for o in p["ops"]
               for b in o.get("batches", [])]
    return {
        "etl_full_load_s": med("full_load"),
        "etl_sync_s": med("sync"),
        "etl_compaction_s": med("compaction"),
        "microbatch_p50_ms": _median(batches),
    }


def per_layer(run, steal_share: float) -> dict:
    share = getattr(run.workload, "busiest_reader_share", lambda pages: 0.0)
    warm = [_pass_layers(p, share) for p in run.warm_traced]
    out = {k: _median([w[k] for w in warm]) for k in warm[0]}
    cold_spark = [o["spark"] for o in run.cold["ops"] if "spark" in o]
    out["operators.python_boot_s"] = sum(s["python_boot_s"] + s["python_init_s"] for s in cold_spark)
    # the layers of setup_s: medians over the same set-ups
    for k in ("session.start_s", "catalog.resolve_s", "sources.register_s"):
        out[k] = _median([s.get(k, 0.0) for s in run.setups])
    out["session.jvm_launch_s"] = run.first_setup["session.start_s"]
    out["session.jvm_peak_rss_mb"] = run.rss.peak_jvm_kb / 1024
    out["session.jvm_heap_peak_mb"] = run.acct.heap_peak_mb()
    out["operators.python_peak_rss_mb"] = run.rss.peak_python_kb / 1024
    out["peak_rss_mb"] = run.rss.peak_total_kb / 1024
    out["host.steal_share"] = steal_share
    out.update(_etl(run.warm))
    out["trace.overhead_s"] = (_median([p["seconds"] for p in run.warm_traced])
                               - _median([p["seconds"] for p in run.warm]))
    return {k: out[k] for k in UNITS}
