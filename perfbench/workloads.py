"""The benchmark's workloads: what a pass runs and how each output is checked.

A workload has a set-up (resolve its tables, register its sources) and a
pass: a list of operations. An operation is one registered-query execution,
one connector sync or one compaction. Its ``run`` is timed; its ``check``
runs right after it, untimed, on the output it produced.
"""

from __future__ import annotations

import json
import os
import random
import subprocess
import sys
import time
import urllib.request
from dataclasses import dataclass
from typing import Any, Callable

from custom_python_etl_data_connector_rohitharumugams_spark import catalog, plans
from custom_python_etl_data_connector_rohitharumugams_spark.sources import docsink, pipeline
from custom_python_etl_data_connector_rohitharumugams_spark.sources.restapi import RestApiReader
from pyspark.sql.types import StringType, StructField, StructType

import checks
import upstream


@dataclass
class Op:
    name: str
    kind: str
    run: Callable[[dict], Any]  # fills the op's record, returns the output
    check: Callable[[Any], None]
    before: Callable[[], None] = lambda: None  # untimed preparation
    after: Callable[[dict], None] = lambda rec: None  # untimed, after run


@dataclass
class Context:
    spark: Any
    seed: int
    tmp: str
    sf_dir: str
    nproc: int


# --------------------------------------------------------------------------
# registered queries

#: the registered queries each query workload runs (a name, or a family
#: prefix ending in "_"), and the tables its set-up resolves. A pass runs the
#: queries in an order drawn from the run's seed. ``stream_replay`` is
#: trimmed to one events replay to fit the run budget of the workloads
#: BENCHMARK.json judges; the README says what was left out.
QUERY_SETS: dict[str, tuple[tuple[str, ...], tuple[str, ...]]] = {
    "sql_analytics": (("pricing_", "join_", "agg_", "analytics_", "window_", "sql_", "setop_", "sort_",
                       "asof_"), catalog.TABLES),
    "llm_pipeline": (("llm_ann_", "llm_minhash_near_dup", "llm_simhash_near_dup", "llm_semantic_dedup"),
                     ("documents", "embeddings")),
    "stream_replay": (("stream_cms_maintenance",), ("events",)),
}

#: warm passes a workload runs after its cold pass and before the counted
#: ones. A stream_replay pass keeps getting faster for several passes (JIT of
#: the micro-batch loop: 5.5, 5.0, 4.4, 4.2 s on a quiet host), and its first
#: warm pass varies most with the host's load, so it is run and checked but
#: not counted in warm_s. A connector pass costs about 9 s, and a warm-up
#: pass for it does not fit the run budget.
WARMUP_PASSES = {"stream_replay": 1}

#: a copy of the sf0.1 fixture's events table (seed 42; the only table
#: stream_replay reads), so that the judged workloads read nothing outside
#: the checkout
FIXTURES = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixtures", "sf0.1")


def sf_dir() -> str:
    """The fixture directory the query workloads read."""
    return os.environ.get("SPARK_GRAFT_SF_DIR") or FIXTURES


def _select(spec: tuple[str, ...]) -> list[str]:
    names = sorted(plans.all_queries())
    out = [n for n in names if any(n == s or (s.endswith("_") and n.startswith(s)) for s in spec)]
    missing = [s for s in spec if not s.endswith("_") and s not in names]
    if missing:
        raise SystemExit(f"unknown registered queries: {missing}")
    return out


class QueryWorkload:
    """Registered queries, each checked against its DuckDB oracle."""

    def __init__(self, name: str):
        spec, self.tables = QUERY_SETS[name]
        self.queries = _select(spec)
        self.qdefs = plans.all_queries()
        self.oracle: checks.Oracle | None = None

    def start(self, ctx: Context) -> None:
        missing = [t for t in self.tables if not os.path.exists(os.path.join(ctx.sf_dir, f"{t}.parquet"))]
        if missing:
            raise SystemExit(f"{ctx.sf_dir} lacks the tables {missing}: point SPARK_GRAFT_SF_DIR at the "
                             "sf0.1 fixture directory (TESTDATA.md)")
        self.oracle = checks.Oracle(ctx.sf_dir, catalog.TABLES, plans.oracle_map())
        missing = [q for q in self.queries if q not in self.oracle.sql]
        if missing:
            raise SystemExit(f"queries without an oracle: {missing}")
        self.rng = random.Random(ctx.seed)

    def setup(self, ctx: Context) -> dict:
        t0 = time.perf_counter()
        for t in self.tables:
            catalog.load_table(ctx.spark, ctx.sf_dir, t)
        return {"catalog.resolve_s": time.perf_counter() - t0}

    def ops(self, ctx: Context, pass_no: int) -> list[Op]:
        order = list(self.queries)
        self.rng.shuffle(order)
        return [self._op(ctx, q) for q in order]

    def _op(self, ctx: Context, name: str) -> Op:
        qd = self.qdefs[name]

        def run(rec: dict):
            t0 = time.perf_counter()
            df = qd.fn(ctx.spark, ctx.sf_dir)
            rec["build_s"] = time.perf_counter() - t0
            pdf = df.toPandas()
            rec["df"] = df
            return pdf

        return Op(name, "query", run, lambda pdf: self.oracle.check(name, pdf))

    def stop(self) -> None:
        if self.oracle is not None:
            self.oracle.close()


# --------------------------------------------------------------------------
# connector

class Upstream:
    """The seeded API server, run as a separate process."""

    def __init__(self, seed: int):
        self.proc = subprocess.Popen(
            [sys.executable, os.path.join(os.path.dirname(__file__), "upstream.py"), "serve", "--seed", str(seed)],
            stdout=subprocess.PIPE, text=True,
        )
        line = self.proc.stdout.readline()
        if not line.strip():
            self.close()
            raise RuntimeError("upstream server did not start")
        self.base = f"http://127.0.0.1:{int(line)}"

    def control(self, path: str) -> dict:
        with urllib.request.urlopen(f"{self.base}/_control/{path}", timeout=30) as r:
            return json.loads(r.read())

    def close(self) -> None:
        self.proc.terminate()
        try:
            self.proc.wait(timeout=10)
        except subprocess.TimeoutExpired:
            self.proc.kill()
            self.proc.wait()
        self.proc.stdout.close()


class ConnectorWorkload:
    """Full load, incremental syncs and a compaction of one collection."""

    collection = "feed_raw"

    def start(self, ctx: Context) -> None:
        self.api = Upstream(ctx.seed)
        os.environ[upstream.TOKEN_ENV] = upstream.TOKEN
        self.options = {
            "auth_env": upstream.TOKEN_ENV,
            "mode": "offset",
            "num_partitions": str(ctx.nproc),
            "page_size": str(upstream.PAGE_SIZE),
        }
        self.truth = {v: upstream.truth(ctx.seed, v) for v in range(upstream.N_SYNCS + 1)}
        # the page ranges the offset reader assigns to its partitions, asked
        # of the engine's own reader with the options this workload uses
        reader = RestApiReader(
            StructType([StructField("record", StringType()), StructField("_corrupt_record", StringType())]),
            {**self.options, "base_url": f"{self.api.base}/items", "auth_token": upstream.TOKEN},
        )
        self.page_ranges = [(p.start, p.end) for p in reader.partitions()]

    def setup(self, ctx: Context) -> dict:
        t0 = time.perf_counter()
        pipeline.register_sources(ctx.spark)
        return {"sources.register_s": time.perf_counter() - t0}

    def _cfg(self, sink_dir: str, nproc: int) -> pipeline.ConnectorConfig:
        return pipeline.ConnectorConfig(
            name="feed",
            base_url=f"{self.api.base}/items",
            sink_dir=sink_dir,
            record_schema=upstream.RECORD_SCHEMA,
            key_col="id",
            timestamp_cols={"updated_at": "", "created_at": upstream.CREATED_FORMAT},
            required_cols=["name", "score"],
            since_col="updated_at",
            since_param="since",
            # one bucket per core: the sizing rule ConnectorConfig documents
            # for a collection of a few thousand records
            sink_buckets=nproc,
            source_options=self.options,
        )

    def ops(self, ctx: Context, pass_no: int) -> list[Op]:
        sink = os.path.join(ctx.tmp, f"collection-{pass_no}")
        path = os.path.join(sink, self.collection)
        cfg = self._cfg(sink, ctx.nproc)
        st: dict = {}
        out = [self._sync(ctx, cfg, path, v, st) for v in range(upstream.N_SYNCS + 1)]
        return out + [self._compaction(ctx, sink, path, st)]

    def _sync(self, ctx, cfg, path: str, version: int, st: dict) -> Op:
        def before():
            self.api.control(f"version?version={version}")
            st["files"] = checks.parquet_files(path)

        def run(rec: dict):
            rec["t_call"] = time.time()
            return pipeline.run_connector(ctx.spark, cfg, incremental=True)

        def after(rec: dict):
            stats = self.api.control("stats")
            files = checks.parquet_files(path)
            written = sum(n for p, n in files.items() if p not in st["files"])
            rec["server"] = stats
            rec["rows_written"] = written
            rec["files"] = sum(docsink.bucket_file_counts(os.path.dirname(path), self.collection).values())

        def check(landed: str):
            rows = checks.read_collection_rows(landed)
            checks.check_collection(rows, self.truth[version])
            st["rows"] = rows

        kind = "full_load" if version == 0 else "sync"
        return Op(f"{kind}_{version}", kind, run, check, before, after)

    def _compaction(self, ctx, sink: str, path: str, st: dict) -> Op:
        def before():
            st["n_files"] = len(checks.parquet_files(path))

        def run(rec: dict):
            return docsink.compact_collection(ctx.spark, sink, self.collection)

        def check(_n_files: int):
            if "rows" not in st:
                raise checks.CheckFailed("no checked collection to compact")
            after_rows = checks.read_collection_rows(path)
            checks.check_compaction(st["rows"], after_rows, st["n_files"], len(checks.parquet_files(path)))

        return Op("compaction", "compaction", run, check, before)

    def busiest_reader_share(self, data_pages: list[int]) -> float:
        """Share of data pages served to the busiest reader partition."""
        if not data_pages:
            return 0.0
        per = [sum(1 for p in data_pages if lo <= p < hi) for lo, hi in self.page_ranges]
        return max(per) / len(data_pages)

    def stop(self) -> None:
        if getattr(self, "api", None) is not None:
            self.api.close()


WORKLOADS = ("connector_etl", "sql_analytics", "llm_pipeline", "stream_replay")


def make(name: str):
    if name == "connector_etl":
        return ConnectorWorkload()
    if name in QUERY_SETS:
        return QueryWorkload(name)
    raise SystemExit(f"unknown workload {name!r}; choose from {', '.join(WORKLOADS)}")
