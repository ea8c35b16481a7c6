"""End-to-end connector pipeline (the reference's ``etl_connector.py``
contract, /root/reference/README.md:21-34, rebuilt Spark-native):

    extract  - REST data source (restapi format, parallel pagination)
    transform- parse raw JSON -> pinned schema, sanitize field names,
               coerce timestamps, drop empty payloads
    load     - document sink: <connector>_raw collection, ingested_at,
               key-based upsert (idempotent re-runs)

Credentials flow from .env (envconf.load_env) into the source's auth_env
option — never into code or logs.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.json_utils import (
    coerce_timestamps,
    drop_empty_payloads,
    sanitize_field_names,
)
from .docsink import write_collection
from .restapi import RestApiDataSource


@dataclass
class ConnectorConfig:
    name: str  # collection becomes <name>_raw
    base_url: str
    sink_dir: str
    record_schema: str  # DDL for the parsed record payload
    key_col: str = "id"
    timestamp_cols: dict[str, str] = field(default_factory=dict)
    required_cols: list[str] = field(default_factory=list)
    source_options: dict[str, str] = field(default_factory=dict)
    # incremental extraction (the spec's ingestion timestamps exist "to
    # support audits or updates", README.md:29): the record column holding
    # the server-side update time, and the API query param that filters on
    # it. Both set => run_connector(incremental=True) fetches only records
    # newer than the collection's current high-water mark.
    since_col: str | None = None
    since_param: str | None = None
    # docsink bucket count for this connector's collection — SIZE TO THE
    # COLLECTION, not a constant: each bucket is one merge task and one
    # file lineage, so a demo-sized feed on 16 buckets pays 16 tasks of
    # pure overhead per sync while a 100 TB collection wants thousands.
    # Same sizing rule as operators/bucketing.py n_buckets and the
    # streaming state-store partition constant (plans/stream_batch.py).
    sink_buckets: int = 16


def register_sources(spark: SparkSession) -> None:
    spark.dataSource.register(RestApiDataSource)


def extract(spark: SparkSession, cfg: ConnectorConfig) -> DataFrame:
    """Raw landing frame: one JSON string per record + corrupt-page capture."""
    register_sources(spark)
    reader = (
        spark.read.format("restapi")
        .option("base_url", cfg.base_url)
        .option("schema_ddl", "record string, _corrupt_record string")
    )
    opts = dict(cfg.source_options)
    # resolve credentials HERE (driver process, where .env was loaded):
    # data-source callbacks run in executor-side Python workers whose
    # environment predates any driver-side load_env call. Fail FAST on a
    # missing/empty credential — passing "" through would send a malformed
    # "Bearer " header and die executor-side with an opaque 401
    auth_env = opts.pop("auth_env", None)
    if auth_env is not None:
        token = os.environ.get(auth_env, "")
        if not token:
            raise ValueError(
                f"credential env var {auth_env!r} is unset or empty — call "
                "envconf.load_env(...) (or export it) before extract"
            )
        opts["auth_token"] = token
    for k, v in opts.items():
        reader = reader.option(k, v)
    return reader.load()


def transform(raw: DataFrame, cfg: ConnectorConfig) -> DataFrame:
    """Parse → sanitize → coerce → validate (all plan-level, no UDFs)."""
    parsed = (
        raw.where(F.col("_corrupt_record").isNull())
        .select(F.from_json("record", cfg.record_schema).alias("r"))
        .select("r.*")
    )
    clean = sanitize_field_names(parsed)
    clean = coerce_timestamps(clean, cfg.timestamp_cols)
    return drop_empty_payloads(clean, cfg.required_cols)


def load(df: DataFrame, cfg: ConnectorConfig) -> str:
    return write_collection(
        df,
        cfg.sink_dir,
        f"{cfg.name}_raw",
        key_col=cfg.key_col,
        n_buckets=cfg.sink_buckets,
        mode="upsert",
    )


def corrupt_pages(raw: DataFrame) -> DataFrame:
    """The PERMISSIVE-mode reject channel (README.md:32-33 error domain)."""
    return raw.where(F.col("_corrupt_record").isNotNull()).select("_corrupt_record")


def incremental_watermark(spark: SparkSession, cfg: ConnectorConfig) -> str | None:
    """The collection's max ``since_col`` (ISO-8601), or None on first run.

    A bounded 1-row aggregate — the only thing that crosses to the driver
    is one timestamp, regardless of collection size; the scan itself prunes
    to the ``since_col`` column.

    The max is rendered to text ENGINE-SIDE (a cast in the session
    timezone) and collected as a string: collecting the TimestampType
    value would hand PySpark a datetime in the driver OS's local zone
    (``collect`` converts via ``fromtimestamp``, ignoring
    ``spark.sql.session.timeZone``), silently shifting the ``since``
    param on any non-UTC host — and a shifted watermark makes the next
    delta sync skip real records forever."""
    from .docsink import read_collection

    try:
        existing = read_collection(spark, cfg.sink_dir, f"{cfg.name}_raw")
    except Exception:  # noqa: BLE001 — path absent => first run, full extract
        return None
    wm = (
        existing.agg(F.max(cfg.since_col).cast("string").alias("wm"))
        .collect()[0]
        .wm
    )
    return wm


def _ge_boundary(wm: str) -> str:
    """Nudge an ISO-8601 watermark back one microsecond so a server with
    strictly-greater ``since`` semantics re-delivers boundary records.

    A record carrying a timestamp EQUAL to the landed high-water mark that
    lands upstream after a run would otherwise be skipped forever (the next
    run asks for ``> wm``). Re-fetching the boundary instant is strictly
    safer: the key-based upsert makes re-delivery idempotent, so the only
    cost is the handful of boundary rows on the wire. Unparseable
    watermarks (opaque server cursors) pass through unchanged — those
    servers define their own boundary semantics."""
    import datetime as dt

    try:
        t = dt.datetime.fromisoformat(wm)
    except ValueError:
        return wm
    return (t - dt.timedelta(microseconds=1)).isoformat()


class PartialExtractError(RuntimeError):
    """Raised when the API returned error-shaped pages mid-extract: landing
    the partial batch would advance the incremental watermark past the gap
    and permanently skip the unfetched records."""


def run_connector(
    spark: SparkSession,
    cfg: ConnectorConfig,
    incremental: bool = False,
    allow_partial: bool = False,
    metrics_out: dict | None = None,
) -> str:
    """Full extract→transform→load; returns the collection path.

    ``incremental=True`` (with ``since_col``/``since_param`` configured)
    asks the API for records newer than the landed high-water mark — with
    greater-OR-EQUAL boundary semantics (see :func:`_ge_boundary`) — so a
    scheduled re-run transfers only the delta; the key-based upsert keeps
    re-delivered boundary records idempotent.

    The corrupt-page channel is CHECKED before anything lands: an
    error-shaped 200 page truncates its pagination chain, and silently
    loading the partial batch would advance the watermark past the gap —
    the next incremental run would then skip the unfetched records forever.
    Default is to raise :class:`PartialExtractError` with nothing written;
    ``allow_partial=True`` lands what was fetched (the re-delivering
    upsert heals the gap on a later full run). The extract is persisted so
    the check, the transform, and the load all consume ONE fetch — an
    unpersisted plan would re-run the HTTP pagination per action.

    Pass a dict as ``metrics_out`` to receive run telemetry (the spec's
    "confirm consistent insertion" check, README.md:34): ``rows_landed``
    (records in the transformed batch handed to the sink — equals the
    collection delta unless the upsert replaces existing keys),
    ``null_key_rows``, and — when ``since_col`` is configured — the
    outgoing high-water mark ``max_since`` (None when the batch is
    empty). Metrics come from
    ``DataFrame.observe`` (a CollectMetrics node evaluated BY the write
    action itself), so validation costs zero extra scans — at 100 TB a
    post-load ``count()`` would re-read the landed collection; this reads
    nothing."""
    if incremental and cfg.since_col and cfg.since_param:
        wm = incremental_watermark(spark, cfg)
        if wm is not None:
            import urllib.parse
            from dataclasses import replace

            sep = "&" if "?" in cfg.base_url else "?"
            suffix = urllib.parse.urlencode({cfg.since_param: _ge_boundary(wm)})
            cfg = replace(cfg, base_url=f"{cfg.base_url}{sep}{suffix}")
    raw = extract(spark, cfg).persist()
    try:
        bad = corrupt_pages(raw)
        n_bad = bad.count()
        if n_bad and not allow_partial:
            sample = [str(r[0])[:200] for r in bad.head(3)]
            raise PartialExtractError(
                f"{cfg.name}: {n_bad} corrupt/error page(s) truncated the "
                f"extract; nothing landed (watermark unchanged). First: "
                f"{sample}. Re-run, or pass allow_partial=True to land the "
                "fetched prefix."
            )
        out = transform(raw, cfg)
        if metrics_out is None:
            return load(out, cfg)
        from pyspark.sql import Observation

        obs = Observation(f"{cfg.name}_run")
        metric_cols = [
            F.count(F.lit(1)).alias("rows_landed"),
            # coalesce: SUM over an EMPTY batch is NULL, but the documented
            # contract (and any `== 0` consumer) wants 0
            F.coalesce(
                F.sum(F.col(cfg.key_col).isNull().cast("long")), F.lit(0)
            ).alias("null_key_rows"),
        ]
        if cfg.since_col:
            metric_cols.append(F.max(cfg.since_col).alias("max_since"))
        path = load(out.observe(obs, *metric_cols), cfg)
        metrics_out.update(obs.get)
        return path
    finally:
        raw.unpersist()
