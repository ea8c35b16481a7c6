"""Batch-form queries for the streaming operator surface (SURVEY.md SS2.8).

Each streaming operator (tumbling/sliding/session windows, dedup) has a
batch-equivalent declared here for the DuckDB oracle; the same operator
running under ``readStream``/``availableNow`` is exercised in
tests/test_streaming.py, where batch output == streaming output is the
correctness invariant (Structured Streaming's incremental execution of the
identical logical plan).

Window starts are emitted as epoch seconds (BIGINT): Spark's ``window()``
struct and DuckDB timestamps don't hash alike.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table, sym_diff_count
from ..session import conf_scope
from .registry import query

#: State-store partition count for the REAL streaming runs (the
#: watermark-replay and checkpoint-recovery queries). Structured Streaming
#: instantiates one state store per shuffle partition and pays its
#: snapshot/commit/maintenance cost PER MICRO-BATCH whether the store
#: holds 4 keys or 4 million — at the bench tier (~4k window-keys of
#: state, multi-batch availableNow replays) the session default of 32
#: stores is pure fixed overhead: measured 14.0 s -> 4.3 s for the
#: recovery query at sf0.1 with byte-identical emissions. This is the
#: streaming twin of sizing spark.sql.shuffle.partitions to data volume:
#: production sizes stores to state bytes / executor heap (and Spark
#: pins the count into the checkpoint at first run — rescaling state
#: needs an offline repartition), so a restart-consistent explicit
#: constant is exactly what a deployment would ship.
_STREAM_STATE_PARTITIONS = 8


#: Runtime conf for one streaming run, applied with ``conf_scope`` (set at
#: plan time, pinned into the checkpoint; restored after termination so
#: batch queries keep the session's conf):
#:
#: - ``shuffle.partitions``: the state-store sizing above.
#: - ``adaptive.enabled=false``: with AQE on, every shuffle stage of every
#:   per-micro-batch action materializes as its OWN Spark job (plus a
#:   re-optimization pass), which on the admission loop measured 295 jobs
#:   per run vs 108 with AQE off — identical plans, identical results,
#:   ~2.7x the fixed job/scheduling cost. AQE's value (runtime coalescing,
#:   skew splits) needs unknown-cardinality shuffles; inside a foreachBatch
#:   loop every frame is batch- or candidate-bounded BY CONSTRUCTION (state
#:   reads are partition-pruned scans, probes are broadcasts), and the
#:   partition count is already pinned — there is nothing left for AQE to
#:   adapt, so its per-stage jobs are pure overhead at every scale. This
#:   mirrors Spark's own choice of running the streaming plan itself
#:   without AQE.
#: - ``files.minPartitionNum`` / ``leafNodeDefaultParallelism`` = 1: scan
#:   split count from BYTES, not core count. The local default
#:   (minPartitionNum = defaultParallelism) shreds the fixture-scale side
#:   tables into 32 near-empty tasks per scan inside every micro-batch
#:   job; 1 lets maxPartitionBytes (128 MB) govern, which is a no-op at any
#:   scale where file bytes dominate (guide §2/§6 — partitioning derived
#:   from input size, not a constant per core).
_STREAM_STATE_CONF: dict[str, str] = {
    "spark.sql.shuffle.partitions": str(_STREAM_STATE_PARTITIONS),
    "spark.sql.adaptive.enabled": "false",
    "spark.sql.files.minPartitionNum": "1",
    "spark.sql.leafNodeDefaultParallelism": "1",
}


def _sf_tmp(tag: str, sf_dir: str, kind: str) -> str:
    """``<tmp>/sg_<tag>_<sf>_<kind>``: the one naming rule for the
    streaming queries' per-scale-factor scratch dirs (replay slices,
    logs, landing and checkpoint dirs)."""
    import tempfile

    sf = os.path.basename(sf_dir.rstrip("/")).replace(".", "_")
    return f"{tempfile.gettempdir()}/sg_{tag}_{sf}_{kind}"


def _run_stream(
    spark: SparkSession,
    writer,
    tag: str,
    *,
    checkpoint: str | None = None,
    overlap: tuple[DataFrame, ...] = (),
):
    """Run ``writer`` — a ``DataStreamWriter`` the caller has given its
    sink, output mode, query name and path — as one ``availableNow``
    streaming query and wait for it. The only place the package starts a
    streaming query:

    - the query starts and is awaited under ``_STREAM_STATE_CONF``
      (foreachBatch bodies plan their state reads against the session
      conf while the loop runs, so the scope covers the wait too);
    - a query still running after 300 s is stopped and raises, so no
      caller can start a second run against a live checkpoint;
    - ``checkpoint=None`` makes a one-shot checkpoint and removes it after
      termination; a given ``checkpoint`` is kept, because resuming from
      it is the caller's point;
    - ``overlap`` names persisted, stream-INDEPENDENT frames (they read
      only static fixture tables) that one driver thread materializes
      while the loop runs. The micro-batch loops are latency-bound and
      leave the executors mostly idle between their small stages, so the
      proof legs' corpus-scale work back-fills that capacity (guide §2.6),
      and persist() makes the thread's evaluation the one every
      post-stream consumer reuses. The thread is joined after the run and
      its first error re-raised; none starts when ``overlap`` is empty.

    Returns the terminated query, kept for progress-ledger readers."""
    import shutil
    import tempfile

    from pyspark import InheritableThread

    errs: list[BaseException] = []

    def _fill() -> None:
        try:
            spark.sparkContext.setJobDescription(
                f"{tag}: stream-independent frames (overlapped)"
            )
            for f in overlap:
                f.count()
        except BaseException as exc:  # re-raised on the main thread
            errs.append(exc)

    thread = InheritableThread(target=_fill) if overlap else None
    if thread is not None:
        thread.start()
    cp = checkpoint or tempfile.mkdtemp(prefix=f"sg_{tag}_cp_")
    try:
        with conf_scope(spark, _STREAM_STATE_CONF):
            q = (
                writer.option("checkpointLocation", cp)
                .trigger(availableNow=True)
                .start()
            )
            if not q.awaitTermination(300):
                q.stop()
                raise RuntimeError(f"{tag} stream did not finish in 300 s")
    finally:
        if checkpoint is None:
            shutil.rmtree(cp, ignore_errors=True)
        if thread is not None:
            thread.join()
    if errs:
        raise errs[0]
    return q


def _run_replay_foreachbatch(
    spark: SparkSession,
    sf_dir: str,
    tag: str,
    sink,
    transform=None,
    source: str = "events",
    overlap: tuple[DataFrame, ...] = (),
):
    """ONE copy of the replayed-foreachBatch scaffold shared by the
    streaming-maintenance queries (CMS grids, observed metrics, histogram
    quantiles, the ANN index loops, corpus admission): time-sliced replay
    source (maxFilesPerTrigger=1 => real micro-batch boundaries) run
    through :func:`_run_stream`, with a deterministic per-(tag, sf, PID)
    parquet log dir CLEARED at invocation start (the log must outlive the
    call for the returned lazy plans, so a mkdtemp per run would leak one
    dir per bench/driver execution — bounded to one per tag+sf+process
    instead; the pid key is the sg_pqidx concurrency discipline: a driver
    run and a verify session overlapping on the same fixture must not
    rmtree each other's live state mid-stream).
    ``transform`` (optional) maps the streaming source frame before the
    sink — e.g. observe() instrumentation; ``sink`` is a FACTORY
    ``sink(log_dir) -> foreachBatch body`` so the batch writer is built
    against the helper-owned log path. ``source`` selects the replayed
    table: ``"events"`` (time-sliced) or ``"documents"`` (doc_id-sliced
    arrival order — the corpus-admission loop). ``overlap`` is passed to
    :func:`_run_stream`. Returns ``(log_dir, query)`` — the query object
    is terminated, kept for progress-ledger readers."""
    import shutil

    from ..streaming.replay import (
        documents_stream,
        events_stream,
        split_documents_for_replay,
        split_events_for_replay,
    )

    splitter, stream_fn = {
        "events": (split_events_for_replay, events_stream),
        "documents": (split_documents_for_replay, documents_stream),
    }[source]
    replay_dir = splitter(spark, sf_dir, _sf_tmp(tag, sf_dir, "replay"))
    log_dir = _sf_tmp(tag, sf_dir, f"log_{os.getpid()}")
    shutil.rmtree(log_dir, ignore_errors=True)

    sdf = stream_fn(spark, replay_dir, max_files_per_trigger=1)
    if transform is not None:
        sdf = transform(sdf)
    q = _run_stream(
        spark, sdf.writeStream.foreachBatch(sink(log_dir)), tag, overlap=overlap
    )
    return log_dir, q


@query(
    "stream_tumbling_event_counts",
    tags=("T1",),
    oracle="""
    SELECT CAST(floor(epoch(ts) / 600) * 600 AS BIGINT) AS win_start_sec,
           event_type,
           COUNT(*) AS cnt,
           ROUND(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) / 100.0, 2) AS total_value
    FROM events
    GROUP BY win_start_sec, event_type
    """,
)
def stream_tumbling_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 10-minute windows — the SAME plan builder the streaming
    path runs (streaming/ops.tumbling_counts; withWatermark is a no-op on
    batch frames), so the registered batch form and the availableNow
    replay can never drift. Totals quantize to integer cents before
    aggregation (ops._value_total) — order-free, so micro-batch
    accumulation and shuffle partial order cannot flip a rounded cent."""
    from ..streaming import ops

    e = load_table(spark, sf_dir, "events")
    return ops.tumbling_counts(e).select(
        "win_start_sec", "event_type", "cnt", "total_value"
    )


@query(
    "stream_sliding_event_volume",
    tags=("T2",),
    oracle="""
    SELECT win_start_sec, COUNT(*) AS cnt,
           ROUND(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) / 100.0, 2) AS total_value
    FROM (
        SELECT CAST(floor(epoch(ts) / 300) * 300 AS BIGINT) AS win_start_sec, value
        FROM events
        UNION ALL
        SELECT CAST(floor(epoch(ts) / 300) * 300 - 300 AS BIGINT) AS win_start_sec, value
        FROM events
    )
    GROUP BY win_start_sec
    """,
)
def stream_sliding_event_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding windows (10 min length, 5 min slide): every event lands in
    exactly two windows; the oracle materializes the same two-window
    assignment arithmetically."""
    from ..streaming import ops

    e = load_table(spark, sf_dir, "events")
    return ops.sliding_volume(e)


@query(
    "stream_session_windows",
    tags=("T3", "W2"),
    oracle="""
    WITH flagged AS (
        SELECT user_id, ts, event_id, value,
               -- >= not >: Spark's session ends at last_event + gap exclusive,
               -- so an event exactly `gap` later opens a NEW session
               CASE WHEN epoch(ts) - epoch(LAG(ts) OVER w) >= 300
                    OR LAG(ts) OVER w IS NULL THEN 1 ELSE 0 END AS new_session
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), numbered AS (
        SELECT user_id, ts, value,
               -- same (ts, event_id) tiebreak as the flagged CTE: with ts-only
               -- ordering, equal-timestamp rows have unspecified frame order
               -- and a session could split nondeterministically
               SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
        FROM flagged
    )
    SELECT user_id,
           CAST(floor(epoch(MIN(ts))) AS BIGINT) AS session_start_sec,
           COUNT(*) AS n_events,
           ROUND(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) / 100.0, 2) AS session_value
    FROM numbered
    GROUP BY user_id, session_id
    """,
)
def stream_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based session windows (5-minute gap) via Spark's native
    session_window operator; the oracle reconstructs sessions with the
    classic lag->flag->cumulative-sum dance."""
    from ..streaming import ops

    e = load_table(spark, sf_dir, "events")
    return ops.session_stats(e).select(
        "user_id", "session_start_sec", "n_events", "session_value"
    )


@query(
    "stream_dedup_user_event_types",
    tags=("T5", "O5"),
    oracle="""
    SELECT DISTINCT user_id, event_type FROM events
    """,
)
def stream_dedup_user_event_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch form of streaming dedup (dropDuplicatesWithinWatermark in the
    streaming path, tests/test_streaming.py)."""
    e = load_table(spark, sf_dir, "events")
    return e.select("user_id", "event_type").dropDuplicates()


@query(
    "stream_static_join_enrichment",
    tags=("T7", "J1"),
    oracle="""
    SELECT c_mktsegment, e.event_type, COUNT(*) AS cnt
    FROM events e JOIN customer c ON e.user_id % 150 = c.c_custkey
    GROUP BY c_mktsegment, e.event_type
    """,
)
def stream_static_join_enrichment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static join shape: events enriched against the customer dim.

    The key mapping ``user_id % 150`` is a fixed constant (150 = the
    smallest fixture's customer count, sf0.001; keys are 0-based), NOT the per-sf table size:
    the query has ONE semantics at every scale factor, every event matches
    exactly one customer, and the oracle mirrors the identical arithmetic.
    """
    e = load_table(spark, sf_dir, "events")
    c = load_table(spark, sf_dir, "customer")
    return (
        e.join(F.broadcast(c), e.user_id % 150 == c.c_custkey)
        .groupBy("c_mktsegment", "event_type")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


@query(
    "stream_stream_interval_join",
    tags=("T8", "J6"),
    oracle="""
    SELECT p.event_id AS purchase_id, p.user_id,
           COUNT(*) AS n_clicks,
           ROUND(SUM(CAST(FLOOR(c.value * 100 + 0.5) AS BIGINT)) / 100.0, 2)
               AS total_click_value
    FROM events p
    JOIN events c
      ON c.user_id = p.user_id
     AND c.ts >= p.ts - INTERVAL 30 MINUTE
     AND c.ts < p.ts
    WHERE p.event_type = 'purchase' AND c.event_type = 'click'
    GROUP BY 1, 2
    """,
)
def stream_stream_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T8 batch form: purchases joined to the same user's clicks in the
    preceding 30 minutes, aggregated per purchase. The join itself is
    streaming/ops.click_purchase_join — the identical plan runs under two
    watermarked readStreams in tests/test_streaming.py, where the
    event-time range condition is what bounds the join state."""
    from ..streaming.ops import click_purchase_join

    e = load_table(spark, sf_dir, "events")
    joined = click_purchase_join(
        e.where(F.col("event_type") == "purchase"),
        e.where(F.col("event_type") == "click"),
    )
    cents = F.floor(F.col("click_value") * 100 + 0.5).cast("long")
    return joined.groupBy("purchase_id", "user_id").agg(
        F.count(F.lit(1)).alias("n_clicks"),
        F.round(F.sum(cents) / 100.0, 2).alias("total_click_value"),
    )


@query(
    "stream_stream_left_outer_interval_join",
    tags=("T8", "J6", "F4"),
    oracle="""
    SELECT p.event_id AS purchase_id, p.user_id,
           COUNT(c.event_id) AS n_clicks,
           ROUND(COALESCE(SUM(CAST(FLOOR(c.value * 100 + 0.5) AS BIGINT)), 0)
                 / 100.0, 2) AS total_click_value
    FROM events p
    LEFT JOIN events c
      ON c.user_id = p.user_id
     AND c.event_type = 'click'
     AND c.ts >= p.ts - INTERVAL 30 MINUTE
     AND c.ts < p.ts
    WHERE p.event_type = 'purchase'
    GROUP BY 1, 2
    """,
)
def stream_stream_left_outer_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T8 OUTER sibling: every purchase appears, click-less ones with
    n_clicks=0 / 0.00 — the conversion-funnel question "which purchases
    had NO preceding engagement" that an inner join silently drops. Same
    plan builder as the inner form (streaming/ops.click_purchase_join,
    how='leftOuter'); the click filter must live in the JOIN condition,
    not a WHERE (a post-join WHERE on the right side would turn the
    outer join back into an inner one — both dialects here keep it in
    the ON clause).

    Streaming semantics documented on the op: outer rows are emitted
    only when the watermark proves no future match can arrive, so a
    finite replay withholds the tail until the watermark passes it —
    tests/test_streaming.py proves streaming==batch by advancing the
    watermark with a sentinel event. COUNT(c.event_id) counts non-null
    matches exactly; the money sum coalesces NULL (no clicks) to 0
    before the single rounded divide, identical in both dialects (F4).
    """
    from ..streaming.ops import click_purchase_join

    e = load_table(spark, sf_dir, "events")
    joined = click_purchase_join(
        e.where(F.col("event_type") == "purchase"),
        e.where(F.col("event_type") == "click"),
        how="leftOuter",
    )
    cents = F.floor(F.col("click_value") * 100 + 0.5).cast("long")
    return joined.groupBy("purchase_id", "user_id").agg(
        F.count("click_id").alias("n_clicks"),
        F.round(F.coalesce(F.sum(cents), F.lit(0)) / 100.0, 2).alias(
            "total_click_value"
        ),
    )


@query(
    "stream_running_totals_update_log",
    tags=("T6", "W3"),
    oracle="""
    WITH p AS (
        SELECT user_id,
               CAST(floor(epoch(ts) / 3600) * 3600 AS BIGINT) AS batch_sec,
               value
        FROM events WHERE event_type = 'purchase'
    ),
    per_batch AS (
        SELECT user_id, batch_sec,
               COUNT(*) AS bn,
               SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS bt_cents
        FROM p GROUP BY user_id, batch_sec
    )
    SELECT user_id, batch_sec,
           CAST(SUM(bn) OVER w AS BIGINT) AS n_purchases,
           ROUND(SUM(bt_cents) OVER w / 100.0, 2) AS total_spend
    FROM per_batch
    WINDOW w AS (PARTITION BY user_id ORDER BY batch_sec
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    """,
)
def stream_running_totals_update_log(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T6 batch form: the full update-mode emission log of the stateful
    running-purchase-totals processor (streaming/ops.running_purchase_totals
    and its transformWithStateInPandas twin) when events replay in hourly
    micro-batches. Each (user, batch) with >= 1 purchase emits the running
    count/spend through that batch — exactly what the ValueState holds at
    each batch boundary — expressed as a cumulative window over per-batch
    partial aggregates. Spend quantizes to INTEGER CENTS per event before
    any summation (the streaming processor's ValueState carries the same
    integer, streaming/ops._STATE_SCHEMA), so the cumulative total is an
    exact integer at every batch boundary in BOTH engines and in the
    replayed stream — no accumulation order can flip a cent."""
    e = load_table(spark, sf_dir, "events")
    cents = F.floor(F.col("value") * 100 + 0.5).cast("long")
    per_batch = (
        e.where(F.col("event_type") == "purchase")
        .groupBy(
            "user_id",
            (F.floor(F.col("ts").cast("long") / 3600) * 3600).alias("batch_sec"),
        )
        .agg(F.count(F.lit(1)).alias("bn"), F.sum(cents).alias("bt_cents"))
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("batch_sec")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return per_batch.select(
        "user_id",
        "batch_sec",
        F.sum("bn").over(w).cast("bigint").alias("n_purchases"),
        F.round(F.sum("bt_cents").over(w) / 100.0, 2).alias("total_spend"),
    )


#: A-priori emission set of the watermarked replay (shared by
#: stream_watermark_late_drop and stream_checkpoint_recovery): on-time
#: events only (the planted late set is dropped by a correct watermark),
#: restricted to windows whose end the final watermark passed — exactly
#: what append mode emits. See stream_watermark_late_drop's docstring for
#: why each clause is decidable without consulting the engine.
_WM_REPLAY_ORACLE = """
    WITH mx AS (SELECT MAX(ts) AS m FROM events)
    SELECT CAST(floor(epoch(ts) / 600) * 600 AS BIGINT) AS win_start_sec,
           COUNT(*) AS cnt,
           CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
               AS total_value_cents
    FROM events, mx
    WHERE NOT (ts < TIMESTAMP '2024-01-05' AND event_id % 10 = 0)
      AND floor(epoch(ts) / 600) * 600 + 600 <= epoch(m) - 86400
    GROUP BY win_start_sec
    """


def _watermarked_tumbling_agg(sdf: DataFrame) -> DataFrame:
    """The replay queries' shared plan: 1-day watermark, 10-minute tumbling
    windows, integer-cents totals (order-independent across micro-batches)."""
    return (
        sdf.withWatermark("ts", "1 day")
        .groupBy(F.window("ts", "10 minutes").alias("win"))
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum(F.floor(F.col("value") * 100 + 0.5).cast("long"))
            .cast("long")
            .alias("total_value_cents"),
        )
        .select(
            F.col("win.start").cast("long").alias("win_start_sec"),
            "cnt",
            "total_value_cents",
        )
    )


@query(
    "stream_watermark_late_drop",
    # S8/S9 are earned, not borrowed: this query executes a real
    # readStream file source over the replay fixture (S8) and a memory
    # sink driven by writeStream/availableNow (S9) — the streaming I/O
    # surface itself runs under the driver's oracle here
    tags=("T4", "T1", "S8", "S9"),
    oracle=_WM_REPLAY_ORACLE,
)
def stream_watermark_late_drop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T4 under REAL streaming execution: a watermarked tumbling aggregate
    run with ``readStream`` + ``availableNow`` + ``maxFilesPerTrigger=1``
    over a replay fixture with PLANTED LATE DATA, returning the memory
    sink's append-mode emission. The oracle states A PRIORI which events
    the watermark drops and which windows finalize — no streaming output
    is consulted to build it:

    - late set (streaming/replay.LATE_SET_SQL): early events (ts <
      2024-01-05) with event_id % 10 = 0 are withheld from the
      time-ordered on-time slices and replayed in the FINAL micro-batch,
      when the watermark (max on-time ts - 1 day) is ~25 days past their
      10-minute windows' ends => a correct watermark implementation drops
      every one of them (margin is days, so <=-vs-< eviction semantics
      cannot flip any row);
    - append mode emits exactly the windows whose end <= final watermark
      (epoch(max ts) - 86400); later windows stay in state, unemitted.

    Because on-time slices are time-ordered, no ON-TIME event ever lands
    in an already-evicted window (watermark trails the replay front by a
    full day), so every emitted window carries its complete on-time
    aggregate — which is what makes the result batch-computable and the
    check exact rather than rows-only. This is the named-CORRECTNESS
    complement of the cross-batch state tests in tests/test_streaming.py.

    Parity discipline: each event's value is quantized to INTEGER CENTS
    BEFORE aggregation, so the per-window total is an exact integer sum —
    order-independent by construction, which matters doubly here because
    the streaming side accumulates across micro-batches in an order no
    batch engine reproduces (a post-hoc ROUND(SUM(double)) would inherit
    the half-cent drift this repo's EWMA fix documents).
    """
    from ..streaming.replay import events_stream, split_events_with_late

    replay_dir = split_events_with_late(spark, sf_dir, _sf_tmp("wm", sf_dir, "replay"))
    sdf = events_stream(spark, replay_dir, max_files_per_trigger=1)
    agg = _watermarked_tumbling_agg(sdf)
    # deterministic sink name per scale factor, previous run's table
    # dropped first: a uuid-per-run name would leak one driver-resident
    # memory-sink table per invocation for the session's lifetime
    name = f"wm_late_{os.path.basename(sf_dir.rstrip('/')).replace('.', '_')}"
    spark.catalog.dropTempView(name)
    _run_stream(
        spark,
        agg.writeStream.format("memory").queryName(name).outputMode("append"),
        "wm",
    )
    return spark.table(name)


def _run_replay_to_log(
    spark: SparkSession,
    stage_dir: str,
    checkpoint: str,
    log_dir: str,
    max_files_per_trigger: int | None = 1,
) -> None:
    """One availableNow pass of the watermarked replay aggregate over
    whatever slice files ``stage_dir`` currently holds, appending every
    append-mode emission (plus its micro-batch id) to a parquet log via
    foreachBatch — the durable-sink side of the recovery story. The
    checkpoint is NOT cleaned here: resuming from it is the point."""
    from ..streaming.replay import events_stream

    sdf = events_stream(spark, stage_dir, max_files_per_trigger=max_files_per_trigger)
    agg = _watermarked_tumbling_agg(sdf)

    def _sink(bdf: DataFrame, batch_id: int) -> None:
        # foreachBatch is AT-LEAST-ONCE: a batch re-executed after a
        # sink-commit-then-crash would blind-append its windows twice and
        # fake the duplicate-emission failure this query exists to rule
        # out. Partitioning by batch_id with dynamic overwrite makes the
        # retry replace ITS OWN partition — the idempotent-sink half of
        # the exactly-once contract, same discipline as the docsink upsert.
        with conf_scope(
            bdf.sparkSession, {"spark.sql.sources.partitionOverwriteMode": "dynamic"}
        ):
            (
                bdf.withColumn("batch_id", F.lit(batch_id).cast("long"))
                .write.mode("overwrite")
                .partitionBy("batch_id")
                .parquet(log_dir)
            )

    _run_stream(
        spark,
        agg.writeStream.foreachBatch(_sink).outputMode("append"),
        "ckptrec",
        checkpoint=checkpoint,
    )


def _ckptrec_paths(sf_dir: str) -> tuple[str, str, str]:
    """(stage, checkpoint, emission-log) dirs for the recovery query —
    shared with tests/test_streaming.py's batch-level assertions.

    Paths are FIXED per scale factor and rebuilt (rmtree) at query start:
    the driver/bench contract runs one process per suite, so per-run
    isolation would only add cleanup debt. Two CONCURRENT suites on one
    machine would race on these dirs (and on the shared replay build's
    marker check) — run concurrent suites under distinct TMPDIRs."""
    return tuple(_sf_tmp("ckptrec", sf_dir, k) for k in ("stage_replay", "cp", "log"))


@query(
    "stream_checkpoint_recovery",
    # the full streaming durability surface under the oracle: readStream
    # file source (S8), foreachBatch parquet sink (S9), tumbling agg (T1),
    # watermark state (T4) — RESTORED FROM CHECKPOINT across a restart
    tags=("T4", "T1", "S8", "S9"),
    oracle=_WM_REPLAY_ORACLE,
)
def stream_checkpoint_recovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T4/S8/S9 across a RESTART: the watermarked replay aggregate runs on
    the FIRST on-time slice, STOPS, and restarts from the SAME checkpoint
    after two more files land — the planted-late slice first, then the
    second on-time slice. This is the engine form of the reference's
    durable "audits or updates" contract (README.md:24-29): a scheduled
    re-run continues where the last one committed, neither recomputing nor
    re-emitting.

    The returned frame is the union of every append-mode emission across
    BOTH runs (the foreachBatch parquet log). The a-priori oracle
    (_WM_REPLAY_ORACLE) makes each leg of recovery load-bearing:

    - watermark recovery: run 2's data batch carries the late slice
      (early events, ids % 10 = 0) under the restored watermark —
      max(slice-0 ts) - 1 day, ~9 days past the late windows' ends — so
      the admission filter drops every late row at batch start. A
      watermark lost at restart starts unset, ADMITS those events into
      windows run 1 already emitted and evicted, and re-emits them as
      late-only duplicates => duplicate win_start_sec rows => hash
      mismatch;
    - state-store recovery: the tumbling window straddling the
      slice-0/slice-1 time boundary has events on both sides of the
      restart; its count is correct only if run 2 merges slice-1 events
      into the partial aggregate recovered from run 1's state => a lost
      state store undercounts it => mismatch;
    - source-offset recovery: re-processing slice-0 in run 2 would
      re-aggregate and re-emit its already-evicted windows => duplicates
      => mismatch.

    Run 2 is observably load-bearing: every window past run 1's final
    watermark can only be emitted after the restart
    (tests/test_streaming.py asserts the log's run-2 batch ids carry
    those emissions and that no window is ever emitted twice).
    """
    import shutil
    import time as _time

    from ..streaming.replay import split_events_with_late

    # reuse the watermark query's slice build (marker-validated, shared)
    built = split_events_with_late(spark, sf_dir, _sf_tmp("wm", sf_dir, "replay"))
    stage, cp, log_dir = _ckptrec_paths(sf_dir)
    for d in (stage, cp, log_dir):
        shutil.rmtree(d, ignore_errors=True)
    os.makedirs(stage)
    import glob as _glob

    slices = sorted(_glob.glob(f"{built}/slice-*.parquet"))  # 0,1 on-time; 2 late
    shutil.copy2(slices[0], stage)
    _run_replay_to_log(spark, stage, cp, log_dir)  # run 1: first slice only
    now = _time.time()
    for i, s in enumerate((slices[2], slices[1])):
        dest = f"{stage}/{os.path.basename(s)}"
        shutil.copy2(s, dest)
        os.utime(dest, (now + 100 * i, now + 100 * i))
    # run 2 resumes the SAME checkpoint with both new files in ONE
    # micro-batch (no maxFilesPerTrigger): the late rows are dropped by
    # the stateful aggregate's admission filter against the RESTORED
    # watermark at batch start — the same watermark-recovery proof as
    # delivering them in their own batch (a lost watermark admits them
    # either way => duplicate emissions => hash mismatch), one micro-batch
    # cheaper (measured 1.6 -> 1.1 s at sf0.1, emissions byte-identical
    # across both shapes, 4175 rows same hash)
    _run_replay_to_log(spark, stage, cp, log_dir, max_files_per_trigger=None)
    return spark.read.parquet(log_dir).select(
        "win_start_sec", "cnt", "total_value_cents"
    )


@query(
    "stream_python_source_incremental",
    tags=("S8", "S1", "S9"),
    oracle="""
    SELECT CAST(12 AS BIGINT) AS total_rows,
           CAST(12 AS BIGINT) AS distinct_ids,
           CAST(8 AS BIGINT) AS leg1_rows,
           CAST(4 AS BIGINT) AS leg2_rows,
           ROUND(SUM(CAST(i AS DOUBLE) * 2.5), 2) AS total_value
    FROM range(12) t(i)
    """,
)
def stream_python_source_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The REST connector as a REAL Structured Streaming source
    (sources/restapi.RestApiSimpleStreamReader — the PySpark 4 Python
    streaming Data Source API): ``spark.readStream.format("restapi")``
    polls the in-package demo API over real HTTP, offsets are the
    upstream id high-water mark persisted in the CHECKPOINT, and the
    parquet sink appends each micro-batch exactly once.

    Two legs against the SAME checkpoint prove incremental resume at the
    streaming-engine level (the readStream twin of
    ``connector_incremental_sync``'s watermark delta):

    1. upstream exposes ids 0..7 -> the first run drains 8 rows and
       commits offset ``{"next_id": 8}``;
    2. upstream grows to ids 0..11 -> the second run (same checkpoint,
       grown base_url) transfers ONLY ids 8..11 — ``leg2_rows = 4`` is
       the wire-delta proof; a source that re-read from zero would land
       16 rows and redden both ``total_rows`` and ``leg1/leg2``.

    Each leg's first request is armed to 429 (reset_rate_limit), so the
    bounded-retry path runs on the streaming wire too. Every number is a
    priori from the demo formula (``value = i * 2.5``), same as the
    batch connector oracles.

    Cost, measured at sf0.1 on a 4-core host: 6.9–9.2 s after other
    queries in the same session, and 18.0–25.5 s as the first query of a
    session. Most of it is stream INITIALIZATION, which is Spark-internal:
    PythonStreamingSourceRunner spawns a FRESH Python worker per
    streaming query start (``createSimpleWorker`` — no daemon reuse for
    source runners, verified against the spark-sql 4.1.2 bytecode), and
    that worker re-imports pyspark; the first start in a session also
    pays the rest of the session's warm-up. Two sequential legs against
    one checkpoint are the point of the query, so both starts stay; on a
    real cluster the same cost amortizes over long-lived queries rather
    than one-shot availableNow runs.
    """
    import shutil

    from ..sources.fakeapi import (
        DEMO_TOKEN,
        DEMO_TOKEN_ENV,
        demo_api_url,
        reset_rate_limit,
    )
    from ..sources.pipeline import register_sources

    os.environ[DEMO_TOKEN_ENV] = DEMO_TOKEN
    register_sources(spark)
    base = _sf_tmp("pystream", sf_dir, "run")
    out, ck = f"{base}/out", f"{base}/ck"
    shutil.rmtree(base, ignore_errors=True)
    ddl = "id bigint, name string, value double, updated_at string"
    for max_id, leg in ((7, "leg1"), (11, "leg2")):
        reset_rate_limit()
        sdf = (
            spark.readStream.format("restapi")
            .option("base_url", f"{demo_api_url()}?max_id={max_id}")
            .option("schema_ddl", ddl)
            # the streaming reader runs in its own Python worker process,
            # which never sees driver-side os.environ mutations — resolve
            # the credential HERE and ship the token, per the
            # resolve_auth_headers contract (same rule as pipeline.extract)
            .option("auth_token", os.environ[DEMO_TOKEN_ENV])
            # server-side delta: the reader appends min_id=<offset> so each
            # trigger TRANSFERS only the delta (the wire proof below is
            # about bytes on the wire, not a client-side filter)
            .option("delta_param", "min_id")
            .load()
            .withColumn("leg", F.lit(leg))
        )
        _run_stream(
            spark,
            sdf.writeStream.format("parquet").option("path", out),
            f"pystream_{leg}",
            checkpoint=ck,
        )
    back = spark.read.schema(f"{ddl}, leg string").parquet(out)
    return back.agg(
        F.count(F.lit(1)).cast("bigint").alias("total_rows"),
        F.count_distinct("id").cast("bigint").alias("distinct_ids"),
        F.sum((F.col("leg") == "leg1").cast("long")).cast("bigint").alias("leg1_rows"),
        F.sum((F.col("leg") == "leg2").cast("long")).cast("bigint").alias("leg2_rows"),
        F.round(F.sum("value"), 2).alias("total_value"),
    )


@query(
    "stream_python_sink_exactly_once",
    tags=("S9", "S7b"),
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS total_rows,
           CAST(COUNT(DISTINCT event_id) AS BIGINT) AS distinct_events,
           CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT)
               AS total_cents,
           CAST(2 AS BIGINT) AS n_batches,
           TRUE AS only_manifested_files_read
    FROM events
    """,
)
def stream_python_sink_exactly_once(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A PYTHON STREAMING SINK (PySpark 4 DataSourceStreamWriter —
    sources/pysink.LandingDataSource), the write-side twin of
    stream_python_source_incremental's Python streaming source: events
    replay in 2 time-sliced micro-batches (maxFilesPerTrigger=1 +
    availableNow) into ``writeStream.format("landing")``, whose
    executor-write / driver-commit protocol lands uniquely-named parquet
    files and publishes one ATOMIC MANIFEST per batch. The read side
    resolves manifests first and reads only manifested files — task
    retries and aborted batches are invisible, which is the exactly-once
    contract object-store sinks implement (and the shardsink's manifest
    verifier checks batch-side). The oracle is the events table itself:
    total rows, distinct ids, and the integer-cents value sum must all
    survive the stream->sink->manifest->read round trip exactly, and the
    2-slice replay must land in exactly 2 committed batches. An orphan
    parquet file (a "failed task attempt" no manifest names) is PLANTED
    in the data directory before the read-back; only_manifested_files_read
    records that precondition (orphan on disk, absent from every
    manifest), and the count/cents columns are then the proof the reader
    ignored it — a directory-globbing reader would inflate them and
    redden the hash."""
    import shutil

    from ..sources.pysink import (
        LandingDataSource,
        landed_manifests,
        read_landed,
    )
    from ..streaming.replay import events_stream, split_events_for_replay

    spark.dataSource.register(LandingDataSource)
    replay_dir = split_events_for_replay(
        spark, sf_dir, _sf_tmp("pysink", sf_dir, "replay"), n_slices=2
    )
    # one landing dir per (sf, process), cleared at start — the
    # returned frame reads it lazily, so it must outlive the call (the
    # replay scaffold's log-dir discipline)
    land = _sf_tmp("pysink", sf_dir, f"land_{os.getpid()}")
    shutil.rmtree(land, ignore_errors=True)
    sdf = events_stream(spark, replay_dir, max_files_per_trigger=1).select(
        "event_id", "user_id", "event_type", "value"
    )
    _run_stream(spark, sdf.writeStream.format("landing").option("path", land), "pysink")
    manifests = landed_manifests(land)
    manifested = {f for m in manifests for f in m["files"]}
    # plant an orphan data file (a "failed task attempt" the driver never
    # committed): the manifest-first reader must not see it. Written with
    # pyarrow — byte-for-byte the kind of file a real zombie write() task
    # leaves behind (and ~5 s cheaper than a 1-row Spark write job, which
    # on this host pays a full Python-RDD roundtrip + committer pass)
    import pyarrow as pa
    import pyarrow.parquet as pq

    orphan = os.path.join(land, "data", "part-orphan-attempt.parquet")
    pq.write_table(
        pa.table(
            {
                "event_id": [999_999_999],
                "user_id": [0],
                "event_type": ["orphan"],
                "value": [1.0],
            }
        ),
        orphan,
    )
    back = read_landed(spark, land)
    return back.agg(
        F.count(F.lit(1)).cast("bigint").alias("total_rows"),
        F.count_distinct("event_id").cast("bigint").alias("distinct_events"),
        F.sum(F.round(F.col("value") * 100).cast("bigint"))
        .cast("bigint")
        .alias("total_cents"),
        F.lit(len(manifests)).cast("bigint").alias("n_batches"),
        F.lit(orphan not in manifested and os.path.isfile(orphan)).alias(
            "only_manifested_files_read"
        ),
    )


@query(
    "stream_cms_maintenance",
    # real readStream source (S8) + foreachBatch durable sink (S9); the
    # sketch build/merge itself is the A1/F8 surface
    tags=("S8", "S9", "A1", "F8"),
    oracle="""
    WITH cnt AS (
        SELECT user_id, COUNT(*) AS exact_cnt FROM events GROUP BY user_id
    ),
    top5 AS (
        SELECT user_id, exact_cnt FROM cnt
        ORDER BY exact_cnt DESC, user_id LIMIT 5
    )
    SELECT user_id, CAST(exact_cnt AS BIGINT) AS exact_cnt,
           CAST(1 AS INT) AS cms_ge_exact,
           CAST(1 AS INT) AS cms_within_eps,
           CAST(1 AS INT) AS streamed_equals_batch,
           CAST(1 AS INT) AS multi_batch
    FROM top5
    """,
)
def stream_cms_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming maintenance of the Count-Min sketch
    (operators/sketches.py): events replay through a REAL ``readStream``
    file source in time-sliced micro-batches, each batch's 16k-cell grid
    appends to a parquet log via foreachBatch, and the STREAMED sketch —
    the cell-wise sum of the per-batch grids — must be CELL-IDENTICAL to
    the sketch built over the batch table (CMS linearity is exact
    addition, so incremental maintenance has zero approximation cost on
    top of the sketch itself). This is the always-on form of
    agg_cms_heavy_hitters: at 100 TB/day the batch rebuild is a rescan,
    while this path pays one ≤depth·width-row write per micro-batch and
    answers heavy-hitter probes from sketch state alone.

    Exactly-once without an idempotent store: foreachBatch is
    AT-LEAST-ONCE, but a re-executed batch rebuilds the IDENTICAL grid
    (same slice file, deterministic hashes), so ``dropDuplicates`` over
    (batch_id, seed, bucket, cnt) at read time collapses replays — the
    same replay-idempotence argument the update-log query makes, applied
    to sketch cells.

    Invariant columns (same gating as agg_cms_heavy_hitters, plus the
    maintenance-specific ones): cms_ge_exact and cms_within_eps gate the
    estimates of the top-5 users; streamed_equals_batch pins linearity
    across micro-batch boundaries via a full-outer cell join;
    multi_batch asserts the replay genuinely ran >= 2 micro-batches
    (maxFilesPerTrigger=1 over 3 slices), so the equality is a
    cross-batch statement, not a one-batch tautology."""
    from ..operators.sketches import cms_build, cms_eps_bound, cms_estimate

    def _sink(log_dir: str):
        def write(batch_df: DataFrame, batch_id: int) -> None:
            (
                cms_build(batch_df.select("user_id"), "user_id")
                .withColumn("batch_id", F.lit(batch_id))
                .write.mode("append")
                .parquet(log_dir)
            )

        return write

    log_dir, _q = _run_replay_foreachbatch(spark, sf_dir, "cms", _sink)

    log = spark.read.parquet(log_dir).dropDuplicates(
        ["batch_id", "seed", "bucket", "cnt"]
    )
    n_batches = log.select("batch_id").distinct().count()
    streamed = log.groupBy("seed", "bucket").agg(F.sum("cnt").alias("cnt"))

    events = load_table(spark, sf_dir, "events").select("user_id")
    direct = cms_build(events, "user_id")
    mismatch = (
        streamed.join(direct, ["seed", "bucket"], "full")
        .where(~streamed["cnt"].eqNullSafe(direct["cnt"]))
        .count()
    )

    n_total = events.count()
    eps_bound = cms_eps_bound(n_total)
    counts = events.groupBy("user_id").agg(F.count(F.lit(1)).alias("exact_cnt"))
    top5 = counts.orderBy(F.desc("exact_cnt"), F.asc("user_id")).limit(5)
    est = cms_estimate(streamed, top5, "user_id")

    return est.select(
        "user_id",
        F.col("exact_cnt").cast("bigint").alias("exact_cnt"),
        (F.col("est") >= F.col("exact_cnt")).cast("int").alias("cms_ge_exact"),
        (F.col("est") - F.col("exact_cnt") <= F.lit(eps_bound))
        .cast("int")
        .alias("cms_within_eps"),
        F.lit(1 if mismatch == 0 else 0).alias("streamed_equals_batch"),
        F.lit(1 if n_batches >= 2 else 0).alias("multi_batch"),
    )


@query(
    "stream_observed_pipeline_metrics",
    # real readStream + observe() metrics (S8), foreachBatch durable sink
    # (S9), the filter under observation is the P2 surface, totals are A1
    tags=("S8", "S9", "P2", "A1"),
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS rows_in,
           CAST(SUM(CASE WHEN event_type = 'click' AND value >= 5.0
                         THEN 1 ELSE 0 END) AS BIGINT) AS rows_out,
           CAST(SUM(CASE WHEN event_type = 'click' AND value >= 5.0
                         THEN CAST(FLOOR(value * 100 + 0.5) AS BIGINT)
                         ELSE 0 END) AS BIGINT) AS value_cents_out,
           CAST(SUM(CASE WHEN event_type = 'click' AND value >= 5.0
                         THEN 1 ELSE 0 END) * 1000000 // COUNT(*)
                AS BIGINT) AS selectivity_ppm,
           CAST(1 AS INT) AS obs_equals_sink,
           CAST(1 AS INT) AS listener_equals_inplan,
           CAST(1 AS INT) AS multi_batch
    FROM events
    """,
)
def stream_observed_pipeline_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING twin of dq_observed_pipeline_metrics (plans/dq.py): the
    same SLO counters — rows-in before the filter, rows-out and integer
    cents after it — ride INSIDE an executing ``writeStream`` as
    ``observe()`` aggregate expressions, reported per micro-batch through
    BOTH surfaces a production monitor consumes: the synchronous
    ``recentProgress`` ledger and an asynchronous
    ``StreamingQueryListener`` (the always-on alerting hook). This is the
    100 TB ingest story: the pipeline's health metrics cost ZERO extra
    scans or actions — they are column aggregates fused into each
    micro-batch's plan — and drift alerts fire from the listener without
    touching the data path.

    Three gates ride the row: ``obs_equals_sink`` pins the observed
    rows-out/cents totals against an independent recount of what
    foreachBatch DURABLY WROTE (in-plan observation vs on-disk truth —
    at-least-once replays collapsed by (batch_id, event_id) exactly like
    the CMS log); ``listener_equals_inplan`` pins the async
    listener-accumulated totals against the in-plan progress ledger
    (batchId-keyed, so a re-fired progress event cannot double-count);
    ``multi_batch`` asserts the replay genuinely crossed >= 2 micro-batch
    boundaries (maxFilesPerTrigger=1), making both equalities cross-batch
    statements. The DuckDB oracle then recomputes all four counters from
    the raw events table — so a broken observation (missed batch, dropped
    metric, double count) breaks the value hash, not just a boolean."""
    import time

    from pyspark.sql.streaming import StreamingQueryListener

    class _ObsListener(StreamingQueryListener):
        """(query id, batchId)-keyed observed-metrics accumulator. Events
        are bucketed PER QUERY ID as they arrive and the caller selects
        its own query's bucket after start() — no filter-at-delivery
        race: the bus can deliver batch 0 before the caller even learns
        its query id, and a stale event from an earlier query in the
        session must never land in this run's totals. Delivery is async
        (a listener-bus thread, possibly after the query terminates);
        the poll below waits for it to catch up."""

        def __init__(self) -> None:
            self.by_query: dict[str, dict[int, dict]] = {}

        def batches_for(self, query_id: str) -> dict[int, dict]:
            return self.by_query.get(query_id, {})

        def onQueryStarted(self, event) -> None:  # noqa: N802
            pass

        def onQueryProgress(self, event) -> None:  # noqa: N802
            p = event.progress
            om = p.observedMetrics
            if om:
                self.by_query.setdefault(str(p.id), {})[p.batchId] = dict(om)

        def onQueryIdle(self, event) -> None:  # noqa: N802
            pass

        def onQueryTerminated(self, event) -> None:  # noqa: N802
            pass

    def _sink(log_dir: str):
        def write(batch_df: DataFrame, batch_id: int) -> None:
            (
                batch_df.withColumn("batch_id", F.lit(batch_id))
                .write.mode("append")
                .parquet(log_dir)
            )

        return write

    cents = F.floor(F.col("value") * 100 + 0.5).cast("long")

    def _instrument(sdf: DataFrame) -> DataFrame:
        return (
            sdf.observe("obs_in", F.count(F.lit(1)).alias("rows_in"))
            .where((F.col("event_type") == "click") & (F.col("value") >= 5.0))
            .observe(
                "obs_out",
                F.count(F.lit(1)).alias("rows_out"),
                F.sum(cents).alias("value_cents_out"),
            )
            .select("event_id", "event_type", "value")
        )

    listener = _ObsListener()
    spark.streams.addListener(listener)
    try:
        log_dir, q = _run_replay_foreachbatch(
            spark, sf_dir, "obs", _sink, transform=_instrument
        )
        qid = str(q.id)
        # the synchronous in-plan ledger: batchId -> observed metrics
        inplan: dict[int, dict] = {}
        for p in q.recentProgress:
            om = p.observedMetrics
            if om:
                inplan[p.batchId] = dict(om)

        def _totals(batches: dict[int, dict]) -> tuple[int, int, int]:
            ri = ro = vc = 0
            for om in batches.values():
                if "obs_in" in om:
                    ri += int(om["obs_in"]["rows_in"])
                if "obs_out" in om:
                    ro += int(om["obs_out"]["rows_out"] or 0)
                    vc += int(om["obs_out"]["value_cents_out"] or 0)
            return ri, ro, vc

        rows_in, rows_out, cents_out = _totals(inplan)
        # async listener: wait (bounded) until it has every in-plan batch
        deadline = time.monotonic() + 30
        while (
            set(inplan) - set(listener.batches_for(qid))
            and time.monotonic() < deadline
        ):
            time.sleep(0.1)
        listener_ok = _totals(listener.batches_for(qid)) == (
            rows_in,
            rows_out,
            cents_out,
        )
    finally:
        spark.streams.removeListener(listener)

    log = spark.read.parquet(log_dir).dropDuplicates(["batch_id", "event_id"])
    sink_row = log.agg(
        F.count(F.lit(1)).alias("n"), F.sum(cents).alias("vc")
    ).collect()[0]
    sink_ok = (int(sink_row["n"]), int(sink_row["vc"] or 0)) == (
        rows_out,
        cents_out,
    )
    n_batches = len(inplan)

    ppm = rows_out * 1_000_000 // rows_in if rows_in else 0
    return spark.createDataFrame(
        [
            (
                rows_in,
                rows_out,
                cents_out,
                ppm,
                1 if sink_ok else 0,
                1 if listener_ok else 0,
                1 if n_batches >= 2 else 0,
            )
        ],
        "rows_in bigint, rows_out bigint, value_cents_out bigint, "
        "selectivity_ppm bigint, obs_equals_sink int, "
        "listener_equals_inplan int, multi_batch int",
    )


@query(
    "stream_histogram_quantile_maintenance",
    # real readStream source (S8) + foreachBatch durable sink (S9); the
    # histogram build/merge is the A6/A1 surface
    tags=("S8", "S9", "A6", "A1"),
    oracle="""
    WITH cents AS (
        SELECT CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS v
        FROM events WHERE value IS NOT NULL
    ),
    hist AS (SELECT v, COUNT(*) AS c FROM cents GROUP BY v),
    cum AS (
        SELECT v, SUM(c) OVER (ORDER BY v) AS cm, SUM(c) OVER () AS n
        FROM hist
    )
    SELECT CAST(MIN(n) AS BIGINT) AS n_rows,
           MIN(CASE WHEN cm * 2 >= n THEN v END)        AS median_cents,
           MIN(CASE WHEN cm * 10 >= 9 * n THEN v END)   AS p90_cents,
           MIN(CASE WHEN cm * 100 >= 99 * n THEN v END) AS p99_cents,
           CAST(1 AS INT) AS streamed_equals_batch,
           CAST(1 AS INT) AS multi_batch
    FROM cum
    """,
)
def stream_histogram_quantile_maintenance(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Streaming maintenance of the EXACT integer-cents histogram — the
    third mergeable summary maintained incrementally, completing the
    family (HLL cardinality partials: agg_hll_partition_merge; CMS
    frequency grids: stream_cms_maintenance; value histograms: this).
    Events replay through a REAL ``readStream`` in time-sliced
    micro-batches; each batch's (v, c) histogram appends to a parquet
    log via foreachBatch, and the STREAMED histogram — cell-wise sum of
    the per-batch grids — must be CELL-IDENTICAL to the batch-built one
    (histogram linearity is exact addition), so the CDF-walk quantiles
    over it are EXACT p50/p90/p99, not approximations. At 100 TB/day
    this is the always-on SLO-latency story: per-batch histogram rows
    track the batch's DISTINCT cents, the merged state is
    |domain|-bounded forever, and quantile queries never rescan events.

    Exactly-once: a re-executed batch rebuilds the IDENTICAL histogram
    (same slice file, deterministic floor), so dropDuplicates over
    (batch_id, v, c) collapses at-least-once replays — the CMS log
    argument applied to histogram cells. multi_batch pins >= 2 real
    micro-batch boundaries (maxFilesPerTrigger=1), making the equality a
    cross-batch statement."""
    cents = F.floor(F.col("value") * 100 + 0.5).cast("long")

    def _sink(log_dir: str):
        def write(batch_df: DataFrame, batch_id: int) -> None:
            (
                batch_df.where(F.col("value").isNotNull())
                .select(cents.alias("v"))
                .groupBy("v")
                .agg(F.count(F.lit(1)).alias("c"))
                .withColumn("batch_id", F.lit(batch_id))
                .write.mode("append")
                .parquet(log_dir)
            )

        return write

    log_dir, _q = _run_replay_foreachbatch(spark, sf_dir, "hq", _sink)

    log = spark.read.parquet(log_dir).dropDuplicates(["batch_id", "v", "c"])
    n_batches = log.select("batch_id").distinct().count()
    streamed = log.groupBy("v").agg(F.sum("c").alias("c"))

    batch_hist = (
        load_table(spark, sf_dir, "events")
        .where(F.col("value").isNotNull())
        .select(cents.alias("v"))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    mismatch = (
        streamed.join(batch_hist, ["v"], "full")
        .where(~streamed["c"].eqNullSafe(batch_hist["c"]))
        .count()
    )

    w_cum = Window.orderBy("v")
    w_all = Window.partitionBy()
    cum = streamed.select(
        "v",
        F.sum("c").over(w_cum).alias("cm"),
        F.sum("c").over(w_all).alias("n"),
    )
    return cum.agg(
        F.min("n").cast("bigint").alias("n_rows"),
        F.min(F.when(F.col("cm") * 2 >= F.col("n"), F.col("v"))).alias(
            "median_cents"
        ),
        F.min(F.when(F.col("cm") * 10 >= 9 * F.col("n"), F.col("v"))).alias(
            "p90_cents"
        ),
        F.min(F.when(F.col("cm") * 100 >= 99 * F.col("n"), F.col("v"))).alias(
            "p99_cents"
        ),
        F.lit(1 if mismatch == 0 else 0).alias("streamed_equals_batch"),
        F.lit(1 if n_batches >= 2 else 0).alias("multi_batch"),
    )


#: op-stream keying for the ANN maintenance loop: every event targets
#: vector event_id % STREAM_ANN_MOD; sparse co-prime strides keep the
#: add/delete sets non-degenerate (neither empty nor the whole id space)
STREAM_ANN_MOD = 500
STREAM_ANN_ADD_STRIDE = 23
STREAM_ANN_DEL_STRIDE = 83


class _AnnOps:
    """The index-op stream both ANN streaming queries replay over one
    frozen index, and its batch twin. Every event targets vector
    ``event_id % STREAM_ANN_MOD``; sparse ``signup`` events ADD it (one
    frozen-center assignment, ingestion never retrains), sparse
    ``purchase`` events DELETE it (a tombstone, deletion never moves a
    vector). ``disjoint`` restricts adds to odd (non-base) ids and deletes
    to even (base) ids. The oracles state the same rule in
    :func:`_ann_oracle_ctes`."""

    def __init__(
        self, spark: SparkSession, sf_dir: str, del_stride: int, disjoint: bool
    ):
        from .llm import _frozen_quantizer

        self.e = e = load_table(spark, sf_dir, "embeddings")
        self.base = e.where(F.col("vec_id") % 2 == 0)
        n_lists, self.centers = _frozen_quantizer(e)
        self._rule = {
            "signup": (STREAM_ANN_ADD_STRIDE, 1 if disjoint else None),
            "purchase": (del_stride, 0 if disjoint else None),
        }
        # the batch twin's op table: the same rule over the whole events
        # table — stream-independent (events + embeddings only)
        ev = load_table(spark, sf_dir, "events")
        self.adds_b = self.ids(ev, "signup")
        self.dels_b = self.ids(ev, "purchase").persist()
        indexed = self.base.select("vec_id").unionByName(self.adds_b).distinct()
        self.indexed_corpus = e.join(indexed, "vec_id", "semi").persist()
        self.counts = self.adds_b.agg(F.count(F.lit(1)).alias("n_adds")).crossJoin(
            F.broadcast(self.dels_b.agg(F.count(F.lit(1)).alias("n_deletes")))
        )
        self.q = e.where(F.col("vec_id") < 20)
        self.nprobe = max(4, n_lists // 2)

    def ids(self, df: DataFrame, etype: str) -> DataFrame:
        """Distinct target vector ids of ``df``'s ``etype`` events."""
        stride, parity = self._rule[etype]
        tgt = self.e if parity is None else self.e.where(F.col("vec_id") % 2 == parity)
        return (
            df.where((F.col("event_type") == etype) & (F.col("event_id") % stride == 0))
            .select((F.col("event_id") % STREAM_ANN_MOD).alias("vec_id"))
            .distinct()
            .join(tgt.select("vec_id"), "vec_id", "semi")
        )

    def write(self, batch_df: DataFrame, batch_id: int, path: str) -> None:
        """Append one micro-batch's op rows to the log at ``path``:
        ``add`` rows carry their frozen-center cell, ``del`` rows cid -1."""
        bl = F.lit(batch_id).cast("long").alias("batch_id")
        adds = self.ids(batch_df, "signup").join(self.e, "vec_id")
        add_rows = _cells(adds, self.centers).select(
            F.lit("add").alias("op"), "vec_id", "cid", bl
        )
        del_rows = self.ids(batch_df, "purchase").select(
            F.lit("del").alias("op"),
            "vec_id",
            F.lit(-1).cast("long").alias("cid"),
            bl,
        )
        add_rows.unionByName(del_rows).write.mode("append").parquet(path)


def _ann_oracle_ctes(del_stride: int, disjoint: bool) -> str:
    """DuckDB CTEs of the ANN streaming oracles: the op sets ``adds`` and
    ``dels`` (:class:`_AnnOps`' rule), the ``indexed`` ids (base ∪ adds),
    the matched tombstones ``dead``, and their counts ``m``."""
    add_par, del_par = (
        ("WHERE e.vec_id % 2 = 1", "WHERE e.vec_id % 2 = 0") if disjoint else ("", "")
    )
    return f"""adds AS (
        SELECT DISTINCT e.vec_id
        FROM (SELECT event_id % {STREAM_ANN_MOD} AS vec_id FROM events
              WHERE event_type = 'signup'
                AND event_id % {STREAM_ANN_ADD_STRIDE} = 0) s
        JOIN embeddings e USING (vec_id) {add_par}
    ), dels AS (
        SELECT DISTINCT e.vec_id
        FROM (SELECT event_id % {STREAM_ANN_MOD} AS vec_id FROM events
              WHERE event_type = 'purchase'
                AND event_id % {del_stride} = 0) s
        JOIN embeddings e USING (vec_id) {del_par}
    ), indexed AS (
        SELECT vec_id FROM embeddings WHERE vec_id % 2 = 0
        UNION
        SELECT vec_id FROM adds
    ), dead AS (
        SELECT vec_id FROM indexed INTERSECT SELECT vec_id FROM dels
    ), m AS (
        SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM adds) AS n_adds,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM dels) AS n_deletes,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM indexed) AS n_indexed,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM dead) AS n_dead
    )"""


def _cells(frame: DataFrame, centers) -> DataFrame:
    """``(vec_id, cid)`` cell map of ``frame`` under ``centers``."""
    from ..operators.similarity import assign_to_centers

    return assign_to_centers(frame, centers).select(
        "vec_id", F.col("cid").cast("long").alias("cid")
    )


def _maintained(
    gen_cells: DataFrame, ops: DataFrame
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """(live cells, indexed cells, tombstone ids) of a cell-map
    generation plus its op tail. Tombstones are absolute until the next
    generation: a re-added tombstoned id stays masked."""
    adds = ops.where(F.col("op") == "add").dropDuplicates(
        ["vec_id", "cid"]
    ).select("vec_id", "cid")
    tombs = ops.where(F.col("op") == "del").dropDuplicates(
        ["vec_id"]
    ).select("vec_id")
    cells = gen_cells.unionByName(adds).dropDuplicates(["vec_id", "cid"])
    return cells.join(tombs, "vec_id", "anti"), cells, tombs


def _multi_batch(log: DataFrame) -> DataFrame:
    """1-row ``multi_batch`` flag: the log holds >= 2 micro-batches. It
    rides a report plan as a broadcast frame instead of a count job."""
    return log.agg((F.count_distinct("batch_id") >= 2).cast("int").alias("multi_batch"))


@query(
    "stream_ann_index_maintenance",
    # real readStream source (S8) + foreachBatch durable log (S9), the
    # add path is a stream-static join against embeddings (T7), and the
    # maintained artifact is the L3 frozen index
    tags=("S8", "S9", "T7", "L3"),
    oracle=f"""
    WITH {_ann_oracle_ctes(STREAM_ANN_DEL_STRIDE, disjoint=False)}
    SELECT n_adds, n_deletes, n_indexed,
           n_indexed - n_dead AS n_live,
           n_dead * 1000000 // n_indexed AS deleted_ppm,
           (n_dead * 1000000 // n_indexed) > 200000 AS rebuild,
           1 AS multi_batch,
           1 AS maintained_equals_batch,
           1 AS search_equal
    FROM m
    """,
)
def stream_ann_index_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING maintenance of the frozen vector index — the sketch
    trio's batch<->streaming equivalence applied to the index family
    (operators/similarity: assign_to_centers + tombstones + the load
    report). The quantizer trains ONCE on the base half of the corpus
    (vec_id % 2 == 0, frozen centers — the train()/add()-forever
    contract); then events replay through a REAL ``readStream`` file
    source in time-sliced micro-batches and each batch applies its index
    OPS through foreachBatch:

    - ADD (sparse ``signup`` events, event_id-keyed): the new vectors
      join the static embeddings table (the T7 stream-static shape),
      run ONE shuffle-free frozen-center assignment, and append
      (vec_id, cid) rows to the cell-map log — ingestion never
      retrains;
    - DELETE (sparse ``purchase`` events): append the id to the
      tombstone log — deletion never moves a vector.

    Replay idempotence is the CMS argument verbatim: a re-executed
    batch recomputes the IDENTICAL assignment rows (deterministic
    centers, deterministic ids), so dropDuplicates over (vec_id, cid) /
    (vec_id) collapses at-least-once re-delivery. Tombstones are
    ABSOLUTE until compaction (a re-added tombstoned id stays masked —
    the frozen-index tombstone-tier semantics, similarity.mask_tombstones'
    contract), which is what makes the final state order-free and the
    oracle a-priori.

    The proof columns: the maintained cell map (base assignments ∪
    add-log − tombstones) must equal the BATCH-built index over the
    same op table cell-for-cell (full symmetric difference, in-plan),
    and a partial-probe search through the maintained index must equal
    ivf_search over the tombstone-masked batch-derived corpus row-for-row —
    same centers, same cells, same live set, so equality is a theorem
    even at partial probe. The load report (deleted_ppm over MATCHED
    tombstones — stream deletes targeting never-indexed odd ids are
    stale and must not count) rides the same output row, its
    arithmetic recomputed by the oracle from the raw events.

    100 TB shape: per micro-batch the loop pays one narrow Arrow
    assignment pass over the batch's adds plus two kilobyte-scale log
    appends; the corpus is never rescanned and the index never
    rebuilt until the ppm trigger says so."""
    # whole query under the micro-batch fixed-cost scope + eager report
    # (see stream_corpus_admission — same rationale: the loop and its
    # proof legs are job-count-bound, not task-bound)
    with conf_scope(spark, _STREAM_STATE_CONF):
        return _ann_maintenance_body(spark, sf_dir)


def _ann_maintenance_body(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import similarity as S

    ops = _AnnOps(spark, sf_dir, STREAM_ANN_DEL_STRIDE, disjoint=False)

    def _sink(log_dir: str):
        return lambda batch_df, batch_id: ops.write(batch_df, batch_id, log_dir)

    # batch twin over the same op table, recomputed from the raw events —
    # stream-independent, so it materializes while the replay loop runs
    twin = _cells(
        ops.indexed_corpus.join(ops.dels_b, "vec_id", "anti"), ops.centers
    ).persist()
    live_b = S.mask_tombstones(ops.indexed_corpus, ops.dels_b)
    want = S.ivf_search(
        ops.q,
        live_b,
        k=5,
        nprobe=ops.nprobe,
        cells=S.assign_to_centers(live_b, ops.centers),
    ).persist()
    log_dir, _q = _run_replay_foreachbatch(
        spark, sf_dir, "annidx", _sink, overlap=(twin, want)
    )

    log = spark.read.parquet(log_dir)
    # the maintained map and the twin each feed multiple consumers (two
    # exceptAll directions + the maintained-index search); both are
    # (id, cid) integer frames — persist so the Arrow assignment passes
    # run once, not per consumer (the learned_cellmap residue contract)
    maintained, _, tomb = _maintained(_cells(ops.base, ops.centers), log)
    maintained = maintained.persist()
    cells_diff = sym_diff_count(maintained, twin, "__cells_diff")

    # partial-probe search equality: maintained index vs batch DELETE verb
    got = S.ivf_search(ops.q, ops.e, k=5, nprobe=ops.nprobe, cells=maintained).persist()
    search_diff = sym_diff_count(got, want, "__search_diff")

    rep = S.tombstone_load_report(ops.indexed_corpus, tomb).select(
        F.col("n_total").alias("n_indexed"),
        F.col("n_deleted").alias("__n_dead"),
        "deleted_ppm",
        "rebuild",
    )
    report = (
        ops.counts.crossJoin(F.broadcast(rep))
        .crossJoin(F.broadcast(cells_diff))
        .crossJoin(F.broadcast(search_diff))
        .crossJoin(F.broadcast(_multi_batch(log)))
        .select(
            F.col("n_adds").cast("bigint").alias("n_adds"),
            F.col("n_deletes").cast("bigint").alias("n_deletes"),
            "n_indexed",
            (F.col("n_indexed") - F.col("__n_dead")).alias("n_live"),
            "deleted_ppm",
            "rebuild",
            "multi_batch",
            (F.col("__cells_diff") == 0)
            .cast("int")
            .alias("maintained_equals_batch"),
            (F.col("__search_diff") == 0).cast("int").alias("search_equal"),
        )
        # eager 1-row materialization inside the conf scope (the
        # stream_corpus_admission pattern); same rows, lineage-free
        .localCheckpoint(eager=True)
    )
    for frame in (ops.dels_b, ops.indexed_corpus, twin, want, maintained, got):
        frame.unpersist()
    return report


#: Streaming-admission state layout: every durable log is hash-bucketed
#: into hive partitions on its join key (digest / band key / doc id), so
#: a micro-batch's state read prunes to the buckets its own keys hash
#: into — a partition FILTER on the scan, never a shuffle of state.
#: STREAM_ADM_NBKT is the default grain (kept for the structural pins and
#: any caller without a corpus size); the admission query itself derives
#: the count from corpus size via _adm_nbkt (guide §2: partitioning
#: derived from input size, not a constant tuned to one tier).
STREAM_ADM_NBKT = 16

#: docs per state bucket for the scale-adaptive rule: small enough that
#: (batch keys / buckets) << 1 once a corpus outgrows a single machine,
#: large enough that a bucket's per-generation file is parquet-page-sized
#: at the bottom tiers (guide §6: no small-files explosion in a log that
#: is rewritten every compaction).
_ADM_DOCS_PER_BUCKET = 2000


def _adm_nbkt(n_docs: int) -> int:
    """Scale-adaptive bucket count for the admission state logs: one
    bucket per ~_ADM_DOCS_PER_BUCKET docs, floor 4 (keeps the partition-
    pruning shape exercised at every fixture tier), cap 4096 (directory-
    fanout guard — a 100 TB deployment raises the cap alongside its
    file-count budget; the bucket count is the index grain, exactly like
    n_lists in the IVF family's sqrt rule)."""
    return max(4, min(4096, -(-n_docs // _ADM_DOCS_PER_BUCKET)))

#: Generation-compact the admission state logs every N micro-batches
#: (the ivf_compact pattern: rewrite dropDuplicates into gen+1, bump an
#: atomic marker). Appends from crash re-attempts are byte-identical
#: duplicates; per-batch reads are duplicate-TOLERANT by construction
#: (anti joins, pair dedup over candidate-sized frames), so duplicates
#: cost nothing until compaction physically collapses them — per-batch
#: work never includes a state-wide dropDuplicates. The schedule fires
#: after batch N-1, 2N-1, ... ((batch_id + 1) % N == 0), so in the
#: 3-slice replay compaction fires after batch 1 and batch 2 then READS
#: the compacted generation — the final stream_equals_batch proof runs
#: through post-compaction state, not just past it; production sets the
#: period by accumulated-duplicate bytes.
STREAM_ADM_COMPACT_EVERY = 2


#: One physical schema for the multiplexed admission state log: the
#: digests / bands / index / admitted sub-logs share it with nulls in the
#: columns a sub-log does not carry (parquet nulls are bitmap-cheap),
#: `log` and `bkt` are the two partition-directory levels. `admitted`
#: holds the query's output rows (doc_id, source, n_tokens) plus the
#: per-source ledger rows (doc_id NULL, seen) — riding in the same
#: multiplexed log means a micro-batch pays ONE append + ONE compaction
#: + ONE cache refresh for ALL its durable state, not a second write
#: job + commit for the kilobyte-scale admitted dir.
_ADM_STATE_SCHEMA = (
    "dig string, doc_id bigint, band int, band_hash bigint, "
    "shingle string, source string, n_tokens bigint, seen bigint, "
    "batch_id long, log string, bkt int"
)


def _adm_bkt(col, nbkt: int = STREAM_ADM_NBKT):
    """Non-negative int bucket of a 64-bit hash column."""
    return F.pmod(col, F.lit(nbkt)).cast("int")


def _collect_bkts(df: DataFrame) -> list[int]:
    """Driver-side bucket list for a partition ``isin`` filter — the
    RESULT is bounded by the log's bucket count (the k-means-centers class
    of collect), and the literal list is what lets Catalyst turn it into
    PartitionFilters on the state scan. The dedup happens HERE, not in a
    ``distinct()``: the COLLECTED projection is one int column of at most
    (batch rows x expansion) values — expansion is 1 for the digest and
    doc-id probes and n_bands for the band probe, so the driver transfer
    is a few KB per batch either way — and a driver-side set over those
    ints replaces a shuffle stage per probe (three probes per micro-batch;
    the shuffle was pure fixed cost at every tier)."""
    return sorted({r[0] for r in df.collect()})


def _ddl_columns(ddl: str) -> list[tuple[str, str]]:
    """``[(name, type), ...]`` of a flat ``"name type, ..."`` DDL string."""
    return [tuple(c.strip().rsplit(" ", 1)) for c in ddl.split(",")]


class _GenLog:
    """Generation-compacted, hash-bucket-partitioned parquet state log —
    the durable-state shape of the streaming admission loop.

    Layout: ``<root>/<name>/g<N>/<bucket_col>=<b>/part-*.parquet`` plus an
    atomic ``GEN`` marker naming the current generation. Appends target
    the current generation; reads resolve the marker and declare the
    schema explicitly (an empty just-initialized generation reads as an
    empty frame, no inference pass). ``compact()`` rewrites the current
    generation ``dropDuplicates`` into gen+1 and bumps the marker via
    ``os.replace`` — a crash mid-rewrite leaves the marker (and therefore
    every reader) on the old generation, and a re-attempted compaction
    simply overwrites gen+1, so the log never needs a state-wide dedup on
    the read path.

    MULTIPLEXED form (``log_col``/``seed_logs``, the round-13 fixed-cost
    optimization): several named sub-logs share ONE physical dataset
    partitioned by ``(log_col, bucket_col)``, so a micro-batch appends,
    compacts and cache-invalidates the whole state ONCE instead of once
    per sub-log — the admission loop's three state appends per batch
    (profiled at 2-5 s each at sf0.1, almost entirely fixed write-job +
    commit cost, not bytes) collapse into one. Reads stay sub-log-scoped:
    ``read("bands")`` filters on the ``log`` partition directory, so the
    scan prunes to exactly the same files the separate-log layout read —
    partition filter on (log, bucket), never a shuffle of state."""

    #: Every log is seeded with one sentinel row per partition dir at
    #: batch_id=-1 (reads filter batch_id >= 0): the partitioned directory
    #: layout then exists BEFORE the first state read is planned, so the
    #: relation's partition schema never phase-changes from "empty
    #: unpartitioned" to "hive-partitioned" between plan and execution —
    #: the mid-batch append would otherwise trip Spark's partitionValues
    #: assertion on plans resolved against the empty dir.
    SENTINEL_BATCH = -1

    #: DDL type -> pyarrow type for the seed writer (sentinel rows are
    #: deterministic kilobyte-scale data, so they are written with
    #: pyarrow directly — one-row files cost milliseconds, where Spark
    #: partitioned-write jobs cost seconds of pure init overhead per
    #: invocation; profiled, not guessed).
    _ARROW_TYPES = {"string": "string", "long": "int64", "bigint": "int64",
                    "int": "int32"}

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        name: str,
        schema: str,
        bucket_col: str,
        seed_row: tuple | None = None,
        log_col: str | None = None,
        seed_logs: tuple[str, ...] = (),
        nbkt: int = STREAM_ADM_NBKT,
    ):
        self.spark = spark
        self.dir = f"{root}/{name}"
        self.schema = schema
        self.bucket_col = bucket_col
        self.log_col = log_col
        self.nbkt = nbkt
        #: repartition slot count for append/compact — one slot per
        #: (sub-log, bucket) pair so each write task owns one partition
        #: dir (hash collisions merely merge two dirs into one task)
        self._n_slots = nbkt * max(1, len(seed_logs))
        if seed_row is not None and not os.path.exists(f"{self.dir}/g0"):
            import pyarrow as pa
            import pyarrow.parquet as pq

            data_cols = [
                (n, getattr(pa, self._ARROW_TYPES[t])())
                for n, t in _ddl_columns(schema)
                if n != bucket_col and n != log_col
            ]
            tbl = pa.table(
                {
                    n: pa.array([v], type=t)
                    for (n, t), v in zip(data_cols, seed_row)
                }
            )
            log_dirs = (
                [f"{log_col}={lg}/" for lg in seed_logs]
                if log_col is not None
                else [""]
            )
            for lg in log_dirs:
                for b in range(nbkt):
                    d = f"{self.dir}/g0/{lg}{bucket_col}={b}"
                    os.makedirs(d, exist_ok=True)
                    pq.write_table(tbl, f"{d}/part-00000-seed.parquet")
        os.makedirs(f"{self.dir}/g0", exist_ok=True)

    def _gen(self) -> int:
        try:
            with open(f"{self.dir}/GEN") as fh:
                return int(fh.read().strip())
        except (OSError, ValueError):
            return 0

    def _path(self, gen: int | None = None) -> str:
        return f"{self.dir}/g{self._gen() if gen is None else gen}"

    def _part_cols(self) -> list[str]:
        return ([self.log_col] if self.log_col else []) + [self.bucket_col]

    def read(self, log: str | None = None) -> DataFrame:
        # sentinel seed rows (batch_id=-1) are the layout bootstrap, not
        # state — structurally excluded from every read. ``log`` scopes a
        # multiplexed read to one sub-log: a filter on the log_col
        # PARTITION directory, pruned before any file is opened.
        df = (
            self.spark.read.schema(self.schema)
            .parquet(self._path())
            .where(F.col("batch_id") >= 0)
        )
        if log is not None:
            df = df.where(F.col(self.log_col) == log)
        return df

    def append(self, df: DataFrame) -> None:
        path = self._path()
        # one file per partition dir per append: without the repartition
        # every write task crosses every bucket dir (tasks x buckets
        # small files per batch — measured 2x on the whole query at
        # sf0.1), and at 100 TB file-count growth is what kills a state
        # log. The shuffle this adds is BATCH-sized, never state-sized.
        parts = self._part_cols()
        (
            df.repartition(self._n_slots, *[F.col(c) for c in parts])
            .write.mode("append")
            .partitionBy(*parts)
            .parquet(path)
        )
        # external-write invalidation (the REFRESH TABLE pattern): plans
        # created later in the same session must list the new files
        self.spark.catalog.refreshByPath(path)

    def compact(self) -> None:
        import shutil

        cur = self._gen()
        parts = self._part_cols()
        (
            self.spark.read.schema(self.schema)
            .parquet(self._path(cur))
            .dropDuplicates()
            .repartition(self._n_slots, *[F.col(c) for c in parts])
            .write.mode("overwrite")
            .partitionBy(*parts)
            .parquet(self._path(cur + 1))
        )
        tmp = f"{self.dir}/GEN.tmp.{os.getpid()}"
        with open(tmp, "w") as fh:
            fh.write(str(cur + 1))
        os.replace(tmp, f"{self.dir}/GEN")
        shutil.rmtree(self._path(cur), ignore_errors=True)


def _stream_corpus_oracle() -> str:
    from .llm_pipeline import INC_ADMISSION_CTES

    return f"""
    WITH {INC_ADMISSION_CTES}
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
           1 AS multi_batch,
           TRUE AS stream_equals_batch
    FROM admitted
    GROUP BY source
    ORDER BY source
    """


@query(
    "stream_corpus_admission",
    # real documents readStream (S8) + foreachBatch durable logs (S9);
    # the per-batch admission carries the corpus-build family: exact
    # dedup state (L1), the near-dup index (L2), frozen decontamination
    # reference (L9), quality gates (L12)
    tags=("S8", "S9", "L1", "L2", "L9", "L12"),
    oracle=_stream_corpus_oracle(),
)
def stream_corpus_admission(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING corpus admission — llm_corpus_build_incremental's
    two-batch proof generalized to a REAL micro-batch loop: documents
    replay through a ``readStream`` file source in doc_id-ordered slices
    (arrival order IS id order, the prefix-property premise), and each
    micro-batch is re-admitted through foreachBatch against four pieces
    of durable state, all parquet logs:

    - DEDUP STATE: the digest log — batch docs whose digest was already
      seen are dropped without re-reading any prior batch;
    - NEAR-DUP INDEX: shingle postings + MinHash signatures of prior
      exact survivors — the batch's signatures band-join against
      index ∪ batch, candidates verify at NEARDUP_TAU through the union
      postings, and a doc drops iff a smaller-id verified neighbor
      exists (the arrival-ordered greedy keeper; component-min cannot
      be maintained incrementally — _inc_neardup_drops);
    - DECONTAMINATION REFERENCE: the benchmark shingle postings, frozen
      before the stream starts (an external eval set);
    - BUDGET LEDGER: per-source tokens SEEN by prior batches, so each
      batch's admission window resumes mid-budget.

    REPLAY SAFETY is structural, not hoped-for: every log row carries
    its batch_id and every state READ filters ``batch_id < current``, so
    a re-executed batch recomputes from exactly the state it saw the
    first time even if its own partial appends survived a crash;
    re-attempt rows are byte-identical and collapse under the final
    dropDuplicates. The final admitted log must equal the from-scratch
    batch build (the incremental query's twin, recomputed here) ROW FOR
    ROW — proven in-plan via symmetric exceptAll, and the oracle
    recomputes the same fixpoint from raw documents in SQL (the shared
    INC_ADMISSION_CTES text).

    100 TB shape — per-batch work NEVER shuffles state (pytest-pinned:
    tests/test_streaming.py asserts the per-batch state subtrees carry
    PartitionFilters and put no Exchange above a state scan):

    - the durable state is ONE multiplexed :class:`_GenLog` whose
      digests / bands / index sub-logs are hive partition levels over
      STREAM_ADM_NBKT hash buckets of each sub-log's join key (digest /
      band key / doc id), so a batch's read prunes to (sub-log, buckets
      its own keys hash into) — partition filter on the scan — while the
      batch's three state appends, the periodic compaction, and the
      cache invalidation each run ONCE per batch instead of once per
      sub-log (the appends were 2-5 s apiece of almost pure fixed
      write-job cost at sf0.1);
    - the near-dup index is stored PRE-BANDED (band rows, not raw
      signatures), so the incremental band join is one broadcast hash
      join of the batch's band keys against the pruned scan — state-side
      banding is never recomputed, and only state rows that actually
      collide leave the scan;
    - the digest store is probed the same way (broadcast semi of the
      batch's digests against the pruned scan, then a batch-sized anti
      join) and the verify postings are pruned to candidate docs before
      the Jaccard intersection, so every exchange in the batch plan is
      over batch- or candidate-sized frames;
    - crash-re-attempt duplicates are collapsed by PERIODIC generation
      compaction (STREAM_ADM_COMPACT_EVERY, the ivf_compact pattern),
      not a per-batch state-wide dropDuplicates — the reads are
      duplicate-tolerant in between.

    Prior batches' raw text is never rescanned; the carried state is the
    digest store, the banded near-dup index, the postings, and a few
    ledger rows — exactly what a production admission service persists,
    laid out the way one would key it."""
    d = load_table(spark, sf_dir, "documents")
    # The WHOLE query — per-batch loop, from-scratch twin, and the final
    # report — runs under the micro-batch fixed-cost scope (AQE off +
    # pinned small shuffle grain, see _STREAM_STATE_CONF): the loop is
    # job-count-bound, not task-bound (measured 39 s of summed job wall +
    # 27 s of driver gaps across 295 jobs at sf0.1 pre-change), so the
    # per-stage jobs AQE adds are the dominant cost. The report is
    # materialized EAGERLY inside the scope (localCheckpoint — the
    # llm_corpus_build_to_shards pattern) so the proof legs execute here
    # too; the returned frame is the k-row result, identical rows.
    with conf_scope(spark, _STREAM_STATE_CONF):
        return _corpus_admission_body(spark, sf_dir, d)


def _corpus_admission_body(
    spark: SparkSession, sf_dir: str, d: DataFrame
) -> DataFrame:
    from ..operators import dedup as D
    from .llm_pipeline import (
        NEARDUP_TAU,
        _inc_admit,
        _inc_digest,
        _inc_gated,
        _inc_neardup_drops,
        contamination_pairs,
        neardup_stage,
    )

    # scale-adaptive state grain (guide §2): bucket count derived from
    # corpus size — parquet metadata count, no scan
    nbkt = _adm_nbkt(d.count())
    # eager localCheckpoint, not persist: the contaminated id list is KB-
    # scale but its LOGICAL plan is the full contamination shingle join —
    # every per-batch action that referenced the persisted frame re-
    # analyzed that whole subtree before the cache lookup replaced it.
    # Truncating the lineage once makes every downstream plan shallow
    # (guide §3.3: materialize an intermediate to cut planning cost).
    contaminated = (
        contamination_pairs(D.shingle_postings(d, shingle_n=3))
        .select("doc_id")
        .distinct()
        .localCheckpoint(eager=True)
    )

    def _sink(log_dir: str):
        # ALL durable state = ONE multiplexed generation log (sub-logs
        # digests/bands/index/admitted as a `log` partition level over
        # the bucket level) so each micro-batch pays ONE append + ONE
        # compaction + ONE cache invalidation TOTAL — the loop is bound
        # by fixed job cost, not bytes (the three separate-log appends
        # measured 2-5 s apiece at sf0.1; round 13 multiplexed the bulky
        # three, this round folds the kilobyte-scale admitted/ledger
        # write in too, removing the second write job + commit per
        # batch). Reads stay sub-log-scoped partition filters, so the
        # pruned per-batch scan shape is unchanged; the per-source
        # ledger rows ride in `admitted` under doc_id IS NULL.
        state_log = _GenLog(
            spark, log_dir, "state",
            _ADM_STATE_SCHEMA,
            "bkt",
            seed_row=(
                "__seed__", -1, -1, -1, "__seed__", "__seed__", -1, -1, -1
            ),
            log_col="log",
            seed_logs=("digests", "bands", "index", "admitted"),
            nbkt=nbkt,
        )

        def write(batch_df: DataFrame, batch_id: int) -> None:
            bl = F.lit(batch_id).cast("long")
            cur = F.col("batch_id") < batch_id
            # per-batch frames are lazy persists: each is multiply
            # consumed, and each probe's _collect_bkts is what fills the
            # cache — a persist rides INSIDE the collect job where an
            # eager localCheckpoint would be an extra job per frame per
            # batch (tried; the job count, not planning depth, is what
            # this loop pays for).
            bd = batch_df.withColumn("__dig", _inc_digest()).persist()

            # exact dedup against the digest store: prune the scan to the
            # batch's digest buckets, broadcast-semi the batch keys
            # against it (output <= batch size), anti-join the hit set —
            # the store itself is never exchanged
            dig_bkts = _collect_bkts(bd.select(_adm_bkt(F.xxhash64("__dig"), nbkt)))
            dig_hits = (
                state_log.read("digests")
                .where(F.col("bkt").isin(dig_bkts) & cur)
                .select(F.col("dig").alias("__dig"))
                .join(F.broadcast(bd.select("__dig").distinct()), "__dig", "semi")
            )
            keepers_b = (
                bd.join(F.broadcast(dig_hits), "__dig", "anti")
                .groupBy("__dig")
                .agg(F.min("doc_id").alias("doc_id"))
            )
            kept_b = bd.join(keepers_b.select("doc_id"), "doc_id", "semi")
            posts_b = D.shingle_postings(kept_b).persist()
            banded_b = D.band_rows(D.minhash_signatures(posts_b)).persist()

            # batch-batch candidate pairs: LSH self-join of the batch's
            # own band rows (batch-sized)
            lb, rb = banded_b.alias("l"), banded_b.alias("r")
            cands_bb = lb.join(
                rb,
                (F.col("l.band") == F.col("r.band"))
                & (F.col("l.band_hash") == F.col("r.band_hash"))
                & (F.col("l.doc_id") < F.col("r.doc_id")),
            ).select(
                F.col("l.doc_id").alias("doc_id_1"),
                F.col("r.doc_id").alias("doc_id_2"),
            )
            # state-batch candidate pairs: ONE broadcast hash join of the
            # batch's band rows against the band-bucket-pruned index scan
            # — only colliding state rows leave the scan, nothing is
            # re-banded, nothing shuffles
            band_bkts = _collect_bkts(
                banded_b.select(_adm_bkt(F.xxhash64("band", "band_hash"), nbkt))
            )
            cands_sb = (
                state_log.read("bands")
                .where(F.col("bkt").isin(band_bkts) & cur)
                .join(
                    F.broadcast(banded_b.withColumnRenamed("doc_id", "__b_doc")),
                    ["band", "band_hash"],
                )
                .where(F.col("doc_id") != F.col("__b_doc"))
                .select(
                    F.least("doc_id", "__b_doc").alias("doc_id_1"),
                    F.greatest("doc_id", "__b_doc").alias("doc_id_2"),
                )
            )
            # only pairs whose LATER side is in this batch are decided
            # now (state-state pairs were prior batches' decisions).
            # The pair set is COLLECTED once — it is candidate-bounded by
            # the band-collision contract, and jaccard_verify was already
            # hauling the identical rows to the driver to BUILD its
            # broadcast, so this moves no new bytes; in exchange the
            # verify probe needs no separate bucket-collect job, no
            # cand-id broadcast build, and no pair-dedup shuffle (the
            # driver set dedups) — three fixed-cost jobs per batch gone.
            pair_rows = (
                cands_bb.unionByName(cands_sb)
                .join(
                    kept_b.select(F.col("doc_id").alias("doc_id_2")),
                    "doc_id_2",
                    "semi",
                )
                .select(
                    "doc_id_1",
                    "doc_id_2",
                    _adm_bkt(F.xxhash64("doc_id_1"), nbkt).alias("b1"),
                    _adm_bkt(F.xxhash64("doc_id_2"), nbkt).alias("b2"),
                )
                .collect()
            )
            pairs = sorted({(r[0], r[1]) for r in pair_rows})
            doc_bkts = sorted({b for r in pair_rows for b in (r[2], r[3])})
            cand_id_list = sorted({i for p in pairs for i in p})
            cands = spark.createDataFrame(
                pairs, "doc_id_1 bigint, doc_id_2 bigint"
            ) if pairs else spark.createDataFrame(
                [], "doc_id_1 bigint, doc_id_2 bigint"
            )
            # verify postings pruned to candidate docs (doc-bucket
            # partition filter + an isin literal over the bounded
            # candidate ids): whole-doc pruning keeps the Jaccard set
            # sizes exact
            state_posts = (
                state_log.read("index")
                .where(
                    F.col("bkt").isin(doc_bkts)
                    & cur
                    & F.col("doc_id").isin(cand_id_list)
                )
                .select("doc_id", "shingle")
                .dropDuplicates(["doc_id", "shingle"])
            )
            drops_b = _inc_neardup_drops(
                D.jaccard_verify(
                    cands,
                    state_posts.unionByName(posts_b),
                    threshold=NEARDUP_TAU,
                )
            )
            quality_b = _inc_gated(
                bd, keepers_b, contaminated, drops_b
            ).persist()
            ledger = (
                state_log.read("admitted")
                .where(F.col("doc_id").isNull() & cur)
                .dropDuplicates(["source", "batch_id"])
                .groupBy("source")
                .agg(F.sum("seen").alias("seen"))
            )
            admitted_b = _inc_admit(quality_b, ledger)

            # ONE append per batch, period: all four sub-logs' rows union
            # under the `log` partition level (missing columns null) —
            # the inputs are this batch's persisted frames, so the job is
            # batch-sized compute plus one write commit
            nl = F.lit(None)

            def _state_row(df, log_name, bkt_col, **cols):
                """Project ``df`` onto the full multiplexed schema with
                nulls in the columns its sub-log does not carry."""
                out = []
                for name, typ in _ddl_columns(_ADM_STATE_SCHEMA):
                    if name == "log":
                        out.append(F.lit(log_name).alias("log"))
                    elif name == "bkt":
                        out.append(bkt_col.alias("bkt"))
                    elif name == "batch_id":
                        out.append(bl.alias("batch_id"))
                    elif name in cols:
                        out.append(cols[name].alias(name))
                    else:
                        out.append(nl.cast(typ).alias(name))
                return df.select(*out)

            dig_rows = _state_row(
                bd.select(F.col("__dig").alias("dig")).distinct(),
                "digests",
                _adm_bkt(F.xxhash64("dig"), nbkt),
                dig=F.col("dig"),
            )
            band_rows_b = _state_row(
                banded_b,
                "bands",
                _adm_bkt(F.xxhash64("band", "band_hash"), nbkt),
                doc_id=F.col("doc_id"),
                band=F.col("band"),
                band_hash=F.col("band_hash"),
            )
            post_rows = _state_row(
                posts_b,
                "index",
                _adm_bkt(F.xxhash64("doc_id"), nbkt),
                doc_id=F.col("doc_id"),
                shingle=F.col("shingle"),
            )
            adm_rows = _state_row(
                admitted_b,
                "admitted",
                _adm_bkt(F.xxhash64("doc_id"), nbkt),
                doc_id=F.col("doc_id"),
                source=F.col("source"),
                n_tokens=F.col("n_tokens").cast("bigint"),
            )
            led_rows = _state_row(
                quality_b.groupBy("source").agg(
                    F.sum("n_tokens").cast("bigint").alias("seen")
                ),
                "admitted",
                _adm_bkt(F.xxhash64(F.lit("__ledger__")), nbkt),
                source=F.col("source"),
                seen=F.col("seen"),
            )
            state_log.append(
                dig_rows.unionByName(band_rows_b)
                .unionByName(post_rows)
                .unionByName(adm_rows)
                .unionByName(led_rows)
            )
            for frame in (banded_b, posts_b, quality_b, bd):
                frame.unpersist()
            if (batch_id + 1) % STREAM_ADM_COMPACT_EVERY == 0:
                state_log.compact()

        return write

    # from-scratch twin (the incremental build's union leg, recomputed).
    # keepers_u feeds two consumers (kept semi + gate semi), each
    # evaluation a corpus scan + digest shuffle — persist the small frame.
    # The twin is INDEPENDENT of the stream (it reads only the raw corpus
    # and the frozen contamination set), so it materializes on a driver
    # thread WHILE the replay loop runs (guide §2.6: overlap independent
    # jobs — the micro-batch loop is latency-bound and leaves the
    # executor mostly idle between its small stages; measured ~3 s of
    # twin wall-clock fully hidden behind the ~18 s stream).
    keepers_u = d.groupBy(_inc_digest().alias("__dig")).agg(
        F.min("doc_id").alias("doc_id")
    ).persist()
    kept_u = d.join(keepers_u.select("doc_id"), "doc_id", "semi")
    _, ver_u = neardup_stage(kept_u)
    twin = _inc_admit(
        _inc_gated(d, keepers_u, contaminated, _inc_neardup_drops(ver_u))
    ).persist()

    log_dir, _q = _run_replay_foreachbatch(
        spark, sf_dir, "corpadm", _sink, source="documents", overlap=(twin,)
    )

    final_log = _GenLog(
        spark, log_dir, "state", _ADM_STATE_SCHEMA, "bkt", log_col="log",
    )
    streamed = (
        final_log.read("admitted")
        .where(F.col("doc_id").isNotNull())
        .dropDuplicates(["doc_id"])
        .select("doc_id", "source", "n_tokens")
        .persist()
    )
    # every batch lands at least one digest row (the replay splitter
    # writes only non-empty slices — degenerate percentile bounds are
    # deduplicated and empty ranges dropped at build time), so the
    # digest sub-log doubles as the batch roster — no separate marker
    # log; compaction preserves batch_id, so the roster survives
    # generations. The >=2 test rides the report plan as a broadcast
    # 1-row frame instead of a separate count job.
    roster = _multi_batch(final_log.read("digests"))

    diff = sym_diff_count(streamed, twin, "__n_diff")
    report = (
        streamed.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("total_tokens"),
        )
        .crossJoin(F.broadcast(diff))
        .crossJoin(F.broadcast(roster))
        .select(
            "source",
            "n_docs",
            "total_tokens",
            "multi_batch",
            (F.col("__n_diff") == 0).alias("stream_equals_batch"),
        )
        .orderBy("source")
        # eager k-row materialization INSIDE the fixed-cost conf scope
        # (the llm_corpus_build_to_shards pattern): the twin + exceptAll
        # proof executes here with the loop's settings, the caller gets
        # the same rows behind a lineage-free frame, and the per-run
        # persisted twin frames stop pinning cache across the session
        .localCheckpoint(eager=True)
    )
    for frame in (streamed, keepers_u, twin):
        frame.unpersist()
    return report


#: mid-stream compaction harness constants: deletes target BASE (even)
#: ids only and adds target NON-base (odd) ids only, so add/delete sets
#: are DISJOINT — the final live set is (base ∪ adds) − deletes no
#: matter WHEN compaction fires, which is what makes the oracle a-priori
#: under nondeterministic batch slicing. The denser delete stride (3 vs
#: the maintenance query's 83) gives the trigger real mass: final-fold
#: deleted ppm measured 150793 / 647058 / 204750 at sf0.001/0.01/0.1 —
#: every tier crosses STREAM_CMP_THRESHOLD_PPM with >=1.5x margin, so
#: "the trigger fired at least once" is a theorem (the per-batch check
#: at the last batch sees the full fold if nothing fired earlier).
STREAM_CMP_DEL_STRIDE = 3
STREAM_CMP_THRESHOLD_PPM = 100_000


@query(
    "stream_ann_index_compaction",
    tags=("S8", "S9", "T7", "L3"),
    oracle=f"""
    WITH {_ann_oracle_ctes(STREAM_CMP_DEL_STRIDE, disjoint=True)}
    SELECT n_adds, n_deletes, n_indexed,
           n_indexed - n_dead AS n_live,
           (n_dead * 1000000 // n_indexed) > {STREAM_CMP_THRESHOLD_PPM}
               AS compaction_fired,
           TRUE AS final_ppm_le_threshold,
           1 AS multi_batch,
           1 AS compacted_equals_batch,
           1 AS search_equal
    FROM m
    """,
)
def stream_ann_index_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COMPACTION UNDER STREAMING — the missing verb of
    stream_ann_index_maintenance: the ppm trigger fires MID-STREAM.
    Each micro-batch appends its index ops (frozen-center assignment for
    adds, tombstones for deletes), then foreachBatch consults the load
    report over the CURRENT generation (base-at-last-compaction ∪
    adds-since − tombstones-since, all distinct-id counts) and, when
    matched-delete mass crosses {STREAM_CMP_THRESHOLD_PPM} ppm, calls
    the compaction action inline: materialize the live cell map as a new
    GENERATION (reassign mode — frozen centers, so compaction is one
    anti-join; ivf_compact's cheap path) and reset the tombstone ledger.

    Invariants the one output row proves, each a THEOREM of the design:

    - compaction_fired: add/delete targets are DISJOINT by construction
      (deletes hit base even ids, adds hit odd ids), so the final fold's
      deleted ppm is oracle-computable regardless of batch slicing; it
      crosses the threshold at every fixture tier, and the per-batch
      check at the last batch sees the full fold if nothing fired
      earlier — so >= 1 firing is a-priori TRUE. NOTE the direction of
      this proof is margin-backed, not a theorem for arbitrary event
      distributions: a mid-stream PARTIAL fold can cross the threshold
      (deletes front-loaded, adds later) on a fixture whose FULL fold
      would not, in which case the impl would fire while an
      all-batches-at-once oracle says no. The committed tiers carry
      >= 1.5x measured margin between full-fold ppm and threshold, so
      both directions agree there; a new fixture must either keep that
      margin or derive compaction_fired per-prefix;
    - final_ppm_le_threshold: the loop checks AFTER applying each
      batch's ops, so the post-stream generation can never be left over
      threshold — the property a compaction scheduler exists to enforce;
    - compacted_equals_batch: the final streamed state must equal the
      batch verb — assign_to_centers over ivf_compact(indexed corpus,
      frozen centers, all deletes) — cell-for-cell (symmetric exceptAll
      in-plan). Disjointness makes this timing-independent: the live set
      is (base ∪ adds) − deletes whether compaction fired once, twice,
      or only at the end;
    - search_equal: a partial-probe search through the streamed
      generation equals the same search through the batch-compacted
      index row-for-row.

    REPLAY SAFETY follows the corpus-admission discipline: ops and
    generation-log rows carry batch_id, state reads filter
    batch_id < current, and a re-executed compaction overwrites its own
    generation directory with byte-identical content.

    100 TB shape: per batch one narrow assignment pass over its adds +
    two log appends + a k-row-scale ppm check; compaction cost is the
    one anti-join rewrite of the CURRENT generation, amortized to zero
    between firings — the corpus is never rescanned and the quantizer
    never retrained (reassign mode; the retrain path stays behind the
    drift monitor)."""
    # whole query under the micro-batch fixed-cost scope + eager report
    # (see stream_corpus_admission — same rationale)
    with conf_scope(spark, _STREAM_STATE_CONF):
        return _ann_compaction_body(spark, sf_dir)


def _ann_compaction_body(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import similarity as S

    ops = _AnnOps(spark, sf_dir, STREAM_CMP_DEL_STRIDE, disjoint=True)

    def _ids_and_dead(cells: DataFrame, tombs: DataFrame) -> DataFrame:
        """1-row (__n, __d): distinct indexed ids and how many of them a
        tombstone matches — ONE left join over one evaluation of the
        cells union (dead == indexed ∩ tombstones)."""
        return (
            cells.select("vec_id")
            .distinct()
            .join(tombs.withColumn("__d", F.lit(1)), "vec_id", "left")
            .agg(
                F.count(F.lit(1)).alias("__n"),
                F.coalesce(F.sum("__d"), F.lit(0)).alias("__d"),
            )
        )

    def _sink(log_dir: str):
        spark.createDataFrame(
            [], "op string, vec_id bigint, cid long, batch_id long"
        ).write.mode("overwrite").parquet(f"{log_dir}/ops")
        spark.createDataFrame(
            [(-1, -1)], "gen_batch long, batch_id long"
        ).write.mode("overwrite").parquet(f"{log_dir}/genlog")
        _cells(ops.base, ops.centers).write.mode("overwrite").parquet(
            f"{log_dir}/gen_-1"
        )

        def write(batch_df: DataFrame, batch_id: int) -> None:
            ops.write(batch_df, batch_id, f"{log_dir}/ops")
            # trigger check over the CURRENT generation + its op tail
            # (this batch's ops included); state reads exclude rows this
            # attempt may have half-written on a previous crash
            g = (
                spark.read.parquet(f"{log_dir}/genlog")
                .where(F.col("batch_id") < batch_id)
                .agg(F.max("gen_batch"))
                .collect()[0][0]
            )
            tail = (
                spark.read.parquet(f"{log_dir}/ops")
                .where(
                    (F.col("batch_id") > g) & (F.col("batch_id") <= batch_id)
                )
                .dropDuplicates(["op", "vec_id", "cid"])
            )
            live, cells, tombs = _maintained(
                spark.read.parquet(f"{log_dir}/gen_{g}"), tail
            )
            n_idx, n_dead = _ids_and_dead(cells, tombs).collect()[0]
            if n_idx and (n_dead * 1_000_000) // n_idx > STREAM_CMP_THRESHOLD_PPM:
                live.write.mode("overwrite").parquet(
                    f"{log_dir}/gen_{batch_id}"
                )
                spark.createDataFrame(
                    [(batch_id, batch_id)], "gen_batch long, batch_id long"
                ).write.mode("append").parquet(f"{log_dir}/genlog")

        return write

    # batch twin — stream-independent (events + embeddings only): its
    # compaction-verb cell map and the twin-side search materialize while
    # the replay loop runs
    live_twin, centers_t = S.ivf_compact(ops.indexed_corpus, ops.centers, ops.dels_b)
    twin_cells = _cells(live_twin, centers_t).persist()
    want = S.ivf_search(
        ops.q, ops.e, k=5, nprobe=ops.nprobe, cells=twin_cells
    ).persist()
    log_dir, _q = _run_replay_foreachbatch(
        spark, sf_dir, "anncmp", _sink, overlap=(twin_cells, want)
    )

    genlog = spark.read.parquet(f"{log_dir}/genlog").dropDuplicates(
        ["gen_batch"]
    )
    g_final = genlog.agg(F.max("gen_batch")).collect()[0][0]
    fired = bool(g_final is not None and g_final >= 0)
    ops_tail = (
        spark.read.parquet(f"{log_dir}/ops")
        .where(F.col("batch_id") > g_final)
        .dropDuplicates(["op", "vec_id", "cid"])
    )
    live_s, cells_s, tomb_tail = _maintained(
        spark.read.parquet(f"{log_dir}/gen_{g_final}"), ops_tail
    )
    live_s = live_s.persist()
    final_ppm = _ids_and_dead(cells_s, tomb_tail).select(
        F.expr(
            "CASE WHEN __n = 0 THEN 0 ELSE __d * 1000000L div __n END"
        ).alias("__ppm")
    )

    cells_diff = sym_diff_count(live_s, twin_cells, "__cells_diff")
    # each search feeds both exceptAll directions — persist the k·queries
    # result rows so the probe+rank pipelines evaluate once, not twice
    got = S.ivf_search(ops.q, ops.e, k=5, nprobe=ops.nprobe, cells=live_s).persist()
    search_diff = sym_diff_count(got, want, "__search_diff")
    dead_b = ops.indexed_corpus.select("vec_id").join(ops.dels_b, "vec_id", "semi")
    stats = ops.indexed_corpus.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_indexed")
    ).crossJoin(
        F.broadcast(
            dead_b.agg(F.count(F.lit(1)).cast("bigint").alias("__n_dead"))
        )
    )
    report = (
        ops.counts.crossJoin(F.broadcast(stats))
        .crossJoin(F.broadcast(cells_diff))
        .crossJoin(F.broadcast(search_diff))
        .crossJoin(F.broadcast(final_ppm))
        .crossJoin(F.broadcast(_multi_batch(spark.read.parquet(f"{log_dir}/ops"))))
        .select(
            F.col("n_adds").cast("bigint").alias("n_adds"),
            F.col("n_deletes").cast("bigint").alias("n_deletes"),
            "n_indexed",
            (F.col("n_indexed") - F.col("__n_dead")).alias("n_live"),
            F.lit(fired).alias("compaction_fired"),
            (F.col("__ppm") <= STREAM_CMP_THRESHOLD_PPM).alias(
                "final_ppm_le_threshold"
            ),
            "multi_batch",
            (F.col("__cells_diff") == 0).cast("int").alias(
                "compacted_equals_batch"
            ),
            (F.col("__search_diff") == 0).cast("int").alias("search_equal"),
        )
        # eager 1-row materialization inside the conf scope (the
        # stream_corpus_admission pattern); same rows, lineage-free
        .localCheckpoint(eager=True)
    )
    for frame in (ops.dels_b, ops.indexed_corpus, twin_cells, want, live_s, got):
        frame.unpersist()
    return report
