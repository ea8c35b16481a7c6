"""Document-store sink (SURVEY.md S7): the reference loads each connector's
transformed records into a ``<connector>_raw`` collection with ingestion
timestamps and supports re-runs ("audits or updates",
/root/reference/README.md:23-29,97-99). In production this targets the
MongoDB Spark connector; here a collection is a parquet directory with the
same contract: ``ingested_at`` stamping + key-based upsert, idempotent
re-runs.

Scale design — bucket-pruned upsert, not full rewrite:
rows are hash-bucketed on the upsert key and the collection is partitioned
by bucket on disk. A merge reads ONLY the buckets present in the incoming
batch (partition pruning) and dynamic partition overwrite rewrites only
those buckets. Cost per upsert ~ |touched buckets|, not |collection| — the
same pattern as a hash-partitioned lakehouse MERGE.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..session import conf_scope

BUCKET_COL = "__bucket"
INGESTED_COL = "ingested_at"
#: upserts and compaction swap only the bucket directories they write
_DYNAMIC_OVERWRITE = {"spark.sql.sources.partitionOverwriteMode": "dynamic"}
_META_FILE = "_docsink_meta.json"


def _collection_path(base_dir: str, collection: str) -> str:
    return os.path.join(base_dir, collection)


def _read_meta(path: str) -> dict | None:
    meta_path = os.path.join(path, _META_FILE)
    if os.path.isfile(meta_path):
        with open(meta_path) as fh:
            return json.load(fh)
    return None


def _write_meta(path: str, n_buckets: int, key_col: str) -> None:
    with open(os.path.join(path, _META_FILE), "w") as fh:
        json.dump({"n_buckets": n_buckets, "key_col": key_col}, fh)


def write_collection(
    df: DataFrame,
    base_dir: str,
    collection: str,
    key_col: str,
    n_buckets: int = 16,
    mode: str = "upsert",
) -> str:
    """Land ``df`` into ``<base_dir>/<collection>`` with ``ingested_at``.

    mode="upsert": by-key merge, newest ``ingested_at`` wins, ties broken in
    favor of the incoming batch. mode="append": blind append (audit log
    style). Returns the collection path.
    """
    if mode not in ("append", "upsert"):
        # validated BEFORE any branch: the old post-first-write check let an
        # unknown mode silently land data on a fresh collection and only
        # raise on the SECOND call
        raise ValueError(f"unknown docsink mode: {mode}")
    spark = df.sparkSession
    path = _collection_path(base_dir, collection)
    meta = _read_meta(path) if os.path.isdir(path) else None
    if meta is not None:
        # the on-disk bucket count is authoritative: a caller-supplied value
        # that differs would hash keys into the wrong partitions and break
        # the upsert invariant silently. The recorded key_col is a CONTRACT,
        # not a default: merging by a different key would both miss existing
        # rows (bucketed under the old key's hash) and collapse distinct
        # documents sharing the new key — and then rewrite the meta,
        # destroying the evidence. Fail loudly instead.
        n_buckets = int(meta["n_buckets"])
        if meta.get("key_col", key_col) != key_col:
            raise ValueError(
                f"collection {collection!r} was created with key_col="
                f"{meta['key_col']!r}; refusing to upsert by {key_col!r}"
            )
    # NULL keys: xxhash64(NULL) returns the seed (42), NOT NULL, so all
    # null-key rows deterministically share bucket pmod(42, n_buckets) and
    # participate in the pruned merge like any other key. The coalesce is
    # belt-and-braces against an engine changing that null contract — it
    # does not fire today, and null docs do NOT live in bucket 0.
    bucket = F.coalesce(
        F.pmod(F.xxhash64(F.col(key_col).cast("string")), F.lit(n_buckets)), F.lit(0)
    )
    stamped = df.withColumn(INGESTED_COL, F.current_timestamp()).withColumn(BUCKET_COL, bucket)
    if mode != "append":
        # within-batch dedup: re-paged extracts can repeat keys in one run.
        # ingested_at is query-constant (current_timestamp), so every row in
        # the batch ties — a content-hash tiebreak makes the winner a pure
        # function of the data, so re-running the same batch keeps the same
        # row instead of picking one arbitrarily per shuffle order. Each
        # column contributes its NULL-ness alongside its value: xxhash64
        # skips NULL inputs while carrying the seed, so (k, 'a', NULL) and
        # (k, NULL, 'a') would otherwise hash identically and the "pure
        # function of the data" claim would fail exactly on rows differing
        # only in which columns are null.
        content_hash = F.xxhash64(
            *[
                part
                for c in df.columns
                for part in (
                    F.col(c).isNull().cast("string"),
                    F.col(c).cast("string"),
                )
            ]
        )
        wb = Window.partitionBy(key_col).orderBy(
            F.col(INGESTED_COL).desc(), content_hash.desc()
        )
        stamped = (
            stamped.withColumn("__rn", F.row_number().over(wb))
            .where(F.col("__rn") == 1)
            .drop("__rn")
        )

    # first-write detection is BY DATA, not by directory existence: an
    # empty first batch (or a crash between meta and data) leaves a
    # parquet-less directory, and routing the next batch into the upsert
    # branch would crash parquet schema inference there forever
    has_data = os.path.isdir(path) and any(
        f.endswith(".parquet") for _, _, fs in os.walk(path) for f in fs
    )
    if mode == "append" or not has_data:
        # meta BEFORE data: a crash in between leaves meta + no parquet,
        # which the has_data check above routes back here with the
        # RECORDED n_buckets (read at the top) — the reverse order could
        # leave committed 8-bucket data and no meta, and the next writer's
        # default bucket count would prune the wrong partitions and
        # silently duplicate keys
        os.makedirs(path, exist_ok=True)
        _write_meta(path, n_buckets, key_col)
        (
            stamped.write.mode("append")
            .partitionBy(BUCKET_COL)
            .parquet(path)
        )
        return path

    # persist: the batch is consumed twice (touched-bucket collect + final
    # write); without it a non-deterministic source (live REST extract) could
    # surface a bucket in the write that wasn't in `touched`, making dynamic
    # overwrite replace that partition WITHOUT merging its existing rows —
    # and even deterministic extracts would re-run the full HTTP fetch
    stamped = stamped.persist()
    try:
        touched = [r[0] for r in stamped.select(BUCKET_COL).distinct().collect()]
        existing = (
            # mergeSchema: batches may evolve (a connector adds a field);
            # older files simply lack the column and read as NULL
            spark.read.option("mergeSchema", "true")
            .parquet(path)
            .where(F.col(BUCKET_COL).isin(touched))  # partition-pruned scan
            .withColumn("__is_new", F.lit(0))
        )
        merged = stamped.withColumn("__is_new", F.lit(1)).unionByName(
            existing, allowMissingColumns=True
        )
        w = Window.partitionBy(key_col).orderBy(
            F.col(INGESTED_COL).desc(), F.col("__is_new").desc()
        )
        deduped = (
            merged.withColumn("__rn", F.row_number().over(w))
            .where(F.col("__rn") == 1)
            .drop("__rn", "__is_new")
        )
        with conf_scope(spark, _DYNAMIC_OVERWRITE):
            deduped.write.mode("overwrite").partitionBy(BUCKET_COL).parquet(path)
    finally:
        stamped.unpersist()
    _write_meta(path, n_buckets, key_col)
    return path


def read_collection(spark: SparkSession, base_dir: str, collection: str) -> DataFrame:
    return (
        spark.read.option("mergeSchema", "true")
        .parquet(_collection_path(base_dir, collection))
        .drop(BUCKET_COL)
    )


def bucket_file_counts(base_dir: str, collection: str) -> dict[int, int]:
    """Parquet-file count per bucket — the fragmentation report a
    compaction schedule selects from (``compact_collection(...,
    buckets=[b for b, n in counts.items() if n > threshold])``).
    Metadata-only: one directory listing per bucket, no data read; at
    100 TB this is the object-store LIST call a table format keeps in its
    manifest, and the natural point to swap one in."""
    path = _collection_path(base_dir, collection)
    counts: dict[int, int] = {}
    for entry in os.listdir(path) if os.path.isdir(path) else []:
        if not entry.startswith(f"{BUCKET_COL}="):
            continue
        try:
            b = int(entry.split("=", 1)[1])
        except ValueError:
            # e.g. __HIVE_DEFAULT_PARTITION__ or a stray directory: not a
            # bucket this sink wrote, so not this report's business — the
            # fragmentation report must survive foreign partition values
            continue
        counts[b] = sum(
            1
            for f in os.listdir(os.path.join(path, entry))
            if f.endswith(".parquet")
        )
    return counts


def compact_collection(
    spark: SparkSession,
    base_dir: str,
    collection: str,
    buckets: list[int] | None = None,
) -> int:
    """Rewrite the collection (or just ``buckets`` of it) to ~one file per
    bucket; returns the collection's total parquet-file count.

    Every upsert leaves one new file per touched bucket, so a frequently
    re-run connector accumulates small files until scans are dominated by
    open/seek cost — the classic lakehouse small-file problem. Compaction
    is the same dynamic-partition-overwrite write the upsert uses, with the
    rows repartitioned by bucket first so each bucket directory ends up
    with a single file. Row content (including ``ingested_at``) is
    preserved exactly.

    ``buckets`` makes the 100 TB schedule literal: passing a bucket subset
    prunes the scan to those partition directories and dynamic overwrite
    swaps ONLY them, so a nightly job can walk bucket ranges (or target
    the buckets :func:`bucket_file_counts` reports as fragmented) with
    cost proportional to the fragmented slice, never the collection.
    ``buckets=None`` keeps the whole-collection rewrite — fine while the
    collection fits a maintenance window, and the only way to change
    layout globally. What bucket-subset compaction does NOT buy: it never
    rebalances ACROSS buckets (a hot key's bucket stays hot — that needs
    a re-bucketing rewrite with a new n_buckets, which is a full pass by
    definition, documented in DESIGN.md's docsink section).
    """
    path = _collection_path(base_dir, collection)
    meta = _read_meta(path)
    n_buckets = int(meta["n_buckets"]) if meta else 16
    # reading the path being overwritten is safe here WITHOUT materializing:
    # dynamic partition overwrite stages every new file and swaps partition
    # contents only at driver-side job commit, strictly after all read
    # tasks finished — the same read-merge-overwrite the upsert above does.
    # A persist()+count() would materialize the ENTIRE collection (at the
    # module's 100 TB design point, for nothing).
    rows = spark.read.option("mergeSchema", "true").parquet(path)
    shuffle_parts = n_buckets
    if buckets is not None:
        rows = rows.where(F.col(BUCKET_COL).isin(list(buckets)))
        shuffle_parts = max(1, len(buckets))
    with conf_scope(spark, _DYNAMIC_OVERWRITE):
        (
            rows.repartition(shuffle_parts, F.col(BUCKET_COL))
            .write.mode("overwrite")
            .partitionBy(BUCKET_COL)
            .parquet(path)
        )
    return sum(
        1
        for root, _, files in os.walk(path)
        for f in files
        if f.endswith(".parquet")
    )
