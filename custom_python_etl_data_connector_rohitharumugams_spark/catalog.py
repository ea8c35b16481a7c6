"""Fixture-table catalog: schema-pinned loading of the driver's test tables.

Tables and schemas per /root/repo/FIXTURES.md. At 100 TB these would be
partitioned/bucketed managed tables; here each is a single parquet file, and
the scale story lives in how the queries are written (pushdown-friendly
filters, broadcastable dims, partial aggregation), not in the loader.
"""

from __future__ import annotations

import hashlib
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .session import memo

TABLES: tuple[str, ...] = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

#: dimension tables small enough to broadcast at ANY scale factor (region and
#: nation are fixed-size; supplier/part grow with sf but stay dim-sized).
BROADCAST_DIMS: frozenset[str] = frozenset({"region", "nation", "supplier", "part"})


def ts_lit(s: str):
    """Timestamp literal with engine-standard typing — ONE definition of
    the oracle-parity-critical `lit(...).cast("timestamp")` idiom (under
    the pinned UTC session it matches DuckDB TIMESTAMP literals exactly)."""
    return F.lit(s).cast("timestamp")


def normalize_event_ts(df: DataFrame) -> DataFrame:
    """``events.ts`` physical-shape normalization — THE single definition
    (both fixture shapes documented in :func:`load_table`); the streaming
    replay source reuses it so batch and stream can never drift on a new
    fixture shape."""
    ts_type = dict(df.dtypes).get("ts")
    if ts_type == "bigint":
        # integer `div` (not `/`): the ns value exceeds double's 53-bit
        # mantissa, so float division would corrupt low-order digits.
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif ts_type not in (None, "timestamp"):
        # timestamp_ntz (or any future variant): session TZ is UTC, so a
        # plain cast is a pure reinterpretation with no wall-clock shift.
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one fixture table with engine-standard typing (memoized per
    session, see ``session.memo``).

    ``events.ts`` has shipped in two physical shapes across fixture
    generations: parquet TIMESTAMP(NANOS) (Spark reads it only as a
    nanosecond long under ``legacy.parquet.nanosAsLong``) and
    ``timestamp[us]`` with isAdjustedToUTC=false (Spark 4 reads it as
    TIMESTAMP_NTZ). Both are normalized here — and only here — to
    TimestampType so every downstream plan sees one type. With the session
    pinned to UTC, NTZ->TimestampType reinterpretation and ns->us integer
    truncation both match DuckDB ``epoch()`` exactly (oracle parity).
    """
    def resolve() -> DataFrame:
        if name == "events":
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
            return normalize_event_ts(spark.read.parquet(f"{sf_dir}/{name}.parquet"))
        return spark.read.parquet(f"{sf_dir}/{name}.parquet")

    # ``spark.read.parquet`` costs a driver-side file listing + footer read
    # (~60 ms measured) on EVERY call; a query suite re-resolving the same
    # ten read-only tables hundreds of times pays tens of seconds for
    # nothing — the metastore-cache equivalent (TESTDATA.md: read-only dirs)
    return memo(spark, ("table", sf_dir.rstrip("/"), name), resolve)


def path_tag(sf_dir: str) -> str:
    """Name tag for what is written from ``sf_dir``: its basename plus a
    hash of the FULL resolved path — two corpora both named "sf1" must not
    share written tables (and the /tmp path must not collide across
    concurrent test processes)."""
    resolved = Path(sf_dir.rstrip("/")).resolve()
    digest = hashlib.md5(str(resolved).encode()).hexdigest()[:8]
    return f"{resolved.name.replace('.', '_')}_{digest}"


def sym_diff_count(a: DataFrame, b: DataFrame, name: str) -> DataFrame:
    """One-row frame whose column ``name`` counts the rows in exactly one
    of ``a`` and ``b``, duplicates included (``exceptAll`` both ways): 0
    iff the two frames are equal as multisets. The in-plan equality proof
    of the twin-checked queries — computed in the plan, never collected."""
    return (
        a.exceptAll(b)
        .unionByName(b.exceptAll(a))
        .agg(F.count(F.lit(1)).alias(name))
    )


def register_views(spark: SparkSession, sf_dir: str, tables: tuple[str, ...] = TABLES) -> None:
    """Register each fixture table as a temp view (SQL entry point; mirrors
    the DuckDB-side views the driver pre-registers)."""
    for t in tables:
        load_table(spark, sf_dir, t).createOrReplaceTempView(t)
