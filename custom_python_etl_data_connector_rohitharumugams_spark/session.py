"""SparkSession factory with the engine's standard configuration.

Every knob here is scale-motivated (see SURVEY.md SS4): AQE for runtime
re-planning/skew handling, Arrow for any Python exchange, UTC pinned for
cross-engine (DuckDB-oracle) timestamp parity, and nanosAsLong so that a
TIMESTAMP(NANOS) ``events`` fixture (one of its historical shapes) reads as a
long instead of erroring (catalog.py normalizes every shape to TimestampType).
"""

from __future__ import annotations

import os
from contextlib import contextmanager
from typing import Any, Callable, Iterator, Mapping, TypeVar
from weakref import WeakKeyDictionary

from pyspark.sql import SparkSession

_T = TypeVar("_T")


def driver_heap(phys_bytes: int) -> str:
    """Driver heap for a host with ``phys_bytes`` of RAM: half of it,
    capped at 64 GB. The other half is left to the Python workers, the
    page cache and the JVM's off-heap buffers; a heap sized past physical
    RAM lets the JVM grow until the kernel's OOM-killer ends it."""
    return f"{min(64 << 10, phys_bytes // 2 >> 20)}m"


#: Static conf — only applies when THIS process launches the JVM (bench,
#: pytest, CLI). Spark's local-mode default is a 1 GiB driver heap, which on
#: a 32-thread local[32] run means every shuffle, window buffer, broadcast,
#: and Arrow batch contends for the same ~1 GiB — measured here as multi-
#: second GC stalls that turned 2-s queries into 26-s outliers. A real
#: cluster sizes executor memory explicitly; this is the local-mode
#: equivalent, sized from the host (:func:`driver_heap`). Kept separate
#: from ENGINE_CONF because it cannot be applied to a live session
#: (builder-time only).
STATIC_CONF: dict[str, str] = {
    "spark.driver.memory": driver_heap(
        os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    ),
    "spark.driver.maxResultSize": "4g",
}

ENGINE_CONF: dict[str, str] = {
    "spark.sql.session.timeZone": "UTC",
    # local[32] stand-in for a multi-executor cluster: one shuffle partition
    # per core here; on a real 1000-executor cluster this would be set to
    # ~2-3x total cores (or left to AQE coalescing from a high initial value).
    "spark.sql.shuffle.partitions": "32",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.autoBroadcastJoinThreshold": "64m",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.parquet.filterPushdown": "true",
    # let Python data sources (restapi) receive pushFilters() — off by
    # default in Spark 4; the REST source turns equality predicates into
    # API query params so filtered extracts fetch fewer pages
    "spark.sql.python.filterPushdown.enabled": "true",
    # events.parquet has shipped as TIMESTAMP(NANOS) in some fixture
    # generations; read nanos as long then convert (catalog normalizes both
    # the nanos-long and timestamp_ntz shapes to TimestampType).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # recursive CTE depth for calendar-spine queries (one row per month —
    # a wide date range must error loudly, not truncate). Also set inside
    # sql_recursive_month_series itself: the driver's correctness session
    # is vanilla (engine conf absent) and the limit must hold when the
    # LAZY frame executes, so the in-query set cannot be restored.
    "spark.sql.cteRecursionLevelLimit": "1000",
}


def get_spark(app_name: str = "etl-connector-spark", cpus: int | str | None = None) -> SparkSession:
    """Build (or fetch) the engine SparkSession.

    ``cpus`` defaults to $SPARK_GRAFT_CPUS (driver contract) else '*'.
    """
    cpus = cpus or os.environ.get("SPARK_GRAFT_CPUS", "*")
    builder = SparkSession.builder.master(f"local[{cpus}]").appName(app_name)
    for k, v in {**STATIC_CONF, **ENGINE_CONF}.items():
        builder = builder.config(k, v)
    # If an existing session was reused, configure re-asserts the
    # runtime-settable confs (static ones the builder already applied).
    return configure(builder.getOrCreate())


def configure(spark: SparkSession) -> SparkSession:
    """Apply the engine's runtime-settable conf to a session and ship the
    package to its Python workers (the driver passes its own SparkSession
    to ``__spark_entry__.entry``)."""
    for k, v in ENGINE_CONF.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass
    _ship_package(spark)
    return spark


def _ship_package(spark: SparkSession) -> None:
    """Make this package importable in executor-side Python workers, once
    per Spark application (memoized on its SparkContext).

    UDFs, ``mapInPandas`` bodies and the Python DataSource classes are
    cloudpickled BY REFERENCE, so workers must be able to import the
    package — which fails whenever the driver wasn't launched from the
    repo root. addPyFile distributes a zip of the package and prepends it
    to every worker's sys.path; doing it at session start means no query
    changes the workers' path mid-session."""
    sc = spark.sparkContext
    memo(sc, ("shipped_package",), lambda: _zip_and_add_package(sc))


def _zip_and_add_package(sc) -> None:
    import hashlib
    import tempfile
    import zipfile
    from pathlib import Path

    from . import __version__

    pkg_dir = Path(__file__).parent
    sources = sorted(pkg_dir.rglob("*.py"))
    # content-derived cache key: a version-only key would keep shipping a
    # stale zip after source edits (executors would import old code)
    digest = hashlib.sha256(
        "".join(f"{p.relative_to(pkg_dir)}:{p.stat().st_mtime_ns}:{p.stat().st_size};" for p in sources).encode()
    ).hexdigest()[:16]
    zpath = Path(tempfile.gettempdir()) / f"{pkg_dir.name}-{__version__}-{digest}.zip"
    if not zpath.exists():
        with zipfile.ZipFile(zpath, "w") as zf:
            for py in sources:
                zf.write(py, arcname=str(py.relative_to(pkg_dir.parent)))
    sc.addPyFile(str(zpath))


_MEMO: "WeakKeyDictionary[Any, dict[tuple, Any]]" = WeakKeyDictionary()


def memo(owner: Any, key: tuple, build: Callable[[], _T]) -> _T:
    """Return the session artifact ``key`` of ``owner``, running ``build``
    only on the first call — the ONE memo for every artifact the engine
    keeps across queries (resolved tables, trained quantizers, rotations,
    merge tables, ground truth, written layouts).

    ``owner`` is the SparkSession, SparkContext or corpus DataFrame the
    artifact derives from; it is held WEAKLY, so an entry dies with its
    owner (a stopped session, a dropped corpus frame) and never outlives
    the data it describes. ``catalog.load_table`` returns ONE frame per
    (session, sf_dir, table), which is what makes a corpus-keyed entry hit
    across queries. ``key`` starts with the artifact's name, then its
    build parameters, so two artifacts of one owner cannot collide.

    Only deterministic, immutable-input artifacts belong here: a hit
    returns the first build's value as-is (DataFrames are immutable plans
    and the fixture inputs are read-only, so staleness cannot arise). A
    ``build`` that raises stores nothing. There is no lock: builds run on
    the query's driver thread, and two racing first calls would only
    build twice and keep one result."""
    entries = _MEMO.setdefault(owner, {})
    if key not in entries:
        entries[key] = build()
    return entries[key]


@contextmanager
def conf_scope(spark: SparkSession, settings: Mapping[str, str]) -> Iterator[None]:
    """Apply runtime ``settings`` for the body only. On exit — also when
    the body raises — each key gets back its previous value, or is unset
    if the session had none, so the scope leaves no trace in later
    queries' plans."""
    prev = {k: spark.conf.get(k, None) for k in settings}
    try:
        for k, v in settings.items():
            spark.conf.set(k, v)
        yield
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
