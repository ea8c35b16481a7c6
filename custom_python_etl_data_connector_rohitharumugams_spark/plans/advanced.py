"""Advanced scale-pattern operators: grouped OLS regression, an
O(N log N) skyline (vs the oracle's quadratic NOT-EXISTS definition),
fixed-point integer PageRank, and Z-order (Morton) layout clustering.

Each query here exists to demonstrate a pattern that matters at 100 TB:

- ``analytics_ols_price_by_size`` — closed-form grouped regression from
  one partial-aggregable pass (no iterative solver, no UDF);
- ``analytics_skyline_parts`` — the skyline/pareto-frontier operator
  re-expressed as group-then-sweep so the quadratic dominance anti-join
  the SQL definition implies never runs;
- ``graph_pagerank_suppliers`` — an iterative graph algorithm done as
  pure joins+aggregates with integer fixed-point arithmetic so results
  are bit-identical across engines and partitionings (float summation
  order can never drift the answer);
- ``layout_zorder_order_stats`` — space-filling-curve file layout: the
  write-side half of scan pruning, with per-file min/max ranges that
  show why Z-ordered files prune on BOTH dimensions;
- ``llm_token_budget_downsample`` — EXACT per-domain token-budget
  admission (the execution step of the mixture plan) as one window
  prefix-sum pass, deterministic under any partitioning;
- ``layout_compaction_plan`` — small-file compaction planning
  (next-fit-decreasing bin packing) as per-partition window arithmetic
  over file metadata.

All arithmetic that crosses the oracle boundary is exact-integer or a
single exactly-rounded IEEE op on identical operands, per the registry's
parity rules (plans/registry.py docstring).
"""

from __future__ import annotations

import re
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table, path_tag
from ..session import conf_scope, memo
from .registry import query


@query(
    "analytics_ols_price_by_size",
    tags=("A1", "F3", "A5"),
    oracle="""
    SELECT p_brand,
           n_parts,
           ROUND(slope_raw, 6) AS slope_cents_per_size,
           ROUND((CAST(sy AS DOUBLE) - slope_raw * CAST(sx AS DOUBLE))
                 / CAST(n_parts AS DOUBLE), 6) AS intercept_cents,
           ROUND((CAST(num AS DOUBLE) * CAST(num AS DOUBLE))
                 / NULLIF(CAST(denx AS DOUBLE) * CAST(deny AS DOUBLE), 0.0),
                 6) AS r2
    FROM (
        SELECT p_brand, n_parts, sx, sy, num, denx, deny,
               CAST(num AS DOUBLE) / CAST(denx AS DOUBLE) AS slope_raw
        FROM (
            SELECT p_brand,
                   COUNT(*) AS n_parts,
                   SUM(x) AS sx,
                   SUM(y) AS sy,
                   COUNT(*) * SUM(x * y) - SUM(x) * SUM(y) AS num,
                   COUNT(*) * SUM(x * x) - SUM(x) * SUM(x) AS denx,
                   COUNT(*) * SUM(y * y) - SUM(y) * SUM(y) AS deny
            FROM (
                SELECT p_brand,
                       CAST(p_size AS BIGINT) AS x,
                       CAST(ROUND(p_retailprice * 100) AS BIGINT) AS y
                FROM part
            )
            GROUP BY p_brand
        )
        WHERE n_parts >= 2 AND denx <> 0
    )
    ORDER BY p_brand
    """,
)
def analytics_ols_price_by_size(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-brand ordinary-least-squares fit of retail price (integer
    cents) against size, from ONE grouped pass of partial-aggregable
    sums — the closed-form normal equations, no iterative solver.

    Scale shape: the six sums are all map-side-combinable, so the only
    shuffle is one hash aggregation on ``p_brand``; everything after is
    per-group scalar math. The moment sums are exact BIGINTs (price is
    quantized to cents first), so the slope/intercept/r2 doubles are
    each ONE exactly-rounded IEEE op on identical operands in any
    engine or partitioning. At extreme per-group cardinality (~1e9+
    rows/group) the raw moments would near the 2^53/BIGINT edge; the
    production variant centers x/y first (same one-pass shape).
    """
    part = load_table(spark, sf_dir, "part").select(
        "p_brand",
        F.col("p_size").cast("long").alias("x"),
        F.round(F.col("p_retailprice") * 100).cast("long").alias("y"),
    )
    g = (
        part.groupBy("p_brand")
        .agg(
            F.count("*").alias("n_parts"),
            F.sum("x").alias("sx"),
            F.sum("y").alias("sy"),
            F.sum(F.col("x") * F.col("y")).alias("sxy"),
            F.sum(F.col("x") * F.col("x")).alias("sxx"),
            F.sum(F.col("y") * F.col("y")).alias("syy"),
        )
        .withColumn("num", F.col("n_parts") * F.col("sxy") - F.col("sx") * F.col("sy"))
        .withColumn("denx", F.col("n_parts") * F.col("sxx") - F.col("sx") * F.col("sx"))
        .withColumn("deny", F.col("n_parts") * F.col("syy") - F.col("sy") * F.col("sy"))
        .where((F.col("n_parts") >= 2) & (F.col("denx") != 0))
        .withColumn("slope_raw", F.col("num").cast("double") / F.col("denx").cast("double"))
    )
    return g.select(
        "p_brand",
        "n_parts",
        F.round(F.col("slope_raw"), 6).alias("slope_cents_per_size"),
        F.round(
            (F.col("sy").cast("double") - F.col("slope_raw") * F.col("sx").cast("double"))
            / F.col("n_parts").cast("double"),
            6,
        ).alias("intercept_cents"),
        F.round(
            (F.col("num").cast("double") * F.col("num").cast("double"))
            / F.nullif(
                F.col("denx").cast("double") * F.col("deny").cast("double"), F.lit(0.0)
            ),
            6,
        ).alias("r2"),
    ).orderBy("p_brand")


@query(
    "analytics_skyline_parts",
    tags=("W2", "A1", "J1", "O1"),
    oracle="""
    SELECT a.p_partkey,
           CAST(ROUND(a.p_retailprice * 100) AS BIGINT) AS price_cents,
           a.p_size
    FROM part a
    WHERE NOT EXISTS (
        SELECT 1 FROM part b
        WHERE b.p_retailprice <= a.p_retailprice
          AND b.p_size <= a.p_size
          AND (b.p_retailprice < a.p_retailprice OR b.p_size < a.p_size)
    )
    ORDER BY a.p_partkey
    """,
)
def analytics_skyline_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D skyline (pareto frontier, minimize price AND size): the parts
    no other part strictly dominates.

    The SQL definition (the oracle) is a quadratic dominance anti-join.
    This plan is the O(N log N) group-then-sweep equivalent:

    1. distributed group on price -> min size per distinct price;
    2. one ordered sweep over DISTINCT PRICES: a price group survives
       iff its min size is strictly below the running min over all
       strictly-cheaper groups (``lag`` of the cumulative min);
    3. broadcast the surviving (price, size) frontier back onto the
       base table to recover full rows — duplicates of a frontier
       point all survive (equal-equal never strictly dominates),
       matching the NOT-EXISTS semantics exactly.

    Scale shape: step 1 is a partial-aggregable shuffle on price; the
    single-reducer window in step 2 runs over |distinct prices| rows,
    not N — and the surviving frontier is tiny (it is a strictly
    monotone staircase), so step 3 is a broadcast semi-structure join.
    For a price domain too large even for one reducer, pre-split by a
    coarse price bucket, sweep each bucket, and re-sweep the per-bucket
    frontiers (frontier-of-frontiers) — same operator, two levels.
    """
    part = load_table(spark, sf_dir, "part")
    per_price = part.groupBy("p_retailprice").agg(F.min("p_size").alias("min_size"))
    sweep = Window.orderBy("p_retailprice").rowsBetween(Window.unboundedPreceding, -1)
    frontier = (
        per_price.withColumn("prev_min", F.min("min_size").over(sweep))
        .where(F.col("prev_min").isNull() | (F.col("min_size") < F.col("prev_min")))
        .select("p_retailprice", "min_size")
    )
    return (
        part.join(
            F.broadcast(frontier),
            (part.p_retailprice == frontier.p_retailprice)
            & (part.p_size == frontier.min_size),
            "left_semi",
        )
        .select(
            "p_partkey",
            F.round(F.col("p_retailprice") * 100).cast("long").alias("price_cents"),
            "p_size",
        )
        .orderBy("p_partkey")
    )


# fixed-point PageRank constants: ranks live in integer micro-units so every
# engine/partitioning computes bit-identical values (no float summation
# order anywhere). damping 0.85 is applied as integer (85 * x) div 100.
_PR_ONE = 1_000_000
_PR_BASE = 150_000  # 0.15 * _PR_ONE
_PR_ITERS = 3

_PR_EDGES_SQL = """
        SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
        FROM orders JOIN lineitem ON l_orderkey = o_orderkey
"""

def _trade_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(src, dst, deg) mirrored-arc edge list of the customer<->supplier
    trade graph — built once per (session, sf_dir) and persisted.

    Iterative graph algorithms are THE case where materializing the
    invariant pays: without it Spark re-plans the orders|x|lineitem
    +distinct subtree for every join that references it (measured: 40
    parquet scans / 53 live exchanges in the 3-iteration plan,
    ReusedExchange never fires across separately-built DataFrame lineages
    under AQE). Bounded (distinct trading pairs x 3 BIGINTs); in
    production this is the persist/bucket-by-src step the PageRank
    docstring describes."""
    return memo(spark, ("trade_edges", sf_dir), lambda: _build_trade_edges(spark, sf_dir))


def _build_trade_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    e0 = (
        orders.join(lineitem, orders.o_orderkey == lineitem.l_orderkey)
        .select(
            (F.col("o_custkey") * 2).alias("src"),
            (F.col("l_suppkey") * 2 + 1).alias("dst"),
        )
        .distinct()
        .persist()
    )
    # stage the build: materialize the expensive distinct ONCE, so the
    # union mirror / degree / degree-join below all read memory instead of
    # re-running orders|x|lineitem per reference (DataFrame lineages never
    # share exchanges across separately-built subtrees)
    e0.count()
    edges = e0.unionAll(e0.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    deg = edges.groupBy("src").agg(F.count("*").alias("deg"))
    edged = edges.join(deg, "src").persist()
    # materialize NOW: a lazily-built cache under 7 concurrent consumer
    # subtrees races (sibling stages each compute still-missing partitions);
    # one eager pass builds every partition exactly once
    edged.count()
    e0.unpersist()
    return edged


def _pagerank_oracle() -> str:
    """Unrolled 3-iteration fixed-point PageRank as chained CTEs (the
    oracle twin of the Spark loop below; `//` is DuckDB integer div)."""
    sql = f"""
    WITH e0 AS ({_PR_EDGES_SQL}),
    e AS (SELECT src, dst FROM e0 UNION ALL SELECT dst AS src, src AS dst FROM e0),
    deg AS (SELECT src AS node, COUNT(*) AS deg FROM e GROUP BY src),
    r0 AS (SELECT node, CAST({_PR_ONE} AS BIGINT) AS r FROM deg)
    """
    prev = "r0"
    for i in range(1, _PR_ITERS + 1):
        sql += f""",
    i{i} AS (
        SELECT e.dst AS node, SUM({prev}.r // deg.deg) AS inflow
        FROM e JOIN deg ON e.src = deg.node JOIN {prev} ON e.src = {prev}.node
        GROUP BY e.dst
    ),
    r{i} AS (
        SELECT d.node,
               CAST({_PR_BASE} + (85 * COALESCE(i{i}.inflow, 0)) // 100 AS BIGINT) AS r
        FROM deg d LEFT JOIN i{i} ON d.node = i{i}.node
    )"""
        prev = f"r{i}"
    sql += f"""
    SELECT CASE WHEN node % 2 = 0 THEN 'customer' ELSE 'supplier' END AS kind,
           node // 2 AS entity_key,
           r AS rank_micro
    FROM {prev}
    ORDER BY rank_micro DESC, node
    LIMIT 100
    """
    return sql


@query(
    "graph_pagerank_suppliers",
    tags=("J1", "J2", "A1", "F3"),
    oracle=_pagerank_oracle(),
)
def graph_pagerank_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-point integer PageRank (3 iterations, damping 0.85) over the
    bipartite customer<->supplier trade graph, as pure joins+aggregates.

    Graph: one undirected edge per DISTINCT (customer, supplier) trading
    pair from orders |x| lineitem, held as both directed arcs; node ids
    are integer-namespaced (customer 2k, supplier 2k+1). Every node in
    the edge set has out-degree >= 1 (arcs are mirrored), so there is no
    dangling-mass term.

    Determinism: ranks are BIGINT micro-units; the per-edge contribution
    is integer division ``r div deg`` and damping is ``(85*x) div 100``,
    so every iteration is exact integer arithmetic — summation order,
    partition count, and engine cannot change a single bit. That is what
    lets an iterative algorithm sit under the exact-hash oracle.

    Scale shape: each iteration is one shuffle-join of the edge list
    against the current rank vector plus one aggregation on dst — the
    standard distributed sparse matvec. The edge list is the reused
    invariant, persisted once per (session, corpus) via ``_trade_edges``
    (in production: bucketed by src so all iterations co-locate);
    without it the orders|x|lineitem+distinct subtree re-plans for every
    reference — 40 scans in the 3-iteration plan, measured 2x slower.
    """
    edged = _trade_edges(spark, sf_dir)  # (src, dst, deg) — the invariant
    deg = edged.select("src", "deg").groupBy("src").agg(F.max("deg").alias("deg"))
    nodes = deg.select(F.col("src").alias("node"))

    r = deg.select(F.col("src").alias("node"), F.lit(_PR_ONE).cast("long").alias("r"))
    for _ in range(_PR_ITERS):
        contrib = (
            edged.join(r, edged.src == r.node)
            .groupBy("dst")
            .agg(F.sum(F.expr("r div deg")).alias("inflow"))
        )
        r = (
            nodes.join(contrib, nodes.node == contrib.dst, "left")
            .select(
                "node",
                (
                    F.lit(_PR_BASE)
                    + F.expr(f"(85 * coalesce(inflow, 0L)) div 100")
                ).cast("long").alias("r"),
            )
        )
    return (
        r.select(
            F.when(F.col("node") % 2 == 0, F.lit("customer"))
            .otherwise(F.lit("supplier"))
            .alias("kind"),
            F.expr("node div 2").alias("entity_key"),
            F.col("r").alias("rank_micro"),
        )
        .orderBy(
            F.col("rank_micro").desc(),
            F.expr("entity_key * 2 + cast(kind = 'supplier' as bigint)"),
        )
        .limit(100)
    )


# Z-order layout: 4 bits per dimension -> 256 cells -> 16 "files".
_Z_BITS = 4
_Z_SIDE = 1 << _Z_BITS  # 16 buckets per dimension
_Z_FILES = 16


def _interleave_sql(cb: str, db: str) -> str:
    """Morton interleave of two 4-bit bucket ids as PURE ARITHMETIC
    (div/mod/multiply) so the identical expression runs in Spark SQL and
    DuckDB without leaning on either engine's bitwise-operator set."""
    terms = []
    for i in range(_Z_BITS):
        terms.append(f"(({cb} // {1 << i}) % 2) * {1 << (2 * i + 1)}")
        terms.append(f"(({db} // {1 << i}) % 2) * {1 << (2 * i)}")
    return " + ".join(terms)


def _interleave_spark(cb: str, db: str) -> str:
    terms = []
    for i in range(_Z_BITS):
        terms.append(f"(({cb} div {1 << i}) % 2) * {1 << (2 * i + 1)}")
        terms.append(f"(({db} div {1 << i}) % 2) * {1 << (2 * i)}")
    return " + ".join(terms)


@query(
    "layout_zorder_order_stats",
    tags=("F3", "A1", "A2", "S5"),
    oracle=f"""
    SELECT file_id,
           COUNT(*) AS n_rows,
           MIN(cb) AS min_cb, MAX(cb) AS max_cb,
           MIN(db) AS min_db, MAX(db) AS max_db,
           COUNT(DISTINCT z) AS n_cells,
           CAST(MIN(cb) <= 7 AND MAX(cb) >= 7 AS INT) AS hits_cb7
    FROM (
        SELECT cb, db, z, z // {256 // _Z_FILES} AS file_id
        FROM (
            SELECT cb, db, {_interleave_sql("cb", "db")} AS z
            FROM (
                SELECT o_custkey % {_Z_SIDE} AS cb,
                       (DATEDIFF('day', CAST(dmin AS DATE), CAST(o_orderdate AS DATE))
                        * {_Z_SIDE}) // (span + 1) AS db
                FROM orders
                CROSS JOIN (
                    SELECT MIN(o_orderdate) AS dmin,
                           DATEDIFF('day', CAST(MIN(o_orderdate) AS DATE),
                                    CAST(MAX(o_orderdate) AS DATE)) AS span
                    FROM orders
                )
            )
        )
    )
    GROUP BY file_id
    ORDER BY file_id
    """,
)
def layout_zorder_order_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) layout assignment for orders on
    (customer bucket, order-date bucket), reported as per-file min/max
    range stats — the write-side half of multi-dimension scan pruning.

    Each row gets a 4+4-bit Morton code ``z`` interleaving its customer
    bucket and date bucket; contiguous z-ranges become "files"
    (256 cells -> 16 files). The per-file MIN/MAX columns are exactly
    the footer stats a lake writer would persist, and they show the
    z-order property: every file spans only a narrow range of BOTH
    dimensions (``hits_cb7`` counts how many files a
    ``customer_bucket = 7`` predicate would actually open — with a
    1-D date-sorted layout every file hits; here only the files whose
    cb-range straddles 7 do).

    Scale shape: bucket + interleave are pure per-row integer
    arithmetic (whole-stage codegen, no UDF, no shuffle); the stats
    aggregate is one partial-aggregable shuffle on file_id. In
    production the same z column is simply ``repartitionByRange(z)
    .sortWithinPartitions(z)`` before the write — the stats here are
    the proof of WHY that layout prunes.
    """
    orders = load_table(spark, sf_dir, "orders")
    bounds = orders.agg(
        F.min("o_orderdate").alias("dmin"),
        F.datediff(
            F.max("o_orderdate").cast("date"), F.min("o_orderdate").cast("date")
        ).alias("span"),
    )
    coded = (
        orders.crossJoin(F.broadcast(bounds))
        .select(
            (F.col("o_custkey") % _Z_SIDE).alias("cb"),
            F.expr(
                f"(datediff(cast(o_orderdate as date), cast(dmin as date))"
                f" * {_Z_SIDE}) div (span + 1)"
            ).alias("db"),
        )
        .withColumn("z", F.expr(_interleave_spark("cb", "db")))
        .withColumn("file_id", F.expr(f"z div {256 // _Z_FILES}"))
    )
    return (
        coded.groupBy("file_id")
        .agg(
            F.count("*").alias("n_rows"),
            F.min("cb").alias("min_cb"),
            F.max("cb").alias("max_cb"),
            F.min("db").alias("min_db"),
            F.max("db").alias("max_db"),
            F.countDistinct("z").alias("n_cells"),
            ((F.min("cb") <= 7) & (F.max("cb") >= 7)).cast("int").alias("hits_cb7"),
        )
        .orderBy("file_id")
    )


# token-budget downsampling: each source is cut to at most ~BUDGET tokens by
# admitting docs in deterministic hash-rank order until the budget is spent.
_DOWNSAMPLE_BUDGET = 800


@query(
    "llm_token_budget_downsample",
    tags=("L13", "W3", "A1"),
    oracle=f"""
    WITH toks AS (
        SELECT source, doc_id,
               CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT)
                   AS rk,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        FROM documents WHERE text IS NOT NULL
    ),
    ranked AS (
        SELECT source, n_tokens,
               COALESCE(SUM(n_tokens) OVER (
                   PARTITION BY source ORDER BY rk, doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS cum_before
        FROM toks
    )
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN cum_before < {_DOWNSAMPLE_BUDGET} THEN 1 ELSE 0 END)
                AS BIGINT) AS n_admitted,
           CAST(SUM(CASE WHEN cum_before < {_DOWNSAMPLE_BUDGET} THEN n_tokens
                         ELSE 0 END) AS BIGINT) AS admitted_tokens
    FROM ranked
    GROUP BY source
    ORDER BY source
    """,
)
def llm_token_budget_downsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT token-budget downsampling — the execution step the
    domain-mixture PLAN (llm_domain_mixture_plan) feeds: every source is
    cut to its token budget by admitting documents in deterministic
    md5-rank order until the running total first reaches the budget (the
    boundary doc is admitted: admission tests tokens BEFORE the doc, so
    the output is never empty and overshoot is bounded by one document —
    the standard prefix-sum admission rule).

    Unlike the plan's bucket-rate sampling (admit-if-hash<cutoff, which
    only hits a budget in expectation), this is the exact variant used
    when the token budget is a hard contract (e.g. a per-domain training
    quota). Still fully deterministic: rank = md5(doc_id), so membership
    is reproducible across runs, engines, and partitionings.

    Scale shape: ONE window pass partitioned by source (each source's
    prefix sum runs within its partition — no global sort, no driver
    loop), then one hash aggregate. At 100 TB the window shuffle is on
    the mixture key, whose cardinality (domains) is small but whose
    groups are huge — the partition-internal sort is the cost, and it is
    exactly the sort the training-shard writer needs anyway (shards are
    emitted in admission order).
    """
    d = (
        load_table(spark, sf_dir, "documents")
        .where(F.col("text").isNotNull())
        .select(
            "source",
            "doc_id",
            F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
            .cast("bigint")
            .alias("rk"),
            F.size(F.split(F.col("text"), " ")).cast("bigint").alias("n_tokens"),
        )
    )
    w = (
        Window.partitionBy("source")
        .orderBy("rk", "doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    ranked = d.withColumn("cum_before", F.coalesce(F.sum("n_tokens").over(w), F.lit(0)))
    admitted = F.col("cum_before") < _DOWNSAMPLE_BUDGET
    return (
        ranked.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(admitted.cast("bigint")).cast("bigint").alias("n_admitted"),
            F.sum(F.when(admitted, F.col("n_tokens")).otherwise(F.lit(0)))
            .cast("bigint")
            .alias("admitted_tokens"),
        )
        .orderBy("source")
    )


# compaction planning: pack per-source landed files (one JSONL doc == one
# file, the classic small-file problem) into ~TARGET-byte output files.
_COMPACT_TARGET_BYTES = 2000


@query(
    "layout_compaction_plan",
    tags=("W3", "A1", "F3", "O1"),
    oracle=f"""
    WITH files AS (
        SELECT source, doc_id, CAST(strlen(text) AS BIGINT) AS bytes
        FROM documents WHERE text IS NOT NULL
    ),
    packed AS (
        SELECT source, bytes,
               CAST(COALESCE(SUM(bytes) OVER (
                   PARTITION BY source ORDER BY bytes DESC, doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   // {_COMPACT_TARGET_BYTES} AS BIGINT) AS bin_id
        FROM files
    )
    SELECT source,
           bin_id,
           COUNT(*) AS n_files,
           CAST(SUM(bytes) AS BIGINT) AS bin_bytes,
           MAX(bytes) AS largest_file,
           MIN(bytes) AS smallest_file,
           CAST(SUM(bytes) * 1000 // {_COMPACT_TARGET_BYTES} AS BIGINT)
               AS fill_permille
    FROM packed
    GROUP BY source, bin_id
    ORDER BY source, bin_id
    """,
)
def layout_compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction planning — the lake-maintenance twin of the
    Z-order layout query: per partition (source), pack landed files into
    ~TARGET-byte output files by sorted-prefix-sum bin assignment
    (next-fit-decreasing: files sorted largest-first, a bin closes when
    its running bytes reach the target; a boundary file lands in the bin
    its prefix sum falls in, so overflow is bounded by one file). Each
    document models one landed file (the JSONL-per-record landing
    pattern that CREATES the small-file problem); its byte size is the
    real payload size.

    The emitted rows ARE the compaction plan a maintenance job executes:
    (source, bin_id) -> which files coalesce into which output file,
    with per-bin fill stats in exact integer permille (no float
    crosses the oracle boundary).

    Scale shape: one window pass partitioned by the lake partition key —
    compaction never merges across partitions, so parallelism is
    per-partition and the prefix-sum sort is the per-partition file
    listing sort (thousands of files, not rows: this operator runs on
    METADATA, which is why a 100 TB table's compaction plan is cheap).
    """
    files = (
        load_table(spark, sf_dir, "documents")
        .where(F.col("text").isNotNull())
        .select(
            "source",
            "doc_id",
            F.octet_length(F.col("text")).cast("bigint").alias("bytes"),
        )
    )
    w = (
        Window.partitionBy("source")
        .orderBy(F.col("bytes").desc(), "doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    packed = files.withColumn(
        "bin_id",
        F.expr(
            f"coalesce(sum(bytes) over (partition by source order by bytes desc,"
            f" doc_id rows between unbounded preceding and 1 preceding), 0L)"
            f" div {_COMPACT_TARGET_BYTES}"
        ),
    )
    return (
        packed.groupBy("source", "bin_id")
        .agg(
            F.count("*").alias("n_files"),
            F.sum("bytes").alias("bin_bytes"),
            F.max("bytes").alias("largest_file"),
            F.min("bytes").alias("smallest_file"),
            F.expr(f"sum(bytes) * 1000 div {_COMPACT_TARGET_BYTES}").alias(
                "fill_permille"
            ),
        )
        .orderBy("source", "bin_id")
    )


# ---------------------------------------------------------------------------
# bucketed co-located join: the written-layout half of the 100 TB fact-fact
# join story. operators/bucketing.py holds the write/join helpers and
# tests/test_scale_patterns.py asserts the zero-Exchange plan; this query
# makes the SAME property driver-checked by measuring it on the real
# physical plan and emitting it as an oracle-pinned column.
_BUCKET_N = 8


def _bucketed_pair(spark: SparkSession, sf_dir: str) -> str:
    """Write orders+lineitem co-bucketed on the order key ONCE per
    (session, sf_dir); returns the database name. The write cost is the
    point of the pattern — paid once, every later join on the key is
    shuffle-free — so the memo IS the production shape, not a bench
    trick."""
    tag = path_tag(sf_dir)
    return memo(spark, ("bucketed_pair", tag), lambda: _write_bucketed_pair(spark, sf_dir, tag))


def _write_bucketed_pair(spark: SparkSession, sf_dir: str, tag: str) -> str:
    from ..operators import bucketing

    db = f"sg_bucketdemo_{tag}"
    loc = f"{tempfile.gettempdir()}/sg_bucketjoin_{tag}"
    spark.sql(f"CREATE DATABASE IF NOT EXISTS {db} LOCATION '{loc}'")
    # a FRESH session's in-memory catalog does not know tables an earlier
    # process left at this location, and CREATE (which an unregistered
    # overwrite becomes) refuses an existing managed-table directory —
    # drop both layers explicitly so every process starts from its own
    # write, never from another process's files
    for t in ("orders_b", "lineitem_b"):
        spark.sql(f"DROP TABLE IF EXISTS {db}.{t}")
        shutil.rmtree(f"{loc}/{t}", ignore_errors=True)
    # the bucketed copies carry the join key + the columns this rollup
    # reads: the zero-exchange property lives in the per-file bucket
    # metadata, not the table width, and a full-width copy would make the
    # one-time write the bench's slowest step for columns nothing reads
    bucketing.write_bucketed(
        load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderstatus"),
        f"{db}.orders_b", "o_orderkey", n_buckets=_BUCKET_N,
    )
    bucketing.write_bucketed(
        load_table(spark, sf_dir, "lineitem").select(
            F.col("l_orderkey").alias("o_orderkey"), "l_quantity"
        ),
        f"{db}.lineitem_b", "o_orderkey", n_buckets=_BUCKET_N,
    )
    return db


@query(
    "layout_bucketed_join_noshuffle",
    tags=("S5", "J1", "A1"),
    oracle="""
    SELECT o.o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_items,
           CAST(SUM(CAST(ROUND(l.l_quantity * 100) AS BIGINT)) AS BIGINT)
               AS qty_cents,
           CAST(0 AS BIGINT) AS join_exchanges
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    GROUP BY o.o_orderstatus
    """,
)
def layout_bucketed_join_noshuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Co-bucketed fact-fact join with the ZERO-EXCHANGE property itself
    under the oracle: orders and lineitem are written as bucketed+sorted
    managed tables on the order key (operators/bucketing.py, 8 buckets
    here; thousands at 100 TB so each bucket is a few hundred MB), the
    join of the two bucketed tables is planned with broadcast disabled,
    and ``join_exchanges`` is the COUNTED number of Exchange operators in
    that join's physical plan — the oracle pins it to 0. A regression
    that re-introduces the shuffle (bucket-count mismatch, a lost sortBy,
    a renamed key) flips the column to 2 and the driver row goes red;
    this is the one shuffle AQE cannot remove from a fact-fact join, so
    proving its absence is layout evidence, not plan trivia.

    The aggregate itself is computed from the bucketed tables too, so the
    hash match also proves the bucketed copies are byte-faithful to the
    parquet source the oracle reads. ``join_exchanges`` is measured on
    THAT aggregate plan — the one that produces the returned rows — not
    a separately built bare join, so a layout regression anywhere in the
    returned path flips the pinned column. The count matches whole
    ``Exchange hashpartitioning(...o_orderkey...)`` plan nodes: the
    groupBy's own o_orderstatus shuffle is expected (re-keying from the
    bucket key is the one exchange bucketing cannot remove) and must not
    mask the join-key count, and a substring count of "Exchange" would
    also swallow Reused/BroadcastExchange nodes. The broadcast threshold
    is only unset DURING the measurement (at driver scale the dim side
    is small enough that Spark would legitimately broadcast it; at
    100 TB neither side broadcasts, which is exactly when bucketing
    pays) and restored before returning.
    """
    db = _bucketed_pair(spark, sf_dir)
    li = spark.table(f"{db}.lineitem_b")
    od = spark.table(f"{db}.orders_b")
    agg = (
        li.select("o_orderkey", "l_quantity")
        .join(od.select("o_orderkey", "o_orderstatus"), ["o_orderkey"])
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_items"),
            F.sum(F.round(F.col("l_quantity") * 100).cast("bigint"))
            .cast("bigint")
            .alias("qty_cents"),
        )
    )
    with conf_scope(spark, {"spark.sql.autoBroadcastJoinThreshold": "-1"}):
        plan = agg._jdf.queryExecution().executedPlan().toString()
    n_exchanges = len(
        re.findall(r"\bExchange hashpartitioning\([^)]*\bo_orderkey\b", plan)
    )
    return agg.withColumn("join_exchanges", F.lit(n_exchanges).cast("bigint"))


@query(
    "agg_hll_partition_merge",
    tags=("A3", "A1", "F2"),
    oracle="""
    SELECT CAST(COUNT(DISTINCT strftime(o_orderdate, '%Y-%m')) AS BIGINT)
               AS n_partials,
           CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS exact_distinct,
           CAST(1 AS INT) AS merged_within_2pct,
           CAST(1 AS INT) AS global_within_2pct,
           CAST(1 AS INT) AS merge_consistent_1p5pct
    FROM orders
    """,
)
def agg_hll_partition_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable-sketch algebra (the datasketches HLL built into Spark):
    per-month partial sketches over the order's customer key are
    union-merged into one corpus estimate WITHOUT rescanning the data —
    the pattern that makes 100 TB distinct-count rollups cheap (store one
    small sketch per day/partition; any date-range distinct count is a
    sketch union over metadata-sized state, never a re-scan).

    Invariant-form oracle (established for sketches here, like
    sql_approx_topk_brands): the merged estimate and a directly-built
    global sketch must EACH land within 2% of the exact distinct count,
    and the two estimates must agree within 1.5% of each other. They are
    NOT bit-identical: the single-sketch path uses the HIP estimator
    while the union path falls back to the raw HLL estimate, and
    sparse->dense mode promotion differs — a cardinality sweep (1.5e3 to
    5e6 distinct keys) measured the worst estimate error at 0.47% and
    the worst merged-vs-direct gap at 0.35% AT lgK=16, so both bounds
    hold with >4x headroom at every tier while still catching a dropped
    partial (one of ~80 monthly sketches missing shifts the merge by its
    share) or a precision-mismatched union. lgK=14 was the first cut and
    FAILED this sweep — a 0.498% gap at 15k keys sat exactly on the old
    0.5% bound and 1.13% estimate error halved the old margin; a sketch
    invariant must budget for the estimator's tail, not its typical day.
    All three bounds are integer arithmetic on BIGINT estimates so the
    booleans cross the oracle boundary exactly; n_partials and
    exact_distinct are exact-match columns.
    """
    orders = load_table(spark, sf_dir, "orders").select(
        F.date_format("o_orderdate", "yyyy-MM").alias("m"), "o_custkey"
    )
    partials = orders.groupBy("m").agg(
        F.hll_sketch_agg("o_custkey", F.lit(16)).alias("sk")
    )
    merged = partials.agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est_merged"),
        F.count(F.lit(1)).cast("bigint").alias("n_partials"),
    )
    direct = orders.agg(
        F.hll_sketch_estimate(F.hll_sketch_agg("o_custkey", F.lit(16))).alias(
            "est_global"
        ),
        F.count_distinct("o_custkey").cast("bigint").alias("exact_distinct"),
    )
    return merged.crossJoin(F.broadcast(direct)).select(
        "n_partials",
        "exact_distinct",
        (
            F.abs(F.col("est_merged") - F.col("exact_distinct")) * 100
            <= F.col("exact_distinct") * 2
        )
        .cast("int")
        .alias("merged_within_2pct"),
        (
            F.abs(F.col("est_global") - F.col("exact_distinct")) * 100
            <= F.col("exact_distinct") * 2
        )
        .cast("int")
        .alias("global_within_2pct"),
        (
            F.abs(F.col("est_merged") - F.col("est_global")) * 1000
            <= F.col("est_global") * 15
        )
        .cast("int")
        .alias("merge_consistent_1p5pct"),
    )


@query(
    "agg_cms_heavy_hitters",
    tags=("A1", "F8", "O2"),
    oracle="""
    WITH cnt AS (
        SELECT o_custkey, COUNT(*) AS exact_cnt
        FROM orders GROUP BY o_custkey
    ),
    top5 AS (
        SELECT o_custkey, exact_cnt
        FROM cnt ORDER BY exact_cnt DESC, o_custkey LIMIT 5
    )
    SELECT o_custkey, CAST(exact_cnt AS BIGINT) AS exact_cnt,
           CAST(1 AS INT) AS cms_ge_exact,
           CAST(1 AS INT) AS cms_within_eps,
           CAST(1 AS INT) AS sketch_rowsums_exact,
           CAST(1 AS INT) AS merge_linear_exact
    FROM top5
    """,
)
def agg_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min sketch (operators/sketches.py) next to the HLL partition
    merge: the mergeable FREQUENCY summary a 100 TB pipeline stores per
    partition so any date-range heavy-hitter probe is sketch addition over
    ≤ depth·width cells, never a rescan.

    Four invariants ride the oracle, two of them EXACT theorems:
    - cms_ge_exact: the point estimate never underestimates (every cell
      the key hashes to contains at least all of its own increments);
    - merge_linear_exact: cms(even custkeys) + cms(odd custkeys) is
      CELL-IDENTICAL to the sketch built over all orders — linearity is
      exact addition, not an approximation, checked by full-outer-joining
      the merged and direct grids;
    - sketch_rowsums_exact: every seed row of the grid sums to exactly
      COUNT(*) of orders (each input row increments one cell per seed) —
      a build-integrity check that catches a dropped partition partial;
    - cms_within_eps: est - exact ≤ ε·N with ε = e/width — the paper's
      Markov bound per seed, min over depth=4 seeds; deterministic here
      (fixed data, fixed xxhash64 seeds) and measured with >3x headroom
      at sf0.001-0.1 (avg colliding mass per cell is N/4096 and the min
      of 4 independent cells sits far under e·N/4096).
    o_custkey and exact_cnt are exact-match columns (top-5 by exact count,
    custkey tie-break)."""
    from ..operators.sketches import (
        cms_build,
        cms_eps_bound,
        cms_estimate,
        cms_merge,
    )

    orders = load_table(spark, sf_dir, "orders").select("o_custkey")
    sketch = cms_build(orders, "o_custkey")

    counts = orders.groupBy("o_custkey").agg(F.count(F.lit(1)).alias("exact_cnt"))
    top5 = counts.orderBy(F.desc("exact_cnt"), F.asc("o_custkey")).limit(5)
    est = cms_estimate(sketch, top5, "o_custkey")

    n_total = orders.count()
    eps_bound = cms_eps_bound(n_total)

    # linearity: two disjoint halves merge to the exact direct grid
    even = cms_build(orders.where(F.col("o_custkey") % 2 == 0), "o_custkey")
    odd = cms_build(orders.where(F.col("o_custkey") % 2 == 1), "o_custkey")
    merged = cms_merge(even, odd)
    mismatch = (
        merged.join(sketch, ["seed", "bucket"], "full")
        .where(
            ~F.coalesce(merged["cnt"], F.lit(0)).eqNullSafe(
                F.coalesce(sketch["cnt"], F.lit(0))
            )
        )
        .count()
    )
    bad_rowsums = (
        sketch.groupBy("seed")
        .agg(F.sum("cnt").alias("s"))
        .where(F.col("s") != n_total)
        .count()
    )

    return est.select(
        "o_custkey",
        F.col("exact_cnt").cast("bigint").alias("exact_cnt"),
        (F.col("est") >= F.col("exact_cnt")).cast("int").alias("cms_ge_exact"),
        (F.col("est") - F.col("exact_cnt") <= F.lit(eps_bound))
        .cast("int")
        .alias("cms_within_eps"),
        F.lit(1 if bad_rowsums == 0 else 0).alias("sketch_rowsums_exact"),
        F.lit(1 if mismatch == 0 else 0).alias("merge_linear_exact"),
    )


# ---------------------------------------------------------------------------
# hive-partitioned layout + partition pruning: the third leg of the layout
# trilogy (bucketing = shuffle-free joins, z-order = multi-dim file skipping,
# partitionBy = directory-level scan elimination).
def _partitioned_orders(spark: SparkSession, sf_dir: str) -> str:
    """Write orders hive-partitioned by order month ONCE per
    (session, sf_dir); returns the dataset path."""
    loc = f"{tempfile.gettempdir()}/sg_partorders_{path_tag(sf_dir)}"
    return memo(
        spark, ("partitioned_orders", loc), lambda: _write_partitioned_orders(spark, sf_dir, loc)
    )


def _write_partitioned_orders(spark: SparkSession, sf_dir: str, loc: str) -> str:
    # repartition BY the partition column first: otherwise every input
    # task writes a sliver into every month directory (dirs x tasks small
    # files — the classic dynamic-partition-write mistake); clustered, each
    # directory gets one well-sized file and the commit handles 80 files,
    # not 80 x parallelism
    (
        load_table(spark, sf_dir, "orders")
        .withColumn("ym", F.date_format("o_orderdate", "yyyy-MM"))
        .repartition(F.col("ym"))
        .write.mode("overwrite")
        .partitionBy("ym")
        .parquet(loc)
    )
    return loc


@query(
    "layout_partitioned_prune",
    tags=("S5", "P2", "A1"),
    oracle="""
    WITH m AS (SELECT strftime(MIN(o_orderdate), '%Y-%m') AS ym FROM orders)
    SELECT (SELECT ym FROM m) AS ym,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS price_cents,
           CAST(1 AS BIGINT) AS partitions_scanned,
           CAST(1 AS INT) AS partition_filter_pushed
    FROM orders
    WHERE strftime(o_orderdate, '%Y-%m') = (SELECT ym FROM m)
    """,
)
def layout_partitioned_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-partitioned layout with the PRUNING itself under the oracle:
    orders is written ``partitionBy(month)`` (80 partition directories at
    every sf — the span of o_orderdate), a single-month filter is read
    back, and two measured properties ride the row the oracle pins:

    - ``partitions_scanned`` — the number of DISTINCT partition
      directories behind ``inputFiles()`` of the filtered scan.
      ``inputFiles`` reflects the post-pruning file index, so a broken
      prune (filter not pushed, wrong partition expression, month stored
      with a non-matching type) reports 80 here and the driver row goes
      red. The oracle pins 1.
    - ``partition_filter_pushed`` — 1 iff the physical plan's scan node
      carries the month predicate in ``PartitionFilters`` (directory-level
      elimination), not ``PushedFilters`` (row-group-level): the
      difference between listing one directory and opening every file's
      footer, which at 100 TB is the difference between a metadata
      operation and a cluster-wide scan.

    The month is the corpus's MIN month, computed by a 1-row bounded agg
    (driver-resident by definition, same rule as the z-order bounds row).
    The per-month aggregate hash-matches DuckDB recomputing it from the
    unpartitioned source, so layout + pruning + values are all one row.
    """
    import re

    loc = _partitioned_orders(spark, sf_dir)
    month = (
        load_table(spark, sf_dir, "orders")
        .agg(F.date_format(F.min("o_orderdate"), "yyyy-MM").alias("ym"))
        .collect()[0]["ym"]
    )
    part = spark.read.parquet(loc)
    filtered = part.where(F.col("ym") == month)
    # inputFiles() lists from the relation's file index WITHOUT the filter,
    # so it cannot witness pruning; input_file_name() runs through the real
    # pruned scan. The distinct-file collect is bounded by the files of one
    # month partition when pruning works and by the dataset's file count
    # (~80 dirs x source partitions here) when it is broken — both
    # driver-trivial, and "broken" is exactly the case that must surface.
    files = [
        r["f"] for r in filtered.select(F.input_file_name().alias("f")).distinct().collect()
    ]
    dirs = {f.rsplit("/", 2)[1] for f in files}
    plan = filtered._jdf.queryExecution().executedPlan().toString()
    pushed = int(
        re.search(r"PartitionFilters: \[[^\]]*ym#\d+ = " + re.escape(month), plan)
        is not None
    )
    return (
        filtered.groupBy("ym")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
            .cast("bigint")
            .alias("price_cents"),
        )
        .withColumn("partitions_scanned", F.lit(len(dirs)).cast("bigint"))
        .withColumn("partition_filter_pushed", F.lit(pushed).cast("int"))
    )


@query(
    "cdc_incremental_agg_maintenance",
    tags=("A1", "A5", "O3", "F4"),
    oracle="""
    WITH merged AS (
        SELECT o_orderstatus AS s,
               CASE WHEN o_orderkey % 97 = 0
                    THEN CAST(ROUND(o_totalprice * 100) AS BIGINT) + 1000
                    ELSE CAST(ROUND(o_totalprice * 100) AS BIGINT) END AS cents
        FROM orders
        WHERE NOT (o_orderkey % 89 = 0 AND o_orderkey % 97 <> 0)
        UNION ALL
        SELECT 'I' AS s, CAST(o_orderkey % 9999 AS BIGINT) AS cents
        FROM orders WHERE o_orderkey % 101 = 0
    )
    SELECT s AS o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(cents) AS BIGINT) AS price_cents
    FROM merged GROUP BY s
    """,
)
def cdc_incremental_agg_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance (IVM): a materialized per-status
    aggregate is advanced by applying a CDC delta's SIGNED contributions —
    updates contribute (0, new-old), deletes (-1, -old), inserts
    (+1, +new) — summed with the stored view, NEVER by re-scanning the
    merged table. The oracle is the full recompute over the merged state
    in DuckDB, so the hash match proves the delta algebra reproduces the
    recompute exactly — the property that lets a 100 TB warehouse keep
    rollups current from a day's CDC stream (GB-scale) instead of a
    full-table pass.

    The CDC delta is a deterministic formula over orders (updates: keys
    divisible by 97 gain $10.00; deletes: divisible by 89 and not 97;
    inserts: divisible by 101 arrive under the new status 'I' with
    key%9999 cents), so both engines derive identical deltas a priori.
    All money is exact integer cents; group counts never go negative by
    construction and the 'I' group exists only through the insert leg, so
    every signed path is exercised. In production the base aggregate is a
    stored table and only the delta legs run per batch; here the base is
    computed once in the same plan to keep the query self-contained.
    """
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderstatus",
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
    )
    base_agg = orders.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("cents").cast("bigint").alias("c"),
    )
    upd = orders.where(F.col("o_orderkey") % 97 == 0).select(
        "o_orderstatus",
        F.lit(0).cast("bigint").alias("n"),
        F.lit(1000).cast("bigint").alias("c"),
    )
    dele = orders.where(
        (F.col("o_orderkey") % 89 == 0) & (F.col("o_orderkey") % 97 != 0)
    ).select(
        "o_orderstatus",
        F.lit(-1).cast("bigint").alias("n"),
        (-F.col("cents")).cast("bigint").alias("c"),
    )
    ins = orders.where(F.col("o_orderkey") % 101 == 0).select(
        F.lit("I").alias("o_orderstatus"),
        F.lit(1).cast("bigint").alias("n"),
        (F.col("o_orderkey") % 9999).cast("bigint").alias("c"),
    )
    maintained = (
        base_agg.unionByName(upd).unionByName(dele).unionByName(ins)
        .groupBy("o_orderstatus")
        .agg(
            F.sum("n").cast("bigint").alias("n_orders"),
            F.sum("c").cast("bigint").alias("price_cents"),
        )
        .where(F.col("n_orders") > 0)
    )
    return maintained
