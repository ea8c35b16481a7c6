"""Training-data pipeline extensions (SURVEY.md SS2.10 L6-L11): the
operations a 100 TB LLM-corpus build needs between raw documents and
training shards — chunking, sequence packing, PII scrubbing, benchmark
decontamination, deterministic train/val splitting, dedup clustering,
and the end-to-end corpus-build composition.

All are JVM DataFrame compositions (no Python in the data path) with
exact DuckDB oracles — including the iterative clustering, whose oracle
is a recursive CTE. Cross-engine determinism notes:

- random assignment is NEVER used: splits and benchmark membership derive
  from md5(doc_id) — `conv(substr(md5(x),1,8),16,10)` in Spark equals
  `CAST('0x' || substr(md5(x),1,8) AS BIGINT)` in DuckDB, so the oracle
  reproduces the split bit-exactly (xxhash64 would be engine-specific);
- regexes stay inside the RE2 AND java.util.regex common subset (character
  classes, bounded repetition, \\b) — no lookaround, no backrefs;
- packing is per-source contiguous fill, not global greedy: a global pack
  is a sequential chain (one partition at 100 TB), while per-shard packing
  is how real corpus builds parallelize — each source packs independently
  under one window, so the plan is one shuffle on source.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table, path_tag, sym_diff_count
from .llm import NGRAM_JACCARD_SQL
from .registry import query

CHUNK_SIZE = 64
CHUNK_STRIDE = 48
PACK_BUDGET = 2048
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PHONE_RE = r"\b555-[0-9]{3}-[0-9]{4}\b"


from ..functions.ids import md5_bucket as _md5_bucket  # noqa: E402 — shared
# bucketing rule (functions/ids.py): the shard sink uses the same function,
# so split membership and shard membership can never drift apart


# -- benchmark decontamination: ONE definition of the rule -------------------
# (benchmark membership, shingle width, and shared-shingle threshold are
# consumed by llm_benchmark_overlap AND llm_corpus_build, in both the Spark
# plans and the oracles — a drifted copy would silently desynchronize the
# corpus build from the overlap report)
BENCH_MODULUS = 97
CONTAMINATION_MIN_SHARED = 2

#: DuckDB CTE block ending in contaminated_pairs(doc_id, benchmark_id,
#: shared_shingles); prepend inside a WITH list.
CONTAMINATION_CTES = f"""
    toks AS (
        SELECT doc_id,
               unnest(list_distinct(list_transform(
                   range(1, len(string_split(text, ' ')) - 1),
                   i -> concat_ws(' ', string_split(text, ' ')[i],
                                       string_split(text, ' ')[i + 1],
                                       string_split(text, ' ')[i + 2]))))
                   AS shingle
        FROM documents
    ),
    contaminated_pairs AS (
        SELECT c.doc_id AS doc_id, b.doc_id AS benchmark_id,
               COUNT(*) AS shared_shingles
        FROM (SELECT doc_id, shingle FROM toks WHERE doc_id % {BENCH_MODULUS} <> 0) c
        JOIN (SELECT doc_id, shingle FROM toks WHERE doc_id % {BENCH_MODULUS} = 0) b
          USING (shingle)
        GROUP BY 1, 2
        HAVING COUNT(*) >= {CONTAMINATION_MIN_SHARED}
    )
"""


def contamination_pairs(posts: DataFrame) -> DataFrame:
    """(doc_id, benchmark_id, shared_shingles) for every corpus doc sharing
    >= CONTAMINATION_MIN_SHARED distinct shingles with a benchmark doc
    (membership: doc_id % BENCH_MODULUS == 0). The benchmark side is tiny
    by construction, so its postings broadcast."""
    bench = posts.where(F.col("doc_id") % BENCH_MODULUS == 0).select(
        F.col("doc_id").alias("benchmark_id"), "shingle"
    )
    corpus = posts.where(F.col("doc_id") % BENCH_MODULUS != 0)
    return (
        corpus.join(F.broadcast(bench), "shingle")
        .groupBy("doc_id", "benchmark_id")
        .agg(F.count(F.lit(1)).alias("shared_shingles"))
        .where(F.col("shared_shingles") >= CONTAMINATION_MIN_SHARED)
    )


@query(
    "llm_chunk_documents",
    tags=("L6", "F5"),
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ),
    chunks AS (
        SELECT doc_id, k.k AS chunk_id,
               array_to_string(list_slice(t, k.k * {CHUNK_STRIDE} + 1,
                                             k.k * {CHUNK_STRIDE} + {CHUNK_SIZE}), ' ') AS chunk
        FROM toks, LATERAL (
            SELECT unnest(range(0, ((len(t) - 1) // {CHUNK_STRIDE}) + 1)) AS k
        ) k
    )
    SELECT doc_id, chunk_id,
           len(string_split(chunk, ' ')) AS n_tokens,
           md5(chunk) AS chunk_md5
    FROM chunks
    """,
)
def llm_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window document chunking: 64-token chunks every 48 tokens
    (16-token overlap), the standard pre-training/RAG shaping step. One
    narrow projection + posexplode — no shuffle at all until a consumer
    aggregates; chunk identity is md5(chunk text) so the oracle compares
    content without hauling chunk bodies through the hash."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    ks = F.sequence(F.lit(0), ((F.size(toks) - 1) / CHUNK_STRIDE).cast("bigint"))
    chunked = d.select(
        "doc_id",
        F.explode(ks).alias("chunk_id"),
        toks.alias("t"),
    ).select(
        "doc_id",
        "chunk_id",
        F.concat_ws(
            " ", F.slice(F.col("t"), (F.col("chunk_id") * CHUNK_STRIDE + 1).cast("int"), CHUNK_SIZE)
        ).alias("chunk"),
    )
    return chunked.select(
        "doc_id",
        "chunk_id",
        F.size(F.split(F.col("chunk"), " ")).alias("n_tokens"),
        F.md5(F.col("chunk")).alias("chunk_md5"),
    )


@query(
    "llm_sequence_packing",
    tags=("L7", "W3"),
    oracle=f"""
    WITH sized AS (
        SELECT doc_id, source, len(string_split(text, ' ')) AS n_tokens
        FROM documents
    ),
    packed AS (
        SELECT source, n_tokens,
               CAST(COALESCE(SUM(n_tokens) OVER (
                   PARTITION BY source ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   // {PACK_BUDGET} AS BIGINT) AS bin_id
        FROM sized
    )
    SELECT source, bin_id,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
           ROUND(CAST(SUM(n_tokens) AS DOUBLE) / {PACK_BUDGET}, 4) AS fill_ratio
    FROM packed
    GROUP BY source, bin_id
    """,
)
def llm_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contiguous sequence packing into {PACK_BUDGET}-token training bins,
    per source shard: a doc's bin is the exclusive running token total
    integer-divided by the budget. Per-shard (not global) packing is the
    distributed design — each source packs under one window partition, so
    the whole operator is one shuffle on source; a global greedy pack would
    serialize the corpus through one partition."""
    d = load_table(spark, sf_dir, "documents")
    sized = d.select(
        "doc_id", "source", F.size(F.split(F.col("text"), " ")).alias("n_tokens")
    )
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    packed = sized.select(
        "source",
        "n_tokens",
        F.floor(F.coalesce(F.sum("n_tokens").over(w), F.lit(0)) / PACK_BUDGET).alias("bin_id"),
    )
    return packed.groupBy("source", "bin_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        F.round(F.sum("n_tokens").cast("double") / PACK_BUDGET, 4).alias("fill_ratio"),
    )


@query(
    "llm_pii_scrub",
    tags=("L8", "F1"),
    oracle=f"""
    WITH enriched AS (
        SELECT doc_id, source,
               text ||
               CASE WHEN doc_id % 7 = 0
                    THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com'
                    ELSE '' END ||
               CASE WHEN doc_id % 11 = 0 THEN ' call 555-867-5309' ELSE '' END
                   AS text
        FROM documents
    ),
    scrubbed AS (
        SELECT doc_id, source, text,
               len(regexp_extract_all(text, '{EMAIL_RE}')) AS n_emails,
               len(regexp_extract_all(text, '{PHONE_RE}')) AS n_phones,
               regexp_replace(regexp_replace(text, '{EMAIL_RE}', '<EMAIL>', 'g'),
                              '{PHONE_RE}', '<PHONE>', 'g') AS clean
        FROM enriched
    )
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN n_emails + n_phones > 0 THEN 1 ELSE 0 END) AS BIGINT) AS docs_redacted,
           CAST(SUM(n_emails) AS BIGINT) AS total_emails,
           CAST(SUM(n_phones) AS BIGINT) AS total_phones,
           CAST(SUM(len(text) - len(clean)) AS BIGINT) AS chars_removed
    FROM scrubbed
    GROUP BY source
    """,
)
def llm_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing report: redact emails and phone numbers, count
    redactions per source shard. The fixture corpus carries no PII, so a
    deterministic injection (derived from doc_id, mirrored in the oracle)
    makes the redaction path observable end to end. Regexes are in the
    RE2/Java common subset; all scanning is JVM regexp — no Python."""
    d = load_table(spark, sf_dir, "documents")
    enriched = d.select(
        "doc_id",
        "source",
        F.concat(
            F.col("text"),
            F.when(
                F.col("doc_id") % 7 == 0,
                F.concat(F.lit(" contact user"), F.col("doc_id").cast("string"), F.lit("@example.com")),
            ).otherwise(""),
            F.when(F.col("doc_id") % 11 == 0, F.lit(" call 555-867-5309")).otherwise(""),
        ).alias("text"),
    )
    scrubbed = enriched.select(
        "source",
        "text",
        F.regexp_count(F.col("text"), F.lit(EMAIL_RE)).alias("n_emails"),
        F.regexp_count(F.col("text"), F.lit(PHONE_RE)).alias("n_phones"),
        F.regexp_replace(
            F.regexp_replace(F.col("text"), EMAIL_RE, "<EMAIL>"), PHONE_RE, "<PHONE>"
        ).alias("clean"),
    )
    return scrubbed.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(((F.col("n_emails") + F.col("n_phones")) > 0).cast("bigint")).alias("docs_redacted"),
        F.sum("n_emails").alias("total_emails"),
        F.sum("n_phones").alias("total_phones"),
        F.sum(F.length("text") - F.length("clean")).alias("chars_removed"),
    )


@query(
    "llm_benchmark_overlap",
    tags=("L9", "J4"),
    oracle=f"""
    WITH {CONTAMINATION_CTES}
    SELECT doc_id, benchmark_id, shared_shingles FROM contaminated_pairs
    """,
)
def llm_benchmark_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: corpus documents sharing >= 2 distinct
    3-gram shingles with any held-out benchmark document (membership is
    doc_id % 97 = 0 — deterministic, oracle-reproducible). Inverted-index
    join on the shingle — candidate cost tracks real shingle collisions,
    never corpus x benchmark; flagged docs are then dropped or
    quarantined (llm_corpus_build consumes the same rule)."""
    from ..operators.dedup import shingle_postings

    d = load_table(spark, sf_dir, "documents")
    return contamination_pairs(shingle_postings(d, shingle_n=3))


@query(
    "llm_bloom_benchmark_overlap",
    tags=("L9", "J4", "F8"),
    oracle=f"""
    WITH {CONTAMINATION_CTES}
    SELECT doc_id, benchmark_id, shared_shingles FROM contaminated_pairs
    """,
)
def llm_bloom_benchmark_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """llm_benchmark_overlap with a Bloom runtime filter in front of the
    exact join — the 100 TB form of the decontamination scan. The
    benchmark's distinct shingles are sketched into a 16 KiB Bloom filter
    (operators/bloom.py: distributed bit_or build, pure-JVM-expression
    probe); corpus postings that fail the probe never reach the shuffle.
    Bloom filters have no false negatives, so survivors ⊇ true matches and
    the exact join downstream restores set equality — the oracle is the
    plain exact-join SQL, unchanged. At the fixture scale the probe already
    discards the large majority of corpus postings map-side (pinned by
    tests/test_bloom.py); at crawl scale that is the difference between
    shuffling the corpus and shuffling ~the benchmark's footprint."""
    from ..operators.bloom import bloom_prefilter
    from ..operators.dedup import shingle_postings

    d = load_table(spark, sf_dir, "documents")
    posts = shingle_postings(d, shingle_n=3)
    bench_shingles = (
        posts.where(F.col("doc_id") % BENCH_MODULUS == 0)
        .select("shingle")
        .distinct()
    )
    corpus = posts.where(F.col("doc_id") % BENCH_MODULUS != 0)
    survivors = bloom_prefilter(corpus, "shingle", bench_shingles, "shingle")
    # exact verify: only the corpus side was pre-filtered, so the join
    # output is identical to the unfiltered exact join
    return contamination_pairs(
        survivors.unionByName(posts.where(F.col("doc_id") % BENCH_MODULUS == 0))
    )


@query(
    "llm_stratified_split",
    tags=("L10", "F8"),
    oracle="""
    WITH tagged AS (
        SELECT source,
               len(string_split(text, ' ')) AS n_tokens,
               CASE WHEN CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT)
                         % 100 < 90
                    THEN 'train' ELSE 'val' END AS split
        FROM documents
    )
    SELECT source, split,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens
    FROM tagged
    GROUP BY source, split
    """,
)
def llm_stratified_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 90/10 train/val split, stratified per source shard:
    membership is a pure function of doc_id (md5 prefix mod 100), so the
    split is reproducible across runs, engines, and scale factors — never
    rand(). Re-running the pipeline yields byte-identical shard rosters,
    which is what makes corpus builds auditable."""
    d = load_table(spark, sf_dir, "documents")
    tagged = d.select(
        "source",
        F.size(F.split(F.col("text"), " ")).alias("n_tokens"),
        F.when(_md5_bucket(F.col("doc_id"), 100) < 90, "train").otherwise("val").alias("split"),
    )
    return tagged.groupBy("source", "split").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
    )


#: ONE copy of the transitive-closure clustering oracle: both the
#: label-propagation and large/small-star queries are pinned to the
#: identical fixpoint, and a parity tweak cannot desynchronize them
#: (same single-sourcing rule as CONTAMINATION_CTES).
DEDUP_CLUSTERS_ORACLE = f"""
    WITH RECURSIVE
    pairs AS (
        SELECT doc_id_1, doc_id_2 FROM ({NGRAM_JACCARD_SQL}) WHERE jaccard >= 0.6
    ),
    sym AS (
        SELECT doc_id_1 AS a, doc_id_2 AS b FROM pairs
        UNION ALL
        SELECT doc_id_2 AS a, doc_id_1 AS b FROM pairs
    ),
    reach(a, b) AS (
        SELECT a, a FROM (SELECT DISTINCT a FROM sym)
        UNION
        SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a
    )
    SELECT a AS doc_id, MIN(b) AS cluster_id FROM reach GROUP BY a
"""


@query(
    "llm_dedup_clusters",
    tags=("L11", "L2"),
    oracle=DEDUP_CLUSTERS_ORACLE,
)
def llm_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup clustering: transitive closure of the near-dup pair graph
    (3-gram Jaccard >= 0.6), each doc labeled with its cluster's smallest
    id — the keeper. Pairs alone cannot drive deletion: A~B and B~C must
    collapse to ONE survivor even when A~C was never directly compared.

    Distributed iterative min-label propagation (operators/graph.py):
    rounds = component diameter (shallow for near-dup graphs), one
    shuffle-join per round, lineage cut between rounds. The oracle is the
    same closure as a DuckDB recursive CTE — an iterative Spark algorithm
    checked exactly against a recursive SQL fixpoint."""
    from ..operators.graph import connected_components
    from .llm import llm_ngram_jaccard_pairs

    pairs = llm_ngram_jaccard_pairs(spark, sf_dir).where(F.col("jaccard") >= 0.6)
    comps = connected_components(pairs)
    return comps.select(F.col("vertex").alias("doc_id"), F.col("component").alias("cluster_id"))


@query(
    "llm_dedup_clusters_star",
    tags=("L11", "L2"),
    oracle=DEDUP_CLUSTERS_ORACLE,
)
def llm_dedup_clusters_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same transitive closure as llm_dedup_clusters, computed with the
    alternating large-star/small-star algorithm (O(log n) rounds on ANY
    graph shape — the unknown-diameter scale path; see
    operators/graph.connected_components_star). Checked against the same
    recursive-CTE oracle, so both clustering algorithms are pinned to the
    identical fixpoint."""
    from ..operators.graph import connected_components_star
    from .llm import llm_ngram_jaccard_pairs

    pairs = llm_ngram_jaccard_pairs(spark, sf_dir).where(F.col("jaccard") >= 0.6)
    comps = connected_components_star(pairs)
    return comps.select(F.col("vertex").alias("doc_id"), F.col("component").alias("cluster_id"))


@query(
    "llm_corpus_build",
    tags=("L1", "L9", "L10"),
    oracle=f"""
    WITH {CONTAMINATION_CTES},
    keepers AS (
        -- COALESCE: md5(NULL) is NULL, and grouping on it directly would
        -- collapse ALL null-text docs into one survivor (the guard
        -- operators/dedup.exact_dedup documents); null-text docs are each
        -- their own identity in BOTH engines
        SELECT MIN(doc_id) AS doc_id
        FROM documents
        GROUP BY COALESCE(md5(text), '__null__' || CAST(doc_id AS VARCHAR))
    ),
    clean AS (
        SELECT d.doc_id, d.source, len(string_split(d.text, ' ')) AS n_tokens,
               CASE WHEN CAST('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8) AS BIGINT)
                         % 100 < 90
                    THEN 'train' ELSE 'val' END AS split
        FROM documents d
        JOIN keepers k USING (doc_id)
        WHERE d.doc_id % {BENCH_MODULUS} <> 0
          AND d.doc_id NOT IN (SELECT doc_id FROM contaminated_pairs)
    )
    SELECT source, split,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens
    FROM clean
    GROUP BY source, split
    """,
)
def llm_corpus_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus build, end to end in ONE declarative plan: exact dedup
    (keep the smallest doc_id per distinct text), drop held-out benchmark
    docs and anything contaminated by them (>= 2 shared 3-gram shingles),
    then report the deterministic 90/10 stratified split. Every stage is a
    semi/anti join against a small derived frame — Catalyst pipelines the
    whole thing; nothing is materialized between stages, which is the point
    of expressing pipeline steps as composable DataFrames rather than
    imperative passes over files."""
    from ..operators.dedup import shingle_postings

    d = load_table(spark, sf_dir, "documents")
    dig = F.coalesce(
        F.md5("text"),
        F.concat(F.lit("__null__"), F.col("doc_id").cast("string")),
    )
    keepers = d.groupBy(dig.alias("__dig")).agg(F.min("doc_id").alias("doc_id"))
    contaminated = (
        contamination_pairs(shingle_postings(d, shingle_n=3)).select("doc_id").distinct()
    )
    clean = (
        d.where(F.col("doc_id") % BENCH_MODULUS != 0)
        .join(keepers.select("doc_id"), "doc_id", "semi")
        .join(contaminated, "doc_id", "anti")
        .select(
            "source",
            F.size(F.split(F.col("text"), " ")).alias("n_tokens"),
            F.when(_md5_bucket(F.col("doc_id"), 100) < 90, "train")
            .otherwise("val")
            .alias("split"),
        )
    )
    return clean.groupBy("source", "split").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
    )


# -- corpus quality / mixing extensions --------------------------------------
# (the filter & mixing stages a production pre-training build runs between
# dedup and packing; all JVM expressions with exact DuckDB oracles)

MIN_TOKENS = 50
MAX_TOKENS = 200
MIN_AVG_TOKLEN = 3.0
MAX_AVG_TOKLEN = 10.0
MIN_DISTINCT_RATIO = 0.5


@query(
    "llm_quality_filter_report",
    tags=("L12", "A5"),
    oracle=f"""
    WITH scored AS (
        SELECT source,
               len(string_split(text, ' ')) AS n_tokens,
               CAST(len(text) - len(string_split(text, ' ')) + 1 AS DOUBLE)
                   / len(string_split(text, ' ')) AS avg_toklen,
               CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
                   / len(string_split(text, ' ')) AS distinct_ratio
        FROM documents
    )
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN n_tokens < {MIN_TOKENS} OR n_tokens > {MAX_TOKENS}
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_len_fail,
           CAST(SUM(CASE WHEN n_tokens BETWEEN {MIN_TOKENS} AND {MAX_TOKENS}
                          AND (avg_toklen < {MIN_AVG_TOKLEN} OR avg_toklen > {MAX_AVG_TOKLEN})
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_toklen_fail,
           CAST(SUM(CASE WHEN n_tokens BETWEEN {MIN_TOKENS} AND {MAX_TOKENS}
                          AND avg_toklen BETWEEN {MIN_AVG_TOKLEN} AND {MAX_AVG_TOKLEN}
                          AND distinct_ratio < {MIN_DISTINCT_RATIO}
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_lowdiv_fail,
           CAST(SUM(CASE WHEN n_tokens BETWEEN {MIN_TOKENS} AND {MAX_TOKENS}
                          AND avg_toklen BETWEEN {MIN_AVG_TOKLEN} AND {MAX_AVG_TOKLEN}
                          AND distinct_ratio >= {MIN_DISTINCT_RATIO}
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
    FROM scored
    GROUP BY source
    """,
)
def llm_quality_filter_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher/C4-style quality gate: token-count bounds, mean token length
    bounds, vocabulary-diversity floor — each doc attributed to its FIRST
    failing rule (mutually exclusive counts sum to n_docs), per source
    shard. All signals are integer-derived doubles computed with the
    identical expression in both engines, so no rounding is needed for the
    cutoffs; one projection + one hash aggregate, no shuffle beyond the
    groupBy. avg token length is derived as (n_chars_of_words / n_tokens)
    via len(text) - (n_tokens - 1) separators, staying whole-stage-codegen
    (no second explode of the token array)."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    n_tokens = F.size(toks)
    avg_toklen = (F.length("text") - n_tokens + 1).cast("double") / n_tokens
    from ..functions.text import distinct_ratio as _distinct_ratio

    div_ratio = _distinct_ratio(toks)  # the shared diversity signal (llm.py uses it too)
    len_ok = (n_tokens >= MIN_TOKENS) & (n_tokens <= MAX_TOKENS)
    toklen_ok = (avg_toklen >= MIN_AVG_TOKLEN) & (avg_toklen <= MAX_AVG_TOKLEN)
    div_ok = div_ratio >= MIN_DISTINCT_RATIO
    scored = d.select(
        "source",
        (~len_ok).cast("bigint").alias("__len_fail"),
        (len_ok & ~toklen_ok).cast("bigint").alias("__toklen_fail"),
        (len_ok & toklen_ok & ~div_ok).cast("bigint").alias("__lowdiv_fail"),
        (len_ok & toklen_ok & div_ok).cast("bigint").alias("__kept"),
    )
    return scored.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("__len_fail").cast("bigint").alias("n_len_fail"),
        F.sum("__toklen_fail").cast("bigint").alias("n_toklen_fail"),
        F.sum("__lowdiv_fail").cast("bigint").alias("n_lowdiv_fail"),
        F.sum("__kept").cast("bigint").alias("n_kept"),
    )


MIXTURE_TOKENS_PER_SOURCE = 1000
MIXTURE_BUCKETS = 10_000


@query(
    "llm_domain_mixture_plan",
    tags=("L13", "A1"),
    oracle=f"""
    WITH avail AS (
        SELECT source,
               CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS avail_tokens
        FROM documents GROUP BY source
    ),
    rated AS (
        SELECT source, avail_tokens,
               LEAST({MIXTURE_BUCKETS},
                     {MIXTURE_TOKENS_PER_SOURCE} * {MIXTURE_BUCKETS} // avail_tokens)
                   AS cutoff
        FROM avail
    )
    SELECT d.source,
           MIN(r.avail_tokens) AS avail_tokens,
           CAST(MIN(r.cutoff) AS BIGINT) AS cutoff,
           CAST(SUM(CASE WHEN CAST('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8) AS BIGINT)
                              % {MIXTURE_BUCKETS} < r.cutoff
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_selected,
           CAST(SUM(CASE WHEN CAST('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8) AS BIGINT)
                              % {MIXTURE_BUCKETS} < r.cutoff
                         THEN len(string_split(d.text, ' ')) ELSE 0 END) AS BIGINT)
               AS selected_tokens
    FROM documents d JOIN rated r USING (source)
    GROUP BY d.source
    """,
)
def llm_domain_mixture_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-mixture sampling plan (the Pile/Dolma-style source mixing
    step): each source gets a token budget; its sampling rate is the
    integer cutoff budget*BUCKETS // available_tokens over md5(doc_id)
    buckets, so selection is a pure function of doc_id — reproducible
    across runs, engines, and scale factors, exactly like the stratified
    split. Per-source availability is one hash aggregate; the cutoff rides
    back on a broadcast join (20 rows); selection + the report is a second
    aggregate. Pure integer arithmetic end to end — no floats anywhere."""
    d = load_table(spark, sf_dir, "documents")
    n_tokens = F.size(F.split(F.col("text"), " "))
    avail = d.groupBy("source").agg(F.sum(n_tokens).cast("bigint").alias("avail_tokens"))
    rated = avail.select(
        "source",
        "avail_tokens",
        F.least(
            F.lit(MIXTURE_BUCKETS),
            F.floor(F.lit(MIXTURE_TOKENS_PER_SOURCE * MIXTURE_BUCKETS) / F.col("avail_tokens")),
        ).cast("bigint").alias("cutoff"),
    )
    sel = _md5_bucket(F.col("doc_id"), MIXTURE_BUCKETS) < F.col("cutoff")
    return (
        d.join(F.broadcast(rated), "source")
        .groupBy("source")
        .agg(
            F.min("avail_tokens").alias("avail_tokens"),
            F.min("cutoff").alias("cutoff"),
            F.sum(sel.cast("bigint")).cast("bigint").alias("n_selected"),
            F.sum(F.when(sel, n_tokens).otherwise(F.lit(0))).cast("bigint").alias("selected_tokens"),
        )
    )


REPETITION_MAX_RATIO = 0.2


@query(
    "llm_repetition_filter",
    tags=("L14", "F5"),
    oracle=f"""
    WITH grams AS (
        SELECT source,
               len(string_split(text, ' ')) - 1 AS n_bigrams,
               len(list_distinct(list_transform(
                   range(1, len(string_split(text, ' '))),
                   i -> concat_ws(' ', string_split(text, ' ')[i],
                                       string_split(text, ' ')[i + 1]))))
                   AS n_distinct_bigrams
        FROM documents
    )
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN (1.0 - CAST(n_distinct_bigrams AS DOUBLE) / n_bigrams)
                              > {REPETITION_MAX_RATIO}
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_repetitive,
           ROUND(AVG(1.0 - CAST(n_distinct_bigrams AS DOUBLE) / n_bigrams), 4)
               AS avg_rep_ratio
    FROM grams
    GROUP BY source
    """,
)
def llm_repetition_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document repetition gate (Gopher's duplicated-n-gram rule):
    a doc whose bigram repetition ratio 1 - |distinct bigrams|/|bigrams|
    exceeds the threshold is boilerplate/spam-shaped and dropped. Bigrams
    via one sliding zip of the token array against itself (array HOFs on a
    ~60-element array — bounded per row, no explode, no shuffle before the
    per-source aggregate). The per-doc ratio is the identical
    integer-derived double expression in both engines; only the group AVG
    is rounded."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    bigrams = F.zip_with(
        F.slice(toks, 1, F.greatest(F.size(toks) - 1, F.lit(0))),
        F.slice(toks, 2, F.greatest(F.size(toks) - 1, F.lit(0))),
        lambda a, b: F.concat_ws(" ", a, b),
    )
    n_bigrams = F.size(toks) - 1
    rep_ratio = F.lit(1.0) - F.size(F.array_distinct(bigrams)).cast("double") / n_bigrams
    grams = d.select("source", rep_ratio.alias("__rep"))
    return grams.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum((F.col("__rep") > REPETITION_MAX_RATIO).cast("bigint")).cast("bigint").alias("n_repetitive"),
        F.round(F.avg("__rep"), 4).alias("avg_rep_ratio"),
    )


PARA_TOKENS = 10
BOILER_GRAM = 3
BOILER_MIN_DF = 5


@query(
    "llm_paragraph_dedup",
    tags=("L1", "L2", "F5"),
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ),
    paras AS (
        SELECT doc_id,
               array_to_string(list_slice(t, k.k * {PARA_TOKENS} + 1,
                                             k.k * {PARA_TOKENS} + {PARA_TOKENS}), ' ') AS para
        FROM toks, LATERAL (
            SELECT unnest(range(0, ((len(t) - 1) // {PARA_TOKENS}) + 1)) AS k
        ) k
    ),
    freq AS (
        SELECT para, COUNT(*) AS occ, COUNT(DISTINCT doc_id) AS nd
        FROM paras GROUP BY para
    )
    SELECT CAST(SUM(occ) AS BIGINT) AS n_paragraph_instances,
           CAST(COUNT(*) AS BIGINT) AS n_distinct_paragraphs,
           CAST(SUM(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared_paragraphs,
           CAST(SUM(CASE WHEN nd > 1 THEN occ - 1 ELSE 0 END) AS BIGINT) AS n_removable_instances
    FROM freq
    """,
)
def llm_paragraph_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Paragraph-level exact dedup (the CCNet/RefinedWeb pre-step to
    document near-dup): hash-group every paragraph across the corpus and
    plan removal of repeated instances, keeping one keeper each. The
    fixture's texts carry no newlines, so paragraphs are deterministic
    10-token windows (same convention as llm_chunk_documents). One
    narrow projection + posexplode, one hash aggregate on the paragraph
    text (at 100 TB: on md5(para) — ids-only through the shuffle), then a
    single-row report; no joins, no driver data."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    ks = F.sequence(F.lit(0), ((F.size(toks) - 1) / PARA_TOKENS).cast("bigint"))
    paras = d.select(
        "doc_id", F.explode(ks).alias("pi"), toks.alias("t")
    ).select(
        "doc_id",
        F.concat_ws(
            " ",
            F.slice(F.col("t"), (F.col("pi") * PARA_TOKENS + 1).cast("int"), PARA_TOKENS),
        ).alias("para"),
    )
    freq = paras.groupBy("para").agg(
        F.count(F.lit(1)).alias("occ"),
        F.count_distinct("doc_id").alias("nd"),
    )
    shared = F.col("nd") > 1
    return freq.agg(
        F.sum("occ").cast("bigint").alias("n_paragraph_instances"),
        F.count(F.lit(1)).cast("bigint").alias("n_distinct_paragraphs"),
        F.sum(shared.cast("bigint")).cast("bigint").alias("n_shared_paragraphs"),
        F.sum(F.when(shared, F.col("occ") - 1).otherwise(F.lit(0)))
        .cast("bigint")
        .alias("n_removable_instances"),
    )


@query(
    "llm_boilerplate_ngrams",
    tags=("L12", "L14", "F5"),
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ),
    grams AS (
        SELECT DISTINCT doc_id,
               array_to_string(list_slice(t, g.g + 1, g.g + {BOILER_GRAM}), ' ') AS gram
        FROM toks, LATERAL (
            SELECT unnest(range(0, len(t) - {BOILER_GRAM} + 1)) AS g
        ) g
    ),
    df AS (
        SELECT gram, COUNT(*) AS nd FROM grams GROUP BY gram
    ),
    boiler AS (
        SELECT gram, nd FROM df WHERE nd >= {BOILER_MIN_DF}
    )
    SELECT CAST((SELECT COUNT(*) FROM boiler) AS BIGINT) AS n_boilerplate_grams,
           CAST((SELECT COALESCE(MAX(nd), 0) FROM boiler) AS BIGINT) AS max_doc_frequency,
           CAST((SELECT COUNT(DISTINCT g.doc_id)
                 FROM grams g JOIN boiler b ON g.gram = b.gram) AS BIGINT)
               AS n_docs_with_boilerplate
    """,
)
def llm_boilerplate_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level boilerplate detection (the C4 'repeated spans' gate):
    an n-gram present in >= BOILER_MIN_DF distinct documents is boilerplate
    (headers, footers, license blurbs at web scale). Per-doc DISTINCT
    grams feed one document-frequency aggregate; the boilerplate set is
    tiny by construction, so flagging affected docs is a broadcast semi
    join back onto the doc-gram pairs — never a shuffle of the corpus."""
    d = load_table(spark, sf_dir, "documents")
    t = F.split(F.col("text"), " ")
    # trigrams as a sliding zip of three shifted slices (the bigram idiom of
    # llm_repetition_filter, one deeper) — stays inside whole-stage codegen;
    # the transform + element_at(i) formulation measured 8x slower because
    # runtime-index element_at falls out of the vectorized path
    n_grams = F.greatest(F.size(t) - (BOILER_GRAM - 1), F.lit(0))
    gram_arr = F.zip_with(
        F.slice(t, 1, n_grams),
        F.zip_with(
            F.slice(t, 2, n_grams),
            F.slice(t, 3, n_grams),
            lambda b, c: F.concat_ws(" ", b, c),
        ),
        lambda a, bc: F.concat_ws(" ", a, bc),
    )
    # materialize the doc-gram pairs once: both consumers below (the DF
    # aggregate and the affected-docs semi join) would otherwise re-run the
    # split/zip/explode subtree — the dominant cost of this query
    grams = d.select(
        "doc_id", F.explode(F.array_distinct(gram_arr)).alias("gram")
    ).localCheckpoint()
    df_counts = grams.groupBy("gram").agg(F.count(F.lit(1)).alias("nd"))
    boiler = df_counts.where(F.col("nd") >= BOILER_MIN_DF)
    stats = boiler.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_boilerplate_grams"),
        F.coalesce(F.max("nd"), F.lit(0)).cast("bigint").alias("max_doc_frequency"),
    )
    docs_hit = (
        grams.join(F.broadcast(boiler.select("gram")), "gram", "left_semi")
        .agg(F.count_distinct("doc_id").cast("bigint").alias("n_docs_with_boilerplate"))
    )
    return stats.crossJoin(docs_hit)


@query(
    "llm_incremental_dedup_admission",
    tags=("L1", "L2"),
    oracle="""
    WITH toks AS (
        SELECT doc_id, source,
               unnest(list_distinct(list_transform(
                   range(1, len(string_split(text, ' ')) - 1),
                   i -> concat_ws(' ', string_split(text, ' ')[i],
                                       string_split(text, ' ')[i + 1],
                                       string_split(text, ' ')[i + 2]))))
                   AS shingle
        FROM documents
    ),
    nd AS (SELECT COUNT(*) AS n FROM documents),
    cold AS (
        SELECT t.doc_id, t.source, t.shingle
        FROM toks t
        JOIN (SELECT shingle, COUNT(*) AS dfc FROM toks GROUP BY shingle) d
          USING (shingle)
        WHERE d.dfc * 10 <= (SELECT n FROM nd)
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS ns FROM cold GROUP BY doc_id),
    inter AS (
        SELECT a.doc_id AS m, b.doc_id AS n, COUNT(*) AS inter
        FROM cold a
        JOIN cold b ON a.source = b.source AND a.shingle = b.shingle
                    AND a.doc_id <> b.doc_id
        WHERE b.doc_id % 5 = 0
        GROUP BY 1, 2
    ),
    matches AS (
        SELECT DISTINCT n FROM inter
        JOIN sizes s1 ON s1.doc_id = m
        JOIN sizes s2 ON s2.doc_id = n
        WHERE ROUND(CAST(inter AS DOUBLE) / (s1.ns + s2.ns - inter), 4) >= 0.6
          AND (m % 5 <> 0 OR m < n)
    )
    SELECT d.doc_id,
           d.doc_id NOT IN (SELECT n FROM matches) AS admitted
    FROM documents d WHERE d.doc_id % 5 = 0
    """,
)
def llm_incremental_dedup_admission(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup — the production ingest pattern: a NEW batch
    (doc_id % 5 = 0 here) is deduplicated against the already-indexed
    corpus AND against itself, without ever re-examining corpus x corpus
    pairs. A new doc is admitted unless it near-matches (3-gram Jaccard
    >= 0.6, source-blocked) an existing doc or an earlier-id batch mate
    (first-wins within the batch).

    Scale shape: the pair join keeps the NEW batch on one side, so
    candidate cost tracks the batch's shingle collisions, not corpus^2 —
    at 100 TB the corpus side is the persisted postings index (written
    once by the initial build) and only the daily batch is exploded,
    joined, and verified. Here the fixture is read-only, so the postings
    are MATERIALIZED ONCE (localCheckpoint — the in-session stand-in for
    that persisted index) and both join sides read the materialized
    blocks: without it Spark re-derives the whole shingle/DF-cap/window
    subtree separately for the index side and the batch side (batch =
    filter of index, so the subtrees aren't structurally equal and
    ReuseExchange can't kick in), which audited at 13 exchanges — the
    widest plan in PLAN_AUDIT.md r04. Materializing cut it to 5.
    Admission is a left join + null test, emitted per new doc."""
    from .llm import jaccard_intersections, sized_cold_postings

    d = load_table(spark, sf_dir, "documents")
    sized = sized_cold_postings(spark, d).localCheckpoint()
    inter = jaccard_intersections(
        sized,
        sized.where(F.col("doc_id") % 5 == 0),
        F.col("a.doc_id") != F.col("b.doc_id"),
        out1="m",
        out2="n",
    )
    matches = (
        inter.where(
            F.round(
                F.col("inter").cast("double")
                / (F.col("n1") + F.col("n2") - F.col("inter")),
                4,
            )
            >= 0.6
        )
        .where((F.col("m") % 5 != 0) | (F.col("m") < F.col("n")))
        .select("n")
        .distinct()
        .withColumn("__hit", F.lit(1))
    )
    new_docs = d.where(F.col("doc_id") % 5 == 0).select("doc_id")
    return new_docs.join(
        matches, new_docs.doc_id == matches.n, "left"
    ).select("doc_id", F.col("__hit").isNull().alias("admitted"))


# -- the full-chain corpus build (round 7) ------------------------------------
E2E_BUDGET = 500  # per-source token quota after cleaning
E2E_SHARDS = 8


#: Fuzzy-dedup stage threshold shared by the one-shot and incremental
#: corpus builds (and their oracles). The stage is UNCAPPED and
#: UNBLOCKED 3-gram Jaccard — unlike NGRAM_JACCARD_SQL's inverted-index
#: pair queries, candidate generation here is the MinHash BAND join, so
#: no df-cap is needed to bound the pair count (the cap exists to stop
#: posting-list self-joins from degenerating on boilerplate shingles),
#: and source-blocking would miss cross-source near-dups. Fixture
#: margin (measured r12, all tiers): every natural near-dup pair sits
#: at J >= 0.9 and the densest non-dup pair at J <= 0.14, so tau = 0.5
#: has a ~4x separation on both sides; banded MinHash recall against
#: the exact pair set is 100% at sf0.001/0.01/0.1 (pytest-pinned,
#: tests/test_llm_pipeline.py::test_corpus_neardup_stage_is_exact).
NEARDUP_TAU = 0.5


def neardup_stage(kept: DataFrame) -> tuple[DataFrame, DataFrame]:
    """The corpus builds' shared near-dup DETECTION stage over the
    exact-dedup survivors: distinct 3-gram shingle postings -> 32-perm
    MinHash signatures -> LSH band equi-join (8 bands x 4 rows, never
    all-pairs) -> exact-Jaccard verification of the candidates at
    NEARDUP_TAU. Returns (postings, verified pairs with doc_id_1 <
    doc_id_2); the KEEPER rule differs by build (connected-component min
    in the one-shot build, arrival-ordered greedy in the incremental
    one) and stays at the call sites."""
    from ..operators import dedup as D

    # the postings frame is persisted HERE: every caller evaluates it at
    # least three times in one plan (the signature build plus the two
    # posting-list sides of jaccard_verify), each evaluation the full
    # explode + window + dedup shingle pipeline over the corpus —
    # measured as the dominant repeated subtree of the corpus-build
    # family's plans, and runtime exchange reuse does not collapse it
    # (llm_corpus_build_incremental executed 132 live exchanges before
    # this). One materialization, three cache reads.
    posts = D.shingle_postings(kept).persist()
    sigs = D.minhash_signatures(posts)
    cands = D.lsh_candidate_pairs(sigs)
    return posts, D.jaccard_verify(cands, posts, threshold=NEARDUP_TAU)


#: DuckDB CTE block computing the stage's exact pair set over a `kept`
#: relation (doc_id, text): UNCAPPED, UNBLOCKED 3-gram Jaccard at
#: NEARDUP_TAU — the a-priori form of neardup_stage's banded output
#: (recall 100%, see NEARDUP_TAU note). Ends at ndpairs(doc_id_1 <
#: doc_id_2); prepend inside a WITH list after `kept` is defined.
NEARDUP_PAIRS_CTES = f"""
    ktoks AS (
        SELECT doc_id,
               unnest(list_distinct(list_transform(
                   range(1, len(string_split(text, ' ')) - 1),
                   i -> concat_ws(' ', string_split(text, ' ')[i],
                                       string_split(text, ' ')[i + 1],
                                       string_split(text, ' ')[i + 2]))))
                   AS shingle
        FROM kept
    ),
    ksizes AS (SELECT doc_id, COUNT(*) AS ns FROM ktoks GROUP BY doc_id),
    kinter AS (
        SELECT a.doc_id AS doc_id_1, b.doc_id AS doc_id_2,
               COUNT(*) AS inter
        FROM ktoks a
        JOIN ktoks b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    ndpairs AS (
        SELECT doc_id_1, doc_id_2
        FROM kinter
        JOIN ksizes s1 ON s1.doc_id = kinter.doc_id_1
        JOIN ksizes s2 ON s2.doc_id = kinter.doc_id_2
        WHERE ROUND(CAST(inter AS DOUBLE) / (s1.ns + s2.ns - inter), 4)
                  >= {NEARDUP_TAU}
    )
"""


def _e2e_oracle(extra_select: str = "") -> str:
    """DuckDB oracle of the one-shot corpus build; ``extra_select``
    injects additional literal columns into the final SELECT (the
    shard-shipping form appends its proof boolean — the driver sorts
    columns by name, so the shared numbers stay byte-comparable)."""
    return f"""
    WITH RECURSIVE {CONTAMINATION_CTES},
    keepers AS (
        SELECT MIN(doc_id) AS doc_id
        FROM documents
        GROUP BY COALESCE(md5(text), '__null__' || CAST(doc_id AS VARCHAR))
    ),
    kept AS (
        SELECT d.doc_id, d.source, d.text
        FROM documents d JOIN keepers k USING (doc_id)
    ),
    {NEARDUP_PAIRS_CTES},
    sym AS (
        SELECT doc_id_1 AS a, doc_id_2 AS b FROM ndpairs
        UNION ALL
        SELECT doc_id_2 AS a, doc_id_1 AS b FROM ndpairs
    ),
    reach(a, b) AS (
        SELECT a, a FROM (SELECT DISTINCT a FROM sym)
        UNION
        SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a
    ),
    ndrops AS (
        SELECT a AS doc_id FROM reach GROUP BY a HAVING MIN(b) < a
    ),
    clean AS (
        SELECT d.doc_id, d.source, d.text
        FROM kept d
        WHERE d.doc_id NOT IN (SELECT doc_id FROM ndrops)
          AND d.doc_id % {BENCH_MODULUS} <> 0
          AND d.doc_id NOT IN (SELECT doc_id FROM contaminated_pairs)
    ),
    quality AS (
        SELECT doc_id, source,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        FROM clean
        WHERE len(string_split(text, ' '))
                  BETWEEN {MIN_TOKENS} AND {MAX_TOKENS}
          AND CAST(len(text) - len(string_split(text, ' ')) + 1 AS DOUBLE)
                  / len(string_split(text, ' '))
                  BETWEEN {MIN_AVG_TOKLEN} AND {MAX_AVG_TOKLEN}
          AND CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
                  / len(string_split(text, ' ')) >= {MIN_DISTINCT_RATIO}
    ),
    admitted AS (
        SELECT doc_id, source, n_tokens
        FROM (
            SELECT doc_id, source, n_tokens,
                   COALESCE(SUM(n_tokens) OVER (
                       PARTITION BY source
                       ORDER BY CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)
                                     AS BIGINT), doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                       AS cum_before
            FROM quality
        )
        WHERE cum_before < {E2E_BUDGET}
    )
    SELECT source,
           CASE WHEN CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT)
                     % 100 < 90
                THEN 'train' ELSE 'val' END AS split,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
           CAST(COUNT(DISTINCT CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)
                                    AS BIGINT) % {E2E_SHARDS}) AS BIGINT) AS n_shards,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM ndrops) AS n_neardup_dropped{extra_select}
    FROM admitted
    GROUP BY 1, 2
    ORDER BY source, split
    """


@query(
    "llm_corpus_build_e2e",
    tags=("L1", "L2", "L11", "L9", "L12", "L13", "L10"),
    oracle=_e2e_oracle(),
)
def llm_corpus_build_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The WHOLE corpus build as ONE declarative Catalyst plan — every
    stage a production pre-training pipeline runs, composed as DataFrame
    transformations with nothing written to disk in between (the two
    multiply-consumed residues — the survivors' postings and the fuzzy
    drop set — are session-persisted inside the one lineage so their
    band-join/verify subtrees evaluate once per execution):

    1. exact dedup (keep smallest doc_id per text digest, null-safe);
    2. FUZZY dedup (neardup_stage: MinHash band join over the exact
       survivors -> exact-Jaccard verify at NEARDUP_TAU -> connected
       components (operators/graph.py) -> keep each cluster's smallest
       id). The oracle recomputes the identical drop set a priori:
       exact all-pairs Jaccard in SQL + a recursive-CTE closure — the
       banded path must reproduce it pair-for-pair (measured recall
       100% at every fixture tier, pytest-pinned);
    3. benchmark holdout + decontamination (shared-shingle rule, the
       same single definition llm_benchmark_overlap checks);
    4. Gopher/C4-style quality gate (token bounds, mean-token-length
       bounds, vocabulary-diversity floor — llm_quality_filter_report's
       exact rule);
    5. hard per-source token-budget admission (md5-rank prefix sum —
       llm_token_budget_downsample's exact rule);
    6. deterministic 90/10 split + md5 shard assignment (the shardsink
       rule), reported per (source, split) with distinct-shard counts
       plus the global near-dup drop count (n_neardup_dropped — the
       fuzzy stage's effect is visible in the output even when every
       dropped doc would also have failed a later gate).

    Each stage is a semi/anti join or filter against a small derived
    frame; Catalyst pipelines the lot, prunes every documents scan to
    the 2-3 needed columns (pytest-pinned: test_scale_patterns.py::
    test_corpus_build_e2e_scans_are_pruned), and the wide operations are
    the contamination shingle join (benchmark side broadcast), the
    near-dup band join (pair cost tracks band collisions, never n^2),
    the per-source admission window, and the final aggregate. The point
    of this query: a user can swap any stage's constant and the ENTIRE
    build re-plans — no intermediate files, no orchestration glue, one
    lineage from raw docs to shard roster.
    """
    admitted, n_nd_dropped = _e2e_admitted(spark, sf_dir)
    from ..sources.shardsink import shard_assignment

    return (
        admitted.select(
            "source",
            "n_tokens",
            "split",
            shard_assignment(F.col("doc_id"), E2E_SHARDS).alias("shard"),
        )
        .groupBy("source", "split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("total_tokens"),
            F.countDistinct("shard").cast("bigint").alias("n_shards"),
        )
        .crossJoin(F.broadcast(n_nd_dropped))
        .orderBy("source", "split")
    )


def _e2e_admitted(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """The one-shot corpus build's ADMITTED frame — every stage of
    llm_corpus_build_e2e up to (and including) the 90/10 split:
    ``(admitted(doc_id, source, n_tokens, split), n_neardup_dropped)``.
    Shared by the report query and the shard-shipping closure
    (llm_corpus_build_to_shards) so the admission pipeline exists
    exactly once."""
    from ..functions.text import distinct_ratio as _distinct_ratio
    from ..operators.dedup import shingle_postings
    from ..operators.graph import connected_components

    d = load_table(spark, sf_dir, "documents")
    dig = F.coalesce(
        F.md5("text"),
        F.concat(F.lit("__null__"), F.col("doc_id").cast("string")),
    )
    keepers = d.groupBy(dig.alias("__dig")).agg(F.min("doc_id").alias("doc_id"))
    # fuzzy-dedup stage over the exact survivors: banded candidates,
    # exact-Jaccard verify, component-min keeper. The pair set is the
    # detection OUTPUT — orders of magnitude smaller than the corpus —
    # so clustering cost is negligible next to the band join.
    kept = d.join(keepers.select("doc_id"), "doc_id", "semi")
    _, nd_verified = neardup_stage(kept)
    comps = connected_components(nd_verified)
    # the drop set feeds TWO consumers (the quality anti join and the
    # reported drop count) and is id-list-sized; persist so the band
    # join -> verify -> CC chain above it evaluates once per execution
    nd_drops = comps.where(F.col("vertex") != F.col("component")).select(
        F.col("vertex").alias("doc_id")
    ).persist()
    n_nd_dropped = nd_drops.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_neardup_dropped")
    )
    contaminated = (
        contamination_pairs(shingle_postings(d, shingle_n=3))
        .select("doc_id")
        .distinct()
    )
    toks = F.split(F.col("text"), " ")
    n_tokens = F.size(toks)
    avg_toklen = (F.length("text") - n_tokens + 1).cast("double") / n_tokens
    quality = (
        kept.where(F.col("doc_id") % BENCH_MODULUS != 0)
        .join(nd_drops, "doc_id", "anti")
        .join(contaminated, "doc_id", "anti")
        .where(
            n_tokens.between(MIN_TOKENS, MAX_TOKENS)
            & avg_toklen.between(MIN_AVG_TOKLEN, MAX_AVG_TOKLEN)
            & (_distinct_ratio(toks) >= MIN_DISTINCT_RATIO)
        )
        .select(
            "doc_id",
            "source",
            n_tokens.cast("bigint").alias("n_tokens"),
            F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
            .cast("bigint")
            .alias("rk"),
        )
    )
    from pyspark.sql import Window

    w = (
        Window.partitionBy("source")
        .orderBy("rk", "doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    admitted = (
        quality.withColumn(
            "cum_before", F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
        )
        .where(F.col("cum_before") < E2E_BUDGET)
        .select(
            "doc_id",
            "source",
            "n_tokens",
            F.when(_md5_bucket(F.col("doc_id"), 100) < 90, "train")
            .otherwise("val")
            .alias("split"),
        )
    )
    return admitted, n_nd_dropped


INC_SPLIT_ID = 250  # arrival boundary: batch A = doc_id < 250, delta = rest
INC_BUDGET = 55  # per-source token ledger — sized so the sf0.01 fixture
#                  exercises all three delta outcomes (reject, overshoot
#                  admission, fresh admission) in the SECOND leg


def _inc_digest():
    """The exact-dedup digest (null-safe) — one definition shared by the
    batch state, the delta leg, and the from-scratch twin."""
    return F.coalesce(
        F.md5("text"),
        F.concat(F.lit("__null__"), F.col("doc_id").cast("string")),
    )


def _inc_gated(
    docs: DataFrame,
    keepers: DataFrame,
    contaminated: DataFrame,
    nd_drops: DataFrame | None = None,
):
    """The per-doc admission gate every leg shares: benchmark holdout,
    dedup-keeper semi join, near-dup anti join (``nd_drops``, the fuzzy
    stage's arrival-ordered drop set), decontamination anti join,
    Gopher/C4 quality — identical to llm_corpus_build_e2e stage for
    stage, except the fuzzy KEEPER rule (see _inc_neardup_drops)."""
    from ..functions.text import distinct_ratio as _distinct_ratio

    toks = F.split(F.col("text"), " ")
    n_tokens = F.size(toks)
    avg_toklen = (F.length("text") - n_tokens + 1).cast("double") / n_tokens
    gated = (
        docs.where(F.col("doc_id") % BENCH_MODULUS != 0)
        .join(keepers.select("doc_id"), "doc_id", "semi")
    )
    if nd_drops is not None:
        gated = gated.join(nd_drops, "doc_id", "anti")
    return (
        gated.join(contaminated, "doc_id", "anti")
        .where(
            n_tokens.between(MIN_TOKENS, MAX_TOKENS)
            & avg_toklen.between(MIN_AVG_TOKLEN, MAX_AVG_TOKLEN)
            & (_distinct_ratio(toks) >= MIN_DISTINCT_RATIO)
        )
        .select("doc_id", "source", n_tokens.cast("bigint").alias("n_tokens"))
    )


def _inc_neardup_drops(verified: DataFrame) -> DataFrame:
    """The incremental build's fuzzy KEEPER rule: drop a doc iff a
    verified near-dup with a SMALLER doc_id exists among the exact-dedup
    survivors seen so far — arrival-ordered greedy, NOT component-min.
    Component-min cannot be incremental: a later doc can bridge two
    previously separate components, and the merged component's min would
    retroactively evict a keeper an earlier batch already shipped. The
    greedy rule is the semantics every streaming dedup system actually
    has (match the new doc against the index of prior admissions; prior
    docs are never revisited), and it makes the prefix property a
    theorem: a doc's fate depends only on strictly-smaller ids."""
    return verified.select(F.col("doc_id_2").alias("doc_id")).distinct()


def _inc_admit(quality: DataFrame, ledger: DataFrame | None = None):
    """Arrival-ordered (doc_id ASC) per-source token-budget admission —
    admit while tokens-seen-before < INC_BUDGET. ``ledger`` is the
    frozen per-source tokens-SEEN counter from the previous batch (all
    quality tokens, admitted or not — later arrivals' cum_before counts
    them either way); None for the first batch / the from-scratch twin."""
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    q = quality.withColumn(
        "cb", F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
    )
    if ledger is not None:
        q = q.join(F.broadcast(ledger), "source", "left").withColumn(
            "cb", F.col("cb") + F.coalesce(F.col("seen"), F.lit(0))
        )
    return q.where(F.col("cb") < INC_BUDGET).select(
        "doc_id", "source", "n_tokens"
    )


#: Shared DuckDB CTE block of the ARRIVAL-ORDERED admission pipeline
#: (exact dedup -> greedy fuzzy dedup -> holdout/decontam/quality ->
#: doc_id-ordered budget window), ending at admitted(doc_id, source,
#: n_tokens, cb). One definition feeds the incremental-build oracle AND
#: the streaming-admission oracle — the two queries prove the same
#: from-scratch fixpoint from different execution shapes, so their
#: oracles must be the same text.
INC_ADMISSION_CTES = f"""
    {CONTAMINATION_CTES},
    keepers AS (
        SELECT MIN(doc_id) AS doc_id
        FROM documents
        GROUP BY COALESCE(md5(text), '__null__' || CAST(doc_id AS VARCHAR))
    ),
    kept AS (
        SELECT d.doc_id, d.source, d.text
        FROM documents d JOIN keepers k USING (doc_id)
    ),
    {NEARDUP_PAIRS_CTES},
    ndrops AS (SELECT DISTINCT doc_id_2 AS doc_id FROM ndpairs),
    quality AS (
        SELECT d.doc_id, d.source,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        FROM kept d
        WHERE d.doc_id % {BENCH_MODULUS} <> 0
          AND d.doc_id NOT IN (SELECT doc_id FROM ndrops)
          AND d.doc_id NOT IN (SELECT doc_id FROM contaminated_pairs)
          AND len(string_split(text, ' '))
                  BETWEEN {MIN_TOKENS} AND {MAX_TOKENS}
          AND CAST(len(text) - len(string_split(text, ' ')) + 1 AS DOUBLE)
                  / len(string_split(text, ' '))
                  BETWEEN {MIN_AVG_TOKLEN} AND {MAX_AVG_TOKLEN}
          AND CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
                  / len(string_split(text, ' ')) >= {MIN_DISTINCT_RATIO}
    ),
    adm AS (
        SELECT doc_id, source, n_tokens,
               COALESCE(SUM(n_tokens) OVER (
                   PARTITION BY source ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS cb
        FROM quality
    ),
    admitted AS (SELECT * FROM adm WHERE cb < {INC_BUDGET})
"""


@query(
    "llm_corpus_build_incremental",
    tags=("L1", "L2", "L9", "L12", "L13"),
    oracle=f"""
    WITH {INC_ADMISSION_CTES}
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
           CAST(COUNT(*) FILTER (doc_id >= {INC_SPLIT_ID}) AS BIGINT)
               AS n_new,
           TRUE AS incremental_matches
    FROM admitted
    GROUP BY source
    ORDER BY source
    """,
)
def llm_corpus_build_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL corpus build — a delta batch re-admitted against
    FROZEN pipeline state, the connector_incremental_sync proof pattern
    applied to the corpus tier. llm_corpus_build_e2e is one-shot; a real
    pipeline ships batch A on day one and must then process ONLY the
    delta on day two, against three pieces of carried state:

    - the DEDUP STATE: batch A's text-digest set — a delta doc whose
      digest was already seen is dropped without re-reading A;
    - the NEAR-DUP INDEX: batch A's shingle postings + MinHash
      signatures over its exact survivors (the persisted-index shape of
      llm_incremental_dedup_admission). A delta doc's signature is
      band-joined against the index ∪ the delta's own signatures, band
      hits are exact-Jaccard-verified at NEARDUP_TAU, and the doc is
      dropped iff a smaller-id verified neighbor exists — the
      arrival-ordered greedy keeper (_inc_neardup_drops documents why
      component-min cannot be incremental);
    - the DECONTAMINATION REFERENCE: the benchmark shingle postings
      (doc_id % {BENCH_MODULUS} == 0 — an external eval set, frozen up
      front, identical in both legs by design);
    - the BUDGET LEDGER: per-source tokens SEEN in leg 1 (admitted or
      not — later arrivals' cum_before counts them either way), so the
      delta admission window resumes mid-budget instead of re-running A.

    The proof is the sync pattern's: the two legs' union must equal the
    from-scratch rebuild on A ∪ delta ROW FOR ROW, which holds as a
    THEOREM because batches are arrival-ordered (A ids < delta ids):
    the union build's doc_id-ordered admission prefix over A is exactly
    leg 1, a doc's fuzzy fate depends only on strictly-smaller ids
    (greedy rule), and a delta doc's union cum_before is exactly
    ledger[source] + its in-batch cum_before. The query computes both
    legs AND the twin, compares in-plan (symmetric exceptAll — never a
    driver collect), and reports per-source totals the oracle recomputes
    from scratch (including the fuzzy drop set, as exact all-pairs
    Jaccard in SQL); n_new counts the delta leg's admissions (INC_BUDGET
    is sized so the sf0.01 fixture exercises rejection, overshoot
    admission, and fresh admission in the delta).

    Scale shape: leg 2 touches the delta plus carried state that is
    bounded by the corpus' UNIQUE content, not its raw size (a digest
    set — at 100 TB a Bloom/anti-join against A's digest store, exactly
    the shape here; a signature sketch of 32 int64s per survivor; the
    postings index — the one corpus-sized piece, but it IS the
    near-dup index every incremental dedup system persists; a
    per-source ledger of a few rows; the broadcast benchmark postings).
    Nothing rescans batch A's raw text."""
    from ..operators import dedup as D
    from ..operators.dedup import shingle_postings

    d = load_table(spark, sf_dir, "documents")
    # frozen decontamination reference: full-table postings vs the
    # benchmark side (an external eval set — known up front). Persisted:
    # THREE legs (A, delta, twin) anti-join against it, and the shingle
    # join that derives it is the query's most expensive subtree — a
    # doc_id-list KB-scale residue, the learned_cellmap contract
    contaminated = (
        contamination_pairs(shingle_postings(d, shingle_n=3))
        .select("doc_id")
        .distinct()
        .persist()
    )
    a = d.where(F.col("doc_id") < INC_SPLIT_ID)
    delta = d.where(F.col("doc_id") >= INC_SPLIT_ID)

    # ---- leg 1: batch A, empty state ----
    # every keepers frame below feeds TWO consumers (its kept semi join
    # and _inc_gated's keeper semi join), and each evaluation is a
    # corpus-scan + digest groupBy shuffle — persist the small
    # (digest, doc_id) outputs so the scan+shuffle runs once per leg
    # (runtime exchange reuse measurably does not collapse these:
    # 132 live exchanges in the executed plan before this change)
    keepers_a = a.groupBy(_inc_digest().alias("__dig")).agg(
        F.min("doc_id").alias("doc_id")
    ).persist()
    # near-dup index over A's exact survivors — persisted: the postings
    # feed leg 1's verify (both pair sides), leg 2's verify (the A side
    # of cross-batch pairs), and the signature build; the signatures
    # feed leg 1's band join and leg 2's (index ∪ delta) band join
    kept_a = a.join(keepers_a.select("doc_id"), "doc_id", "semi")
    posts_a = shingle_postings(kept_a).persist()
    sigs_a = D.minhash_signatures(posts_a).persist()
    drops_a = _inc_neardup_drops(
        D.jaccard_verify(
            D.lsh_candidate_pairs(sigs_a), posts_a, threshold=NEARDUP_TAU
        )
    )
    # quality_a feeds BOTH the admission window and the ledger — persist
    # the (id, source, tokens) rows so the gate evaluates once
    quality_a = _inc_gated(a, keepers_a, contaminated, drops_a).persist()
    admitted_a = _inc_admit(quality_a)
    # carried state: digest set + near-dup index + tokens-seen ledger
    state_digests = a.select(_inc_digest().alias("__dig")).distinct()
    ledger = quality_a.groupBy("source").agg(
        F.sum("n_tokens").alias("seen")
    )

    # ---- leg 2: the delta only, against the frozen state ----
    keepers_b = (
        delta.withColumn("__dig", _inc_digest())
        .join(state_digests, "__dig", "anti")
        .groupBy("__dig")
        .agg(F.min("doc_id").alias("doc_id"))
        .persist()
    )
    # delta near-dups: band-join the delta's signatures against the
    # frozen index ∪ the delta itself, keep only pairs whose LATER side
    # is a delta doc (A-A pairs were leg 1's; doc_id_1 < doc_id_2 and
    # A ids < INC_SPLIT_ID <= delta ids make the predicate exact), then
    # verify through the union postings. posts_b feeds the signature
    # build AND both posting sides of the cross-batch verify — persist
    # (posts_a's existing rationale, applied to the delta side)
    kept_b = delta.join(keepers_b.select("doc_id"), "doc_id", "semi")
    posts_b = shingle_postings(kept_b).persist()
    sigs_b = D.minhash_signatures(posts_b)
    cands_2 = D.lsh_candidate_pairs(sigs_a.unionByName(sigs_b)).where(
        F.col("doc_id_2") >= INC_SPLIT_ID
    )
    drops_b = _inc_neardup_drops(
        D.jaccard_verify(
            cands_2, posts_a.unionByName(posts_b), threshold=NEARDUP_TAU
        )
    )
    quality_b = _inc_gated(delta, keepers_b, contaminated, drops_b)
    admitted_b = _inc_admit(quality_b, ledger)

    # the incremental result and the twin each feed THREE consumers (two
    # exceptAll directions + the report aggregate / nothing else): both
    # are admitted-rows-sized — persist so each pipeline runs once
    incremental = admitted_a.unionByName(admitted_b).persist()

    # ---- from-scratch twin on the union + in-plan equality proof ----
    # (the twin recomputes its OWN postings/signatures from the union —
    # reusing the legs' persisted index here would make the fuzzy half
    # of the equality proof circular)
    keepers_u = d.groupBy(_inc_digest().alias("__dig")).agg(
        F.min("doc_id").alias("doc_id")
    ).persist()
    kept_u = d.join(keepers_u.select("doc_id"), "doc_id", "semi")
    _, ver_u = neardup_stage(kept_u)
    twin = _inc_admit(
        _inc_gated(d, keepers_u, contaminated, _inc_neardup_drops(ver_u))
    ).persist()
    diff = sym_diff_count(incremental, twin, "__n_diff")
    return (
        incremental.withColumn(
            "__new", (F.col("doc_id") >= INC_SPLIT_ID).cast("bigint")
        )
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("total_tokens"),
            F.sum("__new").cast("bigint").alias("n_new"),
        )
        .crossJoin(F.broadcast(diff))
        .select(
            "source",
            "n_docs",
            "total_tokens",
            "n_new",
            (F.col("__n_diff") == 0).alias("incremental_matches"),
        )
        .orderBy("source")
    )


@query(
    "llm_exact_substring_dedup",
    tags=("L1", "L2", "A1"),
    oracle="""
    WITH d AS (
        SELECT doc_id, source,
               list_filter(string_split(COALESCE(text, ''), ' '),
                           x -> x <> '') AS arr
        FROM documents
    ),
    toks AS (
        SELECT doc_id, unnest(arr) AS tok, generate_subscripts(arr, 1) AS pos
        FROM d
    ),
    grams AS (
        SELECT doc_id, pos,
               tok || ' ' || LEAD(tok, 1) OVER w || ' ' ||
               LEAD(tok, 2) OVER w AS gram
        FROM toks
        WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
        QUALIFY LEAD(tok, 2) OVER w IS NOT NULL
    ),
    ranked AS (
        SELECT doc_id, pos,
               ROW_NUMBER() OVER (
                   PARTITION BY gram ORDER BY doc_id, pos) AS rn
        FROM grams
    ),
    marked AS (
        SELECT DISTINCT doc_id, pos + i AS mpos
        FROM (SELECT doc_id, pos, unnest(range(0, 3)) AS i
              FROM ranked WHERE rn > 1) t
    ),
    counts AS (SELECT doc_id, source, len(arr) AS n_tokens FROM d),
    rem AS (SELECT doc_id, COUNT(*) AS n_removed FROM marked GROUP BY doc_id)
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS tokens_total,
           CAST(SUM(COALESCE(n_removed, 0)) AS BIGINT) AS tokens_removed,
           CAST(SUM(CASE WHEN n_removed IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS docs_affected
    FROM counts LEFT JOIN rem USING (doc_id)
    GROUP BY source
    """,
)
def llm_exact_substring_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT-SUBSTRING dedup report (operators/dedup.
    duplicated_gram_positions — Lee, Ippolito et al., ACL 2022): how many
    tokens per source sit inside corpus-wide repeated 3-token runs beyond
    each run's first occurrence — the removal mass of the paper's
    ExactSubstr pass, the dedup tier BETWEEN exact-document (L1: whole
    text identical) and near-dup (L2: mostly similar): it cuts verbatim
    boilerplate embedded inside otherwise-unique documents, which neither
    of the other tiers touches. The entire mark computation is integer
    relational algebra (first occurrence = min (doc_id, pos) per gram via
    a partial-aggregated groupBy, never a per-gram sort), so the DuckDB
    oracle replays it exactly — a wrong first-occurrence rule, a missed
    overlap merge, or an off-by-one in the k-window breaks the hash. At
    corpus scale the paper's suffix array becomes this gram-postings
    pipeline: shuffle currency is distinct grams (map-side combined), and
    the duplicate-occurrence join is linear in repetition mass."""
    from ..operators.dedup import duplicated_gram_positions
    from ..functions.text import tokens

    d = load_table(spark, sf_dir, "documents")
    removals = duplicated_gram_positions(d, k=3)
    counts = d.select(
        "doc_id",
        "source",
        F.size(
            F.filter(
                tokens(F.coalesce(F.col("text"), F.lit(""))),
                lambda x: x != F.lit(""),
            )
        ).alias("n_tokens"),
    )
    rem = removals.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_removed"))
    return (
        counts.join(rem, "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("tokens_total"),
            F.sum(F.coalesce(F.col("n_removed"), F.lit(0)))
            .cast("bigint")
            .alias("tokens_removed"),
            F.sum(F.col("n_removed").isNotNull().cast("int"))
            .cast("bigint")
            .alias("docs_affected"),
        )
    )


#: Oracle for llm_corpus_build_to_shards: the e2e report recomputed
#: from scratch (same CTEs) plus the shipping proof boolean the shard
#: layer must deliver.
CORPUS_TO_SHARDS_ORACLE = _e2e_oracle(
    ",\n           TRUE AS shards_verified"
)


@query(
    "llm_corpus_build_to_shards",
    tags=("S7b", "L1", "L2", "L11", "L9", "L12", "L13", "L10"),
    oracle=CORPUS_TO_SHARDS_ORACLE,
)
def llm_corpus_build_to_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus build's SHIPPING closure: the one-plan admission pipeline
    (_e2e_admitted — exact dedup, banded fuzzy dedup with component-min
    keeper, holdout/decontamination, quality gates, per-source token
    budget, 90/10 split) lands as an ACTUAL training-shard layout on
    disk via sources/shardsink.write_training_shards (hive-partitioned
    by (split, shard), per-shard manifest with order-insensitive id
    checksums, atomic overwrite), is re-read through the consumer path,
    and the report is computed FROM THE SHARDS:

    - per (source, split): n_docs, total_tokens, n_shards — byte-equal
      to llm_corpus_build_e2e's numbers because write_training_shards
      assigns shards with the SAME functions/ids.md5_bucket rule the
      report query uses (pytest-pinned row equality);
    - shards_verified: verify_training_shards' manifest-vs-files diff,
      re-run consumer-side (a lost row, duplicated file, or id swap
      flips it);
    - n_neardup_dropped rides along as in the report form.

    At 100 TB this is the handoff a training job actually consumes:
    partition-pruned parquet shards, a bounded manifest as the commit
    record, and an integrity check that needs no out-of-band state."""
    import os
    import shutil
    import tempfile

    from ..sources import shardsink as SS

    admitted, n_nd_dropped = _e2e_admitted(spark, sf_dir)
    # pid-keyed like sg_pqidx/sg_ivfidx: two concurrent sessions on the
    # same fixture must not race on write/verify/read of one directory.
    out_dir = (
        f"{tempfile.gettempdir()}/sg_corpus_shards_{path_tag(sf_dir)}_{os.getpid()}"
    )
    SS.write_training_shards(
        admitted, out_dir, n_shards=E2E_SHARDS, id_col="doc_id"
    )
    ok = SS.verify_training_shards(spark, out_dir)["ok"]
    shards = SS.read_training_shards(spark, out_dir)
    report = (
        shards.groupBy("source", "split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("total_tokens"),
            F.countDistinct(SS.SHARD_COL).cast("bigint").alias("n_shards"),
        )
        .crossJoin(F.broadcast(n_nd_dropped))
        .select(
            "source",
            "split",
            "n_docs",
            "total_tokens",
            "n_shards",
            "n_neardup_dropped",
            F.lit(bool(ok)).alias("shards_verified"),
        )
        .orderBy("source", "split")
        # sever the report's lineage from the on-disk shards (eager
        # localCheckpoint of the k-row frame), then reclaim the
        # pid-keyed dir — the sg_pqidx/sg_ivfidx discipline: no leaked
        # shard layout per process/sf tier
        .localCheckpoint(eager=True)
    )
    shutil.rmtree(out_dir, ignore_errors=True)
    return report
