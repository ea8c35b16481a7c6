"""Regression tests for defects found in the package-wide code review:
null-struct sanitization, short-document shingles under ANSI mode, doc-sink
null keys / bucket-count drift, RFC 7231 Retry-After dates, non-64-dim LSH.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from custom_python_etl_data_connector_rohitharumugams_spark.functions.json_utils import (
    sanitize_field_names,
)
from custom_python_etl_data_connector_rohitharumugams_spark.functions.text import shingles, tokens
from custom_python_etl_data_connector_rohitharumugams_spark.operators.similarity import lsh_topk
from custom_python_etl_data_connector_rohitharumugams_spark.operators.skew import salted_join
from custom_python_etl_data_connector_rohitharumugams_spark.sources import docsink
from custom_python_etl_data_connector_rohitharumugams_spark.sources.restapi import (
    _retry_after_seconds,
)

SF = "/root/testdata/sf0.001"


def test_sanitize_preserves_null_structs(spark):
    df = spark.createDataFrame(
        [(1, {"a": 2}), (2, None)], "id bigint, `bad.key` struct<a: bigint>"
    )
    out = sanitize_field_names(df)
    nulls = out.where(F.col("bad_key").isNull()).count()
    assert nulls == 1  # the NULL struct must stay NULL, not become Row(a=None)


def test_shingles_short_documents_yield_empty_not_error(spark):
    df = spark.createDataFrame([("one two",), ("a",), ("",), ("x y z w",)], "text string")
    out = df.select(F.size(shingles(tokens(F.col("text")), 3)).alias("n")).collect()
    assert [r.n for r in out] == [0, 0, 0, 2]


def test_docsink_null_keys_survive_upsert(spark, tmp_path):
    base = str(tmp_path)
    b1 = spark.createDataFrame([(None, "n1"), (1, "a")], "id bigint, v string")
    docsink.write_collection(b1, base, "c", key_col="id")
    b2 = spark.createDataFrame([(None, "n2"), (2, "b")], "id bigint, v string")
    docsink.write_collection(b2, base, "c", key_col="id")
    out = docsink.read_collection(spark, base, "c")
    # null keys dedupe like any key (single row, latest value wins)
    null_rows = out.where(F.col("id").isNull()).collect()
    assert len(null_rows) == 1 and null_rows[0].v == "n2"
    assert out.count() == 3


def test_docsink_bucket_count_is_sticky(spark, tmp_path):
    base = str(tmp_path)
    b1 = spark.createDataFrame([(3, "c3")], "id bigint, v string")
    docsink.write_collection(b1, base, "c", key_col="id", n_buckets=16)
    # caller passes a DIFFERENT n_buckets: the on-disk meta must win, so the
    # upsert still finds the existing row in its original bucket
    b2 = spark.createDataFrame([(3, "c3-updated")], "id bigint, v string")
    docsink.write_collection(b2, base, "c", key_col="id", n_buckets=4)
    out = docsink.read_collection(spark, base, "c")
    rows = out.collect()
    assert len(rows) == 1 and rows[0].v == "c3-updated"


def test_retry_after_accepts_http_date():
    assert _retry_after_seconds("2.5") == 2.5
    assert _retry_after_seconds(None) is None
    assert _retry_after_seconds("not-a-date") is None
    # an HTTP-date in the past clamps to 0 rather than raising
    assert _retry_after_seconds("Wed, 21 Oct 2015 07:28:00 GMT") == 0.0


def test_lsh_topk_handles_non_64_dim_vectors(spark):
    rows = [(i, [float((i * 7 + j) % 5 - 2) for j in range(8)]) for i in range(30)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    res = lsh_topk(df.where(F.col("vec_id") < 3), df, k=2).toPandas()
    assert len(res) > 0  # 8-dim vectors: planes derived from data, no crash


def test_salted_join_rejects_right_outer():
    with pytest.raises(ValueError, match="inner/left"):
        salted_join(None, None, on="k", how="full")


def test_parity_mirror_is_numeric_type_strict(duck):
    """Round-2 driver gate regression: DuckDB SUM(BIGINT) returns HUGEINT,
    which pandas renders as float64, and the driver's value hash compares
    123.0 vs Spark's bigint 123 as DIFFERENT. The local mirror must
    reproduce that strictness — Python's `123 == 123.0` equality must not
    mask the drift (it did in round 2 for llm_sequence_packing,
    llm_pii_scrub, llm_stratified_split)."""
    import pandas as pd

    from .parity import assert_frames_match

    # a deliberate uncast-HUGEINT oracle: pandas dtype comes back float64
    hugeint = duck.execute("SELECT SUM(x) AS s FROM (VALUES (1), (2)) t(x)").fetchdf()
    assert hugeint["s"].dtype.kind == "f", "expected DuckDB HUGEINT -> pandas float64"
    spark_like = pd.DataFrame({"s": pd.array([3], dtype="int64")})
    with pytest.raises(AssertionError, match="row mismatches"):
        assert_frames_match(spark_like, hugeint, "hugeint_drift")

    # the CAST(... AS BIGINT) form must pass
    cast_ok = duck.execute(
        "SELECT CAST(SUM(x) AS BIGINT) AS s FROM (VALUES (1), (2)) t(x)"
    ).fetchdf()
    assert_frames_match(spark_like, cast_ok, "hugeint_cast_fixed")


def test_parity_mirror_bool_is_not_int():
    """Driver hashes booleans distinctly from ints; the mirror must too."""
    import pandas as pd

    from .parity import assert_frames_match

    a = pd.DataFrame({"flag": pd.array([True], dtype="bool")})
    b = pd.DataFrame({"flag": pd.array([1], dtype="int64")})
    with pytest.raises(AssertionError, match="row mismatches"):
        assert_frames_match(a, b, "bool_vs_int")


def test_exact_dedup_keeps_distinct_null_text_rows(spark):
    """sha2(NULL) is NULL for every null-text row — partitioning on the raw
    digest would collapse ALL of them into one survivor. Each null-text doc
    is its own identity."""
    from custom_python_etl_data_connector_rohitharumugams_spark.operators.dedup import exact_dedup

    df = spark.createDataFrame(
        [(1, "same"), (2, "same"), (3, None), (4, None)], "doc_id bigint, text string"
    )
    kept = sorted(r.doc_id for r in exact_dedup(df).collect())
    assert kept == [1, 3, 4], kept


def test_sanitize_field_names_raises_on_collision(spark):
    """'a.b' and 'a_b' both sanitize to 'a_b' — silently emitting duplicate
    columns would clobber one field in the doc-store write."""
    import pytest as _pytest

    from custom_python_etl_data_connector_rohitharumugams_spark.functions.json_utils import (
        sanitize_field_names,
    )

    df = spark.createDataFrame([(1, 2)], ["a.b", "a_b"])
    with _pytest.raises(ValueError, match="collision"):
        sanitize_field_names(df)


def test_multimodal_null_payload_survives(spark):
    """One media-less doc must not kill the decode/frame jobs: decode emits
    NULL metadata, frame sampling emits zero frames."""
    from custom_python_etl_data_connector_rohitharumugams_spark.functions import multimodal as M

    df = M.attach_media(
        spark.createDataFrame([(1, "hello world"), (2, None)], "doc_id bigint, text string")
    )
    dec = {r.doc_id: r.n_bytes for r in M.decode_media(df).collect()}
    assert dec[1] == 11 and dec[2] is None
    frames = M.sample_frames(df, n_frames=2).collect()
    assert {r.doc_id for r in frames} == {1}


def test_lsh_candidate_pairs_rejects_short_signatures(spark):
    import pytest as _pytest

    from custom_python_etl_data_connector_rohitharumugams_spark.operators import dedup as D

    docs = spark.createDataFrame(
        [(i, f"alpha beta gamma delta u{i} v{i}") for i in range(4)],
        "doc_id bigint, text string",
    )
    sigs = D.minhash_signatures(D.shingle_postings(docs), num_perm=8)
    with _pytest.raises(Exception, match="exceeds signature length"):
        D.lsh_candidate_pairs(sigs, bands=4, rows_per_band=4).collect()


def test_salted_agg_sum_spreads_constant_values(spark):
    """A hot key with a CONSTANT value must still spread across salt
    buckets — value-derived salting collapsed it onto one reducer."""
    from custom_python_etl_data_connector_rohitharumugams_spark.operators.skew import (
        SALT_COL,
        salted_agg_sum,
    )
    from pyspark.sql import functions as F

    df = spark.range(0, 2000).select(F.lit("hot").alias("k"), F.lit(1.0).alias("v"))
    out = salted_agg_sum(df, key="k", value="v", salt=8, out="total").collect()
    assert out[0]["total"] == 2000.0
    salted = df.withColumn(SALT_COL, F.pmod(F.monotonically_increasing_id(), F.lit(8)))
    n_buckets = salted.select(SALT_COL).distinct().count()
    assert n_buckets == 8, f"constant values landed in {n_buckets} salt bucket(s)"


def test_docsink_empty_first_batch_does_not_brick_collection(spark, tmp_path):
    """An empty first batch used to leave a parquet-less directory that
    made every later upsert crash on schema inference; first-write
    detection is now by data, so the next real batch lands normally."""
    from custom_python_etl_data_connector_rohitharumugams_spark.sources import docsink

    base = str(tmp_path)
    empty = spark.createDataFrame([], "id long, v string")
    docsink.write_collection(empty, base, "c", key_col="id")
    full = spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string")
    docsink.write_collection(full, base, "c", key_col="id")
    back = docsink.read_collection(spark, base, "c")
    assert sorted(r.id for r in back.collect()) == [1, 2]


def test_docsink_rejects_key_col_change_and_bad_mode(spark, tmp_path):
    """The recorded key_col is a contract (a different key would merge
    wrongly AND rewrite the evidence), and an unknown mode fails before
    any data lands — even on a fresh collection."""
    import pytest

    from custom_python_etl_data_connector_rohitharumugams_spark.sources import docsink

    base = str(tmp_path)
    df = spark.createDataFrame([(1, "a")], "id long, name string")
    with pytest.raises(ValueError, match="unknown docsink mode"):
        docsink.write_collection(df, base, "c", key_col="id", mode="overwrite")
    import os

    assert not os.path.isdir(f"{base}/c")  # nothing landed
    docsink.write_collection(df, base, "c", key_col="id")
    with pytest.raises(ValueError, match="key_col"):
        docsink.write_collection(df, base, "c", key_col="name")


def test_docsink_content_hash_distinguishes_null_layouts(spark, tmp_path):
    """Within-batch dedup tiebreak: rows differing only in WHICH columns
    are null must hash differently (xxhash64 skips nulls, so value-only
    hashing made (k, 'a', NULL) and (k, NULL, 'a') tie arbitrarily). The
    winner must be the same under either input order."""
    from custom_python_etl_data_connector_rohitharumugams_spark.sources import docsink

    rows = [(1, "a", None), (1, None, "a")]
    winners = []
    for i, batch in enumerate((rows, rows[::-1])):
        base = str(tmp_path / f"v{i}")
        df = spark.createDataFrame(batch, "id long, x string, y string")
        docsink.write_collection(df, base, "c", key_col="id")
        out = docsink.read_collection(spark, base, "c").collect()
        assert len(out) == 1
        winners.append((out[0].x, out[0].y))
    assert winners[0] == winners[1]


def test_minhash_permutations_are_independent(spark):
    """The affine family (a*h+b) mod p with int64-safe coefficients never
    wraps, making every slot order-preserving — all slots minimized by the
    SAME shingle and the whole signature a bijection of one value (band
    collision prob collapses from 1-(1-J^r)^b to J). The seeded per-slot
    hash must give two ~50%-Jaccard docs signatures that AGREE on some
    slots and DISAGREE on others."""
    from custom_python_etl_data_connector_rohitharumugams_spark.operators import dedup as D

    docs = spark.createDataFrame(
        [(1, "a b c d e f g h i j"), (2, "a b c d e f g h X Y")],
        "doc_id bigint, text string",
    )
    sigs = {
        r.doc_id: list(r.signature)
        for r in D.minhash_signatures(D.shingle_postings(docs), num_perm=16).collect()
    }
    agree = sum(x == y for x, y in zip(sigs[1], sigs[2]))
    assert 0 < agree < 16, f"degenerate signature: {agree}/16 slots agree"


def test_asof_join_ignores_null_timestamps(spark):
    """NULL-ts right rows must never match; NULL-ts left rows are kept
    with NULL asof values — in BOTH directions (the window sort's NULLS
    FIRST/LAST defaults used to hand out bogus matches)."""
    from custom_python_etl_data_connector_rohitharumugams_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [(1, 10, 100), (1, None, 101)], "k int, ts long, lid long"
    )
    right = spark.createDataFrame(
        [(1, 5, 777), (1, None, 999)], "k int, ts long, val long"
    )
    for direction in ("backward", "forward"):
        out = {
            r.lid: r.asof_val
            for r in asof_join(
                left, right, on="k", left_ts="ts", right_ts="ts",
                value_cols=["val"], direction=direction,
            ).collect()
        }
        assert out[101] is None, f"{direction}: null-ts left row matched"
        expected = 777 if direction == "backward" else None
        assert out[100] == expected, f"{direction}: {out[100]}"


def test_asof_join_string_tiebreak_orders_in_own_type(spark):
    """A string tiebreak used to be cast('long') — ANSI crash or silent
    all-NULL nondeterminism. It must order lexically, greatest wins."""
    from custom_python_etl_data_connector_rohitharumugams_spark.operators.asof import asof_join

    left = spark.createDataFrame([(1, 10, 0)], "k int, ts long, lid long")
    right = spark.createDataFrame(
        [(1, 5, 111, "evt_a"), (1, 5, 222, "evt_b")],
        "k int, ts long, val long, code string",
    )
    out = asof_join(
        left, right, on="k", left_ts="ts", right_ts="ts",
        value_cols=["val"], tiebreak="code",
    ).collect()
    assert out[0].asof_val == 222  # 'evt_b' > 'evt_a' wins


def test_asof_tolerance_works_on_ntz_timestamps(spark):
    """tolerance_sec on TIMESTAMP_NTZ columns used to crash analysis
    (unix_micros rejects NTZ); deltas must compute and gate matches."""
    import datetime as dt

    from custom_python_etl_data_connector_rohitharumugams_spark.operators.asof import asof_join

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    left = spark.createDataFrame(
        [(1, t0, 0), (1, t0 + dt.timedelta(hours=2), 1)],
        "k int, ts timestamp_ntz, lid long",
    )
    right = spark.createDataFrame(
        [(1, t0 - dt.timedelta(seconds=30), 5)],
        "k int, ts timestamp_ntz, val long",
    )
    out = {
        r.lid: r.asof_val
        for r in asof_join(
            left, right, on="k", left_ts="ts", right_ts="ts",
            value_cols=["val"], tolerance_sec=60,
        ).collect()
    }
    assert out[0] == 5 and out[1] is None  # 30s within, 2h outside


def test_simhash_near_pairs_dedups_multi_block_pairs(spark):
    """A pair sharing several blocking keys must appear once, like the
    banded variant — double-emission double-counts pair aggregates."""
    from custom_python_etl_data_connector_rohitharumugams_spark.operators import dedup as D

    docs = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "alpha beta gamma")],
        "doc_id bigint, text string",
    )
    sh = D.simhash(docs)
    blocking = spark.createDataFrame(
        [(1, "A"), (1, "B"), (2, "A"), (2, "B")], "doc_id bigint, block string"
    )
    pairs = D.simhash_near_pairs(sh, blocking, max_hamming=63).collect()
    assert len(pairs) == 1


def test_sample_frames_skips_null_doc_id(spark):
    """A NULL doc_id with a real payload must yield no frames, not an
    IntCastingNaNError that kills the task (Arrow hands nullable longs to
    pandas as float64 + NaN)."""
    from custom_python_etl_data_connector_rohitharumugams_spark.functions import multimodal as M

    rows = [
        (1, ("img", bytearray(b"0123456789abcdef"))),
        (None, ("img", bytearray(b"xxxxyyyy"))),
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, media struct<kind string, data binary>"
    )
    out = M.sample_frames(df, n_frames=4).collect()
    assert {r.doc_id for r in out} == {1} and len(out) == 4


def test_sanitize_field_names_recurses_into_map_values(spark):
    """Structs hiding inside map VALUES must be sanitized (the silent
    passthrough shipped dotted names to the doc store); map keys are data
    and stay untouched."""
    from custom_python_etl_data_connector_rohitharumugams_spark.functions.json_utils import (
        sanitize_field_names,
    )

    df = spark.createDataFrame(
        [({"k.ey": (1,)},)],
        "m map<string, struct<`bad.field`: bigint>>",
    )
    clean = sanitize_field_names(df)
    vt = clean.schema["m"].dataType.valueType
    assert vt.names == ["bad_field"]
    row = clean.collect()[0]
    assert list(row.m.keys()) == ["k.ey"]  # keys are data, not names
    assert row.m["k.ey"].bad_field == 1


def test_replay_rebuild_removes_stale_slices(spark, tmp_path):
    """Rebuilding a replay dir with fewer slices must remove the old tail
    file — the slice-*.parquet glob would replay it a second time and
    every aggregate over the dir would double-count."""
    import glob

    from custom_python_etl_data_connector_rohitharumugams_spark.streaming.replay import (
        split_events_for_replay,
    )

    out = str(tmp_path / "events_replay")
    split_events_for_replay(spark, SF, out, n_slices=4)
    assert len(glob.glob(f"{out}/slice-*.parquet")) == 4
    split_events_for_replay(spark, SF, out, n_slices=2)
    assert len(glob.glob(f"{out}/slice-*.parquet")) == 2
    n = spark.read.parquet(f"{out}/slice-*.parquet").count()
    from custom_python_etl_data_connector_rohitharumugams_spark.catalog import load_table

    assert n == load_table(spark, SF, "events").count()


def test_replay_single_slice_build(spark, tmp_path):
    """n_slices=1 used to crash percentile_approx with an empty
    percentage list; it must produce one complete slice."""
    import glob

    from custom_python_etl_data_connector_rohitharumugams_spark.catalog import load_table
    from custom_python_etl_data_connector_rohitharumugams_spark.streaming.replay import (
        split_events_for_replay,
    )

    out = str(tmp_path / "one_replay")
    split_events_for_replay(spark, SF, out, n_slices=1)
    assert len(glob.glob(f"{out}/slice-*.parquet")) == 1
    assert (
        spark.read.parquet(f"{out}/slice-0.parquet").count()
        == load_table(spark, SF, "events").count()
    )


def test_corpus_dedup_keeps_every_null_text_doc(spark):
    """llm_corpus_build's keeper rule: null-text docs are each their own
    identity (md5(NULL) is NULL; grouping on it directly collapses them
    all into one survivor)."""
    from pyspark.sql import functions as F

    d = spark.createDataFrame(
        [(1, None), (2, None), (3, "real text"), (4, "real text")],
        "doc_id long, text string",
    )
    dig = F.coalesce(
        F.md5("text"), F.concat(F.lit("__null__"), F.col("doc_id").cast("string"))
    )
    keepers = d.groupBy(dig.alias("__dig")).agg(F.min("doc_id").alias("doc_id"))
    kept = sorted(r.doc_id for r in keepers.collect())
    assert kept == [1, 2, 3]  # both null-text docs kept; text dup collapsed


def test_env_quoted_value_with_quoted_word_in_comment(tmp_path):
    """TOKEN='abc' # see 'docs' — the last-quote rule used to absorb the
    comment into the credential; the first-close-then-comment rule must
    recover 'abc' while still supporting inner apostrophes."""
    from custom_python_etl_data_connector_rohitharumugams_spark.sources.envconf import (
        parse_env_file,
    )

    f = tmp_path / ".env"
    f.write_text(
        "TOKEN='abc' # see 'docs'\n"
        "PASSWORD='it's-secret'\n"
        'OTHER="x y" # "quoted" note\n'
    )
    env = parse_env_file(f)
    assert env["TOKEN"] == "abc"
    assert env["PASSWORD"] == "it's-secret"
    assert env["OTHER"] == "x y"


def test_resolve_auth_headers_rejects_empty_env_token():
    """auth_env resolving to ''/unset must fail fast with the cause, not
    send a malformed 'Bearer ' header into an executor-side 401 storm."""
    import pytest as _pt

    from custom_python_etl_data_connector_rohitharumugams_spark.sources.restapi import (
        resolve_auth_headers,
    )

    with _pt.raises(ValueError, match="unset or empty"):
        resolve_auth_headers({"auth_env": "SG_TEST_NO_SUCH_VAR"})


def test_rest_emit_routes_non_dict_records_to_corrupt_channel(spark):
    """A null/scalar entry among the records lands in _corrupt_record —
    PERMISSIVE means nothing silently vanishes; and a malformed page ends
    the partition's chain (done=True) like the error-dict page does."""
    from pyspark.sql.types import StructType

    from custom_python_etl_data_connector_rohitharumugams_spark.sources.restapi import (
        RestApiReader,
    )

    schema = StructType.fromDDL("id bigint, _corrupt_record string")
    rdr = RestApiReader(schema, {"base_url": "http://127.0.0.1/x"})
    rows, done = rdr._emit(
        '{"data": [{"id": 1}, null, {"id": 2}]}',
        {"data": [{"id": 1}, None, {"id": 2}]},
    )
    assert len(rows) == 3 and not done
    corrupt = [r for r in rows if r[1] is not None]
    assert len(corrupt) == 1 and corrupt[0][0] is None
    rows, done = rdr._emit("<html>boom</html>", None)
    assert done and rows[0][1] == "<html>boom</html>"


def test_decode_wav_contains_corrupt_payloads(spark):
    """The REAL wave codec path must contain bad bytes like the corrupt-page
    channel does: a truncated WAV, non-RIFF garbage, and a NULL payload
    each yield NO row — never an exception that kills the batch — while
    the valid payloads around them decode exactly."""
    from custom_python_etl_data_connector_rohitharumugams_spark.functions import (
        multimodal as M,
    )

    good = M.synth_wav(spark.createDataFrame([(7,), (9,)], "doc_id long"))
    rows = [(r.doc_id, bytes(r.data)) for r in good.collect()]
    hostile = rows + [
        (100, rows[0][1][:20]),      # truncated mid-header
        (101, b"not a riff file"),   # garbage
        (102, None),                 # media-less doc
    ]
    df = spark.createDataFrame(hostile, "doc_id long, data binary")
    out = {r.doc_id: r for r in M.decode_wav(df).collect()}
    assert set(out) == {7, 9}
    for doc_id in (7, 9):
        s = M._wav_samples(doc_id)
        r = out[doc_id]
        assert (r.n_channels, r.sample_rate, r.n_frames) == (1, M.WAV_SAMPLE_RATE, len(s))
        assert r.peak == max(abs(v) for v in s)
        assert r.sample_sum == sum(s)


def test_decode_bmp_contains_corrupt_and_pins_layout(spark):
    """BMP twin of the WAV containment test, plus layout pinning: corrupt
    payloads (truncated pixel array, garbage, 8-bit depth, NULL) yield no
    row, and the weighted checksum actually distinguishes the two classic
    misreads a plain sum cannot — verified here by recomputing the
    flipped/swapped checksums from the formula and asserting they differ
    from the decoded one."""
    from custom_python_etl_data_connector_rohitharumugams_spark.functions import (
        multimodal as M,
    )

    good = M.synth_bmp(spark.createDataFrame([(3,), (11,)], "doc_id long"))
    rows = [(r.doc_id, bytes(r.data)) for r in good.collect()]
    bad_depth = bytearray(rows[0][1])
    bad_depth[28] = 8  # biBitCount: claim 8-bit
    hostile = rows + [
        (200, rows[0][1][:60]),        # header ok, pixel array truncated
        (201, b"GIF89a not a bmp"),    # wrong magic
        (202, bytes(bad_depth)),       # unsupported bit depth
        (203, None),
    ]
    df = spark.createDataFrame(hostile, "doc_id long, data binary")
    out = {r.doc_id: r for r in M.decode_bmp(df).collect()}
    assert set(out) == {3, 11}
    for doc_id in (3, 11):
        w, h = M._bmp_dims(doc_id)
        r = out[doc_id]
        assert (r.width, r.height) == (w, h)
        px = M._bmp_pixel
        straight = sum(
            (y + 1) * (c + 1) * px(doc_id, x, y, c)
            for x in range(w) for y in range(h) for c in range(3)
        )
        flipped = sum(
            (h - y) * (c + 1) * px(doc_id, x, y, c)
            for x in range(w) for y in range(h) for c in range(3)
        )
        swapped = sum(
            (y + 1) * (3 - c) * px(doc_id, x, y, c)
            for x in range(w) for y in range(h) for c in range(3)
        )
        assert r.weighted_sum == straight
        assert straight != flipped and straight != swapped


def test_extract_avi_frames_contains_corrupt_and_needs_padding(spark):
    """AVI walker containment (truncated container, wrong list type,
    garbage, NULL => no rows) and proof the even-byte padding rule is
    load-bearing: un-padding the synthesized file around an odd-sized
    frame desyncs the walk, so the parser must either bail or return a
    frame set different from the padded truth — never silently agree."""
    import struct

    from custom_python_etl_data_connector_rohitharumugams_spark.functions import (
        multimodal as M,
    )

    good = M.synth_avi(spark.createDataFrame([(1,), (5,)], "doc_id long"))
    rows = [(r.doc_id, bytes(r.data)) for r in good.collect()]
    hostile = rows + [
        (300, rows[0][1][:40]),        # truncated inside hdrl
        (301, b"RIFFxxxxWAVE"),        # RIFF but not AVI
        (302, b"\x00" * 64),           # garbage
        (303, None),
    ]
    df = spark.createDataFrame(hostile, "doc_id long, data binary")
    out = [(r.doc_id, r.frame_id, r.n_bytes, r.byte_sum, r.header_frames)
           for r in M.extract_avi_frames(df).collect()]
    by_doc = {}
    for doc_id, *rest in out:
        by_doc.setdefault(doc_id, []).append(rest)
    assert set(by_doc) == {1, 5}
    for doc_id in (1, 5):
        frames = M._avi_frames(doc_id)
        got = sorted(tuple(r) for r in by_doc[doc_id])
        assert got == [(k, len(f), sum(f), len(frames)) for k, f in enumerate(frames)]
    # pad-rule desync: rebuild doc 1's movi with an UNPADDED odd chunk
    raw = rows[0][1]
    odd = raw.find(b"00db" + struct.pack("<I", 17))  # 17-byte frame chunk
    assert odd > 0
    pad_pos = odd + 8 + 17
    unpadded = raw[:pad_pos] + raw[pad_pos + 1 :]  # drop its pad byte
    bad = spark.createDataFrame([(400, unpadded)], "doc_id long, data binary")
    desynced = [(r.frame_id, r.n_bytes) for r in M.extract_avi_frames(bad).collect()]
    truth = [(k, len(f)) for k, f in enumerate(M._avi_frames(1))]
    assert desynced != truth


def test_decode_png_contains_corrupt_and_filters_are_load_bearing(spark):
    """PNG containment + proof the two real coding layers matter:

    - corrupt payloads (bad magic, flipped CRC byte, truncated DEFLATE
      stream, a dropped second IDAT chunk, NULL) each yield no row;
    - the per-row predictive filters are LOAD-BEARING: zeroing every
      scanline's filter byte in the decompressed stream (i.e. a decoder
      that 'skips' filter reconstruction) and recompressing yields a
      checksum DIFFERENT from the true one for an image that actually
      uses non-None filters — verified by recomputing both from the
      pixel formula."""
    import struct
    import zlib

    from custom_python_etl_data_connector_rohitharumugams_spark.functions import (
        multimodal as M,
    )

    # doc ids chosen so (y + doc_id) % 5 hits non-trivial filters on row 0
    good = M.synth_png(spark.createDataFrame([(4,), (13,)], "doc_id long"))
    rows = [(r.doc_id, bytes(r.data)) for r in good.collect()]

    bad_crc = bytearray(rows[0][1])
    bad_crc[-5] ^= 0xFF  # inside IEND's CRC
    # drop the SECOND IDAT chunk (stream becomes a truncated DEFLATE body)
    raw = rows[1][1]
    pos, pieces = 8, [raw[:8]]
    idat_seen = 0
    while pos + 8 <= len(raw):
        (ln,) = struct.unpack_from(">I", raw, pos)
        ctype = raw[pos + 4 : pos + 8]
        end = pos + 12 + ln
        if ctype == b"IDAT":
            idat_seen += 1
            if idat_seen == 2:
                pos = end
                continue
        pieces.append(raw[pos:end])
        pos = end
    assert idat_seen == 2
    dropped_idat = b"".join(pieces)

    hostile = rows + [
        (400, b"\x89JNG\r\n\x1a\n" + rows[0][1][8:]),  # wrong magic
        (401, bytes(bad_crc)),                         # CRC mismatch
        (402, rows[0][1][: len(rows[0][1]) // 2]),     # truncated file
        (403, dropped_idat),                           # missing IDAT half
        (404, None),
    ]
    df = spark.createDataFrame(hostile, "doc_id long, data binary")
    out = {r.doc_id: r for r in M.decode_png(df).collect()}
    assert set(out) == {4, 13}
    for doc_id in (4, 13):
        w, h = M._png_dims(doc_id)
        r = out[doc_id]
        assert (r.width, r.height) == (w, h)
        px = M._png_pixel
        assert r.pixel_sum == sum(
            px(doc_id, x, y, c)
            for x in range(w) for y in range(h) for c in range(3)
        )
        assert r.weighted_sum == sum(
            (y + 1) * (c + 1) * px(doc_id, x, y, c)
            for x in range(w) for y in range(h) for c in range(3)
        )

    # filter layer is load-bearing: treat filtered bytes as raw pixels
    # (decoder-without-reconstruction) => different sums for these ids
    doc_id, raw = rows[0]
    pos, idat = 8, b""
    while pos + 8 <= len(raw):
        (ln,) = struct.unpack_from(">I", raw, pos)
        if raw[pos + 4 : pos + 8] == b"IDAT":
            idat += raw[pos + 8 : pos + 8 + ln]
        pos += 12 + ln
    stream = bytearray(zlib.decompress(idat))
    w, h = M._png_dims(doc_id)
    skipped = 0
    used_filters = set()
    for y in range(h):
        base = y * (1 + w * 3)
        used_filters.add(stream[base])
        skipped += sum(stream[base + 1 : base + 1 + w * 3])
    assert used_filters - {0}, "chosen doc must use non-None filters"
    true_sum = out[doc_id].pixel_sum
    assert skipped != true_sum, "filter reconstruction must change the sum"


def test_decode_jpeg_contains_corrupt_and_pins_dc_chain(spark):
    """JPEG containment: wrong magic, a stripped DHT segment, a truncated
    entropy scan, and NULL each yield no row. Bit-level corruption inside
    the entropy stream has no checksum to catch it (JPEG carries none) —
    so the assertion there is no-silent-agreement: the decoder either
    rejects the payload or returns sums that DIFFER from the true ones.
    Valid payloads decode to the exact closed-form sums, including a
    6-block image whose weighted checksum pins the MCU raster order and
    the DC prediction chain."""
    import struct

    from custom_python_etl_data_connector_rohitharumugams_spark.functions import (
        multimodal as M,
    )

    # doc 2 -> 3x1 blocks; doc 5 -> 3x2 blocks (longest DC chain)
    good = M.synth_jpeg(spark.createDataFrame([(2,), (5,)], "doc_id long"))
    rows = [(r.doc_id, bytes(r.data)) for r in good.collect()]

    raw = rows[1][1]
    # strip the first DHT segment entirely
    pos, pieces = 2, [raw[:2]]
    stripped_one = False
    while pos + 4 <= len(raw):
        marker = raw[pos + 1]
        if marker == 0xDA:
            pieces.append(raw[pos:])
            break
        (ln,) = struct.unpack_from(">H", raw, pos + 2)
        if marker == 0xC4 and not stripped_one:
            stripped_one = True
        else:
            pieces.append(raw[pos : pos + 2 + ln])
        pos += 2 + ln
    assert stripped_one
    no_dht = b"".join(pieces)

    # flip a byte mid-scan (after SOS, before EOI)
    sos = raw.find(b"\xff\xda")
    flip = bytearray(raw)
    flip[sos + 20] ^= 0x55

    hostile = rows + [
        (500, b"\xff\xd9" + rows[0][1][2:]),   # EOI where SOI should be
        (501, no_dht),                          # missing huffman table
        (502, rows[0][1][: sos + 6]),           # scan truncated
        (503, bytes(flip)),                     # entropy bit corruption
        (504, None),
    ]
    df = spark.createDataFrame(hostile, "doc_id long, data binary")
    out = {r.doc_id: r for r in M.decode_jpeg(df).collect()}
    assert {2, 5} <= set(out) and not {500, 501, 502, 504} & set(out)

    expected = {}
    for doc_id in (2, 5):
        wb, hb = M._jpeg_blocks(doc_id)
        val = M._jpeg_block_val
        psum = sum(64 * val(doc_id, bx, by) for bx in range(wb) for by in range(hb))
        wsum = sum(
            (64 * bx + 36) * (64 * by + 36) * val(doc_id, bx, by)
            for bx in range(wb)
            for by in range(hb)
        )
        expected[doc_id] = (wb * 8, hb * 8, psum, wsum)
        r = out[doc_id]
        assert (r.width, r.height, r.pixel_sum, r.weighted_sum) == expected[doc_id]
    if 503 in out:  # undetectable corruption must never silently agree
        r = out[503]
        assert (r.pixel_sum, r.weighted_sum) != expected[5][2:]


def test_resize_bmp_identity_containment_and_valid_output(spark):
    """resize_bmp contract: factor=1 is the identity under the real
    decoder (same dims, sums, and layout checksum); corrupt/NULL
    payloads and sub-box images yield no row; and factor=2 output is
    itself a VALID BMP whose decode matches a pure-Python floor-mean
    pooling of the synth formula."""
    from custom_python_etl_data_connector_rohitharumugams_spark.functions import (
        multimodal as M,
    )

    ids = spark.createDataFrame([(2,), (5,), (7,)], "doc_id long")
    good = M.synth_bmp(ids)
    base = {r.doc_id: r for r in M.decode_bmp(good).collect()}
    ident = {r.doc_id: r for r in M.decode_bmp(M.resize_bmp(good, factor=1)).collect()}
    assert {k: tuple(v) for k, v in base.items()} == {
        k: tuple(v) for k, v in ident.items()
    }

    out = {r.doc_id: r for r in M.decode_bmp(M.resize_bmp(good, factor=2)).collect()}
    for doc_id in (2, 5, 7):
        w, h = M._bmp_dims(doc_id)
        rw, rh = w // 2, h // 2
        px = M._bmp_pixel
        pooled = {
            (X, Y, c): (
                px(doc_id, 2 * X, 2 * Y, c)
                + px(doc_id, 2 * X + 1, 2 * Y, c)
                + px(doc_id, 2 * X, 2 * Y + 1, c)
                + px(doc_id, 2 * X + 1, 2 * Y + 1, c)
            )
            // 4
            for X in range(rw)
            for Y in range(rh)
            for c in range(3)
        }
        r = out[doc_id]
        assert (r.width, r.height) == (rw, rh)
        assert r.pixel_sum == sum(pooled.values())
        assert r.weighted_sum == sum(
            (Y + 1) * (c + 1) * v for (X, Y, c), v in pooled.items()
        )

    # containment: hostile payloads vanish, never crash or emit garbage
    raw2 = bytes(good.where(F.col("doc_id") == 2).collect()[0]["data"])
    hostile = spark.createDataFrame(
        [(900, b"not a bmp"), (901, raw2[:20]), (902, None)],
        "doc_id long, data binary",
    )
    assert M.resize_bmp(hostile, factor=2).count() == 0


def test_decode_png_rejects_crc_valid_hostile_content(spark):
    """The adversarial class the existing PNG containment test doesn't
    reach: payloads whose OUTER integrity layers are all VALID (chunk
    grammar intact, every CRC32 correct, zlib stream well-formed) but
    whose inner content is hostile — a decoder that trusts CRCs would
    decode garbage silently. Three variants, each rebuilt with correct
    CRCs from a genuine synth_png file:

    - invalid filter-type byte (7) on a scanline => 'bad filter type';
    - decompressed stream one full scanline LONG => length-contract
      reject (h*(1+w*3) is part of IHDR's promise);
    - decompressed stream one scanline SHORT => same, from below.
    All three must yield no row while the untouched twin decodes.
    """
    import struct
    import zlib

    from custom_python_etl_data_connector_rohitharumugams_spark.functions import (
        multimodal as M,
    )

    good = M.synth_png(spark.createDataFrame([(4,)], "doc_id long"))
    raw = bytes(good.collect()[0]["data"])

    def split_chunks(buf):
        pos, chunks = 8, []
        while pos + 8 <= len(buf):
            (ln,) = struct.unpack_from(">I", buf, pos)
            chunks.append((bytes(buf[pos + 4 : pos + 8]),
                           bytes(buf[pos + 8 : pos + 8 + ln])))
            pos += 12 + ln
        return chunks

    def rebuild(chunks):
        out = [b"\x89PNG\r\n\x1a\n"]
        for ctype, data in chunks:
            out.append(struct.pack(">I", len(data)) + ctype + data
                       + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF))
        return b"".join(out)

    chunks = split_chunks(raw)
    idat = b"".join(d for t, d in chunks if t == b"IDAT")
    stream = bytearray(zlib.decompress(idat))
    w, h = M._png_dims(4)
    rowlen = 1 + w * 3

    def with_stream(s):
        body = zlib.compress(bytes(s))
        return rebuild(
            [(t, d) for t, d in chunks if t not in (b"IDAT",)][:1]
            + [(b"IDAT", body)]
            + [(t, d) for t, d in chunks if t == b"IEND"]
        )

    bad_filter = bytearray(stream)
    bad_filter[(h - 1) * rowlen] = 7  # last scanline's filter byte
    hostile = [
        (500, with_stream(bad_filter)),
        (501, with_stream(stream + bytes(rowlen))),   # one row too long
        (502, with_stream(stream[:-rowlen])),         # one row too short
        (4, raw),                                      # untouched twin
    ]
    df = spark.createDataFrame(hostile, "doc_id long, data binary")
    out = {r.doc_id for r in M.decode_png(df).collect()}
    assert out == {4}, out


def test_decode_gif_contains_corrupt_and_lzw_layers_are_load_bearing(spark):
    """GIF containment + proof the LZW layers matter:

    - corrupt payloads (bad magic, no global color table, truncated
      sub-block, garbage LZW codes, pixel-count mismatch, interlace /
      local-palette flags this decoder does not claim, NULL) each yield
      no row;
    - the variable code-width schedule and the mid-stream CLEAR resets
      are LOAD-BEARING: the synthesized corpus includes docs whose
      encoder forces resets, and the width-bump boundary is pinned by
      the pure LZW round-trips in test_properties.py."""
    import struct

    from custom_python_etl_data_connector_rohitharumugams_spark.functions import (
        multimodal as M,
    )

    # doc 12: %3==0 forces mid-stream clears AND %4==0 carries a GCE
    good = M.synth_gif(spark.createDataFrame([(12,), (7,)], "doc_id long"))
    rows = {r.doc_id: bytes(r.data) for r in good.collect()}

    bad_magic = b"JIF89a" + rows[7][6:]
    no_gct = bytearray(rows[7])
    no_gct[10] &= 0x7F  # clear the GCT-present flag
    truncated = rows[7][: len(rows[7]) - 8]  # cuts into the data stream
    # garbage LZW: overwrite the first data sub-block's bytes with 0xFF
    garb = bytearray(rows[7])
    # find image separator then skip descriptor(9)+min-code(1)+len byte
    sep = garb.index(0x2C, 13 + 768)
    first_block_len = garb[sep + 10]
    for i in range(first_block_len):
        garb[sep + 11 + i] = 0xFF
    interlaced = bytearray(rows[7])
    interlaced[sep + 9] |= 0x40  # set the interlace flag
    hostile = spark.createDataFrame(
        [
            (101, bytes(bad_magic)),
            (102, bytes(no_gct)),
            (103, bytes(truncated)),
            (104, bytes(garb)),
            (105, bytes(interlaced)),
            (106, None),
            (12, rows[12]),  # the forced-clear doc decodes fine alongside
        ],
        "doc_id long, data binary",
    )
    got = {r.doc_id: r for r in M.decode_gif(hostile).collect()}
    assert set(got) == {12}
    w, h = M._gif_dims(12)
    expect_sum = sum(
        M._gif_palette_val(M._gif_index(12, x, y), c)
        for y in range(h)
        for x in range(w)
        for c in range(3)
    )
    assert (got[12].width, got[12].height, got[12].pixel_sum) == (w, h, expect_sum)


def test_gif_lzw_roundtrip_crosses_width_bumps_and_resets():
    """Pure LZW pair pins: the 9->10->11->12-bit width-bump schedule
    (the classic one-add decoder lag), the KwKwK self-reference, forced
    mid-stream CLEAR resets, and the 4096-entry cap reset all round-trip
    byte-exactly. A decoder/encoder pair whose bump schedules disagree
    desyncs at the first 512-add boundary (caught here, not in the tiny
    oracle images)."""
    import random

    from custom_python_etl_data_connector_rohitharumugams_spark.functions.multimodal import (
        _lzw_decode,
        _lzw_encode,
    )

    rng = random.Random(7)
    for trial in range(4):
        data = bytes(rng.choice([0, 1, 2, 255]) for _ in range(30000))
        assert _lzw_decode(_lzw_encode(data, 8), 8, len(data)) == data
        assert (
            _lzw_decode(_lzw_encode(data, 8, clear_every=100), 8, len(data))
            == data
        )
    mono = bytes([i % 7 for i in range(300000)])  # drives past the 4096 cap
    assert _lzw_decode(_lzw_encode(mono, 8), 8, len(mono)) == mono
    kwk = bytes([5]) * 500  # pure KwKwK chain
    assert _lzw_decode(_lzw_encode(kwk, 8), 8, 500) == kwk
    # full min_code_size sweep: the first cut desynced on the POST-LOOP
    # flush (the decoder's final add can cross a width boundary before
    # EOI), which only ever fires at boundary-landing add counts — found
    # by this sweep at min_code_size < 8, invisible to the 8-bit cases
    for mcs in range(2, 9):
        alpha = 1 << mcs
        for _ in range(12):
            n = rng.randrange(1, 2500)
            data = bytes(rng.randrange(alpha) for _ in range(n))
            assert _lzw_decode(_lzw_encode(data, mcs), mcs, n) == data
            assert (
                _lzw_decode(_lzw_encode(data, mcs, clear_every=37), mcs, n)
                == data
            )


def test_extract_mp4_contains_corrupt_and_sample_table_is_load_bearing(spark):
    """MP4 containment + proof the stbl resolution matters:

    - corrupt payloads (no ftyp, truncated box header, box overrunning
      the file, a missing stco table, sample offsets past EOF, NULL)
      each yield no rows;
    - the 2-entry stsc chunk map is LOAD-BEARING: rewriting chunk 2's
      stco offset to point at chunk 1 changes every later sample's
      bytes, which the closed-form byte sums catch (asserted by
      comparing against the formula, not the decoder's own output)."""
    import struct

    from custom_python_etl_data_connector_rohitharumugams_spark.functions import (
        multimodal as M,
    )

    # doc 8: even (largesize mdat) with 5 samples; doc 7: plain mdat
    good = M.synth_mp4(spark.createDataFrame([(8,), (7,)], "doc_id long"))
    rows = {r.doc_id: bytes(r.data) for r in good.collect()}

    no_ftyp = b"\x00\x00\x00\x08free" + rows[7][12:]
    truncated = rows[7][:-10]  # cuts into the trailing moov
    overrun = bytearray(rows[7])
    struct.pack_into(">I", overrun, 0, len(overrun) + 100)  # ftyp size lies
    # corrupt stco: second chunk offset -> past EOF
    bad_stco = bytearray(rows[7])
    at = bad_stco.index(b"stco")
    struct.pack_into(">I", bad_stco, at + 16, len(bad_stco) + 50)
    # mis-resolve: second chunk offset -> chunk 1's offset (valid range,
    # wrong bytes) — decode succeeds but sums must disagree with formula
    wrong_chunk = bytearray(rows[8])
    at = wrong_chunk.index(b"stco")
    (c1,) = struct.unpack_from(">I", wrong_chunk, at + 12)
    struct.pack_into(">I", wrong_chunk, at + 16, c1)

    # resource-exhaustion hostiles (found in the round-9 code review):
    # 2000 nested container headers would blow the recursion limit of a
    # recursive walk; a 31-bit stsz count would allocate a ~17 GB list
    # before validation — both must DROP the row, not kill the task
    deep = b""
    for _ in range(2000):
        deep = struct.pack(">I", 8 + len(deep)) + b"moov" + deep
    deep = struct.pack(">I", 16) + b"ftyp" + b"isom" + b"\x00" * 4 + deep
    stsz = (
        struct.pack(">I", 20) + b"stsz" + struct.pack(">I", 0)
        + struct.pack(">II", 1, 0x7FFFFFFF)
    )
    stbl = struct.pack(">I", 8 + len(stsz)) + b"stbl" + stsz
    moov = struct.pack(">I", 8 + len(stbl)) + b"moov" + stbl
    bomb = struct.pack(">I", 16) + b"ftyp" + b"isom" + b"\x00" * 4 + moov

    hostile = spark.createDataFrame(
        [
            (101, bytes(no_ftyp)),
            (102, bytes(truncated)),
            (103, bytes(overrun)),
            (104, bytes(bad_stco)),
            (105, None),
            (106, bytes(deep)),
            (107, bytes(bomb)),
            (8, rows[8]),
            (7, rows[7]),
        ],
        "doc_id long, data binary",
    )
    got = M.extract_mp4_samples(hostile).collect()
    assert {r.doc_id for r in got} == {7, 8}
    for doc in (7, 8):
        samples = M._mp4_samples(doc)
        by_k = {r.sample_id: r for r in got if r.doc_id == doc}
        assert len(by_k) == len(samples)
        for k, s in enumerate(samples):
            assert (by_k[k].n_bytes, by_k[k].byte_sum) == (len(s), sum(s)), (doc, k)

    misres = M.extract_mp4_samples(
        spark.createDataFrame([(8, bytes(wrong_chunk))], "doc_id long, data binary")
    ).collect()
    samples = M._mp4_samples(8)
    # chunk 1 (samples 0-1) still correct; at least one later sample wrong
    wrong = [
        r for r in misres
        if r.sample_id >= 2 and r.byte_sum != sum(samples[r.sample_id])
    ]
    assert wrong, "stsc/stco resolution was not load-bearing"

def test_jpeg_tolerance_decode_gates_real_lossy_error_and_contains(spark):
    """The tolerance-oracle JPEG tier (multimodal_jpeg_tolerance_decode):
    the ramp family's roundtrip is genuinely LOSSY (nonzero pixel error —
    the regime the exact-hash oracle cannot cover), yet every fixture doc
    stays within the derived a-priori gate with real margin; the literal
    gate equals its derivation; corrupt payloads yield no row; and a
    payload decoding to the WRONG image (doc A's bytes labeled doc B)
    trips within_bound — the gate is load-bearing, not decorative."""
    import math

    from custom_python_etl_data_connector_rohitharumugams_spark.functions import (
        multimodal as M,
    )
    from custom_python_etl_data_connector_rohitharumugams_spark.functions.jpeg import (
        decode_gray_jpeg,
        separable_ramp_err_bound,
    )

    assert (
        math.floor(separable_ramp_err_bound() + 0.5) == M.JPEG_RAMP_ERR_BOUND
    )

    docs = spark.createDataFrame([(2,), (5,), (11,)], "doc_id long")
    payloads = {r.doc_id: bytes(r.data) for r in M.synth_jpeg_ramp(docs).collect()}

    # the codec is really lossy on this family: at least one doc's decode
    # differs from its source pixels (pure-Python check, no Spark)
    lossy = 0
    for doc_id, raw in payloads.items():
        w, h, px = decode_gray_jpeg(raw)
        ref = [
            M._jpeg_ramp_val(doc_id, x, y) for y in range(h) for x in range(w)
        ]
        err = max(abs(a - b) for a, b in zip(px, ref))
        assert err <= M.JPEG_RAMP_ERR_BOUND
        lossy = max(lossy, err)
    assert lossy > 0, "ramp family must exercise real quantization loss"

    hostile = [(d, p) for d, p in payloads.items()] + [
        (600, payloads[5][: len(payloads[5]) // 2]),  # truncated scan
        (601, None),
        (602, payloads[5]),  # doc 5's image labeled doc 602: wrong content
    ]
    df = spark.createDataFrame(hostile, "doc_id long, data binary")
    out = {r.doc_id: r for r in M.decode_jpeg_tolerance(df).collect()}
    assert {2, 5, 11} <= set(out) and not {600, 601} & set(out)
    for doc_id in (2, 5, 11):
        r = out[doc_id]
        wb, hb = M._jpeg_blocks(doc_id)
        want_sum = sum(
            M._jpeg_ramp_val(doc_id, x, y)
            for y in range(hb * 8)
            for x in range(wb * 8)
        )
        assert (r.width, r.height) == (wb * 8, hb * 8)
        assert r.orig_pixel_sum == want_sum
        assert r.err_bound == M.JPEG_RAMP_ERR_BOUND
        assert r.within_bound
    # 602 decodes fine (it IS a valid JPEG) but against doc 602's
    # reference pixels the error blows past the theorem bound
    assert 602 in out and not out[602].within_bound


def test_memo_second_call_runs_no_build_and_no_spark_job(spark):
    """The one session memo: a hit must neither re-run ``build`` nor
    start a Spark job (every memoized artifact is an eager training or
    scan whose whole point is being paid once)."""
    from custom_python_etl_data_connector_rohitharumugams_spark.session import memo

    owner = spark.range(50).select("*")
    builds = []

    def build():
        builds.append(1)
        return owner.count()

    sc = spark.sparkContext

    def jobs_for(group: str):
        sc.setJobGroup(group, "memo-pin")
        try:
            out = memo(owner, ("memo-probe", 50), build)
        finally:
            sc.setJobGroup(None, None)
        return out, len(sc.statusTracker().getJobIdsForGroup(group))

    first, j1 = jobs_for("memo-pin-1")
    second, j2 = jobs_for("memo-pin-2")
    assert (first, second) == (50, 50)
    assert len(builds) == 1
    assert j1 > 0 and j2 == 0, (j1, j2)


def test_memo_entry_dies_with_its_owner(spark):
    """Entries are held weakly by their owner frame: dropping the frame
    drops the artifact, so a memo never outlives the data it describes."""
    import gc
    import weakref

    from custom_python_etl_data_connector_rohitharumugams_spark.session import memo

    class Artifact:
        pass

    owner = spark.range(3).select("*")
    artifact = weakref.ref(memo(owner, ("gc-probe",), Artifact))
    assert artifact() is not None
    del owner
    gc.collect()
    assert artifact() is None


def test_conf_scope_restores_set_and_unset_keys_when_body_raises(spark):
    """On a raising body the scope must put a key that had a value back
    to that value, and UNSET a key that had none (not pin it to a
    default), so no scoped setting leaks into later queries."""
    from custom_python_etl_data_connector_rohitharumugams_spark.session import conf_scope

    was_set, was_unset = "spark.sql.shuffle.partitions", "spark.sql.leafNodeDefaultParallelism"
    before = spark.conf.get(was_set)
    assert spark.conf.get(was_unset, None) is None
    with pytest.raises(RuntimeError, match="body failed"):
        with conf_scope(spark, {was_set: "3", was_unset: "1"}):
            assert (spark.conf.get(was_set), spark.conf.get(was_unset)) == ("3", "1")
            raise RuntimeError("body failed")
    assert spark.conf.get(was_set) == before
    assert spark.conf.get(was_unset, None) is None


def test_session_artifacts_and_conf_scopes_live_only_in_session_module():
    """One memo and one conf scope: a new ``WeakKeyDictionary`` cache or
    hand-written ``spark.conf.get`` save/restore block anywhere but
    session.py re-opens the copies this module replaced."""
    from pathlib import Path

    import custom_python_etl_data_connector_rohitharumugams_spark as pkg

    root = Path(pkg.__file__).parent
    offenders = [
        f"{p.relative_to(root)}: {needle}"
        for p in sorted(root.rglob("*.py"))
        if p.name != "session.py" or p.parent != root
        for needle in ("WeakKeyDictionary", "spark.conf.get(")
        if needle in p.read_text()
    ]
    assert offenders == []


def _needle_sites(files, allowed):
    """``{(file, top-level function, needle)}`` for every line of ``files``
    that holds a needle of ``allowed`` outside the ``(file, function)``
    owners it maps to."""
    import ast

    sites = set()
    for p in sorted(files):
        text = p.read_text()
        spans = [
            (n.name, n.lineno, n.end_lineno)
            for n in ast.parse(text).body
            if isinstance(n, (ast.FunctionDef, ast.ClassDef))
        ]
        for i, line in enumerate(text.splitlines(), 1):
            owner = next((name for name, a, b in spans if a <= i <= b), "<module>")
            sites.update(
                (p.name, owner, n)
                for n, owners in allowed.items()
                if n in line and (p.name, owner) not in owners
            )
    return sites


def _stream_start_sites(root):
    """Every line of the package at ``root`` that starts or awaits a
    streaming query, names its checkpoint or starts an overlap thread
    outside ``_run_stream``."""
    needles = ("awaitTermination(", "checkpointLocation", "InheritableThread(")
    run_stream = {("stream_batch.py", "_run_stream")}
    return _needle_sites(root.rglob("*.py"), {n: run_stream for n in needles})


def test_streaming_queries_start_only_in_run_stream():
    """One streaming run: ``_run_stream`` is the only place that starts a
    streaming query, waits for it, sets its checkpoint and starts the
    overlap thread, so the conf scope, the 300 s guard and the checkpoint
    cleanup cannot drift between hand-written copies."""
    from pathlib import Path

    import custom_python_etl_data_connector_rohitharumugams_spark as pkg

    assert _stream_start_sites(Path(pkg.__file__).parent) == set()


def _payload_loop_sites(root):
    """Every line under ``functions/`` of the package at ``root`` that
    hand-writes a payload batch loop (a ``mapInPandas`` pass or a NULL
    check) or a BMP file header outside its one owner."""
    mm = "multimodal.py"
    allowed = {
        "mapInPandas(": {(mm, "map_rows"), (mm, "decode_media"), (mm, "spectral_features")},
        "pd.isna(": {(mm, "map_rows")},
        'struct.pack("<2sIHHI"': {(mm, "_bmp_bytes")},
    }
    return _needle_sites((root / "functions").rglob("*.py"), allowed)


def test_payload_codecs_share_one_map_and_one_bmp_writer():
    """One payload map: every per-row codec in functions/ runs through
    ``map_rows`` (NULL skip, materialize-then-contain, dtypes from the
    schema) and every BMP file comes from ``_bmp_bytes``; only
    ``decode_media`` and ``spectral_features`` keep a batch loop of their
    own."""
    from pathlib import Path

    import custom_python_etl_data_connector_rohitharumugams_spark as pkg

    assert _payload_loop_sites(Path(pkg.__file__).parent) == set()


def test_compaction_proof_searches_two_different_indexes(spark):
    """llm_ann_index_compaction's top-5 equality proves something only if
    its legs are two plans: the pre-compaction index (a cell map over the
    full corpus, tombstones masked at search time) and the compacted live
    corpus through its own map. They must still agree row for row."""
    from custom_python_etl_data_connector_rohitharumugams_spark.catalog import load_table
    from custom_python_etl_data_connector_rohitharumugams_spark.plans.llm import (
        _compaction_legs,
    )

    _, _, _, pre, post = _compaction_legs(load_table(spark, SF, "embeddings"))
    assert not pre.sameSemantics(post)
    assert sorted(pre.collect()) == sorted(post.collect())


def test_configure_ships_the_package_once_per_context(spark, monkeypatch):
    """Python workers import the package from a zip shipped at session
    start: ``configure`` ships it once per SparkContext, so UDF and data
    source queries work from any working directory."""
    from custom_python_etl_data_connector_rohitharumugams_spark import session

    builds = []
    monkeypatch.setattr(session, "_zip_and_add_package", builds.append)
    session._MEMO.get(spark.sparkContext, {}).pop(("shipped_package",), None)
    session.configure(spark)
    session.configure(spark)
    assert builds == [spark.sparkContext]


def test_python_sink_keeps_one_landing_dir_per_process(spark):
    """The landing dir of stream_python_sink_exactly_once is one per
    (scale factor, process), cleared at start: repeated runs must not leave
    a directory per call behind."""
    import glob
    import os
    import tempfile

    from custom_python_etl_data_connector_rohitharumugams_spark.plans.stream_batch import (
        _sf_tmp,
        stream_python_sink_exactly_once,
    )

    pattern = f"{tempfile.gettempdir()}/sg_pysink*land*"
    before = set(glob.glob(pattern))
    for _ in range(2):
        assert stream_python_sink_exactly_once(spark, SF).collect()[0].n_batches == 2
    after = set(glob.glob(pattern))
    assert len(after - before) <= 1
    assert _sf_tmp("pysink", SF, f"land_{os.getpid()}") in after


def test_ivf_cell_column_and_path_tag_live_in_one_module():
    """One IVF cell-map shape and one path tag: the private IVF cell column
    (which callers had to rename ``cid`` into) may appear only in
    operators/similarity.py, and the resolve + md5 directory-tag recipe
    only in ``catalog.path_tag``."""
    import re
    from pathlib import Path

    import custom_python_etl_data_connector_rohitharumugams_spark as pkg

    root = Path(pkg.__file__).parent
    package = {p: p.read_text() for p in sorted(root.rglob("*.py"))}
    tests = {p: p.read_text() for p in sorted(Path(__file__).parent.rglob("*.py"))}
    cell = "__" + "ivf_cell"  # split so this file does not match itself
    resolve = re.compile(r"realpath\(|\.resolve\(\)")
    offenders = [
        f"{p}: {cell}"
        for p, text in {**package, **tests}.items()
        if p != root / "operators" / "similarity.py" and cell in text
    ] + [
        f"{p}: md5 of a resolved path"
        for p, text in package.items()
        if p != root / "catalog.py" and "hashlib.md5(" in text and resolve.search(text)
    ]
    assert offenders == []


@pytest.mark.parametrize(
    "phys_gb, heap",
    [(16, "8192m"), (256, "65536m")],
)
def test_driver_heap_is_half_of_ram_capped_at_64g(phys_gb, heap):
    """The driver heap comes from the host: half of physical RAM (a 16 GB
    host must not get a heap its kernel OOM-kills), capped at 64 GB."""
    from custom_python_etl_data_connector_rohitharumugams_spark.session import driver_heap

    assert driver_heap(phys_gb << 30) == heap
