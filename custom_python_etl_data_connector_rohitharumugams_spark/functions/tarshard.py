"""WebDataset-style TAR shard ingest: the archive shape large training
corpora actually arrive in — one ``.tar`` per shard, each SAMPLE a group
of same-basename members (``{key}.txt`` raw text, ``{key}.json``
metadata, ``{key}.bin`` opaque media payload), keys zero-padded so a
plain sort is sample order (the public WebDataset convention).

Mirrors the NPY/NPZ landing tier (functions/npy.py): closed-form
synthesis so a DuckDB oracle can state every decoded value a priori, a
stdlib-only walk (``tarfile``) on the decode side, and CONTAINED hostile
handling — a payload that is not a tar yields no rows; a sample missing
a member, failing UTF-8/JSON decode, or declaring an over-cap member
size yields no row for that sample while its shard-mates still land.

Deviation from strict WebDataset, stated: samples are grouped by KEY
across the whole archive rather than requiring members to be adjacent —
strictly more forgiving, identical on conforming shards.

Scale shape: one tar per task row; the 1->N sample expansion happens
inside an Arrow-batched ``mapInPandas``, so shard count is the
parallelism unit (same small-file posture as the GIF/NPY landings:
compaction, not splitting, is the 100 TB lever, and the decoder never
materializes more than one archive per loop step).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from .multimodal import _synth, map_rows

#: Ceiling on a single tar member's DECLARED size, checked against
#: ``TarInfo.size`` before any read — a hostile header advertising a
#: huge member takes the contained no-row path, not an executor OOM
#: (same discipline as npy._MAX_NPZ_MEMBER_BYTES).
_MAX_TAR_MEMBER_BYTES = 64 << 20

#: members every sample must carry, by extension
_SAMPLE_EXTS = ("txt", "json", "bin")


def _tar_samples(k: int) -> int:
    return 2 + k % 3


def _tar_text_chars(k: int, j: int) -> int:
    return 10 + (k + j) % 7


def _tar_label(k: int, j: int) -> int:
    return (k * 7 + j) % 13


def _tar_bin_len(j: int) -> int:
    return 16 + (j % 4) * 8


def _tar_bin_byte(k: int, j: int, i: int) -> int:
    return (k * 3 + j * 5 + i) % 251


def synth_tar_shards(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """(shard_id, data) with REAL tar payloads built by stdlib
    ``tarfile``: shard ``k`` holds ``2 + k % 3`` samples, each a
    ``{key}.txt`` / ``{key}.json`` / ``{key}.bin`` triple with
    ``key = zero-padded k*100+j`` — members emitted in sorted key order,
    the conforming WebDataset layout."""
    import io
    import json
    import tarfile

    def build(k: int) -> bytes:
        buf = io.BytesIO()
        with tarfile.open(fileobj=buf, mode="w") as tf:
            for j in range(_tar_samples(k)):
                key = f"{k * 100 + j:08d}"
                members = {
                    f"{key}.txt": b"t" * _tar_text_chars(k, j),
                    f"{key}.json": json.dumps({"label": _tar_label(k, j)}).encode("ascii"),
                    f"{key}.bin": bytes(
                        _tar_bin_byte(k, j, i) for i in range(_tar_bin_len(j))
                    ),
                }
                for name, body in members.items():
                    ti = tarfile.TarInfo(name=name)
                    ti.size = len(body)
                    tf.addfile(ti, io.BytesIO(body))
        return buf.getvalue()

    return _synth(df, id_col, build, key="shard_id")


TAR_DECODED_DDL = (
    "shard_id long, sample_id long, text_chars long, label long, "
    "bin_len long, bin_sum long"
)


TAR_MANIFEST_DDL = "shard_id long, path string, n_samples long, n_bytes long"


def write_tar_shards(
    df: DataFrame,
    out_dir: str,
    shard_col: str = "shard_id",
    sample_col: str = "sample_id",
    text_col: str = "text",
    meta_col: str = "meta",
    payload_col: str = "payload",
) -> DataFrame:
    """The WRITE side of the WebDataset tier: group samples by shard and
    emit one conforming ``.tar`` per shard — members in sorted key order,
    ``{key}.txt`` utf-8 text, ``{key}.json`` metadata (already a JSON
    string), ``{key}.bin`` opaque payload — plus a manifest row per shard
    (path, sample count, byte size). This is how a training pipeline
    SHIPS a built corpus: the shard is the unit downstream loaders
    stream, and the manifest is the commit record (same role as
    sources/shardsink's manifest).

    Plan shape: one shuffle on the shard key (``applyInPandas`` group =
    shard), each task writes its archive atomically (tmp + rename, the
    landing-dir discipline) to ``out_dir`` — executor-local in tests,
    a shared filesystem in production — and returns only the
    kilobyte-scale manifest row; sample bytes never revisit the driver.
    Shard sizing is the caller's partitioning decision, exactly like
    every other sink."""
    import json
    import os

    import pandas as pd

    os.makedirs(out_dir, exist_ok=True)

    def build(pdf: pd.DataFrame) -> pd.DataFrame:
        import io
        import tarfile

        sid = int(pdf[shard_col].iloc[0])
        buf = io.BytesIO()
        n = 0
        with tarfile.open(fileobj=buf, mode="w") as tf:
            for _, row in pdf.sort_values(sample_col).iterrows():
                key = f"{int(row[sample_col]):012d}"
                text = row[text_col] if row[text_col] is not None else ""
                # meta is BY CONTRACT already a JSON string; a NULL meta
                # writes the JSON literal "null" (not Python's repr), so
                # the member stays parseable and the decode side drops
                # the sample through its normal no-label containment
                meta = row[meta_col] if row[meta_col] is not None else "null"
                members = {
                    f"{key}.txt": str(text).encode("utf-8"),
                    f"{key}.json": str(meta).encode("utf-8"),
                    f"{key}.bin": bytes(row[payload_col] or b""),
                }
                for name, body in members.items():
                    ti = tarfile.TarInfo(name=name)
                    ti.size = len(body)
                    tf.addfile(ti, io.BytesIO(body))
                n += 1
        data = buf.getvalue()
        # the driver-side makedirs above only covers single-node runs; on
        # a cluster each executor writes to ITS view of out_dir, so the
        # sink must be self-contained per task (idempotent, race-safe)
        os.makedirs(out_dir, exist_ok=True)
        path = os.path.join(out_dir, f"doc_{sid:05d}.tar")
        tmp = f"{path}.tmp.{os.getpid()}"
        with open(tmp, "wb") as f:
            f.write(data)
        os.replace(tmp, path)  # atomic: a reader never sees a partial tar
        return pd.DataFrame(
            {
                "shard_id": pd.Series([sid], dtype="int64"),
                "path": [path],
                "n_samples": pd.Series([n], dtype="int64"),
                "n_bytes": pd.Series([len(data)], dtype="int64"),
            }
        )

    cols = [shard_col, sample_col, text_col, meta_col, payload_col]
    return (
        df.select(*cols).groupBy(shard_col).applyInPandas(build, TAR_MANIFEST_DDL)
    )


def decode_tar_shards(df: DataFrame) -> DataFrame:
    """Walk each (shard_id, data) tar payload and emit one exact-integer
    feature row per complete sample: text length, the JSON ``label``,
    and the media member's length and byte sum. Containment ladder:
    archive not a tar / truncated index -> no rows for the shard; sample
    missing any of the three members, member over the declared-size cap,
    text not UTF-8, or metadata not a JSON object with an integer
    ``label`` -> no row for that sample only.

    Grouping is by the key STRING (the WebDataset identity): two members
    whose keys differ only in zero-padding ("1" vs "001") are two
    distinct samples that decode to the same integer ``sample_id`` — a
    hostile archive can thus emit duplicate sample_ids, which downstream
    aggregation keys on (shard_id, sample_id) like any other dirty-input
    row; conforming writers (write_tar_shards) pad to a fixed width so
    the case never arises on their output."""
    import io
    import json
    import tarfile

    def decode(sid: int, raw: bytes):
        samples: dict[str, dict[str, bytes]] = {}
        with tarfile.open(fileobj=io.BytesIO(raw), mode="r:") as tf:
            for ti in tf:
                if not ti.isfile() or "." not in ti.name:
                    continue
                key, ext = ti.name.rsplit(".", 1)
                if ext not in _SAMPLE_EXTS:
                    continue
                m = samples.setdefault(key, {})
                if m.get(ext, b"") is None:
                    # poison is STICKY: a later same-name member must not
                    # resurrect a sample a bomb/truncation already condemned
                    continue
                if ti.size > _MAX_TAR_MEMBER_BYTES:
                    # poison the sample: a bomb-declared member must not be
                    # read AND must not leave a partial-looking sample behind
                    m[ext] = None
                    continue
                fo = tf.extractfile(ti)
                if fo is None:
                    continue
                body = fo.read()
                if len(body) != ti.size:  # truncated payload
                    m[ext] = None
                    continue
                # duplicate healthy names: last wins, the same resolution
                # tarfile.extract applies
                m[ext] = body
        for key in sorted(samples):
            m = samples[key]
            if any(m.get(e) is None for e in _SAMPLE_EXTS):
                continue
            try:
                text = m["txt"].decode("utf-8")
                meta = json.loads(m["json"].decode("utf-8"))
                label = meta["label"]
                if not isinstance(label, int) or isinstance(label, bool):
                    continue
                sample_id = int(key)
            except (UnicodeDecodeError, ValueError, KeyError, TypeError):
                continue
            body = m["bin"]
            yield sid, sample_id, len(text), int(label), len(body), int(sum(body))

    return map_rows(df.select("shard_id", "data"), decode, TAR_DECODED_DDL, contain=True)
