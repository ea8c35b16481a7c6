"""NPY embedding-shard ingestion — the numpy ``.npy`` container as a real
landing format, parsed with a hand-rolled header decoder over Arrow batches.

Embedding corpora ship as ``.npy``/``.npz`` matrices at least as often as
parquet; this tier gives the engine the same treatment the image/audio
codecs got (functions/multimodal.py): payloads synthesized as REAL files
from a closed-form doc_id formula, decoded back by an actual format parser
— magic, version-dependent header length (v1: uint16, v2/3: uint32), the
Python-literal header dict, dtype check, C- vs Fortran-order layout — so
the SQL oracle pins every decoded number a priori, and a wrong byte
anywhere (header arithmetic, element order, truncated payload) breaks the
hash.

The decode runs as ``mapInArrow`` (the only tier that needs no pandas at
all): payload bytes arrive as a ``pyarrow.RecordBatch`` column, the matrix
comes out of ``np.frombuffer`` zero-copy, and the feature row returns as a
RecordBatch — bytes never leave Arrow representation on the Python side.

Values are small integers stored as float32 (exactly representable), so
integer sums over the decoded matrix are exact across engines. The
weighted checksum (r+1)(c+1)·v distinguishes C from Fortran misreads —
a transposed parse preserves the plain sum but not the weighted one.
"""

from __future__ import annotations

import ast
import struct
from collections.abc import Iterator

from pyspark.sql import DataFrame

from .multimodal import _synth

NPY_MAGIC = b"\x93NUMPY"
NPY_COLS = 8


def _npy_dims(doc_id: int) -> tuple[int, int]:
    """Closed-form shard shape: (4-8 rows, 8 dims)."""
    return 4 + doc_id % 5, NPY_COLS


def _npy_val(doc_id: int, r: int, c: int) -> int:
    """The matrix entry the oracle recomputes (0..100, exact in f32)."""
    return (doc_id * 13 + r * 7 + c * 3) % 101


def synth_npy(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """(doc_id, data) with REAL ``.npy`` payloads via ``numpy.save`` —
    every third document saves FORTRAN-ordered (``np.asfortranarray``), so
    the landing fixture exercises both layout branches of the parser
    under the same oracle."""
    import io

    import numpy as np

    def build(i: int) -> bytes:
        nr, nc = _npy_dims(i)
        m = np.array(
            [[_npy_val(i, r, c) for c in range(nc)] for r in range(nr)], dtype=np.float32
        )
        if i % 3 == 0:
            m = np.asfortranarray(m)
        buf = io.BytesIO()
        np.save(buf, m)
        return buf.getvalue()

    return _synth(df, id_col, build)


def _parse_npy(raw: bytes, descr: str = "<f4", ndim: int = 2):
    """(array as np.ndarray[int64]) or None for out-of-contract bytes.

    Real format walk per the NEP-1 spec: 6-byte magic, (major, minor)
    version, v1 uint16 / v2+ uint32 little-endian header length, ASCII
    Python-literal header dict with exactly descr/fortran_order/shape,
    then the raw element stream. Only the caller-declared (descr, ndim)
    payloads are in contract; anything else — wrong magic, truncated
    header or data, exotic dtype, unexpected rank — is contained (no
    row), the same hostile-content posture as every multimodal codec."""
    import numpy as np

    try:
        if raw[:6] != NPY_MAGIC:
            return None
        major = raw[6]
        if major in (1,):
            (hlen,) = struct.unpack_from("<H", raw, 8)
            off = 10
        elif major in (2, 3):
            (hlen,) = struct.unpack_from("<I", raw, 8)
            off = 12
        else:
            return None
        header = ast.literal_eval(raw[off : off + hlen].decode("ascii"))
        if header.get("descr") != descr or len(header.get("shape", ())) != ndim:
            return None
        shape = header["shape"]
        count = 1
        for d in shape:
            count *= d
        data = np.frombuffer(raw, dtype=descr, count=count, offset=off + hlen)
        if data.size != count:
            return None
        order = "F" if header.get("fortran_order") else "C"
        return data.reshape(shape, order=order).astype(np.int64)
    except (
        ValueError,
        SyntaxError,
        IndexError,
        struct.error,
        KeyError,
        TypeError,  # header literal is a non-dict, or shape holds non-ints
        AttributeError,  # header literal parsed but is not a mapping
    ):
        return None


NPY_DECODED_DDL = (
    "doc_id long, n_rows long, n_cols long, value_sum long, weighted_sum long"
)


def decode_npy(df: DataFrame) -> DataFrame:
    """REAL ``.npy`` parse over ``mapInArrow``: header walk + zero-copy
    ``np.frombuffer``, no pandas anywhere. Exact-integer outputs: the
    element sum and the layout-sensitive (r+1)(c+1) weighted sum."""
    import numpy as np
    import pyarrow as pa

    src = df.select("doc_id", "data")
    out_schema = pa.schema(
        [
            ("doc_id", pa.int64()),
            ("n_rows", pa.int64()),
            ("n_cols", pa.int64()),
            ("value_sum", pa.int64()),
            ("weighted_sum", pa.int64()),
        ]
    )

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for rb in batches:
            ids = rb.column("doc_id")
            payloads = rb.column("data")
            out = {k: [] for k in ("doc_id", "n_rows", "n_cols", "value_sum", "weighted_sum")}
            for i in range(rb.num_rows):
                if not ids[i].is_valid or not payloads[i].is_valid:
                    continue
                m = _parse_npy(payloads[i].as_py())
                if m is None:
                    continue
                nr, nc = m.shape
                rw = np.arange(1, nr + 1, dtype=np.int64)[:, None]
                cw = np.arange(1, nc + 1, dtype=np.int64)[None, :]
                out["doc_id"].append(ids[i].as_py())
                out["n_rows"].append(nr)
                out["n_cols"].append(nc)
                out["value_sum"].append(int(m.sum()))
                out["weighted_sum"].append(int((m * rw * cw).sum()))
            yield pa.RecordBatch.from_pydict(out, schema=out_schema)

    return src.mapInArrow(run, schema=NPY_DECODED_DDL)


#: npz shard parameters: shard k holds 3 + k%4 vectors of NPY_COLS dims;
#: vector j's id is k*100+j and entry (j, c) is the closed-form value below
def _npz_rows(k: int) -> int:
    return 3 + k % 4


def _npz_val(k: int, j: int, c: int) -> int:
    return (k * 11 + j * 5 + c * 2) % 97


def synth_npz(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """(shard_id, data) with REAL ``.npz`` payloads — ``numpy.savez``
    writes a genuine ZIP container holding two named members, ``ids.npy``
    (int64 vector) and ``vecs.npy`` (float32 matrix): the id-aligned
    embedding-shard shape training pipelines actually exchange."""
    import io

    import numpy as np

    def build(k: int) -> bytes:
        n = _npz_rows(k)
        ids = np.array([k * 100 + j for j in range(n)], dtype=np.int64)
        vecs = np.array(
            [[_npz_val(k, j, c) for c in range(NPY_COLS)] for j in range(n)],
            dtype=np.float32,
        )
        buf = io.BytesIO()
        np.savez(buf, ids=ids, vecs=vecs)
        return buf.getvalue()

    return _synth(df, id_col, build, key="shard_id")


NPZ_DECODED_DDL = "shard_id long, vec_id long, value_sum long, weighted_sum long"

# Ceiling on a single NPZ member's DECLARED (uncompressed) size, checked
# against ZipInfo.file_size before any inflate call. Fixture members are
# a few KB; real embedding shards are partition-sized, so 64 MiB bounds
# the per-row decode well under an Arrow batch's memory envelope.
_MAX_NPZ_MEMBER_BYTES = 64 << 20


def decode_npz(df: DataFrame) -> DataFrame:
    """REAL ``.npz`` container walk over ``mapInArrow``: stdlib
    ``zipfile`` opens the archive, both members run through the same
    NPY header parser as the single-array tier (`_parse_npy` — ids as
    ``<i8``/1-D, vectors as ``<f4``/2-D), and each id-aligned vector
    emits one exact-integer feature row. Containment: a payload that is
    not a zip, lacks either member, fails either member's parse, or
    whose members disagree on row count yields no rows."""
    import io
    import zipfile
    import zlib

    import numpy as np
    import pyarrow as pa

    src = df.select("shard_id", "data")
    out_schema = pa.schema(
        [
            ("shard_id", pa.int64()),
            ("vec_id", pa.int64()),
            ("value_sum", pa.int64()),
            ("weighted_sum", pa.int64()),
        ]
    )

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for rb in batches:
            sids = rb.column("shard_id")
            payloads = rb.column("data")
            out = {k: [] for k in ("shard_id", "vec_id", "value_sum", "weighted_sum")}
            for i in range(rb.num_rows):
                if not sids[i].is_valid or not payloads[i].is_valid:
                    continue
                try:
                    with zipfile.ZipFile(io.BytesIO(payloads[i].as_py())) as z:
                        infos = {zi.filename: zi for zi in z.infolist()}
                        if not {"ids.npy", "vecs.npy"} <= set(infos):
                            continue
                        # declared-size bound BEFORE inflating: a hostile
                        # central directory advertising a huge member (a
                        # zip bomb) must take the contained no-row path,
                        # not an executor OOM — same discipline as
                        # _parse_bmp_header's len(raw) bound.
                        if any(
                            infos[n].file_size > _MAX_NPZ_MEMBER_BYTES
                            for n in ("ids.npy", "vecs.npy")
                        ):
                            continue
                        ids = _parse_npy(z.read("ids.npy"), descr="<i8", ndim=1)
                        vecs = _parse_npy(z.read("vecs.npy"), descr="<f4", ndim=2)
                except (zipfile.BadZipFile, OSError, zlib.error):
                    # zlib.error: central directory intact but a member's
                    # deflate stream is corrupt — z.read() is the first
                    # point that actually inflates the bytes
                    continue
                if ids is None or vecs is None or len(ids) != vecs.shape[0]:
                    continue
                cw = np.arange(1, vecs.shape[1] + 1, dtype=np.int64)[None, :]
                sums = vecs.sum(axis=1)
                wsums = (vecs * cw).sum(axis=1)
                sid = sids[i].as_py()
                for j in range(len(ids)):
                    out["shard_id"].append(sid)
                    out["vec_id"].append(int(ids[j]))
                    out["value_sum"].append(int(sums[j]))
                    out["weighted_sum"].append(int(wsums[j]))
            yield pa.RecordBatch.from_pydict(out, schema=out_schema)

    return src.mapInArrow(run, schema=NPZ_DECODED_DDL)
