"""Multimodal column convention (SURVEY.md L5): image/audio/video payloads
travel as an opaque ``binary`` column plus a typed metadata struct; decode /
feature-extraction runs as Arrow-batched ``mapInPandas``.

EVERY FORMAT-SPECIFIC TIER RUNS A REAL CODEC: :func:`decode_wav`
parses genuine RIFF/WAVE PCM16 audio (stdlib ``wave``),
:func:`decode_bmp` genuine 24-bit BMP (bottom-up BGR rows, per-row
padding), :func:`extract_avi_frames` genuine RIFF/AVI containers
(nested LISTs, avih header, even-byte chunk padding),
:func:`decode_png` genuine PNG (CRC-verified chunk grammar, zlib
DEFLATE, full five-filter predictive reconstruction),
:func:`decode_jpeg` genuine baseline JPEG (Annex K Huffman tables, DC
prediction, zigzag, byte unstuffing, full IDCT — functions/jpeg.py),
:func:`decode_gif` genuine GIF89a (global color table, extension
skipping, variable-width LZW with resets and the KwKwK case), and
:func:`extract_mp4_samples` genuine ISO BMFF (box tree with largesize
escapes, stsc/stsz/stco sample-table demux).
Headers and full payload streams are actually decoded, and each
registered query's oracle pins the output against closed-form
expectations (payloads are synthesized as real files from a doc_id
formula, so every decoded number is a-priori checkable; the lossy JPEG
tier stays exact because block-constant inputs are DC-only).

The only remaining fake is the FORMAT-AGNOSTIC stand-in
(`_fake_decode_batch`) behind the generic ``media``-column queries
(multimodal_decode_features / multimodal_frame_sample), kept to pin the
Spark-side plumbing — schema, batch iteration, partition behavior, UDF
signature — independently of any codec; swapping in PIL/torchaudio
means replacing ``_fake_decode_batch`` only.

Every per-row codec here and in the sibling media modules (npy, imagehash,
tarshard) runs through ONE payload map, :func:`map_rows`: one
``mapInPandas`` pass that skips empty batches and any input row holding a
NULL, hands ``fn`` the row's keys as ``int`` and payloads as ``bytes``,
materializes ``fn``'s output rows inside the ``try`` (a payload that fails
partway yields no rows), drops the rows of a payload whose ``fn`` raises
one of :data:`CORRUPT` when the caller asks for containment (every
decoder; never a synthesizer, whose bug must fail the task), and takes
the output names and dtypes from a DDL schema. Only ``decode_media``
(NULL payload -> NULL-metadata row) and ``spectral_features`` (one FFT
per batch) keep their own batch loops.
"""

from __future__ import annotations

import hashlib
import io
import struct
import tarfile
import wave
import zlib
from collections.abc import Callable, Iterable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    DataType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

#: what a decoder's ``fn`` raises on a corrupt payload — the union of the
#: codecs' failure modes. MemoryError and RecursionError stay out on
#: purpose: a decoder bounds its own allocations and nesting (see
#: extract_mp4_samples), so hitting either is a bug that fails the task.
CORRUPT = (
    ValueError,
    IndexError,
    EOFError,
    OSError,
    struct.error,
    zlib.error,
    wave.Error,
    tarfile.TarError,
)

_PANDAS_DTYPES = {"long": "int64", "integer": "int32", "boolean": "bool"}


def map_rows(
    src: DataFrame,
    fn: Callable[..., Iterable[tuple]],
    schema: str,
    *,
    contain: bool = False,
) -> DataFrame:
    """The one per-row payload map: ``fn(*row)`` over every row of ``src``
    (integer keys arrive as ``int``, binary payloads as ``bytes``), each
    call returning 0..N output rows as tuples in ``schema`` order.

    Empty batches and rows holding a NULL are skipped. ``fn``'s rows are
    materialized inside the ``try``, so a payload that fails partway
    yields no rows; with ``contain=True`` a payload whose ``fn`` raises
    one of :data:`CORRUPT` yields none instead of failing the task.
    ``schema`` is a DDL string; the output frame takes its column names
    and dtypes from it."""
    convert = [bytes if isinstance(f.dataType, BinaryType) else int for f in src.schema]
    cols = [
        (f.name, _PANDAS_DTYPES.get(f.dataType.typeName(), "object"))
        for f in DataType.fromDDL(schema)
    ]
    caught = CORRUPT if contain else ()

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            rows: list[tuple] = []
            for vals in zip(*(pdf[c] for c in pdf.columns)):
                if any(pd.isna(v) for v in vals):
                    continue
                try:
                    got = list(fn(*(c(v) for c, v in zip(convert, vals))))
                except caught:
                    continue
                rows += got
            yield pd.DataFrame(
                {
                    name: pd.Series([r[i] for r in rows], dtype=dtype)
                    for i, (name, dtype) in enumerate(cols)
                }
            )

    return src.mapInPandas(run, schema=schema)


def _synth(
    df: DataFrame, id_col: str, build: Callable[[int], bytes], key: str = "doc_id"
) -> DataFrame:
    """``(key, data)`` with one ``build(id)`` file per input id, born on
    the executors — the shape of every synthesizer below."""
    return map_rows(
        df.select(F.col(id_col).alias(key)),
        lambda k: [(k, build(k))],
        f"{key} long, data binary",
    )


#: the engine-wide media column convention
MEDIA_SCHEMA = StructType(
    [
        StructField("data", BinaryType(), nullable=False),
        StructField("mime", StringType(), nullable=False),
        StructField(
            "meta",
            StructType(
                [
                    StructField("n_bytes", LongType()),
                    StructField("width", IntegerType()),
                    StructField("height", IntegerType()),
                ]
            ),
        ),
    ]
)

DECODED_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("n_bytes", LongType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("checksum", LongType()),
    ]
)


def attach_media(df: DataFrame, text_col: str = "text", mime: str = "image/fake") -> DataFrame:
    """Wrap a column's UTF-8 bytes as a media struct (deterministic payload
    stand-in for real image/audio bytes)."""
    data = F.encode(F.col(text_col), "utf-8")
    meta = F.struct(
        F.length(data).cast("long").alias("n_bytes"),
        (F.length(data) % 640).cast("int").alias("width"),
        (F.length(data) % 480).cast("int").alias("height"),
    )
    return df.withColumn(
        "media", F.struct(data.alias("data"), F.lit(mime).alias("mime"), meta.alias("meta"))
    )


def _fake_decode_batch(pdf: pd.DataFrame) -> pd.DataFrame:
    """Deterministic stand-in for a codec: 'decodes' dimensions and a byte
    checksum from the payload. Replace with a real decoder in production.

    NULL payloads (a doc with no media) decode to NULL metadata — one null
    row anywhere in the corpus must not kill the whole decode job."""
    payloads = pdf["data"]
    n_bytes = payloads.map(lambda b: len(b) if b is not None else None)
    return pd.DataFrame(
        {
            "doc_id": pdf["doc_id"],
            "n_bytes": n_bytes.astype("Int64"),
            "width": (n_bytes % 640).astype("Int32"),
            "height": (n_bytes % 480).astype("Int32"),
            "checksum": payloads.map(
                lambda b: sum(b[:64]) % 1_000_000_007 if b is not None else None
            ).astype("Int64"),
        }
    )


def decode_media(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Arrow-batched decode over the media convention: mapInPandas keeps the
    payload off the driver and processes whole record batches per task."""
    src = df.select(F.col(id_col).alias("doc_id"), F.col("media.data").alias("data"))

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf):
                yield _fake_decode_batch(pdf)

    return src.mapInPandas(run, schema=DECODED_SCHEMA)


FRAME_SCHEMA = "doc_id long, frame_id int, n_bytes long, frame_md5 string"


def sample_frames(df: DataFrame, n_frames: int = 4, id_col: str = "doc_id") -> DataFrame:
    """Video-style frame sampling over the media convention: each payload
    splits into ``n_frames`` contiguous byte ranges ("frames"), one output
    row per frame — a 1->N Arrow batch expansion, the shape a real
    frame-extractor (ffmpeg/decord) produces. The fake extractor is
    deterministic byte slicing + md5, so the whole Python path gets a full
    oracle; payload bytes never leave the executors. A NULL id or a
    media-less doc yields no frames (map_rows' NULL skip)."""

    def frames(doc_id: int, payload: bytes):
        n = len(payload)
        for k in range(n_frames):
            frame = payload[k * n // n_frames : (k + 1) * n // n_frames]
            yield doc_id, k, len(frame), hashlib.md5(frame).hexdigest()

    src = df.select(F.col(id_col).alias("doc_id"), F.col("media.data").alias("data"))
    return map_rows(src, frames, FRAME_SCHEMA)


#: synthesized-WAV parameters: mono PCM16 at 8 kHz; frame count and the
#: integer waveform are closed-form functions of doc_id, so the REAL
#: decoder's output is a-priori computable by the SQL oracle
WAV_SAMPLE_RATE = 8000


def _wav_samples(doc_id: int) -> list[int]:
    """The deterministic int16 waveform for ``doc_id`` — shared between the
    synthesizer (writes it into a real WAV) and the oracle (recomputes it
    in SQL): n = 64 + doc_id % 37 samples of
    ((doc_id * 31 + i * 17) % 2003) - 1001."""
    n = 64 + doc_id % 37
    return [((doc_id * 31 + i * 17) % 2003) - 1001 for i in range(n)]


def _pcm16_wav(samples: list[int]) -> bytes:
    """A genuine mono PCM16 RIFF/WAVE file at ``WAV_SAMPLE_RATE`` — the
    stdlib ``wave`` writer's 44-byte canonical header + little-endian
    int16 frames. The one WAV writer of the audio tiers."""
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(WAV_SAMPLE_RATE)
        w.writeframes(struct.pack(f"<{len(samples)}h", *samples))
    return buf.getvalue()


def synth_wav(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """(doc_id, data) with REAL RIFF/WAVE PCM16 payloads — one genuine
    file per row, Arrow-batched so payload bytes are born on the
    executors and never touch the driver. This is the media INGEST
    boundary a production pipeline has anyway (bytes arrive from object
    storage); here the bytes are synthesized from ``_wav_samples`` so
    that decoding them is exactly checkable."""
    return _synth(df, id_col, lambda d: _pcm16_wav(_wav_samples(d)))


WAV_DECODED_SCHEMA = (
    "doc_id long, n_channels long, sample_rate long, n_frames long, "
    "peak long, sample_sum long"
)


def decode_wav(df: DataFrame) -> DataFrame:
    """REAL audio decode, Arrow-batched: stdlib ``wave`` parses each
    payload's RIFF header (channel count, sample rate, frame count) and
    the full PCM16 sample stream; peak amplitude and the exact integer
    sample sum come from the decoded waveform, not from any stored
    metadata. A NULL or unparseable payload yields no row rather than
    killing the batch (same containment contract as the corrupt-page
    channel). At 100 TB this is the multimodal scan shape: decode runs
    where the bytes live, one task per Arrow batch, and only the tiny
    feature row ever shuffles."""

    def decode(doc_id: int, payload: bytes):
        with wave.open(io.BytesIO(payload)) as r:
            nch, sr, n = r.getnchannels(), r.getframerate(), r.getnframes()
            vals = struct.unpack(f"<{n * nch}h", r.readframes(n))
        return [(doc_id, nch, sr, n, max(map(abs, vals), default=0), sum(vals))]

    return map_rows(df.select("doc_id", "data"), decode, WAV_DECODED_SCHEMA, contain=True)


#: two-tone synthesis parameters for the SPECTRAL tier: 64 samples (one
#: FFT frame), a dominant tone at an exact integer bin 1..24 and a quieter
#: secondary tone at bin 25..30 — integer bins mean zero spectral leakage,
#: so argmax/2nd-argmax of the real FFT magnitudes are closed-form in
#: doc_id and the SQL oracle can pin a genuine numpy.fft output
TONE_N_SAMPLES = 64
TONE_AMP_MAIN = 8000
TONE_AMP_SECOND = 3000


def _tone_bins(doc_id: int) -> tuple[int, int]:
    """(dominant_bin, second_bin) — disjoint ranges, both under the
    Nyquist bin 32, so the ranking is unambiguous a priori."""
    return 1 + doc_id % 24, 25 + doc_id % 6


def synth_wav_tones(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """(doc_id, data) with REAL RIFF/WAVE PCM16 payloads carrying a
    two-tone test signal: round(A1·sin(2π·k1·i/64) + A2·sin(2π·k2·i/64)).
    Same executor-side ``wave`` writer as synth_wav; int16 rounding
    injects at most 0.5 LSB of broadband noise (~2 units per FFT bin),
    four orders of magnitude under the tone magnitudes (A·N/2 = 256000),
    so the synthesized spectrum's top-2 ranking is exact, not merely
    probable."""
    import math

    def build(doc_id: int) -> bytes:
        k1, k2 = _tone_bins(doc_id)
        return _pcm16_wav(
            [
                int(
                    round(
                        TONE_AMP_MAIN * math.sin(2 * math.pi * k1 * i / TONE_N_SAMPLES)
                        + TONE_AMP_SECOND * math.sin(2 * math.pi * k2 * i / TONE_N_SAMPLES)
                    )
                )
                for i in range(TONE_N_SAMPLES)
            ]
        )

    return _synth(df, id_col, build)


SPECTRAL_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("n_frames", LongType()),
        StructField("n_bins", LongType()),
        StructField("dominant_bin", LongType()),
        StructField("dominant_hz", LongType()),
        StructField("second_bin", LongType()),
        StructField("second_hz", LongType()),
    ]
)


def spectral_features(df: DataFrame) -> DataFrame:
    """REAL frequency-domain feature extraction, Arrow-batched: stdlib
    ``wave`` decodes each PCM16 payload, ``numpy.fft.rfft`` computes the
    one-sided spectrum over the whole clip, and the top-2 magnitude bins
    (DC excluded) plus their physical frequencies come out as the feature
    row. This is the audio analog of the image feature tiers — the compute
    a training pipeline runs to tag audio shards with pitch/bandwidth
    metadata before mixing. Decode + FFT run where the bytes live; only
    the 7-column feature row shuffles. Containment contract matches
    decode_wav: NULL / corrupt / sub-2-sample payloads yield no row.

    The whole batch FFTs as ONE vectorized numpy call when clip lengths
    agree (the synthesized-fixture fast path); ragged batches fall back to
    per-clip rfft."""
    import numpy as np

    src = df.select("doc_id", "data")
    hz_per_bin = WAV_SAMPLE_RATE  # scaled by 1/n per clip below

    def top2(mag) -> tuple[int, int]:
        # mag: one-sided magnitudes; ignore DC (bin 0)
        order = np.argsort(mag[1:])[::-1]
        return int(order[0]) + 1, int(order[1]) + 1

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            ids, waves = [], []
            pdf = pdf.dropna()  # a NULL id or payload yields no row
            for doc_id, payload in zip(pdf["doc_id"], pdf["data"]):
                try:
                    with wave.open(io.BytesIO(payload)) as r:
                        if r.getnchannels() != 1 or r.getsampwidth() != 2:
                            continue  # the spectral tier is mono-PCM16 only
                        n = r.getnframes()
                        vals = struct.unpack(f"<{n}h", r.readframes(n))
                except (wave.Error, struct.error, EOFError):
                    continue
                if len(vals) < 4:
                    continue  # no meaningful spectrum below 2 non-DC bins
                ids.append(int(doc_id))
                waves.append(np.asarray(vals, dtype=np.float64))
            if not ids:
                yield pd.DataFrame(
                    {f.name: pd.Series([], dtype="int64") for f in SPECTRAL_SCHEMA}
                )
                continue
            lens = {len(w) for w in waves}
            if len(lens) == 1:
                mags = np.abs(np.fft.rfft(np.vstack(waves), axis=1))
                pairs = [top2(m) for m in mags]
            else:
                pairs = [top2(np.abs(np.fft.rfft(w))) for w in waves]
            n_frames = [len(w) for w in waves]
            out = pd.DataFrame(
                {
                    "doc_id": ids,
                    "n_frames": n_frames,
                    "n_bins": [n // 2 + 1 for n in n_frames],
                    "dominant_bin": [p[0] for p in pairs],
                    "dominant_hz": [
                        p[0] * hz_per_bin // n for p, n in zip(pairs, n_frames)
                    ],
                    "second_bin": [p[1] for p in pairs],
                    "second_hz": [
                        p[1] * hz_per_bin // n for p, n in zip(pairs, n_frames)
                    ],
                }
            )
            yield out.astype("int64")

    return src.mapInPandas(run, schema=SPECTRAL_SCHEMA)


def _bmp_dims(doc_id: int) -> tuple[int, int]:
    """Closed-form image dimensions for ``doc_id`` (4-8 x 3-6 px)."""
    return 4 + doc_id % 5, 3 + doc_id % 4


def _bmp_pixel(doc_id: int, x: int, y: int, c: int) -> int:
    """Channel value (R,G,B = c 0,1,2) — the formula the oracle recomputes."""
    return (doc_id * 7 + y * 131 + x * 17 + c * 29) % 256


def _bmp_bytes(w: int, h: int, rgb: Callable[[int, int], tuple[int, int, int]]) -> bytes:
    """A genuine uncompressed 24-bit BMP of the ``w x h`` image whose
    pixel ``(x, y)`` (y = 0 is the top row) is ``rgb(x, y) = (r, g, b)``:
    canonical BITMAPFILEHEADER + BITMAPINFOHEADER, then bottom-up rows in
    on-disk B, G, R order, each padded to 4 bytes. The one BMP writer of
    the image tiers (synth, resize, dHash)."""
    stride = ((w * 3 + 3) // 4) * 4
    img_size = stride * h
    rows = []
    for y in range(h - 1, -1, -1):  # BMP rows are bottom-up
        row = bytearray()
        for x in range(w):
            r, g, b = rgb(x, y)
            row += bytes((b, g, r))
        rows.append(bytes(row) + b"\x00" * (stride - w * 3))
    head = struct.pack("<2sIHHI", b"BM", 54 + img_size, 0, 0, 54)
    info = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, img_size, 2835, 2835, 0, 0)
    return head + info + b"".join(rows)


def synth_bmp(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """(doc_id, data) with REAL uncompressed 24-bit BMP payloads
    (:func:`_bmp_bytes`), Arrow-batched on the executors. Pixels come from
    ``_bmp_pixel`` so decoding them is exactly checkable."""

    def build(doc_id: int) -> bytes:
        return _bmp_bytes(
            *_bmp_dims(doc_id),
            lambda x, y: tuple(_bmp_pixel(doc_id, x, y, c) for c in range(3)),
        )

    return _synth(df, id_col, build)


def _parse_bmp_header(raw: bytes):
    """Shared containment gate for every BMP consumer (decode_bmp,
    resize_bmp): validates magic / header size / planes / 24-bit depth /
    positive dims and the pixel-array bounds, returning
    ``(w, h, off, stride)`` or ``None`` for anything malformed. ONE
    definition on purpose — two copies of these checks would let the
    resize and decode tiers silently diverge on what counts as corrupt
    (e.g. one later accepting top-down h<0 rows), so that resize could
    emit files its own downstream decoder rejects."""
    try:
        magic, _fsz, _r1, _r2, off = struct.unpack_from("<2sIHHI", raw, 0)
        hsz, w, h, planes, bpp = struct.unpack_from("<IiiHH", raw, 14)
    except struct.error:
        return None
    if magic != b"BM" or hsz != 40 or planes != 1 or bpp != 24 or h <= 0 or w <= 0:
        return None
    stride = ((w * 3 + 3) // 4) * 4
    if off + stride * h > len(raw):
        return None  # truncated pixel array
    return w, h, off, stride


#: the output of every image decoder that pins pixel layout by a checksum
IMAGE_DECODED_DDL = (
    "doc_id long, width long, height long, pixel_sum long, weighted_sum long"
)


def decode_bmp(df: DataFrame) -> DataFrame:
    """REAL image decode: parses the BMP file + info headers (magic, data
    offset, dimensions, planes, bit depth) and walks the pixel array with
    the format's actual layout rules — bottom-up row order and per-row
    padding that must be EXCLUDED from the pixel sum (including it is the
    classic BMP-parsing bug, and it breaks the oracle hash here). Returns
    (doc_id, width, height, pixel_sum). Corrupt or NULL payloads yield no
    row (same containment contract as decode_wav)."""

    def decode(doc_id: int, raw: bytes):
        parsed = _parse_bmp_header(raw)
        if parsed is None:
            return
        w, h, off, stride = parsed
        total = weighted = 0
        for yrow in range(h):
            base = off + yrow * stride
            row = raw[base : base + w * 3]  # pad excluded
            total += sum(row)
            # layout-pinning checksum: a plain sum is invariant under both
            # channel swap and vertical flip, so it cannot catch the two
            # classic BMP misreads. The weights break both symmetries:
            # channels R,G,B weigh 1,2,3 (on-disk order is B,G,R) and each
            # IMAGE row y — file rows are bottom-up, so y = h-1-yrow —
            # weighs (y+1)
            y = h - 1 - yrow
            for x in range(w):
                b, g, r = row[x * 3], row[x * 3 + 1], row[x * 3 + 2]
                weighted += (y + 1) * (1 * r + 2 * g + 3 * b)
        yield doc_id, w, h, total, weighted

    return map_rows(df.select("doc_id", "data"), decode, IMAGE_DECODED_DDL, contain=True)


def resize_bmp(df: DataFrame, factor: int = 2) -> DataFrame:
    """REAL image resize — image in, image out: parses each BMP payload
    with the same layout rules as :func:`decode_bmp` (magic, 24-bit
    depth, bottom-up rows, per-row padding), box-filters it ``factor x
    factor`` with stride ``factor`` (each output channel value is the
    INTEGER floor-mean of its box — exact arithmetic, so the oracle can
    recompute every output pixel a priori from the synth formula; odd
    edge rows/columns that don't fill a box are dropped, the standard
    no-padding pooling convention), and RE-ENCODES a genuine BMP of the
    resized image. The output of this operator feeds decode_bmp
    unchanged — resize fidelity is proven by running the real decoder on
    the resized file, not by trusting intermediate arrays.

    Containment matches the decode tier: corrupt/NULL payloads and
    images smaller than one box yield no row. Arrow-batched on
    executors; at 100 TB this is the thumbnail/downsample pass of a
    multimodal ingest pipeline — one narrow mapInPandas over the binary
    column, no shuffle, output strictly smaller than input."""
    if factor < 1:
        raise ValueError(f"factor must be >= 1, got {factor}")

    def resize(doc_id: int, raw: bytes):
        parsed = _parse_bmp_header(raw)
        if parsed is None:
            return
        w, h, off, stride = parsed
        rw, rh = w // factor, h // factor
        if rw < 1 or rh < 1:
            return
        # image-order rows (y=0 is top): file rows are bottom-up
        img = [
            raw[off + (h - 1 - y) * stride : off + (h - 1 - y) * stride + w * 3]
            for y in range(h)
        ]

        def pooled(X: int, Y: int, ch: int) -> int:
            # ch is the on-disk channel index: 0, 1, 2 = B, G, R
            s = 0
            for dy in range(factor):
                row = img[Y * factor + dy]
                for dx in range(factor):
                    s += row[(X * factor + dx) * 3 + ch]
            return s // (factor * factor)

        yield doc_id, _bmp_bytes(
            rw, rh, lambda X, Y: (pooled(X, Y, 2), pooled(X, Y, 1), pooled(X, Y, 0))
        )

    return map_rows(
        df.select("doc_id", "data"), resize, "doc_id long, data binary", contain=True
    )


def _avi_frames(doc_id: int) -> list[bytes]:
    """Closed-form raw frames for ``doc_id``: 3-5 frames of 16-24 bytes
    (odd lengths included ON PURPOSE — they make RIFF's even-byte chunk
    padding rule load-bearing in both the writer and the parser)."""
    n = 3 + doc_id % 3
    return [
        bytes(((doc_id * 13 + k * 7 + j * 3) % 256) for j in range(16 + (doc_id + k) % 9))
        for k in range(n)
    ]


def synth_avi(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """(doc_id, data) with REAL minimal AVI containers: RIFF('AVI ') with
    a structurally valid hdrl LIST (avih main header carrying the true
    frame count, strl/strh/strf video stream headers) and a movi LIST of
    raw '00db' frame chunks — stdlib struct only, Arrow-batched. This is
    the same RIFF chunk grammar WAV uses, exercised one level deeper
    (nested LISTs + per-chunk even-byte padding)."""

    def chunk(fourcc: bytes, data: bytes) -> bytes:
        pad = b"\x00" if len(data) % 2 else b""
        return fourcc + struct.pack("<I", len(data)) + data + pad

    def lst(listtype: bytes, payload: bytes) -> bytes:
        return chunk(b"LIST", listtype + payload)

    def build(doc_id: int) -> bytes:
        frs = _avi_frames(doc_id)
        w, h = 8, 6
        avih = struct.pack("<14I", 40000, 0, 0, 0x10, len(frs), 0, 1, 0, w, h, 0, 0, 0, 0)
        strh = struct.pack(
            "<4s4sIHHIIIIIIIIhhhh",
            b"vids", b"DIB ", 0, 0, 0, 0, 25, 1000, 0, len(frs),
            0, 0, 0, 0, 0, 0, 0,
        )
        strf = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, w * h * 3, 0, 0, 0, 0)
        hdrl = lst(
            b"hdrl",
            chunk(b"avih", avih) + lst(b"strl", chunk(b"strh", strh) + chunk(b"strf", strf)),
        )
        movi = lst(b"movi", b"".join(chunk(b"00db", f) for f in frs))
        body = b"AVI " + hdrl + movi
        return b"RIFF" + struct.pack("<I", len(body)) + body

    return _synth(df, id_col, build)


def extract_avi_frames(df: DataFrame) -> DataFrame:
    """REAL video-container frame extraction: a generic RIFF chunk walker
    (fourcc + LE size + data + pad-to-even) descends nested LISTs, reads
    the avih header's frame count, and emits one row per '00db' raw frame
    inside the movi LIST — (doc_id, frame_id, n_bytes, byte_sum,
    header_frames). Skipping the even-byte pad wrongly desynchronizes the
    walk on the first odd-sized frame, which the oracle's closed-form
    frame lengths make fatal. Corrupt or NULL payloads yield no rows
    (decode_wav's containment contract). This upgrades sample_frames'
    byte-slicing stand-in: the container grammar here is the real one."""

    def extract(doc_id: int, raw: bytes):
        if raw[:4] != b"RIFF" or raw[8:12] != b"AVI ":
            return
        riff_end = 8 + struct.unpack_from("<I", raw, 4)[0]
        if riff_end > len(raw):
            return  # truncated container
        header_frames = -1
        frames: list[bytes] = []

        def walk(pos: int, end: int, in_movi: bool) -> None:
            nonlocal header_frames
            while pos + 8 <= end:
                fourcc = raw[pos : pos + 4]
                size = struct.unpack_from("<I", raw, pos + 4)[0]
                data_start = pos + 8
                if data_start + size > end:
                    raise ValueError("chunk overruns container")
                if fourcc == b"LIST":
                    ltype = raw[data_start : data_start + 4]
                    walk(data_start + 4, data_start + size, ltype == b"movi")
                elif fourcc == b"avih":
                    header_frames = struct.unpack_from("<I", raw, data_start + 16)[0]
                elif in_movi and fourcc == b"00db":
                    frames.append(raw[data_start : data_start + size])
                pos = data_start + size + (size % 2)  # RIFF pad

        walk(12, riff_end, False)
        for k, fr in enumerate(frames):
            yield doc_id, k, len(fr), sum(fr), header_frames

    return map_rows(
        df.select("doc_id", "data"),
        extract,
        "doc_id long, frame_id long, n_bytes long, byte_sum long, header_frames long",
        contain=True,
    )


# -- PNG: the COMPRESSED image tier, real codec (stdlib zlib) -----------------
# Unlike BMP (uncompressed), PNG scanlines pass through two real coding
# layers: per-row predictive FILTERS (None/Sub/Up/Average/Paeth) and a zlib
# DEFLATE stream. Both are implemented for real on both sides below; only
# DCT formats (JPEG) remain behind the disclosed fake.


def _png_dims(doc_id: int) -> tuple[int, int]:
    """Closed-form image dimensions for ``doc_id`` (3-8 x 2-6 px)."""
    return 3 + doc_id % 6, 2 + doc_id % 5


def _png_pixel(doc_id: int, x: int, y: int, c: int) -> int:
    """Channel value (R,G,B = c 0,1,2) — the formula the oracle recomputes."""
    return (doc_id * 11 + y * 61 + x * 23 + c * 37) % 256


def _paeth(a: int, b: int, c: int) -> int:
    """The PNG Paeth predictor (spec section 9, Filtering)."""
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    if pb <= pc:
        return b
    return c


def synth_png(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """(doc_id, data) with REAL PNG payloads: signature, IHDR (8-bit
    truecolor), zlib-compressed IDAT, IEND — every chunk carrying its
    real CRC32. Each scanline is predictively FILTERED before
    compression, cycling through all five PNG filter types with
    ``(y + doc_id) % 5`` so every filter is exercised across the corpus;
    the zlib stream is deliberately split across TWO IDAT chunks at an
    odd offset, making the decoder's IDAT concatenation load-bearing.
    Built with stdlib struct+zlib only, Arrow-batched on executors."""

    def chunk(ctype: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data))
            + ctype
            + data
            + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
        )

    def build(doc_id: int) -> bytes:
        w, h = _png_dims(doc_id)
        bpp = 3
        raw = bytearray()
        prev = bytes(w * bpp)
        for y in range(h):
            row = bytes(_png_pixel(doc_id, x, y, c) for x in range(w) for c in range(3))
            ftype = (y + doc_id) % 5
            raw.append(ftype)
            for i in range(len(row)):
                left = row[i - bpp] if i >= bpp else 0
                up = prev[i]
                ul = prev[i - bpp] if i >= bpp else 0
                if ftype == 0:
                    f = row[i]
                elif ftype == 1:
                    f = row[i] - left
                elif ftype == 2:
                    f = row[i] - up
                elif ftype == 3:
                    f = row[i] - ((left + up) >> 1)
                else:
                    f = row[i] - _paeth(left, up, ul)
                raw.append(f & 0xFF)
            prev = row
        z = zlib.compress(bytes(raw), 6)
        cut = min(5, len(z) - 1) or 1  # odd split -> 2 IDAT chunks
        ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
        return (
            b"\x89PNG\r\n\x1a\n"
            + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", z[:cut])
            + chunk(b"IDAT", z[cut:])
            + chunk(b"IEND", b"")
        )

    return _synth(df, id_col, build)


def decode_png(df: DataFrame) -> DataFrame:
    """REAL compressed-image decode: verifies the PNG signature, walks
    the chunk grammar verifying every CRC32, parses IHDR, concatenates
    all IDAT payloads, zlib-DECOMPRESSES the scanline stream, and undoes
    the per-row predictive filter (all five types: None/Sub/Up/Average/
    Paeth, reconstructed exactly per the PNG spec) before summing
    pixels. Returns (doc_id, width, height, pixel_sum, weighted_sum) —
    the same layout-pinning checksum contract as decode_bmp (channel
    weights break channel-swap, row weights break flips; a decoder that
    skips filter reconstruction or mis-concatenates IDAT breaks BOTH
    sums). Corrupt payloads (bad magic, CRC mismatch, truncated DEFLATE
    stream, bad IHDR) yield no row."""

    def decode(doc_id: int, raw: bytes):
        if raw[:8] != b"\x89PNG\r\n\x1a\n":
            return
        pos, ihdr, idat = 8, None, b""
        while pos + 8 <= len(raw):
            (ln,) = struct.unpack_from(">I", raw, pos)
            ctype = raw[pos + 4 : pos + 8]
            data = raw[pos + 8 : pos + 8 + ln]
            if len(data) != ln or pos + 12 + ln > len(raw):
                return
            (crc,) = struct.unpack_from(">I", raw, pos + 8 + ln)
            if zlib.crc32(ctype + data) & 0xFFFFFFFF != crc:
                return
            if ctype == b"IHDR":
                ihdr = data
            elif ctype == b"IDAT":
                idat += data
            elif ctype == b"IEND":
                break
            pos += 12 + ln
        if ihdr is None or len(ihdr) != 13:
            return
        w, h, depth, ctype_, comp, filt, inter = struct.unpack(">IIBBBBB", ihdr)
        if depth != 8 or ctype_ != 2 or comp or filt or inter:
            return
        bpp = 3
        stream = zlib.decompress(idat)
        if len(stream) != h * (1 + w * bpp):
            return
        total = weighted = 0
        prev = bytearray(w * bpp)
        for y in range(h):
            base = y * (1 + w * bpp)
            ftype = stream[base]
            row = bytearray(stream[base + 1 : base + 1 + w * bpp])
            for i in range(len(row)):
                left = row[i - bpp] if i >= bpp else 0
                up = prev[i]
                ul = prev[i - bpp] if i >= bpp else 0
                if ftype == 1:
                    row[i] = (row[i] + left) & 0xFF
                elif ftype == 2:
                    row[i] = (row[i] + up) & 0xFF
                elif ftype == 3:
                    row[i] = (row[i] + ((left + up) >> 1)) & 0xFF
                elif ftype == 4:
                    row[i] = (row[i] + _paeth(left, up, ul)) & 0xFF
                elif ftype != 0:
                    raise ValueError("bad filter type")
            total += sum(row)
            for x in range(w):
                for c in range(3):
                    weighted += (y + 1) * (c + 1) * row[x * bpp + c]
            prev = row
        yield doc_id, w, h, total, weighted

    return map_rows(df.select("doc_id", "data"), decode, IMAGE_DECODED_DDL, contain=True)


# -- JPEG: the DCT image tier, real codec (functions/jpeg.py) -----------------
# The last multimodal tier to go real: baseline sequential JPEG with the
# standard Annex K Huffman tables. The synthesized images are CONSTANT PER
# 8x8 BLOCK, which is what makes a LOSSY codec sit under an exact oracle:
# a constant block's DCT has only its DC coefficient, and the quant table's
# DC divisor (8) exactly divides the DCT DC gain (8), so quantize ->
# dequantize -> IDCT reconstructs every pixel bit-exactly — while the
# Huffman coding, DC-prediction chain, zigzag, byte stuffing, and the full
# (not DC-shortcut) IDCT all remain real and load-bearing.


def _jpeg_blocks(doc_id: int) -> tuple[int, int]:
    """Closed-form block-grid dims for ``doc_id`` (1-3 x 1-2 blocks)."""
    return 1 + doc_id % 3, 1 + doc_id % 2


def _jpeg_block_val(doc_id: int, bx: int, by: int) -> int:
    """Gray value of block (bx, by) — the formula the oracle recomputes."""
    return (doc_id * 19 + bx * 37 + by * 53) % 256


def synth_jpeg(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """(doc_id, data) with REAL baseline JPEG payloads: SOI/JFIF/DQT/
    SOF0/DHT/SOS/EOI markers, standard Annex K luminance Huffman tables,
    forward DCT + quantization + zigzag + DC-diff entropy coding with
    0xFF byte stuffing (functions/jpeg.encode_gray_jpeg, stdlib+numpy
    only). Pixels are constant per 8x8 block from ``_jpeg_block_val``."""
    return _synth_gray_jpeg(
        df, id_col, lambda doc_id, x, y: _jpeg_block_val(doc_id, x // 8, y // 8)
    )


def _synth_gray_jpeg(
    df: DataFrame, id_col: str, pixel: Callable[[int, int, int], int]
) -> DataFrame:
    """(doc_id, data): one baseline gray JPEG per doc over the
    ``_jpeg_blocks`` grid, pixel ``(x, y)`` = ``pixel(doc_id, x, y)``."""
    from .jpeg import encode_gray_jpeg

    def build(doc_id: int) -> bytes:
        wb, hb = _jpeg_blocks(doc_id)
        w, h = wb * 8, hb * 8
        return encode_gray_jpeg(
            [pixel(doc_id, x, y) for y in range(h) for x in range(w)], w, h
        )

    return _synth(df, id_col, build)


def decode_jpeg(df: DataFrame) -> DataFrame:
    """REAL JPEG decode (functions/jpeg.decode_gray_jpeg): marker walk,
    DQT/SOF0/DHT parse, Huffman scan decode with byte UNstuffing and the
    DC prediction chain, dequantize, inverse zigzag, full 2-D IDCT,
    level shift + clamp. Returns (doc_id, width, height, pixel_sum,
    weighted_sum) where weighted weighs pixel (x, y) by (y+1)*(x+1) —
    constant-per-block images cannot pin within-block layout, but this
    pins BLOCK order, i.e. the MCU raster walk and the DC-diff chain
    (decode one block's DC wrong and every later block shifts). Corrupt
    payloads yield no row (same containment contract as the other
    decoders)."""
    from .jpeg import decode_gray_jpeg

    def decode(doc_id: int, raw: bytes):
        w, h, px = decode_gray_jpeg(raw)
        weighted = sum((y + 1) * (x + 1) * px[y * w + x] for y in range(h) for x in range(w))
        return [(doc_id, w, h, sum(px), weighted)]

    return map_rows(df.select("doc_id", "data"), decode, IMAGE_DECODED_DDL, contain=True)


#: Integer per-pixel error gate for the separable-ramp JPEG family:
#: floor(jpeg.separable_ramp_err_bound() + 0.5) — the +0.5 absorbs the
#: decoder's round-to-int, and the floor is valid because the measured
#: error is an integer. decode_jpeg_tolerance re-derives the analog
#: bound and refuses to run if this literal drifts from it (the same
#: literal is baked into the driver oracle's SQL, which cannot import
#: this module).
JPEG_RAMP_ERR_BOUND = 13


def _jpeg_ramp_val(doc_id: int, x: int, y: int) -> int:
    """Gray value of pixel (x, y) in the NON-block-constant JPEG family:
    a per-block base (mod 200, so base + 3*7 + 5*7 <= 255 — no wrap
    inside a block) plus a 3x+5y ramp within the block. Within-block
    SEPARABLE by construction, which is what makes the tolerance bound
    a theorem (jpeg.separable_ramp_err_bound) while the AC quantizers
    stay genuinely lossy — decode(encode(img)) != img here."""
    base = (doc_id * 19 + (x // 8) * 37 + (y // 8) * 53) % 200
    return base + 3 * (x % 8) + 5 * (y % 8)


def synth_jpeg_ramp(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """(doc_id, data) with REAL baseline JPEG payloads over the
    separable-ramp pixel family (``_jpeg_ramp_val``) — same codec as
    :func:`synth_jpeg` (functions/jpeg.encode_gray_jpeg), but the images
    are NOT block-constant, so every horizontal and vertical AC
    coefficient in row 0 / column 0 of each block is live and the
    encode is lossy: this is the corpus-like regime the exact-hash
    oracle cannot cover."""
    return _synth_gray_jpeg(df, id_col, _jpeg_ramp_val)


def decode_jpeg_tolerance(df: DataFrame) -> DataFrame:
    """TOLERANCE-oracle JPEG decode — the production-corpus form of
    :func:`decode_jpeg` for payloads where the roundtrip is lossy by
    design: run the full real decode (functions/jpeg.decode_gray_jpeg),
    regenerate the reference pixels from the doc_id formula, and gate
    the per-pixel error against the A-PRIORI bound
    ``JPEG_RAMP_ERR_BOUND`` (derived, not measured — see
    jpeg.separable_ramp_err_bound; the function refuses to run if the
    literal and the derivation drift). Returns (doc_id, width, height,
    orig_pixel_sum, err_bound, within_bound): orig_pixel_sum pins the
    synth formula, within_bound is the executable form of the DESIGN.md
    tolerance-oracle paragraph. Corrupt payloads yield no row (same
    containment contract as every decoder); a payload decoding to the
    wrong image trips within_bound, pytest-pinned."""
    import math

    from .jpeg import decode_gray_jpeg, separable_ramp_err_bound

    if math.floor(separable_ramp_err_bound() + 0.5) != JPEG_RAMP_ERR_BOUND:
        raise RuntimeError(
            "JPEG_RAMP_ERR_BOUND drifted from its derivation: literal "
            f"{JPEG_RAMP_ERR_BOUND}, derived "
            f"{separable_ramp_err_bound():.6f} (+0.5, floored)"
        )

    def decode(doc_id: int, raw: bytes):
        w, h, px = decode_gray_jpeg(raw)
        ref = [_jpeg_ramp_val(doc_id, x, y) for y in range(h) for x in range(w)]
        max_err = max((abs(a - b) for a, b in zip(px, ref)), default=0)
        return [
            (doc_id, w, h, sum(ref), JPEG_RAMP_ERR_BOUND, max_err <= JPEG_RAMP_ERR_BOUND)
        ]

    return map_rows(
        df.select("doc_id", "data"),
        decode,
        "doc_id long, width long, height long, orig_pixel_sum long, "
        "err_bound long, within_bound boolean",
        contain=True,
    )


# -- GIF: the palette + LZW tier, real codec ----------------------------------
# The one pixel model no other tier covers: INDEXED color (pixels are palette
# references, not channel samples) under a dictionary coder (LZW) rather than
# DEFLATE (PNG) or DCT+Huffman (JPEG). The LZW implementation is the GIF
# variant per the GIF89a spec (CompuServe 1990, public): variable code width
# 9->12 bits LSB-first, CLEAR/EOI codes, the KwKwK self-reference case, and
# mid-stream dictionary resets — all load-bearing and property-tested.


def _gif_dims(doc_id: int) -> tuple[int, int]:
    """Closed-form image dimensions for ``doc_id`` (3-9 x 2-6 px)."""
    return 3 + doc_id % 7, 2 + doc_id % 5


def _gif_index(doc_id: int, x: int, y: int) -> int:
    """Palette index of pixel (x, y) — the formula the oracle recomputes."""
    return (doc_id * 13 + y * 37 + x * 7) % 256


def _gif_palette_val(idx: int, c: int) -> int:
    """Channel value (R,G,B = c 0,1,2) of global-color-table entry ``idx``
    — injective enough per channel that palette misindexing breaks sums."""
    return (idx * (3 + 2 * c) + c) % 256


def _lzw_encode(
    indices: bytes, min_code_size: int = 8, clear_every: int | None = None
) -> bytes:
    """GIF-variant LZW: codes packed LSB-first at variable width starting
    at ``min_code_size + 1`` bits, bumped whenever the next free code no
    longer fits (cap 12 bits), leading CLEAR, trailing EOI.
    ``clear_every`` forces a dictionary reset every N table adds so the
    decoder's reset path is exercised by REAL corpus payloads, not only
    by tests (resets are spec-legal at any point; encoders emit them
    whenever their table strategy says so)."""
    clear = 1 << min_code_size
    eoi = clear + 1
    out = bytearray()
    buf = nbits = 0
    # The DECODER's width schedule is authoritative, so the encoder keeps
    # an explicit mirror of it: the decoder adds one table entry per data
    # code it reads EXCEPT the first after each clear (its add needs the
    # next code's first symbol, so it trails the encoder's own adds by
    # one), and bumps the width when its table length reaches 2^size.
    # Emitting at the encoder's own add count (the naive form) writes
    # every width-boundary code one bit wide; emitting at mirror state is
    # exact at every boundary INCLUDING the post-loop flush + EOI, where
    # the decoder still performs an add that can cross a boundary (found
    # by fuzzing at min_code_size < 8 — the round-trip property test now
    # sweeps 2..8).
    code_size = min_code_size + 1
    dec_len = eoi + 1  # decoder table length (roots + clear + eoi)
    first_after_clear = True

    def emit(code: int) -> None:
        nonlocal buf, nbits
        buf |= code << nbits
        nbits += code_size
        while nbits >= 8:
            out.append(buf & 0xFF)
            buf >>= 8
            nbits -= 8

    def emit_data(code: int) -> None:
        # emit at the decoder's CURRENT width, then advance its mirror
        nonlocal first_after_clear, dec_len, code_size
        emit(code)
        if first_after_clear:
            first_after_clear = False
        else:
            dec_len += 1
            if dec_len == (1 << code_size) and code_size < 12:
                code_size += 1

    def reset_mirror() -> None:
        nonlocal dec_len, code_size, first_after_clear
        dec_len = eoi + 1
        code_size = min_code_size + 1
        first_after_clear = True

    def fresh() -> dict[bytes, int]:
        return {bytes([i]): i for i in range(clear)}

    emit(clear)
    table = fresh()
    next_code = eoi + 1
    adds = 0
    w = b""
    for b in indices:
        wc = w + bytes([b])
        if wc in table:
            w = wc
            continue
        emit_data(table[w])
        table[wc] = next_code
        next_code += 1
        adds += 1
        w = bytes([b])
        if (clear_every and adds >= clear_every) or next_code == 4096:
            emit(clear)  # at the CURRENT width; both sides reset after it
            reset_mirror()
            table = fresh()
            next_code = eoi + 1
            adds = 0
    if w:
        emit_data(table[w])
    emit(eoi)
    if nbits:
        out.append(buf & 0xFF)
    return bytes(out)


def _lzw_decode(data: bytes, min_code_size: int, max_out: int) -> bytes:
    """GIF-variant LZW decode, strict: raises ValueError on truncated
    streams, codes beyond the table, a non-root first code, or output
    past ``max_out`` (corrupt streams must not balloon memory)."""
    clear = 1 << min_code_size
    eoi = clear + 1
    code_size = min_code_size + 1
    roots = [bytes([i]) for i in range(clear)] + [b"", b""]
    table = list(roots)
    buf = nbits = pos = 0
    out = bytearray()
    prev: bytes | None = None
    while True:
        while nbits < code_size:
            if pos >= len(data):
                raise ValueError("lzw: truncated code stream")
            buf |= data[pos] << nbits
            pos += 1
            nbits += 8
        code = buf & ((1 << code_size) - 1)
        buf >>= code_size
        nbits -= code_size
        if code == clear:
            table = list(roots)
            code_size = min_code_size + 1
            prev = None
            continue
        if code == eoi:
            return bytes(out)
        if prev is None:
            if code >= clear:
                raise ValueError("lzw: first code after clear is not a root")
            entry = table[code]
        else:
            if code < len(table):
                entry = table[code]
            elif code == len(table):
                entry = prev + prev[:1]  # the KwKwK self-reference case
            else:
                raise ValueError("lzw: code beyond table")
            table.append(prev + entry[:1])
            if len(table) == (1 << code_size) and code_size < 12:
                code_size += 1
        out += entry
        if len(out) > max_out:
            raise ValueError("lzw: more pixels than the image holds")
        prev = entry


def _gif_subblocks(data: bytes) -> bytes:
    """Wrap a byte stream in GIF data sub-blocks (<=255 bytes each,
    length-prefixed, zero-terminated)."""
    out = bytearray()
    for i in range(0, len(data), 255):
        chunk = data[i : i + 255]
        out.append(len(chunk))
        out += chunk
    out.append(0)
    return bytes(out)


def synth_gif(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """(doc_id, data) with REAL GIF89a payloads: logical screen
    descriptor, 256-entry global color table built from the palette
    formula, LZW-compressed (min code size 8) top-down index raster in
    proper data sub-blocks, trailer. Every third doc's encoder forces a
    dictionary reset every 16 adds (mid-stream CLEAR codes), and every
    fourth doc carries a Graphic Control Extension before the image —
    so the decoder's reset and extension-skip paths are load-bearing on
    the real corpus. Built with stdlib struct only, Arrow-batched."""
    gct = bytes(_gif_palette_val(i, c) for i in range(256) for c in range(3))

    def build(doc_id: int) -> bytes:
        w, h = _gif_dims(doc_id)
        indices = bytes(_gif_index(doc_id, x, y) for y in range(h) for x in range(w))
        lzw = _lzw_encode(indices, 8, clear_every=16 if doc_id % 3 == 0 else None)
        parts = [
            b"GIF89a",
            # packed 0xF7: GCT present, color res 7, 2^(7+1) entries
            struct.pack("<HHBBB", w, h, 0xF7, 0, 0),
            gct,
        ]
        if doc_id % 4 == 0:
            parts.append(b"\x21\xf9\x04\x00\x00\x00\x00\x00")
        parts += [
            b"\x2c" + struct.pack("<HHHHB", 0, 0, w, h, 0),
            b"\x08" + _gif_subblocks(lzw),
            b"\x3b",
        ]
        return b"".join(parts)

    return _synth(df, id_col, build)


def decode_gif(df: DataFrame) -> DataFrame:
    """REAL GIF decode: signature check, logical-screen-descriptor parse,
    global color table read, extension-block skipping (sub-block walk),
    image descriptor parse, full LZW decompression of the index raster,
    and palette lookup per pixel. Returns (doc_id, width, height,
    pixel_sum, weighted_sum) under the same layout-pinning contract as
    the other image tiers: weighted weighs channel c by (c+1) and image
    row y by (y+1), so palette channel swaps, row flips, and raster
    mis-walks all break the hash. Containment: corrupt payloads (bad
    magic, missing global color table, truncated sub-blocks, corrupt
    LZW streams, wrong pixel count, interlaced or local-palette images
    this decoder does not claim) yield no row."""

    def decode(doc_id: int, raw: bytes):
        if raw[:6] not in (b"GIF87a", b"GIF89a"):
            raise ValueError("gif: bad signature")
        w0, h0, packed, _bg, _ar = struct.unpack_from("<HHBBB", raw, 6)
        if not packed & 0x80:
            raise ValueError("gif: no global color table")
        gct_n = 2 << (packed & 0x07)
        pos = 13
        gct = raw[pos : pos + 3 * gct_n]
        if len(gct) != 3 * gct_n:
            raise ValueError("gif: truncated color table")
        pos += 3 * gct_n
        while True:
            if pos >= len(raw):
                raise ValueError("gif: no image block")
            block = raw[pos]
            pos += 1
            if block == 0x21:  # extension: label, then sub-blocks
                pos += 1
                while True:
                    if pos >= len(raw):
                        raise ValueError("gif: truncated extension")
                    n = raw[pos]
                    pos += 1 + n
                    if n == 0:
                        break
            elif block == 0x2C:
                break
            else:
                raise ValueError(f"gif: unexpected block 0x{block:02x}")
        _l, _t, w, h, ipacked = struct.unpack_from("<HHHHB", raw, pos)
        pos += 9
        if ipacked & 0xC0:
            raise ValueError("gif: local palette / interlace unsupported")
        if pos >= len(raw):
            raise ValueError("gif: missing lzw code size")
        min_code = raw[pos]
        pos += 1
        if not 2 <= min_code <= 8:
            raise ValueError("gif: bad lzw min code size")
        lzw = bytearray()
        while True:
            if pos >= len(raw):
                raise ValueError("gif: truncated image data")
            n = raw[pos]
            pos += 1
            if n == 0:
                break
            chunk = raw[pos : pos + n]
            if len(chunk) != n:
                raise ValueError("gif: truncated sub-block")
            lzw += chunk
            pos += n
        px = _lzw_decode(bytes(lzw), min_code, w * h)
        if len(px) != w * h:
            raise ValueError("gif: pixel count mismatch")
        total = weighted = 0
        for y in range(h):
            for x in range(w):
                idx = px[y * w + x]
                if idx >= gct_n:
                    raise ValueError("gif: index beyond palette")
                for c in range(3):
                    v = gct[idx * 3 + c]
                    total += v
                    weighted += (y + 1) * (c + 1) * v
        return [(doc_id, w, h, total, weighted)]

    return map_rows(df.select("doc_id", "data"), decode, IMAGE_DECODED_DDL, contain=True)


# -- MP4: the ISO BMFF container tier, real box walk --------------------------
# The second video-container grammar next to RIFF/AVI, and a genuinely
# different one: big-endian length-prefixed box tree (ISO/IEC 14496-12,
# public spec) with 64-bit largesize escapes, and — the real demux logic —
# sample extraction resolved through the stbl SAMPLE TABLE (stsc
# chunk-mapping x stsz sizes x stco absolute offsets) instead of frames
# sitting in named chunks. Files are written mdat-before-moov (the recorded-
# file layout), so the parser cannot cheat by streaming: it must read the
# table at the END of the file and seek back.


def _mp4_samples(doc_id: int) -> list[bytes]:
    """Closed-form samples for ``doc_id``: 3-5 samples of 12-18 bytes —
    the formula the oracle recomputes."""
    n = 3 + doc_id % 3
    return [
        bytes(
            ((doc_id * 7 + k * 31 + j * 11) % 256)
            for j in range(12 + (doc_id + k) % 7)
        )
        for k in range(n)
    ]


def synth_mp4(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """(doc_id, data) with REAL minimal ISO BMFF files: ftyp, an mdat
    holding the sample bytes (64-BIT LARGESIZE header on every even doc
    — the escape real muxers use past 4 GiB, so both header widths are
    load-bearing), and a trailing moov whose stbl carries the true
    sample table: stsd/stts, an stsc that maps the FIRST chunk to 2
    samples and a SECOND chunk to the rest (two entries — a constant
    one-chunk table would let a parser skip stsc resolution entirely),
    per-sample stsz, and absolute-offset stco. stdlib struct only,
    Arrow-batched."""

    def box(fourcc: bytes, payload: bytes) -> bytes:
        return struct.pack(">I", 8 + len(payload)) + fourcc + payload

    def full(fourcc: bytes, payload: bytes, version: int = 0) -> bytes:
        return box(fourcc, struct.pack(">I", version << 24) + payload)

    def build(doc_id: int) -> bytes:
        samples = _mp4_samples(doc_id)
        n = len(samples)
        body = b"".join(samples)
        ftyp = box(b"ftyp", b"isom" + struct.pack(">I", 512) + b"isommp42")
        if doc_id % 2 == 0:  # largesize escape: size=1 + u64
            mdat = struct.pack(">I", 1) + b"mdat" + struct.pack(">Q", 16 + len(body)) + body
            data_at = len(ftyp) + 16
        else:
            mdat = box(b"mdat", body)
            data_at = len(ftyp) + 8
        chunk2_at = data_at + sum(len(s) for s in samples[:2])
        stsd = full(
            b"stsd", struct.pack(">I", 1) + box(b"raw ", struct.pack(">6xH", 1) + bytes(8))
        )
        stts = full(b"stts", struct.pack(">III", 1, n, 40))
        stsc = full(
            b"stsc",
            struct.pack(">I", 2)
            + struct.pack(">III", 1, 2, 1)  # chunk 1: 2 samples
            + struct.pack(">III", 2, n - 2, 1),  # chunk 2: the rest
        )
        stsz = full(
            b"stsz",
            struct.pack(">II", 0, n) + b"".join(struct.pack(">I", len(s)) for s in samples),
        )
        stco = full(b"stco", struct.pack(">III", 2, data_at, chunk2_at))
        stbl = box(b"stbl", stsd + stts + stsc + stsz + stco)
        minf = box(b"minf", stbl)
        hdlr = full(b"hdlr", bytes(4) + b"vide" + bytes(12) + b"v\x00")
        mdhd = full(b"mdhd", struct.pack(">IIIIHH", 0, 0, 1000, 40 * n, 0x55C4, 0))
        mdia = box(b"mdia", mdhd + hdlr + minf)
        tkhd = full(b"tkhd", struct.pack(">III", 0, 0, 1) + bytes(68))
        mvhd = full(b"mvhd", struct.pack(">IIII", 0, 0, 1000, 40 * n) + bytes(80))
        moov = box(b"moov", mvhd + box(b"trak", tkhd + mdia))
        return ftyp + mdat + moov

    return _synth(df, id_col, build)


def extract_mp4_samples(df: DataFrame) -> DataFrame:
    """REAL ISO BMFF demux: walks the big-endian box tree (u32 size +
    fourcc, u64 largesize escape), recurses through moov/trak/mdia/minf/
    stbl, parses the sample table (stsz sizes, stsc chunk mapping, stco
    chunk offsets) and resolves every sample's ABSOLUTE byte range the
    way a real demuxer does: chunk i holds samples-per-chunk from the
    last stsc entry whose first_chunk <= i, samples laid consecutively
    from the chunk's stco offset. Emits (doc_id, sample_id, n_bytes,
    byte_sum, header_samples). A parser that ignores stsc and assumes
    one chunk reads the wrong bytes for every sample past the second —
    which the oracle's closed-form byte sums make fatal. Corrupt or NULL
    payloads (bad magic, truncated boxes, offsets past EOF, table count
    mismatches) yield no rows — the shared containment contract."""

    def demux(doc_id: int, raw: bytes):
        """One (doc_id, sample_id, n_bytes, byte_sum, header_samples) row
        per sample, resolved through the sample table."""
        tables: dict[bytes, bytes] = {}

        if len(raw) < 12 or raw[4:8] != b"ftyp":
            raise ValueError("mp4: no ftyp")
        # ITERATIVE box walk (explicit stack, not recursion): a hostile
        # file nesting thousands of 8-byte container headers would blow
        # the interpreter's recursion limit, and RecursionError is not a
        # containment-clause exception — the row must drop, not the task
        stack: list[tuple[int, int]] = [(0, len(raw))]
        while stack:
            pos, end = stack.pop()
            while pos < end:
                if pos + 8 > end:
                    raise ValueError("mp4: truncated box header")
                (size,) = struct.unpack_from(">I", raw, pos)
                fourcc = raw[pos + 4 : pos + 8]
                data_at = pos + 8
                if size == 1:
                    if pos + 16 > end:
                        raise ValueError("mp4: truncated largesize")
                    (size,) = struct.unpack_from(">Q", raw, pos + 8)
                    data_at = pos + 16
                if size < data_at - pos or pos + size > end:
                    raise ValueError("mp4: box overruns container")
                if fourcc in (b"moov", b"trak", b"mdia", b"minf", b"stbl"):
                    stack.append((pos + size, end))  # resume after the box
                    end = pos + size  # descend into it
                    pos = data_at
                    continue
                if fourcc in (b"stsz", b"stsc", b"stco"):
                    tables[fourcc] = raw[data_at : pos + size]
                pos += size

        missing = {b"stsz", b"stsc", b"stco"} - set(tables)
        if missing:
            raise ValueError(f"mp4: missing sample tables {missing}")
        stsz = tables[b"stsz"]
        uniform, n = struct.unpack_from(">II", stsz, 4)
        # bound the count BEFORE any allocation sized by it: a hostile
        # 32-bit count would otherwise build a multi-GB list and die on
        # MemoryError, which the containment clause does not catch (the
        # LZW decoder's max_out guard, applied to the sample table). A
        # sample is >= 1 byte, so n can never exceed the file length.
        if n > len(raw):
            raise ValueError("mp4: sample count exceeds file size")
        if uniform:
            sizes = [uniform] * n
        else:
            if len(stsz) < 12 + 4 * n:
                raise ValueError("mp4: stsz count mismatch")
            sizes = list(struct.unpack_from(f">{n}I", stsz, 12))
        (n_stsc,) = struct.unpack_from(">I", tables[b"stsc"], 4)
        stsc = [
            struct.unpack_from(">III", tables[b"stsc"], 8 + 12 * i)
            for i in range(n_stsc)
        ]
        if not stsc or stsc[0][0] != 1:
            raise ValueError("mp4: bad stsc")
        (n_chunks,) = struct.unpack_from(">I", tables[b"stco"], 4)
        offsets = list(
            struct.unpack_from(f">{n_chunks}I", tables[b"stco"], 8)
        )
        spans: list[tuple[int, int]] = []
        s = 0
        for ci in range(1, n_chunks + 1):
            per = next(
                spc for fc, spc, _d in reversed(stsc) if fc <= ci
            )
            at = offsets[ci - 1]
            for _ in range(per):
                if s >= n:
                    break
                if at + sizes[s] > len(raw):
                    raise ValueError("mp4: sample past EOF")
                spans.append((at, sizes[s]))
                at += sizes[s]
                s += 1
        if s != n:
            raise ValueError("mp4: sample count mismatch")
        return [(doc_id, k, sz, sum(raw[at : at + sz]), n) for k, (at, sz) in enumerate(spans)]

    return map_rows(
        df.select("doc_id", "data"),
        demux,
        "doc_id long, sample_id long, n_bytes long, byte_sum long, header_samples long",
        contain=True,
    )
