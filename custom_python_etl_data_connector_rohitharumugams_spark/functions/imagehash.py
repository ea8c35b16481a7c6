"""Perceptual image dedup (dHash) — near-duplicate IMAGE detection that
survives re-encode and resize, the image twin of the text near-dup family.

A byte hash (sha256 of the payload) only catches bit-identical files; the
training-data problem is the same picture at a different resolution. dHash
(difference hash) canonicalizes every image to a 9x8 luminance grid and
emits 64 bits of horizontal gradient signs — scale changes that preserve
content preserve the gradient signs, so duplicates at different sizes
collide on a 64-bit key and dedup becomes one hash groupBy, exactly the
shuffle shape of exact text dedup (DESIGN.md L1) instead of a pairwise
image comparison.

EXACTNESS ARGUMENT (what makes the oracle a theorem, not a probability):
the grid is computed as BLOCK SUMS over dimensions that are exact
multiples of 9x8, compared within one image only — equal denominators, so
integer sums stand in for means with no rounding anywhere. An n-times
pixel-replicated upscale multiplies every block sum by exactly n², which
preserves every `>` comparison INCLUDING ties — hence a planted 2x
nearest-neighbor twin provably lands in its source's bucket. Natural
fixture images use an xorshift-mixed pixel formula (structured linear
formulas produced 79 dHash collisions in 200 during design; the mixed
form produces 0, pinned by tests/test_imagehash.py).

The decode path is the REAL BMP container: payloads are genuine
uncompressed 24-bit BMPs (bottom-up rows, 4-byte padding) and the parser
is the SAME `_parse_bmp_header` containment gate every other BMP consumer
uses (functions/multimodal.py) — a wrong orientation or stride read
changes gradient rows and breaks the planted-pair oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .multimodal import _bmp_bytes, _parse_bmp_header, map_rows

#: canonical grid and the base image dims (exact multiples of the grid,
#: so block sums replace means with no rationals)
IH_GRID_W, IH_GRID_H = 9, 8
IH_BASE_W, IH_BASE_H = 18, 16
#: every doc_id % IH_TWIN_MOD == 0 gets a 2x-upscaled twin at
#: doc_id + IH_PLANT_OFFSET (same id-space contract as plans/llm.py plants)
IH_TWIN_MOD = 17
IH_PLANT_OFFSET = 10_000_000

_M32 = (1 << 32) - 1


def _ih_pixel(doc_id: int, x: int, y: int) -> int:
    """xorshift-multiply mixed luminance (0..255): nonlinear in (x, y) so
    gradient signs differ across documents — a linear formula makes every
    row's gradient constant and dHash degenerates (see module docstring)."""
    v = (doc_id * 73856093) ^ (x * 19349663) ^ (y * 83492791)
    v = (v * 2654435761) & _M32
    v ^= v >> 16
    v = (v * 2246822519) & _M32
    return (v >> 8) % 256


def _gray_bmp_bytes(doc_id: int, scale: int) -> bytes:
    """A REAL 24-bit BMP of the doc's luminance grid at ``scale`` x the
    base dims — upscaling by pixel replication (nearest neighbor), R=G=B."""

    def gray(x: int, y: int) -> tuple[int, int, int]:
        p = _ih_pixel(doc_id, x // scale, y // scale)
        return p, p, p

    return _bmp_bytes(IH_BASE_W * scale, IH_BASE_H * scale, gray)


def synth_dhash_corpus(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """(doc_id, data): one base-size BMP per input doc, plus a 2x
    pixel-replicated twin at doc_id + IH_PLANT_OFFSET for every
    doc_id % IH_TWIN_MOD == 0 — the 1->N batch expansion shape of the
    container tiers, payloads born on the executors."""

    def build(doc_id: int):
        yield doc_id, _gray_bmp_bytes(doc_id, 1)
        if doc_id % IH_TWIN_MOD == 0:
            yield doc_id + IH_PLANT_OFFSET, _gray_bmp_bytes(doc_id, 2)

    return map_rows(
        df.select(F.col(id_col).alias("doc_id")), build, "doc_id long, data binary"
    )


def dhash_bmp(df: DataFrame) -> DataFrame:
    """(doc_id, dhash): REAL BMP parse (shared containment gate) ->
    luminance matrix in image orientation -> exact block-sum 9x8 grid ->
    64 horizontal gradient-sign bits packed into one signed long. Out of
    contract (corrupt, non-24-bit, dims not exact multiples of the grid)
    yields no row."""
    import numpy as np

    def dhash(doc_id: int, raw: bytes):
        parsed = _parse_bmp_header(raw)
        if parsed is None:
            return
        w, h, off, stride = parsed
        if w % IH_GRID_W or h % IH_GRID_H:
            return  # grid requires exact-multiple dims
        m = np.empty((h, w), dtype=np.int64)
        for yrow in range(h):
            base = off + yrow * stride
            row = np.frombuffer(raw, dtype=np.uint8, count=w * 3, offset=base)
            m[h - 1 - yrow] = row[2::3]  # R channel, image orientation
        s = m.reshape(IH_GRID_H, h // IH_GRID_H, IH_GRID_W, w // IH_GRID_W).sum(axis=(1, 3))
        bits = (s[:, 1:] > s[:, :-1]).astype(np.uint64).ravel()
        val = 0
        for b in bits:
            val = (val << 1) | int(b)
        if val >= 1 << 63:
            val -= 1 << 64  # two's complement into a Spark long
        yield doc_id, val

    return map_rows(df.select("doc_id", "data"), dhash, "doc_id long, dhash long", contain=True)


def dhash_duplicate_pairs(hashed: DataFrame) -> DataFrame:
    """(a, b) with a < b for every pair sharing a dhash — one equi
    self-join on the 64-bit key; candidate cost tracks bucket collisions,
    never n². This is the image analog of exact text dedup's digest
    groupBy."""
    left = hashed.select(F.col("doc_id").alias("a"), "dhash")
    right = hashed.select(F.col("doc_id").alias("b"), "dhash")
    return left.join(right, "dhash").where(F.col("a") < F.col("b")).select("a", "b")
