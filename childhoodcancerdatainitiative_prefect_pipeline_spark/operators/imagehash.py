"""Perceptual image hashing + near-dup pairs (LLM-data op).

A LAION-shaped training corpus dedups IMAGES, not just text — the
standard tool is a perceptual hash (aHash/pHash) over a pooled
grayscale thumbnail, banded for LSH-style candidate generation, with
a Hamming-distance verify.  With the codec suite real
(``multimodal.py`` / ``jpeg.py``), the whole pipeline — decode →
pool → hash → band join → verify — runs in-engine:

- :func:`bmp_gray_grid` — 24-bpp BMP → ``grid×grid`` pooled gray
  cell sums (integer luma 299/587/114, exact for r=g=b content);
- :func:`ahash_bits` — average hash: cell > global mean, packed as
  TWO int64 halves so SQL oracles avoid the sign bit entirely;
- :func:`phash_bits` — DCT hash (8×8 forward DCT from
  ``operators/jpeg.py``, median threshold over the 63 AC terms) —
  the rotation/brightness-robust variant, unit-pinned;
- :func:`image_ahash` — Arrow-batched kernel emitting
  ``(media_id, h1, h2)``; malformed payloads dead-letter as null
  hashes with an error column.

Scale shape: hashing is one scan with no shuffle; pair generation is
the SimHash discipline — band the 64 bits into 4×16-bit keys, join
on band equality (the only shuffle carries (band, key, id)), verify
``bit_count(xor)`` row-locally.  Never all-pairs.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def bmp_gray_grid(payload: bytes, grid: int = 8) -> list[int]:
    """24-bpp BMP → ``grid²`` pooled gray cell SUMS (row-major).

    Requires dimensions divisible by ``grid`` (thumbnail contract);
    raises ``ValueError`` on anything else — the kernel dead-letters.
    """
    if len(payload) < 30 or payload[:2] != b"BM":
        raise ValueError("not a BMP payload")
    off = int.from_bytes(payload[10:14], "little")
    w = int.from_bytes(payload[18:22], "little", signed=True)
    h = int.from_bytes(payload[22:26], "little", signed=True)
    bpp = int.from_bytes(payload[28:30], "little")
    if bpp != 24 or w <= 0 or h <= 0:
        raise ValueError(f"unsupported BMP ({w}x{h}, {bpp}bpp)")
    if w % grid or h % grid:
        raise ValueError("dimensions not divisible by hash grid")
    row_raw = w * 3
    pad = (4 - row_raw % 4) % 4
    if off + (row_raw + pad) * h > len(payload):
        raise ValueError("truncated BMP pixel data")
    cells = [0] * (grid * grid)
    for y in range(h):
        row_off = off + (h - 1 - y) * (row_raw + pad)  # bottom-up rows
        gy = y * grid // h
        for x in range(w):
            p = row_off + x * 3
            b, g, r = payload[p], payload[p + 1], payload[p + 2]
            cells[gy * grid + x * grid // w] += (
                299 * r + 587 * g + 114 * b
            ) // 1000
    return cells


def ahash_bits(cells: list[int]) -> tuple[int, int]:
    """Average hash over equal-size cells: bit i = cell i above the
    global mean (integer compare ``cell*n > total`` — no floats).
    Packed as two int64 halves (cells 0-31 → h1, 32-63 → h2)."""
    n = len(cells)
    total = sum(cells)
    h1 = h2 = 0
    for i, c in enumerate(cells):
        if c * n > total:
            if i < 32:
                h1 |= 1 << i
            else:
                h2 |= 1 << (i - 32)
    return h1, h2


def phash_bits(cells: list[int]) -> tuple[int, int]:
    """DCT hash (pHash): 8×8 forward DCT of the pooled grid, bit i =
    AC coefficient above the median of the 63 AC terms (DC excluded).
    Same two-halves packing as :func:`ahash_bits`."""
    from .jpeg import _fdct

    if len(cells) != 64:
        raise ValueError("phash needs an 8x8 grid")
    coef = _fdct([float(c) for c in cells])
    ac = sorted(coef[1:])
    median = ac[31]  # lower median of 63 values
    h1 = h2 = 0
    for i in range(64):
        if i and coef[i] > median:
            if i < 32:
                h1 |= 1 << i
            else:
                h2 |= 1 << (i - 32)
    return h1, h2


IMAGE_HASH_SCHEMA = (
    "media_id long, h1 long, h2 long, decode_error string"
)


def image_ahash(
    media: DataFrame, id_col: str = "media_id", grid: int = 8
) -> DataFrame:
    """Arrow-batched BMP → aHash kernel with dead-letter discipline."""
    cols = [id_col, "h1", "h2", "decode_error"]

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, payload in zip(pdf[id_col], pdf["payload"]):
                try:
                    h1, h2 = ahash_bits(bmp_gray_grid(bytes(payload), grid))
                    rows.append((int(mid), h1, h2, None))
                except Exception as ex:  # noqa: BLE001
                    rows.append(
                        (int(mid), None, None, f"{type(ex).__name__}: {ex}")
                    )
            yield pd.DataFrame(rows, columns=cols)

    return media.select(id_col, "payload").mapInPandas(
        kernel, IMAGE_HASH_SCHEMA
    )


def ahash_near_dup_pairs(hashes: DataFrame, max_hamming: int = 7) -> DataFrame:
    """Banded near-dup pair generation over (media_id, h1, h2).

    SimHash discipline, sized for the threshold: 8×8-bit bands (four
    per int64 half), so by pigeonhole ANY pair within Hamming 7
    shares at least one untouched band — detection at the default
    threshold is guaranteed, not probabilistic.  Candidates collide
    on ≥1 band; the Hamming verify (``bit_count(xor)``) runs
    row-local after the band join.  The only shuffle carries
    (band, key, id) triples.

    The hash rows are ``localCheckpoint``-ed: they feed both sides
    of the band self-join, and without the checkpoint the upstream
    decode kernel runs twice (same fix as
    ``clip_near_dup_pairs``).  Hash rows are three longs per media —
    never payload bytes.
    """
    hashes = hashes.localCheckpoint()
    bands = [
        F.struct(
            F.lit(band).alias("band"),
            (
                F.shiftright(
                    F.col("h1") if band < 4 else F.col("h2"),
                    8 * (band % 4),
                ).bitwiseAND(F.lit(255))
            ).alias("key"),
        )
        for band in range(8)
    ]
    banded = hashes.filter(F.col("h1").isNotNull()).select(
        "media_id",
        "h1",
        "h2",
        F.explode(F.array(*bands)).alias("b"),
    ).select("media_id", "h1", "h2", "b.band", "b.key")
    left = banded.select(
        F.col("media_id").alias("id_a"), F.col("h1").alias("h1a"),
        F.col("h2").alias("h2a"), "band", "key",
    )
    right = banded.select(
        F.col("media_id").alias("id_b"), F.col("h1").alias("h1b"),
        F.col("h2").alias("h2b"), "band", "key",
    )
    pairs = (
        left.join(right, ["band", "key"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a", "id_b",
            (
                F.bit_count(F.expr("h1a ^ h1b"))
                + F.bit_count(F.expr("h2a ^ h2b"))
            ).alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )
    return pairs
