"""Real video decode: MJPEG-in-AVI — pure stdlib.

Closes the video seam of the media pipeline the same way the image/
audio/BAM kernels closed theirs: Motion-JPEG inside a RIFF/AVI
container is decodable with nothing but the stdlib plus
``operators/jpeg.py`` — the container is a chunk walk (the WAV
kernel's RIFF discipline, nested LISTs) and every frame is a
baseline JPEG.

- :func:`encode_avi_mjpeg` — fixture/oracle writer: wraps per-frame
  JPEG payloads in a minimal but well-formed AVI (``hdrl`` with
  ``avih``/``strl``, ``movi`` with word-aligned ``00dc`` chunks).
- :func:`decode_avi_mjpeg` — tolerant reader: walks the RIFF tree,
  finds the ``movi`` LIST, decodes every ``..dc`` chunk through
  :func:`~.jpeg.decode_jpeg`, and returns frame count, dimensions
  and channel sums ACCUMULATED OVER ALL FRAMES — integral, so
  MCU-flat grayscale frames certify exactly, the same trick as the
  still-image entries.  Any malformed frame or container structure
  raises ``ValueError`` → the Arrow kernel dead-letters the row.

Scale: one video per row in ``mapInPandas`` batches; for long videos
the existing ``frame_sample_plan`` fans frames out FIRST (one row per
sampled frame), then this decode runs per frame — a 2-hour video
never materializes on one task.
"""

from __future__ import annotations

import struct
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame

from .jpeg import decode_jpeg


def encode_avi_mjpeg(
    frames: list[bytes], width: int, height: int, fps: int = 10
) -> bytes:
    """Minimal AVI writer wrapping pre-encoded JPEG frames."""
    if not frames:
        raise ValueError("need at least one frame")

    def chunk(cid: bytes, body: bytes) -> bytes:
        pad = b"\x00" if len(body) % 2 else b""
        return cid + struct.pack("<I", len(body)) + body + pad

    def list_chunk(kind: bytes, body: bytes) -> bytes:
        return chunk(b"LIST", kind + body)

    avih = struct.pack(
        "<14I",
        1_000_000 // fps,  # microseconds per frame
        0,  # max bytes/sec (unset)
        0,  # padding granularity
        0x10,  # flags: AVIF_HASINDEX off, AVIF_WASCAPTUREFILE-ish
        len(frames),
        0,  # initial frames
        1,  # streams
        max(len(f) for f in frames),
        width,
        height,
        0, 0, 0, 0,  # reserved
    )
    strh = struct.pack(
        "<4s4sI2H8I4H",
        b"vids", b"MJPG",
        0,  # flags
        0, 0,  # priority, language
        0,  # initial frames
        1, fps,  # scale, rate → fps
        0,  # start
        len(frames),
        max(len(f) for f in frames),  # suggested buffer
        0xFFFFFFFF,  # quality (default)
        0,  # sample size (varies per frame)
        0, 0, width, height,  # rcFrame
    )
    strf = struct.pack(
        "<I2i2H2I2i2I",
        40, width, height, 1, 24, 0x47504A4D,  # 'MJPG'
        width * height * 3, 0, 0, 0, 0,
    )
    hdrl = list_chunk(
        b"hdrl",
        chunk(b"avih", avih)
        + list_chunk(b"strl", chunk(b"strh", strh) + chunk(b"strf", strf)),
    )
    movi = list_chunk(b"movi", b"".join(chunk(b"00dc", f) for f in frames))
    riff_body = b"AVI " + hdrl + movi
    return b"RIFF" + struct.pack("<I", len(riff_body)) + riff_body


def decode_avi_mjpeg(payload: bytes) -> dict:
    """MJPEG AVI → frame count, dimensions, channel sums over ALL
    frames.  Mixed frame dimensions raise (one stream = one size in
    MJPEG); so do a missing ``movi`` LIST, truncated chunks, or any
    frame the JPEG decoder rejects."""
    if len(payload) < 12 or payload[:4] != b"RIFF" or payload[8:12] != b"AVI ":
        raise ValueError("not a RIFF/AVI payload")

    def walk(data: bytes, pos: int, end: int):
        while pos + 8 <= end:
            cid = data[pos : pos + 4]
            (clen,) = struct.unpack_from("<I", data, pos + 4)
            body_start = pos + 8
            if body_start + clen > end:
                raise ValueError("truncated AVI chunk")
            yield cid, body_start, clen
            pos = body_start + clen + (clen & 1)

    movi = None
    for cid, start, clen in walk(payload, 12, len(payload)):
        if cid == b"LIST" and payload[start : start + 4] == b"movi":
            movi = (start + 4, start + clen)
            break
    if movi is None:
        raise ValueError("AVI has no movi list")

    n_frames = 0
    width = height = None
    sum_r = sum_g = sum_b = 0
    for cid, start, clen in walk(payload, movi[0], movi[1]):
        if cid[2:4] != b"dc":  # audio ('wb') / index chunks: skip
            continue
        d = decode_jpeg(payload[start : start + clen])
        if width is None:
            width, height = d["width"], d["height"]
        elif (width, height) != (d["width"], d["height"]):
            raise ValueError("frame dimensions changed mid-stream")
        sum_r += d["sum_r"]
        sum_g += d["sum_g"]
        sum_b += d["sum_b"]
        n_frames += 1
    if n_frames == 0:
        raise ValueError("movi list has no video frames")
    return {
        "width": width,
        "height": height,
        "n_frames": n_frames,
        "sum_r": sum_r,
        "sum_g": sum_g,
        "sum_b": sum_b,
    }


MJPEG_STATS_SCHEMA = (
    "media_id long, width long, height long, n_frames long, "
    "sum_r long, sum_g long, sum_b long, decode_error string"
)


def decode_mjpeg_stats(media: DataFrame, id_col: str = "media_id") -> DataFrame:
    """Arrow-batched REAL video decode with dead-letter discipline
    (same batch contract as the image/audio kernels)."""
    cols = [
        id_col, "width", "height", "n_frames", "sum_r", "sum_g", "sum_b",
        "decode_error",
    ]

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, payload in zip(pdf[id_col], pdf["payload"]):
                try:
                    d = decode_avi_mjpeg(bytes(payload))
                    rows.append(
                        (int(mid), d["width"], d["height"], d["n_frames"],
                         d["sum_r"], d["sum_g"], d["sum_b"], None)
                    )
                except Exception as ex:  # noqa: BLE001
                    rows.append(
                        (int(mid),) + (None,) * 6
                        + (f"{type(ex).__name__}: {ex}",)
                    )
            yield pd.DataFrame(rows, columns=cols)

    return media.select(id_col, "payload").mapInPandas(
        kernel, MJPEG_STATS_SCHEMA
    )


# ---------------------------------------------------------------------------
# VIDEO near-dup: per-frame perceptual hashes + frame-aligned match
# counting.  Two clips are near-dups when most of their frames are
# pairwise near-identical at the same frame index — the corpus-dedup
# notion (re-encoded/lightly-edited copies), not content ID.
# ---------------------------------------------------------------------------

CLIP_HASH_SCHEMA = (
    "media_id long, frame_no long, h1 long, h2 long, decode_error string"
)


def video_clip_frame_hashes(
    media: DataFrame,
    id_col: str = "media_id",
    grid: int = 8,
    frame_stride: int = 1,
) -> DataFrame:
    """MJPEG AVI → one perceptual hash row per SAMPLED frame.

    Each frame's luma is pooled to a ``grid²`` cell grid
    (``jpeg.decode_jpeg_gray_grid``) and average-hashed with the
    shared imagehash machinery.  A structurally-broken clip yields a
    single dead-letter row with ``frame_no`` null.

    ``frame_stride`` is the frame_sample_plan discipline applied
    inside the kernel: only frame indices ≡ 0 (mod stride) are
    DECODED (the container walk skips the rest at chunk granularity
    — near-free), so cost is ∝ sampled frames, not clip length.
    ``frame_no`` keeps the true container index, so frame-aligned
    matching in :func:`clip_near_dup_pairs` still aligns — both clips
    of a near-dup pair sample the same indices.
    """
    from .imagehash import ahash_bits
    from .jpeg import decode_jpeg_gray_grid

    cols = [id_col, "frame_no", "h1", "h2", "decode_error"]

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, payload in zip(pdf[id_col], pdf["payload"]):
                mid = int(mid)
                try:
                    payload = bytes(payload)
                    if (
                        len(payload) < 12
                        or payload[:4] != b"RIFF"
                        or payload[8:12] != b"AVI "
                    ):
                        raise ValueError("not a RIFF/AVI payload")

                    def walk(data, pos, end):
                        while pos + 8 <= end:
                            cid = data[pos : pos + 4]
                            (clen,) = struct.unpack_from("<I", data, pos + 4)
                            if pos + 8 + clen > end:
                                raise ValueError("truncated AVI chunk")
                            yield cid, pos + 8, clen
                            pos += 8 + clen + (clen & 1)

                    movi = None
                    for cid, start, clen in walk(payload, 12, len(payload)):
                        if (
                            cid == b"LIST"
                            and payload[start : start + 4] == b"movi"
                        ):
                            movi = (start + 4, start + clen)
                            break
                    if movi is None:
                        raise ValueError("AVI has no movi list")
                    frame_no = 0
                    for cid, start, clen in walk(payload, movi[0], movi[1]):
                        if cid[2:4] != b"dc":
                            continue
                        if frame_no % frame_stride == 0:
                            h1, h2 = ahash_bits(
                                decode_jpeg_gray_grid(
                                    payload[start : start + clen], grid
                                )
                            )
                            rows.append((mid, frame_no, h1, h2, None))
                        frame_no += 1
                    if frame_no == 0:
                        raise ValueError("movi list has no video frames")
                except Exception as ex:  # noqa: BLE001
                    rows.append(
                        (mid, None, None, None,
                         f"{type(ex).__name__}: {ex}")
                    )
            yield pd.DataFrame(rows, columns=cols)

    return media.select(id_col, "payload").mapInPandas(
        kernel, CLIP_HASH_SCHEMA
    )


def clip_near_dup_pairs(
    frame_hashes: DataFrame,
    max_hamming: int = 7,
    min_matching_frames: int = 2,
) -> DataFrame:
    """Frame-aligned clip near-dup: band-join per (frame_no, band),
    Hamming-verify per frame, then count matching frame indices per
    clip pair.  The shuffle carries (frame, band, key, id) — never
    clip×clip.

    IDENTICAL CLIPS COLLAPSE FIRST (r10, the setsim boilerplate-
    collapse rule applied to the video family): clips are grouped by
    their full ordered sampled-hash sequence, the banded join runs on
    one representative per DISTINCT sequence, and pairs expand back
    through narrow (gid, id) member joins — identical members match
    on every sampled frame row-locally.  Before this, a corpus with
    g byte-identical copies of a clip put g copies of every frame
    hash into the same (frame, band, key) bucket and the join's
    frame-match stream grew as g² BEFORE the distinct could collapse
    anything — the r10 100× aliased-replica probe (groups of ~50-100
    identical clips) OOM'd the executor heap in exactly that stage.
    Plan cost now scales with unique content; the contractual pair
    output is produced by narrow expansion joins that stream.

    The hash rows are ``localCheckpoint``-ed: they feed the signature
    group-by whose result feeds four consumers, and without the checkpoint the whole upstream decode
    (an Arrow kernel over every clip) runs twice — at 100 TB that is
    a second full decode pass.  The checkpointed frames are tiny (a
    few longs per sampled frame), never the payload bytes.
    """
    from pyspark.sql import functions as F

    frame_hashes = frame_hashes.localCheckpoint()
    sigs = (
        frame_hashes.filter(F.col("h1").isNotNull())
        .groupBy("media_id")
        .agg(
            F.sort_array(
                F.collect_list(F.struct("frame_no", "h1", "h2"))
            ).alias("sig")
        )
    )
    groups = (
        sigs.groupBy("sig")
        .agg(F.collect_list("media_id").alias("ids"))
        .withColumn("gid", F.array_min("ids"))
        .withColumn("n_frames", F.size("sig"))
        # feeds the representative hash frame AND both member
        # expansions AND the within-group pairs — materialize once
        .localCheckpoint()
    )
    rep_hashes = groups.select(
        F.col("gid").alias("media_id"), F.explode("sig").alias("f")
    ).select("media_id", "f.frame_no", "f.h1", "f.h2")
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
    banded = (
        rep_hashes
        .select(
            "media_id", "frame_no", "h1", "h2",
            F.explode(F.array(*bands)).alias("b"),
        )
        .select("media_id", "frame_no", "h1", "h2", "b.band", "b.key")
    )
    left = banded.select(
        F.col("media_id").alias("id_a"), "frame_no",
        F.col("h1").alias("h1a"), F.col("h2").alias("h2a"), "band", "key",
    )
    right = banded.select(
        F.col("media_id").alias("id_b"), "frame_no",
        F.col("h1").alias("h1b"), F.col("h2").alias("h2b"), "band", "key",
    )
    frame_matches = (
        left.join(right, ["frame_no", "band", "key"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a", "id_b", "frame_no",
            (
                F.bit_count(F.expr("h1a ^ h1b"))
                + F.bit_count(F.expr("h2a ^ h2b"))
            ).alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )
    rep_pairs = (
        frame_matches.groupBy("id_a", "id_b")
        .agg(F.count("*").alias("n_frames_matched"))
        .filter(F.col("n_frames_matched") >= min_matching_frames)
        .select(
            F.col("id_a").alias("gid_a"),
            F.col("id_b").alias("gid_b"),
            "n_frames_matched",
        )
    )
    members = groups.select("gid", F.explode("ids").alias("id"))
    cross = (
        rep_pairs.join(
            members.select(F.col("gid").alias("gid_a"), F.col("id").alias("ma")),
            "gid_a",
        )
        .join(
            members.select(F.col("gid").alias("gid_b"), F.col("id").alias("mb")),
            "gid_b",
        )
        .select(
            F.least("ma", "mb").alias("id_a"),
            F.greatest("ma", "mb").alias("id_b"),
            "n_frames_matched",
        )
    )
    # identical clips match on every sampled frame (hamming 0 ≤ any
    # max); a group whose clips carry fewer than min_matching_frames
    # sampled frames pairs nowhere, same as the banded path
    dup_members = groups.filter(
        (F.size("ids") > 1) & (F.col("n_frames") >= min_matching_frames)
    ).select("gid", F.explode("ids").alias("id"), "n_frames")
    within = (
        dup_members.alias("x")
        .join(dup_members.alias("y"), "gid")
        .filter(F.col("x.id") < F.col("y.id"))
        .select(
            F.col("x.id").alias("id_a"),
            F.col("y.id").alias("id_b"),
            F.col("x.n_frames").cast("long").alias("n_frames_matched"),
        )
    )
    return cross.unionByName(within)
