#!/usr/bin/env python
"""De-aliased video pair probe (VERDICT r9 item 4, video leg).

The registered ``dedup_video_clip_pairs`` fixture synthesizes MJPEG
content from ``o_orderkey`` through ``(37*bx + 91*by + 13*f + k) %
256`` — content is a function of k mod 256, so any two keys 256
apart carry byte-identical clips.  A key-shifted replica (shift base
10_000_000 ≡ 128 mod 256) therefore aliases content across replicas
and the pair OUTPUT grows quadratically in the replica factor — the
video twin of the identical-text documents problem that
``ensure_salted_documents`` solves for the text probes.  The
documents salt cannot reach this fixture (it is orders-driven), so
this probe builds the DE-ALIASED arm directly: same operators, same
plan, same planted (k, var) near-dup structure, but each 8×8 block's
base value samples a bit-window of the Knuth-mixed key
(``k * 2654435761``), so distinct keys land ~64/128 hamming apart at
any factor and the pair output is exactly the planted pairs —
linear in the factor (the factor-2 smoke: 100 planted pairs, vs 964
on the aliased arm).

Arms (same session, same replica, back to back):
  aliased   — the registry query exactly as shipped
  dealiased — content unique per key; output tracks PLAN cost

Run: SCALE_FACTOR=100 python scripts/video_dealias_probe.py
Results recorded in SCALE.md (round-10 section).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from childhoodcancerdatainitiative_prefect_pipeline_spark.queries import REGISTRY
from childhoodcancerdatainitiative_prefect_pipeline_spark.session import build_session

SRC = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
FACTOR = int(os.environ.get("SCALE_FACTOR", "10"))
_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DEST = os.path.join(_REPO, ".scratch", "sf1" if FACTOR == 10 else f"x{FACTOR}")


def dealiased_pairs(spark, sf_dir: str):
    """The registry query's plan with a content-unique fixture.

    Mirrors ``queries.py::dedup_video_clip_pairs_query`` (same meta
    filter, same encode/decode/band/verify operators, same stride and
    thresholds); only the per-block base value differs: block (bx,by)
    reads bit-window ``2*(4*bx+by)`` of the Knuth-mixed key
    ``k * 2654435761`` instead of the additive ``+ k`` that collapses
    to k mod 256.  The planted near-dup pair per k (var=1 flips one
    block of frame 1 only; frames 0 and 2 stay identical) is
    preserved exactly; distinct keys land ~64/128 hamming apart, so
    no spurious cross-key matches dilute the measurement.
    """
    from childhoodcancerdatainitiative_prefect_pipeline_spark.operators.jpeg import (
        encode_jpeg,
    )
    from childhoodcancerdatainitiative_prefect_pipeline_spark.operators.video import (
        clip_near_dup_pairs,
        encode_avi_mjpeg,
        video_clip_frame_hashes,
    )

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    meta = (
        orders.filter(F.col("o_orderkey") % 301 == 0)
        .select(F.col("o_orderkey").alias("k"))
        .withColumn("var", F.explode(F.array(F.lit(0), F.lit(1))))
        .select("k", "var", (F.col("k") * 2 + F.col("var")).alias("media_id"))
    )

    def synth(batches):
        import pandas as pd

        for pdf in batches:
            payloads = []
            for k, var in zip(pdf["k"], pdf["var"]):
                k, var = int(k), int(var)
                frames = []
                for f in range(3):

                    def pix(x, y, f=f, k=k, var=var):
                        bx, by = x // 8, y // 8
                        v = (
                            37 * bx + 91 * by + 13 * f
                            + ((k * 2654435761) >> (2 * (4 * bx + by)))
                        ) % 256
                        if var == 1 and f == 1 and bx == 0 and by == 0:
                            v = (v + 128) % 256
                        return v

                    frames.append(
                        encode_jpeg(32, 32, pix, quant=1, grayscale=True)
                    )
                payloads.append(encode_avi_mjpeg(frames, 32, 32))
            yield pd.DataFrame(
                {"media_id": pdf["media_id"], "payload": payloads}
            )

    media = meta.mapInPandas(synth, "media_id long, payload binary")
    pairs = clip_near_dup_pairs(
        video_clip_frame_hashes(media, frame_stride=2),
        max_hamming=7,
        min_matching_frames=2,
    )
    return pairs.select(
        "id_a", "id_b",
        F.col("n_frames_matched").cast("long").alias("n_frames_matched"),
    )


def main() -> None:
    spark = build_session(app_name="video-dealias-probe")
    spark.sparkContext.setLogLevel("ERROR")

    from childhoodcancerdatainitiative_prefect_pipeline_spark.scale_replica import (
        ensure_replica,
    )

    os.makedirs(DEST, exist_ok=True)
    built = ensure_replica(spark, SRC, DEST, FACTOR)
    print("replica " + ("built" if built else "reused"), file=sys.stderr)

    arms = {
        "aliased": lambda: REGISTRY["dedup_video_clip_pairs"].fn(spark, DEST),
        "dealiased": lambda: dealiased_pairs(spark, DEST),
    }
    out: dict[str, dict] = {}
    for name, mk in arms.items():
        t0 = time.perf_counter()
        mk().write.format("noop").mode("overwrite").save()
        secs = round(time.perf_counter() - t0, 1)
        rows = mk().count()  # untimed: output-volume evidence
        out[name] = {"sec": secs, "pairs": rows}
        print(f"  {name}: {secs} s, {rows} pairs", file=sys.stderr)
    print(json.dumps({"metric": "video_dealias_probe", "factor": FACTOR,
                      "arms": out}))
    spark.stop()


if __name__ == "__main__":
    main()
