"""Audio-fingerprint scale rehearsal: replicate the embeddings table
REP times (each replica with its own amplitude scale, so replica
fingerprints decorrelate and the banded join's candidate count stays
output-bounded instead of exploding quadratically on identical copies)
and push the REAL pipeline — HOF PCM synthesis, WAV encode, WAV decode
+ vectorized int64 band energies inside the Arrow hop, JVM bit folds,
banded-LSH self-join, exact Hamming verify — at 2*REP*|embeddings|
tracks.

The point is the 100x scale-up argument for the multimodal family
(SCALING.md "Multimodal codec stages"): the fingerprint pass is a
NARROW map whose wall time should scale ~linearly in track count at
fixed cores (no driver bottleneck, no shuffle until the banded join),
and the banded join's work should scale with candidate count, not
track-pairs. This tool measures both so the claim is a number.

Usage: python tools/av_scale_bench.py [sf_dir] [rep ...]
  default sf_dir /root/testdata/sf0.1, reps 1 10 50.

Prints one JSON line per rep:
  {"rep": R, "tracks": N, "fp_sec": ..., "fp_tracks_per_sec": ...,
   "join_sec": ..., "candidates": ..., "pairs": ..., "partitions": P}
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def build_hashed(spark, sf_dir: str, rep: int):
    """The audio_fingerprint pipeline generalized to REP replicas per
    embedding; returns the (unmaterialized) fingerprint DataFrame."""
    from pyspark.sql import functions as F

    from shuttlestandalonedbcreator_spark.operators.util import fan_out
    from shuttlestandalonedbcreator_spark.queries import _image_idiv, _t
    from shuttlestandalonedbcreator_spark.streaming import audiocodec as AC

    def sample(emb, i, v, r):
        # per-replica amplitude scale (1000 + 97r) decorrelates the
        # replica fingerprints (a phase-only shift leaves the band
        # energies — and so the sign bits — nearly unchanged, making
        # every replica a near-dup of every other and the TRUE pair
        # count quadratic in rep; see the "pathological dup rate" row)
        base = (
            (
                F.floor(
                    F.get(emb, i % 64).cast("double")
                    * (F.lit(1000.0) + F.lit(97.0) * r)
                )
                * (1 + _image_idiv(i, 64))
                + i * 31
            ) % 65536 + 65536
        ) % 65536 - 32768
        return (
            F.when(v == 1, F.least(F.lit(32767), base + 1000)).otherwise(base)
        ).cast("int")

    emb = fan_out(_t(spark, sf_dir, "embeddings"))
    # replica r gets its own amplitude scale -> distinct spectra ->
    # decorrelated fingerprints per replica (see sample())
    tracks = (
        emb.select(
            "vec_id",
            "embedding",
            F.explode(F.sequence(F.lit(0), F.lit(rep - 1))).alias("r"),
        )
        .select(
            "vec_id",
            "embedding",
            "r",
            F.explode(F.array(F.lit(0), F.lit(1))).alias("v"),
        )
        .select(
            ((F.col("vec_id") * rep + F.col("r")) * 2 + F.col("v")).alias(
                "track_id"
            ),
            F.transform(
                F.sequence(F.lit(0), F.lit(1023)),
                lambda i: sample(F.col("embedding"), i, F.col("v"), F.col("r")),
            ).alias("s"),
        )
    )

    def enc(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            wav = [
                AC.encode_wav(8000, 1, np.asarray(s, dtype="<i2").tobytes())
                for s in pdf["s"]
            ]
            yield pd.DataFrame({"track_id": pdf["track_id"], "wav": wav})

    def dec(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            out = []
            for data in pdf["wav"]:
                _rate, _ch, n_frames, pcm = AC.decode_wav(bytes(data))
                s = np.frombuffer(pcm, dtype="<i2")[:n_frames].astype("int64")
                out.append((s * s).reshape(-1, 8).sum(axis=1))
            yield pd.DataFrame({"track_id": pdf["track_id"], "e": out})

    energies = tracks.mapInPandas(enc, "track_id long, wav binary").mapInPandas(
        dec, "track_id long, e array<long>"
    )

    def bit(t):
        q = ((_image_idiv(t, 7) + 1) * 8 + t % 7).cast("int")
        return F.when(
            (F.get(F.col("e"), q) - F.get(F.col("e"), q + 1))
            - (F.get(F.col("e"), q - 8) - F.get(F.col("e"), q - 7))
            > 0,
            F.lit(1),
        ).otherwise(F.lit(0))

    def fold(seq):
        return F.aggregate(
            seq, F.lit(0).cast("long"), lambda acc, t: acc * 2 + bit(t)
        )

    return energies.select(
        "track_id",
        fold(F.sequence(F.lit(52), F.lit(0), F.lit(-1))).alias("hi"),
        fold(F.sequence(F.lit(104), F.lit(53), F.lit(-1))).alias("lo"),
        fold(F.sequence(F.lit(104), F.lit(0), F.lit(-4))).alias("b0"),
        fold(F.sequence(F.lit(101), F.lit(1), F.lit(-4))).alias("b1"),
        fold(F.sequence(F.lit(102), F.lit(2), F.lit(-4))).alias("b2"),
        fold(F.sequence(F.lit(103), F.lit(3), F.lit(-4))).alias("b3"),
    )


def run_rep(spark, sf_dir: str, rep: int) -> dict:
    from pyspark.sql import functions as F

    hashed_plan = build_hashed(spark, sf_dir, rep)
    t0 = time.time()
    hashed = hashed_plan.localCheckpoint(eager=True)
    n_tracks = hashed.count()
    fp_sec = time.time() - t0

    bands = hashed.select(
        "track_id",
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(k).alias("band"), F.col(f"b{k}").alias("bv"))
                    for k in range(4)
                ]
            )
        ).alias("b"),
    ).select("track_id", "b.band", "b.bv")
    cand = (
        bands.alias("a")
        .join(bands.alias("c"), ["band", "bv"])
        .filter(F.col("a.track_id") < F.col("c.track_id"))
        .select(
            F.col("a.track_id").alias("id_a"), F.col("c.track_id").alias("id_b")
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    ha = hashed.select(
        F.col("track_id").alias("id_a"),
        F.col("hi").alias("hi_a"),
        F.col("lo").alias("lo_a"),
    )
    hb = hashed.select(
        F.col("track_id").alias("id_b"),
        F.col("hi").alias("hi_b"),
        F.col("lo").alias("lo_b"),
    )
    t1 = time.time()
    n_cand = cand.count()
    n_pairs = (
        cand.join(ha, "id_a")
        .join(hb, "id_b")
        .filter(
            F.bit_count(F.col("hi_a").bitwiseXOR(F.col("hi_b")))
            + F.bit_count(F.col("lo_a").bitwiseXOR(F.col("lo_b")))
            <= 6
        )
        .count()
    )
    join_sec = time.time() - t1
    row = {
        "rep": rep,
        "tracks": n_tracks,
        "fp_sec": round(fp_sec, 2),
        "fp_tracks_per_sec": round(n_tracks / fp_sec, 1),
        "join_sec": round(join_sec, 2),
        "candidates": n_cand,
        "pairs": n_pairs,
        "partitions": hashed.rdd.getNumPartitions(),
    }
    # free the checkpointed RDDs before the next (bigger) rep
    hashed.unpersist()
    cand.unpersist()
    return row


def run_video_rep(spark, sf_dir: str, rep: int) -> dict:
    """The video_keyframes pipeline at REP replicas per embedding: 12
    gray 12x12 frames per video, every frame PNG-encoded into a REAL
    SSVF container and decoded back (the heaviest codec path — one
    deflate per frame), then the keyed frame-diff keyframe filter.
    Replicas decorrelate via a per-replica pixel offset (keyframe
    COUNT is scale-invariant; the measurement target is codec
    throughput, frames/s)."""
    from pyspark.sql import functions as F

    from shuttlestandalonedbcreator_spark.operators.util import fan_out
    from shuttlestandalonedbcreator_spark.queries import (
        _image_idiv,
        _image_px,
        _t,
    )
    from shuttlestandalonedbcreator_spark.streaming import imagecodec as IC
    from shuttlestandalonedbcreator_spark.streaming import videocodec as VC

    emb = fan_out(_t(spark, sf_dir, "embeddings"))
    vids = emb.select(
        "vec_id",
        "embedding",
        F.explode(F.sequence(F.lit(0), F.lit(rep - 1))).alias("r"),
    ).select(
        (F.col("vec_id") * rep + F.col("r")).alias("vid_id"),
        F.transform(
            F.sequence(F.lit(0), F.lit(11)),
            lambda f: F.transform(
                F.sequence(F.lit(0), F.lit(143)),
                lambda i: F.least(
                    F.lit(255),
                    _image_px(
                        F.col("embedding"),
                        i * (3 + _image_idiv(f, 4)) + F.col("r"),
                    )
                    + (f % 4) * 3,
                ).cast("int"),
            ),
        ).alias("frames"),
    )

    def enc(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            vid = [
                VC.encode_video(
                    [
                        (f_no * 40,
                         IC.encode_png(12, 12, 1,
                                       np.asarray(fr, dtype=np.uint8)
                                       .tobytes()))
                        for f_no, fr in enumerate(frames)
                    ]
                )
                for frames in pdf["frames"]
            ]
            yield pd.DataFrame({"vid_id": pdf["vid_id"], "video": vid})

    def dec(batches):
        # fused shape (mirrors the entry): previous-frame diff inside
        # the decode hop — no pixel shuffle anywhere in the plan
        import numpy as np
        import pandas as pd

        for pdf in batches:
            ids, fnos, diffs = [], [], []
            for vid_id, data in zip(pdf["vid_id"], pdf["video"]):
                prev = None
                for f_no, (_ts, png) in enumerate(VC.decode_video(bytes(data))):
                    _w, _h, _c, px = IC.decode_png(bytes(png))
                    cur = np.frombuffer(px, dtype=np.uint8).astype("int64")
                    ids.append(vid_id)
                    fnos.append(f_no)
                    diffs.append(
                        None if prev is None else int(np.abs(cur - prev).sum())
                    )
                    prev = cur
            yield pd.DataFrame({
                "vid_id": ids, "frame_no": fnos,
                "d": pd.array(diffs, dtype="Int64"),
            })

    frames = vids.mapInPandas(enc, "vid_id long, video binary").mapInPandas(
        dec, "vid_id long, frame_no int, d long"
    )
    t0 = time.time()
    n_key = (
        frames.filter((F.col("frame_no") == 0) | (F.col("d") > 2000))
        .count()
    )
    wall = time.time() - t0
    n_vids = rep * _t(spark, sf_dir, "embeddings").count()
    return {
        "mode": "video",
        "rep": rep,
        "videos": n_vids,
        "frames": n_vids * 12,
        "wall_sec": round(wall, 2),
        "frames_per_sec": round(n_vids * 12 / wall, 1),
        "keyframes": n_key,
    }


def run_image_rep(spark, sf_dir: str, rep: int) -> dict:
    """The image_dhash_neardup pipeline at REP replicas per embedding
    (2*REP*|embeddings| images): 16x16 gray synth → real PNG encode →
    decode + resize + 64-bit dHash fold INSIDE the Arrow hop (the r8
    fused shape — 16 bytes/image leave Python), banded self-join, exact
    Hamming verify. Replicas decorrelate like the audio tool: a
    per-replica MULTIPLICATIVE scale on the embedding quantization plus
    a gain ramp (1 + i//64) and linear phase (i*31) that break the
    64-element periodicity of the raw pixel formula — a constant
    brightness offset would shift every pixel equally and leave the
    comparison bits (hence the fingerprint) unchanged, and the
    unbroken 64-cycle collapses dHash entropy (4-row repeats survive
    the 9x8 resample), making candidate mass quadratic in corpus."""
    from pyspark.sql import functions as F

    from shuttlestandalonedbcreator_spark.operators.util import fan_out
    from shuttlestandalonedbcreator_spark.queries import _image_idiv, _t
    from shuttlestandalonedbcreator_spark.streaming import imagecodec as IC

    def pixel(emb, i, v, r):
        base = (
            (
                F.floor(
                    F.get(emb, i % 64).cast("double")
                    * (F.lit(1000.0) + F.lit(97.0) * r)
                )
                * (1 + _image_idiv(i, 64))
                + i * 31
            ) % 256 + 256
        ) % 256
        return (
            F.when(v == 1, F.least(F.lit(255), base + 3)).otherwise(base)
        ).cast("int")

    emb = fan_out(_t(spark, sf_dir, "embeddings"))
    # one generator per select (Spark allows a single explode each)
    imgs = emb.select(
        "vec_id", "embedding",
        F.explode(F.sequence(F.lit(0), F.lit(rep - 1))).alias("r"),
    ).select(
        "vec_id", "embedding", "r",
        F.explode(F.array(F.lit(0), F.lit(1))).alias("v"),
    ).select(
        ((F.col("vec_id") * rep + F.col("r")) * 2 + F.col("v")).alias("img_id"),
        F.transform(
            F.sequence(F.lit(0), F.lit(255)),
            lambda i: pixel(F.col("embedding"), i, F.col("v"), F.col("r")),
        ).alias("px"),
    )

    def enc(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            png = [IC.encode_png(16, 16, 1,
                                 np.asarray(px, dtype=np.uint8).tobytes())
                   for px in pdf["px"]]
            yield pd.DataFrame({"img_id": pdf["img_id"], "png": png})

    def dec(batches):
        import numpy as np
        import pandas as pd

        w32 = 1 << np.arange(32, dtype=np.int64)
        for pdf in batches:
            his, los = [], []
            for data in pdf["png"]:
                w, h, ch, px = IC.decode_png(bytes(data))
                small = IC.resize_nearest(w, h, ch, px, 9, 8)
                g = np.frombuffer(small, dtype=np.uint8).reshape(8, 9)
                bits = (g[:, :8] > g[:, 1:]).reshape(-1).astype(np.int64)
                his.append(int(bits[:32] @ w32))
                los.append(int(bits[32:] @ w32))
            yield pd.DataFrame({"img_id": pdf["img_id"], "hi": his, "lo": los})

    hashed_plan = imgs.mapInPandas(enc, "img_id long, png binary").mapInPandas(
        dec, "img_id long, hi long, lo long"
    )
    t0 = time.time()
    hashed = hashed_plan.localCheckpoint(eager=True)
    n_imgs = hashed.count()
    fp_sec = time.time() - t0

    bands = hashed.select(
        "img_id",
        F.explode(F.array(
            F.struct(F.lit(0).alias("band"), (F.col("hi") % 65536).alias("bv")),
            F.struct(F.lit(1).alias("band"),
                     (F.col("hi") / 65536).cast("long").alias("bv")),
            F.struct(F.lit(2).alias("band"), (F.col("lo") % 65536).alias("bv")),
            F.struct(F.lit(3).alias("band"),
                     (F.col("lo") / 65536).cast("long").alias("bv")),
        )).alias("b"),
    ).select("img_id", "b.band", "b.bv")
    cand = (
        bands.alias("a").join(bands.alias("c"), ["band", "bv"])
        .filter(F.col("a.img_id") < F.col("c.img_id"))
        .select(F.col("a.img_id").alias("id_a"),
                F.col("c.img_id").alias("id_b"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    ha = hashed.select(F.col("img_id").alias("id_a"),
                       F.col("hi").alias("hi_a"), F.col("lo").alias("lo_a"))
    hb = hashed.select(F.col("img_id").alias("id_b"),
                       F.col("hi").alias("hi_b"), F.col("lo").alias("lo_b"))
    t1 = time.time()
    n_cand = cand.count()
    n_pairs = (
        cand.join(ha, "id_a").join(hb, "id_b")
        .filter(
            F.bit_count(F.col("hi_a").bitwiseXOR(F.col("hi_b")))
            + F.bit_count(F.col("lo_a").bitwiseXOR(F.col("lo_b"))) <= 6
        )
        .count()
    )
    join_sec = time.time() - t1
    row = {
        "mode": "image",
        "rep": rep,
        "images": n_imgs,
        "fp_sec": round(fp_sec, 2),
        "fp_images_per_sec": round(n_imgs / fp_sec, 1),
        "join_sec": round(join_sec, 2),
        "candidates": n_cand,
        "pairs": n_pairs,
        "partitions": hashed.rdd.getNumPartitions(),
    }
    hashed.unpersist()
    cand.unpersist()
    return row


def main() -> int:
    args = [a for a in sys.argv[1:] if a not in ("--video", "--image")]
    video = "--video" in sys.argv[1:]
    image = "--image" in sys.argv[1:]
    sf_dir = args[0] if args else "/root/testdata/sf0.1"
    reps = [int(a) for a in args[1:]] or [1, 10, 50]

    from shuttlestandalonedbcreator_spark.session import get_spark

    spark = get_spark(app_name="av_scale_bench")
    spark.sparkContext.setLogLevel("ERROR")
    run = run_video_rep if video else run_image_rep if image else run_rep
    # warm the python workers + codegen once so rep timings compare
    run(spark, sf_dir, 1)
    for rep in reps:
        print(json.dumps(run(spark, sf_dir, rep)))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
