"""Differential fuzz for the multimodal codec pipelines
(queries.py: audio_fingerprint / video_keyframes / image_dhash_neardup
/ image_quality_gate): seeded random PARAMETERIZATIONS of the same
constructions — sample counts, gain/phase mixes, perturbations, Hamming
thresholds, frame counts, scene lengths, drift sizes, frame/image dims,
dHash grids, histogram size formulas — run through the REAL codec
round-trip (WAV / SSVF+PNG inside Arrow-batched mapInPandas, with the
r7/r8 fused decode-hop shapes: numpy band energies, frame diffs, dHash
folds, bincount histograms) on the Spark side and recomputed from the
pixel/sample formula by DuckDB. The catalog entries pin ONE parameter
point each; this tool attacks the family (the SQL fuzz grammar cannot
reach a Python-side codec pipeline, same rationale as
tools/scalewin_fuzz.py). Seed→case mapping changed in r8 (4-way
rng.choice) — historical seed numbers are not comparable across rounds.

Usage: python tools/av_fuzz.py [sf_dir] [n_seeds] [seed_base]

Exit 0 only if every seed's Spark result equals the DuckDB recompute
exactly (sorted-row comparison). Run across SFs before a release;
record swept blocks in NOTES.md.
"""

from __future__ import annotations

import os
import random
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def _pmod(expr, m):
    from pyspark.sql import functions as F  # noqa: F811

    return (expr % m + m) % m


def audio_case(spark, con, sf_dir, rng):
    """One random audio-fingerprint parameterization, both engines."""
    from pyspark.sql import functions as F

    from shuttlestandalonedbcreator_spark.operators import dedup as D
    from shuttlestandalonedbcreator_spark.queries import _image_idiv, _t
    from shuttlestandalonedbcreator_spark.streaming import audiocodec as AC

    n = rng.choice([256, 512, 1024])
    frames = n // 64
    trans = frames - 1          # frame transitions
    bits = trans * 7            # fingerprint bits
    split = bits // 2 or 1      # hi = bits [0, split), lo = [split, bits)
    phase = rng.choice([17, 31, 53])
    pert = rng.choice([137, 1000, 3000, 8000])
    ham = rng.choice([2, 6, 12])
    rate = rng.choice([8000, 16000, 44100])

    def sample(emb, i, v):
        base = _pmod(
            F.floor(F.get(emb, i % 64).cast("double") * F.lit(1000.0))
            * (1 + _image_idiv(i, 64)) + i * phase,
            65536,
        ) - 32768
        return (
            F.when(v == 1, F.least(F.lit(32767), base + pert)).otherwise(base)
        ).cast("int")

    emb = _t(spark, sf_dir, "embeddings")
    tracks = emb.select(
        "vec_id", "embedding",
        F.explode(F.array(F.lit(0), F.lit(1))).alias("v"),
    ).select(
        (F.col("vec_id") * 2 + F.col("v")).alias("track_id"),
        F.transform(
            F.sequence(F.lit(0), F.lit(n - 1)),
            lambda i: sample(F.col("embedding"), i, F.col("v")),
        ).alias("s"),
    )

    def enc(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            wav = [AC.encode_wav(rate, 1, np.asarray(s, dtype="<i2").tobytes())
                   for s in pdf["s"]]
            yield pd.DataFrame({"track_id": pdf["track_id"], "wav": wav})

    def dec(batches):
        # mirror the entry: exact int64 band energies computed
        # vectorized on the decoded PCM inside the Arrow hop
        # (E[q] = sum of 8 contiguous squared samples)
        import numpy as np
        import pandas as pd

        for pdf in batches:
            out = []
            for data in pdf["wav"]:
                got_rate, ch, n_frames, pcm = AC.decode_wav(bytes(data))
                assert got_rate == rate and ch == 1 and n_frames == n
                s = np.frombuffer(pcm, dtype="<i2").astype("int64")
                out.append((s * s).reshape(-1, 8).sum(axis=1))
            yield pd.DataFrame({"track_id": pdf["track_id"], "e": out})

    energies = tracks.mapInPandas(enc, "track_id long, wav binary").mapInPandas(
        dec, "track_id long, e array<long>"
    )

    def bit(t):
        q = ((_image_idiv(t, 7) + 1) * 8 + t % 7).cast("int")
        return F.when(
            (F.get(F.col("e"), q) - F.get(F.col("e"), q + 1))
            - (F.get(F.col("e"), q - 8) - F.get(F.col("e"), q - 7)) > 0,
            F.lit(1),
        ).otherwise(F.lit(0))

    def fold(seq):
        return F.aggregate(seq, F.lit(0).cast("long"), lambda acc, t: acc * 2 + bit(t))

    def band_last(k):
        return k + 4 * ((bits - 1 - k) // 4)

    hashed = energies.select(
        "track_id",
        fold(F.sequence(F.lit(split - 1), F.lit(0), F.lit(-1))).alias("hi"),
        fold(F.sequence(F.lit(bits - 1), F.lit(split), F.lit(-1))).alias("lo"),
        *[
            fold(F.sequence(F.lit(band_last(k)), F.lit(k), F.lit(-4))).alias(f"b{k}")
            for k in range(4)
        ],
    ).localCheckpoint(eager=True)
    bands = hashed.select(
        "track_id",
        F.explode(F.array(*[
            F.struct(F.lit(k).alias("band"), F.col(f"b{k}").alias("bv"))
            for k in range(4)
        ])).alias("b"),
    ).select("track_id", "b.band", "b.bv")
    cand = (
        bands.alias("a").join(bands.alias("c"), ["band", "bv"])
        .filter(F.col("a.track_id") < F.col("c.track_id"))
        .select(F.col("a.track_id").alias("id_a"), F.col("c.track_id").alias("id_b"))
        .distinct()
    )
    ha = hashed.select(F.col("track_id").alias("id_a"), F.col("hi").alias("hi_a"),
                       F.col("lo").alias("lo_a"))
    hb = hashed.select(F.col("track_id").alias("id_b"), F.col("hi").alias("hi_b"),
                       F.col("lo").alias("lo_b"))
    got = sorted(
        (r["id_a"], r["id_b"], r["hamming"])
        for r in cand.join(ha, "id_a").join(hb, "id_b")
        .select(
            "id_a", "id_b",
            (D.hamming64(F.col("hi_a"), F.col("hi_b"))
             + D.hamming64(F.col("lo_a"), F.col("lo_b"))).alias("hamming"),
        )
        .filter(F.col("hamming") <= ham)
        .collect()
    )

    def bit_sql(t):
        return (
            f"(e[({t} // 7 + 1) * 8 + {t} % 7 + 1] - e[({t} // 7 + 1) * 8 + {t} % 7 + 2])"
            f" - (e[({t} // 7) * 8 + {t} % 7 + 1] - e[({t} // 7) * 8 + {t} % 7 + 2]) > 0"
        )

    def fold_sql(ts):
        terms = " + ".join(
            f"CASE WHEN {bit_sql(t)} THEN CAST(1 AS BIGINT) << {j} ELSE 0 END"
            for j, t in enumerate(ts)
        )
        return f"CAST({terms} AS BIGINT)"

    band_cols = ",\n".join(
        f"{fold_sql(list(range(k, bits, 4)))} AS b{k}" for k in range(4)
    )
    sql = f"""
WITH base AS (
  SELECT vec_id, v,
         [((CAST(FLOOR(CAST(embedding[i % 64 + 1] AS DOUBLE) * 1000.0) AS BIGINT)
            * (1 + i // 64) + i * {phase}) % 65536 + 65536) % 65536 - 32768
          for i in range(0, {n})] AS b
  FROM embeddings, (SELECT UNNEST([0, 1]) AS v)
),
tracks AS (
  SELECT vec_id * 2 + v AS track_id,
         CASE WHEN v = 1 THEN [LEAST(32767, x + {pert}) for x in b] ELSE b END AS s
  FROM base
),
nrg AS (
  SELECT track_id,
         [CAST(list_sum([CAST(s[(q // 8) * 64 + (q % 8) * 8 + j + 1] AS BIGINT)
                         * s[(q // 8) * 64 + (q % 8) * 8 + j + 1]
                         for j in range(0, 8)]) AS BIGINT)
          for q in range(0, {frames * 8})] AS e
  FROM tracks
),
hashed AS (
  SELECT track_id,
         {fold_sql(list(range(0, split)))} AS hi,
         {fold_sql(list(range(split, bits)))} AS lo,
         {band_cols}
  FROM nrg
),
bands AS (
  SELECT track_id, u.band,
         CASE u.band WHEN 0 THEN b0 WHEN 1 THEN b1 WHEN 2 THEN b2 ELSE b3 END AS bv
  FROM hashed, (SELECT UNNEST(range(0, 4)) AS band) u
),
cand AS (
  SELECT DISTINCT a.track_id AS id_a, c.track_id AS id_b
  FROM bands a JOIN bands c ON a.band = c.band AND a.bv = c.bv
  WHERE a.track_id < c.track_id
)
SELECT cand.id_a, cand.id_b,
       CAST(bit_count(xor(ha.hi, hb.hi)) + bit_count(xor(ha.lo, hb.lo)) AS INT) AS hamming
FROM cand
JOIN hashed ha ON ha.track_id = cand.id_a
JOIN hashed hb ON hb.track_id = cand.id_b
WHERE bit_count(xor(ha.hi, hb.hi)) + bit_count(xor(ha.lo, hb.lo)) <= {ham}
"""
    exp = sorted(tuple(r) for r in con.execute(sql).fetchall())
    label = f"audio n={n} phase={phase} pert={pert} ham={ham} rate={rate}"
    return got, exp, label


def video_case(spark, con, sf_dir, rng):
    """One random video-keyframe parameterization, both engines."""
    from pyspark.sql import functions as F

    from shuttlestandalonedbcreator_spark.queries import _image_idiv, _image_px, _t
    from shuttlestandalonedbcreator_spark.streaming import imagecodec as IC
    from shuttlestandalonedbcreator_spark.streaming import videocodec as VC

    n_frames = rng.choice([4, 8, 12, 16])
    scene_len = rng.choice([2, 3, 4])
    w, h = rng.choice([(8, 8), (12, 12), (16, 9), (7, 11)])
    npx = w * h
    drift = rng.choice([1, 3, 7])
    thr = rng.choice([npx // 2, npx * 2, npx * 40])
    tick = rng.choice([33, 40, 100])

    emb = _t(spark, sf_dir, "embeddings")
    vids = emb.select(
        F.col("vec_id").alias("vid_id"),
        F.transform(
            F.sequence(F.lit(0), F.lit(n_frames - 1)),
            lambda f: F.transform(
                F.sequence(F.lit(0), F.lit(npx - 1)),
                lambda i: F.least(
                    F.lit(255),
                    _image_px(F.col("embedding"), i * (3 + _image_idiv(f, scene_len)))
                    + (f % scene_len) * drift,
                ).cast("int"),
            ),
        ).alias("frames"),
    )

    def enc(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            vid = [
                VC.encode_video([
                    (f_no * tick,
                     IC.encode_png(w, h, 1, np.asarray(fr, dtype=np.uint8).tobytes()))
                    for f_no, fr in enumerate(frames)
                ])
                for frames in pdf["frames"]
            ]
            yield pd.DataFrame({"vid_id": pdf["vid_id"], "video": vid})

    def dec(batches):
        # mirror the entry: previous-frame diff computed vectorized
        # inside the decode hop (frames are local to the container row)
        import numpy as np
        import pandas as pd

        for pdf in batches:
            ids, fnos, tss, diffs = [], [], [], []
            for vid_id, data in zip(pdf["vid_id"], pdf["video"]):
                prev = None
                for f_no, (ts_ms, png) in enumerate(VC.decode_video(bytes(data))):
                    got_w, got_h, _ch, px = IC.decode_png(bytes(png))
                    assert (got_w, got_h) == (w, h)
                    cur = np.frombuffer(px, dtype=np.uint8).astype("int64")
                    ids.append(vid_id)
                    fnos.append(f_no)
                    tss.append(ts_ms)
                    diffs.append(
                        None if prev is None else int(np.abs(cur - prev).sum())
                    )
                    prev = cur
            yield pd.DataFrame({
                "vid_id": ids, "frame_no": fnos, "ts_ms": tss,
                "diff_sum": pd.array(diffs, dtype="Int64"),
            })

    frames = vids.mapInPandas(enc, "vid_id long, video binary").mapInPandas(
        dec, "vid_id long, frame_no int, ts_ms int, diff_sum long"
    )
    got = sorted(
        (r["vid_id"], r["frame_no"], r["ts_ms"],
         r["diff_sum"] if r["diff_sum"] is not None else -1)
        for r in frames
        .filter((F.col("frame_no") == 0) | (F.col("diff_sum") > thr))
        .collect()
    )

    sql = f"""
WITH fr AS (
  SELECT vec_id AS vid_id, f,
         [LEAST(255, ((CAST(FLOOR(CAST(embedding[(i * (3 + f // {scene_len})) % 64 + 1] AS DOUBLE) * 1000.0) AS BIGINT) % 256 + 256) % 256)
                 + (f % {scene_len}) * {drift})
          for i in range(0, {npx})] AS px
  FROM embeddings, (SELECT UNNEST(range(0, {n_frames})) AS f)
),
lagged AS (
  SELECT vid_id, f, px, lag(px) OVER (PARTITION BY vid_id ORDER BY f) AS prev
  FROM fr
),
d AS (
  SELECT vid_id, f,
         CAST(list_sum([abs(px[i + 1] - prev[i + 1]) for i in range(0, {npx})]) AS BIGINT) AS diff_sum
  FROM lagged
)
SELECT vid_id, CAST(f AS INT) AS frame_no, CAST(f * {tick} AS INT) AS ts_ms,
       COALESCE(diff_sum, -1) AS diff_sum
FROM d
WHERE f = 0 OR diff_sum > {thr}
"""
    exp = sorted(tuple(r) for r in con.execute(sql).fetchall())
    label = (f"video n_frames={n_frames} scene={scene_len} {w}x{h} "
             f"drift={drift} thr={thr} tick={tick}")
    return got, exp, label


def image_case(spark, con, sf_dir, rng):
    """One random image-dHash parameterization — the r8 fused shape:
    resize + bit-pack + band folds all inside the decode hop (numpy,
    pure-integer), banded self-join + exact Hamming verify JVM-side,
    DuckDB recomputing everything from the pixel formula."""
    from pyspark.sql import functions as F

    from shuttlestandalonedbcreator_spark.operators import dedup as D
    from shuttlestandalonedbcreator_spark.queries import _image_px, _t
    from shuttlestandalonedbcreator_spark.streaming import imagecodec as IC

    w, h = rng.choice([(16, 16), (12, 8), (9, 13), (24, 6)])
    gw, gh = rng.choice([(9, 8), (5, 8), (9, 4), (4, 6)])
    bits = (gw - 1) * gh
    split = bits // 2 or 1
    pert = rng.choice([3, 10, 40])
    ham = rng.choice([1, 3, 8])

    emb = _t(spark, sf_dir, "embeddings")
    imgs = emb.select(
        "vec_id", "embedding",
        F.explode(F.array(F.lit(0), F.lit(1))).alias("v"),
    ).select(
        (F.col("vec_id") * 2 + F.col("v")).alias("img_id"),
        F.transform(
            F.sequence(F.lit(0), F.lit(w * h - 1)),
            lambda i: F.when(
                F.col("v") == 1,
                F.least(F.lit(255), _image_px(F.col("embedding"), i) + pert),
            ).otherwise(_image_px(F.col("embedding"), i)).cast("int"),
        ).alias("px"),
    )

    def enc(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            png = [IC.encode_png(w, h, 1, np.asarray(px, dtype=np.uint8).tobytes())
                   for px in pdf["px"]]
            yield pd.DataFrame({"img_id": pdf["img_id"], "png": png})

    def dec(batches):
        # mirror the fused entry: resize + dHash fold + band folds in
        # the hop, only small ints leave Python
        import numpy as np
        import pandas as pd

        # size the weight array to the widest fold actually used —
        # 1 << 63 overflows int64 (becomes INT64_MIN) and would silently
        # diverge from the DuckDB CASE/shift fold if a >=64-bit fold
        # were ever added to the grid choices
        max_fold = max(split, bits - split,
                       *(len(range(k, bits, 4)) for k in range(4)))
        assert max_fold < 64, f"fold width {max_fold} >= 64 overflows int64"
        wts = 1 << np.arange(max_fold, dtype=np.int64)
        for pdf in batches:
            out = {"img_id": pdf["img_id"], "hi": [], "lo": []}
            bvs = [[] for _ in range(4)]
            for data in pdf["png"]:
                got_w, got_h, ch, px = IC.decode_png(bytes(data))
                assert (got_w, got_h) == (w, h)
                small = IC.resize_nearest(got_w, got_h, ch, px, gw, gh)
                g = np.frombuffer(small, dtype=np.uint8).reshape(gh, gw)
                b = (g[:, : gw - 1] > g[:, 1:]).reshape(-1).astype(np.int64)
                out["hi"].append(int(b[:split] @ wts[:split]))
                out["lo"].append(int(b[split:] @ wts[: bits - split]))
                for k in range(4):
                    sel = b[k::4]
                    bvs[k].append(int(sel @ wts[: len(sel)]))
            for k in range(4):
                out[f"b{k}"] = bvs[k]
            yield pd.DataFrame(out)

    hashed = (
        imgs.mapInPandas(enc, "img_id long, png binary")
        .mapInPandas(
            dec,
            "img_id long, hi long, lo long, b0 long, b1 long, b2 long, b3 long",
        )
        .localCheckpoint(eager=True)
    )
    bands = hashed.select(
        "img_id",
        F.explode(F.array(*[
            F.struct(F.lit(k).alias("band"), F.col(f"b{k}").alias("bv"))
            for k in range(4)
        ])).alias("b"),
    ).select("img_id", "b.band", "b.bv")
    cand = (
        bands.alias("a").join(bands.alias("c"), ["band", "bv"])
        .filter(F.col("a.img_id") < F.col("c.img_id"))
        .select(F.col("a.img_id").alias("id_a"), F.col("c.img_id").alias("id_b"))
        .distinct()
    )
    ha = hashed.select(F.col("img_id").alias("id_a"), F.col("hi").alias("hi_a"),
                       F.col("lo").alias("lo_a"))
    hb = hashed.select(F.col("img_id").alias("id_b"), F.col("hi").alias("hi_b"),
                       F.col("lo").alias("lo_b"))
    got = sorted(
        (r["id_a"], r["id_b"], r["hamming"])
        for r in cand.join(ha, "id_a").join(hb, "id_b")
        .select(
            "id_a", "id_b",
            (D.hamming64(F.col("hi_a"), F.col("hi_b"))
             + D.hamming64(F.col("lo_a"), F.col("lo_b"))).alias("hamming"),
        )
        .filter(F.col("hamming") <= ham)
        .collect()
    )

    def bit_sql(p):
        r, c = p // (gw - 1), p % (gw - 1)
        src = lambda cc: f"p[{(r * h // gh) * w} + ({cc} * {w}) // {gw} + 1]"  # noqa: E731
        return f"{src(c)} > {src(c + 1)}"

    def fold_sql(ps):
        terms = " + ".join(
            f"CASE WHEN {bit_sql(p)} THEN CAST(1 AS BIGINT) << {j} ELSE 0 END"
            for j, p in enumerate(ps)
        )
        return f"CAST({terms} AS BIGINT)"

    band_cols = ",\n".join(
        f"{fold_sql(list(range(k, bits, 4)))} AS b{k}" for k in range(4)
    )
    sql = f"""
WITH imgs AS (
  SELECT vec_id * 2 + v AS img_id,
         [CAST(CASE WHEN v = 1
               THEN LEAST(255, ((CAST(FLOOR(CAST(embedding[i % 64 + 1] AS DOUBLE) * 1000.0) AS BIGINT) % 256 + 256) % 256) + {pert})
               ELSE ((CAST(FLOOR(CAST(embedding[i % 64 + 1] AS DOUBLE) * 1000.0) AS BIGINT) % 256 + 256) % 256)
               END AS INT)
          for i in range(0, {w * h})] AS p
  FROM embeddings, (SELECT UNNEST([0, 1]) AS v)
),
hashed AS (
  SELECT img_id,
         {fold_sql(list(range(0, split)))} AS hi,
         {fold_sql(list(range(split, bits)))} AS lo,
         {band_cols}
  FROM imgs
),
bands AS (
  SELECT img_id, u.band,
         CASE u.band WHEN 0 THEN b0 WHEN 1 THEN b1 WHEN 2 THEN b2 ELSE b3 END AS bv
  FROM hashed, (SELECT UNNEST(range(0, 4)) AS band) u
),
cand AS (
  SELECT DISTINCT a.img_id AS id_a, c.img_id AS id_b
  FROM bands a JOIN bands c ON a.band = c.band AND a.bv = c.bv
  WHERE a.img_id < c.img_id
)
SELECT cand.id_a, cand.id_b,
       CAST(bit_count(xor(ha.hi, hb.hi)) + bit_count(xor(ha.lo, hb.lo)) AS INT) AS hamming
FROM cand
JOIN hashed ha ON ha.img_id = cand.id_a
JOIN hashed hb ON hb.img_id = cand.id_b
WHERE bit_count(xor(ha.hi, hb.hi)) + bit_count(xor(ha.lo, hb.lo)) <= {ham}
"""
    exp = sorted(tuple(r) for r in con.execute(sql).fetchall())
    label = f"image {w}x{h}->{gw}x{gh} bits={bits} pert={pert} ham={ham}"
    return got, exp, label


def hist_case(spark, con, sf_dir, rng):
    """One random image-histogram parameterization — the r8 fused
    quality-gate shape: np.bincount inside the decode hop, exact-integer
    stats (n_levels, simpson) folded JVM-side from the counts array.
    The log-bearing entropy term is deliberately NOT fuzzed: it adds
    only libm-boundary risk, no codec coverage — n_levels/simpson are
    determined by the same histogram."""
    from pyspark.sql import functions as F

    from shuttlestandalonedbcreator_spark.queries import _image_px, _t
    from shuttlestandalonedbcreator_spark.streaming import imagecodec as IC

    wm = rng.choice([8, 17, 24])
    hm = rng.choice([8, 13, 24])
    km = rng.choice([3, 7, 11])

    emb = _t(spark, sf_dir, "embeddings")
    w_e = (F.lit(8) + F.col("vec_id") % wm).cast("int")
    h_e = (F.lit(8) + (F.col("vec_id") * km) % hm).cast("int")
    imgs = emb.select(
        F.col("vec_id").alias("img_id"), w_e.alias("w"), h_e.alias("h"),
        F.transform(
            F.sequence(F.lit(0), (w_e * h_e - 1).cast("int")),
            lambda i: _image_px(F.col("embedding"), i),
        ).alias("px"),
    )

    def enc(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            png = [IC.encode_png(int(w), int(h), 1,
                                 np.asarray(px, dtype=np.uint8).tobytes())
                   for w, h, px in zip(pdf["w"], pdf["h"], pdf["px"])]
            yield pd.DataFrame({"img_id": pdf["img_id"], "png": png})

    def dec(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            ws, hs, cnts = [], [], []
            for data in pdf["png"]:
                w, h, ch, px = IC.decode_png(bytes(data))
                ws.append(w)
                hs.append(h)
                cnts.append(np.bincount(np.frombuffer(px, dtype=np.uint8),
                                        minlength=256).astype("int64").tolist())
            yield pd.DataFrame({"img_id": pdf["img_id"], "width": ws,
                                "height": hs, "counts": cnts})

    decoded = imgs.mapInPandas(enc, "img_id long, png binary").mapInPandas(
        dec, "img_id long, width int, height int, counts array<long>"
    )
    got = sorted(
        (r["img_id"], r["width"], r["height"], r["n_levels"], r["simpson"])
        for r in decoded.select(
            "img_id", "width", "height",
            F.size(F.filter("counts", lambda c: c > 0)).cast("int")
            .alias("n_levels"),
            F.aggregate("counts", F.lit(0).cast("long"),
                        lambda acc, c: acc + c * c).alias("simpson"),
        ).collect()
    )

    sql = f"""
WITH imgs AS (
  SELECT vec_id AS img_id,
         CAST(8 + vec_id % {wm} AS INT) AS width,
         CAST(8 + (vec_id * {km}) % {hm} AS INT) AS height,
         [CAST(((CAST(FLOOR(CAST(embedding[i % 64 + 1] AS DOUBLE) * 1000.0) AS BIGINT) % 256) + 256) % 256 AS INT)
          for i in range(0, (8 + vec_id % {wm}) * (8 + (vec_id * {km}) % {hm}))] AS px
  FROM embeddings
),
hist AS (
  SELECT img_id, width, height, u.val, COUNT(*) AS c
  FROM imgs, UNNEST(px) AS u(val)
  GROUP BY img_id, width, height, u.val
)
SELECT img_id, width, height,
       CAST(COUNT(*) AS INT) AS n_levels,
       CAST(SUM(c * c) AS BIGINT) AS simpson
FROM hist
GROUP BY img_id, width, height
"""
    exp = sorted(tuple(r) for r in con.execute(sql).fetchall())
    label = f"hist wm={wm} hm={hm} km={km}"
    return got, exp, label


def main() -> int:
    import duckdb

    from shuttlestandalonedbcreator_spark.session import get_spark

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    n_seeds = int(sys.argv[2]) if len(sys.argv) > 2 else 20
    base = int(sys.argv[3]) if len(sys.argv) > 3 else 90000

    spark = get_spark()
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM '{sf_dir}/embeddings.parquet'"
    )

    failures = 0
    t0 = time.time()
    for seed in range(base, base + n_seeds):
        rng = random.Random(seed)
        case = rng.choice([audio_case, video_case, image_case, hist_case])
        got, exp, label = case(spark, con, sf_dir, rng)
        if got != exp:
            failures += 1
            only_spark = [r for r in got if r not in set(exp)][:3]
            only_duck = [r for r in exp if r not in set(got)][:3]
            print(f"DIVERGE seed={seed} {label}: spark={len(got)} duck={len(exp)} "
                  f"+spark={only_spark} +duck={only_duck}")
        else:
            print(f"ok seed={seed} {label}: {len(got)} rows [{time.time() - t0:.0f}s]")
    print(f"swept {n_seeds} av seeds @ {sf_dir}: {failures} divergences")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
