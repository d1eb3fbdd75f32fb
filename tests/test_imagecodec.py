"""streaming/imagecodec.py — stdlib PNG codec + registry adapters.

The decoder's filter reconstruction is cross-checked against a
test-local ENCODER that applies each spec filter (Sub/Up/Average/Paeth)
independently — so a sign/offset error in the decode equations cannot
hide behind round-trip symmetry with the package encoder (which only
emits filter 0).
"""

from __future__ import annotations

import struct
import zlib

import pytest

from shuttlestandalonedbcreator_spark.streaming import imagecodec as IC


def _pixels(w: int, h: int, ch: int) -> bytes:
    # deterministic non-trivial gradient + structure
    return bytes(
        (x * 7 + y * 13 + c * 29 + (x * y) % 17) % 256
        for y in range(h)
        for x in range(w)
        for c in range(ch)
    )


def _chunk(ctype: bytes, body: bytes) -> bytes:
    return (struct.pack(">I", len(body)) + ctype + body
            + struct.pack(">I", zlib.crc32(ctype + body) & 0xFFFFFFFF))


def _encode_with_filters(w: int, h: int, ch: int, px: bytes,
                         ftype_of_row) -> bytes:
    """Spec-side filtering: filt(x) = orig(x) - pred(x) mod 256."""
    stride = w * ch
    raw = bytearray()
    prev = bytes(stride)
    for y in range(h):
        line = px[y * stride:(y + 1) * stride]
        ft = ftype_of_row(y)
        raw.append(ft)
        for i in range(stride):
            left = line[i - ch] if i >= ch else 0
            up = prev[i]
            ul = prev[i - ch] if i >= ch else 0
            if ft == 0:
                pred = 0
            elif ft == 1:
                pred = left
            elif ft == 2:
                pred = up
            elif ft == 3:
                pred = (left + up) >> 1
            else:
                pred = IC._paeth(left, up, ul)
            raw.append((line[i] - pred) & 0xFF)
        prev = line
    color = {1: 0, 2: 4, 3: 2, 4: 6}[ch]

    ihdr = struct.pack(">IIBBBBB", w, h, 8, color, 0, 0, 0)
    return (b"\x89PNG\r\n\x1a\n" + _chunk(b"IHDR", ihdr)
            + _chunk(b"IDAT", zlib.compress(bytes(raw))) + _chunk(b"IEND", b""))


@pytest.mark.parametrize("ch", [1, 2, 3, 4])
def test_roundtrip_all_channel_counts(ch):
    w, h = 23, 17
    px = _pixels(w, h, ch)
    data = IC.encode_png(w, h, ch, px)
    assert IC.png_info(data) == (w, h, ch)
    assert IC.decode_png(data) == (w, h, ch, px)


@pytest.mark.parametrize("ft", [0, 1, 2, 3, 4])
def test_each_filter_type_reconstructs(ft):
    w, h, ch = 19, 11, 3
    px = _pixels(w, h, ch)
    data = _encode_with_filters(w, h, ch, px, lambda y: ft)
    assert IC.decode_png(data) == (w, h, ch, px)


def test_mixed_filters_per_row():
    w, h, ch = 16, 20, 4
    px = _pixels(w, h, ch)
    data = _encode_with_filters(w, h, ch, px, lambda y: y % 5)
    assert IC.decode_png(data) == (w, h, ch, px)


def test_palette_expands_to_rgb():
    # 4x2 palette image with 3 palette entries
    w, h = 4, 2
    palette = bytes([255, 0, 0, 0, 255, 0, 0, 0, 255])
    idx = bytes([0, 1, 2, 1, 2, 0, 1, 0])
    raw = bytearray()
    for y in range(h):
        raw.append(0)
        raw.extend(idx[y * w:(y + 1) * w])

    ihdr = struct.pack(">IIBBBBB", w, h, 8, 3, 0, 0, 0)
    data = (b"\x89PNG\r\n\x1a\n" + _chunk(b"IHDR", ihdr)
            + _chunk(b"PLTE", palette)
            + _chunk(b"IDAT", zlib.compress(bytes(raw))) + _chunk(b"IEND", b""))
    got = IC.decode_png(data)
    assert got[:3] == (w, h, 3)
    assert got[3][:6] == bytes([255, 0, 0, 0, 255, 0])


def test_resize_nearest_exact_math():
    w, h, ch = 8, 6, 3
    px = _pixels(w, h, ch)
    out = IC.resize_nearest(w, h, ch, px, 4, 3)
    # nearest map: src_y = ty*h//th, src_x = tx*w//tw
    for ty in range(3):
        for tx in range(4):
            sy, sx = (ty * h) // 3, (tx * w) // 4
            src = px[(sy * w + sx) * ch:(sy * w + sx) * ch + ch]
            dst = out[(ty * 4 + tx) * ch:(ty * 4 + tx) * ch + ch]
            assert src == dst
    # identity + upscale round-trips through the encoder
    up = IC.resize_nearest(w, h, ch, px, 16, 12)
    assert IC.decode_png(IC.encode_png(16, 12, ch, up))[3] == up


def test_corruption_detected():
    data = bytearray(IC.encode_png(5, 5, 3, _pixels(5, 5, 3)))
    data[40] ^= 0xFF  # flip a byte inside IDAT
    with pytest.raises(IC.ImageFormatError, match="CRC|stream|truncated"):
        IC.decode_png(bytes(data))


def test_non_png_fails_loudly_with_register_hint():
    with pytest.raises(IC.ImageFormatError, match="register a PIL"):
        IC.png_info(b"\xff\xd8\xff\xe0fakejpeg")
    with pytest.raises(IC.ImageFormatError, match="register a PIL"):
        IC.decode_png(b"RIFF0000WEBPxxxx")
    assert IC.sniff(b"\xff\xd8\xff\xe0") == "jpeg"
    assert IC.sniff(b"GIF89a") == "gif"


def test_interlaced_rejected():
    ihdr = struct.pack(">IIBBBBB", 4, 4, 8, 2, 0, 0, 1)

    data = b"\x89PNG\r\n\x1a\n" + _chunk(b"IHDR", ihdr) + _chunk(b"IEND", b"")
    with pytest.raises(IC.ImageFormatError, match="Adam7"):
        IC.png_info(data)


def test_registry_adapters():
    w, h, ch = 12, 9, 3
    px = _pixels(w, h, ch)
    data = IC.encode_png(w, h, ch, px)
    meta = IC.stdlib_image_decoder(data)
    assert (meta["width"], meta["height"]) == (w, h)
    resized = IC.stdlib_image_resizer(data, 6, 3)
    rw, rh, rch, rpx = IC.decode_png(resized)
    assert (rw, rh, rch) == (6, 3, ch)
    assert rpx == IC.resize_nearest(w, h, ch, px, 6, 3)


def test_default_codec_is_stdlib_without_pil():
    from shuttlestandalonedbcreator_spark.streaming import multimodal as M

    M.register_decoder("image", lambda data: {})
    M.register_default_image_codecs(overwrite=True)
    assert M._DECODERS["image"] is IC.stdlib_image_decoder
    assert M._RESIZERS["image"] is IC.stdlib_image_resizer


def test_real_png_end_to_end_through_spark(spark):
    """VERDICT r4 task: the multimodal stages decode/resize ACTUAL image
    bytes through the default registry codec — per-row E1 errors
    preserved for unsupported formats and unregistered modalities."""
    from shuttlestandalonedbcreator_spark.streaming import multimodal as M

    M.register_default_image_codecs(overwrite=True)
    png1 = IC.encode_png(20, 10, 3, _pixels(20, 10, 3))
    png2 = IC.encode_png(5, 8, 4, _pixels(5, 8, 4))
    rows = [
        (1, "image", png1),
        (2, "image", png2),
        (3, "image", b"\xff\xd8\xff\xe0 not a png"),  # JPEG marker
        (4, "audio", b"RIFF....WAVE"),     # real WAV codec: truncated bytes
        (5, "hologram", b"unknown"),       # genuinely no default codec
    ]
    df = spark.createDataFrame(rows, "id long, modality string, data binary")
    base = M.attach_binary_metadata(df, "data", "id", "modality")

    feats = {r["content_id"]: r for r in M.extract_features(base).collect()}
    assert feats[1]["feature_ok"] and (feats[1]["width"], feats[1]["height"]) == (20, 10)
    assert feats[2]["feature_ok"] and (feats[2]["width"], feats[2]["height"]) == (5, 8)
    assert not feats[3]["feature_ok"] and "register a PIL" in feats[3]["feature_err"]
    # audio has a REAL default codec since round 7 — junk RIFF bytes fail
    # per-row through audiocodec's loud contract, not "no decoder"
    assert not feats[4]["feature_ok"] and "truncated" in feats[4]["feature_err"]
    assert not feats[5]["feature_ok"] and "no decoder" in feats[5]["feature_err"]

    out = {r["content_id"]: r for r in M.resize_images(base, 8, 4).collect()}
    assert out[1]["resize_ok"] and out[2]["resize_ok"]
    for cid, src in ((1, (20, 10, 3)), (2, (5, 8, 4))):
        w, h, ch, px = IC.decode_png(bytes(out[cid]["content"]))
        assert (w, h, ch) == (8, 4, src[2])
        assert px == IC.resize_nearest(
            src[0], src[1], src[2], _pixels(*src), 8, 4
        )
    assert not out[3]["resize_ok"] and "register a PIL" in out[3]["resize_err"]
    # no audio resizer is registered by default (resampling needs a DSP lib)
    assert not out[4]["resize_ok"] and "no resizer" in out[4]["resize_err"]
    assert not out[5]["resize_ok"] and "no resizer" in out[5]["resize_err"]


def test_palette_index_out_of_range_raises():
    w, h = 3, 1
    palette = bytes([255, 0, 0])  # ONE entry; indices 1,2 invalid

    ihdr = struct.pack(">IIBBBBB", w, h, 8, 3, 0, 0, 0)
    raw = b"\x00" + bytes([0, 1, 2])
    data = (b"\x89PNG\r\n\x1a\n" + _chunk(b"IHDR", ihdr)
            + _chunk(b"PLTE", palette)
            + _chunk(b"IDAT", zlib.compress(raw)) + _chunk(b"IEND", b""))
    with pytest.raises(IC.ImageFormatError, match="palette index"):
        IC.decode_png(data)


def test_truncated_inside_crc_raises_format_error():
    data = IC.encode_png(4, 4, 3, _pixels(4, 4, 3))
    # cut inside the IEND CRC (last 2 bytes gone); png_info stops at
    # IHDR so only the full-chunk walk of decode_png sees the cut
    with pytest.raises(IC.ImageFormatError, match="truncated|IEND"):
        IC.decode_png(data[:-2])


def test_idat_inflate_is_bounded_by_ihdr_dimensions():
    # IDAT inflates to far more than the 2x2 image IHDR promises — the
    # decoder must reject it after at most one image worth of output,
    # never materialize the whole bomb
    ihdr = struct.pack(">IIBBBBB", 2, 2, 8, 2, 0, 0, 0)
    bomb = zlib.compress(b"\x00" * 10_000_000, 9)  # ~10KB compressed
    data = (b"\x89PNG\r\n\x1a\n" + _chunk(b"IHDR", ihdr)
            + _chunk(b"IDAT", bomb) + _chunk(b"IEND", b""))
    with pytest.raises(IC.ImageFormatError, match="length mismatch"):
        IC.decode_png(data)


def test_streaming_image_decode_end_to_end(spark, tmp_path):
    """Streaming integration: PNG files dropped in a folder flow through
    readStream(binaryFile) -> metadata -> the default codec's
    extract_features -> memory sink, per-row E1 errors intact — the
    multimodal stages compose with Structured Streaming unchanged."""
    from pyspark.sql import functions as F

    from shuttlestandalonedbcreator_spark.streaming import multimodal as M

    M.register_default_image_codecs(overwrite=True)
    src = tmp_path / "drop"
    src.mkdir()
    (src / "a.png").write_bytes(IC.encode_png(9, 7, 3, _pixels(9, 7, 3)))
    (src / "b.png").write_bytes(IC.encode_png(4, 5, 4, _pixels(4, 5, 4)))
    (src / "c.png").write_bytes(b"\xff\xd8\xffnot-a-png")

    stream = (
        spark.readStream.format("binaryFile")
        .schema("path string, modificationTime timestamp, length long, content binary")
        .load(str(src))
        .select(
            F.xxhash64("path").alias("content_id"),
            F.lit("image").alias("modality"),
            F.octet_length("content").cast("long").alias("n_bytes"),
            F.sha2("content", 256).alias("sha"),
            F.col("content"),
        )
    )
    feats = M.extract_features(stream)
    q = (
        feats.writeStream.format("memory")
        .queryName("img_feats")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.awaitTermination(120)
    assert q.exception() is None
    rows = spark.sql("SELECT * FROM img_feats").collect()
    assert len(rows) == 3
    dims = sorted(
        (r["width"], r["height"]) for r in rows if r["feature_ok"]
    )
    assert dims == [(4, 5), (9, 7)]
    bad = [r for r in rows if not r["feature_ok"]]
    assert len(bad) == 1 and "register a PIL" in bad[0]["feature_err"]


def test_missing_adler_trailer_rejected():
    """A zlib stream cut inside its adler32 trailer inflates to exactly
    the right length but never verifies the checksum — the bounded
    decompressobj path must still reject it (dec.eof gate)."""
    w, h, ch = 6, 4, 3
    px = _pixels(w, h, ch)
    raw = bytearray()
    for y in range(h):
        raw.append(0)
        raw.extend(px[y * w * ch:(y + 1) * w * ch])
    stream = zlib.compress(bytes(raw))[:-3]  # cut inside the trailer
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    data = (b"\x89PNG\r\n\x1a\n" + _chunk(b"IHDR", ihdr)
            + _chunk(b"IDAT", stream) + _chunk(b"IEND", b""))
    with pytest.raises(IC.ImageFormatError, match="trailer|stream"):
        IC.decode_png(data)
