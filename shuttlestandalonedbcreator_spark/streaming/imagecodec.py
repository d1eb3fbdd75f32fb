"""Real image codec for the multimodal pipeline — no native libs needed.

The default `image` codec is a self-contained PNG decoder/encoder
written from the public PNG specification (RFC 2083 / W3C PNG): PNG's
pixel stream is just zlib-compressed, per-row-filtered scanlines, and
`zlib` + `struct` are stdlib — which makes PNG the one mainstream raster
format decodable end-to-end with zero dependencies. Formats that genuinely need codec
libraries (JPEG's DCT, WebP) still fail loudly with a register-a-codec
message, preserving the loud-fail contract for unsupported bytes. A
deployment with PIL registers it through `multimodal.register_decoder`
and `register_resizer`.

Supported PNG subset (covers everything our encoder or a typical
``PIL.Image.save(..., "PNG")`` of RGB/RGBA/L/LA/P images emits):
bit depth 8; color types gray(0), RGB(2), palette(3), gray+alpha(4),
RGBA(6); all five scanline filters (None/Sub/Up/Average/Paeth);
non-interlaced. Adam7 interlacing is rejected loudly.

Decode output is ``(width, height, channels, pixels)`` with pixels a
bytes object of length w*h*channels (palette expanded to RGB). Resize is
nearest-neighbor via numpy index maps (vectorized; no Python pixel
loop). Encode emits filter-0 rows, zlib level 6, correct CRCs.
"""

from __future__ import annotations

import struct
import zlib

_PNG_SIG = b"\x89PNG\r\n\x1a\n"

# color type -> channels (after palette expansion for type 3)
_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}


class ImageFormatError(ValueError):
    """Raised for bytes this codec cannot handle — the message always
    says how to plug in a richer codec (PIL) for the format."""


def _chunks(data: bytes):
    pos = 8
    while pos + 8 <= len(data):
        (length,), ctype = struct.unpack(">I", data[pos:pos + 4]), data[pos + 4:pos + 8]
        body = data[pos + 8:pos + 8 + length]
        if len(body) != length or pos + 12 + length > len(data):
            raise ImageFormatError("truncated PNG chunk")
        # CRC covers type+body
        (crc,) = struct.unpack(">I", data[pos + 8 + length:pos + 12 + length])
        if crc != zlib.crc32(ctype + body) & 0xFFFFFFFF:
            raise ImageFormatError(f"bad CRC in {ctype!r} chunk")
        yield ctype, body
        pos += 12 + length
        if ctype == b"IEND":
            return
    raise ImageFormatError("PNG ended without IEND")


def sniff(data: bytes) -> str | None:
    """Best-effort container sniff for error messages."""
    if data[:8] == _PNG_SIG:
        return "png"
    if data[:3] == b"\xff\xd8\xff":
        return "jpeg"
    if data[:4] == b"RIFF" and data[8:12] == b"WEBP":
        return "webp"
    if data[:6] in (b"GIF87a", b"GIF89a"):
        return "gif"
    if data[:2] == b"BM":
        return "bmp"
    return None


def _require_png(data: bytes) -> None:
    kind = sniff(data)
    if kind != "png":
        raise ImageFormatError(
            f"unsupported image format {kind or 'unknown'!r}: the stdlib "
            "codec handles PNG only — register a PIL-backed decoder for "
            "other formats via multimodal.register_decoder()"
        )


def png_info(data: bytes) -> tuple[int, int, int]:
    """(width, height, channels) from IHDR, CRC-checked — the cheap
    metadata path (no pixel inflation)."""
    _require_png(data)
    for ctype, body in _chunks(data):
        if ctype != b"IHDR":
            raise ImageFormatError("first PNG chunk is not IHDR")
        w, h, depth, color, comp, filt, interlace = struct.unpack(">IIBBBBB", body)
        if depth != 8:
            raise ImageFormatError(f"unsupported PNG bit depth {depth} (only 8)")
        if color not in _CHANNELS:
            raise ImageFormatError(f"unsupported PNG color type {color}")
        if comp or filt:
            raise ImageFormatError("nonstandard PNG compression/filter method")
        if interlace:
            raise ImageFormatError(
                "Adam7-interlaced PNG unsupported — register a PIL decoder"
            )
        if not w or not h:
            raise ImageFormatError("zero-dimension PNG")
        ch = 3 if color == 3 else _CHANNELS[color]
        return w, h, ch
    raise ImageFormatError("no IHDR chunk")


def _paeth(a: int, b: int, c: int) -> int:
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    return b if pb <= pc else c


def decode_png(data: bytes) -> tuple[int, int, int, bytes]:
    """Full decode: (width, height, channels, raw pixel bytes). Palette
    images expand to RGB. Implements the five PNG scanline filters from
    the spec's reconstruction equations."""
    _require_png(data)
    width = height = None
    color = None
    palette = None
    idat = bytearray()
    for ctype, body in _chunks(data):
        if ctype == b"IHDR":
            width, height, depth, color, comp, filt, interlace = struct.unpack(
                ">IIBBBBB", body
            )
            png_info(data)  # centralized validation (depth/interlace/...)
        elif ctype == b"PLTE":
            palette = body
        elif ctype == b"IDAT":
            idat.extend(body)
    if width is None:
        raise ImageFormatError("no IHDR chunk")
    ch = _CHANNELS[color]
    stride = width * ch
    expected = (stride + 1) * height
    # bound the inflate by the size IHDR promises — a crafted IDAT
    # (zlib bomb) must not allocate more than one image worth of bytes
    dec = zlib.decompressobj()
    try:
        raw = dec.decompress(bytes(idat), expected)
    except zlib.error as e:
        raise ImageFormatError(f"corrupt PNG pixel stream: {e}") from e
    if len(raw) != expected or (
        dec.unconsumed_tail and dec.decompress(dec.unconsumed_tail, 1)
    ):
        raise ImageFormatError("PNG pixel stream length mismatch")
    if not dec.eof:
        # right length but the stream never terminated — the adler32
        # trailer is missing/cut, so the integrity checksum was never
        # verified (plain zlib.decompress would have raised here too)
        raise ImageFormatError("PNG pixel stream truncated (no trailer)")
    out = bytearray(stride * height)
    prev = bytearray(stride)
    pos = 0
    for y in range(height):
        ftype = raw[pos]
        line = bytearray(raw[pos + 1:pos + 1 + stride])
        pos += 1 + stride
        if ftype == 1:  # Sub
            for i in range(ch, stride):
                line[i] = (line[i] + line[i - ch]) & 0xFF
        elif ftype == 2:  # Up
            for i in range(stride):
                line[i] = (line[i] + prev[i]) & 0xFF
        elif ftype == 3:  # Average
            for i in range(stride):
                left = line[i - ch] if i >= ch else 0
                line[i] = (line[i] + ((left + prev[i]) >> 1)) & 0xFF
        elif ftype == 4:  # Paeth
            for i in range(stride):
                left = line[i - ch] if i >= ch else 0
                above_left = prev[i - ch] if i >= ch else 0
                line[i] = (line[i] + _paeth(left, prev[i], above_left)) & 0xFF
        elif ftype != 0:
            raise ImageFormatError(f"unknown PNG filter type {ftype}")
        out[y * stride:(y + 1) * stride] = line
        prev = line
    if color == 3:
        if palette is None:
            raise ImageFormatError("palette PNG without PLTE chunk")
        n_entries = len(palette) // 3
        # one C-speed pass validates every index before the (Python)
        # expansion loop runs
        if out and max(out) >= n_entries:
            raise ImageFormatError(
                f"palette index {max(out)} out of range ({n_entries} entries)"
            )
        rgb = bytearray(width * height * 3)
        for i, idx in enumerate(out):
            rgb[3 * i:3 * i + 3] = palette[3 * idx:3 * idx + 3]
        return width, height, 3, bytes(rgb)
    return width, height, ch, bytes(out)


def encode_png(width: int, height: int, channels: int, pixels: bytes) -> bytes:
    """Minimal conforming PNG writer: 8-bit, filter 0 on every row."""
    color = {1: 0, 2: 4, 3: 2, 4: 6}.get(channels)
    if color is None:
        raise ImageFormatError(f"cannot encode {channels}-channel pixels")
    stride = width * channels
    if len(pixels) != stride * height:
        raise ImageFormatError("pixel buffer does not match dimensions")
    raw = bytearray()
    for y in range(height):
        raw.append(0)
        raw.extend(pixels[y * stride:(y + 1) * stride])

    def chunk(ctype: bytes, body: bytes) -> bytes:
        return (
            struct.pack(">I", len(body))
            + ctype
            + body
            + struct.pack(">I", zlib.crc32(ctype + body) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", width, height, 8, color, 0, 0, 0)
    return (
        _PNG_SIG
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(bytes(raw), 6))
        + chunk(b"IEND", b"")
    )


def resize_nearest(
    width: int, height: int, channels: int, pixels: bytes,
    target_w: int, target_h: int,
) -> bytes:
    """Nearest-neighbor resample via numpy gather — vectorized, no
    per-pixel Python loop (the mapInPandas hot path)."""
    import numpy as np

    if target_w <= 0 or target_h <= 0:
        raise ImageFormatError("resize target must be positive")
    arr = np.frombuffer(pixels, dtype=np.uint8).reshape(height, width, channels)
    ys = (np.arange(target_h) * height) // target_h
    xs = (np.arange(target_w) * width) // target_w
    return arr[ys][:, xs].tobytes()


# --- registry-facing adapters -------------------------------------------


def stdlib_image_decoder(data: bytes) -> dict:
    """`multimodal.register_decoder("image", ...)` adapter: IHDR-level
    metadata (fast; no pixel inflation). Raises ImageFormatError for
    non-PNG bytes — surfaced per row as feature_ok=False (E1)."""
    w, h, _ = png_info(bytes(data))
    return {"width": w, "height": h, "duration_ms": None}


def stdlib_image_resizer(data: bytes, target_w: int, target_h: int) -> bytes:
    """`multimodal.register_resizer("image", ...)` adapter: full decode →
    nearest-neighbor → re-encode PNG."""
    w, h, ch, px = decode_png(bytes(data))
    return encode_png(target_w, target_h, ch,
                      resize_nearest(w, h, ch, px, target_w, target_h))
