"""Multimodal column plumbing — image/audio/video as opaque binary columns
with typed metadata (training-data pipeline surface; no reference
counterpart, BASELINE.json north star).

Design: content is a `binary` column + a `modality` tag + typed metadata
struct. Decode / feature-extract / resize / frame-sample run as
Arrow-batched `mapInPandas` stages. All three modalities ship with a
REAL default codec, registered at import below: `image` (imagecodec.py:
stdlib-zlib PNG decoder/encoder), `audio` (audiocodec.py: stdlib
PCM-WAV), `video` (videocodec.py: SSVF PNG-frame container, incl. a
real frame sampler) — so extract_features /
resize_images / sample_frames run on actual codec bytes end-to-end with
no extra libraries. Formats that genuinely need codec libraries
(JPEG/WebP, MP3/AAC, H.264/MP4) keep the loud per-row failure that
tells the deployment to register a richer codec (PIL/torchaudio/ffmpeg)
with the same signatures.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from shuttlestandalonedbcreator_spark.operators.util import fan_out

# modality -> (bytes -> feature dict with keys of FEATURE_SCHEMA)
_DECODERS: dict[str, Callable[[bytes], dict]] = {}
# (bytes, target_w, target_h) -> resized bytes
_RESIZERS: dict[str, Callable[[bytes, int, int], bytes]] = {}
# (bytes, n_frames) -> list of (frame_ms, frame_bytes)
_FRAME_SAMPLERS: dict[str, Callable[[bytes, int], list[tuple[int, bytes]]]] = {}

FEATURE_SCHEMA = (
    "content_id long, modality string, n_bytes long, sha string, "
    "width int, height int, duration_ms int, feature_ok boolean, feature_err string"
)

RESIZE_SCHEMA = (
    "content_id long, modality string, content binary, width int, height int, "
    "resize_ok boolean, resize_err string"
)

FRAME_SCHEMA = (
    "content_id long, frame_index int, frame_ms int, frame binary, "
    "frame_ok boolean, frame_err string"
)


def register_decoder(modality: str, fn: Callable[[bytes], dict]) -> None:
    _DECODERS[modality] = fn


def register_resizer(modality: str, fn: Callable[[bytes, int, int], bytes]) -> None:
    _RESIZERS[modality] = fn


def register_frame_sampler(
    modality: str, fn: Callable[[bytes, int], list[tuple[int, bytes]]]
) -> None:
    _FRAME_SAMPLERS[modality] = fn


def deterministic_fake_resizer() -> Callable[[bytes, int, int], bytes]:
    """Test resizer: tile-or-truncate the payload to exactly w*h bytes —
    a stand-in with real batch/schema shape (a deployment registers
    PIL's ``Image.resize`` with the same signature)."""

    def resize(data: bytes, w: int, h: int) -> bytes:
        target = max(w * h, 1)
        if not data:
            return b"\x00" * target
        reps = target // len(data) + 1
        return (data * reps)[:target]

    return resize


def deterministic_fake_frame_sampler() -> Callable[[bytes, int], list[tuple[int, bytes]]]:
    """Test sampler: cut the payload into n equal slices, one per
    'frame', stamped at 1000 ms intervals (ffmpeg keyframe extraction has
    the same signature in a real deployment)."""

    def sample(data: bytes, n: int) -> list[tuple[int, bytes]]:
        n = max(n, 1)
        step = max(len(data) // n, 1)
        out = []
        for i in range(n):
            lo = i * step
            hi = len(data) if i == n - 1 else (i + 1) * step
            out.append((i * 1000, data[lo:hi]))
        return out

    return sample


def deterministic_fake_decoder(modality: str) -> Callable[[bytes], dict]:
    """Test decoder: derives stable pseudo-dimensions from the bytes —
    exercises the full distributed path without codec libraries."""

    def decode(data: bytes) -> dict:
        h = sum(data[:64]) if data else 0
        return {
            "width": 16 + h % 64 if modality == "image" else None,
            "height": 16 + (h // 64) % 64 if modality == "image" else None,
            "duration_ms": 1000 + h % 9000 if modality in ("audio", "video") else None,
        }

    return decode


def stub_decoder(modality: str) -> Callable[[bytes], dict]:
    """Production placeholder: fails loudly so missing codecs are never
    silently swallowed (feature_ok=False carries the error per row)."""

    def decode(data: bytes) -> dict:
        raise NotImplementedError(
            f"no {modality} codec in this environment — register a real "
            "decoder (PIL/torchaudio/ffmpeg) via register_decoder()"
        )

    return decode


def register_default_image_codecs(overwrite: bool = False) -> None:
    """Install the default `image` decoder/resizer: the stdlib PNG codec
    (imagecodec.py). A deployment with PIL registers its own through
    register_decoder/register_resizer. Called once at import; call again
    with ``overwrite=True`` to restore the defaults after a test or caller
    registered its own codec."""
    import shuttlestandalonedbcreator_spark.streaming.imagecodec as _image_module

    if overwrite or "image" not in _DECODERS:
        _DECODERS["image"] = _image_module.stdlib_image_decoder
    if overwrite or "image" not in _RESIZERS:
        _RESIZERS["image"] = _image_module.stdlib_image_resizer


def register_default_av_codecs(overwrite: bool = False) -> None:
    """Install the default `audio` decoder (stdlib PCM-WAV,
    audiocodec.py) and `video` decoder + frame sampler (SSVF PNG-frame
    container, videocodec.py). Same contract as the image defaults:
    real codecs for the dependency-free formats, loud per-row failures
    (AudioFormatError/VideoFormatError via feature_err) for bytes that
    need a real library (MP3/AAC/H.264/MP4 ...). No audio resizer or
    audio frame sampler is installed — resampling genuinely needs a DSP
    library, so those stay loud-fail until a deployment registers one."""
    import shuttlestandalonedbcreator_spark.streaming.audiocodec as _audio_module
    import shuttlestandalonedbcreator_spark.streaming.videocodec as _video_module

    if overwrite or "audio" not in _DECODERS:
        _DECODERS["audio"] = _audio_module.default_audio_decoder()
    if overwrite or "video" not in _DECODERS:
        _DECODERS["video"] = _video_module.default_video_decoder()
    if overwrite or "video" not in _FRAME_SAMPLERS:
        _FRAME_SAMPLERS["video"] = _video_module.default_video_frame_sampler()


register_default_image_codecs()
register_default_av_codecs()


def attach_binary_metadata(
    df: DataFrame, content_col: str, id_col: str, modality_col: str
) -> DataFrame:
    """Cheap JVM-side metadata: byte length + content digest. No UDF."""
    return df.select(
        F.col(id_col).alias("content_id"),
        F.col(modality_col).alias("modality"),
        F.octet_length(F.col(content_col)).cast("long").alias("n_bytes"),
        F.sha2(F.col(content_col), 256).alias("sha"),
        F.col(content_col).alias("content"),
    )


def extract_features(df: DataFrame) -> DataFrame:
    """Arrow-batched decode/feature stage over (content_id, modality,
    n_bytes, sha, content). Per-row errors are captured, not thrown —
    operator E1's skip-and-count semantics applied to codecs."""

    def run(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            out = []
            for _, row in pdf.iterrows():
                modality = row["modality"]
                decoder = _DECODERS.get(modality)
                feats = {"width": None, "height": None, "duration_ms": None}
                ok, err = False, None
                if decoder is None:
                    err = f"no decoder registered for modality '{modality}'"
                else:
                    try:
                        feats.update(decoder(bytes(row["content"])))
                        ok = True
                    except Exception as e:  # per-row skip (E1)
                        err = str(e)[:200]
                out.append(
                    {
                        "content_id": row["content_id"],
                        "modality": modality,
                        "n_bytes": row["n_bytes"],
                        "sha": row["sha"],
                        "width": feats["width"],
                        "height": feats["height"],
                        "duration_ms": feats["duration_ms"],
                        "feature_ok": ok,
                        "feature_err": err,
                    }
                )
            yield pd.DataFrame(out)

    return fan_out(df).mapInPandas(run, schema=FEATURE_SCHEMA)


def resize_images(df: DataFrame, target_w: int, target_h: int) -> DataFrame:
    """Arrow-batched resize stage: (content_id, modality, content) →
    resized content + recorded dims. Rows whose modality has no
    registered resizer (or whose resizer throws) come back with
    ``resize_ok=False`` + the error — E1 semantics, never a job abort.
    Narrow map over fan_out partitions: scales linearly with executors."""
    def run(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            out = []
            for _, row in pdf.iterrows():
                modality = row["modality"]
                resizer = _RESIZERS.get(modality)
                content, ok, err = None, False, None
                if resizer is None:
                    err = f"no resizer registered for modality '{modality}'"
                else:
                    try:
                        content = resizer(bytes(row["content"]), target_w, target_h)
                        ok = True
                    except Exception as e:  # per-row skip (E1)
                        err = str(e)[:200]
                out.append(
                    {
                        "content_id": row["content_id"],
                        "modality": modality,
                        "content": content,
                        "width": target_w if ok else None,
                        "height": target_h if ok else None,
                        "resize_ok": ok,
                        "resize_err": err,
                    }
                )
            yield pd.DataFrame(out)

    return fan_out(df).mapInPandas(run, schema=RESIZE_SCHEMA)


def sample_frames(df: DataFrame, n_frames: int = 4) -> DataFrame:
    """Arrow-batched frame-sampling stage: each (video) row expands to
    ``n_frames`` rows (content_id, frame_index, frame_ms, frame).
    Expansion happens inside mapInPandas — partition-parallel, no
    explode-shuffle; downstream per-frame stages (decode, embed) chain
    onto the same partitioning."""
    def run(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            out = []
            for _, row in pdf.iterrows():
                modality = row["modality"]
                sampler = _FRAME_SAMPLERS.get(modality)
                if sampler is None:
                    out.append(
                        {
                            "content_id": row["content_id"],
                            "frame_index": None,
                            "frame_ms": None,
                            "frame": None,
                            "frame_ok": False,
                            "frame_err": f"no frame sampler for modality '{modality}'",
                        }
                    )
                    continue
                try:
                    frames = sampler(bytes(row["content"]), n_frames)
                except Exception as e:  # per-row skip (E1)
                    out.append(
                        {
                            "content_id": row["content_id"],
                            "frame_index": None,
                            "frame_ms": None,
                            "frame": None,
                            "frame_ok": False,
                            "frame_err": str(e)[:200],
                        }
                    )
                    continue
                for idx, (ms, data) in enumerate(frames):
                    out.append(
                        {
                            "content_id": row["content_id"],
                            "frame_index": idx,
                            "frame_ms": ms,
                            "frame": data,
                            "frame_ok": True,
                            "frame_err": None,
                        }
                    )
            yield pd.DataFrame(out)

    return fan_out(df).mapInPandas(run, schema=FRAME_SCHEMA)
