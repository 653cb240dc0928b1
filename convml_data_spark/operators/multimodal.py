"""Multimodal (image/audio) columns — north-star extension of SURVEY D5
(tile PNG + meta sidecar, convml_data/pipeline/tiles.py:340-371).

Data model: media are opaque BINARY columns with a typed meta STRUCT
(width, height, format) — the D5 ``.png + .yml`` pair as two columns of one
row. Decode / feature-extract run as ``mapInPandas`` over Arrow batches so
bytes never round-trip through Python row objects.

Decoding dispatches on the meta format: the known fake format →
deterministic synthetic pixels (md5-derived, reproducible everywhere);
real formats → ``NotImplementedError`` naming the codec library they need
(PIL/OpenCV/ffmpeg are not dependencies of the engine). Encoding needs no
codec library: :func:`encode_png` writes real grayscale PNGs with stdlib
``zlib``/``struct``. The Spark-side plumbing — schema, batch shape,
broadcast-free streaming decode, partition parallelism — is the
production path either way.
"""

from __future__ import annotations

import hashlib
import struct
import zlib
from collections.abc import Iterator

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import BinaryType, StructField, StructType

FAKE_FORMAT = "fake-gray8"


def attach_fake_payload(
    df: DataFrame, id_col: str = "doc_id", width: int = 16, height: int = 16
) -> DataFrame:
    """Deterministic stand-in ingestion: payload bytes are md5-stream bytes
    of the id — any engine/worker regenerates identical "images"."""
    n = width * height
    reps = (n + 15) // 16
    # repeat md5(id|i) blocks to n bytes, JVM-side (unhex of concatenated md5s)
    blocks = F.concat(
        *[F.md5(F.concat_ws("|", F.col(id_col).cast("string"), F.lit(str(i)))) for i in range(reps)]
    )
    payload = F.unhex(F.substring(blocks, 1, n * 2))
    meta = F.struct(
        F.lit(width).alias("width"),
        F.lit(height).alias("height"),
        F.lit(FAKE_FORMAT).alias("format"),
    )
    return df.withColumn("payload", payload).withColumn("media_meta", meta)


def _decode_one(payload: bytes, width: int, height: int, fmt: str) -> np.ndarray:
    if fmt == FAKE_FORMAT:
        arr = np.frombuffer(payload, dtype=np.uint8)[: width * height]
        return arr.reshape(height, width).astype(np.float64)
    raise NotImplementedError(
        f"decoding {fmt!r} needs PIL/OpenCV (not in this container); "
        "plug a real decoder into _decode_one"
    )


def _decode_groups(pdf, payload_col: str, meta_col: str, extra_meta: tuple = ()):
    """Vectorized batch decode: yield (row_positions, w, h, fmt, extras, px)
    per (meta) group, where ``px`` is a stacked ``(B, n)`` uint8 matrix.

    One ``np.frombuffer`` over the group's concatenated payload bytes —
    no per-row Python loop — valid because fake payloads are exactly
    ``n`` bytes each (enforced). Non-fake formats raise at the GROUP
    level, same contract as :func:`_decode_one`.
    """
    import pandas as pd

    if len(pdf) == 0:
        return
    metas = pd.DataFrame(list(pdf[meta_col]))
    keys = ["width", "height", "format", *extra_meta]
    missing = [k for k in keys if k not in metas.columns]
    if missing:
        raise ValueError(f"media_meta rows lack key(s) {missing}")
    # groupby(dropna=True) would silently DROP rows whose meta key is null —
    # fail loudly with the offending ids instead
    nulls = metas[keys].isna().any(axis=1)
    if nulls.any():
        bad = pdf.iloc[metas.index[nulls]].iloc[:5]
        raise ValueError(
            f"null media_meta key(s) in {int(nulls.sum())} row(s); first ids: "
            f"{bad.iloc[:, 0].tolist()}"
        )
    for key, sub in metas.groupby(keys, sort=False):
        w, h, fmt = int(key[0]), int(key[1]), key[2]
        extras = tuple(int(k) for k in key[3:])
        n = w * h * (extras[0] if extras else 1)
        if fmt != FAKE_FORMAT:
            # real codecs live here; dims/batching identical either way
            raise NotImplementedError(
                f"decoding {fmt!r} needs PIL/OpenCV/ffmpeg (not in this container)"
            )
        pos = sub.index.to_numpy()
        payloads = pdf[payload_col].iloc[pos]
        if not (payloads.str.len() == n).all():
            raise ValueError(f"fake payload length != {n}")
        px = np.frombuffer(b"".join(payloads), dtype=np.uint8).reshape(len(pos), n)
        yield pos, w, h, fmt, extras, px


def image_features(
    df: DataFrame, id_col: str = "doc_id", payload_col: str = "payload", meta_col: str = "media_meta"
) -> DataFrame:
    """Decode + per-image features (mean/std/min/max of pixels) as one
    Arrow-batched pass — the X3-style pattern for media instead of vectors."""
    id_type = df.schema[id_col].dataType.simpleString()
    schema = f"{id_col} {id_type}, width int, height int, mean_px double, std_px double, min_px double, max_px double"

    def extract(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            frames = []
            for pos, w, h, _fmt, _x, px in _decode_groups(pdf, payload_col, meta_col):
                m = px.astype(np.float64)
                frames.append(
                    pd.DataFrame(
                        {
                            id_col: pdf[id_col].iloc[pos].to_numpy(),
                            "width": w,
                            "height": h,
                            "mean_px": m.mean(axis=1),
                            "std_px": m.std(axis=1),
                            "min_px": m.min(axis=1),
                            "max_px": m.max(axis=1),
                        }
                    )
                )
            yield pd.concat(frames) if frames else pd.DataFrame(
                columns=[id_col, "width", "height", "mean_px", "std_px", "min_px", "max_px"]
            )

    return df.select(id_col, payload_col, meta_col).mapInPandas(extract, schema)


def _png_chunk(tag: bytes, data: bytes) -> bytes:
    body = tag + data
    return struct.pack(">I", len(data)) + body + struct.pack(">I", zlib.crc32(body))


def _gray8_png(pixels: np.ndarray) -> bytes:
    """One 8-bit grayscale PNG from an (h, w) uint8 array: signature, IHDR,
    a single IDAT holding the zlib stream of the filter-0 scanlines (one
    zero byte before each row), IEND."""
    h, w = pixels.shape
    scanlines = np.hstack([np.zeros((h, 1), np.uint8), pixels])
    return (
        b"\x89PNG\r\n\x1a\n"
        + _png_chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 0, 0, 0, 0))
        + _png_chunk(b"IDAT", zlib.compress(scanlines.tobytes()))
        + _png_chunk(b"IEND", b"")
    )


def encode_png(
    df: DataFrame, payload_col: str = "payload", meta_col: str = "media_meta"
) -> DataFrame:
    """G8 sink half (tiles.py:340-371, sources/images.py:12-141): encode
    each row's decoded pixels to an 8-bit grayscale PNG (:func:`_gray8_png`,
    stdlib ``zlib``/``struct`` only), Arrow-batched.

    Every column other than ``payload_col`` and ``meta_col`` passes through
    unchanged, so callers keep their keys on the same row and need no join
    back. Returns (pass-through columns..., png binary).
    """
    keep = [f for f in df.schema.fields if f.name not in (payload_col, meta_col)]
    schema = StructType([*keep, StructField("png", BinaryType())])
    cols = [f.name for f in keep]

    def encode(batches):
        import pandas as pd

        for pdf in batches:
            frames = []
            for pos, w, h, _fmt, _x, px in _decode_groups(pdf, payload_col, meta_col):
                out = pdf[cols].iloc[pos].reset_index(drop=True)
                out["png"] = [_gray8_png(img) for img in px.reshape(len(pos), h, w)]
                frames.append(out)
            yield pd.concat(frames) if frames else pd.DataFrame(columns=[*cols, "png"])

    return df.mapInPandas(encode, schema)


def expected_fake_pixels(doc_id: int, width: int = 16, height: int = 16) -> np.ndarray:
    """Driver-side replay of the fake payload, for tests."""
    n = width * height
    reps = (n + 15) // 16
    raw = b"".join(
        hashlib.md5(f"{doc_id}|{i}".encode()).hexdigest().encode() for i in range(reps)
    )
    payload = bytes.fromhex(raw[: n * 2].decode())
    return np.frombuffer(payload, dtype=np.uint8)[:n].reshape(height, width).astype(np.float64)


def resize_nearest(
    df: DataFrame,
    out_width: int,
    out_height: int,
    id_col: str = "doc_id",
    payload_col: str = "payload",
    meta_col: str = "media_meta",
) -> DataFrame:
    """Nearest-neighbor resize, Arrow-batched — a REAL kernel (pure numpy
    index sampling), not a stub: only the codec decode step depends on
    external libs. Emits a new payload + meta at the target dims, so resize
    composes with :func:`image_features` / :func:`encode_png` downstream.

    Reference analog: tile extraction resamples source pixels to the fixed
    256×256 tile raster (pipeline/tiles.py + regridding).
    """
    id_type = df.schema[id_col].dataType.simpleString()
    schema = f"{id_col} {id_type}, payload binary, media_meta struct<width:int,height:int,format:string>"

    def run(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            frames = []
            for pos, w, h, fmt, _x, px in _decode_groups(pdf, payload_col, meta_col):
                iy = (np.arange(out_height) * h) // out_height
                ix = (np.arange(out_width) * w) // out_width
                # one fancy-index over the whole stacked (B, h, w) group
                out = px.reshape(len(pos), h, w)[:, iy][:, :, ix]
                raw = np.ascontiguousarray(out).tobytes()
                n = out_width * out_height
                meta = {"width": out_width, "height": out_height, "format": fmt}
                frames.append(
                    pd.DataFrame(
                        {
                            id_col: pdf[id_col].iloc[pos].to_numpy(),
                            "payload": [raw[i * n : (i + 1) * n] for i in range(len(pos))],
                            "media_meta": [meta] * len(pos),
                        }
                    )
                )
            yield pd.concat(frames) if frames else pd.DataFrame(
                columns=[id_col, "payload", "media_meta"]
            )

    return df.select(id_col, payload_col, meta_col).mapInPandas(run, schema)


def attach_fake_video(
    df: DataFrame, id_col: str = "doc_id", n_frames: int = 8, width: int = 8, height: int = 8
) -> DataFrame:
    """Deterministic stand-in video: ``n_frames`` fake-gray8 frames
    concatenated into one binary payload (raw planar layout), meta carries
    the frame geometry. Real containers (mp4 etc.) would arrive via
    ``sources.read_binary_files`` and decode behind the same schema."""
    n = width * height * n_frames
    reps = (n + 15) // 16
    blocks = F.concat(
        *[
            F.md5(F.concat_ws("|", F.col(id_col).cast("string"), F.lit("v"), F.lit(str(i))))
            for i in range(reps)
        ]
    )
    payload = F.unhex(F.substring(blocks, 1, n * 2))
    meta = F.struct(
        F.lit(width).alias("width"),
        F.lit(height).alias("height"),
        F.lit(n_frames).alias("n_frames"),
        F.lit(FAKE_FORMAT).alias("format"),
    )
    return df.withColumn("video", payload).withColumn("video_meta", meta)


def sample_frames(
    df: DataFrame,
    every: int,
    id_col: str = "doc_id",
    video_col: str = "video",
    meta_col: str = "video_meta",
) -> DataFrame:
    """Frame sampling: one output row per kept frame (every ``every``-th),
    each a standalone image payload + meta — the video→image boundary of
    the pipeline. Runs as one Arrow pass; a 2-hour video never materializes
    as Python row objects, and downstream image ops see ordinary rows.
    """
    id_type = df.schema[id_col].dataType.simpleString()
    schema = (
        f"{id_col} {id_type}, frame_idx int, payload binary, "
        "media_meta struct<width:int,height:int,format:string>"
    )

    def run(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            frames = []
            for pos, w, h, _fmt, (nf,), px in _decode_groups(
                pdf, video_col, meta_col, extra_meta=("n_frames",)
            ):
                fsz = w * h
                kept = np.arange(0, nf, every)
                # (B, nf, fsz) view → (B, n_kept, fsz) slice, one copy
                sel = np.ascontiguousarray(px.reshape(len(pos), nf, fsz)[:, kept])
                raw = sel.tobytes()
                ids = np.repeat(pdf[id_col].iloc[pos].to_numpy(), len(kept))
                meta = {"width": w, "height": h, "format": FAKE_FORMAT}
                n_out = len(pos) * len(kept)
                frames.append(
                    pd.DataFrame(
                        {
                            id_col: ids,
                            "frame_idx": np.tile(kept, len(pos)).astype("int32"),
                            "payload": [
                                raw[i * fsz : (i + 1) * fsz] for i in range(n_out)
                            ],
                            "media_meta": [meta] * n_out,
                        }
                    )
                )
            yield pd.concat(frames) if frames else pd.DataFrame(
                columns=[id_col, "frame_idx", "payload", "media_meta"]
            )

    return df.select(id_col, video_col, meta_col).mapInPandas(run, schema)


# ---------------------------------------------------------------- audio

FAKE_AUDIO_FORMAT = "fake-pcm-u8"


def attach_fake_audio(
    df: DataFrame, id_col: str = "doc_id", n_samples: int = 256, sample_rate: int = 8000
) -> DataFrame:
    """Deterministic stand-in audio ingestion: unsigned-8-bit PCM whose
    bytes are the md5 stream of ``(id, 'a', block)`` — regenerated
    identically by any engine/worker (same scheme as
    :func:`attach_fake_payload`, distinct stream tag)."""
    reps = (n_samples + 15) // 16
    blocks = F.concat(
        *[
            F.md5(F.concat_ws("|", F.col(id_col).cast("string"), F.lit("a"), F.lit(str(i))))
            for i in range(reps)
        ]
    )
    payload = F.unhex(F.substring(blocks, 1, n_samples * 2))
    meta = F.struct(
        F.lit(n_samples).alias("n_samples"),
        F.lit(sample_rate).alias("sample_rate"),
        F.lit(FAKE_AUDIO_FORMAT).alias("format"),
    )
    return df.withColumn("audio_payload", payload).withColumn("audio_meta", meta)


def _decode_audio_groups(pdf, payload_col: str, meta_col: str):
    """Vectorized audio batch decode: yield (row_positions, n, sr, pcm)
    per meta group with ``pcm`` a stacked (B, n) uint8 matrix — the audio
    face of :func:`_decode_groups` (real codecs raise at group level)."""
    import pandas as pd

    if len(pdf) == 0:
        return
    metas = pd.DataFrame(list(pdf[meta_col]))
    for key, sub in metas.groupby(["n_samples", "sample_rate", "format"], sort=False):
        n, sr, fmt = int(key[0]), int(key[1]), key[2]
        if fmt != FAKE_AUDIO_FORMAT:
            raise NotImplementedError(
                f"decoding {fmt!r} needs soundfile/ffmpeg (not in this container)"
            )
        pos = sub.index.to_numpy()
        payloads = pdf[payload_col].iloc[pos]
        if not (payloads.str.len() == n).all():
            raise ValueError(f"fake audio payload length != {n}")
        pcm = np.frombuffer(b"".join(payloads), dtype=np.uint8).reshape(len(pos), n)
        yield pos, n, sr, pcm


def audio_features(
    df: DataFrame,
    id_col: str = "doc_id",
    payload_col: str = "audio_payload",
    meta_col: str = "audio_meta",
) -> DataFrame:
    """Per-clip audio features over the centered signal ``c = pcm − 128``:
    duration, mean amplitude, RMS, zero-crossing count. Arrow-batched
    ``mapInPandas``, numpy-vectorized across the whole batch — no per-row
    Python loop (the production shape for any real decoder too)."""
    from collections.abc import Iterator

    import pandas as pd

    id_type = df.schema[id_col].dataType.simpleString()
    schema = (
        f"{id_col} {id_type}, n_samples int, sample_rate int, duration_s double, "
        "mean_amp double, rms double, n_zero_cross long"
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for pos, n, sr, pcm in _decode_audio_groups(pdf, payload_col, meta_col):
                c = pcm.astype(np.float64) - 128.0
                mean_amp = c.mean(axis=1)
                rms = np.sqrt((c * c).mean(axis=1))
                zc = ((c[:, :-1] * c[:, 1:]) < 0).sum(axis=1)
                # raw doubles — callers round with F.round (HALF_UP, the
                # SQL convention); np.round here would be banker's and
                # diverge from any SQL replay on exact .5 ulps
                yield pd.DataFrame(
                    {
                        id_col: pdf[id_col].iloc[pos].to_numpy(),
                        "n_samples": n,
                        "sample_rate": sr,
                        "duration_s": n / sr,
                        "mean_amp": mean_amp,
                        "rms": rms,
                        "n_zero_cross": zc.astype(np.int64),
                    }
                )

    return df.mapInPandas(run, schema)


def audio_resample(
    df: DataFrame,
    target_rate: int,
    id_col: str = "doc_id",
    payload_col: str = "audio_payload",
    meta_col: str = "audio_meta",
) -> DataFrame:
    """Nearest-sample resampling plumbing: output sample ``i`` is input
    sample ``floor(i · sr / target)`` (the nearest-neighbor analog of
    :func:`resize_nearest`; swap in a polyphase filter for production
    audio). Emits the resampled payload with updated meta."""
    from collections.abc import Iterator

    import pandas as pd

    id_type = df.schema[id_col].dataType.simpleString()
    schema = f"{id_col} {id_type}, audio_payload binary, n_samples int, sample_rate int"

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for pos, n, sr, pcm in _decode_audio_groups(pdf, payload_col, meta_col):
                m = max(int(round(n * target_rate / sr)), 1)
                idx = np.minimum((np.arange(m) * sr) // target_rate, n - 1).astype(int)
                out = pcm[:, idx]
                yield pd.DataFrame(
                    {
                        id_col: pdf[id_col].iloc[pos].to_numpy(),
                        "audio_payload": [row.tobytes() for row in out],
                        "n_samples": m,
                        "sample_rate": target_rate,
                    }
                )

    return df.mapInPandas(run, schema)


def expected_fake_audio(doc_id: int, n_samples: int = 256) -> np.ndarray:
    """Reference replay of :func:`attach_fake_audio` for tests."""
    reps = (n_samples + 15) // 16
    raw = b"".join(
        hashlib.md5(f"{doc_id}|a|{i}".encode()).digest() for i in range(reps)
    )
    return np.frombuffer(raw[:n_samples], dtype=np.uint8)
