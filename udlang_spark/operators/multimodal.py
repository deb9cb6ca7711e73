"""Multimodal column plumbing: image/audio/video as opaque binary columns
with typed metadata, processed via Arrow-batched mapInPandas.

Two decode modes:
- `decode_mode="fake"`: deterministic fake decode derived from the
  payload's md5 — the stable oracle-checkable path.
- `decode_mode="real"`: an actual decoder, the stdlib-only parsers in
  operators/codecs.py: PNG/PPM/JPEG/GIF/BMP metadata, PPM+PNG pixels, and
  WAV audio. Formats they cannot parse raise codecs.UnsupportedMedia —
  the ffmpeg/video plug-in point. Everything Spark-side — schemas,
  partitioning, UDF signatures, Arrow batch shapes — is identical in both
  modes.

Scale notes: binary payloads ride in the same parquet row-groups as their
metadata; mapInPandas streams Arrow batches (no per-row Python overhead);
decode parallelism = input partitions, so `repartition(n)` before decode
sets the fan-out. Frame sampling is a 1→N mapInPandas (generator per
batch), the same shape a video pipeline needs.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

IMAGE_META_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("channels", IntegerType()),
        StructField("format", StringType()),
    ]
)

FRAME_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("frame_idx", IntegerType()),
        StructField("frame", BinaryType()),
    ]
)


def attach_payload(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Simulate a multimodal table: utf-8 payload bytes + typed metadata."""
    payload = F.encode(F.col(text_col), "utf-8")
    return df.withColumn("payload", payload).withColumn(
        "payload_len", F.octet_length(payload)
    )


def _fake_decode(payload: bytes) -> tuple[int, int, int, str]:
    d = hashlib.md5(payload).digest()
    return (d[0] % 64 + 1, d[1] % 64 + 1, 3, "fake")


def decode_images(
    df: DataFrame, payload_col: str = "payload", id_col: str = "doc_id",
    decode_mode: str = "fake",
) -> DataFrame:
    """binary payload → typed image metadata via Arrow-batched mapInPandas."""
    if decode_mode not in ("fake", "real"):
        raise ValueError("decode_mode must be 'fake' or 'real'")

    def decode(batches: Iterator) -> Iterator:
        import pandas as pd

        from udlang_spark.operators import codecs

        for pdf in batches:
            if decode_mode == "real":
                metas = [codecs.sniff(bytes(p)) for p in pdf[payload_col]]
            else:
                metas = [_fake_decode(bytes(p)) for p in pdf[payload_col]]
            yield pd.DataFrame(
                {
                    "doc_id": pdf[id_col].values,
                    "width": [m[0] for m in metas],
                    "height": [m[1] for m in metas],
                    "channels": [m[2] for m in metas],
                    "format": [m[3] for m in metas],
                }
            )

    return df.select(id_col, payload_col).mapInPandas(decode, IMAGE_META_SCHEMA)


AHASH_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("ahash", StringType()),
    ]
)


def image_ahash(
    df: DataFrame, payload_col: str = "payload", id_col: str = "doc_id"
) -> DataFrame:
    """Average-hash perceptual fingerprint over REAL decoded pixels: per
    pixel, brightness = R+G+B (exact small ints); bit = 1 iff
    brightness·n > Σbrightness (the mean comparison cross-multiplied so
    it stays in EXACT integer arithmetic — no float mean, no cross-engine
    rounding surface); the row-major bit string is the hash. Two images
    with the same dims and hash are perceptual duplicates (aHash is the
    classic cheap near-dup fingerprint; production would downsample to
    8×8 first — here the synthetic images are already ≤13×7).

    Scale shape: one Arrow-batched mapInPandas pass; pixels never leave
    the executors (only the ≤width·height-char hash survives), and dup
    grouping downstream is an ordinary hash shuffle on the fingerprint."""

    def run(batches: Iterator) -> Iterator:
        import numpy as np
        import pandas as pd

        from udlang_spark.operators import codecs

        for pdf in batches:
            ids, ws, hs, hashes = [], [], [], []
            for doc_id, payload in zip(pdf[id_col], pdf[payload_col]):
                px = codecs.decode_pixels(bytes(payload)).astype(np.int64)
                px = _as_rgb(px)
                bright = px.sum(axis=2).ravel()  # row-major pixel order
                n = int(bright.size)
                total = int(bright.sum())
                bits = "".join(
                    "1" if int(b) * n > total else "0" for b in bright
                )
                ids.append(int(doc_id))
                ws.append(px.shape[1])
                hs.append(px.shape[0])
                hashes.append(bits)
            yield pd.DataFrame(
                {"doc_id": ids, "width": ws, "height": hs, "ahash": hashes}
            )

    return df.select(id_col, payload_col).mapInPandas(run, AHASH_SCHEMA)


def image_ahash64(
    df: DataFrame,
    payload_col: str = "payload",
    id_col: str = "doc_id",
    grid: int = 8,
) -> DataFrame:
    """CANONICAL fixed-width average-hash: nearest-neighbor downsample to a
    grid×grid brightness matrix (cell (r,c) samples pixel
    (r·h//grid, c·w//grid) — pure integer index math), then bit = 1 iff
    cell_brightness·grid² > Σ cell_brightness (cross-multiplied mean
    comparison, exact ints). Unlike image_ahash's dims-length hash, every
    image maps to the SAME 64-bit space, so hamming distance is defined
    across dims and the simhash band machinery
    (operators/dedup.banded_hamming_pairs) applies verbatim — the classic
    aHash near-dup pipeline (resize 8×8 → threshold by mean → band).

    Scale shape: one Arrow-batched mapInPandas pass; pixels never leave
    the executors — only the 64-char bit string shuffles downstream."""

    def run(batches: Iterator) -> Iterator:
        import numpy as np
        import pandas as pd

        from udlang_spark.operators import codecs

        for pdf in batches:
            ids, hashes = [], []
            for doc_id, payload in zip(pdf[id_col], pdf[payload_col]):
                px = codecs.decode_pixels(bytes(payload)).astype(np.int64)
                px = _as_rgb(px)
                h, w = px.shape[0], px.shape[1]
                rows = (np.arange(grid) * h) // grid
                cols = (np.arange(grid) * w) // grid
                bright = px.sum(axis=2)[np.ix_(rows, cols)].ravel()
                n = int(bright.size)
                total = int(bright.sum())
                bits = "".join(
                    "1" if int(b) * n > total else "0" for b in bright
                )
                ids.append(int(doc_id))
                hashes.append(bits)
            yield pd.DataFrame({"doc_id": ids, "ahash64": hashes})

    return df.select(id_col, payload_col).mapInPandas(
        run, "doc_id long, ahash64 string"
    )


FEATURE_DIM = 16


def _as_rgb(px):
    """Normalize decoded pixels to 3 channels: gray (1) and gray+alpha (2)
    replicate the gray plane; RGBA (4) drops alpha. A plain [:, :, :3]
    slice left gray+alpha at TWO channels and per-channel loops then
    indexed channel 2 out of bounds."""
    import numpy as np

    if px.shape[2] in (1, 2):
        return np.repeat(px[:, :, :1], 3, axis=2)
    return px[:, :, :3]


def _real_features(payload: bytes):
    """Deterministic FEATURE_DIM pixel/sample statistics — the stand-in for
    a learned encoder, over genuinely decoded media. Images: per-channel
    mean+std (6) + 10-bin gray histogram. Audio (WAV): mean, std, RMS,
    zero-crossing rate (4) + 12-bin amplitude histogram."""
    import numpy as np

    from udlang_spark.operators import codecs

    if payload[:4] == b"RIFF":
        x, _rate = codecs.decode_wav(payload)
        # float64 statistics over the float32 samples: sums of dyadic
        # rationals k/32768 are EXACT in float64 under any order, so the
        # only rounding is the single final float32 cast — which a SQL
        # oracle reproduces with CAST(... AS REAL) (m_audio_features).
        # float32 accumulation would round the squared terms (> 24 bits).
        mono = x.astype(np.float64).mean(axis=1)
        zcr = float(np.mean(np.abs(np.diff(np.sign(mono))) > 0)) if len(mono) > 1 else 0.0
        head = [
            float(mono.mean()),
            float(mono.std()),
            float(np.sqrt((mono**2).mean())),
            zcr,
        ]
        hist, _ = np.histogram(mono, bins=FEATURE_DIM - 4, range=(-1.0, 1.0))
        tail = (hist / max(len(mono), 1)).tolist()
    else:
        px = codecs.decode_pixels(payload).astype(np.float64)
        px = _as_rgb(px)
        head = [float(px[:, :, c].mean()) / 255.0 for c in range(3)] + [
            float(px[:, :, c].std()) / 255.0 for c in range(3)
        ]
        gray = px.mean(axis=2)
        hist, _ = np.histogram(gray, bins=FEATURE_DIM - 6, range=(0.0, 255.0))
        tail = (hist / gray.size).tolist()
    return np.array(head + tail, dtype=np.float32)

FEATURE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("features", ArrayType(FloatType())),
    ]
)


def extract_features(
    df: DataFrame, payload_col: str = "payload", id_col: str = "doc_id",
    decode_mode: str = "fake",
) -> DataFrame:
    """payload → fixed-dim float feature vector via mapInPandas (the
    embedding-model stage of a multimodal pipeline). Fake mode derives a
    deterministic FEATURE_DIM-vector from the md5 digest bytes; real mode
    is the plug-in point for a vision encoder."""

    def extract(batches: Iterator) -> Iterator:
        import numpy as np
        import pandas as pd

        for pdf in batches:
            feats = []
            for p in pdf[payload_col]:
                if decode_mode == "real":
                    feats.append(_real_features(bytes(p)))
                else:
                    d = hashlib.md5(bytes(p)).digest()
                    feats.append(
                        np.array(
                            [b / 255.0 for b in d[:FEATURE_DIM]], dtype=np.float32
                        )
                    )
            yield pd.DataFrame({"doc_id": pdf[id_col].values, "features": feats})

    return df.select(id_col, payload_col).mapInPandas(extract, FEATURE_SCHEMA)


def _real_resize(payload: bytes, width: int, height: int) -> bytes:
    """Decode → nearest-neighbor resample → re-encode as PPM(P6)."""
    import numpy as np

    from udlang_spark.operators import codecs

    px = codecs.decode_pixels(payload)
    h, w = px.shape[0], px.shape[1]
    px = _as_rgb(px)
    rows = (np.arange(height) * h) // height
    cols = (np.arange(width) * w) // width
    return codecs.encode_ppm(np.ascontiguousarray(px[rows][:, cols]))


RESIZE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("payload", BinaryType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
    ]
)


def resize_images(
    df: DataFrame, width: int, height: int,
    payload_col: str = "payload", id_col: str = "doc_id",
    decode_mode: str = "fake",
) -> DataFrame:
    """Resize stage: payload → payload' at (width, height). Fake mode
    truncates/cycles the byte stream to width*height*3 deterministically;
    real mode decodes pixels (codecs.decode_pixels), nearest-neighbor
    resamples, and re-encodes as binary PPM. Identical Spark plumbing
    either way: binary in, binary out, metadata columns updated."""
    target = width * height * 3

    def resize(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            outs = []
            for p in pdf[payload_col]:
                data = bytes(p)
                if decode_mode == "real":
                    outs.append(_real_resize(data, width, height))
                    continue
                reps = (target // max(len(data), 1)) + 1
                outs.append((data * reps)[:target])
            yield pd.DataFrame(
                {
                    "doc_id": pdf[id_col].values,
                    "payload": outs,
                    "width": [width] * len(pdf),
                    "height": [height] * len(pdf),
                }
            )

    return df.select(id_col, payload_col).mapInPandas(resize, RESIZE_SCHEMA)


def sample_frames(
    df: DataFrame, payload_col: str = "payload", id_col: str = "doc_id",
    n_frames: int = 3,
) -> DataFrame:
    """1→N frame sampling via mapInPandas. Payloads that are a
    concatenated-PNG container (codecs.split_png_stream — real chunk-walk
    parsing) or an MJPEG stream (codecs.split_jpeg_stream — marker walk
    with entropy-data byte-stuffing) yield n_frames REAL frames, uniformly
    sampled in temporal order (source frame (i·N_src)//n_frames — the
    keyframe-stride shape an ffmpeg extractor would use); any other
    payload falls back to deterministic byte slices so the 1→N plumbing is
    exercised on arbitrary binaries too. Identical Spark plumbing either
    way."""
    from udlang_spark.operators import codecs

    def sample(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            rows = {"doc_id": [], "frame_idx": [], "frame": []}
            for doc_id, payload in zip(pdf[id_col], pdf[payload_col]):
                data = bytes(payload)
                picks = None
                splitter = None
                if data[: len(codecs.PNG_SIG)] == codecs.PNG_SIG:
                    splitter = codecs.split_png_stream
                elif data[: len(codecs.JPEG_SOI)] == codecs.JPEG_SOI:
                    splitter = codecs.split_jpeg_stream
                if splitter is not None:
                    try:
                        src = splitter(data)
                        picks = [
                            src[(i * len(src)) // n_frames]
                            for i in range(n_frames)
                        ]
                    except codecs.UnsupportedMedia:
                        # starts with a container magic but isn't
                        # well-formed (truncated/corrupt) — a bad row must
                        # not abort the job; fall through to the byte slicer
                        picks = None
                if picks is None:
                    step = max(len(data) // n_frames, 1)
                    picks = [
                        data[i * step : (i + 1) * step] for i in range(n_frames)
                    ]
                for i, fr in enumerate(picks):
                    rows["doc_id"].append(doc_id)
                    rows["frame_idx"].append(i)
                    rows["frame"].append(fr)
            yield pd.DataFrame(rows)

    return df.select(id_col, payload_col).mapInPandas(sample, FRAME_SCHEMA)


AUDIO_N_SAMPLES = 64  # 8 md5 digests × 8 int16 samples each


def attach_audio(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Synthesize a REAL mono 16-bit WAV per row: 64 samples whose raw
    little-endian int16 bytes are the md5 digests of f"{id}:a{c}" for
    c in 0..7, framed by the stdlib wave writer. The payload round-trips
    through codecs.decode_wav, and because every sample is a dyadic
    rational k/32768 derived from md5 alone, a SQL oracle reproduces the
    decoded samples — and their mean/std/RMS statistics EXACTLY (sums of
    64 such values are exact in float64 under any order) — independently
    (m_audio_features)."""
    import io
    import wave as wave_mod

    import pandas as pd

    schema = StructType(
        [StructField("doc_id", LongType()), StructField("audio", BinaryType())]
    )
    n_digests = AUDIO_N_SAMPLES * 2 // 16

    def make(batches: Iterator) -> Iterator:
        for pdf in batches:
            outs = []
            for doc_id in pdf[id_col]:
                raw = b"".join(
                    hashlib.md5(f"{doc_id}:a{c}".encode()).digest()
                    for c in range(n_digests)
                )
                buf = io.BytesIO()
                with wave_mod.open(buf, "wb") as w:
                    w.setnchannels(1)
                    w.setsampwidth(2)
                    w.setframerate(8000)
                    w.writeframes(raw)
                outs.append(buf.getvalue())
            yield pd.DataFrame({"doc_id": pdf[id_col].values, "audio": outs})

    return df.select(id_col).mapInPandas(make, schema)


VIDEO_N_FRAMES = 5
VIDEO_W = VIDEO_H = 4


def attach_video(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Synthesize a REAL multi-PNG video container per row: 5 frames of
    4×4 RGB whose 48 pixel bytes are the md5 digests of
    f\"{id}:{frame}:{j}\" for j in 0..2, each frame encoded with
    codecs.encode_png (zlib DEFLATE, CRC chunks) and concatenated. The
    container round-trips through the real PNG codec, and because the
    pixels derive from md5 alone, a SQL oracle can reproduce the decoded
    bytes independently (m_video_frames)."""
    import numpy as np
    import pandas as pd

    from udlang_spark.operators import codecs

    schema = StructType(
        [StructField("doc_id", LongType()), StructField("video", BinaryType())]
    )

    def make(batches: Iterator) -> Iterator:
        for pdf in batches:
            vids = []
            for doc_id in pdf[id_col]:
                frames = []
                for f in range(VIDEO_N_FRAMES):
                    raw = b"".join(
                        hashlib.md5(f"{doc_id}:{f}:{j}".encode()).digest()
                        for j in range(3)
                    )
                    px = np.frombuffer(raw, dtype=np.uint8).reshape(
                        VIDEO_H, VIDEO_W, 3
                    )
                    frames.append(codecs.encode_png(px))
                vids.append(b"".join(frames))
            yield pd.DataFrame({"doc_id": pdf[id_col].values, "video": vids})

    return df.select(id_col).mapInPandas(make, schema)


FRAME_DIGEST_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("frame_idx", IntegerType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("px_hex", StringType()),
    ]
)


def decode_frame_digests(df: DataFrame, frame_col: str = "frame") -> DataFrame:
    """Fully decode each sampled frame (codecs.decode_pixels — real PNG
    unfilter + inflate) and emit its dimensions plus the hex of the raw
    pixel bytes: a value-stable, SQL-comparable witness that the decode
    recovered the exact pixel content."""
    from udlang_spark.operators import codecs

    def run(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            ws, hs, hexes = [], [], []
            for fb in pdf[frame_col]:
                px = codecs.decode_pixels(bytes(fb))
                hs.append(int(px.shape[0]))
                ws.append(int(px.shape[1]))
                hexes.append(px.tobytes().hex())
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].values,
                    "frame_idx": pdf["frame_idx"].values,
                    "width": ws,
                    "height": hs,
                    "px_hex": hexes,
                }
            )

    return df.mapInPandas(run, FRAME_DIGEST_SCHEMA)
