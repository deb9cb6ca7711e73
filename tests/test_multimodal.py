"""Real-decoder tests for the multimodal operators: the stdlib-only codecs
(PNG/PPM/JPEG/GIF/BMP/WAV) exercised through the same Arrow-batched
mapInPandas plumbing the fake mode uses."""

from __future__ import annotations

import io
import struct
import wave
import zlib

import numpy as np
import pytest

from udlang_spark.operators import codecs, multimodal


def _wav_bytes(samples: np.ndarray, rate: int = 8000) -> bytes:
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(rate)
        w.writeframes((samples * 32767).astype("<i2").tobytes())
    return buf.getvalue()


def _gradient(h: int, w: int) -> np.ndarray:
    px = np.zeros((h, w, 3), dtype=np.uint8)
    px[:, :, 0] = np.arange(w, dtype=np.uint8)[None, :] * 7
    px[:, :, 1] = np.arange(h, dtype=np.uint8)[:, None] * 11
    px[:, :, 2] = 200
    return px


def test_codecs_sniff_formats():
    px = _gradient(6, 8)
    assert codecs.sniff(codecs.encode_ppm(px)) == (8, 6, 3, "ppm")
    assert codecs.sniff(codecs.encode_png(px)) == (8, 6, 3, "png")
    gif = b"GIF89a" + struct.pack("<HH", 320, 200) + b"\x00" * 10
    assert codecs.sniff(gif) == (320, 200, 3, "gif")
    bmp = b"BM" + b"\x00" * 16 + struct.pack("<ii", 640, -480) + b"\x00\x00" + struct.pack("<H", 24)
    assert codecs.sniff(bmp) == (640, 480, 3, "bmp")
    # minimal JPEG: SOI + APP0 stub + SOF0 with dims 17x23, 3 components
    jpeg = (
        b"\xff\xd8"
        + b"\xff\xe0" + struct.pack(">H", 4) + b"\x00\x00"
        + b"\xff\xc0" + struct.pack(">H", 11) + b"\x08" + struct.pack(">HH", 23, 17) + b"\x03"
    )
    assert codecs.sniff(jpeg) == (17, 23, 3, "jpeg")
    wav = _wav_bytes(np.zeros(100))
    assert codecs.sniff(wav) == (100, 1, 1, "wav")
    with pytest.raises(codecs.UnsupportedMedia):
        codecs.sniff(b"plain old text, not media")


def test_png_roundtrip_all_filters():
    """decode_pixels must invert every PNG filter type (None/Sub/Up/
    Average/Paeth). encode_png emits filter 0 only, so build the filtered
    scanlines by hand: apply each spec filter forward, decode, compare."""
    px = _gradient(5, 4)
    ch = 3
    stride = 4 * ch
    flat = px.reshape(5, stride).astype(np.int32)
    raw = bytearray()
    for r, ftype in enumerate([0, 1, 2, 3, 4]):
        cur = flat[r]
        prev = flat[r - 1] if r > 0 else np.zeros(stride, dtype=np.int32)
        left = np.concatenate([np.zeros(ch, dtype=np.int32), cur[:-ch]])
        ul = np.concatenate([np.zeros(ch, dtype=np.int32), prev[:-ch]])
        if ftype == 0:
            enc = cur
        elif ftype == 1:
            enc = cur - left
        elif ftype == 2:
            enc = cur - prev
        elif ftype == 3:
            enc = cur - (left + prev) // 2
        else:
            p = left + prev - ul
            pa, pb, pc = np.abs(p - left), np.abs(p - prev), np.abs(p - ul)
            pred = np.where(
                (pa <= pb) & (pa <= pc), left, np.where(pb <= pc, prev, ul)
            )
            enc = cur - pred
        raw.append(ftype)
        raw.extend((enc & 0xFF).astype(np.uint8).tobytes())

    def chunk(ctype, data):
        return (
            struct.pack(">I", len(data)) + ctype + data
            + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
        )

    png = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", struct.pack(">IIBBBBB", 4, 5, 8, 2, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(bytes(raw)))
        + chunk(b"IEND", b"")
    )
    got = codecs.decode_pixels(png)
    assert np.array_equal(got, px)


def test_wav_decode_values():
    x = np.linspace(-0.5, 0.5, 64)
    samples, rate = codecs.decode_wav(_wav_bytes(x, rate=16000))
    assert rate == 16000 and samples.shape == (64, 1)
    assert np.allclose(samples[:, 0], x, atol=1e-3)


def test_real_decode_through_spark(spark):
    """decode_images(decode_mode='real') on genuine PNG/PPM/WAV payloads,
    through the actual mapInPandas path."""
    payloads = [
        (1, codecs.encode_png(_gradient(6, 8))),
        (2, codecs.encode_ppm(_gradient(3, 5))),
        (3, _wav_bytes(np.zeros(250))),
    ]
    df = spark.createDataFrame(payloads, "doc_id long, payload binary")
    got = {
        r.doc_id: (r.width, r.height, r.channels, r.format)
        for r in multimodal.decode_images(df, decode_mode="real").collect()
    }
    assert got == {
        1: (8, 6, 3, "png"),
        2: (5, 3, 3, "ppm"),
        3: (250, 1, 1, "wav"),
    }


def test_real_decode_rejects_non_media(spark):
    df = spark.createDataFrame(
        [(1, b"utf-8 text is not an image")], "doc_id long, payload binary"
    )
    with pytest.raises(Exception, match="unrecognized media magic"):
        multimodal.decode_images(df, decode_mode="real").collect()


def test_real_features_pixel_stats(spark):
    """Constant-color image → known mean/std/histogram features; WAV sine
    → known RMS, through the mapInPandas path."""
    px = np.full((4, 4, 3), 128, dtype=np.uint8)
    sine = np.sin(np.linspace(0, 8 * np.pi, 512)) * 0.5
    df = spark.createDataFrame(
        [(1, codecs.encode_png(px)), (2, _wav_bytes(sine))],
        "doc_id long, payload binary",
    )
    feats = {
        r.doc_id: r.features
        for r in multimodal.extract_features(df, decode_mode="real").collect()
    }
    img = feats[1]
    assert len(img) == multimodal.FEATURE_DIM
    assert all(abs(m - 128 / 255) < 1e-6 for m in img[:3])  # channel means
    assert all(abs(s) < 1e-6 for s in img[3:6])  # zero std
    assert abs(sum(img[6:]) - 1.0) < 1e-6  # histogram mass
    aud = feats[2]
    assert abs(aud[2] - np.sqrt((sine**2).mean())) < 1e-3  # RMS

    # determinism across runs
    feats2 = {
        r.doc_id: r.features
        for r in multimodal.extract_features(df, decode_mode="real").collect()
    }
    assert all(np.allclose(feats[k], feats2[k]) for k in feats)


def test_real_resize_nearest_neighbor(spark):
    px = _gradient(6, 8)
    df = spark.createDataFrame(
        [(1, codecs.encode_png(px))], "doc_id long, payload binary"
    )
    [row] = multimodal.resize_images(df, 4, 3, decode_mode="real").collect()
    assert (row.width, row.height) == (4, 3)
    out = codecs.decode_pixels(bytes(row.payload))
    rows = (np.arange(3) * 6) // 3
    cols = (np.arange(4) * 8) // 4
    assert np.array_equal(out, px[rows][:, cols])


def test_split_png_stream_container():
    """Chunk-walk container parsing recovers each concatenated PNG exactly,
    and rejects corrupt containers instead of mis-splitting."""
    imgs = [_gradient(3 + i, 5) for i in range(4)]
    pngs = [codecs.encode_png(px) for px in imgs]
    frames = codecs.split_png_stream(b"".join(pngs))
    assert frames == pngs
    for fb, px in zip(frames, imgs):
        assert np.array_equal(codecs.decode_pixels(fb), px)
    with pytest.raises(codecs.UnsupportedMedia):
        codecs.split_png_stream(b"".join(pngs) + b"junk")
    with pytest.raises(codecs.UnsupportedMedia):
        codecs.split_png_stream(pngs[0][:-4])


def test_sample_frames_real_container_through_spark(spark):
    """sample_frames on a multi-PNG container returns REAL decoded-able
    frames at the uniform-sampling positions (i*N)//n, not byte slices."""
    imgs = [_gradient(4, 4 + i) for i in range(5)]
    container = b"".join(codecs.encode_png(px) for px in imgs)
    df = spark.createDataFrame([(1, bytearray(container))], "doc_id long, payload binary")
    out = {
        r["frame_idx"]: bytes(r["frame"])
        for r in multimodal.sample_frames(df, n_frames=3).collect()
    }
    assert set(out) == {0, 1, 2}
    for i, fb in out.items():
        src = (i * 5) // 3
        assert np.array_equal(codecs.decode_pixels(fb), imgs[src])


def test_video_pipeline_end_to_end(spark):
    """attach_video → sample_frames → decode_frame_digests recovers the
    md5-derived pixels bit-exactly (hex witness equals the digest concat)."""
    import hashlib

    df = spark.createDataFrame([(7,), (42,)], "doc_id long")
    vids = multimodal.attach_video(df)
    frames = multimodal.sample_frames(vids, payload_col="video", n_frames=3)
    rows = multimodal.decode_frame_digests(frames).collect()
    assert len(rows) == 6
    for r in rows:
        src = (r["frame_idx"] * multimodal.VIDEO_N_FRAMES) // 3
        want = "".join(
            hashlib.md5(f"{r['doc_id']}:{src}:{j}".encode()).hexdigest()
            for j in range(3)
        )
        assert (r["width"], r["height"]) == (4, 4)
        assert r["px_hex"] == want


def test_sample_frames_corrupt_container_falls_back(spark):
    """A payload starting with the PNG magic but truncated/corrupt must not
    abort the job — it falls back to deterministic byte slices."""
    junk = codecs.PNG_SIG + b"\x00\x01garbage-not-chunks"
    df = spark.createDataFrame([(9, bytearray(junk))], "doc_id long, payload binary")
    rows = multimodal.sample_frames(df, n_frames=3).collect()
    assert len(rows) == 3
    step = max(len(junk) // 3, 1)
    for r in rows:
        i = r["frame_idx"]
        assert bytes(r["frame"]) == junk[i * step : (i + 1) * step]


def _fake_jpeg(seed: bytes) -> bytes:
    """Structurally valid baseline-JPEG bytes (SOI + APP0 + SOS + entropy
    + EOI) whose entropy data exercises byte stuffing (FF00), an RST
    marker, and arbitrary seed bytes (FF-sanitized per the stuffing rule).
    Not pixel-decodable — the MJPEG splitter parses structure, not DCTs."""
    app0_body = b"JFIF\x00" + seed[:9].ljust(9, b"\x00")
    app0 = b"\xff\xe0" + struct.pack(">H", 2 + len(app0_body)) + app0_body
    sos_body = b"\x01\x01\x00\x00\x3f\x00"
    sos = b"\xff\xda" + struct.pack(">H", 2 + len(sos_body)) + sos_body
    entropy = (
        b"\x12\x34\xff\x00\x56"  # stuffed FF00 must not end the scan
        + b"\xff\xd0\x78"        # RST0 inside the scan must not end it
        + seed.replace(b"\xff", b"\xfe")
    )
    return b"\xff\xd8" + app0 + sos + entropy + b"\xff\xd9"


def test_split_jpeg_stream_container():
    """Marker-walk MJPEG parsing recovers each concatenated JPEG exactly
    (byte stuffing and RST markers traversed, not mis-split), and rejects
    corrupt containers."""
    jpgs = [_fake_jpeg(bytes([i]) * (20 + i)) for i in range(4)]
    frames = codecs.split_jpeg_stream(b"".join(jpgs))
    assert frames == jpgs
    for fb in frames:
        # each recovered frame is itself sniffable as a JPEG stream head
        assert fb[:2] == b"\xff\xd8" and fb[-2:] == b"\xff\xd9"
    with pytest.raises(codecs.UnsupportedMedia):
        codecs.split_jpeg_stream(b"".join(jpgs) + b"junk")
    with pytest.raises(codecs.UnsupportedMedia):
        codecs.split_jpeg_stream(jpgs[0][:-2])  # EOI missing


def test_sample_frames_mjpeg_container_through_spark(spark):
    """sample_frames on an MJPEG stream returns the REAL source JPEGs at
    the uniform temporal positions (i*N)//n — not byte slices — through
    the same mapInPandas plumbing as the PNG container path."""
    jpgs = [_fake_jpeg(f"frame-{i}".encode() * 3) for i in range(5)]
    container = b"".join(jpgs)
    df = spark.createDataFrame(
        [(1, bytearray(container))], "doc_id long, payload binary"
    )
    out = {
        r["frame_idx"]: bytes(r["frame"])
        for r in multimodal.sample_frames(df, n_frames=3).collect()
    }
    assert set(out) == {0, 1, 2}
    for i, fb in out.items():
        assert fb == jpgs[(i * 5) // 3]


def test_sample_frames_corrupt_mjpeg_falls_back(spark):
    """A payload starting with SOI but not a well-formed JPEG stream falls
    back to deterministic byte slices instead of aborting the job."""
    junk = b"\xff\xd8" + b"not-markers-at-all"
    df = spark.createDataFrame(
        [(9, bytearray(junk))], "doc_id long, payload binary"
    )
    rows = multimodal.sample_frames(df, n_frames=3).collect()
    assert len(rows) == 3
    step = max(len(junk) // 3, 1)
    for r in rows:
        i = r["frame_idx"]
        assert bytes(r["frame"]) == junk[i * step : (i + 1) * step]


def test_attach_audio_roundtrip_and_features(spark):
    """Synthesized md5-derived WAVs decode through the real codec to
    exactly the digest-derived int16 samples, and the audio feature head
    (mean/std/rms/zcr) matches an independent numpy recomputation."""
    import hashlib

    df = spark.createDataFrame([(3,), (11,)], "doc_id long")
    wavs = {r["doc_id"]: bytes(r["audio"]) for r in multimodal.attach_audio(df).collect()}
    for doc_id, payload in wavs.items():
        x, rate = codecs.decode_wav(payload)
        assert rate == 8000 and x.shape == (multimodal.AUDIO_N_SAMPLES, 1)
        raw = b"".join(
            hashlib.md5(f"{doc_id}:a{c}".encode()).digest() for c in range(8)
        )
        want = np.frombuffer(raw, dtype="<i2").astype(np.float32) / 32768.0
        assert np.array_equal(x[:, 0], want)

    feats = {
        r["doc_id"]: r["features"]
        for r in multimodal.extract_features(
            multimodal.attach_audio(df), payload_col="audio", decode_mode="real"
        ).collect()
    }
    for doc_id, f in feats.items():
        x, _ = codecs.decode_wav(wavs[doc_id])
        mono = x.astype(np.float64)[:, 0]
        assert f[0] == np.float32(mono.mean())
        assert f[2] == np.float32(np.sqrt((mono**2).mean()))


def test_ahash64_band_recall_equals_brute_force(spark):
    """m_ahash_neardup's band-bucket join has EXACT recall vs the brute
    O(n²) hamming scan over the same 64-bit fingerprints (pigeonhole:
    hamming ≤ 3 ⇒ ≥1 of 4 bands identical), and the canonical hash is a
    64-char bit string for every dims class."""
    from pyspark.sql import functions as F

    from udlang_spark.operators import dedup
    from udlang_spark.queries.llm import synth_ppm
    from udlang_spark.sources.tables import load_table

    docs = load_table(spark, "documents", "/root/testdata/sf0.001").select(
        "doc_id", "text"
    )
    fp = multimodal.image_ahash64(synth_ppm(docs)).select(
        F.col("doc_id").alias("doc"), "ahash64"
    )
    rows = fp.collect()
    assert rows and all(
        len(r["ahash64"]) == 64 and set(r["ahash64"]) <= {"0", "1"}
        for r in rows
    )
    ints = {r["doc"]: int(r["ahash64"], 2) for r in rows}
    ids = sorted(ints)
    brute = {
        (a, b, bin(ints[a] ^ ints[b]).count("1"))
        for i, a in enumerate(ids)
        for b in ids[i + 1 :]
        if bin(ints[a] ^ ints[b]).count("1") <= 3
    }
    banded = {
        (r["doc_a"], r["doc_b"], r["hamming"])
        for r in dedup.banded_hamming_pairs(
            fp, bits_col="ahash64", n_bits=64, max_hamming=3
        ).collect()
    }
    assert brute, "corpus must contain at least one near-dup pair"
    assert banded == brute


def test_banded_hamming_pairs_non_divisor_band_counts(spark):
    """Round-9 ADVICE regression: n_bands = max_hamming + 1 made
    max_hamming=2 raise (64 % 3 != 0), regressing the pre-r8 fixed-4-band
    API that handled 0..3. The band count is now the smallest divisor of
    n_bits >= max_hamming + 1 (pigeonhole needs only n_bands > max_hamming);
    recall must stay exact vs brute force at every max_hamming in 0..4."""
    import random

    from udlang_spark.operators import dedup

    rng = random.Random(9)
    base = rng.getrandbits(64)
    ints = {}
    for i in range(24):
        v = base
        for _ in range(rng.randrange(0, 6)):  # 0..5 bit flips from base
            v ^= 1 << rng.randrange(64)
        ints[f"d{i:02d}"] = v
    fp = spark.createDataFrame(
        [(k, format(v, "064b")) for k, v in ints.items()], "doc string, bits string"
    )
    ids = sorted(ints)
    for mh in (0, 1, 2, 3, 4):
        brute = {
            (a, b, bin(ints[a] ^ ints[b]).count("1"))
            for i, a in enumerate(ids)
            for b in ids[i + 1 :]
            if bin(ints[a] ^ ints[b]).count("1") <= mh
        }
        banded = {
            (r["doc_a"], r["doc_b"], r["hamming"])
            for r in dedup.banded_hamming_pairs(
                fp, bits_col="bits", n_bits=64, max_hamming=mh
            ).collect()
        }
        assert banded == brute, f"max_hamming={mh}"
