"""Pure-Python (stdlib-only) media codecs for the multimodal operators.

The container ships no PIL/libvips/ffmpeg, but "real" decode must not be a
stub: this module actually parses bytes. Coverage:

- metadata (`sniff`): PNG, JPEG, GIF, BMP, PPM/PGM, WAV — magic-byte
  sniffing plus the format's own header walk (JPEG scans for an SOFn
  marker; WAV walks RIFF chunks to `fmt `).
- pixels (`decode_pixels`): PPM (P6) and PNG (8-bit gray/RGB/RGBA,
  non-interlaced — zlib inflate + per-scanline unfilter per the PNG spec's
  five filter types). Returns (height, width, channels) uint8 ndarray.
- audio (`decode_wav`): stdlib `wave` → float32 samples in [-1, 1].

These run inside Arrow-batched mapInPandas workers (operators/multimodal.py),
so they must import nothing beyond stdlib + numpy. They are the whole real
decode path: no optional decoder takes priority, so the decoded rows do
not depend on what else is installed.
"""

from __future__ import annotations

import io
import struct
import wave
import zlib


class UnsupportedMedia(ValueError):
    """Raised when bytes are not a media format this module can parse."""


PNG_SIG = b"\x89PNG\r\n\x1a\n"


def split_png_stream(data: bytes) -> list[bytes]:
    """Split a concatenated-PNG stream (the 'multi-PNG video container')
    into individual PNG byte strings by WALKING each image's chunk
    structure to its IEND chunk — a real container parse over the
    length-prefixed chunk framing, not a signature scan, so compressed
    pixel data that happens to contain the 8-byte PNG magic cannot split
    a frame in half."""
    frames: list[bytes] = []
    pos, n = 0, len(data)
    while pos < n:
        if data[pos : pos + 8] != PNG_SIG:
            raise UnsupportedMedia(f"container: expected PNG magic at {pos}")
        i = pos + 8
        while True:
            if i + 8 > n:
                raise UnsupportedMedia("container: truncated PNG chunk")
            (length,) = struct.unpack(">I", data[i : i + 4])
            ctype = data[i + 4 : i + 8]
            i += 12 + length  # len + type + body + crc
            if ctype == b"IEND":
                break
        if i > n:
            raise UnsupportedMedia("container: truncated final chunk")
        frames.append(data[pos:i])
        pos = i
    return frames


JPEG_SOI = b"\xff\xd8"


def split_jpeg_stream(data: bytes) -> list[bytes]:
    """Split an MJPEG stream (concatenated baseline JPEGs — the classic
    'motion JPEG' container) into individual JPEG byte strings by WALKING
    each image's marker structure SOI→EOI. Entropy-coded scan data is
    traversed per the byte-stuffing rule (a 0xFF inside the scan is
    followed by 0x00 or an RST marker 0xD0–0xD7), so a literal FFD9 bit
    pattern inside compressed data cannot split a frame in half — the same
    guarantee split_png_stream gets from chunk framing."""
    frames: list[bytes] = []
    pos, n = 0, len(data)
    while pos < n:
        if data[pos : pos + 2] != JPEG_SOI:
            raise UnsupportedMedia(f"container: expected JPEG SOI at {pos}")
        i = pos + 2
        while True:
            if i + 2 > n:
                raise UnsupportedMedia("container: truncated JPEG")
            if data[i] != 0xFF:
                raise UnsupportedMedia(f"container: expected marker at {i}")
            marker = data[i + 1]
            if marker == 0xD9:  # EOI — frame complete
                i += 2
                break
            if marker == 0xFF:  # fill byte padding before a marker
                i += 1
                continue
            if marker == 0x01 or 0xD0 <= marker <= 0xD7:  # bare markers
                i += 2
                continue
            if i + 4 > n:
                raise UnsupportedMedia("container: truncated JPEG segment")
            (seg_len,) = struct.unpack(">H", data[i + 2 : i + 4])
            i += 2 + seg_len
            if marker == 0xDA:  # SOS: skip entropy-coded data to next marker
                while i < n:
                    if (
                        data[i] == 0xFF
                        and i + 1 < n
                        and data[i + 1] != 0x00
                        and not (0xD0 <= data[i + 1] <= 0xD7)
                    ):
                        break
                    i += 1
        frames.append(data[pos:i])
        pos = i
    return frames


# ---------------------------------------------------------------------------
# metadata sniffing
# ---------------------------------------------------------------------------
def sniff(data: bytes) -> tuple[int, int, int, str]:
    """(width, height, channels, format) from the container header alone —
    no full pixel decode, so this is O(header) however large the payload."""
    if data[:8] == b"\x89PNG\r\n\x1a\n":
        w, h = struct.unpack(">II", data[16:24])
        color_type = data[25]
        channels = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}.get(color_type)
        if channels is None:
            raise UnsupportedMedia(f"PNG color type {color_type}")
        return w, h, channels, "png"
    if data[:2] == b"\xff\xd8":
        return _sniff_jpeg(data)
    if data[:6] in (b"GIF87a", b"GIF89a"):
        w, h = struct.unpack("<HH", data[6:10])
        return w, h, 3, "gif"
    if data[:2] == b"BM":
        w, h = struct.unpack("<ii", data[18:26])
        bpp = struct.unpack("<H", data[28:30])[0]
        return w, abs(h), max(bpp // 8, 1), "bmp"
    if data[:2] in (b"P6", b"P5"):
        w, h, _maxval, _off = _ppm_header(data)
        return w, h, (3 if data[:2] == b"P6" else 1), "ppm"
    if data[:4] == b"RIFF" and data[8:12] == b"WAVE":
        n_channels, _rate, n_frames = _wav_meta(data)
        # audio rides the same (width, height, channels) tuple: frames × 1
        return n_frames, 1, n_channels, "wav"
    raise UnsupportedMedia(f"unrecognized media magic {data[:8]!r}")


def _sniff_jpeg(data: bytes) -> tuple[int, int, int, str]:
    # walk marker segments to the first SOFn (C0–CF except C4/C8/CC)
    i = 2
    n = len(data)
    while i + 9 < n:
        if data[i] != 0xFF:
            i += 1
            continue
        marker = data[i + 1]
        if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
            i += 2
            continue
        seg_len = struct.unpack(">H", data[i + 2 : i + 4])[0]
        if 0xC0 <= marker <= 0xCF and marker not in (0xC4, 0xC8, 0xCC):
            h, w = struct.unpack(">HH", data[i + 5 : i + 9])
            channels = data[i + 9]
            return w, h, channels, "jpeg"
        i += 2 + seg_len
    raise UnsupportedMedia("JPEG without SOF marker")


def _ppm_header(data: bytes) -> tuple[int, int, int, int]:
    """Parse 'P6 <w> <h> <maxval>' with comment/whitespace handling.
    Returns (w, h, maxval, pixel_data_offset)."""
    fields: list[int] = []
    i = 2
    n = len(data)
    while len(fields) < 3 and i < n:
        c = data[i]
        if c == ord("#"):
            while i < n and data[i] != ord("\n"):
                i += 1
        elif c in b" \t\r\n":
            i += 1
        else:
            j = i
            while j < n and data[j] not in b" \t\r\n#":
                j += 1
            fields.append(int(data[i:j]))
            i = j
    if len(fields) != 3:
        raise UnsupportedMedia("truncated PPM header")
    return fields[0], fields[1], fields[2], i + 1  # +1: single ws after maxval


def _wav_meta(data: bytes) -> tuple[int, int, int]:
    with wave.open(io.BytesIO(data), "rb") as w:
        return w.getnchannels(), w.getframerate(), w.getnframes()


# ---------------------------------------------------------------------------
# pixel decode
# ---------------------------------------------------------------------------
def decode_pixels(data: bytes):
    """uint8 ndarray of shape (height, width, channels) for PPM(P6)/PNG."""
    import numpy as np

    if data[:2] == b"P6":
        w, h, maxval, off = _ppm_header(data)
        if maxval > 255:
            raise UnsupportedMedia("16-bit PPM")
        px = np.frombuffer(data, dtype=np.uint8, count=w * h * 3, offset=off)
        return px.reshape(h, w, 3)
    if data[:8] == b"\x89PNG\r\n\x1a\n":
        return _decode_png(data)
    raise UnsupportedMedia(f"no pixel decoder for magic {data[:4]!r}")


def _decode_png(data: bytes):
    import numpy as np

    w = h = None
    bit_depth = color_type = interlace = None
    idat = bytearray()
    i = 8
    while i + 8 <= len(data):
        (length,) = struct.unpack(">I", data[i : i + 4])
        ctype = data[i + 4 : i + 8]
        body = data[i + 8 : i + 8 + length]
        if ctype == b"IHDR":
            w, h = struct.unpack(">II", body[0:8])
            bit_depth, color_type, _comp, _filt, interlace = body[8:13]
        elif ctype == b"IDAT":
            idat.extend(body)
        elif ctype == b"IEND":
            break
        i += 12 + length  # len + type + crc
    if w is None:
        raise UnsupportedMedia("PNG without IHDR")
    if bit_depth != 8 or interlace != 0:
        raise UnsupportedMedia(f"PNG bit_depth={bit_depth} interlace={interlace}")
    channels = {0: 1, 2: 3, 4: 2, 6: 4}.get(color_type)
    if channels is None:
        raise UnsupportedMedia(f"PNG color type {color_type} (palette unsupported)")
    raw = zlib.decompress(bytes(idat))
    stride = w * channels
    if len(raw) != h * (stride + 1):
        raise UnsupportedMedia("PNG IDAT length mismatch")
    out = np.empty((h, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.uint8)
    pos = 0
    for row in range(h):
        ftype = raw[pos]
        line = np.frombuffer(raw, dtype=np.uint8, count=stride, offset=pos + 1)
        pos += stride + 1
        cur = _unfilter_row(ftype, line, prev, channels)
        out[row] = cur
        prev = cur
    return out.reshape(h, w, channels)


def _unfilter_row(ftype: int, line, prev, channels: int):
    """PNG spec §9 filter reconstruction (None/Sub/Up/Average/Paeth)."""
    import numpy as np

    cur = line.astype(np.int32)
    if ftype == 0:
        return line.copy()
    if ftype == 2:  # Up
        return ((cur + prev) & 0xFF).astype(np.uint8)
    # Sub/Average/Paeth need the left neighbor — sequential per pixel
    out = np.zeros_like(cur)
    prev32 = prev.astype(np.int32)
    for x in range(len(cur)):
        a = out[x - channels] if x >= channels else 0  # left
        b = prev32[x]  # up
        if ftype == 1:
            rec = cur[x] + a
        elif ftype == 3:
            rec = cur[x] + (a + b) // 2
        elif ftype == 4:
            c = prev32[x - channels] if x >= channels else 0  # up-left
            p = a + b - c
            pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
            pred = a if pa <= pb and pa <= pc else (b if pb <= pc else c)
            rec = cur[x] + pred
        else:
            raise UnsupportedMedia(f"PNG filter type {ftype}")
        out[x] = rec & 0xFF
    return out.astype(np.uint8)


# ---------------------------------------------------------------------------
# audio decode
# ---------------------------------------------------------------------------
def decode_wav(data: bytes):
    """(samples float32 in [-1,1] of shape (n_frames, n_channels), rate)."""
    import numpy as np

    with wave.open(io.BytesIO(data), "rb") as w:
        n_ch, width, rate = w.getnchannels(), w.getsampwidth(), w.getframerate()
        frames = w.readframes(w.getnframes())
    if width == 2:
        x = np.frombuffer(frames, dtype="<i2").astype(np.float32) / 32768.0
    elif width == 1:
        x = (np.frombuffer(frames, dtype=np.uint8).astype(np.float32) - 128.0) / 128.0
    else:
        raise UnsupportedMedia(f"WAV sample width {width}")
    return x.reshape(-1, n_ch), rate


# ---------------------------------------------------------------------------
# encoders (test fixtures + resize output)
# ---------------------------------------------------------------------------
def encode_ppm(pixels) -> bytes:
    """uint8 (h, w, 3) ndarray → binary PPM (P6)."""
    h, w = pixels.shape[0], pixels.shape[1]
    return b"P6\n%d %d\n255\n" % (w, h) + pixels.tobytes()


def encode_png(pixels) -> bytes:
    """uint8 (h, w, channels) ndarray → minimal non-interlaced PNG
    (filter type 0 on every scanline)."""
    import numpy as np

    h, w = pixels.shape[0], pixels.shape[1]
    channels = 1 if pixels.ndim == 2 else pixels.shape[2]
    color_type = {1: 0, 2: 4, 3: 2, 4: 6}[channels]
    body = pixels.reshape(h, w * channels)
    raw = b"".join(b"\x00" + body[r].astype(np.uint8).tobytes() for r in range(h))

    def chunk(ctype: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data))
            + ctype
            + data
            + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, color_type, 0, 0, 0)
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )
