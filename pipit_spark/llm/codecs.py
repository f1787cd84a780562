"""Real, dependency-free media codecs (numpy + stdlib only).

The container ships no PIL/ffmpeg, so the lossless formats a training
pipeline actually controls get first-party decoders: PNG (zlib inflate
+ scanline unfilter), BMP (24/32-bit uncompressed DIB), PPM (P6), and
WAV (stdlib ``wave``). Lossy/entropy-coded formats (JPEG, GIF-LZW,
mp3/ogg) still need a real codec library and keep the header-parse +
stub-feature fallback in :mod:`multimodal`.

Encoders (PNG, BMP, WAV) exist so tests and driver gates can synthesize
REAL files from a closed-form pixel/sample formula and prove the decode
path end-to-end: synth bytes -> real decoder -> integer stats that a
DuckDB oracle recomputes from the formula alone (never seeing the
bytes). A bug in either the writer or the reader breaks the hash.

Reference scope: the reference engine (pipit) has no media surface;
this extends the brief's multimodal requirement (decode /
feature-extract with real libraries stubbed) to a real implementation
for the formats stdlib can reach.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

__all__ = [
    "encode_bmp",
    "encode_png",
    "encode_wav",
    "decode_bmp",
    "decode_png",
    "decode_ppm",
    "decode_wav",
    "decode_image_pixels",
    "gray_int",
]


class CodecError(ValueError):
    """Payload is not a parseable file of the claimed format."""


# ---------------------------------------------------------------- BMP


def encode_bmp(pixels: np.ndarray) -> bytes:
    """24-bit uncompressed bottom-up BMP from an (h, w) grayscale or
    (h, w, 3) RGB uint8 array."""
    px = np.asarray(pixels, dtype=np.uint8)
    if px.ndim == 2:
        px = np.repeat(px[:, :, None], 3, axis=2)
    h, w, _ = px.shape
    row_bytes = w * 3
    pad = (-row_bytes) % 4
    stride = row_bytes + pad
    body = bytearray()
    for r in range(h - 1, -1, -1):  # bottom-up row order
        bgr = px[r, :, ::-1].tobytes()  # RGB -> BGR
        body += bgr + b"\x00" * pad
    file_size = 14 + 40 + len(body)
    header = struct.pack(
        "<2sIHHI", b"BM", file_size, 0, 0, 54
    ) + struct.pack(
        "<IiiHHIIiiII", 40, w, h, 1, 24, 0, stride * h, 2835, 2835, 0, 0
    )
    return bytes(header) + bytes(body)


def decode_bmp(data: bytes) -> np.ndarray:
    """(h, w, 3) uint8 RGB from a 24/32-bit uncompressed BMP
    (bottom-up or top-down)."""
    if len(data) < 54 or data[:2] != b"BM":
        raise CodecError("not a BMP")
    (offset,) = struct.unpack_from("<I", data, 10)
    w, h_raw = struct.unpack_from("<ii", data, 18)
    (bpp,) = struct.unpack_from("<H", data, 28)
    (compression,) = struct.unpack_from("<I", data, 30)
    if compression != 0 or bpp not in (24, 32):
        raise CodecError(f"unsupported BMP (bpp={bpp}, comp={compression})")
    top_down = h_raw < 0
    h = abs(h_raw)
    ch = bpp // 8
    stride = (w * ch + 3) // 4 * 4
    need = offset + stride * h
    if len(data) < need:
        raise CodecError("truncated BMP pixel array")
    rows = np.frombuffer(
        data, dtype=np.uint8, count=stride * h, offset=offset
    ).reshape(h, stride)
    px = rows[:, : w * ch].reshape(h, w, ch)
    if not top_down:
        px = px[::-1]
    # BGR(A) -> RGB (alpha dropped)
    return np.ascontiguousarray(px[:, :, [2, 1, 0]])


# ---------------------------------------------------------------- PNG

_PNG_SIG = b"\x89PNG\r\n\x1a\n"
_PNG_CHANNELS = {0: 1, 2: 3, 4: 2, 6: 4}  # colortype -> channels


def _png_chunk(ctype: bytes, payload: bytes) -> bytes:
    crc = zlib.crc32(ctype + payload) & 0xFFFFFFFF
    return struct.pack(">I", len(payload)) + ctype + payload + struct.pack(">I", crc)


def encode_png(pixels: np.ndarray) -> bytes:
    """8-bit PNG from (h, w) gray or (h, w, 3) RGB uint8; filter type 0
    on every scanline, one IDAT."""
    px = np.asarray(pixels, dtype=np.uint8)
    if px.ndim == 2:
        colortype, ch = 0, 1
        h, w = px.shape
        flat = px.reshape(h, w)
    else:
        colortype, ch = 2, 3
        h, w, _ = px.shape
        flat = px.reshape(h, w * 3)
    raw = b"".join(b"\x00" + flat[r].tobytes() for r in range(h))
    ihdr = struct.pack(">IIBBBBB", w, h, 8, colortype, 0, 0, 0)
    return (
        _PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(raw, 6))
        + _png_chunk(b"IEND", b"")
    )


def _unfilter(raw: np.ndarray, h: int, w: int, ch: int) -> np.ndarray:
    """Reverse PNG scanline filters. Rows arrive as h x (1 + w*ch); the
    leading byte of each row is the filter type. Filters 0/2 and the
    common 1 (Sub) are vectorized; 3 (Average) and 4 (Paeth) fall back
    to a per-pixel loop (production images that matter for throughput
    should go through PIL; this path exists for correctness without
    it)."""
    stride = w * ch
    out = np.zeros((h, stride), dtype=np.int64)
    for r in range(h):
        ftype = int(raw[r, 0])
        line = raw[r, 1:].astype(np.int64)
        prev = out[r - 1] if r else np.zeros(stride, dtype=np.int64)
        if ftype == 0:
            out[r] = line
        elif ftype == 2:  # Up
            out[r] = (line + prev) & 0xFF
        elif ftype == 1:  # Sub: prefix sum per channel lane, mod 256
            lanes = line.reshape(w, ch)
            out[r] = (np.cumsum(lanes, axis=0) & 0xFF).reshape(stride)
        elif ftype == 3:  # Average
            row = out[r]
            for x in range(stride):
                a = row[x - ch] if x >= ch else 0
                row[x] = (line[x] + ((a + prev[x]) >> 1)) & 0xFF
        elif ftype == 4:  # Paeth
            row = out[r]
            for x in range(stride):
                a = row[x - ch] if x >= ch else 0
                b = prev[x]
                c = prev[x - ch] if x >= ch else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                if pa <= pb and pa <= pc:
                    pr = a
                elif pb <= pc:
                    pr = b
                else:
                    pr = c
                row[x] = (line[x] + pr) & 0xFF
        else:
            raise CodecError(f"unknown PNG filter type {ftype}")
    return out.astype(np.uint8)


def decode_png(data: bytes) -> np.ndarray:
    """(h, w) or (h, w, ch) uint8 from an 8-bit non-interlaced PNG
    (gray / RGB / gray+alpha / RGBA)."""
    if not data.startswith(_PNG_SIG):
        raise CodecError("not a PNG")
    pos = 8
    w = h = None
    ch = None
    idat = bytearray()
    while pos + 8 <= len(data):
        (length,) = struct.unpack_from(">I", data, pos)
        ctype = data[pos + 4 : pos + 8]
        payload = data[pos + 8 : pos + 8 + length]
        pos += 12 + length
        if ctype == b"IHDR":
            w, h, depth, colortype, comp, filt, interlace = struct.unpack(
                ">IIBBBBB", payload
            )
            if depth != 8 or interlace != 0 or colortype not in _PNG_CHANNELS:
                raise CodecError(
                    f"unsupported PNG (depth={depth}, color={colortype}, "
                    f"interlace={interlace})"
                )
            ch = _PNG_CHANNELS[colortype]
        elif ctype == b"IDAT":
            idat += payload
        elif ctype == b"IEND":
            break
    if w is None or not idat:
        raise CodecError("PNG missing IHDR/IDAT")
    raw = zlib.decompress(bytes(idat))
    stride = 1 + w * ch
    if len(raw) != stride * h:
        raise CodecError("PNG scanline size mismatch")
    rows = np.frombuffer(raw, dtype=np.uint8).reshape(h, stride)
    px = _unfilter(rows, h, w, ch)
    return px.reshape(h, w) if ch == 1 else px.reshape(h, w, ch)


# ---------------------------------------------------------------- PPM


def decode_ppm(data: bytes) -> np.ndarray:
    """(h, w, 3) uint8 from a binary P6 PPM (maxval 255)."""
    if data[:2] != b"P6":
        raise CodecError("not a P6 PPM")
    # header: magic, width, height, maxval — whitespace/comment separated
    fields: list[int] = []
    i = 2
    while len(fields) < 3 and i < len(data):
        c = data[i : i + 1]
        if c == b"#":
            while i < len(data) and data[i : i + 1] != b"\n":
                i += 1
        elif c.isspace():
            i += 1
        else:
            j = i
            while j < len(data) and not data[j : j + 1].isspace():
                j += 1
            fields.append(int(data[i:j]))
            i = j
    if len(fields) < 3 or fields[2] != 255:
        raise CodecError("bad PPM header")
    w, h = fields[0], fields[1]
    i += 1  # single whitespace after maxval
    body = np.frombuffer(data, dtype=np.uint8, count=w * h * 3, offset=i)
    return body.reshape(h, w, 3).copy()


# ---------------------------------------------------------------- WAV


def encode_wav(samples: np.ndarray, sample_rate: int = 8000) -> bytes:
    """Mono 16-bit PCM WAV from an int16 array (stdlib ``wave``)."""
    import io
    import wave

    buf = io.BytesIO()
    with wave.open(buf, "wb") as wf:
        wf.setnchannels(1)
        wf.setsampwidth(2)
        wf.setframerate(sample_rate)
        wf.writeframes(np.asarray(samples, dtype="<i2").tobytes())
    return buf.getvalue()


def decode_wav(data: bytes) -> tuple[int, int, np.ndarray]:
    """(n_channels, sample_rate, samples[int32]) from a PCM WAV."""
    import io
    import wave

    try:
        with wave.open(io.BytesIO(data)) as wf:
            nch, sw, rate, nframes = wf.getparams()[:4]
            raw = wf.readframes(nframes)
    except Exception as e:
        raise CodecError(str(e)) from e
    dt = {1: np.int8, 2: "<i2", 4: "<i4"}.get(sw)
    if dt is None:
        raise CodecError(f"unsupported sample width {sw}")
    return nch, rate, np.frombuffer(raw, dtype=dt).astype(np.int32)


# ------------------------------------------------------- shared helpers


def decode_image_pixels(data: bytes) -> np.ndarray:
    """Dispatch on magic bytes to the matching pixel decoder; PIL first
    when importable (it covers JPEG/GIF too), the first-party decoders
    otherwise. Lossless formats produce identical pixel arrays on both
    paths, so downstream integer stats are path-independent."""
    try:
        from PIL import Image  # noqa: F401  (absent in this container)
        import io

        try:
            img = Image.open(io.BytesIO(data))
            return np.array(img.convert("RGB"))
        except Exception as e:
            raise CodecError(str(e)) from e
    except ImportError:
        pass
    if data.startswith(_PNG_SIG):
        return decode_png(data)
    if data[:2] == b"BM":
        return decode_bmp(data)
    if data[:2] == b"P6":
        return decode_ppm(data)
    raise CodecError("no first-party decoder for this payload (JPEG/GIF need PIL)")


def gray_int(px: np.ndarray) -> np.ndarray:
    """Integer grayscale: channel mean with floor division — exact (no
    float weights), identical across the PIL and first-party paths for
    lossless inputs, and replayable in SQL. (h, w) int64."""
    arr = np.asarray(px, dtype=np.int64)
    if arr.ndim == 2:
        return arr
    return arr[:, :, :3].sum(axis=2) // 3
