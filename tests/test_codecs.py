"""First-party media codecs (llm/codecs.py) and the real-decode path.

Round-trips prove writer+reader agree; the PNG filter tests prove the
reader against an independent per-byte reference implementation of the
spec (RFC 2083 §6), not against our own encoder; the Spark tests prove
the end-to-end synth -> real-decode -> integer-stats pipeline that the
media_decode_real driver gate hashes.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np
import pytest

from pipit_spark.llm import codecs as C

rng = np.random.RandomState(7)


@pytest.mark.parametrize("h,w", [(1, 1), (5, 3), (8, 8), (7, 10)])
def test_bmp_roundtrip_gray_and_rgb(h, w):
    g = rng.randint(0, 256, (h, w)).astype(np.uint8)
    px = C.decode_bmp(C.encode_bmp(g))
    assert px.shape == (h, w, 3)
    assert (px == g[:, :, None]).all()
    rgb = rng.randint(0, 256, (h, w, 3)).astype(np.uint8)
    assert (C.decode_bmp(C.encode_bmp(rgb)) == rgb).all()


@pytest.mark.parametrize("h,w", [(1, 1), (5, 3), (9, 13)])
def test_png_roundtrip_gray_and_rgb(h, w):
    g = rng.randint(0, 256, (h, w)).astype(np.uint8)
    assert (C.decode_png(C.encode_png(g)) == g).all()
    rgb = rng.randint(0, 256, (h, w, 3)).astype(np.uint8)
    assert (C.decode_png(C.encode_png(rgb)) == rgb).all()


def _encode_ppm(pixels: np.ndarray) -> bytes:
    """Binary P6 PPM from (h, w) gray or (h, w, 3) RGB uint8."""
    px = np.asarray(pixels, dtype=np.uint8)
    if px.ndim == 2:
        px = np.repeat(px[:, :, None], 3, axis=2)
    h, w, _ = px.shape
    return f"P6\n{w} {h}\n255\n".encode() + px.tobytes()


def test_ppm_roundtrip():
    rgb = rng.randint(0, 256, (6, 4, 3)).astype(np.uint8)
    assert (C.decode_ppm(_encode_ppm(rgb)) == rgb).all()


def test_wav_roundtrip():
    s = rng.randint(-32768, 32768, 500).astype(np.int16)
    nch, rate, out = C.decode_wav(C.encode_wav(s, 8000))
    assert (nch, rate) == (1, 8000)
    assert (out == s).all()


def _ref_unfilter(rows, h, w, ch):
    """Independent per-byte reference of PNG unfiltering (RFC 2083)."""
    stride = w * ch
    out = [[0] * stride for _ in range(h)]
    for r in range(h):
        f, line = rows[r][0], rows[r][1:]
        for x in range(stride):
            a = out[r][x - ch] if x >= ch else 0
            b = out[r - 1][x] if r else 0
            cc = out[r - 1][x - ch] if (r and x >= ch) else 0
            if f == 0:
                v = line[x]
            elif f == 1:
                v = line[x] + a
            elif f == 2:
                v = line[x] + b
            elif f == 3:
                v = line[x] + ((a + b) >> 1)
            else:
                p = a + b - cc
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - cc)
                pr = a if pa <= pb and pa <= pc else (b if pb <= pc else cc)
                v = line[x] + pr
            out[r][x] = v & 0xFF
    arr = np.array(out, dtype=np.uint8)
    return arr.reshape(h, w) if ch == 1 else arr.reshape(h, w, ch)


@pytest.mark.parametrize("ch,colortype", [(1, 0), (3, 2)])
def test_png_all_filter_types_vs_reference(ch, colortype):
    h, w = 6, 5
    stride = w * ch
    # every scanline gets a different filter type, incl. 3 and 4
    rows = [[r % 5] + list(rng.randint(0, 256, stride)) for r in range(h)]
    raw = b"".join(bytes(r) for r in rows)
    ihdr = struct.pack(">IIBBBBB", w, h, 8, colortype, 0, 0, 0)
    png = (
        C._PNG_SIG
        + C._png_chunk(b"IHDR", ihdr)
        + C._png_chunk(b"IDAT", zlib.compress(raw))
        + C._png_chunk(b"IEND", b"")
    )
    assert (C.decode_png(png) == _ref_unfilter(rows, h, w, ch)).all()


def test_gray_int_exact():
    assert C.gray_int(np.array([[[10, 20, 31]]], dtype=np.uint8))[0, 0] == 20
    g = np.array([[7, 9]], dtype=np.uint8)
    assert (C.gray_int(g) == g).all()


def test_decode_image_pixels_dispatch_and_rejects():
    g = rng.randint(0, 256, (4, 6)).astype(np.uint8)
    assert (C.gray_int(C.decode_image_pixels(C.encode_png(g))) == g).all()
    assert (C.gray_int(C.decode_image_pixels(C.encode_bmp(g))) == g).all()
    assert (C.gray_int(C.decode_image_pixels(_encode_ppm(g))) == g).all()
    with pytest.raises(C.CodecError):
        C.decode_image_pixels(b"\xff\xd8 not a real jpeg")


def test_real_image_decode_features_are_true_pixels():
    """_decode_image_real must use real pixels (not the stub hash) for
    PNG/BMP when PIL is absent — a constant-64 image has every strip
    mean exactly 64/255."""
    from pipit_spark.llm.multimodal import _decode_image_real

    g = np.full((8, 8), 64, dtype=np.uint8)
    h, w, nb, feats = _decode_image_real(C.encode_png(g), feat_dim=4)
    assert (h, w) == (8, 8)
    assert feats == pytest.approx([64 / 255.0] * 4)


def _expected_stats(did: int):
    if did % 3 == 1:
        n = 200 + did % 56
        i = np.arange(n, dtype=np.int64)
        s = (did * 7919 + i * 104729) % 65536 - 32768
        return ("audio", "wav", 1, n, int(s.sum()), int(((i + 1) * s).sum()))
    h, w = 8 + did % 9, 8 + did % 7
    r = np.arange(h, dtype=np.int64)[:, None]
    c = np.arange(w, dtype=np.int64)[None, :]
    v = (did * 31 + r * 7 + c * 13) % 256
    fmt = "bmp" if did % 3 == 0 else "png"
    return (
        "image", fmt, h, w, int(v.sum()), int(((r * w + c + 1) * v).sum())
    )


def test_media_pixel_stats_end_to_end(spark):
    """Synth REAL files -> real decoders -> stats == closed form."""
    from pipit_spark.llm import multimodal as M

    docs = spark.range(0, 30).selectExpr("id AS doc_id")
    got = {
        r["media_id"]: (
            r["kind"], r["fmt"], r["d1"], r["d2"], r["px_sum"], r["wsum"]
        )
        for r in M.media_pixel_stats(M.synthesize_real_media(docs)).collect()
    }
    assert len(got) == 30
    for did in range(30):
        assert got[did] == _expected_stats(did), did


def test_decode_media_real_codec_on_real_corpus(spark):
    """codec='real' (fail-loudly mode) succeeds on every synthesized
    real file and reports true dimensions."""
    from pipit_spark.llm import multimodal as M

    docs = spark.range(0, 12).selectExpr("id AS doc_id")
    media = M.synthesize_real_media(docs)
    out = {
        r["media_id"]: (r["kind"], r["height"], r["width"])
        for r in M.decode_media(media, feat_dim=4, codec="real").collect()
    }
    for did in range(12):
        kind, fmt, d1, d2, _, _ = _expected_stats(did)
        if kind == "image":
            assert out[did] == ("image", d1, d2)
        else:
            assert out[did] == ("audio", 1, d2)
