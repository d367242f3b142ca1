"""Real PNG codec laws: lossless roundtrip across every scanline
filter and both color types, byte-level fail-loudly behavior, and the
registered roundtrip query's numpy prediction."""

from __future__ import annotations

import numpy as np
import pytest

from scio_db_spark.functions.multimodal import (
    png_decode_rgb8,
    png_encode_rgb8,
)


def _img(h, w, ch, seed=0):
    return np.random.RandomState(seed).randint(
        0, 256, (h, w, ch), dtype=np.uint8
    )


@pytest.mark.parametrize("ch", [3, 4])
@pytest.mark.parametrize("ft", [0, 1, 2, 3, 4])
def test_roundtrip_every_filter(ch, ft):
    px = _img(6, 9, ch, seed=ft * 10 + ch)
    out = png_decode_rgb8(png_encode_rgb8(px, [ft] * 6))
    assert out.shape == px.shape
    assert (out == px).all()


def test_roundtrip_mixed_filters_and_edge_sizes():
    for h, w in ((1, 1), (1, 7), (5, 1), (8, 8)):
        px = _img(h, w, 3, seed=h * 16 + w)
        assert (png_decode_rgb8(png_encode_rgb8(px)) == px).all()


def test_not_png_raises():
    with pytest.raises(ValueError, match="not a PNG"):
        png_decode_rgb8(b"GIF89a definitely not a png")


def test_truncated_raises():
    b = png_encode_rgb8(_img(4, 4, 3))
    with pytest.raises(ValueError, match="truncated|missing"):
        png_decode_rgb8(b[:-6])


def test_corrupt_crc_raises():
    b = bytearray(png_encode_rgb8(_img(4, 4, 3)))
    b[40] ^= 0xFF  # flip a byte inside IDAT
    with pytest.raises(ValueError, match="CRC mismatch"):
        png_decode_rgb8(bytes(b))


def test_valid_crc_garbage_idat_raises_zlib_error():
    """Every chunk CRC is correct but the IDAT body is not a DEFLATE
    stream (a buggy encoder, or a bit flip made before the CRC was
    stamped): the codec raises ``zlib.error``, not ``ValueError``, so a
    caller routing bad payloads must catch both."""
    import struct
    import zlib

    def chunk(ctype: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data))
            + ctype
            + data
            + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", 2, 2, 8, 2, 0, 0, 0)  # 2x2 RGB8
    b = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", b"\xff\x00\xde\xad\xbe\xef")
        + chunk(b"IEND", b"")
    )
    with pytest.raises(zlib.error):
        png_decode_rgb8(b)


def test_unsupported_depth_named_not_misparsed():
    b = bytearray(png_encode_rgb8(_img(4, 4, 3)))
    # IHDR data starts at offset 16; depth byte is at 16+8
    import zlib

    b[24] = 16  # claim 16-bit depth
    # re-stamp the IHDR CRC so the failure is the VALIDATION, not CRC
    ihdr = bytes(b[12:16]) + bytes(b[16:29])
    b[29:33] = zlib.crc32(ihdr).to_bytes(4, "big")
    with pytest.raises(ValueError, match="8-bit RGB"):
        png_decode_rgb8(bytes(b))


def test_registered_query_matches_numpy_prediction(spark, sf_dir):
    from scio_db_spark.plans.registry import all_queries

    rows = (
        all_queries()["mm_png_rgb_roundtrip"].spark(spark, sf_dir)
        .limit(40)
        .collect()
    )
    assert rows
    for r in rows:
        i = r.doc_id
        w, h = 4 + i % 13, 2 + i % 7
        ch = 4 if i % 2 == 1 else 3
        xs = np.arange(w)[None, :]
        ys = np.arange(h)[:, None]
        red = np.broadcast_to((2 * xs + 11 * ys + i) % 256, (h, w))
        assert (r.width, r.height, r.n_channels) == (w, h, ch)
        assert r.sum_r == int(red.sum())
        assert r.wsum_rx == int((red * np.arange(w)[None, :]).sum())
        assert r.wsum_ry == int((red * np.arange(h)[:, None]).sum())
        assert r.dec_sum_r == int(red[::2, ::2].sum())


# ------------------------------------------------------------------
# Round-12 optimization pin: the vectorized filter/unfilter kernels
# must be BYTE-identical (encode) / value-identical (dhash) to the
# straight per-byte T.81/RFC-2083 reference recurrences they replaced.


def _paeth_ref(a, b, c):
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    if pb <= pc:
        return b
    return c


def _filter_rows_ref(px, row_filters):
    """Per-byte spec recurrence: the filtered scanline bytes (with
    leading filter-type byte) exactly as RFC 2083 §6 defines them."""
    h, w, ch = px.shape
    raw = px.reshape(h, w * ch).astype(int)
    out = bytearray()
    prior = [0] * (w * ch)
    for y in range(h):
        ft = row_filters[y]
        line = raw[y].tolist()
        out.append(ft)
        for i in range(w * ch):
            left = line[i - ch] if i >= ch else 0
            up = prior[i]
            ul = prior[i - ch] if i >= ch else 0
            if ft == 0:
                v = line[i]
            elif ft == 1:
                v = line[i] - left
            elif ft == 2:
                v = line[i] - up
            elif ft == 3:
                v = line[i] - (left + up) // 2
            else:
                v = line[i] - _paeth_ref(left, up, ul)
            out.append(v % 256)
        prior = line
    return bytes(out)


def test_vectorized_encoder_matches_per_byte_reference():
    import zlib

    rng = np.random.RandomState(42)
    for trial in range(40):
        h, w = int(rng.randint(1, 12)), int(rng.randint(1, 12))
        ch = int(rng.choice([3, 4]))
        px = rng.randint(0, 256, (h, w, ch), dtype=np.uint8)
        rf = (
            [y % 5 for y in range(h)]
            if trial % 2
            else rng.randint(0, 5, h).tolist()
        )
        blob = png_encode_rgb8(px, rf)
        # pull the IDAT payload back out and compare the raw filtered
        # stream against the per-byte reference
        pos, idat = 8, bytearray()
        while pos + 8 <= len(blob):
            size = int.from_bytes(blob[pos : pos + 4], "big")
            ctype = blob[pos + 4 : pos + 8]
            if ctype == b"IDAT":
                idat.extend(blob[pos + 8 : pos + 8 + size])
            pos += 12 + size
        assert zlib.decompress(bytes(idat)) == _filter_rows_ref(px, rf)
        # and the decoder inverts it back to the pixels
        assert (png_decode_rgb8(blob) == px).all()


def test_vectorized_dhash_matches_bit_loop_reference():
    from scio_db_spark.functions.multimodal import dhash64_from_pixels

    rng = np.random.RandomState(7)
    for _ in range(25):
        px = rng.randint(
            0, 256, (16 + rng.randint(4), 18 + rng.randint(4), 3),
            dtype=np.uint8,
        )
        r = px[:16, :18, 0].astype(np.int64)
        pooled = r[0::2, :] + r[1::2, :]
        pooled = (pooled[:, 0::2] + pooled[:, 1::2]) // 4
        ref = 0
        for y in range(8):
            for x in range(8):
                if pooled[y, x + 1] > pooled[y, x]:
                    ref |= 1 << (y * 8 + x)
        if ref >= 1 << 63:
            ref -= 1 << 64
        assert dhash64_from_pixels(px) == ref
