"""Baseline JPEG codec contract: DC-exactness, bounded lossy error,
format structure, and loud poison rejection (the dead-letter W9
contract extended to the last previously-gated image format)."""

from __future__ import annotations

import numpy as np
import pytest

from scio_db_spark.functions.jpegcodec import (
    jpeg_decode_gray,
    jpeg_encode_gray,
)


def _const_block_image(h_blocks: int, w_blocks: int, seed: int):
    vals = (
        np.random.RandomState(seed)
        .randint(0, 256, (h_blocks, w_blocks))
        .astype(np.uint8)
    )
    return np.repeat(np.repeat(vals, 8, axis=0), 8, axis=1)


def test_dc_exact_roundtrip():
    """Constant 8x8 blocks + flat quant round-trip BIT-EXACTLY: all
    block energy sits in DC (exactly representable), AC quantizes to
    zero — the exactness contract the oracle-checked query builds
    on."""
    for seed in range(5):
        img = _const_block_image(3, 5, seed)
        assert np.array_equal(
            jpeg_decode_gray(jpeg_encode_gray(img)), img
        )


def test_flat_quant_near_lossless():
    rng = np.random.RandomState(7)
    img = rng.randint(0, 256, (24, 40)).astype(np.uint8)
    rt = jpeg_decode_gray(jpeg_encode_gray(img))
    assert np.abs(rt.astype(int) - img.astype(int)).max() <= 1


def test_odd_dimensions_crop_back():
    rng = np.random.RandomState(8)
    img = rng.randint(0, 256, (13, 21)).astype(np.uint8)
    rt = jpeg_decode_gray(jpeg_encode_gray(img))
    assert rt.shape == (13, 21)
    assert np.abs(rt.astype(int) - img.astype(int)).max() <= 1


def test_lossy_quant_bounded_error():
    rng = np.random.RandomState(9)
    img = rng.randint(0, 256, (32, 32)).astype(np.uint8)
    q = np.full((8, 8), 16, dtype=np.int64)
    rt = jpeg_decode_gray(jpeg_encode_gray(img, quant=q))
    err = np.abs(rt.astype(int) - img.astype(int))
    # error is bounded by the quantization step (plus rounding), and
    # the mean is far below the bound
    assert err.max() <= 40 and err.mean() < 8


def test_stream_structure():
    img = _const_block_image(1, 2, 0)
    b = jpeg_encode_gray(img)
    assert b[:2] == b"\xff\xd8" and b[-2:] == b"\xff\xd9"
    for marker in (b"\xff\xdb", b"\xff\xc0", b"\xff\xc4", b"\xff\xda"):
        assert marker in b


def test_poison_rejected_loudly():
    img = _const_block_image(2, 2, 1)
    good = jpeg_encode_gray(img)
    with pytest.raises(ValueError, match="missing SOI"):
        jpeg_decode_gray(b"NOPE")
    with pytest.raises(ValueError, match="truncated"):
        jpeg_decode_gray(good[:40])
    with pytest.raises(ValueError, match="missing EOI"):
        jpeg_decode_gray(good[:-4])
    with pytest.raises(ValueError, match="non-baseline"):
        # flip SOF0 -> SOF2 (progressive): named unsupported
        jpeg_decode_gray(good.replace(b"\xff\xc0", b"\xff\xc2", 1))


def test_quant_table_validated():
    img = _const_block_image(1, 1, 2)
    with pytest.raises(ValueError, match="quant"):
        jpeg_encode_gray(img, quant=np.zeros((8, 8), dtype=np.int64))


def test_color_roundtrip_bounded():
    """4:4:4 YCbCr color: the float color transform is lossy even at
    flat quant, so color asserts BOUNDED error (max <= 3 at flat
    quant), never exactness — that contract stays grayscale-only."""
    rng = np.random.RandomState(31)
    from scio_db_spark.functions.jpegcodec import (
        jpeg_decode,
        jpeg_encode_rgb,
    )

    img = rng.randint(0, 256, (24, 40, 3)).astype(np.uint8)
    rt = jpeg_decode(jpeg_encode_rgb(img))
    assert rt.shape == img.shape
    err = np.abs(rt.astype(int) - img.astype(int))
    assert err.max() <= 3 and err.mean() < 1


def test_color_roundtrip_keeps_dhash():
    """The lossy color roundtrip moves the perceptual fingerprint by at
    most 6 of its 64 bits, so near-dup matching survives re-encoding."""
    from scio_db_spark.functions.jpegcodec import (
        jpeg_decode,
        jpeg_encode_rgb,
    )
    from scio_db_spark.functions.multimodal import dhash64_from_pixels

    img = np.random.RandomState(29).randint(0, 256, (16, 24, 3)).astype(
        np.uint8
    )
    rt = jpeg_decode(jpeg_encode_rgb(img))
    diff = dhash64_from_pixels(rt) ^ dhash64_from_pixels(img)
    ham = bin(diff & ((1 << 64) - 1)).count("1")
    assert ham <= 6


def test_color_odd_dims_and_structure():
    from scio_db_spark.functions.jpegcodec import (
        jpeg_decode,
        jpeg_encode_rgb,
    )

    rng = np.random.RandomState(33)
    img = rng.randint(0, 256, (11, 19, 3)).astype(np.uint8)
    blob = jpeg_encode_rgb(img)
    rt = jpeg_decode(blob)
    assert rt.shape == (11, 19, 3)
    assert np.abs(rt.astype(int) - img.astype(int)).max() <= 3
    # SOF declares 3 components; decode_gray refuses color by name
    with pytest.raises(ValueError, match="color"):
        from scio_db_spark.functions.jpegcodec import jpeg_decode_gray

        jpeg_decode_gray(blob)


def test_gray_decodes_via_general_entrypoint():
    from scio_db_spark.functions.jpegcodec import (
        jpeg_decode,
        jpeg_encode_gray,
    )

    img = _const_block_image(2, 3, 4)
    assert np.array_equal(jpeg_decode(jpeg_encode_gray(img)), img)
