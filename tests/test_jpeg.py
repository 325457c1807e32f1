"""Baseline JPEG codec (engine/kernels/jpeg.py decoder +
engine/synth/jpeggen.py fixture encoder): round-trip accuracy within
quantization error, byte-pinned goldens (container AND decoded
pixels — both platform-deterministic by construction), restart
markers, 4:2:0 interleaved MCUs, odd sizes, typed honest-scope
rejections, and total error folding through media_features."""

from __future__ import annotations

import hashlib
import struct

import numpy as np
import pytest

from engine.kernels.jpeg import decode_jpeg_luma, jpeg_meta
from engine.synth.jpeggen import (
    encode_jpeg_gray,
    make_jpeg_gray,
    make_jpeg_ycbcr420,
)


def _gradient(w, h, a=3, b=5, base=10):
    xs = np.arange(w, dtype=np.int64)
    ys = np.arange(h, dtype=np.int64)
    return ((base + a * xs[None, :] + b * ys[:, None]) & 0xFF).astype(
        np.uint8
    )


def test_gray_roundtrip_within_quant_error():
    src = _gradient(32, 24)
    raw = encode_jpeg_gray(src.tobytes(), 32, 24, quality=95)
    assert raw[:3] == b"\xff\xd8\xff" and raw[-2:] == b"\xff\xd9"
    assert jpeg_meta(raw) == (32, 24, 1)
    w, h, px = decode_jpeg_luma(raw)
    dec = np.frombuffer(px, np.uint8).reshape(h, w)
    assert (w, h) == (32, 24)
    assert np.abs(dec.astype(int) - src.astype(int)).max() <= 2


def test_flat_block_roundtrips_exactly():
    """A constant image has only a DC coefficient — quantization
    cannot lose anything, so the round-trip is EXACT at any
    quality."""
    src = np.full((16, 16), 77, dtype=np.uint8)
    for q in (30, 75, 95):
        w, h, px = decode_jpeg_luma(
            encode_jpeg_gray(src.tobytes(), 16, 16, quality=q)
        )
        assert np.frombuffer(px, np.uint8).reshape(16, 16).tolist() == src.tolist()


def test_restart_markers_do_not_change_pixels():
    src = _gradient(32, 24)
    ref = decode_jpeg_luma(
        encode_jpeg_gray(src.tobytes(), 32, 24, quality=95)
    )[2]
    for ri in (1, 2, 7):
        raw = encode_jpeg_gray(
            src.tobytes(), 32, 24, quality=95, restart_interval=ri
        )
        assert b"\xff\xdd" in raw  # DRI present
        assert decode_jpeg_luma(raw)[2] == ref


def test_ycbcr420_interleaved_luma():
    """Color 4:2:0 with restarts: chroma blocks are entropy-decoded
    in the interleaved MCU stream, the returned luma matches the
    encoder's Y plane within quantization error."""
    raw = make_jpeg_ycbcr420(42, 7)
    assert jpeg_meta(raw) == (32, 24, 3)
    w, h, px = decode_jpeg_luma(raw)
    from engine.corpus import _Rng

    base = _Rng(42, 7).next() & 0xFF
    ysrc = _gradient(32, 24, a=2, b=7, base=base)
    dec = np.frombuffer(px, np.uint8).reshape(24, 32)
    assert np.abs(dec.astype(int) - ysrc.astype(int)).max() <= 3


def test_odd_sizes_edge_padding():
    """Non-multiple-of-8 (and of-16 for 4:2:0 MCUs) sizes decode to
    the exact stated dimensions; padding never leaks into pixels."""
    for w, h in ((21, 13), (8, 8), (9, 17), (1, 1)):
        src = ((5 * np.arange(w)[None, :] + 11 * np.arange(h)[:, None]) % 251).astype(np.uint8)
        raw = encode_jpeg_gray(src.tobytes(), w, h, quality=92)
        W, H, px = decode_jpeg_luma(raw)
        assert (W, H) == (w, h) and len(px) == w * h
        dec = np.frombuffer(px, np.uint8).reshape(h, w)
        assert np.abs(dec.astype(int) - src.astype(int)).max() <= 4


def test_deterministic_goldens():
    """Container bytes AND decoded pixels pinned (both are fixed-
    order integer/float64 computations — a platform or refactor
    drift fails here, not in a downstream hash mismatch)."""
    raw = make_jpeg_gray(42, 6)
    assert hashlib.sha256(raw).hexdigest() == (
        "07887144f1f868bde061880195b965836e1b1e98d9e06898eb9f1e91c58c3795"
    )
    px = decode_jpeg_luma(raw)[2]
    assert hashlib.sha256(px).hexdigest() == (
        "24b237e4ded863eeb747e06bebe4a728c25b581c6254de38a846dbbe2c5369b6"
    )
    col = make_jpeg_ycbcr420(42, 7)
    assert hashlib.sha256(col).hexdigest() == (
        "634651189884963b360b66bbbfaf6a6cf62f7c17f3967c5aef4ee3227894b238"
    )
    assert hashlib.sha256(decode_jpeg_luma(col)[2]).hexdigest() == (
        "9fec360c22ca934b26cfeec05154b6cf9342295a3c0415da3a1b04378f8f72a0"
    )


def _seg(marker, payload):
    return struct.pack(">BBH", 0xFF, marker, len(payload) + 2) + payload


def test_typed_rejections():
    sof_body = struct.pack(">BHHB", 8, 8, 8, 1) + bytes([1, 0x11, 0])
    # progressive is SUPPORTED since r5: meta reads the SOF2 header;
    # a frame with no scan data is still a typed decode error
    prog = b"\xff\xd8" + _seg(0xC2, sof_body)
    assert jpeg_meta(prog) == (8, 8, 1)
    with pytest.raises(ValueError, match="jpeg_no_frame_or_scan"):
        decode_jpeg_luma(prog + b"\xff\xd9")
    arith = b"\xff\xd8" + _seg(0xC9, sof_body)
    with pytest.raises(NotImplementedError, match="arithmetic"):
        decode_jpeg_luma(arith)
    with pytest.raises(ValueError, match="not_jpeg"):
        decode_jpeg_luma(b"\x00\x00")
    # truncated entropy stream -> typed ValueError, not an index crash
    good = make_jpeg_gray(42, 2)
    with pytest.raises(ValueError):
        decode_jpeg_luma(good[: len(good) // 2])


def _one_block_jpeg(sof: int, dc_size: int) -> bytes:
    """8x8 gray, one block whose DC category is `dc_size` (1-bit code
    '0') followed by all-ones magnitude bits, then (sequential only)
    an AC EOB. Progressive = a single DC-first scan."""
    sof_body = struct.pack(">BHHB", 8, 8, 8, 1) + bytes([1, 0x11, 0])
    dht = bytes([0x00, 1] + [0] * 15 + [dc_size])
    dht += bytes([0x10, 1] + [0] * 15 + [0x00])
    se = 63 if sof == 0xC0 else 0
    bits = "0" + "1" * dc_size + ("0" if se else "")
    bits += "1" * (-len(bits) % 8)
    data = b""
    for i in range(0, len(bits), 8):
        byte = int(bits[i : i + 8], 2)
        data += bytes([byte, 0x00] if byte == 0xFF else [byte])
    return (
        b"\xff\xd8"
        + _seg(0xDB, bytes([0]) + bytes([1] * 64))
        + _seg(sof, sof_body)
        + _seg(0xC4, dht)
        + _seg(0xDA, bytes([1, 1, 0x00, 0, se, 0]))
        + data
        + b"\xff\xd9"
    )


@pytest.mark.parametrize("sof", [0xC0, 0xC2])
def test_dc_size_above_11_is_rejected(sof):
    """T.81 caps the DC category at 11 for 8-bit samples. A DHT
    carrying a larger DC symbol must be a typed error in both the
    sequential and the progressive DC path — not a read of up to 255
    raw bits whose prediction overflows (and, in the progressive
    int32 coefficient plane, silently wraps)."""
    assert decode_jpeg_luma(_one_block_jpeg(sof, 11))[:2] == (8, 8)
    for size in (12, 32):
        with pytest.raises(ValueError, match="jpeg_bad_dc_size"):
            decode_jpeg_luma(_one_block_jpeg(sof, size))


def test_media_features_jpeg_real_decode():
    from engine.kernels.multimodal import ahash64, media_features

    raw = make_jpeg_gray(42, 8)
    f = media_features(raw)
    assert f["kind"] == "jpeg" and f["decode_status"] == "ok"
    assert (f["width"], f["height"]) == (32, 24)
    w, h, px = decode_jpeg_luma(raw)
    assert f["ahash"] == ahash64(px, w, h) - (1 << 63)
    assert f["px_mean"] == sum(px) // len(px)


def test_dct_basis_orthonormal_and_inverse():
    """Mathematical verification of the codec core INDEPENDENT of the
    encoder: the 8-point DCT basis is orthonormal (A A^T = I) and the
    unquantized transform round-trips arbitrary blocks to 1e-10 — so
    any round-trip error in the fixtures is quantization, not the
    transform."""
    import numpy as np

    from engine.kernels.jpeg import _A

    assert np.abs(_A @ _A.T - np.eye(8)).max() < 1e-12
    rng = np.random.default_rng(20260821)
    for _ in range(20):
        block = rng.uniform(-128, 127, size=(8, 8))
        coeffs = _A @ block @ _A.T       # forward (encoder)
        back = _A.T @ coeffs @ _A        # inverse (decoder)
        assert np.abs(back - block).max() < 1e-10


# --- progressive (SOF2), r5 ---------------------------------------------


def test_progressive_equals_baseline_decode():
    """Progressive coding is lossless over the quantized
    coefficients, so the SOF2 decode must be BYTE-IDENTICAL to
    decoding the baseline encode of the same planes/quality — two
    nearly-disjoint decoder paths (multi-scan successive
    approximation vs single-scan sequential) pinned against each
    other."""
    from engine.synth.jpeggen import (
        make_jpeg_progressive_gray,
        make_jpeg_progressive_ycbcr420,
    )

    for i in range(6):
        assert decode_jpeg_luma(make_jpeg_progressive_gray(42, i)) == (
            decode_jpeg_luma(make_jpeg_gray(42, i))
        )
    # 4:2:0 + restart intervals inside every scan (DC resync +
    # per-band EOBRUN reset + chroma-AC skip)
    for i in range(4):
        assert decode_jpeg_luma(make_jpeg_progressive_ycbcr420(7, i)) == (
            decode_jpeg_luma(make_jpeg_ycbcr420(7, i))
        )


def test_progressive_goldens():
    """Container AND pixel sha256 pins; the pixel hashes EQUAL the
    baseline goldens of test_deterministic_goldens (same quantized
    coefficients, different entropy layout)."""
    from engine.synth.jpeggen import (
        make_jpeg_progressive_gray,
        make_jpeg_progressive_ycbcr420,
    )

    g = make_jpeg_progressive_gray(42, 6)
    assert b"\xff\xc2" in g[:300]  # SOF2 frame
    assert hashlib.sha256(g).hexdigest() == (
        "261b560b0968cab32de1be99f3e39cf89bfdf2d5780c238cfdcb91186dafdf1e"
    )
    assert hashlib.sha256(decode_jpeg_luma(g)[2]).hexdigest() == (
        "24b237e4ded863eeb747e06bebe4a728c25b581c6254de38a846dbbe2c5369b6"
    )
    c = make_jpeg_progressive_ycbcr420(42, 7)
    assert hashlib.sha256(c).hexdigest() == (
        "a6b54b4031dd9040578a69d0e7d40694237eb420a86fe642aa6e0ea537ef1714"
    )
    assert hashlib.sha256(decode_jpeg_luma(c)[2]).hexdigest() == (
        "9fec360c22ca934b26cfeec05154b6cf9342295a3c0415da3a1b04378f8f72a0"
    )


def test_progressive_script_variants():
    """Decoder correctness must not depend on the ONE default scan
    script: spectral-selection-only (no successive approximation),
    finer bands, deeper Al ladders, and single-component DC scans
    all reconstruct the same pixels."""
    from engine.synth.jpeggen import encode_jpeg_progressive

    src = _gradient(29, 18, a=7, b=3, base=40)
    ref = decode_jpeg_luma(
        encode_jpeg_gray(src.tobytes(), 29, 18, quality=90)
    )
    scripts = [
        # spectral selection only, Ah=Al=0 everywhere
        [([0], 0, 0, 0, 0), ([0], 1, 5, 0, 0), ([0], 6, 63, 0, 0)],
        # one AC band, deep successive approximation ladder
        [
            ([0], 0, 0, 0, 3),
            ([0], 0, 0, 1, 2), ([0], 0, 0, 2, 1), ([0], 0, 0, 3, 0),
            ([0], 1, 63, 0, 3),
            ([0], 1, 63, 3, 2), ([0], 1, 63, 2, 1), ([0], 1, 63, 1, 0),
        ],
        # many narrow bands
        [([0], 0, 0, 0, 0)]
        + [([0], k, min(k + 3, 63), 0, 0) for k in range(1, 64, 4)],
    ]
    for script in scripts:
        raw = encode_jpeg_progressive(
            [src], [(1, 1)], quality=90, script=script
        )
        assert decode_jpeg_luma(raw) == ref
    # restart intervals with a script (block-counted in AC scans)
    raw = encode_jpeg_progressive(
        [src], [(1, 1)], quality=90, restart_interval=3,
        script=scripts[1],
    )
    assert decode_jpeg_luma(raw) == ref


def test_progressive_odd_sizes():
    """Non-interleaved scans run the component's OWN block grid
    (T.81 A.2.2, no MCU padding) — odd sizes are where a padded-grid
    bug would desync the entropy stream."""
    from engine.synth.jpeggen import encode_jpeg_progressive

    for w, h in ((21, 13), (8, 8), (9, 17), (1, 1)):
        src = (
            (5 * np.arange(w)[None, :] + 11 * np.arange(h)[:, None]) % 251
        ).astype(np.uint8)
        ref = decode_jpeg_luma(encode_jpeg_gray(src.tobytes(), w, h, 92))
        raw = encode_jpeg_progressive([src], [(1, 1)], quality=92)
        assert decode_jpeg_luma(raw) == ref


def test_progressive_media_features():
    """The multimodal seam treats progressive JPEG as a first-class
    decodable image: same ahash as its baseline twin (identical
    pixels), decode_status ok."""
    from engine.kernels.multimodal import media_features
    from engine.synth.jpeggen import make_jpeg_progressive_gray

    f = media_features(make_jpeg_progressive_gray(42, 8))
    fb = media_features(make_jpeg_gray(42, 8))
    assert f["kind"] == "jpeg" and f["decode_status"] == "ok"
    assert f["ahash"] == fb["ahash"]
    assert (f["width"], f["height"]) == (32, 24)
