"""Progressive (SOF2) JPEG codec — T.81 Annex G Huffman path.

The driver entry (`multimodal_decode_stats_jpeg_progressive`) gates the
exactly-invertible constant-tile profile against the byte-level oracle;
these tests pin the GENERAL path: on arbitrary images the progressive
stream must reconstruct the SAME pixels as the baseline stream built
from the identical quantized coefficients (both decoders share the
dequantize+IDCT tail, so equality means every scan's entropy coding —
DC successive approximation, AC EOB runs, ZRL-in-refinement,
correction-bit interleaving — round-tripped exactly).
"""

from __future__ import annotations

import numpy as np
import pytest

from near_real_time_data_warehouse_with_hybridjoin_for_retail_analytics_spark.operators import (
    jpeg,
)


def _parity(img: np.ndarray, quant: np.ndarray | None = None) -> None:
    base = jpeg.decode_jpeg(jpeg.encode_jpeg_gray(img, quant=quant))
    prog = jpeg.decode_jpeg(jpeg.encode_jpeg_progressive_gray(img, quant=quant))
    assert np.array_equal(base, prog)


def test_constant_tiles_roundtrip_exact():
    raw = bytes(range(0, 250, 7))
    bw = jpeg.JPEG_BLOCKS_W
    img = jpeg.decode_jpeg_gray(jpeg.encode_jpeg_blocks_progressive(raw))
    bh = -(-len(raw) // bw)
    assert img.shape == (8 * bh, 8 * bw)
    vals = np.zeros(bh * bw, dtype=np.uint8)
    vals[: len(raw)] = np.frombuffer(raw, np.uint8)
    expect = np.repeat(np.repeat(vals.reshape(bh, bw), 8, 0), 8, 1)
    assert np.array_equal(img, expect)


def test_general_image_matches_baseline_unit_quant():
    rng = np.random.default_rng(3)
    _parity(rng.integers(0, 256, (24, 32), dtype=np.uint8))


def test_lossy_quant_matches_baseline():
    rng = np.random.default_rng(5)
    img = rng.integers(0, 256, (32, 40), dtype=np.uint8)
    q = (np.arange(64).reshape(8, 8) // 4 + 1).astype(np.int64) * 8
    _parity(img, q)


def test_eob_runs_span_blocks():
    # mostly-flat image: nearly every block is all-EOB in the AC bands,
    # driving multi-block EOBRUN accumulation and its extra-bits coding
    flat = np.full((80, 80), 200, np.uint8)
    flat[40, 40] = 10
    _parity(flat, np.full((8, 8), 16, np.int64))


def test_sparse_impulses_exercise_zrl_refinement():
    # isolated impulses: long zero runs inside blocks → ZRL symbols in
    # both first and refinement AC scans, with correction bits crossing
    img = np.full((32, 48), 128, np.uint8)
    img[::7, ::11] = 255
    _parity(img)
    _parity(img, np.full((8, 8), 16, np.int64))


def test_negative_dc_chain():
    rng = np.random.default_rng(9)
    _parity(rng.integers(0, 30, (16, 16), dtype=np.uint8))  # dark → DC<0


def test_fuzz_parity_random_images_and_tables():
    rng = np.random.default_rng(17)
    for _ in range(25):
        h, w = 8 * int(rng.integers(1, 5)), 8 * int(rng.integers(1, 5))
        img = rng.integers(0, 256, (h, w), dtype=np.uint8)
        q = np.maximum(
            rng.integers(0, 3, (8, 8)) * rng.integers(1, 30), 1
        ).astype(np.int64)
        _parity(img, q)


def test_rejects_out_of_scope_streams():
    good = jpeg.encode_jpeg_progressive_gray(
        np.full((8, 8), 7, np.uint8)
    )
    # baseline full-band scan header under SOF2 is invalid
    base = jpeg.encode_jpeg_blocks(b"ab")
    with pytest.raises(ValueError):
        jpeg.decode_jpeg(base.replace(b"\xff\xc0", b"\xff\xc2", 1))
    # multi-component progressive is out of scope
    sof_at = good.find(b"\xff\xc2")
    ncomp_at = sof_at + 9  # marker(2) + len(2) + depth(1) + h(2) + w(2)
    bad = good[:ncomp_at] + b"\x03" + good[ncomp_at + 1 :]
    with pytest.raises(NotImplementedError):
        jpeg.decode_jpeg(bad)


def test_arbitrary_scan_scripts_match_baseline():
    """The decoder is general over conforming Annex G scan scripts —
    multi-band splits, deeper successive approximation, and a
    no-approximation single AC scan all reconstruct the baseline
    pixels."""
    rng = np.random.default_rng(29)
    img = rng.integers(0, 256, (24, 24), dtype=np.uint8)
    q = (np.arange(64).reshape(8, 8) // 8 + 1).astype(np.int64) * 4
    base = jpeg.decode_jpeg(jpeg.encode_jpeg_gray(img, quant=q))
    scripts = [
        # three AC bands, Al=1 everywhere, then refinements
        [
            (0, 0, 0, 1), (1, 2, 0, 1), (3, 10, 0, 1), (11, 63, 0, 1),
            (0, 0, 1, 0), (1, 2, 1, 0), (3, 10, 1, 0), (11, 63, 1, 0),
        ],
        # deep successive approximation: Al 2 → 1 → 0
        [
            (0, 0, 0, 2), (1, 63, 0, 2),
            (0, 0, 2, 1), (1, 63, 2, 1),
            (0, 0, 1, 0), (1, 63, 1, 0),
        ],
        # no approximation at all: one DC scan + one full AC band scan
        [(0, 0, 0, 0), (1, 63, 0, 0)],
    ]
    for scans in scripts:
        got = jpeg.decode_jpeg(
            jpeg.encode_jpeg_progressive_gray(img, quant=q, scans=scans)
        )
        assert np.array_equal(got, base), scans
    with pytest.raises(ValueError):
        jpeg.encode_jpeg_progressive_gray(img, quant=q, scans=[(0, 63, 0, 0)])
    with pytest.raises(ValueError):
        jpeg.encode_jpeg_progressive_gray(img, quant=q, scans=[(0, 0, 2, 0)])


def test_truncated_scan_raises_instead_of_decoding_padding():
    """Every strict prefix of every scan's entropy data (re-stuffed, with
    the rest of the stream intact) either raises ValueError or decodes
    to exactly the full image — a short scan never yields phantom
    symbols read from past its end."""
    img = np.full((16, 24), 128, np.uint8)
    img[::5, ::3] = 255
    img[3:9, 10:20] = 40
    payload = jpeg.encode_jpeg_progressive_gray(img, np.full((8, 8), 4, np.int64))
    full = jpeg.decode_jpeg(payload)
    scans, pos = [], payload.index(b"\xff\xda")
    while pos >= 0:
        start = pos + 2 + int.from_bytes(payload[pos + 2 : pos + 4], "big")
        end = jpeg._scan_end(payload, start)
        scans.append((start, end))
        pos = payload.find(b"\xff\xda", end)
    assert len(scans) > 3
    raised = 0
    for start, end in scans:
        data = payload[start:end].replace(b"\xff\x00", b"\xff")
        for k in range(len(data)):
            cut = data[:k].replace(b"\xff", b"\xff\x00")
            try:
                got = jpeg.decode_jpeg(payload[:start] + cut + payload[end:])
            except ValueError:
                raised += 1
                continue
            assert np.array_equal(got, full), (start, k)
    assert raised > 0
