"""Bitwise pins for the vectorized luma entropy coder (r17).

encode_gray's per-coefficient Python loop (_encode_block/_BitWriter)
was replaced by _encode_blocks_vec for the standard luma tables; the
color/progressive emitters keep the loop. The vectorized form must be
BIT-IDENTICAL — same symbols, same order, same F.1.2.3 padding and
byte stuffing — across run/ZRL/EOB edge cases and real fixture
pixels. No Spark session needed.
"""

import numpy as np

from mapreduce_go_spark.functions import jpeg as J


def _loop_entropy(px: np.ndarray) -> bytes:
    blocks, _nby, _nbx = J._blocks_of(np.asarray(px, dtype=np.uint8))
    zz = J._quantize(blocks, J.STD_LUMA_Q).reshape(-1, 64)[:, J.ZIGZAG]
    bw = J._BitWriter()
    prev = 0
    for blk in zz:
        prev = J._encode_block(bw, blk, prev, J._DC_ENC, J._AC_ENC)
    return bw.flush()


def _vec_entropy(px: np.ndarray) -> bytes:
    blocks, _nby, _nbx = J._blocks_of(np.asarray(px, dtype=np.uint8))
    zz = J._quantize(blocks, J.STD_LUMA_Q).reshape(-1, 64)[:, J.ZIGZAG]
    return J._encode_blocks_vec(zz)


def test_vectorized_entropy_bit_identical_adversarial():
    rng = np.random.RandomState(7)
    cases = [
        np.zeros((8, 8), np.uint8),            # all-zero: DC size 0 + EOB
        np.full((8, 8), 255, np.uint8),
        np.zeros((1, 1), np.uint8),            # single partial block
        np.full((3, 5), 128, np.uint8),
        (rng.rand(64, 64) * 255).astype(np.uint8),
        (rng.rand(17, 23) * 255).astype(np.uint8),
        # long zero runs between nonzeros -> ZRL chains
        np.kron(rng.randint(0, 2, (4, 4)).astype(np.uint8) * 255,
                np.ones((16, 16), np.uint8)),
        np.eye(48, dtype=np.uint8) * 255,
        # checkerboard: maximal AC energy, last == 63 (no EOB)
        (np.indices((40, 40)).sum(0) % 2 * 255).astype(np.uint8),
    ]
    for i, px in enumerate(cases):
        assert _loop_entropy(px) == _vec_entropy(px), i


def test_vectorized_entropy_bit_identical_fixture_sample(sf_dir):
    import duckdb

    from mapreduce_go_spark.operators.multimodal import _jpeg_gray_pixels

    rows = duckdb.sql(
        "select doc_id, text from "
        f"'{sf_dir}/documents.parquet'").fetchall()
    assert rows
    for d, t in rows:
        px, _w, _h = _jpeg_gray_pixels(int(d), t.encode())
        assert _loop_entropy(px) == _vec_entropy(px), d


def test_encode_gray_roundtrip_recon_still_exact():
    rng = np.random.RandomState(11)
    for px in ((rng.rand(33, 61) * 255).astype(np.uint8),
               np.zeros((8, 8), np.uint8)):
        data, recon = J.encode_gray(px, return_recon=True)
        assert np.array_equal(J.decode_gray(data), recon)


def test_vectorized_entropy_rejects_out_of_range_coefficient():
    """The category LUT covers magnitudes below 2**16; a larger AC
    coefficient or DC difference must fail with a message naming the
    bound, not an IndexError from the lookup."""
    import pytest

    for pos, val in ((5, 70000), (5, -65536), (0, 65536)):
        zz = np.zeros((2, 64), dtype=np.int64)
        zz[1, pos] = val
        with pytest.raises(ValueError, match="16-bit baseline"):
            J._encode_blocks_vec(zz)
