"""JPEG codec (ITU-T T.81, baseline + progressive) — spec vectors
and round trips.

The encoder and decoder are independent code paths (forward DCT +
canonical code assignment vs Huffman decode + inverse DCT), so a
round trip pins both; the hand-assembled bitstream vectors below pin
the decoder against the spec DIRECTLY (magnitude categories, EXTEND,
EOB/ZRL, byte stuffing, restart markers) so a shared convention
mistake cannot cancel out.
"""

import math

import numpy as np
import pytest

from ocr_spark.textlib import jpegcodec as jc
from ocr_spark.textlib.imagecodec import ImageFormatError

FLAT1 = np.ones((8, 8), np.int32)
FLAT8 = np.full((8, 8), 8, np.int32)


def _gray_headers(w, h, quant=FLAT8, dri=None):
    """SOI..SOS headers for a single-component frame using the Annex K
    luma Huffman tables — assembled by hand, not by the encoder."""
    out = bytearray(b"\xff\xd8")
    body = bytes([0]) + bytes(int(quant[r, c]) for r, c in jc.ZIGZAG)
    out += b"\xff\xdb" + (len(body) + 2).to_bytes(2, "big") + body
    if dri is not None:
        out += b"\xff\xdd\x00\x04" + dri.to_bytes(2, "big")
    sof = bytes([8]) + h.to_bytes(2, "big") + w.to_bytes(2, "big") \
        + bytes([1, 1, 0x11, 0])
    out += b"\xff\xc0" + (len(sof) + 2).to_bytes(2, "big") + sof
    for tc, (bits, vals) in ((0, jc.HUFF_DC_LUMA), (1, jc.HUFF_AC_LUMA)):
        body = bytes([tc << 4]) + bytes(bits) + bytes(vals)
        out += b"\xff\xc4" + (len(body) + 2).to_bytes(2, "big") + body
    sos = bytes([1, 1, 0x00, 0, 63, 0])
    out += b"\xff\xda" + (len(sos) + 2).to_bytes(2, "big") + sos
    return out


class _Bits:
    def __init__(self):
        self.bits = []

    def put(self, code, n):
        self.bits += [(code >> i) & 1 for i in range(n - 1, -1, -1)]

    def bytes_(self):
        bits = self.bits + [1] * (-len(self.bits) % 8)
        out = bytearray()
        for i in range(0, len(bits), 8):
            b = int("".join(map(str, bits[i:i + 8])), 2)
            out.append(b)
            if b == 0xFF:
                out.append(0x00)
        return bytes(out)


def _dc_lum_code(ssss):
    return jc._build_encode_table(*jc.HUFF_DC_LUMA)[ssss]


def _ac_lum_code(rs):
    return jc._build_encode_table(*jc.HUFF_AC_LUMA)[rs]


def _put_dc(bw, diff):
    ssss = abs(diff).bit_length()
    code, n = _dc_lum_code(ssss)
    bw.put(code, n)
    if ssss:
        bw.put(diff if diff > 0 else diff + (1 << ssss) - 1, ssss)


def _put_eob(bw):
    code, n = _ac_lum_code(0x00)
    bw.put(code, n)


class TestDecoderSpecVectors:
    def test_dc_only_block_is_flat(self):
        # F(0,0)=v dequantized by 8 -> every sample v + 128 exactly
        # (IDCT of a DC-only block is constant F(0,0)/8, A.3.3).
        for v in (-128, -37, 0, 41, 127):
            bw = _Bits()
            _put_dc(bw, v)
            _put_eob(bw)
            data = _gray_headers(8, 8) + bw.bytes_() + b"\xff\xd9"
            out = jc.decode_jpeg(bytes(data))
            assert out.shape == (8, 8)
            assert np.all(out == v + 128), v

    def test_differential_dc_across_blocks(self):
        # two blocks: DC values 50 then 30 -> second diff is -20
        bw = _Bits()
        _put_dc(bw, 50)
        _put_eob(bw)
        _put_dc(bw, -20)
        _put_eob(bw)
        data = _gray_headers(16, 8) + bw.bytes_() + b"\xff\xd9"
        out = jc.decode_jpeg(bytes(data))
        assert np.all(out[:, :8] == 178) and np.all(out[:, 8:] == 158)

    def test_single_ac_coefficient_matches_cosine_formula(self):
        # DC=0, one AC at zigzag position 1 = (u=1, v=0 horizontal):
        # f(y, x) = (1/4) C(1) a q cos((2x+1) pi / 16) — computed here
        # from the literal A.3.3 formula, independent of the codec's
        # basis-matrix implementation.
        a = 5
        bw = _Bits()
        _put_dc(bw, 0)
        ssss = a.bit_length()             # a=5 -> category 3
        code, n = _ac_lum_code((0 << 4) | ssss)
        bw.put(code, n)
        bw.put(a, ssss)
        _put_eob(bw)
        data = _gray_headers(8, 8) + bw.bytes_() + b"\xff\xd9"
        out = jc.decode_jpeg(bytes(data))
        # A.3.3 with F(u=0, v=1): f(x, y) = (1/4) C(0) C(1) F
        # cos((2y+1) pi/16) — flat down rows, cosine across columns.
        deq = a * 8
        want = np.zeros((8, 8))
        for y in range(8):
            want[:, y] = 0.25 * (1 / math.sqrt(2)) * deq \
                * math.cos((2 * y + 1) * math.pi / 16)
        want = np.clip(np.round(want + 128), 0, 255).astype(np.uint8)
        assert np.array_equal(out, want)

    def test_zrl_long_zero_run(self):
        # DC 10, then 16 zeros (ZRL), then coefficient 3 at zigzag 17
        bw = _Bits()
        _put_dc(bw, 10)
        code, n = _ac_lum_code(0xF0)
        bw.put(code, n)
        ssss = (3).bit_length()
        code, n = _ac_lum_code((0 << 4) | ssss)
        bw.put(code, n)
        bw.put(3, ssss)
        _put_eob(bw)
        data = _gray_headers(8, 8) + bw.bytes_() + b"\xff\xd9"
        out = jc.decode_jpeg(bytes(data))
        # replay through the codec's own IDCT of the expected
        # coefficient layout (zigzag 17 -> a fixed (row, col))
        coef = np.zeros((8, 8))
        coef[jc.ZIGZAG[0]] = 10 * 8
        coef[jc.ZIGZAG[17]] = 3 * 8
        want = np.clip(np.round(jc.idct2(coef) + 128), 0, 255)
        assert np.array_equal(out, want.astype(np.uint8))

    def test_byte_stuffing_ff00(self):
        # DC category 8 with all-ones magnitude bits forces 0xFF bytes
        # into the entropy stream, which must be stuffed as FF 00 and
        # read back as literal FF. Value 255 -> category 8, bits
        # 11111111.
        bw = _Bits()
        _put_dc(bw, 255 - 128)  # keep in range: 127 -> category 7
        _put_eob(bw)
        raw = bw.bytes_()
        data = _gray_headers(8, 8) + raw + b"\xff\xd9"
        out = jc.decode_jpeg(bytes(data))
        assert np.all(out == 255)

    def test_restart_markers_reset_dc_pred(self):
        # DRI=1: each block is its own restart interval; after RST the
        # DC predictor resets to 0, so each block's diff IS its value.
        bw1, bw2 = _Bits(), _Bits()
        _put_dc(bw1, 40)
        _put_eob(bw1)
        _put_dc(bw2, 60)        # absolute again, NOT 40+60
        _put_eob(bw2)
        data = _gray_headers(16, 8, dri=1) + bw1.bytes_() \
            + b"\xff\xd0" + bw2.bytes_() + b"\xff\xd9"
        out = jc.decode_jpeg(bytes(data))
        assert np.all(out[:, :8] == 168) and np.all(out[:, 8:] == 188)

    def test_truncated_entropy_data_raises(self):
        bw = _Bits()
        _put_dc(bw, 50)
        _put_eob(bw)
        data = _gray_headers(16, 8) + bw.bytes_() + b"\xff\xd9"
        with pytest.raises(ImageFormatError):
            jc.decode_jpeg(bytes(data))   # second block missing

    def test_arithmetic_coding_rejected(self):
        data = bytearray(_gray_headers(8, 8))
        i = bytes(data).find(b"\xff\xc0")
        data[i + 1] = 0xC9     # SOF9: extended sequential, arithmetic
        with pytest.raises(ImageFormatError, match="arithmetic"):
            jc.decode_jpeg(bytes(data))

    def test_not_a_jpeg(self):
        with pytest.raises(ImageFormatError):
            jc.decode_jpeg(b"\x89PNG\r\n\x1a\nnope")

    def test_invalid_huffman_code_raises(self):
        # all-zero bits after SOS: the DC table has no 2-bit code 00
        # only via... feed bytes that cannot resolve within 16 bits
        data = _gray_headers(8, 8) + b"\xff\xd9"
        with pytest.raises(ImageFormatError):
            jc.decode_jpeg(bytes(data))


class TestRoundTrips:
    def test_gray_constant_blocks_exact(self):
        rng = np.random.default_rng(3)
        img = np.repeat(np.repeat(
            rng.integers(10, 246, (3, 5), dtype=np.uint8), 8, 0), 8, 1)
        data = jc.encode_jpeg_baseline(img, quant_luma=FLAT8)
        assert np.array_equal(jc.decode_jpeg(data), img)

    def test_gray_random_flat1_within_one(self):
        rng = np.random.default_rng(4)
        img = rng.integers(0, 256, (24, 33), dtype=np.uint8)
        out = jc.decode_jpeg(jc.encode_jpeg_baseline(
            img, quant_luma=FLAT1))
        assert out.shape == img.shape
        assert np.abs(out.astype(int) - img.astype(int)).max() <= 1

    def test_color_420_annexk_plausible(self):
        rng = np.random.default_rng(5)
        img = rng.integers(0, 256, (35, 41, 3), dtype=np.uint8)
        out = jc.decode_jpeg(jc.encode_jpeg_baseline(img))
        assert out.shape == img.shape and out.dtype == np.uint8

    def test_color_smooth_annexk_close(self):
        # smooth gradient survives Annex K quantization closely
        yy, xx = np.mgrid[0:32, 0:32]
        img = np.dstack([(yy * 4).astype(np.uint8),
                         (xx * 4).astype(np.uint8),
                         ((yy + xx) * 2).astype(np.uint8)])
        out = jc.decode_jpeg(jc.encode_jpeg_baseline(img))
        assert np.abs(out.astype(int) - img.astype(int)).mean() < 12

    def test_color_11_ycbcr_flat1_matches_direct_convert(self):
        rng = np.random.default_rng(6)
        ycc = rng.integers(16, 240, (16, 24, 3), dtype=np.uint8)
        out = jc.decode_jpeg(jc.encode_jpeg_baseline(
            ycc, subsample=(1, 1), quant_luma=FLAT1, quant_chroma=FLAT1,
            colorspace="ycbcr"))
        ref = jc.ycbcr_to_rgb(ycc)
        assert np.abs(out.astype(int) - ref.astype(int)).max() <= 3

    def test_noninterleaved_first_scan_rejected(self):
        """A baseline frame of 3 components whose first scan carries
        only one (a multi-scan, non-interleaved file) is rejected, not
        decoded from that scan alone."""
        rng = np.random.default_rng(9)
        img = rng.integers(0, 256, (16, 16, 3), dtype=np.uint8)
        data = jc.encode_jpeg_baseline(img)
        sos = data.index(b"\xff\xda")
        ls = int.from_bytes(data[sos + 2:sos + 4], "big")
        assert data[sos + 4] == 3
        # Keep the first component's selector and Ss/Se/AhAl: Ns=1,
        # Ls = 6 + 2*Ns.
        first = data[sos + 5:sos + 7]
        tail = data[sos + 2 + ls - 3:sos + 2 + ls]
        patched = (data[:sos] + b"\xff\xda\x00\x08\x01" + first + tail
                   + data[sos + 2 + ls:])
        with pytest.raises(ImageFormatError,
                           match="scan/frame component count mismatch"):
            jc.decode_jpeg(patched)

    def test_nonmultiple_of_mcu_dimensions(self):
        rng = np.random.default_rng(8)
        img = rng.integers(0, 256, (17, 19, 3), dtype=np.uint8)
        out = jc.decode_jpeg(jc.encode_jpeg_baseline(img))
        assert out.shape == (17, 19, 3)

    def test_pil_cross_check_if_available(self):
        PIL = pytest.importorskip("PIL.Image")
        import io
        rng = np.random.default_rng(9)
        img = np.repeat(np.repeat(
            rng.integers(10, 246, (2, 3), dtype=np.uint8), 8, 0), 8, 1)
        data = jc.encode_jpeg_baseline(img, quant_luma=FLAT1)
        ref = np.asarray(PIL.open(io.BytesIO(data)).convert("L"))
        got = jc.decode_jpeg(data)
        assert np.abs(got.astype(int) - ref.astype(int)).max() <= 1


class TestOperatorIntegration:
    def test_decode_image_dispatches_jpeg(self):
        from ocr_spark.operators.multimodal import decode_image
        img = np.full((8, 8), 100, np.uint8)
        data = jc.encode_jpeg_baseline(img, quant_luma=FLAT8)
        assert data.startswith(b"\xff\xd8\xff")
        assert np.array_equal(decode_image(data), img)

    def test_pixel_features_from_jpeg(self):
        from ocr_spark.textlib.imagecodec import pixel_features
        from ocr_spark.operators.multimodal import decode_image
        img = np.repeat(np.repeat(
            np.array([[40, 200]], np.uint8), 8, 0), 8, 1)
        feats = pixel_features(decode_image(
            jc.encode_jpeg_baseline(img, quant_luma=FLAT8)))
        assert feats[0] == 8.0 and feats[1] == 16.0
        assert abs(feats[3] - 120 / 255) < 1e-12  # mean of 40/200


class TestProgressive:
    """SOF2 (Annex G): the progressive encoder emits the SAME
    quantized coefficients as the baseline encoder through a scan
    script, so decode(progressive) must equal decode(baseline)
    EXACTLY — any slip in EOB-run accounting, refinement-bit order,
    point transforms, or scan geometry breaks the equality."""

    def _pair(self, img, scans=None, **kw):
        b = jc.decode_jpeg(jc.encode_jpeg_baseline(img, **kw))
        extra = {"scans": scans} if scans else {}
        p = jc.decode_jpeg(jc.encode_jpeg_progressive(img, **kw, **extra))
        return b, p

    def test_gray_default_script_exact(self):
        rng = np.random.default_rng(11)
        img = rng.integers(0, 256, (24, 33), dtype=np.uint8)
        b, p = self._pair(img, quant_luma=FLAT1)
        assert np.array_equal(b, p)

    def test_color_420_annexk_exact(self):
        rng = np.random.default_rng(12)
        img = rng.integers(0, 256, (35, 41, 3), dtype=np.uint8)
        b, p = self._pair(img)
        assert np.array_equal(b, p)

    def test_color_11_exact(self):
        rng = np.random.default_rng(13)
        img = rng.integers(0, 256, (16, 24, 3), dtype=np.uint8)
        b, p = self._pair(img, subsample=(1, 1))
        assert np.array_equal(b, p)

    def test_spectral_only_script(self):
        rng = np.random.default_rng(14)
        img = rng.integers(0, 256, (33, 47, 3), dtype=np.uint8)
        b, p = self._pair(img, scans=(
            ("all", 0, 0, 0, 0), ("each", 1, 63, 0, 0)))
        assert np.array_equal(b, p)

    def test_narrow_bands_script(self):
        rng = np.random.default_rng(15)
        img = rng.integers(0, 256, (33, 47, 3), dtype=np.uint8)
        b, p = self._pair(img, scans=(
            ("all", 0, 0, 0, 0), ("each", 1, 2, 0, 0),
            ("each", 3, 9, 0, 0), ("each", 10, 35, 0, 0),
            ("each", 36, 63, 0, 0)))
        assert np.array_equal(b, p)

    def test_deep_successive_approximation(self):
        rng = np.random.default_rng(16)
        img = rng.integers(0, 256, (33, 47, 3), dtype=np.uint8)
        b, p = self._pair(img, scans=(
            ("all", 0, 0, 0, 3), ("all", 0, 0, 3, 2),
            ("all", 0, 0, 2, 1), ("all", 0, 0, 1, 0),
            ("each", 1, 63, 0, 3), ("each", 1, 63, 3, 2),
            ("each", 1, 63, 2, 1), ("each", 1, 63, 1, 0)))
        assert np.array_equal(b, p)

    def test_constant_and_gradient_images(self):
        # long EOB runs (flat) and dense coefficients (gradient)
        yy, xx = np.mgrid[0:40, 0:56]
        grad = ((yy * 3 + xx * 2) % 256).astype(np.uint8)
        for img in (np.zeros((40, 56), np.uint8),
                    np.full((40, 56), 255, np.uint8), grad):
            b, p = self._pair(img, quant_luma=FLAT1)
            assert np.array_equal(b, p)

    def test_fuzz_shapes_and_content(self):
        fails = []
        for seed in range(12):
            rng = np.random.default_rng(100 + seed)
            h, w = int(rng.integers(8, 70)), int(rng.integers(8, 70))
            shape = (h, w, 3) if seed % 2 else (h, w)
            img = rng.integers(0, 256, shape, dtype=np.uint8)
            sub = (1, 1) if seed % 3 == 0 else (2, 2)
            b, p = self._pair(img, subsample=sub)
            if not np.array_equal(b, p):
                fails.append(seed)
        assert fails == []

    def test_dispatches_through_decode_image(self):
        from ocr_spark.operators.multimodal import decode_image
        img = np.full((16, 16), 100, np.uint8)
        data = jc.encode_jpeg_progressive(img, quant_luma=FLAT8)
        assert data[3] == 0xE0 and b"\xff\xc2" in data   # SOF2 stream
        assert np.array_equal(decode_image(data), img)

    def test_pil_cross_check_if_available(self):
        PIL = pytest.importorskip("PIL.Image")
        import io
        rng = np.random.default_rng(17)
        img = np.repeat(np.repeat(
            rng.integers(10, 246, (2, 3), dtype=np.uint8), 8, 0), 8, 1)
        data = jc.encode_jpeg_progressive(img, quant_luma=FLAT1)
        ref = np.asarray(PIL.open(io.BytesIO(data)).convert("L"))
        got = jc.decode_jpeg(data)
        assert np.abs(got.astype(int) - ref.astype(int)).max() <= 1
