"""Unit tests for the LLM-data operators: multimodal plumbing, similarity
search (LSH vs brute force), fuzzy dedup, text analysis."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType, IntegerType, LongType, StringType, StructField, StructType,
)

from spaceparts_data_pipeline_spark.operators import dedup_fuzzy, multimodal, similarity, text

#: soak tier (r16 verdict #2): excluded from the default
#: driver-facing run (see pytest.ini); run with -m soak / -m ""
pytestmark = pytest.mark.soak


def _fake_jpeg_decoder(payload, media_type):
    """Module-level (picklable) injected decoder for the codec seam
    tests: 'decodes' any payload starting with the JPEG SOI marker to a
    deterministic 2x3 RGB ramp; returns None for everything else."""
    import numpy as np

    if payload is not None and payload[:2] == b"\xff\xd8":
        return np.arange(2 * 3 * 3, dtype=np.uint8).reshape(2, 3, 3)
    return None


@pytest.fixture(scope="module")
def assets(spark):
    rows = [
        (1, "image", b"\x89PNG fake bytes", 64, 64, None),
        (2, "audio", b"RIFF fake wav", None, None, 2500),
        (3, "video", b"\x00\x00ftyp fake mp4", 640, 480, 3500),
        (4, "image", None, None, None, None),
    ]
    return spark.createDataFrame(rows, multimodal.ASSET_SCHEMA)


class TestMultimodal:
    def test_extract_features(self, spark, assets):
        out = {r["asset_id"]: r for r in multimodal.extract_features(assets).collect()}
        assert out[1]["n_bytes"] == len(b"\x89PNG fake bytes")
        assert out[1]["decoded"] == "decode:image:15"
        assert out[4]["n_bytes"] == 0 and out[4]["decoded"] == "decode:empty"
        assert out[2]["feature_hash"] > 0
        # deterministic across runs
        again = {r["asset_id"]: r["feature_hash"] for r in multimodal.extract_features(assets).collect()}
        assert again == {k: v["feature_hash"] for k, v in out.items()}

    def test_real_decode_boundary(self):
        # non-PNG image bytes and non-image media stay behind the
        # honest NotImplementedError
        with pytest.raises(NotImplementedError):
            multimodal.real_decode(b"\xff\xd8\xff jpegish", "image")
        with pytest.raises(NotImplementedError):
            multimodal.real_decode(b"RIFF....WAVE", "audio")

    @staticmethod
    def _encode_png(img, color_type=2, filters=None):
        """Minimal test-side PNG encoder applying the REQUESTED filter
        per scanline (forward transform per RFC 2083 §6), so decode_png's
        unfilters are checked against an independent implementation."""
        import struct
        import zlib

        import numpy as np

        h, w, ch = img.shape
        flat = img.reshape(h, w * ch).astype(np.int32)
        bpp = ch
        filters = filters if filters is not None else [0] * h
        raw = bytearray()
        prev = np.zeros(w * ch, dtype=np.int32)
        for y in range(h):
            cur, f = flat[y], filters[y]
            enc = cur.copy()
            if f == 1:
                enc[bpp:] = (cur[bpp:] - cur[:-bpp]) & 0xFF
            elif f == 2:
                enc = (cur - prev) & 0xFF
            elif f == 3:
                for x in range(len(cur)):
                    a = cur[x - bpp] if x >= bpp else 0
                    enc[x] = (cur[x] - ((a + prev[x]) >> 1)) & 0xFF
            elif f == 4:
                for x in range(len(cur)):
                    a = int(cur[x - bpp]) if x >= bpp else 0
                    b = int(prev[x])
                    c = int(prev[x - bpp]) if x >= bpp else 0
                    p = a + b - c
                    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                    pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                    enc[x] = (cur[x] - pred) & 0xFF
            raw += bytes([f]) + bytes(enc.astype(np.uint8))
            prev = cur

        def chunk(typ, data):
            return (struct.pack(">I", len(data)) + typ + data
                    + struct.pack(">I", zlib.crc32(typ + data)))

        ihdr = struct.pack(">IIBBBBB", w, h, 8, color_type, 0, 0, 0)
        return (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
                + chunk(b"IDAT", zlib.compress(bytes(raw))) + chunk(b"IEND", b""))

    def test_decode_png_all_filters_roundtrip(self):
        """Round-9 verdict #5: decode_png inverts every scanline filter
        (None/Sub/Up/Average/Paeth) on an image written by the test's
        own independent encoder."""
        import numpy as np

        rng = np.random.default_rng(7)
        img = rng.integers(0, 256, size=(5, 6, 3), dtype=np.uint8)
        png = self._encode_png(img, color_type=2, filters=[0, 1, 2, 3, 4])
        out = multimodal.decode_png(png)
        assert out is not None and out.shape == (5, 6, 3)
        assert np.array_equal(out, img)
        # and through the real_decode boundary
        assert np.array_equal(multimodal.real_decode(png, "image"), img)

    def test_decode_png_rejects_bit_flip_and_truncation(self):
        """Round-10 ADVICE: chunk CRCs are verified, so a bit-flipped
        IDAT that still inflates cleanly returns None instead of
        silently decoding wrong pixels; a truncated trailing chunk is
        rejected explicitly at the chunk walk, not via a downstream
        zlib error."""
        import numpy as np

        rng = np.random.default_rng(3)
        img = rng.integers(0, 256, size=(4, 4, 3), dtype=np.uint8)
        png = bytearray(self._encode_png(img, color_type=2))
        assert multimodal.decode_png(bytes(png)) is not None
        # flip one bit inside the IDAT data (past the 8-byte magic +
        # 25-byte IHDR chunk + 8-byte IDAT header)
        flipped = bytearray(png)
        flipped[8 + 25 + 8 + 5] ^= 0x01
        assert multimodal.decode_png(bytes(flipped)) is None
        # truncate mid-IDAT (drop IEND's 12 bytes plus the IDAT tail):
        # the declared chunk length runs past the payload end
        assert multimodal.decode_png(bytes(png[: len(png) - 20])) is None

    def test_decode_png_color_types(self):
        import numpy as np

        rng = np.random.default_rng(11)
        # RGBA: alpha dropped
        rgba = rng.integers(0, 256, size=(3, 4, 4), dtype=np.uint8)
        out = multimodal.decode_png(
            self._encode_png(rgba, color_type=6, filters=[0, 2, 1]))
        assert np.array_equal(out, rgba[:, :, :3])
        # grayscale: replicated to RGB
        gray = rng.integers(0, 256, size=(3, 4, 1), dtype=np.uint8)
        out = multimodal.decode_png(
            self._encode_png(gray, color_type=0, filters=[0, 4, 3]))
        assert np.array_equal(out, np.repeat(gray, 3, axis=2))
        # corrupt payloads return None; a palette PNG MISSING its PLTE
        # chunk is malformed → None (palette itself decodes since r12,
        # see test_decode_png_extended_subtypes)
        assert multimodal.decode_png(b"not a png") is None
        import struct
        import zlib

        def chunk(typ, data):
            return (struct.pack(">I", len(data)) + typ + data
                    + struct.pack(">I", zlib.crc32(typ + data)))
        no_plte = (b"\x89PNG\r\n\x1a\n"
                   + chunk(b"IHDR", struct.pack(">IIBBBBB", 2, 2, 8, 3, 0, 0, 0))
                   + chunk(b"IDAT", zlib.compress(b"\x00\x01\x02")))
        assert multimodal.decode_png(no_plte) is None
        # spec-INVALID combination (palette at depth 16): malformed → None
        bad_combo = (b"\x89PNG\r\n\x1a\n"
                     + chunk(b"IHDR", struct.pack(">IIBBBBB", 2, 2, 16, 3, 0, 0, 0))
                     + chunk(b"PLTE", bytes(6))
                     + chunk(b"IDAT", zlib.compress(b"\x00\x01\x02")))
        assert multimodal.decode_png(bad_combo) is None

    @staticmethod
    def _encode_png_ext(samples, color_type, bit_depth, plte=None,
                        interlace=0, filters=(0,)):
        """Independent test-side encoder for the extended PNG space:
        sub-byte packing (MSB-first), 16-bit big-endian samples, PLTE,
        and Adam7 pass extraction — the forward transforms decode_png
        must invert. ``samples``: (h, w) for gray/palette, (h, w, ch)
        otherwise; uint16 when bit_depth is 16."""
        import struct
        import zlib

        import numpy as np

        if samples.ndim == 2:
            h, w = samples.shape
            ch = 1
        else:
            h, w, ch = samples.shape
        bpp = max(1, ch * bit_depth // 8)
        adam7 = [(0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
                 (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2)]

        def pack_pass(sub):
            ph, pw = sub.shape[0], sub.shape[1]
            if bit_depth < 8:
                rows = []
                for y in range(ph):
                    bits = []
                    for v in sub[y].reshape(-1):
                        for b in range(bit_depth - 1, -1, -1):
                            bits.append((int(v) >> b) & 1)
                    while len(bits) % 8:
                        bits.append(0)
                    rows.append(np.packbits(np.array(bits, dtype=np.uint8)))
                rowbytes = np.stack(rows)
            elif bit_depth == 16:
                rowbytes = (sub.reshape(ph, pw * ch).astype(">u2")
                            .view(np.uint8).reshape(ph, pw * ch * 2))
            else:
                rowbytes = sub.reshape(ph, pw * ch).astype(np.uint8)
            stride = rowbytes.shape[1]
            out = bytearray()
            prev = np.zeros(stride, dtype=np.int32)
            for y in range(ph):
                f = filters[y % len(filters)]
                cur = rowbytes[y].astype(np.int32)
                enc = cur.copy()
                if f == 1:
                    enc[bpp:] = (cur[bpp:] - cur[:-bpp]) & 0xFF
                elif f == 2:
                    enc = (cur - prev) & 0xFF
                elif f == 3:
                    for x in range(stride):
                        a = cur[x - bpp] if x >= bpp else 0
                        enc[x] = (cur[x] - ((a + prev[x]) >> 1)) & 0xFF
                elif f == 4:
                    for x in range(stride):
                        a = int(cur[x - bpp]) if x >= bpp else 0
                        b = int(prev[x])
                        c = int(prev[x - bpp]) if x >= bpp else 0
                        p = a + b - c
                        pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                        pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                        enc[x] = (cur[x] - pred) & 0xFF
                out += bytes([f]) + bytes(enc.astype(np.uint8))
                prev = cur
            return bytes(out)

        raw = bytearray()
        for x0, y0, dx, dy in (adam7 if interlace else [(0, 0, 1, 1)]):
            sub = samples[y0::dy, x0::dx]
            if sub.shape[0] and sub.shape[1]:
                raw += pack_pass(sub)

        def chunk(typ, data):
            return (struct.pack(">I", len(data)) + typ + data
                    + struct.pack(">I", zlib.crc32(typ + data)))

        ihdr = struct.pack(">IIBBBBB", w, h, bit_depth, color_type, 0, 0,
                           interlace)
        body = chunk(b"IHDR", ihdr)
        if plte is not None:
            body += chunk(b"PLTE", bytes(np.asarray(plte, np.uint8).reshape(-1)))
        return (b"\x89PNG\r\n\x1a\n" + body
                + chunk(b"IDAT", zlib.compress(bytes(raw))) + chunk(b"IEND", b""))

    def test_decode_png_extended_subtypes(self):
        """r12: the PNG half of the codec boundary closed — palette
        (1/2/4/8-bit), sub-byte grayscale, and 16-bit samples all
        decode against the independent test encoder."""
        import numpy as np

        rng = np.random.default_rng(19)
        # palette 8-bit, filters incl. Paeth on the index bytes
        plte = rng.integers(0, 256, size=(16, 3), dtype=np.uint8)
        idx8 = rng.integers(0, 16, size=(5, 7), dtype=np.uint8)
        out = multimodal.decode_png(self._encode_png_ext(
            idx8, color_type=3, bit_depth=8, plte=plte, filters=(0, 4, 1, 2)))
        assert np.array_equal(out, plte[idx8])
        # palette 4-bit and 2-bit (sub-byte index unpack, odd width)
        for d in (4, 2):
            idx = rng.integers(0, 1 << d, size=(4, 5), dtype=np.uint8)
            out = multimodal.decode_png(self._encode_png_ext(
                idx, color_type=3, bit_depth=d, plte=plte))
            assert np.array_equal(out, plte[idx]), d
        # 1-bit grayscale scales to {0, 255}
        bw = rng.integers(0, 2, size=(3, 10), dtype=np.uint8)
        out = multimodal.decode_png(self._encode_png_ext(
            bw, color_type=0, bit_depth=1))
        assert np.array_equal(out, np.repeat((bw * 255)[:, :, None], 3, axis=2))
        # 4-bit grayscale scales by 17 (255 // 15)
        g4 = rng.integers(0, 16, size=(3, 3), dtype=np.uint8)
        out = multimodal.decode_png(self._encode_png_ext(
            g4, color_type=0, bit_depth=4))
        assert np.array_equal(out, np.repeat((g4 * 17)[:, :, None], 3, axis=2))
        # 16-bit RGB narrows to the high byte
        rgb16 = rng.integers(0, 1 << 16, size=(4, 3, 3), dtype=np.uint16)
        out = multimodal.decode_png(self._encode_png_ext(
            rgb16, color_type=2, bit_depth=16, filters=(2, 0, 1)))
        assert np.array_equal(out, (rgb16 >> 8).astype(np.uint8))
        # 16-bit gray+alpha: gray high byte replicated
        ga16 = rng.integers(0, 1 << 16, size=(3, 4, 2), dtype=np.uint16)
        out = multimodal.decode_png(self._encode_png_ext(
            ga16, color_type=4, bit_depth=16))
        assert np.array_equal(
            out, np.repeat((ga16[:, :, :1] >> 8).astype(np.uint8), 3, axis=2))

    def test_decode_png_adam7_interlace(self):
        """r12: Adam7 — per-pass unfilter state (each sub-image's
        filters reference ITS OWN previous row, not the neighbor
        scanline) and the scatter back into the output grid, on
        dimensions that exercise empty and 1-pixel passes."""
        import numpy as np

        rng = np.random.default_rng(23)
        for shape in ((9, 11, 3), (3, 5, 3), (1, 1, 3), (16, 8, 3)):
            img = rng.integers(0, 256, size=shape, dtype=np.uint8)
            png = self._encode_png_ext(
                img, color_type=2, bit_depth=8, interlace=1,
                filters=(0, 4, 2, 1, 3))
            out = multimodal.decode_png(png)
            assert np.array_equal(out, img), shape
        # interlaced palette at 4 bits: both extensions composed
        plte = rng.integers(0, 256, size=(16, 3), dtype=np.uint8)
        idx = rng.integers(0, 16, size=(10, 6), dtype=np.uint8)
        out = multimodal.decode_png(self._encode_png_ext(
            idx, color_type=3, bit_depth=4, plte=plte, interlace=1))
        assert np.array_equal(out, plte[idx])

    def test_decode_png_assets_feeds_resize(self, spark):
        """The decode stage produces exactly what resize_images consumes:
        PNG payload → raw RGB + true dims → nearest-neighbor resize —
        the image pipeline end to end on a real PNG written by the test."""
        import numpy as np

        img = np.zeros((2, 2, 3), dtype=np.uint8)
        img[0, 0] = (255, 0, 0)
        img[0, 1] = (0, 255, 0)
        img[1, 0] = (0, 0, 255)
        img[1, 1] = (255, 255, 255)
        png = self._encode_png(img, color_type=2, filters=[1, 4])
        rows = [(1, "image", bytearray(png), None, None, None),
                (2, "image", bytearray(b"garbage"), None, None, None),
                (3, "image", None, None, None, None)]
        assets = spark.createDataFrame(rows, multimodal.ASSET_SCHEMA)
        decoded = multimodal.decode_png_assets(assets)
        got = {r["asset_id"]: r for r in decoded.collect()}
        assert bytes(got[1]["payload"]) == img.tobytes()
        assert (got[1]["meta_width"], got[1]["meta_height"]) == (2, 2)
        assert got[2]["payload"] is None and got[3]["payload"] is None

        resized = multimodal.resize_images(
            decoded.withColumn("media_type", F.lit("image")), out_w=4, out_h=4)
        r1 = {r["asset_id"]: r for r in resized.collect()}[1]
        top = bytes(img[0, 0]) * 2 + bytes(img[0, 1]) * 2
        bot = bytes(img[1, 0]) * 2 + bytes(img[1, 1]) * 2
        assert bytes(r1["payload"]) == top * 2 + bot * 2

    def test_extract_features_real_png_pixels(self, spark):
        """Round-10 verdict #5: extract_features routes image payloads
        through decode_png — per-channel means and Rec.601 luminance
        equal numpy ground truth on a test-encoded PNG; non-decodable
        payloads keep the fake token with NULL pixel features."""
        import numpy as np

        rng = np.random.default_rng(23)
        img = rng.integers(0, 256, size=(6, 5, 3), dtype=np.uint8)
        png = self._encode_png(img, color_type=2, filters=[0, 1, 2, 3, 4, 2])
        rows = [(1, "image", bytearray(png), None, None, None),
                (2, "image", b"\xff\xd8 jpeg-ish", None, None, None),
                (3, "audio", b"RIFF fake", None, None, 1000)]
        out = {r["asset_id"]: r for r in multimodal.extract_features(
            spark.createDataFrame(rows, multimodal.ASSET_SCHEMA)).collect()}
        want = img.reshape(-1, 3).mean(axis=0)
        assert out[1]["decoded"] == "png:5x6"
        assert abs(out[1]["mean_r"] - want[0]) < 1e-9
        assert abs(out[1]["mean_g"] - want[1]) < 1e-9
        assert abs(out[1]["mean_b"] - want[2]) < 1e-9
        assert abs(out[1]["luma_mean"]
                   - (0.299 * want[0] + 0.587 * want[1] + 0.114 * want[2])) < 1e-9
        assert out[2]["decoded"].startswith("decode:image:") and out[2]["mean_r"] is None
        assert out[3]["decoded"].startswith("decode:audio:") and out[3]["luma_mean"] is None

    def test_injected_decoder_seam_end_to_end(self, spark):
        """Round-10 verdict #6: a codec-equipped deployment injects a
        decoder at the real_decode boundary and JPEG flows through
        decode_png_assets into resize_images with zero Spark-side
        changes; PNGs still take the built-in path, undecodable
        payloads still null out."""
        import numpy as np

        png_img = np.full((2, 2, 3), 9, dtype=np.uint8)
        rows = [(1, "image", b"\xff\xd8 jpeg payload", None, None, None),
                (2, "image", bytearray(self._encode_png(png_img)), None, None, None),
                (3, "image", b"neither format", None, None, None)]
        assets = spark.createDataFrame(rows, multimodal.ASSET_SCHEMA)
        decoded = multimodal.decode_png_assets(assets, decoder=_fake_jpeg_decoder)
        got = {r["asset_id"]: r for r in decoded.collect()}
        jpeg_img = _fake_jpeg_decoder(b"\xff\xd8", "image")
        assert bytes(got[1]["payload"]) == jpeg_img.tobytes()
        assert (got[1]["meta_width"], got[1]["meta_height"]) == (3, 2)
        assert bytes(got[2]["payload"]) == png_img.tobytes()
        assert got[3]["payload"] is None
        # and on through resize: the seam's output is resize's input
        resized = {r["asset_id"]: r for r in multimodal.resize_images(
            decoded, out_w=6, out_h=4).collect()}
        want = jpeg_img[(np.arange(4) * 2) // 4][:, (np.arange(6) * 3) // 6]
        assert bytes(resized[1]["payload"]) == want.tobytes()
        assert resized[3]["payload"] is None
        # direct boundary check: injected decoder fires only past the
        # codec-free path; returning None still raises
        out = multimodal.real_decode(b"\xff\xd8 x", "image", _fake_jpeg_decoder)
        assert np.array_equal(out, jpeg_img)
        with pytest.raises(NotImplementedError):
            multimodal.real_decode(b"neither", "image", _fake_jpeg_decoder)

    def test_decode_jpeg_roundtrip_matrix(self):
        """Codec-free baseline JPEG decoder vs the independent
        test-side encoder (standard Annex K tables, separate forward-
        DCT implementation): bounded reconstruction error across
        grayscale/color, all three samplings, odd dimensions, and
        restart intervals; DC-only images recover exactly."""
        import numpy as np

        from spaceparts_data_pipeline_spark.operators.jpeg import decode_jpeg
        from tests.jpeg_ref_encoder import encode_jpeg

        flat = np.full((16, 16), 100, dtype=np.uint8)
        out = decode_jpeg(encode_jpeg(flat))
        assert out.shape == (16, 16, 3) and np.abs(out.astype(int) - 100).max() == 0

        h, w = 37, 53                       # off-MCU-grid dims: pad + crop
        yy, xx = np.mgrid[0:h, 0:w]
        img = np.stack([(xx * 5) % 256, (yy * 7) % 256,
                        ((xx + yy) * 3) % 256], axis=2).astype(np.uint8)
        for sub, dri, bound in (("444", 0, 6), ("422", 0, 8), ("420", 0, 9),
                                ("420", 2, 9), ("422", 3, 8)):
            out = decode_jpeg(encode_jpeg(img, sub, restart_interval=dri))
            assert out is not None and out.shape == img.shape, (sub, dri)
            err = np.abs(out.astype(int) - img.astype(int)).mean()
            assert err < bound, (sub, dri, err)

    def test_decode_jpeg_near_lossless_property(self):
        """Property over random images: at near-unit quantization
        (quality_scale=0.05 → quant tables ≈ 1) reconstruction error is
        bounded by DCT/color-convert rounding alone (measured worst 10;
        asserted ≤16). A huffman/IDCT/zigzag defect produces gross
        errors (≫50), so this catches structural decoder bugs on
        arbitrary content where the fixed-fixture tests might not."""
        import numpy as np

        from spaceparts_data_pipeline_spark.operators.jpeg import decode_jpeg
        from tests.jpeg_ref_encoder import encode_jpeg

        rng = np.random.default_rng(9)
        for _ in range(4):
            h, w = (int(x) for x in rng.integers(8, 40, 2))
            img = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
            out = decode_jpeg(encode_jpeg(img, "444", quality_scale=0.05))
            assert out is not None and out.shape == img.shape
            assert np.abs(out.astype(int) - img.astype(int)).max() <= 16
            g = rng.integers(0, 256, size=(h, w), dtype=np.uint8)
            outg = decode_jpeg(encode_jpeg(g, quality_scale=0.05))
            assert np.abs(outg[:, :, 0].astype(int) - g.astype(int)).max() <= 16

    def test_decode_jpeg_fill_bytes_and_gray_sampling(self):
        """T.81 edge cases (ADVICE r10): (a) any number of 0xFF fill
        bytes may pad before a marker (B.1.1.2) — a padded file decodes
        identically; (b) a single-component scan is NON-interleaved
        regardless of the SOF's declared sampling factors (A.2.2) — a
        grayscale JPEG declaring 2x2 sampling decodes to the same
        pixels as the 1x1 original."""
        import numpy as np

        from spaceparts_data_pipeline_spark.operators.jpeg import decode_jpeg
        from tests.jpeg_ref_encoder import encode_jpeg

        rng = np.random.default_rng(21)
        img = rng.integers(0, 256, size=(17, 13, 3), dtype=np.uint8)
        jp = encode_jpeg(img, "444")
        base = decode_jpeg(jp)
        padded = jp[:2] + b"\xff\xff" + jp[2:]        # fill before DQT
        i = jp.find(b"\xff\xda")
        padded2 = jp[:i] + b"\xff\xff\xff" + jp[i:]   # fill before SOS
        assert np.array_equal(decode_jpeg(padded), base)
        assert np.array_equal(decode_jpeg(padded2), base)

        g = rng.integers(0, 256, size=(19, 11), dtype=np.uint8)
        jg = encode_jpeg(g, quality_scale=0.05)
        i = jg.find(b"\xff\xc0")
        assert jg[i + 11] == 0x11                     # comp sampling byte
        patched = bytearray(jg)
        patched[i + 11] = 0x22                        # declare 2x2
        out = decode_jpeg(bytes(patched))
        assert out is not None and np.array_equal(out, decode_jpeg(jg))

    def test_decode_jpeg_rejection_and_subset(self):
        """Non-JPEG and truncated payloads return None; progressive
        marker raises NotImplementedError (the codec-boundary policy)."""
        import numpy as np
        import pytest as _pytest

        from spaceparts_data_pipeline_spark.operators.jpeg import decode_jpeg
        from tests.jpeg_ref_encoder import encode_jpeg

        img = np.full((8, 8, 3), 50, dtype=np.uint8)
        jp = encode_jpeg(img)
        assert decode_jpeg(b"not a jpeg") is None
        assert decode_jpeg(jp[: len(jp) // 2]) is None
        prog = bytearray(jp)
        i = prog.find(b"\xff\xc0")
        prog[i + 1] = 0xC2
        with _pytest.raises(NotImplementedError):
            decode_jpeg(bytes(prog))

    def test_jpeg_through_image_pipeline(self, spark):
        """JPEG payloads flow through the SAME Spark stages as PNG with
        no injected decoder: decode_png_assets (which routes via
        real_decode) → resize_images, and extract_features emits real
        pixel features with a jpeg:<w>x<h> token."""
        import numpy as np

        from tests.jpeg_ref_encoder import encode_jpeg

        img = np.zeros((16, 16, 3), dtype=np.uint8)
        img[:8] = (200, 40, 40)
        img[8:] = (40, 40, 200)
        jp = encode_jpeg(img, "444")
        rows = [(1, "image", bytearray(jp), None, None, None)]
        assets = spark.createDataFrame(rows, multimodal.ASSET_SCHEMA)
        decoded = multimodal.decode_png_assets(assets).collect()[0]
        assert (decoded["meta_width"], decoded["meta_height"]) == (16, 16)
        raw = np.frombuffer(bytes(decoded["payload"]), dtype=np.uint8).reshape(16, 16, 3)
        assert np.abs(raw.astype(int) - img.astype(int)).mean() < 6
        resized = multimodal.resize_images(
            multimodal.decode_png_assets(assets), out_w=8, out_h=8).collect()[0]
        assert (resized["meta_width"], resized["meta_height"]) == (8, 8)
        feats = multimodal.extract_features(assets).collect()[0]
        assert feats["decoded"] == "jpeg:16x16"
        want = img.reshape(-1, 3).mean(axis=0)
        assert abs(feats["mean_r"] - want[0]) < 4
        assert abs(feats["mean_b"] - want[2]) < 4

    @staticmethod
    def _encode_wav(samples, rate=16000):
        """Independent test-side WAV encoder: the stdlib `wave` module,
        so decode_wav is checked against a reference implementation —
        and PCM16 round-trips LOSSLESSLY, so equality is exact."""
        import io
        import wave

        buf = io.BytesIO()
        with wave.open(buf, "wb") as w:
            w.setnchannels(samples.shape[1])
            w.setsampwidth(2)
            w.setframerate(rate)
            w.writeframes(samples.astype("<i2").tobytes())
        return buf.getvalue()

    def test_decode_wav_roundtrip_and_boundary(self):
        """decode_wav inverts the stdlib wave encoder exactly (PCM16 is
        lossless), rejects corrupt/truncated payloads, and keeps
        non-PCM16 subsets behind NotImplementedError."""
        import numpy as np

        rng = np.random.default_rng(5)
        stereo = rng.integers(-32768, 32768, size=(500, 2), dtype=np.int16)
        wav = self._encode_wav(stereo, rate=8000)
        samples, rate = multimodal.decode_wav(wav)
        assert rate == 8000 and np.array_equal(samples, stereo)
        # and through the real_decode boundary (audio returns samples)
        assert np.array_equal(multimodal.real_decode(wav, "audio"), stereo)
        assert multimodal.decode_wav(b"not riff") is None
        assert multimodal.decode_wav(wav[:30]) is None   # truncated chunk
        # compressed format codes stay behind the boundary (ADPCM = 2)
        adpcm = bytearray(wav)
        fmt_off = wav.index(b"fmt ") + 8
        adpcm[fmt_off:fmt_off + 2] = (2).to_bytes(2, "little")
        with pytest.raises(NotImplementedError):
            multimodal.decode_wav(bytes(adpcm))

    @staticmethod
    def _raw_wav(fmt_code, bits, channels, rate, data, fmt_extra=b""):
        """Hand-built RIFF/WAVE container (stdlib wave only writes PCM)."""
        fmt = (fmt_code.to_bytes(2, "little") + channels.to_bytes(2, "little")
               + rate.to_bytes(4, "little")
               + (rate * channels * bits // 8).to_bytes(4, "little")
               + (channels * bits // 8).to_bytes(2, "little")
               + bits.to_bytes(2, "little") + fmt_extra)
        body = (b"fmt " + len(fmt).to_bytes(4, "little") + fmt
                + (b"\x00" if len(fmt) % 2 else b"")
                + b"data" + len(data).to_bytes(4, "little") + data)
        return b"RIFF" + (4 + len(body)).to_bytes(4, "little") + b"WAVE" + body

    def test_decode_wav_extended_formats(self):
        """r12: the audio half of the codec boundary closed for every
        UNCOMPRESSED sample format — PCM 8/24/32 and IEEE float narrow
        to the top 16 bits, EXTENSIBLE wrappers resolve to their
        SubFormat code."""
        import numpy as np

        # PCM8: unsigned, centered at 128 — stdlib wave writes it too
        import io
        import wave as wv
        buf = io.BytesIO()
        with wv.open(buf, "wb") as w:
            w.setnchannels(1); w.setsampwidth(1); w.setframerate(8000)
            w.writeframes(bytes([0, 128, 255, 200]))
        samples, rate = multimodal.decode_wav(buf.getvalue())
        assert rate == 8000
        assert samples.ravel().tolist() == [-32768, 0, 32512, 18432]
        # PCM24: little-endian signed, top 16 bits kept
        vals24 = [0x000000, 0x7FFFFF, 0x800000, 0xABCDEF]  # raw 3-byte LE
        data24 = b"".join(v.to_bytes(3, "little") for v in vals24)
        samples, rate = multimodal.decode_wav(self._raw_wav(1, 24, 1, 44100, data24))
        want = []
        for v in vals24:
            s = v - (1 << 24) if v & 0x800000 else v
            want.append(s >> 8)
        assert samples.ravel().tolist() == want and rate == 44100
        # PCM32 stereo
        s32 = np.array([[1 << 30, -(1 << 30)], [0, 123 << 16]], dtype="<i4")
        samples, _ = multimodal.decode_wav(self._raw_wav(1, 32, 2, 16000, s32.tobytes()))
        assert np.array_equal(samples, (s32.astype(np.int64) >> 16).astype(np.int16))
        # IEEE float32, clipped and scaled
        f32 = np.array([0.0, 1.0, -1.0, 0.5, 2.0], dtype="<f4")
        samples, _ = multimodal.decode_wav(self._raw_wav(3, 32, 1, 22050, f32.tobytes()))
        assert samples.ravel().tolist() == [0, 32767, -32767, 16384, 32767]
        # WAVE_FORMAT_EXTENSIBLE wrapping PCM16
        sig = np.array([100, -100, 32000], dtype="<i2")
        extra = (22).to_bytes(2, "little") + (16).to_bytes(2, "little") \
            + (0).to_bytes(4, "little") + (1).to_bytes(2, "little") + bytes(14)
        ext = self._raw_wav(0xFFFE, 16, 1, 8000, sig.tobytes(), fmt_extra=extra)
        samples, _ = multimodal.decode_wav(ext)
        assert samples.ravel().tolist() == sig.tolist()

    def test_decode_wav_assets_feeds_rms(self, spark):
        """The WAV decode stage produces exactly what audio_rms_windows
        consumes: WAV payload → mono PCM16 + rate/duration → window RMS
        — the audio pipeline end to end on a real WAV written by the
        stdlib encoder."""
        import numpy as np

        t = np.arange(2048)
        mono = (10000 * np.sin(2 * np.pi * t / 64)).astype(np.int16).reshape(-1, 1)
        stereo = np.hstack([mono, mono])          # mean-mix == mono
        rows = [(1, "audio", bytearray(self._encode_wav(stereo)), None, None, None),
                (2, "audio", b"garbage", None, None, None)]
        assets = spark.createDataFrame(rows, multimodal.ASSET_SCHEMA)
        decoded = multimodal.decode_wav_assets(assets)
        got = {r["asset_id"]: r for r in decoded.collect()}
        assert bytes(got[1]["payload"]) == mono.reshape(-1).astype("<i2").tobytes()
        assert got[1]["sample_rate"] == 16000
        assert got[1]["meta_duration_ms"] == 2048 * 1000 // 16000
        assert got[2]["payload"] is None
        rms = multimodal.audio_rms_windows(decoded, window_samples=1024)
        out = [r for r in rms.collect() if r["asset_id"] == 1]
        want = np.sqrt((mono.reshape(2, 1024).astype(np.float64) ** 2).mean(axis=1))
        assert len(out) == 2
        for r in out:
            assert abs(r["rms"] - want[r["window_idx"]]) < 1e-9

    def test_frame_sample_plan(self, spark, assets):
        plan = multimodal.frame_sample_plan(assets, every_ms=1000).collect()
        assert [(r["asset_id"], r["frame_idx"], r["frame_ts_ms"]) for r in plan] == \
            [(3, 0, 0), (3, 1, 1000), (3, 2, 2000)]

    def test_resize_raw_rgb(self, spark):
        # 2x2 image: R G / B W — upscale 2x2→4x4 nearest-neighbor
        px = {"R": b"\xff\x00\x00", "G": b"\x00\xff\x00",
              "B": b"\x00\x00\xff", "W": b"\xff\xff\xff"}
        img = px["R"] + px["G"] + px["B"] + px["W"]
        rows = [(1, "image", img, 2, 2, None),
                (2, "image", b"\x00" * 5, 2, 2, None),      # malformed size
                (3, "image", None, None, None, None)]
        assets = spark.createDataFrame(rows, multimodal.ASSET_SCHEMA)
        out = {r["asset_id"]: r for r in
               multimodal.resize_images(assets, out_w=4, out_h=4).collect()}
        got = bytes(out[1]["payload"])
        assert (out[1]["meta_width"], out[1]["meta_height"]) == (4, 4)
        # each source pixel becomes a 2x2 block
        top = (px["R"] * 2 + px["G"] * 2)
        bot = (px["B"] * 2 + px["W"] * 2)
        assert got == top * 2 + bot * 2
        assert out[2]["payload"] is None and out[3]["payload"] is None
        # identity property: resize to own size returns the same bytes
        same = multimodal.resize_images(
            spark.createDataFrame([rows[0]], multimodal.ASSET_SCHEMA), 2, 2).collect()[0]
        assert bytes(same["payload"]) == img

    def test_audio_rms_windows(self, spark):
        import numpy as np

        # two full windows of constant amplitude 1000 and 2000 + partial tail
        pcm = np.concatenate([
            np.full(4, 1000, dtype="<i2"), np.full(4, 2000, dtype="<i2"),
            np.full(3, 9999, dtype="<i2"),
        ]).tobytes()
        rows = [(1, "audio", pcm, None, None, None),
                (2, "audio", b"\x01", None, None, None)]    # sub-sample payload
        assets = spark.createDataFrame(rows, multimodal.ASSET_SCHEMA)
        out = multimodal.audio_rms_windows(assets, window_samples=4).collect()
        got = {(r["asset_id"], r["window_idx"]): r["rms"] for r in out}
        assert set(got) == {(1, 0), (1, 1)}                  # tail dropped, id 2 skipped
        assert got[(1, 0)] == pytest.approx(1000.0)
        assert got[(1, 1)] == pytest.approx(2000.0)


class TestSimilarity:
    def test_lsh_pairs_subset_of_bruteforce(self, spark, sf_small):
        e = spark.read.parquet(f"{sf_small}/embeddings.parquet")
        exact = {(r["id_a"], r["id_b"]) for r in
                 similarity.similar_pairs_bruteforce(e, threshold=0.3).collect()}
        approx = {(r["id_a"], r["id_b"]) for r in
                  similarity.similar_pairs_lsh(e, n_planes=6, threshold=0.3).collect()}
        assert approx <= exact            # no false positives (cosine verified)
        if exact:
            assert len(approx) > 0        # nonzero recall on this data

    def test_lsh_banding_recall_floor(self, spark, sf_small):
        """OR-construction banding must hold a recall floor vs the exact
        pairs (deterministic hashes ⇒ exact repeatable recall), and must
        beat a single band by a wide margin. The pinned profile
        (similarity.HIGH_RECALL_LSH, exposed as the e03b query) is 4
        planes × 16 bands — raised from 12 after the 8× scale harness
        showed 12 bands' 1×-fixture 0.91 was one lucky plane draw
        (0.866 averaged over 8 effective draws; see --recall-e03b).
        The floor is asserted at THRESHOLD-level similarity, the regime
        where the self-sized default retains only ~0.2."""
        e = spark.read.parquet(f"{sf_small}/embeddings.parquet")
        exact = {(r["id_a"], r["id_b"]) for r in
                 similarity.similar_pairs_bruteforce(e, threshold=0.35).collect()}
        assert exact
        banded = {(r["id_a"], r["id_b"]) for r in
                  similarity.similar_pairs_lsh(
                      e, threshold=0.35, **similarity.HIGH_RECALL_LSH).collect()}
        single = {(r["id_a"], r["id_b"]) for r in
                  similarity.similar_pairs_lsh(e, n_planes=4, n_bands=1, threshold=0.35).collect()}
        recall = len(banded & exact) / len(exact)
        assert recall >= 0.9
        assert recall > len(single & exact) / len(exact) + 0.3

    def test_det_lsh_subset_and_recall(self, spark, sf_small):
        """e03c (deterministic Rademacher-plane LSH, the FULL-oracle
        family member): exact-fold verification means no false
        positives, and the 4×16 banding must hold the same ≥0.9 recall
        floor as the float-plane high-recall profile — Rademacher sign
        projections share the Gaussian angular collision law
        (Achlioptas 2001), so the geometry is not weakened by making
        it oracle-replayable."""
        e = spark.read.parquet(f"{sf_small}/embeddings.parquet")
        exact = {(r["id_a"], r["id_b"]) for r in
                 similarity.similar_pairs_bruteforce(e, threshold=0.35).collect()}
        assert exact
        det = {(r["id_a"], r["id_b"]) for r in
               similarity.similar_pairs_lsh_det(
                   e, n_planes=4, n_bands=16, threshold=0.35).collect()}
        assert det <= exact               # verified: zero false positives
        assert len(det & exact) / len(exact) >= 0.9

    def test_det_lsh_signatures_are_run_stable(self, spark, sf_small):
        """Two runs (fresh plans, fresh kernels) produce the identical
        pair set AND identical rounded cosines — the property the FULL
        oracle rests on (int64 signatures cannot drift)."""
        e = spark.read.parquet(f"{sf_small}/embeddings.parquet")
        r1 = {(r["id_a"], r["id_b"], r["cosine_sim"]) for r in
              similarity.similar_pairs_lsh_det(e).collect()}
        r2 = {(r["id_a"], r["id_b"], r["cosine_sim"]) for r in
              similarity.similar_pairs_lsh_det(e).collect()}
        assert r1 == r2 and r1

    def test_incremental_semdedup_screen_and_no_false_rejection(self, spark, sf_small):
        """d26 (r12 — the embedding member of the incremental-screen
        family): (a) a later batch's near-copy of a STORED vector is
        rejected while novel vectors are admitted; (b) nothing is
        rejected without a verified cosine>=threshold witness (no false
        rejections — every screen decision is exact-verified); (c) the
        store table is append-only reusable across runs."""
        import numpy as np

        e = spark.read.parquet(f"{sf_small}/embeddings.parquet")
        b1 = e.filter("vec_id < 250")
        adm1, store1 = similarity.incremental_semdedup(b1, None)
        # every admitted row is in the store table, ids match
        a1 = {r["vec_id"] for r in adm1.collect()}
        s1 = {r["vec_id"] for r in store1.collect()}
        assert a1 == s1 and a1
        # batch 2: exact copies of two stored vectors under new ids,
        # plus one orthogonal novel vector
        stored = {r["vec_id"]: list(r["embedding"]) for r in b1.collect()}
        keep2 = sorted(a1)[:2]
        novel = [0.0] * 64
        novel[0], novel[1] = 7.0, -3.0
        rows = [(9001, [float(x) for x in stored[keep2[0]]]),
                (9002, [float(x) for x in stored[keep2[1]]]),
                (9003, novel)]
        b2 = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
        adm2, _ = similarity.incremental_semdedup(b2, store1)
        a2 = {r["vec_id"] for r in adm2.collect()}
        assert 9001 not in a2 and 9002 not in a2     # exact copies screened
        # 9003 admitted unless the corpus genuinely contains a
        # >=threshold neighbor of it (verify against brute force)
        if 9003 not in a2:
            sims = [np.dot(novel, v) / (np.linalg.norm(novel) * np.linalg.norm(v))
                    for v in stored.values()]
            assert max(sims) >= 0.35
        # (b) full-batch property on real data: every round-2 rejection
        # has a verified witness among stored vectors or lower-id batch
        b2r = e.filter("vec_id >= 250 and vec_id < 350")
        adm2r, _ = similarity.incremental_semdedup(b2r, store1)
        admitted = {r["vec_id"] for r in adm2r.collect()}
        rejected = {r["vec_id"] for r in b2r.collect()} - admitted
        embs = {r["vec_id"]: np.asarray(r["embedding"], dtype=np.float64)
                for r in e.filter("vec_id < 350").collect()}
        for rid in rejected:
            v = embs[rid]
            witnesses = [w for w, u in embs.items()
                         if (w in s1 or (250 <= w < rid))
                         and np.dot(v, u) / (np.linalg.norm(v) * np.linalg.norm(u)) >= 0.35]
            assert witnesses, rid

    def test_semdedup_store_backend_parity(self, spark, sf_small, tmp_path):
        """r13 (VERDICT r12 next-round #2): the path-backed vector store
        must make screen decisions equal to screening against the
        in-memory store frame, and compaction must change nothing."""
        from spaceparts_data_pipeline_spark.operators import dedup

        e = spark.read.parquet(f"{sf_small}/embeddings.parquet")
        b1 = e.filter("vec_id % 2 = 0")
        b2 = e.filter("vec_id % 2 = 1")
        _, rows1 = similarity.incremental_semdedup(b1, None)
        adm_ref, _ = similarity.incremental_semdedup(b2, rows1)
        ref = sorted(r["vec_id"] for r in adm_ref.select("vec_id").collect())

        path = str(tmp_path / "sem_store")
        rows1.write.mode("append").parquet(path)
        adm_p, _ = similarity.incremental_semdedup(b2, dedup.read_store(spark, path))
        assert sorted(r["vec_id"] for r in adm_p.select("vec_id").collect()) == ref

        # duplicate append + forced compaction: decisions invariant
        rows1.write.mode("append").parquet(path)
        assert dedup.maybe_compact_store(spark, path, 0)
        st3 = dedup.read_store(spark, path)
        adm3, _ = similarity.incremental_semdedup(b2, st3)
        assert sorted(r["vec_id"] for r in adm3.select("vec_id").collect()) == ref
        # the post-compaction store is duplicate-free
        assert st3.count() == rows1.count()
        # never-created store reads as None (empty screen), not an error
        assert dedup.read_store(spark, str(tmp_path / "nope")) is None

    def test_semdedup_screen_recall_planted(self, spark, sf_small):
        """VERDICT r12 next-round #6: the store screen's recall named
        in user-facing terms — on PLANTED cross-batch duplicates
        (exact copies and small perturbations that stay >= threshold
        cosine against a stored vector), the screen must reject >= 0.9
        of them at the default 4x16 banding profile, and every exact
        copy unconditionally (identical vectors share every band
        signature). The miss rate is the banding miss rate — the same
        bound e03c's recall floor pins for within-batch pairs."""
        import numpy as np

        e = spark.read.parquet(f"{sf_small}/embeddings.parquet")
        b1 = e.filter("vec_id < 300")
        _, store1 = similarity.incremental_semdedup(b1, None)
        stored = {r["vec_id"]: np.asarray(r["embedding"], dtype=np.float64)
                  for r in store1.collect()}
        rng = np.random.RandomState(7)
        rows, planted = [], []
        base_ids = sorted(stored)[:40]
        for i, sid in enumerate(base_ids):
            v = stored[sid]
            if i % 2 == 0:
                dup = v.copy()                       # exact copy
            else:
                dup = v + rng.normal(0, 0.02 * np.linalg.norm(v) /
                                     np.sqrt(64), 64)
                cos = float(np.dot(dup, v) /
                            (np.linalg.norm(dup) * np.linalg.norm(v)))
                if cos < 0.35:
                    continue
            rows.append((10_000 + i, [float(x) for x in dup]))
            planted.append((10_000 + i, i % 2 == 0))
        b2 = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        adm2, _ = similarity.incremental_semdedup(b2, store1)
        admitted = {r["vec_id"] for r in adm2.collect()}
        exact_ids = [pid for pid, is_exact in planted if is_exact]
        assert not (set(exact_ids) & admitted)       # exact copies: recall 1.0
        caught = sum(1 for pid, _ in planted if pid not in admitted)
        recall = caught / len(planted)
        assert recall >= 0.9, f"screen recall {recall:.3f} on {len(planted)} planted"

    def test_e03b_registered_variant_matches_profile(self, spark, sf_small):
        """The registered e03b query IS the pinned profile: same pair
        set as calling the operator with HIGH_RECALL_LSH directly."""
        from spaceparts_data_pipeline_spark.queries import all_queries

        e = spark.read.parquet(f"{sf_small}/embeddings.parquet")
        direct = {(r["id_a"], r["id_b"]) for r in
                  similarity.similar_pairs_lsh(
                      e, threshold=0.35, **similarity.HIGH_RECALL_LSH).collect()}
        via_query = {(r["id_a"], r["id_b"]) for r in
                     all_queries()["e03b_similar_pairs_lsh_recall"](spark, sf_small).collect()}
        assert via_query == direct and direct

    def test_knn_self_excluded_and_ranked(self, spark, sf_small):
        e = spark.read.parquet(f"{sf_small}/embeddings.parquet")
        q = e.filter(F.col("vec_id") < 3)
        out = similarity.knn_bruteforce(e, q, k=5).collect()
        by_q = {}
        for r in out:
            assert r["neighbor_id"] != r["query_id"]
            by_q.setdefault(r["query_id"], []).append((r["knn_rank"], r["cosine_sim"]))
        for sims in by_q.values():
            ranks = [r for r, _ in sorted(sims)]
            vals = [v for _, v in sorted(sims)]
            assert ranks == [1, 2, 3, 4, 5]
            assert vals == sorted(vals, reverse=True)

    def test_embedding_near_dup_planted(self, spark):
        """A planted identical-embedding pair dedups to the lower id; the
        orthogonal vector survives; decision layer works with the LSH
        generator too."""
        vecs = [
            (10, [1.0] * 8),
            (20, [1.0] * 8),                       # exact dup of 10
            (30, [1.0, -1.0] * 4),                 # orthogonal to both
        ]
        embs = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")
        docs = embs.selectExpr("vec_id as doc_id")
        out = {r["doc_id"]: (r["dup_of"], r["is_dup"])
               for r in similarity.embedding_near_dup(docs, embs, threshold=0.9).collect()}
        assert out == {10: (None, False), 20: (10, True), 30: (None, False)}
        lsh_pairs = similarity.similar_pairs_lsh(embs, dim=8, n_planes=4, threshold=0.9)
        out_lsh = {r["doc_id"]: r["is_dup"]
                   for r in similarity.embedding_near_dup(
                       docs, embs, threshold=0.9, pairs=lsh_pairs).collect()}
        assert out_lsh[10] is False and out_lsh[20] is True

    def test_semdedup_planted_clusters(self, spark):
        """Two planted clusters, each with a near-identical pair: the
        lower id survives per cluster, the loners survive, and no doc
        deduplicates against the OTHER cluster (cell blocking)."""
        a, b = [1.0] * 8, [1.0, -1.0] * 4
        eps = lambda v, d: [x + (d if i == 0 else 0.0)  # noqa: E731
                            for i, x in enumerate(v)]
        vecs = [(10, a), (11, eps(a, 0.01)), (12, eps(a, 3.0)),
                (20, b), (21, eps(b, 0.01)), (22, eps(b, 3.0))]
        embs = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")
        docs = embs.selectExpr("vec_id as doc_id")
        out = {r["doc_id"]: (r["dup_of"], r["is_dup"])
               for r in similarity.semdedup(
                   docs, embs, threshold=0.99, n_centroids=2,
                   kmeans_iters=1).collect()}
        assert out[10] == (None, False) and out[11] == (10, True)
        assert out[20] == (None, False) and out[21] == (20, True)
        assert out[12][1] is False and out[22][1] is False

    def test_semdedup_is_subset_of_exact(self, spark, sf_small):
        """Cell blocking can only LOSE pairs vs the exact quadratic
        (d10): every semdedup duplicate must also be a d10 duplicate,
        and its survivor must be at least as low an id (a cross-cell
        lower-id neighbor may be unseen). Checked for a pinned k AND
        for the default n_centroids="auto" (max(16, ceil(sqrt(n))) —
        the r10 verdict's fix for the fixed-k scale trap)."""
        docs = spark.read.parquet(f"{sf_small}/documents.parquet")
        embs = spark.read.parquet(f"{sf_small}/embeddings.parquet")
        exact = {r["doc_id"]: r["dup_of"] for r in similarity.embedding_near_dup(
            docs, embs, threshold=0.35).collect() if r["is_dup"]}
        for kw in ({"n_centroids": 8}, {}):          # pinned k, then auto
            blocked = {r["doc_id"]: r["dup_of"] for r in similarity.semdedup(
                docs, embs, threshold=0.35, **kw).collect() if r["is_dup"]}
            assert blocked, "planted fixture should produce some in-cell dups"
            for doc, dup_of in blocked.items():
                assert doc in exact, f"{doc} dup under blocking but not exactly"
                assert exact[doc] <= dup_of

    def test_semdedup_max_cell_size_subset_and_noop(self, spark, sf_small):
        """The mega-cell guard (r11 verdict #5): sub-blocking only
        REMOVES candidate pairs, so the guarded result is (a) identical
        to unguarded when the cap exceeds every cell, (b) a subset of
        the unguarded duplicate set under a tight cap, and (c) still a
        subset of the exact quadratic truth."""
        docs = spark.read.parquet(f"{sf_small}/documents.parquet")
        embs = spark.read.parquet(f"{sf_small}/embeddings.parquet")

        def dupset(**kw):
            return {(r["doc_id"], r["dup_of"]) for r in
                    similarity.semdedup(docs, embs, n_centroids=16, **kw)
                    .filter("is_dup").collect()}

        base = dupset()
        assert dupset(max_cell_size=10**9) == base          # cap never binds
        guarded = dupset(max_cell_size=8)                   # cap always binds
        guarded_docs = {d for d, _ in guarded}
        base_docs = {d for d, _ in base}
        assert guarded_docs <= base_docs and guarded
        exact = {r["doc_id"] for r in similarity.embedding_near_dup(
            docs, embs, threshold=0.35).filter("is_dup").collect()}
        assert guarded_docs <= exact

    def test_semdedup_max_cell_size_validation(self, spark):
        embs = spark.createDataFrame(
            [(1, [1.0, 0.0])], "vec_id long, embedding array<double>")
        docs = embs.selectExpr("vec_id as doc_id")
        import pytest as _pytest
        for bad in (1, 0, True, "big"):
            with _pytest.raises(ValueError, match="max_cell_size"):
                similarity.semdedup(docs, embs, n_centroids=2,
                                    max_cell_size=bad)

    def test_semdedup_rejects_bad_k(self, spark):
        embs = spark.createDataFrame(
            [(1, [1.0, 0.0])], "vec_id long, embedding array<double>")
        docs = embs.selectExpr("vec_id as doc_id")
        import pytest as _pytest
        with _pytest.raises(ValueError, match="auto"):
            similarity.semdedup(docs, embs, n_centroids="sqrt")
        with _pytest.raises(ValueError, match="auto"):
            similarity.semdedup(docs, embs, n_centroids=0)
        with _pytest.raises(ValueError, match="auto"):
            # bool is an int subclass: True would silently run k=1,
            # one quadratic cell (ADVICE r11)
            similarity.semdedup(docs, embs, n_centroids=True)


class TestTemporal:
    def test_asof_inclusive_tie_and_no_match(self, spark):
        import datetime as dt

        from spaceparts_data_pipeline_spark.operators.temporal import asof_join

        t = lambda m: dt.datetime(2024, 1, 1, 10, m)  # noqa: E731
        left = spark.createDataFrame(
            [(1, "u1", t(0)), (2, "u1", t(10)), (3, "u2", t(5))],
            "id long, user_id string, ts timestamp")
        right = spark.createDataFrame(
            [("u1", t(0), 5.0), ("u1", t(7), 7.0), ("u1", t(11), 11.0)],
            "user_id string, ts timestamp, value double")
        out = {r["id"]: r["value"] for r in
               asof_join(left, right, ["user_id"], "ts", "ts", ["value"]).collect()}
        assert out == {1: 5.0,      # equal ts → inclusive
                       2: 7.0,      # latest at-or-before, not the later 11.0
                       3: None}     # u2 has no quotes

    def test_asof_tied_rows_resolve_row_wise(self, spark):
        """Two right rows tied at one ts with two value columns must
        resolve to ONE row — never a column-wise mix of both."""
        import datetime as dt

        from spaceparts_data_pipeline_spark.operators.temporal import asof_join

        t0 = dt.datetime(2024, 1, 1, 10, 0)
        left = spark.createDataFrame([(1, "u", t0)], "id long, user_id string, ts timestamp")
        # tied rows: (a=9, b=1) and (a=1, b=9) — per-column max would
        # fabricate the row (9, 9) which exists in neither
        right = spark.createDataFrame(
            [("u", t0, 9.0, 1.0), ("u", t0, 1.0, 9.0)],
            "user_id string, ts timestamp, a double, b double")
        row = asof_join(left, right, ["user_id"], "ts", "ts", ["a", "b"]).collect()[0]
        assert (row["a"], row["b"]) == (9.0, 1.0)  # max(struct) row, not (9, 9)

    def test_asof_null_value_propagates(self, spark):
        """When the latest at-or-before right row carries NULL, the join
        returns that NULL (DuckDB ASOF semantics) — not an older value."""
        import datetime as dt

        from spaceparts_data_pipeline_spark.operators.temporal import asof_join

        t = lambda m: dt.datetime(2024, 1, 1, 10, m)  # noqa: E731
        left = spark.createDataFrame([(1, "u", t(10))], "id long, user_id string, ts timestamp")
        right = spark.createDataFrame(
            [("u", t(0), 5.0), ("u", t(5), None)],
            "user_id string, ts timestamp, value double")
        row = asof_join(left, right, ["user_id"], "ts", "ts", ["value"]).collect()[0]
        assert row["value"] is None

    def test_asof_value_col_collision_raises(self, spark):
        import datetime as dt

        import pytest

        from spaceparts_data_pipeline_spark.operators.temporal import asof_join

        t0 = dt.datetime(2024, 1, 1)
        left = spark.createDataFrame([(1, "u", t0, 0.0)],
                                     "id long, user_id string, ts timestamp, value double")
        right = spark.createDataFrame([("u", t0, 1.0)],
                                      "user_id string, ts timestamp, value double")
        with pytest.raises(ValueError, match="collide"):
            asof_join(left, right, ["user_id"], "ts", "ts", ["value"])

    def test_range_pairs_boundaries(self, spark):
        import datetime as dt

        from spaceparts_data_pipeline_spark.operators.temporal import range_pairs

        base = dt.datetime(2024, 1, 1, 10, 0, 0)
        sec = lambda s: base + dt.timedelta(seconds=s)  # noqa: E731
        df = spark.createDataFrame(
            [(1, "u", sec(0)), (2, "u", sec(60)), (3, "u", sec(61)),
             (4, "u", sec(0)), (5, "v", sec(30))],
            "event_id long, user_id string, ts timestamp")
        out = {(r["id_a"], r["id_b"]): r["gap_us"]
               for r in range_pairs(df, "user_id", "ts", "event_id", 60).collect()}
        # (1,2) exactly at the gap bound: included; (1,3) just over: excluded;
        # (1,4) same-ts tie ordered by id; cross-user never pairs
        assert out == {(1, 2): 60_000_000, (4, 2): 60_000_000,
                       (1, 4): 0, (2, 3): 1_000_000}


class TestFuzzyDedup:
    DOCS = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy cat"),   # near-dup of 1
        (3, "completely different words entirely here now"),
        (4, ""),
    ]
    SCHEMA = StructType([StructField("doc_id", LongType()), StructField("text", StringType())])

    def test_jaccard_finds_near_dup(self, spark):
        df = spark.createDataFrame(self.DOCS, self.SCHEMA)
        pairs = {(r["id_a"], r["id_b"]): r["jaccard"] for r in
                 dedup_fuzzy.jaccard_pairs(df, threshold=0.3).collect()}
        assert (1, 2) in pairs and pairs[(1, 2)] > 0.5
        assert all(a != 3 and b != 3 for a, b in pairs)

    def test_minhash_lsh_finds_near_dup(self, spark):
        df = spark.createDataFrame(self.DOCS, self.SCHEMA)
        pairs = {(r["id_a"], r["id_b"]) for r in
                 dedup_fuzzy.minhash_lsh_pairs(df, num_perm=16, rows_per_band=2).collect()}
        assert (1, 2) in pairs

    def test_simhash_near_pairs(self, spark):
        df = spark.createDataFrame(self.DOCS, self.SCHEMA)
        sims = dedup_fuzzy.simhash(df)
        assert sims.count() == 3  # empty doc has no tokens
        pairs = {(r["id_a"], r["id_b"]): r["hamming"] for r in
                 dedup_fuzzy.simhash_near_pairs(sims, max_hamming=16).collect()}
        assert (1, 2) in pairs


class TestText:
    def test_token_count_edges(self, spark):
        df = spark.createDataFrame(
            [(1, "a b  c"), (2, ""), (3, "   "), (4, "one")],
            StructType([StructField("id", LongType()), StructField("text", StringType())]),
        )
        out = {r["id"]: r["n"] for r in df.select("id", text.token_count("text").alias("n")).collect()}
        assert out == {1: 3, 2: 0, 3: 0, 4: 1}

    def test_lang_id_on_crafted_text(self, spark):
        df = spark.createDataFrame(
            [(1, "the cat and the dog is in a house of the king"),
             (2, "el perro y la casa de los reyes que en madrid"),
             (3, "der hund und die katze das ein haus zu berlin ist"),
             (4, "xyzzy plugh")],
            StructType([StructField("doc_id", LongType()), StructField("text", StringType())]),
        )
        out = {r["doc_id"]: r["predicted_lang"] for r in text.with_lang_id(df).collect()}
        assert out == {1: "en", 2: "es", 3: "de", 4: "und"}

    def test_repetition_stats_edges(self, spark):
        docs = spark.createDataFrame(
            [(1, "a a a a b"),          # top 'a' 4/5 → repetitive
             (2, "u v w x y z"),        # all distinct, top frac 1/6 < 0.2
             (3, "")],                  # empty → zero counts, null fracs
            "doc_id long, text string")
        out = {r["doc_id"]: r.asDict() for r in text.repetition_stats(docs).collect()}
        assert out[1]["total_tokens"] == 5 and out[1]["distinct_tokens"] == 2
        assert abs(out[1]["top_token_frac"] - 0.8) < 1e-12 and out[1]["is_repetitive"]
        assert out[2]["dup_token_frac"] == 0.0 and not out[2]["is_repetitive"]
        assert out[3]["total_tokens"] == 0 and out[3]["dup_token_frac"] is None
        assert out[3]["is_repetitive"] is False

    def test_stratified_sample_deterministic_and_rebalanced(self, spark, sf_small):
        d = spark.read.parquet(f"{sf_small}/documents.parquet")
        s1 = text.stratified_sample(d, "doc_id", "lang", rates={"en": 10}, default_rate=50)
        s2 = text.stratified_sample(d, "doc_id", "lang", rates={"en": 10}, default_rate=50)
        ids1 = {r["doc_id"] for r in s1.collect()}
        assert ids1 == {r["doc_id"] for r in s2.collect()}      # run-stable
        kept = s1.groupBy("lang").count().collect()
        base = dict(d.groupBy("lang").count().collect())
        for r in kept:                  # en capped well below the others' rate
            frac = r["count"] / base[r["lang"]]
            assert frac < (0.25 if r["lang"] == "en" else 0.75)

    def test_rolling_fingerprint_deterministic(self, spark):
        df = spark.createDataFrame(
            [(1, "hello world document"), (2, "hello world document"), (3, "other content")],
            StructType([StructField("id", LongType()), StructField("text", StringType())]),
        )
        out = df.select("id", text.fingerprint_rolling("text").alias("fp")).collect()
        fps = {r["id"]: r["fp"] for r in out}
        assert fps[1] == fps[2] != fps[3]


class TestClustering:
    def test_connected_components_and_corpus_dedup(self, spark):
        from pyspark.sql.types import LongType, StringType, StructField, StructType
        from spaceparts_data_pipeline_spark.operators.dedup_fuzzy import connected_components, dedup_corpus
        docs = spark.createDataFrame(
            [(i, f"doc {i}") for i in range(1, 7)],
            StructType([StructField("doc_id", LongType()), StructField("text", StringType())]),
        )
        pairs = spark.createDataFrame(
            [(1, 2), (2, 3), (4, 5)],  # components {1,2,3}, {4,5}, {6}
            StructType([StructField("id_a", LongType()), StructField("id_b", LongType())]),
        )
        comps = {r["doc_id"]: r["component"] for r in
                 connected_components(pairs, docs.select("doc_id")).collect()}
        assert comps == {1: 1, 2: 1, 3: 1, 4: 4, 5: 4, 6: 6}
        kept = sorted(r["doc_id"] for r in dedup_corpus(docs, pairs).collect())
        assert kept == [1, 4, 6]

    def test_connected_components_leaves_no_cache_entry(self, spark):
        """Regression (round-2 advice): the final labels frame used to
        stay persisted through the CacheManager, pinning executor
        storage forever in long sessions. The result must be
        self-contained (usable after clearCache) with no cache entry."""
        from pyspark.sql.types import LongType, StructField, StructType
        from spaceparts_data_pipeline_spark.operators.dedup_fuzzy import connected_components

        sch = StructType([StructField("id_a", LongType()), StructField("id_b", LongType())])
        ids = spark.range(1, 5).withColumnRenamed("id", "doc_id")
        pairs = spark.createDataFrame([(1, 2), (3, 4)], sch)
        spark.catalog.clearCache()
        out = connected_components(pairs, ids)
        assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
        spark.catalog.clearCache()   # result survives a cache purge
        assert {r["doc_id"]: r["component"] for r in out.collect()} == {1: 1, 2: 1, 3: 3, 4: 3}

    def test_connected_components_property_vs_union_find(self, spark):
        """Property test vs a brute-force Python union-find (SURVEY §5
        style): random edge sets over a small id universe — including
        self-loops, duplicate edges, reversed duplicates, and ids with
        no edges — must produce exactly the min-id component labeling.
        Guards the round-6 active-set rewrite (isolated nodes split out
        of the loop)."""
        from hypothesis import given, settings, strategies as st
        from pyspark.sql.types import LongType, StructField, StructType

        from spaceparts_data_pipeline_spark.operators.dedup_fuzzy import connected_components

        sch = StructType([StructField("id_a", LongType()), StructField("id_b", LongType())])

        @settings(max_examples=8, deadline=None)
        @given(st.lists(st.tuples(st.integers(0, 12), st.integers(0, 12)),
                        min_size=0, max_size=25))
        def check(edges):
            n = 13
            parent = list(range(n))

            def find(x):
                while parent[x] != x:
                    parent[x] = parent[parent[x]]
                    x = parent[x]
                return x

            for a, b in edges:
                ra, rb = find(a), find(b)
                if ra != rb:
                    parent[ra] = rb
            expected = {}
            for i in range(n):
                expected.setdefault(find(i), []).append(i)
            model = {i: min(members) for members in expected.values() for i in members}

            ids = spark.range(n).withColumnRenamed("id", "doc_id")
            pairs = spark.createDataFrame([(a, b) for a, b in edges], sch)
            got = {r["doc_id"]: r["component"] for r in
                   connected_components(pairs, ids).collect()}
            assert got == model

        check()

    def test_connected_components_reliable_checkpoint(self, spark, tmp_path):
        """checkpoint='reliable' must write round snapshots through the
        SparkContext checkpoint dir (survives executor loss on a real
        cluster) and produce the identical labeling; a bogus mode
        raises instead of silently running unprotected."""
        import os

        import pytest
        from pyspark.sql.types import LongType, StructField, StructType
        from spaceparts_data_pipeline_spark.operators.dedup_fuzzy import connected_components

        sch = StructType([StructField("id_a", LongType()), StructField("id_b", LongType())])
        ids = spark.range(1, 6).withColumnRenamed("id", "doc_id")
        pairs = spark.createDataFrame([(1, 2), (2, 3), (4, 5)], sch)
        ckpt = str(tmp_path / "ckpt")
        spark.sparkContext.setCheckpointDir(ckpt)
        out = {r["doc_id"]: r["component"] for r in
               connected_components(pairs, ids, checkpoint="reliable").collect()}
        assert out == {1: 1, 2: 1, 3: 1, 4: 4, 5: 4}
        written = [f for root, _, fs in os.walk(ckpt) for f in fs]
        assert written, "reliable mode wrote nothing to the checkpoint dir"
        with pytest.raises(ValueError, match="local.*reliable|reliable.*local"):
            connected_components(pairs, ids, checkpoint="fastest")

    def test_deterministic_split_stability(self, spark, sf_small):
        from spaceparts_data_pipeline_spark.operators.text import deterministic_split
        d = spark.read.parquet(f"{sf_small}/documents.parquet")
        a = {r["doc_id"]: r["split"] for r in deterministic_split(d, "doc_id").collect()}
        b = {r["doc_id"]: r["split"] for r in
             deterministic_split(d.repartition(7), "doc_id").collect()}
        assert a == b                          # partition-independent
        frac = sum(1 for v in a.values() if v == "train") / len(a)
        assert 0.8 < frac < 0.97               # ~90%


class TestPngHeader:
    def test_parse_and_extract_dims(self, spark):
        import struct
        from spaceparts_data_pipeline_spark.operators.multimodal import (
            extract_image_dims, parse_png_header, ASSET_SCHEMA)
        def png(w, h):
            return (b"\x89PNG\r\n\x1a\n" + struct.pack(">I", 13) + b"IHDR"
                    + struct.pack(">II", w, h) + b"\x08\x02\x00\x00\x00" + b"\x00" * 4)
        assert parse_png_header(png(640, 480)) == (640, 480)
        assert parse_png_header(b"not a png at all....1234") is None
        assert parse_png_header(None) is None
        rows = [
            (1, "image", png(320, 200), None, None, None),
            (2, "image", b"JFIF not png", None, None, None),
            (3, "image", None, None, None, None),
        ]
        df = spark.createDataFrame(rows, ASSET_SCHEMA)
        out = {r["asset_id"]: (r["png_width"], r["png_height"]) for r in extract_image_dims(df).collect()}
        assert out == {1: (320, 200), 2: (None, None), 3: (None, None)}


class TestCorpusOps:
    """Round-5 additions: near-dup removal, contamination check,
    sequence packing — the remaining training-data corpus ops."""

    DOCS = "doc_id long, text string"

    def test_canonical_corpus_keeps_min_per_cluster(self, spark):
        from spaceparts_data_pipeline_spark.operators import dedup_fuzzy

        rows = [
            (1, "alpha beta gamma delta epsilon"),
            (2, "alpha beta gamma delta epsilon"),      # dup of 1
            (3, "totally different words entirely here"),
            (4, "alpha beta gamma delta zeta"),         # near-dup of 1/2
        ]
        d = spark.createDataFrame(rows, self.DOCS)
        pairs = dedup_fuzzy.jaccard_pairs(d, threshold=0.3)
        out = dedup_fuzzy.canonical_corpus(d, pairs)
        assert sorted(r["doc_id"] for r in out.collect()) == [1, 3]
        assert out.columns == d.columns                 # full schema survives

    def test_verified_lsh_pairs_match_exact_on_candidates(self, spark, sf_oracle):
        """The verify step must return TRUE Jaccard values: every
        verified-LSH pair at threshold 0.5 is an exact-path pair with
        the identical (inter, jaccard), and at the rows_per_band=1
        profile (miss prob < 1e-4 at j=0.5) the two sets are EQUAL on
        the fixture (deterministic — fixed MinHash seeds)."""
        from spaceparts_data_pipeline_spark.operators import dedup_fuzzy

        d = spark.read.parquet(f"{sf_oracle}/documents.parquet")
        exact = {(r["id_a"], r["id_b"]): (r["inter"], round(r["jaccard"], 9))
                 for r in dedup_fuzzy.jaccard_pairs(d, threshold=0.5).collect()}
        lsh = {(r["id_a"], r["id_b"]): (r["inter"], round(r["jaccard"], 9))
               for r in dedup_fuzzy.verified_lsh_pairs(
                   d, threshold=0.5, rows_per_band=1).collect()}
        assert lsh == exact
        assert len(exact) > 0          # the fixture actually has near-dups

    def test_canonical_corpus_lsh_equals_exact_path(self, spark, sf_oracle):
        """End-to-end: the LSH-routed dedup pipeline (d14) must keep the
        SAME survivor set as the bounded exact path (d13's shape) at the
        same threshold — full rows, not just ids."""
        from spaceparts_data_pipeline_spark.operators import dedup_fuzzy

        d = spark.read.parquet(f"{sf_oracle}/documents.parquet")
        exact = dedup_fuzzy.canonical_corpus(
            d, dedup_fuzzy.jaccard_pairs(d, threshold=0.5))
        lsh = dedup_fuzzy.canonical_corpus_lsh(d, threshold=0.5, rows_per_band=1)
        assert sorted(map(tuple, lsh.collect())) == sorted(map(tuple, exact.collect()))
        assert lsh.count() < d.count()  # it actually removed near-dups

    @staticmethod
    def _exact_cross_screen_hits(survivors, store_docs, threshold=0.5):
        """Exact-path twin of the band-collision screen: survivor ids
        whose true Jaccard vs ANY store doc is >= threshold, computed
        on md5 shingles (an independent Spark formulation of the
        DuckDB oracle's xpairs/hits CTEs)."""
        from spaceparts_data_pipeline_spark.operators import dedup_fuzzy

        sh = dedup_fuzzy.word_shingles(survivors, "doc_id", "text", 3).select(
            "doc_id", F.md5("shingle").alias("h"))
        ssh = dedup_fuzzy.word_shingles(store_docs, "doc_id", "text", 3).select(
            F.col("doc_id").alias("sid"), F.md5("shingle").alias("h"))
        cnt = sh.groupBy("doc_id").count().withColumnRenamed("count", "na")
        scnt = ssh.groupBy("sid").count().withColumnRenamed("count", "nb")
        jac = (sh.join(ssh, "h").groupBy("doc_id", "sid")
               .count().withColumnRenamed("count", "inter")
               .join(cnt, "doc_id").join(scnt, "sid")
               .withColumn("j", F.col("inter")
                           / (F.col("na") + F.col("nb") - F.col("inter"))))
        return {r["doc_id"] for r in
                jac.filter(F.col("j") >= threshold).select("doc_id").distinct().collect()}

    def test_incremental_near_dedup_equals_exact_screen(self, spark, sf_oracle):
        """The d14 playbook applied to d16 (round-9 verdict #1): at the
        pinned num_perm=32 / rows_per_band=4 profile the cross-run LSH
        screen's ADMIT SET equals the exact path — exact-Jaccard
        within-batch dedup followed by an exact-Jaccard>=0.5 screen
        against the store deciles. This property is what makes d16's
        exact-path SQL oracle sound (queries/llm.py ORACLE NOTE). The
        profile matters: 8 bands of 4 rows pushes the per-band false-
        collision probability at the fixture's J<=0.053 background to
        ~1e-5 (rows_per_band=2 deterministically over-screens 3 docs;
        rows_per_band=1 over-screens ~95%), while exact duplicates
        still collide in every band."""
        from spaceparts_data_pipeline_spark.operators import dedup_fuzzy

        d = spark.read.parquet(f"{sf_oracle}/documents.parquet")
        store_docs = d.filter(F.col("doc_id") % 10 < 6)
        batch = d.filter(F.col("doc_id") % 10 >= 4)

        store = dedup_fuzzy.band_table(store_docs, num_perm=32, rows_per_band=4)
        admitted, _ = dedup_fuzzy.incremental_near_dedup(
            batch, store, num_perm=32, rows_per_band=4)
        lsh_admit = {r["doc_id"] for r in admitted.select("doc_id").collect()}

        exact_surv = dedup_fuzzy.canonical_corpus(
            batch, dedup_fuzzy.jaccard_pairs(batch, threshold=0.5))
        surv_ids = {r["doc_id"] for r in exact_surv.select("doc_id").collect()}
        hits = self._exact_cross_screen_hits(exact_surv, store_docs)
        assert lsh_admit == surv_ids - hits
        assert len(hits) > 0                  # the screen did real work
        assert len(lsh_admit) < batch.count() # and so did the dedup

    def test_stream_near_dedup_composition_equals_exact_screen(self, spark, sf_oracle):
        """s05's single-micro-batch decision function — exact fingerprint
        screen, then within-survivor LSH dedup, then the band screen at
        the pinned 32/4 profile — equals the all-exact path; this is
        what makes s05's composed SQL oracle sound (queries/stream.py
        ORACLE NOTE). Runs the same operators the foreachBatch body
        calls, on batch DataFrames (multi-batch replay idempotence is
        pinned in tests/test_streaming.py)."""
        from spaceparts_data_pipeline_spark.operators import dedup, dedup_fuzzy

        d = spark.read.parquet(f"{sf_oracle}/documents.parquet")
        store_docs = d.filter(F.col("doc_id") % 10 < 6)
        batch = d.filter(F.col("doc_id") % 10 >= 4)
        fp_store = store_docs.select(F.md5("text").alias("fingerprint"))

        ex = dedup.incremental_dedup(batch, fp_store).join(batch, "doc_id")
        band_store = dedup_fuzzy.band_table(store_docs, num_perm=32, rows_per_band=4)
        admitted, _ = dedup_fuzzy.incremental_near_dedup(
            ex, band_store, num_perm=32, rows_per_band=4)
        lsh_admit = {r["doc_id"] for r in admitted.select("doc_id").collect()}

        exact_surv = dedup_fuzzy.canonical_corpus(
            ex, dedup_fuzzy.jaccard_pairs(ex, threshold=0.5))
        surv_ids = {r["doc_id"] for r in exact_surv.select("doc_id").collect()}
        hits = self._exact_cross_screen_hits(exact_surv, store_docs)
        assert lsh_admit == surv_ids - hits

    def test_contamination_counts_shared_shingles(self, spark):
        from spaceparts_data_pipeline_spark.operators import dedup_fuzzy

        corpus = spark.createDataFrame(
            [(10, "one two three four"),       # shares shingles with bench
             (11, "five six seven eight")],    # no overlap
            self.DOCS)
        bench = spark.createDataFrame([(1, "zero one two three four five")], self.DOCS)
        out = {r["doc_id"]: (r["n_shared_shingles"], r["contaminated"])
               for r in dedup_fuzzy.contamination_check(corpus, bench).collect()}
        # doc 10 shingles: {one two three, two three four}; both in bench
        assert out[10] == (2, True)
        assert out[11] == (0, False)

    def test_sequence_packing_placement(self, spark):
        from spaceparts_data_pipeline_spark.operators.text import sequence_packing

        rows = [(1, "a", "w " * 3), (2, "a", "w " * 4), (3, "a", "w " * 6),
                (4, "b", "w " * 10)]
        d = spark.createDataFrame(rows, "doc_id long, source string, text string")
        out = {r["doc_id"]: r for r in
               sequence_packing(d, capacity=5, shard_col="source").collect()}
        # shard a: cum 3,7,13 → doc1 [seq0 off0..2], doc2 starts seq0 off3
        # straddles into seq1 (end token idx 6), doc3 starts seq1 off2 ends seq2
        assert (out[1]["start_seq"], out[1]["start_offset"], out[1]["end_seq"]) == (0, 0, 0)
        assert (out[2]["start_seq"], out[2]["start_offset"], out[2]["end_seq"]) == (0, 3, 1)
        assert (out[3]["start_seq"], out[3]["start_offset"], out[3]["end_seq"]) == (1, 2, 2)
        # shard b numbers independently
        assert (out[4]["start_seq"], out[4]["start_offset"], out[4]["end_seq"]) == (0, 0, 1)


class TestRedaction:
    def test_redact_chain_on_real_pii(self, spark):
        rows = [
            (1, "mail bob.smith+x@example.co.uk now"),
            (2, "server at 10.0.255.1 port 8080"),
            (3, "call +1 (555) 123-4567 today"),
            (4, "clean text with no secrets"),
            (5, None),
        ]
        df = spark.createDataFrame(rows, ["id", "s"])
        out = {r["id"]: r for r in df.select(
            "id",
            text.redact_pii("s").alias("red"),
            text.redaction_count("s").alias("n"),
        ).collect()}
        assert out[1]["red"] == "mail <EMAIL> now"
        assert out[1]["n"] == 1
        # IP consumed as one <IP>, trailing port as <NUM> — order matters
        assert out[2]["red"] == "server at <IP> port <NUM>"
        assert out[2]["n"] == 2
        # leading + is outside \b; the digit run from 1 onward is one phone
        assert "<PHONE>" in out[3]["red"]
        assert "555" not in out[3]["red"] and "4567" not in out[3]["red"]
        assert out[4]["red"] == "clean text with no secrets"
        assert out[4]["n"] == 0
        assert out[5]["red"] is None

    def test_bpe_tokens_contractions_and_classes(self, spark):
        df = spark.createDataFrame([(1, "don't stop 42 now!")], ["id", "s"])
        row = df.select(
            text.bpe_tokens("s").alias("toks"),
            text.bpe_token_count("s").alias("n"),
        ).collect()[0]
        assert row["toks"] == ["don", "'t", " stop", " 42", " now", "!"]
        assert row["n"] == 6

    def test_word_ngrams_edges(self, spark):
        df = spark.createDataFrame([(1, "a b c d"), (2, "solo"), (3, "")], ["id", "s"])
        got = {r["id"]: r["g"] for r in df.select("id", text.word_ngrams("s", 2).alias("g")).collect()}
        assert got[1] == ["a b", "b c", "c d"]
        assert got[2] == []
        tri = df.filter("id = 1").select(text.word_ngrams("s", 3).alias("g")).collect()[0]["g"]
        assert tri == ["a b c", "b c d"]


class TestIncrementalDedup:
    def _docs(self, spark, rows):
        return spark.createDataFrame(rows, ["doc_id", "text"])

    def test_screen_and_canonicalize(self, spark):
        from spaceparts_data_pipeline_spark.operators import dedup
        store = self._docs(spark, [(1, "old news")]).select(F.md5("text").alias("fingerprint"))
        batch = self._docs(spark, [
            (10, "old news"),        # already ingested -> screened
            (12, "fresh take"),      # new
            (11, "fresh take"),      # within-batch dup -> min id wins
            (13, "also new"),
        ])
        got = {r["doc_id"] for r in dedup.incremental_dedup(batch, store).collect()}
        assert got == {11, 13}

    def test_store_roundtrip_idempotent(self, spark, tmp_path):
        from spaceparts_data_pipeline_spark.operators import dedup
        store_path = str(tmp_path / "fp_store")
        b1 = self._docs(spark, [(1, "alpha"), (2, "beta")])
        s1 = dedup.incremental_dedup(b1, None)
        assert s1.count() == 2
        dedup.update_fingerprint_store(spark, s1, store_path)

        store = spark.read.parquet(store_path)
        b2 = self._docs(spark, [(3, "beta"), (4, "gamma")])
        s2 = dedup.incremental_dedup(b2, store)
        assert {r["doc_id"] for r in s2.collect()} == {4}
        dedup.update_fingerprint_store(spark, s2, store_path)

        # replaying batch 2 admits nothing and appends nothing new
        store = spark.read.parquet(store_path)
        assert dedup.incremental_dedup(b2, store).count() == 0
        assert store.count() == 3


class TestIncrementalNearDedup:
    def _batch(self, spark, rows):
        return spark.createDataFrame(rows, ["doc_id", "text"])

    BASE = "the quick brown fox jumps over the lazy dog near the river bank today"

    def test_screen_guarantees(self, spark):
        store_docs = self._batch(spark, [(1, self.BASE)])
        store = dedup_fuzzy.band_table(store_docs)
        batch = self._batch(spark, [
            (10, self.BASE),                                   # exact dup of stored
            (11, self.BASE.replace("lazy", "sleepy")),         # near-dup of stored
            (12, "completely different text about spark query engines and shuffles at scale"),
        ])
        admitted, bands = dedup_fuzzy.incremental_near_dedup(batch, store)
        ids = {r["doc_id"] for r in admitted.collect()}
        # exact dup: identical signature -> collides in EVERY band -> always screened
        assert 10 not in ids
        # near-dup at default 16x2 profile: screened (high shingle overlap)
        assert 11 not in ids
        # unrelated doc admitted, and its bands returned for the store update
        assert ids == {12}
        assert {r["doc_id"] for r in bands.collect()} == {12}

    def test_within_batch_collapse_and_no_store(self, spark):
        batch = self._batch(spark, [
            (21, self.BASE),
            (20, self.BASE + " extra"),    # near-dup pair within batch
            (22, "unrelated corpus text mentioning joins aggregations and windows only"),
        ])
        admitted, _ = dedup_fuzzy.incremental_near_dedup(batch, None)
        ids = {r["doc_id"] for r in admitted.collect()}
        assert ids == {20, 22}             # min-id canonical survives

    def test_store_append_roundtrip(self, spark, tmp_path):
        path = str(tmp_path / "band_store")
        b1 = self._batch(spark, [(1, self.BASE)])
        a1, bands1 = dedup_fuzzy.incremental_near_dedup(b1, None)
        bands1.write.mode("append").parquet(path)
        b2 = self._batch(spark, [(2, self.BASE.replace("dog", "cat")), (3, "fresh unseen document text entirely")])
        a2, bands2 = dedup_fuzzy.incremental_near_dedup(b2, spark.read.parquet(path))
        assert {r["doc_id"] for r in a2.collect()} == {3}
        bands2.write.mode("append").parquet(path)
        # replay of batch 2 admits nothing new
        a3, _ = dedup_fuzzy.incremental_near_dedup(b2, spark.read.parquet(path))
        assert a3.count() == 0


class TestStoreCompaction:
    def _seed(self, spark, path, values):
        for v in values:  # one append per "run", like real ingestion
            spark.createDataFrame([(x,) for x in v], ["fingerprint"]) \
                .write.mode("append").parquet(path)

    def test_compact_dedups_and_preserves_screen(self, spark, tmp_path):
        from spaceparts_data_pipeline_spark.operators import dedup
        path = str(tmp_path / "store")
        self._seed(spark, path, [["a", "b"], ["b", "c"], ["c", "a"]])
        stats = dedup.compact_store(spark, path)
        assert stats == {"rows_before": 6, "rows_after": 3}
        assert {r["fingerprint"] for r in spark.read.parquet(path).collect()} == {"a", "b", "c"}
        # idempotent
        assert dedup.compact_store(spark, path)["rows_after"] == 3

    def test_has_data_files(self, spark, tmp_path):
        """Empty-but-created dirs (the empty dynamic-overwrite shape,
        incl. a lone _SUCCESS marker, or a killed job's _temporary
        tree) read as 'no data yet'; a real leaf
        data file — even nested under a partition dir — reads as data."""
        import os

        from spaceparts_data_pipeline_spark.operators import dedup

        path = str(tmp_path / "corpus")
        assert not dedup.has_data_files(spark, path)          # missing
        os.makedirs(os.path.join(path, "run_id=r1"))
        open(os.path.join(path, "_SUCCESS"), "w").close()
        assert not dedup.has_data_files(spark, path)          # markers only
        os.makedirs(os.path.join(path, "_temporary", "0"))
        with open(os.path.join(path, "_temporary", "0", "part-9.parquet"), "wb") as f:
            f.write(b"x")
        assert not dedup.has_data_files(spark, path)          # killed job's tree
        with open(os.path.join(path, "run_id=r1", "part-0.parquet"), "wb") as f:
            f.write(b"x")
        assert dedup.has_data_files(spark, path)              # nested leaf


class TestIncrementalDedupProperty:
    def test_matches_python_model(self, spark):
        """Property test vs a brute-force Python model: random store and
        batch from a tiny text alphabet (forcing heavy duplication,
        within-batch and cross-store) — survivors must be exactly the
        min-id holder of each batch text absent from the store."""
        from hypothesis import given, settings, strategies as st

        from spaceparts_data_pipeline_spark.operators import dedup

        texts = st.sampled_from(["aa", "bb", "cc", "dd", "ee"])

        @settings(max_examples=8, deadline=None)
        @given(
            st.lists(texts, min_size=0, max_size=6),                      # store texts
            st.lists(st.tuples(st.integers(0, 20), texts),                # batch (id, text)
                     min_size=0, max_size=10, unique_by=lambda t: t[0]),
        )
        def check(store_texts, batch_rows):
            model = {}
            store_set = set(store_texts)
            for i, t in batch_rows:
                if t in store_set:
                    continue
                if t not in model or i < model[t]:
                    model[t] = i
            expected = {(i, t) for t, i in model.items()}

            store = (spark.createDataFrame([(t,) for t in store_texts], "text string")
                     .select(F.md5("text").alias("fingerprint"))
                     if store_texts else None)
            batch = spark.createDataFrame(batch_rows or [(0, "zz")], "doc_id long, text string")
            if not batch_rows:
                batch = batch.filter(F.lit(False))
            got = {r["doc_id"] for r in dedup.incremental_dedup(batch, store).collect()}
            assert got == {i for i, _ in expected}

        check()


class TestNgramTopkTwoPass:
    def test_boundary_ties_match_direct_route(self, spark):
        """Craft frequencies that TIE exactly at the k-th rank: the
        two-pass candidate stage must keep every tied hash (rank(), not
        row_number()) so the final lexicographic tie-break matches the
        direct route bit-for-bit."""
        # grams: "a b" x3, "b c" x2, "c d" x2, "d e" x2, "e f" x1 — with
        # k=2 the rank-2 frequency (2) is shared by three grams; one doc
        # per gram occurrence so no cross-pair bigrams appear
        docs = []
        i = 0
        for gram, cnt in [("a b", 3), ("b c", 2), ("c d", 2), ("d e", 2), ("e f", 1)]:
            for _ in range(cnt):
                docs.append((i, "g", gram))
                i += 1
        df = spark.createDataFrame(docs, ["doc_id", "grp", "text"])
        direct = text.ngram_topk(df, "grp", "text", n=2, k=2)
        twopass = text.ngram_topk(df, "grp", "text", n=2, k=2, two_pass=True)
        assert sorted(map(tuple, direct.collect())) == sorted(map(tuple, twopass.collect()))
        got = {r["bigram"]: r["rk"] for r in twopass.collect()}
        assert got == {"a b": 1, "b c": 2}   # lexicographic among the tie


class TestReadStore:
    def test_missing_vs_corrupt(self, spark, tmp_path):
        """'Never created' reads as None (legitimate empty screen);
        a corrupt store RAISES instead of silently screening nothing."""
        from spaceparts_data_pipeline_spark.operators import dedup
        path = str(tmp_path / "store")
        assert dedup.read_store(spark, path) is None

        import os
        os.makedirs(path)
        with open(os.path.join(path, "part-00000.parquet"), "wb") as f:
            f.write(b"this is not parquet")
        with pytest.raises(Exception):
            dedup.read_store(spark, path).collect()


class TestQualityFilters:
    """d17 (Gopher rules) / d18 (C4 line filter) on crafted edge docs —
    the sf fixtures are single-line and mostly rule-passing, so the
    bullet/ellipsis/alpha/document gates are exercised here, both as
    direct value asserts and as an engine-vs-DuckDB parity run over a
    crafted documents table (the same compare the driver gate runs)."""

    PASS_DOC = ("the quick brown fox jumps over that lazy dog and runs with "
                "great speed across a wide field " * 4)

    def _docs(self, spark):
        bullets = "\n".join(["- bullet item one", "- bullet item two",
                             "* bullet item three", "plain line here"])
        ellipses = "\n".join(["this line trails off...",
                              "so does this one …", "but not this one."])
        rows = [
            (1, self.PASS_DOC, "en", "s1", len(self.PASS_DOC)),
            (2, "tiny text", "en", "s1", 9),                      # < 50 words
            (3, " ".join(["12345"] * 60), "en", "s1", 60 * 6),    # no alpha
            (4, bullets, "en", "s2", len(bullets)),               # 3/4 bullet lines
            (5, ellipses, "en", "s2", len(ellipses)),             # 2/3 ellipsis lines
            (6, self.PASS_DOC + " ##### " + "#" * 40, "en", "s2",
             len(self.PASS_DOC) + 47),                            # symbol-heavy tail
            (7, "supercalifragilisticexpialidocious " * 60, "en", "s3",
             60 * 35),                                            # mean word len > 10
        ]
        return spark.createDataFrame(
            rows, "doc_id long, text string, lang string, source string, n_chars long")

    def test_gopher_rules(self, spark):
        out = {r["doc_id"]: r.asDict() for r in text.gopher_quality(self._docs(spark)).collect()}
        assert out[1]["gopher_pass"] is True
        assert out[1]["n_stop_distinct"] >= 4          # the/that/and/with
        assert out[1]["alpha_word_frac"] == 1.0
        assert out[2]["gopher_pass"] is False          # word count
        assert out[3]["alpha_word_frac"] == 0.0 and out[3]["gopher_pass"] is False
        assert out[4]["bullet_line_frac"] == 0.75
        assert abs(out[5]["ellipsis_line_frac"] - 2 / 3) < 1e-12
        assert out[6]["symbol_word_ratio"] > 0.1 and out[6]["gopher_pass"] is False
        assert out[7]["mean_word_len"] > 10 and out[7]["gopher_pass"] is False

    def test_ascii_ellipsis_counts_as_symbol(self, spark):
        """ADVICE r07: '...'-heavy docs must fail the symbol gate like
        '…'-heavy ones (one '...' = ONE symbol, not zero and not
        three)."""
        doc = "word ... " * 30          # 60 words, 30 symbols -> ratio 0.5
        df = spark.createDataFrame(
            [(1, doc, "en", "s1", len(doc))],
            "doc_id long, text string, lang string, source string, n_chars long")
        out = text.gopher_quality(df).collect()[0]
        assert abs(out["symbol_word_ratio"] - 0.5) < 1e-12
        assert out["gopher_pass"] is False

    def test_c4_line_filter(self, spark):
        good = "\n".join([
            "this is a proper sentence with enough words.",
            "another complete line that also ends with punctuation!",
            'a third qualifying line ends with a quote."',
            "short line.",                               # < 5 words → dropped
            "this line has plenty of words but no terminal punctuation",
        ])
        rows = [
            (1, good, "s1"),
            (2, good + "\nfunction foo() { return 1; }", "s1"),     # '{' → doc dropped
            (3, good.replace("third", "Lorem Ipsum third"), "s1"),  # → doc dropped
            (4, "only one good line stands entirely alone here.\nand a second good "
                "sentence also survives the gate.", "s2"),          # 2 kept < 3 → dropped
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string, source string")
        out = {r["doc_id"]: r for r in text.c4_line_filter(df).collect()}
        assert set(out) == {1}
        assert out[1]["n_lines_kept"] == 3
        assert out[1]["clean_text"].count("\n") == 2
        assert "no terminal punctuation" not in out[1]["clean_text"]

    def test_oracle_parity_on_crafted_docs(self, spark, tmp_path):
        """The d17/d18 DuckDB oracles replay the crafted edge docs
        bit-exactly — multi-line, bullets, ellipses, symbols, unicode —
        not just the tamer sf fixture content."""
        import shutil

        import pyarrow as pa
        import pyarrow.parquet as pq

        import __spark_entry__ as entry_mod
        from tests.oracle_harness import TABLES, compare

        sf_dir = str(tmp_path / "crafted_sf")
        (tmp_path / "crafted_sf").mkdir()
        for t in TABLES:
            if t != "documents":
                shutil.copy(f"/root/testdata/sf0.001/{t}.parquet", f"{sf_dir}/{t}.parquet")
        pdf = self._docs(spark).toPandas()
        pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False),
                       f"{sf_dir}/documents.parquet")
        qs, oracles = entry_mod.queries(), entry_mod.oracle_sql()
        for name in ("d17_gopher_quality", "d18_c4_line_filter"):
            compare(spark, qs[name], oracles[name], sf_dir, name)


class TestMixAndPassages:
    """x35 token-budget mixing and d19 duplicated-passage profile on
    hand-computable fixtures."""

    def test_token_budget_boundary(self, spark):
        # source A: docs of 10 tokens each, budget 25 -> docs 1,2 kept
        # (cum 10, 20), doc 3 (cum 30) crosses the line and is dropped;
        # source B: budget 10 -> only doc 11 (cum 10, EXACTLY at the
        # budget — kept: the gate is <=)
        ten = " ".join(f"w{i}" for i in range(10))
        df = spark.createDataFrame(
            [(1, ten, "A"), (2, ten, "A"), (3, ten, "A"),
             (11, ten, "B"), (12, ten, "B")],
            "doc_id long, text string, source string")
        out = {r["doc_id"]: r["cum_tokens"] for r in
               text.token_budget_mix(df, default_budget=25, budgets={"B": 10}).collect()}
        assert out == {1: 10, 2: 20, 11: 10}

    def test_null_text_and_null_source_match_one_window(self, spark):
        """ADVICE r08 bit-identity repro: (a) a NULL-text doc landing on
        a sub-shard HEAD must not poison the running sum (offset + NULL
        = NULL dropped the doc; the one-window SUM skips NULLs and
        keeps it) — NULL text counts 0 tokens explicitly; (b) a
        zero-token doc whose sub-shard offset EQUALS the budget must
        survive the prune (cum == budget is kept by <=); (c) NULL
        source is its own group under the default budget, not dropped
        by an inner join."""
        from pyspark.sql import Window as W

        ten = " ".join(f"w{i}" for i in range(10))
        five = " ".join(f"v{i}" for i in range(5))
        rows = (
            # source A, budget 20: with n_subshards=2 ids 1-2 land in
            # sub 0 and ids 3-4 in sub 1, so the NULL-text doc 3 is a
            # sub-shard head; doc 4 (cum 20) sits exactly on the line.
            [(1, ten, "A"), (2, ten, "A"), (3, None, "A"), (4, None, "A")]
            # NULL source, default budget 12: keeps 5-token doc 21 and
            # 5-token doc 22 (cum 10), drops doc 23 (cum 15).
            + [(21, five, None), (22, five, None), (23, five, None)]
        )
        df = spark.createDataFrame(rows, "doc_id long, text string, source string")
        got = {(r["doc_id"], r["cum_tokens"]) for r in
               text.token_budget_mix(df, default_budget=12, budgets={"A": 20},
                                     n_subshards=2).collect()}
        # one-window reference computed with the naive formulation
        n_tok = F.coalesce(text.token_count("text").cast("long"), F.lit(0))
        w = (W.partitionBy("source").orderBy("doc_id")
             .rowsBetween(W.unboundedPreceding, 0))
        ref = (df.select("doc_id", "source", n_tok.alias("n"))
               .withColumn("cum", F.sum("n").over(w))
               .filter(F.col("cum") <= F.when(F.col("source") == "A", 20).otherwise(12)))
        want = {(r["doc_id"], r["cum"]) for r in ref.collect()}
        assert got == want
        assert (3, 20) in got and (4, 20) in got   # NULL-text docs kept
        assert (21, 5) in got and (22, 10) in got and (23, 15) not in got

    def test_duplicate_passages_known_answer(self, spark):
        # doc 1 and doc 2 share one exact 5-gram span ("a b c d e");
        # doc 3 is fully unique; doc 4 is too short for any 5-gram.
        df = spark.createDataFrame(
            [(1, "a b c d e f g"),      # grams: abcde, bcdef, cdefg
             (2, "x a b c d e y"),      # grams: xabcd, abcde, bcdey
             (3, "p q r s t u"),        # grams: pqrst, qrstu
             (4, "too short")],
            "doc_id long, text string")
        out = {r["doc_id"]: r.asDict() for r in text.duplicate_passages(df, k=5).collect()}
        assert out[1]["n_grams"] == 3 and out[1]["n_dup_grams"] == 1
        assert out[2]["n_grams"] == 3 and out[2]["n_dup_grams"] == 1
        assert out[3]["n_dup_grams"] == 0 and out[3]["dup_passage_flag"] is False
        assert out[4]["n_grams"] == 0 and out[4]["dup_gram_frac"] is None
        assert abs(out[1]["dup_gram_frac"] - 1 / 3) < 1e-12
        assert out[1]["dup_passage_flag"] is True   # 1/3 > 0.3

    def test_duplicate_passages_within_doc_repeat(self, spark):
        # a doc repeating its own 5-gram counts both positions
        df = spark.createDataFrame(
            [(1, "a b c d e a b c d e")],   # grams at pos 1..6; abcde twice
            "doc_id long, text string")
        r = text.duplicate_passages(df, k=5).collect()[0]
        assert r["n_grams"] == 6 and r["n_dup_grams"] == 2

    def test_substring_dedup_known_answer(self, spark):
        """d22 (round-9 verdict #2): duplicated 5-gram passages are CUT
        (both copies, per Lee et al.), unique text survives verbatim,
        within-doc repeats empty the doc, short/blank/NULL docs pass
        through with the documented boundary semantics."""
        df = spark.createDataFrame(
            [(1, "a b c d e f g"),          # shares "a b c d e" with doc 2
             (2, "x a b c d e y"),
             (3, "p q r s t u"),            # fully unique
             (4, "too short"),              # < k tokens: no grams
             (5, "a b c d e a b c d e"),    # self-repeat: fully covered
             (6, None),
             (7, "   ")],
            "doc_id long, text string")
        out = {r["doc_id"]: r.asDict() for r in text.substring_dedup(df, k=5).collect()}
        assert (out[1]["clean_text"], out[1]["n_tokens"], out[1]["n_removed_tokens"]) == ("f g", 7, 5)
        assert (out[2]["clean_text"], out[2]["n_removed_tokens"]) == ("x y", 5)
        assert (out[3]["clean_text"], out[3]["n_removed_tokens"]) == ("p q r s t u", 0)
        assert (out[4]["clean_text"], out[4]["n_removed_tokens"]) == ("too short", 0)
        assert (out[5]["clean_text"], out[5]["n_removed_tokens"]) == ("", 10)
        assert (out[6]["clean_text"], out[6]["n_tokens"]) == (None, 0)
        assert (out[7]["clean_text"], out[7]["n_tokens"]) == ("", 0)

    def test_substring_dedup_unique_suffix_survives(self, spark):
        """Window-edge boundary: a unique tail shorter than k that
        overlaps NO duplicated gram of its own survives even when it
        directly abuts a cut passage."""
        df = spark.createDataFrame(
            [(1, "h1 h2 h3 h4 h5 tail1 tail2"),   # header dup'd, tail unique
             (2, "h1 h2 h3 h4 h5 other stuff")],
            "doc_id long, text string")
        out = {r["doc_id"]: r["clean_text"] for r in
               text.substring_dedup(df, k=5).collect()}
        # only gram pos 0 (h1..h5) is duplicated in each doc: grams
        # crossing into the tails are unique, so tokens 5,6 survive
        assert out[1] == "tail1 tail2"
        assert out[2] == "other stuff"

    def test_skew_safe_route_identical_and_window_free(self, spark):
        """round-10 verdict #2: the zipfian-safe groupBy-count route is
        result-identical to the window route for BOTH gram ops (every
        edge case of the known-answer fixtures plus a hot boilerplate
        gram shared by many docs), and its physical plan contains NO
        window over the gram hash — the indivisible-partition straggler
        the route exists to eliminate."""
        boiler = "end user licence agreement applies here"
        rows = [(i, f"unique{i} tokens {boiler} doc body {i}") for i in range(20)]
        rows += [(100, "a b c d e f g"), (101, "x a b c d e y"),
                 (102, "p q r s t u"), (103, "too short"),
                 (104, "a b c d e a b c d e"), (105, None), (106, "   ")]
        df = spark.createDataFrame(rows, "doc_id long, text string")

        for fn in (text.duplicate_passages, text.substring_dedup):
            base = {tuple(r) for r in fn(df, k=5).collect()}
            safe_df = fn(df, k=5, skew_safe=True)
            assert {tuple(r) for r in safe_df.collect()} == base, fn.__name__
            plan = safe_df._jdf.queryExecution().executedPlan().toString()
            assert "Window" not in plan, f"{fn.__name__}: hot-gram window survived"


class TestWordNgramsProperty:
    def test_ngrams_match_python_reference(self, spark):
        """The zip_with-chain gram builder (rewritten from per-element
        indexing after the O(tokens²·n) re-split finding — SCALING.md
        round 7) must equal the obvious Python reference for arbitrary
        whitespace-y text and n in 2..6."""
        from hypothesis import given, settings, strategies as st

        word = st.text(alphabet="abcXYZ09_", min_size=1, max_size=6)
        texts = st.lists(word, min_size=0, max_size=12).map(" ".join)

        @settings(max_examples=30, deadline=None)
        @given(st.lists(texts, min_size=1, max_size=6), st.integers(2, 6))
        def check(rows, n):
            df = spark.createDataFrame([(i, t) for i, t in enumerate(rows)],
                                       "id long, text string")
            got = {r["id"]: r["g"] for r in
                   df.select("id", text.word_ngrams("text", n).alias("g")).collect()}
            for i, t in enumerate(rows):
                toks = t.strip().split() if t.strip() else []
                # Spark's split('', '\s+') yields [''] — a single empty
                # token; mirror that exactly
                if t.strip() == "":
                    toks = [""]
                want = [" ".join(toks[j:j + n]) for j in range(max(0, len(toks) - n + 1))]
                assert got[i] == want, (t, n, got[i], want)

        check()


class TestCorpusShuffle:
    def test_deterministic_and_seed_sensitive(self, spark):
        df = spark.createDataFrame([(i,) for i in range(200)], "doc_id long")
        a1 = {(r["doc_id"], r["shard"], r["position"])
              for r in text.corpus_shuffle(df, "epoch0").collect()}
        a2 = {(r["doc_id"], r["shard"], r["position"])
              for r in text.corpus_shuffle(df, "epoch0").collect()}
        b = {(r["doc_id"], r["shard"], r["position"])
             for r in text.corpus_shuffle(df, "epoch1").collect()}
        assert a1 == a2                      # same seed -> identical order
        assert a1 != b                       # new seed -> new epoch order
        # positions are dense 0..n-1 within each shard; every doc placed
        rows = text.corpus_shuffle(df, "epoch0").collect()
        assert len(rows) == 200
        by_shard = {}
        for r in rows:
            by_shard.setdefault(r["shard"], []).append(r["position"])
        for pos in by_shard.values():
            assert sorted(pos) == list(range(len(pos)))
        # the shuffle actually decorrelates: id order != position order
        shard0 = sorted((p, d) for d, s, p in a1 if s == 0)
        assert [d for _, d in shard0] != sorted(d for _, d in shard0)


class TestBlocklistFilter:
    def test_hits_and_flag(self, spark):
        df = spark.createDataFrame(
            [(1, "please CLICK here now"),             # case-insensitive phrase hit
             (2, "please Click Here to buy now fast"),
             (3, "an ordinary document about spark"),
             (4, "clickhere smushed does not count")],
            "doc_id long, text string")
        out = {r["doc_id"]: (r["n_blocked_terms"], r["blocked"]) for r in
               text.blocklist_filter(df).collect()}
        assert out[1] == (1, True)        # lowered: "click here"
        assert out[2] == (2, True)        # "click here" + "buy now"
        assert out[3] == (0, False)
        assert out[4] == (0, False)       # word boundaries: no substring match

    def test_metacharacter_terms_match_literally(self, spark):
        """ADVICE r07: terms containing regex metacharacters ('c++',
        '$9.99') must match as literals, not silently reshape the
        alternation ('c++' as a regex would also match bare 'c')."""
        df = spark.createDataFrame(
            [(1, "i write c++ for a living"),
             (2, "plain c code only here"),          # must NOT match 'c++'
             (3, "the price is $9.99 today"),
             (4, "the price is $9x99 today")],       # '.' must not be a wildcard
            "doc_id long, text string")
        out = {r["doc_id"]: (r["n_blocked_terms"], r["blocked"]) for r in
               text.blocklist_filter(df, terms=("c++", "$9.99")).collect()}
        assert out[1] == (1, True)
        assert out[2] == (0, False)
        assert out[3] == (1, True)
        assert out[4] == (0, False)

    def test_empty_blocklist_raises(self, spark):
        import pytest

        df = spark.createDataFrame([(1, "x")], "doc_id long, text string")
        with pytest.raises(ValueError):
            text.blocklist_filter(df, terms=())

    def test_uppercase_terms_match(self, spark):
        """ADVICE r08: matching is documented case-insensitive, so a
        LIST entry with uppercase ('Buy Now') must hit lowercase text —
        the term is lowercased inside the pattern builder, not just the
        text side."""
        df = spark.createDataFrame(
            [(1, "please buy now today"), (2, "nothing to see")],
            "doc_id long, text string")
        out = {r["doc_id"]: r["blocked"] for r in
               text.blocklist_filter(df, terms=("Buy Now", "C++")).collect()}
        assert out[1] is True
        assert out[2] is False

    def test_non_ascii_edge_term_matches(self, spark):
        """ADVICE r08: Java/RE2 \\b is ASCII-word-based, so a term edged
        with an accented letter ('café') must NOT get a \\b anchor (it
        would never match); it matches as a substring instead."""
        df = spark.createDataFrame(
            [(1, "meet me at the café tomorrow"),
             (2, "plain coffee shop")],
            "doc_id long, text string")
        out = {r["doc_id"]: r["blocked"] for r in
               text.blocklist_filter(df, terms=("café",)).collect()}
        assert out[1] is True
        assert out[2] is False


class TestLineRepetition:
    def _docs(self, spark):
        rep = "\n".join(["the same boilerplate header line",
                         "unique content alpha goes here",
                         "the same boilerplate header line",
                         "unique content beta goes here",
                         "the same boilerplate header line"])   # 3/5 duplicated
        clean = "\n".join(["first distinct line", "second distinct line",
                           "third distinct line"])
        blanky = "one real line\n\n   \none real line"          # blanks ignored; dup pair
        rows = [(1, rep, "en", "s1", len(rep)),
                (2, clean, "en", "s1", len(clean)),
                (3, blanky, "en", "s1", len(blanky)),
                (4, "", "en", "s1", 0)]
        return spark.createDataFrame(
            rows, "doc_id long, text string, lang string, source string, n_chars long")

    def test_known_answers(self, spark):
        out = {r["doc_id"]: r.asDict()
               for r in text.line_repetition_stats(self._docs(spark)).collect()}
        assert out[1]["n_lines"] == 5 and out[1]["n_distinct_lines"] == 3
        assert abs(out[1]["dup_line_frac"] - 2 / 5) < 1e-12
        assert out[1]["line_repetitive"] is True
        assert out[2]["dup_line_frac"] == 0.0 and out[2]["line_repetitive"] is False
        assert out[3]["n_lines"] == 2 and out[3]["n_distinct_lines"] == 1
        assert out[3]["line_repetitive"] is True                # both lines duplicated
        assert out[4]["n_lines"] == 0 and out[4]["dup_line_frac"] is None
        assert out[4]["line_repetitive"] is False

    def test_oracle_parity_on_crafted_docs(self, spark, tmp_path):
        import shutil

        import pyarrow as pa
        import pyarrow.parquet as pq

        import __spark_entry__ as entry_mod
        from tests.oracle_harness import TABLES, compare

        sf_dir = str(tmp_path / "crafted_sf")
        (tmp_path / "crafted_sf").mkdir()
        for t in TABLES:
            if t != "documents":
                shutil.copy(f"/root/testdata/sf0.001/{t}.parquet", f"{sf_dir}/{t}.parquet")
        pq.write_table(pa.Table.from_pandas(self._docs(spark).toPandas(),
                                            preserve_index=False),
                       f"{sf_dir}/documents.parquet")
        qs, oracles = entry_mod.queries(), entry_mod.oracle_sql()
        compare(spark, qs["d21_line_repetition"], oracles["d21_line_repetition"],
                sf_dir, "d21")


class TestCharLM:
    def test_char_bigrams_edges(self, spark):
        df = spark.createDataFrame(
            [(1, "abc"), (2, "ab"), (3, "a"), (4, ""), (5, None)],
            StructType([StructField("id", LongType()), StructField("text", StringType())]),
        )
        out = {r["id"]: r["g"] for r in df.select("id", text.char_bigrams("text").alias("g")).collect()}
        assert out == {1: ["ab", "bc"], 2: ["ab"], 3: [], 4: [], 5: None}

    def test_charlm_nll_matches_hand_model(self, spark):
        import math

        # train: "abab" + "abba" -> V=2; model ab:3 ba:2 bb:1; c1n a:3 b:3
        train = spark.createDataFrame(
            [(100, "abab"), (101, "abba")], "doc_id long, text string")
        docs = spark.createDataFrame(
            [(1, "aba"),    # seen grams: ab, ba
             (2, "ba c"),   # unseen gram "a " (seen ctx) + unseen ctx " "
             (3, "a"),      # too short -> 0 grams
             (4, None)],    # NULL -> 0 grams
            "doc_id long, text string")
        out = {r["doc_id"]: r.asDict()
               for r in text.charlm_nll(docs, train).collect()}

        def t(c1n, c12, v=2):
            return round(math.log((c1n + v) / (c12 + 1)), 6)

        assert out[1]["n_grams"] == 2
        assert abs(out[1]["nll6"] - (t(3, 3) + t(3, 2))) < 1e-9
        assert abs(out[1]["avg_nll"] - (t(3, 3) + t(3, 2)) / 2) < 1e-9
        # "ba c" -> grams: "ba", "a ", " c"
        exp2 = t(3, 2) + t(3, 0) + t(0, 0)
        assert out[2]["n_grams"] == 3 and abs(out[2]["nll6"] - exp2) < 1e-9
        for d in (3, 4):
            assert out[d]["n_grams"] == 0
            assert out[d]["nll6"] == 0.0 and out[d]["avg_nll"] == 0.0

    def test_charlm_nll_flags_ood_text(self, spark):
        train = spark.createDataFrame(
            [(i, "the quick brown fox jumps over the lazy dog and runs on")
             for i in range(5)], "doc_id long, text string")
        docs = spark.createDataFrame(
            [(1, "the quick dog runs over the fox"),
             (2, "zzxqj wqkz jjqx zzzq xqzj")],
            "doc_id long, text string")
        out = {r["doc_id"]: r["avg_nll"]
               for r in text.charlm_nll(docs, train).collect()}
        assert out[2] > out[1] + 0.5     # OOD text scores clearly worse


class TestDsirImportance:
    def test_dsir_matches_hand_model(self, spark):
        import hashlib, math

        def bucket(g, B=512):
            return int(hashlib.md5(g.encode()).hexdigest()[:8], 16) % B

        raw = [(1, "a b"), (2, "c d"), (3, "a b a b")]
        target_ids = {1}
        docs = spark.createDataFrame(raw + [(4, None), (5, "   ")],
                                     "doc_id long, text string")
        target = docs.filter(F.col("doc_id").isin(*target_ids))
        out = {r["doc_id"]: r.asDict()
               for r in text.dsir_importance(docs, target).collect()}

        # hand model: unigrams + bigrams, Laplace over 512 buckets
        def feats(t):
            w = t.split()
            return [bucket(g) for g in w + [" ".join(p) for p in zip(w, w[1:])]]
        tc, rc = {}, {}
        for i, t in raw:
            for b in feats(t):
                rc[b] = rc.get(b, 0) + 1
                if i in target_ids:
                    tc[b] = tc.get(b, 0) + 1
        tn, rn = float(sum(tc.values())), float(sum(rc.values()))
        for i, t in raw:
            fs = feats(t)
            exp = sum(round(math.log(((tc.get(b, 0) + 1.0) / (tn + 512.0))
                                     / ((rc[b] + 1.0) / (rn + 512.0))), 6)
                      for b in fs)
            assert out[i]["n_feats"] == len(fs)
            assert abs(out[i]["logw6"] - exp) < 1e-9
            assert abs(out[i]["avg_logw"] - exp / len(fs)) < 1e-9
        for i in (4, 5):   # NULL / whitespace-only text -> zero features
            assert out[i]["n_feats"] == 0
            assert out[i]["logw6"] == 0.0 and out[i]["avg_logw"] == 0.0

    def test_dsir_ranks_target_like_docs_higher(self, spark):
        tgt_text = "the quick brown fox jumps over the lazy dog"
        docs = spark.createDataFrame(
            [(1, tgt_text), (2, "zz xq jj wk qq pp rr ss tt uu")]
            + [(10 + i, tgt_text) for i in range(3)],
            "doc_id long, text string")
        target = docs.filter(F.col("doc_id") >= 10)
        out = {r["doc_id"]: r["avg_logw"]
               for r in text.dsir_importance(docs, target).collect()}
        assert out[1] > out[2] + 0.1   # target-like doc scores clearly higher

    def test_dsir_oracle_parity_on_crafted_edges(self, spark, tmp_path):
        """Cross-engine parity on crafted edge docs: NULL text,
        whitespace-only, single token (no bigrams), repeated grams,
        multi-whitespace runs, and a lang mix (incl. an empty 'en'
        bigram side)."""
        import shutil
        import pyarrow as pa
        import pyarrow.parquet as pq
        import __spark_entry__ as entry_mod
        from tests.oracle_harness import TABLES, compare

        sf_dir = str(tmp_path / "crafted_sf")
        (tmp_path / "crafted_sf").mkdir()
        for t in TABLES:
            if t != "documents":
                shutil.copy(f"/root/testdata/sf0.001/{t}.parquet", f"{sf_dir}/{t}.parquet")
        docs = spark.createDataFrame(
            [(1, "en", "the quick brown fox"),
             (2, "en", "the  quick\tbrown\nfox"),     # whitespace runs
             (3, "en", "solo"),                        # 1 token, 0 bigrams
             (4, "de", "der schnelle braune fuchs"),
             (5, "de", "the quick brown fox"),         # target-like non-target
             (6, "en", None),                          # NULL text
             (7, "de", "   "),                         # whitespace-only
             (8, "en", "dup dup dup dup")],            # repeated grams
            "doc_id long, lang string, text string")
        pq.write_table(pa.Table.from_pandas(docs.toPandas(), preserve_index=False),
                       f"{sf_dir}/documents.parquet")
        qs, oracles = entry_mod.queries(), entry_mod.oracle_sql()
        compare(spark, qs["d24_dsir_importance"], oracles["d24_dsir_importance"],
                sf_dir, "d24")


class TestSelectionPipeline:
    def test_c02_gates_and_budget_compose(self, spark, sf_small):
        """The composed triad honors each member's contract: every
        selected doc passed BOTH score gates, per-source running sums
        never exceed the budget, and cum_tokens is the id-ordered
        running sum of n_tokens."""
        import __spark_entry__ as entry_mod

        qs = entry_mod.queries()
        sel = qs["c02_selection_pipeline"](spark, sf_small).collect()
        assert sel, "fixture should select a nonempty corpus"

        nll_ok = {r["doc_id"] for r in qs["d23_charlm_quality"](spark, sf_small)
                  .filter("n_grams > 0 AND avg_nll <= 1.76").collect()}
        dsir_ok = {r["doc_id"] for r in qs["d24_dsir_importance"](spark, sf_small)
                   .filter("n_feats > 0 AND avg_logw >= -0.005").collect()}
        per_src = {}
        for r in sel:
            assert r["doc_id"] in nll_ok and r["doc_id"] in dsir_ok
            per_src.setdefault(r["source"], []).append(
                (r["doc_id"], r["n_tokens"], r["cum_tokens"]))
        for rows in per_src.values():
            rows.sort()
            run = 0
            for _, n, cum in rows:
                run += n
                assert cum == run and cum <= 1500

    def test_charlm_calibrate_matches_hand_quantile(self, spark, sf_small):
        """charlm_calibrate == the exact interpolated median of the ref
        slice's own avg_nll distribution, and gating with it rejects
        exactly the docs a hand-computed threshold rejects (r10 verdict
        #2: calibration is a library op, not harness copy-paste)."""
        import numpy as np

        docs = spark.read.parquet(f"{sf_small}/documents.parquet")
        ref = docs.filter("lang = 'en' AND text IS NOT NULL AND length(text) >= 2") \
                  .select("doc_id", "text")
        thr = text.charlm_calibrate(ref)
        scored = text.charlm_nll(ref, ref)
        vals = np.array([r["avg_nll"] for r in scored.collect()
                         if r["n_grams"] > 0])
        hand = float(np.percentile(vals, 50.0))   # linear interp = F.percentile
        assert abs(thr - hand) < 1e-9
        lib_reject = {r["doc_id"] for r in scored.collect()
                      if not (r["n_grams"] > 0 and r["avg_nll"] <= thr)}
        hand_reject = {r["doc_id"] for r in scored.collect()
                       if not (r["n_grams"] > 0 and r["avg_nll"] <= hand)}
        assert lib_reject == hand_reject
        # quantile knob: a stricter q keeps fewer
        assert text.charlm_calibrate(ref, q=0.1) <= thr

    def test_dsir_calibrate_keeps_fraction(self, spark, sf_small):
        """dsir_calibrate == the exact (1-keep_frac) quantile of the
        pool's avg_logw, and gating with it keeps ~keep_frac of the
        scorable pool."""
        import numpy as np

        docs = spark.read.parquet(f"{sf_small}/documents.parquet")
        target = docs.filter("lang = 'en'")
        thr = text.dsir_calibrate(docs, target, keep_frac=0.5)
        scored = text.dsir_importance(docs, target).collect()
        vals = np.array([r["avg_logw"] for r in scored if r["n_feats"] > 0])
        assert abs(thr - float(np.percentile(vals, 50.0))) < 1e-9
        kept = sum(1 for v in vals if v >= thr)
        assert 0.4 <= kept / len(vals) <= 0.6

    def test_calibrate_input_validation(self, spark):
        import pytest as _pytest

        empty = spark.createDataFrame([(None,)], "text string")
        some = spark.createDataFrame([("hello world",)], "text string")
        with _pytest.raises(ValueError, match="q must"):
            text.charlm_calibrate(some, q=1.5)
        with _pytest.raises(ValueError, match="keep_frac"):
            text.dsir_calibrate(some, some, keep_frac=0.0)
        with _pytest.raises(ValueError, match="no scorable"):
            text.charlm_calibrate(empty)
        with _pytest.raises(ValueError, match="no scorable"):
            text.dsir_calibrate(empty, some)


class TestBpeTrain:
    def _ref_bpe(self, word_counts, k, min_count=2):
        """Independent single-node BPE (Sennrich alg. 1, dict-based):
        the equivalence reference for the distributed operator."""
        words = {tuple(w): c for w, c in word_counts.items()}
        merges = []
        for rank in range(k):
            pairs = {}
            for syms, c in words.items():
                for a, b in zip(syms, syms[1:]):
                    pairs[(a, b)] = pairs.get((a, b), 0) + c
            pairs = {p: c for p, c in pairs.items() if c >= min_count}
            if not pairs:
                break
            (l, r), c = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))
            merges.append((rank, l, r, c))
            new = {}
            for syms, cnt in words.items():
                out, i = [], 0
                while i < len(syms):          # greedy left-to-right
                    if i + 1 < len(syms) and syms[i] == l and syms[i + 1] == r:
                        out.append(l + r)
                        i += 2
                    else:
                        out.append(syms[i])
                        i += 1
                new[tuple(out)] = new.get(tuple(out), 0) + cnt
            words = new
        return merges

    def _train(self, spark, docs, k, min_count=2):
        rows = text.bpe_train(docs, k=k, min_count=min_count).collect()
        return [(r["merge_rank"], r["lhs"], r["rhs"], r["pair_count"])
                for r in sorted(rows)]

    def test_matches_reference_bpe(self, spark):
        """Distributed merge table == the classic single-node algorithm
        on a corpus with ties, runs, and multi-char merges."""
        corpus = ["low low low low low", "lower lower newest newest",
                  "newest newest newest newest", "widest widest widest"]
        docs = spark.createDataFrame([(i, t) for i, t in enumerate(corpus)],
                                     "doc_id long, text string")
        wc = {}
        for t in corpus:
            for w in t.split():
                wc[w] = wc.get(w, 0) + 1
        assert self._train(spark, docs, 8) == self._ref_bpe(wc, 8)

    def test_greedy_overlap_runs(self, spark):
        """Overlap semantics: 'aaa' merges once (aa,a), 'aaaa' twice —
        the fold must not re-merge a freshly fused symbol."""
        docs = spark.createDataFrame(
            [(1, "aaa aaa"), (2, "aaaa aaaa"), (3, "aa")],
            "doc_id long, text string")
        wc = {"aaa": 2, "aaaa": 2, "aa": 1}
        got = self._train(spark, docs, 4, min_count=1)
        assert got == self._ref_bpe(wc, 4, min_count=1)
        # round 0 merges (a,a); count = 2·2 + 3·2 + 1 adjacent pairs
        assert got[0] == (0, "a", "a", 11)

    def test_early_stop_and_validation(self, spark):
        import pytest as _pytest

        docs = spark.createDataFrame([(1, "ab cd")], "doc_id long, text string")
        # every pair occurs once < min_count=2: zero merges learned
        assert self._train(spark, docs, 5) == []
        with _pytest.raises(ValueError, match="k must"):
            text.bpe_train(docs, k=0)
        with _pytest.raises(ValueError, match="batch_max"):
            text.bpe_train(docs, k=1, batch_max=0)

    def test_batched_rounds_equal_sequential(self, spark, sf_small):
        """The batched trainer (r11 verdict #2) must be merge-for-merge
        IDENTICAL to the one-merge-per-round loop — the batch selection
        (compatible rank prefix, barrier trim, fused-collision batch
        close) is proven conservative, and this pins it on real corpus
        text where batches actually form."""
        docs = spark.read.parquet(f"{sf_small}/documents.parquet").select(
            "doc_id", "text").limit(150)
        seq = [(r["merge_rank"], r["lhs"], r["rhs"], r["pair_count"])
               for r in sorted(text.bpe_train(docs, k=24, batch_max=1).collect())]
        bat = [(r["merge_rank"], r["lhs"], r["rhs"], r["pair_count"])
               for r in sorted(text.bpe_train(docs, k=24, batch_max=32).collect())]
        assert bat == seq and len(seq) == 24

    def test_greedy_mode_equals_sequential_on_overlap_fixtures(self, spark):
        """exact=False (fast-trainer max-compatible-set batching) on
        overlap-heavy runs: every top candidate shares symbols, the set
        collapses to one merge per round, and the table equals the
        sequential reference exactly."""
        docs = spark.createDataFrame(
            [(1, "aaa aaa"), (2, "aaaa aaaa"), (3, "aa")],
            "doc_id long, text string")
        wc = {"aaa": 2, "aaaa": 2, "aa": 1}
        got = [(r["merge_rank"], r["lhs"], r["rhs"], r["pair_count"])
               for r in sorted(text.bpe_train(
                   docs, k=4, min_count=1, exact=False).collect())]
        assert got == self._ref_bpe(wc, 4, min_count=1)

    def test_greedy_mode_vocab_quality_parity(self, spark, sf_small):
        """exact=False may reorder borderline merges but must learn
        essentially the same vocabulary (high set overlap with the
        sequential table) and compress the corpus as well (bpe_encode
        n_symbols parity within 2%) — the fast path is a quality
        equivalent, not an approximation of convenience."""
        docs = spark.read.parquet(f"{sf_small}/documents.parquet").select(
            "doc_id", "text").limit(150)
        seq = text.bpe_train(docs, k=48, min_count=1, batch_max=1)
        grd = text.bpe_train(docs, k=48, min_count=1, exact=False)
        # PAIR-level overlap is the wrong metric — greedy reaches the
        # same subwords via different merge paths (colu+m+n vs
        # co+lumn), so compare the VOCABULARY (fused strings) and the
        # objective (corpus compression).
        sv = {r["lhs"] + r["rhs"] for r in seq.collect()}
        gv = {r["lhs"] + r["rhs"] for r in grd.collect()}
        assert len(sv & gv) / len(sv) >= 0.6
        n_seq = sum(r["n_symbols"] for r in text.bpe_encode(docs, seq).collect())
        n_grd = sum(r["n_symbols"] for r in text.bpe_encode(docs, grd).collect())
        assert abs(n_seq - n_grd) / n_seq < 0.02

    def test_batched_flat_counts_degenerate_to_sequential(self, spark):
        """All-equal pair counts: the barrier equals every count, the
        trim collapses each batch to one merge, and the tie-break order
        must match the reference exactly."""
        docs = spark.createDataFrame(
            [(1, "ab ab cd cd ef ef gh gh"), (2, "ab cd ef gh")],
            "doc_id long, text string")
        wc = {"ab": 3, "cd": 3, "ef": 3, "gh": 3}
        got = self._train(spark, docs, 4, min_count=2)
        assert got == self._ref_bpe(wc, 4, min_count=2)

    def test_encode_compresses_with_learned_merges(self, spark):
        docs = spark.createDataFrame(
            [(1, "low low lowest"), (2, None), (3, "low")],
            "doc_id long, text string")
        merges = text.bpe_train(docs, k=3, min_count=2)
        enc = {r["doc_id"]: (r["n_words"], r["n_symbols"])
               for r in text.bpe_encode(docs, merges).collect()}
        assert 2 not in enc                      # NULL text: no words
        assert enc[1][0] == 3
        # 'low' appears 3x -> (l,o) then (lo,w) learned: 'low' is ONE
        # symbol, 'lowest' = low+e+s+t = 4
        assert enc[1][1] == 1 + 1 + 4 and enc[3] == (1, 1)

    def test_encode_ids_roundtrip_and_count_consistency(self, spark, sf_small):
        """bpe_encode_ids (r12 — the id sequences a training pipeline
        actually emits): (a) mapping ids back through the vocab and
        concatenating must reproduce each document's whitespace words
        in order (lossless tokenization over the vocab's alphabet);
        (b) n_tokens must equal bpe_encode's n_symbols doc for doc —
        the two routes share one greedy-apply semantics."""
        docs = spark.read.parquet(f"{sf_small}/documents.parquet").select(
            "doc_id", "text").limit(60)
        merges = text.bpe_train(docs, k=12, min_count=2)
        vocab = text.bpe_vocab(docs, merges)
        vrows = vocab.collect()
        id2tok = {r["token_id"]: r["token"] for r in vrows}
        assert len(id2tok) == len(vrows)            # ids are unique
        enc = {r["doc_id"]: list(r["token_ids"]) for r in
               text.bpe_encode_ids(docs, merges, vocab).collect()}
        counts = {r["doc_id"]: r["n_symbols"] for r in
                  text.bpe_encode(docs, merges).collect()}
        assert set(enc) == set(counts)
        texts = {r["doc_id"]: r["text"] for r in docs.collect()}
        for did, ids in enc.items():
            assert len(ids) == counts[did]
            assert all(i >= 0 for i in ids)         # corpus-built vocab: no UNK
            assert "".join(id2tok[i] for i in ids) == "".join(texts[did].split())

    def test_vocab_dedupes_colliding_fused_tokens(self, spark):
        """ADVICE r12: two merges can fuse to the same string — (b,c)
        then (a,bc), and (a,b) then (ab,c), both yield 'abc'. The vocab
        must stay a token↔id bijection, keeping the LOWEST merge_rank
        (the id a rank-order replay reaches first)."""
        docs = spark.createDataFrame([(1, "abc")], "doc_id long, text string")
        merges = spark.createDataFrame(
            [("b", "c", 0), ("a", "bc", 1), ("a", "b", 2), ("ab", "c", 3)],
            "lhs string, rhs string, merge_rank long")
        rows = text.bpe_vocab(docs, merges).collect()
        toks = [r["token"] for r in rows]
        assert len(toks) == len(set(toks))           # bijection
        by_tok = {r["token"]: r["token_id"] for r in rows}
        # base = {a,b,c} -> n_base=3; 'abc' keeps rank 1 -> id 4, and
        # rank-3's duplicate fuse never ships
        assert by_tok["abc"] == 3 + 1
        assert sorted(by_tok) == ["a", "ab", "abc", "b", "bc", "c"]

    def test_encode_ids_unk_for_unseen_chars(self, spark):
        """Characters absent from the vocab-building corpus map to
        unk_id instead of failing or silently dropping."""
        train = spark.createDataFrame([(1, "abba abab")], "doc_id long, text string")
        merges = text.bpe_train(train, k=2, min_count=1)
        vocab = text.bpe_vocab(train, merges)
        new = spark.createDataFrame([(9, "abba xyz")], "doc_id long, text string")
        row = text.bpe_encode_ids(new, merges, vocab, unk_id=-7).collect()[0]
        ids = list(row["token_ids"])
        assert ids.count(-7) == 3 and row["n_tokens"] == len(ids)

    def test_encode_kernel_route_matches_unrolled_route(self, spark, sf_small):
        """Past max_unrolled_merges the encode switches from the chained
        Catalyst fold to the Arrow kernel (ADVICE r11: depth-k trees
        don't survive realistic vocab sizes). Both routes must be
        pass-for-pass identical — same greedy left-to-right
        non-overlapping application per rule — on real corpus text
        including overlap-heavy runs."""
        docs = spark.read.parquet(f"{sf_small}/documents.parquet").select(
            "doc_id", "text").limit(40).unionAll(
            spark.createDataFrame(
                [(9001, "aaaa aaa aa a aaaaa"), (9002, "banana bandana")],
                "doc_id long, text string"))
        merges = text.bpe_train(docs, k=6, min_count=2)
        unrolled = {r["doc_id"]: (r["n_words"], r["n_symbols"])
                    for r in text.bpe_encode(docs, merges).collect()}
        kernel = {r["doc_id"]: (r["n_words"], r["n_symbols"])
                  for r in text.bpe_encode(
                      docs, merges, max_unrolled_merges=0).collect()}
        assert unrolled == kernel and len(unrolled) > 10



class TestIvfPq:
    def test_codebook_shape_and_determinism(self, spark, sf_small):
        embs = spark.read.parquet(f"{sf_small}/embeddings.parquet")
        b1 = similarity.pq_codebooks(embs, m=8, k_pq=16, kmeans_iters=1)
        rows1 = {(r["sub"], r["code"]): tuple(r["sub_cv"]) for r in b1.collect()}
        assert len(rows1) == 8 * 16
        assert all(len(v) == 8 for v in rows1.values())
        rows2 = {(r["sub"], r["code"]): tuple(r["sub_cv"])
                 for r in similarity.pq_codebooks(
                     embs, m=8, k_pq=16, kmeans_iters=1).collect()}
        assert rows1 == rows2                     # bit-identical re-run
        seeds = {(r["sub"], r["code"]): tuple(r["sub_cv"])
                 for r in similarity.pq_codebooks(
                     embs, m=8, k_pq=16, kmeans_iters=0).collect()}
        assert seeds.keys() == rows1.keys()
        assert seeds != rows1                     # refinement moved centroids

    def test_ivf_pq_recall_on_planted_clusters(self, spark):
        """PQ preserves neighbor structure where it EXISTS (the paper's
        regime): 8 planted clusters of near-identical vectors — ADC
        top-3 must recover the cluster peers. (On the isotropic random
        fixture, true cosines sit at the noise floor and quantization
        recall collapses by construction — measured 78% reconstruction
        error — so the fixture pins only output invariants below.)"""
        import numpy as np

        rng = np.random.default_rng(7)
        bases = rng.normal(size=(8, 64))
        rows = []
        for g in range(8):
            for i in range(4):
                v = bases[g] + 0.01 * rng.normal(size=64)
                rows.append((g * 10 + i, [float(x) for x in v]))
        embs = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        q = embs.filter("vec_id % 10 = 0")
        got = {}
        for r in similarity.knn_ivf_pq(embs, q, k=3, n_centroids=8,
                                       n_probe=3, m=8, k_pq=8).collect():
            assert 1 <= r["knn_rank"] <= 3 and r["query_id"] != r["neighbor_id"]
            got.setdefault(r["query_id"], set()).add(r["neighbor_id"])
        hits = total = 0
        for g in range(8):
            want = {g * 10 + i for i in range(1, 4)}
            hits += len(got.get(g * 10, set()) & want)
            total += 3
        assert hits / total >= 0.9, f"planted recall {hits}/{total}"

    def test_ivf_pq_fixture_invariants(self, spark, sf_small):
        embs = spark.read.parquet(f"{sf_small}/embeddings.parquet")
        q = embs.filter("vec_id < 20")
        got = {}
        for r in similarity.knn_ivf_pq(embs, q, k=3, n_centroids=16,
                                       n_probe=4, m=8, k_pq=16).collect():
            assert 1 <= r["knn_rank"] <= 3 and r["query_id"] != r["neighbor_id"]
            got.setdefault(r["query_id"], set()).add(r["neighbor_id"])
        assert len(got) == 20                     # every query answered
        assert all(len(v) == 3 for v in got.values())

    def test_ivf_pq_validation(self, spark):
        embs = spark.createDataFrame(
            [(1, [1.0] * 64)], "vec_id long, embedding array<double>")
        import pytest as _pytest
        with _pytest.raises(ValueError, match="divisible"):
            similarity.knn_ivf_pq(embs, embs, m=7)
        with _pytest.raises(ValueError, match="divisible"):
            similarity.pq_codebooks(embs, m=7)

    def test_residual_pq_on_planted_clusters(self, spark):
        """IVFADC's residual encoding: on planted-cluster data the
        residual variant must recover cluster peers at least as well
        as flat PQ (residuals concentrate near the origin — the same
        code budget quantizes them finer, the paper's §III claim)."""
        import numpy as np

        rng = np.random.default_rng(11)
        bases = rng.normal(size=(8, 64))
        rows = []
        for g in range(8):
            for i in range(4):
                v = bases[g] + 0.02 * rng.normal(size=64)
                rows.append((g * 10 + i, [float(x) for x in v]))
        embs = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        q = embs.filter("vec_id % 10 = 0")

        def recall(df):
            got = {}
            for r in df.collect():
                got.setdefault(r["query_id"], set()).add(r["neighbor_id"])
            hits = sum(len(got.get(g * 10, set())
                           & {g * 10 + i for i in range(1, 4)})
                       for g in range(8))
            return hits / 24

        flat = recall(similarity.knn_ivf_pq(
            embs, q, k=3, n_centroids=8, n_probe=3, m=8, k_pq=8))
        resid = recall(similarity.knn_ivf_pq_residual(
            embs, q, k=3, n_centroids=8, n_probe=3, m=8, k_pq=8))
        assert resid >= flat and resid >= 0.9, (flat, resid)

    def test_residual_pq_output_and_validation(self, spark, sf_small):
        embs = spark.read.parquet(f"{sf_small}/embeddings.parquet")
        q = embs.filter("vec_id < 5")
        out = similarity.knn_ivf_pq_residual(embs, q, k=3).collect()
        by_q = {}
        for r in out:
            assert r["adc_dist"] >= 0 and r["query_id"] != r["neighbor_id"]
            by_q.setdefault(r["query_id"], []).append((r["knn_rank"], r["adc_dist"]))
        for rows in by_q.values():
            rows.sort()
            dists = [d for _, d in rows]
            assert dists == sorted(dists)          # rank follows distance
        import pytest as _pytest
        with _pytest.raises(ValueError, match="divisible"):
            similarity.knn_ivf_pq_residual(embs, q, m=7)


class TestChunking:
    def _chunks(self, spark, text, size, stride):
        df = spark.createDataFrame([(1, text)], "doc_id long, text string")
        from spaceparts_data_pipeline_spark.operators.text import chunk_documents
        return sorted(
            chunk_documents(df, chunk_size=size, stride=stride).collect(),
            key=lambda r: r["chunk_id"])

    def test_overlap_covers_every_char(self, spark):
        t = "abcdefghijklmnopqrstuvwxyz"  # 26 chars
        rows = self._chunks(spark, t, size=10, stride=7)
        # starts 0,7,14,21 -> ceil((26-10)/7)=3 -> 4 chunks
        assert [r["chunk_start"] for r in rows] == [1, 8, 15, 22]
        assert rows[0]["chunk_text"] == t[0:10]
        assert rows[-1]["chunk_text"] == t[21:26]  # clipped tail
        covered = set()
        for r in rows:
            covered.update(range(r["chunk_start"], r["chunk_start"] + r["n_chunk_chars"]))
        assert covered == set(range(1, len(t) + 1))

    def test_short_doc_single_chunk(self, spark):
        for t in ("abc", "abcdefghij"):  # len < size and len == size
            rows = self._chunks(spark, t, size=10, stride=7)
            assert len(rows) == 1 and rows[0]["chunk_text"] == t

    def test_null_and_empty_dropped(self, spark):
        from spaceparts_data_pipeline_spark.operators.text import chunk_documents
        df = spark.createDataFrame(
            [(1, None), (2, "   "), (3, "xy")], "doc_id long, text string")
        rows = chunk_documents(df, chunk_size=4, stride=2).collect()
        assert [r["doc_id"] for r in rows] == [3]


class TestGlobalLineDedup:
    def test_canonical_occurrence_wins(self, spark):
        from spaceparts_data_pipeline_spark.operators.text import global_line_dedup
        docs = [
            (1, "shared one\nunique a\nshared two"),
            (2, "shared one\nunique b"),     # loses 'shared one' to doc 1
            (3, "shared one\nshared two"),   # loses everything -> dropped
        ]
        df = spark.createDataFrame(docs, "doc_id long, text string")
        out = {r["doc_id"]: r for r in global_line_dedup(df).collect()}
        assert out[1]["text_dedup"] == "shared one\nunique a\nshared two"
        assert (out[1]["n_lines"], out[1]["n_kept"]) == (3, 3)
        assert out[2]["text_dedup"] == "unique b"
        assert (out[2]["n_lines"], out[2]["n_kept"]) == (2, 1)
        assert 3 not in out

    def test_within_doc_repeat_keeps_first(self, spark):
        from spaceparts_data_pipeline_spark.operators.text import global_line_dedup
        df = spark.createDataFrame(
            [(5, "rep\nmid\nrep")], "doc_id long, text string")
        r = global_line_dedup(df).collect()[0]
        assert r["text_dedup"] == "rep\nmid"
        assert (r["n_lines"], r["n_kept"]) == (3, 2)

    def test_empty_lines_ignored(self, spark):
        from spaceparts_data_pipeline_spark.operators.text import global_line_dedup
        df = spark.createDataFrame(
            [(7, "a\n\n  \nb"), (8, None)], "doc_id long, text string")
        r = {x["doc_id"]: x for x in global_line_dedup(df).collect()}
        assert r[7]["text_dedup"] == "a\nb" and r[7]["n_lines"] == 2
        assert 8 not in r


class TestBpeDecode:
    def test_roundtrip_equals_word_concat(self, spark):
        docs = [
            (1, "low lower lowest"),
            (2, "new newer newest"),
            (3, "low new low"),
        ]
        df = spark.createDataFrame(docs, "doc_id long, text string")
        merges = text.bpe_train(df, k=6, min_count=1)
        vocab = text.bpe_vocab(df, merges)
        ids = text.bpe_encode_ids(df, merges, vocab)
        out = {r["doc_id"]: r["text_decoded"]
               for r in text.bpe_decode(ids, vocab).collect()}
        for doc_id, t in docs:
            assert out[doc_id] == t.replace(" ", "")

    def test_unknown_id_decodes_empty(self, spark):
        ids = spark.createDataFrame(
            [(1, [0, 999, 1])], "doc_id long, token_ids array<int>")
        vocab = spark.createDataFrame(
            [("a", 0), ("b", 1)], "token string, token_id int")
        r = text.bpe_decode(ids, vocab).collect()[0]
        assert r["text_decoded"] == "ab"


class TestEpochUpsample:
    def test_copies_and_epoch_indices(self, spark):
        from spaceparts_data_pipeline_spark.operators.text import epoch_upsample, hash_bucket
        df = spark.createDataFrame(
            [(i, "a") for i in range(50)] + [(i + 100, "b") for i in range(50)]
            + [(200, "drop"), (201, "other")],
            "doc_id long, source string")
        out = epoch_upsample(df, {"a": 2.5, "b": 0.4, "drop": 0.0}).collect()
        by_doc = {}
        for r in out:
            by_doc.setdefault(r["doc_id"], []).append(r)
        # per-doc copy counts follow the md5 bucket exactly
        buckets = {r["doc_id"]: r["bkt"] for r in df.select(
            "doc_id", hash_bucket("doc_id").alias("bkt")).collect()}
        for i in range(50):
            expect = 2 + (1 if buckets[i] < 50 else 0)
            rows = by_doc[i]
            assert len(rows) == expect and rows[0]["n_copies"] == expect
            assert sorted(r["epoch"] for r in rows) == list(range(expect))
        for i in range(50):
            expect = 1 if buckets[i + 100] < 40 else 0
            assert len(by_doc.get(i + 100, [])) == expect
        assert 200 not in by_doc              # e=0.0 drops the source
        assert len(by_doc[201]) == 1          # unlisted source passes through
        assert by_doc[201][0]["epoch"] == 0

    def test_fraction_is_exact_over_full_buckets(self, spark):
        from spaceparts_data_pipeline_spark.operators.text import epoch_upsample, hash_bucket
        # one doc per md5 bucket -> the realized fraction is EXACTLY 40/100
        ids, seen = [], set()
        i = 0
        while len(seen) < 100:
            b = None
            # compute bucket driver-side via the same md5 formula
            import hashlib
            b = int(hashlib.md5(str(i).encode()).hexdigest()[:8], 16) % 100
            if b not in seen:
                seen.add(b)
                ids.append(i)
            i += 1
        df = spark.createDataFrame([(j, "s") for j in ids], "doc_id long, source string")
        out = epoch_upsample(df, {"s": 1.4}).collect()
        assert len(out) == 100 + 40

    def test_half_scaled_fraction_rounds_half_up(self, spark):
        """round-13 ADVICE: Python round() is banker's (half-even), so
        epochs=1.125 with buckets=100 gave threshold 12, not the 13 a
        hand-written half-up oracle computes. The threshold must round
        half UP so 'exactly the requested fraction repeats' holds on
        .5-scaled recipes too: 1.125 -> 13 buckets repeat."""
        from spaceparts_data_pipeline_spark.operators.text import epoch_upsample

        import hashlib
        ids, seen = [], set()
        i = 0
        while len(seen) < 100:
            b = int(hashlib.md5(str(i).encode()).hexdigest()[:8], 16) % 100
            if b not in seen:
                seen.add(b)
                ids.append(i)
            i += 1
        df = spark.createDataFrame([(j, "s") for j in ids], "doc_id long, source string")
        out = epoch_upsample(df, {"s": 1.125}).collect()
        assert len(out) == 100 + 13  # half-even would give 112

    def test_float_noise_fraction_still_rounds_half_up(self, spark):
        """r14 advice: the half-up fix computed on raw floats, so
        epochs=1.015 scaled to 1.4999999999999902 and floored to 1
        where a decimal half-up oracle computes 2. The scaled fraction
        must be snapped to decimals before the half-up step."""
        import hashlib

        from spaceparts_data_pipeline_spark.operators.text import epoch_upsample

        ids, seen = [], set()
        i = 0
        while len(seen) < 100:
            b = int(hashlib.md5(str(i).encode()).hexdigest()[:8], 16) % 100
            if b not in seen:
                seen.add(b)
                ids.append(i)
            i += 1
        df = spark.createDataFrame([(j, "s") for j in ids], "doc_id long, source string")
        out = epoch_upsample(df, {"s": 1.015}).collect()
        assert len(out) == 100 + 2  # raw-float floor would give 101


class TestDeterministicSignatures:
    def test_minhash_det_matches_hashlib_truth(self, spark):
        """Regression pin for the sibling-lambda Catalyst pitfall: num_perm
        sibling array_min(transform(...)) expressions in ONE projection get
        their same-named lambda variables conflated by subexpression
        elimination and return wrong (but deterministic!) mins — the det
        operator must keep the ONE-nested-transform form. Verified here
        against an independent hashlib ground truth."""
        import hashlib

        text = "the quick brown fox jumps over the lazy dog again and again"
        toks = text.split()
        shingles = {" ".join(toks[i:i + 3]) for i in range(len(toks) - 2)}
        truth = [
            min(int(hashlib.md5(f"{p}:{s}".encode()).hexdigest()[:15], 16)
                for s in shingles)
            for p in range(8)
        ]
        df = spark.createDataFrame([(1, text), (2, text)], "doc_id long, text string")
        # identical docs must collide in all 4 bands — and that only
        # happens if every signature slot matches the true min
        pairs = dedup_fuzzy.minhash_lsh_pairs_det(df, num_perm=8, rows_per_band=2).collect()
        assert len(pairs) == 1 and pairs[0]["n_bands"] == 4
        # and the signature itself equals the hashlib truth
        from pyspark.sql import functions as F
        from spaceparts_data_pipeline_spark.operators.dedup_fuzzy import tokens_col
        with_t = df.filter("doc_id = 1").select(tokens_col("text").alias("__t"))
        shingle = F.transform(
            F.sequence(F.lit(0), F.size("__t") - 3),
            lambda i: F.concat_ws(" ", *[F.element_at("__t", (i + j + 1).cast("int")) for j in range(3)]),
        )
        sh = with_t.select(F.array_distinct(shingle).alias("__sh"))
        sig = sh.select(F.transform(
            F.sequence(F.lit(0), F.lit(7)),
            lambda p: F.array_min(F.transform("__sh", lambda s: F.conv(
                F.substring(F.md5(F.concat_ws(":", p.cast("string"), s)), 1, 15),
                16, 10).cast("long")))).alias("sig")).collect()[0]["sig"]
        assert list(sig) == truth

    def test_simhash_det_matches_python_truth(self, spark):
        import hashlib

        text = "alpha beta gamma alpha beta alpha"
        df = spark.createDataFrame([(7, text)], "doc_id long, text string")
        got = dedup_fuzzy.simhash_det(df).collect()[0]["simhash"]
        votes = [0] * 60
        for tok in text.split():
            h = int(hashlib.md5(tok.encode()).hexdigest()[:15], 16)
            for b in range(60):
                votes[b] += 1 if (h >> b) & 1 else -1
        truth = sum(1 << b for b in range(60) if votes[b] > 0)
        assert got == truth

    def test_simhash_det_near_dup_small_hamming(self, spark):
        base = ("data pipelines shuffle partitions broadcast joins columnar "
                "scans predicate pushdown vectorized execution adaptive plans") * 3
        near = base.replace("columnar", "kolumnar", 1)
        far = "completely different words about gardening tulips roses daisies"
        df = spark.createDataFrame(
            [(1, base), (2, near), (3, far)], "doc_id long, text string")
        sh = {r["doc_id"]: r["simhash"] for r in dedup_fuzzy.simhash_det(df).collect()}
        ham = lambda a, b: bin(a ^ b).count("1")
        assert ham(sh[1], sh[2]) < ham(sh[1], sh[3])
        assert ham(sh[1], sh[2]) <= 12  # one swapped token nudges few bits


class TestR16ReviewRegressions:
    """r16 fourth-sweep review findings, each pinned."""

    def test_zero_norm_embedding_yields_null_not_divide_by_zero(self, spark):
        """Under Spark 4's default ANSI mode, cosine() against an
        all-zero embedding raised DIVIDE_BY_ZERO and killed the whole
        job (one failed/padded embedding call aborts a 100 TB pass).
        Zero-norm rows must yield NULL similarity and drop out of
        top-k/threshold consumers — matching the numpy kernels, which
        drop the same rows as NaN."""
        corpus = spark.createDataFrame(
            [(1, [0.0, 0.0]), (2, [1.0, 2.0]), (3, [2.0, 4.0])],
            "vec_id long, embedding array<double>")
        out = similarity.knn_bruteforce(corpus, corpus, k=2).collect()
        by_query = {}
        for r in out:
            by_query.setdefault(r["query_id"], []).append(r["neighbor_id"])
        # the zero vector matches nothing and is matched by nothing
        assert 1 not in by_query
        assert all(1 not in v for v in by_query.values())
        assert set(by_query) == {2, 3}

    def test_asof_join_ignores_null_right_timestamps(self, spark):
        """A NULL right timestamp sorted FIRST under the window order
        and its values attached to left rows with no true predecessor —
        DuckDB ASOF (right_ts <= left_ts is NULL -> no match) says NULL."""
        import datetime as dtm

        from spaceparts_data_pipeline_spark.operators.temporal import asof_join

        left = spark.createDataFrame(
            [(1, dtm.datetime(2020, 1, 1))], "user long, ts timestamp")
        right = spark.createDataFrame(
            [(1, None, 99.0)], "user long, ts timestamp, value double")
        out = asof_join(left, right, on=["user"], left_ts="ts",
                        right_ts="ts", value_cols=["value"]).collect()
        assert len(out) == 1 and out[0]["value"] is None

    def test_sequence_packing_skips_blank_docs(self, spark):
        """split('') == [''] counted a whitespace-only doc as ONE token,
        so it survived the n_tokens>0 filter and shifted every later
        doc's packed placement by a phantom token."""
        docs = spark.createDataFrame(
            [(1, "s", "a b c"), (2, "s", "   "), (3, "s", "d e")],
            "doc_id long, source string, text string")
        out = {r["doc_id"]: r for r in
               text.sequence_packing(docs, capacity=4, shard_col="source").collect()}
        assert 2 not in out                      # blank doc gone entirely
        assert out[3]["start_seq"] == 0 and out[3]["start_offset"] == 3

    def test_redact_pii_consumes_leading_plus(self, spark):
        """'\\b\\+?' put a word boundary between two non-word chars
        (space -> '+'), which never matches — international numbers
        redacted to '+<PHONE>' with the plus left behind."""
        df = spark.createDataFrame(
            [(1, "call +49 171 2345678 now")], "id long, t string")
        out = df.select(text.redact_pii("t").alias("r")).collect()[0]["r"]
        assert out == "call <PHONE> now"

    def test_frame_sample_plan_skips_unknown_duration(self, spark):
        """NULL/zero duration used to plan a phantom frame at t=0; a
        short-but-real video still gets its one frame."""
        from spaceparts_data_pipeline_spark.operators.multimodal import frame_sample_plan

        assets = spark.createDataFrame(
            [(1, "video", None), (2, "video", 0), (3, "video", 500),
             (4, "video", 2500), (5, "image", 9000)],
            "asset_id long, media_type string, meta_duration_ms long")
        out = {}
        for r in frame_sample_plan(assets, every_ms=1000).collect():
            out.setdefault(r["asset_id"], []).append(r["frame_ts_ms"])
        assert 1 not in out and 2 not in out and 5 not in out
        assert out[3] == [0]                     # short real video: one frame
        assert out[4] == [0, 1000]

    def test_type_hints_detects_negative_epoch_magnitude(self, spark):
        """The min aggregate existed but was never read, so an
        all-negative (pre-1970) ns-epoch column — max near zero —
        escaped epoch detection."""
        from spaceparts_data_pipeline_spark.operators.profiling import type_hints

        df = spark.createDataFrame(
            [(-5_000_000_000_000_000_000,), (-4_000_000_000_000_000_000,)],
            "eventdate long")
        assert type_hints(df)["eventdate"].get("epoch_unit") == "ns"
