"""Round-trip and golden tests for the stdlib media codecs (no Spark).

The decoders are implemented against the public format specs; the
round-trip tests prove encoder+decoder agree, and the filter tests
drive the PNG unfilter paths the encoder itself never emits."""

import struct
import zlib

import numpy as np
import pytest

from datacheck_spark import codecs


class TestPng:
    def test_rgb_roundtrip(self):
        rng = np.random.default_rng(1)
        px = rng.integers(0, 256, size=(13, 17, 3), dtype=np.uint8)
        d = codecs.decode_png(codecs.encode_png(px))
        assert (d["width"], d["height"], d["channels"]) == (17, 13, 3)
        assert np.array_equal(d["pixels"], px)

    def test_gray_and_rgba_roundtrip(self):
        rng = np.random.default_rng(2)
        gray = rng.integers(0, 256, size=(5, 9), dtype=np.uint8)
        d = codecs.decode_png(codecs.encode_png(gray))
        assert np.array_equal(d["pixels"][:, :, 0], gray)
        rgba = rng.integers(0, 256, size=(4, 6, 4), dtype=np.uint8)
        d = codecs.decode_png(codecs.encode_png(rgba))
        assert np.array_equal(d["pixels"], rgba)

    @pytest.mark.parametrize("ftype", [1, 2, 3, 4])
    def test_unfilter_paths(self, ftype):
        """Hand-build a PNG using each nonzero filter type and check the
        unfiltered pixels equal the reference filter inversion."""
        rng = np.random.default_rng(ftype)
        px = rng.integers(0, 256, size=(6, 5, 3), dtype=np.uint8)
        h, w, ch = px.shape
        stride = w * ch
        # forward-filter the rows per the spec
        raw = bytearray()
        prev = np.zeros(stride, dtype=np.int32)
        for y in range(h):
            cur = px[y].reshape(-1).astype(np.int32)
            filt = np.zeros(stride, dtype=np.int32)
            for x in range(stride):
                a = int(cur[x - ch]) if x >= ch else 0
                b = int(prev[x])
                c = int(prev[x - ch]) if x >= ch else 0
                if ftype == 1:
                    pred = a
                elif ftype == 2:
                    pred = b
                elif ftype == 3:
                    pred = (a + b) // 2
                else:
                    p = a + b - c
                    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                    pred = (
                        a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                    )
                filt[x] = (cur[x] - pred) & 0xFF
            raw.append(ftype)
            raw.extend(int(v) for v in filt)
            prev = cur

        def chunk(ctype, payload):
            return (
                struct.pack(">I", len(payload))
                + ctype
                + payload
                + struct.pack(
                    ">I", zlib.crc32(ctype + payload) & 0xFFFFFFFF
                )
            )

        data = (
            codecs.PNG_MAGIC
            + chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0))
            + chunk(b"IDAT", zlib.compress(bytes(raw)))
            + chunk(b"IEND", b"")
        )
        d = codecs.decode_png(data)
        assert np.array_equal(d["pixels"], px)


class TestBmp:
    def test_roundtrip_with_padding(self):
        rng = np.random.default_rng(3)
        # width 5 -> 15-byte rows padded to 16: exercises stride padding
        px = rng.integers(0, 256, size=(4, 5, 3), dtype=np.uint8)
        d = codecs.decode_bmp(codecs.encode_bmp(px))
        assert (d["width"], d["height"]) == (5, 4)
        assert np.array_equal(d["pixels"], px)


class TestWav:
    def test_roundtrip(self):
        t = np.arange(800, dtype=np.float64)
        samples = (1000 * np.sin(2 * np.pi * 440 * t / 8000)).astype("<i2")
        d = codecs.decode_wav(codecs.encode_wav(samples, 8000))
        assert d["sample_rate_hz"] == 8000
        assert d["channels"] == 1
        assert d["duration_ms"] == 100
        assert np.array_equal(d["samples"], samples)


class TestJpegHeader:
    def test_sof_dimensions(self):
        """Minimal synthetic JPEG stream: SOI + APP0 + SOF0."""
        app0 = b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00" + b"\x00" * 9
        sof0 = (
            b"\xff\xc0"
            + struct.pack(">H", 11)
            + b"\x08"
            + struct.pack(">HH", 48, 64)  # height 48, width 64
            + b"\x03"
        )
        data = b"\xff\xd8" + app0 + sof0
        if codecs._PIL:
            pytest.skip("Pillow path parses full streams only")
        d = codecs.decode_jpeg_header(data)
        assert (d["width"], d["height"], d["channels"]) == (64, 48, 3)


class TestSniff:
    def test_magic_bytes(self):
        assert codecs.sniff_format(codecs.encode_png(np.zeros((2, 2), np.uint8))) == "png"
        assert codecs.sniff_format(codecs.encode_bmp(np.zeros((2, 2, 3), np.uint8))) == "bmp"
        assert codecs.sniff_format(codecs.encode_wav(np.zeros(8, "<i2"))) == "wav"
        assert codecs.sniff_format(b"\xff\xd8\xff\xe0") == "jpeg"
        assert codecs.sniff_format(b"") == "empty"
        assert codecs.sniff_format(b"garbage") == "unknown"


def test_avi_header_roundtrip():
    """encode_avi -> decode_avi_header recovers dims, frame count, fps
    and duration from the RIFF avih header (no frame decode)."""
    from datacheck_spark.codecs import (
        decode_avi_header,
        encode_avi,
        sniff_format,
    )

    data = encode_avi(32, 24, n_frames=50, fps=25, frame_payload=b"xx")
    assert sniff_format(data) == "avi"
    d = decode_avi_header(data)
    assert (d["width"], d["height"]) == (32, 24)
    assert d["n_frames"] == 50
    assert d["n_frame_chunks"] == 50
    assert abs(d["fps"] - 25.0) < 0.01
    assert d["duration_ms"] == 2000
    assert d["pixels"] is None  # frames need an external codec


def test_avi_header_rejects_non_avi():
    import pytest as _pytest

    from datacheck_spark.codecs import decode_avi_header

    with _pytest.raises(ValueError):
        decode_avi_header(b"RIFF\x04\x00\x00\x00WAVE")
    with _pytest.raises(ValueError):
        decode_avi_header(b"garbage")


def test_resize_images_real_pixels(spark):
    """resize_images: PNG/BMP rows get REAL nearest-neighbor-resized
    PNG payloads (round-trip verified against numpy index math);
    pixel-less formats pass through as 'unsupported'."""
    import numpy as np

    from datacheck_spark.codecs import decode_png, encode_bmp, encode_png
    from datacheck_spark.multimodal import _nn_resize, resize_images

    rng = np.random.default_rng(7)
    px_png = rng.integers(0, 256, size=(20, 30, 3), dtype=np.uint8)
    px_bmp = rng.integers(0, 256, size=(9, 7, 3), dtype=np.uint8)
    px_jpg = _gradient_rgb(18, 26)
    jpg_bytes = codecs.encode_jpeg(px_jpg, quality=92)
    rows = [
        ("png1", "image", bytearray(encode_png(px_png))),
        ("bmp1", "image", bytearray(encode_bmp(px_bmp))),
        ("jpg1", "image", bytearray(jpg_bytes)),
        ("junk", "image", bytearray(b"\x00\x01nonsense")),
    ]
    df = spark.createDataFrame(
        rows, "media_id string, kind string, payload binary"
    )
    out = {
        r["media_id"]: r
        for r in resize_images(df, 16, 12).collect()
    }
    assert out["junk"]["resize_status"] == "unsupported"
    assert out["junk"]["payload"] is None
    for mid, src in (("png1", px_png), ("bmp1", px_bmp)):
        r = out[mid]
        assert r["resize_status"] == "ok"
        assert (r["width"], r["height"]) == (16, 12)
        got = decode_png(bytes(r["payload"]))["pixels"]
        assert got.shape == (12, 16, 3)
        assert np.array_equal(got, _nn_resize(src, 16, 12))
    # JPEG is lossy: resize output must equal the nn-resize of the
    # DECODED jpeg pixels exactly
    r = out["jpg1"]
    assert r["resize_status"] == "ok"
    got = decode_png(bytes(r["payload"]))["pixels"]
    expect = _nn_resize(codecs.decode_jpeg(jpg_bytes)["pixels"], 16, 12)
    assert np.array_equal(got, expect)


def test_avi_mjpeg_first_frame_dims():
    """An AVI whose frames are MJPEG reports frame-level dims from the
    first frame's SOF header; opaque frame payloads leave them None."""
    from datacheck_spark.codecs import (
        decode_avi_header,
        encode_avi,
        encode_jpeg_header_stub,
    )

    jf = encode_jpeg_header_stub(32, 24)
    d = decode_avi_header(encode_avi(32, 24, n_frames=5, frame_payload=jf))
    assert (d["frame_width"], d["frame_height"]) == (32, 24)
    assert d["frame_channels"] == 3

    # frame dims disagreeing with the container header are surfaced
    bad = decode_avi_header(
        encode_avi(64, 48, n_frames=5,
                   frame_payload=encode_jpeg_header_stub(32, 24))
    )
    assert (bad["width"], bad["height"]) == (64, 48)
    assert (bad["frame_width"], bad["frame_height"]) == (32, 24)

    opaque = decode_avi_header(
        encode_avi(32, 24, n_frames=5, frame_payload=b"\x00" * 32)
    )
    assert opaque["frame_width"] is None


def test_jpeg_header_stub_parses_as_jpeg():
    from datacheck_spark.codecs import (
        decode_jpeg_header,
        encode_jpeg_header_stub,
        sniff_format,
    )

    data = encode_jpeg_header_stub(17, 9, channels=1)
    assert sniff_format(data) == "jpeg"
    d = decode_jpeg_header(data)
    assert (d["width"], d["height"], d["channels"]) == (17, 9, 1)


# --- full baseline JPEG codec ------------------------------------------------


def _psnr(a: np.ndarray, b: np.ndarray) -> float:
    a = a.astype(np.float64)
    b = b.astype(np.float64)
    mse = ((a - b) ** 2).mean()
    return 99.0 if mse == 0 else 10 * np.log10(255.0**2 / mse)


def _gradient_rgb(h: int, w: int) -> np.ndarray:
    gx = np.add.outer(np.arange(h) * 3, np.arange(w) * 5) % 256
    return np.stack([gx, (gx + 40) % 256, (255 - gx)], axis=-1).astype(
        np.uint8
    )


def _strip_segments(data: bytes, markers: set) -> bytes:
    """Remove whole marker segments (e.g. DHT) from a JPEG stream."""
    out = bytearray(data[:2])
    pos = 2
    while pos + 2 <= len(data):
        assert data[pos] == 0xFF
        m = data[pos + 1]
        if m == 0xD9:
            out += data[pos : pos + 2]
            break
        (seglen,) = struct.unpack(">H", data[pos + 2 : pos + 4])
        if m not in markers:
            out += data[pos : pos + 2 + seglen]
        pos += 2 + seglen
        if m == 0xDA:
            out += data[pos:]  # entropy-coded scan to EOI
            break
    return bytes(out)


class TestJpegFullCodec:
    def test_dct_basis_orthonormal(self):
        m = codecs._DCT_M
        assert np.allclose(m @ m.T, np.eye(8), atol=1e-12)

    def test_zigzag_is_spec_order(self):
        zz = codecs._JPEG_ZZ
        assert sorted(zz.tolist()) == list(range(64))
        # first diagonal entries of T.81 Figure A.6
        assert zz[:10].tolist() == [0, 1, 8, 16, 9, 2, 3, 10, 17, 24]

    def test_standard_huffman_tables_complete(self):
        for bits, vals in (codecs._HUFF_AC_LUM, codecs._HUFF_AC_CHR):
            assert sum(bits) == len(vals) == 162
        for bits, vals in (codecs._HUFF_DC_LUM, codecs._HUFF_DC_CHR):
            assert sum(bits) == len(vals) == 12

    @pytest.mark.parametrize("sub", ["444", "420"])
    @pytest.mark.parametrize("ri", [0, 3])
    def test_rgb_roundtrip(self, sub, ri):
        if codecs._PIL:
            pytest.skip("round-trip targets the pure decoder")
        px = _gradient_rgb(29, 37)  # non-multiple-of-8 dims
        enc = codecs.encode_jpeg(
            px, quality=92, subsampling=sub, restart_interval=ri
        )
        d = codecs.decode_jpeg(enc)
        assert (d["width"], d["height"], d["channels"]) == (37, 29, 3)
        assert d["pixels"].dtype == np.uint8
        assert d["pixels"].shape == (29, 37, 3)
        # luma-exact content is chroma-noisy under 420; bound both
        assert _psnr(px, d["pixels"]) > (35 if sub == "444" else 24)

    def test_gray_roundtrip(self):
        if codecs._PIL:
            pytest.skip("round-trip targets the pure decoder")
        g = (np.add.outer(np.arange(31) * 3, np.arange(22) * 5) % 256).astype(
            np.uint8
        )
        d = codecs.decode_jpeg(codecs.encode_jpeg(g, quality=90))
        assert d["channels"] == 1
        assert d["pixels"].shape == (31, 22)
        assert _psnr(g, d["pixels"]) > 45

    def test_solid_color_near_exact(self):
        """A solid block has only a DC coefficient — quantization error
        is bounded by one code step, a semi-analytic correctness check."""
        if codecs._PIL:
            pytest.skip("round-trip targets the pure decoder")
        solid = np.full((24, 24, 3), (90, 160, 40), dtype=np.uint8)
        d = codecs.decode_jpeg(codecs.encode_jpeg(solid, quality=95))
        err = np.abs(d["pixels"].astype(int) - solid.astype(int)).max()
        assert err <= 2

    def test_restart_marker_stream_structure(self):
        """restart_interval emits DRI and cycling RST0-7 markers the
        decoder resynchronizes on (verified by the ri round-trips);
        here also check the markers are really in the stream."""
        px = _gradient_rgb(32, 48)
        enc = codecs.encode_jpeg(px, quality=80, restart_interval=2)
        assert b"\xff\xdd" in enc  # DRI
        assert any(bytes([0xFF, 0xD0 + k]) in enc for k in range(8))

    def test_mjpeg_omitted_tables_use_standard(self):
        """MJPEG convention: frames carry no DHT — the decoder installs
        the Annex K standard tables and must decode bit-identically to
        the stream that declares the same tables explicitly."""
        if codecs._PIL:
            pytest.skip("round-trip targets the pure decoder")
        px = _gradient_rgb(24, 32)
        enc = codecs.encode_jpeg(px, quality=90)
        stripped = _strip_segments(enc, {0xC4})
        assert len(stripped) < len(enc)
        d0 = codecs.decode_jpeg(enc)
        d1 = codecs.decode_jpeg(stripped)
        assert np.array_equal(d0["pixels"], d1["pixels"])

    def test_progressive_falls_back_to_header(self):
        if codecs._PIL:
            pytest.skip("Pillow decodes progressive streams")
        enc = bytearray(codecs.encode_jpeg(_gradient_rgb(16, 16)))
        i = enc.find(b"\xff\xc0")
        enc[i + 1] = 0xC2  # SOF0 -> SOF2 (progressive)
        d = codecs.decode_jpeg(bytes(enc))
        assert d["pixels"] is None
        assert (d["width"], d["height"], d["channels"]) == (16, 16, 3)

    def test_header_stub_decodes_header_only(self):
        if codecs._PIL:
            pytest.skip("stub has no scan for Pillow either")
        d = codecs.decode_jpeg(codecs.encode_jpeg_header_stub(64, 32))
        assert d["pixels"] is None
        assert (d["width"], d["height"]) == (64, 32)

    def test_truncated_scan_degrades_not_crashes(self):
        if codecs._PIL:
            pytest.skip("round-trip targets the pure decoder")
        enc = codecs.encode_jpeg(_gradient_rgb(24, 32), quality=90)
        sos = enc.find(b"\xff\xda")
        cut = enc[: sos + (len(enc) - sos) // 2]
        d = codecs.decode_jpeg(cut)  # zero-fed tail, no exception
        assert d["pixels"] is not None and d["pixels"].shape == (24, 32, 3)

    def test_corrupt_header_raises_value_error(self):
        enc = codecs.encode_jpeg(_gradient_rgb(16, 16))
        with pytest.raises(ValueError):
            codecs.decode_jpeg(enc[:40])  # truncated mid-segment
        with pytest.raises(ValueError):
            codecs.decode_jpeg(b"not a jpeg at all")


class TestAviFrameExtraction:
    def test_video_frames_walk_and_decode(self):
        if codecs._PIL:
            pytest.skip("round-trip targets the pure decoder")
        px = _gradient_rgb(24, 32)
        frame = codecs.encode_jpeg(px, quality=88)
        avi = codecs.encode_avi(32, 24, n_frames=7, fps=25,
                                frame_payload=frame)
        frames = codecs.avi_video_frames(avi)
        assert len(frames) == 7
        assert all(f == frame for f in frames)
        d = codecs.decode_jpeg(frames[0])
        assert (d["width"], d["height"]) == (32, 24)
        assert _psnr(px, d["pixels"]) > 30

    def test_rejects_non_avi(self):
        with pytest.raises(ValueError):
            codecs.avi_video_frames(b"garbage")

    def test_walk_keeps_movi_and_first_video_stream(self):
        """A second video stream ('01dc'), an audio stream and frame
        chunks outside the 'movi' LIST are not frames of the first
        video stream; interleaving them would shift the fps-based
        timestamps of frame sampling."""

        def chunk(cid, body):
            pad = b"\x00" * (len(body) & 1)
            return cid + len(body).to_bytes(4, "little") + body + pad

        base = codecs.encode_avi(32, 24, n_frames=1, frame_payload=b"x")
        hdrl_len = 8 + int.from_bytes(base[16:20], "little")
        hdrl = base[12 : 12 + hdrl_len]
        movi = b"".join(
            chunk(b"00dc", b"v0-%d" % i) + chunk(b"01dc", b"v1-%d" % i)
            + chunk(b"01wb", b"audio") + chunk(b"00db", b"u0-%d" % i)
            for i in range(3)
        )
        body = (
            b"AVI " + hdrl
            + chunk(b"LIST", b"INFO" + chunk(b"00dc", b"stray-in-list"))
            + chunk(b"LIST", b"movi" + movi)
            + chunk(b"00dc", b"stray-after-movi")
        )
        avi = b"RIFF" + len(body).to_bytes(4, "little") + body
        assert codecs.avi_video_frames(avi) == [
            b"v0-0", b"u0-0", b"v0-1", b"u0-1", b"v0-2", b"u0-2",
        ]
        hdr = codecs.decode_avi_header(avi)
        assert hdr["first_frame"] == b"v0-0"
        assert hdr["n_frame_chunks"] == 6

    def test_first_video_stream_follows_strh_type(self):
        """The video stream is the first 'strl' whose 'strh' type is
        'vids', not stream 00: behind an audio stream 00 the frames are
        the '01dc' chunks, and a file without a video stream has none."""

        def chunk(cid, body):
            pad = b"\x00" * (len(body) & 1)
            return cid + len(body).to_bytes(4, "little") + body + pad

        base = codecs.encode_avi(32, 24, n_frames=1, frame_payload=b"x")
        avih = base[24 : 24 + 8 + 56]
        vids_strl = base[24 + 8 + 56 : 20 + int.from_bytes(base[16:20], "little")]
        auds_strl = chunk(b"LIST", b"strl" + chunk(b"strh", b"auds" + bytes(52)))
        movi = chunk(b"LIST", b"movi" + b"".join(
            chunk(b"00wb", b"audio") + chunk(b"00dc", b"not-video")
            + chunk(b"01dc", b"f%d" % i)
            for i in range(2)
        ))

        def avi(*strls):
            hdrl = chunk(b"LIST", b"hdrl" + avih + b"".join(strls))
            body = b"AVI " + hdrl + movi
            return b"RIFF" + len(body).to_bytes(4, "little") + body

        two = avi(auds_strl, vids_strl)
        assert codecs.avi_video_frames(two) == [b"f0", b"f1"]
        assert codecs.decode_avi_header(two)["first_frame"] == b"f0"
        audio_only = avi(auds_strl)
        assert codecs.avi_video_frames(audio_only) == []
        hdr = codecs.decode_avi_header(audio_only)
        assert (hdr["first_frame"], hdr["n_frame_chunks"]) == (None, 0)


class _StubPILImage:
    """Stands in for ``PIL.Image``: ``open`` returns an image of one
    mode whatever the bytes, so the Pillow path of ``decode_jpeg`` runs
    without Pillow installed."""

    def __init__(self, mode, width=5, height=4):
        self.mode, self.width, self.height = mode, width, height

    def open(self, _fp):
        return self

    def getbands(self):
        return tuple(self.mode)

    def convert(self, mode):
        assert mode == "RGB"
        return np.zeros((self.height, self.width, 3), np.uint8)

    def __array__(self, dtype=None, copy=None):
        return np.zeros((self.height, self.width), np.uint8)


@pytest.mark.parametrize("mode, channels", [("CMYK", 3), ("L", 1), ("RGB", 3)])
def test_pillow_path_channels_match_pixels(monkeypatch, mode, channels):
    """On the Pillow path ``channels`` describes the returned pixels: a
    CMYK JPEG comes back as RGB, so it reports 3, not 4 bands."""
    monkeypatch.setattr(codecs, "_PIL", True)
    monkeypatch.setattr(codecs, "_PILImage", _StubPILImage(mode))
    d = codecs.decode_jpeg(b"\xff\xd8\xff\xe0 stub")
    assert d["channels"] == channels
    assert d["pixels"].shape[2:] == ((3,) if channels == 3 else ())
