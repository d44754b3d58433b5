"""Unit tests for the PNG codec, renderer, and preprocessing kernels.

Ports the reference's structural assertions: dimension goldens
(`tests/test_basic.cpp:60-84`), blank→empty (`tests/test_basic.cpp:17-22`),
unreadable input → typed error (`tests/test_load_image.py:10-14`),
null image dims = 0 (`tests/test_basic.cpp:45-58`).
"""

import numpy as np
import pytest

from tesseract_glue_spark.errors import ExtractionError, ImageDecodeError
from tesseract_glue_spark.imaging.kernels import (
    cc_segment,
    deskew,
    estimate_shear,
    otsu_binarize,
    otsu_threshold,
    to_grayscale,
    xy_cut,
)
from tesseract_glue_spark.imaging.png import decode_png, encode_png, image_dims
from tesseract_glue_spark.imaging.render import (
    MEDIA_POOL,
    is_blank,
    is_dangling,
    num_to_ref,
    page_dims,
    raw_payload_text,
    ref_to_num,
    render_page,
    truth_text,
)


class TestPng:
    def test_roundtrip(self):
        rng = np.random.default_rng(42)
        img = rng.integers(0, 256, size=(37, 53), dtype=np.uint8)
        assert np.array_equal(decode_png(encode_png(img)), img)

    def test_dims_without_decode(self):
        img = np.zeros((30, 40), dtype=np.uint8)
        assert image_dims(encode_png(img)) == (40, 30)

    def test_null_image_dims_zero(self):
        # Image.cpp:15-27 / tests/test_basic.cpp:45-58: null image → 0x0
        assert image_dims(b"") == (0, 0)
        assert image_dims(b"not a png at all") == (0, 0)

    def test_unreadable_raises_typed_error(self):
        # tests/test_load_image.py:10-14: bad file → RuntimeError subclass
        with pytest.raises(ImageDecodeError):
            decode_png(b"junk")
        assert issubclass(ImageDecodeError, RuntimeError)

    def test_truncated_png(self):
        img = np.zeros((10, 10), dtype=np.uint8)
        data = encode_png(img)
        with pytest.raises(ImageDecodeError):
            decode_png(data[: len(data) // 2])
        # whole chunks, but the deflate stream stops before its checksum
        from tests.conftest import streamed_png

        whole = streamed_png(10, 10, [bytes(11 * 10)])
        idat_len = int.from_bytes(whole[33:37], "big")
        cut = (
            whole[:33] + (idat_len - 4).to_bytes(4, "big") + whole[37 : 41 + idat_len - 4]
            + b"\0\0\0\0" + whole[45 + idat_len :]
        )
        assert decode_png(whole).shape == (10, 10)
        with pytest.raises(ImageDecodeError):
            decode_png(cut)

    def test_deflate_bomb_inflates_bounded(self):
        """A 100x100 header over an IDAT that inflates to 64 MB: decode
        stops one byte past the declared size instead of inflating it
        all."""
        import tracemalloc

        from tests.conftest import streamed_png

        bomb = streamed_png(100, 100, (bytes(1 << 20) for _ in range(64)))
        assert len(bomb) < 256 << 10
        tracemalloc.start()
        try:
            with pytest.raises(ImageDecodeError, match="size mismatch"):
                decode_png(bomb)
            _, peak = tracemalloc.get_traced_memory()
        finally:
            tracemalloc.stop()
        assert peak < 1 << 20, peak

    def test_pixel_cap_checked_before_inflate(self, monkeypatch):
        import zlib

        from tesseract_glue_spark.imaging.codecs import MAX_PIXELS, decode_image
        from tests.conftest import streamed_png

        assert 7016 * 9922 <= MAX_PIXELS  # a 600-dpi A3 page decodes
        w = 10_000
        h = MAX_PIXELS // w + 1
        page = streamed_png(w, h, [b"\x00" + b"\xff" * w])

        def no_inflate(*_a, **_k):
            raise AssertionError("inflated an over-cap page")

        monkeypatch.setattr(zlib, "decompressobj", no_inflate)
        with pytest.raises(ImageDecodeError, match="pixel cap"):
            decode_image(page)

    def test_ihdr_only_as_first_chunk(self, monkeypatch):
        """The pixel cap reads the dims where the first chunk's IHDR
        body sits. A small decoy chunk there, or a second IHDR, must not
        let a later over-cap header through to the inflate."""
        import struct
        import zlib

        from tesseract_glue_spark.imaging.codecs import MAX_PIXELS, decode_image, image_dims_any
        from tesseract_glue_spark.imaging.png import _PNG_SIG, _chunk
        from tests.conftest import streamed_png

        w = 10_000
        big = streamed_png(w, MAX_PIXELS // w + 1, [b"\x00" + b"\xff" * w])[8:]
        small_ihdr = _chunk(b"IHDR", struct.pack(">IIBBBBB", 10, 10, 8, 0, 0, 0, 0))
        decoy = _chunk(b"tEXt", struct.pack(">II", 10, 10) + b"decoy")

        def no_inflate(*_a, **_k):
            raise AssertionError("inflated a page past its first-chunk header")

        monkeypatch.setattr(zlib, "decompressobj", no_inflate)
        for page in (_PNG_SIG + decoy + big, _PNG_SIG + small_ihdr + big):
            with pytest.raises(ImageDecodeError, match="IHDR"):
                decode_image(page)
        # the header-only dims agree with the decoder: no IHDR first, no dims
        assert image_dims_any(_PNG_SIG + decoy + big) == (0, 0)


class TestJp2:
    """JPEG-2000 header codec — the last codec the reference's
    capability matrix names (tests/test_capabilties.py:11-13 requires
    libopenjp2 linked). Header/dims/sniff are built-in; pixel decode is
    honestly gated on a JPEG-2000-capable Pillow (absent here) and
    degrades to the typed error."""

    def test_sniff_dims_header_container(self):
        from tesseract_glue_spark.imaging.codecs import image_dims_any, sniff_mime
        from tesseract_glue_spark.imaging.jp2 import encode_jp2_skeleton, jp2_header

        blob = encode_jp2_skeleton(640, 480, n_components=3)
        assert sniff_mime(blob) == "image/jp2"
        assert image_dims_any(blob) == (640, 480)
        hd = jp2_header(blob)
        assert (hd["width"], hd["height"], hd["n_components"], hd["container"]) == (
            640, 480, 3, "jp2",
        )

    def test_raw_codestream_dims(self):
        from tesseract_glue_spark.imaging.codecs import image_dims_any
        from tesseract_glue_spark.imaging.jp2 import J2K_SOC, encode_jp2_skeleton, jp2_header

        blob = encode_jp2_skeleton(123, 45)
        cs = blob[blob.find(J2K_SOC):]  # slice out the bare codestream
        hd = jp2_header(cs)
        assert (hd["width"], hd["height"], hd["container"]) == (123, 45, "j2k")
        assert image_dims_any(cs) == (123, 45)

    def test_decode_gated_on_openjpeg(self):
        from tesseract_glue_spark.imaging.codecs import decode_image
        from tesseract_glue_spark.imaging.jp2 import encode_jp2_skeleton

        try:
            from PIL import features as _f

            has_jp2 = _f.check("jpg_2000")
        except ImportError:
            has_jp2 = False
        if has_jp2:
            pytest.skip("JPEG-2000-capable Pillow present: decode path live")
        with pytest.raises(ImageDecodeError):
            decode_image(encode_jp2_skeleton(16, 16))

    def test_pixel_cap_covers_jp2(self):
        """An over-cap JP2 header is rejected by the cap itself, before
        the codec (whose pixel decode, with openjpeg, has no cap of its
        own) is reached."""
        from tesseract_glue_spark.imaging.codecs import MAX_PIXELS, decode_image
        from tesseract_glue_spark.imaging.jp2 import encode_jp2_skeleton

        w = 10_000
        with pytest.raises(ImageDecodeError, match="pixel cap"):
            decode_image(encode_jp2_skeleton(w, MAX_PIXELS // w + 1))

    def test_corrupt_headers_typed_or_zero_dims(self):
        from tesseract_glue_spark.imaging.jp2 import (
            JP2_SIG,
            encode_jp2_skeleton,
            jp2_dims,
            jp2_header,
        )

        blob = encode_jp2_skeleton(64, 64)
        with pytest.raises(ImageDecodeError):
            jp2_header(blob[:20])  # truncated mid-box
        with pytest.raises(ImageDecodeError):
            jp2_header(JP2_SIG)  # signature only: no ihdr, no codestream
        assert jp2_dims(blob[:20]) == (0, 0)  # null-image convention

    def test_codec_versions_report_jp2(self):
        from tesseract_glue_spark.imaging.codecs import codec_versions

        v = codec_versions()
        assert v["jp2-header"] == "builtin"
        assert "jp2-decode" in v


class TestRenderContract:
    def test_ref_roundtrip(self):
        assert ref_to_num(num_to_ref(42)) == 42
        with pytest.raises(ValueError):
            ref_to_num("page_0001")

    def test_truth_classes(self):
        assert truth_text(0) == ""          # 0 % 7 == 0 → blank
        assert truth_text(7) == ""
        assert is_dangling(13) and not is_blank(13)
        assert not is_dangling(91)          # 91 = 7*13 → blank wins
        t = truth_text(8)
        assert t.startswith("page 8 glyph ") and t.endswith(" lorem ipsum dolor")

    def test_whitespace_payload_normalizes(self):
        # half the blanks embed whitespace-only payload (reader2.cpp:49-51)
        assert raw_payload_text(7).isspace()
        assert raw_payload_text(14) == ""
        assert truth_text(7) == "" and truth_text(14) == ""

    def test_render_dims_match_header(self):
        for n in (1, 3, 5, 8, 15, 21):
            png, w, h, truth = render_page(n)
            assert image_dims(png) == (w, h) == page_dims(n)
            arr = decode_png(png)
            assert arr.shape == (h, w)

    def test_blank_page_is_white_body(self):
        png, w, h, truth = render_page(14)
        arr = decode_png(png)
        assert truth == ""
        assert (arr[8:] == 255).all()  # body below payload rows untouched

    def test_determinism(self):
        assert render_page(123) == render_page(123)


class TestKernels:
    def test_grayscale(self):
        rgb = np.zeros((4, 4, 3), dtype=np.uint8)
        rgb[..., 0] = 255
        g = to_grayscale(rgb)
        assert g.shape == (4, 4) and 70 <= int(g[0, 0]) <= 80
        gray = np.full((3, 3), 9, dtype=np.uint8)
        assert to_grayscale(gray) is gray

    def test_otsu_bimodal(self):
        img = np.full((20, 20), 230, dtype=np.uint8)
        img[5:15, 5:15] = 20
        t = otsu_threshold(img)
        assert 20 <= t < 230
        ink = otsu_binarize(img)
        assert ink[10, 10] and not ink[0, 0]

    def test_otsu_blank_no_ink(self):
        assert not otsu_binarize(np.full((10, 10), 255, dtype=np.uint8)).any()

    @pytest.mark.parametrize("shape", [(60, 70), (512, 256), (1000, 1311)])
    def test_gray_histogram_matches_whole_page_bincount(self, shape):
        """The blocked histogram equals one whole-page ``np.bincount``,
        for a page smaller than a block, exactly one block, and a size
        that is not a multiple of the block."""
        from tesseract_glue_spark.imaging.kernels import _gray_histogram

        gray = np.random.default_rng(shape[0]).integers(0, 256, shape, dtype=np.uint8)
        want = np.bincount(gray.reshape(-1), minlength=256).astype(np.float64)
        got = _gray_histogram(gray)
        assert got.dtype == np.float64 and np.array_equal(got, want)

    def test_otsu_binarize_memory_bounded(self):
        """A 6 Mpx page: binarizing holds the 1 B/px ink mask and one
        bounded histogram block, not the 8 B/px int64 copy that a
        whole-page ``np.bincount`` makes."""
        import tracemalloc

        from tesseract_glue_spark.imaging.kernels import otsu_binarize_with_threshold

        gray = np.full((2000, 3000), 230, dtype=np.uint8)
        gray[::7, ::3] = 20
        tracemalloc.start()
        try:
            ink, t = otsu_binarize_with_threshold(gray)
            _, peak = tracemalloc.get_traced_memory()
        finally:
            tracemalloc.stop()
        assert 20 <= t < 230 and ink[0, 0] and not ink[1, 0]
        assert peak <= 1.5 * gray.size, peak / gray.size

    def test_shear_estimate_and_deskew(self):
        # horizontal text lines, then shear, then recover
        img = np.full((120, 200), 255, dtype=np.uint8)
        for y0 in (20, 50, 80):
            img[y0 : y0 + 4, 10:190] = 0
        true_shear = 0.03
        sheared = np.full_like(img, 255)
        for x in range(200):
            dy = int(round(true_shear * x))
            if dy < 120:
                sheared[dy:, x] = img[: 120 - dy, x]
        est = estimate_shear(otsu_binarize(sheared))
        assert abs(est - true_shear) < 0.01
        fixed = deskew(sheared, est)
        rows_with_ink = otsu_binarize(fixed).any(axis=1).sum()
        assert rows_with_ink <= 16  # re-collapsed to ~3 tight lines

    @pytest.mark.parametrize("shape, p", [((60, 70), 0.5), ((700, 523), 0.3), ((1200, 1111), 0.01)])
    def test_sample_ink_matches_whole_page_stride(self, shape, p):
        """Blocked sampling gives the points of a whole-page
        ``np.nonzero`` strided by the same rule: every point below 8,192
        ink pixels, every ``n // 4096``-th above."""
        from tesseract_glue_spark.imaging.kernels import sample_ink

        ink = np.random.default_rng(shape[0]).random(shape) < p
        ys, xs = np.nonzero(ink)
        if ys.size > 8192:
            stride = ys.size // 4096
            ys, xs = ys[::stride], xs[::stride]
        got_ys, got_xs = sample_ink(ink)
        assert np.array_equal(got_ys, ys) and np.array_equal(got_xs, xs)

    def test_shear_estimate_memory_bounded(self):
        """A 6 Mpx all-ink mask: the estimate holds a bounded block of
        ink coordinates, not 16 B per ink pixel of the page (96 MB)."""
        import tracemalloc

        ink = np.ones((2000, 3000), dtype=bool)
        tracemalloc.start()
        try:
            estimate_shear(ink)
            _, peak = tracemalloc.get_traced_memory()
        finally:
            tracemalloc.stop()
        assert peak < 8 << 20, peak

    def test_cc_segment_two_blobs(self):
        img = np.zeros((30, 30), dtype=bool)
        img[2:8, 2:8] = True
        img[20:26, 20:28] = True
        boxes = cc_segment(img)
        assert boxes == [(2, 7, 2, 7), (20, 25, 20, 27)]

    def test_cc_segment_u_shape_merges(self):
        img = np.zeros((10, 10), dtype=bool)
        img[0:8, 1] = True
        img[0:8, 5] = True
        img[7, 1:6] = True
        assert len(cc_segment(img)) == 1

    def test_xy_cut_splits_columns(self):
        img = np.zeros((40, 60), dtype=bool)
        img[5:35, 5:20] = True
        img[5:35, 40:55] = True
        zones = xy_cut(img, min_gap=6)
        assert len(zones) == 2
        assert zones[0][2] == 5 and zones[1][2] == 40

    def test_xy_cut_blank(self):
        assert xy_cut(np.zeros((10, 10), dtype=bool)) == []


class TestEngineFeatureScenario:
    """Mirror of the reference's BDD scenario 'Uses an engine to read
    the data' (tests/features/engine.feature:5-11 + step defs in
    tests/test_engine_feature.py:8-53): Given an engine and a page,
    When a reader recognizes it, Then the text is non-empty. Expressed
    as plain pytest (same Given/When/Then structure, no pytest-bdd
    dependency)."""

    def test_engine_reads_the_data(self):
        from tesseract_glue_spark.config import ExtractionConfig
        from tesseract_glue_spark.engine import get_engine
        from tesseract_glue_spark.imaging.kernels import to_grayscale
        from tesseract_glue_spark.imaging.png import decode_png
        from tesseract_glue_spark.imaging.render import render_page

        # Given an engine configured for the default language
        engine = get_engine(ExtractionConfig())
        assert engine.good
        # And a page image containing text
        png, _w, _h, truth = render_page(3)  # n=3: plain text page
        # When the reader recognizes the page
        text = engine.recognize(to_grayscale(decode_png(png)))
        # Then the recognized text is non-empty and matches the page
        assert text != ""
        assert text == truth


class TestEngine:
    def test_stub_recognizes_rendered_pages(self):
        from tesseract_glue_spark.config import ExtractionConfig
        from tesseract_glue_spark.engine import get_engine

        eng = get_engine(ExtractionConfig())
        for n in (1, 5, 8, 14, 7, 15, 33):
            png, _, _, truth = render_page(n)
            assert eng.recognize(decode_png(png)) == truth

    def test_unhealthy_engine_degrades(self):
        # reader2.cpp:19-23,40-42 / tests/test_basic.cpp:31-42
        from tesseract_glue_spark.config import ExtractionConfig
        from tesseract_glue_spark.engine import get_engine

        eng = get_engine(ExtractionConfig(force_unhealthy=True))
        assert eng.good is False
        png, *_ = render_page(8)
        assert eng.recognize(decode_png(png)) == ""

    def test_non_fixture_image_raises(self):
        from tesseract_glue_spark.config import ExtractionConfig
        from tesseract_glue_spark.engine import get_engine

        eng = get_engine(ExtractionConfig())
        with pytest.raises(ExtractionError):
            eng.recognize(np.full((10, 10), 255, dtype=np.uint8))

    def test_engine_cache_reuse(self):
        from tesseract_glue_spark.config import ExtractionConfig
        from tesseract_glue_spark.engine import get_engine

        cfg = ExtractionConfig()
        assert get_engine(cfg) is get_engine(ExtractionConfig())

    def test_normalize_text(self):
        from tesseract_glue_spark.engine import normalize_text

        assert normalize_text("  \t\n ") == ""
        assert normalize_text(None) == ""
        assert normalize_text("x ") == "x "

    def test_config_validation(self):
        # reader.py:19-32 error matrix, driver-side
        from tesseract_glue_spark.config import ExtractionConfig

        with pytest.raises(ValueError):
            ExtractionConfig(lang="nope").validated()
        with pytest.raises(FileNotFoundError):
            ExtractionConfig(backend="tesseract", lang="eng", tessdata_path="/nope").validated()
        with pytest.raises(ValueError):
            ExtractionConfig(backend="wat").validated()
        assert ExtractionConfig().validated().lang == "eng"

    def test_custom_traineddata_model_accepted(self, tmp_path):
        """Parity with reference reader.py:19-32: the language string is
        free-form — a custom-trained model whose .traineddata exists must
        validate even though it's not in the known-code registry (the
        registry only guards the stub backend, where no files exist)."""
        from tesseract_glue_spark.config import ExtractionConfig

        (tmp_path / "my_model.traineddata").write_bytes(b"x")
        (tmp_path / "osd.traineddata").write_bytes(b"x")
        cfg = ExtractionConfig(
            backend="tesseract", lang="my_model", tessdata_path=str(tmp_path)
        ).validated()
        assert cfg.lang == "my_model"
        # ... but a stub config still fails fast on unknown codes
        import pytest as _pytest

        with _pytest.raises(ValueError):
            ExtractionConfig(backend="stub", lang="my_model").validated()

    def test_config_tessdata_missing_osd(self, tmp_path):
        # tests/test_integration.py:41-58: osd required even if lang present
        from tesseract_glue_spark.config import ExtractionConfig

        (tmp_path / "eng.traineddata").write_bytes(b"x")
        with pytest.raises(FileNotFoundError, match="osd"):
            ExtractionConfig(backend="tesseract", tessdata_path=str(tmp_path)).validated()

    def test_image_lib_versions_mapping(self):
        """capabilities.py:7-19 parity: lib→version mapping, non-empty
        version strings."""
        from tesseract_glue_spark import image_lib_versions

        v = image_lib_versions()
        # libtiff-linked parity (tests/test_capabilties.py:11-12): the
        # TIFF codec must be reported alongside PNG
        assert {"zlib", "numpy", "png-gray8", "tiff-gray8"} <= set(v)
        assert all(isinstance(s, str) and s for s in v.values())

    def test_language_codes(self):
        from tesseract_glue_spark.languages import LANGUAGE_CODES

        assert LANGUAGE_CODES["eng"] == "English"
        assert "osd" in LANGUAGE_CODES and "equ" in LANGUAGE_CODES
        assert len(LANGUAGE_CODES) == 117

    def test_stage_asset_atomic(self, tmp_path):
        import hashlib

        from tesseract_glue_spark.languages import is_file_valid, stage_asset

        dest = str(tmp_path / "a.traineddata")
        data = b"hello-model"
        md5 = hashlib.md5(data).hexdigest()
        assert stage_asset(data, dest, md5) == dest
        assert is_file_valid(dest, md5)
        with pytest.raises(ValueError):
            stage_asset(b"other", str(tmp_path / "b"), md5)


class TestDownloader:
    """Hermetic download tests (mocked opener), mirroring the
    reference's mocked-urlopen strategy (tests/test_languages.py:9-53)."""

    @staticmethod
    def _opener_for(payload: bytes):
        import contextlib
        import io

        def opener(url):
            return contextlib.closing(io.BytesIO(payload))

        return opener

    def test_download_verify_and_cache(self, tmp_path):
        import hashlib

        from tesseract_glue_spark.languages import download_asset

        payload = b"model-bytes" * 1000
        md5 = hashlib.md5(payload).hexdigest()
        dest = str(tmp_path / "eng.traineddata")
        assert download_asset("http://x/eng", dest, md5, opener=self._opener_for(payload)) == dest
        assert open(dest, "rb").read() == payload
        # second call: skip-if-valid — opener that would fail is never called
        def exploding_opener(url):
            raise AssertionError("network touched despite valid cache")
        assert download_asset("http://x/eng", dest, md5, opener=exploding_opener) == dest

    def test_download_progress_interval(self, tmp_path):
        """Progress is reported at most every PROGRESS_INTERVAL_S (the
        reference prints every 0.5 s, languages.py:194-199) plus one
        final 100% report — injectable clock, fully hermetic."""
        import hashlib

        from tesseract_glue_spark.languages import PROGRESS_INTERVAL_S, download_asset

        payload = b"x" * (10 * 1024)  # 10 chunks at chunk_size=1024
        md5 = hashlib.md5(payload).hexdigest()
        t = {"now": 0.0}

        def clock():
            t["now"] += 0.2  # 5 chunks per 1.0s → reports gated to ~2/s
            return t["now"]

        calls: list[tuple[int, int | None]] = []
        dest = str(tmp_path / "prog.traineddata")
        download_asset(
            "http://x/prog",
            dest,
            md5,
            chunk_size=1024,
            opener=self._opener_for(payload),
            progress=lambda done, total: calls.append((done, total)),
            clock=clock,
        )
        assert calls, "no progress reported"
        assert calls[-1][0] == len(payload)  # final report covers 100%
        # gated: 10 chunks × 0.2s = 2.0s of transfer → ≤ 2.0/0.5 + 1 reports
        assert len(calls) <= int(2.0 / PROGRESS_INTERVAL_S) + 1
        assert all(a[0] < b[0] for a, b in zip(calls, calls[1:]))  # monotone

    def test_download_progress_disabled(self, tmp_path, capsys):
        import hashlib

        from tesseract_glue_spark.languages import download_asset

        payload = b"y" * 4096
        md5 = hashlib.md5(payload).hexdigest()
        download_asset(
            "http://x/quiet",
            str(tmp_path / "q.traineddata"),
            md5,
            opener=self._opener_for(payload),
            progress=False,
        )
        assert capsys.readouterr().out == ""

    def test_download_hash_mismatch_cleans_up(self, tmp_path):
        from tesseract_glue_spark.languages import download_asset

        dest = str(tmp_path / "bad.traineddata")
        import pytest as _pytest
        with _pytest.raises(ValueError, match="hash mismatch"):
            download_asset("http://x/bad", dest, "0" * 32, opener=self._opener_for(b"junk"))
        import os
        assert not os.path.exists(dest)
        assert not [f for f in os.listdir(tmp_path) if f.endswith(".tmp")]

    def test_fetch_language_pack_validates_code(self, tmp_path):
        import pytest as _pytest

        from tesseract_glue_spark.languages import fetch_language_pack

        with _pytest.raises(ValueError, match="unknown"):
            fetch_language_pack("zzz", str(tmp_path), "http://x", opener=self._opener_for(b""))

    @staticmethod
    def _bundle_zip(members: dict[str, bytes]) -> bytes:
        import io
        import zipfile

        buf = io.BytesIO()
        with zipfile.ZipFile(buf, "w") as zf:
            for name, data in members.items():
                zf.writestr(name, data)
        return buf.getvalue()

    def test_fetch_language_bundle_extracts_all(self, tmp_path):
        """The zip-bundle provisioning path (reference
        languages.py:270-293): hash-verified download + extract-all with
        atomic member staging."""
        import hashlib
        import os

        from tesseract_glue_spark.languages import fetch_language_bundle

        members = {
            "tessdata/eng.traineddata": b"eng-model" * 100,
            "tessdata/deu.traineddata": b"deu-model" * 100,
            "tessdata/osd.traineddata": b"osd-model" * 100,
        }
        payload = self._bundle_zip(members)
        md5 = hashlib.md5(payload).hexdigest()
        out = fetch_language_bundle(
            "http://x/tessdata-4.1.0.zip", str(tmp_path), md5,
            opener=self._opener_for(payload),
        )
        assert [os.path.basename(p) for p in out] == [
            "deu.traineddata", "eng.traineddata", "osd.traineddata"
        ]
        for p in out:
            assert open(p, "rb").read() == members[f"tessdata/{os.path.basename(p)}"]
        # no leftover bundle archive or temp files
        leftovers = [f for f in os.listdir(tmp_path) if f.endswith((".tmp", ".zip"))]
        assert leftovers == []

    def test_fetch_language_bundle_rejects_traversal(self, tmp_path):
        import hashlib

        import pytest as _pytest

        from tesseract_glue_spark.languages import fetch_language_bundle

        payload = self._bundle_zip({"../evil.traineddata": b"x"})
        with _pytest.raises(ValueError, match="unsafe member"):
            fetch_language_bundle(
                "http://x/evil.zip", str(tmp_path),
                hashlib.md5(payload).hexdigest(),
                opener=self._opener_for(payload),
            )

    def test_fetch_language_bundle_hash_mismatch(self, tmp_path):
        import pytest as _pytest

        from tesseract_glue_spark.languages import fetch_language_bundle

        payload = self._bundle_zip({"eng.traineddata": b"x"})
        with _pytest.raises(ValueError, match="hash mismatch"):
            fetch_language_bundle(
                "http://x/b.zip", str(tmp_path), "0" * 32,
                opener=self._opener_for(payload),
            )


class TestTesseractBackendContract:
    """Mocked-pytesseract contract tests (the binary is absent in this
    environment): PSM flag, lang pass-through, whitespace normalization,
    version string — mirroring reference tests/test_reader.py:26-45."""

    class _FakePytesseract:
        def __init__(self, text="hello world"):
            self.text = text
            self.calls = []

        def image_to_string(self, image, lang=None, config=None):
            self.calls.append({"lang": lang, "config": config, "shape": image.shape})
            return self.text

        def get_tesseract_version(self):
            return "5.3.0"

    def _backend(self, monkeypatch, fake, **cfg_kw):
        import sys

        from tesseract_glue_spark.config import ExtractionConfig
        from tesseract_glue_spark.engine import TesseractBackend

        monkeypatch.setitem(sys.modules, "pytesseract", fake)
        return TesseractBackend(ExtractionConfig(backend="tesseract", **cfg_kw))

    def test_psm_auto_osd_and_lang_passthrough(self, monkeypatch):
        import numpy as np

        fake = self._FakePytesseract("recognized text")
        eng = self._backend(monkeypatch, fake, lang="deu")
        out = eng.recognize(np.full((4, 4), 255, dtype=np.uint8))
        assert out == "recognized text"
        assert fake.calls == [{"lang": "deu", "config": "--psm 1", "shape": (4, 4)}]

    def test_tessdata_path_passthrough(self, monkeypatch):
        import numpy as np

        fake = self._FakePytesseract()
        eng = self._backend(monkeypatch, fake, tessdata_path="/models/tessdata")
        eng.recognize(np.full((4, 4), 255, dtype=np.uint8))
        assert fake.calls[0]["config"] == '--psm 1 --tessdata-dir "/models/tessdata"'

    def test_whitespace_output_normalizes_to_empty(self, monkeypatch):
        import numpy as np

        eng = self._backend(monkeypatch, self._FakePytesseract(" \t\n  "))
        assert eng.recognize(np.zeros((2, 2), dtype=np.uint8)) == ""

    def test_version_string(self, monkeypatch):
        eng = self._backend(monkeypatch, self._FakePytesseract())
        assert eng.version() == "tesseract-5.3.0"

    def test_unhealthy_degrades_not_dies(self, monkeypatch):
        import numpy as np

        fake = self._FakePytesseract()
        eng = self._backend(monkeypatch, fake, force_unhealthy=True)
        assert eng.good is False
        assert eng.recognize(np.zeros((2, 2), dtype=np.uint8)) == ""
        assert fake.calls == []  # bad engine never invokes the binary

    def test_import_gate_message(self, monkeypatch):
        import sys

        import pytest as _pytest

        from tesseract_glue_spark.config import ExtractionConfig
        from tesseract_glue_spark.engine import TesseractBackend

        monkeypatch.setitem(sys.modules, "pytesseract", None)
        with _pytest.raises(ImportError, match="pytesseract"):
            TesseractBackend(ExtractionConfig(backend="tesseract"))

    def test_get_engine_dispatches_tesseract(self, monkeypatch):
        """get_engine must construct the real-OCR backend for
        backend='tesseract' (cache keyed by full config)."""
        import sys

        from tesseract_glue_spark.config import ExtractionConfig
        from tesseract_glue_spark.engine import TesseractBackend, get_engine

        monkeypatch.setitem(sys.modules, "pytesseract", self._FakePytesseract())
        eng = get_engine(ExtractionConfig(backend="tesseract", lang="fra"))
        assert isinstance(eng, TesseractBackend)


class TestShipping:
    def test_zip_builds_nonempty(self, tmp_path):
        import zipfile

        from tesseract_glue_spark.sources.shipping import build_pyfiles_zip

        z = build_pyfiles_zip(str(tmp_path))
        names = zipfile.ZipFile(z).namelist()
        assert "tesseract_glue_spark/__init__.py" in names
        assert len(names) > 20

    def test_zip_root_detected_when_running_from_zip(self, tmp_path, monkeypatch):
        """REGRESSION: when the package is imported FROM a --py-files
        zip, build_pyfiles_zip must return that zip, not overwrite it
        with an empty archive (os.walk of a zip-internal path yields
        nothing)."""
        import tesseract_glue_spark
        from tesseract_glue_spark.sources import shipping

        fake_zip = tmp_path / "shipped.zip"
        fake_zip.write_bytes(b"PK\x05\x06" + b"\x00" * 18)  # minimal empty zip
        monkeypatch.setattr(
            tesseract_glue_spark,
            "__file__",
            str(fake_zip / "tesseract_glue_spark" / "__init__.py"),
        )
        assert shipping.build_pyfiles_zip(str(tmp_path)) == str(fake_zip)

    def test_zip_reload_guard_rereads_only_changed_archives(self, tmp_path, monkeypatch):
        """With the guard on, ``importlib.invalidate_caches()`` re-reads a
        zip on the path only after the archive changed, and a failing
        ``stat`` falls through to the original method."""
        import importlib
        import os
        import sys
        import zipfile
        import zipimport

        from tesseract_glue_spark.sources import shipping

        current = zipimport.zipimporter.invalidate_caches
        monkeypatch.setattr(
            zipimport.zipimporter, "invalidate_caches", getattr(current, "__wrapped__", current)
        )
        monkeypatch.setattr(sys, "path_importer_cache", dict(sys.path_importer_cache))
        archive = tmp_path / "guarded.zip"

        def write(**modules):
            tmp = tmp_path / "next.zip"
            with zipfile.ZipFile(tmp, "w") as zf:
                for name, src in modules.items():
                    zf.writestr(f"{name}.py", src)
            os.replace(tmp, archive)

        write(zg_first="VALUE = 1\n")
        monkeypatch.syspath_prepend(str(archive))
        reads = []
        read_directory = zipimport._read_directory
        monkeypatch.setattr(
            zipimport, "_read_directory", lambda path: reads.append(path) or read_directory(path)
        )
        try:
            assert importlib.import_module("zg_first").VALUE == 1
            shipping.guard_zip_reloads()
            shipping.guard_zip_reloads()  # idempotent: one wrapper
            assert not hasattr(zipimport.zipimporter.invalidate_caches.__wrapped__, "__wrapped__")
            reads.clear()
            importlib.invalidate_caches()
            importlib.invalidate_caches()
            assert reads == []
            write(zg_first="VALUE = 1\n", zg_second="VALUE = 2\n")
            importlib.invalidate_caches()
            assert reads == [str(archive)]
            assert importlib.import_module("zg_second").VALUE == 2
            archive.unlink()
            importlib.invalidate_caches()
            assert reads == [str(archive)] * 2
        finally:
            for name in ("zg_first", "zg_second"):
                sys.modules.pop(name, None)

    def test_zip_reload_guard_in_a_worker_task(self, spark):
        """Inside a real worker task, once the kernels' hook is on, the
        next ``importlib.invalidate_caches()`` (Spark's worker calls it
        at the start of every task) reads no archive."""
        from tesseract_glue_spark.sources.shipping import ensure_shipped

        ensure_shipped(spark)

        def probe(batches):
            import importlib
            import sys
            import zipimport

            import pandas as pd

            from tesseract_glue_spark.sources.shipping import guard_zip_reloads

            guard_zip_reloads()
            reads = []
            read_directory = zipimport._read_directory
            zipimport._read_directory = lambda path: reads.append(path) or read_directory(path)
            try:
                importlib.invalidate_caches()
            finally:
                zipimport._read_directory = read_directory
            n_zip = sum(isinstance(f, zipimport.zipimporter) for f in sys.path_importer_cache.values())
            for _ in batches:
                pass
            yield pd.DataFrame({"zip_importers": [n_zip], "reads": [len(reads)]})

        got = spark.range(4).repartition(4).mapInPandas(
            probe, "zip_importers long, reads long"
        ).collect()
        # pyspark.zip, the py4j zip and the shipped package zip at least
        assert len(got) == 4 and min(r["zip_importers"] for r in got) >= 3
        assert [r["reads"] for r in got] == [0] * 4

    def test_extraction_kernels_install_the_guard(self, monkeypatch):
        """The OCR kernel and the fused web kernel install the guard at
        the start of every task, strip-only web tasks included."""
        import pandas as pd

        from tesseract_glue_spark.config import ExtractionConfig
        from tesseract_glue_spark.operators import extract, web
        from tesseract_glue_spark.sources import shipping

        calls = []
        monkeypatch.setattr(shipping, "guard_zip_reloads", lambda: calls.append("hook"))
        cfg = ExtractionConfig()
        assert list(extract._ocr_kernel(cfg)(iter([]))) == []
        strip_only = pd.DataFrame(
            {"media_ref": [None], "image": [None], "doc_id": [1], "n_spans": [1],
             "offset": [0], "text": ["<p>a</p>"]}
        )
        out = list(web._fused_web_kernel(cfg)(iter([strip_only])))
        assert len(out) == 1 and out[0]["doc_id"].tolist() == [1]
        assert calls == ["hook", "hook"]


class TestTiff:
    """Built-in TIFF gray8 codec (the reference's corpus format:
    tests/CMakeLists.txt:3-7; libtiff required by its capability test,
    tests/test_capabilties.py:11-12)."""

    def _img(self, h=37, w=53, seed=3):
        rng = np.random.default_rng(seed)
        return rng.integers(0, 256, size=(h, w), dtype=np.uint8)

    def test_roundtrip_little_endian(self):
        from tesseract_glue_spark.imaging.tiff import decode_tiff, encode_tiff

        img = self._img()
        assert np.array_equal(decode_tiff(encode_tiff(img)), img)

    def test_roundtrip_big_endian(self):
        from tesseract_glue_spark.imaging.tiff import decode_tiff, encode_tiff

        img = self._img(seed=4)
        assert np.array_equal(decode_tiff(encode_tiff(img, big_endian=True)), img)

    def test_roundtrip_multi_strip(self):
        from tesseract_glue_spark.imaging.tiff import decode_tiff, encode_tiff

        img = self._img(h=41, seed=5)
        for rps in (1, 7, 40, 41, 100):
            assert np.array_equal(
                decode_tiff(encode_tiff(img, rows_per_strip=rps)), img
            ), rps

    def test_white_is_zero_inverts(self):
        from tesseract_glue_spark.imaging.tiff import decode_tiff, encode_tiff

        img = self._img(seed=6)
        data = encode_tiff(img, photometric=0)
        assert np.array_equal(decode_tiff(data), img)  # logical image preserved

    def test_dims_without_decode(self):
        from tesseract_glue_spark.imaging.tiff import encode_tiff, tiff_dims

        img = self._img(h=19, w=211)
        assert tiff_dims(encode_tiff(img)) == (211, 19)
        assert tiff_dims(encode_tiff(img, big_endian=True)) == (211, 19)
        assert tiff_dims(b"garbage") == (0, 0)

    def test_unsupported_compression_rejected(self):
        from tesseract_glue_spark.imaging.tiff import decode_tiff, encode_tiff

        data = bytearray(encode_tiff(self._img()))
        # compression is the 4th IFD tag; its SHORT value sits at
        # header(8) + count(2) + 3*12 + 8
        off = 8 + 2 + 3 * 12 + 8
        import struct as _s

        assert _s.unpack_from("<H", data, off)[0] == 1
        _s.pack_into("<H", data, off, 5)  # LZW
        with pytest.raises(ImageDecodeError, match="compression"):
            decode_tiff(bytes(data))

    def test_truncated_rejected(self):
        from tesseract_glue_spark.imaging.tiff import decode_tiff, encode_tiff

        data = encode_tiff(self._img())
        with pytest.raises(ImageDecodeError):
            decode_tiff(data[: len(data) // 2])
        with pytest.raises(ImageDecodeError):
            decode_tiff(b"II*\x00\x08\x00")


    def test_strip_bomb_decodes_into_one_page_buffer(self):
        """1,024 strips all pointing at one 64 KB block fill an 8192 x
        8192 page from a 74 KB file; strips are copied into the page
        buffer itself, not concatenated and copied again."""
        import tracemalloc

        from tesseract_glue_spark.imaging.tiff import decode_tiff
        from tests.conftest import strip_bomb_tiff

        w = h = 8192
        data = strip_bomb_tiff(w, h, b"\xff" * (8 * w))
        assert len(data) < 75_000
        tracemalloc.start()
        try:
            img = decode_tiff(data)
            _, peak = tracemalloc.get_traced_memory()
        finally:
            tracemalloc.stop()
        assert img.shape == (h, w) and img[-1, -1] == 255
        assert peak <= 1.1 * w * h, peak

    def test_pixel_cap_checked_before_strips(self):
        """A TIFF declaring more than ``codecs.MAX_PIXELS`` pixels is rejected
        from its tags: its strips point past the end of the file, so
        reading any of them would raise a truncation error instead."""
        import struct

        from tesseract_glue_spark.imaging.codecs import MAX_PIXELS, decode_image
        from tests.conftest import strip_bomb_tiff

        w = 10_000
        h = MAX_PIXELS // w + 1
        data = bytearray(strip_bomb_tiff(w, h, b"\xff" * (100 * w)))
        del data[-100 * w :]  # the shared block is gone
        with pytest.raises(ImageDecodeError, match="pixel cap"):
            decode_image(bytes(data))
        # the same file one row under the cap reads its strips and fails there
        struct.pack_into("<I", data, 8 + 2 + 12 + 8, h - 1)
        with pytest.raises(ImageDecodeError, match="truncated TIFF strip"):
            decode_image(bytes(data))

    def test_decode_image_parses_the_ifd_once(self, monkeypatch):
        """The pixel cap and the strip read share one IFD parse."""
        from tesseract_glue_spark.imaging import tiff
        from tesseract_glue_spark.imaging.codecs import decode_image

        calls = []
        read_ifd = tiff._read_ifd
        monkeypatch.setattr(
            tiff, "_read_ifd", lambda data, bo: calls.append(bo) or read_ifd(data, bo)
        )
        img = self._img(seed=8)
        for big_endian in (False, True):
            calls.clear()
            assert np.array_equal(decode_image(tiff.encode_tiff(img, big_endian=big_endian)), img)
            assert len(calls) == 1


class TestCodecDispatch:
    def test_decode_image_dispatches_on_magic(self):
        from tesseract_glue_spark.imaging.codecs import decode_image
        from tesseract_glue_spark.imaging.tiff import encode_tiff

        rng = np.random.default_rng(9)
        img = rng.integers(0, 256, size=(23, 31), dtype=np.uint8)
        assert np.array_equal(decode_image(encode_png(img)), img)
        assert np.array_equal(decode_image(encode_tiff(img)), img)
        with pytest.raises(ImageDecodeError):
            decode_image(b"\xff\xd8\xff\xe0 not really a jpeg")

    def test_image_dims_any(self):
        from tesseract_glue_spark.imaging.codecs import image_dims_any
        from tesseract_glue_spark.imaging.tiff import encode_tiff

        img = np.zeros((17, 29), dtype=np.uint8)
        assert image_dims_any(encode_png(img)) == (29, 17)
        assert image_dims_any(encode_tiff(img)) == (29, 17)
        assert image_dims_any(b"junk") == (0, 0)

    def test_sniff_mime(self):
        from tesseract_glue_spark.imaging.codecs import sniff_mime
        from tesseract_glue_spark.imaging.tiff import encode_tiff

        img = np.zeros((4, 4), dtype=np.uint8)
        assert sniff_mime(encode_png(img)) == "image/png"
        assert sniff_mime(encode_tiff(img)) == "image/tiff"
        assert sniff_mime(encode_tiff(img, big_endian=True)) == "image/tiff"
        assert sniff_mime(b"????????") == "application/octet-stream"
