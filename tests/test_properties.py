"""Property-based tests (hypothesis) for the Spark-free kernels: the
codec, the truth contract, and order-preservation invariants."""

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from tesseract_glue_spark.engine import normalize_text
from tesseract_glue_spark.functions import truth
from tesseract_glue_spark.fixtures import py_expected_extracted, py_spans
from tesseract_glue_spark.imaging.png import decode_png, encode_png, image_dims
from tesseract_glue_spark.imaging.render import (
    is_blank,
    is_dangling,
    render_page,
    truth_text,
)


class TestCodecProperties:
    @given(
        w=st.integers(1, 80),
        h=st.integers(1, 60),
        seed=st.integers(0, 2**31 - 1),
    )
    @settings(max_examples=40, deadline=None)
    def test_png_roundtrip_any_image(self, w, h, seed):
        img = np.random.default_rng(seed).integers(0, 256, (h, w), dtype=np.uint8)
        data = encode_png(img)
        assert image_dims(data) == (w, h)
        assert np.array_equal(decode_png(data), img)

    @given(n=st.integers(0, 10_000_000))
    @settings(max_examples=60, deadline=None)
    def test_render_recognize_roundtrip_any_id(self, n):
        """For EVERY media id: stub OCR of the rendered page reproduces
        the contract truth text (the determinism contract, FIXTURES.md §2)."""
        from tesseract_glue_spark.config import ExtractionConfig
        from tesseract_glue_spark.engine import get_engine

        png, w, h, t = render_page(n)
        assert t == truth_text(n)
        eng = get_engine(ExtractionConfig())
        assert eng.recognize(decode_png(png)) == t
        if is_blank(n):
            assert t == ""

    @given(s=st.text(alphabet=" \t\n\r\f\v", max_size=20))
    def test_whitespace_always_normalizes_empty(self, s):
        assert normalize_text(s) == ""

    @given(s=st.text(min_size=1, max_size=50))
    def test_normalize_idempotent(self, s):
        assert normalize_text(normalize_text(s)) == normalize_text(s)


class TestContractProperties:
    @given(doc_id=st.integers(0, 10**9), text=st.text(max_size=200))
    @settings(max_examples=60, deadline=None)
    def test_spans_shape_invariants(self, doc_id, text):
        spans = py_spans(doc_id, text)
        # offsets are exactly 0..len-1 in order (input_hint contract)
        assert [s["offset"] for s in spans] == list(range(len(spans)))
        # strict text/media alternation starting and ending with text
        kinds = [s["kind"] for s in spans]
        assert kinds[0] == "text" and kinds[-1] == "text"
        assert all(k == ("text" if i % 2 == 0 else "media") for i, k in enumerate(kinds))
        # media spans carry refs, text spans don't
        for s in spans:
            assert (s["media_ref"] != "") == (s["kind"] == "media")

    @given(doc_id=st.integers(0, 10**9), text=st.text(max_size=200))
    @settings(max_examples=60, deadline=None)
    def test_extraction_oracle_preserves_structure(self, doc_id, text):
        """Span-sequence equality structure: extraction only rewrites
        media-span text; kind/media_ref/offset are untouched."""
        before = py_spans(doc_id, text)
        after = py_expected_extracted(doc_id, text)["spans"]
        assert len(before) == len(after)
        for b, a in zip(before, after):
            assert (b["kind"], b["media_ref"], b["offset"]) == (
                a["kind"],
                a["media_ref"],
                a["offset"],
            )
            if b["kind"] == "text":
                assert a["text"] == b["text"]
            else:
                n = int(b["media_ref"][4:])
                if is_dangling(n):
                    assert a["text"] == ""
                else:
                    assert a["text"] == truth_text(n)

    @given(n=st.integers(0, 10**6))
    def test_blank_dangling_disjoint(self, n):
        assert not (is_blank(n) and is_dangling(n))

    @given(doc_id=st.integers(0, 10**9))
    def test_heavy_tail_rule(self, doc_id):
        n_media = sum(1 for s in py_spans(doc_id, "x" * 50) if s["kind"] == "media")
        if doc_id % truth.SKEW_DOC_MOD == 0:
            assert n_media == truth.SKEW_DOC_MEDIA
        else:
            assert 1 <= n_media <= 3


class TestKernelProperties:
    @given(
        shear=st.floats(-0.04, 0.04),
        seed=st.integers(0, 2**31 - 1),
    )
    @settings(max_examples=20, deadline=None)
    def test_deskew_inverts_shear(self, shear, seed):
        """shear-then-deskew returns ink rows to within 2px of origin."""
        from tesseract_glue_spark.imaging.kernels import deskew, otsu_binarize

        img = np.full((100, 150), 255, dtype=np.uint8)
        rng = np.random.default_rng(seed)
        rows = rng.choice(np.arange(20, 80), size=3, replace=False)
        for y in rows:
            img[y : y + 3, 10:140] = 0
        sheared = deskew(img, -shear)  # apply shear
        fixed = deskew(sheared, shear)  # remove it
        ink_orig = set(np.nonzero(otsu_binarize(img).any(axis=1))[0])
        ink_fixed = set(np.nonzero(otsu_binarize(fixed).any(axis=1))[0])
        assert ink_fixed  # nothing vanished
        assert max(abs(min(ink_orig) - min(ink_fixed)), 0) <= 2


class TestWebCodecProperties:
    @given(
        words=st.lists(
            st.text(
                st.characters(min_codepoint=33, max_codepoint=126, exclude_characters="<>&"),
                min_size=1,
                max_size=10,
            ),
            min_size=4,
            max_size=30,
        )
    )
    @settings(max_examples=40, deadline=None)
    def test_html_content_paragraph_recovered_verbatim(self, words):
        """Any long-enough plain paragraph inside arbitrary chrome comes
        back whitespace-normalized and otherwise verbatim."""
        from tesseract_glue_spark.web.html_main import extract_main

        para = " ".join(words)
        if len(para) < 25:
            para = para + " " + "x" * 25
        html = (
            '<nav><a href="/">a</a> <a href="/b">b</a></nav>'
            f"<article><p>{para}</p></article>"
            '<footer><a href="/t">t</a></footer>'
        )
        assert extract_main(html) == " ".join(para.split())
