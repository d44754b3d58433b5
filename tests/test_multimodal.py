"""Image operator tests: header metadata, pixel features and resize over
the rendered page store."""

import pytest

from tests.conftest import SF_DIR


@pytest.fixture(scope="module")
def pages(spark):
    from tesseract_glue_spark.fixtures import interleaved_documents, pages_for

    return pages_for(interleaved_documents(spark, SF_DIR)).cache()


class TestImages:
    def test_metadata_matches_pages(self, pages):
        from tesseract_glue_spark.operators.multimodal import image_metadata

        meta = {r["media_ref"]: r for r in image_metadata(pages).collect()}
        for r in pages.collect():
            m = meta[r["media_ref"]]
            assert (m["width"], m["height"]) == (r["width"], r["height"])
            assert m["status"] == "ok" and m["n_bytes"] > 0

    def test_features_shape_and_range(self, pages):
        from tesseract_glue_spark.operators.multimodal import image_features

        rows = image_features(pages, bins=8).collect()
        assert len(rows) == pages.count()
        for r in rows:
            assert len(r["features"]) == 8
            assert abs(sum(r["features"]) - 1.0) < 1e-3
            assert 0 <= r["ink_ratio_x10k"] <= 10000

    def test_resize_bounded(self, pages):
        from tesseract_glue_spark.imaging.png import decode_png
        from tesseract_glue_spark.operators.multimodal import image_resize

        rows = image_resize(pages, max_side=64).collect()
        assert rows
        for r in rows[:20]:
            arr = decode_png(bytes(r["image"]))
            assert max(arr.shape) <= 64
            assert arr.shape == (r["height"], r["width"])
