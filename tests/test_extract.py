"""End-to-end extraction pipeline tests.

The core assertion is FIXTURES.md §3 / BASELINE.json's per-row
invariant: **span-sequence equality** — for every document, the output
sequence ``[(kind, text, media_ref, offset)]`` equals the oracle built
by applying the reference per-page semantics (``reader.py:66-77`` →
``reader2.cpp:39-51``) to each media span independently, preserving
input order.
"""

import pytest
from pyspark.sql import functions as F

from tesseract_glue_spark.config import ExtractionConfig
from tesseract_glue_spark.fixtures import (
    interleaved_documents,
    pages_for,
    py_expected_extracted,
)
from tesseract_glue_spark.operators import extract
from tests.conftest import SF_DIR


@pytest.fixture(scope="module")
def docs(spark):
    return interleaved_documents(spark, SF_DIR).cache()


@pytest.fixture(scope="module")
def pages(spark, docs):
    return pages_for(docs).cache()


@pytest.fixture(scope="module")
def flat_docs(spark):
    return {
        r["doc_id"]: r["text"]
        for r in spark.read.parquet(f"{SF_DIR}/documents.parquet").collect()
    }


def spans_key(rows):
    """document → [(kind, text, media_ref, offset)] with ordinal check."""
    return [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in rows]


class TestFixtures:
    def test_input_schema_matches_hint(self, docs):
        # BASELINE.json input_hint schema
        assert [f.name for f in docs.schema.fields] == ["doc_id", "spans"]
        span_fields = docs.schema["spans"].dataType.elementType.fields
        assert [(f.name, f.dataType.simpleString()) for f in span_fields] == [
            ("kind", "string"),
            ("text", "string"),
            ("media_ref", "string"),
            ("offset", "int"),
        ]

    def test_spans_match_python_mirror(self, docs, flat_docs):
        for row in docs.limit(30).collect():
            expected = [
                (s["kind"], s["text"], s["media_ref"], s["offset"])
                for s in __import__(
                    "tesseract_glue_spark.fixtures", fromlist=["py_spans"]
                ).py_spans(row["doc_id"], flat_docs[row["doc_id"]])
            ]
            assert spans_key(row["spans"]) == expected

    def test_heavy_tail_docs_exist(self, docs):
        # doc_id % 97 == 0 → 24 media spans (49 total) — the skew fixture
        sizes = docs.select(F.size("spans").alias("n")).groupBy("n").count()
        assert {r["n"] for r in sizes.collect()} >= {3, 5, 7, 49}

    def test_pages_unique_and_no_dangling(self, pages):
        from tesseract_glue_spark.imaging.render import is_dangling, ref_to_num

        rows = pages.collect()
        refs = [r["media_ref"] for r in rows]
        assert len(refs) == len(set(refs))
        assert not any(is_dangling(ref_to_num(r)) for r in refs)
        assert all(r["width"] > 0 and r["height"] > 0 for r in rows)


class TestExtraction:
    def test_span_sequence_equality(self, docs, pages, flat_docs):
        """THE invariant: every output row span-sequence-equal to oracle."""
        out = extract.extract_documents(docs, pages, ExtractionConfig())
        got = {r["doc_id"]: r for r in out.collect()}
        assert set(got) == set(flat_docs)
        for doc_id, text in flat_docs.items():
            expected = [
                (s["kind"], s["text"], s["media_ref"], s["offset"])
                for s in py_expected_extracted(doc_id, text)["spans"]
            ]
            assert spans_key(got[doc_id]["spans"]) == expected, f"doc {doc_id}"

    def test_metrics_and_status(self, docs, pages, flat_docs):
        out = extract.extract_documents(docs, pages, ExtractionConfig())
        got = {r["doc_id"]: r for r in out.collect()}
        for doc_id, text in flat_docs.items():
            expected = py_expected_extracted(doc_id, text)
            r = got[doc_id]
            assert r["ocr_pages"] == expected["ocr_pages"]
            assert r["ocr_empty_pages"] == expected["ocr_empty_pages"]
            assert r["status"] == expected["status"]

    def test_salted_reassembly_identical(self, docs, pages):
        """Salting must not change results — only the shuffle shape
        (SURVEY §7 hard-point (b))."""
        base = extract.extract_documents(docs, pages, ExtractionConfig())
        salted = extract.extract_documents(
            docs, pages, ExtractionConfig(salt_reassembly=4)
        )
        a = {r["doc_id"]: spans_key(r["spans"]) for r in base.collect()}
        b = {r["doc_id"]: spans_key(r["spans"]) for r in salted.collect()}
        assert a == b

    def test_unhealthy_engine_degrades_not_dies(self, docs, pages):
        # reader2.cpp:19-23: bad engine → empty text, job completes
        out = extract.extract_documents(
            docs, pages, ExtractionConfig(force_unhealthy=True)
        )
        row = out.orderBy("doc_id").first()
        media_texts = [s["text"] for s in row["spans"] if s["kind"] == "media"]
        assert all(t == "" for t in media_texts)
        assert out.count() > 0

    def test_flat_view_row_count(self, docs, pages):
        flat = extract.extract_flat(docs, pages, ExtractionConfig())
        n_spans = docs.select(F.sum(F.size("spans"))).first()[0]
        assert flat.count() == n_spans


class TestOracleParitySql:
    """The Spark-SQL and DuckDB-SQL emissions of the truth contract must
    agree with the physical pipeline — this is the same check the
    driver's CORRECTNESS gate runs, executed locally."""

    def test_extracted_flat_sql_matches_pipeline(self, spark, docs, pages):
        import duckdb

        from tesseract_glue_spark.functions import truth

        got = (
            extract.extract_flat(docs, pages, ExtractionConfig())
            .orderBy("doc_id", "offset")
            .collect()
        )
        con = duckdb.connect()
        con.execute(
            f"CREATE VIEW documents AS SELECT * FROM read_parquet('{SF_DIR}/documents.parquet')"
        )
        want = con.sql(
            truth.extracted_flat_sql("duckdb") + ' ORDER BY doc_id, "offset"'
        ).fetchall()
        assert [tuple(r) for r in got] == [tuple(r) for r in want]

    def test_doc_metrics_sql_matches_pipeline(self, spark, docs, pages):
        import duckdb

        from tesseract_glue_spark.functions import truth

        got = (
            extract.extract_documents(docs, pages, ExtractionConfig())
            .select(
                "doc_id",
                F.col("ocr_pages").cast("long").alias("ocr_pages"),
                F.col("ocr_empty_pages").cast("long").alias("ocr_empty_pages"),
                "status",
            )
            .orderBy("doc_id")
            .collect()
        )
        con = duckdb.connect()
        con.execute(
            f"CREATE VIEW documents AS SELECT * FROM read_parquet('{SF_DIR}/documents.parquet')"
        )
        want = con.sql(truth.doc_metrics_sql("duckdb") + " ORDER BY doc_id").fetchall()
        assert [tuple(r) for r in got] == [tuple(r) for r in want]


class TestEdgeDocs:
    def test_empty_and_null_spans_docs_survive(self, spark, pages):
        """A doc with zero spans (or NULL spans) must still appear in the
        output with an empty span array — resume accounting depends on
        every input doc surviving the pipeline."""
        from tesseract_glue_spark.fixtures import DOCUMENTS_SCHEMA

        docs = spark.createDataFrame([(900001, []), (900002, None)], schema=DOCUMENTS_SCHEMA)
        out = extract.extract_documents(docs, pages, ExtractionConfig())
        rows = {r["doc_id"]: r for r in out.collect()}
        assert set(rows) == {900001, 900002}
        for r in rows.values():
            assert r["spans"] == []
            assert r["ocr_pages"] == 0 and r["ocr_empty_pages"] == 0
            assert r["status"] == "ok"

    def test_empty_docs_survive_flat_projection(self, spark, pages):
        """REGRESSION (round-1 advice): extract_flat used a non-outer
        posexplode, silently dropping zero-span docs from the flattened
        output — they must appear as a single NULL-kind placeholder row."""
        from tesseract_glue_spark.fixtures import DOCUMENTS_SCHEMA

        docs = spark.createDataFrame(
            [(900001, []), (900002, None)], schema=DOCUMENTS_SCHEMA
        )
        flat = extract.extract_flat(docs, pages, ExtractionConfig())
        rows = flat.collect()
        assert {r["doc_id"] for r in rows} == {900001, 900002}
        assert len(rows) == 2
        assert all(r["kind"] is None and r["offset"] is None for r in rows)


class TestOcrMetrics:
    def test_partition_metrics(self, spark, docs, pages):
        from tesseract_glue_spark.operators import extract as X

        spans = X.explode_spans(docs)
        ocr = X.ocr_media(spans, pages, ExtractionConfig())
        m = X.ocr_partition_metrics(ocr).collect()
        assert sum(r["n_pages"] for r in m) == ocr.count()
        assert all(r["partition_id"] >= 0 for r in m)
        assert sum(r["n_dangling"] for r in m) > 0  # contract guarantees danglings


def _assert_page_degrades_only_its_doc(spark, docs, pages, page, w, h):
    """Add one doc whose only media span is ``page`` to 40 fixture docs:
    that doc reads ``partial``, every other doc keeps its status, and
    the job completes (local mode runs each task once, so a task
    failure would fail the job)."""
    from tesseract_glue_spark.fixtures import DOCUMENTS_SCHEMA, PAGES_SCHEMA

    big_doc = spark.createDataFrame(
        [(990001, [("text", "cover", "", 0), ("media", "", "over_cap", 1)])],
        schema=DOCUMENTS_SCHEMA,
    )
    big_page = spark.createDataFrame([("over_cap", page, w, h, "")], schema=PAGES_SCHEMA)
    few = docs.where(F.col("doc_id") < 40)
    cfg = ExtractionConfig()
    base = {
        r["doc_id"]: r["status"]
        for r in extract.extract_documents(few, pages, cfg).collect()
    }
    got = {
        r["doc_id"]: r["status"]
        for r in extract.extract_documents(
            few.unionByName(big_doc), pages.unionByName(big_page), cfg
        ).collect()
    }
    assert got.pop(990001) == "partial"
    assert got == base and "ok" in base.values()


def _mixed_hot_docs(spark):
    """One multi-chunk hot doc (> block spans) plus 20 normal docs."""
    from tesseract_glue_spark.fixtures import DOCUMENTS_SCHEMA
    from tesseract_glue_spark.imaging.render import num_to_ref

    hot = [("text", f"t{o}", "", o) if o % 2 else
           ("media", "", num_to_ref((o * 7) % 6000), o) for o in range(2500)]
    small = [[("text", f"d{d}s{o}", "", o) for o in range(5)] for d in range(20)]
    return spark.createDataFrame(
        [(888000, hot)] + [(888001 + d, s) for d, s in enumerate(small)],
        schema=DOCUMENTS_SCHEMA,
    )


class TestRobustness:
    @pytest.mark.parametrize("extractor", ["extract_documents", "extract_web_documents"])
    def test_duplicate_pages_guard(self, spark, docs, pages, extractor):
        """A resolver emitting duplicate page rows must not duplicate
        spans when the dedup_pages guard is on — on both extractors,
        which share one page resolve."""
        from tesseract_glue_spark.operators import web

        if extractor == "extract_web_documents":
            run, docs = web.extract_web_documents, web.wrap_text_spans_html(docs)
        else:
            run = extract.extract_documents
        dup_pages = pages.unionByName(pages.limit(50))
        base = run(docs, pages, ExtractionConfig())
        guarded = run(docs, dup_pages, ExtractionConfig(dedup_pages=True))
        a = {r["doc_id"]: spans_key(r["spans"]) for r in base.collect()}
        b = {r["doc_id"]: spans_key(r["spans"]) for r in guarded.collect()}
        assert a == b

    def test_salted_routing_mixed_corpus(self, spark, pages):
        """Heavy-tail routing: a corpus mixing one multi-chunk hot doc
        (> block spans) with normal docs must send each doc down its
        branch (single-phase vs chunked two-phase) and produce output
        identical to the unsalted plan — no doc lost, duplicated, or
        reordered across the union."""
        docs = _mixed_hot_docs(spark)
        base = extract.extract_documents(docs, pages, ExtractionConfig()).collect()
        salted = extract.extract_documents(
            docs, pages, ExtractionConfig(salt_reassembly=16)
        ).collect()
        a = {r["doc_id"]: spans_key(r["spans"]) for r in base}
        b = {r["doc_id"]: spans_key(r["spans"]) for r in salted}
        assert a == b and len(b) == 21

    def test_salted_web_routing_mixed_corpus(self, spark, pages):
        """Web extraction carries the doc size through the fused stage,
        so salted reassembly routes the normal docs to the single-phase
        plan (the ``n_spans`` filter) — with output identical to the
        unsalted plan."""
        import re

        from tesseract_glue_spark.operators import web
        from tesseract_glue_spark.plans import checks as C

        docs = web.wrap_text_spans_html(_mixed_hot_docs(spark))
        base = web.extract_web_documents(docs, pages, ExtractionConfig())
        salted = web.extract_web_documents(
            docs, pages, ExtractionConfig(salt_reassembly=16)
        )
        plan = C.plan_text(salted)
        assert re.search(r"n_spans#\d+ <= 1024", plan), plan
        a = {r["doc_id"]: spans_key(r["spans"]) for r in base.collect()}
        b = {r["doc_id"]: spans_key(r["spans"]) for r in salted.collect()}
        assert a == b and len(b) == 21

    def test_over_cap_page_degrades_only_its_doc(self, spark, docs, pages):
        """A white page declaring just over ``codecs.MAX_PIXELS`` pixels is
        rejected from its header: its doc reads ``partial``, every other
        doc keeps its status, and the job completes (local mode runs each
        task once, so a task failure would fail the job). Without the cap
        the page inflates to 72 MB, decodes, and its doc reads ``ok``."""
        from tesseract_glue_spark.imaging.codecs import MAX_PIXELS
        from tesseract_glue_spark.imaging.render import PAYLOAD_MAGIC
        from tests.conftest import streamed_png

        w = 10_000
        h = MAX_PIXELS // w + 1
        white_row = b"\x00" + b"\xff" * w
        empty_payload = PAYLOAD_MAGIC + bytes(4)  # stub codec: empty text
        first = b"\x00" + empty_payload + b"\xff" * (w - len(empty_payload))
        page = streamed_png(
            w, h, [first] + [white_row * 100] * ((h - 1) // 100) + [white_row * ((h - 1) % 100)]
        )
        _assert_page_degrades_only_its_doc(spark, docs, pages, page, w, h)

    def test_recognizer_failure_is_not_a_decode_error(self, spark):
        """A page that decodes but carries no fixture payload fails in
        the recognizer: it reads ``recognize_error``, not
        ``decode_error``, and its doc still reads ``partial``. A
        truncated page still reads ``decode_error``."""
        import numpy as np

        from tesseract_glue_spark.fixtures import DOCUMENTS_SCHEMA, PAGES_SCHEMA
        from tesseract_glue_spark.imaging.png import encode_png

        blank = encode_png(np.full((40, 60), 255, dtype=np.uint8))
        bad_docs = spark.createDataFrame(
            [
                (990002, [("media", "", "no_payload", 0)]),
                (990003, [("media", "", "truncated", 0)]),
            ],
            schema=DOCUMENTS_SCHEMA,
        )
        bad_pages = spark.createDataFrame(
            [
                ("no_payload", blank, 60, 40, ""),
                ("truncated", blank[: len(blank) // 2], 60, 40, ""),
            ],
            schema=PAGES_SCHEMA,
        )
        cfg = ExtractionConfig()
        ocr = extract.ocr_media(extract.explode_spans(bad_docs), bad_pages, cfg)
        assert {r["media_ref"]: r["ocr_status"] for r in ocr.collect()} == {
            "no_payload": "recognize_error",
            "truncated": "decode_error",
        }
        m = extract.ocr_partition_metrics(ocr).collect()
        assert sum(r["n_recognize_errors"] for r in m) == 1
        assert sum(r["n_decode_errors"] for r in m) == 1
        out = extract.extract_documents(bad_docs, bad_pages, cfg).collect()
        assert {r["doc_id"]: r["status"] for r in out} == {990002: "partial", 990003: "partial"}

    def test_over_cap_tiff_page_degrades_only_its_doc(self, spark, docs, pages):
        """A TIFF page declaring just over ``codecs.MAX_PIXELS`` pixels, its
        first strip an empty stub payload and every other strip one
        shared white block, is rejected from its tags: its doc reads
        ``partial`` and every other doc keeps its status. Without the
        cap the strips fill the page, it decodes, and its doc reads
        ``ok``."""
        from tesseract_glue_spark.imaging.codecs import MAX_PIXELS
        from tesseract_glue_spark.imaging.render import PAYLOAD_MAGIC
        from tests.conftest import strip_bomb_tiff

        w = 10_000
        h = MAX_PIXELS // w + 1
        empty_payload = PAYLOAD_MAGIC + bytes(4)  # stub codec: empty text
        first = empty_payload + b"\xff" * (w - len(empty_payload))
        page = strip_bomb_tiff(w, h, b"\xff" * (10 * w), first=first)
        _assert_page_degrades_only_its_doc(spark, docs, pages, page, w, h)

    def test_extreme_skew_doc(self, spark, pages):
        """One document with thousands of spans (the 10^12-scale hot-key
        shape): salted reassembly must still reconstruct exact order."""
        from tesseract_glue_spark.fixtures import DOCUMENTS_SCHEMA
        from tesseract_glue_spark.imaging.render import num_to_ref

        n_spans = 4001
        spans = []
        for o in range(n_spans):
            if o % 2 == 0:
                spans.append(("text", f"t{o}", "", o))
            else:
                spans.append(("media", "", num_to_ref((o * 17) % 6000), o))
        docs = spark.createDataFrame([(777000, spans)], schema=DOCUMENTS_SCHEMA)
        out = extract.extract_documents(
            docs, pages, ExtractionConfig(salt_reassembly=16)
        ).collect()
        assert len(out) == 1
        got = out[0]["spans"]
        assert len(got) == n_spans
        assert [s["offset"] for s in got] == list(range(n_spans))
        assert all(s["text"] == f"t{s['offset']}" for s in got if s["kind"] == "text")

    def test_permuted_input_spans_are_restored(self, spark, pages):
        """Order restoration: even if the input span ARRAY arrives
        permuted (violating the ordinal contract), reassembly re-sorts
        by the carried offset — output order never depends on input
        array order or shuffle order."""
        import random as _random

        from tesseract_glue_spark.fixtures import DOCUMENTS_SCHEMA
        from tesseract_glue_spark.imaging.render import truth_text

        rng = _random.Random(7)
        from tesseract_glue_spark.imaging.render import ref_to_num

        ref = pages.select("media_ref").orderBy("media_ref").first()["media_ref"]
        n = ref_to_num(ref)
        spans = []
        for o in range(21):
            if o % 2 == 0:
                spans.append(("text", f"t{o}", "", o))
            else:
                spans.append(("media", "", ref, o))
        shuffled = spans[:]
        rng.shuffle(shuffled)
        docs = spark.createDataFrame([(555000, shuffled)], schema=DOCUMENTS_SCHEMA)
        out = extract.extract_documents(docs, pages, ExtractionConfig()).collect()
        got = out[0]["spans"]
        assert [s["offset"] for s in got] == list(range(21))
        assert all(
            s["text"] == (f"t{s['offset']}" if s["kind"] == "text" else truth_text(n))
            for s in got
        )

    def test_confidence_and_timing_metrics(self, spark, docs, pages):
        from tesseract_glue_spark.operators import extract as X

        spans = X.explode_spans(docs)
        ocr = X.ocr_media(spans, pages, ExtractionConfig())
        rows = ocr.collect()
        ok = [r for r in rows if r["ocr_status"] in ("ok", "empty")]
        bad = [r for r in rows if r["ocr_status"] == "dangling"]
        assert ok and all(r["confidence_x10k"] == 10000 for r in ok)
        assert bad and all(r["confidence_x10k"] == 0 for r in bad)
        assert all(r["proc_us"] >= 0 for r in rows)
        m = X.ocr_partition_metrics(ocr).collect()
        assert all(r["proc_us_total"] > 0 for r in m)
        assert all(0 <= r["avg_confidence_x10k"] <= 10000 for r in m)

    def test_layout_segmentation_zones_by_class(self, spark, docs, pages):
        """XY-cut layout segmentation separates the picture block from
        the text body: picture-class pages (n%3==0) segment into exactly
        2 zones, plain/skewed pages into 1 (verified through the
        distributed OCR path, not just the kernel unit tests). Layout
        analysis is opt-in, so the config asks for it."""
        from tesseract_glue_spark.imaging.render import is_blank, ref_to_num
        from tesseract_glue_spark.operators import extract as X

        spans = X.explode_spans(docs)
        ocr = X.ocr_media(spans, pages, ExtractionConfig(preprocess=True))
        saw_multi = False
        for r in ocr.where("ocr_status in ('ok','empty')").collect():
            n = ref_to_num(r["media_ref"])
            if is_blank(n):
                assert r["n_zones"] == 0, (n, r["n_zones"])
            elif n % 3 == 0:
                # picture block is spatially separate from the text body
                assert r["n_zones"] >= 2, (n, r["n_zones"])
                saw_multi = True
            else:
                assert r["n_zones"] >= 1, (n, r["n_zones"])
        assert saw_multi


class TestLayoutAnalysisOptIn:
    """The default OCR path is decode → grayscale → recognize; layout
    analysis (``preprocess=True``) fills only the OCR stage's zone and
    shear columns."""

    def test_default_rows_equal_layout_analysis_rows(self, docs, pages):
        def rows(cfg):
            out = extract.extract_documents(docs, pages, cfg)
            return {r["doc_id"]: r for r in out.select(*extract.EXTRACTED_SCHEMA_COLS).collect()}

        default = rows(ExtractionConfig())
        assert default == rows(ExtractionConfig(preprocess=True))
        assert {r["status"] for r in default.values()} == {"ok", "partial"}

    def test_default_path_skips_layout_analysis(self, docs, pages):
        ocr = extract.ocr_media(extract.explode_spans(docs), pages, ExtractionConfig())
        rows = ocr.collect()
        assert any(r["ocr_status"] == "ok" for r in rows)
        assert all(r["n_zones"] == 0 and r["shear"] == 0.0 for r in rows)

    def test_layout_analysis_drops_the_pre_deskew_mask(self):
        """A 6 Mpx page of sheared text lines through ``ocr_one_page``
        with layout analysis: the peak holds the page, its deskewed copy
        and that copy's mask (3.0 B/px), not also the mask from before
        deskewing (4.0 B/px)."""
        import tracemalloc

        import numpy as np

        from tesseract_glue_spark.engine import StubBackend
        from tesseract_glue_spark.imaging.kernels import deskew
        from tesseract_glue_spark.imaging.png import encode_png
        from tesseract_glue_spark.imaging.render import PAYLOAD_MAGIC, PAYLOAD_ROWS

        h, w = 2000, 3000
        page = np.full((h, w), 255, dtype=np.uint8)
        for y in range(PAYLOAD_ROWS + 40, h - 40, 40):
            page[y : y + 4] = 0
        page[:, 40::50] = 255  # break each line into words
        page = deskew(page, -0.02)  # apply shear
        page[0, :6] = np.frombuffer(PAYLOAD_MAGIC + bytes(4), dtype=np.uint8)  # empty text
        data = encode_png(page)
        cfg = ExtractionConfig(preprocess=True)
        tracemalloc.start()
        try:
            text, status, _, _, n_zones, shear, _, _ = extract.ocr_one_page(
                StubBackend(cfg), cfg, data
            )
            _, peak = tracemalloc.get_traced_memory()
        finally:
            tracemalloc.stop()
        assert (text, status) == ("", "empty") and n_zones >= 1 and abs(shear) > 1e-3
        assert peak <= 3.5 * page.size, peak / page.size


class TestTiffPageStore:
    def test_extraction_over_tiff_pages_matches_png(self, spark, docs, pages):
        """A TIFF-backed page store (the reference's corpus format,
        tests/CMakeLists.txt:3-7) must extract to exactly the same
        span sequences as the PNG-backed store — the decode seam
        dispatches per page on magic bytes. Half the pages are
        transcoded big-endian / WhiteIsZero to exercise the full
        variant matrix inside executors."""
        import pandas as pd

        from tesseract_glue_spark.imaging.codecs import decode_image
        from tesseract_glue_spark.imaging.tiff import encode_tiff

        def transcode(batches):
            for pdf in batches:
                out = []
                for i, (ref, img) in enumerate(zip(pdf["media_ref"], pdf["image"])):
                    gray = decode_image(bytes(img))
                    out.append(
                        (
                            ref,
                            encode_tiff(
                                gray,
                                big_endian=(i % 2 == 0),
                                photometric=(0 if i % 3 == 0 else 1),
                                rows_per_strip=(16 if i % 5 == 0 else None),
                            ),
                        )
                    )
                yield pd.DataFrame(out, columns=["media_ref", "image"])

        tiff_pages = pages.select("media_ref", "image").mapInPandas(
            transcode, schema="media_ref string, image binary"
        )
        got = extract.extract_flat(docs, tiff_pages, ExtractionConfig()).collect()
        want = extract.extract_flat(docs, pages, ExtractionConfig()).collect()
        key = lambda r: (r["doc_id"], r["offset"] if r["offset"] is not None else -1)
        assert sorted(got, key=key) == sorted(want, key=key)

    def test_extraction_over_jp2_pages_degrades_typed(self, spark, docs, pages):
        """A JPEG-2000 page store in a sandbox with no libopenjp2: every
        page's pixel decode fails TYPED inside executors, so extraction
        must complete with per-doc 'partial' status and empty media
        text — structure, ordering, and text spans intact — never a
        task death. (With a JPEG-2000-capable Pillow this store would
        instead match the PNG store exactly, like the TIFF test.)"""
        import pandas as pd
        import pytest as _pytest

        from tesseract_glue_spark.imaging.codecs import image_dims_any
        from tesseract_glue_spark.imaging.jp2 import encode_jp2_skeleton

        try:
            from PIL import features as _f

            if _f.check("jpg_2000"):
                _pytest.skip("decode available: covered by full-equality path")
        except ImportError:
            pass

        def transcode(batches):
            for pdf in batches:
                out = []
                for ref, img in zip(pdf["media_ref"], pdf["image"]):
                    w, h = image_dims_any(bytes(img))
                    out.append((ref, encode_jp2_skeleton(w, h)))
                yield pd.DataFrame(out, columns=["media_ref", "image"])

        jp2_pages = pages.select("media_ref", "image").mapInPandas(
            transcode, schema="media_ref string, image binary"
        )
        got = extract.extract_flat(docs, jp2_pages, ExtractionConfig()).collect()
        want = extract.extract_flat(docs, pages, ExtractionConfig()).collect()
        key = lambda r: (r["doc_id"], r["offset"] if r["offset"] is not None else -1)
        got, want = sorted(got, key=key), sorted(want, key=key)
        assert [(r["doc_id"], r["offset"], r["kind"], r["media_ref"]) for r in got] == [
            (r["doc_id"], r["offset"], r["kind"], r["media_ref"]) for r in want
        ]
        n_media = 0
        for g, w in zip(got, want):
            if g["kind"] == "text":
                assert g["text"] == w["text"]  # text spans untouched
            elif g["media_ref"]:
                n_media += 1
                assert g["text"] == ""  # decode error → degraded empty
        assert n_media > 0
        metrics = extract.extract_documents(docs, jp2_pages, ExtractionConfig())
        statuses = {r["status"] for r in metrics.select("status").distinct().collect()}
        assert statuses == {"partial"}
