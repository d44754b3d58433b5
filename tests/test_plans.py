"""Plan-shape regression tests: the optimizations that matter at 100 TB
must be visible in the physical plan, not just assumed."""

import pytest
from pyspark.sql import functions as F

from tesseract_glue_spark.plans import checks as C
from tests.conftest import SF_DIR


class TestScanQuality:
    def test_filter_pushdown_reaches_scan(self, spark):
        df = (
            spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
            .where(F.col("l_quantity") > 30)
            .select("l_orderkey", "l_quantity")
        )
        plan = C.plan_text(df)
        assert C.has_pushed_filter(plan, "l_quantity"), plan

    def test_column_pruning_two_column_projection(self, spark):
        """A 2-column projection must not read all 11 lineitem columns."""
        df = spark.read.parquet(f"{SF_DIR}/lineitem.parquet").select(
            "l_orderkey", "l_quantity"
        )
        plan = C.plan_text(df)
        assert C.columns_pruned(plan, "lineitem", {"l_orderkey", "l_quantity"}), plan

    def test_extraction_scan_prunes_to_needed_columns(self, spark):
        """The corpus derivation reads only (doc_id, text) from the flat
        documents table — never lang/source/n_chars."""
        from tesseract_glue_spark.fixtures import interleaved_documents

        plan = C.plan_text(interleaved_documents(spark, SF_DIR))
        assert C.columns_pruned(plan, "documents", {"doc_id", "text"}), plan


class TestExtractionPlanShape:
    @pytest.fixture(scope="class")
    def extraction_plan(self, spark):
        from tesseract_glue_spark import ExtractionConfig, extract_documents
        from tesseract_glue_spark.fixtures import interleaved_documents, pages_for

        # cached fragments left by other test modules change plan
        # statistics (InMemoryRelation → broadcast flips to sort-merge);
        # assert the canonical uncached plan
        spark.catalog.clearCache()
        docs = interleaved_documents(spark, SF_DIR)
        out = extract_documents(docs, pages_for(docs), ExtractionConfig())
        return C.plan_text(out)

    def test_ocr_fanout_survives_optimizer(self, extraction_plan):
        """Regression for the two traps found in round 1: Catalyst eliding
        the pre-UDF repartition, then AQE coalescing the stage to 1 task."""
        assert C.has_user_repartition(extraction_plan), extraction_plan

    def test_wholestage_codegen_present(self, spark):
        """With AQE on, explain shows AdaptiveSparkPlan isFinalPlan=false
        and no codegen subtrees — disable AQE for this one assertion so
        the *(n) markers are visible in the static plan."""
        from tesseract_glue_spark import ExtractionConfig, extract_documents
        from tesseract_glue_spark.fixtures import interleaved_documents, pages_for

        spark.conf.set("spark.sql.adaptive.enabled", "false")
        try:
            docs = interleaved_documents(spark, SF_DIR)
            out = extract_documents(docs, pages_for(docs), ExtractionConfig())
            assert C.has_wholestage_codegen(C.plan_text(out, "simple"))
        finally:
            spark.conf.set("spark.sql.adaptive.enabled", "true")

    def test_shuffle_budget(self, extraction_plan):
        """Shuffle inventory of the extraction pipeline stays bounded
        (distinct, fan-out repartition, stitch join sides, reassembly —
        anything beyond ~8 exchanges means a new unplanned shuffle)."""
        assert C.count_exchanges(extraction_plan) <= 8, extraction_plan


class TestPackingPlanShape:
    def test_pack_sequences_window_is_partitioned(self, spark):
        """The running-sum window must be partitioned by pack_group —
        a global ORDER BY window funnels the whole table through ONE
        task at 10^12 rows (Spark even warns 'No Partition Defined')."""
        from tesseract_glue_spark.operators.registry import spark_runner
        from tesseract_glue_spark.operators.text import pack_sequences_sql

        df = spark_runner(pack_sequences_sql, tables=("documents",))(spark, SF_DIR)
        plan = C.plan_text(df)
        assert "Window" in plan, plan
        # a partitioned window hash-partitions on its keys; a global one
        # plans Exchange SinglePartition directly under the Window
        assert "SinglePartition" not in plan, plan


class TestWebPlanShape:
    def test_fused_web_input_no_html_shuffle(self, spark):
        """The fused strip+OCR stage's input partitions each union side
        SEPARATELY: the media side round-robin fans out (pages must
        load-balance), the text side is map-only once its input is
        already split — repartitioning the union instead pushes every
        HTML payload through the shuffle (measured: 4→16 scaling 0.855
        → 0.457). Lock the shape: with pre-split text input, exactly
        ONE user round-robin partitioning (the media side's), and no
        exchange between the text-span scan and the union."""
        from tesseract_glue_spark import ExtractionConfig
        from tesseract_glue_spark.fixtures import interleaved_documents, pages_for
        from tesseract_glue_spark.operators.extract import explode_spans
        from tesseract_glue_spark.operators.web import (
            _fused_web_input,
            wrap_text_spans_html,
        )

        par = spark.sparkContext.defaultParallelism
        docs = wrap_text_spans_html(interleaved_documents(spark, SF_DIR))
        pages = pages_for(docs)
        # production shape: the span table arrives as a SOURCE SCAN with
        # enough splits (a crawl job reads exploded spans off storage) —
        # materialize once so no helper repartition muddies the count
        import tempfile

        d = tempfile.mkdtemp(prefix="tg_plan_spans_")
        explode_spans(docs).repartition(2 * par).write.mode("overwrite").parquet(
            f"{d}/spans"
        )
        spans = spark.read.parquet(f"{d}/spans")
        plan = C.plan_text(
            _fused_web_input(spans, pages, ExtractionConfig()), mode="simple"
        )
        assert plan.count("RoundRobinPartitioning") == 1, plan
