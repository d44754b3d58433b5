"""Tests: manifest/resume protocol + streaming extraction + SQL-operator
parity (text vs DuckDB)."""

import json
import os

import duckdb
import pandas as pd
import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_DIR


class TestManifestsResume:
    @pytest.fixture(scope="class")
    def extracted(self, spark):
        from tesseract_glue_spark import ExtractionConfig, extract_documents
        from tesseract_glue_spark.fixtures import interleaved_documents, pages_for

        docs = interleaved_documents(spark, SF_DIR)
        return extract_documents(docs, pages_for(docs), ExtractionConfig()).cache()

    def test_write_and_manifests(self, extracted, tmp_path):
        from tesseract_glue_spark.sources import manifests as M

        out = str(tmp_path / "out")
        m = M.write_extracted(extracted, out, n_buckets=8)
        assert sum(v["n_docs"] for v in m.values()) == extracted.count()
        assert set(m) == M.done_buckets(out)
        # manifests carry engine lineage (tesseract_version analogue)
        any_m = next(iter(m.values()))
        assert "engine_version" in any_m["engine"]

    def test_resume_skips_done_buckets(self, spark, extracted, tmp_path):
        from tesseract_glue_spark.fixtures import interleaved_documents
        from tesseract_glue_spark.sources import manifests as M

        out = str(tmp_path / "out2")
        M.write_extracted(extracted, out, n_buckets=8)
        docs = interleaved_documents(spark, SF_DIR)
        # everything done → nothing to process
        assert M.resume_filter(docs, out, n_buckets=8).count() == 0
        # invalidate one bucket → exactly that bucket's docs come back
        victim = sorted(M.done_buckets(out))[0]
        path = os.path.join(out, M.MANIFEST_DIR, f"bucket-{victim:05d}.json")
        with open(path, "w") as fh:
            fh.write("{corrupt")
        todo = M.resume_filter(docs, out, n_buckets=8)
        bucketed = M.with_bucket(docs, 8)
        expected = bucketed.where(F.col("bucket") == victim).count()
        assert todo.count() == expected > 0

    def test_doc_level_resume_processes_only_missing_docs(
        self, spark, extracted, tmp_path
    ):
        """Crash mid-run (data written, manifests not yet): doc-granular
        resume must re-process ONLY the missing docs, append them without
        clobbering the surviving rows, and end with manifests that
        describe the complete corpus."""
        from tesseract_glue_spark.sources import manifests as M

        out = str(tmp_path / "out_doc")
        half = extracted.where(F.col("doc_id") % 2 == 0)
        M.write_extracted(half, out, n_buckets=4)
        # simulate crash-before-manifests: data is durable, manifests gone
        for fn in os.listdir(os.path.join(out, M.MANIFEST_DIR)):
            os.unlink(os.path.join(out, M.MANIFEST_DIR, fn))

        todo = M.resume_filter(extracted, out, n_buckets=4, granularity="doc")
        missing = extracted.where(F.col("doc_id") % 2 == 1)
        assert todo.count() == missing.count() > 0
        assert {r["doc_id"] for r in todo.select("doc_id").collect()} == {
            r["doc_id"] for r in missing.select("doc_id").collect()
        }

        m = M.write_extracted(todo, out, n_buckets=4, mode="append")
        data = spark.read.parquet(os.path.join(out, M.DATA_DIR))
        assert data.count() == extracted.count()  # complete, no duplicates
        assert data.select("doc_id").distinct().count() == extracted.count()
        # read-back manifests describe the FULL buckets, not just this run
        assert sum(v["n_docs"] for v in m.values()) == extracted.count()
        # bucket-level resume now sees everything done
        assert M.resume_filter(extracted, out, n_buckets=4).count() == 0
        # ... and doc-level too
        assert (
            M.resume_filter(extracted, out, n_buckets=4, granularity="doc").count() == 0
        )

    def test_manifest_atomic_write(self, tmp_path):
        from tesseract_glue_spark.sources.manifests import _atomic_write_json

        p = str(tmp_path / "m" / "x.json")
        _atomic_write_json(p, {"a": 1})
        assert json.load(open(p)) == {"a": 1}
        assert not [f for f in os.listdir(tmp_path / "m") if f.endswith(".tmp")]


    def test_resume_write_preserves_other_buckets(self, spark, extracted, tmp_path):
        """REGRESSION: a resume run writing one bucket must not wipe the
        other buckets' data (dynamic partition overwrite, not static)."""
        from tesseract_glue_spark.sources import manifests as M

        out = str(tmp_path / "out3")
        M.write_extracted(extracted, out, n_buckets=8)
        full = spark.read.parquet(os.path.join(out, M.DATA_DIR))
        n_total = full.count()
        buckets_before = {r["bucket"] for r in full.select("bucket").distinct().collect()}
        # simulate a resume that re-processes only bucket 3
        subset = M.with_bucket(extracted, 8).where(F.col("bucket") == 3).drop("bucket")
        M.write_extracted(subset, out, n_buckets=8, resume=True)
        after = spark.read.parquet(os.path.join(out, M.DATA_DIR))
        assert {r["bucket"] for r in after.select("bucket").distinct().collect()} == buckets_before
        assert after.count() == n_total

    def test_fresh_overwrite_clears_stale_buckets(self, spark, extracted, tmp_path):
        """A NON-resume overwrite into a dir holding buckets from a
        previous larger run must not re-manifest the stale buckets as
        valid (dynamic overwrite never deletes partitions absent from
        the write — round-2 advisor finding): reported stats must
        describe exactly this write."""
        from tesseract_glue_spark.sources import manifests as M

        out = str(tmp_path / "out_stale")
        M.write_extracted(extracted, out, n_buckets=8)  # previous big run
        subset = M.with_bucket(extracted, 8).where(F.col("bucket") == 3).drop("bucket")
        n_subset = subset.count()
        m = M.write_extracted(subset, out, n_buckets=8)  # fresh run, dirty dir
        assert sum(v["n_docs"] for v in m.values()) == n_subset
        data = spark.read.parquet(os.path.join(out, M.DATA_DIR))
        assert data.count() == n_subset
        assert M.done_buckets(out) == set(m)

    def test_doc_resume_survives_crash_before_first_commit(self, spark, tmp_path):
        """Crash before ANY parquet commit leaves data/ holding only
        _temporary/ — doc-granular resume must still start (it used to
        die inferring a schema from zero files; round-2 advisor
        finding) and process the full corpus."""
        from tesseract_glue_spark.fixtures import interleaved_documents
        from tesseract_glue_spark.sources import manifests as M

        out = str(tmp_path / "out_crash")
        os.makedirs(os.path.join(out, M.DATA_DIR, "_temporary", "0"))
        docs = interleaved_documents(spark, SF_DIR)
        todo = M.resume_filter(docs, out, n_buckets=8, granularity="doc")
        assert todo.count() == docs.count()


class TestSqlOperatorParity:
    """Every dual-dialect SQL operator family vs DuckDB at sf0.001
    (sf0.01 runs in the driver gate; this is the fast in-repo check)."""

    @pytest.fixture(scope="class")
    def duck(self):
        con = duckdb.connect()
        con.execute(
            "CREATE VIEW documents AS SELECT * FROM "
            f"read_parquet('{SF_DIR}/documents.parquet')"
        )
        return con

    def _check(self, spark, duck, builder, tables):
        from tesseract_glue_spark.operators.registry import oracle, spark_runner

        got = spark_runner(builder, tables=tables)(spark, SF_DIR).toPandas()
        want = duck.sql(oracle(builder)).df()
        got = got.reindex(sorted(got.columns), axis=1).sort_values(
            by=sorted(got.columns)).reset_index(drop=True)
        want = want.reindex(sorted(want.columns), axis=1).sort_values(
            by=sorted(want.columns)).reset_index(drop=True)
        pd.testing.assert_frame_equal(got, want, check_dtype=False)
        return len(got)

    def test_text_ops(self, spark, duck):
        from tesseract_glue_spark.operators.text import TEXT_OPS

        for name, b in TEXT_OPS.items():
            assert self._check(spark, duck, b, ("documents",)) > 0, name

    def test_pack_sequences_groups_parameter(self, spark, duck):
        """`groups` (production: ≈ shuffle parallelism) must flow
        through both dialects identically and widen the packing
        parallelism beyond the oracle default of PACK_GROUPS=16; the
        spillover contract (bin total < budget + its last doc's tokens)
        must hold per bin."""
        from tesseract_glue_spark.functions import dialect as D
        from tesseract_glue_spark.operators.registry import _register
        from tesseract_glue_spark.operators.text import (
            PACK_GROUPS,
            PACK_TOKEN_BUDGET,
            pack_sequences_sql,
        )

        _register(spark, SF_DIR, ("documents",))
        got = spark.sql(pack_sequences_sql(D.SPARK, groups=64)).toPandas()
        want = duck.sql(pack_sequences_sql(D.DUCKDB, groups=64)).df()

        def norm(p):
            p = p.reindex(sorted(p.columns), axis=1)
            return p.sort_values(by=list(p.columns)).reset_index(drop=True)

        pd.testing.assert_frame_equal(norm(got), norm(want), check_dtype=False)
        assert got["pack_group"].nunique() > PACK_GROUPS
        # spillover contract per (pack_group, bin_no) — "last" is the
        # doc that straddles the boundary (packing order = doc_id)
        got = got.sort_values(["pack_group", "doc_id"])
        agg = got.groupby(["pack_group", "bin_no"]).agg(
            total=("n_tokens", "sum"),
            last=("n_tokens", lambda s: s.iloc[-1]),
        )
        assert (agg["total"] < PACK_TOKEN_BUDGET + agg["last"]).all()


class TestStreamingExtraction:
    def test_streaming_extraction_matches_batch(self, spark, tmp_path):
        """The flagship pipeline as a stream (foreachBatch): multi-file
        source drained with availableNow must produce exactly the batch
        pipeline's output, and a restarted stream (same checkpoint) must
        process nothing new."""
        import glob as globmod

        from tesseract_glue_spark import ExtractionConfig, extract_documents
        from tesseract_glue_spark.fixtures import interleaved_documents, pages_for
        from tesseract_glue_spark.streaming.extract_stream import (
            extract_stream,
            read_documents_stream,
        )

        docs = interleaved_documents(spark, SF_DIR)
        pages = pages_for(docs).cache()
        src = str(tmp_path / "docs_in")
        docs.repartition(4).write.parquet(src)  # 4 files → ≥2 micro-batches
        out = str(tmp_path / "stream_out")

        q = extract_stream(
            read_documents_stream(spark, src), pages, out, ExtractionConfig(), n_buckets=4
        )
        q.awaitTermination(420)

        from functools import reduce

        from pyspark.sql import DataFrame as _DF

        got = reduce(
            _DF.unionByName,
            [spark.read.parquet(p) for p in sorted(globmod.glob(f"{out}/batch=*/data"))],
        )
        want = extract_documents(docs, pages, ExtractionConfig())
        assert got.count() == want.count() == docs.count()
        g = {r["doc_id"]: (r["ocr_pages"], r["status"]) for r in got.collect()}
        w = {r["doc_id"]: (r["ocr_pages"], r["status"]) for r in want.collect()}
        assert g == w
        n_batches = len(globmod.glob(f"{out}/batch=*"))
        assert n_batches >= 2  # multi-micro-batch, not one big gulp

        # restart with same checkpoint → nothing reprocessed
        q2 = extract_stream(
            read_documents_stream(spark, src), pages, out, ExtractionConfig(), n_buckets=4
        )
        q2.awaitTermination(300)
        assert len(globmod.glob(f"{out}/batch=*")) == n_batches
