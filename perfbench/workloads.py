"""The three workloads: one timed job each, its cold set-up job, and the
correctness check against the generator's expected digests.

* ``ocr_bound``   — ``extract_documents`` → noop sink.
* ``span_shuffle`` — ``extract_documents`` with ``salt_reassembly`` →
  noop sink.
* ``web_write``   — ``wrap_text_spans_html`` → ``extract_web_documents``
  → ``write_extracted`` (bucketed parquet + lineage manifests).

Every job materializes every output row (noop or parquet sink, never
``.count()``, which lets Catalyst prune the span-array build).
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from tesseract_glue_spark import ExtractionConfig, extract_documents
from tesseract_glue_spark.operators.web import extract_web_documents, wrap_text_spans_html
from tesseract_glue_spark.sources import manifests
from tesseract_glue_spark.sources.tables import read_documents, read_pages

import corpus as C

SALT = 8        # span_shuffle: salted (two-phase, range-chunked) reassembly
N_BUCKETS = 8   # web_write: doc-hash buckets of the parquet sink


class Workload:
    def __init__(self, spark, name: str, corpus_dir: str, meta: dict, work: str):
        self.spark = spark
        self.name = name
        self.corpus_dir = corpus_dir
        self.meta = meta
        self.n_docs = meta["n_docs"]
        self.cfg = ExtractionConfig(salt_reassembly=SALT if name == "span_shuffle" else 0)
        self.out_dir = os.path.join(work, "out", name)
        self.pages = read_pages(spark, os.path.join(corpus_dir, "pages"))
        # a few ordinary docs: input of the cold set-up job
        self.setup_docs = read_documents(spark, os.path.join(corpus_dir, "setup"))
        self._docs: DataFrame | None = None

    @property
    def docs(self) -> DataFrame:
        if self._docs is None:
            self._docs = read_documents(self.spark, os.path.join(self.corpus_dir, "docs"))
        return self._docs

    @property
    def web(self) -> bool:
        return self.name == "web_write"

    def input_docs(self, docs: DataFrame) -> DataFrame:
        return wrap_text_spans_html(docs) if self.web else docs

    def extract(self, docs: DataFrame) -> DataFrame:
        if self.web:
            return extract_web_documents(self.input_docs(docs), self.pages, self.cfg)
        return extract_documents(docs, self.pages, self.cfg)

    def sink(self, out: DataFrame, out_dir: str | None = None) -> None:
        if self.web:
            manifests.write_extracted(out, out_dir or self.out_dir, n_buckets=N_BUCKETS)
        else:
            out.write.format("noop").mode("overwrite").save()

    def job(self) -> None:
        self.sink(self.extract(self.docs))

    def setup_job(self) -> None:
        self.sink(self.extract(self.setup_docs), self.out_dir + "-setup")

    def check(self) -> int:
        """Run the job once and count the docs whose output is missing,
        duplicated or differs from the expected digest. Noop workloads
        run it into a digest collect; ``web_write`` writes as its timed
        jobs do, reads the data back and also checks the manifests' doc
        counts."""
        if self.web:
            self.job()
            out = self.spark.read.parquet(os.path.join(self.out_dir, manifests.DATA_DIR))
        else:
            out = self.extract(self.docs)
        rows = out.select("doc_id", F.expr(C.DIGEST_SQL).alias("d")).collect()
        expected = C.load_expected(self.corpus_dir)
        seen: dict[int, int] = {}
        bad = 0
        for r in rows:
            seen[r["doc_id"]] = seen.get(r["doc_id"], 0) + 1
            if expected.get(r["doc_id"]) != r["d"]:
                bad += 1
        bad += sum(1 for d in expected if d not in seen)
        bad += sum(n - 1 for n in seen.values() if n > 1)
        if self.web:
            written = sum(m["n_docs"] for m in manifests_on_disk(self.out_dir))
            bad += abs(written - self.n_docs)
        return min(bad, self.n_docs)

    def clean(self) -> None:
        for d in (self.out_dir, self.out_dir + "-setup", self.out_dir + "-trace"):
            shutil.rmtree(d, ignore_errors=True)


def manifests_on_disk(out_dir: str) -> list[dict]:
    mdir = os.path.join(out_dir, manifests.MANIFEST_DIR)
    out = []
    for fn in sorted(os.listdir(mdir)):
        with open(os.path.join(mdir, fn)) as fh:
            out.append(json.load(fh))
    return out
