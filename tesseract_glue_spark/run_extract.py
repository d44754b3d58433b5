"""Job entry point: the spark-submit runnable extraction job.

    spark-submit --py-files tesseract_glue_spark_pyfiles.zip \
        -m tesseract_glue_spark.run_extract \
        --input <docs parquet|iceberg:tbl> --pages <pages parquet|iceberg:tbl> \
        --output <dir> [--buckets 256] [--resume] [--lang eng] [--salt 8]

Driver-embedded use: ``python -m tesseract_glue_spark.run_extract ...``
(the package self-ships to workers via addPyFile). The job is resumable:
with ``--resume``, documents in buckets that already have a valid
lineage manifest are skipped (see sources/manifests.py), and each
completed bucket's manifest is written atomically after its data.
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="run_extract")
    ap.add_argument("--input", required=True, help="documents table (path or iceberg:tbl)")
    ap.add_argument("--pages", required=True, help="pages table (path or iceberg:tbl)")
    ap.add_argument("--output", required=True, help="output dir (data/ + _manifests/)")
    ap.add_argument("--buckets", type=int, default=256)
    ap.add_argument("--resume", action="store_true")
    ap.add_argument(
        "--resume-granularity",
        default="bucket",
        choices=["bucket", "doc"],
        help="bucket: skip manifested buckets (default); doc: also anti-join "
        "already-written doc_ids and append instead of overwrite",
    )
    ap.add_argument("--lang", default="eng")
    ap.add_argument("--backend", default="stub", choices=["stub", "tesseract"])
    ap.add_argument("--tessdata", default=None)
    ap.add_argument("--salt", type=int, default=0, help="salted reassembly factor")
    ap.add_argument("--ocr-partitions", type=int, default=None)
    ap.add_argument(
        "--web",
        action="store_true",
        help="treat text spans as HTML pages: DOM-strip them to main "
        "content while media spans go through OCR (north_rule web mode)",
    )
    args = ap.parse_args(argv)

    from pyspark.sql import SparkSession

    from tesseract_glue_spark import ExtractionConfig, extract_documents, spark_session

    spark = spark_session(SparkSession.builder.appName("tesseract-glue-spark-extract"))

    from tesseract_glue_spark.sources import manifests as M
    from tesseract_glue_spark.sources.tables import read_documents, read_pages

    cfg = ExtractionConfig(
        backend=args.backend,
        lang=args.lang,
        tessdata_path=args.tessdata,
        salt_reassembly=args.salt,
        ocr_partitions=args.ocr_partitions,
    ).validated()  # fail-fast BEFORE any job is submitted (reader.py:19-32)

    docs = read_documents(spark, args.input)
    write_mode = "overwrite"
    if args.resume:
        docs = M.resume_filter(
            docs, args.output, n_buckets=args.buckets, granularity=args.resume_granularity
        )
        if args.resume_granularity == "doc":
            write_mode = "append"
        if docs.isEmpty():
            print(json.dumps({"status": "nothing-to-do", "output": args.output}))
            return 0
    pages = read_pages(spark, args.pages)

    t0 = time.perf_counter()
    if args.web:
        from tesseract_glue_spark.operators.web import extract_web_documents

        out = extract_web_documents(docs, pages, cfg)
    else:
        out = extract_documents(docs, pages, cfg)
    manifests = M.write_extracted(
        out, args.output, n_buckets=args.buckets, mode=write_mode, resume=args.resume
    )
    wall = time.perf_counter() - t0

    n_docs = sum(m["n_docs"] for m in manifests.values())
    print(
        json.dumps(
            {
                "status": "ok",
                "n_docs": n_docs,
                "n_buckets_written": len(manifests),
                "wall_sec": round(wall, 2),
                "docs_per_sec": round(n_docs / wall, 1) if wall > 0 else None,
                "output": args.output,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
