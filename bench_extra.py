#!/usr/bin/env python
"""Optimization-round measurement harness (guide §1): per-query noop-sink
isolation + ``explain("formatted")`` capture for every declared query.

NOT the driver's bench — ``bench.py`` is frozen for measurement. This
file exists so OPTIMIZATION_r06.md can cite noop-sink walls (every
output column computed, sink cost excluded) and committed plan files
(``plans/r06/<query>_{before,after}.txt``) for each query touched.

Usage:
    SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 SPARK_GRAFT_CPUS=32 \
        python bench_extra.py [--plans-tag before|after] [--only q1,q2,...]
        [--runs N] [--no-plans] [--queries-surface]

By default measures the bench-registry surface (same queries bench.py
times) with the noop sink; ``--queries-surface`` instead walks every
``__spark_entry__.queries()`` entry at sf0.01 (the oracle gate corpus)
— plan capture for the full declared surface.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time


def build_spark(cpus: int):
    from pyspark.sql import SparkSession

    from tesseract_glue_spark import spark_session

    return spark_session(
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("tesseract_glue_spark-bench-extra")
        .config("spark.sql.shuffle.partitions", str(max(2 * cpus, 8)))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", "16g")
        .config("spark.ui.enabled", "false")
    )


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--plans-tag", default=None, help="write plans/r06/<q>_<tag>.txt")
    ap.add_argument("--only", default=None, help="comma-separated query names")
    ap.add_argument("--runs", type=int, default=2)
    ap.add_argument("--no-plans", action="store_true")
    ap.add_argument("--queries-surface", action="store_true")
    args = ap.parse_args()

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    repo = os.path.dirname(os.path.abspath(__file__))
    plans_dir = os.path.join(repo, "plans", "r06")
    os.makedirs(plans_dir, exist_ok=True)

    spark = build_spark(cpus)
    spark.sparkContext.setLogLevel("ERROR")
    only = set(args.only.split(",")) if args.only else None
    results: dict[str, float] = {}

    def run_one(name: str, df_fn) -> None:
        if only and name not in only:
            return
        spark.sparkContext.setJobDescription(f"bench_extra: {name}")
        df = df_fn()
        if args.plans_tag and not args.no_plans:
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
            with open(os.path.join(plans_dir, f"{name}_{args.plans_tag}.txt"), "w") as fh:
                fh.write(plan)
        noop(df_fn())  # warmup (codegen+JIT), fresh frame
        walls = []
        for _ in range(max(args.runs, 1)):
            t0 = time.perf_counter()
            noop(df_fn())
            walls.append(time.perf_counter() - t0)
        results[name] = round(min(walls), 3)
        print(f"  {name}: {results[name]}s  (samples {[round(w, 3) for w in walls]})",
              file=sys.stderr, flush=True)
        spark.sparkContext.setJobDescription(None)

    if args.queries_surface:
        import __spark_entry__ as entry

        gate_dir = os.environ.get("SPARK_GRAFT_GATE_DIR", "/root/testdata/sf0.01")
        for name, fn in entry.queries().items():
            run_one(name, lambda fn=fn: fn(spark, gate_dir))
    else:
        import tempfile

        from tesseract_glue_spark import ExtractionConfig, extract_documents
        from tesseract_glue_spark.fixtures import interleaved_documents, materialize_corpus

        sf = os.path.basename(sf_dir.rstrip("/")).replace("sf", "") or "?"
        corpus_dir = os.path.join(tempfile.gettempdir(), f"tg_corpus_{sf}")
        docs, pages = materialize_corpus(
            spark, interleaved_documents(spark, sf_dir), corpus_dir, partitions=cpus
        )
        docs.count()
        pages.count()
        cfg = ExtractionConfig()
        run_one("extract_full", lambda: extract_documents(docs, pages, cfg))
        run_one(
            "extract_salted",
            lambda: extract_documents(docs, pages, cfg.with_(salt_reassembly=8)),
        )
        # registry thunks call .count(); rebuild the frames for noop + plans
        from tesseract_glue_spark.operators.bench_registry import langid_quality_sql
        from tesseract_glue_spark.operators.registry import spark_runner

        langid_quality = spark_runner(langid_quality_sql)
        run_one("text_langid_quality", lambda: langid_quality(spark, sf_dir))

    print(json.dumps({"metric": "noop_isolated_wall", "queries": results,
                      "sf_dir": sf_dir, "cpus": cpus}))
    spark.stop()


if __name__ == "__main__":
    main()
