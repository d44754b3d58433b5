#!/usr/bin/env python
"""Skew-stress benchmark for salted reassembly (SURVEY §7 hazard (b)).

The hazard: one heavy-tail document (hundreds of thousands of spans)
sends ALL its rows to a single reducer in the reassembly groupBy —
one task fetches, collects, and sorts the whole document while every
other core idles. ``salt_reassembly`` splits the collect into partial
aggregations on (doc_id, offset DIV B) — contiguous range chunks — so
the hot document's shuffle fetch + struct build + chunk sorts run on
many cores; phase 2 concatenates pre-sorted chunks in chunk order
(O(n) serial, no re-sort). This benchmark is what demoted the earlier
modulo salt (offset % S): interleaved salts forced phase 2 to re-sort
the whole hot document serially, measuring SLOWER than unsalted.

This script isolates the operator under test: it synthesizes a
stitched-shaped frame directly (no OCR stage noise), times
unsalted vs salted reassembly on a UNIFORM corpus and on the same
corpus plus ONE hot document, verifies span-sequence equality between
the two plans on both corpora, and prints one JSON line.

Run: python skew_bench.py            # local[16], defaults below
Env: SKEW_BENCH_CPUS, SKEW_BENCH_DOCS, SKEW_BENCH_HOT_SPANS
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from bench import _steal_pct, _steal_total, idle_gate  # noqa: E402


def build_spark(cpus: int):
    from pyspark.sql import SparkSession

    return (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("tesseract_glue_spark-skew-bench")
        .config("spark.sql.shuffle.partitions", str(2 * cpus))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.driver.memory", "16g")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )


def stitched_corpus(spark, n_docs: int, spans_per_doc: int, hot_spans: int):
    """Synthesize a stitched-shaped frame (doc_id, n_spans, offset, kind,
    text, media_ref, ocr_status): ``n_docs`` uniform docs of ``spans_per_doc``
    spans each, plus — when ``hot_spans`` > 0 — one hot document
    ``doc_id = -1`` with ``hot_spans`` spans. Text is ~120 chars/span so
    the hot doc is also byte-heavy, like a scanned-book outlier among
    web pages."""
    from pyspark.sql import functions as F

    uniform = (
        spark.range(n_docs)
        .select(
            F.col("id").alias("doc_id"),
            F.explode(F.sequence(F.lit(0), F.lit(spans_per_doc - 1))).alias("offset"),
        )
    )
    parts = [uniform]
    if hot_spans > 0:
        hot = spark.range(1).select(
            F.lit(-1).cast("long").alias("doc_id"),
            F.explode(F.sequence(F.lit(0), F.lit(hot_spans - 1))).alias("offset"),
        )
        parts.append(hot)
    rows = parts[0] if len(parts) == 1 else parts[0].unionByName(parts[1])
    # spread the map side evenly (the hot doc's explode otherwise sits
    # in one input partition, serializing the scan in BOTH variants)
    rows = rows.repartition(4 * spark.sparkContext.defaultParallelism)
    return rows.select(
        "doc_id",
        F.when(F.col("doc_id") == -1, F.lit(hot_spans))
        .otherwise(F.lit(spans_per_doc))
        .cast("int")
        .alias("n_spans"),
        "offset",
        F.when(F.col("offset") % 3 == 0, "media").otherwise("text").alias("kind"),
        F.concat(
            F.lit("span text payload "),
            F.col("doc_id").cast("string"),
            F.lit(":"),
            F.col("offset").cast("string"),
            F.lit(" "),
            F.repeat(F.lit("x"), 96),
        ).alias("text"),
        F.when(F.col("offset") % 3 == 0,
               F.concat(F.lit("ref-"), (F.col("offset") % 997).cast("string"))
               ).otherwise(F.lit("")).alias("media_ref"),
        F.when(F.col("offset") % 3 == 0, F.lit("ok")).otherwise(
            F.lit(None).cast("string")).alias("ocr_status"),
    )


def main() -> None:
    cpus = int(os.environ.get("SKEW_BENCH_CPUS", "16"))
    n_docs = int(os.environ.get("SKEW_BENCH_DOCS", "2000"))
    spans_per_doc = 100
    hot_spans = int(os.environ.get("SKEW_BENCH_HOT_SPANS", "2000000"))
    salt = 16

    gate = idle_gate()
    spark = build_spark(cpus)
    spark.sparkContext.setLogLevel("ERROR")

    from pyspark.sql import functions as F

    from tesseract_glue_spark.config import ExtractionConfig
    from tesseract_glue_spark.operators.extract import reassemble

    cfg_plain = ExtractionConfig()
    cfg_salted = ExtractionConfig(salt_reassembly=salt)

    results: dict = {"cpus": cpus, "n_docs": n_docs, "spans_per_doc": spans_per_doc,
                     "hot_spans": hot_spans, "salt": salt, **gate}

    def timed(fn, runs: int = 3) -> dict:
        fn()  # warmup (codegen + JIT)
        samples = []
        for _ in range(runs):
            s0 = _steal_total()
            t0 = time.perf_counter()
            fn()
            samples.append({"wall": round(time.perf_counter() - t0, 3),
                            "steal_pct": _steal_pct(s0, _steal_total())})
        return {"best": min(s["wall"] for s in samples), "samples": samples}

    def materialize(df) -> None:
        # NOT .count(): Catalyst prunes unreferenced aggregate
        # expressions under a count, silently skipping the collect_list
        # being measured. The noop sink materializes every output row.
        df.write.format("noop").mode("overwrite").save()

    for label, hot in (("uniform", 0), ("skewed", hot_spans)):
        stitched = stitched_corpus(spark, n_docs, spans_per_doc, hot).localCheckpoint()
        # two plans over the SAME corpus in the SAME window:
        #   unsalted        — single-phase groupBy (the skew hazard)
        #   salted_routed   — n_spans routing: small docs single-phase,
        #                     hot docs chunked (costs a second pass
        #                     over the span source for the small side —
        #                     bounded by exchange reuse in the composed
        #                     pipeline, visible in this isolated bench)
        variants = {
            "unsalted": lambda: materialize(
                reassemble(stitched.drop("n_spans"), cfg_plain)
            ),
            "salted_routed": lambda: materialize(reassemble(stitched, cfg_salted)),
        }
        for vname, fn in variants.items():
            results[f"{label}_{vname}"] = timed(fn)

        # span-sequence equality: all plans must produce identical
        # ordered span arrays per document (flat projection compare)
        def flat(df, cfg):
            out = reassemble(df, cfg)
            return out.select(
                "doc_id", F.posexplode("spans").alias("pos", "s")
            ).select("doc_id", "pos", "s.kind", "s.text", "s.media_ref", "s.offset")

        a = flat(stitched.drop("n_spans"), cfg_plain)
        b = flat(stitched, cfg_salted)
        assert a.count() == b.count()
        assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0
        results[f"{label}_equal"] = True
        stitched.unpersist()

    for label in ("uniform", "skewed"):
        u = results[f"{label}_unsalted"]["best"]
        results[f"{label}_speedup_salted_routed"] = round(
            u / results[f"{label}_salted_routed"]["best"], 3
        )

    spark.stop()
    print(json.dumps({"metric": "salted_reassembly_skew_stress", **results}))


if __name__ == "__main__":
    main()
