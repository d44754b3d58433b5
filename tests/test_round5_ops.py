"""Semantic unit tests beyond the oracle gate: Gopher-style repetition
flags on constructed repetitive/clean/degenerate docs, and
politeness-wave invariants (per-host concurrency cap, contiguous ranks,
host-affine shards). Oracle parity for both is covered by
tests/test_entry.py::test_queries_match_oracles and the adversarial
fuzz corpus (TEXT_OPS iteration); these tests pin the SEMANTICS with
known-answer inputs instead."""

import pandas as pd
import pytest

from tesseract_glue_spark.functions import dialect as D


@pytest.fixture(scope="module")
def repetition_out(spark):
    from tesseract_glue_spark.operators.text import gopher_repetition_sql

    docs = {
        1: "spam spam spam spam spam spam",          # one bigram everywhere
        2: "the quick brown fox jumps over a dog",   # all bigrams distinct
        3: "a",                                      # no grams at all
        4: "",                                       # empty
        5: "ab cd " * 30,                            # two alternating tokens
    }
    pdf = pd.DataFrame(
        [(i, t, "xx", "t", len(t)) for i, t in docs.items()],
        columns=["doc_id", "text", "lang", "source", "n_chars"],
    )
    spark.createDataFrame(pdf).createOrReplaceTempView("documents")
    df = spark.sql(gopher_repetition_sql(D.SPARK))
    out = {r["doc_id"]: r.asDict() for r in df.collect()}
    spark.catalog.dropTempView("documents")
    return out


class TestGopherRepetition:
    def test_fully_repetitive_doc_flagged(self, repetition_out):
        r = repetition_out[1]
        assert r["top_bigram_x10k"] == 10000
        assert r["dup_trigram_x10k"] == 10000
        assert r["flag_repetitive"] == 1

    def test_clean_doc_not_flagged(self, repetition_out):
        r = repetition_out[2]
        # 7 distinct bigrams → top fraction 1/7 ≈ 0.1428
        assert r["top_bigram_x10k"] == 1428
        assert r["dup_trigram_x10k"] == 0
        assert r["flag_repetitive"] == 0

    def test_degenerate_docs_zero_not_null(self, repetition_out):
        for doc_id in (3, 4):
            r = repetition_out[doc_id]
            assert r["top_bigram_x10k"] == 0
            assert r["dup_trigram_x10k"] == 0
            assert r["flag_repetitive"] == 0

    def test_alternating_two_tokens_flagged(self, repetition_out):
        r = repetition_out[5]
        assert r["n_tokens"] == 60
        # 'ab cd' occurs 30 of 59 bigrams → just over half
        assert r["top_bigram_x10k"] > 5000
        assert r["flag_repetitive"] == 1


@pytest.fixture(scope="module")
def politeness_out(spark):
    from tesseract_glue_spark.operators.registry import spark_runner
    from tesseract_glue_spark.operators.crawl import host_politeness_sql
    from tests.conftest import SF_DIR

    return spark_runner(host_politeness_sql)(spark, SF_DIR).toPandas()


class TestHostPoliteness:
    def test_per_host_wave_concurrency_cap(self, politeness_out):
        from tesseract_glue_spark.operators.crawl import HOST_PARALLELISM

        per_wave = politeness_out.groupby(["host", "crawl_wave"]).size()
        assert (per_wave <= HOST_PARALLELISM).all()

    def test_ranks_contiguous_per_host(self, politeness_out):
        for _host, g in politeness_out.groupby("host"):
            ranks = sorted(g["fetch_rank"])
            assert ranks == list(range(1, len(g) + 1))

    def test_shard_is_host_affine(self, politeness_out):
        assert (politeness_out.groupby("host")["scheduler_shard"].nunique() == 1).all()

    def test_urls_canonical(self, politeness_out):
        assert politeness_out["url_norm"].str.startswith("https://h").all()
        assert not politeness_out["url_norm"].str.contains("#|WWW|:443").any()

    def test_frontier_collapses_duplicate_fetches(self, politeness_out):
        """The messy variants of one (host, slot) must collapse to ONE
        frontier row with the fetch count kept."""
        assert politeness_out["url_norm"].is_unique
        assert (politeness_out["n_fetches"] > 1).any()
