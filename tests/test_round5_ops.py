"""Semantic unit tests beyond the oracle gate: Gopher-style repetition
flags on constructed repetitive/clean/degenerate docs. Oracle parity is
covered by tests/test_entry.py::test_queries_match_oracles and the
adversarial fuzz corpus (TEXT_OPS iteration); these tests pin the
SEMANTICS with known-answer inputs instead."""

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
