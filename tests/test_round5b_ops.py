"""Semantic unit tests for the C4/Gopher-style filter chain: every rule
branch and the rule ordering on constructed docs, and its plan shape.
Oracle parity is covered by tests/test_entry.py::test_queries_match_oracles;
these tests pin the SEMANTICS with known-answer inputs instead."""

import duckdb
import pandas as pd
import pytest

from tesseract_glue_spark.functions import dialect as D
from tesseract_glue_spark.plans import checks as C


def _run_both(spark, pdf: pd.DataFrame, builder) -> pd.DataFrame:
    """Run a dual-dialect builder on a constructed docs table in BOTH
    engines, assert they agree, return the result."""
    spark.createDataFrame(pdf).createOrReplaceTempView("documents")
    got = spark.sql(builder(D.SPARK)).toPandas()
    spark.catalog.dropTempView("documents")
    con = duckdb.connect()
    con.register("documents", pdf)
    want = con.sql(builder(D.DUCKDB)).df()
    g = got.sort_values("doc_id").reset_index(drop=True)
    w = want.sort_values("doc_id").reset_index(drop=True)[g.columns]
    pd.testing.assert_frame_equal(g, w, check_dtype=False)
    return g.set_index("doc_id")


class TestFilterChain:
    @pytest.fixture(scope="class")
    def out(self, spark):
        from tesseract_glue_spark.operators.text import filter_chain_sql

        def words(n, prefix="w"):
            return " ".join(f"{prefix}{i}" for i in range(n))

        docs = {
            # 40 tokens, 100% unique, 10% stopwords, wlen ~5.6 → keep
            0: " ".join(f"word{i:02d}" for i in range(36)) + " the and of in",
            1: words(10),                                   # too_short
            2: words(6000),                                 # too_long
            3: "spam " * 50,                                # low_diversity
            4: words(50),                                   # low_stopword (no stopwords)
            # 45 distinct 2-char words + 5 stopword 'a' → mean wlen < 3
            5: " ".join(f"{chr(97 + i // 26)}{chr(97 + i % 26)}" for i in range(45))
               + " a a a a a",
            # 47 distinct 12-char words + 3 'the' → mean wlen > 10
            6: " ".join(f"verylongword{i:04d}"[:12] + f"{i:03d}" for i in range(47))
               + " the the the",
            # violates BOTH length and diversity → first rule wins
            7: "dup " * 10,
        }
        pdf = pd.DataFrame(
            {"doc_id": list(docs), "text": [docs[k] for k in docs]}
        )
        return _run_both(spark, pdf, filter_chain_sql)

    def test_every_branch_fires(self, out):
        assert out.loc[0, "reason"] == "ok" and out.loc[0, "verdict"] == "keep"
        assert out.loc[1, "reason"] == "too_short"
        assert out.loc[2, "reason"] == "too_long"
        assert out.loc[3, "reason"] == "low_diversity"
        assert out.loc[4, "reason"] == "low_stopword"
        assert out.loc[5, "reason"] == "weird_wordlen"
        assert out.loc[6, "reason"] == "weird_wordlen"
        assert set(out[out.reason != "ok"]["verdict"]) == {"drop"}

    def test_rule_order_first_failure_wins(self, out):
        # doc 7 is both too short AND low diversity — too_short is
        # checked first and must be the reported reason
        assert out.loc[7, "reason"] == "too_short"

    def test_features_surfaced(self, out):
        assert out.loc[3, "uniq_x10k"] == 200  # 1 distinct / 50 tokens
        assert out.loc[4, "stop_x10k"] == 0
        assert out.loc[1, "n_tokens"] == 10

    def test_gate_corpus_exercises_mixed_verdicts(self, spark):
        """On the synthetic gate corpus the chain must produce BOTH
        verdicts and several distinct reasons — a constant-output
        filter would gate-hash green while being useless."""
        from tests.conftest import SF_DIR
        from tesseract_glue_spark.operators.registry import spark_runner
        from tesseract_glue_spark.operators.text import filter_chain_sql

        df = spark_runner(filter_chain_sql, tables=("documents",))(spark, SF_DIR)
        reasons = {r["reason"] for r in df.select("reason").distinct().collect()}
        assert "ok" in reasons and len(reasons) >= 3, reasons


class TestFilterChainPlan:
    def test_map_only_zero_exchanges(self, spark):
        """The filter chain is a pure projection: NO exchange of any
        kind may appear — at 10^12 docs it must run at parquet-scan
        speed."""
        from tests.conftest import SF_DIR
        from tesseract_glue_spark.operators.registry import spark_runner
        from tesseract_glue_spark.operators.text import filter_chain_sql

        df = spark_runner(filter_chain_sql, tables=("documents",))(spark, SF_DIR)
        plan = C.plan_text(df)
        assert "Exchange" not in plan, plan

    def test_scan_prunes_to_needed_columns(self, spark):
        from tests.conftest import SF_DIR
        from tesseract_glue_spark.operators.registry import spark_runner
        from tesseract_glue_spark.operators.text import filter_chain_sql

        df = spark_runner(filter_chain_sql, tables=("documents",))(spark, SF_DIR)
        plan = C.plan_text(df)
        assert C.columns_pruned(plan, "documents", {"doc_id", "text"}), plan
