"""Semantics of ``text_dup_spans`` — exact substring-duplication span
detection (window hashes + gaps-and-islands merge) — on PLANTED corpora
where the expected output is known by construction.

Cross-engine parity on adversarial inputs is covered by
tests/test_fuzz_parity.py (the op is in TEXT_OPS and the fuzz test
iterates the dict); the driver-style sf0.01 oracle check is
tests/test_entry.py. Here the point is that the answers are RIGHT, not
merely engine-consistent, so the oracle is hand-computed."""

import duckdb
import pandas as pd

from tesseract_glue_spark.functions import dialect as D
from tesseract_glue_spark.operators.text import DUP_SPAN_W, dup_spans_sql


def _duck_for(rows):
    con = duckdb.connect()
    pdf = pd.DataFrame(rows, columns=["doc_id", "text"])
    pdf["lang"] = "xx"
    pdf["source"] = "planted"
    pdf["n_chars"] = pdf.text.str.len()
    con.register("documents", pdf)
    return con


def _words(prefix, n):
    return " ".join(f"{prefix}{i}" for i in range(n))


class TestDupSpans:
    def test_shared_run_detected_unique_docs_silent(self):
        # docs 1+2 share a 12-word run (5 dup windows of W=8);
        # doc 3 is entirely unique -> no rows
        shared = _words("s", 12)
        rows = [
            (1, f"{_words('a', 10)} {shared} {_words('b', 10)}"),
            (2, f"{_words('c', 4)} {shared}"),
            (3, _words("z", 40)),
        ]
        con = _duck_for(rows)
        df = con.sql(dup_spans_sql(D.DUCKDB)).df()
        assert sorted(df.doc_id) == [1, 2]
        d1 = df[df.doc_id == 1].iloc[0]
        # run occupies words 11..22 of doc 1 (1-based); 12 - W + 1 = 5 windows
        assert (d1.span_start_word, d1.span_end_word, d1.n_dup_windows) == (11, 22, 5)
        d2 = df[df.doc_id == 2].iloc[0]
        assert (d2.span_start_word, d2.span_end_word, d2.n_dup_windows) == (5, 16, 5)

    def test_two_separated_runs_make_two_islands(self):
        gap = _words("g", DUP_SPAN_W + 5)  # > W unique words between runs
        run1, run2 = _words("p", 9), _words("q", 10)
        rows = [
            (1, f"{run1} {gap} {run2}"),
            (2, f"{_words('x', 3)} {run1} {_words('y', 20)} {run2}"),
        ]
        con = _duck_for(rows)
        df = con.sql(dup_spans_sql(D.DUCKDB)).df()
        assert (df.groupby("doc_id").size() == 2).all()
        d1 = df[df.doc_id == 1].sort_values("span_start_word")
        assert list(d1.span_start_word) == [1, 1 + 9 + DUP_SPAN_W + 5]
        assert list(d1.n_dup_windows) == [2, 3]  # 9-W+1, 10-W+1

    def test_adjacent_windows_merge_into_one_island(self):
        # one long shared run -> overlapping windows -> single island
        shared = _words("m", 30)
        rows = [(1, shared), (2, f"{_words('h', 7)} {shared}")]
        con = _duck_for(rows)
        df = con.sql(dup_spans_sql(D.DUCKDB)).df()
        assert len(df) == 2  # one island per doc
        d1 = df[df.doc_id == 1].iloc[0]
        assert (d1.span_start_word, d1.span_end_word) == (1, 30)
        assert d1.n_dup_windows == 30 - DUP_SPAN_W + 1

    def test_within_doc_repeat_alone_is_not_flagged(self):
        # the same 8-gram twice in ONE doc, nowhere else -> no rows
        # (the operator targets cross-doc duplication: >= 2 distinct docs)
        run = _words("r", DUP_SPAN_W)
        rows = [(1, f"{run} {_words('u', 10)} {run}"), (2, _words("v", 30))]
        con = _duck_for(rows)
        df = con.sql(dup_spans_sql(D.DUCKDB)).df()
        assert len(df) == 0

    def test_short_docs_produce_no_windows(self):
        rows = [(1, _words("w", DUP_SPAN_W - 1)), (2, _words("w", DUP_SPAN_W - 1))]
        con = _duck_for(rows)
        df = con.sql(dup_spans_sql(D.DUCKDB)).df()
        assert len(df) == 0

    def test_spark_plan_no_nested_loop(self, spark):
        """The window-hash join must stay a hashed equi-join — never a
        broadcast nested loop / cartesian (the shape that dies at 10^12
        docs)."""
        from tesseract_glue_spark.operators.registry import spark_runner
        from tesseract_glue_spark.plans import checks as C
        from tests.conftest import SF_DIR

        plan = C.plan_text(spark_runner(dup_spans_sql)(spark, SF_DIR))
        assert "CartesianProduct" not in plan, plan
        assert "BroadcastNestedLoopJoin" not in plan, plan
