"""Cross-engine fuzz: every dual-dialect SQL operator must agree with
DuckDB on ADVERSARIAL inputs (unicode, empty strings, whitespace-only,
punctuation storms, very long repeats) — not just the driver's clean
synthetic corpus. One failure here is a latent CORRECTNESS-gate failure
on future driver data."""

import duckdb
import pandas as pd
import pytest

ADVERSARIAL_TEXTS = [
    "",                                        # empty
    "   \t  \n ",                              # whitespace-only
    "a",                                       # single char
    "the the the the the the the the",         # repeated stopwords
    "x" * 500,                                 # one huge token
    "word " * 200,                             # long repetitive
    "¡héllo wörld! ünïcode tèxt ñandú",        # accents
    "日本語のテキストです 中文文本 한국어",            # CJK
    "a.b,c;d:e!f?g",                           # punctuation-dense
    "CALL 555-123-4567 or mail a@b.co now",    # PII shapes
    "Tab\tseparated\tand\nnewlines\r\nmixed",
    "emoji 🙂 and symbols ±∞§¶",
    "trailing spaces    ",
    "    leading spaces",
    "der die das und the and le la el los",    # mixed-language markers
    "it's a 'quoted' str\\ange \\\\ text",        # quotes + backslashes in data
    "%percent% _underscore_ [brackets] (parens)",
    "\u00a0nbsp\u2003em-space\u200bzwsp mixed",       # exotic whitespace
]


@pytest.fixture(scope="module")
def fuzz_dir(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("fuzz")
    rows = [(i, t, "xx", "fuzz", len(t)) for i, t in enumerate(ADVERSARIAL_TEXTS)]
    pdf = pd.DataFrame(rows, columns=["doc_id", "text", "lang", "source", "n_chars"])
    spark.createDataFrame(pdf).coalesce(1).write.parquet(str(d / "documents.parquet"))
    return str(d)


@pytest.fixture(scope="module")
def fuzz_duck(fuzz_dir):
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{fuzz_dir}/documents.parquet/*.parquet')"
    )
    return con


def _norm_frame(pdf: pd.DataFrame) -> pd.DataFrame:
    pdf = pdf.reindex(sorted(pdf.columns), axis=1)
    return pdf.sort_values(by=list(pdf.columns)).reset_index(drop=True)


def _check(spark, duck, builder, fuzz_dir, name):
    from tesseract_glue_spark.operators.registry import oracle, spark_runner
    from tests.conftest import canonical_csv

    got = _norm_frame(spark_runner(builder)(spark, fuzz_dir).toPandas())
    want = _norm_frame(duck.sql(oracle(builder)).df())
    pd.testing.assert_frame_equal(got, want, check_dtype=False, obj=name)
    # strict driver-style value hash (catches dtype drift, see conftest)
    assert canonical_csv(got) == canonical_csv(want), (
        f"{name}: value-hash mismatch (dtype drift?)"
    )


def test_text_ops_on_adversarial_input(spark, fuzz_dir, fuzz_duck):
    from tesseract_glue_spark.operators.text import TEXT_OPS

    for name, b in TEXT_OPS.items():
        _check(spark, fuzz_duck, b, fuzz_dir, name)


def _check_query(spark, duck, query_fn, oracle_sql, fuzz_dir, name):
    from tests.conftest import canonical_csv

    got = _norm_frame(query_fn(spark, fuzz_dir).toPandas())
    want = _norm_frame(duck.sql(oracle_sql).df())
    pd.testing.assert_frame_equal(got, want, check_dtype=False, obj=name)
    assert canonical_csv(got) == canonical_csv(want), (
        f"{name}: value-hash mismatch (dtype drift?)"
    )


def test_web_wrapper_flagship_on_adversarial_input(spark, fuzz_dir, fuzz_duck):
    """extract_web_flat wraps raw interleaved text-span chunks in HTML
    (<h1>chunk</h1>) before DOM-stripping — the wrapper normalizes each
    chunk with the same safe_text_expr contract the oracle applies."""
    from tesseract_glue_spark.operators import web as W

    _check_query(
        spark,
        fuzz_duck,
        W.extract_web_flat_spark,
        W.extract_web_flat_oracle_sql(),
        fuzz_dir,
        "extract_web_flat",
    )
