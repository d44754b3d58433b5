"""Driver-contract simulation: entry() smoke + queries() vs oracle_sql()
at sf0.01, compared the way the driver does (sorted columns, sorted rows,
value equality)."""

import duckdb
import pandas as pd
import pytest

import __spark_entry__ as entry_mod

SF_ORACLE = "/root/testdata/sf0.01"
TABLES = ["documents"]


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_ORACLE}/{t}.parquet')"
        )
    return con


def normalize(pdf: pd.DataFrame) -> pd.DataFrame:
    pdf = pdf.reindex(sorted(pdf.columns), axis=1)
    return pdf.sort_values(by=list(pdf.columns)).reset_index(drop=True)


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert [f.name for f in df.schema.fields] == [
        "doc_id", "spans", "ocr_pages", "ocr_empty_pages", "status",
    ]


def test_queries_match_oracles(spark, duck):
    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    assert set(oracles) == set(qs)
    assert len(qs) <= 50, (
        f"{len(qs)} queries: the driver contract checks only a 50-query "
        f"window, so an entry past it would go unverified"
    )
    for name, fn in qs.items():
        got = normalize(fn(spark, SF_ORACLE).toPandas())
        want = normalize(duck.sql(oracles[name]).df())
        assert list(got.columns) == list(want.columns), name
        assert len(got) == len(want), name
        pd.testing.assert_frame_equal(got, want, check_dtype=False, obj=name)
        # strict driver-style value hash: catches dtype drift (e.g. a
        # DuckDB SUM left un-CAST → HUGEINT → float64 '5.0' vs '5')
        # that check_dtype=False silently forgives
        from tests.conftest import canonical_csv

        assert canonical_csv(got) == canonical_csv(want), (
            f"{name}: value-hash mismatch (dtype drift?)"
        )
