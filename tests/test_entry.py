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


# The modules an extraction entry point can import: perfbench, run_extract,
# extract_stream and entry(). A change that moves a module into or out of
# this closure edits this set on purpose.
EXTRACTION_CLOSURE = {
    "tesseract_glue_spark",
    "tesseract_glue_spark.config",
    "tesseract_glue_spark.engine",
    "tesseract_glue_spark.errors",
    "tesseract_glue_spark.languages",
    "tesseract_glue_spark.fixtures",
    "tesseract_glue_spark.functions",
    "tesseract_glue_spark.functions.dialect",
    "tesseract_glue_spark.functions.truth",
    "tesseract_glue_spark.imaging",
    "tesseract_glue_spark.imaging.codecs",
    "tesseract_glue_spark.imaging.jp2",
    "tesseract_glue_spark.imaging.kernels",
    "tesseract_glue_spark.imaging.png",
    "tesseract_glue_spark.imaging.render",
    "tesseract_glue_spark.imaging.tiff",
    "tesseract_glue_spark.operators",
    "tesseract_glue_spark.operators.extract",
    "tesseract_glue_spark.operators.web",
    "tesseract_glue_spark.run_extract",
    "tesseract_glue_spark.sources",
    "tesseract_glue_spark.sources.manifests",
    "tesseract_glue_spark.sources.shipping",
    "tesseract_glue_spark.sources.tables",
    "tesseract_glue_spark.streaming",
    "tesseract_glue_spark.streaming.extract_stream",
    "tesseract_glue_spark.web",
    "tesseract_glue_spark.web.html_fast",
    "tesseract_glue_spark.web.html_main",
}


def test_extraction_closure_is_pinned():
    """Walk every import, module- and function-level, from the
    extraction entry points by ``ast``: it reaches exactly
    ``EXTRACTION_CLOSURE``. Everything else in the package is reached
    only from ``queries()`` or from tests."""
    import ast
    from pathlib import Path

    root = Path(__file__).resolve().parent.parent
    pkg = "tesseract_glue_spark"

    def path_of(mod):
        base = root.joinpath(*mod.split("."))
        for p in (base.with_suffix(".py"), base / "__init__.py"):
            if p.is_file():
                return p
        return None

    def imported(node):
        """Package modules named by the imports under ``node``."""
        out = set()
        for n in ast.walk(node):
            if isinstance(n, ast.Import):
                out |= {a.name for a in n.names}
            elif isinstance(n, ast.ImportFrom) and n.module and n.level == 0:
                out.add(n.module)
                out |= {f"{n.module}.{a.name}" for a in n.names}
        # a name imported from a module is a submodule only if its file exists
        return {m for m in out if m.split(".")[0] == pkg and path_of(m)}

    entry_tree = ast.parse((root / "__spark_entry__.py").read_text())
    (entry_fn,) = [
        n for n in entry_tree.body if isinstance(n, ast.FunctionDef) and n.name == "entry"
    ]
    todo = imported(entry_fn)
    for f in sorted((root / "perfbench").glob("*.py")):
        todo |= imported(ast.parse(f.read_text()))
    todo |= {f"{pkg}.run_extract", f"{pkg}.streaming.extract_stream"}

    seen = set()
    while todo:
        mod = todo.pop()
        if mod in seen:
            continue
        seen.add(mod)
        todo |= imported(ast.parse(path_of(mod).read_text()))
        parent = mod.rpartition(".")[0]
        if parent:  # importing a module runs its package's __init__
            todo.add(parent)
    assert seen == EXTRACTION_CLOSURE, (
        sorted(seen - EXTRACTION_CLOSURE),
        sorted(EXTRACTION_CLOSURE - seen),
    )
