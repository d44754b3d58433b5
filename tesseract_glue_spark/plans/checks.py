"""Physical-plan quality assertions.

`.explain("formatted")` is the feedback loop for scale work: these
helpers turn the plan text into assertable properties so tests lock in
the plan shape we want (pushdown reached the scan, column pruning
happened, the OCR stage kept its explicit fan-out, joins broadcast the
small side) and regressions show up as test failures, not as silent
100 TB slowdowns.
"""

from __future__ import annotations

import io
from contextlib import redirect_stdout

from pyspark.sql import DataFrame


def plan_text(df: DataFrame, mode: str = "formatted") -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


def scan_read_schema(plan: str, table_path_fragment: str) -> str:
    """ReadSchema of the scan whose location mentions the fragment."""
    blocks = plan.split("\n\n")
    for b in blocks:
        if "Scan parquet" in b or table_path_fragment in b:
            if table_path_fragment in b:
                for line in b.splitlines():
                    if line.strip().startswith("ReadSchema:"):
                        return line.split("ReadSchema:", 1)[1].strip()
    return ""


def has_pushed_filter(plan: str, fragment: str) -> bool:
    """A filter predicate reached the parquet scan (PushedFilters)."""
    for line in plan.splitlines():
        if "PushedFilters:" in line and fragment in line:
            return True
    return False


def columns_pruned(plan: str, table_path_fragment: str, allowed: set[str]) -> bool:
    """The scan reads no columns beyond ``allowed``."""
    schema = scan_read_schema(plan, table_path_fragment)
    if not schema:
        return False
    inner = schema.split("<", 1)[1].rsplit(">", 1)[0] if "<" in schema else ""
    cols = {c.split(":")[0] for c in _split_top_level(inner) if c}
    return cols <= allowed


def _split_top_level(s: str) -> list[str]:
    out, depth, cur = [], 0, []
    for ch in s:
        if ch == "<":
            depth += 1
        elif ch == ">":
            depth -= 1
        if ch == "," and depth == 0:
            out.append("".join(cur))
            cur = []
        else:
            cur.append(ch)
    out.append("".join(cur))
    return [c.strip() for c in out]


def count_exchanges(plan: str) -> int:
    """Shuffle count (Exchange operators, excluding broadcast)."""
    return sum(
        1
        for line in plan.splitlines()
        if "Exchange" in line and "BroadcastExchange" not in line and "(" in line
    )


def has_wholestage_codegen(plan: str) -> bool:
    return "WholeStageCodegen" in plan or "*(" in plan


def has_user_repartition(plan: str) -> bool:
    """The explicit round-robin fan-out before the OCR UDF survived
    optimization (REPARTITION_BY_NUM shuffle origin)."""
    return "REPARTITION_BY_NUM" in plan
