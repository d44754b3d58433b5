"""Two-dialect SQL emission: every operator SQL template is written once
and rendered for both Spark SQL and DuckDB SQL through these helpers, so
the Spark query and its correctness oracle can never drift.

All emitted expressions are deterministic and integer/string-valued
where they feed the value-hash comparison (derived ratios are emitted as
floor-scaled BIGINTs, never raw doubles, to avoid cross-engine float
formatting hazards).
"""

from __future__ import annotations

SPARK = "spark"
DUCKDB = "duckdb"


def regex_literal(d: str, pattern: str) -> str:
    """Embed a RAW regex (single backslashes, e.g. ``\\b(the)\\b`` written
    as ``r"\\b(the)\\b"``) into a SQL string literal. Spark SQL literals
    process backslash escapes (``'\\\\b'`` → ``\\b``); DuckDB literals do
    not — the same quoted text means DIFFERENT regexes in the two
    engines unless escaped per dialect here."""
    if d == SPARK:
        return "'" + pattern.replace("\\", "\\\\") + "'"
    return "'" + pattern + "'"


def regexp_replace_all(d: str, col: str, pattern: str, repl: str) -> str:
    """Replace ALL matches of a RAW regex pattern. Spark's
    ``regexp_replace`` is global by default; DuckDB's replaces only the
    FIRST match without the ``'g'`` flag — a silent one-engine-only
    divergence this helper exists to prevent."""
    lit = regex_literal(d, pattern)
    if d == SPARK:
        return f"regexp_replace({col}, {lit}, '{repl}')"
    return f"regexp_replace({col}, {lit}, '{repl}', 'g')"


def regexp_count(d: str, col: str, pattern: str) -> str:
    """Count non-overlapping matches of a RAW regex pattern. Pattern
    must be valid in both Java regex (Spark) and RE2 (DuckDB) — stick
    to \\b, classes, alternation."""
    lit = regex_literal(d, pattern)
    if d == SPARK:
        return f"regexp_count({col}, {lit})"
    return f"len(regexp_extract_all({col}, {lit}))"


def ascii_trim(d: str, col: str) -> str:
    """Strip leading/trailing ASCII whitespace via explicit regex.

    NEVER use bare ``trim()`` in dual-dialect SQL: DuckDB's trim strips
    unicode spaces (NBSP) while Spark's strips ASCII space only — found
    by the adversarial fuzz on a leading ``\\u00a0``."""
    pat = regex_literal(d, r"^[ \t\n\r\f]+|[ \t\n\r\f]+$")
    if d == SPARK:
        return f"regexp_replace({col}, {pat}, '')"
    return f"regexp_replace({col}, {pat}, '', 'g')"


def ws_token_count(d: str, col: str) -> str:
    """Whitespace token count with the empty-string guard (both engines
    return a 1-element array for '' splits)."""
    t = ascii_trim(d, col)
    if d == SPARK:
        arr = f"split({t}, '\\\\s+')"
    else:
        arr = f"regexp_split_to_array({t}, '\\s+')"
    n = f"size({arr})" if d == SPARK else f"len({arr})"
    return f"(CASE WHEN {t} = '' THEN 0 ELSE {n} END)"


def ws_tokens(d: str, col: str) -> str:
    """Whitespace token array (callers must guard empty strings)."""
    t = ascii_trim(d, col)
    if d == SPARK:
        return f"split({t}, '\\\\s+')"
    return f"regexp_split_to_array({t}, '\\s+')"


def md5_hex(d: str, expr: str) -> str:
    return f"md5({expr})"  # same name, same lowercase-hex output


def hex_prefix_to_bigint(d: str, expr: str) -> str:
    """First 8 hex chars of an md5 → BIGINT in [0, 2^32), equal in both
    engines."""
    if d == SPARK:
        return f"CAST(conv(substring({expr}, 1, 8), 16, 10) AS BIGINT)"
    return f"CAST(concat('0x', substr({expr}, 1, 8)) AS BIGINT)"


def str_hash64(d: str, expr: str) -> str:
    """Deterministic 32-bit integer hash of a string expression, equal
    across engines (md5-based; NOT xxhash64/hash(), which differ)."""
    return hex_prefix_to_bigint(d, md5_hex(d, expr))


def word_set_count(d: str, col: str, words: tuple[str, ...]) -> str:
    """Count tokens of ``col`` (lowered, split on non-alphanumerics)
    that are in ``words`` — the boundary-semantics-free replacement for
    ``\\b(word|...)\\b`` counting: RE2 (DuckDB) uses ASCII word chars
    for \\b while Java treats unicode letters as word chars, so the
    same marker regex matches differently around accented text (found
    by the adversarial fuzz on 'ñandú' ⊃ 'and')."""
    wset = ", ".join(f"'{w}'" for w in words)
    if d == SPARK:
        toks = f"split(lower({col}), '[^a-z0-9]+')"
        return f"size(filter({toks}, _w -> _w IN ({wset})))"
    toks = f"regexp_split_to_array(lower({col}), '[^a-z0-9]+')"
    return f"len(list_filter({toks}, _w -> _w IN ({wset})))"


def array_len(d: str, expr: str) -> str:
    return f"size({expr})" if d == SPARK else f"len({expr})"


def array_distinct_len(d: str, expr: str) -> str:
    """Number of DISTINCT elements of an array expression — the
    unique-token counter behind Gopher-style lexical-diversity filters."""
    if d == SPARK:
        return f"size(array_distinct({expr}))"
    return f"len(list_distinct({expr}))"


def array_join(d: str, arr: str, sep: str = " ") -> str:
    if d == SPARK:
        return f"array_join({arr}, '{sep}')"
    return f"array_to_string({arr}, '{sep}')"


def array_min(d: str, arr: str) -> str:
    if d == SPARK:
        return f"array_min({arr})"
    return f"list_aggregate({arr}, 'min')"


def int_div(d: str, a: str, b: str) -> str:
    return f"({a} DIV {b})" if d == SPARK else f"({a} // {b})"


def scaled_ratio(d: str, num: str, den: str, scale: int = 10000) -> str:
    """floor(scale * num / den) as BIGINT; 0 when den = 0. Deterministic
    across engines (exact double arithmetic well inside 2^53)."""
    return (
        f"(CASE WHEN {den} = 0 THEN CAST(0 AS BIGINT) "
        f"ELSE CAST(floor({scale} * CAST({num} AS DOUBLE) / CAST({den} AS DOUBLE)) AS BIGINT) END)"
    )
