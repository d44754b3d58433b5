"""Text-analysis operators over the flat ``documents`` table.

These are the training-data-pipeline operators a 100 TB corpus needs
(language-ID, quality scoring, token counting, fingerprinting). Each is
a single SQL template rendered for Spark SQL *and* DuckDB SQL from
:mod:`tesseract_glue_spark.functions.dialect`, so the DataFrame query
and its correctness oracle are the same text by construction.

Everything stays JVM-side (built-in expressions, whole-stage codegen);
no UDFs anywhere. Derived ratios are emitted as floor-scaled BIGINTs
(``*_x10k``) — never raw doubles — so cross-engine value-hashing is
exact.
"""

from __future__ import annotations

from tesseract_glue_spark.functions import dialect as D

# Marker stopwords per language. Matched by exact-token membership
# (split on non-alphanumerics) — NOT by \b regexes, whose word-boundary
# semantics diverge between Java (unicode word chars) and RE2 (ASCII):
# the adversarial fuzz caught \band\b matching inside 'ñandú' in
# DuckDB but not Spark.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "is", "in", "that", "it", "was", "for"),
    "de": ("der", "die", "das", "und", "ist", "nicht", "ein", "zu", "mit", "von"),
    "fr": ("le", "la", "les", "et", "est", "une", "dans", "que", "pour", "pas"),
    "es": ("el", "los", "las", "es", "una", "que", "por", "con", "para", "como"),
    "it": ("il", "che", "di", "non", "per", "una", "sono", "con", "della", "anche"),
}
# Deterministic priority order for argmax ties:
LANG_PRIORITY = ["en", "de", "fr", "es", "it"]

EN_STOPWORDS: tuple[str, ...] = (
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "it",
    "that", "for", "on", "with", "as",
)
PUNCT_CLASS = r"[.,;:!?]"


def _norm(d: str, col: str = "text") -> str:
    """lower + ascii-trim + collapse whitespace (DuckDB needs the 'g'
    flag; bare trim() has unicode-vs-ascii divergence — see
    dialect.ascii_trim)."""
    t = D.ascii_trim(d, col)
    if d == D.SPARK:
        return f"lower(regexp_replace({t}, '\\\\s+', ' '))"
    return f"lower(regexp_replace({t}, '\\s+', ' ', 'g'))"


def token_stats_sql(d: str, table: str = "documents") -> str:
    """Per-doc token counts: whitespace tokens + a BPE-ish subword count
    (letter runs, digits, and single punctuation as separate tokens)."""
    bpe = D.regexp_count(d, "text", r"[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]")
    return f"""
    SELECT doc_id,
           CAST(length(text) AS BIGINT) AS n_chars,
           CAST({D.ws_token_count(d, "text")} AS BIGINT) AS n_tokens_ws,
           CAST({bpe} AS BIGINT) AS n_tokens_bpe
    FROM {table}
    """.strip()


def quality_sql(d: str, table: str = "documents") -> str:
    """Quality scoring from length / punctuation / stopword ratios.

    All-integer arithmetic: component scores are scaled ints, the final
    score their sum — bit-identical across engines.
    """
    n_words = D.ws_token_count(d, "text")
    n_punct = D.regexp_count(d, "text", PUNCT_CLASS)
    n_stop = D.word_set_count(d, "text", EN_STOPWORDS)
    punct_x10k = D.scaled_ratio(d, n_punct, "length(text)")
    stop_x10k = D.scaled_ratio(d, n_stop, n_words)
    return f"""
    SELECT doc_id,
           CAST(length(text) AS BIGINT) AS n_chars,
           CAST({n_words} AS BIGINT) AS n_words,
           {punct_x10k} AS punct_x10k,
           {stop_x10k} AS stop_x10k,
           CAST(least({n_words}, 200) * 50
                + least({stop_x10k} * 5, 10000)
                - least({punct_x10k} * 10, 10000) AS BIGINT) AS quality_score
    FROM {table}
    """.strip()


def langid_sql(d: str, table: str = "documents") -> str:
    """N-gram/stopword-heuristic language ID with deterministic
    fixed-priority tie-breaking (en > de > fr > es > it > und)."""
    counts = {
        lang: D.word_set_count(d, "text", words) for lang, words in LANG_MARKERS.items()
    }
    score_cols = ",\n           ".join(
        f"CAST({expr} AS BIGINT) AS score_{lang}" for lang, expr in counts.items()
    )
    # argmax CASE chain over the aliased scores (computed in a subquery)
    others = {
        lang: [f"score_{o}" for o in LANG_PRIORITY if o != lang] for lang in LANG_PRIORITY
    }
    chain = " ".join(
        f"WHEN score_{lang} > 0 AND score_{lang} >= greatest({', '.join(others[lang])}) THEN '{lang}'"
        for lang in LANG_PRIORITY
    )
    return f"""
    SELECT doc_id, score_en, score_de, score_fr, score_es, score_it,
           CASE {chain} ELSE 'und' END AS lang_pred
    FROM (
        SELECT doc_id,
           {score_cols}
        FROM {table}
    ) scores
    """.strip()


def fingerprint_sql(d: str, table: str = "documents") -> str:
    """Document fingerprints: md5 of normalized text (exact-dup key) and
    the min-hash of word 5-gram shingles (near-dup-stable rolling-hash
    analogue; winnowing's min-selection over the shingle stream).

    Explode-index + MIN-aggregate rather than a transform/array_min
    lambda: Spark never codegens higher-order functions, so the lambda
    form runs interpreted."""
    norm = _norm(d)
    w = D.ws_tokens(d, "norm")
    nw = D.array_len(d, "w")
    W = 5
    if d == D.SPARK:
        parts = ", ".join(f"element_at(w, i + {k + 1})" for k in range(W))
        lateral = f"LATERAL VIEW explode(sequence(0, greatest(nw - {W}, 0))) _t AS i"
    else:
        parts = ", ".join(f"w[i + {k + 1}]" for k in range(W))
        lateral = f", unnest(generate_series(0, greatest(nw - {W}, 0))) AS _t(i)"
    gram_md5 = D.md5_hex(d, f"concat_ws(' ', {parts})")
    return f"""
    WITH tok AS (
        SELECT doc_id, norm, {w} AS w, {nw} AS nw
        FROM (SELECT doc_id, {norm} AS norm FROM {table}) n
    ),
    gm AS (
        SELECT doc_id, MIN({gram_md5}) AS mn
        FROM tok {lateral}
        WHERE nw >= {W} AND i <= nw - {W}
        GROUP BY doc_id
    )
    SELECT t.doc_id,
           {D.md5_hex(d, "t.norm")} AS fp_md5,
           coalesce(gm.mn, {D.md5_hex(d, "t.norm")}) AS fp_shingle_min
    FROM tok t LEFT JOIN gm ON t.doc_id = gm.doc_id
    """.strip()


BOILERPLATE_PATTERNS = [
    # nav/footer-ish fragments (the HTML-boilerplate-strip analogue of
    # the north_rule, applied to plain text: markers + surrounding words)
    r"(copyright|all rights reserved|terms of service|privacy policy|cookie)[a-z ]*",
    r"(click here|subscribe now|sign up|log in|advertisement)[a-z ]*",
]
# No \b anchors (Java/RE2 boundary semantics diverge near unicode);
# slight over-match inside longer digit runs is acceptable for a scrub.
PII_PATTERNS = [
    (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    (r"\d{3}[-. ]\d{3}[-. ]\d{4}", "<PHONE>"),
    (r"\d{3}-\d{2}-\d{4}", "<SSN>"),
]


def _regexp_replace_all(d: str, col: str, pattern: str, repl: str) -> str:
    lit = D.regex_literal(d, pattern)
    if d == D.SPARK:
        return f"regexp_replace({col}, {lit}, '{repl}')"
    return f"regexp_replace({col}, {lit}, '{repl}', 'g')"


def boilerplate_strip_sql(d: str, table: str = "documents") -> str:
    """Main-content extraction for flat text: strip boilerplate
    fragments, collapse the leftover whitespace, report how much was
    removed. (The DOM-heuristics analogue over the text stand-in —
    at 100 TB this runs pre-dedup so boilerplate doesn't glue unrelated
    docs together in MinHash space.)"""
    expr = "lower(text)"
    for pat in BOILERPLATE_PATTERNS:
        expr = _regexp_replace_all(d, expr, pat, " ")
    cleaned = _regexp_replace_all(d, D.ascii_trim(d, f"({expr})"), r"\s+", " ")
    return f"""
    SELECT doc_id,
           {cleaned} AS clean_text,
           CAST(length(text) AS BIGINT) AS n_chars_before,
           CAST(length({cleaned}) AS BIGINT) AS n_chars_after,
           {D.scaled_ratio(d, f"length(text) - length({cleaned})", "length(text)")} AS removed_x10k
    FROM {table}
    """.strip()


def pii_scrub_sql(d: str, table: str = "documents") -> str:
    """PII redaction (emails / phone numbers / SSN-shaped) with per-doc
    hit counts — a mandatory pass before corpus publication."""
    expr = "text"
    count_terms = []
    for pat, repl in PII_PATTERNS:
        count_terms.append(D.regexp_count(d, "text", pat))
        expr = _regexp_replace_all(d, expr, pat, repl)
    total = " + ".join(f"({c})" for c in count_terms)
    return f"""
    SELECT doc_id,
           {expr} AS scrubbed_text,
           CAST({total} AS BIGINT) AS n_pii_hits
    FROM {table}
    """.strip()


SAMPLE_RATES: dict[str, int] = {"en": 30}   # pct per lang stratum
SAMPLE_DEFAULT_PCT = 10


def sample_stratified_sql(d: str, table: str = "documents") -> str:
    """Deterministic stratified corpus sampling — the downsampling pass
    of a training-data mixer. Selection is by content-independent hash
    of the doc_id (md5-based, identical across engines), so the sample
    is reproducible across runs, engines, and partitionings — never
    ``rand()``, which is seed/partitioning-dependent. Per-language
    strata get different rates (SAMPLE_RATES, default
    {SAMPLE_DEFAULT_PCT}%). Scale shape: a scan + filter, no shuffle."""
    cast = "STRING" if d == D.SPARK else "VARCHAR"
    h = D.str_hash64(d, f"concat('sample_', CAST(doc_id AS {cast}))")
    rate_cases = " ".join(
        f"WHEN lang = '{lang}' THEN {pct}" for lang, pct in sorted(SAMPLE_RATES.items())
    )
    rate = f"(CASE {rate_cases} ELSE {SAMPLE_DEFAULT_PCT} END)"
    return f"""
    SELECT doc_id, lang, source
    FROM {table}
    WHERE {h} % 100 < {rate}
    """.strip()


PACK_TOKEN_BUDGET = 512
PACK_GROUPS = 16  # default only — pass ``groups ≈ shuffle parallelism`` in production


def pack_sequences_sql(
    d: str, table: str = "documents", groups: int | None = None
) -> str:
    """Sequence packing for training batches: contiguous packing of
    documents into bins via a running token sum,
    ``bin_no = exclusive-prefix-sum DIV {PACK_TOKEN_BUDGET}``.

    **Bin-size contract (spillover semantics):** a bin's token total is
    < budget + the tokens of its last doc — the document straddling a
    budget boundary stays in the bin it started in (exclusive-prefix
    binning), so a bin can exceed the budget by up to one document.
    A batch builder that needs a HARD cap must truncate oversize docs
    first (every bin is then < 2×budget) or split straddlers
    downstream; true greedy bin-close packing is a sequential
    recurrence that neither engine's window vocabulary expresses, and
    the one-doc spillover is the standard trade for a fully parallel
    prefix-sum plan.

    Scale shape: the running sum is windowed PER pack_group
    (doc_id % groups) — bounded-width partitions, never a global
    single-partition sort. ``groups`` defaults to {PACK_GROUPS} (the
    oracle corpus value, keeping gate hashes stable); it caps the
    stage's parallelism, so production callers pass
    ``groups ≈ spark.sql.shuffle.partitions``. Bins are
    (pack_group, bin_no) pairs, so group-local packing composes."""
    g = PACK_GROUPS if groups is None else int(groups)
    n_tok = D.ws_token_count(d, "text")
    win = "PARTITION BY pack_group ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW"
    bin_no = D.int_div(d, "(run_total - n_tokens)", str(PACK_TOKEN_BUDGET))
    return f"""
    WITH toks AS (
        SELECT doc_id, doc_id % {g} AS pack_group,
               CAST({n_tok} AS BIGINT) AS n_tokens
        FROM {table}
    ),
    runs AS (
        SELECT doc_id, pack_group, n_tokens,
               SUM(n_tokens) OVER ({win}) AS run_total
        FROM toks
    )
    SELECT doc_id, CAST(pack_group AS BIGINT) AS pack_group, n_tokens,
           CAST({bin_no} AS BIGINT) AS bin_no
    FROM runs
    """.strip()


DUP_SPAN_W = 8  # words per duplication window


def dup_spans_sql(d: str, table: str = "documents") -> str:
    """Exact substring-duplication spans — the span-level output a
    dedup pipeline needs to CUT repeated passages instead of dropping
    whole documents (the "exact substring dedup" stage of modern
    training-data pipelines, re-expressed in SQL).

    Plan: normalized word {DUP_SPAN_W}-gram windows are hashed
    (codegen'd explode-index projection, same formulation as
    ``fingerprint_sql`` — higher-order-function lambdas never codegen);
    a window is *duplicated* when its hash occurs in ≥ 2 distinct docs;
    each doc's duplicated window starts are merged into maximal spans
    with a gaps-and-islands pass (LAG + running SUM — two windows
    overlap iff their starts differ by ≤ {DUP_SPAN_W}). Output spans
    are 1-based inclusive word ranges.

    Scale shape: one shuffle keyed by window hash (the HAVING group),
    one hash semi-join back on the same key (exchange reused / AQE),
    one shuffle keyed by doc_id for the island window — never
    all-pairs; candidates ∝ hash collisions, as in an inverted index.
    """
    W = DUP_SPAN_W
    norm = _norm(d)
    w = D.ws_tokens(d, "norm")
    nw = D.array_len(d, "w")
    if d == D.SPARK:
        parts = ", ".join(f"element_at(w, i + {k + 1})" for k in range(W))
        lateral = f"LATERAL VIEW explode(sequence(0, greatest(nw - {W}, 0))) _t AS i"
    else:
        parts = ", ".join(f"w[i + {k + 1}]" for k in range(W))
        lateral = f", unnest(generate_series(0, greatest(nw - {W}, 0))) AS _t(i)"
    h = D.md5_hex(d, f"concat_ws(' ', {parts})")
    over = "PARTITION BY doc_id ORDER BY i"
    run = f"{over} ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW"
    return f"""
    WITH tok AS (
        SELECT doc_id, norm, {w} AS w, {nw} AS nw
        FROM (SELECT doc_id, {norm} AS norm FROM {table}) n0
    ),
    win AS (
        SELECT doc_id, i, {h} AS h
        FROM tok {lateral}
        WHERE nw >= {W} AND i <= nw - {W}
    ),
    duph AS (
        SELECT h FROM win GROUP BY h HAVING COUNT(DISTINCT doc_id) >= 2
    ),
    dwin AS (
        SELECT w.doc_id, w.i FROM win w JOIN duph USING (h)
    ),
    isl AS (
        SELECT doc_id, i,
               CASE WHEN i - lag(i) OVER ({over}) <= {W} THEN 0 ELSE 1 END AS brk
        FROM dwin
    ),
    grp AS (
        SELECT doc_id, i, SUM(brk) OVER ({run}) AS island
        FROM isl
    )
    SELECT doc_id,
           CAST(island AS BIGINT) AS island,
           CAST(MIN(i) + 1 AS BIGINT) AS span_start_word,
           CAST(MAX(i) + {W} AS BIGINT) AS span_end_word,
           CAST(COUNT(*) AS BIGINT) AS n_dup_windows
    FROM grp
    GROUP BY doc_id, island
    """.strip()


# Gopher-inspired repetition thresholds (scaled x10k): flag a document
# when its most frequent word 2-gram covers > 18% of all 2-grams, or
# > 30% of its word 3-grams are repeats (Rae et al. 2021 use 0.18 /
# 0.30 char-fraction analogues; here fractions are over gram counts —
# the corpus stand-in has no line structure, so the line-dedup rules
# don't apply).
REP_TOP_BIGRAM_X10K = 1800
REP_DUP_TRIGRAM_X10K = 3000


def gopher_repetition_sql(d: str, table: str = "documents") -> str:
    """Repetition-based quality signals (Gopher-style): per doc, the
    fraction of word 2-grams taken by the single most frequent 2-gram
    and the fraction of word 3-grams that occur more than once, plus a
    combined keep/drop flag — the repetition filter every LLM-corpus
    pipeline runs between language-ID and dedup (repetitive SEO/boiler
    docs poison both training and MinHash buckets).

    Plan: normalized word 2-/3-gram windows via the codegen'd
    explode-index projection (same formulation as ``fingerprint_sql`` —
    higher-order-function lambdas never codegen), md5-hashed to
    fixed-width shuffle keys; gram counts are a groupBy(doc_id, gram)
    with map-side partial aggregation, re-aggregated per doc. Both
    shuffles are keyed by doc-local grams (no cross-doc joins — unlike
    dedup, repetition is a PER-DOC signal), so the stage scales
    linearly in corpus size with no skew hazard beyond the largest
    single document. Ratios are floor-scaled BIGINTs (``*_x10k``).
    """
    norm = _norm(d)
    w = D.ws_tokens(d, "norm")
    nw = D.array_len(d, "w")

    def gram(width: int) -> tuple[str, str]:
        if d == D.SPARK:
            parts = ", ".join(f"element_at(w, i + {k + 1})" for k in range(width))
            lat = f"LATERAL VIEW explode(sequence(0, greatest(nw - {width}, 0))) _t AS i"
        else:
            parts = ", ".join(f"w[i + {k + 1}]" for k in range(width))
            lat = f", unnest(generate_series(0, greatest(nw - {width}, 0))) AS _t(i)"
        return D.md5_hex(d, f"concat_ws(' ', {parts})"), lat

    g2, lat2 = gram(2)
    g3, lat3 = gram(3)
    top2 = D.scaled_ratio(d, "COALESCE(b.top_c, 0)", "COALESCE(b.n_grams, 0)")
    dup3 = D.scaled_ratio(d, "COALESCE(t3.dup_c, 0)", "COALESCE(t3.n_grams, 0)")
    return f"""
    WITH tok AS (
        SELECT doc_id, {w} AS w, {nw} AS nw
        FROM (SELECT doc_id, {norm} AS norm FROM {table}) n0
    ),
    bg AS (
        SELECT doc_id, {g2} AS g FROM tok {lat2} WHERE nw >= 2 AND i <= nw - 2
    ),
    bgc AS (
        SELECT doc_id, g, COUNT(*) AS c FROM bg GROUP BY doc_id, g
    ),
    bga AS (
        SELECT doc_id, MAX(c) AS top_c, CAST(SUM(c) AS BIGINT) AS n_grams
        FROM bgc GROUP BY doc_id
    ),
    tg AS (
        SELECT doc_id, {g3} AS g FROM tok {lat3} WHERE nw >= 3 AND i <= nw - 3
    ),
    tgc AS (
        SELECT doc_id, g, COUNT(*) AS c FROM tg GROUP BY doc_id, g
    ),
    tga AS (
        SELECT doc_id,
               CAST(SUM(CASE WHEN c >= 2 THEN c ELSE 0 END) AS BIGINT) AS dup_c,
               CAST(SUM(c) AS BIGINT) AS n_grams
        FROM tgc GROUP BY doc_id
    )
    SELECT k.doc_id,
           CAST(k.nw AS BIGINT) AS n_tokens,
           {top2} AS top_bigram_x10k,
           {dup3} AS dup_trigram_x10k,
           CAST(CASE WHEN {top2} > {REP_TOP_BIGRAM_X10K}
                       OR {dup3} > {REP_DUP_TRIGRAM_X10K}
                     THEN 1 ELSE 0 END AS BIGINT) AS flag_repetitive
    FROM tok k
    LEFT JOIN bga b ON k.doc_id = b.doc_id
    LEFT JOIN tga t3 ON k.doc_id = t3.doc_id
    """.strip()


# C4/Gopher-style filter-chain thresholds (calibrated so the synthetic
# gate corpus exercises EVERY branch — keep plus each drop reason):
FILTER_MIN_TOKENS = 40        # C4: drop too-short documents
FILTER_MAX_TOKENS = 5000      # runaway/concatenated documents
FILTER_UNIQ_MIN_X10K = 4000   # Gopher: unique-word fraction floor (0.40)
FILTER_STOP_MIN_X10K = 400    # C4: must contain stopwords (≥4% of tokens)
FILTER_WLEN_MIN_X100 = 300    # Gopher: mean word length within [3, 10]
FILTER_WLEN_MAX_X100 = 1000


def filter_chain_sql(d: str, table: str = "documents") -> str:
    """Composed quality-filter chain — the C4/Gopher-style keep/drop
    decision every pretraining pipeline runs before dedup: ordered
    rules (too_short → too_long → low_diversity → low_stopword →
    weird_wordlen), verdict = first failing rule, with the underlying
    per-document features surfaced so downstream sampling can
    re-threshold without recomputing them.

    All-integer outputs (scaled ratios) keep the cross-engine value
    hash exact. ``mean_wlen_x100`` exploits the whitespace-collapsed
    normalization: total word chars = length(norm) - (n_tokens - 1)
    single separators, so no second tokenizer pass is needed.

    Scale shape: pure map-side projection over codegen'd built-ins —
    no shuffle, no UDF; at 10^12 docs this runs at parquet-scan speed
    and its selectivity feeds the stratified sampler
    (``text_sample_stratified``) and the dedup stages downstream.
    """
    norm = _norm(d)
    w = D.ws_tokens(d, "norm")
    n_stop = D.word_set_count(d, "norm", EN_STOPWORDS)
    uniq = D.array_distinct_len(d, "w")
    mean_wlen = D.scaled_ratio(d, "(length(norm) - (n_tokens - 1))", "n_tokens", 100)
    reason = f"""CASE
               WHEN n_tokens < {FILTER_MIN_TOKENS} THEN 'too_short'
               WHEN n_tokens > {FILTER_MAX_TOKENS} THEN 'too_long'
               WHEN uniq_x10k < {FILTER_UNIQ_MIN_X10K} THEN 'low_diversity'
               WHEN stop_x10k < {FILTER_STOP_MIN_X10K} THEN 'low_stopword'
               WHEN mean_wlen_x100 < {FILTER_WLEN_MIN_X100}
                    OR mean_wlen_x100 > {FILTER_WLEN_MAX_X100} THEN 'weird_wordlen'
               ELSE 'ok' END"""
    return f"""
    WITH toks AS (
        SELECT doc_id, norm, {w} AS w
        FROM (SELECT doc_id, {norm} AS norm FROM {table}) n0
    ),
    feats AS (
        SELECT doc_id,
               CAST({D.array_len(d, "w")} AS BIGINT) AS n_tokens,
               CAST({uniq} AS BIGINT) AS n_uniq,
               CAST({n_stop} AS BIGINT) AS n_stop,
               norm
        FROM toks
    ),
    scored AS (
        SELECT doc_id, n_tokens,
               {D.scaled_ratio(d, "n_uniq", "n_tokens")} AS uniq_x10k,
               {D.scaled_ratio(d, "n_stop", "n_tokens")} AS stop_x10k,
               {mean_wlen} AS mean_wlen_x100
        FROM feats
    )
    SELECT doc_id, n_tokens, uniq_x10k, stop_x10k, mean_wlen_x100,
           {reason} AS reason,
           CASE WHEN {reason} = 'ok' THEN 'keep' ELSE 'drop' END AS verdict
    FROM scored
    """.strip()


TEXT_OPS = {
    "text_token_stats": token_stats_sql,
    "text_quality": quality_sql,
    "text_langid": langid_sql,
    "text_fingerprint": fingerprint_sql,
    "text_boilerplate_strip": boilerplate_strip_sql,
    "text_pii_scrub": pii_scrub_sql,
    "text_sample_stratified": sample_stratified_sql,
    "text_pack_sequences": pack_sequences_sql,
    "text_dup_spans": dup_spans_sql,
    "text_gopher_repetition": gopher_repetition_sql,
    "text_filter_chain": filter_chain_sql,
}
