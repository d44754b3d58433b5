"""Seeded corpus generator with an on-disk cache.

Writes each workload's inputs as parquet — a docs table
``(doc_id, spans)`` and a pages table rendered with
``imaging.render.render_page`` — plus the expected per-document output
digests, computed here from the generator's own truth
(``render.truth_text``, ``is_blank``, ``is_dangling``) and never from
the pipeline. The pipeline only ever sees the two parquet tables.

The cache is keyed by (workload, seed, size, generator version), so
repeated runs on one seed skip rendering; it lives under the work
directory, outside the timed window and outside ``setup_s``.
"""

from __future__ import annotations

import gc
import hashlib
import json
import multiprocessing
import os
from multiprocessing import resource_tracker
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from tesseract_glue_spark.imaging import render

GENERATOR_VERSION = 3
DOC_FILES = 8  # docs parquet files: the scan splits into this many tasks
SETUP_DOCS = 32  # docs in the cold set-up job's input

SPAN_TYPE = pa.struct(
    [
        pa.field("kind", pa.string()),
        pa.field("text", pa.string()),
        pa.field("media_ref", pa.string()),
        pa.field("offset", pa.int32()),
    ]
)
DOCS_SCHEMA = pa.schema([pa.field("doc_id", pa.int64()), pa.field("spans", pa.list_(SPAN_TYPE))])
PAGES_SCHEMA = pa.schema(
    [
        pa.field("media_ref", pa.string()),
        pa.field("image", pa.binary()),
        pa.field("width", pa.int32()),
        pa.field("height", pa.int32()),
    ]
)

# Workload shapes. ``n_docs`` is the size part of the cache key.
SHAPES = {
    # every media ref distinct, ~4 pages per doc (9 spans): OCR-kernel bound
    "ocr_bound": {"n_docs": 800, "pages": (3, 5), "text_per_page": 1},
    # ~40 spans per doc over a small shared page pool, plus heavy-tail docs
    "span_shuffle": {"n_docs": 40000, "spans": (30, 50), "pool": 256, "media_share": 0.1,
                     "words": (2, 5), "heavy_docs": 2, "heavy_spans": 50000},
    # HTML text spans (24 per page) around distinct pages; parquet sink
    "web_write": {"n_docs": 300, "pages": (1, 3), "text_per_page": 24},
}

_WORDS = (
    "alpha beta gamma delta epsilon zeta theta kappa lambda sigma omega "
    "river stone cloud field light paper ink press folio scan glyph leaf "
    "north south east west index table chart plate map"
).split()


def _chunks(rng: np.random.Generator, words: tuple[int, int], n: int = 2048) -> list[str]:
    """A seeded vocabulary of text chunks of ``words`` (lo, hi) plain-ASCII
    words, single-spaced, so the main content of a wrapped chunk is the
    chunk itself."""
    sizes = rng.integers(words[0], words[1] + 1, size=n)
    return [" ".join(_WORDS[i] for i in rng.integers(0, len(_WORDS), size=k)) for k in sizes]


def _text(t: str, o: int) -> dict:
    return {"kind": "text", "text": t, "media_ref": "", "offset": o}


def _media(n: int, o: int) -> dict:
    return {"kind": "media", "text": "", "media_ref": render.num_to_ref(n), "offset": o}


def _rngs(workload: str, seed: int, part: int) -> tuple[np.random.Generator, np.random.Generator]:
    """(workload-wide rng, rng of one docs part); parts draw independently,
    so a part's docs do not depend on how many processes generate them."""
    key = [seed, sorted(SHAPES).index(workload)]
    return np.random.default_rng(key), np.random.default_rng(key + [part])


def generate_part(workload: str, seed: int, part: int) -> list[tuple[int, list[dict]]]:
    """Docs ``part``, ``part + DOC_FILES``, ... of the docs table as
    Python rows, deterministic in (workload, seed, part)."""
    shape = SHAPES[workload]
    common, rng = _rngs(workload, seed, part)
    vocab = _chunks(common, shape.get("words", (2, 5)))
    # media ids start at a seed-dependent base; blank (n % 7) and
    # dangling (n % 13) pages occur at their natural rates
    base = 1 + int(common.integers(0, 10**6)) * 1000
    ids = range(part, shape["n_docs"], DOC_FILES)
    docs = []
    if workload == "span_shuffle":
        heavy = set(common.choice(shape["n_docs"], size=shape["heavy_docs"], replace=False).tolist())
        pool = base + np.arange(shape["pool"])
        lo, hi = shape["spans"]
        for d, n in zip(ids, rng.integers(lo, hi + 1, size=len(ids)).tolist()):
            n = shape["heavy_spans"] if d in heavy else n
            is_media = (rng.random(n) < shape["media_share"]).tolist()
            refs = rng.choice(pool, size=n).tolist()
            words = rng.integers(0, len(vocab), size=n).tolist()
            docs.append((d, [_media(refs[o], o) if is_media[o] else _text(vocab[words[o]], o)
                             for o in range(n)]))
        return docs
    # text* media text* media ... text*: ``text_per_page`` text spans
    # before each page and after the last; every page id distinct
    lo, hi = shape["pages"]
    per = shape["text_per_page"]
    for d, n_pages in zip(ids, rng.integers(lo, hi + 1, size=len(ids)).tolist()):
        words = rng.integers(0, len(vocab), size=per * (n_pages + 1)).tolist()
        spans: list[dict] = []
        for p in range(n_pages + 1):
            for w in words[p * per : (p + 1) * per]:
                spans.append(_text(vocab[w], len(spans)))
            if p < n_pages:
                spans.append(_media(base + d * hi + p, len(spans)))
        docs.append((d, spans))
    return docs


def expected_doc(spans: list[dict]) -> dict:
    """Expected extraction output for one doc, from the render truth:
    media text is ``truth_text`` ('' for blank and dangling pages),
    text spans pass through (a wrapped HTML chunk strips back to the
    chunk), ``status`` is 'partial' iff some page is dangling."""
    out, pages, empty, dangling = [], 0, 0, False
    for s in spans:
        if s["kind"] == "media":
            n = render.ref_to_num(s["media_ref"])
            if render.is_dangling(n):
                dangling = True
                text = ""
            else:
                pages += 1
                empty += render.is_blank(n)
                text = render.truth_text(n)
            out.append({"kind": "media", "text": text, "media_ref": s["media_ref"], "offset": s["offset"]})
        else:
            out.append(dict(s))
    return {"spans": out, "ocr_pages": pages, "ocr_empty_pages": empty,
            "status": "partial" if dangling else "ok"}


def doc_digest(doc: dict) -> str:
    """sha256 of the compact JSON of one output doc — the same bytes
    Spark's ``to_json`` gives for plain-ASCII text (see DIGEST_SQL)."""
    return hashlib.sha256(json.dumps(doc, separators=(",", ":")).encode()).hexdigest()


# Spark SQL expression with the same digest over an extracted frame.
DIGEST_SQL = "sha2(to_json(struct(spans, ocr_pages, ocr_empty_pages, status)), 256)"


def _docs_table(docs: list[tuple[int, list[dict]]]) -> pa.Table:
    return pa.table({"doc_id": [d for d, _ in docs], "spans": [s for _, s in docs]}, schema=DOCS_SCHEMA)


def _build_part(job: tuple[str, str, int, int]) -> dict:
    """Worker: generate one docs part, write it as parquet and return its
    expected digests, media refs, span counts and set-up candidates."""
    out, workload, seed, part = job
    docs = generate_part(workload, seed, part)
    pq.write_table(_docs_table(docs), os.path.join(out, "docs", f"part-{part:05d}.parquet"))
    media = [s["media_ref"] for _, spans in docs for s in spans if s["kind"] == "media"]
    return {
        "expected": {str(d): doc_digest(expected_doc(spans)) for d, spans in docs},
        "refs": sorted(set(media)),
        "n_spans": sum(len(spans) for _, spans in docs),
        "n_media": len(media),
        # the cold set-up job's input: ordinary docs, outside the heavy tail
        "setup": [doc for doc in docs if len(doc[1]) <= 1000][:SETUP_DOCS] if part == 0 else [],
    }


def _render_many(ns: list[int]) -> list[tuple[str, bytes, int, int]]:
    return [(render.num_to_ref(n), *render.render_page(n)[:3]) for n in ns]


def _generate(tmp: str, workload: str, seed: int, procs: int) -> tuple[list[dict], list[str], list]:
    """Docs parts, distinct media refs and rendered page rows, built by a
    pool of ``procs`` processes that have all ended when this returns."""
    with multiprocessing.get_context("spawn").Pool(procs) as pool:
        parts = pool.map(_build_part, [(tmp, workload, seed, i) for i in range(DOC_FILES)])
        refs = sorted({r for part in parts for r in part["refs"]})
        ns = [n for n in map(render.ref_to_num, refs) if not render.is_dangling(n)]
        rows = [row for chunk in pool.map(_render_many, [ns[i::procs] for i in range(procs)])
                for row in chunk]
    return parts, refs, rows


def corpus_dir(work: str, workload: str, seed: int) -> str:
    tag = f"{workload}-seed{seed}-n{SHAPES[workload]['n_docs']}-v{GENERATOR_VERSION}"
    return os.path.join(work, "corpus", tag)


def ensure_corpus(work: str, workload: str, seed: int, procs: int) -> tuple[str, dict]:
    """Build (or reuse) the cached corpus with ``procs`` worker processes;
    returns (dir, meta)."""
    out = corpus_dir(work, workload, seed)
    meta_path = os.path.join(out, "meta.json")
    if os.path.exists(meta_path):
        with open(meta_path) as fh:
            return out, json.load(fh)
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    for d in ("docs", "pages", "setup"):
        os.makedirs(os.path.join(tmp, d))

    parts, refs, rows = _generate(tmp, workload, seed, procs)
    # the spawn pool's locks started multiprocessing's resource tracker,
    # which would outlive the benchmark and ignores SIGTERM: once the
    # locks are freed, stop it and wait for it
    gc.collect()
    resource_tracker._resource_tracker._stop()

    pq.write_table(_docs_table(parts[0]["setup"]), os.path.join(tmp, "setup", "part-00000.parquet"))
    for i in range(DOC_FILES):
        part = rows[i::DOC_FILES]
        table = pa.table(
            {
                "media_ref": [r[0] for r in part],
                "image": [r[1] for r in part],
                "width": [r[2] for r in part],
                "height": [r[3] for r in part],
            },
            schema=PAGES_SCHEMA,
        )
        pq.write_table(table, os.path.join(tmp, "pages", f"part-{i:05d}.parquet"))

    expected = {k: v for part in parts for k, v in part["expected"].items()}
    with open(os.path.join(tmp, "expected.json"), "w") as fh:
        json.dump(expected, fh)
    n_spans = sum(part["n_spans"] for part in parts)
    n_media = sum(part["n_media"] for part in parts)
    meta = {
        "workload": workload,
        "seed": seed,
        "n_docs": len(expected),
        "n_spans": n_spans,
        "n_media_spans": n_media,
        "n_text_spans": n_spans - n_media,
        "n_distinct_refs": len(refs),
        "n_pages": len(rows),
    }
    with open(os.path.join(tmp, "meta.json"), "w") as fh:
        json.dump(meta, fh)
    shutil.rmtree(out, ignore_errors=True)
    os.replace(tmp, out)
    return out, meta


def load_expected(corpus: str) -> dict[int, str]:
    with open(os.path.join(corpus, "expected.json")) as fh:
        return {int(k): v for k, v in json.load(fh).items()}
