"""The traced run: spans around every call the benchmark makes into a
layer, and the per-layer metrics derived from them.

Spans (name, start, end, parent, run id) are kept in memory and written
to ``.perfbench_work/traces/`` when the run ends. Layers are the
package's modules: ``imaging``, ``engine``, ``extract``
(operators/extract.py), ``web``, ``manifests`` (sources/manifests.py)
and ``shipping`` (sources/shipping.py).

* Single-thread probes time each imaging/engine/web kernel call on the
  workload's own pages and text spans, in this process.
* Stage probes time each ``extract`` stage over a checkpointed input,
  so one stage's time excludes its producers.
* Shuffle, spill and GC come from Spark's monitoring REST API for one
  traced job (the UI is on in traced runs only).
* Timed jobs alternate traced and untraced; the difference in their
  median docs/s is the tracing overhead.
"""

from __future__ import annotations

import contextlib
import json
import os
import statistics
import time
import urllib.request

import pyarrow.parquet as pq
from pyspark.sql import functions as F

from tesseract_glue_spark import get_engine
from tesseract_glue_spark.engine import StubBackend
from tesseract_glue_spark.imaging import kernels
from tesseract_glue_spark.imaging.codecs import decode_image
from tesseract_glue_spark.imaging.render import PAYLOAD_ROWS
from tesseract_glue_spark.operators import extract as X
from tesseract_glue_spark.operators.web import strip_text_spans, wrap_text_spans_html
from tesseract_glue_spark.sources import manifests
from tesseract_glue_spark.sources.shipping import build_pyfiles_zip
from tesseract_glue_spark.web.html_main import extract_main

import harness
from workloads import N_BUCKETS

MICRO_PAGES = 256   # pages per single-thread imaging/engine probe
MICRO_SPANS = 512   # wrapped text spans per extract_main probe
STAGE_REPS = 3      # repetitions of each stage probe (median reported)


class Tracer:
    """In-memory span recorder; ``span`` nests through a stack."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        rec = {"id": len(self.spans), "name": name, "run_id": self.run_id,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter(), "end": None, **attrs}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]

    def total(self, name: str) -> float:
        return sum(self.durations(name))

    def median(self, name: str) -> float:
        return statistics.median(self.durations(name))

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s) + "\n")


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


# ------------------------------------------------ single-thread probes

def micro_imaging(tr: Tracer, wl) -> dict:
    """Per-page cost of each imaging/engine call on the workload's own
    pages, in the order ``extract.ocr_one_page`` makes them."""
    table = pq.read_table(os.path.join(wl.corpus_dir, "pages"), columns=["media_ref", "image"])
    images = [bytes(b) for b in table.sort_by("media_ref").column("image").to_pylist()[:MICRO_PAGES]]
    cfg = wl.cfg
    engine = get_engine(cfg)
    for img in images:
        with tr.span("imaging.decode"):
            gray = kernels.to_grayscale(decode_image(img))
        body = gray[PAYLOAD_ROWS:]
        with tr.span("imaging.otsu"):
            ink, t = kernels.otsu_binarize_with_threshold(body)
        if ink.any():
            with tr.span("imaging.shear"):
                shear = kernels.estimate_shear(ink)
            if abs(shear) > 1e-3:
                with tr.span("imaging.deskew"):
                    body = kernels.deskew(body, shear)
                ink = body <= t
            with tr.span("imaging.xycut"):
                kernels.xy_cut(ink)
        with tr.span("engine.recognize"):
            engine.recognize(gray)
        with tr.span("extract.ocr_one_page"):
            X.ocr_one_page(engine, cfg, img)
    for _ in range(5):
        with tr.span("engine.init"):
            StubBackend(cfg)
    # mean per call; shear/deskew/xycut run only on pages with ink
    # (deskew only on sheared ones), as in ocr_one_page
    names = ("imaging.decode", "imaging.otsu", "imaging.shear", "imaging.deskew",
             "imaging.xycut", "engine.recognize", "extract.ocr_one_page")
    out = {f"{n}_us": (1e6 * tr.total(n) / len(tr.durations(n)), "us") for n in names}
    out["engine.init_ms"] = (1e3 * tr.median("engine.init"), "ms")
    return out


def micro_web(tr: Tracer, wl) -> dict:
    """Per-span ``extract_main`` cost on the workload's own text spans,
    wrapped exactly as the web job wraps them."""
    htmls = [
        r["text"]
        for r in X.explode_spans(wrap_text_spans_html(wl.setup_docs))
        .where(F.col("kind") == "text")
        .select("text")
        .limit(MICRO_SPANS)
        .collect()
    ]
    for h in htmls:
        with tr.span("web.extract_main"):
            extract_main(h)
    return {"web.extract_main_us": (1e6 * tr.total("web.extract_main") / len(htmls), "us")}


def micro_shipping(tr: Tracer, work: str) -> dict:
    dest = os.path.join(work, "tmp")
    for _ in range(3):
        with tr.span("shipping.build_pyfiles_zip"):
            build_pyfiles_zip(dest)
    return {"shipping.zip_s": (tr.median("shipping.build_pyfiles_zip"), "s")}


# -------------------------------------------------------- stage probes

def _timed_stage(tr: Tracer, name: str, make_df) -> float:
    """Median of STAGE_REPS runs after one untimed run (codegen of the
    stage's own plan)."""
    _noop(make_df())
    for _ in range(STAGE_REPS):
        with tr.span(name):
            _noop(make_df())
    return tr.median(name)


def stages(tr: Tracer, wl, job_s: float) -> dict:
    """Each extract stage over a checkpointed input; OCR partition
    metrics; the strip stage; the manifest sink over a checkpointed
    result."""
    cfg, cores = wl.cfg, harness.host_cores()
    docs = wl.input_docs(wl.docs)
    out: dict = {}
    explode_s = _timed_stage(tr, "extract.explode_spans", lambda: X.explode_spans(docs))
    spans = X.explode_spans(docs).localCheckpoint(eager=True)
    # the OCR stage's input is the media spans: its kind filter is not
    # charged the scan of the text spans
    media = spans.where(F.col("kind") == "media").localCheckpoint(eager=True)
    ocr_s = _timed_stage(tr, "extract.ocr_media", lambda: X.ocr_media(media, wl.pages, cfg))
    ocr = X.ocr_media(media, wl.pages, cfg).localCheckpoint(eager=True)
    parts = X.ocr_partition_metrics(ocr).collect()
    proc = [r["proc_us_total"] for r in parts]
    n_media = media.count()
    stitch_s = _timed_stage(tr, "extract.stitch", lambda: X.stitch(spans, ocr, cfg))
    stitched = X.stitch(spans, ocr, cfg).localCheckpoint(eager=True)
    reassemble_s = _timed_stage(tr, "extract.reassemble", lambda: X.reassemble(stitched, cfg))
    out.update({
        "extract.explode_s": (explode_s, "s"),
        "extract.ocr_stage_s": (ocr_s, "s"),
        "extract.ocr_stage_share": (ocr_s / job_s, "ratio"),
        "extract.ocr_tasks": (len(parts), "count"),
        "extract.ocr_kernel_share": (sum(proc) / (1e6 * ocr_s * cores), "ratio"),
        "_ocr_kernel_s": (sum(proc) / 1e6, "s"),
        "extract.ocr_partition_skew": (max(proc) / statistics.mean(proc), "ratio"),
        "extract.dedup_ratio": (sum(r["n_pages"] for r in parts) / n_media, "ratio"),
        "extract.stitch_s": (stitch_s, "s"),
        "extract.reassemble_s": (reassemble_s, "s"),
    })

    # strip stage: the workload's wrapped text spans (the set-up docs'
    # on workloads whose text is not HTML)
    text_docs = docs if wl.web else wrap_text_spans_html(wl.setup_docs)
    text = X.explode_spans(text_docs).where(F.col("kind") == "text").localCheckpoint(eager=True)
    out["web.strip_stage_s"] = (
        _timed_stage(tr, "web.strip_text_spans", lambda: strip_text_spans(text)), "s")

    result = wl.extract(wl.docs).localCheckpoint(eager=True)
    dest = wl.out_dir + "-trace"
    for _ in range(STAGE_REPS):
        with tr.span("manifests.write_extracted"):
            manifests.write_extracted(result, dest, n_buckets=N_BUCKETS)
    files = [os.path.join(d, f) for d, _, fs in os.walk(dest) for f in fs]
    out.update({
        "manifests.write_s": (tr.median("manifests.write_extracted"), "s"),
        "manifests.bytes_written_mb": (sum(os.path.getsize(f) for f in files) / 2**20, "MB"),
        "manifests.files_written": (len(files), "count"),
    })
    return out


# ------------------------------------------------------- REST metrics

def _get(url: str):
    with urllib.request.urlopen(url, timeout=10) as resp:
        return json.load(resp)


def rest_job_metrics(spark, group: str) -> dict:
    """Shuffle bytes, spill and GC of the jobs in ``group``, summed over
    their stages, from the monitoring REST API."""
    sc = spark.sparkContext
    base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"
    tracker = sc.statusTracker()
    stage_ids = [s for j in tracker.getJobIdsForGroup(group) for s in tracker.getJobInfo(j).stageIds]
    totals = {"w": 0, "r": 0, "spill": 0, "gc_ms": 0}
    deadline = time.monotonic() + 10
    for sid in stage_ids:
        while True:  # the status store lags the job by a listener-bus hop
            attempts = _get(f"{base}/stages/{sid}")
            if all(a["status"] in ("COMPLETE", "SKIPPED") for a in attempts) or time.monotonic() > deadline:
                break
            time.sleep(0.1)
        for a in attempts:
            totals["w"] += a.get("shuffleWriteBytes", 0)
            totals["r"] += a.get("shuffleReadBytes", 0)
            totals["spill"] += a.get("memoryBytesSpilled", 0) + a.get("diskBytesSpilled", 0)
            totals["gc_ms"] += a.get("jvmGcTime", 0)
    return {
        "extract.shuffle_write_mb": (totals["w"] / 2**20, "MB"),
        "extract.shuffle_read_mb": (totals["r"] / 2**20, "MB"),
        "extract.spill_mb": (totals["spill"] / 2**20, "MB"),
        "extract.gc_s": (totals["gc_ms"] / 1e3, "s"),
    }


# --------------------------------------------------------------- run

def _python_worker_cpu_s() -> float:
    """CPU of the JVM's descendants: the Python UDF workers."""
    jvms = [p for p in harness.tree_pids() if _comm(p) == "java"]
    return sum(harness.tree_cpu_s(harness.tree_pids(j)[1:]) for j in jvms)


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as fh:
            return fh.read().strip()
    except OSError:
        return ""


def traced_run(spark, wl, args, work: str) -> dict:
    """All per-layer metrics of one workload, after its warm-up."""
    tr = Tracer(f"{wl.name}-seed{args.seed}")
    sc = spark.sparkContext

    def traced_job():
        with tr.span("job", workload=wl.name):
            with tr.span("extract.plan"):
                out = wl.extract(wl.docs)
            with tr.span("sink"):
                wl.sink(out)

    # alternate traced / untraced jobs over the timed window
    traced, plain, py_cpu = [], [], []
    t_end = time.perf_counter() + args.seconds
    while len(traced) < 2 or time.perf_counter() < t_end:
        plain.append(harness.run_sample(wl.job, wl.n_docs))
        c0 = _python_worker_cpu_s()
        traced.append(harness.run_sample(traced_job, wl.n_docs))
        py_cpu.append(_python_worker_cpu_s() - c0)
    sc.setJobGroup("perfbench-rest", "one job for the REST metrics")
    wl.job()
    sc.setLocalProperty("spark.jobGroup.id", None)
    job_s = statistics.median(s["wall_s"] for s in traced + plain)
    dps_traced = statistics.median(s["docs_per_s"] for s in traced)
    dps_plain = statistics.median(s["docs_per_s"] for s in plain)

    metrics: dict = {
        "extract.job_s": (job_s, "s"),
        "extract.python_worker_cpu_s": (statistics.median(py_cpu), "s"),
        "trace.docs_per_s_traced": (dps_traced, "docs/s"),
        "trace.overhead_docs_per_s": (dps_traced - dps_plain, "docs/s"),
    }
    metrics.update(rest_job_metrics(spark, "perfbench-rest"))
    metrics.update(micro_shipping(tr, work))
    metrics.update(micro_imaging(tr, wl))
    metrics.update(micro_web(tr, wl))
    metrics.update(stages(tr, wl, job_s))
    # DOM-strip share of the fused strip+OCR kernel's CPU: the strip half
    # from the single-thread probe, the OCR half as the OCR kernel's own
    # in-worker sum (proc_us); 0 where the job strips no HTML
    strip_s = metrics["web.extract_main_us"][0] * (wl.meta["n_text_spans"] if wl.web else 0) / 1e6
    metrics["web.strip_kernel_share"] = (strip_s / (strip_s + metrics.pop("_ocr_kernel_s")[0]), "ratio")
    tr.dump(os.path.join(work, "traces", f"{tr.run_id}.jsonl"))
    for k, (v, unit) in sorted(metrics.items()):
        print(f"{k}: {v:.6g} {unit}")
    return {k: {"value": v, "unit": unit} for k, (v, unit) in metrics.items()}
