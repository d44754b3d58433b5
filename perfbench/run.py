#!/usr/bin/env python3
"""Extraction benchmark: one closed-loop client drives the public
tesseract_glue_spark API on ``local[nproc]``.

    python3 perfbench/run.py --workload ocr_bound --seed 1 --seconds 10 --trace 0

Run from the repository root. The last stdout line is one JSON object
``{"correct", "attempted", "failed", "metrics"}``: with ``--trace 0`` the
end-to-end metrics (``docs_per_s``, ``cpu_s_per_kdoc``, ``peak_rss_mb``,
``setup_s``), with ``--trace 1`` the per-layer metrics of a separate
traced run (see tracing.py). ``attempted``/``failed`` count documents, so
``failed / attempted`` is the failed-docs ratio. Lines before it give
quartiles, sample counts, steal and load of every sample.

All scratch (corpus cache, Spark local dirs, outputs, traces) lives in
``.perfbench_work/`` under the repository root.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if args.seed < 0:
        ap.error("--seed must be non-negative")
    return args


def start(args, ui: bool):
    """Session start plus the first (cold) job on the set-up docs:
    JVM launch, JIT, codegen, Python worker spawn, package ship."""
    import harness
    from workloads import Workload

    corpus_dir, meta = args.corpus
    with harness.NetClock() as clock:
        spark = harness.build_session(WORK, ui=ui)
        try:
            wl = Workload(spark, args.workload, corpus_dir, meta, WORK)
            wl.setup_job()
        except Exception:
            harness.stop_session(spark)
            raise
    return spark, wl, clock


def describe(name: str, values: list[float], unit: str) -> str:
    import harness

    q1, med, q3 = harness.quartiles(values)
    return f"{name}: median {med:.4f} {unit} (q1 {q1:.4f}, q3 {q3:.4f}, n={len(values)})"


def measure(args) -> dict:
    import harness

    spark, wl, setup = start(args, ui=bool(args.trace))
    try:
        # the first full job checks the outputs and starts the warm-up
        t0 = time.perf_counter()
        failed = wl.check()
        print(f"check job: {time.perf_counter() - t0:.3f} s", flush=True)
        warm = harness.warm_up(wl.job, wl.n_docs)
        print(f"warm-up walls: {', '.join(f'{w:.3f}' for w in warm)}", flush=True)
        if args.trace:
            import tracing

            metrics = tracing.traced_run(spark, wl, args, WORK)
            return {"metrics": metrics, "failed": failed, "attempted": wl.n_docs}
        samples, peak_mb = harness.timed_loop(wl.job, wl.n_docs, args.seconds)
    finally:
        wl.clean()
        harness.stop_session(spark)

    for s in samples:
        print(
            f"sample: wall {s['wall_s']:.3f} s, net {s['net_s']:.3f} s, {s['docs_per_s']:.1f} docs/s, "
            f"{s['cpu_s_per_kdoc']:.3f} cpu-s/kdoc, steal {s['steal_pct']:.1f}%, "
            f"load {s['load_1m']:.2f}"
        )
    dps = [s["docs_per_s"] for s in samples]
    cpu = [s["cpu_s_per_kdoc"] for s in samples]
    print(describe("docs_per_s", dps, "docs/s"))
    print(describe("cpu_s_per_kdoc", cpu, "s"))
    print(f"setup_s: {setup.net_s:.4f} s net, {setup.wall_s:.4f} s wall, steal "
          f"{100 * setup.steal:.1f}% (session start + cold job on the set-up docs)")
    print(f"peak_rss_mb: {peak_mb:.1f} MB over the timed window")
    metrics = {
        "docs_per_s": {"value": statistics.median(dps), "unit": "docs/s"},
        "cpu_s_per_kdoc": {"value": statistics.median(cpu), "unit": "s"},
        "peak_rss_mb": {"value": peak_mb, "unit": "MB"},
        "setup_s": {"value": setup.net_s, "unit": "s"},
    }
    return {"metrics": metrics, "failed": failed, "attempted": wl.n_docs}


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "tesseract_glue_spark")):
        print(f"perfbench: no tesseract_glue_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    import corpus
    import harness

    if args.workload not in corpus.SHAPES:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    harness.adopt_orphans()
    # SIGTERM unwinds like SIGINT, so the clean-up below runs on it too
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    try:
        return run(args)
    finally:
        harness.reap_descendants()


def run(args) -> int:
    import corpus
    import harness

    harness.point_scratch_at(WORK)
    t0 = time.perf_counter()
    args.corpus = corpus.ensure_corpus(WORK, args.workload, args.seed, harness.host_cores())
    print(f"corpus: {time.perf_counter() - t0:.2f} s", flush=True)

    print(f"workload {args.workload} seed {args.seed}: {json.dumps(args.corpus[1])}", flush=True)
    try:
        res = measure(args)
    except Exception:
        # a job that errors counts all its docs as failed
        traceback.print_exc()
        print(f"failed_docs_ratio: 1.000000 (job error, workload {args.workload})")
        print(f"perfbench: workload {args.workload} failed", file=sys.stderr)
        return 1
    print(f"failed_docs_ratio: {res['failed'] / res['attempted']:.6f} "
          f"({res['failed']} of {res['attempted']} docs, workload {args.workload})")
    if res["failed"]:
        print(f"perfbench: workload {args.workload} produced {res['failed']} wrong docs",
              file=sys.stderr)
    print(json.dumps({"correct": res["failed"] == 0, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": res["metrics"]}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
