"""Host-sized Spark session, process-tree accounting and the timed loop.

* Session: ``local[nproc]``, driver heap sized from RAM, shuffle
  partitions from cores, console progress off, UI off unless the run
  needs the monitoring REST API (traced runs only). Every scratch path
  Spark, the JVM and the Python workers use is under the work dir.
* Process tree: user+sys CPU and RSS of this process and every
  descendant (the driver JVM and its Python workers), read from /proc.
* Samples: each timed job records its wall, tree CPU, /proc/stat steal
  share and 1-minute load, so a noisy window labels itself. Throughput
  and set-up time use the wall net of steal (``NetClock``).
* Clean exit: the benchmark adopts orphaned descendants
  (``adopt_orphans``) and stops and reaps every one of them before it
  exits (``reap_descendants``), so no process outlives a run.
"""

from __future__ import annotations

import contextlib
import ctypes
import os
import signal
import statistics
import subprocess
import threading
import time

CLK_TCK = os.sysconf("SC_CLK_TCK")
PAGE_BYTES = os.sysconf("SC_PAGE_SIZE")
PR_SET_CHILD_SUBREAPER = 36


def host_cores() -> int:
    return len(os.sched_getaffinity(0))


def host_mem_mb() -> int:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def heap_mb() -> int:
    """Driver heap: an eighth of RAM, within [1, 4] GiB — the machine is
    shared, and the Python workers need room beside the JVM."""
    return max(1024, min(4096, host_mem_mb() // 8))


def point_scratch_at(work: str) -> dict:
    """Route every temp/scratch dir into ``work``; returns the Spark conf
    entries that do the same for the JVM. Call before pyspark starts a
    JVM (the env is inherited by the JVM and its Python workers)."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    # every JVM (the launcher too) would otherwise write /tmp/hsperfdata_*
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    java_tmp = f"-Djava.io.tmpdir={tmp}"
    return {
        "spark.local.dir": local,
        # a fixed, pre-touched heap: peak RSS then moves with off-heap and
        # Python worker memory, not with when the collector grew the heap
        "spark.driver.extraJavaOptions": f"{java_tmp} -Xms{heap_mb()}m -XX:+AlwaysPreTouch",
        "spark.executor.extraJavaOptions": java_tmp,
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }


def build_session(work: str, ui: bool):
    from pyspark.sql import SparkSession

    cores = host_cores()
    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName("perfbench")
        .config("spark.driver.memory", f"{heap_mb()}m")
        .config("spark.sql.shuffle.partitions", str(2 * cores))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "256")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.ui.enabled", "true" if ui else "false")
        .config("spark.ui.port", "0")
    )
    for k, v in point_scratch_at(work).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark, timeout_s: float = 60.0) -> None:
    """Stop Spark, close the JVM's stdin (it exits on EOF) and wait until
    the JVM and every Python worker it spawned have ended."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = gateway.proc
    workers = tree_pids(proc.pid)[1:]  # Python daemon and workers
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    proc.stdin.close()
    try:
        proc.wait(timeout=timeout_s)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    deadline = time.monotonic() + timeout_s
    while any(map(_alive, workers)):
        if time.monotonic() > deadline:
            for p in workers:
                with contextlib.suppress(OSError):
                    os.kill(p, signal.SIGKILL)
            break
        time.sleep(0.05)


def adopt_orphans() -> None:
    """Make this process the child subreaper: a descendant whose parent
    exits first (a multiprocessing helper, a Python worker of a stopped
    JVM) is reparented here instead of to init, where
    ``reap_descendants`` still finds it."""
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER) failed")


def reap_descendants(grace_s: float = 10.0) -> None:
    """Stop every process this one started and wait until each has ended
    and been reaped: SIGTERM, then SIGKILL for those still there after
    ``grace_s``. A zombie still counts: the JVM's main thread shows as a
    zombie while its other threads are still exiting, and only a reaped
    process is gone from /proc."""
    t0 = time.monotonic()
    signalled: set[int] = set()
    while True:
        with contextlib.suppress(ChildProcessError):
            while os.waitpid(-1, os.WNOHANG)[0] > 0:
                pass
        left = tree_pids()[1:]
        if not left:
            return
        waited = time.monotonic() - t0
        if waited > 3 * grace_s:
            raise RuntimeError(f"processes {left} did not end after SIGKILL")
        kill = waited > grace_s
        for p in left:
            if kill or p not in signalled:
                with contextlib.suppress(OSError):
                    os.kill(p, signal.SIGKILL if kill else signal.SIGTERM)
                signalled.add(p)
        time.sleep(0.05)


# ---------------------------------------------------------------- /proc

def _read_stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    # comm may hold spaces: fields resume after the last ')'
    return raw[raw.rindex(")") + 2 :].split()


def _alive(pid: int) -> bool:
    st = _read_stat(pid)
    return st is not None and st[0] != "Z"


def tree_pids(root: int | None = None) -> list[int]:
    """``root`` (default: this process) and all its live descendants."""
    root = root or os.getpid()
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _read_stat(int(name))
            if st is not None:
                children.setdefault(int(st[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s(pids: list[int] | None = None) -> float:
    """user+sys CPU seconds of the tree, including reaped children
    (cutime/cstime), so exited Python workers still count."""
    ticks = 0
    for pid in tree_pids() if pids is None else pids:
        st = _read_stat(pid)
        if st is not None:
            ticks += sum(int(v) for v in st[11:15])  # utime stime cutime cstime
    return ticks / CLK_TCK


def tree_rss_mb(pids: list[int] | None = None) -> float:
    total = 0
    for pid in tree_pids() if pids is None else pids:
        try:
            with open(f"/proc/{pid}/statm") as fh:
                total += int(fh.read().split()[1])
        except (OSError, IndexError, ValueError):
            continue
    return total * PAGE_BYTES / 2**20


def steal_ticks() -> tuple[int, int]:
    """(steal, total) ticks from the aggregate cpu line of /proc/stat."""
    with open("/proc/stat") as fh:
        vals = [int(v) for v in fh.readline().split()[1:]]
    return (vals[7] if len(vals) > 7 else 0), sum(vals)


class RssSampler:
    """Background poll of the tree's RSS; ``peak_mb`` is the maximum seen
    while running."""

    def __init__(self, interval_s: float = 0.1, refresh_every: int = 10):
        self.interval_s = interval_s
        self.refresh_every = refresh_every  # polls between /proc rescans
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        polls = 0
        while not self._stop.is_set():
            if polls % self.refresh_every == 0:
                pids = tree_pids()
            self.peak_mb = max(self.peak_mb, tree_rss_mb(pids))
            polls += 1
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


# -------------------------------------------------------------- samples

class NetClock:
    """Wall time of a block and the same net of hypervisor steal,
    ``net_s = wall_s * (1 - steal share of the host's CPUs)``. On a shared
    VM a neighbour's burst takes CPU from every thread of a job; the net
    time keeps that out of the program's figures. On an unshared host the
    two are equal."""

    def __enter__(self) -> "NetClock":
        self._steal0 = steal_ticks()
        self._t0 = time.perf_counter()
        return self

    def __exit__(self, *exc) -> None:
        self.wall_s = time.perf_counter() - self._t0
        steal, total = (b - a for a, b in zip(self._steal0, steal_ticks()))
        self.steal = steal / total if total > 0 else 0.0
        self.net_s = self.wall_s * (1.0 - self.steal)


def run_sample(job, n_docs: int) -> dict:
    """Run one job; wall and net wall, tree CPU per 1000 docs, steal and
    load."""
    c0 = tree_cpu_s()
    with NetClock() as clock:
        job()
    c1 = tree_cpu_s()
    return {
        "wall_s": clock.wall_s,
        "net_s": clock.net_s,
        "docs_per_s": n_docs / clock.net_s,
        "cpu_s_per_kdoc": (c1 - c0) * 1000.0 / n_docs,
        "steal_pct": 100.0 * clock.steal,
        "load_1m": os.getloadavg()[0],
    }


def warm_up(job, n_docs: int, tolerance: float = 0.10, min_jobs: int = 2,
            max_jobs: int = 6, max_s: float = 6.0) -> list[float]:
    """Untimed jobs until two consecutive net walls agree within
    ``tolerance`` (JIT and worker reuse settle over several jobs, not
    one). Bounded by ``max_jobs`` and ``max_s``."""
    walls: list[float] = []
    t_end = time.perf_counter() + max_s
    while len(walls) < max_jobs:
        walls.append(run_sample(job, n_docs)["net_s"])
        if len(walls) >= min_jobs:
            a, b = walls[-2], walls[-1]
            if abs(a - b) <= tolerance * min(a, b) or time.perf_counter() > t_end:
                break
    return walls


def timed_loop(job, n_docs: int, seconds: float, min_samples: int = 2) -> tuple[list[dict], float]:
    """Back-to-back jobs for ``seconds`` (at least ``min_samples``);
    returns the samples and the tree's peak RSS over the window."""
    samples: list[dict] = []
    with RssSampler() as rss:
        t_end = time.perf_counter() + seconds
        while len(samples) < min_samples or time.perf_counter() < t_end:
            samples.append(run_sample(job, n_docs))
    return samples, rss.peak_mb


def quartiles(values: list[float]) -> tuple[float, float, float]:
    """(q1, median, q3); a single value repeats."""
    if len(values) < 2:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, statistics.median(values), q3
