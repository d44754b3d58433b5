"""Ship the package to executor Python workers (--py-files analogue).

The north_rule requires spark-submit --py-files packaging on a real
cluster. For driver-embedded use (tests, the round driver, notebooks)
we self-ship: zip the package once per session and ``addPyFile`` it, so
UDF closures that reference package modules unpickle on workers no
matter the driver's cwd. Mirrors the reference's asset-staging
discipline (atomic tmp→rename, ``languages.py:206-207``).

On the worker side, :func:`guard_zip_reloads` keeps each task from
re-reading the unchanged zips on the worker's path (set-up paid once
per worker, like the engine cache).
"""

from __future__ import annotations

import functools
import os
import sys
import tempfile
import zipfile
import zipimport

from pyspark.sql import SparkSession

_SHIPPED_ATTR = "_tesseract_glue_spark_shipped"


def build_pyfiles_zip(dest_dir: str | None = None) -> str:
    """Zip the installed package (py files only) for --py-files /
    addPyFile. Deterministic content; atomic replace."""
    import tesseract_glue_spark

    pkg_dir = os.path.dirname(os.path.abspath(tesseract_glue_spark.__file__))
    root = os.path.dirname(pkg_dir)
    # already running FROM a zip (spark-submit --py-files): that zip IS
    # the artifact — walking a zip-internal path yields nothing, and
    # rebuilding would clobber the live archive with an empty one
    zip_root = root
    while zip_root and not zip_root.lower().endswith(".zip"):
        parent = os.path.dirname(zip_root)
        if parent == zip_root:
            zip_root = ""
            break
        zip_root = parent
    if zip_root:
        return zip_root
    dest_dir = dest_dir or tempfile.gettempdir()
    dest = os.path.join(dest_dir, "tesseract_glue_spark_pyfiles.zip")
    fd, tmp = tempfile.mkstemp(dir=dest_dir, suffix=".zip.tmp")
    os.close(fd)
    try:
        n_files = 0
        with zipfile.ZipFile(tmp, "w", zipfile.ZIP_DEFLATED) as zf:
            for dirpath, _dirnames, filenames in os.walk(pkg_dir):
                for fn in sorted(filenames):
                    if not fn.endswith(".py"):
                        continue
                    full = os.path.join(dirpath, fn)
                    zf.write(full, os.path.relpath(full, root))
                    n_files += 1
        if n_files == 0:
            raise RuntimeError(f"refusing to ship an empty package zip from {pkg_dir}")
        os.replace(tmp, dest)
    except BaseException:
        if os.path.exists(tmp):
            os.unlink(tmp)
        raise
    return dest


def ensure_shipped(spark: SparkSession) -> None:
    """Idempotently add the package zip to this session's worker path.

    No-op if the package is already importable via a cluster-wide
    install or an explicit ``spark-submit --py-files``.
    """
    sc = spark.sparkContext
    if getattr(sc, _SHIPPED_ATTR, False):
        return
    try:
        sc.addPyFile(build_pyfiles_zip())
    except Exception:
        # a zip of the same name was already registered — the usual
        # cause is an explicit `spark-submit --py-files <zip>`, which
        # means workers already have the package; if not, the job fails
        # loudly at first UDF execution instead
        pass
    setattr(sc, _SHIPPED_ATTR, True)


_ZIP_STAT_ATTR = "_tesseract_glue_spark_stat"


def _zip_stat(archive: str) -> tuple[int, int, int]:
    st = os.stat(archive)
    return (st.st_mtime_ns, st.st_size, st.st_ino)


def guard_zip_reloads() -> None:
    """Make ``importlib.invalidate_caches()`` re-read a zip archive on
    ``sys.path`` only when the archive changed. Idempotent; call it
    from inside a Python worker task, never on the driver.

    Spark's worker calls ``importlib.invalidate_caches()`` at the start
    of every task (``pyspark/worker_util.py::setup_spark_files``). On
    CPython 3.11 each zipimporter then re-reads its archive's whole
    central directory: 21 importers in a local-mode worker
    (``pyspark.zip`` and its sub-packages, the py4j zip, the
    spark-core jar, the shipped package zip), 204 ms per task.
    CPython 3.13 drops the cached directory instead and reads it only
    on the next lookup. Here an importer re-reads only when its
    archive's ``(st_mtime_ns, st_size, st_ino)`` differs from when that
    importer last read it; a failing ``stat`` falls through to the
    original method. The importers already on the path are stamped
    with their archives' current state: inside a task, the worker read
    every one of them moments ago. Importers made later are stamped
    on their first re-read."""
    cls = zipimport.zipimporter
    reload = cls.invalidate_caches
    if hasattr(reload, "__wrapped__"):
        return

    @functools.wraps(reload)
    def invalidate_caches(self):
        try:
            stat = _zip_stat(self.archive)
        except OSError:
            self.__dict__.pop(_ZIP_STAT_ATTR, None)
            return reload(self)
        # stat before reading: an archive rewritten in between reads
        # as changed next time, never as unchanged
        if getattr(self, _ZIP_STAT_ATTR, None) != stat:
            reload(self)
            setattr(self, _ZIP_STAT_ATTR, stat)

    for finder in list(sys.path_importer_cache.values()):
        if isinstance(finder, cls):
            try:
                setattr(finder, _ZIP_STAT_ATTR, _zip_stat(finder.archive))
            except OSError:
                pass
    cls.invalidate_caches = invalidate_caches


if __name__ == "__main__":
    # `python -m tesseract_glue_spark.sources.shipping [dest_dir]` →
    # prints the zip path for `spark-submit --py-files <zip>`
    print(build_pyfiles_zip(sys.argv[1] if len(sys.argv) > 1 else None))
