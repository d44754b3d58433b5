"""Guard against dead options and dead code: every settable value of the
package must be read somewhere, and every top-level function or class
named somewhere, or it is code the system does not need."""

import ast
import dataclasses
import pathlib
import re

from tesseract_glue_spark.config import ExtractionConfig

ROOT = pathlib.Path(__file__).resolve().parent.parent
PKG = ROOT / "tesseract_glue_spark"


def _sources(exclude: str = "") -> str:
    return "\n".join(
        p.read_text() for p in sorted(PKG.rglob("*.py")) if p.name != exclude
    )


def test_every_config_field_is_read():
    """Each ExtractionConfig field is read as ``.<name>`` outside the
    module that declares it."""
    src = _sources(exclude="config.py")
    unread = [
        f.name
        for f in dataclasses.fields(ExtractionConfig)
        if not re.search(rf"\.{f.name}\b", src)
    ]
    assert unread == [], f"ExtractionConfig fields nothing reads: {unread}"


def test_no_package_conf_keys():
    """Task sizing is decided in code (``extract.fan_out``), not by
    session confs of the package's own namespace."""
    keys = sorted(set(re.findall(r"spark\.tesseract_glue\.[\w.]+", _sources())))
    assert keys == [], f"package conf keys read: {keys}"


def test_every_package_function_is_referenced():
    """Each top-level ``def``/``class`` of the package is named (as a
    whole word) at least once outside its own definition, somewhere in
    the package, the tests, perfbench, the driver entry or the root-level
    bench scripts."""
    files = [
        *PKG.rglob("*.py"), *(ROOT / "tests").rglob("*.py"),
        *(ROOT / "perfbench").rglob("*.py"), ROOT / "__spark_entry__.py",
        *ROOT.glob("*bench*.py"),
    ]
    texts = {p: p.read_text() for p in files}
    unnamed = []
    for path in sorted(PKG.rglob("*.py")):
        lines = texts[path].splitlines(keepends=True)
        for node in ast.parse(texts[path]).body:
            if not isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                continue
            first = min([node.lineno] + [d.lineno for d in node.decorator_list])
            own = "".join(lines[: first - 1] + lines[node.end_lineno:])
            word = re.compile(rf"\b{re.escape(node.name)}\b")
            if not any(word.search(own if p == path else t) for p, t in texts.items()):
                unnamed.append(f"{path.relative_to(ROOT)}::{node.name}")
    assert unnamed == [], f"package functions nothing names: {unnamed}"
