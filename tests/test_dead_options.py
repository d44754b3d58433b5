"""Guard against dead options: every settable value of the package must
be read somewhere, or it is code the system does not need."""

import dataclasses
import pathlib
import re

from tesseract_glue_spark.config import ExtractionConfig

PKG = pathlib.Path(__file__).resolve().parent.parent / "tesseract_glue_spark"


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
