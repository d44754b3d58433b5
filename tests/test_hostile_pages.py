"""Degrade, don't die: generated hostile pages through ``extract_documents``.

Each example is one Spark job over a doc that references only a good
page and one doc per hostile page (next to the same good page), with
one page of each kind drawn anew per example. Local mode runs each
task once, so a task failure fails the job: the job completing with
every doc present, the clean doc ``ok`` and every hostile doc
``partial`` is the whole contract.
"""

from hypothesis import given, settings
from hypothesis import strategies as st

from tesseract_glue_spark.config import ExtractionConfig
from tesseract_glue_spark.imaging.codecs import MAX_PIXELS
from tesseract_glue_spark.imaging.jp2 import JP2_SIG, encode_jp2_skeleton
from tesseract_glue_spark.imaging.png import decode_png
from tesseract_glue_spark.imaging.render import num_to_ref, render_page
from tesseract_glue_spark.imaging.tiff import TIFF_SIG_BE, TIFF_SIG_LE, encode_tiff
from tests.conftest import streamed_png, strip_bomb_tiff

_GOOD_N = 1
_GOOD_PNG = render_page(_GOOD_N)[0]


def _good_tiff(big_endian: bool, rows_per_strip: int) -> bytes:
    return encode_tiff(
        decode_png(_GOOD_PNG), big_endian=big_endian, rows_per_strip=rows_per_strip
    )


# each strategy draws the bytes of one page no codec may accept
_truncated_png = st.floats(0, 0.999).map(
    # cut inside the IDAT body: a cut past it (into the CRC or IEND)
    # leaves a page that still decodes
    lambda f: _GOOD_PNG[: int(f * (len(_GOOD_PNG) - 16))]
)
_truncated_tiff = st.builds(
    lambda big_endian, rps, f: (lambda t: t[: int(f * (len(t) - 1))])(_good_tiff(big_endian, rps)),
    st.booleans(), st.integers(1, 200), st.floats(0, 0.999),
)
_over_cap_png = st.integers(10_000, 60_000).map(
    lambda w: streamed_png(w, MAX_PIXELS // w + 1, [b"\x00" + b"\xff" * 64])
)
_over_cap_tiff = st.integers(10_000, 60_000).map(
    lambda w: strip_bomb_tiff(w, MAX_PIXELS // w + 1, b"\xff" * 65_536)
)
# under the cap: a few KB that fill a page of millions of pixels from
# one shared strip; it decodes, carries no payload and fails recognition
_strip_bomb_tiff = st.sampled_from([(2048, 2048), (4096, 2048)]).map(
    lambda wh: strip_bomb_tiff(wh[0], wh[1], b"\xff" * 65_536)
)
_mislabelled = st.sampled_from(
    [
        TIFF_SIG_LE + _GOOD_PNG[4:],
        TIFF_SIG_BE + _GOOD_PNG[4:],
        _GOOD_PNG[:8] + _good_tiff(False, 40)[8:],
        JP2_SIG + _GOOD_PNG[12:],
        b"GIF8" + _GOOD_PNG[4:],
    ]
)
_jp2_skeleton = st.builds(
    encode_jp2_skeleton, st.integers(1, 20_000), st.integers(1, 20_000), st.sampled_from([1, 3])
)

# one page of every kind per example, so each job covers them all
HOSTILE_PAGES = st.tuples(
    _truncated_png, _truncated_tiff, _over_cap_png, _over_cap_tiff,
    _strip_bomb_tiff, _mislabelled, _jp2_skeleton,
)


@settings(max_examples=5, derandomize=True, deadline=None)
@given(hostile=HOSTILE_PAGES)
def test_hostile_pages_degrade_to_partial_docs(spark, hostile):
    from tesseract_glue_spark.fixtures import DOCUMENTS_SCHEMA, PAGES_SCHEMA
    from tesseract_glue_spark.operators.extract import extract_documents

    good = num_to_ref(_GOOD_N)
    docs = [(1, [("text", "clean", "", 0), ("media", "", good, 1)])] + [
        (100 + i, [("media", "", good, 0), ("text", "t", "", 1), ("media", "", f"hostile_{i}", 2)])
        for i in range(len(hostile))
    ]
    pages = [(good, _GOOD_PNG, 0, 0, "")] + [
        (f"hostile_{i}", page, 0, 0, "") for i, page in enumerate(hostile)
    ]
    out = extract_documents(
        spark.createDataFrame(docs, schema=DOCUMENTS_SCHEMA),
        spark.createDataFrame(pages, schema=PAGES_SCHEMA),
        ExtractionConfig(),
    ).collect()
    assert {r["doc_id"]: r["status"] for r in out} == {
        1: "ok", **{100 + i: "partial" for i in range(len(hostile))}
    }
