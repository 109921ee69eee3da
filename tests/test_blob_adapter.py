"""Errors-as-data through the blob adapter, for every decoder.

Each public decoder in operators/multimodal.py is one per-blob function
plus a DDL schema handed to ``_blob_udf``. This drives every per-blob
function through the adapter's pandas batch generator — no Spark session
— with the three inputs a media lake actually serves: a null payload, an
empty payload and a valid payload cut short. Each must give the format's
documented result (an ok=False row with null stats, no rows for fan-out
formats, kind='unknown' for the dispatcher, the stub's formula for stub
codecs) and none may raise.
"""

from __future__ import annotations

import ast
import inspect
from functools import lru_cache

import pandas as pd
import pytest

from ntd_gtfs_to_socrata_spark.operators import multimodal as MM

DOC = 7


def _columns(schema: str) -> list[str]:
    return [field.split()[0] for field in schema.split(",")]


def _ok_false(schema: str):
    """One row: the doc id, every stat null, ok=False."""
    n_stats = len(_columns(schema)) - 2
    return lambda blob: [(DOC, *[None] * n_stats, False)]


def _no_rows(blob: bytes) -> list:
    return []


def _n_windows(blob: bytes) -> int:
    return -(-len(blob) // 100)


@lru_cache(maxsize=1)
def _blobs() -> dict:
    from tests.test_parser_fuzz import _valid_blobs

    return _valid_blobs()


# public decoder -> (per-blob function, schema, valid blob kind, cut, expected rows)
# ``cut`` turns the valid blob into the "cut short" input; ``expected``
# maps the (normalised) input bytes to the rows the decoder must emit.
FORMATS = {
    "decode_media": (
        MM._fake_decode,
        MM.DECODE_SCHEMA,
        "wav",
        lambda b: b[: len(b) // 2],
        lambda b: [
            (DOC, len(b), "jpeg" if len(b) % 2 else "png", len(b) % 640 + 1, 1, True)
        ],
    ),
    "audio_window_stats": (
        MM._audio_windows,
        MM.AUDIO_WINDOW_SCHEMA,
        "wav",
        lambda b: b[: len(b) // 2],
        lambda b: [(DOC, 0, 0, 0, 0)] if not b else [None] * _n_windows(b),
    ),
    "phash_bands": (
        MM._phash_band,
        MM.PHASH_SCHEMA,
        "wav",
        lambda b: b[: len(b) // 2],
        lambda b: [(DOC, 0, 0, 0, 0)] if not b else [None],
    ),
    "frame_intensities": (
        MM._frame_intensity,
        MM.FRAME_INTENSITY_SCHEMA,
        "wav",
        lambda b: b[: len(b) // 2],
        lambda b: [None] * _n_windows(b),
    ),
    "parse_image_headers": (
        MM._header_row,
        MM.HEADER_SCHEMA,
        "png",
        lambda b: b[:20],  # signature + part of IHDR
        lambda b: [
            (DOC, "png" if b else "unknown", None, None, None, None, len(b), False)
        ],
    ),
    "decode_bmp": (MM._bmp_stats, MM.BMP_DECODE_SCHEMA, "bmp", None, None),
    "bmp_row_intensities": (
        MM._bmp_row_intensity, MM.BMP_ROW_SCHEMA, "bmp", None, _no_rows
    ),
    "resize_bmp": (MM._bmp_thumbnail, MM.BMP_RESIZE_SCHEMA, "bmp", None, _no_rows),
    "decode_png": (MM._png_stats, MM.PNG_DECODE_SCHEMA, "png", None, None),
    "wav_window_stats": (MM._wav_windows, MM.WAV_WINDOW_SCHEMA, "wav", None, _no_rows),
    "decode_adpcm": (MM._adpcm_stats, MM.ADPCM_DECODE_SCHEMA, "adpcm", None, None),
    "decode_mulaw": (MM._mulaw_stats, MM.MULAW_DECODE_SCHEMA, "mulaw", None, None),
    "avi_frame_sample": (
        MM._avi_sampled_frames, MM.AVI_FRAME_SCHEMA, "avi", None, _no_rows
    ),
    "decode_jpeg": (MM._jpeg_stats, MM.JPEG_DECODE_SCHEMA, "jpeg", None, None),
    "resize_jpeg": (MM._jpeg_thumbnail, MM.JPEG_RESIZE_SCHEMA, "jpeg", None, _no_rows),
    "decode_gif": (MM._gif_stats, MM.GIF_DECODE_SCHEMA, "gif", None, None),
    "dispatch_decode": (
        MM._dispatch_row,
        MM.DISPATCH_SCHEMA,
        "mulaw",  # RIFF/WAVE: the cut blob falls through all three entries
        None,
        lambda b: [(DOC, "unknown", None, None)],
    ),
}


def _run(per_blob, schema: str, payload) -> list[tuple]:
    pdf = pd.DataFrame({"doc_id": [DOC], "payload": [payload]})
    out = pd.concat(MM._blob_udf(per_blob, schema).batch(iter([pdf])))
    assert list(out.columns) == _columns(schema)
    return [
        tuple(None if v is None or v != v else v for v in row)
        for row in out.itertuples(index=False)
    ]


@pytest.mark.parametrize("case", ["null", "empty", "cut_short"])
@pytest.mark.parametrize("name", sorted(FORMATS))
def test_bad_blob_is_data_not_an_exception(name, case):
    per_blob, schema, kind, cut, expected = FORMATS[name]
    cut = cut or (lambda b: b[: len(b) // 2])
    expected = expected or _ok_false(schema)
    if case == "cut_short":
        payload = cut(_blobs()[kind])
    else:
        payload = None if case == "null" else b""
    got = _run(per_blob, schema, payload)
    want = expected(payload or b"")
    if any(row is None for row in want):
        # stub codecs: a short blob is still data; only the row count and
        # the doc id are pinned here (the oracle pins the values)
        assert len(got) == len(want) and all(r[0] == DOC for r in got)
    else:
        assert got == want


def test_every_adapter_decoder_is_in_the_table():
    """A new decoder built on the adapter must join FORMATS above."""
    tree = ast.parse(inspect.getsource(MM))
    built = {
        node.name
        for node in tree.body
        if isinstance(node, ast.FunctionDef)
        and not node.name.startswith("_")
        and any(
            isinstance(c, ast.Call) and getattr(c.func, "id", None) == "_blob_udf"
            for c in ast.walk(node)
        )
    }
    assert built == set(FORMATS)

