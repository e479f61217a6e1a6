"""The Arrow pass-through map shared by the row-annotating operators.

Every operator built on it carries its input columns through as Arrow, so a
nullable long keeps every bit. Through pandas the same column would be
upcast to float64 and a value above 2^53 would lose its low bits."""

from __future__ import annotations

from collections import Counter

import numpy as np
import pytest

from landlensdb_spark import exif
from landlensdb_spark.extract import extract_geotags
from landlensdb_spark.operators import multimodal
from landlensdb_spark.operators.fused import extract_pip
from landlensdb_spark.operators.raster import encode_png_gray
from landlensdb_spark.operators.snap import snap_to_network
from landlensdb_spark.operators.warc import build_warc, warc_records
from landlensdb_spark.passthrough import map_pass_through

BIG = -(6 << 60) + 5  # |BIG| > 2^53: float64 cannot hold it

_HTML = (
    b'<meta property="place:location:latitude" content="5"/>'
    b'<meta property="place:location:longitude" content="5"/>'
)
_SQUARE = [[0.0, 0.0], [10.0, 0.0], [10.0, 10.0], [0.0, 10.0], [0.0, 0.0]]


def _png():
    return bytearray(encode_png_gray(np.arange(64, dtype=np.uint8).reshape(8, 8)))


_CASES = {
    "extract_geotags": (lambda: bytearray(_HTML), "html binary", extract_geotags),
    "extract_pip": (
        lambda: bytearray(_HTML),
        "html binary",
        lambda df: extract_pip(
            df,
            df.sparkSession.createDataFrame(
                [(1, _SQUARE)], "admin_id long, ring array<array<double>>"
            ),
        ),
    ),
    "extract_exif": (
        lambda: bytearray(exif.encode_jpeg_exif(lat=5.0, lon=5.0)),
        "image_bytes binary",
        exif.extract_exif,
    ),
    "warc_records": (
        lambda: bytearray(build_warc([{"warc_type": "response", "payload": b"x"}])),
        "content binary",
        warc_records,
    ),
    "snap_to_network": (
        lambda: 5.0,
        "lon double",
        lambda df: snap_to_network(
            df.withColumn("lat", df["lon"]),
            df.sparkSession.createDataFrame(
                [(7, [[4.0, 5.0], [6.0, 5.0]])],
                "line_id long, coords array<array<double>>",
            ),
        ),
    ),
    "decode_media": (_png, "media binary", multimodal.decode_media),
    "media_thumbnail": (_png, "media binary", multimodal.media_thumbnail),
    "frame_sample": (_png, "media binary", multimodal.frame_sample),
    "media_phash": (_png, "media binary", multimodal.media_phash),
    "media_features": (
        _png,
        "media binary",
        lambda df: multimodal.media_features(df, id_col="h"),
    ),
}


@pytest.mark.parametrize("name", list(_CASES))
def test_nullable_long_passes_through_exact(spark, name):
    payload, ddl, op = _CASES[name]
    # BIG and NULL in ONE Arrow batch: the case that upcasts through pandas
    df = spark.createDataFrame(
        [(1, BIG, payload()), (2, None, payload())], f"key long, h long, {ddl}"
    ).coalesce(1)
    out = op(df)
    assert Counter(r["h"] for r in out.collect()) == Counter({BIG: 1, None: 1})


def test_row_indices_filter_annotate_explode(spark):
    df = spark.createDataFrame([(i, f"r{i}") for i in range(5)], "i long, s string")

    def _fn(b):
        i = b.column("i").to_numpy()
        rows = np.repeat(np.arange(len(i)), i % 3)  # 0, 1 or 2 copies per row
        return rows, {"twice": i[rows] * 2, "half": (i[rows] / 2.0)}

    out = map_pass_through(df, ["s"], ["i"], "twice long, half double", _fn)
    assert out.columns == ["s", "twice", "half"]
    got = sorted(tuple(r) for r in out.collect())
    assert got == [("r1", 2, 0.5), ("r2", 4, 1.0), ("r2", 4, 1.0), ("r4", 8, 2.0)]

    ident = map_pass_through(
        df, ["i"], [], "nan double", lambda b: (None, {"nan": [np.nan] * b.num_rows})
    )
    assert [r["nan"] for r in ident.collect()] == [None] * 5  # NaN -> NULL


def test_keep_typo_raises(spark):
    df = spark.createDataFrame([(1,)], "i long")
    with pytest.raises(ValueError, match="not in the input schema"):
        map_pass_through(df, ["j"], [], "x long", lambda b: (None, {"x": [1]}))
