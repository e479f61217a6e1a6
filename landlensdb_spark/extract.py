"""Vectorized geotag + text extraction from the ``html`` binary column.

The web-scale analog of the reference's EXIF loader
(/root/reference/landlensdb/handlers/image.py:294-415): where the reference
walks a directory and calls PIL per image, we scan the pages table and run
one ``mapInArrow`` pass per partition — RE2 regex over whole Arrow
columns, no per-row Python.

Extraction semantics re-expressed from the reference:
- geo-microdata ``<meta property="place:location:latitude" content=...>``
  float parse (the straightforward path);
- EXIF-style DMS with rational seconds ``(d,m,num/den)`` + hemisphere refs
  N/S/E/W -> decimal degrees: ``d + m/60 + (num/den)/3600`` with S/W negation
  (image.py:140-163 DMS conversion, :250-255 hemisphere sign, :258-292
  rational parse), rounded to 6 dp (micro-degree resolution);
- rows with no geotag yield NULL lat/lon and are filtered by the caller
  (image.py:334-338 skip path);
- ``text``: the byte-identical extraction contract (BASELINE.json
  input_hint) — content of the ``<p data-text="1">`` element, UTF-8.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame

from landlensdb_spark.passthrough import map_pass_through


def extract_geotag_pa(s, with_text: bool = True) -> tuple:
    """The extraction kernel: ``s`` is a ``pyarrow`` string or binary array.

    Returns ``(lat, lon, text)`` — lat/lon as float64 numpy arrays (NaN for
    untagged rows), ``text`` an Arrow string array (None when
    ``with_text=False``). The ``mapInArrow`` operators
    (:func:`extract_geotags`, ``operators.fused.extract_pip``) hand the
    Spark-delivered Arrow column straight here, so the (dominant) html
    payload never becomes per-row Python objects. Each pattern is one RE2
    pass over the whole column in C++.
    """
    import pyarrow as pa
    import pyarrow.compute as pc

    if pa.types.is_binary(s.type):
        s = s.cast(pa.string())
    f = pc.struct_field
    text = (
        f(pc.extract_regex(s, r'<p data-text="1">(?P<t>.*?)</p>'), "t")
        if with_text
        else None
    )
    mlat = pc.extract_regex(
        s, r'<meta property="place:location:latitude" content="(?P<v>[^"]+)"'
    )
    mlon = pc.extract_regex(
        s, r'<meta property="place:location:longitude" content="(?P<v>[^"]+)"'
    )
    dlat = pc.extract_regex(
        s,
        r"GPSLatitude=\((?P<d>\d+),(?P<m>\d+),(?P<n>\d+)/(?P<q>\d+)\);"
        r"GPSLatitudeRef=(?P<r>[NS])",
    )
    dlon = pc.extract_regex(
        s,
        r"GPSLongitude=\((?P<d>\d+),(?P<m>\d+),(?P<n>\d+)/(?P<q>\d+)\);"
        r"GPSLongitudeRef=(?P<r>[EW])",
    )

    def _num(sa, field):
        return pc.cast(f(sa, field), pa.float64()).to_numpy(zero_copy_only=False)

    lat = np.round(_num(mlat, "v"), 6)
    lon = np.round(_num(mlon, "v"), 6)

    def _dms(sa, neg_ref):
        d, m = _num(sa, "d"), _num(sa, "m")
        num, den = _num(sa, "n"), _num(sa, "q")
        ref = f(sa, "r").to_numpy(zero_copy_only=False)
        # 0/0 seconds -> NaN on purpose: that coordinate falls back to meta
        with np.errstate(divide="ignore", invalid="ignore"):
            dec = d + m / 60.0 + (num / den) / 3600.0
        return np.round(np.where(ref == neg_ref, -dec, dec), 6)

    dms_lat, dms_lon = _dms(dlat, "S"), _dms(dlon, "W")
    lat = np.where(np.isnan(dms_lat), lat, dms_lat)
    lon = np.where(np.isnan(dms_lon), lon, dms_lon)
    return lat, lon, text


def extract_geotags(
    df: DataFrame,
    html: str = "html",
    drop_untagged: bool = True,
    drop_html: bool = True,
    with_text: bool = True,
    keep: list[str] | None = None,
) -> DataFrame:
    """Attach ``lat``/``lon``/``text_extracted`` columns extracted from ``html``.

    ``drop_untagged=True`` filters rows with no geotag (the reference skips
    GPS-less images, image.py:334-338). Implemented as ONE ``mapInArrow``
    pass: the untagged-row filter runs inside the same Arrow batch, and the
    map acts as a plan barrier so Catalyst cannot push a filter beneath the
    projection and re-evaluate the (expensive) extraction twice — the
    double-ArrowEvalPython plan the naive withColumn+filter formulation
    produces. The Spark-delivered Arrow binary column feeds the RE2 kernel
    directly and the output is an Arrow ``take`` of the pass-through
    columns. ``drop_html=True`` drops the heavy binary column on output so
    downstream shuffles never carry it. ``with_text=False`` omits
    ``text_extracted`` — geo-only pipelines skip one full-column regex pass
    AND the (dominant) Python->JVM string transfer; the map is a plan
    barrier, so Catalyst cannot column-prune through it and the caller must
    ask for the narrow output explicitly.

    ``keep`` restricts the pass-through columns, and only ``keep`` plus
    ``html`` cross the Arrow boundary, so narrow pipelines (e.g. url-only
    tiling) should name just what they need — the heavy ``text`` column
    otherwise rides the transfer both ways for nothing.
    """
    if keep is None:
        keep = [c for c in df.columns if not (drop_html and c == html)]

    def _extract(b):
        lat, lon, text = extract_geotag_pa(b.column(html), with_text=with_text)
        rows = None
        if drop_untagged:
            rows = np.flatnonzero(~(np.isnan(lat) | np.isnan(lon)))
            lat, lon = lat[rows], lon[rows]
            text = text.take(rows) if with_text else None
        return rows, {"lat": lat, "lon": lon, "text_extracted": text}

    fields = "lat double, lon double" + (", text_extracted string" if with_text else "")
    return map_pass_through(df, keep, [html], fields, _extract)
