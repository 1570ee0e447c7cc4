"""Arrow-vectorized pandas UDF bindings for the numpy kernels.

Design rule (SURVEY.md §3): the JVM↔Python Arrow channel is a per-batch
cost, so the hot path uses ONE fused UDF (`enrich_struct`) computing
extract_text + geocode + h3_7 + s2_13 per batch, instead of four UDFs
= four Arrow round-trips.  Everything is Series→Series/Struct; no
per-row Python anywhere (input_hint requirement).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from gips_spark.functions import cellindex, geom, h3lite, s2, textx

H3_RES = 7
S2_LEVEL = 13


def _masked_int64(values: np.ndarray, ok: np.ndarray) -> pd.Series:
    """int64 values with nulls where ~ok, WITHOUT float64 upcast (plain
    .where(..., pd.NA) converts the batch to float64, which rounds int64
    cell ids — a real corruption bug caught by cross-path tests)."""
    out = pd.array(values, dtype="Int64")
    out[~np.asarray(ok)] = pd.NA
    return pd.Series(out)


def _cells(lat, lon) -> tuple[pd.Series, pd.Series]:
    """(h3_7, s2_13) as nullable Int64 Series; NULL where lat or lon is
    NaN."""
    la = np.asarray(lat, dtype=np.float64)
    lo = np.asarray(lon, dtype=np.float64)
    ok = ~(np.isnan(la) | np.isnan(lo))
    h3 = np.zeros(len(la), dtype=np.int64)
    s2c = np.zeros(len(la), dtype=np.int64)
    if ok.any():
        h3[ok] = cellindex.latlng_to_cell(la[ok], lo[ok], H3_RES)
        s2c[ok] = s2.latlng_to_cell(la[ok], lo[ok], S2_LEVEL)
    return _masked_int64(h3, ok), _masked_int64(s2c, ok)


ENRICH_SCHEMA = T.StructType(
    [
        T.StructField("extracted_text", T.StringType()),
        T.StructField("lat", T.DoubleType()),
        T.StructField("lon", T.DoubleType()),
        T.StructField("geocode_src", T.StringType()),
        T.StructField("h3_7", T.LongType()),
        T.StructField("s2_13", T.LongType()),
    ]
)


def strip_html_expr(html_col):
    """JVM-side stage 1 of the frozen extractor (comments → script/style →
    tags) as a codegen'd regexp_replace chain over the decoded html.

    Used by the streaming path (streaming/ingest.py, ahead of
    extract_and_cells) and by bench_extra.py.  The batch assign path
    strips inside enrich_struct instead: CPython's re beats this
    java.util.regex chain there (see tile_assign.enrich_pages).
    Byte-equal to textx.strip_markup (tests/test_pipeline.py).
    """
    s = F.decode(html_col, "utf-8")
    s = F.regexp_replace(s, r"(?s)<!--.*?-->", " ")
    s = F.regexp_replace(s, r"(?is)<(script|style)\b[^>]*>.*?</\1\s*>", " ")
    s = F.regexp_replace(s, r"<[^>]+>", " ")
    return s


def geocode_exprs(url_col, text_col):
    """JVM-side geocoder — the exact rule table of textx.geocode as
    codegen'd Column expressions (regexp_extract + map-literal gazetteer
    + priority CASE).  Equality with the Python kernel is pinned by the
    frozen `geocoded` golden hash (tests/golden/hashes.json).

    Returns (lat, lon, geocode_src) Columns.
    """
    city_lat = F.create_map(
        *[F.lit(x) for c in textx.GAZETTEER for x in (c[0], float(c[1]))]
    )
    city_lon = F.create_map(
        *[F.lit(x) for c in textx.GAZETTEER for x in (c[0], float(c[2]))]
    )
    qs_lat = F.regexp_extract(url_col, textx.QS_LATLON_PATTERN, 1)
    qs_lon = F.regexp_extract(url_col, textx.QS_LATLON_PATTERN, 2)
    qs_ok = (
        (qs_lat != "")
        & (F.abs(qs_lat.cast("double")) <= 90.0)
        & (F.abs(qs_lon.cast("double")) <= 180.0)
    )
    ct_lat = F.regexp_extract(text_col, textx.TEXT_COORD_PATTERN, 1)
    ct_lon = F.regexp_extract(text_col, textx.TEXT_COORD_PATTERN, 2)
    ct_ok = (
        (ct_lat != "")
        & (F.abs(ct_lat.cast("double")) <= 90.0)
        & (F.abs(ct_lon.cast("double")) <= 180.0)
    )
    cu = F.regexp_extract(url_col, textx.URL_CITY_PATTERN, 1)
    tc = F.regexp_replace(
        F.lower(
            F.regexp_extract(text_col, "(?i)" + textx.TEXT_CITY_PATTERN, 1)
        ),
        " ",
        "-",
    )
    # lowest-priority tier (round 4): ccTLD → country centroid.  The
    # extracted label can be any 2 letters, so the hit condition is a
    # successful MAP lookup (unlike the city tiers, whose patterns are
    # built from the gazetteer and can never miss).
    cc_lat = F.create_map(
        *[F.lit(x) for c in textx.CCTLD_CENTROIDS for x in (c[0], float(c[1]))]
    )
    cc_lon = F.create_map(
        *[F.lit(x) for c in textx.CCTLD_CENTROIDS for x in (c[0], float(c[2]))]
    )
    cc = F.regexp_extract(url_col, textx.CCTLD_PATTERN, 1)
    cc_ok = (cc != "") & cc_lat[cc].isNotNull()
    lat = (
        F.when(qs_ok, qs_lat.cast("double"))
        .when(ct_ok, ct_lat.cast("double"))
        .when(cu != "", city_lat[cu])
        .when(tc != "", city_lat[tc])
        .when(cc_ok, cc_lat[cc])
    )
    lon = (
        F.when(qs_ok, qs_lon.cast("double"))
        .when(ct_ok, ct_lon.cast("double"))
        .when(cu != "", city_lon[cu])
        .when(tc != "", city_lon[tc])
        .when(cc_ok, cc_lon[cc])
    )
    src = (
        F.when(qs_ok, F.lit("latlon_qs"))
        .when(ct_ok, F.lit("coord_text"))
        .when(cu != "", F.lit("city_url"))
        .when(tc != "", F.lit("city_text"))
        .when(cc_ok, F.lit("cctld"))
        .otherwise(F.lit("none"))
    )
    return lat, lon, src


CELLS_SCHEMA = T.StructType(
    [
        T.StructField("extracted_text", T.StringType()),
        T.StructField("h3_7", T.LongType()),
        T.StructField("s2_13", T.LongType()),
    ]
)


@pandas_udf(CELLS_SCHEMA)
def extract_and_cells(
    stripped: pd.Series, lat: pd.Series, lon: pd.Series
) -> pd.DataFrame:
    """Minimal-channel fused kernel: finish extraction (entities + ws) and
    index (lat, lon) → H3/S2 — geocoding already happened JVM-side."""
    h3, s2c = _cells(lat, lon)
    return pd.DataFrame(
        {
            "extracted_text": textx.finish_extract(stripped).to_numpy(dtype=object),
            "h3_7": h3,
            "s2_13": s2c,
        }
    )


CELLS_ONLY_SCHEMA = T.StructType(
    [
        T.StructField("h3_7", T.LongType()),
        T.StructField("s2_13", T.LongType()),
    ]
)

GEOCODE_CELLS_SCHEMA = T.StructType(
    [
        T.StructField("lat", T.DoubleType()),
        T.StructField("lon", T.DoubleType()),
        T.StructField("geocode_src", T.StringType()),
        T.StructField("h3_7", T.LongType()),
        T.StructField("s2_13", T.LongType()),
    ]
)


@pandas_udf(GEOCODE_CELLS_SCHEMA)
def geocode_and_cells(url: pd.Series, text: pd.Series) -> pd.DataFrame:
    """Assignment-only fused kernel WITH the geocoder inside: (url, text)
    → (lat, lon, geocode_src, h3_7, s2_13) in one Arrow pass.

    r6 measurement (guide §1/§4): the JVM geocoder expressions evaluate
    the regex cascade once PER OUTPUT COLUMN (lat, lon, src are three
    independent CaseWhen trees — no cross-column subexpression
    elimination), costing ~117 µs/row; the vectorized pandas geocoder
    runs the same rule table once per row at ~25 µs/row single-core.
    Same rule table, same outputs (pinned by the frozen `geocoded`
    golden hash and the cross-path equality tests)."""
    geo = textx.geocode(url, text)
    h3, s2c = _cells(geo["lat"], geo["lon"])
    return pd.DataFrame(
        {
            "lat": geo["lat"].to_numpy(),
            "lon": geo["lon"].to_numpy(),
            "geocode_src": geo["geocode_src"].to_numpy(dtype=object),
            "h3_7": h3,
            "s2_13": s2c,
        }
    )


@pandas_udf(CELLS_ONLY_SCHEMA)
def cells_only(lat: pd.Series, lon: pd.Series) -> pd.DataFrame:
    """Assignment-only fused kernel: (lat, lon) → (h3_7, s2_13).

    16 bytes/row each way across the Arrow channel vs ~1 KB/row for the
    text-materializing kernel — the channel is syscall-bound on this
    host, so the assignments stage (whose output never includes text)
    uses this variant (enrich_pages(with_text=False))."""
    h3, s2c = _cells(lat, lon)
    return pd.DataFrame({"h3_7": h3, "s2_13": s2c})


@pandas_udf(ENRICH_SCHEMA)
def enrich_struct(html: pd.Series, url: pd.Series, text: pd.Series) -> pd.DataFrame:
    """The fused kernel of the text-materializing assign path
    (tile_assign.enrich_pages with with_text=True): extract_text +
    geocode + H3 res-7 + S2 level-13 over raw html in one Arrow pass."""
    geo = textx.geocode(url, text)
    h3, s2c = _cells(geo["lat"], geo["lon"])
    return pd.DataFrame(
        {
            "extracted_text": textx.extract_text(html).to_numpy(dtype=object),
            "lat": geo["lat"].to_numpy(),
            "lon": geo["lon"].to_numpy(),
            "geocode_src": geo["geocode_src"].to_numpy(dtype=object),
            "h3_7": h3,
            "s2_13": s2c,
        }
    )


@pandas_udf(T.LongType())
def h3_cell(lat: pd.Series, lon: pd.Series) -> pd.Series:
    la = lat.to_numpy(dtype=np.float64)
    lo = lon.to_numpy(dtype=np.float64)
    ok = ~(np.isnan(la) | np.isnan(lo))
    out = np.zeros(len(la), dtype=np.int64)
    if ok.any():
        out[ok] = cellindex.latlng_to_cell(la[ok], lo[ok], H3_RES)
    return _masked_int64(out, ok)


@pandas_udf(T.LongType())
def s2_cell(lat: pd.Series, lon: pd.Series) -> pd.Series:
    la = lat.to_numpy(dtype=np.float64)
    lo = lon.to_numpy(dtype=np.float64)
    ok = ~(np.isnan(la) | np.isnan(lo))
    out = np.zeros(len(la), dtype=np.int64)
    if ok.any():
        out[ok] = s2.latlng_to_cell(la[ok], lo[ok], S2_LEVEL)
    return _masked_int64(out, ok)


@pandas_udf(T.DoubleType())
def haversine_m(
    lat1: pd.Series, lon1: pd.Series, lat2: pd.Series, lon2: pd.Series
) -> pd.Series:
    return pd.Series(
        geom.haversine_m(
            lat1.to_numpy(dtype=np.float64),
            lon1.to_numpy(dtype=np.float64),
            lat2.to_numpy(dtype=np.float64),
            lon2.to_numpy(dtype=np.float64),
        )
    )


@pandas_udf(T.StringType())
def extract_text_udf(html: pd.Series) -> pd.Series:
    return textx.extract_text(html)


@pandas_udf(T.StringType())
def lang_id_udf(text: pd.Series) -> pd.Series:
    return textx.lang_id(text)


@pandas_udf(T.LongType())
def token_count_udf(text: pd.Series) -> pd.Series:
    return textx.token_count(text)


@pandas_udf(T.LongType())
def fingerprint_udf(text: pd.Series) -> pd.Series:
    return textx.rolling_fingerprint(text)


def haversine_expr(lat1, lon1, lat2, lon2):
    """Pure Column-expression haversine (meters) — JVM-side, codegen'd.

    Identical formula to geom.haversine_m; prefer this inside joins so
    the distance math stays in whole-stage codegen (no Arrow hop).
    """
    rl1 = F.radians(lat1)
    rl2 = F.radians(lat2)
    dphi = rl2 - rl1
    dlmb = F.radians(lon2) - F.radians(lon1)
    a = F.pow(F.sin(dphi / 2), 2) + F.cos(rl1) * F.cos(rl2) * F.pow(
        F.sin(dlmb / 2), 2
    )
    a = F.least(F.greatest(a, F.lit(0.0)), F.lit(1.0))
    return F.lit(2.0 * geom.EARTH_RADIUS_M) * F.asin(F.sqrt(a))
