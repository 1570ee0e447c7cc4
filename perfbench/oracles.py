"""Output checks, run with DuckDB after the timed window.

Each check is an independent re-computation in SQL, in the style of
the oracle SQL functions in ``__spark_entry__.py``: the geocoder rule table
with RE2 regexes and VALUES-table gazetteers, a brute-force haversine
top-k, and an edge-by-edge even-odd ray cast.  Cell ids are
engine-defined (there is no H3 library here), so the stream recount
takes cells from ``cellindex.latlng_to_cell`` applied to the
oracle's own coordinates.

Every ``check_*`` function returns a list of failure messages; empty
means the pass is correct.
"""

from __future__ import annotations

import duckdb
import numpy as np
import pandas as pd

EARTH_RADIUS_M = 6371008.8
DAY_US = 86_400 * 1_000_000


def _pq(path: str) -> str:
    return f"read_parquet('{path}/*.parquet')"


def _files(paths: list[str]) -> str:
    return "read_parquet([" + ", ".join(f"'{p}'" for p in paths) + "])"


def _nan_null(col: str) -> str:
    return f"CASE WHEN isnan({col}) THEN NULL ELSE {col} END"


def geocode_sql(source: str) -> str:
    """(url, txt, row columns...) → the rule table's (geocode_src, lat,
    lon), highest priority first, over ``source`` (a FROM-able relation
    with columns url and txt)."""
    from gips_spark.functions import textx

    cities = ", ".join(f"('{s}', {la!r}, {lo!r})" for s, la, lo in textx.GAZETTEER)
    ccs = ", ".join(f"('{c}', {la!r}, {lo!r})" for c, la, lo in textx.CCTLD_CENTROIDS)
    return f"""
WITH d AS (SELECT * FROM {source}),
cities(slug, clat, clon) AS (VALUES {cities}),
ccs(cc, glat, glon) AS (VALUES {ccs}),
g AS (
  SELECT d.*,
         regexp_extract(url, '{textx.QS_LATLON_PATTERN}', 1) AS qs_lat,
         regexp_extract(url, '{textx.QS_LATLON_PATTERN}', 2) AS qs_lon,
         regexp_extract(txt, '{textx.TEXT_COORD_PATTERN}', 1) AS ct_lat,
         regexp_extract(txt, '{textx.TEXT_COORD_PATTERN}', 2) AS ct_lon,
         regexp_extract(url, '{textx.URL_CITY_PATTERN}', 1) AS cu,
         replace(regexp_extract(lower(txt), '{textx.TEXT_CITY_PATTERN}', 1), ' ', '-') AS tc,
         regexp_extract(url, '{textx.CCTLD_PATTERN}', 1) AS cc
  FROM d
), v AS (
  SELECT g.*,
         qs_lat <> '' AND abs(TRY_CAST(qs_lat AS DOUBLE)) <= 90.0
                      AND abs(TRY_CAST(qs_lon AS DOUBLE)) <= 180.0 AS qs_ok,
         ct_lat <> '' AND abs(TRY_CAST(ct_lat AS DOUBLE)) <= 90.0
                      AND abs(TRY_CAST(ct_lon AS DOUBLE)) <= 180.0 AS ct_ok,
         g.cc <> '' AND ccs.glat IS NOT NULL AS cc_ok,
         cu_t.clat AS cu_lat, cu_t.clon AS cu_lon,
         tc_t.clat AS tc_lat, tc_t.clon AS tc_lon,
         ccs.glat AS cc_lat, ccs.glon AS cc_lon
  FROM g
  LEFT JOIN cities cu_t ON g.cu = cu_t.slug
  LEFT JOIN cities tc_t ON g.tc = tc_t.slug
  LEFT JOIN ccs ON g.cc = ccs.cc
)
SELECT * EXCLUDE (qs_lat, qs_lon, ct_lat, ct_lon, cu, tc, cc, qs_ok, ct_ok, cc_ok,
                  cu_lat, cu_lon, tc_lat, tc_lon, cc_lat, cc_lon),
       CASE WHEN qs_ok THEN 'latlon_qs' WHEN ct_ok THEN 'coord_text'
            WHEN cu <> '' THEN 'city_url' WHEN tc <> '' THEN 'city_text'
            WHEN cc_ok THEN 'cctld' ELSE 'none' END AS geocode_src,
       CASE WHEN qs_ok THEN TRY_CAST(qs_lat AS DOUBLE)
            WHEN ct_ok THEN TRY_CAST(ct_lat AS DOUBLE)
            WHEN cu <> '' THEN cu_lat WHEN tc <> '' THEN tc_lat
            WHEN cc_ok THEN cc_lat END AS lat,
       CASE WHEN qs_ok THEN TRY_CAST(qs_lon AS DOUBLE)
            WHEN ct_ok THEN TRY_CAST(ct_lon AS DOUBLE)
            WHEN cu <> '' THEN cu_lon WHEN tc <> '' THEN tc_lon
            WHEN cc_ok THEN cc_lon END AS lon
FROM v
"""


def _haversine(lat1: str, lon1: str, lat2: str, lon2: str) -> str:
    return (
        f"2.0 * {EARTH_RADIUS_M} * asin(sqrt(least(1.0, greatest(0.0, "
        f"pow(sin((radians({lat2}) - radians({lat1})) / 2), 2) + "
        f"cos(radians({lat1})) * cos(radians({lat2})) * "
        f"pow(sin((radians({lon2}) - radians({lon1})) / 2), 2)))))"
    )


def _diff_count(con, a: str, b: str) -> tuple[int, int]:
    """Rows of a missing from b and of b missing from a (multisets)."""
    def count(x, y):
        q = f"SELECT count(*) FROM (SELECT * FROM ({x}) EXCEPT ALL SELECT * FROM ({y}))"
        return con.execute(q).fetchone()[0]

    return count(a, b), count(b, a)


class GeoOracle:
    """Reference answers for one seed's assign_query inputs."""

    def __init__(self, page_files: list[str], extents_pdf: pd.DataFrame,
                 queries_pdf: pd.DataFrame):
        self.con = duckdb.connect()
        self.page_files = page_files
        self.con.register("queries_df", queries_pdf[["query_id", "lat", "lon", "k"]])
        edges = []
        for eid, rings in zip(extents_pdf["extent_id"], extents_pdf["rings"]):
            for ring in rings:
                pts = [(p["lon"], p["lat"]) for p in ring]
                for i, (x1, y1) in enumerate(pts):
                    x2, y2 = pts[(i + 1) % len(pts)]
                    edges.append((eid, x1, y1, x2, y2))
        self.con.register(
            "edges_df", pd.DataFrame(edges, columns=["extent_id", "x1", "y1", "x2", "y2"])
        )
        self._expected = None
        self._geocoded = False
        self._n_cells = None

    def _reference(self, enriched: str) -> None:
        """kNN and PIP answers over a checked enriched table."""
        con = self.con
        pts = (
            f"SELECT row_number() OVER () AS rid, url, lat, lon FROM {_pq(enriched)} "
            "WHERE geocode_src <> 'none'"
        )
        con.execute(f"CREATE OR REPLACE TEMP TABLE pts AS {pts}")
        con.execute(
            f"""CREATE OR REPLACE TEMP TABLE knn_ref AS
            SELECT query_id, rank, url, dist FROM (
              SELECT *, row_number() OVER (PARTITION BY query_id
                                           ORDER BY dist ASC, url ASC) AS rank
              FROM (SELECT q.query_id, q.k, p.url,
                           {_haversine('p.lat', 'p.lon', 'q.lat', 'q.lon')} AS dist
                    FROM pts p CROSS JOIN queries_df q))
            WHERE rank <= k"""
        )
        con.execute(
            """CREATE OR REPLACE TEMP TABLE pip_ref AS
            WITH bbox AS (
              SELECT extent_id, least(min(x1), min(x2)) AS minx, greatest(max(x1), max(x2)) AS maxx,
                     least(min(y1), min(y2)) AS miny, greatest(max(y1), max(y2)) AS maxy
              FROM edges_df GROUP BY extent_id),
            cand AS (
              SELECT p.rid, p.url, p.lat, p.lon, b.extent_id FROM pts p JOIN bbox b
              ON p.lon BETWEEN b.minx AND b.maxx AND p.lat BETWEEN b.miny AND b.maxy)
            SELECT c.url, c.extent_id FROM cand c JOIN edges_df e USING (extent_id)
            GROUP BY c.rid, c.url, c.extent_id
            HAVING sum(CASE WHEN ((e.y1 > c.lat) <> (e.y2 > c.lat))
                            AND (c.lon < e.x1 + (c.lat - e.y1) * (e.x2 - e.x1) / (e.y2 - e.y1))
                       THEN 1 ELSE 0 END) % 2 = 1"""
        )
        self._expected = True

    def check(self, res: dict, n_pages: int) -> list[str]:
        con, bad = self.con, []
        enr = _pq(res["enriched"])
        n = con.execute(f"SELECT count(*) FROM {enr}").fetchone()[0]
        if n != n_pages:
            bad.append(f"assign: {n} rows written, {n_pages} pages in")
        got = (
            f"SELECT url, geocode_src, {_nan_null('lat')} AS lat, "
            f"{_nan_null('lon')} AS lon FROM {enr}"
        )
        if not self._geocoded:
            con.execute(
                "CREATE TEMP TABLE geo_ref AS SELECT url, geocode_src, lat, lon FROM ("
                + geocode_sql(f"(SELECT url, text AS txt FROM {_files(self.page_files)})")
                + ")"
            )
            self._geocoded = True
        only_got, only_ref = _diff_count(con, got, "SELECT * FROM geo_ref")
        if only_got or only_ref:
            bad.append(f"assign: geocode differs from the rule table ({only_got}/{only_ref} rows)")
            return bad
        if self._n_cells is None:
            from gips_spark.functions import cellindex

            g = con.execute("SELECT lat, lon FROM geo_ref WHERE geocode_src <> 'none'").df()
            self._n_cells = len(np.unique(cellindex.latlng_to_cell(
                g["lat"].to_numpy(np.float64), g["lon"].to_numpy(np.float64), 7
            )))
        if res["n_cells"] != self._n_cells:
            bad.append(f"cell_directory: {res['n_cells']} cells, {self._n_cells} in the recount")
        if self._expected is None:
            self._reference(res["enriched"])
        knn = con.execute(
            f"""SELECT count(*) FILTER (WHERE r.url IS NULL OR g.url IS NULL OR r.url <> g.url
                                         OR abs(r.dist - g.dist_m) > 1e-3),
                       count(*)
                FROM knn_ref r FULL OUTER JOIN {_pq(res['knn'])} g USING (query_id, rank)"""
        ).fetchone()
        if knn[0]:
            bad.append(f"knn: {knn[0]} of {knn[1]} (query, rank) rows differ from brute force")
        only_got, only_ref = _diff_count(
            con, f"SELECT url, extent_id FROM {_pq(res['pip'])}",
            "SELECT url, extent_id FROM pip_ref",
        )
        if only_got or only_ref:
            bad.append(f"pip: {only_got} extra / {only_ref} missing pairs vs ray cast")
        return bad


def digest(con, path: str) -> tuple:
    """Order-independent digest of a parquet result: row count and the
    sum of per-row hashes (doubles rounded to 9 places)."""
    cols = con.execute(f"DESCRIBE SELECT * FROM {_pq(path)}").fetchall()
    exprs = [
        f"round({c[0]}, 9)" if c[1] in ("DOUBLE", "FLOAT") else c[0] for c in cols
    ]
    return tuple(
        con.execute(
            f"SELECT count(*), sum(hash({', '.join(exprs)}) % 1000000007) FROM {_pq(path)}"
        ).fetchone()
    )


def check_exact_dedup(con, doc_files: list[str], res_path: str) -> list[str]:
    ref = (
        "WITH n AS (SELECT doc_id, lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))) AS t "
        f"FROM {_files(doc_files)}) "
        "SELECT doc_id AS id, min(doc_id) OVER (PARTITION BY t) AS canonical_id FROM n"
    )
    only_got, only_ref = _diff_count(
        con, f"SELECT id, canonical_id FROM {_pq(res_path)}", ref
    )
    if only_got or only_ref:
        return [f"exact_dedup: {only_got}/{only_ref} rows differ from SQL grouping"]
    return []


def stream_reference(con, stream_in: str) -> pd.DataFrame:
    """Per (day window, cell) counts of the deduplicated feed, geocoded
    by the SQL rule table; cells from the engine's H3 kernel."""
    from gips_spark.functions import cellindex

    g = con.execute(
        "SELECT epoch_us(warc_ts) AS ts_us, geocode_src, lat, lon FROM ("
        + geocode_sql(
            f"(SELECT DISTINCT url, warc_ts, text AS txt FROM {_pq(stream_in)})"
        )
        + ") WHERE geocode_src <> 'none'"
    ).df()
    h3 = cellindex.latlng_to_cell(
        g["lat"].to_numpy(np.float64), g["lon"].to_numpy(np.float64), 7
    )
    return (
        pd.DataFrame({"window_us": g["ts_us"] // DAY_US * DAY_US, "h3_7": h3})
        .groupby(["window_us", "h3_7"]).size().rename("n_true").reset_index()
    )


def check_stream(con, ref: pd.DataFrame, res: dict) -> list[str]:
    """Every emitted (window, cell) count equals the recount, and every
    window that closed before the final watermark was emitted."""
    got = con.execute(
        f"SELECT epoch_us(window_start) AS window_us, h3_7, n_pages FROM {_pq(res['stream'])}"
    ).df()
    if got.empty:
        return ["stream: no windows emitted"]
    bad = []
    m = got.merge(ref, on=["window_us", "h3_7"], how="left")
    wrong = int((m["n_true"].isna() | (m["n_true"] != m["n_pages"])).sum())
    if wrong:
        bad.append(f"stream: {wrong} of {len(got)} emitted window counts differ from recount")
    wms = [p["watermark"] for p in res["progress"] if p.get("watermark")]
    if wms:
        wm_us = int(pd.Timestamp(wms[-1]).value // 1000)
        closed = int((ref["window_us"] + DAY_US <= wm_us).sum())
        if closed != len(got):
            bad.append(f"stream: {len(got)} windows emitted, {closed} closed by the watermark")
    return bad


def check_decontaminate(con, doc_files: list[str], res_path: str) -> list[str]:
    """textops.decontaminate(n=8) against the eval set of every 199th
    doc's first 12 tokens (string grams, as in the entry oracle)."""
    ref = f"""
WITH docs AS (SELECT doc_id, text FROM {_files(doc_files)}),
btk AS (
  SELECT list_slice(list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> ''), 1, 12) AS tk
  FROM docs WHERE doc_id % 199 = 0),
bg AS (
  SELECT DISTINCT unnest(CASE WHEN len(tk) < 8 THEN CAST([] AS VARCHAR[])
    ELSE list_transform(range(1, len(tk)-6), i -> array_to_string(list_slice(tk, i, i+7), ' ')) END) AS gram
  FROM btk),
ctk AS (SELECT doc_id, list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '') AS tk FROM docs),
cg AS (
  SELECT doc_id, list_distinct(CASE WHEN len(tk) < 8 THEN CAST([] AS VARCHAR[])
    ELSE list_transform(range(1, len(tk)-6), i -> array_to_string(list_slice(tk, i, i+7), ' ')) END) AS gl
  FROM ctk),
dg AS (SELECT doc_id, len(gl) AS n_grams, unnest(gl) AS gram FROM cg)
SELECT doc_id, count(*) AS n_hit_grams, n_grams
FROM dg JOIN bg USING (gram) GROUP BY doc_id, n_grams
"""
    got = (
        f"SELECT doc_id, CAST(n_hit_grams AS BIGINT), CAST(n_grams AS BIGINT) "
        f"FROM {_pq(res_path)}"
    )
    only_got, only_ref = _diff_count(con, got, ref)
    if only_got or only_ref:
        return [f"decontaminate: {only_got}/{only_ref} rows differ from SQL n-gram join"]
    return []


def _mismatches(con, got: str, ref: str, key: list[str], cols: list[str],
                tol: float) -> tuple[int, int]:
    """Rows of ``got`` and ``ref`` (SQL) whose keys do not pair up, or
    whose ``cols`` differ by more than ``tol``; and the rows compared."""
    on = " AND ".join(f"g.{k} = r.{k}" for k in key)
    diff = " OR ".join(
        f"(g.{c} IS NULL) <> (r.{c} IS NULL) OR abs(g.{c} - r.{c}) > {tol}" for c in cols
    )
    return con.execute(
        f"""SELECT count(*) FILTER (WHERE g.{key[0]} IS NULL OR r.{key[0]} IS NULL OR {diff}),
                   count(*)
            FROM ({got}) g FULL OUTER JOIN ({ref}) r ON {on}"""
    ).fetchone()


_REPETITION_COLS = [
    "n_chars", "n_lines", "dup_line_frac", "dup_line_char_frac",
    "top2_char_frac", "top3_char_frac", "dup5_char_frac",
]


def check_repetition(con, doc_files: list[str], res_path: str) -> list[str]:
    """textops.repetition_stats (defaults: top 2/3-grams, dup 5-grams)
    recomputed from unnested lines and word n-grams, as in the entry
    oracle."""
    def grams(n: int) -> str:
        return (
            f"unnest(CASE WHEN len(toks) < {n} THEN CAST([] AS VARCHAR[]) ELSE "
            f"list_transform(range(1, len(toks) - {n - 2}), "
            f"i -> array_to_string(list_slice(toks, i, i + {n - 1}), ' ')) END)"
        )

    ref = f"""
WITH base AS (SELECT doc_id, coalesce(text, '') AS text FROM {_files(doc_files)}),
tk AS (
  SELECT doc_id, length(text) AS n_chars,
         list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '') AS toks,
         list_filter(string_split(text, chr(10)), x -> trim(x) <> '') AS lns
  FROM base),
units AS (
  SELECT doc_id, n_chars, 'line' AS kind, unnest(lns) AS gram FROM tk
  UNION ALL SELECT doc_id, n_chars, 'g2', {grams(2)} FROM tk
  UNION ALL SELECT doc_id, n_chars, 'g3', {grams(3)} FROM tk
  UNION ALL SELECT doc_id, n_chars, 'g5', {grams(5)} FROM tk),
counted AS (
  SELECT doc_id, n_chars, kind, gram, count(*) AS cnt FROM units
  GROUP BY doc_id, n_chars, kind, gram),
perk AS (
  SELECT doc_id, n_chars, kind, sum(cnt) AS n_units, count(*) AS n_distinct,
         sum(CASE WHEN cnt >= 2 THEN cnt * length(gram) ELSE 0 END) AS dup_chars
  FROM counted GROUP BY doc_id, n_chars, kind),
tops AS (
  SELECT doc_id, kind, cnt * length(gram) AS top_cov
  FROM (SELECT *, row_number() OVER (PARTITION BY doc_id, kind
                                     ORDER BY cnt DESC, gram ASC) AS rn FROM counted)
  WHERE rn = 1),
frac AS (
  SELECT p.doc_id, p.kind, p.n_units, p.n_distinct,
         least(p.dup_chars / CAST(greatest(p.n_chars, 1) AS DOUBLE), 1.0) AS dup_frac,
         least(t.top_cov / CAST(greatest(p.n_chars, 1) AS DOUBLE), 1.0) AS top_frac
  FROM perk p JOIN tops t USING (doc_id, kind)),
stats AS (
  SELECT doc_id,
    max(n_units) FILTER (WHERE kind = 'line') AS n_lines,
    max((n_units - n_distinct) / CAST(n_units AS DOUBLE)) FILTER (WHERE kind = 'line')
      AS dup_line_frac,
    max(dup_frac) FILTER (WHERE kind = 'line') AS dup_line_char_frac,
    max(top_frac) FILTER (WHERE kind = 'g2') AS top2_char_frac,
    max(top_frac) FILTER (WHERE kind = 'g3') AS top3_char_frac,
    max(dup_frac) FILTER (WHERE kind = 'g5') AS dup5_char_frac
  FROM frac GROUP BY doc_id)
SELECT b.doc_id, length(b.text) AS n_chars, coalesce(s.n_lines, 0) AS n_lines,
       {", ".join(f"coalesce(s.{c}, 0.0) AS {c}" for c in _REPETITION_COLS[2:])}
FROM base b LEFT JOIN stats s USING (doc_id)
"""
    got = f"SELECT doc_id, {', '.join(_REPETITION_COLS)} FROM {_pq(res_path)}"
    wrong, n = _mismatches(con, got, ref, ["doc_id"], _REPETITION_COLS, 1e-8)
    if wrong:
        return [f"repetition: {wrong} of {n} docs differ from SQL unit counts"]
    return []


_ENTROPY_COLS = [
    "n_chars", "n_tokens", "char_distinct", "token_distinct",
    "char_entropy", "token_entropy", "token_ttr",
]


def check_entropy(con, doc_files: list[str], res_path: str) -> list[str]:
    """textops.entropy_stats recomputed from unnested symbol counts, as
    in the entry oracle.  The engine rounds to 6 places and the
    reference does not."""
    ref = f"""
WITH base AS (SELECT doc_id, coalesce(text, '') AS text FROM {_files(doc_files)}),
prep AS (
  SELECT doc_id,
         CASE WHEN length(text) = 0 THEN CAST([] AS VARCHAR[])
              ELSE string_split(text, '') END AS cs,
         list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '') AS tk
  FROM base),
ccnt AS (SELECT doc_id, u, count(*) AS c
         FROM (SELECT doc_id, unnest(cs) AS u FROM prep) GROUP BY doc_id, u),
tcnt AS (SELECT doc_id, u, count(*) AS c
         FROM (SELECT doc_id, unnest(tk) AS u FROM prep) GROUP BY doc_id, u),
cn AS (SELECT doc_id, sum(c) AS n, count(*) AS nd FROM ccnt GROUP BY doc_id),
tn AS (SELECT doc_id, sum(c) AS n, count(*) AS nd FROM tcnt GROUP BY doc_id),
ch AS (SELECT doc_id, -sum(c / CAST(n AS DOUBLE) * ln(c / CAST(n AS DOUBLE))) AS h
       FROM ccnt JOIN cn USING (doc_id) GROUP BY doc_id),
th AS (SELECT doc_id, -sum(c / CAST(n AS DOUBLE) * ln(c / CAST(n AS DOUBLE))) AS h
       FROM tcnt JOIN tn USING (doc_id) GROUP BY doc_id)
SELECT p.doc_id,
       coalesce(cn.n, 0) AS n_chars, coalesce(tn.n, 0) AS n_tokens,
       coalesce(cn.nd, 0) AS char_distinct, coalesce(tn.nd, 0) AS token_distinct,
       coalesce(ch.h, 0.0) AS char_entropy, coalesce(th.h, 0.0) AS token_entropy,
       CASE WHEN coalesce(tn.n, 0) = 0 THEN 0.0 ELSE tn.nd / CAST(tn.n AS DOUBLE) END
         AS token_ttr
FROM prep p LEFT JOIN cn USING (doc_id) LEFT JOIN ch USING (doc_id)
            LEFT JOIN tn USING (doc_id) LEFT JOIN th USING (doc_id)
"""
    got = f"SELECT doc_id, {', '.join(_ENTROPY_COLS)} FROM {_pq(res_path)}"
    wrong, n = _mismatches(con, got, ref, ["doc_id"], _ENTROPY_COLS, 1.5e-6)
    if wrong:
        return [f"entropy: {wrong} of {n} docs differ from SQL symbol counts"]
    return []


def _products(bands: dict[str, np.ndarray]) -> dict[str, np.ndarray]:
    """The four default zonal products, by their published formulas."""
    b, g, r, n = bands["blue"], bands["green"], bands["red"], bands["nir"]
    with np.errstate(divide="ignore", invalid="ignore"):
        return {
            "ndvi": (n - r) / (n + r),
            "evi": 2.5 * (n - r) / (n + 6.0 * r - 7.5 * b + 1.0),
            "ndwi": (g - n) / (g + n),
            "msavi2": (2.0 * n + 1.0 - np.sqrt((2.0 * n + 1.0) ** 2 - 8.0 * (n - r))) / 2.0,
        }


def _inside(rings, lon: np.ndarray, lat: np.ndarray) -> np.ndarray:
    """Even-odd ray cast over every edge of every ring."""
    inside = np.zeros(lon.shape, dtype=bool)
    for ring in rings:
        pts = [(p["lon"], p["lat"]) for p in ring]
        for i, (x1, y1) in enumerate(pts):
            x2, y2 = pts[(i + 1) % len(pts)]
            if y1 == y2:
                continue
            crosses = ((y1 > lat) != (y2 > lat)) & (lon < x1 + (lat - y1) * (x2 - x1) / (y2 - y1))
            inside ^= crosses
    return inside


def zonal_reference(raster_pdf: pd.DataFrame, extents_pdf: pd.DataFrame) -> pd.DataFrame:
    """(extent_id, scene_id, band, count, min, max, mean, stddev, skew)
    for the default products over every extent, from the raw band chunks:
    nodata pixels masked, non-finite products written back as nodata and
    stored as float32, pixel centres ray-cast against the extent rings."""
    rows = []
    for (scene, _chunk), grp in raster_pdf.groupby(["scene_id", "chunk_id"], sort=False):
        first = grp.iloc[0]
        nd32 = float(np.float32(first["nodata"]))
        bands = {}
        for band, px in zip(grp["band"], grp["pixels"]):
            px = np.asarray(px, dtype=np.float64)
            bands[band] = np.where(px == nd32, np.nan, px)
        gt, w, h = list(first["gt"]), int(first["w"]), int(first["h"])
        lon = gt[0] + (np.arange(w) + int(first["x0"]) + 0.5) * gt[1]
        lat = gt[3] + (np.arange(h) + int(first["y0"]) + 0.5) * gt[5]
        lon, lat = np.meshgrid(lon, lat)
        lon, lat = lon.ravel(), lat.ravel()
        products = {
            p: np.where(np.isfinite(v), v, first["nodata"]).astype(np.float32).astype(np.float64)
            for p, v in _products(bands).items()
        }
        for eid, rings in zip(extents_pdf["extent_id"], extents_pdf["rings"]):
            inside = _inside(rings, lon, lat)
            if not inside.any():
                continue
            for p, v in products.items():
                v = v[inside & (v != nd32)]
                if v.size:
                    rows.append((eid, scene, p, v))
    out = []
    cat = {}
    for eid, scene, p, v in rows:
        cat.setdefault((eid, scene, p), []).append(v)
    for (eid, scene, p), parts in cat.items():
        v = np.concatenate(parts)
        n = v.size
        d = v - v.mean()
        m2, m3 = (d**2).mean(), (d**3).mean()
        out.append({
            "extent_id": eid, "scene_id": scene, "band": p, "count": n,
            "min": v.min(), "max": v.max(), "mean": v.mean(),
            "stddev": v.std(ddof=1) if n > 1 else None,
            "skew": m3 / m2**1.5 if m2 > 1e-12 else None,
        })
    return pd.DataFrame(out)


def check_zonal(con, ref: pd.DataFrame, res_path: str) -> list[str]:
    """zonal_stats over compute_products against ``zonal_reference``:
    counts exact, moments to a relative 1e-6."""
    con.register("zonal_ref", ref)
    cols = ["count", "min", "max", "mean", "stddev", "skew"]
    rel = " OR ".join(
        f'(g."{c}" IS NULL) <> (r."{c}" IS NULL) '
        f'OR abs(g."{c}" - r."{c}") > 1e-6 * greatest(1.0, abs(r."{c}"))'
        for c in cols
    )
    wrong, n = con.execute(
        f"""SELECT count(*) FILTER (WHERE g.extent_id IS NULL OR r.extent_id IS NULL OR {rel}),
                   count(*)
            FROM {_pq(res_path)} g FULL OUTER JOIN zonal_ref r
            ON g.extent_id = r.extent_id AND g.scene_id = r.scene_id AND g.band = r.band"""
    ).fetchone()
    if wrong:
        return [f"zonal: {wrong} of {n} (extent, scene, product) rows differ from numpy"]
    return []
