"""Spatial join strategies — the engine's heart (SURVEY §2.3, §4.2).

All joins reduce to **cell-id equi-joins** that Catalyst/AQE can plan
(broadcast / shuffled-hash / sort-merge + AQE skew splitting), with
numpy-vectorized refinement UDFs where exact geometry is needed:

* ``point_in_tile_join``   — pure equi-join on the packed cell id.
* ``point_in_polygon_join``— filter-refine: polygon → covering cells
  (bbox from geo.go:298-321 semantics) → equi-join → exact ray-cast.
* ``knn_join``             — exact kNN, one path per refs shape: refs
  that fit a broadcast (≤200k rows) run the shuffle-free numpy search
  (``knn_join_np``); all others run the grid join on neighbor blocks
  with *provable* completeness: zoom escalates until the k-th distance
  is below the guaranteed-covered radius.
* ``distance_join``        — range variant (dist ≤ r) of the grid join.
* ``salt_hot_cells``       — explicit skew handling: histogram the cell
  key, salt the heavy hitters, explode the dim side (north rule).

Scale notes (100 TB / 10^12 rows): the fact side is only ever touched by
narrow column expressions (cell encode is JVM-native, no Python) plus
ONE shuffle per join on the cell key; dim sides (tiles/polygons/refs)
broadcast when small.  Skew is handled by AQE plus explicit salting for
pathological urban cells.  No driver-side collect of fact data — only
cell histograms (bounded by distinct-cell count) and dim tables.
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window
from pyspark.storagelevel import StorageLevel

from xutil_spark.functions import native

# ---------------------------------------------------------------------------


def with_cell(points: DataFrame, zoom: int, lon: str = "lon", lat: str = "lat",
              out: str = "cell") -> DataFrame:
    """Attach the packed cell id (JVM-native expression, codegen'd)."""
    return points.withColumn(out, native.cell(lon, lat, zoom))


def point_in_tile_join(
    points: DataFrame,
    tiles: DataFrame,
    zoom: int,
    how: str = "inner",
    broadcast_tiles: bool = True,
    lon: str = "lon",
    lat: str = "lat",
) -> DataFrame:
    """Assign each point its containing tile: equi-join on cell id.

    The tile dim carries ``cell``; points get cells via the native
    expression.  Tile containment IS cell equality (both sides use the
    same floor semantics, gis.go:262-267), so no refinement is needed —
    output rows match the reference's ``Wgs2Tile`` assignments exactly.
    """
    pts = with_cell(points, zoom, lon, lat)
    dim = F.broadcast(tiles) if broadcast_tiles else tiles
    return pts.join(dim, on="cell", how=how)


# ---------------------------------------------------------------------------


def _pip_refine_udf():
    """Vectorized PiP predicate: groups each Arrow batch by wkt so every
    distinct polygon is parsed once and ray-cast over all its candidate
    points in a single numpy call (zero per-row Python)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    from xutil_spark.kernels import geometry as K_geom

    def refine(lon, lat, wkt):
        out = np.zeros(len(lon), dtype=bool)
        lonv = lon.to_numpy(np.float64)
        latv = lat.to_numpy(np.float64)
        codes, uniq = pd.factorize(wkt)
        for u_idx, w in enumerate(uniq):
            m = codes == u_idx
            g = K_geom.from_wkt(w)
            out[m] = K_geom.point_in_geo(lonv[m], latv[m], g)
        return pd.Series(out)

    # real class annotations: the module's `from __future__ import
    # annotations` would stringify inline hints, which pandas_udf rejects
    refine.__annotations__ = {"lon": pd.Series, "lat": pd.Series,
                              "wkt": pd.Series, "return": pd.Series}
    return pandas_udf(refine, "boolean")


def point_in_polygon_join(
    points: DataFrame,
    polygons: DataFrame,
    zoom: int = 12,
    poly_id: str = "poly_id",
    wkt: str = "wkt",
    broadcast_polys: bool = True,
    lon: str = "lon",
    lat: str = "lat",
) -> DataFrame:
    """Filter-refine point-in-polygon join.

    Phase 1 (filter): polygons explode to their bbox covering cells at
    ``zoom`` (coarse quadtree cover); points take the cell at the same
    zoom; equi-join on cell — broadcastable, prunable, AQE-skew-safe.
    Phase 2 (refine): exact even-odd ray-cast (numpy, batch-grouped by
    polygon) removes bbox false positives.

    Zoom picks the filter selectivity: higher zoom → more dim rows,
    fewer refine candidates.  For 100 TB the dim explosion is bounded by
    (polygon bbox area / tile area) × n_polygons.
    """
    from xutil_spark.functions import geo_udfs

    cover = polygons.withColumn(
        "cell",
        F.explode(geo_udfs.wkt_covering_cells(F.col(wkt), F.lit(zoom))),
    )
    pts = with_cell(points, zoom, lon, lat)
    dim = F.broadcast(cover) if broadcast_polys else cover
    cand = pts.join(dim, on="cell", how="inner")
    refine = _pip_refine_udf()
    return cand.filter(refine(F.col(lon), F.col(lat), F.col(wkt))).drop("cell")


# ---------------------------------------------------------------------------

_M_PER_DEG_LAT = 110574.0  # conservative meters per degree of latitude


def _explode_neighbors(df: DataFrame, cell_col: Column, zoom: int, ring: int,
                       out: str = "_ncell") -> DataFrame:
    """Expand each row to its (2r+1)² neighbor cells: two generators over
    constant offset sequences, then ONE tiny cell expression per exploded
    row.  Building the block as a single array of (2r+1)² deep expression
    trees blows past the codegen method limit and drops the whole stage
    to interpreted mode (measured 8× slower at ring=2); the generator
    form keeps every projection small enough to stay JIT-compiled.

    x wraps mod 2^z (antimeridian); out-of-range y rows are dropped —
    there are no tiles beyond the poles, so this yields exactly the
    clamp+``array_distinct`` candidate set without the duplicates.

    When 2*ring+1 ≥ 2^zoom the pmod wrap would map distinct dx offsets
    to the same cell (duplicate candidate pairs → duplicate top-k ranks);
    the dx range is clamped to exactly the 2^zoom distinct residues."""
    n = 2 ** zoom
    dx_lo, dx_hi = (0, n - 1) if 2 * ring + 1 >= n else (-ring, ring)
    n_axis = F.lit(n).cast("long")
    return (
        df.withColumn("_dx", F.explode(F.sequence(F.lit(dx_lo), F.lit(dx_hi))))
        .withColumn("_dy", F.explode(F.sequence(F.lit(-ring), F.lit(ring))))
        .withColumn("_ny", native.cell_y(cell_col) + F.col("_dy"))
        .filter((F.col("_ny") >= 0) & (F.col("_ny") < n_axis))
        .withColumn(
            out,
            native.cell_from_xy(
                F.pmod(native.cell_x(cell_col) + F.col("_dx"), n_axis),
                F.col("_ny"),
                zoom,
            ),
        )
        .drop("_dx", "_dy", "_ny")
    )


_M_PER_DEG_HAV = 111194.9  # π/180 × 6,371,000 — meters/deg under our haversine
_R_HAV = 6371000.0  # sphere radius shared with the haversine kernels

# fitted-grid density target: ~this×k refs per cell (3×3 block ≈ 9×
# this×k candidates per point).  Lower = fewer haversine pairs but more
# ring-guarantee stragglers falling to m×R brute force; 2.0 measured
# best on 2k-ref/800k-point shapes (sweep in round-4 notes), exactness
# is grid-independent (guarantee + straggler pass).
_KNN_CELL_TARGET_K = 2.0


def _refs_with_cell(refs: DataFrame, zoom: int, ref_id: str, ref_lon: str,
                    ref_lat: str) -> tuple[DataFrame, list[str]]:
    """Refs dim prepared for a grid join: coords renamed to private
    names, cell attached, every OTHER column (payload like category /
    nation) carried through so kNN outputs can be aggregated without a
    re-join."""
    extras = [c for c in refs.columns if c not in (ref_id, ref_lon, ref_lat)]
    sel = (
        [F.col(ref_id)]
        + [F.col(c) for c in extras]
        + [F.col(ref_lon).alias("_rlon"), F.col(ref_lat).alias("_rlat")]
    )
    return with_cell(refs.select(*sel), zoom, "_rlon", "_rlat", out="_rcell"), extras


def _ring_guarantee_m(zoom: int, ring: int, max_abs_lat: float = 60.0) -> float:
    """Static lower bound on the distance from any point in the center
    cell to the nearest *unsearched* cell beyond ``ring`` (used by
    distance_join's ring sizing).  Conservative (worst latitude).
    The longitude direction uses the exact cross-track minimum
    R·asin(cosφ·sin(Δλ)) rather than the linear Δλ·cosφ·m/deg form —
    the linear bound exceeds the true haversine minimum once
    ring·span is wide (e.g. zoom ≤ 2), which would overstate how far
    the unsearched region is."""
    span_deg = 360.0 / (2 ** zoom)
    if 2 * ring + 1 >= 2 ** zoom:
        # the block covers every cell on both axes — nothing is
        # unsearched, so any radius is guaranteed
        return float("inf")
    dl = math.radians(min(ring * span_deg, 90.0))
    gx = _R_HAV * math.asin(math.cos(math.radians(max_abs_lat)) * math.sin(dl))
    phi_far = min(max_abs_lat + (ring + 1) * span_deg, 85.06)
    gy = ring * span_deg * _M_PER_DEG_HAV * math.cos(math.radians(phi_far))
    return 0.5 * min(gx, gy)


def _ring_guarantee_expr(lat_col: Column, zoom: int, ring: int = 1) -> Column:
    """PER-POINT guarantee: the searched block spans ``ring`` full tiles
    beyond the point's cell in every direction.  Longitude direction:
    the exact cross-track minimum R·asin(cos|φ|·sin(ring·span)) — a
    true lower bound at ANY latitude and span (the linear
    span·cosφ_far·m/deg form both overshoots wide spans and, with the
    φ_far cap at 85°, inflates above the true minimum for |φ| > 85°).
    Latitude direction: in Web-Mercator a tile's latitude span at
    latitude φ is ≥ span_lon·cos(φ_far) for any φ_far ≥ the block's
    farthest |latitude|, and a meridional arc lower-bounds haversine —
    so ring·span·cos(φ_far)·m_per_deg holds.  The binding direction is
    the minimum.  Much tighter than the static cos(60°) bound at low
    latitudes → most points resolve in round 1."""
    span = 360.0 / (2 ** zoom)
    dl = math.radians(min(ring * span, 90.0))
    gx = F.lit(_R_HAV) * F.asin(F.cos(F.radians(F.abs(lat_col)))
                                * F.lit(math.sin(dl)))
    # cap at the Web-Mercator tile limit (85.051°), rounded UP so the
    # cos stays a lower bound for rows hugging the limit
    phi_far = F.least(F.abs(lat_col) + F.lit((ring + 1) * span), F.lit(85.06))
    gy = (
        F.lit(float(ring * span * _M_PER_DEG_HAV))
        * F.cos(F.radians(phi_far))
    )
    return F.least(gx, gy)


_KNN_MAX_ZOOM = 14  # finest starting zoom pick_knn_zoom considers


def pick_knn_zoom(refs: DataFrame, k: int,
                  ref_lon: str = "lon", ref_lat: str = "lat") -> int:
    """Choose the starting zoom so a 3×3 block holds ~2k refs on
    average: one tiny aggregation on the (dim-sized) refs table.  Too
    fine a grid wastes escalation rounds; too coarse floods the window
    with candidates."""
    row = refs.agg(
        F.min(ref_lon).alias("lo1"), F.max(ref_lon).alias("lo2"),
        F.min(ref_lat).alias("la1"), F.max(ref_lat).alias("la2"),
        F.count(F.lit(1)).alias("n"),
    ).collect()[0]
    n = max(int(row["n"]), 1)
    dlon = max(float(row["lo2"]) - float(row["lo1"]), 1e-6)
    dlat = max(float(row["la2"]) - float(row["la1"]), 1e-6)
    for z in range(_KNN_MAX_ZOOM, 0, -1):
        tiles_x = max(dlon / (360.0 / 2 ** z), 1.0)
        tiles_y = max(dlat / (360.0 / 2 ** z), 1.0)  # ~lat span below 60°
        if 9.0 * n / (tiles_x * tiles_y) >= 2.0 * k:
            return z
    return 1


def knn_join_np(
    points: DataFrame,
    refs: DataFrame,
    k: int,
    point_id: str = "image_id",
    ref_id: str = "ref_id",
    lon: str = "lon",
    lat: str = "lat",
    ref_lon: str = "lon",
    ref_lat: str = "lat",
) -> DataFrame:
    """Exact kNN against a **dim-sized** refs table with ZERO shuffles.

    The refs collect to numpy arrays captured in the task closure
    (broadcast semantics — a few MB shipped once per worker).  Inside
    each Arrow batch the search is a **numpy grid index**, not brute
    force: refs are pre-sorted by cell of a bbox-fitted nx×ny grid
    (density targeted at ~2k refs/cell — see ``knn_searcher``), each
    point gathers the candidates of its 3×3 neighbor block via
    ``searchsorted`` range expansion (no Python loops), distances run
    over the flat candidate pair list, and a per-point guarantee — k-th
    distance ≤ the block's covered radius — proves exactness; the rare
    stragglers fall back to a vectorized brute-force pass.  ~100× fewer
    haversine evals than brute force at 2k refs.

    No explode, no join, no window: the points side streams through
    ``mapInPandas`` embarrassingly parallel, so this is both the fastest
    AND the best-scaling strategy whenever refs fit a broadcast.

    Tie order matches the grid/window path exactly: rank by
    ``(round(dist_m, 3), ref_id)`` via a strictly-ordered composite
    int64 key (mm-rounded dist · n_refs + ref_index; refs pre-sorted by
    id).  The haversine replicates ``native.haversine_m``'s float64
    operation order.
    """
    import numpy as np

    rid, rlon, rlat, rextra, extras = _collect_refs(refs, ref_id, ref_lon, ref_lat)
    n_refs = len(rid)
    # explicit sc.broadcast instead of task-closure pickling: the refs
    # arrays ship to each executor ONCE (torrent), not once per task —
    # at 200k refs × thousands of tasks that is the difference between
    # MBs and GBs over the wire
    bc = points.sparkSession.sparkContext.broadcast((rid, rlon, rlat, rextra))

    from pyspark.sql.types import DoubleType, IntegerType, StructField, StructType

    out_schema = StructType(
        list(points.schema.fields)
        + [StructField(ref_id, refs.schema[ref_id].dataType, True)]
        + [StructField(c, refs.schema[c].dataType, True) for c in extras]
        + [
            StructField("dist_m", DoubleType(), True),
            StructField("rank", IntegerType(), False),
        ]
    )

    def topk_batches(it):
        import pandas as pd

        rid_b, rlon_b, rlat_b, rextra_b = bc.value
        # index build (argsort + cell encode) is O(refs log refs) numpy,
        # amortized once per task over all its Arrow batches
        search = knn_searcher(rlon_b, rlat_b, k)
        for pdf in it:
            if len(pdf) == 0 or n_refs == 0:
                continue
            plon = pdf[lon].to_numpy(np.float64)
            plat = pdf[lat].to_numpy(np.float64)
            rows, ridx, d, rank = search(plon, plat)
            # column-wise numpy gather: pdf.iloc[rows] fancy-indexes the
            # whole frame through pandas (measured ~3× slower at ~1M
            # output rows than per-column take on the numpy arrays)
            data = {c: pdf[c].to_numpy()[rows] for c in pdf.columns}
            data[ref_id] = rid_b[ridx]
            for c in extras:
                data[c] = rextra_b[c][ridx]
            data["dist_m"] = d
            data["rank"] = rank
            yield pd.DataFrame(data)

    # a small-file scan yields few splits and would cap the search
    # parallelism (measured 8 tasks on 32 cores → 2× wall); one cheap
    # rebalance of the (narrow) points projection fixes it.  At cluster
    # scale the scan already has enough splits and this is a no-op.
    src = points
    par = points.sparkSession.sparkContext.defaultParallelism
    if src.rdd.getNumPartitions() < par:
        src = src.repartition(par)
    return src.mapInPandas(topk_batches, schema=out_schema)


def _collect_refs(refs: DataFrame, ref_id: str, ref_lon: str, ref_lat: str):
    """Collect a dim-sized refs table to numpy, id-sorted (tie order)."""
    import numpy as np

    extras = [c for c in refs.columns if c not in (ref_id, ref_lon, ref_lat)]
    ref_pd = refs.toPandas().sort_values(ref_id, kind="stable")
    rid = ref_pd[ref_id].to_numpy()
    rlon = ref_pd[ref_lon].to_numpy(np.float64)
    rlat = ref_pd[ref_lat].to_numpy(np.float64)
    rextra = {c: ref_pd[c].to_numpy() for c in extras}
    return rid, rlon, rlat, rextra, extras


def knn_searcher(rlon, rlat, k: int):
    """Build the in-worker exact-kNN search function over a collected
    refs array (the numpy grid index described in ``knn_join_np``).

    Returns ``search(plon, plat) -> (pt_rows, ref_idx, dist_m, rank)``
    with flat int/float arrays — reusable both by ``knn_join_np`` and
    by fused whole-pipeline operators (operators/fused.py).

    Round-4 index: a bbox-FITTED nx×ny grid replaces power-of-2 slippy
    tiles.  The tile version could only step candidate density in 4×
    jumps, so the "≥ 3k refs per cell" rule routinely landed ~4× over
    target (measured 264 candidates/point at the 2k-ref bench shape
    where ~30 satisfies the ring guarantee); fitting nx·ny to
    n_refs / max(3k, 8) over the refs' own bounding box hits the
    target density exactly — ~3× fewer haversine pairs, same exact
    output (the ring-1 guarantee + straggler brute force make the
    result independent of the grid).  Ref-side trig is precomputed
    once per searcher, point-side cos once per chunk (they were being
    recomputed per PAIR).  Refs spanning >180° of longitude fall back
    to brute force (the fitted grid does not wrap the antimeridian)."""
    import numpy as np

    n_refs = len(rlon)
    kk = min(k, n_refs)
    rad = math.pi / 180.0
    two_r = 2.0 * 6371000.0
    rlat_rad = np.asarray(rlat, dtype=np.float64) * rad
    rcos = np.cos(rlat_rad)

    # grid fit (pure numpy on the collected dim — no Spark job)
    use_grid = n_refs >= 16 * kk
    if use_grid:
        lon0, lat0 = float(rlon.min()), float(rlat.min())
        dlon_span = max(float(rlon.max()) - lon0, 1e-9)
        dlat_span = max(float(rlat.max()) - lat0, 1e-9)
        if dlon_span > 180.0:
            use_grid = False  # antimeridian-spanning refs: brute force
    if use_grid:
        target_cells = n_refs / max(_KNN_CELL_TARGET_K * kk, 8.0)
        nx = max(1, int(round(math.sqrt(target_cells * dlon_span / dlat_span))))
        ny = max(1, int(round(target_cells / nx)))
        span_x = dlon_span / nx
        span_y = dlat_span / ny
        rcx = np.clip(((rlon - lon0) / span_x).astype(np.int64), 0, nx - 1)
        rcy = np.clip(((rlat - lat0) / span_y).astype(np.int64), 0, ny - 1)
        rcell = rcx * ny + rcy
        rorder = np.argsort(rcell, kind="stable")  # id order within a cell
        rcell_s = rcell[rorder]

    def hav(plon, plat, pcos, qlon, qlat, qcos):
        """Haversine between broadcastable point / ref arrays; cos(lat)
        of both endpoints pre-computed (same float64 expression order
        as ``native.haversine_m`` — cos values are identical doubles,
        so distances are bit-identical)."""
        dlat = (qlat - plat) * rad
        dlon = (qlon - plon) * rad
        a = (
            np.sin(dlat / 2) * np.sin(dlat / 2)
            + np.sin(dlon / 2) * np.sin(dlon / 2) * pcos * qcos
        )
        return two_r * np.arctan2(np.sqrt(a), np.sqrt(1.0 - a))

    def topk_grid(plon, plat, pcos):
        """Returns ((pt_rows, ref_idx, dist_m, rank) of the resolved
        points, straggler_mask)."""
        b = len(plon)
        px = np.clip(((plon - lon0) / span_x).astype(np.int64), 0, nx - 1)
        py = np.clip(((plat - lat0) / span_y).astype(np.int64), 0, ny - 1)
        pcell = px * ny + py
        ucell, uinv = np.unique(pcell, return_inverse=True)
        un = len(ucell)
        ux, uy = ucell // ny, ucell % ny
        # 3×3 block ranges into the cell-sorted refs (both axes clip —
        # the fitted grid has no wrap, so no duplicate candidates)
        los = np.empty((un, 9), dtype=np.int64)
        his = np.empty((un, 9), dtype=np.int64)
        col = 0
        for dx in (-1, 0, 1):
            mx = ux + dx
            okx = (mx >= 0) & (mx < nx)
            for dy in (-1, 0, 1):
                my = uy + dy
                ok = okx & (my >= 0) & (my < ny)
                ncell = np.where(ok, mx * ny + my, -1)
                los[:, col] = np.searchsorted(rcell_s, ncell, side="left")
                his[:, col] = np.searchsorted(rcell_s, ncell, side="right")
                col += 1
        lens = (his - los).ravel()
        blk_cnt = lens.reshape(un, 9).sum(axis=1)
        # CSR-expand the (lo, hi) ranges into flat sorted-ref indices,
        # grouped contiguously per unique cell
        tot = int(lens.sum())
        if tot == 0:
            return None, np.ones(b, dtype=bool)
        seg0 = np.concatenate(([0], np.cumsum(lens)))[:-1]
        rflat = np.repeat(los.ravel(), lens) + (np.arange(tot) - np.repeat(seg0, lens))
        ucum = np.concatenate(([0], np.cumsum(blk_cnt)))
        # pair list: points grouped by cell × their block's candidates
        porder = np.argsort(uinv, kind="stable")
        b_per_pt = blk_cnt[uinv[porder]]
        n_pairs = int(b_per_pt.sum())
        pair_pt = np.repeat(porder, b_per_pt)
        pcum = np.concatenate(([0], np.cumsum(b_per_pt)))[:-1]
        pair_off = np.arange(n_pairs) - np.repeat(pcum, b_per_pt)
        pair_ref = rorder[rflat[np.repeat(ucum[uinv[porder]], b_per_pt) + pair_off]]
        d = hav(plon[pair_pt], plat[pair_pt], pcos[pair_pt],
                rlon[pair_ref], rlat[pair_ref], rcos[pair_ref])
        key = np.rint(np.round(d, 3) * 1000.0).astype(np.int64) * n_refs + pair_ref
        o = np.lexsort((key, pair_pt))
        spt, sref, sd = pair_pt[o], pair_ref[o], d[o]
        first = np.empty(n_pairs, dtype=bool)
        first[0] = True
        first[1:] = spt[1:] != spt[:-1]
        seg_id = np.cumsum(first) - 1
        seg_start = np.flatnonzero(first)
        pos = np.arange(n_pairs) - seg_start[seg_id]
        cnt = np.zeros(b, dtype=np.int64)
        cnt_seg = np.diff(np.concatenate((seg_start, [n_pairs])))
        cnt[spt[seg_start]] = cnt_seg
        kth_d = np.full(b, np.inf)
        at_k = pos == (kk - 1)
        kth_d[spt[at_k]] = sd[at_k]
        # ring-1 guarantee: every unsearched ref is ≥ one cell span
        # away in lon OR lat.  lat: d ≥ R·span_y (meridional arc is a
        # true lower bound on haversine).  lon: the linear
        # span_x·cosφ·m/deg bound OVERSHOOTS the haversine for wide
        # cells (at span_x=90°, φ=60° it reads 5.00e6 m where the true
        # minimum is 4.61e6 m), so use the exact min distance from the
        # point to the meridian band Δλ ≥ span_x — the cross-track
        # R·asin(cosφ·sin(Δλ)), flat beyond Δλ=90° where the nearest
        # unsearched point is the pole.
        sx = math.sin(min(span_x, 90.0) * rad)
        gx = _R_HAV * np.arcsin(np.cos(plat * rad) * sx)
        guarantee = np.minimum(gx, _M_PER_DEG_HAV * span_y)
        resolved = (cnt >= kk) & (kth_d <= guarantee)
        take = (pos < kk) & resolved[spt]
        return (spt[take], sref[take], sd[take], pos[take] + 1), ~resolved

    def brute(plon, plat, pcos):
        """Vectorized brute-force top-k for m stragglers (m×R)."""
        d = hav(plon[:, None], plat[:, None], pcos[:, None],
                rlon[None, :], rlat[None, :], rcos[None, :])
        key = (
            np.rint(np.round(d, 3) * 1000.0).astype(np.int64) * n_refs
            + np.arange(n_refs, dtype=np.int64)[None, :]
        )
        sel = np.argpartition(key, kk - 1, axis=1)[:, :kk]
        order = np.argsort(np.take_along_axis(key, sel, axis=1), axis=1, kind="stable")
        idx = np.take_along_axis(sel, order, axis=1)
        rows = np.repeat(np.arange(len(plon)), kk)
        return rows, idx.ravel(), d[rows, idx.ravel()]

    def _search_chunk(plon, plat):
        """(pt_rows, ref_idx, dist_m, rank) for one point chunk — exact."""
        if len(plon) == 0 or n_refs == 0:
            z = np.empty(0, dtype=np.int64)
            return z, z, np.empty(0), z
        pcos = np.cos(plat * rad)
        if not use_grid:
            rows, ridx, d = brute(plon, plat, pcos)
            return rows, ridx, d, np.tile(np.arange(1, kk + 1), len(plon))
        parts = []
        grid_out, straggler = topk_grid(plon, plat, pcos)
        if grid_out is not None:
            parts.append(grid_out)
        sidx = np.flatnonzero(straggler)
        if len(sidx):
            rows, ridx, d = brute(plon[sidx], plat[sidx], pcos[sidx])
            parts.append(
                (sidx[rows], ridx, d, np.tile(np.arange(1, kk + 1), len(sidx)))
            )
        return tuple(np.concatenate(cols) for cols in zip(*parts))

    # Point-chunked driver: the grid pass builds a pair list (points ×
    # 3×3-block candidates) and the straggler pass an m×R distance
    # matrix — both linear in FLOPs but, over a 16k-row Arrow batch,
    # their temporaries run to hundreds of MB per task and the
    # allocator/cache churn dominates (measured 2.2× on search alone,
    # and far worse with 32 workers contending for bandwidth).  A fixed
    # ~1k-point chunk keeps every temporary cache-sized regardless of
    # the Arrow batch size the session happens to use; per-point
    # results are independent, so output rows are identical.
    CHUNK = 1024

    def search(plon, plat):
        """(pt_rows, ref_idx, dist_m, rank) for the batch — exact."""
        b = len(plon)
        if b <= CHUNK:
            return _search_chunk(plon, plat)
        parts = []
        for s in range(0, b, CHUNK):
            rows, ridx, d, rank = _search_chunk(plon[s:s + CHUNK], plat[s:s + CHUNK])
            parts.append((rows + s, ridx, d, rank))
        return tuple(np.concatenate(cols) for cols in zip(*parts))

    return search


def knn_join(
    points: DataFrame,
    refs: DataFrame,
    k: int,
    zoom: int | str = 12,
    point_id: str = "image_id",
    ref_id: str = "ref_id",
    broadcast_refs: bool = True,
    lon: str = "lon",
    lat: str = "lat",
    ref_lon: str = "lon",
    ref_lat: str = "lat",
    strategy: str = "auto",
) -> DataFrame:
    """Exact k-nearest-neighbor grid join with quadtree zoom escalation.

    Round r searches the 3×3 neighbor block at zoom ``zoom - r`` — the
    hierarchical cell id makes coarsening pure bit arithmetic, so each
    round quadruples the search radius with a constant-size (9-cell)
    block instead of an exploding (2r+1)² ring.  Distances use native
    haversine (gis.go:195-206); per-point top-k via window with
    (mm-rounded dist, ref_id) deterministic ordering.

    A point RESOLVES when it has ≥ k candidates AND its k-th distance is
    ≤ the round's guaranteed-covered radius — provably equal to brute
    force.  At zoom 0 the block covers the whole world → termination and
    exactness are unconditional (≤ zoom+1 rounds); once remaining × refs
    ≤ 50M pairs of broadcast refs, the tail is brute-forced in one
    round.  ``remaining`` is localCheckpoint'ed per round to keep the
    plan lineage flat.

    Output: point columns + (ref_id, dist_m, rank 1..k); an empty input
    gives an empty frame of that schema.

    ``strategy``: "auto" sends broadcastable refs of ≤200k rows to the
    shuffle-free numpy path (``knn_join_np``) and all other refs to the
    escalation loop here; "grid" forces the loop.
    """
    if strategy not in ("auto", "grid"):
        raise ValueError(f"unknown knn strategy {strategy!r}")
    if strategy == "auto" and broadcast_refs and refs.count() <= 200_000:
        return knn_join_np(points, refs, k, point_id, ref_id,
                           lon, lat, ref_lon, ref_lat)
    if zoom == "auto":
        zoom = pick_knn_zoom(refs, k, ref_lon, ref_lat)
    brute_budget = 50_000_000  # straggler pairs worth one broadcast join
    refs_c, extras = _refs_with_cell(refs, zoom, ref_id, ref_lon, ref_lat)
    refs_dim = F.broadcast(refs_c) if broadcast_refs else refs_c

    pts = with_cell(points, zoom, lon, lat, out="_pcell")

    # materialize the input ONCE: the escalation loop (and the final
    # union) would otherwise re-execute the full upstream DAG — decode
    # UDFs, joins — once per round
    remaining = pts.localCheckpoint()
    n_remaining = remaining.count()
    n_refs: int | None = None
    resolved_parts: list[DataFrame] = []
    out_cols = list(points.columns) + [ref_id] + extras + ["dist_m", "rank"]
    w = Window.partitionBy(point_id).orderBy(
        F.round(F.col("dist_m"), 3).asc(), F.col(ref_id).asc()
    )

    def topk(cand: DataFrame) -> DataFrame:
        return (
            cand.withColumn(
                "dist_m",
                native.haversine_m(F.col(lon), F.col(lat), F.col("_rlon"), F.col("_rlat")),
            )
            .withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
        )

    for zoom_r in range(zoom, 0, -1):
        if n_remaining == 0:
            break
        # straggler cutoff: once remaining×refs fits one broadcast join,
        # brute-force the tail exactly instead of walking zoom levels —
        # collapses the long escalation tail into a single stage
        if n_refs is None:
            n_refs = refs_c.count()
        if broadcast_refs and n_remaining * n_refs <= brute_budget:
            break
        cand = _explode_neighbors(
            remaining,
            native.cell_parent(F.col("_pcell"), zoom, zoom_r),
            zoom_r,
            1,
        ).join(
            refs_dim,
            F.col("_ncell") == native.cell_parent(F.col("_rcell"), zoom, zoom_r),
            "inner",
        )
        # _kth is null iff the point has < k candidates, so one window
        # column does both the completeness and the guarantee check
        kth = F.max(F.when(F.col("rank") == k, F.col("dist_m"))).over(
            Window.partitionBy(point_id)
        )
        # checkpoint the round's resolved rows: they're consumed twice
        # (anti-join ids + final union) — without this every round's
        # window re-executes at the final action
        done = topk(cand).withColumn("_kth", kth).filter(
            F.col("_kth") <= _ring_guarantee_expr(F.col(lat), zoom_r, 1)
        ).select(*out_cols).localCheckpoint()
        resolved_parts.append(done)
        done_ids = done.select(point_id).distinct()
        remaining = remaining.join(done_ids, on=point_id, how="left_anti").localCheckpoint()
        n_remaining = remaining.count()

    if n_remaining or not resolved_parts:
        # the tail, brute-forced (zoom 0's block is the whole world).
        # On an empty input this is a lazy plan over zero rows: the
        # output schema, no extra Spark job
        resolved_parts.append(
            topk(remaining.join(refs_dim, F.lit(True), "inner")).select(*out_cols)
        )
    out = resolved_parts[0]
    for part in resolved_parts[1:]:
        out = out.unionByName(part)
    return out


def distance_join(
    points: DataFrame,
    refs: DataFrame,
    radius_m: float,
    zoom: int = 12,
    point_id: str = "image_id",
    ref_id: str = "ref_id",
    broadcast_refs: bool = True,
    lon: str = "lon",
    lat: str = "lat",
    ref_lon: str = "lon",
    ref_lat: str = "lat",
) -> DataFrame:
    """All (point, ref) pairs with haversine ≤ radius_m.

    Ring radius derives from the radius: cells within
    ``ceil(radius / ring_guarantee(1))`` rings are provably sufficient.
    """
    ring = 1
    while _ring_guarantee_m(zoom, ring) < radius_m:
        ring += 1
        if ring > 64:
            raise ValueError("radius too large for this zoom; lower the zoom")
    refs_c, _extras = _refs_with_cell(refs, zoom, ref_id, ref_lon, ref_lat)
    refs_dim = F.broadcast(refs_c) if broadcast_refs else refs_c
    # the (2r+1)²-way explode inherits the scan's split count; a small
    # scan (few splits) would serialize the join — rebalance first
    # (no-op when the scan already has ≥ defaultParallelism splits)
    src = points
    par = points.sparkSession.sparkContext.defaultParallelism
    if src.rdd.getNumPartitions() < par:
        src = src.repartition(par)
    pts = with_cell(src, zoom, lon, lat, out="_pcell")
    return (
        _explode_neighbors(pts, F.col("_pcell"), zoom, ring)
        .join(refs_dim, F.col("_ncell") == F.col("_rcell"), "inner")
        .withColumn(
            "dist_m",
            native.haversine_m(F.col(lon), F.col(lat), F.col("_rlon"), F.col("_rlat")),
        )
        .filter(F.col("dist_m") <= radius_m)
        .drop("_ncell", "_rcell", "_rlon", "_rlat", "_pcell")
    )


# ---------------------------------------------------------------------------


def salt_hot_cells(
    points: DataFrame,
    dim: DataFrame,
    salt: int = 8,
    hot_threshold: int | None = None,
    cell_col: str = "cell",
    id_col: str = "image_id",
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Explicit skew handling for cell equi-joins (north rule).

    1. Histogram the fact side's cell key (map-side combined count).
    2. Cells above ``hot_threshold`` (default: 20× the mean) are HOT.
    3. Fact rows in hot cells get ``_salt = pmod(hash(id), salt)``;
       others get 0.
    4. Dim rows for hot cells are exploded ×salt; others keep salt 0.

    Returns (salted_points, salted_dim, hot_cells_df) — join the first
    two on the COMPOSITE key ``[cell, _salt]`` (packing cell and salt
    into one int64 would overflow: zoom bits occupy 58-62).  AQE's
    skew-join handles moderate skew on its own; this targets the
    pathological urban-cell head where one key exceeds a task.
    """
    hist = points.groupBy(cell_col).count()
    if hot_threshold is None:
        stats = hist.agg(F.avg("count").alias("avg")).collect()[0]
        hot_threshold = max(int((stats["avg"] or 0) * 20), 1000)
    hot = hist.filter(F.col("count") >= hot_threshold).select(
        cell_col, F.lit(True).alias("_hot")
    )
    pts = (
        points.join(F.broadcast(hot), on=cell_col, how="left")
        .withColumn(
            "_salt",
            F.when(F.col("_hot").isNotNull(),
                   F.pmod(F.hash(F.col(id_col)), F.lit(salt)).cast("long"))
            .otherwise(F.lit(0).cast("long")),
        )
        .drop("_hot")
    )
    dim_salted = (
        dim.join(F.broadcast(hot), on=cell_col, how="left")
        .withColumn(
            "_salt",
            F.explode(
                F.when(
                    F.col("_hot").isNotNull(),
                    F.array(*[F.lit(s).cast("long") for s in range(salt)]),
                ).otherwise(F.array(F.lit(0).cast("long")))
            ),
        )
        .drop("_hot")
    )
    return pts, dim_salted, hot


# ------------------------------------------------- clipped PiP (scale path)


def clip_polygons_to_cells(
    polygons: DataFrame,
    zoom: int,
    wkt: str = "wkt",
    frag: str = "frag_wkt",
) -> DataFrame:
    """Clip every polygon to each of its covering cells (Sutherland-
    Hodgman, kernels/geometry.clip_ring_bbox) → one (cell, fragment)
    row per non-empty intersection; all non-wkt columns pass through.

    Two properties make this the 100-TB polygon-join path:

    * cells whose bbox intersects but whose polygon doesn't DROP here
      (the plain cover keeps them and pays refine on their points);
    * each fragment carries only the edges near its tile, so the
      downstream ray-cast is O(edges in tile) per candidate instead of
      O(edges in polygon) — refine cost becomes independent of source
      polygon complexity (a 100k-vertex coastline refines as cheaply
      as a triangle).

    Runs as one ``mapInPandas`` over the polygon dim (dim-scale: output
    rows ≈ Σ polygon-area/tile-area).  Per polygon the clip DESCENDS a
    quadtree from the coarsest zoom whose bbox cover is ≤ 4 cells:
    each level clips the parent's already-clipped fragments (child ⊂
    parent ⇒ identical result), so a complex boundary pays its full
    edge count only at the top levels — O(E·log cells + Σ fragment
    edges) instead of O(E × cells), and empty branches prune whole
    subtrees.  Measured, 20k-vertex ring × 800k points at zoom 9:
    per-cell full clip 34s → descent 2.5s; the unclipped
    point_in_polygon_join takes 406s on the same input (BENCH.md).
    """
    import pandas as pd
    from pyspark.sql import types as T

    from xutil_spark.kernels import geometry as K_geom
    from xutil_spark.kernels import tiles as K_tiles

    keep = [f for f in polygons.schema.fields if f.name != wkt]
    keep_names = [f.name for f in keep]
    schema = T.StructType(keep + [
        T.StructField("cell", T.LongType(), False),
        T.StructField(frag, T.StringType(), False),
    ])

    def descend(rings, x, y, z, out):
        w_, s_, e_, n_ = (float(v) for v in K_tiles.cell_bounds(
            K_tiles.cell_pack(x, y, z)))
        sub = []
        for r in rings:
            c = K_geom.clip_ring_bbox(r, w_, s_, e_, n_)
            if c.shape[0] >= 3:
                sub.append(c)
        if not sub:
            return
        if z == zoom:
            out.append((int(K_tiles.cell_pack(x, y, z)), sub))
            return
        for dx in (0, 1):
            for dy in (0, 1):
                descend(sub, 2 * x + dx, 2 * y + dy, z + 1, out)

    def run(batches):
        for b in batches:
            rows: dict = {k: [] for k in keep_names}
            cells: list = []
            frs: list = []
            for r in b.to_dict("records"):
                g = K_geom.from_wkt(r[wkt])
                all_rings = [rg for poly in K_geom.polygon_rings(g)
                             for rg in poly]
                # coarsest ancestor level with a <=4-cell bbox cover, so
                # the expensive full-edge clips happen at most ~4x per
                # level.  The level is derived from the corner tile
                # coords at the TARGET zoom by binary shifts (tile x at
                # z = tile x at zoom >> (zoom-z)) — materializing the
                # full covering list per candidate level would allocate
                # O(cells) (10^5-10^6 for a country at z12) just to
                # take len().
                minx, miny, maxx, maxy = K_geom.geo_box(g)
                cl = 85.05112878
                n_ax = 1 << zoom
                tx1, ty1 = K_tiles.wgs2tile(
                    np.float64(minx), np.float64(max(min(maxy, cl), -cl)),
                    zoom)
                tx2, ty2 = K_tiles.wgs2tile(
                    np.float64(maxx), np.float64(max(min(miny, cl), -cl)),
                    zoom)
                tx1 = int(np.clip(tx1, 0, n_ax - 1))
                tx2 = int(np.clip(tx2, 0, n_ax - 1))
                ty1 = int(np.clip(ty1, 0, n_ax - 1))
                ty2 = int(np.clip(ty2, 0, n_ax - 1))
                z0 = zoom
                while z0 > 0:
                    sh = zoom - z0
                    cnt = (((tx2 >> sh) - (tx1 >> sh) + 1)
                           * ((ty2 >> sh) - (ty1 >> sh) + 1))
                    if cnt <= 4:
                        break
                    z0 -= 1
                frags: list = []
                for cell in K_geom.covering_cells(g, z0):
                    x, y, _ = (int(v) for v in K_tiles.cell_decode(cell))
                    descend(all_rings, x, y, z0, frags)
                for cell, rings in frags:
                    fw = K_geom.to_wkt({
                        "type": "Polygon",
                        "coords": [[rg.tolist() for rg in rings]],
                    })
                    for k in keep_names:
                        rows[k].append(r[k])
                    cells.append(cell)
                    frs.append(fw)
            out = pd.DataFrame(rows) if rows else pd.DataFrame(index=range(len(cells)))
            out["cell"] = pd.Series(cells, dtype="int64")
            out[frag] = frs
            yield out[keep_names + ["cell", frag]]

    return polygons.mapInPandas(run, schema=schema)


def clipped_pip_join(
    points: DataFrame,
    polygons: DataFrame,
    zoom: int = 12,
    poly_id: str = "poly_id",
    wkt: str = "wkt",
    broadcast_polys: bool = True,
    lon: str = "lon",
    lat: str = "lat",
) -> DataFrame:
    """Point-in-polygon join over PRE-CLIPPED per-cell fragments — same
    result set as ``point_in_polygon_join`` (up to points lying exactly
    on tile boundaries, a measure-zero set the property tests avoid),
    with two scale wins: empty-intersection cells never reach the
    points, and refine is O(fragment edges).  Prefer this over the
    plain cover when polygons are complex (many vertices) or much
    larger than a tile; the plain path wins for small simple polygons
    where clipping overhead dominates.
    """
    frags = clip_polygons_to_cells(polygons, zoom, wkt=wkt)
    pts = with_cell(points, zoom, lon, lat)
    dim = F.broadcast(frags) if broadcast_polys else frags
    cand = pts.join(dim, on="cell", how="inner")
    refine = _pip_refine_udf()
    return (
        cand.filter(refine(F.col(lon), F.col(lat), F.col("frag_wkt")))
        .drop("cell", "frag_wkt")
    )


# ---------------------------------------------------------------------------
# point → segment snap (map-matching primitive)

# meters per degree of latitude under the engine's R=6371000 sphere
# (π/180 × R) — the same radius as kernels.distance.R_EARTH.  The snap
# metric is the local equirectangular plane at the POINT's latitude:
# x = Δlon·K·cos(lat_p), y = Δlat·K.  Within a snap radius of ≤ ~100 km
# it agrees with haversine to ≪1%, and crucially it makes the clamped
# point-to-segment projection a closed-form column expression on both
# the Spark and the oracle side (no iterative geodesic).
_M_PER_DEG = 111194.92664455873


def _segments_with_cells(segments: DataFrame, zoom: int, seg_id: str,
                         ax: str, ay: str, bx: str, by: str,
                         extra: tuple = ()) -> DataFrame:
    """Explode the (dim-scale) segment table to its exact supercover
    cells at ``zoom`` (kernels.tiles.segment_cells — every tile the
    segment touches, no sampling gaps).  One mapInPandas over the dim;
    output rows ≈ Σ segment-length / tile-size.  ``extra`` names
    passthrough columns replicated onto every cover row (kept under
    their own names)."""
    import pandas as pd
    from pyspark.sql import types as T

    from xutil_spark.kernels import tiles as K_tiles

    out_schema = T.StructType([
        T.StructField("_sid", segments.schema[seg_id].dataType, False),
        T.StructField("_sax", T.DoubleType(), False),
        T.StructField("_say", T.DoubleType(), False),
        T.StructField("_sbx", T.DoubleType(), False),
        T.StructField("_sby", T.DoubleType(), False),
        T.StructField("_scell", T.LongType(), False),
        *[segments.schema[c] for c in extra],
    ])

    src = segments.select(
        F.col(seg_id).alias("_sid"),
        F.col(ax).cast("double").alias("_sax"),
        F.col(ay).cast("double").alias("_say"),
        F.col(bx).cast("double").alias("_sbx"),
        F.col(by).cast("double").alias("_sby"),
        *extra,
    )
    # road tables often arrive in 1-2 partitions; the per-segment python
    # cover loop is the cost, so spread it before exploding
    par = segments.sparkSession.sparkContext.defaultParallelism
    if src.rdd.getNumPartitions() < par:
        src = src.repartition(par)

    def run(batches):
        for b in batches:
            sids, axs, ays, bxs, bys, cells = [], [], [], [], [], []
            reps = []  # per-input-row cover sizes, for extra replication
            # name=None: itertuples would mangle the _-prefixed columns
            cols = ["_sid", "_sax", "_say", "_sbx", "_sby"]
            for sid, sax, say, sbx, sby in b[cols].itertuples(
                    index=False, name=None):
                n0 = len(cells)
                for c in K_tiles.segment_cells(sax, say, sbx, sby, zoom):
                    sids.append(sid)
                    axs.append(sax); ays.append(say)
                    bxs.append(sbx); bys.append(sby)
                    cells.append(int(c))
                reps.append(len(cells) - n0)
            out = pd.DataFrame({
                "_sid": sids, "_sax": axs, "_say": ays,
                "_sbx": bxs, "_sby": bys, "_scell": cells,
            }).astype({"_scell": "int64"})
            for c in extra:
                out[c] = np.repeat(b[c].to_numpy(), reps)
            yield out

    return src.mapInPandas(run, out_schema)


def _snap_best(cand: DataFrame, point_id: str, seg_id: str,
               lon: str, lat: str) -> DataFrame:
    """Score candidate (point, segment) pairs with the closed-form
    clamped equirectangular projection and keep each point's winner via
    ONE ``min(struct(...))`` aggregation keyed by (dist rounded to mm,
    seg_id) for a deterministic tie-break.  Pure column arithmetic —
    codegen'd, no Python in the per-pair hot path.  No radius filter
    here: callers need the unconditioned minimum for the per-point
    guarantee test."""
    k = F.lit(_M_PER_DEG)
    kx = k * F.cos(F.radians(F.col(lat)))
    axm = (F.col("_sax") - F.col(lon)) * kx
    aym = (F.col("_say") - F.col(lat)) * k
    bxm = (F.col("_sbx") - F.col(lon)) * kx
    bym = (F.col("_sby") - F.col(lat)) * k
    ux = bxm - axm
    uy = bym - aym
    len2 = ux * ux + uy * uy
    t = F.when(len2 == 0.0, F.lit(0.0)).otherwise(
        F.least(F.lit(1.0), F.greatest(F.lit(0.0), -(axm * ux + aym * uy) / len2))
    )
    qx = axm + t * ux
    qy = aym + t * uy
    dist = F.sqrt(qx * qx + qy * qy)
    scored = (
        cand.withColumn("_t", t)
        .withColumn("_dist", dist)
        .withColumn("_snap_lon", F.col(lon) + (qx / kx))
        .withColumn("_snap_lat", F.col(lat) + (qy / k))
    )
    return (
        scored.groupBy(point_id)
        .agg(F.min(F.struct(
            F.round(F.col("_dist"), 3).alias("dist_m"),
            F.col("_sid").alias(seg_id),
            F.col(lon).alias(lon),
            F.col(lat).alias(lat),
            F.round(F.col("_t"), 6).alias("t"),
            F.round(F.col("_snap_lon"), 6).alias("snap_lon"),
            F.round(F.col("_snap_lat"), 6).alias("snap_lat"),
        )).alias("_w"))
    )


def _snap_emit(best: DataFrame, point_id: str, seg_id: str,
               lon: str, lat: str, radius_m: float) -> DataFrame:
    """Unpack a ``_snap_best`` winner struct, applying the inner-join
    radius semantics (points whose nearest segment is beyond the radius
    drop out)."""
    return best.filter(F.col("_w.dist_m") <= F.lit(float(radius_m))).select(
        point_id,
        F.col(f"_w.{seg_id}").alias(seg_id),
        F.col("_w.lon").alias(lon),
        F.col("_w.lat").alias(lat),
        F.col("_w.dist_m").alias("dist_m"),
        F.col("_w.t").alias("t"),
        F.col("_w.snap_lon").alias("snap_lon"),
        F.col("_w.snap_lat").alias("snap_lat"),
    )


def pick_snap_fine_zoom(segments: DataFrame, coarse_zoom: int,
                        ax: str = "ax", ay: str = "ay",
                        bx: str = "bx", by: str = "by",
                        budget_rows: int = 750_000,
                        max_fine_zoom: int = 14) -> int:
    """Choose the fine-pass zoom for the escalated snap join: the
    FINEST zoom whose estimated supercover row count stays within
    ``budget_rows`` (the fine dim is broadcast, so it must stay
    dim-scale).  Supercover size per segment ≈ |Δx_tiles| + |Δy_tiles|
    + 1, so the total is (Σ(|Δlon|+|Δlat|)) / tile_span + n — ONE tiny
    aggregation over the (dim-scale) segment table.  Returns
    ``coarse_zoom`` when even one level finer would blow the budget
    (caller then skips escalation).

    Budget calibration (measured at sf0.1, 457k points × 875 long
    segments): the fine dim's build-and-broadcast cost grows linearly
    with its row count while the extra points resolved by one more
    zoom level saturate — a ~1.35M-row z13 first level ran 14.6s
    against 11.4s for the ~680k-row z12 one, identical output.  750k
    keeps the first level at the measured knee (~35 MB broadcast)."""
    row = segments.agg(
        F.sum(F.abs(F.col(ax) - F.col(bx)) + F.abs(F.col(ay) - F.col(by))).alias("s"),
        F.count(F.lit(1)).alias("n"),
    ).collect()[0]
    s = float(row["s"] or 0.0)
    n = int(row["n"] or 0)
    for z in range(max_fine_zoom, coarse_zoom, -1):
        if s / (360.0 / 2 ** z) + n <= budget_rows:
            return z
    return coarse_zoom


def snap_to_segments_np(
    points: DataFrame,
    segments: DataFrame,
    radius_m: float,
    point_id: str = "pid",
    seg_id: str = "seg_id",
    lon: str = "lon",
    lat: str = "lat",
    ax: str = "ax",
    ay: str = "ay",
    bx: str = "bx",
    by: str = "by",
    pair_chunk: int = 524_288,
    spread_input: bool = True,
) -> DataFrame:
    """Exact snap against a **dim-sized** segment table with ZERO
    shuffles — the ``knn_join_np`` pattern applied to map matching.

    The segments collect to numpy arrays (id-sorted) and ship once per
    worker via ``sc.broadcast``; the points side streams through ONE
    ``mapInPandas``, scoring every (point, segment) pair with the same
    clamped equirectangular projection as ``_snap_best`` in
    cache-sized chunks (``pair_chunk`` pairs ≈ 4 MB per float64
    temporary — the v3 lesson: work units sized to cache beat
    batch-sized matrices).  No candidate pruning and therefore no ring
    guarantee needed: exhaustive per point, exact by construction.

    Winner semantics are ``_snap_best``'s exactly: min by
    (round(dist, 3), seg_id) — segments are pre-sorted by id so the
    first argmin occurrence IS the smallest seg_id among mm-ties —
    then the inner radius filter on the ROUNDED distance.

    Scale boundary: brute cost is points × segments, so this path is
    for dim-scale networks (≤ ~4k segments ≈ the bench shape, where it
    replaces a 5-level cascade with one embarrassingly-parallel pass).
    Real road networks (10^8 segments) take the cascade; the ``auto``
    gate in ``snap_to_segments`` picks per input.
    """
    import numpy as np

    from xutil_spark.kernels.rounding import round_half_away

    seg_pd = (segments.select(seg_id, ax, ay, bx, by).toPandas()
              .sort_values(seg_id, kind="stable"))
    sid0 = seg_pd[seg_id].to_numpy()
    segs_np = (sid0,
               seg_pd[ax].to_numpy(np.float64),
               seg_pd[ay].to_numpy(np.float64),
               seg_pd[bx].to_numpy(np.float64),
               seg_pd[by].to_numpy(np.float64))
    bc = points.sparkSession.sparkContext.broadcast(segs_np)

    from pyspark.sql.types import DoubleType, StructField, StructType

    out_schema = StructType([
        points.schema[point_id],
        StructField(seg_id, segments.schema[seg_id].dataType, True),
        StructField(lon, DoubleType(), True),
        StructField(lat, DoubleType(), True),
        StructField("dist_m", DoubleType(), True),
        StructField("t", DoubleType(), True),
        StructField("snap_lon", DoubleType(), True),
        StructField("snap_lat", DoubleType(), True),
    ])
    k = _M_PER_DEG
    radius = float(radius_m)
    chunk = max(1, pair_chunk // max(1, len(sid0)))

    def run(it):
        import pandas as pd

        sid, sax, say, sbx, sby = bc.value
        if len(sid) == 0:
            return
        for pdf in it:
            n = len(pdf)
            if n == 0:
                continue
            plon = pdf[lon].to_numpy(np.float64)
            plat = pdf[lat].to_numpy(np.float64)
            pids = pdf[point_id].to_numpy()
            parts = []
            for s in range(0, n, chunk):
                e = min(n, s + chunk)
                lo = plon[s:e, None]
                la = plat[s:e, None]
                kx = k * np.cos(np.radians(la))
                axm = (sax[None, :] - lo) * kx
                aym = (say[None, :] - la) * k
                uxm = (sbx[None, :] - lo) * kx - axm
                uym = (sby[None, :] - la) * k - aym
                len2 = uxm * uxm + uym * uym
                with np.errstate(invalid="ignore", divide="ignore"):
                    t = np.clip(-(axm * uxm + aym * uym) / len2, 0.0, 1.0)
                t = np.where(len2 == 0.0, 0.0, t)
                qx = axm + t * uxm
                qy = aym + t * uym
                dist_r = round_half_away(np.sqrt(qx * qx + qy * qy), 3)
                rows = np.arange(e - s)
                j = np.argmin(dist_r, axis=1)
                db = dist_r[rows, j]
                keep = db <= radius
                if not keep.any():
                    continue
                rk = rows[keep]
                jk = j[keep]
                kxk = kx[rk, 0]
                parts.append(pd.DataFrame({
                    point_id: pids[s:e][keep],
                    seg_id: sid[jk],
                    lon: plon[s:e][keep],
                    lat: plat[s:e][keep],
                    "dist_m": db[keep],
                    "t": round_half_away(t[rk, jk], 6),
                    "snap_lon": round_half_away(
                        plon[s:e][keep] + qx[rk, jk] / kxk, 6),
                    "snap_lat": round_half_away(
                        plat[s:e][keep] + qy[rk, jk] / k, 6),
                }))
            if parts:
                yield pd.concat(parts, ignore_index=True)

    src = points
    par = points.sparkSession.sparkContext.defaultParallelism
    # the partition probe is free on scan-only inputs, but when the
    # points carry an upstream shuffle (e.g. a dedup) it forces AQE to
    # materialize that stage once extra just to count partitions —
    # such callers pre-spread the points themselves and pass
    # ``spread_input=False`` to skip the probe entirely
    if spread_input and src.rdd.getNumPartitions() < par:
        src = src.repartition(par)
    return src.mapInPandas(run, out_schema)


def snap_to_segments(
    points: DataFrame,
    segments: DataFrame,
    radius_m: float,
    zoom: int = 8,
    point_id: str = "pid",
    seg_id: str = "seg_id",
    lon: str = "lon",
    lat: str = "lat",
    ax: str = "ax",
    ay: str = "ay",
    bx: str = "bx",
    by: str = "by",
    broadcast_segs: bool = True,
    max_abs_lat: float = 60.0,
    fine_zoom: int | str | None = "auto",
    strategy: str = "auto",
    np_max_segs: int = 4096,
    spread_input: bool = True,
) -> DataFrame:
    """Snap each point to its nearest segment within ``radius_m`` — the
    map-matching primitive (point → road).  Inner semantics: points
    with no segment inside the radius are absent from the output.

    Escalating zoom cascade in ONE DAG (one localCheckpoint, no
    per-round driver actions):

    1. **Fine levels** (``fine_zoom`` down to ``zoom``, step −3, the
       top auto-picked by ``pick_snap_fine_zoom`` so the finest
       supercover dim stays broadcast-sized): at each level, segments
       explode to their exact supercover cells and the still-unresolved
       points search only their ring-1 block (9 cells).  A point's
       winner is FINAL when its distance ≤ per-point ring guarantee
       / 1.05: any segment not touching the block has every point in
       unsearched cells, i.e. haversine ≥ guarantee, hence equirect ≥
       guarantee/1.05 ≥ the found minimum (the 5% margin covers the
       equirectangular-vs-haversine divergence for scales ≤ ~200 km).
       A resolved point whose minimum exceeds the radius is proven
       matchless and drops.  Each −3 step multiplies the guarantee
       radius ×8, so the unresolved tail shrinks geometrically while
       candidate fan-in stays ~constant (coarser cells hold more
       segments but far fewer points reach them).
    2. **Coarse pass** — the original full-radius join (ring sized so
       the static guarantee ≥ 1.05 × radius; exactness is
       grid-independent) — runs only on the final stragglers.

    The static coarse guarantee is an envelope bound: callers whose
    data reaches beyond ``max_abs_lat`` must raise it (rings grow as
    1/cos).  ``fine_zoom=None`` (or ``"auto"`` finding no finer zoom
    within budget) degrades to the single coarse pass.

    Returns: point_id, lon, lat, seg_id, dist_m (3 dp), t (position
    along the segment in [0,1]), snap_lon, snap_lat.

    100-TB shape: fact side = 1 cell encode + ring-1 explode + 1
    broadcast join + 1 shuffle (per-point min); only stragglers (points
    far from every road) pay the radius-sized ring explode.  Segment
    dim broadcasts (or shuffles on cell when huge).  Skew: hot cells
    fall under AQE skew-join; ``salt_hot_cells`` composes if needed.
    """
    if strategy not in ("auto", "np", "cascade"):
        raise ValueError(f"unknown snap strategy {strategy!r}")
    if strategy == "np" or (
        strategy == "auto"
        and segments.limit(np_max_segs + 1).count() <= np_max_segs
    ):
        return snap_to_segments_np(
            points, segments, radius_m, point_id=point_id, seg_id=seg_id,
            lon=lon, lat=lat, ax=ax, ay=ay, bx=bx, by=by,
            spread_input=spread_input)

    ring = 1
    while _ring_guarantee_m(zoom, ring, max_abs_lat=max_abs_lat) < radius_m * 1.05:
        ring += 1
        if ring > 64:
            raise ValueError("radius too large for this zoom; lower the zoom")

    if fine_zoom == "auto":
        fine_zoom = pick_snap_fine_zoom(segments, zoom, ax, ay, bx, by)
        if fine_zoom <= zoom:
            fine_zoom = None

    src = points
    par = points.sparkSession.sparkContext.defaultParallelism
    if src.rdd.getNumPartitions() < par:
        src = src.repartition(par)

    def coarse(pts_df: DataFrame) -> DataFrame:
        segs = _segments_with_cells(segments, zoom, seg_id, ax, ay, bx, by)
        dim = F.broadcast(segs) if broadcast_segs else segs
        pc = with_cell(pts_df, zoom, lon, lat, out="_ccell")
        cand = (
            _explode_neighbors(pc, F.col("_ccell"), zoom, ring, out="_cncell")
            .join(dim, F.col("_cncell") == F.col("_scell"), "inner")
        )
        return _snap_emit(_snap_best(cand, point_id, seg_id, lon, lat),
                          point_id, seg_id, lon, lat, radius_m)

    if fine_zoom is None:
        return coarse(src)

    remaining = src.localCheckpoint()
    out = None
    for fz in range(int(fine_zoom), zoom, -3):
        segs_z = _segments_with_cells(segments, fz, seg_id, ax, ay, bx, by)
        cand = (
            _explode_neighbors(with_cell(remaining, fz, lon, lat, out="_pcell"),
                               F.col("_pcell"), fz, 1)
            .join(F.broadcast(segs_z), F.col("_ncell") == F.col("_scell"), "inner")
        )
        best = _snap_best(cand, point_id, seg_id, lon, lat)
        # 1 mm shaved off the margin so a boundary-exact unseen segment
        # can never beat (or re-tie) an accepted winner
        guarantee = (_ring_guarantee_expr(F.col("_w.lat"), fz, 1) / 1.05
                     - F.lit(0.001))
        # persisted (lazily): each level's winner set feeds BOTH the
        # result union and the next level's anti-join — without it,
        # branch k re-evaluates every finer level's candidate join
        # (the expensive explode × broadcast probe) once per consumer,
        # i.e. O(levels²) passes over the fact table in one action
        done = (best.filter(F.col("_w.dist_m") <= guarantee)
                .persist(StorageLevel.MEMORY_AND_DISK))
        level_out = _snap_emit(done, point_id, seg_id, lon, lat, radius_m)
        out = level_out if out is None else out.unionByName(level_out)
        remaining = remaining.join(done.select(point_id),
                                   on=point_id, how="left_anti")
    return out.unionByName(coarse(remaining))
