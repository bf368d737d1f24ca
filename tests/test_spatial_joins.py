"""Spatial-join operators vs brute-force numpy oracles."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from xutil_spark.data import synth
from xutil_spark.functions import native
from xutil_spark.kernels import distance as K_dist
from xutil_spark.kernels import geometry as K_geom
from xutil_spark.kernels import tiles as K_tiles
from xutil_spark.operators import spatial_join as SJ


@pytest.fixture(scope="module")
def points_df(spark):
    return synth.with_location(
        synth.images_table(spark, 400, with_bytes=False)
    ).select("image_id", "lon", "lat").cache()


@pytest.fixture(scope="module")
def points_pd(points_df):
    return points_df.toPandas().sort_values("image_id").reset_index(drop=True)


def test_point_in_tile_join_matches_kernel(spark, points_df, points_pd):
    tiles_df = synth.tiles_table(spark, zoom=10)
    got = SJ.point_in_tile_join(points_df, tiles_df, zoom=10).toPandas()
    # full bbox coverage → every point matches exactly one tile
    assert len(got) == len(points_pd)
    exp_cell = K_tiles.cell_encode(
        points_pd["lon"].to_numpy(), points_pd["lat"].to_numpy(), 10
    )
    got = got.sort_values("image_id").reset_index(drop=True)
    np.testing.assert_array_equal(got["cell"].to_numpy(np.int64), exp_cell)
    # tile_id string corresponds to the decoded cell
    x, y, z = K_tiles.cell_decode(exp_cell)
    exp_tid = [f"z10x{int(a)}y{int(b)}" for a, b in zip(x, y)]
    assert list(got["tile_id"]) == exp_tid


def test_point_in_tile_join_sparse_anti(spark, points_df, points_pd):
    """Sparse tile dim (every 3rd tile) → only matching points survive;
    left join marks the rest null (no-match path)."""
    sparse = synth.tiles_table(spark, zoom=10, sample_stride=3)
    inner = SJ.point_in_tile_join(points_df, sparse, zoom=10, how="inner")
    left = SJ.point_in_tile_join(points_df, sparse, zoom=10, how="left")
    n_inner = inner.count()
    assert 0 < n_inner < len(points_pd)
    assert left.count() == len(points_pd)
    assert left.filter(F.col("tile_id").isNull()).count() == len(points_pd) - n_inner


def test_point_in_polygon_join_vs_oracle(spark):
    # skewed points: 30% land inside the metro polygons → real hits
    pts = synth.with_location(
        synth.images_table(spark, 600, skew=True, with_bytes=False)
    ).select("image_id", "lon", "lat").cache()
    pts_pd = pts.toPandas()
    polys = synth.irregular_tiles_table(spark, zoom=12)
    got = (
        SJ.point_in_polygon_join(pts, polys, zoom=12)
        .select("image_id", "poly_id")
        .toPandas()
    )
    got_set = set(map(tuple, got.to_numpy()))
    exp_set = set()
    for r in polys.collect():
        g = K_geom.from_wkt(r["wkt"])
        inside = K_geom.point_in_geo(
            pts_pd["lon"].to_numpy(), pts_pd["lat"].to_numpy(), g
        )
        for pid in pts_pd.loc[inside, "image_id"]:
            exp_set.add((pid, r["poly_id"]))
    assert got_set == exp_set
    assert len(exp_set) > 50  # fixture actually exercises hits


def _brute_knn(points_pd, refs_pd, k):
    exp = {}
    for _, p in points_pd.iterrows():
        d = K_dist.point_dist_haversine(
            p["lon"], p["lat"], refs_pd["lon"].to_numpy(), refs_pd["lat"].to_numpy()
        )
        order = sorted(zip(np.round(d, 3), refs_pd["ref_id"]))[:k]
        exp[p["image_id"]] = [r for _, r in order]
    return exp


def test_knn_join_vs_brute_force(spark, points_df, points_pd):
    refs = synth.ref_points_table(spark, 250).cache()
    refs_pd = refs.toPandas()
    got = SJ.knn_join(points_df, refs, k=3, zoom=8, strategy="grid").toPandas()
    exp = _brute_knn(points_pd, refs_pd, 3)
    assert set(got["image_id"]) == set(exp.keys())
    for pid, grp in got.groupby("image_id"):
        ordered = list(grp.sort_values("rank")["ref_id"])
        assert ordered == exp[pid], pid


def test_knn_join_fused_matches_brute_force(spark, points_df, points_pd):
    """The grid escalation loop at the zoom picked by ``pick_knn_zoom``
    (the input the removed ``knn_join_fused`` ran) equals brute force."""
    refs = synth.ref_points_table(spark, 250).cache()
    refs_pd = refs.toPandas()
    got = SJ.knn_join(points_df, refs, k=3, zoom="auto", strategy="grid").toPandas()
    exp = _brute_knn(points_pd, refs_pd, 3)
    assert set(got["image_id"]) == set(exp.keys())
    for pid, grp in got.groupby("image_id"):
        assert list(grp.sort_values("rank")["ref_id"]) == exp[pid], pid


def test_knn_join_np_matches_brute_force(spark, points_df, points_pd):
    """The shuffle-free numpy strategy (auto-dispatched for dim-sized
    refs) agrees with brute force, including the tie order."""
    refs = synth.ref_points_table(spark, 250).cache()
    refs_pd = refs.toPandas()
    got = SJ.knn_join(points_df, refs, k=3).toPandas()  # auto → np
    exp = _brute_knn(points_pd, refs_pd, 3)
    assert set(got["image_id"]) == set(exp.keys())
    for pid, grp in got.groupby("image_id"):
        assert list(grp.sort_values("rank")["ref_id"]) == exp[pid], pid


def test_knn_join_np_grid_index_vs_brute_force(spark):
    """Many refs (≥16k) trigger the in-worker numpy grid index (zoom>0,
    searchsorted block gather + straggler brute fallback); skewed points
    exercise hot cells.  Must equal brute force exactly, ties included."""
    pts = synth.with_location(
        synth.images_table(spark, 500, skew=True, with_bytes=False)
    ).select("image_id", "lon", "lat").cache()
    pts_pd = pts.toPandas()
    refs = synth.ref_points_table(spark, 3000).cache()
    refs_pd = refs.toPandas()
    got = SJ.knn_join_np(pts, refs, k=4).toPandas()
    exp = _brute_knn(pts_pd, refs_pd, 4)
    assert set(got["image_id"]) == set(exp.keys())
    for pid, grp in got.groupby("image_id"):
        assert list(grp.sort_values("rank")["ref_id"]) == exp[pid], pid


def test_knn_join_np_sparse_refs_stragglers(spark, points_df, points_pd):
    """Few refs vs spread points → most points fail the ring guarantee
    and take the brute-force straggler path; still exact."""
    refs = synth.ref_points_table(spark, 60).cache()
    refs_pd = refs.toPandas()
    got = SJ.knn_join_np(points_df, refs, k=2).toPandas()
    exp = _brute_knn(points_pd, refs_pd, 2)
    for pid, grp in got.groupby("image_id"):
        assert list(grp.sort_values("rank")["ref_id"]) == exp[pid], pid


def test_knn_join_np_k_exceeds_refs(spark, points_df, points_pd):
    """k larger than the refs table → every ref returned, ranks 1..n."""
    refs = synth.ref_points_table(spark, 4).cache()
    got = SJ.knn_join_np(points_df, refs, k=9).toPandas()
    assert len(got) == len(points_pd) * 4
    assert set(got["rank"]) == {1, 2, 3, 4}


def test_knn_join_sparse_refs_escalates_rings(spark, points_df, points_pd):
    """Only 12 refs nationwide → ring-1 at z8 is usually empty; the
    escalation loop must still find the true k nearest for every point."""
    refs = synth.ref_points_table(spark, 12).cache()
    refs_pd = refs.toPandas()
    got = SJ.knn_join(points_df, refs, k=2, zoom=8, strategy="grid").toPandas()
    exp = _brute_knn(points_pd, refs_pd, 2)
    assert set(got["image_id"]) == set(exp.keys())
    mism = 0
    for pid, grp in got.groupby("image_id"):
        if list(grp.sort_values("rank")["ref_id"]) != exp[pid]:
            mism += 1
    assert mism == 0


def test_knn_join_fused_sparse_refs(spark, points_df, points_pd):
    """12 refs at the auto-picked zoom: the grid loop escalates rings
    until every point has its true k nearest."""
    refs = synth.ref_points_table(spark, 12).cache()
    refs_pd = refs.toPandas()
    got = SJ.knn_join(points_df, refs, k=2, zoom="auto", strategy="grid").toPandas()
    exp = _brute_knn(points_pd, refs_pd, 2)
    assert set(got["image_id"]) == set(exp.keys())
    for pid, grp in got.groupby("image_id"):
        assert list(grp.sort_values("rank")["ref_id"]) == exp[pid], pid


def test_knn_join_empty_points(spark, points_df):
    """An empty input returns an empty frame with the usual output
    schema (regression: the grid loop raised IndexError)."""
    refs = synth.ref_points_table(spark, 60).cache()
    full = SJ.knn_join(points_df, refs, k=2, zoom=8, strategy="grid")
    for broadcast in (True, False):
        got = SJ.knn_join(points_df.limit(0), refs, k=2, zoom=8,
                          strategy="grid", broadcast_refs=broadcast)
        assert got.schema == full.schema
        assert got.count() == 0


@pytest.mark.parametrize("strategy", ["fsued", "np", "fused", "GRID"])
def test_knn_join_unknown_strategy_raises(spark, points_df, strategy):
    refs = synth.ref_points_table(spark, 12)
    with pytest.raises(ValueError, match="unknown knn strategy"):
        SJ.knn_join(points_df, refs, k=2, strategy=strategy)


def _globe_points(spark, n, seed, id_col, lon_spread=360.0):
    """Deterministic globe-spanning points (forces tiny zooms)."""
    rng = np.random.default_rng(seed)
    pdf = pd.DataFrame({
        id_col: [f"g{seed}_{i}" for i in range(n)],
        "lon": rng.uniform(-lon_spread / 2, lon_spread / 2, n).round(6),
        "lat": rng.uniform(-60.0, 60.0, n).round(6),
    })
    return spark.createDataFrame(pdf), pdf


def test_knn_join_grid_zoom1_no_wrap_duplicates(spark):
    """zoom=1 (n_axis=2): the pmod x-wrap must not duplicate candidate
    pairs — each ref appears at most once per point, ranks are the true
    top-k (regression: _explode_neighbors wrap collision)."""
    pts, pts_pd = _globe_points(spark, 80, 7, "image_id")
    refs, refs_pd = _globe_points(spark, 30, 11, "ref_id")
    got = SJ.knn_join(pts, refs, k=3, zoom=1, strategy="grid").toPandas()
    dup = got.groupby(["image_id", "ref_id"]).size()
    assert (dup == 1).all(), dup[dup > 1]
    exp = _brute_knn(pts_pd, refs_pd, 3)
    for pid, grp in got.groupby("image_id"):
        assert list(grp.sort_values("rank")["ref_id"]) == exp[pid], pid


def test_knn_join_np_globe_spanning_refs(spark):
    """Globe-spanning refs drive knn_searcher's zoom pick into the tiny-
    zoom regime — must never pick zoom=1 (3×3 x-wrap collision) and must
    equal brute force (regression: knn_searcher wrap duplicates)."""
    pts, pts_pd = _globe_points(spark, 120, 3, "image_id")
    refs, refs_pd = _globe_points(spark, 60, 5, "ref_id")
    got = SJ.knn_join_np(pts, refs, k=4).toPandas()
    dup = got.groupby(["image_id", "ref_id"]).size()
    assert (dup == 1).all()
    exp = _brute_knn(pts_pd, refs_pd, 4)
    for pid, grp in got.groupby("image_id"):
        assert list(grp.sort_values("rank")["ref_id"]) == exp[pid], pid


def test_distance_join_low_zoom_wrap_no_duplicates(spark):
    """zoom=2 with a ring spanning more than the whole x-axis: the dx
    clamp must emit each cell once → no duplicate (point, ref) rows."""
    pts, pts_pd = _globe_points(spark, 60, 13, "image_id", lon_spread=120.0)
    refs, refs_pd = _globe_points(spark, 40, 17, "ref_id", lon_spread=120.0)
    radius = 2_000_000.0
    got = SJ.distance_join(pts, refs, radius_m=radius, zoom=2).toPandas()
    assert got.duplicated(["image_id", "ref_id"]).sum() == 0
    got_set = set(zip(got["image_id"], got["ref_id"]))
    exp_set = set()
    for _, p in pts_pd.iterrows():
        d = K_dist.point_dist_haversine(
            p["lon"], p["lat"], refs_pd["lon"].to_numpy(), refs_pd["lat"].to_numpy()
        )
        for rid in refs_pd.loc[d <= radius, "ref_id"]:
            exp_set.add((p["image_id"], rid))
    assert got_set == exp_set and len(exp_set) > 0


def test_distance_join_vs_brute_force(spark, points_df, points_pd):
    refs = synth.ref_points_table(spark, 150).cache()
    refs_pd = refs.toPandas()
    radius = 75000.0
    got = SJ.distance_join(points_df, refs, radius_m=radius, zoom=8).toPandas()
    got_set = set(zip(got["image_id"], got["ref_id"]))
    exp_set = set()
    for _, p in points_pd.iterrows():
        d = K_dist.point_dist_haversine(
            p["lon"], p["lat"], refs_pd["lon"].to_numpy(), refs_pd["lat"].to_numpy()
        )
        for rid in refs_pd.loc[d <= radius, "ref_id"]:
            exp_set.add((p["image_id"], rid))
    assert got_set == exp_set
    assert len(exp_set) > 0


def test_salted_join_equals_plain_join(spark):
    pts = SJ.with_cell(
        synth.with_location(synth.images_table(spark, 3000, skew=True, with_bytes=False)),
        zoom=10,
    ).select("image_id", "cell")
    tiles_df = synth.tiles_table(spark, zoom=10)
    plain = pts.join(tiles_df, "cell", "inner").select("image_id", "tile_id")
    s_pts, s_dim, hot = SJ.salt_hot_cells(pts, tiles_df, salt=4, hot_threshold=100)
    salted = s_pts.join(
        s_dim.select("cell", "_salt", "tile_id"), on=["cell", "_salt"], how="inner"
    ).select("image_id", "tile_id")
    a = set(map(tuple, plain.toPandas().to_numpy()))
    b = set(map(tuple, salted.toPandas().to_numpy()))
    assert a == b
    assert hot.count() >= 3  # the 3 urban cells are detected as hot


def test_fused_pipeline_matches_composed(spark):
    """fused_image_tile_knn ≡ decode_stats → with_location →
    point_in_tile_join → cell → knn_join_np, row for row."""
    import pandas as pd
    from pyspark.sql import functions as F

    from xutil_spark.functions import native
    from xutil_spark.operators.fused import fused_image_tile_knn
    from xutil_spark.raster.images import decode_stats

    images = synth.images_table(spark, 3000, skew=True).cache()
    tiles = synth.tiles_table(spark, zoom=10).cache()
    refs = synth.ref_points_table(spark, 300).cache()

    composed = SJ.knn_join_np(
        SJ.point_in_tile_join(
            synth.with_location(decode_stats(images)), tiles, zoom=10
        )
        .withColumn("cell", native.cell("lon", "lat", 15))
        .select("image_id", "lon", "lat", "cell", "tile_id", "mean_r"),
        refs, k=3,
    ).select("image_id", "rank", "tile_id", "ref_id", "cell", "dist_m", "mean_r")

    fused = fused_image_tile_knn(images, tiles, refs, k=3).select(
        "image_id", "rank", "tile_id", "ref_id", "cell", "dist_m", "mean_r"
    )

    a = composed.toPandas().sort_values(["image_id", "rank"]).reset_index(drop=True)
    b = fused.toPandas().sort_values(["image_id", "rank"]).reset_index(drop=True)
    assert len(a) == len(b) > 0
    pd.testing.assert_frame_equal(a, b, check_dtype=False)


def test_ring_guarantee_expr_polar_points_never_exceed_true_distance(spark):
    """Regression: the linear span·cos(φ_far) bound with φ_far capped at
    85° INFLATED above the true unsearched-region distance for points
    poleward of the cap (φ=89°, zoom 6: 54.5 km claimed vs 21.8 km
    actual) — a resolved-with-wrong-neighbors hazard.  The cross-track
    form must lower-bound the haversine distance to every ref ≥ 2 tile
    spans away in longitude, at any latitude."""
    import math

    zoom, ring = 6, 1
    span = 360.0 / (2 ** zoom)
    lats = [0.0, 30.0, 60.0, 84.9, 85.5, 89.0, -89.0]
    df = spark.createDataFrame(pd.DataFrame({"lat": lats}))
    got = (
        df.select(SJ._ring_guarantee_expr(F.col("lat"), zoom, ring)
                  .alias("g"), "lat")
        .toPandas().set_index("lat")["g"]
    )
    for lat in lats:
        # nearest possibly-unsearched ref: one full span over in lon
        # (point on its cell's left boundary), same latitude
        d_true = K_dist.point_dist_haversine(
            np.array([0.0]), np.array([lat]),
            np.array([span]), np.array([lat]))[0]
        assert got[lat] <= d_true + 1e-6, (lat, got[lat], d_true)
        # and sanity: positive and within the meridian cross-track cap
        cap = 6371000.0 * math.asin(
            math.cos(math.radians(abs(lat)))
            * math.sin(math.radians(min(ring * span, 90.0))))
        assert 0.0 < got[lat] <= cap + 1e-6


def test_ring_guarantee_m_wide_span_stays_below_true_minimum():
    """Regression: at zoom 3, ring 3 (ring span 135°) the linear form
    claimed 3.75e6 m while the true minimum distance from a 60°-lat
    point to the unsearched region (over the pole) is 3.34e6 m.  And a
    ring that covers every cell leaves nothing unsearched → inf."""
    g = SJ._ring_guarantee_m(3, 3, max_abs_lat=60.0)
    d_pole = K_dist.point_dist_haversine(
        np.array([0.0]), np.array([60.0]),
        np.array([0.0]), np.array([90.0]))[0]
    assert 0.0 < g <= d_pole
    assert SJ._ring_guarantee_m(1, 1) == float("inf")


def test_knn_searcher_polar_wide_grid_matches_brute(spark):
    """Grid-index kNN over refs reaching ±89° latitude and a wide
    longitude span: the ring-1 guarantee must stay a true lower bound
    (arcsin cross-track), so results equal brute force exactly."""
    rng = np.random.default_rng(42)
    n_refs, n_pts, k = 900, 250, 3
    refs_pd = pd.DataFrame({
        "ref_id": [f"r{i}" for i in range(n_refs)],
        "lon": rng.uniform(-88.0, 88.0, n_refs).round(6),
        "lat": rng.uniform(-89.0, 89.0, n_refs).round(6),
    })
    pts_pd = pd.DataFrame({
        "image_id": [f"p{i}" for i in range(n_pts)],
        "lon": rng.uniform(-88.0, 88.0, n_pts).round(6),
        "lat": rng.uniform(-89.0, 89.0, n_pts).round(6),
    })
    refs = spark.createDataFrame(refs_pd)
    pts = spark.createDataFrame(pts_pd)
    got = SJ.knn_join_np(pts, refs, k=k).toPandas()
    exp = _brute_knn(pts_pd, refs_pd, k)
    assert set(got["image_id"]) == set(exp.keys())
    for pid, grp in got.groupby("image_id"):
        assert list(grp.sort_values("rank")["ref_id"]) == exp[pid], pid
