"""Driver-side timings of the engine's kernel functions over a fixed
sample of a workload's own input (traced run only).

Each kernel is called repeatedly until ``MIN_S`` seconds have passed and
the time per item is reported; every loop sits in one span charged to
the kernel's layer.
"""

from __future__ import annotations

import time

import numpy as np
import pyarrow.parquet as pq

from enginebench import inputs as I

MIN_S = 0.25


def _per_item(fn, items: int) -> float:
    """Seconds per item of ``fn()``, which handles ``items`` items."""
    reps, t0 = 0, time.perf_counter()
    while True:
        fn()
        reps += 1
        el = time.perf_counter() - t0
        if el >= MIN_S:
            return el / (reps * items)


def run(tr, images_path: str, points: tuple[np.ndarray, np.ndarray],
        tiles_path: str, refs_path: str) -> dict:
    """``images_path``: images table whose first 512 rows are decoded;
    ``points``: (lon, lat) of the workload's input locations."""
    from xutil_spark.kernels import codec as K_codec
    from xutil_spark.kernels import geometry as K_geom
    from xutil_spark.kernels import tiles as K_tiles
    from xutil_spark.operators.spatial_join import knn_searcher

    out = {}
    imgs = pq.ParquetDataset(images_path).read().slice(0, 512).to_pandas()
    rows = list(imgs[["bytes", "w", "h", "fmt"]].itertuples(index=False, name=None))
    with tr.span("kernels.codec.decode_image", "kernels.codec"):
        out["kernels.codec.decode_us_per_img"] = 1e6 * _per_item(
            lambda: [K_codec.decode_image(b, w, h, f) for b, w, h, f in rows], len(rows))
    pixels = [K_codec.decode_image(b, w, h, f) for b, w, h, f in rows]
    with tr.span("kernels.codec.encode_image_png", "kernels.codec"):
        out["kernels.codec.encode_png_us_per_img"] = 1e6 * _per_item(
            lambda: [K_codec.encode_image(p, "png") for p in pixels], len(pixels))

    lon, lat = points
    with tr.span("kernels.tiles.wgs2tile", "kernels.tiles"):
        out["kernels.tiles.wgs2tile_ns_per_pt"] = 1e9 * _per_item(
            lambda: K_tiles.wgs2tile(lon, lat, I.TILE_ZOOM), len(lon))

    wkts = pq.read_table(tiles_path, columns=["wkt"]).column(0).to_pylist()[:2000]
    with tr.span("kernels.geometry.from_wkt", "kernels.geometry"):
        out["kernels.geometry.from_wkt_us_per_poly"] = 1e6 * _per_item(
            lambda: [K_geom.from_wkt(w) for w in wkts], len(wkts))
    geos = [K_geom.from_wkt(w) for w in wkts]
    boxes = np.array([K_geom.geo_box(g) for g in geos])  # west, south, east, north
    rng = np.random.default_rng(5)
    u = rng.random((len(geos), 8, 2))
    plon = boxes[:, [0]] + u[..., 0] * (boxes[:, [2]] - boxes[:, [0]])
    plat = boxes[:, [1]] + u[..., 1] * (boxes[:, [3]] - boxes[:, [1]])
    with tr.span("kernels.geometry.point_in_geo", "kernels.geometry"):
        out["kernels.geometry.point_in_geo_us_per_call"] = 1e6 * _per_item(
            lambda: [K_geom.point_in_geo(plon[i], plat[i], g) for i, g in enumerate(geos)],
            len(geos))

    refs = pq.read_table(refs_path).to_pandas().sort_values("ref_id")
    rlon, rlat = refs["lon"].to_numpy(), refs["lat"].to_numpy()
    with tr.span("operators.spatial_join.knn_searcher", "operators.spatial_join"):
        out["operators.spatial_join.knn_build_s"] = _per_item(
            lambda: knn_searcher(rlon, rlat, 3), 1)
    search = knn_searcher(rlon, rlat, 3)
    with tr.span("operators.spatial_join.knn_search", "operators.spatial_join"):
        out["operators.spatial_join.knn_search_us_per_pt"] = 1e6 * _per_item(
            lambda: search(lon, lat), len(lon))
    return out
