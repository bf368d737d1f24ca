"""Whole-pipeline fusion: decode → location → tile join → cell encode →
exact kNN in ONE ``mapInPandas`` pass.

The composed pipeline (raster.decode_stats → synth.with_location →
spatial_join.point_in_tile_join → native.cell → spatial_join.knn_join_np)
is two chained Arrow/Python stages: images cross the JVM↔Python boundary
twice and the decoded rows make a full round trip through the JVM between
the decode worker and the kNN worker.  When every stage is a vectorized
numpy kernel over the same batch, that round trip buys nothing — this
operator runs the whole chain per batch inside one Python worker:

* one JVM→Python Arrow transfer (the image bytes), one Python→JVM
  transfer (the joined rows) — the ~GB-scale binary column is read once;
* one Spark stage: no mid-pipeline shuffle, no second worker per task
  (chained pandas UDFs run as two workers whose per-task batch handoff
  serializes them — measured 26.6s vs 16.4s staged at pinned 8 cores);
* the tile dim and the kNN refs are dim-sized numpy closures (broadcast
  semantics), exactly as in ``knn_join_np``.

This is the engine's "whole-stage codegen for Python kernels": operators
stay individually composable (and are oracle-tested individually); the
fused path is the high-throughput shape for the common
decode→index→join→kNN pipeline, and a pytest pins fused ≡ composed.
Per-tile aggregates are a plain ``filter(rank == 1).groupBy("tile_id")``
over this operator's output.

Reference lineage: tile assignment Wgs2Tile gis.go:262-267; location
derivation FIXTURES.md §1; kNN strategy operators/spatial_join.py.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T

from xutil_spark.kernels import codec as K_codec
from xutil_spark.kernels.tiles import cell_encode
from xutil_spark.operators.spatial_join import _collect_refs, knn_searcher

_OUT_FIELDS = [
    T.StructField("image_id", T.StringType(), False),
    T.StructField("lon", T.DoubleType(), False),
    T.StructField("lat", T.DoubleType(), False),
    T.StructField("cell", T.LongType(), False),
    T.StructField("tile_id", T.StringType(), False),
    T.StructField("mean_r", T.DoubleType(), False),
    T.StructField("mean_g", T.DoubleType(), False),
    T.StructField("mean_b", T.DoubleType(), False),
    T.StructField("px_sum", T.LongType(), False),
]

# Work on ≤2048-row slices regardless of the session's Arrow batch
# size: the chain's per-batch temporaries (decoded-pixel means,
# pair lists in the kNN grid, the assembled output frame) stay
# cache-sized, and the Python→JVM results stream back while the
# JVM is still feeding the next slice.  Measured at pinned
# local[32] on the 400k bench input: 42.8s with 16k-row batches
# end-to-end vs 12.0s with 2k — same rows either way.
_SLICE = 2048


def fused_image_tile_knn(
    images: DataFrame,
    tiles: DataFrame,
    refs: DataFrame,
    k: int = 3,
    tile_zoom: int = 10,
    cell_zoom: int = 15,
    ref_id: str = "ref_id",
) -> DataFrame:
    """images (input_hint schema) ⨝ tiles(tile_zoom) + exact kNN(k) vs
    refs, fused into a single Python pass per Arrow batch.

    Output: (image_id, lon, lat, cell[cell_zoom], tile_id, mean_r/g/b,
    px_sum, ref_id, dist_m, rank) — numerically identical rows to the
    composed operators (same float64 operation order everywhere).
    Points outside the tile dim drop (inner-join semantics)."""
    # the dims are collected ONCE here (broadcast-closure semantics)
    tiles_pd = tiles.select("cell", "tile_id").toPandas()
    t_order = np.argsort(tiles_pd["cell"].to_numpy())
    t_cells = tiles_pd["cell"].to_numpy()[t_order]
    t_ids = tiles_pd["tile_id"].to_numpy()[t_order]

    rid, rlon, rlat, _rextra, _extras = _collect_refs(refs, ref_id, "lon", "lat")
    search = knn_searcher(rlon, rlat, k)

    out_schema = T.StructType(
        _OUT_FIELDS
        + [
            T.StructField(ref_id, refs.schema[ref_id].dataType, True),
            T.StructField("dist_m", T.DoubleType(), True),
            T.StructField("rank", T.IntegerType(), False),
        ]
    )

    def run_slice(b):
        # --- decode (the one per-row loop) ---
        mean, px_sum = K_codec.decode_stats(b["bytes"], b["w"], b["h"], b["fmt"])
        # --- location from phash (same float64 ops as native exprs) ---
        phash = b["phash"].to_numpy(np.int64)
        lon = 73.5 + (phash & 0xFFFFF).astype(np.float64) / 1048576.0 * 61.0
        lat = 18.2 + ((phash >> 20) & 0xFFFFF).astype(np.float64) / 1048576.0 * 35.3
        # --- tile assignment at tile_zoom (inner join vs dim) ---
        tcell = cell_encode(lon, lat, tile_zoom)
        pos = np.minimum(np.searchsorted(t_cells, tcell), len(t_cells) - 1)
        sel = np.flatnonzero(t_cells[pos] == tcell)
        if not len(sel):
            return None
        lon_s, lat_s = lon[sel], lat[sel]
        cell = cell_encode(lon_s, lat_s, cell_zoom)
        # --- exact kNN (shared numpy grid searcher) ---
        rows, ridx, d, rank = search(lon_s, lat_s)
        src = sel[rows]  # output row → row of the slice
        return pd.DataFrame({
            "image_id": b["image_id"].to_numpy()[src],
            "lon": lon_s[rows],
            "lat": lat_s[rows],
            "cell": cell[rows],
            "tile_id": t_ids[pos[src]],
            "mean_r": mean[src, 0],
            "mean_g": mean[src, 1],
            "mean_b": mean[src, 2],
            "px_sum": px_sum[src],
            ref_id: rid[ridx],
            "dist_m": d,
            "rank": rank,
        })

    def run(batches):
        for full in batches:
            for s in range(0, len(full), _SLICE):
                out = run_slice(full.iloc[s:s + _SLICE])
                if out is not None:
                    yield out

    return images.mapInPandas(run, schema=out_schema)
