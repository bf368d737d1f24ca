"""The benchmark's three batch workloads.

Each workload is a closed loop with one client: one batch job at a time
against one SparkSession.  A workload knows how to

* ``prepare`` its seeded inputs (cached parquet, pre-read);
* ``load_dims`` — read and pin (cache + count) its dimension tables;
* ``warm_up`` — run its full chain once on a tiny table;
* ``job`` — the timed job, built only from public engine calls;
* ``check`` — compare the job's output with an independent computation.

Every call into an engine module goes through ``Ctx.call``, which opens a
span charged to that module's layer and tags the Spark jobs it launches
with a job group, so failed jobs and tasks can be counted and, in the
traced run, stages nested under the call.

Why these three (see README.md): ``image_tile_knn`` is the north-rule
decode→tile→kNN pipeline and is dominated by the image codec and the
in-worker kNN search; ``point_pip_knn_skewed`` decodes nothing and is
dominated by shuffles, hot-key skew, the point-in-polygon refine loop and
the multi-round kNN escalation; ``snapshot_resize_resume`` is the write
side — codec encode, parquet writes, the commit protocol and the resume
read path — which neither of the others touches.
"""

from __future__ import annotations

import contextlib
import hashlib
from collections import Counter
import os
import shutil
import time
import uuid

import numpy as np
import pyarrow.parquet as pq

from enginebench import inputs as I
from enginebench.trace import PY_ROWS, PY_SENT

R_EARTH = 6371000.0
K = 3
SAMPLE = 48  # rows per fixed-sample output check


def haversine_m(lon1, lat1, lon2, lat2):
    """Great-circle distance in metres, written out here so the checks do
    not reuse the engine's kernels."""
    rad = np.pi / 180.0
    p1, p2 = lat1 * rad, lat2 * rad
    a = (np.sin((p2 - p1) / 2) ** 2
         + np.cos(p1) * np.cos(p2) * np.sin((lon2 - lon1) * rad / 2) ** 2)
    return 2 * R_EARTH * np.arctan2(np.sqrt(a), np.sqrt(1 - a))


class Refs:
    """Every kNN ref of a run, for brute-force checks: (ref_id, lon, lat)
    columns of a pandas frame."""

    def __init__(self, pdf):
        self.ids = pdf["ref_id"].to_numpy()
        self.lon = pdf["lon"].to_numpy()
        self.lat = pdf["lat"].to_numpy()
        self.pos = {r: i for i, r in enumerate(self.ids)}

    def knn(self, lon, lat, k):
        """Top-k (ref ids, distances) for one point over all refs, ordered
        by (distance rounded to mm, ref id) like the engine's tie rule."""
        d = haversine_m(lon, lat, self.lon, self.lat)
        order = np.lexsort((self.ids, np.round(d, 3)))[:k]
        return self.ids[order], d[order]

    def matches(self, lon, lat, got_ids, got_d, k) -> bool:
        """The engine's top-k of one point is right: its distances agree
        with brute force to 1 mm, its ids are distinct, and wherever an id
        differs from brute force's, that ref really lies at brute force's
        distance from the point (a tie at 1 mm), measured from the ref's
        own location."""
        want_ids, want_d = self.knn(lon, lat, k)
        if (len(got_ids) != len(want_ids) or len(set(got_ids)) != len(got_ids)
                or not np.allclose(got_d, want_d, rtol=0, atol=1e-3)):
            return False
        for g, w, wd in zip(got_ids, want_ids, want_d):
            if g == w:
                continue
            j = self.pos.get(g)
            if j is None or abs(haversine_m(lon, lat, self.lon[j], self.lat[j]) - wd) > 1e-3:
                return False
        return True

    def nearest_m(self, lon, lat, chunk: int = 2048) -> np.ndarray:
        """Distance from each point to its nearest ref, in chunks of
        points so the distance matrix stays small."""
        out = np.empty(len(lon))
        for s in range(0, len(lon), chunk):
            d = haversine_m(lon[s:s + chunk, None], lat[s:s + chunk, None],
                            self.lon[None, :], self.lat[None, :])
            out[s:s + chunk] = d.min(axis=1)
        return out


def tile_ids_for(lon, lat, dim_cells: dict) -> np.ndarray:
    """z10 tile id of each point via ``kernels.tiles.wgs2tile`` floor
    semantics, or None when the tile is not in the dimension."""
    from xutil_spark.kernels import tiles as K_tiles

    x, y = K_tiles.wgs2tile(lon, lat, I.TILE_ZOOM)
    cells = K_tiles.cell_pack(x, y, I.TILE_ZOOM)
    return np.array([dim_cells.get(int(c)) for c in cells], dtype=object)


def _tree_bytes(path: str) -> tuple[int, int]:
    """(bytes, files) under a directory."""
    total = files = 0
    for d, _dirs, names in os.walk(path):
        for n in names:
            total += os.path.getsize(os.path.join(d, n))
            files += 1
    return total, files


class Ctx:
    """What a workload needs to run: the session, the tracer, the seed,
    the size class and the Spark job groups of the calls made so far."""

    def __init__(self, root: str, scratch: str, seed: int, tiny: bool, tracer):
        self.root = root
        self.scratch = scratch
        self.seed = seed
        self.tiny = tiny
        self.tr = tracer
        self.spark = None
        self.groups: list[str] = []
        self.group = "bench"
        self.last: dict[str, tuple[float, str]] = {}  # call → (s, group)

    @contextlib.contextmanager
    def call(self, name: str, layer: str | None):
        """Span around one engine call.  Traced, each call's Spark jobs get
        the span id as job group (so stage spans nest under it); untraced,
        all jobs share the current group.  The call's wall time and group
        are kept in ``last[name]``."""
        sc = self.spark.sparkContext
        outer = self.group
        with self.tr.span(name, layer) as sp:
            if sp.id is not None:
                self.group = sp.id
                sc.setJobGroup(sp.id, name)
            if self.group not in self.groups:
                self.groups.append(self.group)
            t0 = time.perf_counter()
            try:
                yield sp
            finally:
                self.last[name] = (time.perf_counter() - t0, self.group)
                if sp.id is not None:
                    self.group = outer
                    sc.setJobGroup(outer, "bench")

    def begin(self, spark) -> None:
        """Start a job on ``spark``: a fresh base job group and no calls."""
        self.spark = spark
        self.groups = []
        self.group = f"bench-{uuid.uuid4().hex[:8]}"
        spark.sparkContext.setJobGroup(self.group, "bench")

    def seconds(self, name: str) -> float:
        return self.last[name][0]

    def jobs_in(self, *names: str) -> int:
        """Spark jobs launched by the named calls (their last run)."""
        st = self.spark.sparkContext.statusTracker()
        return sum(len(st.getJobIdsForGroup(self.last[n][1])) for n in names)

    def spark_failures(self) -> tuple[int, int]:
        """(attempted, failed) Spark jobs plus tasks in this context's job
        groups, from the status tracker."""
        st = self.spark.sparkContext.statusTracker()
        attempted = failed = 0
        for g in set(self.groups):
            for jid in st.getJobIdsForGroup(g):
                info = st.getJobInfo(jid)
                if info is None:
                    continue
                attempted += 1
                failed += info.status == "FAILED"
                for sid in info.stageIds:
                    si = st.getStageInfo(sid)
                    if si is not None:
                        attempted += si.numTasks
                        failed += si.numFailedTasks
        return attempted, failed

    def path(self, kind: str, n: int = 0) -> str:
        return I.cached(self.root, kind, self.seed, n)


class Workload:
    name = ""
    rows_full = rows_tiny = 0
    warm_rows = 256
    checks: tuple[str, ...] = ()  # names ``check`` may return

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.rows = self.rows_tiny if ctx.tiny else self.rows_full

    def read(self, path: str):
        return self.ctx.spark.read.parquet(path)

    def cleanup(self, out) -> None:
        """Drop what one job's output ``out`` (None: no job yet) left on
        disk; nothing, unless overridden."""

    def layer_calls(self) -> dict:
        """Extra per-layer measurements made while the session is up."""
        return {}

    def layer_metrics(self, out, ev) -> dict:
        """Per-layer metrics of the last job, given the event log."""
        return {}

    def pin(self, path: str, *cols: str):
        df = self.read(path)
        df = (df.select(*cols) if cols else df).cache()
        df.count()
        return df


# ---------------------------------------------------------------- image

class ImageTileKnn(Workload):
    """input_hint images (raw + PNG, 30% in 3 hot z15 cells, 20% duplicate
    prints) → ``fused_image_tile_knn`` against the z10 tile dimension and
    2k refs (k=3) → rank-1 aggregation per tile."""

    name = "image_tile_knn"
    rows_full, rows_tiny = 24_000, 2_000
    n_refs = 2_000
    checks = ("tile_count_sum", "tile_counts", "tile_avg_r", "tile_avg_nn_m",
              "out_of_dim_row", "missing_row", "sample_tile", "channel_means",
              "rank1_ref")

    def prepare(self) -> list[str]:
        c = self.ctx
        self.p_images = c.path("images", self.rows)
        self.p_warm = c.path("images", self.warm_rows)
        self.p_tiles = c.path("tiles")
        self.p_refs = c.path("refs", self.n_refs)
        self.p_sample = self.p_images
        ids = pq.read_table(self.p_images, columns=["image_id"]).column(0).to_pylist()
        rng = np.random.default_rng([c.seed, 7])
        self.sample_ids = sorted(ids[i] for i in rng.choice(len(ids), SAMPLE, replace=False))
        return [self.p_images, self.p_warm, self.p_tiles, self.p_refs]

    def load_dims(self) -> None:
        self.tiles = self.pin(self.p_tiles, "cell", "tile_id")
        self.refs = self.pin(self.p_refs)

    def _run(self, images):
        """The chain and its per-tile aggregate, which also keeps the
        rank-1 rows of the fixed sample ids for the output checks."""
        from pyspark.sql import functions as F

        from xutil_spark.operators.fused import fused_image_tile_knn

        c = self.ctx
        sample = F.when(F.col("image_id").isin(self.sample_ids),
                        F.struct("image_id", "ref_id", "dist_m", "mean_r", "mean_g", "mean_b"))
        with c.call("operators.fused.fused_image_tile_knn", "operators.fused"):
            out = fused_image_tile_knn(images, self.tiles, self.refs, k=K)
        with c.call("operators.fused.action", "operators.fused"):
            return (out.filter(F.col("rank") == 1).groupBy("tile_id")
                    .agg(F.count("*").alias("n"),
                         F.avg("mean_r").alias("avg_r"),
                         F.avg("dist_m").alias("avg_nn_m"),
                         F.collect_list(sample).alias("sample"))
                    .toPandas())

    def warm_up(self) -> None:
        self._run(self.read(self.p_warm))

    def job(self):
        return self._run(self.read(self.p_images))

    def layer_metrics(self, out, ev) -> dict:
        c = self.ctx
        s = ev.sums({c.last["operators.fused.action"][1]})
        return {
            "operators.fused.action_s": c.seconds("operators.fused.action"),
            "operators.fused.python_bytes_sent_per_row": s.get(PY_SENT, 0.0) / self.rows,
            "operators.fused.python_rows_returned_per_row": s.get(PY_ROWS, 0.0) / self.rows,
        }

    def check(self, agg) -> list[str]:
        """The timed job's own aggregate against numpy over every input
        row: per-tile counts from ``wgs2tile``, per-tile mean red channel
        from a direct ``decode_image`` of each image, per-tile mean
        nearest-ref distance from a brute-force haversine minimum; and its
        rank-1 rows of the fixed sample: tile, channel means and a
        brute-force nearest ref."""
        import pandas as pd

        from xutil_spark.kernels import codec as K_codec

        fails = []
        tiles = pq.read_table(self.p_tiles, columns=["cell", "tile_id"]).to_pandas()
        dim = dict(zip(tiles["cell"].tolist(), tiles["tile_id"]))
        img = pq.read_table(self.p_images, columns=["image_id", "bytes", "w", "h", "fmt",
                                                    "phash"]).to_pandas()
        lon, lat = I.lonlat_from_phash(img["phash"].to_numpy())
        tid = tile_ids_for(lon, lat, dim)
        in_dim = np.flatnonzero(tid != None)  # noqa: E711 (element-wise)
        got = agg.set_index("tile_id")
        want = pd.Series(Counter(tid[in_dim]), dtype="int64")
        if int(got["n"].sum()) != int(want.sum()):
            fails.append("tile_count_sum")
        if dict(zip(got.index, got["n"].astype(int))) != want.to_dict():
            fails.append("tile_counts")

        means = np.zeros((len(img), 3))
        for i in in_dim:
            px = K_codec.decode_image(img.at[i, "bytes"], img.at[i, "w"], img.at[i, "h"],
                                      img.at[i, "fmt"])
            means[i] = px.reshape(-1, 3).mean(axis=0)
        refs = Refs(pq.read_table(self.p_refs).to_pandas())
        per_tile = pd.DataFrame({"tile_id": tid[in_dim], "r": means[in_dim, 0],
                                 "nn": refs.nearest_m(lon[in_dim], lat[in_dim])}
                                ).groupby("tile_id").mean()
        both = per_tile.join(got, how="inner")
        if not np.allclose(both["avg_r"], both["r"], rtol=0, atol=1e-6):
            fails.append("tile_avg_r")
        if not np.allclose(both["avg_nn_m"], both["nn"], rtol=0, atol=1e-3):
            fails.append("tile_avg_nn_m")

        rows: dict[str, list] = {}
        for t, lst in zip(agg["tile_id"], agg["sample"]):
            for r in (lst if lst is not None else []):
                rows.setdefault(r["image_id"], []).append((t, r))
        pos = {v: i for i, v in enumerate(img["image_id"])}
        for sid in self.sample_ids:
            i, hits = pos[sid], rows.get(sid, [])
            if tid[i] is None:
                if hits:
                    fails.append("out_of_dim_row")
                continue
            if len(hits) != 1:
                fails.append("missing_row")
                continue
            t, r = hits[0]
            if t != tid[i]:
                fails.append("sample_tile")
            if not np.allclose([r["mean_r"], r["mean_g"], r["mean_b"]], means[i],
                               rtol=0, atol=1e-6):
                fails.append("channel_means")
            if not refs.matches(lon[i], lat[i], [r["ref_id"]], [r["dist_m"]], 1):
                fails.append("rank1_ref")
        return sorted(set(fails))


# ---------------------------------------------------------------- points

class PointPipKnnSkewed(Workload):
    """Points without image bytes (same skew, phash-derived locations) →
    ``point_in_polygon_join`` against the z10 tile polygons at zoom 12 →
    ``knn_join(strategy="grid", broadcast_refs=False)`` against more refs
    than the 200k-row in-closure gate."""

    name = "point_pip_knn_skewed"
    rows_full, rows_tiny = 10_000, 2_000
    checks = ("pip_duplicate_point", "pip_vs_wgs2tile", "knn_vs_brute_force")

    @property
    def n_refs(self) -> int:
        return 20_000 if self.ctx.tiny else 220_000

    def prepare(self) -> list[str]:
        c = self.ctx
        self.p_points = c.path("points", self.rows)
        self.p_warm = c.path("points", self.warm_rows)
        self.p_tiles = c.path("tiles")
        self.p_refs = c.path("refs", self.n_refs)
        self.p_sample = c.path("images", 512)  # for the codec microbench
        return [self.p_points, self.p_warm, self.p_tiles, self.p_refs]

    def load_dims(self) -> None:
        self.tiles = self.pin(self.p_tiles, "tile_id", "wkt")
        self.refs = self.pin(self.p_refs)

    def _run(self, points, tiles=None, refs=None):
        from xutil_spark.operators.spatial_join import knn_join, point_in_polygon_join

        c = self.ctx
        with c.call("operators.spatial_join.point_in_polygon_join",
                    "operators.spatial_join"):
            pip = point_in_polygon_join(points, tiles or self.tiles, zoom=12,
                                        poly_id="tile_id")
        with c.call("operators.spatial_join.knn_join", "operators.spatial_join"):
            out = knn_join(pip.drop("wkt"), refs or self.refs, k=K, strategy="grid",
                           broadcast_refs=False, point_id="image_id")
        with c.call("operators.spatial_join.action", "operators.spatial_join"):
            out.write.format("noop").mode("overwrite").save()
        return out

    def warm_up(self) -> None:
        """The chain on tiny tables: the tile polygon cover and the kNN
        rounds cost about the same whatever the point count, so the
        dimensions shrink too: to the hot-cell tiles, which always hold
        warm-up points (``knn_join`` fails on an empty input), and to the
        refs within a degree of them."""
        from pyspark.sql import functions as F

        from xutil_spark.kernels import tiles as K_tiles

        x, y, _ = K_tiles.cell_decode(K_tiles.cell_parent(I.hot_cells(), I.TILE_ZOOM))
        hot = [f"z{I.TILE_ZOOM}x{a}y{b}" for a, b in zip(x, y)]
        near = F.lit(False)
        for lon, lat in I.HOT_CENTERS:
            near = near | ((F.abs(F.col("lon") - lon) < 1) & (F.abs(F.col("lat") - lat) < 1))
        self._run(self.read(self.p_warm), self.tiles.filter(F.col("tile_id").isin(hot)),
                  self.refs.filter(near))

    def job(self):
        return self._run(self.read(self.p_points))

    def layer_calls(self) -> dict:
        """PiP on its own (it runs fused into the kNN input otherwise), and
        its filter-phase candidate count from the engine's covering-cell
        kernel, for the useful-work ratio of the refine step."""
        from xutil_spark.kernels import geometry as K_geom
        from xutil_spark.kernels import tiles as K_tiles
        from xutil_spark.operators.spatial_join import point_in_polygon_join

        c = self.ctx
        knn = ("operators.spatial_join.knn_join", "operators.spatial_join.action")
        m = {"operators.spatial_join.knn_grid_s": sum(c.seconds(n) for n in knn),
             "operators.spatial_join.knn_grid_jobs": float(c.jobs_in(*knn))}
        name = "operators.spatial_join.point_in_polygon_join.count"
        with c.call(name, "operators.spatial_join"):
            matched = point_in_polygon_join(self.read(self.p_points), self.tiles,
                                            zoom=12, poly_id="tile_id").count()
        m["operators.spatial_join.pip_join_s"] = c.seconds(name)
        cover: dict[int, int] = {}
        with c.tr.span("kernels.geometry.covering_cells", "kernels.geometry"):
            for w in pq.read_table(self.p_tiles, columns=["wkt"]).column(0).to_pylist():
                for cell in K_geom.covering_cells(K_geom.from_wkt(w), 12):
                    cover[cell] = cover.get(cell, 0) + 1
        pts = pq.read_table(self.p_points, columns=["lon", "lat"]).to_pandas()
        cells = K_tiles.cell_encode(pts["lon"].to_numpy(), pts["lat"].to_numpy(), 12)
        cand = sum(cover.get(int(x), 0) for x in cells)
        m["operators.spatial_join.pip_candidates_per_point"] = cand / len(cells)
        m["operators.spatial_join.pip_match_ratio"] = matched / max(cand, 1)
        return m

    def check(self, out) -> list[str]:
        from pyspark.sql import functions as F

        fails = []
        tiles = pq.read_table(self.p_tiles, columns=["cell", "tile_id"]).to_pandas()
        dim = dict(zip(tiles["cell"].tolist(), tiles["tile_id"]))
        pts = pq.read_table(self.p_points).to_pandas()
        want = tile_ids_for(pts["lon"].to_numpy(), pts["lat"].to_numpy(), dim)
        want_map = {i: t for i, t in zip(pts["image_id"], want) if t is not None}
        got = out.filter(F.col("rank") == 1).select("image_id", "tile_id").toPandas()
        if got["image_id"].duplicated().any():
            fails.append("pip_duplicate_point")
        if dict(zip(got["image_id"], got["tile_id"])) != want_map:
            fails.append("pip_vs_wgs2tile")

        rng = np.random.default_rng([self.ctx.seed, 11])
        ids = sorted(rng.choice(sorted(want_map), SAMPLE, replace=False).tolist())
        rows = (out.filter(F.col("image_id").isin(ids))
                .select("image_id", "ref_id", "dist_m", "rank").toPandas()
                .sort_values(["image_id", "rank"]))
        refs = Refs(pq.read_table(self.p_refs).to_pandas())
        pts = pts.set_index("image_id")
        for pid in ids:
            g = rows[rows["image_id"] == pid]
            if not refs.matches(pts.at[pid, "lon"], pts.at[pid, "lat"],
                                g["ref_id"].tolist(), g["dist_m"].to_numpy(), K):
                fails.append("knn_vs_brute_force")
        return sorted(set(fails))


# ---------------------------------------------------------------- snapshot

class SnapshotResizeResume(Workload):
    """Run A: ``ResumablePipeline`` commits ``raster.images.resize(…, "png")``.
    Run B: a fresh pipeline on the same store skips that stage, computes
    and commits ``raster.images.dhash`` and reads the result."""

    name = "snapshot_resize_resume"
    rows_full, rows_tiny = 6_000, 1_000
    out_w = out_h = 32
    checks = ("run_a_log", "run_b_log", "dhash_digest", "resized_pixels")

    def prepare(self) -> list[str]:
        c = self.ctx
        self.p_images = c.path("images", self.rows)
        self.p_warm = c.path("images", self.warm_rows)
        self.p_sample = self.p_images
        return [self.p_images, self.p_warm]

    def load_dims(self) -> None:
        """This workload joins no dimension table."""

    def _store_root(self) -> str:
        return os.path.join(self.ctx.scratch, f"snapstore-{uuid.uuid4().hex[:8]}")

    def _run(self, path: str):
        from xutil_spark.plans.snapshot import ResumablePipeline, SnapshotStore
        from xutil_spark.raster.images import dhash, resize

        c = self.ctx
        images = self.read(path)
        root = self._store_root()
        fp = f"{os.path.basename(path)}-{self.out_w}x{self.out_h}"

        def resized():
            return resize(images, self.out_w, self.out_h, "png")

        t0 = time.perf_counter()
        with c.call("plans.snapshot.run_a", "plans.snapshot"):
            run_a = ResumablePipeline(SnapshotStore(c.spark, root))
            with c.call("raster.images.resize_stage", "raster.images"):
                run_a.stage("resize", resized, fingerprint=fp)
        t1 = time.perf_counter()
        with c.call("plans.snapshot.run_b", "plans.snapshot"):
            run_b = ResumablePipeline(SnapshotStore(c.spark, root))
            with c.call("plans.snapshot.resume_read", "plans.snapshot"):
                small = run_b.stage("resize", resized, fingerprint=fp)
            with c.call("raster.images.dhash_stage", "raster.images"):
                hashed = run_b.stage("dhash", lambda: dhash(small), fingerprint=fp)
            with c.call("plans.snapshot.read_result", "plans.snapshot"):
                result = hashed.toPandas()
        t2 = time.perf_counter()
        return {"root": root, "run_a": run_a, "run_b": run_b, "result": result,
                "commit_s": t1 - t0, "resume_s": t2 - t1}

    def warm_up(self) -> None:
        shutil.rmtree(self._run(self.p_warm)["root"], ignore_errors=True)

    def job(self):
        return self._run(self.p_images)

    def cleanup(self, out) -> None:
        if out is not None:
            shutil.rmtree(out["root"], ignore_errors=True)

    def layer_metrics(self, out, ev) -> dict:
        c = self.ctx
        snaps = {s["stage"]: s for s in out["run_b"].store.snapshots()}
        stage_s = {st: c.seconds(f"raster.images.{st}_stage") for st in ("resize", "dhash")}
        return {
            "raster.images.resize_stage_s": stage_s["resize"],
            "raster.images.dhash_stage_s": stage_s["dhash"],
            "plans.snapshot.commit_overhead_s": sum(
                stage_s[st] - snaps[st]["wall_sec"] for st in stage_s),
            "plans.snapshot.bytes_written_per_input_byte":
                _tree_bytes(out["root"])[0] / _tree_bytes(self.p_images)[0],
            "plans.snapshot.files_per_snapshot": float(np.mean(
                [_tree_bytes(s["path"])[1] for s in snaps.values()])),
            "plans.snapshot.resume_read_s": c.seconds("plans.snapshot.resume_read"),
            "plans.snapshot.commit_s": out["commit_s"],
            "plans.snapshot.resume_s": out["resume_s"],
        }

    @staticmethod
    def digest(pdf) -> str:
        pdf = pdf.sort_values("image_id")
        h = hashlib.sha256()
        for i, d in zip(pdf["image_id"], pdf["dhash"]):
            h.update(f"{i}:{int(d)};".encode())
        return h.hexdigest()

    def check(self, out) -> list[str]:
        from pyspark.sql import functions as F

        from xutil_spark.kernels import codec as K_codec
        from xutil_spark.raster.images import dhash, resize

        fails = []
        a, b = out["run_a"], out["run_b"]
        if a.executed != ["resize"] or a.skipped:
            fails.append("run_a_log")
        if b.skipped != ["resize"] or b.executed != ["dhash"]:
            fails.append("run_b_log")
        images = self.read(self.p_images)
        direct = dhash(resize(images, self.out_w, self.out_h, "png")).toPandas()
        if len(out["result"]) != self.rows or self.digest(out["result"]) != self.digest(direct):
            fails.append("dhash_digest")

        rng = np.random.default_rng([self.ctx.seed, 13])
        meta = pq.read_table(self.p_images, columns=["image_id"]).to_pandas()
        ids = sorted(meta["image_id"].to_numpy()[
            rng.choice(len(meta), SAMPLE, replace=False)].tolist())
        src = pq.read_table(self.p_images, filters=[("image_id", "in", ids)]).to_pandas()
        snap = b.store.find("resize")
        small = (b.store.read(snap).filter(F.col("image_id").isin(ids))
                 .toPandas().set_index("image_id"))
        for r in src.itertuples(index=False):
            px = K_codec.decode_image(r.bytes, r.w, r.h, r.fmt)
            yi = np.arange(self.out_h) * r.h // self.out_h
            xi = np.arange(self.out_w) * r.w // self.out_w
            got = K_codec.decode_image(small.at[r.image_id, "bytes"],
                                       self.out_w, self.out_h, "png")
            if not np.array_equal(got, px[yi][:, xi]):
                fails.append("resized_pixels")
        return sorted(set(fails))


WORKLOADS = {w.name: w for w in (ImageTileKnn, PointPipKnnSkewed, SnapshotResizeResume)}
