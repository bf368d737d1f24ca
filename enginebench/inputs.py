"""Seeded input tables for the engine benchmark.

Every table is a pure function of ``(seed, size)``: the same seed gives
byte-identical parquet.  Generation uses ``numpy.random.default_rng`` and
the public ``kernels.codec.encode_image``; it never calls
``xutil_spark.data.synth``, whose index-keyed generators cannot be
re-seeded.

Skew is stated, not incidental:

* ``HOT_SHARE`` of the distinct prints get a phash whose derived location
  lies inside one of three hot zoom-15 cells (dense-urban skew);
* ``DUP_SHARE`` of the rows repeat an earlier print (same bytes, same
  phash, new ``image_id``) — duplicate prints, so duplicate locations.

Locations follow the engine's phash rule (FIXTURES.md §1):
``lon = 73.5 + (phash & 0xFFFFF) / 2^20 * 61``,
``lat = 18.2 + ((phash >> 20) & 0xFFFFF) / 2^20 * 35.3``.

Tables are cached as parquet under ``<checkout>/.enginebench_cache`` keyed
by (kind, seed, size) and read fully once before timing (``preread``), so
every timed run starts from the same page-cache state.
"""

from __future__ import annotations

import os
import shutil
import subprocess
import sys

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from enginebench.procs import child_env, die_with_parent
from xutil_spark.kernels import codec as K_codec
from xutil_spark.kernels import tiles as K_tiles

# Bump when a generator changes, so stale cache files are never read.
VERSION = 1

BBOX = (73.5, 18.2, 134.5, 53.5)  # west, south, east, north
HOT_CENTERS = [(121.4737, 31.2304), (116.4074, 39.9042), (113.2644, 23.1291)]
HOT_ZOOM = 15
HOT_SHARE = 0.30
DUP_SHARE = 0.20
PNG_SHARE = 0.50
IMAGE_SIZES = [(16, 16), (32, 24), (48, 32)]  # (w, h), equal shares
TILE_ZOOM = 10
_WORDS = ["tile", "spark", "join", "cell", "raster", "vector", "shard",
          "skew", "river", "street", "harbor", "market"]
_ROW_GROUP = 4096


def cache_dir(root: str) -> str:
    return os.path.join(root, ".enginebench_cache")


def lonlat_from_phash(phash: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """The engine's phash → (lon, lat) rule, in numpy float64."""
    ph = np.asarray(phash, dtype=np.int64)
    lon = 73.5 + (ph & 0xFFFFF).astype(np.float64) / 1048576.0 * 61.0
    lat = 18.2 + ((ph >> 20) & 0xFFFFF).astype(np.float64) / 1048576.0 * 35.3
    return lon, lat


def hot_cells() -> np.ndarray:
    return np.array([int(K_tiles.cell_encode(x, y, HOT_ZOOM))
                     for x, y in HOT_CENTERS], dtype=np.int64)


def _phashes(rng: np.random.Generator, n: int) -> tuple[np.ndarray, np.ndarray]:
    """``n`` phashes; a ``HOT_SHARE`` fraction re-derive to a location in
    the middle 40% of a hot z15 cell (so the 20-bit phash grid cannot
    push them across the cell edge).  Returns (phash, is_hot)."""
    ph = rng.integers(np.iinfo(np.int64).min, np.iinfo(np.int64).max,
                      size=n, dtype=np.int64, endpoint=True)
    hot = rng.random(n) < HOT_SHARE
    w, s, e, nn = K_tiles.cell_bounds(hot_cells()[rng.integers(0, 3, n)])
    lon = w + (0.3 + 0.4 * rng.random(n)) * (e - w)
    lat = s + (0.3 + 0.4 * rng.random(n)) * (nn - s)
    lo = np.clip((lon - 73.5) / 61.0 * 1048576.0, 0, 1048575).astype(np.int64)
    hi = np.clip((lat - 18.2) / 35.3 * 1048576.0, 0, 1048575).astype(np.int64)
    hot_ph = (ph & ~np.int64(0xFFFFFFFFFF)) | (hi << 20) | lo
    return np.where(hot, hot_ph, ph), hot


def _row_sources(rng: np.random.Generator, n: int) -> tuple[int, np.ndarray]:
    """(number of distinct prints, print index of every row): the first
    occurrence of each print plus ``DUP_SHARE`` repeats, shuffled."""
    n_dup = int(round(n * DUP_SHARE))
    n_uniq = max(n - n_dup, 1)
    src = np.concatenate([np.arange(n_uniq),
                          rng.integers(0, n_uniq, n - n_uniq)])
    rng.shuffle(src)
    return n_uniq, src


def _pixels(rng: np.random.Generator, m: int, w: int, h: int) -> np.ndarray:
    """(m, h, w, 3) uint8: a gradient with per-image colour offsets and
    4 bits of noise, so PNG compresses like a photo thumbnail, not a
    constant."""
    yy, xx = np.mgrid[0:h, 0:w]
    base = np.stack([xx * 255 // (w - 1), yy * 255 // (h - 1),
                     (xx * 31 + yy * 17) % 256], axis=-1).astype(np.uint8)
    px = rng.integers(0, 16, (m, h, w, 3), dtype=np.uint8)
    px += base  # uint8 arithmetic wraps mod 256
    px += rng.integers(0, 256, (m, 1, 1, 3), dtype=np.uint8)
    return px


def make_images(seed: int, n: int) -> pd.DataFrame:
    """The input_hint images table: (image_id, bytes, w, h, fmt, caption,
    phash), half raw and half PNG, with hot-cell and duplicate skew."""
    rng = np.random.default_rng([seed, n, 1])
    n_uniq, src = _row_sources(rng, n)
    size_cls = rng.integers(0, len(IMAGE_SIZES), n_uniq)
    fmts = np.where(rng.random(n_uniq) < PNG_SHARE, "png", "raw")
    phash, _hot = _phashes(rng, n_uniq)
    blobs = np.empty(n_uniq, dtype=object)
    for c, (w, h) in enumerate(IMAGE_SIZES):
        idx = np.flatnonzero(size_cls == c)
        px = _pixels(rng, len(idx), w, h)
        for j, i in enumerate(idx):
            blobs[i] = K_codec.encode_image(px[j], fmts[i])
    ws = np.array([s[0] for s in IMAGE_SIZES], dtype=np.int32)[size_cls]
    hs = np.array([s[1] for s in IMAGE_SIZES], dtype=np.int32)[size_cls]
    words = rng.integers(0, len(_WORDS), (n_uniq, 3))
    captions = np.array([f"caption {i} " + " ".join(_WORDS[k] for k in words[i])
                         for i in range(n_uniq)], dtype=object)
    return pd.DataFrame({
        "image_id": [f"img{i:010d}" for i in range(n)],
        "bytes": blobs[src],
        "w": ws[src],
        "h": hs[src],
        "fmt": fmts[src].astype(object),
        "caption": captions[src],
        "phash": phash[src],
    })


def make_points(seed: int, n: int) -> pd.DataFrame:
    """Points with no image bytes: (image_id, phash, lon, lat), the same
    hot-cell and duplicate skew as the images table."""
    rng = np.random.default_rng([seed, n, 2])
    n_uniq, src = _row_sources(rng, n)
    phash, _hot = _phashes(rng, n_uniq)
    ph = phash[src]
    lon, lat = lonlat_from_phash(ph)
    return pd.DataFrame({"image_id": [f"pt{i:010d}" for i in range(n)],
                         "phash": ph, "lon": lon, "lat": lat})


def make_refs(seed: int, n: int) -> pd.DataFrame:
    """kNN reference points, uniform over the bbox: (ref_id, lon, lat)."""
    rng = np.random.default_rng([seed, n, 3])
    w, s, e, nn = BBOX
    return pd.DataFrame({"ref_id": [f"ref{i:08d}" for i in range(n)],
                         "lon": w + rng.random(n) * (e - w),
                         "lat": s + rng.random(n) * (nn - s)})


def make_tiles() -> pd.DataFrame:
    """z10 tile polygons over the bbox (one tile of margin) with one
    ninth of the tiles missing, so the inner joins drop points; the hot
    cells' tiles are always present.  (tile_id, zoom, cell, wkt)."""
    z = TILE_ZOOM
    x1, y1 = K_tiles.wgs2tile(BBOX[0], BBOX[3], z)
    x2, y2 = K_tiles.wgs2tile(BBOX[2], BBOX[1], z)
    gx, gy = np.meshgrid(np.arange(int(x1) - 1, int(x2) + 2),
                         np.arange(int(y1) - 1, int(y2) + 2), indexing="ij")
    gx, gy = gx.ravel(), gy.ravel()
    hx, hy, _ = K_tiles.cell_decode(K_tiles.cell_parent(hot_cells(), z))
    keep = ((gx + 2 * gy) % 9 != 0) | np.isin(gx * 4096 + gy, hx * 4096 + hy)
    gx, gy = gx[keep], gy[keep]
    lat_n, lng_w = K_tiles.tile2wgs(gx, gy, z)
    lat_s, lng_e = K_tiles.tile2wgs(gx + 1, gy + 1, z)
    return pd.DataFrame({
        "tile_id": [f"z{z}x{x}y{y}" for x, y in zip(gx, gy)],
        "zoom": np.full(len(gx), z, dtype=np.int32),
        "cell": K_tiles.cell_pack(gx, gy, z),
        "wkt": [f"POLYGON(({w} {s}, {e} {s}, {e} {n}, {w} {n}, {w} {s}))"
                for w, s, e, n in zip(lng_w, lat_s, lng_e, lat_n)],
    })


_MAKERS = {"images": make_images, "points": make_points, "refs": make_refs}
# Tables are written as this many files, so Spark reads them as several
# partitions (the tile polygons too: their covering-cell UDF then runs in
# parallel); the refs are pinned in memory, one file is enough.
FACT_FILES = 16


def cached(root: str, kind: str, seed: int, n: int = 0) -> str:
    """Directory of the cached parquet for (kind, seed, n).  On a miss the
    table is generated in a child process, so the generator's memory never
    counts in the benchmark process's RSS."""
    if kind == "tiles":
        seed = n = 0  # fixed geometry, one table for every seed
    path = os.path.join(cache_dir(root), f"{kind}-v{VERSION}-s{seed}-n{n}")
    if os.path.isdir(path):
        os.utime(path)  # most recently used: kept longest by ``prune``
    else:
        env = dict(child_env(), PYTHONPATH=os.pathsep.join(
            p for p in (root, os.environ.get("PYTHONPATH")) if p))
        subprocess.run([sys.executable, "-m", "enginebench.inputs", kind, str(seed),
                        str(n), path], check=True, cwd=root, env=env)
    return path


def write(kind: str, seed: int, n: int, path: str) -> None:
    """Generate one table and write it to ``path`` as parquet files.  They
    go to a temporary directory that is renamed into place, so an
    interrupted run never leaves a partial table behind."""
    pdf = make_tiles() if kind == "tiles" else _MAKERS[kind](seed, n)
    files = 1 if kind == "refs" else FACT_FILES
    tmp = f"{path}.tmp{os.getpid()}"
    os.makedirs(tmp)
    bounds = np.linspace(0, len(pdf), files + 1).astype(int)
    for i in range(files):
        part = pdf.iloc[bounds[i]:bounds[i + 1]]
        pq.write_table(pa.Table.from_pandas(part, preserve_index=False),
                       os.path.join(tmp, f"part-{i:05d}.parquet"),
                       row_group_size=_ROW_GROUP)
    os.replace(tmp, path)


def prune(root: str, keep: int = 40) -> None:
    """Delete all but the ``keep`` most recently used cached tables."""
    d = cache_dir(root)
    tables = [os.path.join(d, t) for t in os.listdir(d)
              if t.split("-")[0] in ("images", "points", "refs", "tiles")]
    for t in sorted(tables, key=os.path.getmtime)[:-keep]:
        shutil.rmtree(t, ignore_errors=True)


def preread(paths: list[str]) -> int:
    """Read every file of the given table directories fully, so the timed
    job finds them in the page cache; returns the bytes read."""
    total = 0
    for d in paths:
        for name in sorted(os.listdir(d)):
            with open(os.path.join(d, name), "rb") as fh:
                while chunk := fh.read(1 << 22):
                    total += len(chunk)
    return total


if __name__ == "__main__":
    die_with_parent()
    write(sys.argv[1], int(sys.argv[2]), int(sys.argv[3]), sys.argv[4])
