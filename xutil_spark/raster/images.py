"""Image decode / feature-extract / mosaic over the images fact table.

The multimodal pattern (BASELINE.json input_hint): images are opaque
``binary`` with typed metadata ``(w, h, fmt)``.  Decoding runs inside
``mapInPandas`` — one Python invocation per Arrow batch, codecs from
``kernels.codec`` (pure numpy+zlib; PIL-class codecs are stubbed with
NotImplementedError but the plumbing — schema, batching, partitioning —
is identical for any codec).

Per-row invariants (pytest-enforced): decoded pixels match the
generator exactly for lossless fmts (PSNR=∞ ≥ 40 dB gate), captions are
byte-equal through the whole pipeline.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from xutil_spark.kernels import codec as K_codec

_STAT_FIELDS = [
    T.StructField("mean_r", T.DoubleType(), False),
    T.StructField("mean_g", T.DoubleType(), False),
    T.StructField("mean_b", T.DoubleType(), False),
    T.StructField("px_sum", T.LongType(), False),
]


def decode_stats(images: DataFrame) -> DataFrame:
    """Decode every image and emit per-image channel means + pixel sum
    (a cheap, deterministic whole-image feature).  Every non-``bytes``
    input column (caption, phash, …) passes through untouched — the
    caption byte-equality invariant holds, and downstream stages (e.g.
    phash-derived location) need no re-join against the fact table."""
    keep = [f for f in images.schema.fields if f.name != "bytes"]
    keep_names = [f.name for f in keep]
    schema = T.StructType(keep + _STAT_FIELDS)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            means, px_sum = K_codec.decode_stats(b["bytes"], b["w"], b["h"], b["fmt"])
            out = b[keep_names].reset_index(drop=True)
            out["mean_r"], out["mean_g"], out["mean_b"] = means.T
            out["px_sum"] = px_sum
            yield out

    return images.mapInPandas(run, schema=schema)


RESIZE_SCHEMA = T.StructType([
    T.StructField("image_id", T.StringType(), False),
    T.StructField("caption", T.StringType(), False),
    T.StructField("w", T.IntegerType(), False),
    T.StructField("h", T.IntegerType(), False),
    T.StructField("fmt", T.StringType(), False),
    T.StructField("bytes", T.BinaryType(), False),
])


def resize(images: DataFrame, out_w: int, out_h: int, out_fmt: str = "raw") -> DataFrame:
    """Nearest-neighbor resize (pure numpy indexing) → re-encode.
    Demonstrates the decode → transform → encode pipeline shape used by
    any multimodal featurizer."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        ys = None
        for b in batches:
            rows = {k: [] for k in ("image_id", "caption", "w", "h", "fmt", "bytes")}
            for r in b.itertuples(index=False):
                px = K_codec.decode_image(bytes(r.bytes), int(r.w), int(r.h), r.fmt)
                yi = (np.arange(out_h) * r.h // out_h).astype(np.int64)
                xi = (np.arange(out_w) * r.w // out_w).astype(np.int64)
                rs = px[yi][:, xi]
                rows["image_id"].append(r.image_id)
                rows["caption"].append(r.caption)
                rows["w"].append(out_w)
                rows["h"].append(out_h)
                rows["fmt"].append(out_fmt)
                rows["bytes"].append(K_codec.encode_image(rs, out_fmt))
            yield pd.DataFrame(rows)

    return images.mapInPandas(run, schema=RESIZE_SCHEMA)


DHASH_SCHEMA = T.StructType([
    T.StructField("image_id", T.StringType(), False),
    T.StructField("dhash", T.LongType(), False),
])


def dhash(images: DataFrame, id_col: str = "image_id") -> DataFrame:
    """64-bit difference-hash (dHash) per image: decode → integer
    grayscale ``(299·r + 587·g + 114·b) // 1000`` → 9×8 nearest-neighbor
    resample → bit ``y·8+x`` set iff ``gray[y,x] > gray[y,x+1]``.

    All-integer math end to end (no float gray, no rounding) so the
    fingerprint is platform-exact and oracle-checkable.  Perceptual
    near-dup image pairs then come from
    ``operators.dedup.hamming_near_dup_pairs`` over the result — the
    image side of the text SimHash pipeline.

    The decode is per row (inherent for variable-size blobs); the
    gray/resample/bit steps are vectorized numpy per image."""

    bitw = np.int64(1) << np.arange(64, dtype=np.int64).reshape(8, 8)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            ids, fps = [], []
            for r in b.itertuples(index=False):
                px = K_codec.decode_image(bytes(r.bytes), int(r.w), int(r.h), r.fmt)
                g = (px.astype(np.int64) @ np.array([299, 587, 114])) // 1000
                yi = np.arange(8) * int(r.h) // 8
                xi = np.arange(9) * int(r.w) // 9
                G = g[yi][:, xi]
                bits = G[:, :-1] > G[:, 1:]
                ids.append(getattr(r, id_col))
                fps.append(int((bitw * bits).sum()))
            yield pd.DataFrame({"image_id": ids, "dhash": np.array(fps, dtype=np.int64)})

    return images.mapInPandas(run, schema=DHASH_SCHEMA)


PHASH_SCHEMA = T.StructType([
    T.StructField("image_id", T.StringType(), False),
    T.StructField("phash64", T.LongType(), False),
])


def _dct_basis(n: int = 32, scale: int = 16384) -> np.ndarray:
    """Fixed-point DCT-II basis: ``C[k][m] = round(cos(pi*(2m+1)*k/(2n))
    * scale)``, round-half-away-from-zero, built with ``math.cos`` so the
    engine and any independent oracle derive bit-identical integers (a
    float DCT would make the hash platform/order-sensitive — the whole
    point of the fixed-point variant is an exactly checkable pHash)."""
    import math

    out = np.empty((n, n), dtype=np.int64)
    for k in range(n):
        for m in range(n):
            v = math.cos(math.pi * (2 * m + 1) * k / (2 * n)) * scale
            out[k, m] = int(math.floor(v + 0.5)) if v >= 0 else int(
                math.ceil(v - 0.5))
    return out


def phash_dct(images: DataFrame, id_col: str = "image_id") -> DataFrame:
    """64-bit perceptual hash (pHash, DCT flavor) per image, with a
    fixed-point integer DCT so the fingerprint is platform-exact:

    decode → integer grayscale ``(299·r + 587·g + 114·b) // 1000`` →
    32×32 nearest-neighbor resample → ``D = C·G·Cᵀ`` with the int64
    basis from ``_dct_basis`` → take the low-frequency 8×8 block
    (row-major ``vals[0..63]``, ``vals[0]`` = DC) → median = LOWER
    median of the 63 AC values (``sorted(vals[1:])[31]`` — integer, no
    .5 averaging) → bit 0 is always 0 (DC excluded, standard pHash
    practice), bit j (j ≥ 1) set iff ``vals[j] > median``.

    The decode is per row (inherent for variable-size blobs); resample
    gathers + the DCT run BATCHED — one stacked (B,32,32) int64 tensor,
    two broadcast matmuls per Arrow batch.  Near-dup image pairs come
    from ``operators.dedup.hamming_near_dup_pairs`` over the result,
    same as dHash/SimHash."""

    C = _dct_basis()
    CT = C.T.copy()
    bitw = np.uint64(1) << np.arange(64, dtype=np.uint64)
    yi32 = np.arange(32, dtype=np.int64)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            ids, grays = [], []
            for r in b.itertuples(index=False):
                px = K_codec.decode_image(bytes(r.bytes), int(r.w), int(r.h), r.fmt)
                g = (px.astype(np.int64) @ np.array([299, 587, 114])) // 1000
                grays.append(g[yi32 * int(r.h) // 32][:, yi32 * int(r.w) // 32])
                ids.append(getattr(r, id_col))
            if not ids:
                yield pd.DataFrame({"image_id": [], "phash64": []})
                continue
            G = np.stack(grays)                     # (B, 32, 32) int64
            D = C @ G @ CT                          # batched, |D| < 2^47
            vals = D[:, :8, :8].reshape(len(ids), 64)
            med = np.sort(vals[:, 1:], axis=1)[:, 31]
            bits = vals > med[:, None]
            bits[:, 0] = False
            fp = (bits.astype(np.uint64) * bitw).sum(axis=1, dtype=np.uint64)
            yield pd.DataFrame(
                {"image_id": ids, "phash64": fp.view(np.int64)})

    return images.mapInPandas(run, schema=PHASH_SCHEMA)


MOSAIC_SCHEMA = T.StructType([
    T.StructField("cell", T.LongType(), False),
    T.StructField("zoom", T.IntegerType(), False),
    T.StructField("n_images", T.LongType(), False),
    T.StructField("deg", T.IntegerType(), False),
    T.StructField("fmt", T.StringType(), False),
    T.StructField("bytes", T.BinaryType(), False),
])


def tile_mosaic(
    images_with_loc: DataFrame, zoom: int = 12, deg: int = 256,
    out_fmt: str = "png",
) -> DataFrame:
    """Raster↔vector: place every image at its TileImage pixel
    (gis.go:277-283) inside its tile and render one ``deg×deg`` raster
    per tile (mean pixel color splat, last-write-wins per pixel by
    image_id order for determinism).

    groupBy(cell).applyInPandas — the canonical per-tile refinement
    stage; shuffle key = cell id, so mosaics co-locate with any other
    cell-keyed stage.  The shuffle is PINNED to defaultParallelism via
    an explicit repartition(N, cell) (which satisfies applyInPandas's
    distribution requirement — no second exchange): AQE sizes
    post-shuffle partitions by BYTES, and mosaic groups are tiny in
    bytes but heavy in Python decode work, so byte-based coalescing
    starves the render of cores (measured 3.4s → 1.3s at 1,200
    images / 32 cores)."""
    from xutil_spark.functions import native
    from xutil_spark.kernels import tiles as K_tiles

    with_cell = (
        images_with_loc
        .withColumn("cell", native.cell("lon", "lat", zoom))
    )

    def render(key, pdf: pd.DataFrame) -> pd.DataFrame:
        cell = int(key[0])
        canvas = np.zeros((deg, deg, 3), dtype=np.uint8)
        pdf = pdf.sort_values("image_id")
        lon = pdf["lon"].to_numpy(np.float64)
        lat = pdf["lat"].to_numpy(np.float64)
        _, _, px, py = K_tiles.tile_image(lon, lat, zoom, deg)
        for i, r in enumerate(pdf.itertuples(index=False)):
            pix = K_codec.decode_image(bytes(r.bytes), int(r.w), int(r.h), r.fmt)
            mean = pix.reshape(-1, 3).mean(axis=0).astype(np.uint8)
            canvas[int(py[i]) % deg, int(px[i]) % deg] = mean
        return pd.DataFrame({
            "cell": [cell], "zoom": [zoom], "n_images": [len(pdf)],
            "deg": [deg], "fmt": [out_fmt],
            "bytes": [K_codec.encode_image(canvas, out_fmt)],
        })

    par = images_with_loc.sparkSession.sparkContext.defaultParallelism
    return (with_cell.repartition(par, "cell")
            .groupBy("cell").applyInPandas(render, schema=MOSAIC_SCHEMA))


AUGMENT_OPS = ("hflip", "vflip", "rot90", "crop2x")

AUGMENT_SCHEMA = T.StructType([
    T.StructField("image_id", T.StringType(), False),
    T.StructField("op", T.StringType(), False),
    T.StructField("w", T.IntegerType(), False),
    T.StructField("h", T.IntegerType(), False),
    T.StructField("fmt", T.StringType(), False),
    T.StructField("bytes", T.BinaryType(), False),
])


def augment(images: DataFrame, id_col: str = "image_id",
            out_fmt: str = "raw") -> DataFrame:
    """Deterministic per-image augmentation — the training-data
    version of the decode → transform → encode pipeline (`resize`):
    each image gets ONE op selected by a hash of its id (xxhash64 —
    row-content-derived, so retries/speculation replay identically;
    never partition order):

      hflip   mirror left-right              (dims preserved)
      vflip   mirror top-bottom              (dims preserved)
      rot90   90° clockwise                  (dims SWAP: w×h → h×w)
      crop2x  center-crop half → nearest-resize back (dims preserved)

    All four are numpy view/index operations — no interpolation
    arithmetic, so augmented pixels are bit-exact permutations /
    replications of source pixels (crop2x replicates each kept pixel
    2×2; nearest indexing yi = Y·(h/2)//h = Y//2).

    100-TB shape: ONE mapInPandas over the fact table, no shuffle, no
    dim; batch cost is O(pixels).  Emits (id, op, w, h, fmt, bytes).
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            rows = {k: [] for k in ("image_id", "op", "w", "h", "fmt",
                                    "bytes")}
            for r in b.itertuples(index=False):
                px = K_codec.decode_image(bytes(r.bytes), int(r.w),
                                          int(r.h), r.fmt)
                h, w = px.shape[0], px.shape[1]
                # deterministic op from the id bytes (FNV-1a 64, cheap
                # scalar, mirrors nothing engine-side — any stable hash
                # works; the oracle replays it independently)
                op = AUGMENT_OPS[_fnv1a64(str(getattr(r, id_col))) % 4]
                if op == "hflip":
                    out = px[:, ::-1]
                elif op == "vflip":
                    out = px[::-1, :]
                elif op == "rot90":
                    # clockwise: out[y, x] = px[h-1-x, y]; dims swap
                    out = np.rot90(px, k=-1)
                else:  # crop2x
                    y0, x0 = h // 4, w // 4
                    ch, cw = h // 2, w // 2
                    crop = px[y0:y0 + ch, x0:x0 + cw]
                    # nearest-resize back to h×w; arange//2 would index
                    # row ch (out of bounds) when h is odd — the
                    # *(ch)//h form reduces to //2 for even dims
                    out = crop[np.arange(h) * ch // h][:, np.arange(w) * cw // w]
                oh, ow = out.shape[0], out.shape[1]
                rows["image_id"].append(getattr(r, id_col))
                rows["op"].append(op)
                rows["w"].append(ow)
                rows["h"].append(oh)
                rows["fmt"].append(out_fmt)
                rows["bytes"].append(
                    K_codec.encode_image(np.ascontiguousarray(out), out_fmt))
            yield pd.DataFrame(rows)

    return images.mapInPandas(run, schema=AUGMENT_SCHEMA)


def _fnv1a64(s: str) -> int:
    """FNV-1a 64-bit over the utf-8 bytes (public constants)."""
    h = 0xCBF29CE484222325
    for c in s.encode("utf-8"):
        h ^= c
        h = (h * 0x100000001B3) & ((1 << 64) - 1)
    return h


def blob_label(mask: np.ndarray) -> list[tuple[int, int, int, int, int]]:
    """4-connected components of a boolean mask — one (n_px, min_y,
    min_x, sum_x, sum_y) tuple per blob.  Integer-only, so any correct
    labeling algorithm (this BFS, the oracle's scanline union-find)
    produces identical statistics."""
    h, w = mask.shape
    seen = np.zeros_like(mask, dtype=bool)
    out = []
    for y0 in range(h):
        for x0 in range(w):
            if not mask[y0, x0] or seen[y0, x0]:
                continue
            stack = [(y0, x0)]
            seen[y0, x0] = True
            n = sx = sy = 0
            my, mx = y0, x0
            while stack:
                y, x = stack.pop()
                n += 1
                sx += x
                sy += y
                if (y, x) < (my, mx):
                    my, mx = y, x
                for ny, nx in ((y - 1, x), (y + 1, x), (y, x - 1),
                               (y, x + 1)):
                    if 0 <= ny < h and 0 <= nx < w and mask[ny, nx] \
                            and not seen[ny, nx]:
                        seen[ny, nx] = True
                        stack.append((ny, nx))
            out.append((n, my, mx, sx, sy))
    return out


def blob_stats(images: DataFrame, thresh: int = 128,
               id_col: str = "image_id") -> DataFrame:
    """Connected-component blob statistics per image — the classic
    object-counting / mask-analysis raster primitive (the image-side
    twin of the graph CC stack): decode → integer grayscale → binary
    mask at ``thresh`` → 4-connected labeling.

    Per image: ``n_blobs``, ``max_blob_px``, and the LARGEST blob's
    integer centroid ``(Σx·10000 div n, Σy·10000 div n)`` — ties on
    size break on the smallest raster-order anchor pixel, so every
    output is exact integer arithmetic and a scanline union-find
    replay agrees digit-for-digit.

    The decode is per row (inherent for variable-size blobs); labeling
    is per image over ≤ a few thousand pixels — one mapInPandas, no
    shuffle."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            rows = {k: [] for k in (id_col, "n_blobs", "max_blob_px",
                                    "cx_q", "cy_q", "mask_px")}
            for r in b.itertuples(index=False):
                px = K_codec.decode_image(bytes(r.bytes), int(r.w),
                                          int(r.h), r.fmt)
                g = (px.astype(np.int64) @ np.array([299, 587, 114])) // 1000
                mask = g >= thresh
                blobs = blob_label(mask)
                rows[id_col].append(getattr(r, id_col))
                rows["mask_px"].append(int(mask.sum()))
                rows["n_blobs"].append(len(blobs))
                if blobs:
                    best = max(blobs, key=lambda t: (t[0], (-t[1], -t[2])))
                    n, _, _, sx, sy = best
                    rows["max_blob_px"].append(n)
                    rows["cx_q"].append(sx * 10000 // n)
                    rows["cy_q"].append(sy * 10000 // n)
                else:
                    rows["max_blob_px"].append(0)
                    rows["cx_q"].append(-1)
                    rows["cy_q"].append(-1)
            yield pd.DataFrame(rows)

    return images.mapInPandas(
        run, f"{id_col} string, n_blobs int, max_blob_px int, "
             "cx_q long, cy_q long, mask_px long")
