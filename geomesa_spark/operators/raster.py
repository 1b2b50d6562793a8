"""Raster -> vector tile assignment (the BASELINE headline image operator).

Semantics re-created from the reference's density/rendering stack:
``DensityScan`` renderers write geometry weights onto a W x H pixel grid
(``DensityScan.scala:287-345``), with snap math from ``GridSnap.scala:59-80``
and weights from ``DensityScan.scala:159-184``. Here the raster is the
*input*: each image's w x h pixel grid is anchored at its (lon, lat), every
pixel maps to the Z2 tile cell under it, and normalized pixel intensity
accumulates as the tile weight.

Execution shape (the part that must survive 100 TB):
- ``bytes`` is only read inside one ``mapInPandas`` stage (Arrow batches);
  the stage emits compact (image_id, tile_cell, weight) rows pre-aggregated
  per image, so the shuffle that follows carries NO image payloads.
- decode is per-format vectorized numpy (png/qjz/raw) from functions.image;
  decode -> tile cells is one kernel, :func:`image_tiles`, which the fused
  scan (sources/parquet_scan.process_density_split) runs too.
- the final groupBy(tile_cell) is a plain partial+final native agg.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from ..core import cells
from ..functions.image import decode_image

GRAY = np.array([0.299, 0.587, 0.114])


def image_tiles(
    data: bytes, fmt: str, w: int, h: int, lon0: float, lat0: float,
    res: int, pixel_pitch_deg: float,
) -> tuple[np.ndarray, np.ndarray]:
    """One image -> (tile_cell, weight) arrays: the package's one
    decode -> gray -> block-sum -> tile-cell kernel, shared by
    :func:`tile_assignments` and the fused ``parquet_scan`` density scan.

    Pixel (row, col) sits at (lon0 + col*pitch, lat0 - row*pitch). The
    columns' cell-x and the rows' cell-y indices are each MONOTONIC, so the
    image partitions into contiguous rectangular blocks per tile. Two
    nested np.add.reduceat calls produce every block's intensity sum in one
    pass — O(w+h) cell-index math per image instead of O(w*h) per-pixel
    encode + a sort."""
    nres = np.int64(1) << np.int64(res)
    gray = (decode_image(data, fmt, w, h).astype(np.float64) @ GRAY) / 255.0
    h, w = gray.shape
    xi = np.floor(
        (lon0 + np.arange(w) * pixel_pitch_deg + 180.0) * nres / 360.0
    ).astype(np.int64)
    yi = np.floor(
        (lat0 - np.arange(h) * pixel_pitch_deg + 90.0) * nres / 180.0
    ).astype(np.int64)
    np.clip(xi, 0, nres - 1, out=xi)
    np.clip(yi, 0, nres - 1, out=yi)
    cs = np.concatenate(([0], np.flatnonzero(np.diff(xi)) + 1))
    rs = np.concatenate(([0], np.flatnonzero(np.diff(yi)) + 1))
    blocks = np.add.reduceat(np.add.reduceat(gray, rs, axis=0), cs, axis=1)
    cx = cells.encode_xy(xi[cs], np.zeros(len(cs), dtype=np.int64))
    cy = cells.encode_xy(np.zeros(len(rs), dtype=np.int64), yi[rs])
    return (cy[:, None] | cx[None, :]).ravel(), blocks.ravel()


def tile_assignments(
    images: DataFrame,
    res: int = 18,
    pixel_pitch_deg: float = 1e-5,
    lon: str = "lon",
    lat: str = "lat",
) -> DataFrame:
    """-> (image_id, tile_cell, weight): per-image per-tile normalized
    intensity sums. ``pixel_pitch_deg`` is the ground size of one pixel; the
    image's pixel (row, col) sits at (lon + col*pitch, lat - row*pitch),
    row-major from the anchor (top-left), mirroring RenderingGrid's
    row/column orientation."""

    needed = images.select("image_id", "bytes", "w", "h", "fmt", lon, lat)

    def assign(batches):
        for pdf in batches:
            out_ids, out_cells, out_w = [], [], []
            img_ids = pdf["image_id"].to_numpy()
            for k, row in enumerate(pdf.itertuples(index=False)):
                cell, weight = image_tiles(
                    row.bytes, row.fmt, row.w, row.h, getattr(row, lon),
                    getattr(row, lat), res, pixel_pitch_deg,
                )
                out_ids.append(np.full(cell.size, k, dtype=np.int64))
                out_cells.append(cell)
                out_w.append(weight)
            if not out_ids:
                continue
            yield pd.DataFrame(
                {
                    "image_id": img_ids[np.concatenate(out_ids)],
                    "tile_cell": np.concatenate(out_cells),
                    "weight": np.concatenate(out_w),
                }
            )

    return needed.mapInPandas(
        assign, schema="image_id string, tile_cell long, weight double"
    )


def tile_density(images: DataFrame, res: int = 18, pixel_pitch_deg: float = 1e-5,
                 lon: str = "lon", lat: str = "lat") -> DataFrame:
    """-> (tile_cell, weight, n_images): global tile heatmap — the density
    reduce over all images' tile assignments."""
    ta = tile_assignments(images, res=res, pixel_pitch_deg=pixel_pitch_deg, lon=lon, lat=lat)
    return ta.groupBy("tile_cell").agg(
        F.sum("weight").alias("weight"),
        F.countDistinct("image_id").alias("n_images"),
    )


def resize_images(
    images: DataFrame,
    out_w: int,
    out_h: int,
) -> DataFrame:
    """Nearest-neighbor image resize — the multimodal preprocessing op a
    training pipeline runs before feature extraction. One mapInPandas stage:
    decode -> integer-index resample -> re-emit as raw RGB plus an
    integer-exact gray checksum.

    -> (image_id, bytes raw-RGB at out_w x out_h, w, h, fmt='raw',
    gray_sum = sum over resized pixels of 299R + 587G + 114B).

    The source index math is pure integers — sr = (r * h) // out_h,
    sc = (c * w) // out_w — so the sampling (and the checksum) is replayable
    exactly by the SQL oracle from regenerated pixels, independent of float
    rounding and aggregation order.
    """
    needed = images.select("image_id", "bytes", "w", "h", "fmt")
    ow, oh = int(out_w), int(out_h)

    def rz(batches):
        for pdf in batches:
            ids, bufs, gs = [], [], []
            for row in pdf.itertuples(index=False):
                arr = decode_image(row.bytes, row.fmt, row.w, row.h)
                h, w = arr.shape[:2]
                sr = (np.arange(oh, dtype=np.int64) * h) // oh
                sc = (np.arange(ow, dtype=np.int64) * w) // ow
                rs = arr[sr[:, None], sc[None, :]]
                g = (
                    299 * rs[..., 0].astype(np.int64)
                    + 587 * rs[..., 1].astype(np.int64)
                    + 114 * rs[..., 2].astype(np.int64)
                ).sum()
                ids.append(row.image_id)
                bufs.append(rs.tobytes())
                gs.append(int(g))
            yield pd.DataFrame(
                {
                    "image_id": ids,
                    "bytes": bufs,
                    "w": np.full(len(ids), ow, dtype=np.int32),
                    "h": np.full(len(ids), oh, dtype=np.int32),
                    "fmt": ["raw"] * len(ids),
                    "gray_sum": np.array(gs, dtype=np.int64),
                }
            )

    return needed.mapInPandas(
        rz,
        schema="image_id string, bytes binary, w int, h int, fmt string, gray_sum long",
    )
