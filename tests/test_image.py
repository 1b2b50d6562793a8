"""Image codec + generator invariants (BASELINE: PSNR>=40dB lossy, lossless
exact, phash stability, deterministic regeneration)."""

import numpy as np
import pytest

from geomesa_spark.functions import image as img
from geomesa_spark.sources import images as src


def test_raw_roundtrip():
    arr = src.pixels_of(1)
    assert np.array_equal(img.decode_raw(img.encode_raw(arr), arr.shape[1], arr.shape[0]), arr)


def test_png_roundtrip_lossless():
    for i in (0, 7, 123):
        arr = src.pixels_of(i)
        out = img.decode_png(img.encode_png(arr))
        assert np.array_equal(out, arr)
        assert img.psnr(arr, out) == float("inf")


def test_png_decoder_handles_filters():
    """Exercise filter types 1/2/3/4 by hand-building filtered scanlines."""
    import struct
    import zlib

    rng = np.random.default_rng(3)
    arr = rng.integers(0, 256, size=(6, 5, 3), dtype=np.uint8)
    h, w = arr.shape[:2]
    bpp, stride = 3, w * 3
    flat = arr.reshape(h, stride).astype(np.int32)
    lines = []
    for r, f in zip(range(h), [0, 1, 2, 3, 4, 2]):
        prev = flat[r - 1] if r > 0 else np.zeros(stride, dtype=np.int32)
        cur = flat[r]
        enc = np.zeros(stride, dtype=np.int32)
        for c in range(stride):
            a = cur[c - bpp] if c >= bpp else 0
            b = prev[c]
            cc = prev[c - bpp] if c >= bpp else 0
            if f == 0:
                enc[c] = cur[c]
            elif f == 1:
                enc[c] = (cur[c] - a) & 0xFF
            elif f == 2:
                enc[c] = (cur[c] - b) & 0xFF
            elif f == 3:
                enc[c] = (cur[c] - ((a + b) >> 1)) & 0xFF
            else:
                p = a + b - cc
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - cc)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else cc)
                enc[c] = (cur[c] - pred) & 0xFF
        lines.append(bytes([f]) + bytes(enc.astype(np.uint8)))
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    buf = (
        b"\x89PNG\r\n\x1a\n"
        + img._chunk(b"IHDR", ihdr)
        + img._chunk(b"IDAT", zlib.compress(b"".join(lines)))
        + img._chunk(b"IEND", b"")
    )
    assert np.array_equal(img.decode_png(buf), arr)


def test_qjz_lossy_psnr_above_40():
    for i in (2, 50, 999):
        arr = src.pixels_of(i)
        out = img.decode_qjz(img.encode_qjz(arr))
        p = img.psnr(arr, out)
        assert p >= 40.0, f"qjz PSNR {p} < 40"
        assert not np.array_equal(out, arr)  # genuinely lossy


def test_jpeg_is_real_now():
    """Round 3: the jpeg stub was replaced by the from-scratch baseline
    codec (functions/jpeg.py); truncated input fails loudly, real JFIF
    roundtrips (full coverage in test_jpeg.py)."""
    with pytest.raises(Exception):
        img.decode_jpeg(b"\xff\xd8\xff")
    a = src.pixels_of(4)
    assert img.psnr(a, img.decode_jpeg(img.encode_jpeg(a))) >= 40.0


def test_phash_properties():
    a = src.pixels_of(10)
    h1 = img.phash64(a)
    assert img.phash64(a) == h1  # deterministic
    # lossy-decoded copy stays perceptually close
    a2 = img.decode_qjz(img.encode_qjz(a))
    assert img.hamming64(h1, img.phash64(a2)) <= 6
    # a different image is far
    b = src.pixels_of(11)
    assert img.hamming64(h1, img.phash64(b)) > 10
    assert -(2**63) <= h1 < 2**63


def test_generator_deterministic_and_valid():
    ids = np.arange(0, 60)
    p1 = src.generate_batch(ids)
    p2 = src.generate_batch(ids)
    assert p1.equals(p2)
    assert (p1["lon"].between(-180, 180)).all()
    assert (p1["lat"].between(-90, 90)).all()
    assert set(p1["fmt"]) == {"raw", "png", "qjz"}
    # decoded pixels match the generator exactly for lossless, PSNR>=40 lossy
    for _, row in p1.head(12).iterrows():
        i = int(row.image_id[3:])
        truth = src.pixels_of(i)
        got = img.decode_image(row["bytes"], row.fmt, row.w, row.h)
        assert img.psnr(truth, got) >= 40.0
        assert row.caption == src.caption_of(i)
        assert row.phash == img.phash64(truth)


def _batch_digest(pdf) -> str:
    import hashlib

    h = hashlib.sha256()
    for c in ("image_id", "fmt", "caption"):
        h.update("\0".join(pdf[c]).encode())
    h.update(b"".join(pdf["bytes"]))
    for c in ("w", "h", "phash", "lon", "lat"):
        h.update(pdf[c].to_numpy().tobytes())
    h.update(pdf["ts"].astype("int64").to_numpy().tobytes())
    return h.hexdigest()[:16]


@pytest.mark.parametrize("start, digest", [
    (0, "0328557fd6718afc"),
    (10**6, "314f808a086e5431"),
    (7_777_777_000, "5fc9e9ae2f58c897"),
])
def test_generate_batch_equals_per_row_path(start, digest):
    """The batch generator derives its per-row scalars vectorized; every row
    must still equal the per-row API (pixels_of, caption_of), and the FMTS
    recipe must reproduce the frozen table (digest of the per-row
    generator this batch path replaced)."""
    ids = start + np.arange(60, dtype=np.int64)
    pdf = src.generate_batch(ids, fmts=src.FMTS)
    arrs = [src.pixels_of(int(i)) for i in ids]
    fmts = [src.FMTS[int(i) % 3] for i in ids]
    ref = pdf.assign(
        bytes=[img.encode_image(a, f) for a, f in zip(arrs, fmts)],
        w=np.array([a.shape[1] for a in arrs], dtype=np.int32),
        h=np.array([a.shape[0] for a in arrs], dtype=np.int32),
        fmt=fmts,
        caption=[src.caption_of(int(i)) for i in ids],
        phash=np.array([img.phash64(a) for a in arrs], dtype=np.int64),
    )
    assert pdf.equals(ref)
    assert _batch_digest(pdf) == digest


def test_generator_hot_city_skew():
    ids = np.arange(0, 5000)
    pdf = src.generate_batch(ids, hot_city=0, hot_frac=0.5)
    nyc = ((pdf.lon + 74.006).abs() < 1) & ((pdf.lat - 40.713).abs() < 1)
    assert nyc.mean() > 0.45


def test_tile_mosaic_prunes_bytes_column(spark, sf_dir):
    """The mosaic pick must never read the image payload: the parquet scan's
    ReadSchema carries only the 5 metadata columns."""
    from geomesa_spark.catalog import q_img_tile_mosaic

    df = q_img_tile_mosaic(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    scan = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert scan and "bytes" not in scan[0] and "caption" not in scan[0]
    assert "image_id" in scan[0] and "lon" in scan[0]
