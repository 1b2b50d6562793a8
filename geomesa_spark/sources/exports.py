"""Export sinks — the reference's ExportFormat surface, Spark-first.

Reference: ``geomesa-tools/.../export/formats/ExportFormat.scala:50-86``
(csv/tsv/json/avro/orc/parquet/arrow/bin/leaflet/gml/shp). Everything with a
native Spark writer is a one-liner through ``export()``; the two bespoke
formats are re-implemented:

- BIN: the reference's compact 16/24-byte track record
  (``geomesa-utils/.../bin/BinaryOutputEncoder.scala:87-163`` — little-endian
  [trackId:int32][dtg_seconds:int32][lat:float32][lon:float32] and the
  24-byte variant appending [label:int64]). Encoded vectorized in numpy
  inside ``mapInPandas``; one packed blob per Arrow batch.
- Arrow IPC: one .arrow stream file per partition via ``mapInArrow``
  pass-through + pyarrow writer (the reference's ArrowExporter equivalent,
  dictionary encoding left to pyarrow).
"""

from __future__ import annotations

import os
from collections.abc import Iterator

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, functions as F

NATIVE_FORMATS = {"csv", "tsv", "json", "parquet", "orc", "avro"}


def export(df: DataFrame, path: str, fmt: str, mode: str = "overwrite", **options):
    """Write via the matching native sink (ExportFormat dispatch)."""
    fmt = fmt.lower()
    if fmt == "tsv":
        return df.write.mode(mode).options(sep="\t", header=True, **options).csv(path)
    if fmt == "csv":
        return df.write.mode(mode).options(header=True, **options).csv(path)
    if fmt == "json":
        return df.write.mode(mode).options(**options).json(path)
    if fmt in ("parquet", "orc"):
        return getattr(df.write.mode(mode).options(**options), fmt)(path)
    if fmt == "avro":
        return df.write.mode(mode).format("avro").options(**options).save(path)
    raise ValueError(f"unsupported export format: {fmt} (native: {NATIVE_FORMATS})")


def bin_records(
    df: DataFrame,
    track: str,
    lon: str = "lon",
    lat: str = "lat",
    ts: str = "ts",
    label: str | None = None,
    sort_within_partitions: bool = True,
) -> DataFrame:
    """-> (n_records, payload binary): BIN-packed rows, one blob per batch.

    Record layout (BinaryOutputEncoder.scala:100): little-endian int32 track
    id (hash of the track value, as the reference hashes string track ids),
    int32 epoch seconds, float32 lat, float32 lon [, int64 label] = 16 or 24
    bytes/record. Batches are time-sorted when ``sort_within_partitions``
    (BinSorter analog, index/utils/bin/BinSorter.scala).
    """
    cols = [track, lon, lat, ts] + ([label] if label else [])
    slim = df.select(
        F.xxhash64(F.col(track)).bitwiseAND(F.lit(0x7FFFFFFF)).cast("int").alias("__tid"),
        F.col(ts).cast("timestamp").cast("long").cast("int").alias("__ts"),
        F.col(lat).cast("float").alias("__lat"),
        F.col(lon).cast("float").alias("__lon"),
        *([F.col(label).cast("long").alias("__label")] if label else []),
    )
    if sort_within_partitions:
        slim = slim.sortWithinPartitions("__ts")
    rec_size = 24 if label else 16

    def pack(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            n = len(pdf)
            if not n:
                continue
            buf = np.zeros(n * rec_size, dtype=np.uint8)
            v = buf.view()
            def put(offset, arr, dtype):
                b = np.ascontiguousarray(arr.astype(dtype)).view(np.uint8).reshape(n, -1)
                w = b.shape[1]
                idx = (np.arange(n)[:, None] * rec_size) + offset + np.arange(w)[None, :]
                v[idx.ravel()] = b.ravel()
            put(0, pdf["__tid"].to_numpy(), "<i4")
            put(4, pdf["__ts"].to_numpy(), "<i4")
            put(8, pdf["__lat"].to_numpy(), "<f4")
            put(12, pdf["__lon"].to_numpy(), "<f4")
            if label:
                put(16, pdf["__label"].to_numpy(), "<i8")
            yield pd.DataFrame({"n_records": [n], "payload": [buf.tobytes()]})

    return slim.mapInPandas(pack, schema="n_records long, payload binary")


def decode_bin(payload: bytes, with_label: bool = False) -> pd.DataFrame:
    """Inverse of :func:`bin_records` for one payload blob (client decode)."""
    rec = 24 if with_label else 16
    a = np.frombuffer(payload, dtype=np.uint8).reshape(-1, rec)
    out = pd.DataFrame(
        {
            "track_id": a[:, 0:4].copy().view("<i4").ravel(),
            "ts": a[:, 4:8].copy().view("<i4").ravel(),
            "lat": a[:, 8:12].copy().view("<f4").ravel(),
            "lon": a[:, 12:16].copy().view("<f4").ravel(),
        }
    )
    if with_label:
        out["label"] = a[:, 16:24].copy().view("<i8").ravel()
    return out


def to_geojson_rows(
    df: DataFrame,
    lon: str = "lon",
    lat: str = "lat",
    props: list[str] | None = None,
    out: str = "geojson",
) -> DataFrame:
    """One GeoJSON Feature string per row — GeoJSONExtensions analog
    (geomesa-spark-sql/.../GeoJSONExtensions.scala), fully native:
    ``to_json(struct(...))`` under codegen, no Python."""
    props = props if props is not None else [c for c in df.columns if c not in (lon, lat)]
    feature = F.struct(
        F.lit("Feature").alias("type"),
        F.struct(
            F.lit("Point").alias("type"),
            F.array(F.col(lon), F.col(lat)).alias("coordinates"),
        ).alias("geometry"),
        F.struct(*[F.col(p) for p in props]).alias("properties"),
    )
    return df.withColumn(out, F.to_json(feature))


def export_arrow_ipc(df: DataFrame, path: str) -> int:
    """Write one Arrow IPC stream file per partition; returns file count.

    The scan stays distributed (mapInArrow pass-through writes from the
    executors); the reference's multi-level Arrow delta merge is unnecessary
    because each file is already a self-contained dictionary-encoded stream.
    """
    os.makedirs(path, exist_ok=True)

    def write_part(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        import uuid

        writer = None
        fname = None
        n = 0
        for b in batches:
            if writer is None:
                fname = os.path.join(path, f"part-{uuid.uuid4().hex}.arrow")
                writer = pa.ipc.new_stream(fname, b.schema)
            writer.write_batch(b)
            n += b.num_rows
        if writer is not None:
            writer.close()
        yield pa.RecordBatch.from_pydict({"rows": [n], "file": [fname or ""]})

    manifest = df.mapInArrow(write_part, schema="rows long, file string").collect()
    return sum(1 for r in manifest if r.file)


# ---------------------------------------------------------------------------
# Shapefile export (ExportFormat.scala:50-86 'shp'; ESRI shapefile spec,
# public). Point geometries + DBF attribute table, written from scratch.
# Shapefiles are a single-file format: executors render the fixed-length
# record bytes into one part file per partition (mapInArrow); the driver
# merge writes headers and concatenates the parts in partition order,
# rewriting record numbers/offsets — no toLocalIterator, O(1) driver memory
# per part.
# ---------------------------------------------------------------------------


def _dbf_fields(df: DataFrame, lon: str, lat: str):
    """(attr_cols, [(name, type, len, dec)]): every column but the point's
    as a DBF attribute (strings -> C(64), numbers -> N(18,6))."""
    numeric = {"int", "bigint", "double", "float", "smallint", "tinyint"}
    types = dict(df.dtypes)
    attr_cols = [c for c in df.columns if c not in (lon, lat)]
    fields = []
    for c in attr_cols:
        if types[c] in numeric:
            fields.append((c[:10], b"N", 18, 6))
        else:
            fields.append((c[:10], b"C", 64, 0))
    return attr_cols, fields


def _dbf_record(fields, vals) -> bytes:
    """One DBF record's bytes."""
    out = [b" "]
    for (name, ftype, flen, fdec), v in zip(fields, vals):
        if v is None or v is pd.NA or (isinstance(v, float) and np.isnan(v)):
            out.append(b" " * flen)
        elif ftype == b"N":
            out.append(f"{float(v):{flen}.{fdec}f}".encode()[:flen].rjust(flen))
        else:
            out.append(str(v).encode("utf-8")[:flen].ljust(flen))
    return b"".join(out)


def export_shapefile(
    df: DataFrame,
    path_base: str,
    lon: str = "lon",
    lat: str = "lat",
) -> int:
    """Write ``path_base``.shp/.shx/.dbf with one point per row, in the
    DataFrame's row order, and every other column as a DBF attribute.
    Returns the number of records. The expensive work — extracting
    coordinates and rendering the fixed-length record bytes — runs
    executor-parallel in one ``mapInArrow`` pass, each task spilling a
    compact part file named by its partition id; the driver merge only
    writes headers and copies the parts in partition order, rewriting
    record numbers and .shx offsets with vectorized numpy (the point
    format's fixed 28-byte records make the rewrite pure arithmetic).
    Part files land under ``path_base + '.parts'`` — the local FS here; a
    cluster deployment points path_base at storage all executors share,
    exactly like every other part-file sink."""
    import glob
    import struct

    from pyspark import TaskContext

    attr_cols, fields = _dbf_fields(df, lon, lat)
    rec_len = 1 + sum(f[2] for f in fields)
    parts_dir = path_base + ".parts"
    os.makedirs(parts_dir, exist_ok=True)
    for old in glob.glob(os.path.join(parts_dir, "part-*.bin")):
        os.remove(old)

    flds = list(fields)
    acols = list(attr_cols)

    def render(batches):
        part = TaskContext.get().partitionId()
        shp_f = dbf_f = None
        stem = None
        n = 0
        minx = miny = float("inf")
        maxx = maxy = float("-inf")
        for b in batches:
            pdf = b.to_pandas()
            if len(pdf) == 0:
                continue
            if shp_f is None:
                stem = os.path.join(parts_dir, f"part-{part:05d}")
                shp_f = open(stem + ".shp.bin", "wb")
                dbf_f = open(stem + ".dbf.bin", "wb")
            xs = pdf[lon].to_numpy(dtype=np.float64)
            ys = pdf[lat].to_numpy(dtype=np.float64)
            recs = np.zeros(len(xs), dtype=[("t", "<i4"), ("x", "<f8"), ("y", "<f8")])
            recs["t"], recs["x"], recs["y"] = 1, xs, ys
            shp_f.write(recs.tobytes())
            cols = [pdf[c] for c in acols]
            dbf_f.write(
                b"".join(
                    _dbf_record(flds, vals) for vals in zip(*cols)
                )
                if cols
                else b" " * len(pdf)  # attribute-less table: deleted-flag only
            )
            n += len(xs)
            minx, maxx = min(minx, float(xs.min())), max(maxx, float(xs.max()))
            miny, maxy = min(miny, float(ys.min())), max(maxy, float(ys.max()))
        if shp_f is not None:
            shp_f.close(), dbf_f.close()
        yield pa.RecordBatch.from_pydict(
            {
                "part": [part],
                "stem": [stem or ""],
                "rows": [n],
                "minx": [minx], "miny": [miny], "maxx": [maxx], "maxy": [maxy],
            }
        )

    manifest = [
        r
        for r in df.select(lon, lat, *attr_cols)
          .mapInArrow(
              render,
              schema="part long, stem string, rows long, minx double, miny double, "
                     "maxx double, maxy double",
          )
          .collect()
        if r.stem
    ]
    manifest.sort(key=lambda r: r.part)
    n = sum(r.rows for r in manifest)
    if n == 0:
        bbox = (0.0, 0.0, 0.0, 0.0)
    else:
        bbox = (
            min(r.minx for r in manifest),
            min(r.miny for r in manifest),
            max(r.maxx for r in manifest),
            max(r.maxy for r in manifest),
        )

    rec_words = 10  # 20-byte point content
    shp_len_words = 50 + n * (4 + rec_words)
    shx_len_words = 50 + n * 4
    # the shapefile header stores file length as a SIGNED 32-bit word
    # count: ~153.4M point records is the FORMAT's hard ceiling. Refuse
    # before writing a header struct.pack would corrupt or reject.
    if shp_len_words > 0x7FFFFFFF:
        raise ValueError(
            f"shapefile format cannot represent {n} point records "
            f"({shp_len_words} 16-bit words > int32 max); split the "
            "export or use a part-file sink (parquet/geojson)"
        )

    def header(length_words: int) -> bytes:
        h = struct.pack(">i20x i", 9994, length_words)
        h += struct.pack("<ii", 1000, 1)
        h += struct.pack("<4d", *bbox) + struct.pack("<4d", 0, 0, 0, 0)
        return h

    shp_rec = np.dtype([("num", ">i4"), ("words", ">i4"), ("content", "V20")])
    shx_rec = np.dtype([("off", ">i4"), ("words", ">i4")])
    with open(path_base + ".shp", "wb") as shp, open(path_base + ".shx", "wb") as shx:
        shp.write(header(shp_len_words))
        shx.write(header(shx_len_words))
        rec0 = 0
        for r in manifest:
            with open(r.stem + ".shp.bin", "rb") as fh:
                raw = fh.read()
            k = len(raw) // 20
            out = np.zeros(k, dtype=shp_rec)
            out["num"] = np.arange(rec0 + 1, rec0 + k + 1)
            out["words"] = rec_words
            out["content"] = np.frombuffer(raw, dtype="V20")
            shp.write(out.tobytes())
            sx = np.zeros(k, dtype=shx_rec)
            sx["off"] = 50 + (np.arange(rec0, rec0 + k)) * (4 + rec_words)
            sx["words"] = rec_words
            shx.write(sx.tobytes())
            rec0 += k

    with open(path_base + ".dbf", "wb") as dbf:
        hdr_len = 32 + 32 * len(fields) + 1
        dbf.write(struct.pack("<B3BIHH20x", 3, 24, 1, 1, n, hdr_len, rec_len))
        for name, ftype, flen, fdec in fields:
            dbf.write(
                struct.pack("<11s c 4x BB 14x", name.encode().ljust(11, b"\0"),
                            ftype, flen, fdec)
            )
        dbf.write(b"\x0d")
        for r in manifest:
            with open(r.stem + ".dbf.bin", "rb") as fh:
                dbf.write(fh.read())
        dbf.write(b"\x1a")

    for r in manifest:
        os.remove(r.stem + ".shp.bin")
        os.remove(r.stem + ".dbf.bin")
    try:
        os.rmdir(parts_dir)
    except OSError:
        pass
    return n


def read_shapefile_points(path_base: str):
    """Minimal reader for round-trip tests: -> list of (x, y)."""
    import struct

    with open(path_base + ".shp", "rb") as fh:
        data = fh.read()
    (length_words,) = struct.unpack_from(">i", data, 24)
    pos, out = 100, []
    while pos < length_words * 2:
        _, words = struct.unpack_from(">ii", data, pos)
        shape, x, y = struct.unpack_from("<i2d", data, pos + 8)
        assert shape == 1
        out.append((x, y))
        pos += 8 + words * 2
    return out


# ---------------------------------------------------------------------------
# GML export (ExportFormat 'gml'/'xml'): one gml:featureMember per row,
# built as a native SQL string expression and written distributed as text
# part-files (the reference streams a single document; part-files are the
# cluster-native equivalent, concatenable with a header/footer).
# ---------------------------------------------------------------------------

GML_HEADER = (
    '<?xml version="1.0" encoding="UTF-8"?>\n'
    '<wfs:FeatureCollection xmlns:wfs="http://www.opengis.net/wfs" '
    'xmlns:gml="http://www.opengis.net/gml">\n'
)
GML_FOOTER = "</wfs:FeatureCollection>\n"


def gml_feature_expr(
    feature_type: str,
    lon: str = "lon",
    lat: str = "lat",
    attrs: list[str] | None = None,
) -> str:
    """SQL expression producing one <gml:featureMember> XML string per row
    (pure concat under codegen — no UDF)."""
    attr_xml = "".join(
        f"||'<{a}>'||cast({a} as string)||'</{a}>'" for a in (attrs or [])
    )
    return (
        f"'<gml:featureMember><{feature_type}>'"
        f"||'<geom><gml:Point><gml:coordinates>'"
        f"||cast({lon} as string)||','||cast({lat} as string)"
        f"||'</gml:coordinates></gml:Point></geom>'"
        f"{attr_xml}"
        f"||'</{feature_type}></gml:featureMember>'"
    )


def export_gml(
    df: DataFrame,
    path: str,
    feature_type: str = "feature",
    lon: str = "lon",
    lat: str = "lat",
    attrs: list[str] | None = None,
) -> None:
    from pyspark.sql import functions as F

    df.select(
        F.expr(gml_feature_expr(feature_type, lon, lat, attrs)).alias("value")
    ).write.mode("overwrite").text(path)


# ---------------------------------------------------------------------------
# Leaflet export (ExportFormat 'leaflet'): self-contained HTML preview map
# embedding the rows as GeoJSON — the reference's leaflet export is likewise
# a bounded client-side preview (LeafletMapExporter).
# ---------------------------------------------------------------------------

_LEAFLET_TEMPLATE = """<!DOCTYPE html>
<html><head><meta charset="utf-8"/><title>{title}</title>
<link rel="stylesheet" href="https://unpkg.com/leaflet/dist/leaflet.css"/>
<script src="https://unpkg.com/leaflet/dist/leaflet.js"></script>
<style>#map {{ height: 100vh; }}</style></head>
<body><div id="map"></div><script>
var data = {geojson};
var map = L.map('map');
L.tileLayer('https://tile.openstreetmap.org/{{z}}/{{x}}/{{y}}.png').addTo(map);
var layer = L.geoJSON(data).addTo(map);
map.fitBounds(layer.getBounds());
</script></body></html>
"""


def export_leaflet(
    df: DataFrame,
    path: str,
    lon: str = "lon",
    lat: str = "lat",
    max_rows: int = 10_000,
    title: str = "geomesa_spark export",
) -> int:
    """Bounded HTML map preview; rows beyond ``max_rows`` are dropped (the
    reference's exporter is likewise a preview, not a data sink)."""
    import json

    attr_cols = [c for c, _ in df.dtypes if c not in (lon, lat)]
    rows = df.select(lon, lat, *attr_cols).limit(max_rows).collect()
    feats = [
        {
            "type": "Feature",
            "geometry": {"type": "Point", "coordinates": [r[0], r[1]]},
            "properties": {c: (None if r[i + 2] is None else str(r[i + 2]))
                            for i, c in enumerate(attr_cols)},
        }
        for r in rows
    ]
    gj = {"type": "FeatureCollection", "features": feats}
    with open(path, "w") as fh:
        fh.write(_LEAFLET_TEMPLATE.format(title=title, geojson=json.dumps(gj)))
    return len(feats)
