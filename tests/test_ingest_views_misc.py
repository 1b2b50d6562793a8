"""Ingest converters, merged/routed views, embedding near-dup, GeoJSON rows,
st_aggregateDistanceSphere."""

from __future__ import annotations

import json

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from geomesa_spark.operators.similarity import embedding_neardup_pairs
from geomesa_spark.sources.exports import to_geojson_rows
from geomesa_spark.sources.ingest import apply_converter, ingest_delimited
from geomesa_spark.sources.views import merged_store_view, query_route, routed_view


def test_ingest_delimited(spark, tmp_path):
    p = tmp_path / "raw.csv"
    p.write_text("name,when,x,y\n Alice ,2024-01-02 03:04:05,1.5,2.5\nbob,2024-02-03 04:05:06,-3,9\n")
    spec = {
        "name": "lower(trim(name))",
        "ts": "to_timestamp(when)",
        "lon": "cast(x as double)",
        "lat": "cast(y as double)",
        "fid": "md5(concat(name, when))",
    }
    out = ingest_delimited(spark, str(p), spec).toPandas()
    assert list(out.columns) == ["name", "ts", "lon", "lat", "fid"]
    assert set(out["name"]) == {"alice", "bob"}
    assert out["lon"].dtype == np.float64


def test_apply_converter_prunes(spark):
    df = spark.createDataFrame(pd.DataFrame({"a": [1], "b": [2], "c": [3]}))
    out = apply_converter(df, {"double_a": "a * 2"})
    assert out.columns == ["double_a"]
    assert out.collect()[0].double_a == 2


def test_merged_and_routed_views(spark):
    a = spark.createDataFrame(pd.DataFrame({"k": [1, 2], "v": ["x", "y"]}))
    b = spark.createDataFrame(pd.DataFrame({"k": [3], "v": ["z"], "extra": [9.0]}))
    m = merged_store_view(a, b)
    assert m.count() == 3 and "extra" in m.columns

    r = routed_view({"hot": a, "cold": b})
    hot_only = r.filter(F.col("__store") == "hot")
    assert hot_only.count() == 2

    picked = query_route({"hot": a, "cold": b}, lambda name: name == "cold")
    assert picked.count() == 1


def test_embedding_neardup_exact_vs_lsh(spark):
    rng = np.random.default_rng(3)
    base = rng.normal(size=(40, 16)).astype(np.float32)
    # make 5 true near-dup pairs (tiny perturbations)
    dup = base[:5] + rng.normal(scale=0.01, size=(5, 16)).astype(np.float32)
    vecs = np.concatenate([base, dup])
    pdf = pd.DataFrame(
        {"vec_id": np.arange(len(vecs)), "embedding": [v.tolist() for v in vecs]}
    )
    df = spark.createDataFrame(pdf)
    exact = embedding_neardup_pairs(df, 0.98, dim=16, exact=True).toPandas()
    exact_pairs = set(zip(exact["id_a"], exact["id_b"]))
    assert {(i, 40 + i) for i in range(5)} <= exact_pairs

    lsh = embedding_neardup_pairs(df, 0.98, dim=16, n_planes=4, n_tables=8).toPandas()
    lsh_pairs = set(zip(lsh["id_a"], lsh["id_b"]))
    # LSH is a recall-oriented prefilter: must find most true pairs, no false
    # positives beyond the exact set (refine is exact)
    assert lsh_pairs <= exact_pairs
    assert len(lsh_pairs & exact_pairs) >= 4


def test_geojson_rows(spark):
    df = spark.createDataFrame(
        pd.DataFrame({"lon": [1.5], "lat": [2.5], "name": ["x"]})
    )
    row = to_geojson_rows(df).collect()[0]
    gj = json.loads(row.geojson)
    assert gj["type"] == "Feature"
    assert gj["geometry"] == {"type": "Point", "coordinates": [1.5, 2.5]}
    assert gj["properties"] == {"name": "x"}


def test_aggregate_distance_sphere(spark):
    from geomesa_spark.functions.st_funcs import register_st_functions

    register_st_functions(spark)
    # Paris -> London -> Paris: twice the single-leg distance
    d = spark.sql(
        """
        SELECT st_aggregateDistanceSphere(array(
            st_asBinary(st_makePoint(2.3522, 48.8566)),
            st_asBinary(st_makePoint(-0.1276, 51.5072)),
            st_asBinary(st_makePoint(2.3522, 48.8566))
        )) AS d
        """
    ).collect()[0].d
    assert abs(d - 2 * 343_500) < 6_000


class TestRound2Converters:
    """Avro / fixed-width / XML converters + shp / GML / leaflet exports
    (geomesa-convert-* and ExportFormat.scala parity), all round-tripped."""

    def test_avro_roundtrip(self, spark, tmp_path):
        from geomesa_spark.sources.ingest import (
            ingest_avro,
            read_avro_file,
            write_avro_file,
        )

        names = ["id", "name", "score", "flag"]
        types = ["long", "string", "double", "boolean"]
        rows = [[i, f"n{i}", i * 1.5, i % 2 == 0] for i in range(257)]
        d = tmp_path / "avro"
        d.mkdir()
        blob = write_avro_file(names, types, rows)
        (d / "part-0.avro").write_bytes(blob)
        # reader round-trip (pure python)
        rn, rr = read_avro_file(blob)
        assert rn == names and len(rr) == 257 and rr[3] == [3, "n3", 4.5, False]
        # distributed ingest
        out = ingest_avro(spark, str(d)).orderBy("id").collect()
        assert len(out) == 257
        assert out[5].name == "n5" and out[5].score == 7.5 and out[6].flag is True

    def test_avro_nullable_union_and_deflate(self, spark, tmp_path):
        import json
        import struct
        import zlib

        from geomesa_spark.sources.ingest import read_avro_file

        # hand-build an OCF with ["null","long"] union + deflate codec
        def zz(v):
            acc = (v << 1) ^ (v >> 63)
            out = bytearray()
            while True:
                b = acc & 0x7F
                acc >>= 7
                if acc:
                    out.append(b | 0x80)
                else:
                    out.append(b)
                    break
            return bytes(out)

        schema = json.dumps(
            {"type": "record", "name": "r",
             "fields": [{"name": "v", "type": ["null", "long"]}]}
        ).encode()
        head = b"Obj\x01" + zz(2)
        for k, v in ((b"avro.schema", schema), (b"avro.codec", b"deflate")):
            head += zz(len(k)) + k + zz(len(v)) + v
        head += zz(0)
        sync = b"fedcba9876543210"
        body = zz(1) + zz(7) + zz(0)  # [long 7, null]
        comp = zlib.compress(body)[2:-4]  # raw deflate
        blob = head + sync + zz(2) + zz(len(comp)) + comp + sync
        names, rows = read_avro_file(blob)
        assert names == ["v"] and rows == [[7], [None]]

    def test_fixed_width(self, spark, tmp_path):
        from geomesa_spark.sources.ingest import ingest_fixed_width

        p = tmp_path / "fw.txt"
        p.write_text("001alpha  12.5\n002beta   -3.0\n")
        out = ingest_fixed_width(
            spark, str(p),
            {"id": (1, 3, "int"), "name": (4, 7, "string"), "v": (11, 5, "double")},
        ).orderBy("id").collect()
        assert [(r.id, r.name, r.v) for r in out] == [
            (1, "alpha", 12.5), (2, "beta", -3.0)
        ]

    def test_xml(self, spark, tmp_path):
        from geomesa_spark.sources.ingest import ingest_xml

        p = tmp_path / "data.xml"
        p.write_text(
            "<root><rec id='a'><name>x</name><pos><lon>1.5</lon></pos></rec>"
            "<rec id='b'><name>y</name><pos><lon>2.5</lon></pos></rec></root>"
        )
        out = ingest_xml(
            spark, str(p), "rec",
            {"rid": "@id", "name": "name", "lon": "pos/lon"},
            spec={"rid": "rid", "name": "name", "lon": "cast(lon as double)"},
        ).orderBy("rid").collect()
        assert [(r.rid, r.name, r.lon) for r in out] == [
            ("a", "x", 1.5), ("b", "y", 2.5)
        ]

    def test_shapefile_roundtrip(self, spark, tmp_path):
        from geomesa_spark.sources.exports import (
            export_shapefile,
            read_shapefile_points,
        )

        pdf_rows = [(i * 1.0, i * -0.5, f"f{i}", i * 2.0) for i in range(10)]
        df = spark.createDataFrame(pdf_rows, "lon double, lat double, name string, v double")
        base = str(tmp_path / "out")
        n = export_shapefile(df, base)
        assert n == 10
        pts = read_shapefile_points(base)
        assert pts == [(i * 1.0, i * -0.5) for i in range(10)]
        import os

        assert os.path.getsize(base + ".dbf") > 32

    def test_shapefile_keeps_row_order_across_partitions(self, spark, tmp_path):
        """Part-file render + driver byte merge keeps the DataFrame's row
        order: the same ordered frame exported from 1 and from 8 partitions
        gives its points in collect() order and byte-identical .shp/.shx/
        .dbf files, and the part files are cleaned up."""
        import os

        from geomesa_spark.sources.exports import (
            export_shapefile,
            read_shapefile_points,
        )

        # (i * 37) % 200 is a permutation: every lon distinct
        rows = [(((i * 37) % 200) * 0.5, 40.0 - i * 0.25, f"f{i}", i * 2.0)
                for i in range(200)]
        df = spark.createDataFrame(rows, "lon double, lat double, name string, v double")
        files = []
        for parts in (1, 8):
            ordered = df.repartitionByRange(parts, "lon").sortWithinPartitions("lon")
            assert ordered.rdd.getNumPartitions() == parts
            base = str(tmp_path / f"p{parts}")
            assert export_shapefile(ordered, base) == len(rows)
            assert read_shapefile_points(base) == [(r.lon, r.lat) for r in ordered.collect()]
            assert not os.path.exists(base + ".parts")
            files.append({ext: open(base + ext, "rb").read()
                          for ext in (".shp", ".shx", ".dbf")})
        assert files[0] == files[1]

    def test_gml_and_leaflet(self, spark, tmp_path):
        from geomesa_spark.sources.exports import export_gml, export_leaflet

        df = spark.createDataFrame(
            [(1.0, 2.0, "a"), (3.0, 4.0, "b")], "lon double, lat double, name string"
        )
        gdir = str(tmp_path / "gml")
        export_gml(df, gdir, feature_type="evt", attrs=["name"])
        import glob

        text = "".join(open(f).read() for f in glob.glob(gdir + "/part-*"))
        assert text.count("<gml:featureMember>") == 2
        assert "<gml:coordinates>1.0,2.0</gml:coordinates>" in text
        assert "<name>a</name>" in text

        html = tmp_path / "map.html"
        n = export_leaflet(df, str(html))
        assert n == 2
        content = html.read_text()
        assert "L.geoJSON" in content and '"coordinates": [1.0, 2.0]' in content


def test_fingerprint_short_and_edit_robust(spark):
    """Codepoint rolling-hash fingerprint: deterministic for short texts
    (round-2 used process-salted Python hash() there), whole-string fold
    below the window, unchanged under a small mid-document edit when the
    minimal window lies elsewhere."""
    import pandas as pd
    from pyspark.sql import functions as F

    from geomesa_spark.functions.text import fingerprint_udf, fingerprint_weights

    fp = fingerprint_udf(16)
    base = "the quick brown fox jumps over the lazy dog, again and again"
    edited = base.replace("jumps", "leaps")
    pdf = pd.DataFrame({"t": ["short", "short", base, edited, ""]})
    out = spark.createDataFrame(pdf).select(fp(F.col("t")).alias("v")).toPandas()["v"]
    assert out[0] == out[1]            # deterministic short branch
    assert out[4] == 0                 # empty text
    # short branch equals the explicit whole-string fold
    w = fingerprint_weights(5)
    want = sum(ord(c) * w[k] for k, c in enumerate("short")) % (1 << 64) % (1 << 63)
    assert out[0] == want
    # fingerprints exist and are 63-bit non-negative
    assert (out >= 0).all()


def test_bpe_token_count_parity(spark):
    """The BPE-ish pretokenizer regex counts identically under Java regex
    (Spark) and RE2 (DuckDB) — quotes, unicode, mixed whitespace."""
    import duckdb

    from geomesa_spark.functions.text import token_count_bpe_expr

    texts = [
        "Hello, world! It's 2026.",
        "  multi   space\ttabs\nnewlines  ",
        "don't re-encode 123abc",
        "",
        "éàü unicode chars?!",
        "a'b''c",
        # punct-whitespace-punct: regression for the \s escaping bug where
        # Spark's literal unescaping turned [^A-Za-z0-9\s]+ into
        # [^A-Za-z0-9s]+ (swallowing whitespace between punctuation runs)
        "a ! !",
        "x . .",
        "end. (note",
        "?? \t ??",
    ]
    df = spark.createDataFrame([(t,) for t in texts], ["t"])
    got = [
        r["n"]
        for r in df.selectExpr(
            "t", f"{token_count_bpe_expr('t', 'spark')} as n"
        ).collect()
    ]
    con = duckdb.connect()
    want = [
        con.execute(
            f"select {token_count_bpe_expr('?', 'duckdb')}", [t]
        ).fetchone()[0]
        for t in texts
    ]
    assert got == want
    assert got[3] == 0 and got[0] == 8
