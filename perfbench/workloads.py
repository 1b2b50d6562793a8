"""The benchmark workloads (``WORKLOADS``), each a ``Composite`` of parts.

A part prepares its inputs from the seed, runs its op types for one
closed-loop client, checks every answer against an independent reference,
and turns its traced ops into per-layer metrics. It exposes:

- ``cycle``: its op types, in the order the client runs them;
- ``prepare(d)``: generate and store inputs under directory ``d`` (timed as
  set-up);
- ``op(kind, i)``: run op ``i`` of type ``kind`` and return what it answered
  (parameters are a function of the seed and ``i`` only);
- ``check(kind, i, answer)`` or ``check_all(records)``: None, or a one-line
  mismatch description, per op;
- ``probe(kind, i, answer)``: traced-only direct calls into a layer;
- ``LAYERS``: the per-layer metric prefixes its traced ops must yield;
- ``after_op(kind)``: untimed input generation for the next op;
- ``layers(traced)``: per-layer metrics from the traced op records.
"""

from __future__ import annotations

import datetime as dt
import os
import time

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from geomesa_spark.sources.images import TS_EPOCH, generate_batch, lonlat_of

from . import inputs as I
from .harness import median, node_sum

RECALL_FLOOR = 0.9  # similarity.recall_at_10 below this fails the batch


def _du(path: str) -> tuple[int, int]:
    """(files, bytes) of the data files under ``path``."""
    n = b = 0
    for root, _, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                n += 1
                b += os.path.getsize(os.path.join(root, f))
    return n, b


def _op_rng(seed: int, i: int) -> np.random.Generator:
    return np.random.default_rng([seed, i])


class Workload:
    cycle: tuple[str, ...] = ()
    LAYERS: tuple[str, ...] = ()  # per-layer metric prefixes it measures

    def __init__(self, spark, tracer, seed: int):
        self.spark = spark
        self.tr = tracer
        self.seed = seed
        self.rng = np.random.default_rng(seed)
        self.gen_rows = 0
        self.gen_s = 0.0

    def span(self, name):
        return self.tr.span(name)

    def prepare_polygons(self, polys: dict[str, str]):
        """``prepare_polygons`` inside a ``cells`` span that records the
        cover size."""
        from geomesa_spark.operators.spatial_join import prepare_polygons

        with self.span("cells.prepare_polygons") as a:
            prepared = prepare_polygons(polys)
            a["cover_rows"] = len(prepared.cover_rows)
            a["contained"] = prepared.n_contained
            a["overlapping"] = prepared.n_overlapping
        return prepared

    def cover_probe(self, i: int) -> None:
        """Time ``prepare_polygons`` on a box and a hexagon generated from the
        seed and op index ``i``, which the engine has never been given (cover
        cache misses), then on the same two again (cache hits)."""
        from geomesa_spark.operators.spatial_join import prepare_polygons

        polys = I.city_polygons(_op_rng(self.seed, 2_000_000 + i), 2, size=(0.06, 0.1))
        for name in ("cells.cover_new", "cells.cover_repeat"):
            with self.span(name) as a:
                t0 = time.perf_counter()
                prepare_polygons(polys)
                a["ms"] = (time.perf_counter() - t0) * 1e3

    def probe(self, kind: str, i: int, answer) -> None:
        """Extra traced-only calls into a layer, run after the op's timer."""

    def after_op(self, kind: str) -> None:
        """Untimed input generation for the next op."""

    def check_all(self, records) -> list[str | None]:
        return [self.check(r["kind"], r["i"], r["answer"]) for r in records]


# ------------------------------------------------------------ tile_render

class TileRender(Workload):
    """density_scan over a generated image table + the tile groupBy."""

    cycle = ("render",)
    LAYERS = ("parquet_scan", "image", "cells")
    N_IMAGES = 800
    ROW_GROUP = 100
    RES = 14
    PITCH = 1e-4

    def __init__(self, spark, tracer, seed):
        super().__init__(spark, tracer, seed)
        self.polys = I.city_polygons(self.rng, len(I.CITIES), size=(0.09, 0.11),
                                     jitter=0.03, one_per_city=True)
        self.probes = 0

    def prepare(self, d: str) -> None:
        from geomesa_spark.sources.images import FMTS

        ids = I.row_offset(self.seed) + np.arange(self.N_IMAGES, dtype=np.int64)
        t0 = time.perf_counter()
        pdf = generate_batch(ids, fmts=FMTS)
        self.gen_s += time.perf_counter() - t0
        self.gen_rows += len(ids)
        os.makedirs(d)
        self.path = d
        pdf["ts"] = pdf["ts"].astype("datetime64[us]")
        pq.write_table(
            pa.Table.from_pandas(pdf, preserve_index=False),
            os.path.join(d, "part-00000.parquet"), row_group_size=self.ROW_GROUP,
        )
        lon, lat = pdf["lon"].to_numpy(), pdf["lat"].to_numpy()
        ntiles = I.tiles_per_image(lon, lat, pdf["w"].to_numpy(), pdf["h"].to_numpy(),
                                   self.RES, self.PITCH)
        self.ref = {  # tile rows per polygon
            pid: int(ntiles[I.pip_mask(lon, lat, I.parse_ring(text))].sum())
            for pid, text in self.polys.items()
        }

    def op(self, kind, i):
        from geomesa_spark.sources.parquet_scan import density_scan

        prepared = self.prepare_polygons(self.polys)
        with self.span("parquet_scan.density_scan"):
            df = density_scan(self.spark, self.path, prepared, res=self.RES,
                              pixel_pitch_deg=self.PITCH)
        with self.span("spark.action"):
            rows = (
                df.groupBy("poly_id", "tile_cell")
                .agg(F.sum("weight").alias("w"), F.count("*").alias("n"))
                .toPandas()
            )
        return rows

    def check(self, kind, i, rows):
        if not np.isfinite(rows["w"]).all() or (rows["w"] <= 0).any():
            return "non-positive or non-finite tile weight"
        got = rows.groupby("poly_id")["n"].sum().to_dict()
        for pid, want in self.ref.items():
            if int(got.get(pid, 0)) != want:
                return f"poly {pid}: {got.get(pid, 0)} tile rows, numpy reference {want}"
        return None

    def probe(self, kind, i, answer):
        """Direct calls into parquet_scan's kernel and functions.image on one
        split (the next one on each call)."""
        from geomesa_spark.functions.image import decode_image
        from geomesa_spark.operators.spatial_join import prepare_polygons
        from geomesa_spark.sources.parquet_scan import (
            list_row_groups,
            process_density_split,
        )

        self.cover_probe(i)
        splits = list_row_groups(self.path)
        f, rg, nrows = splits[self.probes % len(splits)]
        self.probes += 1
        prepared = prepare_polygons(self.polys)
        with self.span("parquet_scan.process_density_split") as a:
            t0 = time.perf_counter()
            out = process_density_split(f, rg, prepared, res=self.RES,
                                        pixel_pitch_deg=self.PITCH)
            a["kernel_ms"] = (time.perf_counter() - t0) * 1e3
            a["decoded"] = 0 if out is None else out["image_id"].nunique()
            a["scanned"] = nrows
            a["splits"] = len(splits)
        tbl = pq.ParquetFile(f).read_row_group(rg, columns=["bytes", "fmt", "w", "h"])
        byts = tbl.column("bytes").to_pylist()
        fmts = tbl.column("fmt").to_pylist()
        ws, hs = tbl.column("w").to_pylist(), tbl.column("h").to_pylist()
        n = min(60, len(byts))
        with self.span("image.decode_image") as a:
            t0 = time.perf_counter()
            for j in range(n):
                decode_image(byts[j], fmts[j], ws[j], hs[j])
            a["decode_ms_per_image"] = (time.perf_counter() - t0) * 1e3 / n

    def layers(self, traced):
        m = {}
        ks = [s for t in traced for s in t["spans"] if s["name"] == "parquet_scan.process_density_split"]
        if ks:
            m["parquet_scan.splits"] = ks[0]["attrs"]["splits"]
            m["parquet_scan.kernel_ms_per_split"] = median([s["attrs"]["kernel_ms"] for s in ks])
            m["image.decoded_per_scanned"] = (
                sum(s["attrs"]["decoded"] for s in ks) / sum(s["attrs"]["scanned"] for s in ks)
            )
        ds = [s["attrs"]["decode_ms_per_image"] for t in traced for s in t["spans"]
              if s["name"] == "image.decode_image"]
        if ds:
            m["image.decode_ms_per_image"] = median(ds)
        n = len(traced)
        m["parquet_scan.py_run_ms"] = sum(
            node_sum(t["execs"], "MapInArrow", "time to run Python workers")
            for t in traced) / n
        m["parquet_scan.bytes_to_jvm"] = sum(
            node_sum(t["execs"], "MapInArrow", "data returned from Python workers")
            for t in traced) / n
        m.update(_cover_metrics(traced))
        return m


def _cover_metrics(traced) -> dict:
    cov = [s["attrs"] for t in traced for s in t["spans"]
           if s["name"] == "cells.prepare_polygons"]
    if not cov:
        return {}
    m = {"cells.cover_rows": median([a["cover_rows"] for a in cov])}
    c = sum(a["contained"] for a in cov)
    o = sum(a["overlapping"] for a in cov)
    m["cells.contained_frac"] = c / max(c + o, 1)
    for kind in ("new", "repeat"):
        ms = [s["attrs"]["ms"] for t in traced for s in t["spans"]
              if s["name"] == f"cells.cover_{kind}"]
        if ms:
            m[f"cells.cover_ms_{kind}"] = median(ms)
    return m


def _span_ms(traced, name) -> list[float]:
    return [(s["end"] - s["start"]) * 1e3 for t in traced for s in t["spans"]
            if s["name"] == name]


# -------------------------------------------------------- spatial_queries

class SpatialQueries(Workload):
    """Interactive pip / knn / density / where queries over a metadata-only
    parquet point table."""

    cycle = ("pip", "knn", "density", "where")
    LAYERS = ("cells", "spatial_join", "knn", "density", "planner_rules")
    N_POINTS = 60_000
    POOL = 8
    KNN_K = 10
    PYRAMID = (7, 4)  # max_res, levels

    def __init__(self, spark, tracer, seed):
        super().__init__(spark, tracer, seed)
        self.pool = list(I.city_polygons(self.rng, self.POOL, size=(0.06, 0.1)).values())
        self.ref_pip: dict[str, int] = {}
        self.params: dict[int, object] = {}

    def prepare(self, d):
        ids = I.row_offset(self.seed) + np.arange(self.N_POINTS, dtype=np.int64)
        t0 = time.perf_counter()
        lon, lat = lonlat_of(ids)
        image_id = np.char.add("img", np.char.zfill(ids.astype(str), 10))
        self.gen_s += time.perf_counter() - t0
        self.gen_rows += len(ids)
        os.makedirs(d)
        self.path = d
        tbl = pa.table({"image_id": image_id, "lon": lon, "lat": lat})
        for k in range(4):
            lo, hi = k * len(ids) // 4, (k + 1) * len(ids) // 4
            pq.write_table(tbl.slice(lo, hi - lo), os.path.join(d, f"part-{k:05d}.parquet"))
        self.lon, self.lat = lon, lat
        self.ref_pip = {}
        self.ref_pyr = None

    def _pip_ref(self, text):
        if text not in self.ref_pip:
            self.ref_pip[text] = int(I.pip_mask(self.lon, self.lat, I.parse_ring(text)).sum())
        return self.ref_pip[text]

    def _points(self):
        return self.spark.read.parquet(self.path)

    def op(self, kind, i):
        rng = _op_rng(self.seed, i)
        if kind == "pip":
            from geomesa_spark.operators.spatial_join import spatial_join

            # one box (native refine) and one hexagon (Arrow PIP refine)
            picks = (2 * int(rng.integers(self.POOL // 2)),
                     2 * int(rng.integers(self.POOL // 2)) + 1)
            polys = {f"q{j}": self.pool[j] for j in picks}
            self.params[i] = polys
            prepared = self.prepare_polygons(polys)
            with self.span("spatial_join.spatial_join"):
                df = spatial_join(self._points(), prepared)
            with self.span("spark.action"):
                return {r["poly_id"]: r["count"] for r in df.groupBy("poly_id").count().collect()}
        if kind == "knn":
            from geomesa_spark.operators.knn import knn_join

            # query 0 inside a hot city cluster, query 1 in the sparse background
            cx, cy = I.CITIES[int(rng.integers(len(I.CITIES)))]
            qpdf = pd.DataFrame({
                "query_id": [0, 1],
                "lon": [cx + rng.normal(0, 0.05), rng.uniform(-170, 170)],
                "lat": [cy + rng.normal(0, 0.05), rng.uniform(-60, 60)],
            })
            self.params[i] = qpdf
            with self.span("knn.knn_join"):
                df = knn_join(self._points(), qpdf, self.KNN_K)
            with self.span("spark.action"):
                return df.toPandas()
        if kind == "density":
            from geomesa_spark.operators.density import tile_pyramid

            with self.span("density.tile_pyramid"):
                df = tile_pyramid(self._points(), *self.PYRAMID)
            with self.span("spark.action"):
                return df.toPandas()
        if kind == "where":
            from geomesa_spark.engine import Engine

            text = self.pool[2 * int(rng.integers(self.POOL // 2)) + 1]  # a hexagon
            self.params[i] = text
            pred = f"st_intersects(st_geomFromWKT('{text}'), st_makePoint(lon, lat))"
            with self.span("planner_rules.where_spatial"):
                df = Engine(self.spark).where_spatial(self._points(), pred)
            with self.span("spark.action"):
                return df.count()
        raise ValueError(kind)

    def check(self, kind, i, ans):
        if kind == "pip":
            for pid, text in self.params[i].items():
                want = self._pip_ref(text)
                if int(ans.get(pid, 0)) != want:
                    return f"pip {pid}: {ans.get(pid, 0)} rows, numpy reference {want}"
        elif kind == "knn":
            for _, q in self.params[i].iterrows():
                got = np.sort(ans.loc[ans["query_id"] == q["query_id"], "dist"].to_numpy())
                want = I.knn_ref(self.lon, self.lat, q["lon"], q["lat"], self.KNN_K)
                if len(got) != len(want) or not np.allclose(got, want, rtol=1e-9, atol=1e-6):
                    return f"knn query {q['query_id']}: distances differ from numpy brute force"
        elif kind == "density":
            if self.ref_pyr is None:
                self.ref_pyr = I.pyramid_ref(self.lon, self.lat, *self.PYRAMID)
            for r, want in self.ref_pyr.items():
                got = np.sort(ans.loc[ans["res"] == r, "n"].to_numpy())
                if not np.array_equal(got, want):
                    return f"density level {r}: {len(got)} cells, numpy reference {len(want)}"
        elif kind == "where":
            want = self._pip_ref(self.params[i])
            if ans != want:
                return f"where: {ans} rows, numpy reference {want}"
        return None

    def probe(self, kind, i, answer):
        if kind == "pip":
            self.cover_probe(i)

    def layers(self, traced):
        m = _cover_metrics(traced)
        pip = [t for t in traced if t["kind"] == "pip"]
        if pip:
            m["spatial_join.plan_ms"] = median(_span_ms(pip, "spatial_join.spatial_join"))
            m["spatial_join.exec_ms"] = median(_span_ms(pip, "spark.action"))
            m["spatial_join.explode_rows"] = median(
                [node_sum(t["execs"], "Generate", "number of output rows") for t in pip])
            joined = sum(node_sum(t["execs"], "BroadcastHashJoin", "number of output rows") for t in pip)
            kept = sum(sum(t["answer"].values()) for t in pip)
            m["spatial_join.refine_kept_ratio"] = kept / max(joined, 1)
            m["spatial_join.broadcast_build_ms"] = median(
                [node_sum(t["execs"], "BroadcastExchange", "time to build") for t in pip])
        knn = [t for t in traced if t["kind"] == "knn"]
        if knn:
            m["knn.jobs_per_op"] = median([len(t["execs"]) for t in knn])
            cand = sum(node_sum(t["execs"], "BroadcastHashJoin", "number of output rows")
                       + node_sum(t["execs"], "BroadcastNestedLoopJoin", "number of output rows")
                       for t in knn)
            m["knn.candidates_per_result"] = cand / sum(len(t["answer"]) for t in knn)
        dens = [t for t in traced if t["kind"] == "density"]
        if dens:
            m["density.shuffle_bytes"] = median(
                [node_sum(t["execs"], "Exchange", "shuffle bytes written") for t in dens])
        where = [t for t in traced if t["kind"] == "where"]
        if where:
            m["planner_rules.rewrite_ms"] = median(_span_ms(where, "planner_rules.where_spatial"))
        return m


# ----------------------------------------------------------- daily_ingest

class DailyIngest(Workload):
    """Append one generated day with write_partitioned, then read a
    recent-days window with a polygon through read_pruned."""

    cycle = ("write", "read")
    LAYERS = ("storage",)
    ROWS_PER_DAY = 150
    INITIAL_DAYS = 1
    WINDOW_DAYS = 3

    def __init__(self, spark, tracer, seed):
        super().__init__(spark, tracer, seed)
        self.day0 = int(self.rng.integers(0, 30))
        self.read_params: dict[int, tuple] = {}
        self.days_written = 0

    def _day(self, k: int) -> pd.DataFrame:
        ids = I.row_offset(self.seed) + k * self.ROWS_PER_DAY + np.arange(
            self.ROWS_PER_DAY, dtype=np.int64)
        t0 = time.perf_counter()
        lon, lat = lonlat_of(ids)
        sec = _op_rng(self.seed, 10_000 + k).integers(0, 86400, len(ids))
        ts = TS_EPOCH + (self.day0 + k) * 86400 + sec
        pdf = pd.DataFrame({
            "image_id": np.char.add("img", np.char.zfill(ids.astype(str), 10)),
            "lon": lon, "lat": lat,
            "ts": pd.to_datetime(ts, unit="s"),
        })
        self.gen_s += time.perf_counter() - t0
        self.gen_rows += len(ids)
        return pdf

    def _date(self, k: int) -> str:
        return (dt.date(2024, 1, 1) + dt.timedelta(days=self.day0 + k)).isoformat()

    def _write(self, pdf, mode):
        from geomesa_spark.sources.storage import write_partitioned

        df = self.spark.createDataFrame(pdf)
        with self.span("storage.write_partitioned"):
            write_partitioned(df, self.path, mode=mode)

    def prepare(self, d):
        self.path = d
        self.days_written = 0
        for k in range(self.INITIAL_DAYS):
            pdf = self._day(k)
            self._write(pdf, "overwrite" if k == 0 else "append")
            self.days_written += 1
        self.next_pdf = self._day(self.days_written)
        self.stored = _du(self.path)

    def op(self, kind, i):
        if kind == "write":
            self._write(self.next_pdf, "append")
            self.days_written += 1
            self.next_pdf = None
            return self.days_written - 1
        from geomesa_spark.sources.storage import read_pruned

        rng = _op_rng(self.seed, i)
        cx, cy = I.CITIES[int(rng.integers(len(I.CITIES)))]
        hw = rng.uniform(0.1, 0.3)
        x0, y0, x1, y1 = cx - hw, cy - hw, cx + hw, cy + hw
        last = self.days_written - 1
        first = max(0, last - self.WINDOW_DAYS + 1)
        self.read_params[i] = ((x0, y0, x1, y1), first, last)
        text = I.wkt(I.box(cx, cy, hw, hw))
        with self.span("storage.read_pruned"):
            df = read_pruned(self.spark, self.path, geom=text,
                             time_range=(self._date(first), self._date(last)))
        with self.span("spark.action"):
            r = (
                df.filter(F.col("lon").between(x0, x1) & F.col("lat").between(y0, y1))
                .agg(F.count("*").alias("n"), F.sum("lon").alias("s"))
                .collect()[0]
            )
        return (int(r["n"]), float(r["s"] or 0.0))

    def after_op(self, kind):
        if kind == "write":
            self.next_pdf = self._day(self.days_written)
        else:
            self.stored = _du(self.path)

    def probe(self, kind, i, answer):
        if kind == "write":
            n0, b0 = self.stored
            n1, b1 = _du(self.path)
            with self.span("storage.files") as a:
                a["files"] = n1 - n0
                a["bytes"] = b1 - b0
        else:
            from geomesa_spark.sources.storage import prune_filters

            (x0, y0, x1, y1), first, last = self.read_params[i]
            text = I.wkt(np.array([[x0, y0], [x1, y0], [x1, y1], [x0, y1], [x0, y0]]))
            with self.span("storage.prune_filters") as a:
                t0 = time.perf_counter()
                prune_filters(text, (self._date(first), self._date(last)))
                a["ms"] = (time.perf_counter() - t0) * 1e3

    def check_all(self, records) -> list[str | None]:
        """DuckDB over the written parquet: every pruned read must equal the
        unpruned count, and every day must hold all its rows."""
        import duckdb

        con = duckdb.connect()
        con.execute("SET threads TO 2")
        con.execute(
            "CREATE TABLE t AS SELECT lon, lat, CAST(p_date AS VARCHAR) AS d "
            f"FROM read_parquet('{self.path}/**/*.parquet', hive_partitioning = true)"
        )
        per_day = dict(con.execute("SELECT d, count(*) FROM t GROUP BY d").fetchall())
        out = []
        for r in records:
            if r["kind"] == "write":
                d = self._date(r["answer"])
                got = per_day.get(d, 0)
                out.append(None if got == self.ROWS_PER_DAY else
                           f"day {d}: {got} rows stored, {self.ROWS_PER_DAY} written")
                continue
            (x0, y0, x1, y1), first, last = self.read_params[r["i"]]
            n, s = con.execute(
                "SELECT count(*), coalesce(sum(lon), 0) FROM t WHERE lon BETWEEN ? AND ? "
                "AND lat BETWEEN ? AND ? AND d BETWEEN ? AND ?",
                [x0, x1, y0, y1, self._date(first), self._date(last)],
            ).fetchone()
            gn, gs = r["answer"]
            ok = gn == n and abs(gs - s) <= 1e-6 * max(1.0, abs(s))
            out.append(None if ok else f"pruned read: {gn} rows, DuckDB {n}")
        con.close()
        return out

    def layers(self, traced):
        m = {}
        w = [t for t in traced if t["kind"] == "write"]
        if w:
            m["storage.write_ms_per_day"] = median(_span_ms(w, "storage.write_partitioned"))
            fs = [s["attrs"] for t in w for s in t["spans"] if s["name"] == "storage.files"]
            m["storage.files_per_day"] = median([a["files"] for a in fs])
        r = [t for t in traced if t["kind"] == "read"]
        if r:
            m["storage.prune_filter_ms"] = median(
                [s["attrs"]["ms"] for t in r for s in t["spans"] if s["name"] == "storage.prune_filters"])
            m["storage.files_read_per_query"] = median(
                [node_sum(t["execs"], "Scan", "number of files read") for t in r])
        n, b = _du(self.path)
        m["storage.bytes_per_row"] = b / max(self.days_written * self.ROWS_PER_DAY, 1)
        return m


# ------------------------------------------------------------ ann_search

class AnnSearch(Workload):
    """pq_topk_indexed with exact rerank, in query batches, over an IVF-PQ
    index built during set-up."""

    cycle = ("ann",)
    LAYERS = ("similarity",)
    N = 4_000
    DIM = 32
    CLUSTERS = 32
    BATCH = 16
    K = 10
    M, KSUB, N_CENT, N_PROBE, RERANK = 8, 64, 32, 8, 200

    def prepare(self, d):
        from geomesa_spark.operators.similarity import build_pq_index

        rng = np.random.default_rng([self.seed, 1])
        self.centers = rng.normal(size=(self.CLUSTERS, self.DIM))
        idx = rng.integers(0, self.CLUSTERS, self.N)
        self.X = (self.centers[idx] + rng.normal(scale=0.35, size=(self.N, self.DIM))).astype(np.float32)
        os.makedirs(d)
        corpus = os.path.join(d, "corpus")
        os.makedirs(corpus)
        emb = pa.ListArray.from_arrays(
            np.arange(0, self.N * self.DIM + 1, self.DIM, dtype=np.int32),
            pa.array(self.X.ravel()))
        pq.write_table(pa.table({"vec_id": np.arange(self.N, dtype=np.int64), "embedding": emb}),
                       os.path.join(corpus, "part-00000.parquet"))
        if hasattr(self, "vectors"):
            self.vectors.unpersist()
        self.vectors = self.spark.read.parquet(corpus).persist()
        self.vectors.count()
        self.path = os.path.join(d, "index")
        build_pq_index(self.vectors, self.path, dim=self.DIM, m=self.M, ksub=self.KSUB,
                       n_centroids=self.N_CENT)
        self.qs: dict[int, np.ndarray] = {}

    def op(self, kind, i):
        from geomesa_spark.operators.similarity import pq_topk_indexed

        rng = _op_rng(self.seed, i)
        idx = rng.integers(0, self.CLUSTERS, self.BATCH)
        Q = (self.centers[idx] + rng.normal(scale=0.35, size=(self.BATCH, self.DIM))).astype(np.float32)
        self.qs[i] = Q
        qid0 = self.N + i * self.BATCH
        with self.span("similarity.pq_topk_indexed"):
            queries = self.spark.createDataFrame(
                pd.DataFrame({"qid": np.arange(qid0, qid0 + self.BATCH, dtype=np.int64),
                              "qvec": list(Q)}),
                schema="qid long, qvec array<float>")
            df = pq_topk_indexed(self.spark, self.path, queries, self.K,
                                 n_probe=self.N_PROBE, rerank=self.RERANK,
                                 vectors=self.vectors)
        with self.span("spark.action"):
            out = df.toPandas()
        out["qid"] -= qid0
        return out

    def recall(self, i, ans) -> float:
        truth = I.cosine_topk(self.X, self.qs[i], self.K)
        hits = 0
        for q in range(self.BATCH):
            got = set(ans.loc[ans["qid"] == q, "vec_id"].tolist())
            hits += len(got & set(truth[q].tolist()))
        return hits / (self.BATCH * self.K)

    def check(self, kind, i, ans):
        counts = ans.groupby("qid").size()
        if len(counts) != self.BATCH or (counts != self.K).any():
            return f"batch {i}: expected {self.K} results for each of {self.BATCH} queries"
        Xn = self.X[ans["vec_id"].to_numpy()].astype(np.float64)
        Qn = self.qs[i][ans["qid"].to_numpy()].astype(np.float64)
        exact = (Xn * Qn).sum(1) / (np.linalg.norm(Xn, axis=1) * np.linalg.norm(Qn, axis=1))
        if not np.allclose(ans["sim"].to_numpy(), exact, atol=1e-6):
            return f"batch {i}: reranked sims differ from numpy cosine"
        rec = self.recall(i, ans)
        if rec < RECALL_FLOOR:
            return f"batch {i}: recall@10 {rec:.3f} below floor {RECALL_FLOOR}"
        return None

    def layers(self, traced):
        m = {
            "similarity.plan_ms": median(_span_ms(traced, "similarity.pq_topk_indexed")),
            "similarity.exec_ms": median(_span_ms(traced, "spark.action")),
            "similarity.py_run_ms": median(
                [node_sum(t["execs"], "", "time to run Python workers") for t in traced]),
            "similarity.recall_at_10": median([self.recall(t["i"], t["answer"]) for t in traced]),
        }
        return m


class Composite(Workload):
    """Several workloads' op cycles run by one client in one session. Each
    run pays a session start and a cold first Python-worker job before it
    measures anything; sharing them keeps a full benchmark pass (22 runs
    per workload) within its time budget."""

    def __init__(self, spark, tracer, seed, parts: list[Workload]):
        super().__init__(spark, tracer, seed)
        self.parts = parts
        self.cycle = tuple(k for p in parts for k in p.cycle)
        self.LAYERS = tuple(dict.fromkeys(n for p in parts for n in p.LAYERS))
        self.part = {k: p for p in parts for k in p.cycle}

    def prepare(self, d):
        for k, part in enumerate(self.parts):
            part.prepare(os.path.join(d, f"part{k}"))
        self.gen_rows = sum(p.gen_rows for p in self.parts)
        self.gen_s = sum(p.gen_s for p in self.parts)

    def op(self, kind, i):
        return self.part[kind].op(kind, i)

    def probe(self, kind, i, answer):
        self.part[kind].probe(kind, i, answer)

    def after_op(self, kind):
        self.part[kind].after_op(kind)

    def check_all(self, records):
        found = {}
        for p in self.parts:
            mine = [r for r in records if r["kind"] in p.cycle]
            found.update(zip((id(r) for r in mine), p.check_all(mine)))
        return [found[id(r)] for r in records]

    def layers(self, traced):
        m = {}
        for p in self.parts:
            m.update(p.layers([t for t in traced if t["kind"] in p.cycle]))
        return m


WORKLOADS = {
    "python_batch": lambda spark, tr, seed: Composite(
        spark, tr, seed, [TileRender(spark, tr, seed), AnnSearch(spark, tr, seed)]),
    "interactive": lambda spark, tr, seed: Composite(
        spark, tr, seed, [SpatialQueries(spark, tr, seed), DailyIngest(spark, tr, seed)]),
}

