"""The benchmark's workloads.  Each is a closed loop with one client:
the next op starts when the previous one returns.

A workload object is built once per run.  `prepare(k)` makes one fresh
copy of the inputs (the harness repeats it to take a median set-up
time); `op(i)` runs and times one op, returning (seconds, output);
`traced_op(i, tracer)` does the same under spans; `check(outputs)`
returns one verdict per op and runs untimed after the timed loop;
`layer_metrics(tracer, n)` turns the spans of n traced ops into the
per-layer figures.  Inputs are generated from the run's seed only.
"""

from __future__ import annotations

import math
import os
import shutil
import time

import numpy as np
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from engine.flagship import (DEFAULT_BBOX, NARROW_COLS, flagship_config,
                             flagship_stages)
from engine.geo.bbox import bbox_filter
from engine.geo.cells import cell_parent_col, with_cell
from engine.geo.join import candidates_join, spatial_join
from engine.geo.knn import knn_bruteforce_df, knn_join
from engine.geo.layer import PolygonLayer
from engine.geo.pip import refine, refine_native
from engine.geo.raster import rasterize_tiles
from engine.geo.tiles import tile_key_col, tile_pyramid, with_tile
from engine.geo.vectile import (DEFAULT_MAX_FEATURES, decode_payload,
                                encode_vector_tiles)
from engine.pipeline import run_pipeline, stage_output
from engine.synth import HOT_LAT, HOT_LON, MAX_LAT, gen_points

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
LAYER_PATH = os.path.join(ROOT, "oracle", "layer12.json")
LEVEL, ZOOM = 8, 12            # flagship join level and tile zoom


def _digest(df: DataFrame) -> list:
    h = F.xxhash64(*df.columns)
    return [F.count(F.lit(1)), F.bit_xor(h), F.sum(F.pmod(h, F.lit(2**31 - 1)))]


def fingerprint(df: DataFrame, *extra) -> tuple:
    """Order-insensitive digest of a result: row count, xor and sum (of
    each hash mod 2^31 - 1) of per-row xxhash64 over every column, then
    any `extra` aggregates.  Hashing every column also keeps Spark from
    pruning a column the op must compute."""
    return tuple(df.agg(*_digest(df), *extra).collect()[0])


def _timed(fn):
    t0 = time.perf_counter()
    out = fn()
    return time.perf_counter() - t0, out


def _gen_points(spark, n: int, seed: int, path: str) -> str:
    gen_points(spark, n, seed=seed).write.parquet(path)
    return path


def _layer():
    return PolygonLayer.from_json(LAYER_PATH)


class Workload:
    rows_per_op: int

    def __init__(self, spark, seed: int, work: str, n: int):
        self.spark, self.seed, self.work, self.n = spark, seed, work, n

    def traced_op(self, i, tracer):
        with tracer.span(f"{self.name}.op") as rec:
            dt, out = self.op(i)
        rec["attrs"]["timed_s"] = dt
        return dt, out


# ------------------------------------------------------------------ etl

class EtlCheckpointed(Workload):
    """One flagship pipeline run into a fresh root whose `images` stage
    was committed at set-up, so each op executes extract -> joined ->
    tiled -> tile_counts with a snapshot commit, a metrics row and
    lineage rows per stage."""

    name = "etl_checkpointed"
    SIZES = {"full": 1000, "tiny": 800}

    def __init__(self, *a):
        super().__init__(*a)
        self.layer = _layer()
        self.stages = flagship_stages(self.layer, self.n, seed=self.seed,
                                      level=LEVEL, z=ZOOM)
        self.config = flagship_config(self.n, self.seed, DEFAULT_BBOX,
                                      LEVEL, ZOOM)
        self.rows_per_op = self.n

    def prepare(self, k):
        self.seed_root = os.path.join(self.work, f"etl-seed{k}")
        run_pipeline(self.spark, self.stages[:1], self.seed_root, self.config)

    def _fresh_root(self, i):
        root = os.path.join(self.work, f"etl-op{i}")
        shutil.copytree(self.seed_root, root)
        return root

    def _run(self, root):
        dt, res = _timed(lambda: run_pipeline(self.spark, self.stages, root,
                                              self.config))
        if res.executed != [s.name for s in self.stages[1:]]:
            raise RuntimeError(f"unexpected stages executed: {res.executed}")
        return dt, root

    def op(self, i):
        return self._run(self._fresh_root(i))

    def traced_op(self, i, tracer):
        root = self._fresh_root(i)
        with tracer.span("pipeline.run") as rec:
            dt, out = self._run(root)
        rec["attrs"]["timed_s"] = dt
        rec["attrs"]["stages"] = len(self.stages) - 1
        return dt, out

    def check(self, outputs):
        """tile_counts equals a direct, uncheckpointed join + tiling of
        the same images, and is identical across ops."""
        images = stage_output(self.spark, self.seed_root, "images")
        joined = spatial_join(
            bbox_filter(images.select(*NARROW_COLS), DEFAULT_BBOX),
            self.layer, LEVEL)
        ref = fingerprint(
            with_tile(joined, z=ZOOM, quadkey_col=True)
            .groupBy("poly_id", "tile_z", "tile_x", "tile_y", "quadkey")
            .agg(F.count("*").alias("n_images")))
        cols = ["poly_id", "tile_z", "tile_x", "tile_y", "quadkey",
                "n_images"]
        return [fingerprint(stage_output(self.spark, root, "tile_counts")
                            .select(*cols)) == ref
                for root in outputs]

    def layer_metrics(self, tr, n):
        ops = tr.named("pipeline.run")
        commits = tr.named("icelite.commit_append")
        files = [f for c in commits for f in c["attrs"].get("files", [])]
        nbytes = sum(os.path.getsize(f) for f in files if os.path.exists(f))
        rows = sum(_parquet_rows(f) for f in files if os.path.exists(f))
        stages = sum(o["attrs"]["stages"] for o in ops)
        emits = tr.named("metrics.emit_stage", "metrics.emit_lineage")
        builds = tr.named("geo.layer.build_df")
        hh = tr.named("geo.skew.heavy_hitters")
        return {
            "pipeline.self_s": tr.self_sum("pipeline.run") / n,
            "pipeline.spark_jobs_per_stage":
                sum(tr.inclusive(o, "jobs") for o in ops) / max(stages, 1),
            "icelite.commit_s": tr.self_sum("icelite.commit_append") / n,
            "icelite.commits": len(commits) / n,
            "icelite.files_written": len(files) / n,
            "icelite.bytes_per_row": nbytes / max(rows, 1),
            "icelite.find_snapshot_s": tr.self_sum("icelite.find_snapshot") / n,
            "metrics.emit_s": tr.self_sum("metrics.emit_stage",
                                          "metrics.emit_lineage") / n,
            "metrics.spark_jobs": sum(tr.inclusive(e, "jobs")
                                      for e in emits) / n,
            "geo.skew.heavy_hitters_s":
                tr.self_sum("geo.skew.heavy_hitters") / n,
            "geo.skew.hot_keys": sum(h["attrs"]["hot_keys"] for h in hh) / n,
            "geo.layer.build_s": tr.self_sum("geo.layer.build_df") / n,
            "geo.layer.build_rows": (builds[-1]["attrs"]["df"].count()
                                     if builds else 0),
        }


def _parquet_rows(path: str) -> int:
    return pq.ParquetFile(path).metadata.num_rows


# ----------------------------------------------------------------- scan

class SpatialTileScan(Workload):
    """The north-rule query: bbox extract -> cell encode -> broadcast
    candidate join -> native PIP refine -> per-(polygon, tile) counts,
    over a narrow point table with a hot cell and an antimeridian band."""

    name = "spatial_tile_scan"
    SIZES = {"full": 1_000_000, "tiny": 5000}

    def __init__(self, *a):
        super().__init__(*a)
        self.layer = _layer()
        self.rows_per_op = self.n

    def prepare(self, k):
        self.use_points(_gen_points(self.spark, self.n, self.seed,
                                    os.path.join(self.work, f"points{k}")))

    def use_points(self, path):
        self.path = path
        self.build = self.layer.build_df(self.spark, LEVEL, with_edges=True)
        self.build_rows = self.build.count()

    def layers(self):
        """(name, DataFrame) after each layer's public call, in order."""
        scan = self.spark.read.parquet(self.path).select(*NARROW_COLS)
        bbox = bbox_filter(scan, DEFAULT_BBOX)
        cells = with_cell(bbox)
        probe = cells.withColumn("cell_p", cell_parent_col("cell", LEVEL))
        cands = candidates_join(probe, self.build, mode="broadcast",
                                build_rows=self.build_rows)
        refined = refine_native(cands)
        tiles = (refined.groupBy("poly_id",
                                 tile_key_col("cell", ZOOM).alias("tile"))
                 .agg(F.count("*").alias("n_images")))
        return [("spark.scan", scan), ("geo.bbox", bbox), ("geo.cells", cells),
                ("geo.join", cands), ("geo.pip", refined), ("geo.tiles", tiles)]

    def op(self, i):
        return _timed(lambda: fingerprint(self.layers()[-1][1]))

    def traced_op(self, i, tracer):
        """Time each layer as the difference between cumulative runs: the
        query up to and including that layer, forced with a no-op write.
        The last layer's cumulative run is the op itself."""
        stack = self.layers()
        with tracer.span("scan.layers", probe=True):
            for name, df in stack[:-1]:
                if name == "geo.join":   # the edge arrays only feed the PIP
                    df = df.drop("edges")
                obs = Observation(name)
                aggs = [F.count(F.lit(1)).alias("rows")]
                if name == "geo.join":
                    aggs.append(F.sum(F.col("full").cast("long")).alias("full"))
                df = df.observe(obs, *aggs)
                with tracer.span(name + ".cumulative") as rec:
                    df.write.format("noop").mode("overwrite").save()
                rec["attrs"].update(obs.get)
        dt, out = super().traced_op(i, tracer)
        tracer.named(f"{self.name}.op")[-1]["attrs"]["rows_out"] = out[0]
        return dt, out

    def check(self, outputs):
        """Equals the Arrow (pandas) PIP refine over the same candidates."""
        probe = self.layers()[2][1].withColumn(
            "cell_p", cell_parent_col("cell", LEVEL))
        build = self.layer.build_df(self.spark, LEVEL, with_edges=False)
        refined = refine(candidates_join(probe, build, mode="broadcast"),
                         self.layer.parts())
        ref = fingerprint(refined.groupBy(
            "poly_id", tile_key_col("cell", ZOOM).alias("tile"))
            .agg(F.count("*").alias("n_images")))
        return [o == ref for o in outputs]

    def layer_metrics(self, tr, n):
        cum = {}
        for name in ("spark.scan", "geo.bbox", "geo.cells", "geo.join",
                     "geo.pip"):
            spans = tr.named(name + ".cumulative")
            cum[name] = sum(tr.duration(s) for s in spans) / n
            last = spans[-1]["attrs"]
            cum[name + ".rows"], cum[name + ".full"] = last["rows"], \
                last.get("full", 0)
        ops = tr.named(self.name + ".op")
        cum["geo.tiles"] = sum(tr.duration(s) for s in ops) / n
        return {
            "spark.scan_s": cum["spark.scan"],
            "geo.bbox.self_s": cum["geo.bbox"] - cum["spark.scan"],
            "geo.bbox.keep_ratio": cum["geo.bbox.rows"]
                / max(cum["spark.scan.rows"], 1),
            "geo.cells.self_s": cum["geo.cells"] - cum["geo.bbox"],
            "geo.join.self_s": cum["geo.join"] - cum["geo.cells"],
            "geo.join.candidates_per_row": cum["geo.join.rows"]
                / max(cum["geo.cells.rows"], 1),
            "geo.pip.self_s": cum["geo.pip"] - cum["geo.join"],
            "geo.pip.keep_ratio": cum["geo.pip.rows"]
                / max(cum["geo.join.rows"], 1),
            "geo.pip.full_cell_share": cum["geo.join.full"]
                / max(cum["geo.join.rows"], 1),
            "geo.tiles.self_s": cum["geo.tiles"] - cum["geo.pip"],
            "geo.tiles.rows_out": ops[-1]["attrs"]["rows_out"],
        }


# --------------------------------------------------------------- render

class TileRender(Workload):
    """Tile pyramid z12 -> z6, occupancy rasters at z6 and vector tiles at
    z6 over a narrow point table: wide shuffles and Arrow Python, no join.
    Raster and vector tiles are collected, as a tile server ships them."""

    name = "tile_render"
    SIZES = {"full": 50_000, "tiny": 5000}
    Z_MAX, Z_MIN, Z = 12, 6, 6

    def __init__(self, *a):
        super().__init__(*a)
        self.rows_per_op = self.n

    def prepare(self, k):
        self.use_points(_gen_points(self.spark, self.n, self.seed,
                                    os.path.join(self.work, f"points{k}")))

    def use_points(self, path):
        self.path = path

    def calls(self):
        pts = self.spark.read.parquet(self.path)
        ided = pts.withColumn("id", F.substring("image_id", 4, 12).cast("long"))

        def pyramid():
            pyr = tile_pyramid(with_cell(pts), self.Z_MAX, self.Z_MIN)
            return sorted(tuple(r) for r in pyr.groupBy("tile_z")
                          .agg(*_digest(pyr), F.sum("n")).collect())

        def raster():
            return sorted(tuple(r) for r in
                          rasterize_tiles(pts, z=self.Z).collect())

        def vectile():
            return sorted(tuple(r) for r in encode_vector_tiles(ided, z=self.Z)
                          .select("tile_x", "tile_y", "n_features", "n_bytes",
                                  "payload").collect())

        return [("geo.tiles.pyramid", pyramid), ("geo.raster", raster),
                ("geo.vectile", vectile)]

    def op(self, i):
        return _timed(lambda: tuple(call() for _, call in self.calls()))

    def traced_op(self, i, tracer):
        with tracer.span(f"{self.name}.op") as rec:
            t0 = time.perf_counter()
            out = []
            for name, call in self.calls():
                with tracer.span(name):
                    out.append(call())
            dt = time.perf_counter() - t0
        rec["attrs"]["timed_s"] = dt
        rec["attrs"]["payload_bytes"] = sum(r[3] for r in out[2])
        return dt, tuple(out)

    def check(self, outputs):
        """Ops agree; every pyramid level and the raster sum to the point
        count; each vector tile decodes to its feature count, which is the
        tile's raster count up to the feature cap."""
        if not outputs:
            return []
        pyr, ras, vt = outputs[0]
        n = self.n
        ok = [r[4] for r in pyr] == [n] * (self.Z_MAX - self.Z_MIN + 1)
        raw = {(r[1], r[2]): r[3] for r in ras}    # (tile_x, tile_y) -> n_points
        ok &= sum(raw.values()) == n
        for tx, ty, n_features, _, payload in vt:
            _, feats = decode_payload(bytes(payload))
            ok &= len(feats) == n_features == min(raw.get((tx, ty), 0),
                                                  DEFAULT_MAX_FEATURES)
        ok &= len(vt) == len(raw)
        return [bool(ok) and o == outputs[0] for o in outputs]

    def layer_metrics(self, tr, n):
        ops = tr.named(f"{self.name}.op")
        return {
            "geo.tiles.pyramid_s": tr.self_sum("geo.tiles.pyramid") / n,
            "geo.raster.self_s": tr.self_sum("geo.raster") / n,
            "geo.vectile.self_s": tr.self_sum("geo.vectile") / n,
            "geo.vectile.payload_bytes": ops[-1]["attrs"]["payload_bytes"],
        }


# ------------------------------------------------------------------ knn

class KnnServe(Workload):
    """Back-to-back kNN requests (k=10) from one client.  Each request is
    a batch of query points, one in ten (at least one) within 0.02 deg of
    the hot cell and the rest uniform."""

    name = "knn_serve"
    SIZES = {"full": 200_000, "tiny": 5000}
    QUERIES, K, R0 = 8, 10, 3
    CHECKED = 1

    def __init__(self, *a):
        super().__init__(*a)
        self.rows_per_op = self.QUERIES

    def prepare(self, k):
        self.use_points(_gen_points(self.spark, self.n, self.seed,
                                    os.path.join(self.work, f"points{k}")))

    def use_points(self, path):
        self.path = path

    def queries(self, i):
        rng = np.random.default_rng([self.seed, i + 2**20])
        hot = max(1, math.ceil(self.QUERIES / 10))
        rows = []
        for q in range(self.QUERIES):
            if q < hot:
                lat = HOT_LAT + rng.uniform(-0.02, 0.02)
                lon = HOT_LON + rng.uniform(-0.02, 0.02)
            else:
                lat = rng.uniform(-MAX_LAT, MAX_LAT)
                lon = rng.uniform(-180.0, 180.0)
            rows.append((i * self.QUERIES + q, float(lat), float(lon)))
        return self.spark.createDataFrame(rows, "qid long, lat double, lon double")

    def points(self):
        return self.spark.read.parquet(self.path).select("image_id", "lat", "lon")

    def op(self, i):
        q = self.queries(i)
        dt, rows = _timed(lambda: knn_join(q, self.points(), k=self.K,
                                           level=LEVEL, r0=self.R0).collect())
        if len(rows) != self.QUERIES * self.K:
            raise RuntimeError(f"kNN returned {len(rows)} rows")
        return dt, (i, rows if i < self.CHECKED else None)

    def check(self, outputs):
        """In the first request, the hot-area query and one uniform query
        equal the brute-force kNN."""
        verdicts = []
        for i, rows in outputs:
            if rows is None:
                verdicts.append(True)
                continue
            qids = [i * self.QUERIES, i * self.QUERIES + self.QUERIES - 1]
            queries = self.queries(i).filter(F.col("qid").isin(qids))
            ref = knn_bruteforce_df(queries, self.points(), self.K).collect()
            got = sorted((r["qid"], r["rn"], r["image_id"], r["dist_m"])
                         for r in rows if r["qid"] in qids)
            want = sorted((r["qid"], r["rn"], r["image_id"], r["dist_m"])
                          for r in ref)
            verdicts.append(len(got) == len(want) == len(qids) * self.K and all(
                g[:3] == w[:3] and math.isclose(g[3], w[3], rel_tol=1e-9,
                                                abs_tol=1e-6)
                for g, w in zip(got, want)))
        return verdicts

    def traced_op(self, i, tracer):
        with tracer.span("geo.knn") as rec:
            dt, out = self.op(i)
        rec["attrs"]["timed_s"] = dt
        return dt, out

    def layer_metrics(self, tr, n):
        reqs = tr.named("geo.knn")
        calls = len(tr.named("ckpt.materialize"))
        return {
            "geo.knn.self_s": tr.self_sum("geo.knn") / n,
            # knn_join materializes twice per round (top-k and retries)
            "geo.knn.rounds_per_req": calls / 2 / n,
            "geo.knn.spark_jobs_per_req":
                sum(tr.inclusive(r, "jobs") for r in reqs) / n,
            "ckpt.materialize_s": tr.self_sum("ckpt.materialize") / n,
            "ckpt.calls_per_req": calls / n,
        }


# ---------------------------------------------------------------- serve

class SpatialServe(Workload):
    """The read side of a tile service: each op runs the north-rule query
    and one kNN request over a narrow point table, then the z6 render over
    its first tenth (the render is the costliest part per point).  Three
    separate read workloads do not fit the benchmark's time budget: each
    would pay its own session start, cold Python workers and warm-up."""

    name = "spatial_serve"
    SIZES = {"full": 300_000, "tiny": 5000}
    RENDER_SHARE = 10         # the render reads the first n / 10 points

    def __init__(self, *a):
        super().__init__(*a)
        self.parts = [SpatialTileScan(self.spark, self.seed, self.work, self.n),
                      KnnServe(self.spark, self.seed, self.work, self.n),
                      TileRender(self.spark, self.seed, self.work,
                                 self.n // self.RENDER_SHARE)]
        self.rows_per_op = self.n
        self.part_times: list[list[float]] = []

    def prepare(self, k):
        path = _gen_points(self.spark, self.n, self.seed,
                           os.path.join(self.work, f"points{k}"))
        for p in self.parts[:2]:
            p.use_points(path)
        render = self.parts[2]
        render.use_points(_gen_points(self.spark, render.n, self.seed,
                                      os.path.join(self.work, f"tiles{k}")))

    def op(self, i):
        runs = [p.op(i) for p in self.parts]
        self.part_times.append([dt for dt, _ in runs])
        return sum(dt for dt, _ in runs), tuple(out for _, out in runs)

    def traced_op(self, i, tracer):
        runs = [p.traced_op(i, tracer) for p in self.parts]
        return sum(dt for dt, _ in runs), tuple(out for _, out in runs)

    def check(self, outputs):
        per_part = [p.check([o[j] for o in outputs])
                    for j, p in enumerate(self.parts)]
        return [all(v) for v in zip(*per_part)]

    def layer_metrics(self, tr, n):
        out = {}
        for p in self.parts:
            out.update(p.layer_metrics(tr, n))
        return out


WORKLOADS = {w.name: w for w in (EtlCheckpointed, SpatialServe,
                                 SpatialTileScan, KnnServe, TileRender)}
