"""Headline benchmark (SURVEY.md §6). Prints ONE JSON line:

  {"metric": ..., "value": <total sec>, "unit": "sec",
   "queries": {name: sec, ...}, "sf": <float>, ...extras}

Env:
  SPARK_GRAFT_SF_DIR  input tables dir      (default /root/testdata/sf0.1)
  SPARK_GRAFT_CPUS    local[N] parallelism  (default 32)
  SPARK_GRAFT_BENCH_N override synthetic image-table size

Protocol notes (honesty rules, SURVEY.md §6):
- the synthetic image table is MATERIALIZED to parquet once (path keyed
  by n+seed) so the spatial-join measurement times the join, not the
  generator; generation itself is reported as its own entry the first
  time it runs;
- the spatial query reads narrow columns only — the parquet scan must
  prune `bytes` (the design point: payload never rides the shuffle);
- per-query wall times are measured after one warm-up action so JVM/
  Python-worker startup is not attributed to the first query;
- reps are INTERLEAVED across queries (rep loop outer, query loop
  inner) so a shared-host freeze window poisons at most one rep per
  query, never all reps of one query (r5; see main()).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import pandas as pd  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

SEED = 42


def warmup(spark, cpus: int) -> None:
    """Spin the JVM codegen path AND the Python-worker fleet before any
    timed query: pandas-UDF workers import numpy/pandas on first use
    (~1s x workers), which is amortized noise at cluster scale but would
    otherwise be attributed to the first timed query."""

    @F.pandas_udf("long")
    def _plus1(v: pd.Series) -> pd.Series:
        return v + 1

    def _ident(it):
        for pdf in it:
            yield pdf

    # chained scalar-UDF -> mapInPandas: a fused query keeps TWO Python
    # workers alive per task, so both fleets must be pre-spawned
    (spark.range(0, cpus * 1000, numPartitions=2 * cpus)
     .select(_plus1(F.col("id")).alias("id"))
     .mapInPandas(_ident, "id long")
     .select(F.sum("id")).collect())


def sf_of(sf_dir: str) -> float:
    base = os.path.basename(sf_dir.rstrip("/"))
    try:
        return float(base.replace("sf", ""))
    except ValueError:
        return -1.0


def images_table(spark, n: int, out_root: str = "/tmp/bench_images") -> str:
    """Materialize the deterministic image+caption table once per (n, seed)."""
    from engine.synth import gen_images
    path = f"{out_root}-n{n}-s{SEED}"
    marker = os.path.join(path, "_SUCCESS")
    if not os.path.exists(marker):
        t0 = time.time()
        gen_images(spark, n, seed=SEED).write.mode("overwrite").parquet(path)
        images_table.gen_sec = time.time() - t0
    return path


def bench_spatial_tile(spark, images_path: str, n: int):
    """The north-rule metric: bbox extract -> cell encode -> containment
    join (broadcast + PIP refine) -> tile assign -> per-tile counts.

    The exact PIP is the zero-Python-worker native even-odd form (2.2-2.5x
    faster at 512M and 0.867 N->4N scaling vs ~0.75 for the Arrow/pandas
    form — each task slot occupies ONE hardware thread instead of two)."""
    from engine.flagship import DEFAULT_BBOX, NARROW_COLS
    from engine.geo.bbox import bbox_filter
    from engine.geo.cells import cell_parent_col, with_cell
    from engine.geo.join import candidates_join
    from engine.geo.layer import PolygonLayer
    from engine.geo.pip import refine_native
    from engine.geo.tiles import tile_key_col

    layer = PolygonLayer.from_json()
    build = layer.build_df(spark, 8, with_edges=True)
    build_rows = build.count()

    t0 = time.time()
    imgs = spark.read.parquet(images_path).select(*NARROW_COLS)
    ext = with_cell(bbox_filter(imgs, DEFAULT_BBOX))
    probe = ext.withColumn("cell_p", cell_parent_col("cell", 8))
    cands = candidates_join(probe, build, mode="broadcast",
                            build_rows=build_rows)
    refined = refine_native(cands)
    counts = (refined.groupBy("poly_id", tile_key_col("cell", 12).alias("tile"))
              .agg(F.count("*").alias("n_images")))
    out_rows = counts.count()
    sec = time.time() - t0
    return sec, {"spatial_rows_in": n, "spatial_tile_rows_out": out_rows,
                 "spatial_rows_per_sec": round(n / sec, 1)}


def bench_knn(spark, images_path: str, n_queries: int = 200):
    import numpy as np
    from engine.geo.knn import knn_join
    rng = np.random.default_rng(7)
    qs = [(int(i), float(rng.uniform(-70, 70)), float(rng.uniform(-180, 180)))
          for i in range(n_queries)]
    queries = spark.createDataFrame(qs, "qid long, lat double, lon double")
    pts = spark.read.parquet(images_path).select("image_id", "lat", "lon")
    t0 = time.time()
    # r0=3 guarantees ~49-cell disks (~150 candidates at this density):
    # nearly every query satisfies its safe-radius bound in round 1.
    # cache_points=True is the bench-scale choice (points fit memory);
    # the engine default is False — scale-safe, see knn_join docstring.
    out = knn_join(queries, pts, k=10, level=8, r0=3, cache_points=True)
    rows = out.count()
    return time.time() - t0, {"knn_rows_out": rows}


def bench_phash_hamming(spark, images_path: str):
    from engine.image.phash import phash_prefilter
    df = spark.read.parquet(images_path).select("image_id", "phash")
    query_hash = df.orderBy("image_id").first()["phash"]
    t0 = time.time()
    rows = phash_prefilter(df, query_hash, 14).count()
    return time.time() - t0, {"phash_rows_out": rows}


def bench_agg_basic(spark, sf_dir: str):
    t0 = time.time()
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    rows = (li.groupBy("l_returnflag", "l_linestatus")
            .agg(F.count("*").alias("n"), F.sum("l_extendedprice").alias("s"),
                 F.avg("l_quantity").alias("a")).count())
    return time.time() - t0, {"agg_groups": rows}


def bench_join_sortmerge(spark, sf_dir: str):
    t0 = time.time()
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    od = spark.read.parquet(f"{sf_dir}/orders.parquet")
    rows = li.hint("MERGE").join(od, li.l_orderkey == od.o_orderkey).count()
    return time.time() - t0, {"join_rows": rows}


def bench_minhash_dedup(spark, sf_dir: str):
    from engine.text.dedup import minhash_dedup
    t0 = time.time()
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    dups = d.filter(F.col("doc_id") < 50).select(
        (F.col("doc_id") + 100000).alias("doc_id"), "text", "lang", "source",
        "n_chars")
    # 8 rows/band: the fixture vocabulary makes random docs ~0.35 similar
    # in char 4-grams, so 4-row bands flood the candidate set (~1M pairs);
    # 8-row bands keep exact/near dups while candidates stay O(dups).
    rows = minhash_dedup(d.unionByName(dups), threshold=0.6,
                         num_hashes=64, bands=8).count()
    return time.time() - t0, {"minhash_pairs": rows}


def bench_dedup_clusters(spark, sf_dir: str):
    """Keep-one-per-cluster dedup end-to-end: LSH candidates -> exact
    verify -> connected components (iterative min-label propagation)."""
    from engine.text.dedup import dedup_clusters
    t0 = time.time()
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    dups = d.filter(F.col("doc_id") < 50).select(
        (F.col("doc_id") + 100000).alias("doc_id"), "text", "lang", "source",
        "n_chars")
    # 8 rows/band, same rationale as bench_minhash_dedup: 4-row bands
    # flood the candidate set (~1M pairs) on this fixture vocabulary
    out = dedup_clusters(d.unionByName(dups), threshold=0.6, num_hashes=64)
    n_clusters = out.filter("is_rep").count()
    return time.time() - t0, {"dedup_n_clusters": n_clusters}


def bench_tile_pyramid(spark, images_path: str):
    """z12->z6 tile-count pyramid over the full image table: one full
    map-side-combined shuffle at the base zoom + tiny rollups."""
    from engine.geo.cells import with_cell
    from engine.geo.tiles import tile_pyramid
    t0 = time.time()
    pts = with_cell(spark.read.parquet(images_path).select("lat", "lon"))
    rows = tile_pyramid(pts, z_max=12, z_min=6).count()
    return time.time() - t0, {"pyramid_rows": rows}


def bench_tile_raster(spark, images_path: str):
    """Raster<->vector: per-tile 16x16 occupancy rasters over the full
    image table (native tile/pixel bit math -> pre-aggregated counts ->
    grouped-map raster kernel)."""
    from engine.geo.raster import rasterize_tiles
    df = spark.read.parquet(images_path).select("lat", "lon")
    t0 = time.time()
    rows = rasterize_tiles(df, z=6, grid_bits=4).count()
    return time.time() - t0, {"raster_tiles": rows}


def bench_vectile_encode(spark, images_path: str):
    """Servable vector tiles over the full image table at z6 — times the
    r4 DEFAULT capped path (row_number pre-filter + collect + batched
    Arrow encode inside ONE exchange)."""
    from engine.geo.vectile import encode_vector_tiles
    df = spark.read.parquet(images_path).select(
        F.col("image_id").alias("iid"), "lat", "lon").withColumn(
        "id", F.xxhash64("iid")).select("id", "lat", "lon")
    t0 = time.time()
    rows = encode_vector_tiles(df, z=6).count()
    return time.time() - t0, {"vectile_tiles": rows}


def bench_polygonize_rings(spark, images_path: str):
    """Raster -> vector ring tracing end to end: pixel counts (map-side
    combined) -> per-tile components -> boundary rings (r4 C3i)."""
    from engine.geo.polygonize import polygonize_rings
    from engine.geo.raster import _pixel_counts
    df = spark.read.parquet(images_path).select("lat", "lon")
    t0 = time.time()
    rows = polygonize_rings(
        _pixel_counts(df, 6, 4, "lat", "lon"), grid_bits=4).count()
    return time.time() - t0, {"ring_rows": rows}


def bench_ann_topk(spark, sf_dir: str):
    from engine.ml.ann import cosine_topk
    qvec = [float((i * 37 % 19) - 9) / 10.0 for i in range(64)]
    t0 = time.time()
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    rows = cosine_topk(emb, qvec, 10, id_col="vec_id").count()
    return time.time() - t0, {"ann_rows": rows}


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    sf = sf_of(sf_dir)
    n_images = int(os.environ.get(
        "SPARK_GRAFT_BENCH_N", max(5000, int(2_000_000 * max(sf, 0.0)))))

    from engine.session import get_spark
    spark = get_spark("bench", master=f"local[{cpus}]",
                      shuffle_partitions=2 * cpus,
                      extra={"spark.ui.showConsoleProgress": "false"})
    spark.sparkContext.setLogLevel("ERROR")
    warmup(spark, cpus)

    images_table.gen_sec = None
    images_path = images_table(spark, n_images)

    queries: dict[str, float] = {}
    extras: dict = {"cpus": cpus, "n_images": n_images}
    if images_table.gen_sec is not None:
        extras["gen_images_sec"] = round(images_table.gen_sec, 2)

    import statistics

    battery = [
        ("spatial_tile", bench_spatial_tile, (spark, images_path, n_images)),
        ("knn", bench_knn, (spark, images_path)),
        ("phash_hamming", bench_phash_hamming, (spark, images_path)),
        ("agg_basic", bench_agg_basic, (spark, sf_dir)),
        ("join_sortmerge", bench_join_sortmerge, (spark, sf_dir)),
        ("minhash_dedup", bench_minhash_dedup, (spark, sf_dir)),
        ("ann_topk", bench_ann_topk, (spark, sf_dir)),
        ("tile_raster", bench_tile_raster, (spark, images_path)),
        ("tile_pyramid", bench_tile_pyramid, (spark, images_path)),
        ("dedup_clusters", bench_dedup_clusters, (spark, sf_dir)),
        # r4 adds (document non-comparability of the TOTAL vs r3 in
        # BASELINE.md; the 10 queries above remain the comparable set)
        ("vectile_encode", bench_vectile_encode, (spark, images_path)),
        ("polygonize_rings", bench_polygonize_rings, (spark, images_path)),
    ]
    reps = int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3"))

    # INTERLEAVED protocol (r5; same fix the scaling bench adopted in
    # r3): reps are the OUTER loop — rep 1 of every query, then rep 2 of
    # every query, ... — so a multi-second host freeze (observed: a 0.2s
    # query at 7-14s inside one window, BASELINE.md host-drift notes)
    # poisons at most one rep of EACH query instead of all reps of ONE
    # query, and the per-query median recovers it.  Rep 1 additionally
    # pays one-time query compilation (amortizes to nothing at cluster
    # scale); the median absorbs that too.
    all_secs: dict[str, list[float]] = {name: [] for name, _, _ in battery}
    for _ in range(reps):
        for name, fn, args in battery:
            sec, info = fn(*args)
            all_secs[name].append(sec)
            extras.update(info)
    for name, _, _ in battery:
        queries[name] = round(statistics.median(all_secs[name]), 3)
        if reps > 1:
            extras[f"{name}_all_sec"] = [round(s, 3) for s in all_secs[name]]
    extras["spatial_rows_per_sec"] = round(
        n_images / queries["spatial_tile"], 1)

    out = {
        "metric": "headline query wall time (spatial-join+tile, kNN, phash, "
                  "relational, dedup, ANN)",
        "value": round(sum(queries.values()), 3),
        "unit": "sec",
        "queries": queries,
        "sf": sf,
        **extras,
    }
    print(json.dumps(out))


if __name__ == "__main__":
    main()
