"""r3 ops: S2-style covering compaction + deterministic data split —
each against an independent pure-Python/numpy oracle (SURVEY.md §5)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from engine.geo.cells import compact_cells
from engine.geo.layer import PolygonLayer
from engine.ml.split import assign_splits, seed_offset
from engine.text.dedup import _mix64
from oracle.geo import compact_cells_py


def _leafset(pairs, level):
    """Expand (lv, cell) pairs back to the base-`level` leaf cell set."""
    out = set()
    for lv, c in pairs:
        d = level - lv
        base = c << (2 * d)
        out.update(range(base, base + (1 << (2 * d))))
    return out


def test_compact_matches_python_oracle(spark):
    layer = PolygonLayer.from_json()
    cov = layer.build_df(spark, 8).select(
        "poly_id", F.col("cell_p").alias("cell"))
    got = {}
    for r in compact_cells(cov, level=8, min_level=4).collect():
        got.setdefault(r.poly_id, []).append((r.level, r.cell))
    by_poly = {}
    for cell, pid, _ in layer.covering(8):
        by_poly.setdefault(pid, []).append(cell)
    assert set(got) == set(by_poly)
    for pid, cells in by_poly.items():
        assert sorted(got[pid]) == compact_cells_py(cells, 8, 4), pid


def test_compact_preserves_leaf_area_and_is_minimal(spark):
    layer = PolygonLayer.from_json()
    cov = layer.build_df(spark, 8).select(
        "poly_id", F.col("cell_p").alias("cell"))
    rows = compact_cells(cov, level=8, min_level=4).collect()
    by_poly, orig = {}, {}
    for r in rows:
        by_poly.setdefault(r.poly_id, []).append((r.level, r.cell))
    for cell, pid, _ in layer.covering(8):
        orig.setdefault(pid, set()).add(cell)
    for pid, pairs in by_poly.items():
        # exact same leaf coverage, no overlap between mixed-level cells
        assert _leafset(pairs, 8) == orig[pid]
        n_leaves = sum(1 << (2 * (8 - lv)) for lv, _ in pairs)
        assert n_leaves == len(orig[pid])
        # minimal: no level retains a complete sibling quad
        for lv in range(5, 9):
            at = [c for l, c in pairs if l == lv]
            par = {}
            for c in at:
                par[c >> 2] = par.get(c >> 2, 0) + 1
            assert not any(n == 4 for n in par.values()), (pid, lv)


def test_compact_full_grid_collapses_to_one_cell(spark):
    # all 64 level-3 children of cell 5 -> the single level-0 cell... no:
    # 4^3 = 64 cells = the full subtree of ONE level-0 cell (id 5 >> ...)
    cells = [(5 << 6) + i for i in range(64)]
    df = spark.createDataFrame([("p", c) for c in cells], "poly_id string, cell long")
    got = [(r.level, r.cell) for r in
           compact_cells(df, level=3, min_level=0).collect()]
    assert got == [(0, 5)]


def test_compact_randomized_vs_oracle(spark):
    rng = np.random.default_rng(7)
    for seed in range(5):
        n = 1 << 5  # level 5 grid: ids in [0, 1024)
        cells = sorted(rng.choice(1024, size=300 + seed * 50,
                                  replace=False).tolist())
        df = spark.createDataFrame([("p", int(c)) for c in cells],
                                   "poly_id string, cell long")
        got = sorted((r.level, r.cell) for r in
                     compact_cells(df, level=5, min_level=2).collect())
        assert got == compact_cells_py(cells, 5, 2), seed


# ----------------------------------------------------------- data split

def test_split_matches_numpy_kernel(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    rows = assign_splits(docs, seed=42).select(
        "doc_id", "bucket", "split").collect()
    ids = np.array([r.doc_id for r in rows], np.int64).astype(np.uint64)
    exp = (_mix64(ids + np.uint64(seed_offset(42))) % np.uint64(10_000))
    for r, e in zip(rows, exp.astype(np.int64)):
        assert r.bucket == e
        assert r.split == ("train" if e < 8000 else
                           "val" if e < 9000 else "test")


def test_split_deterministic_and_partition_invariant(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    a = {(r.doc_id, r.bucket, r.split) for r in
         assign_splits(docs, seed=42).select("doc_id", "bucket", "split").collect()}
    b = {(r.doc_id, r.bucket, r.split) for r in
         assign_splits(docs.repartition(17), seed=42)
         .select("doc_id", "bucket", "split").collect()}
    assert a == b
    # different seed -> different assignment (avalanche)
    c = {(r.doc_id, r.bucket) for r in
         assign_splits(docs, seed=43).select("doc_id", "bucket").collect()}
    assert {(i, bu) for i, bu, _ in a} != c


def test_split_fractions_converge(spark):
    df = spark.range(0, 20_000).withColumnRenamed("id", "doc_id")
    counts = {r["split"]: r["count"] for r in
              assign_splits(df, seed=1).groupBy("split").count().collect()}
    total = sum(counts.values())
    assert total == 20_000
    assert abs(counts["train"] / total - 0.8) < 0.02
    assert abs(counts["val"] / total - 0.1) < 0.01
    assert abs(counts["test"] / total - 0.1) < 0.01


def test_split_custom_weights(spark):
    df = spark.range(0, 5_000).withColumnRenamed("id", "doc_id")
    out = assign_splits(df, seed=5, weights=(0.5, 0.5), names=("a", "b"))
    counts = {r["split"]: r["count"]
              for r in out.groupBy("split").count().collect()}
    assert set(counts) == {"a", "b"}
    assert abs(counts["a"] - counts["b"]) < 300


# ------------------------------------------------------ phash near-dup

def _brute_pairs(ids, hashes, max_dist):
    out = set()
    for i in range(len(ids)):
        for j in range(i + 1, len(ids)):
            d = bin((hashes[i] ^ hashes[j]) & ((1 << 64) - 1)).count("1")
            if d <= max_dist:
                a, b = sorted((ids[i], ids[j]))
                out.add((a, b, d))
    return out


def test_phash_near_dups_matches_bruteforce(spark):
    from engine.image.phash import phash_near_dups
    rng = np.random.default_rng(11)
    base = rng.integers(-(1 << 62), 1 << 62, size=80, dtype=np.int64)
    rows, ids, hs = [], [], []
    for i, h in enumerate(base):
        ids.append(f"a{i:03d}"); hs.append(int(h))
    # inject near-dups at distances 0..3 and a far pair at 8
    for i, d in enumerate((0, 1, 2, 3, 8)):
        h = int(base[i])
        for b in range(d):
            h ^= 1 << (7 * b + 3)
        ids.append(f"b{i:03d}"); hs.append(h)
    rows = list(zip(ids, hs))
    df = spark.createDataFrame(rows, "image_id string, phash long")
    got = {(r.id_a, r.id_b, r.dist)
           for r in phash_near_dups(df, max_dist=3).collect()}
    assert got == _brute_pairs(ids, hs, 3)
    # the dist-8 injected pair must be excluded
    assert not any(a == "a004" and b == "b004" for a, b, _ in got)


def test_phash_near_dups_guard_bounds_identical_hash_mass(spark):
    """10^3 copies of one phash: guarded output stays linear (rep-member
    chain), and every copy is reachable from the representative."""
    from engine.image.phash import phash_near_dups
    n = 1000
    df = spark.createDataFrame(
        [(f"i{i:04d}", 123456789) for i in range(n)],
        "image_id string, phash long")
    out = phash_near_dups(df, max_dist=3, max_bucket=64).collect()
    assert len(out) == n - 1  # rep pairs with every member, nothing else
    assert all(r.id_a == "i0000" and r.dist == 0 for r in out)


def test_phash_near_dups_guard_identity_below_cap(spark):
    from engine.image.phash import phash_near_dups
    rng = np.random.default_rng(3)
    hs = rng.integers(-(1 << 62), 1 << 62, size=60, dtype=np.int64)
    df = spark.createDataFrame(
        [(f"i{i:03d}", int(h)) for i, h in enumerate(hs)],
        "image_id string, phash long")
    a = {(r.id_a, r.id_b, r.dist)
         for r in phash_near_dups(df, max_dist=3, max_bucket=4096).collect()}
    b = {(r.id_a, r.id_b, r.dist)
         for r in phash_near_dups(df, max_dist=3, max_bucket=None).collect()}
    assert a == b


# ------------------------------------------- compacted containment join

def test_compact_join_equals_uncompacted(spark):
    """spatial_join(compact_min_level=...) must produce the exact same
    (id, poly_id) containment set as the plain join at the same level —
    on the full 12-polygon layer (holes, antimeridian, hot cell)."""
    from engine.geo.join import spatial_join
    from engine.synth import gen_points
    pts = gen_points(spark, 4000, seed=9)
    layer = PolygonLayer.from_json()
    plain = {(r.image_id, r.poly_id)
             for r in spatial_join(pts, layer, level=10)
             .select("image_id", "poly_id").collect()}
    compact = {(r.image_id, r.poly_id)
               for r in spatial_join(pts, layer, level=10,
                                     compact_min_level=5)
               .select("image_id", "poly_id").collect()}
    assert compact == plain and len(plain) > 0


def test_compact_join_build_is_smaller_and_broadcast(spark):
    from engine.geo.layer import PolygonLayer as PL
    layer = PL.from_json()
    full = layer.build_df(spark, 10, with_edges=True)
    comp, levels = layer.build_df_compact(spark, 10, 5)
    n_full, n_comp = full.count(), comp.count()
    assert n_comp < n_full / 3  # 9648 -> ~2967 on this layer
    assert levels and min(levels) >= 5 and max(levels) == 10
    # full cells in the compacted build never carry edges; partial always do
    rows = comp.collect()
    assert all((r.edges is None) == r.full for r in rows)
    assert all(r.blevel == 10 for r in rows if not r.full)


# ------------------------------------- leakage-safe split + stratified sample

def test_grouped_split_keeps_dup_groups_together(spark, sf_dir):
    from engine.ml.split import assign_splits_grouped
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    dups = docs.filter("doc_id < 30").selectExpr(
        "doc_id + 500000 AS doc_id", "text", "lang", "source", "n_chars")
    rows = assign_splits_grouped(docs.unionByName(dups), seed=7).select(
        "doc_id", "rep_id", "split").collect()
    by_id = {r.doc_id: r for r in rows}
    for i in range(30):
        a, b = by_id[i], by_id[i + 500000]
        assert a.rep_id == b.rep_id == i  # min id over the text group
        assert a.split == b.split         # never straddles train/eval
    # plain per-row split WOULD separate some pair (sanity of the guard)
    from engine.ml.split import assign_splits
    plain = {r.doc_id: r.split
             for r in assign_splits(docs.unionByName(dups), seed=7)
             .select("doc_id", "split").collect()}
    assert any(plain[i] != plain[i + 500000] for i in range(30))


def test_grouped_split_on_custom_group_col(spark, sf_dir):
    from engine.ml.split import assign_splits_grouped
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    rows = assign_splits_grouped(docs, group_cols=["lang"], seed=7).select(
        "lang", "rep_id", "split").distinct().collect()
    # one (rep, split) per language — whole stratum moves together
    assert len(rows) == docs.select("lang").distinct().count()


def test_stratified_sample_exact_kernel_and_rates(spark, sf_dir):
    from engine.ml.split import sample_stratified
    from engine.ml.split import seed_offset
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    rates = {"en": 0.5, "zh": 0.0, "de": 1.0}
    kept = sample_stratified(docs, rates, seed=43).select(
        "doc_id", "lang", "u").collect()
    assert all(r.lang != "zh" for r in kept)          # rate 0 drops all
    ids = np.array([r.doc_id for r in kept], np.int64).astype(np.uint64)
    exp = (_mix64(ids + np.uint64(seed_offset(43))) % np.uint64(1_000_000))
    for r, e in zip(kept, exp.astype(np.int64)):
        assert r.u == e
        assert (r.lang != "en") or (e < 500_000)
    n_de_all = docs.filter("lang = 'de'").count()
    assert sum(1 for r in kept if r.lang == "de") == n_de_all  # rate 1 keeps all
    # default_rate applies to strata absent from the dict
    n_fr_all = docs.filter("lang = 'fr'").count()
    assert sum(1 for r in kept if r.lang == "fr") == n_fr_all


def test_stratified_sample_reproducible_and_converges(spark):
    from engine.ml.split import sample_stratified
    df = (spark.range(0, 40_000).withColumnRenamed("id", "doc_id")
          .withColumn("lang", F.when(F.col("doc_id") % 2 == 0, "en")
                      .otherwise("de")))
    a = {r.doc_id for r in
         sample_stratified(df, {"en": 0.25, "de": 0.75}, seed=5).collect()}
    b = {r.doc_id for r in
         sample_stratified(df.repartition(13), {"en": 0.25, "de": 0.75},
                           seed=5).collect()}
    assert a == b
    n_en = sum(1 for i in a if i % 2 == 0)
    n_de = len(a) - n_en
    assert abs(n_en / 20_000 - 0.25) < 0.02
    assert abs(n_de / 20_000 - 0.75) < 0.02


def test_grouped_dissolve_covers_union_of_members(spark):
    """Dissolve semantics: expanding the compacted per-group covering
    back to leaf level reproduces exactly the UNION of the member
    coverings (shared cells counted once)."""
    from engine.geo.cells import compact_cells
    from engine.geo.layer import PolygonLayer
    base = PolygonLayer.from_json().build_df(spark, 8)
    rows = base.selectExpr("poly_id", "cell_p AS cell").collect()
    groups = {}
    for r in rows:
        g = f"G{int(r['poly_id'][1:]) % 3}"
        groups.setdefault(g, set()).add(r["cell"])
        groups.setdefault("GALL", set()).add(r["cell"])   # overlap group
    df = spark.createDataFrame(
        [(g, c) for g, cells in groups.items() for c in cells],
        "grp string, cell long")
    out = compact_cells(df, level=8, min_level=4,
                        group_cols=("grp",)).collect()
    got = {}
    for r in out:
        leaves = range(r["cell"] << (2 * (8 - r["level"])),
                       (r["cell"] + 1) << (2 * (8 - r["level"])))
        s = got.setdefault(r["grp"], set())
        for leaf in leaves:
            assert leaf not in s, "overlapping covering cells emitted"
            s.add(leaf)
    assert got == groups
