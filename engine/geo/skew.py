"""D4/E6 — explicit hot-cell salting (SURVEY.md §2.D4, §2.E6).

BASELINE.json:6,14 — "explicit salting for hot-cell skew" / "partitioning
/ shuffle / skew handled explicitly".  AQE's skew-join split only divides
oversized *partitions*; a single hot *key* (one cell holding 10% of a
10^12-row table) still lands on one task without salting.

Scheme (no duplicate pairs by construction, SURVEY.md §7.4.4):
  probe row  -> ONE salt: pmod(xxhash64(id), S) if its key is hot else 0
  build row  -> replicated with salts 0..S-1 if its key is hot else [0]
  join on (key, salt)  — every hot probe row meets every build row for
  its key exactly once.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def heavy_hitters(df: DataFrame, key: str = "cell_p", top: int = 8,
                  min_rows: int | None = None,
                  sample_frac: float | None = None) -> list[int]:
    """E6 — the top-K hottest keys (driver gets K rows, nothing more).

    At very large scale pass `sample_frac` to estimate from a sample; the
    salting decision only needs the identity of the hot keys, not exact
    counts.
    """
    src = df.sample(fraction=sample_frac, seed=42) if sample_frac else df
    counts = src.groupBy(key).count().orderBy(F.desc("count"), F.asc(key)).limit(top)
    rows = counts.collect()
    if min_rows is not None:
        rows = [r for r in rows if r["count"] >= min_rows]
    return [r[key] for r in rows]


def salted_equijoin(probe: DataFrame, build: DataFrame, *, key: str,
                    hot_keys: list[int], salt: int = 8,
                    probe_id_col: str = "image_id") -> DataFrame:
    """Shuffle equi-join on `key` with hot keys spread over `salt`
    buckets.  Broadcast joins have no shuffle to balance and are never
    salted (engine/geo/join.py::candidates_join)."""
    if not hot_keys:
        return probe.join(build, key, "inner")
    hot = F.array(*[F.lit(int(h)) for h in hot_keys])
    p = probe.withColumn(
        "_salt",
        F.when(F.array_contains(hot, F.col(key)),
               F.pmod(F.xxhash64(F.col(probe_id_col)), F.lit(salt)))
        .otherwise(F.lit(0)).cast("int"),
    )
    b = build.withColumn(
        "_salt",
        F.explode(
            F.when(F.array_contains(hot, F.col(key)),
                   F.sequence(F.lit(0), F.lit(salt - 1)))
            .otherwise(F.array(F.lit(0)))
        ),
    ).withColumn("_salt", F.col("_salt").cast("int"))
    joined = p.join(b.hint("SHUFFLE_HASH"), [key, "_salt"], "inner")
    return joined.drop("_salt")
