"""Scale mechanics: bucketed co-located joins, skew salting, partition
layout helpers.

These are the knobs a 100 TB deployment turns (SURVEY.md §4's manual
optimizations, generalized):

- **Bucketing** pre-shuffles a table once at write time; subsequent
  equi-joins/aggregations on the bucket key run with NO exchange —
  the reference approximates this by pinning parallelism to Kafka
  partition count (DimApp.java:33 comment).
- **Salting** splits a hot key across N sub-keys for the shuffle, then
  merges — the manual fallback where AQE skew-join splitting (enabled
  in session.py) isn't applicable (e.g. skewed aggregation).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def write_bucketed(
    df: DataFrame, table: str, bucket_cols: list[str], n_buckets: int = 16, sort_cols: list[str] | None = None
) -> None:
    """Persist a table bucketed (and optionally sorted) by join key.

    Joins between two tables bucketed the same way execute without a
    shuffle (SortMergeJoin over pre-bucketed scans).
    """
    writer = df.write.mode("overwrite").bucketBy(n_buckets, *bucket_cols)
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    writer.saveAsTable(table, format="parquet")


def compact_parquet_dir(
    spark, path: str, target_rows_per_file: int = 1_000_000
) -> tuple[int, int]:
    """Compact a small-file parquet directory in place.

    Streaming sinks and per-batch MERGE writes accumulate many small
    files; at lake scale that degrades scan planning (file listing,
    footer reads) and kills read throughput. This rewrites the
    directory into ``ceil(rows / target_rows_per_file)`` files via an
    atomic directory swap, preserving content exactly. Returns
    (files_before, files_after).

    On a real lakehouse this is Delta OPTIMIZE / Iceberg rewrite_data_files;
    the interface (path + target size) is the same.
    """
    import math
    import os

    from flink_realtime_data_warehouse_spark.streaming.table_format import (
        FORMAT,
    )

    def _count_files(p):
        return sum(
            1
            for root, _, files in os.walk(p)
            for f in files
            if f.endswith(".parquet")
        )

    df = FORMAT.read(spark, path)
    before = _count_files(path)
    n = df.count()
    n_files = max(1, math.ceil(n / target_rows_per_file))
    FORMAT.swap_rewrite(spark, path, df.repartition(n_files))
    return before, _count_files(path)


def salted_agg(
    df: DataFrame,
    key_cols: list[str],
    agg_exprs: dict[str, str],
    n_salts: int = 16,
) -> DataFrame:
    """Two-phase aggregation through a salt: partial agg on
    (key, salt), final agg on key.

    For algebraic aggregates (sum/count/min/max) this is semantically
    identical to a direct groupBy but splits a hot key's rows across
    n_salts reducers in phase one. avg must be decomposed by the
    caller into sum+count.
    """
    salted = df.withColumn("_salt", F.pmod(F.monotonically_increasing_id(), F.lit(n_salts)))
    phase1 = salted.groupBy(*key_cols, "_salt").agg(
        *[getattr(F, fn)(c).alias(f"_p_{c}_{fn}") for c, fn in agg_exprs.items()]
    )
    merge_fn = {"sum": "sum", "count": "sum", "min": "min", "max": "max"}
    phase2 = phase1.groupBy(*key_cols).agg(
        *[
            getattr(F, merge_fn[fn])(f"_p_{c}_{fn}").alias(f"{fn}_{c}")
            for c, fn in agg_exprs.items()
        ]
    )
    return phase2


def assign_stable_ids(
    df: DataFrame,
    order_col: str,
    n_buckets: int = 256,
    id_col: str = "stable_id",
    boundaries: str = "width",
) -> DataFrame:
    """Dense, deterministic 0..n-1 IDs in ``order_col`` order WITHOUT a
    single-partition global sort.

    The naive `row_number() OVER (ORDER BY k)` plans an Exchange
    SinglePartition — every row of a 100 TB table funnels through ONE
    reducer, which is the canonical Spark scale-killer. This does the
    textbook two-pass prefix-sum instead:

    1. one cheap aggregate → (min, max, n) of the key (3 scalars);
    2. equal-width range bucket over [min, max] — the bigint→double
       mapping is monotone non-decreasing (IEEE mul/div by positive
       constants round monotonically), so bucket order == key order,
       with a clamp at the top edge;
    3. per-bucket counts (one ≤ n_buckets-row shuffle) → driver-side
       cumulative offsets (n_buckets scalars, never the data);
    4. ``row_number`` WITHIN each bucket (Exchange hashpartitioning on
       the bucket id, n_buckets-way parallel) + the bucket's offset.

    ``order_col`` must be unique and non-null (ties would make the
    within-bucket row_number nondeterministic; callers filter/dedupe
    first). ``boundaries`` picks the bucketing:

    - ``"width"`` (default): equal-width over [min, max] — zero extra
      passes, exact numbering regardless of distribution, but a
      pathologically CLUSTERED key range piles rows into few buckets
      (skew only costs parallelism, never correctness);
    - ``"sample"``: equi-depth boundaries from a deterministic
      hash-sample — one extra bounded pass collects ~128 sampled keys
      per bucket (``pmod(xxhash64(key), rate) == 0``, so the sample is
      a pure function of the data, not of partitioning or RNG state),
      sorts them driver-side, and cuts every ⌈len/b⌉-th element; the
      per-row bucket lookup is a JVM-side count-of-boundaries-≤-key
      over a broadcast literal array (O(n_buckets) per row, no UDF).
      Use for clustered/skewed key ranges where width bucketing would
      serialize the window stage.

    Returns df + ``id_col`` (bigint).
    """
    from pyspark.sql.window import Window

    stats = df.select(
        F.min(order_col).alias("lo"),
        F.max(order_col).alias("hi"),
        F.count(F.lit(1)).alias("n"),
    ).collect()[0]
    if not stats["n"]:
        return df.withColumn(id_col, F.lit(None).cast("bigint"))
    lo, hi, n = int(stats["lo"]), int(stats["hi"]), int(stats["n"])
    span = hi - lo + 1
    b = max(1, min(n_buckets, span))
    cuts: list[int] = []
    if boundaries == "sample" and b > 1:
        rate = max(1, n // (b * 128))
        sampled = sorted(
            r[0]
            for r in df.filter(
                F.pmod(F.xxhash64(order_col), F.lit(rate)) == 0
            )
            .select(order_col)
            .collect()
        )
        step = max(1, len(sampled) // b)
        cuts = sorted({int(x) for x in sampled[step::step][: b - 1]})
    if cuts:
        b = len(cuts) + 1
        arr = ", ".join(f"{c}L" for c in cuts)
        bucket = F.expr(
            f"size(filter(array({arr}), x -> x <= {order_col}))"
        ).cast("int")
    else:
        bucket = F.least(
            F.floor(
                (F.col(order_col).cast("double") - F.lit(float(lo)))
                * F.lit(float(b))
                / F.lit(float(span))
            ),
            F.lit(b - 1),
        ).cast("int")
    bucketed = df.withColumn("_bkt", bucket)
    counts = {
        r["_bkt"]: r["cnt"]
        for r in bucketed.groupBy("_bkt").agg(F.count(F.lit(1)).alias("cnt")).collect()
    }
    offsets, acc = [], 0
    for k in range(b):
        offsets.append((k, acc))
        acc += counts.get(k, 0)
    off_df = df.sparkSession.createDataFrame(offsets, "_bkt int, _off long")
    w = Window.partitionBy("_bkt").orderBy(order_col)
    return (
        bucketed.join(F.broadcast(off_df), "_bkt")
        .withColumn(
            id_col,
            (F.col("_off") + F.row_number().over(w) - F.lit(1)).cast("bigint"),
        )
        .drop("_bkt", "_off")
    )


def salted_join(
    big: DataFrame,
    small: DataFrame,
    key: str,
    n_salts: int = 8,
) -> DataFrame:
    """Skewed equi-join: salt the big side, replicate the small side
    across all salt values, join on (key, salt).

    Use when one join key dominates the big side and the small side is
    too large to broadcast outright. Output schema = big ⋈ small on key.
    """
    big_s = big.withColumn("_salt", F.pmod(F.monotonically_increasing_id(), F.lit(n_salts)))
    salts = F.explode(F.array(*[F.lit(i) for i in range(n_salts)])).alias("_salt")
    small_s = small.select("*", salts)
    return big_s.join(small_s, on=[key, "_salt"]).drop("_salt")


# ---------------------------------------------------------------------------
# data-layout clustering (min/max file skipping)
# ---------------------------------------------------------------------------
#
# Parquet readers skip whole files/row-groups whose footer min/max
# excludes the predicate — but only if the WRITE laid correlated values
# together. These helpers are the engine's OPTIMIZE path (Delta
# ZORDER / Iceberg sort-order rewrite): linear range-clustering for
# one-dimensional access patterns, Morton (Z-order) interleaving when
# two dimensions must BOTH prune. Verified against the actual parquet
# footers in tests/test_layout.py, not just the plan.


def write_range_clustered(
    df: DataFrame, path: str, cluster_cols: list[str], n_files: int = 16
) -> None:
    """Linear clustering: range-partition + sort by ``cluster_cols``.

    Each output file covers a narrow, non-overlapping slice of the key
    space, so footer min/max prunes point/range predicates on the
    leading column to O(1) files.
    """
    (
        df.repartitionByRange(n_files, *cluster_cols)
        .sortWithinPartitions(*cluster_cols)
        .write.mode("overwrite")
        .parquet(path)
    )


def zorder_value(xbin: F.Column, ybin: F.Column, bits: int = 8) -> F.Column:
    """Morton code: interleave the low ``bits`` of two int bin columns.

    Pure shift/mask built-ins — one codegen expression, no Python in
    the write path.
    """
    z = F.lit(0)
    for i in range(bits):
        z = z.bitwiseOR(F.shiftleft(F.shiftright(xbin, i).bitwiseAND(F.lit(1)), 2 * i))
        z = z.bitwiseOR(
            F.shiftleft(F.shiftright(ybin, i).bitwiseAND(F.lit(1)), 2 * i + 1)
        )
    return z


def write_zordered(
    df: DataFrame,
    path: str,
    xcol: str,
    ycol: str,
    n_files: int = 16,
    bits: int = 8,
) -> None:
    """Two-dimensional clustering: range-partition + sort by Morton code.

    Both dimensions are min/max-normalized into ``2**bits`` linear bins
    (one O(1) stats aggregate to the driver — the same two-pass shape
    as Delta's OPTIMIZE ZORDER), interleaved into a z-value, and the
    data is laid out in z order. Every file then covers a small
    *rectangle* in (x, y) space: predicates on EITHER dimension prune,
    which no single-column sort can give.
    """
    stats = df.agg(
        F.min(xcol).alias("xmin"),
        F.max(xcol).alias("xmax"),
        F.min(ycol).alias("ymin"),
        F.max(ycol).alias("ymax"),
    ).first()
    if stats["xmin"] is None or stats["ymin"] is None:
        # empty input (or all-NULL dimension): nothing to cluster
        df.write.mode("overwrite").parquet(path)
        return
    nbins = 1 << bits

    def _bin(col: str, lo, hi) -> F.Column:
        span = float(hi) - float(lo)
        if span <= 0:
            return F.lit(0)
        frac = (F.col(col).cast("double") - float(lo)) / span
        return F.least(F.floor(frac * nbins).cast("int"), F.lit(nbins - 1))

    z = zorder_value(
        _bin(xcol, stats["xmin"], stats["xmax"]),
        _bin(ycol, stats["ymin"], stats["ymax"]),
        bits,
    )
    (
        df.withColumn("_z", z)
        .repartitionByRange(n_files, "_z")
        .sortWithinPartitions("_z")
        .drop("_z")
        .write.mode("overwrite")
        .parquet(path)
    )


def file_minmax(path: str, cols: list[str]) -> list[dict]:
    """Per-parquet-file footer (min, max) for ``cols`` — ground truth
    for what a reader's file-skipping would do on this layout."""
    import os

    import pyarrow.parquet as pq

    out = []
    for root, _, files in os.walk(path):
        for fname in sorted(files):
            if not fname.endswith(".parquet"):
                continue
            md = pq.ParquetFile(os.path.join(root, fname)).metadata
            entry: dict = {"file": fname}
            if md.num_row_groups == 0:
                out.append(entry)  # statless file: every predicate hits it
                continue
            for ci in range(md.num_columns):
                name = md.row_group(0).column(ci).path_in_schema
                if name not in cols:
                    continue
                mins, maxs = [], []
                for rg in range(md.num_row_groups):
                    st = md.row_group(rg).column(ci).statistics
                    if st is None or not st.has_min_max:
                        mins, maxs = [], []
                        break
                    mins.append(st.min)
                    maxs.append(st.max)
                entry[name] = (min(mins), max(maxs)) if mins else None
            out.append(entry)
    return out


def files_hit(stats: list[dict], col: str, lo, hi) -> int:
    """How many files a [lo, hi] predicate on ``col`` must read: files
    with no footer stats count as hits (a reader cannot skip them)."""
    n = 0
    for entry in stats:
        mm = entry.get(col)
        if mm is None or not (mm[1] < lo or mm[0] > hi):
            n += 1
    return n
