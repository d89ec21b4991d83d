"""Incremental continuous-aggregate maintenance — the streaming face of
the hypertable rollup cascade (plans/rollups.py).

Append-mode watermarked windows (streaming/windows.py) finalize each
window once and can never revise it — an event later than the watermark
is dropped (ST6). A serving-store rollup needs the opposite contract:
**unbounded lateness tolerance with bounded work**. This job maintains
a minute-grain partial-aggregate store the way time-series warehouses
maintain continuous aggregates:

- each micro-batch is reduced to minute partials (count/sum/max — the
  decomposable trio; at 100 TB the batch's raw rows never hit the
  store, only |touched minutes| partial rows do);
- partials land in the store under a ``(pday, pbatch)`` partition via
  DYNAMIC partition overwrite: a replayed batch (foreachBatch re-runs
  the last uncommitted batch after restart) overwrites exactly its own
  partitions — **idempotent by layout**, no transactional table format
  or read-modify-write needed (the container has no Delta/Iceberg; on
  one, this merge is a single ``MERGE INTO``);
- the read face re-aggregates partials per bucket (an LSM-style merge:
  sum of counts/sums, max of maxes). Late data is just another partial
  for an old bucket — cost is O(|batch buckets|), never a re-scan;
- ``compact_minute_rollup`` folds all batches below the newest into a
  single ``pbatch=-1`` segment per day, keeping read amplification
  bounded. The newest batch stays un-compacted so the one batch the
  checkpoint may replay still overwrites only its own partition.

The reference has no aggregation layer to cite (SURVEY.md: its DWS/ADS
apps are absent); this is the DWS serving-store shape its DWD topics
exist to feed.
"""

from __future__ import annotations

import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flink_realtime_data_warehouse_spark.streaming.table_format import (
    FORMAT,
)

MINUTE_MS = 60_000

#: store columns: minute bucket as epoch-ms (LONG — the store is
#: timezone-free by construction), partial n/sv/mx, partition cols
_STORE_COLS = ["bucket_ms", "n", "sv", "mx", "pday", "pbatch"]
_STORE_SCHEMA = (
    "bucket_ms bigint, n bigint, sv double, mx double, pday string, pbatch bigint"
)
_SERVING_SCHEMA = (
    "bucket_ms bigint, n_events bigint, total_value double, max_value double"
)


def make_rollup_merger(store_dir: str, time_col: str = "event_time", value_col: str = "value"):
    """foreachBatch function maintaining the minute partial store.

    Self-contained in what it writes: partition values are pure
    functions of (row time bucket, batch_id), so a batch replay
    produces byte-equivalent partitions and dynamic overwrite makes the
    merge idempotent.
    """

    def merge(batch: DataFrame, batch_id: int) -> None:
        bucket_ms = (
            (F.unix_millis(F.col(time_col)) / MINUTE_MS).cast("bigint") * MINUTE_MS
        )
        part = (
            batch.filter(F.col(time_col).isNotNull())
            .groupBy(bucket_ms.alias("bucket_ms"))
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(value_col).alias("sv"),
                F.max(value_col).alias("mx"),
            )
            # pday via pure DATE arithmetic on the UTC day index — NOT
            # date_format(timestamp, ...), which renders in the SESSION
            # timezone: partition values must be a pure function of the
            # row, or a checkpoint resumed under a different session tz
            # would land the replayed batch on a DIFFERENT (pday,
            # pbatch) partition and dynamic overwrite would duplicate
            # instead of replacing (r9 fix; also what makes day-grain
            # retention oracle-expressible).
            # MIGRATION (r9→r10, ADVICE): a store written BEFORE the
            # r9 fix under a non-UTC session tz holds tz-rendered pday
            # values; resuming its checkpoint after the upgrade would
            # replay a batch onto the new UTC pday while the old
            # partition stays on disk — double-counting that batch.
            # Both formats render as YYYY-MM-DD, so the mix is not
            # detectable from partition names: rebuild or compact such
            # a store (compact_minute_rollup folds every non-newest
            # batch, erasing the stale layout) BEFORE resuming its
            # checkpoint. Stores written under UTC sessions — and
            # everything this repo's tests/registry produce — need no
            # action.
            .withColumn(
                "pday",
                F.date_add(
                    F.lit("1970-01-01").cast("date"),
                    F.floor(F.col("bucket_ms") / F.lit(86_400_000)).cast("int"),
                ).cast("string"),
            )
            .withColumn("pbatch", F.lit(batch_id).cast("bigint"))
        )
        # r11 opt: fan the store write out by pday — inside foreachBatch
        # the write otherwise lands on ONE post-AQE task that serially
        # opens a parquet writer per touched day dir (measured 810 ms/
        # batch at sf0.1 for ~30 day dirs; ~4× faster fanned out). Keyed
        # by the partition column so each task writes whole day dirs,
        # sized from defaultParallelism (fanout.py — scales with the
        # configured core count, AQE-exempt).
        from flink_realtime_data_warehouse_spark.fanout import fanout

        FORMAT.overwrite_partitions(
            fanout(part, "pday"), store_dir, ["pday", "pbatch"]
        )

    return merge


def continuous_minute_rollup_job(
    events: DataFrame,
    store_dir: str,
    checkpoint_dir: str,
    time_col: str = "event_time",
    value_col: str = "value",
):
    """Start the incremental rollup maintenance query (availableNow —
    callers re-trigger per drop, the test/battery pattern used by every
    streaming job here)."""
    return (
        events.writeStream.foreachBatch(
            make_rollup_merger(store_dir, time_col, value_col)
        )
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def read_minute_rollup(spark: SparkSession, store_dir: str) -> DataFrame:
    """Serving face: merge the partials into final minute rows.

    The merge is the same decomposable re-aggregation the batch cascade
    uses (count→sum, sum→sum, max→max); with compaction keeping
    segments-per-day bounded, the scan is O(|minutes|), not O(|events|).
    """
    # explicit schema: a store no batch ever committed (cold start /
    # empty day), or whose only committed batches were empty, reads as
    # an empty store
    store = FORMAT.read(spark, store_dir, _STORE_SCHEMA)
    return store.groupBy("bucket_ms").agg(
        F.sum("n").cast("bigint").alias("n_events"),
        F.sum("sv").alias("total_value"),
        F.max("mx").alias("max_value"),
    )


def compact_minute_rollup(spark: SparkSession, store_dir: str) -> None:
    """Fold every segment below the newest batch into one ``pbatch=-1``
    segment per day (repeated compactions fold the previous ``-1`` in
    too). The newest batch is left alone: it is the only batch the
    checkpoint can replay, and replay must keep overwriting exactly the
    partition it wrote first time.

    The swap is the table-format seam's whole-store rewrite
    (``FORMAT.swap_rewrite`` — stage, rename-swap, repair-covered). On
    a transactional table format this whole function is REPLACE WHERE.
    """
    if not FORMAT.exists(store_dir):
        return
    store = FORMAT.read(spark, store_dir, _STORE_SCHEMA)
    row = store.agg(F.max("pbatch").alias("mb")).first()
    if row is None or row["mb"] is None:
        return
    max_batch = row["mb"]
    old = store.filter(F.col("pbatch") < max_batch)
    keep = store.filter(F.col("pbatch") == max_batch)
    consolidated = (
        old.groupBy("pday", "bucket_ms")
        .agg(
            F.sum("n").cast("bigint").alias("n"),
            F.sum("sv").alias("sv"),
            F.max("mx").alias("mx"),
        )
        .withColumn("pbatch", F.lit(-1).cast("bigint"))
    )
    FORMAT.swap_rewrite(
        spark,
        store_dir,
        consolidated.select(*_STORE_COLS).unionByName(keep.select(*_STORE_COLS)),
        ["pday", "pbatch"],
    )


def expire_rollup_chunks(
    spark: SparkSession,
    store_dir: str,
    older_than_ms: int | None = None,
    keep_days: int | None = None,
) -> list[str]:
    """Retention policy for the continuous-aggregate store — the
    ``drop_chunks`` of this hypertable: DROP whole ``pday`` partitions
    that lie ENTIRELY before the cutoff. A partition straddling the
    cutoff survives until wholly expired (exactly the chunk-grain
    contract time-series warehouses ship, and what keeps the operation
    scan-free).

    Because ``pday`` is pure UTC-day arithmetic over ``bucket_ms``
    (see ``make_rollup_merger``), expiry decides from the partition
    NAME alone — no data file is ever opened, surviving partitions are
    untouched bytes, and cost is one directory rename per expired day.
    Visibility flips atomically per partition: the dir is renamed to an
    ``_expired_*`` sibling (underscore prefix — invisible to Spark
    reads) and then deleted; a crash between the two leaves an
    invisible husk this function sweeps on its next run.

    Cutoff: ``older_than_ms`` (epoch-ms, exclusive) or ``keep_days``
    (the newest N day-partitions PRESENT survive — data-defined, no
    wall clock, so replays and oracles can state it). Returns the
    dropped pday values. Quiescence contract as for takedown: run with
    no in-flight micro-batch; a batch replayed afterwards regenerates
    its partitions from source — re-apply the policy once caught up.
    """
    import datetime

    if (older_than_ms is None) == (keep_days is None):
        raise ValueError("pass exactly one of older_than_ms / keep_days")
    if keep_days is not None and keep_days < 1:
        # keep_days=0 would read days[-0] == days[0] and silently keep
        # EVERYTHING — the opposite of "keep nothing" (ADVICE r9);
        # dropping every chunk is spelled older_than_ms explicitly
        raise ValueError("keep_days must be >= 1")
    if not FORMAT.exists(store_dir):
        return []
    # sweep husks from a prior crashed expiry
    FORMAT.sweep_husks(store_dir)
    days = FORMAT.list_partitions(store_dir, "pday")
    if not days:
        return []
    if keep_days is not None:
        cutoff = days[-keep_days] if keep_days <= len(days) else days[0]
    else:
        cutoff = str(
            datetime.date(1970, 1, 1)
            + datetime.timedelta(days=older_than_ms // 86_400_000)
        )
    # two phases: flip EVERY expired chunk invisible first (one rename
    # each — the policy is fully applied after O(chunks) metadata ops),
    # THEN pay the per-file unlink cost of the husks. Measured: the
    # delete phase grows with segment/file count (3.5 s over 23 chunks
    # x 120 pbatch segments) while the rename phase stays milliseconds
    # — interleaving them would serialize chunk N+1's visibility
    # behind chunk N's deletion. A crash between the phases leaves
    # only invisible husks (swept on the next run).
    dropped = []
    husks = []
    for day in days:
        if day >= cutoff:
            continue
        husks.append(FORMAT.drop_partition(store_dir, f"pday={day}"))
        dropped.append(day)
    for h in husks:
        if h is not None:  # a log-backed store has no physical husk
            shutil.rmtree(h, ignore_errors=True)
    return dropped


def read_minute_rollup_gapfilled(spark: SparkSession, store_dir: str) -> DataFrame:
    """Serving face with a dense minute spine: the continuous aggregate
    and the gapfill operator composed.

    Dashboards read time series, not sparse buckets — this applies the
    same spine + LOCF shape as ``plans/rollups.py::rollup_gapfill_locf``
    on top of the merged partials: a dense minute axis over the store's
    own [min, max] bucket, observed minutes carry their merged
    aggregates, silent minutes carry the last observation (flagged).
    The spine stays O(|span minutes|) and the store scan O(|partials|);
    epoch-ms arithmetic keeps it timezone-free like the store itself.
    """
    from pyspark.sql.window import Window

    merged = read_minute_rollup(spark, store_dir)
    # one O(1) bounds job doubles as the emptiness check; building the
    # spine from the collected literals leaves a single store scan in
    # the serving plan (vs. three with an isEmpty probe + a rng branch)
    bounds = merged.agg(
        F.min("bucket_ms").alias("b0"), F.max("bucket_ms").alias("b1")
    ).first()
    if bounds["b0"] is None:
        return spark.createDataFrame([], _SERVING_SCHEMA + ", filled int")
    spine = spark.range(
        bounds["b0"], bounds["b1"] + 1, MINUTE_MS
    ).select(F.col("id").alias("bucket_ms"))
    j = spine.join(merged, "bucket_ms", "left")
    w = Window.orderBy("bucket_ms").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    # carry the WHOLE observed row atomically (struct LOCF): per-column
    # last(ignorenulls) would let an observed minute with NULL
    # total/max silently inherit the previous minute's values while
    # reporting filled=0 — stale data dressed as an observation.
    # Single-series windows run on one task; per-entity stores would
    # partition this window by the entity key like rollup_gapfill_locf.
    observed = F.when(
        F.col("n_events").isNotNull(),
        F.struct("n_events", "total_value", "max_value"),
    )
    carried = F.last(observed, ignorenulls=True).over(w)
    return j.select(
        "bucket_ms",
        carried["n_events"].alias("n_events"),
        carried["total_value"].alias("total_value"),
        carried["max_value"].alias("max_value"),
        F.when(F.col("n_events").isNull(), F.lit(1)).otherwise(F.lit(0)).alias("filled"),
    )
