"""Stream-vs-batch parity queries: the REAL streaming state machines
(applyInPandasWithState, availableNow trigger) run under the driver's
DuckDB oracle check.

The batch-window formulations in ``operators/visitors.py`` define the
semantics and already hash-match their oracles; these queries prove the
*streaming* execution path produces the identical answer on the same
input — reference topologies ST1/ST2/ST4 closed end-to-end
(BaseLogApp.java:64-96, DwdTrafficUniqueVisitorDetail.java:55-80,
DwdTrafficUserJumpDetail.java:88-136).

Mechanics: every row runs its fixture through one harness,
``_stream_fixture``. The row hands it ordered input slices; slice ``i``
lands as one parquet file with the ``i``-th modification time, and the
stream reads one file per trigger, so slice ``i`` is micro-batch ``i``
(an empty slice is an empty micro-batch). The row's ``start`` function
runs the real job to completion with an availableNow trigger, and the
row reads the job's output back as its result. Event time rides as NTZ
epoch MICROseconds (session-timezone-proof and lossless). One-slice
rows stream into a parquet append sink (``_run_stream``), so cross-
batch ordering cannot diverge from the batch oracle; the operators
themselves already handle multi-chunk groups. The scratch root is a
``_session_tmpdir`` keyed by the row name: the lazy result may read it
until the row's next-but-one call, and the rest are reaped at exit.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.types import StructType

from flink_realtime_data_warehouse_spark.plans.registry import query
from flink_realtime_data_warehouse_spark.sources.ingest import _session_tmpdir
from flink_realtime_data_warehouse_spark.streaming.table_format import (
    FORMAT,
)
from flink_realtime_data_warehouse_spark.sources.tables import load_table
from flink_realtime_data_warehouse_spark.streaming.state import (
    VISITOR_EVENT_SCHEMA,
    correct_is_new,
    daily_unique_visitors,
    detect_bounces,
)

#: same knobs as the batch forms (operators/visitors.py)
_BOUNCE_WINDOW_US = 3600 * 1_000_000
_ENTRY_EVENT_TYPE = "view"

_EPOCH_NTZ = "TIMESTAMP_NTZ '1970-01-01 00:00:00'"


def _stream_fixture(
    spark: SparkSession,
    row: str,
    slices: list[DataFrame],
    schema: str | StructType,
    start: Callable[[DataFrame, str, str], StreamingQuery],
) -> str:
    """Stream ``slices`` through ``start(stream, out, ckpt)`` to
    completion and return ``out``. Slice ``i`` is written as the single
    parquet file ``src/i.parquet`` and read back as micro-batch ``i``."""
    root = _session_tmpdir(row)
    src = os.path.join(root, "src")
    os.makedirs(src)
    for i, df in enumerate(slices):
        stage = os.path.join(root, f"slice_{i}")
        df.coalesce(1).write.parquet(stage)
        # coalesce(1) writes exactly one part file, a footer-only one
        # for an empty slice
        (part,) = [f for f in os.listdir(stage) if f.startswith("part-")]
        dst = os.path.join(src, f"{i}.parquet")
        os.replace(os.path.join(stage, part), dst)
        # the file source admits files in modification-time order
        mtime = 1_000_000_000.0 + 100 * i
        os.utime(dst, (mtime, mtime))
    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)
    )
    out = os.path.join(root, "out")
    start(stream, out, os.path.join(root, "ckpt")).awaitTermination()
    return out


def _run_stream(
    spark: SparkSession,
    row: str,
    flat: DataFrame,
    schema: str | StructType,
    op: Callable[[DataFrame], DataFrame],
) -> DataFrame:
    """Stream ``flat`` as one slice through ``op`` into a parquet append
    sink and read the sink back."""

    def start(stream: DataFrame, out: str, ckpt: str) -> StreamingQuery:
        return (
            op(stream)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )

    return spark.read.parquet(_stream_fixture(spark, row, [flat], schema, start))


#: the history-dedup ingest's ``clean`` store
_CLEAN_SCHEMA = "doc_id bigint, text string, pbatch string"


def _ingest_lake(spark: SparkSession, row: str, docs: DataFrame, **flags) -> str:
    """``docs`` through the REAL ``start_history_dedup_ingest(**flags)``:
    the history slice (doc_id % 5 != 4) as micro-batch 0, the incoming
    slice as micro-batch 1. Returns the lake root."""
    from flink_realtime_data_warehouse_spark.operators.dedup import (
        INCR_HISTORY_MOD,
    )
    from flink_realtime_data_warehouse_spark.streaming.jobs import (
        start_history_dedup_ingest,
    )

    is_inc = F.pmod("doc_id", F.lit(INCR_HISTORY_MOD)) == INCR_HISTORY_MOD - 1
    docs = docs.select("doc_id", "text")
    return _stream_fixture(
        spark,
        row,
        [docs.filter(~is_inc), docs.filter(is_inc)],
        "doc_id bigint, text string",
        lambda stream, out, ckpt: start_history_dedup_ingest(
            spark, stream, out, ckpt, **flags
        ),
    )


def _flat_events(spark: SparkSession, sf_dir: str, for_bounce: bool = False) -> DataFrame:
    """events → visitor-event shape with ts = NTZ epoch µs."""
    ev = load_table(spark, sf_dir, "events")
    ts_us = F.timestamp_diff("MICROSECOND", F.expr(_EPOCH_NTZ), F.col("ts"))
    last_page = (
        F.when(F.col("event_type") == _ENTRY_EVENT_TYPE, F.lit(None).cast("string"))
        .otherwise(F.lit("np"))
        if for_bounce
        else F.lit(None).cast("string")
    )
    return ev.select(
        F.col("user_id").cast("string").alias("mid"),
        F.lit("1").alias("is_new"),
        F.col("event_id").cast("string").alias("page_id"),
        last_page.alias("last_page_id"),
        ts_us.alias("ts"),
    )


_NTZ_DAY_US = 86_400_000_000


def _dt_from_ts_us(col: Column) -> Column:
    """NTZ epoch µs → DATE via pure integer math (no session tz)."""
    return F.date_add(
        F.lit("1970-01-01").cast("date"), F.floor(col / F.lit(_NTZ_DAY_US)).cast("int")
    )


@query(
    "st1_streaming_parity",
    oracle="""
    SELECT event_id, user_id,
           CASE WHEN CAST(ts AS DATE) = min(CAST(ts AS DATE)) OVER (PARTITION BY user_id)
                THEN 1 ELSE 0 END AS is_new
    FROM events
    ORDER BY event_id
    """,
)
def st1_streaming_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST1 via the actual applyInPandasWithState pipeline.

    Every event claims is_new=1; the state machine keeps the claim only
    on the device's first-seen date — which is exactly the batch
    oracle's min-date window semantics.
    """
    sink = _run_stream(
        spark,
        "st1_streaming_parity",
        _flat_events(spark, sf_dir),
        VISITOR_EVENT_SCHEMA,
        lambda s: correct_is_new(s, offset_ms=0, ts_per_ms=1000),
    )
    return sink.select(
        F.col("page_id").cast("bigint").alias("event_id"),
        F.col("mid").cast("bigint").alias("user_id"),
        F.col("is_new").cast("int").alias("is_new"),
    ).orderBy("event_id")


@query(
    "st2_streaming_parity",
    oracle="""
    SELECT event_id, user_id, CAST(ts AS DATE) AS dt
    FROM (
      SELECT event_id, user_id, ts,
             row_number() OVER (PARTITION BY user_id, CAST(ts AS DATE) ORDER BY ts, event_id) AS rn
      FROM events)
    WHERE rn = 1
    ORDER BY event_id
    """,
)
def st2_streaming_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST2 via the actual applyInPandasWithState pipeline: the state
    machine's first-emission-per-day equals the batch first-row-per-
    (user, day) window (no (user, ts) ties in the events table)."""
    sink = _run_stream(
        spark,
        "st2_streaming_parity",
        _flat_events(spark, sf_dir),
        VISITOR_EVENT_SCHEMA,
        lambda s: daily_unique_visitors(s, offset_ms=0, ts_per_ms=1000),
    )
    return sink.select(
        F.col("page_id").cast("bigint").alias("event_id"),
        F.col("mid").cast("bigint").alias("user_id"),
        _dt_from_ts_us(F.col("ts")).alias("dt"),
    ).orderBy("event_id")


@query(
    "win_streaming_tumbling_parity",
    oracle="""
    SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
           event_type,
           count(*) AS n_events,
           round(sum(value), 2) AS total_value
    FROM events
    GROUP BY 1, 2
    ORDER BY window_start, event_type
    """,
)
def win_streaming_tumbling_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The STREAMING tumbling rollup (watermarked append-mode windowed
    aggregation) must produce the batch window oracle's exact rows.

    A single flush sentinel two hours past the last event advances the
    final watermark so every real window finalizes and emits (append
    mode only emits a window once the watermark passes its end; the
    sentinel's own window never finalizes and is filtered out).

    Session-tz proofing: the watermark column must be TIMESTAMP (LTZ),
    so the NTZ wall-clock rides as epoch µs, becomes an instant via
    ``timestamp_micros`` (hour windows align to epoch hours → identical
    buckets to the oracle's NTZ time_bucket), and the emitted window
    start is rebuilt into NTZ with pure integer arithmetic.
    """
    ev = load_table(spark, sf_dir, "events").select(
        F.timestamp_diff("MICROSECOND", F.expr(_EPOCH_NTZ), F.col("ts")).alias("ts_us"),
        "event_type",
        "value",
    )
    sentinel = ev.agg(
        (F.max("ts_us") + F.lit(2 * 3600 * 1_000_000)).alias("ts_us"),
        F.lit("__flush").alias("event_type"),
        F.lit(0.0).alias("value"),
    )
    sink = _run_stream(
        spark,
        "win_streaming_tumbling_parity",
        ev.unionByName(sentinel),
        "ts_us bigint, event_type string, value double",
        lambda s: (
            s.withColumn("event_time", F.timestamp_micros(F.col("ts_us")))
            .withWatermark("event_time", "0 seconds")
            .groupBy(F.window("event_time", "1 hour").alias("w"), "event_type")
            .agg(
                F.count("*").alias("n_events"),
                F.round(F.sum("value"), 2).alias("total_value"),
            )
            .select(
                F.timestamp_add(
                    "MICROSECOND", F.unix_micros(F.col("w.start")), F.expr(_EPOCH_NTZ)
                ).alias("window_start"),
                "event_type",
                "n_events",
                "total_value",
            )
        ),
    )
    return (
        sink.filter(F.col("event_type") != "__flush")
        .orderBy("window_start", "event_type")
    )


@query(
    "st4_streaming_parity",
    oracle=f"""
    SELECT event_id, user_id, epoch_us(ts) AS ts_us
    FROM (
      SELECT event_id, user_id, ts, event_type,
             lead(ts)         OVER (PARTITION BY user_id ORDER BY ts, event_id) AS nxt_ts,
             lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS nxt_type
      FROM events)
    WHERE event_type = '{_ENTRY_EVENT_TYPE}'
      AND (nxt_ts IS NULL
           OR epoch_us(nxt_ts) - epoch_us(ts) > {_BOUNCE_WINDOW_US}
           OR nxt_type = '{_ENTRY_EVENT_TYPE}')
    ORDER BY event_id
    """,
)
def st4_streaming_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST4 via the actual applyInPandasWithState pipeline.

    A per-device flush sentinel (non-entry, one window past the
    device's last event) is appended to the input so every still-
    pending entry takes the in-batch timeout path before the stream
    ends — the batch lead() form counts a trailing entry as a bounce
    (nxt_ts IS NULL) the same way. Sentinels are non-entries and are
    never emitted themselves.
    """
    flat = _flat_events(spark, sf_dir, for_bounce=True)
    flush = (
        flat.groupBy("mid")
        .agg(F.max("ts").alias("mx"))
        .select(
            "mid",
            F.lit("1").alias("is_new"),
            F.lit("-1").alias("page_id"),
            F.lit("np").alias("last_page_id"),
            (F.col("mx") + F.lit(_BOUNCE_WINDOW_US + 1)).alias("ts"),
        )
    )
    sink = _run_stream(
        spark,
        "st4_streaming_parity",
        flat.unionByName(flush),
        VISITOR_EVENT_SCHEMA,
        lambda s: detect_bounces(
            s.withColumn("event_time", F.timestamp_micros(F.col("ts"))).withWatermark(
                "event_time", "0 seconds"
            ),
            window=_BOUNCE_WINDOW_US,
            ts_per_ms=1000,  # ts is epoch-µs; GroupState timeouts are ms
        ),
    )
    return sink.select(
        F.col("page_id").cast("bigint").alias("event_id"),
        F.col("mid").cast("bigint").alias("user_id"),
        F.col("ts").alias("ts_us"),
    ).orderBy("event_id")


def _minute_rollup_store(spark: SparkSession, row: str, sf_dir: str) -> str:
    """The events streamed as FOUR slices (``event_id % 4``), one per
    trigger, through the REAL ``continuous_minute_rollup_job``, so the
    store is assembled from four independent partial merges. Returns
    the store path.

    Session-tz proofing: event time rides as NTZ epoch µs, truncated to
    ms with integer arithmetic; ``timestamp_millis``/``unix_millis``
    round-trip the instant exactly under any session timezone, and the
    store keys on the epoch-ms LONG itself. Minute truncation composes
    over the µs→ms truncation, so buckets equal the oracle's
    ``epoch_us // 60e6`` exactly.
    """
    from flink_realtime_data_warehouse_spark.streaming.rollup import (
        continuous_minute_rollup_job,
    )

    ev = load_table(spark, sf_dir, "events")
    ts_us = F.timestamp_diff("MICROSECOND", F.expr(_EPOCH_NTZ), F.col("ts"))
    flat = ev.select(
        F.timestamp_millis((ts_us / F.lit(1000)).cast("bigint")).alias("event_time"),
        "value",
        "event_id",
    )
    slices = [
        flat.filter(F.pmod("event_id", F.lit(4)) == i).drop("event_id")
        for i in range(4)
    ]
    return _stream_fixture(
        spark,
        row,
        slices,
        "event_time timestamp, value double",
        continuous_minute_rollup_job,
    )


def _rollup_rows(spark: SparkSession, store: str) -> DataFrame:
    """Serving read of the rollup store, rounded like the oracle."""
    from flink_realtime_data_warehouse_spark.streaming.rollup import (
        read_minute_rollup,
    )

    return (
        read_minute_rollup(spark, store)
        .select(
            "bucket_ms",
            "n_events",
            F.round("total_value", 2).alias("total_value"),
            F.round("max_value", 2).alias("max_value"),
        )
        .orderBy("bucket_ms")
    )


@query(
    "rollup_streaming_parity",
    oracle="""
    SELECT (epoch_us(ts) // 60000000) * 60000 AS bucket_ms,
           count(*) AS n_events,
           round(sum(value), 2) AS total_value,
           round(max(value), 2) AS max_value
    FROM events GROUP BY 1 ORDER BY bucket_ms
    """,
)
def rollup_streaming_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The INCREMENTAL continuous-aggregate store (streaming/rollup.py)
    must serve exactly the batch minute aggregation: the store is built
    from four micro-batches (``_minute_rollup_store``), so the cross-
    batch additivity (count→sum, sum→sum, max→max) is what the oracle
    checks."""
    return _rollup_rows(
        spark, _minute_rollup_store(spark, "rollup_streaming_parity", sf_dir)
    )


@query(
    "rollup_retention_audit",
    oracle="""
    WITH b AS (
      SELECT (epoch_us(ts) // 60000000) * 60000 AS bucket_ms, value
      FROM events WHERE ts IS NOT NULL),
    cut AS (
      SELECT min(day) AS cutoff FROM (
        SELECT DISTINCT bucket_ms // 86400000 AS day FROM b
        ORDER BY day DESC LIMIT 7))
    SELECT bucket_ms,
           CAST(count(*) AS BIGINT) AS n_events,
           round(sum(value), 2) AS total_value,
           round(max(value), 2) AS max_value
    FROM b, cut
    WHERE bucket_ms // 86400000 >= cutoff
    GROUP BY bucket_ms ORDER BY bucket_ms
    """,
)
def rollup_retention_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retention policy over the REAL continuous-aggregate store: the
    events stream builds the minute-partial store
    (``_minute_rollup_store``), ``expire_rollup_chunks``
    drops every pday chunk outside the newest 7 PRESENT day-partitions
    (the data-defined ``keep_days`` form — no wall clock, so the
    oracle can state the cutoff), and the serving read must equal the
    batch aggregation restricted to those days. The cutoff is pure
    UTC-day integer arithmetic on ``bucket_ms`` — the tz-free pday
    derivation (see ``make_rollup_merger``) is what makes day-grain
    retention oracle-expressible at all. Expiry opens NO data file:
    chunks drop by directory rename from the partition name alone
    (the hypertable drop_chunks contract — 23 of 30 day-chunks drop
    at every SF, surviving bytes untouched)."""
    from flink_realtime_data_warehouse_spark.streaming.rollup import (
        expire_rollup_chunks,
    )

    store = _minute_rollup_store(spark, "rollup_retention_audit", sf_dir)
    expire_rollup_chunks(spark, store, keep_days=7)
    return _rollup_rows(spark, store)


@query(
    "win_session_streaming_parity",
    oracle="""
    WITH marked AS (
      SELECT user_id, ts, value,
             CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       >= INTERVAL '30 minutes' THEN 1
                  WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL THEN 1
                  ELSE 0 END AS new_session
      FROM events),
    islands AS (
      SELECT user_id, ts, value,
             sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
      FROM marked)
    SELECT user_id,
           min(ts) AS session_start,
           max(ts) + INTERVAL '30 minutes' AS session_end,
           count(*) AS n_events,
           round(sum(value), 2) AS total_value
    FROM islands
    GROUP BY user_id, session_id
    ORDER BY user_id, session_start
    """,
)
def win_session_streaming_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The STREAMING session-window aggregation (gap-merged, watermarked
    append mode) must emit the batch gaps-and-islands oracle's exact
    rows — the session sibling of ``win_streaming_tumbling_parity``.

    One global flush sentinel past max(ts) + gap advances the final
    watermark beyond every real session's end (session end = last event
    + gap, and the watermark is global, not per-key), so every session
    finalizes and emits; the sentinel's own session is filtered out.
    Same NTZ-via-epoch-µs transport as the tumbling parity query.
    """
    GAP_US = 30 * 60 * 1_000_000
    ev = load_table(spark, sf_dir, "events").select(
        F.timestamp_diff("MICROSECOND", F.expr(_EPOCH_NTZ), F.col("ts")).alias("ts_us"),
        F.col("user_id").cast("string").alias("uid"),
        "value",
    )
    sentinel = ev.agg(
        (F.max("ts_us") + F.lit(2 * GAP_US)).alias("ts_us"),
        F.lit("__flush").alias("uid"),
        F.lit(0.0).alias("value"),
    )
    sink = _run_stream(
        spark,
        "win_session_streaming_parity",
        ev.unionByName(sentinel),
        "ts_us bigint, uid string, value double",
        lambda s: (
            s.withColumn("event_time", F.timestamp_micros(F.col("ts_us")))
            .withWatermark("event_time", "0 seconds")
            .groupBy(F.session_window("event_time", "30 minutes").alias("w"), "uid")
            .agg(
                F.count("*").alias("n_events"),
                F.round(F.sum("value"), 2).alias("total_value"),
            )
            .select(
                F.timestamp_add(
                    "MICROSECOND", F.unix_micros(F.col("w.start")), F.expr(_EPOCH_NTZ)
                ).alias("session_start"),
                F.timestamp_add(
                    "MICROSECOND", F.unix_micros(F.col("w.end")), F.expr(_EPOCH_NTZ)
                ).alias("session_end"),
                "uid",
                "n_events",
                "total_value",
            )
        ),
    )
    return (
        sink.filter(F.col("uid") != "__flush")
        .select(
            F.col("uid").cast("bigint").alias("user_id"),
            "session_start",
            "session_end",
            "n_events",
            "total_value",
        )
        .orderBy("user_id", "session_start")
    )


@query(
    "export_streaming_parity",
    oracle="""
WITH r AS (
  SELECT user_id, event_type,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn,
         count(*) OVER (PARTITION BY user_id) AS n_events
  FROM events)
SELECT user_id, CAST(max(n_events) AS BIGINT) AS n_events,
       coalesce(string_agg(event_type, '>' ORDER BY rn), '') AS seq
FROM r WHERE rn <= 64 GROUP BY user_id ORDER BY user_id
""",
)
def export_streaming_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The STREAMING sequence accumulator (applyInPandasWithState,
    bounded per-user state) must reproduce the batch
    ``export_user_event_sequences`` answer — same capped ``a>b>c``
    prefix, same totals. Single-file availableNow run → one snapshot
    row per user; the cross-batch changelog form is pinned separately
    in tests/test_state_ops.py."""
    from flink_realtime_data_warehouse_spark.streaming.state import (
        SEQ_EVENT_SCHEMA,
        build_user_sequences,
    )

    ev = load_table(spark, sf_dir, "events")
    flat = ev.select(
        "user_id",
        "event_type",
        "event_id",
        F.timestamp_diff("MICROSECOND", F.expr(_EPOCH_NTZ), F.col("ts")).alias("ts"),
    )
    return _run_stream(
        spark,
        "export_streaming_parity",
        flat,
        SEQ_EVENT_SCHEMA,
        lambda s: build_user_sequences(s, cap=64),
    ).orderBy("user_id")


def _gate_parity_oracle() -> str:
    """Batch statement of the full streaming near-dup-gate composition
    (start_history_dedup_ingest(near_dup_gate=True) over history batch
    then incoming batch): digest-first election per batch, history
    digests blocking incoming exact dups, df-capped banding with the
    batch-time df asymmetry (history vs accumulated), probe join."""
    from flink_realtime_data_warehouse_spark.operators.dedup import (
        INCR_HISTORY_MOD,
        NGRAM_DF_CAP,
        _band_oracle_keys_from,
        _SIG_ORACLE_COLS,
    )

    shingle = (
        "SELECT DISTINCT doc_id, ('0x' || substr(md5(ws[i] || ' ' || ws[i+1]"
        " || ' ' || ws[i+2]), 1, 15))::BIGINT AS s\n"
        "  FROM {w}, UNNEST(CASE WHEN len(ws) >= 3 THEN range(1, len(ws) - 1)"
        " ELSE [] END) AS t(i)"
    )
    return f"""
WITH base AS (
  SELECT doc_id, text, md5(text) AS d,
         (doc_id % {INCR_HISTORY_MOD}) = {INCR_HISTORY_MOD - 1} AS incoming
  FROM documents),
hist_new AS (
  SELECT doc_id, text FROM (
    SELECT doc_id, text, row_number() OVER (PARTITION BY d ORDER BY doc_id) AS rn
    FROM base WHERE NOT incoming) WHERE rn = 1),
hdig AS (SELECT DISTINCT d FROM base WHERE NOT incoming AND d IS NOT NULL),
inc_new AS (
  SELECT doc_id, text FROM (
    SELECT b.doc_id, b.text,
           row_number() OVER (PARTITION BY b.d ORDER BY b.doc_id) AS rn,
           coalesce(b.d IN (SELECT d FROM hdig), FALSE) AS in_hist
    FROM base b WHERE b.incoming)
  WHERE NOT in_hist AND rn = 1),
wh AS (SELECT doc_id, string_split(text, ' ') AS ws FROM hist_new),
sh_h0 AS (
  {shingle.format(w='wh')}),
wi AS (SELECT doc_id, string_split(text, ' ') AS ws FROM inc_new),
sh_i0 AS (
  {shingle.format(w='wi')}),
freq_h AS (SELECT s, count(*) AS df FROM sh_h0 GROUP BY s),
freq_a AS (SELECT s, sum(df) AS df FROM (
    SELECT s, count(*) AS df FROM sh_h0 GROUP BY s
    UNION ALL
    SELECT s, count(*) AS df FROM sh_i0 GROUP BY s) GROUP BY s),
sh_h AS (SELECT sh_h0.doc_id, sh_h0.s FROM sh_h0 JOIN freq_h USING (s)
         WHERE freq_h.df <= {NGRAM_DF_CAP}),
sh_i AS (SELECT sh_i0.doc_id, sh_i0.s FROM sh_i0 JOIN freq_a USING (s)
         WHERE freq_a.df <= {NGRAM_DF_CAP}),
sig_h AS (SELECT doc_id, {_SIG_ORACLE_COLS} FROM sh_h GROUP BY doc_id),
sig_i AS (SELECT doc_id, {_SIG_ORACLE_COLS} FROM sh_i GROUP BY doc_id),
bands_h AS (
{_band_oracle_keys_from("sig_h")}
),
bands_i AS (
{_band_oracle_keys_from("sig_i")}
)
SELECT DISTINCT n.doc_id AS doc_new, h.doc_id AS doc_hist
FROM bands_i n JOIN bands_h h ON n.band = h.band AND n.key = h.key
ORDER BY doc_new, doc_hist
"""


@query("histdedup_gate_streaming_parity", oracle=_gate_parity_oracle())
def histdedup_gate_streaming_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FULL streaming ingest composition under the oracle: the
    history slice (doc_id % 5 != 4) arrives as micro-batch 0 and the
    incoming slice as micro-batch 1 through the REAL
    ``start_history_dedup_ingest(near_dup_gate=True)`` job — exact
    dedup routing, digest store, df store, capped band index, probe —
    and the ``near_dups`` sink is read back as the result.

    The oracle states every semantic the composition stacks up: per-
    batch digest-first election (dup_batch copies never reach the
    gate), history digests blocking incoming exact re-crawls, history
    bands capped against the df KNOWN AT THEIR INGEST TIME (batch 0's
    own delta), incoming bands capped against the accumulated df
    (store + batch 1's delta), candidates = full-band collisions.
    This is the streaming sibling of ``dedup_incremental_lsh_dfcap``
    — same banding, but driven through checkpoints, pbatch partitions,
    and the persisted stores instead of one logical plan.
    """
    out = _ingest_lake(
        spark,
        "histdedup_gate_streaming_parity",
        load_table(spark, sf_dir, "documents"),
        near_dup_gate=True,
    )
    return (
        FORMAT.read(
            spark,
            os.path.join(out, "near_dups"),
            "doc_id bigint, doc_hist bigint, pbatch string",
        )
        .select(F.col("doc_id").alias("doc_new"), "doc_hist")
        .distinct()
        .orderBy("doc_new", "doc_hist")
    )


# ---------------------------------------------------------------------------
# streaming vector ingest (round 8): the two-level IVF index maintained
# by start_embedding_ingest, probed while it grows
# ---------------------------------------------------------------------------


def _ann_stream_recall_oracle() -> str:
    from flink_realtime_data_warehouse_spark.operators.similarity import (
        _RECALL_CHECK_ORACLE,
    )

    return _RECALL_CHECK_ORACLE


#: recall floor for the stream-built index. Lower than the batch row's
#: 0.7 by design, NOT because the streaming machinery loses anything:
#: the quantizer here is trained on batch 0 alone (60% of the corpus —
#: the production backfill-then-stream posture) and the batch-twin
#: control (build on the same 60%, append the rest with
#: ``append_ann_ivf_vectors``) measures the IDENTICAL recall, so the
#: entire gap vs the fully-trained index (0.72-0.92 measured vs
#: 0.84-0.92 at sf0.001/0.01/0.1) is the standard subset-trained-IVF
#: trade. The floor carries ≥0.12 margin under the measured band.
ANN_STREAM_MIN_MEAN_RECALL = 0.6


@query("ann_ivf_streaming_ingest_checked", oracle=_ann_stream_recall_oracle())
def ann_ivf_streaming_ingest_checked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall verdict for the STREAM-BUILT two-level IVF index: the
    clean embedding corpus arrives as three micro-batches through
    ``start_embedding_ingest`` (batch 0 — 60% of the corpus, the
    backfill — cold-builds the hierarchical quantizer, batches 1-2
    land as pbatch-partitioned deltas, ``compact_every=3`` folds
    batch 1 into the cell partitions at the batch-2 boundary — so the
    probe exercises main cells AND the un-folded delta tail in one
    query), then the standard query block probes the composite index
    and the mean recall against in-plan brute force must clear
    ``ANN_STREAM_MIN_MEAN_RECALL`` (see that constant for why the
    floor differs from the batch row's — measured, it is exactly the
    subset-trained-quantizer cost, not the streaming machinery).
    """
    from flink_realtime_data_warehouse_spark.operators.similarity import (
        _SCORED_SCHEMA,
        _load_emb,
        _query_block,
        _recall_verdict,
        ann_cosine_topk,
        ann_ivf_probe,
    )
    from flink_realtime_data_warehouse_spark.streaming.jobs import (
        start_embedding_ingest,
    )

    emb = _load_emb(spark, sf_dir)
    exact = ann_cosine_topk(spark, sf_dir)
    # a parquet slice carries the stream's types: the ingest reads floats
    vecs = emb.select("vec_id", F.col("v").cast("array<float>"))
    m5 = F.pmod("vec_id", F.lit(5))
    index_root = _stream_fixture(
        spark,
        "ann_ivf_streaming_ingest_checked",
        [vecs.filter(m5 < 3), vecs.filter(m5 == 3), vecs.filter(m5 == 4)],
        "vec_id bigint, v array<float>",
        lambda stream, out, ckpt: start_embedding_ingest(
            spark, stream, out, ckpt, compact_every=3
        ),
    )

    if os.path.exists(os.path.join(index_root, "_built_pbatch")):
        qp = _query_block(spark, emb, sf_dir)
        approx = (
            ann_ivf_probe(spark, index_root, qp)
            if len(qp)
            else spark.createDataFrame([], _SCORED_SCHEMA + ", rank int")
        )
    else:  # zero-row corpus: the index was never built
        approx = spark.createDataFrame([], _SCORED_SCHEMA + ", rank int")
    return _recall_verdict(exact, approx, ANN_STREAM_MIN_MEAN_RECALL)


# ---------------------------------------------------------------------------
# retention (round 8): takedown purges composed over the whole lake
# ---------------------------------------------------------------------------

_TAKEDOWN_ORACLE = """
WITH base AS (
  SELECT doc_id, md5(text) AS d, (doc_id % 5) = 4 AS inc
  FROM documents),
elect AS (
  SELECT doc_id,
         row_number() OVER (
           PARTITION BY d, CASE WHEN d IS NULL THEN CAST(inc AS INT) ELSE 0 END
           ORDER BY inc, doc_id) AS rn
  FROM base)
SELECT doc_id FROM elect WHERE rn = 1 AND doc_id % 17 <> 3
ORDER BY doc_id
"""


@query("lake_takedown_audit", oracle=_TAKEDOWN_ORACLE)
def lake_takedown_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-to-erasure over the REAL lake: ingest the corpus through
    ``start_history_dedup_ingest(near_dup_gate=True)`` (history slice
    then incoming slice — the same two micro-batches as the gate
    parity row), run ``takedown_documents`` for every ``doc_id % 17
    == 3``, and read the clean store back. The oracle states the whole
    composition: per-batch digest-first election (history first, then
    lowest doc_id; null-text docs elect per batch because a NULL hash
    never matches the digest store), MINUS the purged set. The purge
    set deliberately crosses every store: purged canonicals, purged
    duplicates (their evidence rows go, the canonical's digest stays),
    and purged gate candidates — so the row is green only if all five
    store rewrites compose without corrupting the election history.
    Digest policy is the default ``block_reingest=True`` (payload
    erased, content blocked), the posture takedown obligations want;
    the policy fork is test-pinned in tests/test_takedown.py.
    """
    from flink_realtime_data_warehouse_spark.streaming.retention import (
        takedown_documents,
    )

    docs = load_table(spark, sf_dir, "documents")
    out = _ingest_lake(spark, "lake_takedown_audit", docs, near_dup_gate=True)
    takedown_documents(
        spark, out, docs.filter(F.pmod("doc_id", F.lit(17)) == 3).select("doc_id")
    )
    return (
        FORMAT.read(spark, os.path.join(out, "clean"), _CLEAN_SCHEMA)
        .select("doc_id")
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# PII-scrubbed ingest (round 9): the redact_pii flag composed with the
# digest election — payload scrubbed, classification on original bytes
# ---------------------------------------------------------------------------


def _pii_scrub_oracle() -> str:
    from flink_realtime_data_warehouse_spark.operators.pii import (
        _PLANT_SQL,
        redact_sql,
    )

    return f"""
WITH planted AS ({_PLANT_SQL}),
base AS (
  SELECT doc_id, text, md5(text) AS d, (doc_id % 5) = 4 AS inc
  FROM planted),
elect AS (
  SELECT doc_id, text,
         row_number() OVER (
           PARTITION BY d, CASE WHEN d IS NULL THEN CAST(inc AS INT) ELSE 0 END
           ORDER BY inc, doc_id) AS rn
  FROM base)
SELECT doc_id, {redact_sql('text')} AS text
FROM elect WHERE rn = 1
ORDER BY doc_id
"""


@query("lake_pii_scrubbed_ingest", oracle=_pii_scrub_oracle())
def lake_pii_scrubbed_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PII-scrubbed lake: the planted-PII corpus (operators/pii.py
    fixture — email/IPv4/phone spans on deterministic doc_id classes)
    arrives as the usual two micro-batches (history slice then
    incoming) through ``start_history_dedup_ingest(redact_pii=True)``,
    and the clean store is read back. The oracle states the COMPOSED
    semantics: the per-batch digest-first election runs on the
    ORIGINAL planted bytes (md5 BEFORE redaction — so duplicates of
    raw content are blocked even though the lake never stores raw
    content), and the elected payload lands redacted. NULL-text docs
    elect per batch (NULL digest) and stay NULL through the scrub.
    Scale shape: the scrub adds three map-only ``regexp_replace``
    expressions to the clean sink's project — zero new shuffles,
    zero new scans."""
    from flink_realtime_data_warehouse_spark.operators.pii import _planted

    out = _ingest_lake(
        spark,
        "lake_pii_scrubbed_ingest",
        _planted(load_table(spark, sf_dir, "documents")),
        redact_pii=True,
    )
    return (
        FORMAT.read(spark, os.path.join(out, "clean"), _CLEAN_SCHEMA)
        .select("doc_id", "text")
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Bloom-prefiltered history dedup (round 8, late): the exact ingest
# statuses driven through the partitioned-filter fast path
# ---------------------------------------------------------------------------

_BLOOM_PARITY_ORACLE = """
WITH d AS (
  SELECT doc_id, md5(text) AS ch, (doc_id % 5) = 4 AS inc FROM documents),
b0 AS (
  SELECT doc_id,
         CASE WHEN doc_id > min(doc_id) OVER (PARTITION BY ch)
              THEN 'dup_batch' ELSE 'new' END AS status
  FROM d WHERE NOT inc),
hist AS (SELECT DISTINCT ch FROM d WHERE NOT inc AND ch IS NOT NULL),
b1 AS (
  SELECT d.doc_id,
         CASE WHEN h.ch IS NOT NULL THEN 'dup_history'
              WHEN d.doc_id > min(d.doc_id) OVER (PARTITION BY d.ch)
              THEN 'dup_batch' ELSE 'new' END AS status
  FROM d LEFT JOIN hist h ON d.ch = h.ch WHERE d.inc)
SELECT doc_id, status FROM b0
UNION ALL SELECT doc_id, status FROM b1
ORDER BY doc_id
"""


@query("histdedup_bloom_streaming_parity", oracle=_BLOOM_PARITY_ORACLE)
def histdedup_bloom_streaming_parity(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The exact-dedup ingest statuses through the REAL
    ``start_history_dedup_ingest(bloom_prefilter=True)`` job: history
    slice (doc_id % 5 != 4) as micro-batch 0, incoming slice as
    micro-batch 1, every document's routed verdict read back from the
    clean/dups sinks. The oracle states plain per-batch digest
    semantics — batch-internal first-copy election (NULL digests form
    one group per batch), history digests blocking incoming re-crawls
    — and the row is green only if the Bloom access path (probe →
    maybe/clear split → filter OR-update or headroom rebuild →
    superset-ordered writes) changes NOTHING about the verdicts. The
    batch-0 cold build, the batch-1 probe, and at least one filter
    update all execute inside this row; the all-new skip, crash
    windows, and overflow rebuild are pinned in
    tests/test_bloom_stream.py.
    """
    out = _ingest_lake(
        spark,
        "histdedup_bloom_streaming_parity",
        load_table(spark, sf_dir, "documents"),
        bloom_prefilter=True,
    )
    clean = FORMAT.read(spark, os.path.join(out, "clean"), _CLEAN_SCHEMA).select(
        "doc_id", F.lit("new").alias("status")
    )
    dups = FORMAT.read(
        spark,
        os.path.join(out, "dups"),
        "doc_id bigint, content_hash string, status string, pbatch string",
    ).select("doc_id", "status")
    return clean.unionByName(dups).orderBy("doc_id")
