"""Registered queries for the generic sequence-pattern (CEP) operator.

``cep_funnel_3step`` runs the batch form of ``match_sequence`` over the
events table — a 3-step strict-contiguity funnel (view → click →
purchase within 24 h) with timeout emission — and its DuckDB oracle is
a pure lead() formulation. With mutually exclusive step predicates and
strict contiguity the state machine is provably equivalent to the
consecutive-triple window form: any event matching step 0 always
(re)arms a fresh partial (a non-step-1 event either breaks an active
partial or times it out first), so emissions depend only on each
step-0 event and its next two successors:

- match:   types (A,B,C) at (i, i+1, i+2), both gaps ≤ W from ts_i
- timeout(1): A at i with no successor, or successor beyond W
- timeout(2): A,B in window at (i, i+1), then no third / third beyond W
- silent break: any other in-window continuation

``cep_funnel_streaming_parity`` replays the SAME semantics through the
real streaming kernel (applyInPandasWithState + availableNow) with a
per-key flush sentinel past the window horizon, under the same oracle —
the generalization of the st4 streaming-parity pattern.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from flink_realtime_data_warehouse_spark.plans.registry import query
from flink_realtime_data_warehouse_spark.sources.tables import load_table
from flink_realtime_data_warehouse_spark.streaming.cep import (
    match_sequence,
    match_sequence_batch,
)

#: funnel window: 24 h in µs (the synthetic events run ~1/user/hour)
FUNNEL_WINDOW_US = 24 * 3600 * 1_000_000

FUNNEL_STEPS = [
    "event_type = 'view'",
    "event_type = 'click'",
    "event_type = 'purchase'",
]

_EPOCH_NTZ = "TIMESTAMP_NTZ '1970-01-01 00:00:00'"

_FUNNEL_ORACLE = f"""
WITH e AS (
  SELECT user_id, event_type, epoch_us(ts) AS ts_us, event_id,
         lead(event_type, 1) OVER w AS t1, lead(epoch_us(ts), 1) OVER w AS ts1,
         lead(event_type, 2) OVER w AS t2, lead(epoch_us(ts), 2) OVER w AS ts2
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT user_id, kind, step_count, ts0_us, last_ts_us FROM (
  SELECT user_id, 'match' AS kind, 3::INT AS step_count,
         ts_us AS ts0_us, ts2 AS last_ts_us
  FROM e
  WHERE event_type = 'view' AND t1 = 'click' AND ts1 - ts_us <= {FUNNEL_WINDOW_US}
    AND t2 = 'purchase' AND ts2 - ts_us <= {FUNNEL_WINDOW_US}
  UNION ALL
  SELECT user_id, 'timeout', 1::INT, ts_us, ts_us
  FROM e
  WHERE event_type = 'view' AND (ts1 IS NULL OR ts1 - ts_us > {FUNNEL_WINDOW_US})
  UNION ALL
  SELECT user_id, 'timeout', 2::INT, ts_us, ts1
  FROM e
  WHERE event_type = 'view' AND t1 = 'click' AND ts1 - ts_us <= {FUNNEL_WINDOW_US}
    AND (ts2 IS NULL OR ts2 - ts_us > {FUNNEL_WINDOW_US})
)
ORDER BY user_id, ts0_us, kind
"""


def _funnel_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events → (user_id, event_type, ts_us, event_id); ts as NTZ epoch
    µs (session-timezone-proof, lossless)."""
    ev = load_table(spark, sf_dir, "events")
    return ev.select(
        "user_id",
        "event_type",
        F.timestamp_diff("MICROSECOND", F.expr(_EPOCH_NTZ), F.col("ts")).alias("ts_us"),
        "event_id",
    )


def _funnel_output(res: DataFrame) -> DataFrame:
    return res.select(
        F.col("key").cast("bigint").alias("user_id"),
        "kind",
        "step_count",
        F.col("ts0").alias("ts0_us"),
        F.col("last_ts").alias("last_ts_us"),
    ).orderBy("user_id", "ts0_us", "kind")


@query("cep_funnel_3step", oracle=_FUNNEL_ORACLE)
def cep_funnel_3step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-step strict funnel (view→click→purchase within 24 h) through
    the generic batch sequence matcher, timeouts included."""
    res = match_sequence_batch(
        _funnel_events(spark, sf_dir),
        steps=FUNNEL_STEPS,
        within=FUNNEL_WINDOW_US,
        key_col="user_id",
        ts_col="ts_us",
        order_col="event_id",
    )
    return _funnel_output(res)


_STREAM_SCHEMA = StructType(
    [
        StructField("user_id", LongType(), True),
        StructField("event_type", StringType(), True),
        StructField("ts_us", LongType(), True),
        StructField("event_id", LongType(), True),
        StructField("event_time", TimestampType(), True),
    ]
)


@query("cep_funnel_streaming_parity", oracle=_FUNNEL_ORACLE)
def cep_funnel_streaming_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same funnel through the REAL streaming kernel: one-file
    availableNow micro-batch plus a per-key flush sentinel one window
    past each key's horizon, so every trailing partial exits through
    the in-batch timeout path deterministically (sentinel type
    'flush' matches no step, so it adds no emissions of its own)."""
    # imported here so the registry keeps its module load order
    from flink_realtime_data_warehouse_spark.plans.streaming_parity import (
        _run_stream,
    )

    flat = _funnel_events(spark, sf_dir)
    flush = (
        flat.groupBy("user_id")
        .agg(F.max("ts_us").alias("mx"))
        .select(
            "user_id",
            F.lit("flush").alias("event_type"),
            (F.col("mx") + F.lit(FUNNEL_WINDOW_US + 1)).alias("ts_us"),
            F.lit(0).cast("long").alias("event_id"),
        )
    )
    src_df = flat.unionByName(flush).withColumn(
        "event_time", F.timestamp_micros(F.col("ts_us"))
    )
    out = _run_stream(
        spark,
        "cep_funnel_streaming_parity",
        src_df,
        _STREAM_SCHEMA,
        lambda s: match_sequence(
            s.withWatermark("event_time", "0 seconds"),
            steps=FUNNEL_STEPS,
            within=FUNNEL_WINDOW_US,
            key_col="user_id",
            ts_col="ts_us",
            order_col="event_id",
            ts_per_ms=1000,  # ts is epoch-µs; GroupState timeouts are ms
        ),
    )
    return _funnel_output(out)
