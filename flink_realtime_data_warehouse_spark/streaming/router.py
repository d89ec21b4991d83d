"""Config-driven dimension routing (reference DimApp, J1/T5/ST5/K3/K4).

The reference broadcasts a MySQL-CDC config stream into per-subtask
MapState and routes each changelog row to a Phoenix table
(reference DimApp.java:74-99, TableProcessFunction.java:17-141).

Spark shape (SURVEY.md §3.1): the config lives in a small table; every
micro-batch re-reads it (≡ broadcast refresh — ST5) and broadcast-joins
it against the batch (J1). Matched rows are projected to the config's
column whitelist (T5 — exact set match, fixing the reference's
substring bug at TableProcessFunction.java:133-140) and MERGEd into
their sink table (K3), creating it on first write (K4).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType
from pyspark.sql.window import Window

from flink_realtime_data_warehouse_spark.operators.parse import keep_changelog_types
from flink_realtime_data_warehouse_spark.schemas import (
    DIM_KEPT_TYPES,
    TABLE_PROCESS_SCHEMA,
)
from flink_realtime_data_warehouse_spark.streaming.sinks import DimStore, start_stream

#: Debezium change envelope for the config table (the shape
#: JsonDebeziumDeserializationSchema emits — reference DimApp.java:74-86,
#: FlinkCDCTest.java:14-25): {before, after, op, ts_ms}
DEBEZIUM_CONFIG_SCHEMA = StructType(
    [
        StructField("before", TABLE_PROCESS_SCHEMA),
        StructField("after", TABLE_PROCESS_SCHEMA),
        StructField("op", StringType()),
        StructField("ts_ms", LongType()),
    ]
)


def parse_debezium_config(raw: DataFrame) -> DataFrame:
    """Debezium-JSON value strings → typed config-changelog rows.

    The reference reads only ``after`` (TableProcessFunction.java:34-35)
    and therefore never un-registers a rule; here a delete envelope
    (op='d', ``after`` null) carries ``before`` so the fold below can
    drop the rule — true changelog semantics over the same wire format.
    Output: (op, ts_ms, row:TABLE_PROCESS_SCHEMA).
    """
    env = raw.select(
        F.from_json(F.col("value").cast("string"), DEBEZIUM_CONFIG_SCHEMA).alias("e")
    )
    return env.select(
        F.col("e.op").alias("op"),
        F.col("e.ts_ms").alias("ts_ms"),
        F.coalesce("e.after", "e.before").alias("row"),
    ).filter(F.col("row").isNotNull())


def fold_config_changelog(changelog: DataFrame) -> DataFrame:
    """Collapse a config changelog into the current rule set.

    Last envelope per source_table wins (ts_ms, then arrival order); a
    surviving delete removes the rule. Returns TABLE_PROCESS_SCHEMA
    rows — exactly what ``route_changelog_batch`` consumes, so replaying
    the reference's actual config topic feeds the router directly.
    """
    w = Window.partitionBy("row.source_table").orderBy(F.desc("ts_ms"), F.desc("_seq"))
    return (
        changelog.withColumn("_seq", F.monotonically_increasing_id())
        .withColumn("_rn", F.row_number().over(w))
        .filter((F.col("_rn") == 1) & (F.col("op") != "d"))
        .select("row.*")
    )


def route_changelog_batch(
    batch: DataFrame, config: DataFrame, store: DimStore
) -> dict[str, int]:
    """Route one micro-batch of parsed changelog rows into dim tables.

    Returns {sink_table: rows_upserted} for observability (the
    reference logs unmatched tables and drops them,
    TableProcessFunction.java:118-120 — inner join ≡ drop).
    """
    batch = keep_changelog_types(batch, DIM_KEPT_TYPES)
    routed = batch.join(
        F.broadcast(config), batch["table"] == config["source_table"], "inner"
    )

    # config is small (dimension routing rules): collect is the
    # distinct-sink-tables loop the reference runs in broadcast state
    rules = {
        r["source_table"]: (
            r["sink_table"],
            [c.strip() for c in (r["sink_columns"] or "").split(",") if c.strip()],
            r["sink_pk"] or "id",  # default PK (TableProcessFunction.java:52-54)
            r["sink_extend"],
        )
        for r in config.collect()
    }

    # materialize the joined batch ONCE: every per-table filter and
    # upsert below reads the cache, not the source (round 1 re-scanned
    # the micro-batch per config rule)
    routed = routed.persist()
    try:
        present = {
            r["source_table"]: r["n"]
            for r in routed.groupBy("source_table").agg(F.count("*").alias("n")).collect()
        }
        counts: dict[str, int] = {}
        for source_table, (sink_table, sink_columns, sink_pk, sink_extend) in rules.items():
            n = present.get(source_table, 0)
            if n == 0:
                continue
            part = routed.filter(F.col("source_table") == source_table)
            # T5 dynamic projection — exact set membership (fixes the
            # reference's substring-containment bug): data is a
            # map<string,string>, project the whitelisted keys as columns
            cols = [F.col("data").getItem(c).alias(c) for c in sink_columns]
            out = part.select(*cols)
            store.upsert(sink_table, out, pk=sink_pk, extend=sink_extend)
            counts[sink_table] = n
        return counts
    finally:
        routed.unpersist()


def start_dim_app(
    spark: SparkSession,
    changelog_stream: DataFrame,
    config_path: str,
    store: DimStore,
    checkpoint: str,
    available_now: bool = True,
    config_format: str = "parquet",
):
    """DimApp topology (reference DimApp.java:30-102), Spark-first.

    ``changelog_stream``: parsed streaming DataFrame of TOPIC_DB_SCHEMA.
    ``config_path``: the routing rules, re-read every batch so config
    changes apply at the next micro-batch exactly like the reference's
    broadcast state refresh (ST5). Two formats:

    - ``parquet``: a table of TABLE_PROCESS_SCHEMA rows (snapshot).
    - ``debezium``: a directory of Debezium-JSON envelope lines — the
      reference's actual MySQL-CDC config topic replayed as a file drop;
      parsed and folded to current state per batch.
    """

    def _process(batch: DataFrame, batch_id: int) -> None:
        if config_format == "debezium":
            config = fold_config_changelog(
                parse_debezium_config(spark.read.text(config_path))
            )
        else:
            config = spark.read.parquet(config_path)
        route_changelog_batch(batch, config, store)

    return start_stream(
        changelog_stream.writeStream.foreachBatch(_process)
        .option("checkpointLocation", checkpoint)
        .outputMode("update"),
        available_now,
    )
