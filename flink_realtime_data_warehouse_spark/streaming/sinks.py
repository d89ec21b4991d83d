"""Sinks: keyed upsert store (reference K3/K4) and stream writers.

The reference upserts dimension rows one-by-one over Phoenix JDBC
(reference DimSinkFunction.java:23-32, PhoenixUtil.java:23-63) and
creates tables on the fly (TableProcessFunction.java:48-102). The
Spark-idiomatic replacement is a set-oriented MERGE per micro-batch
into a lake table.

Delta/Iceberg are not available in this environment, so ``DimStore``
implements MERGE semantics on plain parquet: union existing + batch,
keep the newest version per PK, atomic directory swap. The interface
(``upsert(table, df, pk)``) is exactly what a DeltaTable.merge
implementation would expose — swap the body for
``whenMatchedUpdateAll().whenNotMatchedInsertAll()`` in production.
At 100 TB the store would also be partitioned/bucketed by PK hash so
a MERGE only rewrites touched files.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from flink_realtime_data_warehouse_spark.streaming.table_format import (
    FORMAT,
)


def _parse_extend(extend: str | None) -> dict[str, str]:
    """Parse a ``sink_extend`` option string into table properties.

    The reference appends ``sink_extend`` verbatim to the CREATE TABLE
    DDL (TableProcessFunction.java:59-79) — e.g. ``SALT_BUCKETS = 4``
    for a pre-split Phoenix table. Here the same string becomes
    key=value layout properties for the lake table.
    """
    out: dict[str, str] = {}
    for part in (extend or "").split(","):
        if "=" in part:
            k, v = part.split("=", 1)
            out[k.strip().upper()] = v.strip()
    return out


def _load_meta(path: str) -> dict | None:
    """The ``_dim_meta.json`` layout of the dim table at ``path``, or
    None when the table does not exist yet. The sidecar commits with
    the table's first data, so a table without it is an error, never
    a table to rewrite in silence."""
    text = FORMAT.read_sidecar(path, "_dim_meta.json")
    if text is not None:
        return json.loads(text)
    if FORMAT.exists(path):
        raise RuntimeError(f"dim table {path} has no _dim_meta.json")
    return None


def _commit(
    spark: SparkSession, path: str, rows: DataFrame, touched: list | None, meta: dict
) -> None:
    """Commit the ``_pk_part``-partitioned ``rows`` of a dim table: a
    new table (``touched`` None) in one swap that carries ``meta`` as
    its ``_dim_meta.json``, an existing one by replacing only its
    ``touched`` hash partitions."""
    if touched is None:
        FORMAT.swap_rewrite(
            spark, path, rows, "_pk_part", sidecars={"_dim_meta.json": json.dumps(meta)}
        )
    else:
        FORMAT.swap_partitions(spark, path, rows, "_pk_part", touched)


class DimStore:
    """Keyed upsert table store rooted at a directory (one subdir per table).

    Layout: each table is hash-partitioned by PK into ``n_partitions``
    subdirectories (``_pk_part=N``), so a MERGE rewrites only the
    partitions its batch touches — the lake analogue of the reference's
    salted Phoenix table. Partition count is fixed at create time
    (from ``sink_extend``'s SALT_BUCKETS when present — the direct
    translation of reference K4's DDL extension — else the store
    default) and persisted in ``_dim_meta.json`` so later upserts and
    a changed config can't skew the layout.
    """

    def __init__(self, spark: SparkSession, root: str, n_partitions: int = 16):
        self.spark = spark
        self.root = root
        self.n_partitions = n_partitions
        os.makedirs(root, exist_ok=True)

    def _path(self, table: str) -> str:
        return os.path.join(self.root, table)

    def exists(self, table: str) -> bool:
        return FORMAT.exists(self._path(table))

    def read(self, table: str) -> DataFrame:
        # mergeSchema: partition-scoped rewrites leave files with the
        # schema of the batch that last touched them, so an evolving
        # config whitelist yields mixed footers — union them on read
        # (Delta/Iceberg track this in the table log instead)
        return (
            FORMAT.read(self.spark, self._path(table), merge_schema=True)
            .drop("_pk_part")
        )

    def upsert(
        self, table: str, batch: DataFrame, pk: str = "id", extend: str | None = None
    ) -> None:
        """MERGE INTO <table> USING <batch> ON pk — last writer wins.

        Reference K3 defaults the PK to "id" (TableProcessFunction.java:52-54).
        Within one batch, later rows win (the reference applies rows in
        arrival order); `_seq` encodes arrival order.

        Only partitions present in the batch are read back, merged, and
        swapped (per-partition atomic rename); files of untouched
        partitions are not rewritten — with a 10 TB dim table and a
        1k-row batch, only the ≤1k touched hash buckets move. A real
        deployment swaps this body for Delta/Iceberg
        ``MERGE WHEN MATCHED`` and keeps the same interface.
        """
        path = self._path(table)
        meta = _load_meta(path)
        create = meta is None
        if create:  # K4: create-table-if-not-exists
            props = _parse_extend(extend)
            n_parts = int(props.get("SALT_BUCKETS", self.n_partitions))
            meta = {"n_partitions": n_parts, "pk": pk, "properties": props}
        part_expr = F.pmod(
            F.xxhash64(F.col(pk)), F.lit(int(meta["n_partitions"]))
        ).cast("int")

        w = Window.partitionBy(pk).orderBy(F.desc("_seq"))
        merged = batch.withColumn("_seq", F.monotonically_increasing_id())
        touched = None
        if not create:
            touched = [
                r[0] for r in merged.select(part_expr.alias("p")).distinct().collect()
            ]
            current = (
                FORMAT.read(self.spark, path, merge_schema=True)
                .filter(F.col("_pk_part").isin(touched))  # partition-pruned scan
                .drop("_pk_part")
                .withColumn("_seq", F.lit(-1).cast("long"))
            )
            merged = current.unionByName(merged, allowMissingColumns=True)
        deduped = (
            merged.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn", "_seq")
            .withColumn("_pk_part", part_expr)
        )
        _commit(self.spark, path, deduped, touched, meta)

    def delete(self, table: str, keys: DataFrame) -> int:
        """Right-to-be-forgotten delete: remove rows whose PK appears in
        ``keys`` (a one-column DataFrame), rewriting ONLY the hash
        partitions those keys map to.

        Same partition economics as ``upsert``: with a 10 TB dim table
        and a 1k-key erasure request, ≤1k hash buckets are read back,
        anti-joined, and atomically swapped — untouched partition files
        stay byte-identical (pinned by test). Returns the number of
        rows deleted. A real deployment swaps the body for Delta/
        Iceberg ``DELETE WHERE`` and keeps the interface.
        """
        path = self._path(table)
        meta = _load_meta(path)
        if meta is None:
            return 0
        pk = meta.get("pk", "id")
        n_parts = int(meta["n_partitions"])
        key_col = keys.columns[0]
        # hash the key at the STORED pk dtype — upsert partitions by
        # xxhash64 of the native value, and xxhash64('3') != xxhash64(3L):
        # a string-cast here would target the wrong buckets for any
        # non-string PK and the erasure would silently delete nothing
        stored = FORMAT.read(self.spark, path, merge_schema=True)
        pk_type = dict(zip(stored.schema.names, [f.dataType for f in stored.schema.fields]))[pk]
        key_df = keys.select(F.col(key_col).cast(pk_type).alias(pk)).distinct()
        part_expr = F.pmod(F.xxhash64(F.col(pk)), F.lit(n_parts)).cast("int")
        touched = [
            r[0] for r in key_df.select(part_expr.alias("p")).distinct().collect()
        ]
        if not touched:
            return 0
        current = stored.filter(F.col("_pk_part").isin(touched))
        before = current.count()
        kept = current.join(F.broadcast(key_df), pk, "left_anti")
        after = kept.count()
        # a touched partition whose every row was deleted has no row in
        # ``kept``, so ``swap_partitions`` drops it
        FORMAT.swap_partitions(self.spark, path, kept, "_pk_part", touched)
        return before - after

    def tables(self) -> list[str]:
        return sorted(
            d for d in os.listdir(self.root)
            if os.path.isdir(os.path.join(self.root, d)) and "__" not in d
        )


def start_stream(writer, available_now: bool):
    """Start a configured ``DataStreamWriter``: drain what is available
    and stop (``available_now``), or run on the default processing-time
    trigger until stopped."""
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def write_stream_parquet(df: DataFrame, path: str, checkpoint: str, available_now: bool = True):
    """K1 analogue: append stream → parquet table (at-least-once per file,
    exactly-once per batch via the checkpoint's write-ahead log)."""
    return start_stream(
        df.writeStream.format("parquet")
        .option("path", path)
        .option("checkpointLocation", checkpoint)
        .outputMode("append"),
        available_now,
    )


def write_stream_kafka(df: DataFrame, topic: str, bootstrap: str, checkpoint: str):
    """K1/K2: Kafka producer sink (at-least-once; reference MyKafkaUtil.java:52-87).

    Untestable here (no broker in the container) — the exactly-once
    end-to-end story is: write to the lake table (idempotent per batch)
    and let downstream consume that, per SURVEY.md §7.3.
    """
    return (
        df.selectExpr("CAST(value AS STRING) AS value")
        .writeStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap)
        .option("topic", topic)
        .option("checkpointLocation", checkpoint)
        .start()
    )


def keyed_for_idempotent_produce(df: DataFrame, batch_id: int) -> DataFrame:
    """Stamp a deterministic per-record key for effectively-once Kafka egress.

    The reference's exactly-once producer (MyKafkaUtil.java:73-87,
    ``Semantic.EXACTLY_ONCE``) relies on Kafka transactions, which
    Spark's sink doesn't expose (it is at-least-once). The equivalent
    end-to-end guarantee on replays is idempotent-by-key production:
    key = (batch_id, md5(value)) — derived purely from CONTENT, so a
    replay reproduces identical keys no matter how the retry run is
    partitioned (a row_number over monotonically_increasing_id — the
    round-2 shape — depends on partition layout at retry time AND
    funnels the batch through one task; ADVICE r2). A compacted topic
    (or any keyed dedup in the consumer) then collapses duplicates
    from retries; rows with identical payloads in one batch coalesce,
    which is exactly the idempotent contract.
    """
    return df.withColumn(
        "key",
        F.concat_ws(":", F.lit(batch_id), F.md5(F.col("value").cast("string"))),
    )


def write_stream_kafka_idempotent(
    df: DataFrame, topic: str, bootstrap: str, checkpoint: str
):
    """K2 analogue: keyed, effectively-once Kafka egress via foreachBatch.

    Each micro-batch is produced with deterministic (batch_id, seq)
    keys and an idempotent producer, so a retried batch overwrites
    itself on a compacted topic instead of duplicating. Untestable in
    this container (no broker); the keying transform is unit-tested.
    """

    def _produce(batch: DataFrame, batch_id: int) -> None:
        (
            keyed_for_idempotent_produce(batch, batch_id)
            .selectExpr("CAST(key AS STRING) AS key", "CAST(value AS STRING) AS value")
            .write.format("kafka")
            .option("kafka.bootstrap.servers", bootstrap)
            .option("topic", topic)
            .option("kafka.enable.idempotence", "true")
            .option("kafka.acks", "all")
            .save()
        )

    return (
        df.writeStream.foreachBatch(_produce)
        .option("checkpointLocation", checkpoint)
        .start()
    )


class DimHistoryStore:
    """SCD type-2 dimension history — the audit-keeping sibling of
    ``DimStore``.

    Reference K3 keeps only the latest row per PK (Phoenix UPSERT,
    DimSinkFunction.java:23-32); a warehouse that must answer "what did
    this dimension row look like when the fact happened" needs the
    type-2 form instead: every change APPENDS a version row carrying
    ``[valid_from, valid_to)`` and the previous open version is closed,
    never rewritten in place. Layout and economics are DimStore's: PK
    hash partitions, only batch-touched partitions rewritten, atomic
    swap (on Delta/Iceberg this whole method is one ``MERGE`` with a
    matched-update + insert branch).

    Assumes the changelog arrives in order per key within and across
    batches (the reference makes the same assumption of its Kafka
    changelog: single partition per key, DimApp.java:46-49).
    """

    SCD2_COLS = ("valid_from", "valid_to", "is_current")

    def __init__(self, spark: SparkSession, root: str, n_partitions: int = 16):
        self.spark = spark
        self.root = root
        self.n_partitions = n_partitions
        os.makedirs(root, exist_ok=True)

    def _path(self, table: str) -> str:
        return os.path.join(self.root, table)

    def exists(self, table: str) -> bool:
        return FORMAT.exists(self._path(table))

    def read(self, table: str) -> DataFrame:
        return (
            FORMAT.read(self.spark, self._path(table), merge_schema=True)
            .drop("_pk_part")
        )

    def current(self, table: str) -> DataFrame:
        """The DimStore-equivalent view: one open row per PK."""
        return self.read(table).filter(F.col("is_current")).drop(
            "valid_to", "is_current"
        )

    def as_of(self, table: str, ts) -> DataFrame:
        """Time travel: the dimension as it stood at ``ts``
        (``valid_from <= ts < valid_to``; open rows have null valid_to)."""
        return (
            self.read(table)
            .filter(
                (F.col("valid_from") <= F.lit(ts))
                & (F.col("valid_to").isNull() | (F.col("valid_to") > F.lit(ts)))
            )
            .drop("valid_to", "is_current")
        )

    def apply(
        self, table: str, batch: DataFrame, pk: str = "id", ts_col: str = "ts"
    ) -> None:
        """Apply a micro-batch of new versions.

        Within the batch, consecutive versions of one PK chain their
        intervals (lead over (pk, ts)); the store's open row for each
        touched PK closes at the batch's FIRST version timestamp. Only
        touched hash partitions are read back and swapped.
        """
        path = self._path(table)
        meta = _load_meta(path)
        create = meta is None
        if create:
            meta = {"n_partitions": self.n_partitions, "pk": pk, "ts_col": ts_col}
        n_parts = int(meta["n_partitions"])
        part_expr = F.pmod(F.xxhash64(F.col(pk)), F.lit(n_parts)).cast("int")

        wv = Window.partitionBy(pk).orderBy(ts_col, "_seq")
        b = (
            batch.withColumn("_seq", F.monotonically_increasing_id())
            .withColumn("valid_from", F.col(ts_col))
            .withColumn("valid_to", F.lead("valid_from").over(wv))
            .drop("_seq")
        )
        touched = None
        if not create:
            first_ts = b.groupBy(pk).agg(F.min("valid_from").alias("_close_ts"))
            touched = [
                r[0] for r in b.select(part_expr.alias("p")).distinct().collect()
            ]
            cur = (
                FORMAT.read(self.spark, path, merge_schema=True)
                .filter(F.col("_pk_part").isin(touched))
                .drop("_pk_part", "is_current")
            )
            closed = cur.join(F.broadcast(first_ts), pk, "left").withColumn(
                "valid_to",
                F.when(
                    F.col("valid_to").isNull() & F.col("_close_ts").isNotNull(),
                    F.col("_close_ts"),
                ).otherwise(F.col("valid_to")),
            ).drop("_close_ts")
            merged = closed.unionByName(b, allowMissingColumns=True)
        else:
            merged = b
        out = merged.withColumn("is_current", F.col("valid_to").isNull()).withColumn(
            "_pk_part", part_expr
        )
        _commit(self.spark, path, out, touched, meta)
