"""The ``pbatch`` store layout: one partition per write, keyed by batch.

The lake ingest's stores (``digests``, ``clean``, ``dups``,
``near_dups``), the df-capped LSH index (``operators/dedup.py``) and
the streaming IVF delta tail all use it. A streaming write's value is
``{run_id}-{batch_id}`` (``streaming/jobs.py::_incarnation_id``), so a
redelivered batch overwrites its own first attempt: the idempotent,
batch-keyed sink of Structured Streaming. Every write and every fold
goes through ``FORMAT``, so both table-format backends see the same
stores.

A fold rewrites a store as its folded rows on the ``COMPACTED_PBATCH``
sentinel partition plus the in-flight batch's partition as it is:
if the job dies after the fold but before the checkpoint commits, the
replayed batch still excludes exactly its own prior rows.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flink_realtime_data_warehouse_spark.streaming.table_format import FORMAT

#: pbatch value of folded rows. Live values are ``{run_id}-{batch_id}``
#: with a hex run_id, so the sentinel never collides with a batch, and
#: the history reads' ``pbatch != <current>`` exclusion always keeps
#: folded rows (a fold that dropped the column made them read as NULL,
#: and ``NULL != x`` is NULL, so every folded row vanished).
COMPACTED_PBATCH = "__compacted__"


def split_in_flight(
    rows: DataFrame, exclude_pbatch: str | None
) -> tuple[DataFrame, DataFrame]:
    """``(keep, fold)``: the rows of the in-flight partition
    ``exclude_pbatch``, and every other row. The ``fold`` side is
    null-safe, so rows with a NULL ``pbatch`` count as history. With
    no in-flight batch everything folds."""
    if exclude_pbatch is None:
        return rows.limit(0), rows
    return (
        rows.filter(F.col("pbatch") == exclude_pbatch),
        rows.filter(~F.col("pbatch").eqNullSafe(exclude_pbatch)),
    )


def read_history(
    spark: SparkSession, path: str, schema: str, exclude_pbatch: str | None = None
) -> DataFrame:
    """Committed rows of the store at ``path`` minus the partition
    ``exclude_pbatch``. Under the explicit ``schema`` a store that does
    not exist yet reads empty, and so does one whose batches were all
    empty."""
    return split_in_flight(FORMAT.read(spark, path, schema), exclude_pbatch)[1]


def write_partition(df: DataFrame, path: str, pbatch: str) -> None:
    """Write ``df`` as the ``pbatch`` partition of the store at
    ``path``, replacing that partition only. The REBALANCE hint sizes
    the writer by bytes: the ingest's sink relations read persisted
    parents, whose partitioning AQE leaves alone."""
    FORMAT.overwrite_partitions(
        df.withColumn("pbatch", F.lit(pbatch)).hint("rebalance"), path, "pbatch"
    )


def fold_store(
    spark: SparkSession,
    path: str,
    schema: str,
    fold_rows: Callable[[DataFrame], DataFrame],
    exclude_pbatch: str | None = None,
) -> None:
    """Replace the store at ``path`` with ``fold_rows`` of every row
    outside ``exclude_pbatch`` on the ``COMPACTED_PBATCH`` partition,
    plus the ``exclude_pbatch`` partition unchanged, in one
    ``FORMAT.swap_rewrite``."""
    keep, fold = split_in_flight(FORMAT.read(spark, path, schema), exclude_pbatch)
    folded = fold_rows(fold).withColumn("pbatch", F.lit(COMPACTED_PBATCH))
    FORMAT.swap_rewrite(spark, path, folded.unionByName(keep), "pbatch")
