"""Retention / right-to-erasure for the history-dedup lake.

``start_history_dedup_ingest`` (streaming/jobs.py) accumulates four
doc-keyed stores — ``clean`` (payloads), ``dups`` (evidence),
``near_dups`` (gate evidence), ``lsh/bands`` (near-dup index rows) —
plus the content-keyed ``digests``. A takedown request (GDPR erasure,
DMCA, policy removal) must purge a document set from every store that
carries it, without corrupting the replay/compaction machinery those
stores share. The reference pipeline has no retention path at all
(its Phoenix/Kafka sinks append forever); this is a lake-native
requirement the moment the corpus feeds training.

Design (round 9: partition-pruned — erasure cost scales with the
purge, not the lake):

- Every store is ``pbatch``-partitioned (``cell``-partitioned for the
  IVF main store), so a purge first enumerates the partitions that
  actually carry hits (one column-pruned scan of ``(key, pbatch)`` —
  the only full-store read, and it reads two thin columns, never the
  payload) and rewrites ONLY those partitions. Cold partitions'
  files are never opened for write and stay byte-identical
  (test-pinned by mtime/size/inode in tests/test_takedown.py). At a
  100-TB lake a 1,000-doc erasure therefore rewrites at most the
  handful of batch partitions those docs landed in.
- The keep-rows of all affected partitions go to the table-format
  seam in one ``FORMAT.swap_partitions`` call, the same commit
  compaction and the DIM MERGE use; a partition whose every row is
  purged is dropped. How a partition swap stages, commits and
  recovers is the seam's business (``streaming/table_format.py``):
  it repairs a store before every operation on it, so a takedown
  killed mid-swap converges on the next touch.
- Partition values are escaped-alphanumeric by construction
  (``<run_id>-<batch_id>`` / ``__compacted__`` / integer cells); a
  value that is not filesystem-literal falls back to the legacy
  whole-store swap rather than guessing Spark's escaping.
- ``digests`` policy (``block_reingest``): by default the digest of
  purged CONTENT is kept — the payload is erased everywhere, but a
  re-crawl of the same bytes still classifies ``dup_history`` and
  never re-enters the lake (the posture most takedown obligations
  want). With ``block_reingest=False`` the digest is removed too —
  but ONLY when no surviving clean document carries the same content
  (purging one duplicate must not unblock content the lake still
  holds). The survivor check is the one deliberately full scan of
  ``clean`` payloads, and only on this opt-in policy fork.
- The purge set stays DISTRIBUTED end to end: a DataFrame input is
  materialized to a scratch parquet under the lake root (never
  collected to the driver — a lazy id set derived from a store this
  function is about to swap would otherwise be pulled out from under
  itself), and the same scratch holds the unblock-policy hash set.
- The purged ids append to ``{out_root}/_tombstones`` (parquet) before
  any store is touched: the operation is idempotent and re-runnable —
  a crash between stores leaves some purged and some not, and
  re-running (or running with the tombstone log after a batch replay
  resurrected rows from source) converges.
- Quiescence contract: run with no in-flight micro-batch. A batch
  replayed from the checkpoint AFTER a takedown regenerates its rows
  from source; re-apply the tombstone log once the stream is caught
  up (``reapply_tombstones``).
"""

from __future__ import annotations

import os
import re
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flink_realtime_data_warehouse_spark.streaming.table_format import (
    FORMAT,
)

#: explicit schemas for the doc-keyed evidence stores: dynamic-overwrite
#: writes of empty batches leave partition dirs with no data files, and
#: schema inference on those fails (same lesson as the gate reads)
_STORE_SCHEMAS = {
    "dups": "doc_id bigint, content_hash string, status string, pbatch string",
    "near_dups": "doc_id bigint, doc_hist bigint, pbatch string",
    "lsh/bands": "doc_id bigint, band int, key string, pbatch string",
}
_DIGEST_SCHEMA = "content_hash string, pbatch string"

#: partition values we can map to a directory name without reproducing
#: Spark's partition-path escaping; anything else (never produced by
#: this repo's ingest jobs) falls back to the whole-store swap
_SAFE_PART = re.compile(r"^[A-Za-z0-9._\-]+$")

#: purge-overlap width (guide §2.6). 1 = sequential; the r11 driver
#: capture flagged the pooled purges as a possible regression, so the
#: r12 A/B re-adjudicated it same-window (OPTIMIZATION_r12.md) — kept
#: pooled. A constant (not an env knob) so deployments retune it in
#: one place.
PURGE_POOL_WORKERS = 3


def _materialize_ids(
    spark: SparkSession, ids, col: str, scratch_root: str
) -> DataFrame:
    """Persist the purge set to a scratch parquet and read it back: the
    set stays distributed (no driver collect) yet survives the stores
    it was derived from being rename-swapped underneath it."""
    schema = f"{col} bigint"
    if isinstance(ids, DataFrame):
        df = ids.select(F.col(ids.columns[0]).cast("bigint").alias(col)).distinct()
    else:
        df = spark.createDataFrame([(int(i),) for i in ids], schema).distinct()
    path = os.path.join(scratch_root, f"ids_{uuid.uuid4().hex[:8]}")
    df.write.mode("overwrite").parquet(path)
    return spark.read.schema(schema).parquet(path)


def _pruned_purge(
    spark: SparkSession,
    store: str,
    df: DataFrame,
    hits: DataFrame,
    keep_fn,
    part_col: str = "pbatch",
) -> int:
    """Rewrite ONLY the ``part_col`` partitions of ``store`` that carry
    ``hits`` rows. Returns the number of purged rows.

    One aggregation enumerates ``{partition: hit_count}`` (bounded by
    the batch count, not the corpus — safe to collect); the keep-rows
    of just those partitions are staged in one job; each affected
    partition directory is then rename-swapped individually. A crash
    anywhere converges: the next seam operation on the store rolls a
    half-swapped partition back, and the tombstone log re-drives the
    purge.
    """
    part_counts = hits.groupBy(part_col).count().collect()
    n = int(sum(r["count"] for r in part_counts))
    if n == 0:
        return 0
    parts = [r[part_col] for r in part_counts]
    if not all(p is not None and _SAFE_PART.match(str(p)) for p in parts):
        FORMAT.swap_rewrite(spark, store, keep_fn(df), part_col)
        return n
    affected = df.where(F.col(part_col).isin(parts))
    FORMAT.swap_partitions(spark, store, keep_fn(affected), part_col, parts)
    return n


def takedown_documents(
    spark: SparkSession,
    out_root: str,
    doc_ids,
    block_reingest: bool = True,
    _log: bool = True,
) -> dict:
    """Purge ``doc_ids`` from every store of a history-dedup lake.

    ``doc_ids``: an iterable of ids or a single-column DataFrame. The
    id set is takedown-request-sized (thousands, not millions) and is
    broadcast against each store; returns ``{store: rows_removed}``.
    Only the pbatch partitions carrying purged rows are rewritten —
    erasure cost is proportional to the purge's batch footprint, not
    the lake. See the module docstring for crash/idempotency/digest
    semantics.
    """
    scratch = os.path.join(out_root, f"_takedown_scratch_{uuid.uuid4().hex[:8]}")
    os.makedirs(scratch, exist_ok=True)
    try:
        ids = _materialize_ids(spark, doc_ids, "doc_id", scratch)

        # 1) tombstone log FIRST — the re-run/resume anchor (skipped when
        #    the ids ARE the log, i.e. reapply_tombstones)
        if _log:
            FORMAT.append(ids, os.path.join(out_root, "_tombstones"))

        removed: dict[str, int] = {}
        #: thunks for the per-store purges — every store lives in its
        #: own directory and the purge set is already materialized to
        #: scratch, so the rewrites are independent jobs. Running them
        #: from a small thread pool overlaps their fixed per-job
        #: latency (guide §2.6): each purge is a hits-enumeration
        #: collect + one staging write + renames over TINY data, so
        #: sequentially the wall is sum-of-latencies while the cluster
        #: idles. Thread-safety: DataFrame actions are thread-safe, and
        #: each thunk's filesystem swaps touch only its own store dir.
        purge_thunks: list = []

        # 2) clean (payload) — also the source of purged-content hashes
        #    for the block_reingest=False digest pass, captured BEFORE
        #    any rewrite (staged to scratch, never collected)
        clean_path = os.path.join(out_root, "clean")
        purged_hashes = None
        if FORMAT.exists(clean_path) and FORMAT.has_data(clean_path):
            clean = FORMAT.read(spark, clean_path, merge_schema=True)
            if not block_reingest:
                # hashes safe to unblock = carried by a purged clean doc
                # AND by no surviving clean doc (one full payload scan —
                # the documented cost of the opt-in unblock policy).
                # A PII-scrubbed lake (redact_pii=True ingest) stores the
                # REDACTED payload, whose md5 can never match the digest
                # store's pre-redaction hashes — such lakes persist the
                # original content_hash beside the payload, and it takes
                # precedence per row (ADVICE r9; coalesce covers a lake
                # migrated mid-life, where old partitions lack the column)
                hash_expr = (
                    F.coalesce(F.col("content_hash"), F.md5("text"))
                    if "content_hash" in clean.columns
                    else F.md5("text")
                )
                hit = clean.join(F.broadcast(ids), "doc_id")
                survivors = clean.join(F.broadcast(ids), "doc_id", "left_anti")
                unblock = (
                    hit.select(hash_expr.alias("content_hash"))
                    .distinct()
                    .join(
                        survivors.select(
                            hash_expr.alias("content_hash")
                        ).distinct(),
                        "content_hash",
                        "left_anti",
                    )
                )
                hpath = os.path.join(scratch, "unblock_hashes")
                unblock.write.mode("overwrite").parquet(hpath)
                purged_hashes = spark.read.schema(
                    "content_hash string"
                ).parquet(hpath)
            # hit enumeration reads only (doc_id, pbatch) — column-pruned
            hits = clean.select("doc_id", "pbatch").join(F.broadcast(ids), "doc_id")
            purge_thunks.append((
                "clean",
                lambda _c=clean, _h=hits: _pruned_purge(
                    spark,
                    clean_path,
                    _c,
                    _h,
                    lambda part: part.join(F.broadcast(ids), "doc_id", "left_anti"),
                ),
            ))

        # 3) doc-keyed evidence stores
        for rel, schema in _STORE_SCHEMAS.items():
            path = os.path.join(out_root, rel)
            if not FORMAT.exists(path):
                continue
            df = FORMAT.read(spark, path, schema)
            if rel == "near_dups":
                # purge rows referencing the doc on EITHER side
                ids_hist = ids.withColumnRenamed("doc_id", "doc_hist")
                hits = (
                    df.join(F.broadcast(ids), "doc_id")
                    .unionByName(df.join(F.broadcast(ids_hist), "doc_hist"))
                    .dropDuplicates()
                )

                def _keep_nd(part, _ids=ids, _ids_hist=ids_hist):
                    return part.join(
                        F.broadcast(_ids), "doc_id", "left_anti"
                    ).join(F.broadcast(_ids_hist), "doc_hist", "left_anti")

                keep_fn = _keep_nd
            else:
                hits = df.join(F.broadcast(ids), "doc_id")

                def _keep(part, _ids=ids):
                    return part.join(F.broadcast(_ids), "doc_id", "left_anti")

                keep_fn = _keep
            purge_thunks.append((
                rel,
                lambda _p=path, _df=df, _h=hits, _k=keep_fn: _pruned_purge(
                    spark, _p, _df, _h, _k
                ),
            ))

        # 4) digests — policy pass (reads only the already-materialized
        #    scratch hash set, so it is independent of the other purges)
        digests_path = os.path.join(out_root, "digests")
        if (
            not block_reingest
            and purged_hashes is not None
            and FORMAT.exists(digests_path)
        ):
            dig = FORMAT.read(spark, digests_path, _DIGEST_SCHEMA)
            purge_thunks.append((
                "digests",
                lambda: _pruned_purge(
                    spark,
                    digests_path,
                    dig,
                    dig.join(F.broadcast(purged_hashes), "content_hash"),
                    lambda part: part.join(
                        F.broadcast(purged_hashes), "content_hash", "left_anti"
                    ),
                ),
            ))
        else:
            removed["digests"] = 0

        # run every store's purge concurrently: 3 in flight is enough
        # to hide the per-job latency without contending for executors
        # (guide §2.6). Exceptions propagate — a failed purge must fail
        # the takedown loudly (the tombstone log makes re-runs converge).
        from concurrent.futures import ThreadPoolExecutor

        if len(purge_thunks) <= 1 or PURGE_POOL_WORKERS <= 1:
            for name, thunk in purge_thunks:
                removed[name] = thunk()
        else:
            with ThreadPoolExecutor(max_workers=PURGE_POOL_WORKERS) as pool:
                futures = [
                    (name, pool.submit(thunk)) for name, thunk in purge_thunks
                ]
                for name, fut in futures:
                    removed[name] = fut.result()

        return removed
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


def reapply_tombstones(
    spark: SparkSession, out_root: str, block_reingest: bool = True
) -> dict:
    """Re-run the takedown for every id ever tombstoned — the recovery
    path after a crash mid-takedown or after a checkpoint replay
    resurrected purged rows from source. Idempotent."""
    path = os.path.join(out_root, "_tombstones")
    if not FORMAT.exists(path):
        return {}
    ids = FORMAT.read(spark, path, "doc_id bigint").distinct()
    return takedown_documents(
        spark, out_root, ids, block_reingest=block_reingest, _log=False
    )


def takedown_vectors(
    spark: SparkSession, index_root: str, vec_ids
) -> dict:
    """Purge vectors from a STREAMING IVF index
    (streaming/jobs.py::start_embedding_ingest): only the ``cell``
    partitions of the main store and the ``pbatch`` partitions of the
    ``_deltas`` tail that carry purged ids are rewritten, each behind
    the shared rename-swap (partitioning preserved, so batch replays
    and delta compaction compose unchanged). The quantizer artifacts
    are untouched — cell centroids are aggregates over many vectors,
    not recoverable payload, and keeping them preserves assignment
    determinism for future appends (the standard IVF posture; retrain
    offline if the purge is large enough to shift the distribution).
    Ids append to ``{index_root}/_tombstones`` first, so the operation
    is idempotent and resumable with ``reapply_vector_tombstones``."""
    scratch = os.path.join(index_root, f"_takedown_scratch_{uuid.uuid4().hex[:8]}")
    os.makedirs(scratch, exist_ok=True)
    try:
        ids = _materialize_ids(spark, vec_ids, "vec_id", scratch)
        FORMAT.append(ids, os.path.join(index_root, "_tombstones"))
        return _purge_vector_stores(spark, index_root, ids)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


def _purge_vector_stores(spark: SparkSession, index_root: str, ids: DataFrame) -> dict:
    from flink_realtime_data_warehouse_spark.operators.similarity import (
        _invalidate_index_df,
    )
    removed: dict[str, int] = {}
    cells = os.path.join(index_root, "cells")
    if FORMAT.exists(cells) and FORMAT.has_data(cells):
        main = FORMAT.read(spark, cells)
        n = _pruned_purge(
            spark,
            cells,
            main,
            main.select("vec_id", "cell").join(F.broadcast(ids), "vec_id"),
            lambda part: part.join(F.broadcast(ids), "vec_id", "left_anti"),
            part_col="cell",
        )
        removed["cells"] = n
        if n:
            _invalidate_index_df(spark, cells)
    deltas = os.path.join(index_root, "_deltas")
    if FORMAT.exists(deltas):
        d = FORMAT.read(
            spark, deltas, "cell int, vec_id bigint, v array<float>, pbatch string"
        )
        removed["_deltas"] = _pruned_purge(
            spark,
            deltas,
            d,
            d.select("vec_id", "pbatch").join(F.broadcast(ids), "vec_id"),
            lambda part: part.join(F.broadcast(ids), "vec_id", "left_anti"),
        )
    return removed


def reapply_vector_tombstones(spark: SparkSession, index_root: str) -> dict:
    """Re-run the vector purge for every tombstoned id (crash/replay
    recovery). Idempotent."""
    path = os.path.join(index_root, "_tombstones")
    if not FORMAT.exists(path):
        return {}
    ids = FORMAT.read(spark, path, "vec_id bigint").distinct()
    return _purge_vector_stores(spark, index_root, ids)
