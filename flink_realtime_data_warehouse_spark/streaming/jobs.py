"""End-to-end streaming topologies — the reference's four entry points
re-expressed on Structured Streaming (SURVEY.md §3).

Every job reads a value-string stream (Kafka or file drop), parses
with the typed schema, and writes lake tables (parquet here; Delta in
production). Kafka sinks are optional add-ons — the lake table is the
system of record (exactly-once per batch).
"""

from __future__ import annotations

import functools
import json
import os
from dataclasses import dataclass, field

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from flink_realtime_data_warehouse_spark.operators.parse import parse_with_dirty
from flink_realtime_data_warehouse_spark.operators.split import split_log
from flink_realtime_data_warehouse_spark.schemas import BEHAVIOR_LOG_SCHEMA, TOPIC_DB_SCHEMA
from flink_realtime_data_warehouse_spark.streaming import pbatch as pb
from flink_realtime_data_warehouse_spark.streaming.state import (
    correct_is_new,
    daily_unique_visitors,
    detect_bounces,
)
from flink_realtime_data_warehouse_spark.streaming.table_format import (
    FORMAT,
    atomic_write_text,
)


def _start(writer, available_now: bool):
    """Start a configured ``DataStreamWriter``: drain what is available
    and stop (``available_now``), or run on the default processing-time
    trigger until stopped."""
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def base_log_job(
    spark: SparkSession,
    raw_stream: DataFrame,
    out_root: str,
    checkpoint_root: str,
    available_now: bool = True,
):
    """BaseLogApp (reference BaseLogApp.java:22-187): parse with dirty
    side-channel → ST1 is_new correction → five-way split → five tables.

    The split runs over the ST1-*corrected* stream (reference order:
    fixNewFlag at :64-96 precedes the OutputTag split at :98-162), so
    page/start/display/action/err records carry the corrected is_new.
    The full record rides through the state op as a serialized payload
    column — exactly the reference's keyed process function carrying the
    whole JSONObject — then is re-typed and split inside one
    foreachBatch (one source pass; the five outputs are filters over a
    single cached batch).

    Each split write is idempotent per micro-batch: outputs are
    partitioned by ``_batch_id`` and dynamically overwrite only that
    partition, so a retried batch replaces its own files instead of
    appending duplicates.
    """
    clean, dirty = parse_with_dirty(raw_stream, BEHAVIOR_LOG_SCHEMA)

    payload_schema = StructType(
        [f for f in BEHAVIOR_LOG_SCHEMA.fields if f.name != "ts"]
    )
    flat = clean.select(
        F.col("common.mid").alias("mid"),
        F.col("common.is_new").alias("is_new"),
        F.col("page.page_id").alias("page_id"),
        F.col("page.last_page_id").alias("last_page_id"),
        F.col("ts"),
        F.to_json(F.struct("common", "page", "start", "err", "display", "actions")).alias(
            "payload_json"
        ),
    )
    corrected = correct_is_new(flat)

    def _write_splits(batch: DataFrame, batch_id: int) -> None:
        # materialize the corrected batch once: every write below reads
        # the cache instead of re-running the stateful plan
        batch.persist()
        if batch.isEmpty():
            batch.unpersist()
            return
        # corrected flat log (same idempotent per-batch overwrite)
        FORMAT.overwrite_partitions(
            batch.drop("payload_json").withColumn("_batch_id", F.lit(batch_id)),
            os.path.join(out_root, "dwd_traffic_corrected_log"),
            "_batch_id",
        )
        restored = batch.withColumn(
            "payload", F.from_json("payload_json", payload_schema)
        ).select(
            # stamp the corrected flag back into the typed record
            F.col("payload.common").withField("is_new", F.col("is_new")).alias("common"),
            F.col("payload.page").alias("page"),
            F.col("payload.start").alias("start"),
            F.col("payload.err").alias("err"),
            F.col("payload.display").alias("display"),
            F.col("payload.actions").alias("actions"),
            F.col("ts"),
        )
        restored.persist()
        try:
            streams = split_log(restored)
            for name, df in streams.items():
                if df.isEmpty():
                    # an empty dynamic-overwrite write would leave a
                    # schemaless directory; nothing to replace either way
                    continue
                FORMAT.overwrite_partitions(
                    df.withColumn("_batch_id", F.lit(batch_id)),
                    os.path.join(out_root, f"dwd_traffic_{name}_log"),
                    "_batch_id",
                )
        finally:
            restored.unpersist()
            batch.unpersist()

    queries = []
    # ONE streaming query drives the state machine once per batch and
    # writes corrected log + all five splits from it (the reference is
    # likewise a single job; a second query would run a second copy of
    # the ST1 state store over a second source read)
    q1 = _start(
        corrected.writeStream.foreachBatch(_write_splits)
        .option("checkpointLocation", os.path.join(checkpoint_root, "split")),
        available_now,
    )
    queries.append(q1)
    q3 = _start(
        dirty.writeStream.format("parquet")
        .option("path", os.path.join(out_root, "dirty_log"))
        .option("checkpointLocation", os.path.join(checkpoint_root, "dirty"))
        .outputMode("append"),
        available_now,
    )
    queries.append(q3)
    return queries


def unique_visitor_job(
    spark: SparkSession,
    raw_stream: DataFrame,
    out_path: str,
    checkpoint: str,
    available_now: bool = True,
):
    """DwdTrafficUniqueVisitorDetail (reference :19-88): entry pages →
    ST2 per-day dedup → table."""
    clean, _ = parse_with_dirty(raw_stream, BEHAVIOR_LOG_SCHEMA)
    entries = clean.filter(F.col("page").isNotNull() & F.col("page.last_page_id").isNull())
    flat = entries.select(
        F.col("common.mid").alias("mid"),
        F.col("common.is_new").alias("is_new"),
        F.col("page.page_id").alias("page_id"),
        F.col("page.last_page_id").alias("last_page_id"),
        F.col("ts"),
    )
    uv = daily_unique_visitors(flat)
    return _start(
        uv.writeStream.format("parquet")
        .option("path", out_path)
        .option("checkpointLocation", checkpoint)
        .outputMode("append"),
        available_now,
    )


def user_jump_job(
    spark: SparkSession,
    raw_stream: DataFrame,
    out_path: str,
    checkpoint: str,
    available_now: bool = True,
):
    """DwdTrafficUserJumpDetail (reference :29-144): watermark (ST3) →
    ST4 CEP bounce state machine → table."""
    clean, _ = parse_with_dirty(raw_stream, BEHAVIOR_LOG_SCHEMA)
    paged = clean.filter(F.col("page").isNotNull()).select(
        F.col("common.mid").alias("mid"),
        F.col("page.page_id").alias("page_id"),
        F.col("page.last_page_id").alias("last_page_id"),
        F.col("ts"),
        F.timestamp_millis(F.col("ts")).alias("event_time"),
    )
    # reference uses a monotonous (0-delay) watermark, DwdTrafficUserJumpDetail.java:71-82
    watermarked = paged.withWatermark("event_time", "0 seconds")
    bounces = detect_bounces(watermarked)
    return _start(
        bounces.writeStream.format("parquet")
        .option("path", out_path)
        .option("checkpointLocation", checkpoint)
        .outputMode("append"),
        available_now,
    )


def parse_changelog_stream(raw_stream: DataFrame) -> DataFrame:
    """ODS topic_db → typed changelog stream (DimApp step 3)."""
    clean, _ = parse_with_dirty(raw_stream, TOPIC_DB_SCHEMA)
    return clean


def unique_visitor_job_idiomatic(
    spark: SparkSession,
    raw_stream: DataFrame,
    out_path: str,
    checkpoint: str,
    watermark: str = "1 day",
    available_now: bool = True,
):
    """ST2 idiomatic variant: watermark + dropDuplicatesWithinWatermark
    on (mid, dt).

    Same output as the exact state-machine form under in-order input.
    ``dropDuplicatesWithinWatermark`` ties dedup-state eviction to the
    event-time watermark even though (mid, dt) itself carries no
    event-time column — a (mid, dt) entry is dropped once the watermark
    passes its event time + delay, so state really is bounded (a plain
    ``dropDuplicates`` on non-event-time keys would grow forever).
    The reference keeps per-mid state with no TTL (SURVEY.md §7.3);
    this is the shape to run at 100 TB/day.
    """
    from flink_realtime_data_warehouse_spark.functions.timeutil import to_date_str

    clean, _ = parse_with_dirty(raw_stream, BEHAVIOR_LOG_SCHEMA)
    entries = clean.filter(F.col("page").isNotNull() & F.col("page.last_page_id").isNull())
    flat = entries.select(
        F.col("common.mid").alias("mid"),
        F.col("common.is_new").alias("is_new"),
        F.col("page.page_id").alias("page_id"),
        F.col("ts"),
        to_date_str(F.col("ts")).alias("dt"),
        F.timestamp_millis(F.col("ts")).alias("event_time"),
    )
    uv = flat.withWatermark("event_time", watermark).dropDuplicatesWithinWatermark(
        ["mid", "dt"]
    )
    return _start(
        uv.drop("event_time")
        .writeStream.format("parquet")
        .option("path", out_path)
        .option("checkpointLocation", checkpoint)
        .outputMode("append"),
        available_now,
    )


def streaming_exact_dedup(
    docs: DataFrame,
    text_col: str = "text",
    time_col: str = "event_time",
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming exact dedup of a document stream: first arrival of each
    content digest passes, replays within the watermark horizon drop.

    The streaming face of the batch ``dedup_exact`` operator: the dedup
    key is the md5 digest (16 bytes of state per unique document, the
    text itself never enters the state store), and
    ``dropDuplicatesWithinWatermark`` ties state eviction to event time
    so an unbounded ingest stream holds bounded state — the 100 TB/day
    ingest-dedup shape.
    """
    return (
        docs.withColumn("_digest", F.md5(F.col(text_col)))
        .withWatermark(time_col, watermark)
        .dropDuplicatesWithinWatermark(["_digest"])
        .drop("_digest")
    )


def stream_stream_conversion_job(
    spark: SparkSession,
    raw_stream: DataFrame,
    out_path: str,
    checkpoint: str,
    window_seconds: int = 3600,
    available_now: bool = True,
):
    """Stream-stream interval join: page views joined to later 'cart'
    actions of the same device within the window (DWS conversion feed).
    """
    from flink_realtime_data_warehouse_spark.streaming.joins import interval_join_streams

    clean, _ = parse_with_dirty(raw_stream, BEHAVIOR_LOG_SCHEMA)
    pages = clean.filter(F.col("page").isNotNull()).select(
        F.col("common.mid").alias("mid"),
        F.col("page.page_id").alias("page_id"),
        F.col("ts").alias("view_ts"),
        F.timestamp_millis(F.col("ts")).alias("event_time"),
    )
    actions = (
        clean.filter(F.col("actions").isNotNull())
        .select(
            F.col("common.mid").alias("mid"),
            F.explode("actions").alias("action"),
            F.col("ts").alias("action_ts"),
            F.timestamp_millis(F.col("ts")).alias("r_event_time"),
        )
        .filter(F.col("action.action_id") == "cart")
    )
    joined = interval_join_streams(
        pages, actions, key="mid", window_seconds=window_seconds
    ).select(
        F.col("l_mid").alias("mid"),
        "page_id",
        "view_ts",
        F.col("action.item").alias("cart_item"),
        "action_ts",
    )
    return _start(
        joined.writeStream.format("parquet")
        .option("path", out_path)
        .option("checkpointLocation", checkpoint)
        .outputMode("append"),
        available_now,
    )


def start_streaming_decontam(
    spark: SparkSession,
    doc_stream: DataFrame,
    eval_docs: DataFrame,
    clean_path: str,
    quarantine_path: str,
    checkpoint: str,
    available_now: bool = True,
):
    """Ingest-time benchmark-contamination gate on a document stream.

    The streaming face of ``operators/decontam.py``: every micro-batch
    is scored against the (bounded, cached) eval corpus — clean docs
    land in the training sink, contaminated docs in a quarantine sink
    with their overlap evidence attached. Both sinks are written under
    a ``pbatch=<batch_id>`` partition with dynamic partition overwrite,
    so a replayed micro-batch overwrites its own partition instead of
    duplicating — the same replay-idempotent layout as
    ``streaming/rollup.py``.

    At 100 TB/day the per-batch cost is one broadcast join against the
    eval gram hashes plus one keyed aggregate over the batch — nothing
    scales with corpus history.
    """
    from flink_realtime_data_warehouse_spark.operators.decontam import (
        decontaminate,
        eval_gram_hashes,
    )

    # cache the DERIVED gram hashes, not the raw docs: the explode +
    # md5 + distinct would otherwise re-run on every micro-batch
    grams_cached = eval_gram_hashes(eval_docs).cache()
    grams_cached.count()  # materialize once; benchmark sets are O(MB)

    def _process(batch: DataFrame, batch_id: int) -> None:
        # duplicate doc_ids inside one micro-batch would fan out
        # quadratically through the verdict join and write duplicated
        # rows to both sinks (ADVICE r3) — keep one row per doc_id, the
        # same contract streaming_exact_dedup gives the ingest pipeline
        batch = batch.dropDuplicates(["doc_id"])
        verdicts = decontaminate(batch, eval_grams=grams_cached).select(
            "doc_id", "n_hits", "overlap_frac", "contaminated"
        )
        joined = batch.join(verdicts, "doc_id", "left")
        flagged = F.coalesce(F.col("contaminated"), F.lit(0)) == 1

        def _sink(df: DataFrame, path: str) -> None:
            FORMAT.overwrite_partitions(
                df.withColumn("pbatch", F.lit(batch_id).cast("bigint")),
                path,
                "pbatch",
            )

        _sink(
            joined.filter(~flagged).drop("n_hits", "overlap_frac", "contaminated"),
            clean_path,
        )
        _sink(joined.filter(flagged), quarantine_path)

    q = _start(
        doc_stream.writeStream.foreachBatch(_process)
        .option("checkpointLocation", checkpoint),
        available_now,
    )
    q._frdw_caches = [grams_cached]
    return q


def release_job_caches(query) -> None:
    """Unpersist DataFrames a ``start_*`` job cached for its lifetime.

    The gate jobs cache the derived eval-gram hashes once per start;
    without an explicit release, repeatedly starting/stopping gates in
    one long-lived session accumulates cached DataFrames in executor
    memory (ADVICE r3). The caller owns the query lifecycle, so it owns
    the cache lifecycle too: call this after ``awaitTermination()`` /
    ``stop()``. No-op for queries that cached nothing.
    """
    for df in getattr(query, "_frdw_caches", []):
        df.unpersist()


def start_training_ingest_pipeline(
    spark: SparkSession,
    doc_stream: DataFrame,
    eval_docs: DataFrame,
    out_root: str,
    checkpoint: str,
    quality_threshold: int = 5000,
    available_now: bool = True,
):
    """End-to-end training-data ingest: the full curation chain as ONE
    streaming job.

        raw docs → exact dedup (watermark-bounded digest state)
                 → benchmark-contamination gate (broadcast eval grams)
                 → quality filter (integer-quantized linear scorer)
                 → ``{out_root}/clean`` ; rejects land in
                   ``{out_root}/quarantine`` / ``{out_root}/low_quality``

    Composes the independently-oracle-checked operators
    (``streaming_exact_dedup``, ``operators/decontam.decontaminate``,
    the ``text_quality_classifier`` scorer) without re-implementing any
    of them — the per-batch work is one broadcast join + two map-only
    passes + one keyed agg over the batch. Sinks use the same
    ``pbatch`` dynamic-partition overwrite as the decontam gate, so
    replays are idempotent.
    """
    from flink_realtime_data_warehouse_spark.operators.decontam import (
        decontaminate,
        eval_gram_hashes,
    )
    from flink_realtime_data_warehouse_spark.operators.textops import (
        quality_score_sql,
    )

    grams_cached = eval_gram_hashes(eval_docs).cache()
    grams_cached.count()

    deduped = streaming_exact_dedup(doc_stream)

    # the oracle-checked classifier's scoring snippet, imported — not
    # re-derived — so the gate can never drift from the batch query
    score_e4 = quality_score_sql()

    def _process(batch: DataFrame, batch_id: int) -> None:
        verdicts = decontaminate(batch, eval_grams=grams_cached).select(
            "doc_id", "contaminated"
        )
        scored = (
            batch.join(verdicts, "doc_id", "left")
            .withColumn("quality_e4", F.expr(score_e4))
        )
        flagged = F.coalesce(F.col("contaminated"), F.lit(0)) == 1
        low_q = F.coalesce(F.col("quality_e4"), F.lit(0)) < quality_threshold

        def _sink(df: DataFrame, name: str) -> None:
            FORMAT.overwrite_partitions(
                df.withColumn("pbatch", F.lit(batch_id).cast("bigint")),
                f"{out_root}/{name}",
                "pbatch",
            )

        _sink(scored.filter(flagged), "quarantine")
        _sink(scored.filter(~flagged & low_q), "low_quality")
        _sink(
            scored.filter(~flagged & ~low_q).drop("contaminated"), "clean"
        )

    q = _start(
        deduped.writeStream.foreachBatch(_process)
        .option("checkpointLocation", checkpoint),
        available_now,
    )
    q._frdw_caches = [grams_cached]
    return q


def _incarnation_id(checkpoint: str) -> str:
    """Stable incarnation id for a checkpoint location. Identity must
    follow the checkpoint DIRECTORY, not its spelling: hashing the
    literal string (the r4 approach) made a trailing slash, a relative
    vs absolute path, or a symlink a "new incarnation", so a redelivered
    batch could write a duplicate digest partition instead of
    overwriting its own first attempt (r4 ADVICE). The id is minted
    once, persisted INSIDE the checkpoint directory, and re-read by any
    later spelling that resolves to the same directory.

    The cold-start mint is a random uuid, NOT a hash of the path: a
    path-derived seed would resurrect the previous incarnation's id
    after ``rm -rf <checkpoint>`` at the same path, letting the new
    job's batch 0 dynamic-overwrite the old incarnation's
    ``pbatch=<rid>-0`` digest partition AND exclude it from history
    during classification — silently re-admitting already-ingested
    documents. The marker is published atomically (write-to-temp +
    exclusive ``os.link``), so a concurrent second starter or a crash
    mid-mint can never observe a partial/empty id: the link only
    appears after the temp file is fully written and fsynced."""
    import uuid

    path = checkpoint
    if path.startswith("file:"):
        path = path[len("file:"):]
    path = os.path.realpath(os.path.abspath(path))
    os.makedirs(path, exist_ok=True)
    marker = os.path.join(path, "frdw_run_id")
    if not os.path.exists(marker):
        rid = uuid.uuid4().hex[:12]
        tmp = f"{marker}.tmp.{os.getpid()}.{rid}"
        with open(tmp, "w", encoding="utf-8") as f:
            f.write(rid)
            f.flush()
            os.fsync(f.fileno())
        try:
            os.link(tmp, marker)  # atomic publish; loser keeps the winner's id
        except FileExistsError:
            pass
        except OSError:
            # filesystem without hard links (vfat/SMB/object-store
            # gateways): fall back to same-directory rename — still
            # never exposes a partial file; a concurrent-mint race
            # degrades to last-writer-wins, which both writers then
            # re-read, so they still agree on one id
            if not os.path.exists(marker):
                os.replace(tmp, marker)
                tmp = None
        finally:
            if tmp is not None and os.path.exists(tmp):
                os.unlink(tmp)
    with open(marker, encoding="utf-8") as f:
        return f.read().strip()


def compact_ann_ivf_deltas(
    spark: SparkSession, index_root: str, exclude_pbatch: str | None = None
) -> None:
    """Fold the streaming IVF index's delta tail into its cell
    partitions (the LSM shape: appends land in the pbatch-partitioned
    ``_deltas`` store, probes read main + tail, compaction merges):
    main cells ∪ folded delta rows, deduplicated by vec_id (makes the
    fold idempotent AND absorbs the crash window where a folded delta
    partition was not cleared yet), rewritten partitioned by cell and
    rename-swapped as the ``cells`` dir — quantizer artifacts and the
    delta store live BESIDE it and survive the swap. ``exclude_pbatch``
    (the in-flight batch) keeps its delta partition so its replay
    stays idempotent. At lake scale the merge would rewrite only the
    cells the tail actually touches; the whole-store rewrite here
    keeps the crash story one rename-swap."""
    from flink_realtime_data_warehouse_spark.operators.similarity import (
        _invalidate_index_df,
    )

    cells = os.path.join(index_root, "cells")
    deltas = os.path.join(index_root, "_deltas")
    FORMAT.repair(index_root, cells)
    FORMAT.repair(index_root, deltas)
    if not FORMAT.exists(deltas) or not FORMAT.exists(cells):
        return
    d = FORMAT.read(
        spark, deltas, "cell int, vec_id bigint, v array<float>, pbatch string"
    )
    keep, fold = pb.split_in_flight(d, exclude_pbatch)
    if fold.limit(1).count() == 0:
        return  # nothing to fold — leave both stores untouched
    main = FORMAT.read(
        spark, cells, "cell int, vec_id bigint, v array<float>"
    ).select("cell", "vec_id", "v")
    merged = (
        main.unionByName(fold.select("cell", "vec_id", "v"))
        .dropDuplicates(["vec_id"])
    )
    from flink_realtime_data_warehouse_spark.fanout import fanout

    # fanout instead of bare repartition("cell"): AQE's byte-based
    # coalescing could fold the rewrite onto one writer task (r11 opt)
    FORMAT.swap_rewrite(spark, cells, fanout(merged, "cell"), "cell")
    # now shrink the delta store to the kept (in-flight) partition; a
    # crash between the two swaps leaves folded rows in BOTH stores —
    # the probe's vec_id dedup keeps answers correct and the next fold
    # re-converges
    FORMAT.swap_rewrite(spark, deltas, keep, "pbatch")
    _invalidate_index_df(spark, cells)


def start_embedding_ingest(
    spark: SparkSession,
    emb_stream: DataFrame,
    index_root: str,
    checkpoint: str,
    available_now: bool = True,
    compact_every: int | None = None,
    n_list: int | None = None,
):
    """Continuous VECTOR ingest maintaining a probe-ready two-level IVF
    index — the streaming face of ``build/append_ann_ivf_index`` (an
    embedding lake the similarity family can query while it grows).

    The first non-empty micro-batch cold-builds the hierarchical index
    (deterministic: seed-pinned Lloyd — a replayed build re-derives
    byte-identical centroids); its vector files are moved under the
    swappable ``{index_root}/cells`` dir and the quantizer artifacts
    (``_centroids.json``, ``_subcentroids``, ``_meta.json``) stay
    beside it, then a ``_built_pbatch`` marker commits the build.
    Every later batch assigns against the PERSISTED quantizer
    (``ivf_assign_delta`` — no k-sized broadcast, no re-clustering)
    and lands its rows in ``{index_root}/_deltas`` under a
    ``pbatch=<run_id>-<batch_id>`` dynamic-overwrite partition: a
    redelivered batch overwrites its own partition with identical
    rows, never double-appends (the reason this path exists instead of
    ``append_ann_ivf_vectors``'s raw file append).

    ``ann_ivf_probe`` reads main cells + the delta tail transparently
    (vec_id-deduplicated); ``compact_every=N`` folds the tail into the
    cell partitions every N batches (``compact_ann_ivf_deltas``),
    excluding the in-flight batch. Crash windows: mid-build → marker
    absent → deterministic rebuild; after build before checkpoint
    commit → the builder batch's replay sees its own marker and skips
    (its contribution IS the index); mid-compaction-swap →
    ``_repair_swap_dir`` (run by every reader and mutator) rolls back;
    between compaction's two swaps → folded rows exist in both stores
    until the probe dedup / next fold absorbs them. Quantizer drift
    under distribution shift is the standard IVF trade: retrain
    offline and rebuild, exactly like any IVF deployment.
    """
    import shutil

    from flink_realtime_data_warehouse_spark.operators.similarity import (
        IVF_NLIST,
        _invalidate_index_df,
        build_ann_ivf_index,
        ivf_assign_delta,
    )

    nl = n_list if n_list is not None else IVF_NLIST
    cells = os.path.join(index_root, "cells")
    deltas = os.path.join(index_root, "_deltas")
    marker = os.path.join(index_root, "_built_pbatch")
    run_id = _incarnation_id(checkpoint)

    def _process(batch: DataFrame, batch_id: int) -> None:
        pbatch = f"{run_id}-{batch_id}"
        vecs = batch.select("vec_id", "v").dropDuplicates(["vec_id"])
        FORMAT.repair(index_root, cells)
        FORMAT.repair(index_root, deltas)
        if os.path.exists(marker):
            with open(marker, encoding="utf-8") as f:
                built_by = f.read().strip()
            if built_by == pbatch:
                return  # replay of the builder batch: the index IS its sink
            delta = ivf_assign_delta(spark, vecs, index_root)
            FORMAT.overwrite_partitions(
                delta.withColumn("pbatch", F.lit(pbatch)), deltas, "pbatch"
            )
        else:
            if vecs.limit(1).count() == 0:
                return  # nothing to build yet — wait for vectors
            # r12 opt (guide §5 caching): the cold build traverses the
            # batch four times (seed collect + one scan per Lloyd
            # iteration + the level-1 assignment), and each traversal
            # re-parsed the JSON source and re-ran the dropDuplicates
            # shuffle. Persist the deduplicated batch for the build's
            # lifetime so those passes scan the cache instead.
            vecs = vecs.persist(StorageLevel.MEMORY_AND_DISK)
            # clear a half-built attempt, then deterministic rebuild
            os.makedirs(index_root, exist_ok=True)
            for stale in ("cells", "_subcentroids", "_centroids.json",
                          "_meta.json"):
                p = os.path.join(index_root, stale)
                if os.path.isdir(p):
                    shutil.rmtree(p)
                elif os.path.exists(p):
                    os.remove(p)
            staging = os.path.join(index_root, "__build_staging")
            shutil.rmtree(staging, ignore_errors=True)
            try:
                build_ann_ivf_index(
                    spark, vecs, staging, n_list=nl, two_level=True
                )
            finally:
                vecs.unpersist()
            # publish through the seam (r10 verdict item 2): each
            # quantizer artifact moves into place with
            # publish_staged_artifact, then the remaining staged tree —
            # exactly the cell= partitions — commits as the cells
            # store in one seam swap. The multi-artifact publish is
            # NOT atomic as a set, and doesn't need to be: a kill
            # anywhere before the marker write below leaves no
            # _built_pbatch marker, so the next batch clears every
            # artifact and re-derives a byte-identical build
            # (deterministic rebuild — the right recovery here).
            for art in ("_centroids.json", "_subcentroids", "_meta.json"):
                src = os.path.join(staging, art)
                if os.path.exists(src):
                    FORMAT.publish_staged_artifact(
                        os.path.join(index_root, art), src
                    )
            FORMAT.commit_swap(cells, staging)
            _invalidate_index_df(spark, staging)
            atomic_write_text(marker, pbatch)
        _invalidate_index_df(spark, cells)
        if compact_every and (batch_id + 1) % compact_every == 0:
            compact_ann_ivf_deltas(spark, index_root, exclude_pbatch=pbatch)

    return _start(
        emb_stream.writeStream.foreachBatch(_process)
        .option("checkpointLocation", checkpoint),
        available_now,
    )


def compact_history_digest_store(
    spark: SparkSession, out_root: str, exclude_pbatch: str | None = None
) -> None:
    """Fold the history-dedup digest store's per-batch ``pbatch=``
    partitions onto the ``COMPACTED_PBATCH`` sentinel partition: one
    consolidated file set instead of one per micro-batch, so the
    per-batch classify join lists O(1) file sets instead of one per
    batch ever ingested (content hashes are unique across partitions
    by construction, since only digest-``new`` rows append, and the
    ``distinct()`` makes re-compaction idempotent). ``exclude_pbatch``
    (the in-flight batch) stays un-folded so a batch redelivered after
    a post-compaction crash still excludes exactly its own prior
    digests (``streaming/pbatch.py::fold_store``). A swap killed
    midway is repaired by the next touch of the store."""
    store = os.path.join(out_root, "digests")
    FORMAT.repair(out_root, store)
    if not FORMAT.exists(store):
        return
    # bloom watermark maintenance (r9, ADVICE): the fold renames
    # partitions the filter's coverage sidecar tracks by name. When
    # every folded partition was covered, the fold provably adds no
    # keys — carry coverage over to the sentinel; when ANY folded
    # partition was uncovered (flag-off ingest), wipe the sidecar so
    # the next bloom batch rebuilds instead of probing a subset filter
    # (false negatives). Written BEFORE the store swap: a crash
    # between costs at most one spurious rebuild, never a subset probe.
    bloom_path = os.path.join(out_root, "bloom")
    covered = _bloom_covered(bloom_path)
    if covered is not None:
        folded_parts = set(FORMAT.list_partitions(store, "pbatch")) - {exclude_pbatch}
        if folded_parts <= covered:
            new_covered = (covered - folded_parts) | {pb.COMPACTED_PBATCH}
        else:
            new_covered = set()
        FORMAT.write_sidecar(
            bloom_path, "_covered.json", json.dumps(sorted(new_covered))
        )
    pb.fold_store(
        spark,
        store,
        _DIGESTS_SCHEMA,
        lambda d: d.select("content_hash").distinct(),
        exclude_pbatch,
    )


# ---------------------------------------------------------------------------
# history-dedup ingest: one persisted read of each micro-batch, then named
# stages in a fixed order (see start_history_dedup_ingest)
# ---------------------------------------------------------------------------

#: explicit schemas on every store read: a zero-row batch's
#: dynamic-overwrite write creates the store directory with no data
#: files, and schema inference on it would fail the next batch
_DIGESTS_SCHEMA = "content_hash string, pbatch string"
#: Bloom rebuild-with-slack factor: OR-updates consume the headroom, then
#: one rebuild re-sizes — amortized O(1) rebuild work per key
_BLOOM_HEADROOM = 4


@dataclass
class _IngestBatch:
    """Per-batch context the ingest stages share: the lake root, the
    batch's ``pbatch`` partition value, and the relations persisted for
    the batch (released when it ends)."""

    spark: SparkSession
    out_root: str
    pbatch: str
    cached: list = field(default_factory=list)

    def path(self, store: str) -> str:
        return os.path.join(self.out_root, store)

    def persist(self, df: DataFrame) -> DataFrame:
        self.cached.append(df.persist(StorageLevel.MEMORY_AND_DISK))
        return self.cached[-1]

    def stage(self, name: str) -> None:
        """Name the Spark jobs that follow ``ingest:<name> <pbatch>``."""
        self.spark.sparkContext.setJobDescription(f"ingest:{name} {self.pbatch}")


def _bloom_covered(bloom_path: str) -> set[str] | None:
    """Digest partitions the Bloom filter provably covers: the
    ``_covered.json`` watermark committed with every filter swap. None
    when the store has no watermark; an unparsable one covers nothing."""
    text = FORMAT.read_sidecar(bloom_path, "_covered.json")
    if text is None:
        return None
    try:
        return set(json.loads(text))
    except ValueError:
        return set()


def _read_history(b: _IngestBatch, store: str, schema: str) -> DataFrame:
    """Committed rows of ``store`` minus the in-flight batch's own
    partition (``streaming/pbatch.py::read_history``)."""
    return pb.read_history(b.spark, b.path(store), schema, b.pbatch)


def _sink(b: _IngestBatch, df: DataFrame, store: str) -> None:
    """Write ``df`` as the batch's ``pbatch`` partition of ``store``; a
    replay overwrites its own first attempt."""
    pb.write_partition(df, b.path(store), b.pbatch)


def _swap_write_bloom(b: _IngestBatch, rows: DataFrame, covered: set[str]) -> None:
    """Atomically replace the Bloom store with ``rows``; the
    ``_covered.json`` watermark commits with the filter bits."""
    FORMAT.swap_rewrite(
        b.spark,
        b.path("bloom"),
        rows,
        sidecars={"_covered.json": json.dumps(sorted(covered))},
    )


def _rebuild_bloom(b: _IngestBatch, new_digests: DataFrame | None = None) -> None:
    """Build the filter with fresh headroom from the digest history,
    plus ``new_digests`` (the in-flight batch's) when given; only then
    does the watermark cover the in-flight partition."""
    from flink_realtime_data_warehouse_spark.operators import dedup

    digests = _read_history(b, "digests", _DIGESTS_SCHEMA).select("content_hash")
    covered = set(FORMAT.list_partitions(b.path("digests"), "pbatch")) - {b.pbatch}
    if new_digests is not None:
        digests = digests.unionByName(new_digests)
        covered.add(b.pbatch)
    rows = dedup.build_bloom_membership(digests, headroom=_BLOOM_HEADROOM)
    _swap_write_bloom(b, rows, covered)


def _classify(b: _IngestBatch, docs: DataFrame, bloom_prefilter: bool) -> DataFrame:
    """Stage ``classify``: ``docs`` plus each document's ``status``
    (``new``, ``dup_batch`` or ``dup_history``), persisted. Digests the
    Bloom filter rules out skip the digest join; a digest's copies all
    land in one slice, so the statuses are those of the plain join."""
    from flink_realtime_data_warehouse_spark.operators import dedup

    b.stage("classify")
    no_history = b.spark.createDataFrame([], "content_hash string")
    bloom, digests = b.path("bloom"), b.path("digests")
    if bloom_prefilter:
        FORMAT.repair(b.out_root, bloom)
        FORMAT.repair(b.out_root, digests)
        if FORMAT.exists(digests) and (
            not FORMAT.exists(bloom)
            # the digest store holds partitions the watermark never
            # covered (batches ingested with the flag off, or a fold of
            # them): probing that subset filter would read ingested
            # documents as new
            or set(FORMAT.list_partitions(digests, "pbatch"))
            - (_bloom_covered(bloom) or set())
        ):
            _rebuild_bloom(b)
    if bloom_prefilter and FORMAT.exists(bloom):
        flagged = b.persist(
            dedup.probe_bloom_membership(
                docs.select("doc_id", "content_hash"),
                FORMAT.read(b.spark, bloom, dedup._BLOOM_SCHEMA),
            )
        )
        maybe = flagged.filter("maybe_dup")
        # a batch with no "maybe" row never scans the digest store
        history = (
            _read_history(b, "digests", _DIGESTS_SCHEMA)
            if maybe.limit(1).count()
            else no_history
        )
        clear = flagged.filter(~F.col("maybe_dup"))
        statuses = dedup.incremental_dedup_digests(maybe, history).unionByName(
            dedup.incremental_dedup_digests(clear, no_history)
        )
    else:  # no filter (flag off, or a cold lake): every digest joins history
        statuses = dedup.incremental_dedup_digests(
            docs, _read_history(b, "digests", _DIGESTS_SCHEMA)
        )
    return b.persist(docs.join(statuses.select("doc_id", "status"), "doc_id"))


def _route_and_sink(
    b: _IngestBatch, classified: DataFrame, respect_tombstones: bool, redact_pii: bool
) -> DataFrame:
    """Stage ``route``: write ``clean`` and ``dups`` and return the new
    documents for the gate. The stored payload is redacted, never the
    classified bytes; its pre-redaction digest stays beside it so a
    takedown can match it back to the digest store."""
    b.stage("route")
    is_new = F.col("status") == "new"
    rows = classified
    tombstones = b.path("_tombstones")
    if respect_tombstones and FORMAT.exists(tombstones):
        tomb = FORMAT.read(b.spark, tombstones, "doc_id bigint").distinct()
        rows = rows.join(F.broadcast(tomb), "doc_id", "left_anti")
    clean = rows.filter(is_new).drop("status")
    if redact_pii:
        from flink_realtime_data_warehouse_spark.operators.pii import redact_text

        clean = clean.withColumn("text", redact_text(F.col("text")))
    else:
        clean = clean.drop("content_hash")
    _sink(b, clean, "clean")
    _sink(b, rows.filter(~is_new).select("doc_id", "content_hash", "status"), "dups")
    return rows.filter(is_new).select("doc_id", "text")


def _update_bloom(b: _IngestBatch, new_digests: DataFrame) -> None:
    """Stage ``bloom``: fold the batch's new digests into the filter
    BEFORE its digest partition lands. The folded rows are swapped in
    unless one has outgrown its sizing (more than ``m_bits /
    BLOOM_BITS_PER_KEY`` keys); then the filter is rebuilt with fresh
    headroom."""
    from flink_realtime_data_warehouse_spark.operators import dedup

    b.stage("bloom")
    bloom = b.path("bloom")
    if FORMAT.exists(bloom):
        folded = b.persist(
            dedup.or_bloom_membership(
                FORMAT.read(b.spark, bloom, dedup._BLOOM_SCHEMA),
                new_digests,
                headroom=_BLOOM_HEADROOM,
            )
        )
        overflow = F.col("n_keys") * dedup.BLOOM_BITS_PER_KEY > F.col("m_bits")
        if not folded.filter(overflow).select("pkey").collect():
            digest_parts = FORMAT.list_partitions(b.path("digests"), "pbatch")
            _swap_write_bloom(b, folded, set(digest_parts) | {b.pbatch})
            return
    _rebuild_bloom(b, new_digests)


def _near_dup_gate(b: _IngestBatch, new_docs: DataFrame) -> None:
    """Stage ``gate``: band the new documents with shingles capped at
    the accumulated df (stored deltas plus this batch's), write band
    collisions with stored bands to ``near_dups`` as evidence, and add
    the batch's bands and df delta to the ``lsh`` index as its
    ``pbatch`` partitions (the capped index's own probe join and
    store writes, ``operators/dedup.py``)."""
    from flink_realtime_data_warehouse_spark.fanout import fanout
    from flink_realtime_data_warehouse_spark.operators import dedup

    b.stage("gate")
    lsh = b.path("lsh")
    # one persisted shingle relation feeds the df delta, the hot set and
    # the bands; the fan-out runs the explode wide, since a micro-batch
    # is typically one source file and so one scan task
    sh = b.persist(
        dedup._exploded_shingle_hashes(fanout(new_docs, "doc_id")).distinct()
    )
    stored_df = dedup._read_lsh_store(b.spark, lsh, "df", b.pbatch)
    sh_capped, delta = dedup._capped_batch_shingles(
        new_docs, stored_df, dedup.NGRAM_DF_CAP, sh=sh
    )
    # the probe join and the band sink both read the bands; persisting
    # them runs the minhash aggregation (MINHASH_K = 12 mins per
    # document over its exploded shingles) once per batch
    bands = b.persist(dedup._bands_from_shingles(sh_capped))
    near = dedup._band_collisions(
        bands, dedup._read_lsh_store(b.spark, lsh, "bands", b.pbatch)
    )
    _sink(b, near.withColumnRenamed("doc_new", "doc_id"), "near_dups")
    dedup._write_lsh_batch(lsh, b.pbatch, bands, delta)


def _ingest_batch(
    batch: DataFrame,
    batch_id: int,
    *,
    spark: SparkSession,
    out_root: str,
    run_id: str,
    near_dup_gate: bool,
    compact_every: int | None,
    respect_tombstones: bool,
    bloom_prefilter: bool,
    redact_pii: bool,
) -> None:
    """One micro-batch of ``start_history_dedup_ingest``: persist the
    deduplicated documents once, then run the stages in order."""
    from flink_realtime_data_warehouse_spark.operators import dedup

    sc = spark.sparkContext
    engine_description = sc.getLocalProperty("spark.job.description")
    b = _IngestBatch(spark, out_root, f"{run_id}-{batch_id}")
    try:
        docs = b.persist(
            batch.dropDuplicates(["doc_id"]).select(
                "doc_id", "text", F.md5("text").alias("content_hash")
            )
        )
        classified = _classify(b, docs, bloom_prefilter)
        new_docs = _route_and_sink(b, classified, respect_tombstones, redact_pii)
        new_digests = classified.filter(F.col("status") == "new").select("content_hash")
        if bloom_prefilter:
            _update_bloom(b, new_digests)
        b.stage("digests")
        _sink(b, new_digests, "digests")
        if near_dup_gate:
            _near_dup_gate(b, new_docs)
        if compact_every and (batch_id + 1) % compact_every == 0:
            b.stage("compact")
            compact_history_digest_store(spark, out_root, exclude_pbatch=b.pbatch)
            if near_dup_gate:
                dedup.compact_dedup_lsh_index_capped(
                    spark, b.path("lsh"), exclude_pbatch=b.pbatch
                )
    finally:
        # newest first: unpersisting a relation re-plans every cached
        # relation built on it
        for df in reversed(b.cached):
            df.unpersist()
        sc.setJobDescription(engine_description)


def start_history_dedup_ingest(
    spark: SparkSession,
    doc_stream: DataFrame,
    out_root: str,
    checkpoint: str,
    available_now: bool = True,
    near_dup_gate: bool = False,
    compact_every: int | None = None,
    respect_tombstones: bool = False,
    bloom_prefilter: bool = False,
    redact_pii: bool = False,
):
    """Continuous ingest with GLOBAL dedup against everything ever
    ingested — the streaming face of
    ``operators/dedup.py::incremental_dedup``. New documents land in
    ``{out_root}/clean``, duplicates with their status in
    ``{out_root}/dups``, and new digests in ``{out_root}/digests``.
    The digest store remembers forever, across restarts and new
    checkpoints (a re-submitted corpus routes to ``dups``).

    Each micro-batch persists its deduplicated documents (``doc_id``,
    ``text``, ``content_hash``) once, so the source is read once, and
    runs these stages in order, each naming its Spark jobs
    ``ingest:<stage> <pbatch>``:

    1. ``classify`` — digest join; with ``bloom_prefilter`` a Bloom
       probe first, so an all-new batch never reads the digest store.
    2. ``route`` — the ``clean`` and ``dups`` sinks, after the
       ``respect_tombstones`` anti-join, with ``redact_pii`` scrubbing
       the stored payload.
    3. ``bloom`` — fold the new digests into the filter
       (``bloom_prefilter``).
    4. ``digests`` — the digest sink.
    5. ``gate`` — df-capped LSH near-dup evidence in ``near_dups``
       (``near_dup_gate``).
    6. ``compact`` — every ``compact_every`` batches, fold the digest
       store (and, with the gate, the LSH stores) onto the
       ``COMPACTED_PBATCH`` sentinel partition.

    Contracts, and the stage that holds each:

    - Replay idempotency by ``pbatch`` (every sink, every history
      read, ``compact``): each sink overwrites its batch's
      ``pbatch=<run_id>-<batch_id>`` partition and every history read
      excludes it, so a batch redelivered from the same checkpoint
      re-derives identical rows; ``compact`` leaves that partition
      un-folded. ``run_id`` is minted once per checkpoint directory
      (``_incarnation_id``), so a new checkpoint never overwrites an
      earlier incarnation's history.
    - Superset by write order (``bloom`` before ``digests``): the
      filter swap lands before the digest partition, so a crash
      between them leaves extra bits, never missing ones. The
      ``_covered.json`` watermark makes ``classify`` rebuild a filter
      that misses partitions (batches ingested with the flag off, or a
      fold of them).
    - Erasure over redelivery (``route``): tombstoned ids reach neither
      the doc-keyed sinks nor the gate; the digest sink stays
      unfiltered, so purged content stays blocked from re-ingestion.
      With the flag off, re-run ``reapply_tombstones`` after recovery.
    - Loud failure on a storage error (``classify`` and ``gate``
      reads): only a store that does not exist yet reads as empty
      history; any other read error fails the batch, and the
      checkpoint retries it.
    """
    ingest = functools.partial(
        _ingest_batch,
        spark=spark,
        out_root=out_root,
        run_id=_incarnation_id(checkpoint),
        near_dup_gate=near_dup_gate,
        compact_every=compact_every,
        respect_tombstones=respect_tombstones,
        bloom_prefilter=bloom_prefilter,
        redact_pii=redact_pii,
    )
    return _start(
        doc_stream.writeStream.foreachBatch(ingest)
        .option("checkpointLocation", checkpoint),
        available_now,
    )
