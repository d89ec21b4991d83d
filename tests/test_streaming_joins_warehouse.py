"""Stream-stream interval join, idiomatic UV variant, and the warehouse
facade wiring streaming outputs into the SQL layer."""

import json
import os

from flink_realtime_data_warehouse_spark.sources.streams import read_jsonl_stream
from flink_realtime_data_warehouse_spark.streaming.jobs import (
    base_log_job,
    stream_stream_conversion_job,
    unique_visitor_job_idiomatic,
)
from flink_realtime_data_warehouse_spark.warehouse import Warehouse

BASE = 1658793600000
DAY = 86_400_000


def _rec(mid, ts, page=None, actions=None, is_new="0"):
    rec = {"common": {"mid": mid, "is_new": is_new}, "ts": ts}
    if page:
        rec["page"] = page
    if actions:
        rec["actions"] = actions
    return json.dumps(rec)


def _write(dir_, name, lines):
    os.makedirs(dir_, exist_ok=True)
    with open(os.path.join(dir_, name), "w") as f:
        f.write("\n".join(lines) + "\n")


def test_stream_stream_interval_join(spark, tmp_path):
    src = str(tmp_path / "src")
    _write(src, "b1.jsonl", [
        _rec("A", BASE, page={"page_id": "sku_7"}),
        # cart 10 min later → joins
        _rec("A", BASE + 600_000, page={"page_id": "cart"},
             actions=[{"item": "sku_7", "item_type": "sku", "action_id": "cart"}]),
        # cart 2h later → outside window, no join
        _rec("A", BASE + 2 * 3600_000, page={"page_id": "cart"},
             actions=[{"item": "sku_9", "item_type": "sku", "action_id": "cart"}]),
        _rec("B", BASE + 1000, page={"page_id": "home"}),
    ])
    out = str(tmp_path / "out")
    q = stream_stream_conversion_job(
        spark, read_jsonl_stream(spark, src), out, str(tmp_path / "ckpt"), window_seconds=3600
    )
    q.awaitTermination(150)
    rows = spark.read.parquet(out).collect()
    pairs = sorted((r["mid"], r["page_id"], r["cart_item"]) for r in rows)
    # A's first view joins the 10-min cart; the 2h-later cart joins only
    # the view at +2h (itself a page event); B never joins
    assert ("A", "sku_7", "sku_7") in pairs
    assert all(p[0] == "A" for p in pairs)
    assert not any(p[1] == "sku_7" and p[2] == "sku_9" for p in pairs)


def test_stream_stream_outer_interval_join(spark, tmp_path):
    """Left-outer interval join: unmatched page views are emitted with
    null action columns once the watermark passes their join window."""
    from flink_realtime_data_warehouse_spark.operators.parse import parse_with_dirty
    from flink_realtime_data_warehouse_spark.schemas import BEHAVIOR_LOG_SCHEMA
    from flink_realtime_data_warehouse_spark.streaming.joins import (
        interval_join_streams_outer,
    )
    from pyspark.sql import functions as F

    src = str(tmp_path / "src")
    _write(src, "b1.jsonl", [
        _rec("A", BASE, page={"page_id": "sku_7"}),
        # A carts 10 min later → matched
        _rec("A", BASE + 600_000, page={"page_id": "cart"},
             actions=[{"item": "sku_7", "item_type": "sku", "action_id": "cart"}]),
        # B views, never carts → must still appear (null action)
        _rec("B", BASE + 1000, page={"page_id": "home"}),
        # watermark driver: far-future cart event on both sides
        _rec("Z", BASE + 5 * 3600_000, page={"page_id": "cart"},
             actions=[{"item": "x", "item_type": "sku", "action_id": "cart"}]),
    ])
    clean, _ = parse_with_dirty(read_jsonl_stream(spark, src), BEHAVIOR_LOG_SCHEMA)
    pages = clean.filter(F.col("page").isNotNull()).select(
        F.col("common.mid").alias("mid"),
        F.col("page.page_id").alias("page_id"),
        F.timestamp_millis(F.col("ts")).alias("event_time"),
    )
    actions = (
        clean.filter(F.col("actions").isNotNull())
        .select(
            F.col("common.mid").alias("mid"),
            F.explode("actions").alias("action"),
            F.timestamp_millis(F.col("ts")).alias("r_event_time"),
        )
        .filter(F.col("action.action_id") == "cart")
    )
    joined = interval_join_streams_outer(
        pages, actions, key="mid", window_seconds=3600, watermark="0 seconds"
    ).select("l_mid", "page_id", F.col("action.item").alias("cart_item"))
    out = str(tmp_path / "out")
    q = (
        joined.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    rows = [(r["l_mid"], r["page_id"], r["cart_item"])
            for r in spark.read.parquet(out).collect()]
    assert ("A", "sku_7", "sku_7") in rows                       # matched
    assert ("B", "home", None) in rows                           # unmatched, finalized
    assert all(r[2] is not None for r in rows if r[0] == "A" and r[1] == "sku_7")


def test_unique_visitor_idiomatic_variant(spark, tmp_path):
    src = str(tmp_path / "src")
    _write(src, "b1.jsonl", [
        _rec("m1", BASE, page={"page_id": "home"}),
        _rec("m1", BASE + 5000, page={"page_id": "home"}),       # same day dup
        _rec("m1", BASE + DAY, page={"page_id": "home"}),        # next day
        _rec("m2", BASE + 100, page={"page_id": "home"}),
        _rec("m3", BASE + 100, page={"page_id": "list", "last_page_id": "home"}),  # not entry
    ])
    out = str(tmp_path / "uv")
    q = unique_visitor_job_idiomatic(
        spark, read_jsonl_stream(spark, src), out, str(tmp_path / "ckpt")
    )
    q.awaitTermination(150)
    got = sorted((r["mid"], r["dt"]) for r in spark.read.parquet(out).collect())
    assert got == [("m1", "2022-07-26"), ("m1", "2022-07-27"), ("m2", "2022-07-26")]


def test_warehouse_facade_end_to_end(spark, tmp_path, table_formats):
    """Two input files read as two micro-batches, so each DWD store
    holds two batch commits; the views read them through the table
    format under either backend."""
    src = str(tmp_path / "src")
    _write(src, "b1.jsonl", [
        _rec("A", BASE, page={"page_id": "home"}, is_new="1"),
        _rec("B", BASE + 1000, page={"page_id": "home"}),
    ])
    _write(src, "b2.jsonl", [
        _rec("A", BASE + 2000, page={"page_id": "list", "last_page_id": "home"}),
    ])
    for backend in table_formats:
        wh = Warehouse(spark, str(tmp_path / backend / "wh"))
        qs = base_log_job(
            spark,
            read_jsonl_stream(spark, src, max_files_per_trigger=1),
            wh.dwd_root,
            str(tmp_path / backend / "ckpt"),
        )
        for q in qs:
            q.awaitTermination(150)

        views = wh.register()
        assert "dwd_traffic_page_log" in views, backend
        row = wh.sql(
            "SELECT count(*) AS n, count(DISTINCT common.mid) AS uv"
            " FROM dwd_traffic_page_log"
        ).first()
        assert (row["n"], row["uv"]) == (3, 2), backend


def test_base_log_split_carries_corrected_is_new(spark, tmp_path):
    """Reference order is ST1-then-split (BaseLogApp.java:64-162): the
    page split must carry the *corrected* is_new, not the raw flag."""
    DAY = 86_400_000
    src = str(tmp_path / "src")
    _write(src, "b1.jsonl", [
        _rec("m1", BASE, page={"page_id": "home"}, is_new="1"),        # truly new
        _rec("m1", BASE + DAY, page={"page_id": "home"}, is_new="1"),  # day 2 lie → 0
    ])
    wh = Warehouse(spark, str(tmp_path / "wh"))
    qs = base_log_job(spark, read_jsonl_stream(spark, src), wh.dwd_root, str(tmp_path / "ckpt"))
    for q in qs:
        q.awaitTermination(150)
    rows = {r["ts"]: r["common"]["is_new"]
            for r in wh.read_dwd("dwd_traffic_page_log").collect()}
    assert rows[BASE] == "1"
    assert rows[BASE + DAY] == "0"


def test_streaming_exact_dedup(spark, tmp_path):
    """First arrival of each content digest passes; in-horizon replays
    drop; distinct content always passes."""
    from pyspark.sql import functions as F
    from flink_realtime_data_warehouse_spark.streaming.jobs import streaming_exact_dedup

    src = str(tmp_path / "docs")
    os.makedirs(src, exist_ok=True)
    rows = [
        {"doc_id": 1, "text": "alpha beta", "ts": BASE},
        {"doc_id": 2, "text": "alpha beta", "ts": BASE + 1000},   # replay → drop
        {"doc_id": 3, "text": "gamma delta", "ts": BASE + 2000},
        {"doc_id": 4, "text": "alpha beta", "ts": BASE + 3000},   # replay → drop
    ]
    with open(os.path.join(src, "b1.jsonl"), "w") as f:
        f.write("\n".join(json.dumps(r) for r in rows) + "\n")
    stream = (
        spark.readStream.schema("doc_id bigint, text string, ts bigint")
        .json(src)
        .withColumn("event_time", F.timestamp_millis(F.col("ts")))
    )
    out = str(tmp_path / "out")
    q = (
        streaming_exact_dedup(stream)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(150)
    got = sorted(r["doc_id"] for r in spark.read.parquet(out).collect())
    assert got == [1, 3]
