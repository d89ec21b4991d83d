"""DIM layer: config-driven routing (J1/T5/ST5), upsert store (K3/K4),
dynamic DDL, and the end-to-end DimApp streaming topology."""

import contextlib
import json
import os

from flink_realtime_data_warehouse_spark.operators.parse import parse_with_dirty
from flink_realtime_data_warehouse_spark.schemas import (
    TABLE_PROCESS_SCHEMA,
    TOPIC_DB_SCHEMA,
)
from flink_realtime_data_warehouse_spark.sources.streams import (
    read_jsonl_stream,
    static_jsonl,
)
from flink_realtime_data_warehouse_spark.streaming.router import (
    fold_config_changelog,
    parse_debezium_config,
    route_changelog_batch,
    start_dim_app,
)
from flink_realtime_data_warehouse_spark.streaming.sinks import DimStore


def _dbz(op, row, ts_ms, key_only_before=False):
    """A Debezium envelope as JsonDebeziumDeserializationSchema emits it."""
    e = {"op": op, "ts_ms": ts_ms, "before": None, "after": None}
    if op == "d":
        e["before"] = row
    else:
        e["after"] = row
    return json.dumps(e)


def _cdc(table, type_, data):
    return json.dumps({"database": "gmall", "table": table, "type": type_, "data": data})


CONFIG_ROWS = [
    # includes a substring pair (name / tm_name) to pin the exact-match
    # projection fix (reference bug TableProcessFunction.java:133-140)
    ("base_trademark", "dim_base_trademark", "id,tm_name", "id", None),
    ("user_info", "dim_user_info", "id,name,birthday", "id", None),
    ("base_category1", "dim_base_category1", "id,name", None, None),  # null pk → default "id"
]


def _config_df(spark):
    return spark.createDataFrame(CONFIG_ROWS, TABLE_PROCESS_SCHEMA)


def test_dim_store_upsert_merge(spark, tmp_path, table_formats):
    for backend in table_formats:
        store = DimStore(spark, str(tmp_path / backend))
        df1 = spark.createDataFrame([("1", "apple"), ("2", "banana")], ["id", "tm_name"])
        store.upsert("dim_base_trademark", df1)  # K4: creates table
        df2 = spark.createDataFrame([("2", "blueberry"), ("3", "cherry")], ["id", "tm_name"])
        store.upsert("dim_base_trademark", df2)  # K3: update + insert
        got = {r["id"]: r["tm_name"] for r in store.read("dim_base_trademark").collect()}
        assert got == {"1": "apple", "2": "blueberry", "3": "cherry"}, backend


def test_dim_store_create_commits_meta_with_data(spark, tmp_path, monkeypatch, table_formats):
    """A table's first upsert commits its ``_dim_meta.json`` with its
    data: a failing sidecar-only write cannot leave a table without
    its layout, on which an erasure would find nothing to delete."""
    from flink_realtime_data_warehouse_spark.streaming import table_format

    def fail(*_a, **_k):
        raise RuntimeError("injected sidecar write failure")

    for backend in table_formats:
        store = DimStore(spark, str(tmp_path / backend), n_partitions=4)
        path = str(tmp_path / backend / "dim_t")
        with monkeypatch.context() as m:
            m.setattr(type(table_format._active()), "write_sidecar", fail)
            with contextlib.suppress(RuntimeError):
                store.upsert(
                    "dim_t", spark.createDataFrame([("1", "a"), ("2", "b")], ["id", "name"])
                )
        if table_format.FORMAT.exists(path):
            assert table_format.FORMAT.read_sidecar(path, "_dim_meta.json") is not None, backend
        assert store.delete("dim_t", spark.createDataFrame([("1",)], ["id"])) == 1, backend
        assert sorted(r["id"] for r in store.read("dim_t").collect()) == ["2"], backend


def test_idempotent_produce_keys_deterministic(spark):
    """K2 analogue: a retried micro-batch must regenerate identical
    (batch_id, md5(value)) keys — even under a different partition
    layout at retry time — so a compacted topic collapses duplicates."""
    from flink_realtime_data_warehouse_spark.streaming.sinks import (
        keyed_for_idempotent_produce,
    )

    df = spark.createDataFrame([("a",), ("b",), ("c",)], ["value"])
    k1 = [r["key"] for r in keyed_for_idempotent_produce(df, 7).orderBy("key").collect()]
    # the "retry" replays the same content with a different layout
    k2 = [
        r["key"]
        for r in keyed_for_idempotent_produce(df.repartition(3), 7)
        .orderBy("key")
        .collect()
    ]
    assert k1 == k2
    assert len(set(k1)) == 3
    assert all(k.startswith("7:") for k in k1)


def test_dim_store_partitioned_merge_leaves_untouched_files(spark, tmp_path):
    """An upsert must rewrite ONLY the hash partitions its batch
    touches; every file of an untouched partition stays byte-identical
    (the 10 TB-table / 1k-row-batch economics of the lake MERGE)."""
    store = DimStore(spark, str(tmp_path / "dim"), n_partitions=8)
    seed = spark.createDataFrame(
        [(str(i), f"name_{i}") for i in range(64)], ["id", "tm_name"]
    )
    store.upsert("dim_t", seed)
    root = tmp_path / "dim" / "dim_t"

    def snapshot():
        out = {}
        for pdir in root.glob("_pk_part=*"):
            for f in pdir.glob("*.parquet"):
                out[str(f.relative_to(root))] = f.read_bytes()
        return out

    before = snapshot()
    assert len({p.split("/")[0] for p in before}) > 1  # really partitioned

    store.upsert("dim_t", spark.createDataFrame([("3", "updated")], ["id", "tm_name"]))
    after = snapshot()

    from pyspark.sql import functions as F
    touched_part = spark.range(1).select(
        F.pmod(F.xxhash64(F.lit("3")), F.lit(8)).cast("int").alias("p")
    ).first()["p"]
    for relpath, data in before.items():
        part = relpath.split("/")[0]
        if part != f"_pk_part={touched_part}":
            assert relpath in after and after[relpath] == data, f"{relpath} rewritten"
    # the merge itself happened
    got = {r["id"]: r["tm_name"] for r in store.read("dim_t").collect()}
    assert got["3"] == "updated" and got["4"] == "name_4" and len(got) == 64


def test_dim_store_sink_extend_salt_buckets(spark, tmp_path, table_formats):
    """sink_extend (reference TableProcessFunction.java:59-79 appends it
    to the DDL) must drive the created table's layout."""
    from flink_realtime_data_warehouse_spark.streaming.table_format import FORMAT

    for backend in table_formats:
        store = DimStore(spark, str(tmp_path / backend), n_partitions=16)
        path = str(tmp_path / backend / "dim_salted")
        df = spark.createDataFrame([(str(i), f"n{i}") for i in range(40)], ["id", "name"])
        store.upsert("dim_salted", df, extend="SALT_BUCKETS = 4")
        parts = set(FORMAT.list_partitions(path, "_pk_part"))
        assert parts and parts <= {str(i) for i in range(4)}, backend
        # layout persisted: a later upsert without extend keeps 4 buckets
        store.upsert("dim_salted", spark.createDataFrame([("99", "x")], ["id", "name"]))
        assert set(FORMAT.list_partitions(path, "_pk_part")) <= {str(i) for i in range(4)}
        assert store.read("dim_salted").count() == 41, backend


def test_route_changelog_batch(spark, tmp_path):
    rows = [
        _cdc("base_trademark", "insert", {"id": "1", "tm_name": "apple", "logo_url": "x.png"}),
        _cdc("base_trademark", "update", {"id": "1", "tm_name": "apricot", "logo_url": "y.png"}),
        _cdc("user_info", "bootstrap-insert", {"id": "7", "name": "u7", "birthday": "2000-01-01", "email": "e"}),
        _cdc("base_category1", "insert", {"id": "3", "name": "c3"}),
        _cdc("order_info", "insert", {"id": "9"}),       # no config row → dropped
        _cdc("base_trademark", "delete", {"id": "1"}),   # delete type → filtered
    ]
    clean, _ = parse_with_dirty(static_jsonl(spark, rows), TOPIC_DB_SCHEMA)
    store = DimStore(spark, str(tmp_path / "dim"))
    counts = route_changelog_batch(clean, _config_df(spark), store)
    assert counts == {"dim_base_trademark": 2, "dim_user_info": 1, "dim_base_category1": 1}

    tm = {r["id"]: r for r in store.read("dim_base_trademark").collect()}
    assert list(tm) == ["1"]
    assert tm["1"]["tm_name"] == "apricot"  # within-batch arrival order: update wins
    assert "logo_url" not in store.read("dim_base_trademark").columns  # T5 whitelist

    ui = store.read("dim_user_info").collect()[0]
    # exact-match projection: 'name' whitelisted, substring sibling
    # 'tm_name' absent; 'email' not whitelisted
    assert set(store.read("dim_user_info").columns) == {"id", "name", "birthday"}
    assert ui["name"] == "u7"
    assert store.read("dim_base_category1").collect()[0]["name"] == "c3"


def _tp_row(source_table, sink_table, sink_columns, sink_pk=None, sink_extend=None):
    return {
        "source_table": source_table,
        "sink_table": sink_table,
        "sink_columns": sink_columns,
        "sink_pk": sink_pk,
        "sink_extend": sink_extend,
    }


def test_parse_and_fold_debezium_config(spark):
    """Insert/update/delete envelopes (reference DimApp.java:74-86 wire
    format) fold to the current rule set: updates win, deletes drop."""
    lines = [
        _dbz("r", _tp_row("base_trademark", "dim_base_trademark", "id,tm_name", "id"), 1000),
        _dbz("c", _tp_row("user_info", "dim_user_info", "id,name", "id"), 2000),
        # update replaces the trademark rule's whitelist
        _dbz("u", _tp_row("base_trademark", "dim_base_trademark", "id,tm_name,logo_url", "id"), 3000),
        # the user_info rule is dropped
        _dbz("d", _tp_row("user_info", "dim_user_info", "id,name", "id"), 4000),
    ]
    raw = spark.createDataFrame([(l,) for l in lines], ["value"])
    config = fold_config_changelog(parse_debezium_config(raw))
    rules = {r["source_table"]: r for r in config.collect()}
    assert set(rules) == {"base_trademark"}
    assert rules["base_trademark"]["sink_columns"] == "id,tm_name,logo_url"
    assert config.columns == TABLE_PROCESS_SCHEMA.fieldNames()


def test_dim_app_with_debezium_config_stream(spark, tmp_path):
    """End-to-end: the router fed by a replayed Debezium config topic
    routes per the folded rules (delete un-registers a table)."""
    src = str(tmp_path / "src")
    cfg = str(tmp_path / "cfg")
    os.makedirs(cfg, exist_ok=True)
    with open(os.path.join(cfg, "topic.jsonl"), "w") as f:
        f.write(_dbz("r", _tp_row("base_trademark", "dim_base_trademark", "id,tm_name", "id"), 1000) + "\n")
        f.write(_dbz("c", _tp_row("user_info", "dim_user_info", "id,name", "id"), 2000) + "\n")
        f.write(_dbz("d", _tp_row("user_info", "dim_user_info", "id,name", "id"), 3000) + "\n")
    os.makedirs(src, exist_ok=True)
    with open(os.path.join(src, "b1.jsonl"), "w") as f:
        f.write(_cdc("base_trademark", "insert", {"id": "1", "tm_name": "apple"}) + "\n")
        f.write(_cdc("user_info", "insert", {"id": "7", "name": "u7"}) + "\n")

    from flink_realtime_data_warehouse_spark.streaming.jobs import parse_changelog_stream

    store = DimStore(spark, str(tmp_path / "dim"))
    stream = parse_changelog_stream(read_jsonl_stream(spark, src))
    q = start_dim_app(
        spark, stream, cfg, store, str(tmp_path / "ckpt"), config_format="debezium"
    )
    q.awaitTermination(120)
    # trademark routed; user_info rule was deleted before the batch ran
    assert store.tables() == ["dim_base_trademark"]
    assert store.read("dim_base_trademark").collect()[0]["tm_name"] == "apple"


def test_dim_app_stream_with_config_refresh(spark, tmp_path):
    """ST5 broadcast refresh: a config row added between micro-batches
    applies to the next batch without restarting the query."""
    src = str(tmp_path / "src")
    cfg_path = str(tmp_path / "config")
    store = DimStore(spark, str(tmp_path / "dim"))
    ckpt = str(tmp_path / "ckpt")

    _config_df(spark).write.mode("overwrite").parquet(cfg_path)
    os.makedirs(src, exist_ok=True)
    with open(os.path.join(src, "b1.jsonl"), "w") as f:
        f.write(_cdc("base_trademark", "insert", {"id": "1", "tm_name": "apple"}) + "\n")
        f.write(_cdc("activity_info", "insert", {"id": "5", "activity_name": "11.11"}) + "\n")

    from flink_realtime_data_warehouse_spark.streaming.jobs import parse_changelog_stream

    stream = parse_changelog_stream(read_jsonl_stream(spark, src))
    q = start_dim_app(spark, stream, cfg_path, store, ckpt)
    q.awaitTermination(120)
    assert store.tables() == ["dim_base_trademark"]  # activity not configured yet

    # add a config row (the reference would CDC this from MySQL) + new data
    new_cfg = CONFIG_ROWS + [("activity_info", "dim_activity_info", "id,activity_name", "id", None)]
    spark.createDataFrame(new_cfg, TABLE_PROCESS_SCHEMA).write.mode("overwrite").parquet(cfg_path)
    with open(os.path.join(src, "b2.jsonl"), "w") as f:
        f.write(_cdc("activity_info", "update", {"id": "5", "activity_name": "12.12"}) + "\n")

    stream2 = parse_changelog_stream(read_jsonl_stream(spark, src))
    q2 = start_dim_app(spark, stream2, cfg_path, store, ckpt)
    q2.awaitTermination(120)
    assert "dim_activity_info" in store.tables()
    act = store.read("dim_activity_info").collect()
    assert [(r["id"], r["activity_name"]) for r in act] == [("5", "12.12")]


def test_dim_store_schema_evolution(spark, tmp_path, table_formats):
    """A batch adding a new column widens the table; a batch missing an
    old column leaves nulls — MERGE semantics under evolving config
    whitelists (sink_columns can change between micro-batches)."""
    for backend in table_formats:
        store = DimStore(spark, str(tmp_path / backend))
        store.upsert("dim_e", spark.createDataFrame([("1", "a")], ["id", "name"]))
        # batch 2 carries an extra column
        store.upsert(
            "dim_e",
            spark.createDataFrame([("2", "b", "x.png")], ["id", "name", "logo_url"]),
        )
        got = {r["id"]: (r["name"], r["logo_url"]) for r in store.read("dim_e").collect()}
        assert got == {"1": ("a", None), "2": ("b", "x.png")}
        # batch 3 misses the extra column but updates row 2
        store.upsert("dim_e", spark.createDataFrame([("2", "b2")], ["id", "name"]))
        got = {r["id"]: (r["name"], r["logo_url"]) for r in store.read("dim_e").collect()}
        assert got["2"] == ("b2", None)
        assert got["1"] == ("a", None)


def test_dim_store_delete_touched_partitions_only(spark, tmp_path):
    """GDPR-style erasure: deleted keys disappear, the delete count is
    right, and files of partitions no deleted key maps to stay
    byte-identical."""
    from pyspark.sql import functions as F

    store = DimStore(spark, str(tmp_path / "dim"), n_partitions=8)
    seed = spark.createDataFrame(
        [(str(i), f"name_{i}") for i in range(64)], ["id", "tm_name"]
    )
    store.upsert("dim_t", seed)
    root = tmp_path / "dim" / "dim_t"

    def snapshot():
        return {
            str(f.relative_to(root)): f.read_bytes()
            for pdir in root.glob("_pk_part=*")
            for f in pdir.glob("*.parquet")
        }

    before = snapshot()
    keys = spark.createDataFrame([("3",), ("17",)], ["id"])
    assert store.delete("dim_t", keys) == 2

    touched = {
        r["p"]
        for r in keys.select(
            F.pmod(F.xxhash64("id"), F.lit(8)).cast("int").alias("p")
        ).collect()
    }
    after = snapshot()
    for relpath, data in before.items():
        part = int(relpath.split("/")[0].split("=")[1])
        if part not in touched:
            assert relpath in after and after[relpath] == data, f"{relpath} rewritten"

    got = {r["id"] for r in store.read("dim_t").collect()}
    assert "3" not in got and "17" not in got and len(got) == 62
    # deleting unknown keys is a no-op that reports zero
    assert store.delete("dim_t", spark.createDataFrame([("999",)], ["id"])) == 0
    # deleting from a table that does not exist is a zero, not a crash
    assert store.delete("no_such_table", keys) == 0


def test_dim_store_delete_non_string_pk(spark, tmp_path, table_formats):
    """Erasure on a BIGINT-PK table: upsert partitions by the native
    key's xxhash64, so delete must hash at the stored dtype — and must
    work whether the erasure request arrives typed or as strings."""
    for backend in table_formats:
        store = DimStore(spark, str(tmp_path / backend), n_partitions=8)
        seed = spark.createDataFrame(
            [(i, f"name_{i}") for i in range(64)], "id bigint, tm_name string"
        )
        store.upsert("dim_n", seed)

        # native-typed keys
        assert store.delete(
            "dim_n", spark.createDataFrame([(3,), (17,)], "id bigint")
        ) == 2
        got = {r["id"] for r in store.read("dim_n").collect()}
        assert 3 not in got and 17 not in got and len(got) == 62

        # string keys against the bigint table: cast to the stored dtype
        assert store.delete(
            "dim_n", spark.createDataFrame([("25",)], "id string")
        ) == 1
        assert 25 not in {r["id"] for r in store.read("dim_n").collect()}
