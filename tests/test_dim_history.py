"""SCD type-2 dimension history (DimHistoryStore): interval chaining,
time travel, current-view parity, and touched-partition economics."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from flink_realtime_data_warehouse_spark.streaming.sinks import DimHistoryStore


def _store(spark, tmp_path, n=4):
    return DimHistoryStore(spark, str(tmp_path / "dimh"), n_partitions=n)


def _batch(spark, rows):
    return spark.createDataFrame(rows, "id string, name string, ts bigint")


def _hist(store, table="dim_user"):
    return {
        (r["id"], r["valid_from"]): (r["valid_to"], r["is_current"], r["name"])
        for r in store.read(table).collect()
    }


def test_scd2_intervals_chain_across_batches(spark, tmp_path, table_formats):
    for backend in table_formats:
        st = _store(spark, tmp_path / backend)
        st.apply("dim_user", _batch(spark, [("u1", "Ann", 100), ("u2", "Bo", 100)]))
        st.apply("dim_user", _batch(spark, [("u1", "Anne", 200)]))
        h = _hist(st)
        assert h[("u1", 100)] == (200, False, "Ann")  # closed at the update ts
        assert h[("u1", 200)] == (None, True, "Anne")
        assert h[("u2", 100)] == (None, True, "Bo")  # untouched PK stays open


def test_scd2_multiple_versions_in_one_batch_chain(spark, tmp_path, table_formats):
    for backend in table_formats:
        st = _store(spark, tmp_path / backend)
        st.apply("dim_user", _batch(spark, [("u1", "A", 10), ("u1", "B", 20), ("u1", "C", 30)]))
        h = _hist(st)
        assert h[("u1", 10)] == (20, False, "A")
        assert h[("u1", 20)] == (30, False, "B")
        assert h[("u1", 30)] == (None, True, "C")


def test_scd2_time_travel_and_current_view(spark, tmp_path, table_formats):
    for backend in table_formats:
        st = _store(spark, tmp_path / backend)
        st.apply("dim_user", _batch(spark, [("u1", "Ann", 100), ("u2", "Bo", 100)]))
        st.apply("dim_user", _batch(spark, [("u1", "Anne", 200), ("u2", "Bob", 300)]))
        asof_150 = {r["id"]: r["name"] for r in st.as_of("dim_user", 150).collect()}
        assert asof_150 == {"u1": "Ann", "u2": "Bo"}
        asof_250 = {r["id"]: r["name"] for r in st.as_of("dim_user", 250).collect()}
        assert asof_250 == {"u1": "Anne", "u2": "Bo"}
        cur = {r["id"]: r["name"] for r in st.current("dim_user").collect()}
        assert cur == {"u1": "Anne", "u2": "Bob"}
        # before any version existed: empty dimension
        assert st.as_of("dim_user", 50).count() == 0


def test_scd2_untouched_partitions_not_rewritten(spark, tmp_path):
    st = _store(spark, tmp_path, n=8)
    # spread many PKs over partitions
    rows = [(f"u{i}", f"n{i}", 100) for i in range(40)]
    st.apply("dim_user", _batch(spark, rows))
    path = str(tmp_path / "dimh" / "dim_user")
    before = {}
    for root, _, files in os.walk(path):
        for f in files:
            if f.startswith(("_", ".")):
                continue
            p = os.path.join(root, f)
            before[p] = (os.path.getsize(p), os.path.getmtime(p))
    # update ONE pk — only its hash partition may change
    st.apply("dim_user", _batch(spark, [("u0", "N0", 200)]))
    touched_part = (
        st.spark.createDataFrame([("u0",)], "id string")
        .select(F.pmod(F.xxhash64("id"), F.lit(8)).cast("int").alias("p"))
        .first()["p"]
    )
    changed = unchanged = 0
    for p, stamp in before.items():
        in_touched = f"_pk_part={touched_part}" in p
        still_same = os.path.exists(p) and (
            os.path.getsize(p), os.path.getmtime(p)
        ) == stamp
        if in_touched:
            changed += 1
        else:
            assert still_same, f"untouched partition file rewritten: {p}"
            unchanged += 1
    assert changed >= 1 and unchanged >= 1
    # and the history is correct after the partial rewrite
    h = _hist(st)
    assert h[("u0", 100)] == (200, False, "n0")
    assert h[("u0", 200)] == (None, True, "N0")
    assert h[("u1", 100)] == (None, True, "n1")
