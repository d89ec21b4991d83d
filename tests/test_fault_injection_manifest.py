"""End-to-end fault injection under the LOG-MANIFEST backend (r10
verdict item 1): the same streaming topologies the parquet-swap
fault-injection tier kills, killed at the manifest backend's own
crash points — stage write, segment adoption, manifest commit. The
invariant being proven is DIFFERENT from the parquet tier's: there is
no half-swap to repair; a kill anywhere before the manifest replace
leaves the previous snapshot fully readable, and the checkpoint
replay converges by replacing its own partitions in one commit."""

from __future__ import annotations

import hashlib
import json
import os

import pytest
from pyspark.sql import functions as F

from flink_realtime_data_warehouse_spark.streaming import table_format
from flink_realtime_data_warehouse_spark.streaming.sinks import DimStore
from flink_realtime_data_warehouse_spark.streaming.table_format import (
    FORMAT,
    set_table_format,
)


@pytest.fixture(autouse=True)
def _manifest_backend():
    set_table_format("log-manifest")
    yield
    set_table_format(None)


def _seg_stamps(store_dir: str) -> dict:
    """{segment-relative file: md5} over committed seg- dirs."""
    out = {}
    for seg in os.listdir(store_dir):
        if not seg.startswith("seg-"):
            continue
        for r, _d, files in os.walk(os.path.join(store_dir, seg)):
            for f in files:
                p = os.path.join(r, f)
                with open(p, "rb") as fh:
                    out[os.path.relpath(p, store_dir)] = hashlib.md5(
                        fh.read()
                    ).hexdigest()
    return out


def test_dim_upsert_kill_at_manifest_commit_replays(
    spark, tmp_path, monkeypatch
):
    store = DimStore(spark, str(tmp_path / "dim"))
    ids = [str(i) for i in range(1, 9)]
    store.upsert(
        "t",
        spark.createDataFrame([(i, f"v{i}") for i in ids], ["id", "name"]),
    )
    table_dir = str(tmp_path / "dim" / "t")
    before = _seg_stamps(table_dir)

    batch2 = spark.createDataFrame(
        [("1", "NEW1"), ("5", "NEW5")], ["id", "name"]
    )
    real = table_format.atomic_write_text
    state = {"armed": True}

    def kill_commit(path, text):
        if state["armed"] and f"{os.sep}t{os.sep}_log{os.sep}" in path:
            state["armed"] = False
            raise RuntimeError("injected kill at manifest commit")
        return real(path, text)

    monkeypatch.setattr(table_format, "atomic_write_text", kill_commit)
    with pytest.raises(Exception, match="injected"):
        store.upsert("t", batch2)
    monkeypatch.setattr(table_format, "atomic_write_text", real)

    # the defining manifest property: the crashed batch is INVISIBLE —
    # no repair needed to read the pre-batch truth
    got = {r["id"]: r["name"] for r in store.read("t").collect()}
    assert got == {i: f"v{i}" for i in ids}
    # every pre-crash segment file is byte-identical (nothing moved)
    after = _seg_stamps(table_dir)
    for k, v in before.items():
        assert after[k] == v

    # replay converges; repair (run by read/upsert) reclaims the orphan
    store.upsert("t", batch2)
    got = {r["id"]: r["name"] for r in store.read("t").collect()}
    assert got == {
        i: (f"NEW{i}" if i in ("1", "5") else f"v{i}") for i in ids
    }
    # vacuum leaves exactly the live segments and the latest manifest
    FORMAT.sweep_husks(table_dir)
    live = json.loads(
        open(
            os.path.join(
                table_dir,
                "_log",
                sorted(os.listdir(os.path.join(table_dir, "_log")))[-1],
            )
        ).read()
    )
    on_disk = {d for d in os.listdir(table_dir) if d.startswith("seg-")}
    referenced = {loc.split("/", 1)[0] for loc in live["partitions"].values()}
    assert on_disk == referenced


def test_history_dedup_kill_before_dups_stage_replays(
    spark, tmp_path, monkeypatch
):
    """Kill the ingest while STAGING the dups sink (clean already
    committed): restart re-derives the batch; every sink's
    overwrite_partitions replaces its own pbatch partitions in one
    manifest commit, so no duplicate admission and no stacking."""
    from pyspark.sql.readwriter import DataFrameWriter

    from flink_realtime_data_warehouse_spark.streaming.jobs import (
        start_history_dedup_ingest,
    )

    src = str(tmp_path / "docs")
    os.makedirs(src, exist_ok=True)
    with open(os.path.join(src, "b1.jsonl"), "w") as f:
        f.write("\n".join(json.dumps(r) for r in [
            {"doc_id": 1, "text": "one one one"},
            {"doc_id": 2, "text": "two two two"},
            {"doc_id": 3, "text": "one one one"},  # within-batch dup
        ]))

    def run():
        stream = (
            spark.readStream.schema("doc_id bigint, text string")
            .option("maxFilesPerTrigger", 1)
            .json(src)
        )
        q = start_history_dedup_ingest(
            spark, stream, str(tmp_path / "out"), str(tmp_path / "ckpt")
        )
        q.awaitTermination()

    real_parquet = DataFrameWriter.parquet

    def faulty_parquet(self, path, **kw):
        # manifest staging sibling of the dups store
        if "dups__stage_" in path:
            raise RuntimeError("injected crash at dups stage write")
        return real_parquet(self, path, **kw)

    monkeypatch.setattr(DataFrameWriter, "parquet", faulty_parquet)
    with pytest.raises(Exception):
        run()
    monkeypatch.setattr(DataFrameWriter, "parquet", real_parquet)

    out = str(tmp_path / "out")
    # clean committed, dups never did
    assert FORMAT.exists(os.path.join(out, "clean"))
    assert not FORMAT.exists(os.path.join(out, "dups"))

    run()  # restart replays the uncommitted batch
    clean = sorted(
        r.doc_id
        for r in FORMAT.read(
            spark, os.path.join(out, "clean"),
            "doc_id bigint, text string, pbatch string",
        ).collect()
    )
    assert clean == [1, 2]
    dups = {
        r.doc_id: r.status
        for r in FORMAT.read(
            spark, os.path.join(out, "dups"),
            "doc_id bigint, content_hash string, status string, pbatch string",
        ).collect()
    }
    assert dups == {3: "dup_batch"}
    dig = FORMAT.read(
        spark, os.path.join(out, "digests"),
        "content_hash string, pbatch string",
    )
    assert dig.select("content_hash").distinct().count() == 2
    assert (
        FORMAT.read(
            spark, os.path.join(out, "clean"),
            "doc_id bigint, text string, pbatch string",
        ).select("pbatch").distinct().count()
        == 1
    )


def test_rollup_kill_compact_expire_twin(spark, tmp_path, monkeypatch):
    """The composed scenario under the manifest backend: batch killed
    at its store commit → replay → compact (swap_rewrite) → day expiry
    (pure log entry, None husk) → vacuum. The serving read must equal
    a never-crashed twin's at every step."""
    from flink_realtime_data_warehouse_spark.streaming.rollup import (
        compact_minute_rollup,
        continuous_minute_rollup_job,
        expire_rollup_chunks,
        read_minute_rollup,
    )

    rows_by_batch = [
        [
            {"event_time": "2024-05-01T10:00:05", "value": 1.0},
            {"event_time": "2024-05-01T10:00:55", "value": 2.0},
        ],
        [
            {"event_time": "2024-05-02T11:00:05", "value": 5.0},
            {"event_time": "2024-05-03T12:00:05", "value": 7.0},
        ],
    ]

    def build(root: str, kill_batch_commit: bool) -> str:
        src = os.path.join(root, "events")
        os.makedirs(src, exist_ok=True)
        store = os.path.join(root, "store")
        for bi, rows in enumerate(rows_by_batch):
            with open(os.path.join(src, f"b{bi}.jsonl"), "w") as f:
                f.write("\n".join(json.dumps(r) for r in rows))

            def run():
                events = (
                    spark.readStream.schema(
                        "event_time timestamp, value double"
                    ).json(src)
                )
                q = continuous_minute_rollup_job(
                    events, store, os.path.join(root, "ckpt")
                )
                q.awaitTermination()

            if kill_batch_commit and bi == 1:
                real = table_format.atomic_write_text
                state = {"armed": True}

                def kill(path, text, _real=real, _state=state):
                    if _state["armed"] and f"store{os.sep}_log" in path:
                        _state["armed"] = False
                        raise RuntimeError("injected kill at rollup commit")
                    return _real(path, text)

                monkeypatch.setattr(table_format, "atomic_write_text", kill)
                with pytest.raises(Exception):
                    run()
                monkeypatch.setattr(table_format, "atomic_write_text", real)
                run()  # replay
            else:
                run()
        return store

    crashed = build(str(tmp_path / "a"), kill_batch_commit=True)
    twin = build(str(tmp_path / "b"), kill_batch_commit=False)

    def serving(store):
        return sorted(
            (r.bucket_ms, r.n_events, r.total_value, r.max_value)
            for r in read_minute_rollup(spark, store).collect()
        )

    assert serving(crashed) == serving(twin)
    for store in (crashed, twin):
        compact_minute_rollup(spark, store)
    assert serving(crashed) == serving(twin)
    for store in (crashed, twin):
        dropped = expire_rollup_chunks(spark, store, keep_days=2)
        assert dropped == ["2024-05-01"]
        FORMAT.sweep_husks(store)
    assert serving(crashed) == serving(twin)
    assert FORMAT.list_partitions(crashed, "pday") == [
        "2024-05-02",
        "2024-05-03",
    ]
    # vacuumed store: every on-disk segment referenced by the manifest
    m = json.loads(
        open(
            os.path.join(
                crashed,
                "_log",
                sorted(os.listdir(os.path.join(crashed, "_log")))[-1],
            )
        ).read()
    )
    on_disk = {d for d in os.listdir(crashed) if d.startswith("seg-")}
    referenced = {
        loc.split("/", 1)[0] for loc in m["partitions"].values()
    } | set(m["segments"])
    assert on_disk == referenced
