"""History-aware streaming dedup: the digest store blocks duplicates
across micro-batches AND across job restarts; replays are idempotent."""

import json
import os

import pytest

from flink_realtime_data_warehouse_spark.streaming.jobs import (
    start_history_dedup_ingest,
)


def _write_batch(src, name, rows):
    with open(os.path.join(src, name), "w") as f:
        f.write("\n".join(json.dumps(r) for r in rows) + "\n")


def _run(spark, tmp_path, ckpt="ckpt"):
    stream = (
        spark.readStream.schema("doc_id bigint, text string")
        .option("maxFilesPerTrigger", 1)
        .json(str(tmp_path / "docs"))
    )
    q = start_history_dedup_ingest(
        spark, stream, str(tmp_path / "out"), str(tmp_path / ckpt)
    )
    q.awaitTermination(150)


def test_cross_batch_and_within_batch_dups_routed(spark, tmp_path):
    src = str(tmp_path / "docs")
    os.makedirs(src, exist_ok=True)
    _write_batch(src, "b1.jsonl", [
        {"doc_id": 1, "text": "first unique document"},
        {"doc_id": 2, "text": "second unique document"},
        {"doc_id": 3, "text": "second unique document"},  # dup within batch
    ])
    _write_batch(src, "b2.jsonl", [
        {"doc_id": 4, "text": "first unique document"},  # dup vs batch-1 history
        {"doc_id": 5, "text": "third unique document"},
    ])
    _run(spark, tmp_path)

    clean = spark.read.parquet(str(tmp_path / "out" / "clean"))
    dups = spark.read.parquet(str(tmp_path / "out" / "dups"))
    assert sorted(r.doc_id for r in clean.collect()) == [1, 2, 5]
    drows = {r.doc_id: r.status for r in dups.collect()}
    assert drows == {3: "dup_batch", 4: "dup_history"}
    # the digest store holds exactly the unique content hashes
    digests = spark.read.parquet(str(tmp_path / "out" / "digests"))
    assert digests.select("content_hash").distinct().count() == 3


def test_history_survives_job_restart(spark, tmp_path):
    src = str(tmp_path / "docs")
    os.makedirs(src, exist_ok=True)
    _write_batch(src, "b1.jsonl", [{"doc_id": 1, "text": "remembered forever"}])
    _run(spark, tmp_path, "ckpt1")
    # a NEW job (fresh checkpoint) still sees the digest store
    _write_batch(src, "b2.jsonl", [{"doc_id": 2, "text": "remembered forever"}])
    stream = (
        spark.readStream.schema("doc_id bigint, text string")
        .option("maxFilesPerTrigger", 1)
        .json(src)
    )
    q = start_history_dedup_ingest(
        spark, stream, str(tmp_path / "out"), str(tmp_path / "ckpt2")
    )
    q.awaitTermination(150)
    dups = spark.read.parquet(str(tmp_path / "out" / "dups"))
    # the fresh checkpoint re-reads b1 too: doc 1 (already ingested by
    # incarnation 1) correctly classifies dup_history instead of being
    # silently re-admitted — exactly one copy of each text in clean
    assert {r.doc_id: r.status for r in dups.collect()} == {
        1: "dup_history",
        2: "dup_history",
    }
    clean = spark.read.parquet(str(tmp_path / "out" / "clean"))
    assert sorted(r.doc_id for r in clean.collect()) == [1]


def test_replay_idempotent_same_checkpoint(spark, tmp_path):
    """True replay = Spark redelivering a batch from the SAME checkpoint
    (e.g. after a crash between sink write and commit). The redelivered
    batch has the same batch_id and run_id, so it overwrites its own
    partition and must not see its own first-attempt digests."""
    import shutil

    src = str(tmp_path / "docs")
    os.makedirs(src, exist_ok=True)
    _write_batch(src, "b1.jsonl", [
        {"doc_id": 1, "text": "doc one"},
        {"doc_id": 2, "text": "doc two"},
    ])
    _run(spark, tmp_path, "ckpt1")
    before_clean = sorted(
        r.doc_id for r in spark.read.parquet(str(tmp_path / "out" / "clean")).collect()
    )
    # simulate the crash-after-write: erase the commit marker so the
    # restarted query redelivers batch 0 with the SAME batch_id
    commits = tmp_path / "ckpt1" / "commits"
    shutil.rmtree(str(commits))
    _run(spark, tmp_path, "ckpt1")
    clean = spark.read.parquet(str(tmp_path / "out" / "clean"))
    assert sorted(r.doc_id for r in clean.collect()) == before_clean == [1, 2]
    dups_dir = str(tmp_path / "out" / "dups")
    if os.path.exists(dups_dir):
        try:
            assert spark.read.parquet(dups_dir).count() == 0
        except Exception:
            pass  # empty sink dir with no parquet footers


def test_new_incarnation_preserves_history_and_rededups(spark, tmp_path):
    """A fresh-checkpoint rerun is a NEW incarnation, not a replay: its
    batch ids restart at 0 but its run_id differs, so it must NOT
    dynamic-overwrite the prior incarnation's pbatch=...-0 partitions,
    and re-submitted documents classify as dup_history (exactly one
    copy ever reaches clean)."""
    src = str(tmp_path / "docs")
    os.makedirs(src, exist_ok=True)
    _write_batch(src, "b1.jsonl", [
        {"doc_id": 1, "text": "doc one"},
        {"doc_id": 2, "text": "doc two"},
    ])
    _run(spark, tmp_path, "ckpt1")
    # second incarnation over the same corpus plus one new doc
    src2 = str(tmp_path / "docs2")
    os.makedirs(src2, exist_ok=True)
    _write_batch(src2, "c1.jsonl", [
        {"doc_id": 11, "text": "doc one"},
        {"doc_id": 12, "text": "a genuinely new doc"},
    ])
    stream = (
        spark.readStream.schema("doc_id bigint, text string")
        .option("maxFilesPerTrigger", 1)
        .json(src2)
    )
    q = start_history_dedup_ingest(
        spark, stream, str(tmp_path / "out"), str(tmp_path / "ckpt2")
    )
    q.awaitTermination(150)
    clean = spark.read.parquet(str(tmp_path / "out" / "clean"))
    # incarnation-1 clean rows survived; only the new doc was admitted
    assert sorted(r.doc_id for r in clean.collect()) == [1, 2, 12]
    dups = spark.read.parquet(str(tmp_path / "out" / "dups"))
    assert {r.doc_id: r.status for r in dups.collect()} == {11: "dup_history"}
    # digest store holds one hash per distinct content, across incarnations
    digests = spark.read.parquet(str(tmp_path / "out" / "digests"))
    assert digests.select("content_hash").distinct().count() == 3


def test_incarnation_id_spelling_independent(spark, tmp_path):
    """r4 ADVICE: run_id keyed on the literal checkpoint string made a
    trailing slash / relative path / symlink a 'new incarnation'. The
    id now lives inside the checkpoint directory — every spelling that
    resolves to the same directory must yield the same id, and a
    crash-replay through a DIFFERENT spelling must overwrite its own
    partition, not mint a duplicate one."""
    import shutil

    from flink_realtime_data_warehouse_spark.streaming.jobs import (
        _incarnation_id,
    )

    ckpt = tmp_path / "ckpt1"
    rid = _incarnation_id(str(ckpt))
    assert _incarnation_id(str(ckpt) + "/") == rid
    assert _incarnation_id("file:" + str(ckpt)) == rid
    link = tmp_path / "ckpt_link"
    os.symlink(str(ckpt), str(link))
    assert _incarnation_id(str(link)) == rid

    # rm -rf of the checkpoint at the SAME path is a new incarnation:
    # a path-derived id would resurrect the old one and let batch 0
    # dynamic-overwrite (and history-exclude) the prior incarnation's
    # pbatch=<rid>-0 digest partition.
    shutil.rmtree(str(ckpt))
    rid2 = _incarnation_id(str(ckpt))
    assert rid2 != rid
    # and the marker file is the persisted identity, never empty
    assert (ckpt / "frdw_run_id").read_text().strip() == rid2

    # end-to-end: replay through the trailing-slash spelling
    src = str(tmp_path / "docs")
    os.makedirs(src, exist_ok=True)
    _write_batch(src, "b1.jsonl", [{"doc_id": 1, "text": "doc one"}])
    _run(spark, tmp_path, "ckpt1")
    shutil.rmtree(str(ckpt / "commits"))
    stream = (
        spark.readStream.schema("doc_id bigint, text string")
        .option("maxFilesPerTrigger", 1)
        .json(src)
    )
    q = start_history_dedup_ingest(
        spark, stream, str(tmp_path / "out"), str(ckpt) + "/"
    )
    q.awaitTermination(150)
    digests = spark.read.parquet(str(tmp_path / "out" / "digests"))
    # one digest row in ONE pbatch partition — no duplicate partition
    assert digests.select("pbatch").distinct().count() == 1
    assert digests.count() == 1


def test_processing_time_trigger_starts_and_drains(spark, tmp_path):
    """``available_now=False`` runs on the default processing-time
    trigger: the query starts, drains what is there, and stops."""
    src = str(tmp_path / "docs")
    os.makedirs(src, exist_ok=True)
    _write_batch(src, "b1.jsonl", [
        {"doc_id": 1, "text": "kept running"},
        {"doc_id": 2, "text": "kept running"},
    ])
    stream = spark.readStream.schema("doc_id bigint, text string").json(src)
    q = start_history_dedup_ingest(
        spark,
        stream,
        str(tmp_path / "out"),
        str(tmp_path / "ckpt"),
        available_now=False,
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    clean = spark.read.parquet(str(tmp_path / "out" / "clean"))
    assert [r.doc_id for r in clean.collect()] == [1]


_GATE_BASE = "alpha beta gamma delta epsilon zeta eta theta iota kappa"

#: three batches with in-batch and cross-batch exact dups and near-dups,
#: so the gate's later batches probe a band history that already exists
_READ_ONCE_BATCHES = [
    [
        {"doc_id": 1, "text": _GATE_BASE},
        {"doc_id": 2, "text": "second wholly unrelated document body"},
        {"doc_id": 3, "text": _GATE_BASE},
    ],
    [
        {"doc_id": 4, "text": _GATE_BASE + " lambda"},
        {"doc_id": 5, "text": "second wholly unrelated document body"},
        {"doc_id": 6, "text": "fresh words arrive in batch one"},
        {"doc_id": 7, "text": None},
    ],
    [
        {"doc_id": 8, "text": _GATE_BASE + " mu"},
        {"doc_id": 9, "text": "fresh words arrive in batch one"},
        {"doc_id": 10, "text": "closing batch with novel content only"},
    ],
]


@pytest.mark.parametrize(
    "flags",
    [
        {},
        {"near_dup_gate": True},
        {"bloom_prefilter": True},
        {"near_dup_gate": True, "bloom_prefilter": True, "compact_every": 2},
    ],
    ids=["plain", "gate", "bloom", "gate_bloom_compact"],
)
def test_each_micro_batch_reads_its_source_once(spark, tmp_path, flags):
    """Every stage derives from one persisted read of the micro-batch,
    so the source's ``numInputRows`` is the row count of its file, not
    a multiple of it."""
    src = str(tmp_path / "docs")
    os.makedirs(src, exist_ok=True)
    for i, rows in enumerate(_READ_ONCE_BATCHES):
        _write_batch(src, f"b{i}.jsonl", rows)
        mtime = 1_000_000_000.0 + i  # file-source batches follow mtime order
        os.utime(os.path.join(src, f"b{i}.jsonl"), (mtime, mtime))
    stream = (
        spark.readStream.schema("doc_id bigint, text string")
        .option("maxFilesPerTrigger", 1)
        .json(src)
    )
    q = start_history_dedup_ingest(
        spark, stream, str(tmp_path / "out"), str(tmp_path / "ckpt"), **flags
    )
    q.awaitTermination(300)
    read = {
        p.batchId: p.numInputRows
        for p in q.recentProgress
        if "addBatch" in (p.durationMs or {})
    }
    assert read == {i: len(rows) for i, rows in enumerate(_READ_ONCE_BATCHES)}
