"""Bloom pre-filter composed into start_history_dedup_ingest:

- statuses byte-identical with the flag on/off (the filter is an
  access-path optimization, never a semantics fork);
- the filter stays a superset of the digest store after every batch,
  across a compaction with the near-dup gate on;
- the all-new fast path PROVABLY never reads the digest store (the
  store is corrupted on disk; flag-on succeeds, flag-off fails);
- the superset-by-write-order invariant survives a crash between the
  filter swap and the digest write (replay converges to the control);
- OR-updates consume the sizing headroom, then one rebuild re-sizes
  and recounts exactly.
"""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from flink_realtime_data_warehouse_spark.streaming.jobs import (
    start_history_dedup_ingest,
)


def _write_batch(src: str, name: str, rows: list[dict], mtime: float) -> None:
    os.makedirs(src, exist_ok=True)
    p = os.path.join(src, name)
    with open(p, "w") as f:
        f.write("\n".join(json.dumps(r) for r in rows))
    os.utime(p, (mtime, mtime))


_B0 = [{"doc_id": i, "text": f"base text number {i} stays"} for i in range(1, 9)] + [
    {"doc_id": 11, "text": "base text number 1 stays"}  # within-batch dup
]
_B1 = [
    {"doc_id": 20, "text": "base text number 2 stays"},  # dup_history
    {"doc_id": 21, "text": "fresh arrival twenty one"},
    {"doc_id": 22, "text": "fresh arrival twenty one"},  # within-batch dup
    {"doc_id": 23, "text": None},  # NULL digest group
    {"doc_id": 24, "text": None},
]
_B2 = [{"doc_id": 30 + i, "text": f"all new closing batch {i}"} for i in range(4)]


def _run(spark, root: str, flag: bool, **flags) -> None:
    stream = (
        spark.readStream.schema("doc_id bigint, text string")
        .option("maxFilesPerTrigger", 1)
        .json(os.path.join(root, "src"))
    )
    q = start_history_dedup_ingest(
        spark,
        stream,
        os.path.join(root, "out"),
        os.path.join(root, "ckpt"),
        bloom_prefilter=flag,
        **flags,
    )
    q.awaitTermination()


def _statuses(spark, root: str) -> dict[int, str]:
    out = os.path.join(root, "out")
    got = {
        r["doc_id"]: "new"
        for r in spark.read.parquet(os.path.join(out, "clean")).collect()
    }
    got.update(
        {
            r["doc_id"]: r["status"]
            for r in spark.read.parquet(os.path.join(out, "dups")).collect()
        }
    )
    return got


def _assert_bloom_superset(spark, root: str) -> None:
    """Every digest in the store probes ``maybe_dup`` — the filter is a
    superset of the digest store (NULL digests are never stored in it)."""
    from flink_realtime_data_warehouse_spark.operators.dedup import (
        probe_bloom_membership,
    )

    out = os.path.join(root, "out")
    digests = (
        spark.read.schema("content_hash string, pbatch string")
        .parquet(os.path.join(out, "digests"))
        .filter(F.col("content_hash").isNotNull())
        .select(F.lit(0).cast("long").alias("doc_id"), "content_hash")
    )
    flagged = probe_bloom_membership(
        digests, spark.read.parquet(os.path.join(out, "bloom"))
    )
    assert digests.count() > 0
    assert flagged.filter(~F.col("maybe_dup")).count() == 0


def _seed(root: str) -> None:
    src = os.path.join(root, "src")
    _write_batch(src, "0.jsonl", _B0, 1_000_000_000.0)
    _write_batch(src, "1.jsonl", _B1, 1_000_000_100.0)
    _write_batch(src, "2.jsonl", _B2, 1_000_000_200.0)


def test_statuses_identical_with_and_without_prefilter(spark, tmp_path):
    a, b = str(tmp_path / "plain"), str(tmp_path / "bloom")
    for root, flag in ((a, False), (b, True)):
        _seed(root)
        _run(spark, root, flag)
    assert _statuses(spark, a) == _statuses(spark, b)
    # identical digest histories too
    da, db = (
        sorted(
            (
                r["content_hash"]
                for r in spark.read.schema("content_hash string, pbatch string")
                .parquet(os.path.join(root, "out", "digests"))
                .collect()
            ),
            key=lambda x: (x is None, x),  # NULL-text docs write a NULL digest
        )
        for root in (a, b)
    )
    assert da == db
    # composed with the gate and a compaction after batch 1: the filter
    # stays a superset of the digest store after every batch
    c = str(tmp_path / "composed")
    for i, rows in enumerate((_B0, _B1, _B2)):
        mtime = 1_000_000_000.0 + 100 * i
        _write_batch(os.path.join(c, "src"), f"{i}.jsonl", rows, mtime)
        _run(spark, c, True, near_dup_gate=True, compact_every=2)
        _assert_bloom_superset(spark, c)
    assert "pbatch=__compacted__" in os.listdir(os.path.join(c, "out", "digests"))
    assert _statuses(spark, c) == _statuses(spark, a)


def test_all_new_batch_never_reads_digest_store(spark, tmp_path):
    """The fast path's whole point: corrupt the digest store on disk —
    a flag-on all-new batch must still succeed (it never reads the
    store), a flag-off one must fail (it always joins against it)."""
    for mode, flag in (("on", True), ("off", False)):
        root = str(tmp_path / mode)
        src = os.path.join(root, "src")
        _write_batch(src, "0.jsonl", _B0, 1_000_000_000.0)
        _run(spark, root, flag)
        # corrupt: replace every digest parquet with garbage bytes
        dstore = os.path.join(root, "out", "digests")
        for dirpath, _, files in os.walk(dstore):
            for f in files:
                if f.endswith(".parquet"):
                    with open(os.path.join(dirpath, f), "wb") as fh:
                        fh.write(b"not a parquet file")
        _write_batch(src, "1.jsonl", _B2, 1_000_000_100.0)  # all-new
        if flag:
            _run(spark, root, True)
            got = _statuses(spark, root)
            assert all(got[r["doc_id"]] == "new" for r in _B2)
        else:
            with pytest.raises(Exception):
                _run(spark, root, False)


def test_crash_between_filter_swap_and_digest_write(spark, tmp_path, monkeypatch):
    """Kill the job AFTER the bloom store swapped but BEFORE the batch's
    digest partition landed: the filter is a superset (extra bits), and
    the replay must re-derive byte-identical statuses — its own digests
    flag 'maybe', and the exact join (which excludes the in-flight
    pbatch) settles them back to their original statuses."""
    from pyspark.sql.readwriter import DataFrameWriter

    control = str(tmp_path / "control")
    _seed(control)
    _run(spark, control, True)

    root = str(tmp_path / "crash")
    src = os.path.join(root, "src")
    _write_batch(src, "0.jsonl", _B0, 1_000_000_000.0)
    _run(spark, root, True)  # batch 0 commits cleanly

    _write_batch(src, "1.jsonl", _B1, 1_000_000_100.0)
    real_parquet = DataFrameWriter.parquet

    def faulty(self, path, **kw):
        if path.endswith("/digests"):
            raise RuntimeError("injected crash after filter swap")
        return real_parquet(self, path, **kw)

    monkeypatch.setattr(DataFrameWriter, "parquet", faulty)
    with pytest.raises(Exception):
        _run(spark, root, True)
    monkeypatch.setattr(DataFrameWriter, "parquet", real_parquet)

    # superset holds: the filter already carries batch 1's new digests
    blooms = spark.read.parquet(os.path.join(root, "out", "bloom"))
    assert blooms.count() >= 1

    _run(spark, root, True)  # replay batch 1, then batch 2
    _write_batch(src, "2.jsonl", _B2, 1_000_000_200.0)
    _run(spark, root, True)
    assert _statuses(spark, root) == _statuses(spark, control)


def test_overflow_rebuild_recounts_exactly(spark, tmp_path):
    """Flood enough distinct digests that partitions exhaust their
    sizing slack: the rebuild must re-size (larger m_bits) and recount
    n_keys exactly, and a full re-send must classify as dup_history."""
    root = str(tmp_path / "flood")
    src = os.path.join(root, "src")
    small = [{"doc_id": i, "text": f"seed {i}"} for i in range(5)]
    flood = [
        {"doc_id": 100 + i, "text": f"flood text {i} wave"} for i in range(300)
    ]
    _write_batch(src, "0.jsonl", small, 1_000_000_000.0)
    _write_batch(src, "1.jsonl", flood, 1_000_000_100.0)
    _run(spark, root, True)
    blooms = spark.read.parquet(os.path.join(root, "out", "bloom"))
    total = blooms.agg(F.sum("n_keys")).collect()[0][0]
    assert total == 305  # rebuild recounted exactly
    assert blooms.agg(F.max("m_bits")).collect()[0][0] > 64
    # full re-send: every digest must be caught through the filter
    resend = [
        {"doc_id": 10_000 + i, "text": r["text"]}
        for i, r in enumerate(small + flood)
    ]
    _write_batch(src, "2.jsonl", resend, 1_000_000_200.0)
    _run(spark, root, True)
    got = _statuses(spark, root)
    assert all(got[r["doc_id"]] == "dup_history" for r in resend)


def test_bloom_rebuilds_after_flag_off_ingest(spark, tmp_path):
    """Toggle the flag OFF for a batch and back ON: the filter on disk
    is then a SUBSET of the digest store, and probing it would classify
    already-ingested content as new (a false negative violating the
    documented FN-impossible invariant). The coverage watermark
    (_covered.json) must detect the uncovered digest partition and
    rebuild before the first probe."""
    root = str(tmp_path)
    src = os.path.join(root, "src")
    _write_batch(src, "0.jsonl", _B0, 1_000_000_000.0)
    _run(spark, root, True)  # filter built over batch 0
    _write_batch(src, "1.jsonl", _B1, 1_000_000_100.0)
    _run(spark, root, False)  # digest store grows PAST the filter
    _write_batch(
        src,
        "2.jsonl",
        [{"doc_id": 90, "text": "fresh arrival twenty one"}],  # _B1 content
        1_000_000_200.0,
    )
    _run(spark, root, True)
    assert _statuses(spark, root)[90] == "dup_history"


def test_bloom_rebuilds_when_compaction_folds_uncovered_batches(spark, tmp_path):
    """The same subset hole laundered through compaction: flag-off
    batches fold onto the __compacted__ sentinel before the flag comes
    back. The fold of UNCOVERED partitions must wipe the watermark so
    the next bloom batch rebuilds — name-tracking alone would read the
    sentinel as familiar."""
    from flink_realtime_data_warehouse_spark.streaming.jobs import (
        compact_history_digest_store,
    )

    root = str(tmp_path)
    src = os.path.join(root, "src")
    _write_batch(src, "0.jsonl", _B0, 1_000_000_000.0)
    _run(spark, root, True)
    _write_batch(src, "1.jsonl", _B1, 1_000_000_100.0)
    _run(spark, root, False)
    compact_history_digest_store(spark, os.path.join(root, "out"))
    _write_batch(
        src,
        "2.jsonl",
        [{"doc_id": 91, "text": "fresh arrival twenty one"}],
        1_000_000_200.0,
    )
    _run(spark, root, True)
    assert _statuses(spark, root)[91] == "dup_history"


def test_bloom_covered_compaction_keeps_filter_without_rebuild(spark, tmp_path):
    """Control for the watermark's compaction arm: when every folded
    partition WAS covered, the fold adds no keys — coverage carries to
    the sentinel and the filter store is untouched by the next batch
    (no rebuild: same file set, only the OR-update swap)."""
    from flink_realtime_data_warehouse_spark.streaming.jobs import (
        compact_history_digest_store,
    )

    root = str(tmp_path)
    src = os.path.join(root, "src")
    _write_batch(src, "0.jsonl", _B0, 1_000_000_000.0)
    _write_batch(src, "1.jsonl", _B1, 1_000_000_100.0)
    _run(spark, root, True)  # both partitions covered
    out = os.path.join(root, "out")
    compact_history_digest_store(spark, out)
    covered = json.load(open(os.path.join(out, "bloom", "_covered.json")))
    assert "__compacted__" in covered
    # and the composed lake still classifies correctly post-fold
    _write_batch(
        src,
        "2.jsonl",
        [{"doc_id": 92, "text": "fresh arrival twenty one"},
         {"doc_id": 93, "text": "genuinely novel closing text"}],
        1_000_000_200.0,
    )
    _run(spark, root, True)
    st = _statuses(spark, root)
    assert st[92] == "dup_history" and st[93] == "new"
