"""df-capped incremental LSH ingest gate (round-7 item 1): the round-6
boilerplate defense composed into the persisted index + df store +
streaming ingest. Clean corpora must be byte-identical to the uncapped
gate; planted boilerplate must blow up the uncapped probe while the
capped probe stays bounded by true near-dup collisions."""

import json
import os
import sys

import pytest
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

BOILER = (
    "by continuing to browse this website you agree that cookies and "
    "similar tracking technologies may be stored on your device and "
    "used to analyze traffic personalize content and serve targeted "
    "advertisements as described in our privacy policy"
)  # 36 words -> 34 fixed shingles shared by every carrier

CAP = 8  #: test-sized df cap (the operators parameterize the cap)


def _corpus(spark, n_hist=60, n_inc=20, n_pairs=5):
    """(hist_df, inc_df, planted) — unique 6-word docs; 30% carry the
    boilerplate tail; incoming docs 0..n_pairs-1 are near-dup copies of
    history docs 0..n_pairs-1 (one word appended)."""

    def text(i):
        # 14 words -> 12 doc-specific shingles: enough that one
        # appended word rarely steals a whole band's signature slots
        base = " ".join(f"u{i}w{j}" for j in range(14))
        return f"{base} {BOILER}" if i % 10 < 3 else base

    hist = [(i, text(i)) for i in range(n_hist)]
    inc = []
    planted = set()
    for k in range(n_inc):
        doc_id = 10_000 + k
        if k < n_pairs:
            inc.append((doc_id, text(k) + f" xtra{k}"))
            planted.add((doc_id, k))
        else:
            inc.append((doc_id, text(n_hist + k)))
    mk = lambda rows: spark.createDataFrame(rows, "doc_id bigint, text string")
    return mk(hist), mk(inc), planted


def test_dfcap_incr_oracle_parity(spark, sf_dir):
    from oracle_utils import compare_query_to_oracle

    from flink_realtime_data_warehouse_spark.plans.loader import load_all

    queries, oracles = load_all()
    compare_query_to_oracle(
        queries["dedup_incremental_lsh_dfcap"](spark, sf_dir),
        oracles["dedup_incremental_lsh_dfcap"],
        sf_dir,
    )


def test_dfcap_equals_uncapped_on_clean_corpus(spark, sf_dir):
    """No fixture shingle crosses the 256-doc cap, so the capped gate
    must emit byte-identical candidates to the uncapped gate."""
    from flink_realtime_data_warehouse_spark.plans.loader import load_all

    queries, _ = load_all()
    capped = [
        tuple(r)
        for r in queries["dedup_incremental_lsh_dfcap"](spark, sf_dir).collect()
    ]
    uncapped = [
        tuple(r) for r in queries["dedup_incremental_lsh"](spark, sf_dir).collect()
    ]
    assert capped == uncapped


def test_capped_index_build_append_probe_matches_inplan(spark, tmp_path, sf_dir):
    """build(history) + probe(incoming) through the persisted capped
    index must equal the in-plan registry row, and a two-step
    build+append on a clean corpus must (a) never rewrite existing
    files and (b) reach the same probe candidates as one-step build."""
    from flink_realtime_data_warehouse_spark.operators.dedup import (
        INCR_HISTORY_MOD,
        append_dedup_lsh_index_capped,
        build_dedup_lsh_index_capped,
        probe_dedup_lsh_index_capped,
    )
    from flink_realtime_data_warehouse_spark.plans.loader import load_all
    from flink_realtime_data_warehouse_spark.sources.tables import load_table

    queries, _ = load_all()
    docs = load_table(spark, sf_dir, "documents")
    is_inc = F.pmod("doc_id", F.lit(INCR_HISTORY_MOD)) == INCR_HISTORY_MOD - 1
    hist = docs.filter(~is_inc)
    inc = docs.filter(is_inc)

    idx1 = str(tmp_path / "one_step")
    build_dedup_lsh_index_capped(hist, idx1)
    probed = {
        (r.doc_new, r.doc_hist)
        for r in probe_dedup_lsh_index_capped(spark, inc, idx1).collect()
    }
    inplan = {
        (r.doc_new, r.doc_hist)
        for r in queries["dedup_incremental_lsh_dfcap"](spark, sf_dir).collect()
    }
    assert probed == inplan

    idx2 = str(tmp_path / "two_step")
    first = hist.filter(F.pmod("doc_id", F.lit(2)) == 0)
    rest = hist.filter(F.pmod("doc_id", F.lit(2)) == 1)
    build_dedup_lsh_index_capped(first, idx2)

    def file_stamps():
        out = {}
        for root, _, files in os.walk(idx2):
            for f in files:
                if f.endswith(".parquet"):
                    p = os.path.join(root, f)
                    out[p] = (os.path.getmtime(p), os.path.getsize(p))
        return out

    before = file_stamps()
    append_dedup_lsh_index_capped(rest, idx2)
    after = file_stamps()
    for p, stamp in before.items():
        assert after[p] == stamp, f"existing index file rewritten: {p}"
    assert len(after) > len(before)
    probed2 = {
        (r.doc_new, r.doc_hist)
        for r in probe_dedup_lsh_index_capped(spark, inc, idx2).collect()
    }
    # clean corpus: no shingle crosses the cap between steps, so the
    # two-step index probes identically
    assert probed2 == probed


def test_boilerplate_cliff_capped_probe_bounded(spark, tmp_path):
    """The measured round-6 cliff, at the INGEST GATE: uncapped probe
    candidates explode with (carriers_inc x carriers_hist) under 30%
    boilerplate incidence; the capped probe emits exactly the planted
    near-dup pairs."""
    from flink_realtime_data_warehouse_spark.operators.dedup import (
        build_dedup_lsh_index,
        build_dedup_lsh_index_capped,
        probe_dedup_lsh_index,
        probe_dedup_lsh_index_capped,
    )

    hist, inc, planted = _corpus(spark)

    idx_cap = str(tmp_path / "capped")
    build_dedup_lsh_index_capped(hist, idx_cap, cap=CAP)
    capped = {
        (r.doc_new, r.doc_hist)
        for r in probe_dedup_lsh_index_capped(spark, inc, idx_cap, cap=CAP).collect()
    }
    idx_unc = str(tmp_path / "uncapped")
    build_dedup_lsh_index(hist, idx_unc)
    uncapped = {
        (r.doc_new, r.doc_hist)
        for r in probe_dedup_lsh_index(spark, inc, idx_unc).collect()
    }

    # recall: every planted near-dup pair survives the cap
    assert planted <= capped
    # boundedness: nothing beyond the planted pairs (doc-specific
    # shingles are unique per doc by construction)
    assert capped == planted
    # the cliff: boilerplate carriers collide wholesale uncapped
    assert len(uncapped) > 20 * len(capped)


def test_cap_crossing_mid_stream_stops_banding(spark, tmp_path):
    """A shingle under the cap at build time that crosses it during a
    later append must stop banding FROM THAT BATCH ON: probes after
    the crossing stay bounded even though early history rows banded
    the (then-cold) shingle."""
    from flink_realtime_data_warehouse_spark.operators.dedup import (
        append_dedup_lsh_index_capped,
        build_dedup_lsh_index_capped,
        probe_dedup_lsh_index_capped,
    )

    def carrier(i):
        return (i, " ".join(f"c{i}w{j}" for j in range(6)) + " " + BOILER)

    # batch 1: 5 carriers (df=5 <= cap 8: boilerplate still cold)
    b1 = spark.createDataFrame([carrier(i) for i in range(5)],
                               "doc_id bigint, text string")
    # batch 2: 20 more carriers -> accumulated df 25 > 8: crosses cap
    b2 = spark.createDataFrame([carrier(100 + i) for i in range(20)],
                               "doc_id bigint, text string")
    probe = spark.createDataFrame([carrier(9_000 + i) for i in range(10)],
                                  "doc_id bigint, text string")

    idx = str(tmp_path / "crossing")
    build_dedup_lsh_index_capped(b1, idx, cap=CAP)
    append_dedup_lsh_index_capped(b2, idx, cap=CAP)
    got = {
        (r.doc_new, r.doc_hist)
        for r in probe_dedup_lsh_index_capped(spark, probe, idx, cap=CAP).collect()
    }
    # the probe docs cap away the boilerplate (accumulated df 25+10),
    # so they can only collide with history rows whose bands still
    # carry it — i.e. nothing from batch 2 (banded after the
    # crossing); batch-1 rows banded the cold shingle with keys that
    # mix doc-specific minima, so any residual hit is batch-1 only
    assert all(h < 100 for _, h in got)


def test_streaming_near_dup_gate(spark, tmp_path):
    """End-to-end ingest with near_dup_gate=True: exact dups still
    route to dups, near-dups land in clean WITH candidate evidence in
    near_dups, and the lsh band/df stores accumulate per batch."""
    from flink_realtime_data_warehouse_spark.streaming.jobs import (
        start_history_dedup_ingest,
    )

    src = str(tmp_path / "docs")
    os.makedirs(src, exist_ok=True)
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"

    def write(name, rows):
        with open(os.path.join(src, name), "w") as f:
            f.write("\n".join(json.dumps(r) for r in rows) + "\n")

    write("b1.jsonl", [
        {"doc_id": 1, "text": base},
        {"doc_id": 2, "text": "totally different words entirely here now"},
    ])
    write("b2.jsonl", [
        {"doc_id": 3, "text": base},             # exact dup of 1
        {"doc_id": 4, "text": base + " lambda"},  # near-dup of 1
        {"doc_id": 5, "text": "unrelated fresh content appears in this doc"},
    ])
    stream = (
        spark.readStream.schema("doc_id bigint, text string")
        .option("maxFilesPerTrigger", 1)
        .json(src)
    )
    q = start_history_dedup_ingest(
        spark, stream, str(tmp_path / "out"), str(tmp_path / "ckpt"),
        near_dup_gate=True,
    )
    q.awaitTermination(200)

    out = tmp_path / "out"
    dups = {r.doc_id: r.status for r in
            spark.read.parquet(str(out / "dups")).collect()}
    assert dups == {3: "dup_history"}
    clean_ids = sorted(
        r.doc_id for r in spark.read.parquet(str(out / "clean")).collect()
    )
    assert clean_ids == [1, 2, 4, 5]
    near = {
        (r.doc_id, r.doc_hist)
        for r in spark.read.parquet(str(out / "near_dups")).collect()
    }
    assert near == {(4, 1)}
    # the stores accumulated: bands + df deltas for both batches
    bands = spark.read.parquet(str(out / "lsh" / "bands"))
    assert bands.select("pbatch").distinct().count() == 2
    assert set(r.doc_id for r in bands.select("doc_id").distinct().collect()) == {
        1, 2, 4, 5,
    }
    df_store = spark.read.parquet(str(out / "lsh" / "df"))
    assert df_store.select("pbatch").distinct().count() == 2


def test_streaming_near_dup_gate_replay_idempotent(spark, tmp_path):
    """Crash-after-write replay: the redelivered batch overwrites its
    own lsh/near_dup partitions and re-derives identical evidence —
    no duplicate bands, no duplicate df deltas, no phantom pairs."""
    import shutil

    from flink_realtime_data_warehouse_spark.streaming.jobs import (
        start_history_dedup_ingest,
    )

    src = str(tmp_path / "docs")
    os.makedirs(src, exist_ok=True)
    with open(os.path.join(src, "b1.jsonl"), "w") as f:
        f.write(json.dumps({"doc_id": 1, "text": "one two three four five six"}))

    def run():
        stream = (
            spark.readStream.schema("doc_id bigint, text string")
            .option("maxFilesPerTrigger", 1)
            .json(src)
        )
        q = start_history_dedup_ingest(
            spark, stream, str(tmp_path / "out"), str(tmp_path / "ckpt"),
            near_dup_gate=True,
        )
        q.awaitTermination(200)

    run()
    bands_path = str(tmp_path / "out" / "lsh" / "bands")
    df_path = str(tmp_path / "out" / "lsh" / "df")
    before_bands = sorted(map(tuple, spark.read.parquet(bands_path).collect()))
    before_df = sorted(map(tuple, spark.read.parquet(df_path).collect()))
    shutil.rmtree(str(tmp_path / "ckpt" / "commits"))
    run()
    assert sorted(map(tuple, spark.read.parquet(bands_path).collect())) == before_bands
    assert sorted(map(tuple, spark.read.parquet(df_path).collect())) == before_df
    near_dir = str(tmp_path / "out" / "near_dups")
    if os.path.exists(near_dir):
        try:
            assert spark.read.parquet(near_dir).count() == 0
        except Exception:
            pass  # empty sink dir with no parquet footers


def test_compaction_preserves_probe_and_collapses_stores(spark, tmp_path):
    """compact_dedup_lsh_index_capped folds df deltas to one row per
    shingle and consolidates band files; probes before/after are
    identical, a post-compaction append behaves exactly like one
    without compaction, and a compaction crashed mid-swap rolls back
    on the next touch."""
    from flink_realtime_data_warehouse_spark.operators.dedup import (
        append_dedup_lsh_index_capped,
        build_dedup_lsh_index_capped,
        compact_dedup_lsh_index_capped,
        probe_dedup_lsh_index_capped,
    )

    hist, inc, planted = _corpus(spark)
    h1 = hist.filter(F.pmod("doc_id", F.lit(2)) == 0)
    h2 = hist.filter(F.pmod("doc_id", F.lit(2)) == 1)

    idx = str(tmp_path / "idx")
    build_dedup_lsh_index_capped(h1, idx, cap=CAP)
    append_dedup_lsh_index_capped(h2, idx, cap=CAP)

    def probe():
        return {
            (r.doc_new, r.doc_hist)
            for r in probe_dedup_lsh_index_capped(spark, inc, idx, cap=CAP).collect()
        }

    def store_files(sub):
        out = []
        for root, _, files in os.walk(os.path.join(idx, sub)):
            out += [f for f in files if f.endswith(".parquet")]
        return out

    before = probe()
    df_rows_before = spark.read.parquet(f"{idx}/df").count()
    compact_dedup_lsh_index_capped(spark, idx)
    assert probe() == before
    df_after = spark.read.parquet(f"{idx}/df")
    # one row per shingle, accumulated df preserved
    assert df_after.count() == df_after.select("s").distinct().count()
    assert df_after.count() < df_rows_before

    # append after compaction == append without compaction
    idx2 = str(tmp_path / "idx2")
    build_dedup_lsh_index_capped(h1, idx2, cap=CAP)
    append_dedup_lsh_index_capped(h2, idx2, cap=CAP)
    extra = spark.createDataFrame(
        [(777, "zq1 zq2 zq3 zq4 zq5 zq6 zq7 zq8 zq9 zq10 zq11 zq12 zq13 zq14")],
        "doc_id bigint, text string",
    )
    append_dedup_lsh_index_capped(extra, idx, cap=CAP)   # compacted
    append_dedup_lsh_index_capped(extra, idx2, cap=CAP)  # not compacted
    got1 = {
        (r.doc_new, r.doc_hist)
        for r in probe_dedup_lsh_index_capped(spark, inc, idx, cap=CAP).collect()
    }
    got2 = {
        (r.doc_new, r.doc_hist)
        for r in probe_dedup_lsh_index_capped(spark, inc, idx2, cap=CAP).collect()
    }
    assert got1 == got2 == before

    # crashed-compaction rollback: simulate the kill between the two
    # swap renames (store renamed away, replacement never landed)
    import shutil

    df_store = os.path.join(idx, "df")
    os.rename(df_store, df_store + "__old_deadbeef")
    assert probe() == before  # repair sweep restored the store
    assert os.path.isdir(df_store)
    assert not os.path.isdir(df_store + "__old_deadbeef")
    # an append after the same crash on the band store restores it
    # before adding its partition beside it
    bands_store = os.path.join(idx, "bands")
    os.rename(bands_store, bands_store + "__old_deadbeef")
    append_dedup_lsh_index_capped(extra, idx, cap=CAP)
    assert probe() == before
    assert not os.path.isdir(bands_store + "__old_deadbeef")


def test_compacted_row_matches_oracle_on_log_manifest(spark):
    """The capped index writes only through FORMAT, so the persisted
    compacted row reads back what it built under the manifest backend
    too (sf0.01, where the oracle has candidates: 4 rows)."""
    from conftest import SF_CORRECT as sf
    from oracle_utils import compare_query_to_oracle, run_oracle_df

    from flink_realtime_data_warehouse_spark.plans.loader import load_all
    from flink_realtime_data_warehouse_spark.streaming.table_format import (
        set_table_format,
    )

    name = "dedup_incremental_lsh_dfcap_compacted"
    queries, oracles = load_all()
    assert len(run_oracle_df(oracles[name], sf)) > 0
    set_table_format("log-manifest")
    try:
        compare_query_to_oracle(queries[name](spark, sf), oracles[name], sf)
    finally:
        set_table_format(None)


def test_shingle_cache_stats_observable(spark):
    """r6 ADVICE (observability half): hits/misses/evictions count, so
    a bench run can SEE cache thrash instead of silently recomputing."""
    from flink_realtime_data_warehouse_spark.operators import dedup as dd

    before = dd.shingle_cache_stats()
    df = spark.createDataFrame(
        [(i, f"a{i} b{i} c{i} d{i}") for i in range(5)],
        "doc_id bigint, text string",
    )
    dd._shingle_df(df).count()   # miss (fresh plan)
    dd._shingle_df(df).count()   # hit (same plan, same session)
    after = dd.shingle_cache_stats()
    assert after["misses"] >= before["misses"] + 1
    assert after["hits"] >= before["hits"] + 1
    # force evictions past the FIFO cap with distinct variants
    base = dd._shingle_df(df)
    for v in range(dd._SHINGLE_CACHE_CAP + 2):
        dd._cached_relation(df, ("probe_variant", v), lambda: base.limit(1))
    assert dd.shingle_cache_stats()["evictions"] >= before["evictions"] + 1
    dd.release_shingle_cache()
