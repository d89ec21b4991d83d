"""Partitioned Bloom membership gate: the fixture corpora carry few
cross-slice exact dups, so the registry verdict row alone would prove
false_negatives=0 mostly vacuously. These tests PLANT membership at
scale — hundreds of known-ingested digests probed back — and pin the
properties the one-row verdict can't: zero false negatives under heavy
planting, measured FPR under the bound, per-partition sizing, cold
partitions, NULL digests, and build determinism.
"""

from __future__ import annotations

import hashlib

import pytest

from flink_realtime_data_warehouse_spark.operators.dedup import (
    _BLOOM_SCHEMA,
    BLOOM_BITS_PER_KEY,
    BLOOM_FPR_BOUND,
    build_bloom_membership,
    or_bloom_membership,
    probe_bloom_membership,
)

_FOLD_HEADROOM = 4


def _digest(i: int) -> str:
    return hashlib.md5(f"bloom-fixture-{i}".encode()).hexdigest()


@pytest.fixture(scope="module")
def planted(spark):
    """history = digests 0..1999; incoming = 500 members + 500 strangers.

    Also a fold: digests 2000..2299, each sent twice, ORed into a filter
    built from digests 0..4 alone, which has no row for most pkeys."""
    hist = spark.createDataFrame(
        [(_digest(i),) for i in range(2000)], "content_hash string"
    )
    inc = spark.createDataFrame(
        [(i, _digest(i)) for i in range(500)]
        + [(10_000 + i, _digest(100_000 + i)) for i in range(500)],
        "doc_id long, content_hash string",
    )
    blooms = build_bloom_membership(hist)
    flags = {
        r["doc_id"]: r["maybe_dup"]
        for r in probe_bloom_membership(inc, blooms).collect()
    }
    base = build_bloom_membership(
        spark.createDataFrame([(_digest(i),) for i in range(5)], "content_hash string")
    )
    second = spark.createDataFrame(
        [(_digest(2000 + i % 300),) for i in range(600)], "content_hash string"
    )
    folded = or_bloom_membership(base, second, headroom=_FOLD_HEADROOM).collect()
    both = spark.createDataFrame(
        [(i, _digest(i)) for i in [*range(5), *range(2000, 2300)]],
        "doc_id long, content_hash string",
    )
    fold_flags = probe_bloom_membership(
        both, spark.createDataFrame(folded, _BLOOM_SCHEMA)
    ).collect()
    return {
        "flags": flags,
        "base_pkeys": {r["pkey"] for r in base.collect()},
        "folded": folded,
        "fold_flags": fold_flags,
    }


def test_zero_false_negatives_under_planting(planted):
    missed = [i for i in range(500) if not planted["flags"][i]]
    assert not missed, f"Bloom filter missed planted members: {missed[:10]}"


def test_fpr_under_bound(planted):
    fps = sum(1 for i in range(500) if planted["flags"][10_000 + i])
    assert fps / 500 <= BLOOM_FPR_BOUND, f"measured FPR {fps / 500}"


def test_fold_builds_missing_rows_and_keeps_every_digest(planted):
    """A pkey with no filter row gets one sized for its keys times the
    headroom; the counts add up to the distinct digests of both sets;
    every digest of both sets probes back."""
    new_rows = [r for r in planted["folded"] if r["pkey"] not in planted["base_pkeys"]]
    assert new_rows
    for r in new_rows:
        m, n = r["m_bits"], r["n_keys"]
        assert m & (m - 1) == 0 and len(r["bloom"]) * 8 == m
        assert m >= max(64, n * BLOOM_BITS_PER_KEY * _FOLD_HEADROOM) > m // 2
    assert sum(r["n_keys"] for r in planted["folded"]) == 5 + 300
    assert len(planted["fold_flags"]) == 305
    assert all(r["maybe_dup"] for r in planted["fold_flags"])


def test_partition_sizing_power_of_two(spark):
    hist = spark.createDataFrame(
        [(_digest(i),) for i in range(3000)], "content_hash string"
    )
    for r in build_bloom_membership(hist).collect():
        m, n = r["m_bits"], r["n_keys"]
        assert m & (m - 1) == 0, "m_bits must be a power of two"
        assert m >= max(64, n * BLOOM_BITS_PER_KEY)
        assert len(r["bloom"]) * 8 == m


def test_cold_history_reads_all_new(spark):
    hist = spark.createDataFrame([], "content_hash string")
    inc = spark.createDataFrame(
        [(i, _digest(i)) for i in range(50)], "doc_id long, content_hash string"
    )
    out = probe_bloom_membership(inc, build_bloom_membership(hist)).collect()
    assert len(out) == 50 and not any(r["maybe_dup"] for r in out)


def test_null_digest_reads_definitively_new(spark):
    hist = spark.createDataFrame(
        [(_digest(i),) for i in range(100)], "content_hash string"
    )
    inc = spark.createDataFrame(
        [(1, _digest(1)), (2, None)], "doc_id long, content_hash string"
    )
    flags = {
        r["doc_id"]: r["maybe_dup"]
        for r in probe_bloom_membership(inc, build_bloom_membership(hist)).collect()
    }
    assert flags[1] is True and flags[2] is False


def test_build_deterministic(spark):
    hist = spark.createDataFrame(
        [(_digest(i),) for i in range(777)], "content_hash string"
    )

    def snap():
        return {
            r["pkey"]: (r["n_keys"], r["m_bits"], bytes(r["bloom"]))
            for r in build_bloom_membership(hist).collect()
        }

    assert snap() == snap()


def test_registry_verdict_matches_oracle(spark, sf_dir):
    import __spark_entry__ as em
    from tests.oracle_utils import compare_query_to_oracle

    name = "dedup_bloom_gate_checked"
    compare_query_to_oracle(
        em.queries()[name](spark, sf_dir), em.oracle_sql()[name], sf_dir
    )
