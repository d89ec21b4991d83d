"""CSV/ORC lake ingestion: the fidelity corners the round-trip oracle
rows can't reach on the clean fixtures — hostile strings, the
empty-vs-NULL distinction, the two silent-corruption traps the writer
must refuse loudly (sentinel collision, newline-under-splittable), and
corrupt-line quarantine."""

from __future__ import annotations

import os

import pytest

from flink_realtime_data_warehouse_spark.sources.ingest import (
    CSV_NULL,
    ingest_csv_dir,
    ingest_orc_dir,
    write_csv_dir,
)

_SCHEMA = "doc_id bigint, text string"


def _roundtrip(spark, rows, tmp, multiline=False):
    df = spark.createDataFrame(rows, _SCHEMA)
    path = str(tmp / "land")
    write_csv_dir(df, path, multiline=multiline)
    good, bad = ingest_csv_dir(spark, path, _SCHEMA, multiline=multiline)
    return (
        {r["doc_id"]: r["text"] for r in good.collect()},
        bad.collect(),
    )


def test_hostile_strings_round_trip(spark, tmp_path):
    rows = [
        (1, "plain"),
        (2, "has,comma"),
        (3, 'has "quote" and ""double"" quotes'),
        (4, None),
        (5, ""),  # empty string must NOT collapse to NULL
        (6, "  leading and trailing  "),
    ]
    got, bad = _roundtrip(spark, rows, tmp_path)
    assert not bad
    assert got == dict(rows)


def test_newlines_require_multiline_and_then_round_trip(spark, tmp_path):
    rows = [(1, "line1\nline2"), (2, "plain")]
    with pytest.raises(ValueError, match="newlines"):
        _roundtrip(spark, rows, tmp_path / "refuse")
    got, bad = _roundtrip(spark, rows, tmp_path / "multi", multiline=True)
    assert not bad
    assert got == dict(rows)


def test_bare_carriage_return_is_refused_like_newline(spark, tmp_path):
    """A quoted bare \\r is also a record separator under splittable
    reading (ADVICE r9): it must hit the same loud refusal as \\n —
    before the fix it slipped a contains("\\n") check and silently
    truncated the row."""
    rows = [(1, "head\rtail"), (2, "plain")]
    with pytest.raises(ValueError, match="newlines"):
        _roundtrip(spark, rows, tmp_path / "refuse_cr")
    got, bad = _roundtrip(spark, rows, tmp_path / "multi_cr", multiline=True)
    assert not bad
    assert got == dict(rows)


def test_sentinel_collision_is_refused(spark, tmp_path):
    df = spark.createDataFrame([(1, CSV_NULL)], _SCHEMA)
    with pytest.raises(ValueError, match="sentinel"):
        write_csv_dir(df, str(tmp_path / "land"))


def test_corrupt_lines_route_to_quarantine(spark, tmp_path):
    land = tmp_path / "land"
    os.makedirs(land)
    with open(land / "part-00000.csv", "w") as f:
        f.write(
            "doc_id,text\n"
            '"1","fine"\n'
            '"not_a_number","broken id"\n'
            '"2","also fine"\n'
        )
    good, bad = ingest_csv_dir(spark, str(land), _SCHEMA)
    assert {r["doc_id"]: r["text"] for r in good.collect()} == {
        1: "fine",
        2: "also fine",
    }
    quarantined = [r["_corrupt_record"] for r in bad.collect()]
    assert quarantined == ['"not_a_number","broken id"']


def test_orc_round_trip_with_nulls(spark, tmp_path):
    rows = [(1, "plain"), (2, None), (3, ""), (4, "uni – dash")]
    df = spark.createDataFrame(rows, _SCHEMA)
    path = str(tmp_path / "orc")
    df.write.mode("overwrite").orc(path)
    got = {
        r["doc_id"]: r["text"]
        for r in ingest_orc_dir(spark, path, _SCHEMA).collect()
    }
    assert got == dict(rows)


def test_registry_roundtrips_match_oracle(spark, sf_dir):
    import __spark_entry__ as em
    from tests.oracle_utils import compare_query_to_oracle

    for name in ("source_csv_roundtrip", "source_orc_roundtrip"):
        compare_query_to_oracle(
            em.queries()[name](spark, sf_dir), em.oracle_sql()[name], sf_dir
        )


def test_session_tmpdirs_are_reaped(tmp_path, monkeypatch):
    """ADVICE r9: repeated ingest invocations must not accumulate
    unbounded temp dirs — only the _TMP_KEEP most recent per kind
    stay alive (the previous invocation's lazy DataFrames may still
    be draining), older ones are reaped on the next call."""
    import os

    from flink_realtime_data_warehouse_spark.sources import ingest as ing

    monkeypatch.setattr(ing, "_TMP_REGISTRY", {})
    made = [ing._session_tmpdir("reaptest") for _ in range(5)]
    alive = [d for d in made if os.path.isdir(d)]
    assert alive == made[-ing._TMP_KEEP:]
    ing._reap_all_tmpdirs()
    assert not any(os.path.isdir(d) for d in made)


def test_streaming_rows_reap_their_scratch_roots(spark, sf_dir, tmp_path, monkeypatch):
    """A streaming query row keeps at most _TMP_KEEP scratch roots alive
    across repeated calls, and the exit sweep removes the rest. Each
    result is collected before the row's next call, so a root is never
    reaped while its sink is still being read."""
    import tempfile

    import __spark_entry__ as em
    from flink_realtime_data_warehouse_spark.sources import ingest as ing

    monkeypatch.setattr(ing, "_TMP_REGISTRY", {})
    queries = em.queries()
    roots = {}
    for name in ("st2_streaming_parity", "histdedup_bloom_streaming_parity"):
        tmp = tmp_path / name
        tmp.mkdir()
        monkeypatch.setattr(tempfile, "tempdir", str(tmp))
        first = sorted(queries[name](spark, sf_dir).collect())
        assert first
        for _ in range(2):
            assert sorted(queries[name](spark, sf_dir).collect()) == first
        roots[name] = [d for d in os.listdir(tmp) if d.startswith("frdw_")]
        assert 0 < len(roots[name]) <= ing._TMP_KEEP, roots
    ing._reap_all_tmpdirs()
    left = [d for name in roots for d in os.listdir(tmp_path / name)]
    assert not left, left
