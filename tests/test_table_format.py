"""Table-format seam conformance (r8 verdict item 5; parameterized
over BOTH backends since r11 — verdict item 1): every seam operation
the lake relies on, exercised against the parquet rename-swap backend
AND the log+manifest (Iceberg-shape) backend, so "backend choice" is a
demonstrated property. Shared-contract tests run under both; crash-
window tests are backend-specific because the two recovery disciplines
are intentionally different (rename-swap repair vs manifest-commit
invisibility)."""

import json
import os

import pytest
from pyspark.sql import functions as F

from flink_realtime_data_warehouse_spark.streaming import table_format
from flink_realtime_data_warehouse_spark.streaming.table_format import (
    FORMAT,
    LogManifestFormat,
    ParquetSwapFormat,
    set_table_format,
)

_SCHEMA = "k bigint, v string, pbatch string"


@pytest.fixture(params=["parquet-swap", "log-manifest"])
def fmt(request):
    """Select a backend through the SAME config surface production
    uses (set_table_format → the FORMAT proxy), so the test also
    proves the proxy dispatches."""
    set_table_format(request.param)
    yield FORMAT
    set_table_format(None)


def _mk(spark, rows):
    return spark.createDataFrame(rows, _SCHEMA)


def _rows(spark, path, schema=_SCHEMA):
    return sorted(
        (r.k, r.v, r.pbatch)
        for r in FORMAT.read(spark, path, schema).collect()
    )


def _stamp(path):
    out = {}
    for r, _d, files in os.walk(path):
        for f in files:
            p = os.path.join(r, f)
            st = os.stat(p)
            out[os.path.relpath(p, path)] = (st.st_size, st.st_mtime_ns)
    return out


# ---------------------------------------------------------------------------
# shared contract: every test in this block runs under both backends
# ---------------------------------------------------------------------------


def test_overwrite_partitions_is_dynamic(fmt, spark, tmp_path):
    store = str(tmp_path / "t")
    fmt.overwrite_partitions(
        _mk(spark, [(1, "a", "p0"), (2, "b", "p1")]), store, "pbatch"
    )
    # a second write naming only p1 must leave p0's files untouched
    before = {k: v for k, v in _stamp(store).items() if "pbatch=p0" in k}
    fmt.overwrite_partitions(_mk(spark, [(3, "c", "p1")]), store, "pbatch")
    after = {k: v for k, v in _stamp(store).items() if "pbatch=p0" in k}
    assert before == after and before
    assert _rows(spark, store) == [(1, "a", "p0"), (3, "c", "p1")]


def test_swap_rewrite_replaces_everything(fmt, spark, tmp_path):
    store = str(tmp_path / "t")
    fmt.overwrite_partitions(
        _mk(spark, [(1, "a", "p0"), (2, "b", "p1")]), store, "pbatch"
    )
    fmt.swap_rewrite(spark, store, _mk(spark, [(9, "z", "p0")]))
    assert _rows(spark, store) == [(9, "z", "p0")]


def test_swap_rewrite_multi_level_partitioning(fmt, spark, tmp_path):
    """The rollup store's shape: two partition levels (pday, pbatch)."""
    store = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(1, "d1", 0), (2, "d1", 1), (3, "d2", 0)],
        "k bigint, pday string, pbatch bigint",
    )
    fmt.swap_rewrite(spark, store, df, ["pday", "pbatch"])
    got = sorted(
        (r.k, r.pday, r.pbatch)
        for r in fmt.read(
            spark, store, "k bigint, pday string, pbatch bigint"
        ).collect()
    )
    assert got == [(1, "d1", 0), (2, "d1", 1), (3, "d2", 0)]
    assert fmt.list_partitions(store, "pday") == ["d1", "d2"]


def test_swap_partitions_prunes_and_deletes_emptied(fmt, spark, tmp_path):
    store = str(tmp_path / "t")
    fmt.overwrite_partitions(
        _mk(spark, [(1, "a", "p0"), (2, "b", "p1"), (3, "c", "p2")]),
        store,
        "pbatch",
    )
    cold = {k: v for k, v in _stamp(store).items() if "pbatch=p0" in k}
    # rewrite p1 (new content) and p2 (no rows -> partition dropped)
    fmt.swap_partitions(
        spark, store, _mk(spark, [(20, "B", "p1")]), "pbatch", ["p1", "p2"]
    )
    assert {k: v for k, v in _stamp(store).items() if "pbatch=p0" in k} == cold
    assert _rows(spark, store) == [(1, "a", "p0"), (20, "B", "p1")]
    assert fmt.list_partitions(store, "pbatch") == ["p0", "p1"]


def test_append_and_empty_store_read(fmt, spark, tmp_path):
    store = str(tmp_path / "log")
    fmt.append(_mk(spark, [(1, "a", "p0")]), store)
    fmt.append(_mk(spark, [(2, "b", "p0")]), store)
    assert _rows(spark, store) == [(1, "a", "p0"), (2, "b", "p0")]
    # explicit schema makes a store with no data files readable
    empty = str(tmp_path / "empty")
    fmt.overwrite_partitions(_mk(spark, []).limit(0), empty, "pbatch")
    assert fmt.read(spark, empty, _SCHEMA).count() == 0


def _kill_commit(_backend, _path, _stage):
    raise RuntimeError("injected kill before the commit")


def test_swap_rewrite_commits_sidecars(fmt, spark, tmp_path, monkeypatch):
    """The bloom-store and dim-create pattern: data and sidecars commit
    in ONE swap, so they are never observed out of sync."""
    store = str(tmp_path / "bloom")
    with monkeypatch.context() as m:
        m.setattr(type(table_format._active()), "commit_swap", _kill_commit)
        with pytest.raises(RuntimeError, match="injected"):
            fmt.swap_rewrite(
                spark,
                store,
                _mk(spark, [(1, "bits", "p0")]),
                sidecars={"_covered.json": json.dumps(["p0"])},
            )
    assert not fmt.exists(store)  # staged, not committed
    assert fmt.read_sidecar(store, "_covered.json") is None
    fmt.swap_rewrite(
        spark,
        store,
        _mk(spark, [(1, "bits", "p0")]),
        sidecars={"_covered.json": json.dumps(["p0"])},
    )
    assert fmt.exists(store)
    assert _rows(spark, store) == [(1, "bits", "p0")]
    assert json.loads(fmt.read_sidecar(store, "_covered.json")) == ["p0"]
    # a second swap carrying a NEW sidecar replaces both
    fmt.swap_rewrite(
        spark,
        store,
        _mk(spark, [(2, "bits2", "p0")]),
        sidecars={"_covered.json": json.dumps(["p0", "p1"])},
    )
    assert _rows(spark, store) == [(2, "bits2", "p0")]
    assert json.loads(fmt.read_sidecar(store, "_covered.json")) == ["p0", "p1"]
    # a swap without sidecars leaves the store none
    fmt.swap_rewrite(spark, store, _mk(spark, [(3, "bits3", "p0")]))
    assert _rows(spark, store) == [(3, "bits3", "p0")]
    assert fmt.read_sidecar(store, "_covered.json") is None


def test_write_sidecar_in_place(fmt, spark, tmp_path):
    """The compaction's watermark carry-over: replace the sidecar on a
    committed store without rewriting data."""
    store = str(tmp_path / "bloom")
    fmt.swap_rewrite(
        spark,
        store,
        _mk(spark, [(1, "bits", "p0")]),
        sidecars={"_covered.json": json.dumps(["p0"])},
    )
    data_before = _rows(spark, store)
    fmt.write_sidecar(store, "_covered.json", json.dumps(["__compacted__"]))
    assert json.loads(fmt.read_sidecar(store, "_covered.json")) == [
        "__compacted__"
    ]
    assert _rows(spark, store) == data_before
    # absent sidecar reads as None
    assert fmt.read_sidecar(store, "_nope.json") is None


def test_merge_staged_partitions_keeps_cold(fmt, spark, tmp_path):
    """The DimStore MERGE write half: named partitions in the data
    replace their on-store counterparts, a named partition new to the
    store is added, and unnamed partitions are untouched."""
    store = str(tmp_path / "dim")
    fmt.overwrite_partitions(
        _mk(spark, [(1, "a", "p0"), (2, "b", "p1")]), store, "pbatch"
    )
    cold = {k: v for k, v in _stamp(store).items() if "pbatch=p0" in k}
    fmt.swap_partitions(
        spark,
        store,
        _mk(spark, [(20, "B", "p1"), (30, "C", "p2")]),
        "pbatch",
        ["p1", "p2"],
    )
    assert {k: v for k, v in _stamp(store).items() if "pbatch=p0" in k} == cold
    assert _rows(spark, store) == [
        (1, "a", "p0"),
        (20, "B", "p1"),
        (30, "C", "p2"),
    ]
    assert fmt.list_partitions(store, "pbatch") == ["p0", "p1", "p2"]


def test_drop_partition_and_sweep(fmt, spark, tmp_path):
    """The hypertable drop_chunks unit: visibility flips atomically at
    the drop; a husk (parquet) or unreferenced segment data (manifest)
    is reclaimed by sweep_husks. The husk return is None when the
    backend has no physical husk — callers must tolerate that."""
    store = str(tmp_path / "roll")
    fmt.overwrite_partitions(
        _mk(spark, [(1, "a", "d1"), (2, "b", "d2")]), store, "pbatch"
    )
    husk = fmt.drop_partition(store, "pbatch=d1")
    # dropped partition invisible immediately, survivor intact
    assert _rows(spark, store) == [(2, "b", "d2")]
    assert fmt.list_partitions(store, "pbatch") == ["d2"]
    if husk is not None:
        import shutil

        shutil.rmtree(husk, ignore_errors=True)
    fmt.sweep_husks(store)
    assert _rows(spark, store) == [(2, "b", "d2")]
    # dropping a partition that does not exist raises
    with pytest.raises(FileNotFoundError):
        fmt.drop_partition(store, "pbatch=nope")


def test_exists_and_has_data(fmt, spark, tmp_path):
    store = str(tmp_path / "t")
    assert not fmt.exists(store)
    assert not fmt.has_data(store)
    # a never-committed store reads empty under an explicit schema and
    # raises without one
    assert fmt.read(spark, store, _SCHEMA).count() == 0
    with pytest.raises(Exception):
        fmt.read(spark, store)
    fmt.overwrite_partitions(_mk(spark, []).limit(0), store, "pbatch")
    assert fmt.exists(store)
    assert not fmt.has_data(store)  # committed but empty
    fmt.overwrite_partitions(_mk(spark, [(1, "a", "p0")]), store, "pbatch")
    assert fmt.has_data(store)


def test_list_partitions_excludes_inflight(fmt, spark, tmp_path, monkeypatch):
    store = str(tmp_path / "t")
    fmt.overwrite_partitions(
        _mk(spark, [(1, "a", "p0"), (2, "b", "p1")]), store, "pbatch"
    )
    # a swap killed before its commit abandons its stage, which must
    # not surface in the listing
    with monkeypatch.context() as m:
        m.setattr(type(table_format._active()), "commit_swap", _kill_commit)
        with pytest.raises(RuntimeError, match="injected"):
            fmt.swap_rewrite(spark, store, _mk(spark, [(9, "z", "p9")]), "pbatch")
    assert len(os.listdir(str(tmp_path))) == 2  # the store and its stage
    assert fmt.list_partitions(store, "pbatch") == ["p0", "p1"]
    fmt.repair(store)
    assert fmt.list_partitions(store, "pbatch") == ["p0", "p1"]
    assert _rows(spark, store) == [(1, "a", "p0"), (2, "b", "p1")]


def test_merge_schema_across_commits(fmt, spark, tmp_path):
    """Schema evolution: a later partition adds a column; mergeSchema
    read unions the footers (Delta tracks this in the log)."""
    store = str(tmp_path / "t")
    fmt.overwrite_partitions(
        spark.createDataFrame([(1, "p0")], "k bigint, pbatch string"),
        store,
        "pbatch",
    )
    fmt.overwrite_partitions(
        spark.createDataFrame(
            [(2, "x", "p1")], "k bigint, extra string, pbatch string"
        ),
        store,
        "pbatch",
    )
    got = fmt.read(spark, store, merge_schema=True)
    assert sorted(got.columns) == ["extra", "k", "pbatch"]
    vals = {(r.k, r.extra, r.pbatch) for r in got.collect()}
    assert vals == {(1, None, "p0"), (2, "x", "p1")}


def test_backends_expose_the_same_operations():
    """``FORMAT`` and the benchmark's tracer dispatch by name, so an
    operation only one backend has would fail only at runtime under
    the other."""

    def ops(cls):
        return {
            a for a in dir(cls) if not a.startswith("_") and callable(getattr(cls, a))
        }

    assert ops(ParquetSwapFormat) == ops(LogManifestFormat)


def test_only_the_seam_knows_about_recovery():
    """Recovery is the seam's job: no package module outside
    ``table_format.py`` calls ``FORMAT.repair`` or spells a staging
    name (a string constant, docstrings aside, holding ``__tmp_``,
    ``__old_`` or ``__stage_``)."""
    import ast

    pkg = os.path.dirname(os.path.dirname(table_format.__file__))
    found = []
    for dirpath, _dirs, files in os.walk(pkg):
        for name in sorted(files):
            if not name.endswith(".py") or name == "table_format.py":
                continue
            path = os.path.join(dirpath, name)
            with open(path, encoding="utf-8") as f:
                tree = ast.parse(f.read())
            docstrings = {
                id(n.body[0].value)
                for n in ast.walk(tree)
                if isinstance(
                    n, (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef)
                )
                and n.body
                and isinstance(n.body[0], ast.Expr)
            }
            where = f"{os.path.relpath(path, pkg)}:"
            for n in ast.walk(tree):
                if (
                    isinstance(n, ast.Call)
                    and isinstance(n.func, ast.Attribute)
                    and n.func.attr == "repair"
                    and isinstance(n.func.value, ast.Name)
                    and n.func.value.id == "FORMAT"
                ):
                    found.append(f"{where}{n.lineno} calls FORMAT.repair")
                elif (
                    isinstance(n, ast.Constant)
                    and isinstance(n.value, str)
                    and id(n) not in docstrings
                    and any(m in n.value for m in ("__tmp_", "__old_", "__stage_"))
                ):
                    found.append(f"{where}{n.lineno} spells {n.value!r}")
    assert not found, found


def test_publish_staged_artifact(fmt, tmp_path):
    dest_dir = str(tmp_path / "artifact_dir")
    src_dir = str(tmp_path / "stage_dir")
    os.makedirs(src_dir)
    with open(os.path.join(src_dir, "f.txt"), "w") as f:
        f.write("v2")
    os.makedirs(dest_dir)
    with open(os.path.join(dest_dir, "old.txt"), "w") as f:
        f.write("v1")
    fmt.publish_staged_artifact(dest_dir, src_dir)
    assert os.listdir(dest_dir) == ["f.txt"]
    # file artifact, create-or-replace
    dest_f = str(tmp_path / "meta.json")
    src_f = str(tmp_path / "meta_stage.json")
    with open(src_f, "w") as f:
        f.write("{}")
    fmt.publish_staged_artifact(dest_f, src_f)
    assert open(dest_f).read() == "{}"


# ---------------------------------------------------------------------------
# parquet-swap-specific crash windows (rename-swap repair discipline)
# ---------------------------------------------------------------------------


def test_parquet_swap_rewrite_crash_recoverable(spark, tmp_path, monkeypatch):
    set_table_format("parquet-swap")
    try:
        store = str(tmp_path / "t")
        FORMAT.overwrite_partitions(
            _mk(spark, [(1, "a", "p0"), (2, "b", "p1")]), store, "pbatch"
        )
        real = os.rename
        state = {"armed": True}

        def faulty(s, d):
            if state["armed"] and "__tmp_" in str(s) and str(d) == store:
                state["armed"] = False
                raise RuntimeError("injected")
            return real(s, d)

        monkeypatch.setattr(os, "rename", faulty)
        with pytest.raises(RuntimeError, match="injected"):
            FORMAT.swap_rewrite(spark, store, _mk(spark, [(9, "z", "p0")]))
        monkeypatch.setattr(os, "rename", real)
        assert not os.path.isdir(store)  # the crash window
        # the next seam operation recovers the store by itself
        assert FORMAT.exists(store)
        assert _rows(spark, store) == [(1, "a", "p0"), (2, "b", "p1")]
        FORMAT.repair(store)
        assert _rows(spark, store) == [(1, "a", "p0"), (2, "b", "p1")]
    finally:
        set_table_format(None)


def test_parquet_half_swap_rolls_back_on_repair(spark, tmp_path, monkeypatch):
    set_table_format("parquet-swap")
    try:
        store = str(tmp_path / "t")
        FORMAT.overwrite_partitions(
            _mk(spark, [(1, "a", "p0"), (2, "b", "p1")]), store, "pbatch"
        )
        real = os.rename
        state = {"armed": True}

        def faulty(s, d):
            # die on the stage->partition rename: p1 renamed away,
            # replacement not yet in
            if (
                state["armed"]
                and "__tmp_" in str(s)
                and str(s).endswith("pbatch=p1")
            ):
                state["armed"] = False
                raise RuntimeError("injected")
            return real(s, d)

        monkeypatch.setattr(os, "rename", faulty)
        with pytest.raises(RuntimeError, match="injected"):
            FORMAT.swap_partitions(
                spark, store, _mk(spark, [(20, "B", "p1")]), "pbatch", ["p1"]
            )
        monkeypatch.setattr(os, "rename", real)
        assert any("__old_" in d for d in os.listdir(store))
        # the next seam operation rolls the half-swap back by itself
        assert "p1" in FORMAT.list_partitions(store, "pbatch")
        FORMAT.repair(store)
        assert _rows(spark, store) == [(1, "a", "p0"), (2, "b", "p1")]
        assert not [
            d for d in os.listdir(store) if "__old_" in d or "__tmp_" in d
        ]
    finally:
        set_table_format(None)


# ---------------------------------------------------------------------------
# log-manifest-specific crash windows (commit = one manifest replace)
# ---------------------------------------------------------------------------


@pytest.fixture
def mfmt():
    set_table_format("log-manifest")
    yield FORMAT
    set_table_format(None)


def test_manifest_crash_before_commit_is_invisible(
    mfmt, spark, tmp_path, monkeypatch
):
    """Kill between segment adoption and manifest write: the adopted
    segment is on disk but NO reader sees it (previous snapshot fully
    intact, no repair needed for correctness); repair reclaims it."""
    store = str(tmp_path / "t")
    mfmt.overwrite_partitions(
        _mk(spark, [(1, "a", "p0"), (2, "b", "p1")]), store, "pbatch"
    )
    real = table_format.atomic_write_text
    state = {"armed": True}

    def faulty(path, text):
        if state["armed"] and "_log" in path:
            state["armed"] = False
            raise RuntimeError("injected")
        return real(path, text)

    monkeypatch.setattr(table_format, "atomic_write_text", faulty)
    with pytest.raises(RuntimeError, match="injected"):
        mfmt.overwrite_partitions(
            _mk(spark, [(9, "z", "p1")]), store, "pbatch"
        )
    monkeypatch.setattr(table_format, "atomic_write_text", real)
    # orphan segment on disk...
    n_segs = len([d for d in os.listdir(store) if d.startswith("seg-")])
    assert n_segs == 2
    # ...but readers still see the previous snapshot, WITHOUT repair
    # (the backend's own read; FORMAT.read would repair first)
    backend_rows = table_format._active().read(spark, store, _SCHEMA).collect()
    assert sorted((r.k, r.v, r.pbatch) for r in backend_rows) == [
        (1, "a", "p0"),
        (2, "b", "p1"),
    ]
    mfmt.repair(store)
    assert len([d for d in os.listdir(store) if d.startswith("seg-")]) == 1
    assert _rows(spark, store) == [(1, "a", "p0"), (2, "b", "p1")]
    # the replayed batch converges
    mfmt.overwrite_partitions(_mk(spark, [(9, "z", "p1")]), store, "pbatch")
    assert _rows(spark, store) == [(1, "a", "p0"), (9, "z", "p1")]


def test_manifest_crash_before_adoption_leaves_stage_sibling(
    mfmt, spark, tmp_path, monkeypatch
):
    """Kill between the stage write and its adoption rename: the
    sibling stage is swept by repair; the store never changed."""
    store = str(tmp_path / "t")
    mfmt.overwrite_partitions(_mk(spark, [(1, "a", "p0")]), store, "pbatch")
    real = os.rename
    state = {"armed": True}

    def faulty(s, d):
        if state["armed"] and "__stage_" in str(s):
            state["armed"] = False
            raise RuntimeError("injected")
        return real(s, d)

    monkeypatch.setattr(os, "rename", faulty)
    with pytest.raises(RuntimeError, match="injected"):
        mfmt.swap_rewrite(spark, store, _mk(spark, [(9, "z", "p0")]))
    monkeypatch.setattr(os, "rename", real)
    assert any("__stage_" in d for d in os.listdir(str(tmp_path)))
    assert _rows(spark, store) == [(1, "a", "p0")]
    mfmt.repair(store)
    assert not any("__stage_" in d for d in os.listdir(str(tmp_path)))
    assert _rows(spark, store) == [(1, "a", "p0")]


def test_manifest_vacuum_reclaims_superseded(mfmt, spark, tmp_path):
    """swap_rewrite supersedes earlier segments; they stay on disk
    (the VACUUM trade) until sweep_husks reclaims them AND prunes the
    log to the latest manifest."""
    store = str(tmp_path / "t")
    mfmt.overwrite_partitions(_mk(spark, [(1, "a", "p0")]), store, "pbatch")
    mfmt.overwrite_partitions(_mk(spark, [(2, "b", "p1")]), store, "pbatch")
    mfmt.swap_rewrite(spark, store, _mk(spark, [(9, "z", "p0")]), "pbatch")
    assert len([d for d in os.listdir(store) if d.startswith("seg-")]) == 3
    mfmt.sweep_husks(store)
    assert len([d for d in os.listdir(store) if d.startswith("seg-")]) == 1
    assert len(os.listdir(os.path.join(store, "_log"))) == 1
    assert _rows(spark, store) == [(9, "z", "p0")]


def test_manifest_dropped_leaf_pruned_by_vacuum(mfmt, spark, tmp_path):
    """drop_partition leaves the leaf dir inside a still-live segment;
    vacuum prunes exactly that leaf, not the segment."""
    store = str(tmp_path / "t")
    mfmt.overwrite_partitions(
        _mk(spark, [(1, "a", "d1"), (2, "b", "d2")]), store, "pbatch"
    )
    mfmt.drop_partition(store, "pbatch=d1")
    seg = [d for d in os.listdir(store) if d.startswith("seg-")][0]
    assert os.path.isdir(os.path.join(store, seg, "pbatch=d1"))
    mfmt.sweep_husks(store)
    assert not os.path.isdir(os.path.join(store, seg, "pbatch=d1"))
    assert os.path.isdir(os.path.join(store, seg, "pbatch=d2"))
    assert _rows(spark, store) == [(2, "b", "d2")]


def test_manifest_read_never_sees_uncommitted(mfmt, spark, tmp_path):
    """A crashed FIRST commit (segment adopted, no manifest ever
    written) must read as an EMPTY store under an explicit schema —
    never surface the orphan's rows."""
    store = str(tmp_path / "t")
    os.makedirs(os.path.join(store, "seg-orphan", "pbatch=p0"))
    # plant a real parquet file in the orphan
    scratch = str(tmp_path / "scratch")
    _mk(spark, [(1, "a", "p0")]).coalesce(1).write.mode("overwrite").parquet(
        scratch
    )
    import shutil

    for f in os.listdir(scratch):
        if f.endswith(".parquet"):
            shutil.copy(
                os.path.join(scratch, f),
                os.path.join(store, "seg-orphan", "pbatch=p0", f),
            )
    assert not mfmt.exists(store)
    assert mfmt.read(spark, store, _SCHEMA).count() == 0
    mfmt.repair(store)
    assert not os.path.isdir(os.path.join(store, "seg-orphan"))


def test_proxy_env_selection(monkeypatch):
    """The env var is the deployment-facing selector; set_table_format
    overrides it (tests/tools)."""
    from flink_realtime_data_warehouse_spark.streaming.table_format import (
        _active,
        get_table_format_name,
    )

    monkeypatch.setenv("SPARK_GRAFT_TABLE_FORMAT", "log-manifest")
    assert get_table_format_name() == "log-manifest"
    assert isinstance(_active(), LogManifestFormat)
    set_table_format("parquet-swap")
    try:
        assert isinstance(_active(), ParquetSwapFormat)
    finally:
        set_table_format(None)
    monkeypatch.delenv("SPARK_GRAFT_TABLE_FORMAT")
    assert isinstance(_active(), ParquetSwapFormat)
    with pytest.raises(ValueError):
        set_table_format("no-such-backend")
