"""One derivation of a table snapshot: the state a writer caches after a
commit, every checkpoint, and a fresh handle's log replay must all equal
``_apply_record(parent, record)``. The property test drives ``_commit``
in the argument shapes the public APIs use (no Spark: only the log is
touched); the Spark tests pin the three sequences where the writer's
cache and a fresh handle used to disagree."""

import itertools

import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

from fefal_etl_spark.table import (
    CommitConflict,
    SchemaConflict,
    TransactionalTable,
    _apply_record,
    _load_record,
    resolve_snapshot,
)


class _Small(TransactionalTable):
    # checkpoint every third commit, split into parts above two files,
    # so short op sequences exercise single AND multi-part checkpoints
    CHECKPOINT_INTERVAL = 3
    CHECKPOINT_PART_FILES = 2


_TYPES = {"a": "int", "b": "string", "c": "bigint"}
_RENAMES = ["k", "m", "n"]
_OPS = [
    "overwrite", "append", "append_txn", "compact", "restore", "rename",
    "drop", "bloom", "dv", "spec", "cluster", "properties", "constraint",
    "add_column", "alter",
]
_seq = itertools.count()


def _files(n: int, count: int, hive: bool) -> list[str]:
    return [
        f"data/c{n}/p={i % 2}/part-{i}" if hive else f"data/c{n}/part-{i}"
        for i in range(count)
    ]


def _stats(files: list[str], cols: list[str], n: int) -> dict:
    return {
        f: {
            **{c: [i, n + i] for c in cols},
            "__nulls": {c: 0 for c in cols},
        }
        for i, f in enumerate(files)
    }


def _run_op(t: TransactionalTable, op: str, i: int, j: int, n: int):
    """Commit one op in its public API's ``_commit`` shape (or through
    the API itself where it needs no Spark). Returns the version or
    None (no commit)."""
    base = t.latest_version()
    if base is None and op not in ("overwrite", "append", "append_txn"):
        op = "overwrite"
    mf = t._read_manifest(base) if base is not None else None
    live = sorted((mf.declared_schema or {}) if mf else {})
    if not live and op in (
        "rename", "drop", "bloom", "spec", "cluster", "constraint", "alter"
    ):
        return None  # the API needs an existing column

    def pick(seq):
        return seq[i % len(seq)]

    if op in ("overwrite", "append", "append_txn"):
        cols = [c for b, c in enumerate(_TYPES) if (i + 1) >> b & 1]
        sch = {c: _TYPES[c] for c in cols}
        files = _files(n, 1 + j % 3, hive=j % 2 == 1)
        kw = dict(stats=_stats(files, cols, n), schema=sch)
        if op == "overwrite":
            return t._commit(
                files, op, base, rebase_ok=False, schema_replace=True,
                generated={"g": "a % 2"} if j % 4 == 0 else None, **kw,
            )
        if op == "append_txn":
            kw["txn"] = ("app", i % 3)
        return t._commit(
            files, op, base, rebase_ok=True, carry_parent_files=True, **kw
        )
    if op == "compact":
        staged = _files(n, 1 + j % 2, hive=False)
        retained = mf.files[: i % (len(mf.files) + 1)]
        return t._commit(
            staged + retained, op, base, rebase_ok=False,
            stats=_stats(staged, live, n),
            dv_files=list(mf.dv_files or []) if retained else None,
            blooms={c: {f: f"B{n}" for f in staged} for c in mf.blooms}
            if mf.blooms else None,
        )
    if op == "restore":
        return t.restore(i % (base + 1))
    if op == "rename":
        return t.rename_column(pick(live), _RENAMES[j % len(_RENAMES)])
    if op == "drop":
        return t.drop_column(pick(live))
    if op == "bloom":
        return t._commit(
            mf.files, op, base, rebase_ok=False, stats=mf.stats,
            dv_files=mf.dv_files,
            blooms={pick(live): {f: f"B{n}" for f in mf.files}},
        )
    if op == "dv":
        return t._commit(
            [], "delete-dv", base, rebase_ok=False,
            carry_parent_files=True, dv_files=[f"data/dv{n}/part-0"],
        )
    if op in ("spec", "cluster"):
        decl = [pick(live)] if j % 3 else None
        key = "partition_spec" if op == "spec" else "clustering"
        return t._commit(
            mf.files, op, base, rebase_ok=False, stats=mf.stats,
            dv_files=mf.dv_files, **{key: decl},
        )
    if op == "properties":
        return t.set_properties({f"p{i % 3}": None if j % 3 == 0 else str(n)})
    if op == "constraint":
        return t._commit(
            [], op, base, rebase_ok=False, carry_parent_files=True,
            constraint=f"{pick(live)} IS NOT NULL",
        )
    if op == "add_column":
        return t.add_columns({pick(list(_TYPES) + _RENAMES): "double"})
    if op == "alter":
        return t._commit(
            [], op, base, rebase_ok=False, carry_parent_files=True,
            schema={pick(live): "bigint"},
        )
    raise AssertionError(op)


def _no_ts(state: dict) -> dict:
    return {k: v for k, v in state.items() if k != "ts"}


def test_cached_state_equals_checkpoint_and_replay(tmp_path):
    """For every committed version: the writer's cached state, the
    checkpoint + tail resolution and a pure record-by-record replay are
    the same state (ignoring the commit wall time)."""

    @settings(
        max_examples=200,
        deadline=None,
        suppress_health_check=[HealthCheck.too_slow],
    )
    @given(
        ops=st.lists(
            st.tuples(
                st.sampled_from(_OPS),
                st.integers(0, 7),
                st.integers(0, 7),
            ),
            min_size=1,
            max_size=14,
        )
    )
    # a built bloom column whose files all left, checkpointed in parts
    @example(
        ops=[("overwrite", 0, 0), ("bloom", 0, 0), ("overwrite", 0, 2),
             ("dv", 0, 0)]
    )
    # a narrowing overwrite, then a write re-declaring the dead column
    @example(
        ops=[("overwrite", 2, 0), ("overwrite", 0, 0), ("append", 2, 0)]
    )
    def run(ops):
        t = _Small(None, str(tmp_path / f"t{next(_seq)}"))
        for n, (op, i, j) in enumerate(ops):
            try:
                _run_op(t, op, i, j, n)
            except (SchemaConflict, KeyError, CommitConflict):
                pass  # rejected by governance: nothing published
        replay = None
        for v in t.versions():
            replay = _apply_record(
                replay, _load_record(t.root, v, t.backend)
            )
            resolved = resolve_snapshot(t.root, v, t.backend)
            cached = t._snap_cache[v]
            assert _no_ts(cached) == _no_ts(replay), (v, ops)
            assert _no_ts(resolved) == _no_ts(replay), (v, ops)

    run()


# ----------------------------------------------------------------------
# public-API sequences where the writer's cache and replay disagreed
# ----------------------------------------------------------------------


def test_redeclared_dead_column_is_live_for_every_handle(spark, tmp_path):
    """overwrite(a,b) → overwrite(a) → append(a,b): the append brings
    ``b`` back into the live declaration, and the record must say so —
    a fresh handle replaying the log declares the same columns as the
    writer."""
    root = str(tmp_path / "t")
    t = TransactionalTable(spark, root)
    t.overwrite(spark.createDataFrame([(1, "x")], "a int, b string"))
    t.overwrite(spark.createDataFrame([(2,)], "a int"))
    v = t.append(spark.createDataFrame([(3, "y")], "a int, b string"))
    fresh = TransactionalTable(spark, root)
    for h in (t, fresh):
        assert set(h._read_manifest(v).declared_schema) == {"a", "b"}
    assert sorted(fresh.read().columns) == ["a", "b"]


def test_add_columns_readds_dead_column(spark, tmp_path):
    """overwrite(a,b) → overwrite(a) → add_columns(b): ``b`` left the
    live set, so it can be added again (it is not "already there"),
    under the widening rule a re-declaring write follows: the same or
    a wider type comes back, a narrower one is refused."""
    root = str(tmp_path / "t")
    t = TransactionalTable(spark, root)
    t.overwrite(spark.createDataFrame([(1, 7)], "a int, b int"))
    t.overwrite(spark.createDataFrame([(2,)], "a int"))
    with pytest.raises(SchemaConflict):
        t.add_columns({"b": "smallint"})
    with pytest.raises(SchemaConflict):
        t.add_columns({"a": "int"})  # live: already exists
    v = t.add_columns({"b": "bigint"})
    fresh = TransactionalTable(spark, root)
    assert fresh._read_manifest(v).declared_schema == {
        "a": "int",
        "b": "bigint",
    }
    assert [tuple(r) for r in fresh.read().collect()] == [(2, None)]


def test_bloom_declaration_survives_overwrite_and_compact(spark, tmp_path):
    """build_bloom("a") → overwrite → compact: the built column keeps
    its declaration after its files leave, so both handles report the
    same blooms and the compact rebuilds entries for ``a``."""
    root = str(tmp_path / "t")
    t = TransactionalTable(spark, root)
    t.overwrite(spark.createDataFrame([(i,) for i in range(4)], "a int"))
    t.build_bloom("a")
    v1 = t.overwrite(
        spark.createDataFrame([(i,) for i in range(4, 8)], "a int")
        .repartition(2)
    )
    fresh = TransactionalTable(spark, root)
    assert t._read_manifest(v1).blooms == fresh._read_manifest(v1).blooms
    v2 = t.compact()
    fresh = TransactionalTable(spark, root)
    mine, theirs = t._read_manifest(v2), fresh._read_manifest(v2)
    assert mine.blooms == theirs.blooms
    assert set(mine.blooms["a"]) == set(mine.files)
    assert t.read_point("a", 5).count() == 1


@pytest.mark.parametrize("overwrite_between", [False, True])
def test_restore_after_rename_keys_stats_by_new_name(
    spark, tmp_path, overwrite_between
):
    """rename_column survives a restore, so the restored snapshot's
    per-file stats are keyed by the NEW name on the writer and on a
    fresh handle — also when the restore re-adds files the table had
    dropped in between."""
    root = str(tmp_path / "t")
    t = TransactionalTable(spark, root)
    t.overwrite(spark.createDataFrame([(1,), (2,)], "a int").coalesce(1))
    t.rename_column("a", "k")
    if overwrite_between:
        t.overwrite(spark.createDataFrame([(9,)], "k int").coalesce(1))
    v = t.restore(0)
    fresh = TransactionalTable(spark, root)
    for h in (t, fresh):
        stats = h._read_manifest(v).stats
        assert [sorted(s) for s in stats.values()] == [
            ["__n_rows", "__nulls", "k"]
        ], stats
        assert [list(s["__nulls"]) for s in stats.values()] == [["k"]]
    assert t.skipped_files("k", 5, 6) == (0, 1)
