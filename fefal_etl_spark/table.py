"""Transactional parquet tables — a minimal Delta/Iceberg-style commit
protocol giving the engine's sinks atomic publish, snapshot isolation and
time travel (VERDICT r4 item 4: `operators/upsert.py::merge_into` has
MERGE *semantics* but the engine previously had no atomic-commit /
concurrent-writer story).

Layout (all under one table root)::

    <root>/data/<commit-uuid>/part-*.parquet   immutable data files
    <root>/_manifests/manifest-<N>.json        snapshot N's file list

The MANIFEST IS THE TABLE: a snapshot is exactly the part-files listed in
``manifest-<N>.json``; data files are immutable and never listed by
directory scan, so readers are unaffected by concurrent writers' staged
files, crashed writers' debris, or files logically deleted by a rewrite.

Commit protocol (write-new-files → fsync → atomic manifest swap):

1. Write the new parquet files under ``data/<uuid>/`` (never touching
   existing files). Spark's job commit already renames task attempts into
   place; the part-file list is captured from the committed directory.
2. Serialize the manifest JSON to a unique temp name and fsync it (file
   AND parent directory — the close-without-fsync window is exactly where
   a crash corrupts non-journaled metadata).
3. Publish with ``os.link(tmp, manifest-<N>)`` — an atomic
   create-if-absent (unlike ``os.rename``, which silently replaces an
   existing target on POSIX). EEXIST means another writer won version N:
   appends REBASE onto the new latest and retry; overwrites/merges raise
   ``CommitConflict`` (write-write serializability, caller decides).

A reader can therefore never observe a partial commit: either
``manifest-<N>.json`` exists — fully written and fsynced before link —
or version N does not exist.

At 100 TB this is the same protocol, with the manifest store on the
shared filesystem/object store (S3 would use a put-if-absent conditional
write in place of ``os.link``) and manifests holding file-level column
stats for data skipping; the local implementation keeps the protocol and
the isolation guarantees testable.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import time
import uuid
from dataclasses import dataclass
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession

from fefal_etl_spark.cache import memo, peek
from fefal_etl_spark.predicate_prune import (
    covered_files,
    prune_candidates,
    render_predicate,
)

_MANIFEST_RE = re.compile(r"^manifest-(\d+)\.json$")

#: "parameter not passed" sentinel for _commit(partition_spec=...):
#: None is a MEANINGFUL value there (reset to never-declared — restore
#: needs it), so absence needs its own marker
_UNSET = object()
_CHECKPOINT_RE = re.compile(r"^checkpoint-(\d+)\.json$")
# multi-part checkpoint (round 7 — Delta's multi-part parquet checkpoint
# model): ``checkpoint-<N>.<k>-of-<K>.json`` — the full state at N split
# into K independently-written parts, so checkpoint WRITE cost is
# parallelizable and per-part size stays bounded however many files the
# table holds (the single-JSON checkpoint was the last O(table-files)
# metadata ceiling: one serialize + one whole-file read)
_CHECKPOINT_PART_RE = re.compile(
    r"^checkpoint-(\d+)\.(\d+)-of-(\d+)\.json$"
)


# ----------------------------------------------------------------------
# log-resolution helpers (pure functions — no SparkSession, shared with
# the streaming sources in `streaming/table_source.py`). Every log read
# goes through a `commit_backend.CommitBackend` (round 8 — VERDICT r7
# item 4: the S3/GCS story needs reads and listing abstracted too, not
# just the put-if-absent publish); ``backend=None`` keeps the POSIX
# default for the existing callers.
# ----------------------------------------------------------------------
def _backend_or_default(backend):
    if backend is not None:
        return backend
    from fefal_etl_spark.commit_backend import LocalFsBackend

    return LocalFsBackend()


def _load_record(root: str, version: int, backend=None) -> dict:
    """Raw commit record ``manifest-<version>.json`` — a DELTA since r6
    (``add``/``remove`` + this commit's ledger/schema/bloom deltas),
    O(changed files) however large the table; pre-r6 records carry an
    absolute ``files`` list and replay as full-state resets."""
    path = os.path.join(root, "_manifests", f"manifest-{version}.json")
    return json.loads(_backend_or_default(backend).get(path))


def _list_checkpoints(root: str, backend=None) -> list[int]:
    """Versions with a COMPLETE checkpoint: a legacy single
    ``checkpoint-<N>.json`` or a multi-part set with all K parts
    present. An in-flight multi-part write (some parts landed, some
    not) is invisible — readers only ever consume whole checkpoints,
    which is what makes the part writes atomicity-free."""
    mdir = os.path.join(root, "_manifests")
    single: set[int] = set()
    parts: dict[int, dict[int, set[int]]] = {}  # ver -> K -> {k}
    for fn in _backend_or_default(backend).list(mdir):
        m = _CHECKPOINT_RE.match(fn)
        if m:
            single.add(int(m.group(1)))
            continue
        m = _CHECKPOINT_PART_RE.match(fn)
        if m:
            v, k, total = (int(g) for g in m.groups())
            parts.setdefault(v, {}).setdefault(total, set()).add(k)
    complete = single | {
        v
        for v, by_k in parts.items()
        for total, ks in by_k.items()
        if len(ks) == total
    }
    return sorted(complete)


def _checkpoint_paths(root: str, version: int, backend=None) -> list[str]:
    """Existing object paths making up ``version``'s checkpoint (single
    or parts, possibly both after an upgrade) — vacuum's delete list."""
    mdir = os.path.join(root, "_manifests")
    out = []
    for fn in _backend_or_default(backend).list(mdir):
        m = _CHECKPOINT_RE.match(fn) or _CHECKPOINT_PART_RE.match(fn)
        if m and int(m.group(1)) == version:
            out.append(os.path.join(mdir, fn))
    return sorted(out)


def _load_checkpoint(root: str, version: int, backend=None) -> dict:
    """Load and merge ``version``'s checkpoint. Part 0 carries the
    scalar state (version/op/ledger/schema/…); every part carries its
    slice of ``files`` and the per-file maps (stats, partitions, bloom
    entries). Concatenating slices in part order reconstructs the
    manifest file order exactly. Falls back to the legacy single
    JSON when no complete part set exists."""
    b = _backend_or_default(backend)
    mdir = os.path.join(root, "_manifests")
    by_k: dict[int, list[int]] = {}
    for fn in b.list(mdir):
        m = _CHECKPOINT_PART_RE.match(fn)
        if m and int(m.group(1)) == version:
            by_k.setdefault(int(m.group(3)), []).append(int(m.group(2)))
    totals = [t for t, ks in by_k.items() if len(set(ks)) == t]
    if totals:
        total = totals[0]
        state: dict = {}
        for k in range(total):
            part = json.loads(
                b.get(
                    os.path.join(
                        mdir, f"checkpoint-{version}.{k}-of-{total}.json"
                    )
                )
            )
            if k == 0:
                state = part
            else:
                state["files"] += part["files"]
                state["stats"].update(part.get("stats") or {})
                state["partitions"].update(part.get("partitions") or {})
                for c, m_ in (part.get("blooms") or {}).items():
                    state.setdefault("blooms", {}).setdefault(
                        c, {}
                    ).update(m_)
        state.pop("fmt", None)
        return state
    state = json.loads(
        b.get(os.path.join(mdir, f"checkpoint-{version}.json"))
    )
    state.pop("fmt", None)
    return state


def _apply_record(state: dict | None, rec: dict) -> dict:
    """Replay one commit record onto a resolved snapshot state dict.
    Returns a NEW state (inputs are never mutated — callers cache them).

    State keys mirror `_Manifest`. A record with an absolute ``files``
    list (pre-checkpoint format) resets the state wholesale; a delta
    record removes then adds, pruning per-file metadata (stats,
    partition values, blooms) of removed files and merging the
    record's own deltas for added ones."""
    if "files" in rec:  # absolute (pre-r6) record: full-state reset
        return {
            "version": rec["version"],
            "op": rec["op"],
            "parent": rec.get("parent"),
            "ts": rec.get("ts"),
            "files": list(rec["files"]),
            "stats": dict(rec.get("stats") or {}),
            "partitions": dict(rec.get("partitions") or {}),
            "dv_files": list(rec.get("dv_files") or []),
            "txns": dict(rec.get("txns") or {}),
            "schema": dict(rec.get("schema") or {}),
            "constraints": list(rec.get("constraints") or []),
            "blooms": {
                c: dict(m) for c, m in (rec.get("blooms") or {}).items()
            },
            "generated": dict(rec.get("generated") or {}),
            "column_ops": list(rec.get("column_ops") or []),
            "partition_spec": rec.get("partition_spec"),
            "clustering": rec.get("clustering"),
            "properties": dict(rec.get("properties") or {}),
            "live_cols": rec.get("live_cols"),
        }
    prev = state or {
        "files": [], "stats": {}, "partitions": {}, "dv_files": [],
        "txns": {}, "schema": {}, "constraints": [], "blooms": {},
        "generated": {}, "column_ops": [], "partition_spec": None,
        "clustering": None, "properties": {},
    }
    removed = set(rec.get("remove") or [])
    add = list(rec.get("add") or [])
    files = [f for f in prev["files"] if f not in removed] + add
    if "files_order" in rec:  # rare (restore interleave): explicit order
        files = list(rec["files_order"])
    live = set(files)
    stats = {f: s for f, s in prev["stats"].items() if f in live}
    stats.update(rec.get("stats") or {})
    parts = {f: p for f, p in prev["partitions"].items() if f in live}
    parts.update(rec.get("partitions") or {})
    dv_removed = set(rec.get("dv_remove") or [])
    dvs = [d for d in prev["dv_files"] if d not in dv_removed]
    dvs += list(rec.get("dv_add") or [])
    txns = dict(prev["txns"])
    if rec.get("txn"):
        app_id, txn_version = rec["txn"]
        txns[app_id] = txn_version
    schema = dict(prev["schema"])
    schema.update(rec.get("schema") or {})
    # the LIVE declared set: a record carrying the key (overwrite)
    # REPLACES it; otherwise it grows by this record's new schema
    # names. Pre-upgrade parents (no key) derive from their full
    # schema — exactly the pre-r12 visible behavior.
    if "live_cols" in rec and rec["live_cols"] is not None:
        live_cols = list(rec["live_cols"])
    else:
        live_cols = (
            list(prev["live_cols"])
            if prev.get("live_cols") is not None
            else list(prev["schema"].keys())
        )
        live_cols += [
            k for k in (rec.get("schema") or {}) if k not in live_cols
        ]
    constraints = list(prev["constraints"])
    if rec.get("constraint") is not None:
        constraints.append(rec["constraint"])
    blooms = {
        c: {f: b for f, b in m.items() if f in live}
        for c, m in prev["blooms"].items()
    }
    for c, m in (rec.get("blooms") or {}).items():
        blooms.setdefault(c, {}).update(m)
    generated = dict(prev.get("generated") or {})
    generated.update(rec.get("generated") or {})
    column_ops = list(prev.get("column_ops") or [])
    if rec.get("column_op"):
        op = list(rec["column_op"])
        column_ops.append(op)
        schema, stats, blooms = _apply_col_op_to_meta(
            op, schema, stats, blooms
        )
        if op[0] == "rename":
            live_cols = [op[2] if c == op[1] else c for c in live_cols]
        else:  # drop
            live_cols = [c for c in live_cols if c != op[1]]
    return {
        "version": rec["version"],
        "op": rec["op"],
        "parent": rec.get("parent"),
        "ts": rec.get("ts"),
        "files": files,
        "stats": stats,
        "partitions": parts,
        "dv_files": dvs,
        "txns": txns,
        "schema": schema,
        "constraints": constraints,
        "blooms": blooms,
        "generated": generated,
        "column_ops": column_ops,
        # the spec carries forward; a record with the KEY present
        # replaces it (the value may be null — restore resets a
        # declared spec back to never-declared)
        "clustering": (
            rec["clustering"]
            if "clustering" in rec
            else prev.get("clustering")
        ),
        "properties": {
            k: v
            for k, v in {
                **(prev.get("properties") or {}),
                **(rec.get("properties") or {}),
            }.items()
            if v is not None
        },
        "partition_spec": (
            rec["partition_spec"]
            if "partition_spec" in rec
            else prev.get("partition_spec")
        ),
        "live_cols": live_cols,
    }


def _apply_col_op_to_meta(
    op: list, schema: dict, stats: dict, blooms: dict
) -> tuple[dict, dict, dict]:
    """Apply a metadata-only schema op to the resolved schema / per-file
    stats / bloom maps WITHOUT mutating inner dicts (they may be shared
    with a cached parent state). Outer dicts are caller-owned copies."""
    if op[0] == "rename":
        _, old_c, new_c = op
        if old_c in schema:
            # rename IN PLACE — declared column ORDER is part of the
            # schema contract (positional INSERT aligns to it; a
            # pop+re-add silently moved the renamed column last,
            # round 12)
            schema_items = [
                ((new_c, v) if k == old_c else (k, v))
                for k, v in schema.items()
            ]
            schema.clear()
            schema.update(schema_items)

        def fix_rename(fs: dict) -> dict:
            nulls = fs.get("__nulls")
            if old_c not in fs and not (nulls and old_c in nulls):
                return fs
            out = {
                (new_c if k == old_c else k): v
                for k, v in fs.items()
                if k != "__nulls"
            }
            if nulls is not None:
                # the reserved null-count map is keyed by column too —
                # moving only the [min,max] key would silently kill
                # IS NULL pruning on the renamed column (review finding)
                out["__nulls"] = {
                    (new_c if k == old_c else k): v
                    for k, v in nulls.items()
                }
            return out

        stats = {f: fix_rename(fs) for f, fs in stats.items()}
        if old_c in blooms:
            blooms[new_c] = blooms.pop(old_c)
    else:  # ["drop", col]
        _, col_c = op
        schema.pop(col_c, None)

        def fix_drop(fs: dict) -> dict:
            nulls = fs.get("__nulls")
            if col_c not in fs and not (nulls and col_c in nulls):
                return fs
            out = {k: v for k, v in fs.items() if k not in (col_c, "__nulls")}
            if nulls is not None:
                kept = {k: v for k, v in nulls.items() if k != col_c}
                if kept:
                    out["__nulls"] = kept
            return out

        stats = {f: fix_drop(fs) for f, fs in stats.items()}
        blooms.pop(col_c, None)
    return schema, stats, blooms


#: safe type WIDENINGS (Delta's type-widening lattice, numeric subset):
#: a write may redefine a column to any type its recorded type widens
#: to — every old value is exactly representable in the new type, and
#: Spark's unionByName read path coerces mixed files to the wider type
#: on its own. int→float and bigint→double are absent on purpose
#: (lossy above 2^24 / 2^53).
_WIDENS_TO: dict[str, set[str]] = {
    "tinyint": {"smallint", "int", "bigint", "float", "double"},
    "smallint": {"int", "bigint", "float", "double"},
    "int": {"bigint", "double"},
    "float": {"double"},
}

_DECIMAL_RE = re.compile(r"^decimal\((\d+),(\d+)\)$")


def widens(old: str, new: str) -> bool:
    """True iff redefining a column from Spark type ``old`` to ``new``
    is a lossless widening: the numeric lattice above, or a decimal
    precision increase at the same scale (more integer digits, every
    old value representable)."""
    if new in _WIDENS_TO.get(old, ()):
        return True
    mo, mn = _DECIMAL_RE.match(old), _DECIMAL_RE.match(new)
    if mo and mn:
        po, so = int(mo.group(1)), int(mo.group(2))
        pn, sn = int(mn.group(1)), int(mn.group(2))
        return sn == so and pn >= po
    return False


def retired_names(column_ops: list | None) -> set[str]:
    """Names made unusable by the op history: rename SOURCES and dropped
    columns. Re-adding one would make the read-side mapping ambiguous
    (the engine has no per-file column ids — Delta without column
    mapping has the same restriction), so `_enforce` rejects them.
    A name re-introduced by a LATER rename TARGET is live again."""
    out: set[str] = set()
    for op in column_ops or []:
        if op[0] == "rename":
            out.add(op[1])
            out.discard(op[2])
        else:
            out.add(op[1])
    return out


def resolve_snapshot(root: str, version: int, backend=None) -> dict:
    """Resolve the full snapshot state of ``version`` by loading the
    newest checkpoint at-or-below it and replaying only the commit
    records after it — the Delta `_last_checkpoint` read path: cost is
    O(checkpoint + tail deltas), never O(whole log)."""
    b = _backend_or_default(backend)
    cps = [c for c in _list_checkpoints(root, b) if c <= version]
    state: dict | None = None
    start = 0
    if cps:
        cp = cps[-1]
        state = _load_checkpoint(root, cp, b)
        if cp == version:
            return state
        start = cp + 1
    # replay the records that exist in [start, version] — a vacuumed log
    # keeps only the tail (guarded by the checkpoint vacuum writes; a
    # pre-checkpoint-era vacuum kept absolute records, which reset state)
    mdir = os.path.join(root, "_manifests")
    tail = sorted(
        v
        for fn in b.list(mdir)
        if (m := _MANIFEST_RE.match(fn))
        and start <= (v := int(m.group(1))) <= version
    )
    for v in tail:
        state = _apply_record(state, _load_record(root, v, b))
    if state is None or state["version"] != version:
        raise FileNotFoundError(
            f"version {version} of {root} is not resolvable "
            f"(log tail {tail}, checkpoint {cps[-1] if cps else None})"
        )
    return state


class ChangeUnit(NamedTuple):
    """One data file's share of a commit's change rows: the rows of
    ``rel`` at the positions no sidecar in ``masked_by`` names and, when
    ``only_in`` is set, that some sidecar in ``only_in`` names."""

    change: str  # the ``_change_type`` label of every row it yields
    rel: str  # root-relative data file
    version: int
    masked_by: tuple[str, ...]  # root-relative DV sidecars
    only_in: tuple[str, ...] | None


def change_units(
    root: str, version: int, prev_state: dict | None, backend=None
) -> tuple[list[ChangeUnit], dict]:
    """The ordered change units of commit ``version`` and its resolved
    state, from ``prev_state`` (the state at ``version - 1``, None
    before the first commit) and the commit record. The one
    enumeration behind every change reader: ``change_feed`` and
    ``row_deltas`` read the units with Spark, the ``txn_table_changes``
    stream with pyarrow on its workers. Pure Python and pyarrow.

    * Added files are inserts, or update postimages when the record's
      ``cdf.postimage`` lists them, minus the positions the new
      vectors mask; removed files are deletes of the rows the old
      vectors left visible.
    * A copy-on-write UPDATE that recorded change-data image files
      (``cdf.cow_pre``/``cow_post``) yields exactly those images in
      place of the file diff: the survivors it carried emit nothing.
    * On a file both snapshots hold, the sidecar SETS are compared
      (which also covers absolute pre-r6 records and ``restore``):
      positions a sidecar only the new state holds masks are deletes
      (update preimages for a DV update or merge), positions a sidecar
      only the old state held masked are re-inserts."""
    import pyarrow.parquet as pq

    rec = _load_record(root, version, backend)
    state = _apply_record(prev_state, rec)
    prev = prev_state or {"files": [], "dv_files": []}
    new, old = tuple(state["dv_files"]), tuple(prev["dv_files"])
    prev_files, cur_files = set(prev["files"]), set(state["files"])
    cdf = rec.get("cdf") or {}

    def unit(change, rel, masked_by, only_in=None):
        return ChangeUnit(change, rel, version, masked_by, only_in)

    if cdf.get("cow_pre") or cdf.get("cow_post"):
        units = [
            unit("update_preimage", f, ()) for f in cdf.get("cow_pre") or []
        ] + [
            unit("update_postimage", f, ()) for f in cdf.get("cow_post") or []
        ]
    else:
        post = set(cdf.get("postimage") or [])
        units = [
            unit("update_postimage" if f in post else "insert", f, new)
            for f in state["files"]
            if f not in prev_files
        ] + [
            unit("delete", f, old)
            for f in prev["files"]
            if f not in cur_files
        ]
    retained = prev_files & cur_files
    masked = (
        "update_preimage"
        if rec.get("op") in ("update-dv", "merge-dv")
        else "delete"
    )
    for change, gained, lost in ((masked, new, old), ("insert", old, new)):
        touched: set[str] = set()
        for sc in set(gained) - set(lost) if retained else ():
            touched.update(
                pq.read_table(os.path.join(root, sc), columns=["file"])
                .column("file")
                .to_pylist()
            )
        units += [
            unit(change, f, lost, gained) for f in sorted(touched & retained)
        ]
    return units, state


def _footer_schema(path: str):
    """The Spark schema Spark's parquet writer stored in the footer of
    the file at ``path`` (key ``org.apache.spark.sql.parquet.row.metadata``,
    the same key Spark's schema inference reads), with every field
    nullable at every level as Spark's file source makes it. Read on
    the driver with pyarrow: no Spark job. None when the footer carries
    no such key (pyarrow-written files, e.g. the ``txn_table`` sink's)
    or cannot be read; the caller then lets Spark infer."""
    import pyarrow.parquet as pq
    from pyspark.sql.types import ArrayType, MapType, StructField, StructType

    def nullable(t):
        if isinstance(t, StructType):
            return StructType([
                StructField(f.name, nullable(f.dataType), True, f.metadata)
                for f in t.fields
            ])
        if isinstance(t, ArrayType):
            return ArrayType(nullable(t.elementType), True)
        if isinstance(t, MapType):
            return MapType(nullable(t.keyType), nullable(t.valueType), True)
        return t

    try:
        kv = pq.read_metadata(path).metadata or {}
    except OSError:
        return None
    raw = kv.get(b"org.apache.spark.sql.parquet.row.metadata")
    return None if raw is None else nullable(StructType.fromJson(json.loads(raw)))


#: process-wide shared memory backend for FEFAL_TABLE_BACKEND=memory —
#: one instance, so separate handles on the same root see one log
_MEMORY_BACKEND = None


def _default_backend():
    global _MEMORY_BACKEND
    if os.environ.get("FEFAL_TABLE_BACKEND") == "memory":
        if _MEMORY_BACKEND is None:
            from fefal_etl_spark.commit_backend import InMemoryBackend

            _MEMORY_BACKEND = InMemoryBackend()
        return _MEMORY_BACKEND
    return _backend_or_default(None)


class CommitConflict(Exception):
    """Another writer committed since this transaction's base snapshot
    and the operation is not order-independent (overwrite/merge/delete).
    Callers re-read and retry at the new base."""


class SchemaConflict(Exception):
    """An incoming write redefines an existing column with an
    incompatible type. New columns are allowed (the schema-evolution
    contract); silently changing a column's type would corrupt every
    union-by-name read, so it is rejected at commit time — the
    lakehouse schema-enforcement contract."""


class ConstraintViolation(Exception):
    """An incoming write contains rows that fail a table CHECK
    constraint (SQL semantics: a row violates only when the expression
    is FALSE — NULL passes). Enforced at commit time so bad data never
    becomes visible to any reader."""


@dataclass
class _Manifest:
    version: int
    op: str
    files: list[str]  # paths relative to the table root
    parent: int | None
    # application-level idempotence ledger (Delta's txnAppId/txnVersion):
    # highest committed writer-transaction version per app id, carried
    # forward through every commit so the latest manifest alone answers
    # "was this batch already applied?"
    txns: dict[str, int] | None = None
    # per-file column stats for data skipping: {file: {col: [min, max]}}
    stats: dict[str, dict] | None = None
    # hive-layout partition values per file: {file: {col: "value"}} —
    # like Delta, partition values live in the LOG, so partition pruning
    # is a manifest filter with zero storage listing
    partitions: dict[str, dict] | None = None
    # deletion-vector sidecar files (root-relative parquet paths holding
    # (file, pos) rows): merge-on-read deletes — the listed positions of
    # the listed data files are logically deleted without rewriting them
    dv_files: list[str] | None = None
    # governance, carried forward through every commit like the ledger:
    # column -> Spark simpleString type (schema enforcement + evolution
    # record) and the list of CHECK constraint expressions
    schema: dict[str, str] | None = None
    constraints: list[str] | None = None
    # wall-clock commit time (epoch seconds), recorded at publish for
    # AS-OF-timestamp reads and history(); absent in pre-upgrade
    # manifests (readers fall back to the manifest file's mtime)
    ts: float | None = None
    # per-file bloom filters for point-lookup skipping:
    # {col: {file: base64(bitmap)}} — built by build_bloom(), carried
    # forward; files written later have no entry (conservatively kept)
    blooms: dict[str, dict] | None = None
    # generated partition columns (Iceberg hidden-partitioning shape):
    # {col: SQL expr over the data columns} — recorded at declaration,
    # carried forward; `append` re-derives them automatically
    generated: dict[str, str] | None = None
    # ordered metadata-only schema ops (zero-rewrite rename/drop):
    # [["rename", old, new] | ["drop", col], ...] — applied at read time
    # over files written before the op; names once renamed-from or
    # dropped are RETIRED (cannot be re-added) so the read-side mapping
    # stays unambiguous without per-file column ids
    column_ops: list | None = None
    # the DECLARED current partition spec (round 9 — Iceberg partition
    # evolution): the hive columns NEW data is laid out by. None =
    # never declared (legacy tables: layout inferred from the file
    # partition map, exactly the pre-r9 behavior). Old files keep
    # their own recorded spec in `partitions` and stay readable;
    # per-file pruning applies each file's own values.
    partition_spec: list[str] | None = None
    # preferred CLUSTERING columns (round 10 — Delta liquid-clustering
    # shape): recorded table metadata consumed by every OPTIMIZE-class
    # rewrite (compact, incl. the sink's auto-compact) so routine
    # maintenance preserves multi-dimension data skipping instead of
    # bin-packing it away. None = never declared.
    clustering: list[str] | None = None
    # free-form table properties (round 10 — Delta TBLPROPERTIES
    # shape): {key: value}; a None value in a commit's delta DELETES
    # the key. Consumed e.g. by update_where's CDF-image gate
    # ("cdf.images" = "true").
    properties: dict[str, str] | None = None
    # the LIVE declared column set (round 12): ``schema`` is the
    # cumulative type-history record (a narrowing overwrite keeps the
    # dead name so the widening lattice still judges a later re-add),
    # while ``live_cols`` is what readers/DESCRIBE/positional INSERT
    # see. A wholesale overwrite REPLACES it (its record carries the
    # key); appends/add_column grow it; rename/drop edit it. None =
    # pre-upgrade state: fall back to every schema key (the exact
    # pre-r12 behavior).
    live_cols: list[str] | None = None

    @property
    def declared_schema(self) -> dict[str, str] | None:
        """``schema`` pruned to the LIVE declared columns — the
        user-visible schema contract (read()/DESCRIBE/INSERT). Columns
        killed by a narrowing overwrite stay in ``schema`` as history
        but must NOT surface as phantom typed-NULL columns."""
        if not self.schema or self.live_cols is None:
            return self.schema
        live = set(self.live_cols)
        return {c: t for c, t in self.schema.items() if c in live}


class TransactionalTable:
    """A parquet table with manifest-based snapshot isolation.

    All mutation APIs (``overwrite``, ``append``, ``delete_where``,
    ``merge``) produce a NEW snapshot; readers pinned to a version (or
    just holding the DataFrame of one) are never affected by later
    commits — the files they reference are immutable."""

    #: write a full-state ``checkpoint-<N>.json`` every N commits, so
    #: snapshot resolution reads one checkpoint + ≤N delta records —
    #: the Delta `_last_checkpoint` cadence (Delta uses 10 too)
    CHECKPOINT_INTERVAL = 10

    #: max files per checkpoint PART: a checkpoint over more files than
    #: this is split into ceil(files / part_size) independent part
    #: files (see `_write_checkpoint`) so per-part size stays bounded
    #: and the write parallelizes — part count scales with the table,
    #: part size does not. 100k files × ~200 B/entry ≈ 20-30 MB/part.
    CHECKPOINT_PART_FILES = 100_000

    def __init__(self, spark: SparkSession, root: str, backend=None):
        self.spark = spark
        self.root = root
        # the commit-log storage backend (commit_backend.py): publish
        # (put-if-absent), reads, listing and deletion of the metadata
        # objects all route through it (round 8), so an S3/GCS
        # deployment only swaps the backend — data files stay with
        # Spark/pyarrow. FEFAL_TABLE_BACKEND=memory switches the
        # process-wide default to one shared InMemoryBackend (test
        # harness: run the table suites with the log off the
        # filesystem entirely).
        self.backend = backend or _default_backend()
        # resolved-snapshot cache: version -> state dict (immutable once
        # published, so entries never invalidate); bounded LRU-ish
        self._snap_cache: dict[int, dict] = {}
        os.makedirs(self._manifests_dir, exist_ok=True)
        os.makedirs(self._data_dir, exist_ok=True)

    # ------------------------------------------------------------------
    # layout helpers
    # ------------------------------------------------------------------
    @property
    def _manifests_dir(self) -> str:
        return os.path.join(self.root, "_manifests")

    @property
    def _data_dir(self) -> str:
        return os.path.join(self.root, "data")

    def versions(self) -> list[int]:
        """Committed snapshot versions, ascending. Only fully-published
        ``manifest-<N>.json`` names count — temp files and crashed
        writers' debris are invisible by construction."""
        out = []
        for fn in self.backend.list(self._manifests_dir):
            m = _MANIFEST_RE.match(fn)
            if m:
                out.append(int(m.group(1)))
        return sorted(out)

    def latest_version(self) -> int | None:
        vs = self.versions()
        return vs[-1] if vs else None

    def _manifest_path(self, version: int) -> str:
        return os.path.join(self._manifests_dir, f"manifest-{version}.json")

    @staticmethod
    def _pcols(mf: _Manifest) -> list[str]:
        """The snapshot's CURRENT hive partition columns: the DECLARED
        spec when the table evolved one (round 9 —
        :meth:`set_partition_spec`; rewrites then lazily MIGRATE old
        files to the new layout, Iceberg's rewrite-data-files path),
        else the legacy inference (union over the file partition map).
        CoW rewrites re-stage with them so a rewrite never demotes
        partitioned files to layout-less ones (which a later
        overwrite_partition would conservatively treat as in-target)."""
        if mf.partition_spec is not None:
            return list(mf.partition_spec)
        return sorted(
            {c for pv in (mf.partitions or {}).values() for c in pv}
        )

    @staticmethod
    def _to_manifest(state: dict) -> _Manifest:
        return _Manifest(
            version=state["version"],
            op=state["op"],
            files=state["files"],
            parent=state.get("parent"),
            txns=state.get("txns") or None,
            stats=state.get("stats") or None,
            partitions=state.get("partitions") or None,
            dv_files=state.get("dv_files") or None,
            schema=state.get("schema") or None,
            constraints=state.get("constraints") or None,
            ts=state.get("ts"),
            blooms=state.get("blooms") or None,
            generated=state.get("generated") or None,
            column_ops=state.get("column_ops") or None,
            partition_spec=state.get("partition_spec"),
            clustering=state.get("clustering"),
            properties=state.get("properties") or None,
            live_cols=state.get("live_cols"),
        )

    def _resolve_state(self, version: int) -> dict:
        """Resolved snapshot state with an in-memory cache: a hit on a
        CACHED ancestor replays only the records after it (so walking
        versions in order — `history()` — is O(delta) per step); a miss
        falls back to the checkpoint + tail read of
        :func:`resolve_snapshot`. States are treated as immutable."""
        hit = self._snap_cache.get(version)
        if hit is not None:
            return hit
        # list() snapshot: a concurrent committer on the same handle may
        # insert mid-iteration (threaded writers share handles)
        base = max(
            (v for v in list(self._snap_cache) if v < version), default=-1
        )
        cp = max(
            (
                c
                for c in _list_checkpoints(self.root, self.backend)
                if base < c <= version
            ),
            default=None,
        )
        if cp is not None or base < 0:
            state = resolve_snapshot(self.root, version, self.backend)
        else:
            # .get(): a concurrent _cache_state eviction may have raced
            # away the base between the max() scan and this read
            state = self._snap_cache.get(base)
            if state is None:
                state = resolve_snapshot(self.root, version, self.backend)
            else:
                for v in range(base + 1, version + 1):
                    state = _apply_record(
                        state, _load_record(self.root, v, self.backend)
                    )
        self._cache_state(version, state)
        return state

    def _cache_state(self, version: int, state: dict) -> None:
        if len(self._snap_cache) >= 64:  # bound driver memory
            try:  # best-effort LRU evict; racing threads may beat us
                self._snap_cache.pop(next(iter(self._snap_cache)))
            except (KeyError, StopIteration, RuntimeError):
                pass
        self._snap_cache[version] = state

    def _read_manifest(self, version: int) -> _Manifest:
        """The RESOLVED snapshot at ``version`` (checkpoint + delta
        tail — see :func:`resolve_snapshot`); same read-only view the
        pre-checkpoint absolute manifests gave."""
        return self._to_manifest(self._resolve_state(version))

    # ------------------------------------------------------------------
    # read side
    # ------------------------------------------------------------------
    def _read_files(
        self,
        files: list[str],
        dv_files: list[str] | None = None,
        with_pos: bool = False,
        column_ops: list | None = None,
        recorded_schema: dict[str, str] | None = None,
    ) -> DataFrame:
        """Manifest-driven scan of specific part-files, with one read
        loop. Files are grouped by their commit directory, and each
        group's schema is the one Spark's writer stored in its first
        file's footer (:func:`_footer_schema`, read on the driver), so
        building the scan runs no Spark job. Groups are then bucketed,
        in first-appearance order, by (schema, plus the commit dir when
        the group has hive ``col=value`` segments or no footer schema);
        each bucket is one multi-path read and the buckets union by
        name. A hive bucket is read with ``basePath`` at its commit dir,
        so Spark takes its partition columns from the path; a bucket
        without a footer schema lets Spark infer one. Columns a bucket
        lacks surface as typed NULLs (``allowMissingColumns``: the
        schema-evolution contract), and the first bucket's column order
        leads.

        ``dv_files`` = the snapshot's deletion-vector sidecars: the scan
        appends the file-constant ``_metadata.file_path`` (normalized to
        a root-relative path) and per-row ``_metadata.row_index``, then
        LEFT-ANTI joins the (file, pos) pairs — merge-on-read deletes.
        The DV side is broadcast: a deletion vector is by design a tiny
        fraction of the table (that is exactly when merge-on-read beats
        copy-on-write), so at 100 TB this stays a map-side filter with
        zero extra shuffle of the data. ``with_pos`` keeps the
        ``__dv_file``/``__dv_pos`` helper columns for callers that need
        row addresses (the DV writer itself).

        The plan is kept in the session cache (kind ``read_plan``): data
        files under a commit dir are uuid-addressed and write-once, so
        an identical request over the same root is an identical lazy
        plan, and rebuilding it costs tens of ms of driver/py4j work on
        every snapshot read of an unchanged table. The entry is only an
        analyzed plan (every action still scans the parquet bytes), so
        the request itself is the whole key; the newest 256 plans are
        kept."""
        from pyspark.sql import functions as F

        need_meta = with_pos or bool(dv_files)
        root_abs = os.path.abspath(self.root)
        memo_key = (
            root_abs,
            tuple(files),
            tuple(dv_files or ()),
            with_pos,
            tuple(tuple(op) for op in (column_ops or ())),
            tuple(sorted((recorded_schema or {}).items())),
        )
        hit = peek(self.spark, "read_plan", memo_key)
        if hit is not None:
            return hit
        prefix = "file:" + root_abs + "/"
        groups: dict[str, list[str]] = {}
        for f in files:  # group order = manifest order (deterministic)
            groups.setdefault("/".join(f.split("/")[:2]), []).append(f)
        buckets: dict[tuple, list[str]] = {}
        for commit, fs in groups.items():  # commit = data/<uuid>
            schema = _footer_schema(os.path.join(self.root, fs[0]))
            hive = any("=" in seg for f in fs for seg in f.split("/")[2:-1])
            base = commit if hive or schema is None else None
            buckets.setdefault((schema, base), []).extend(fs)
        out: DataFrame | None = None
        for (schema, base), fs in buckets.items():
            reader = self.spark.read
            if base is not None:
                reader = reader.option(
                    "basePath", os.path.join(self.root, base)
                )
            if schema is not None:
                reader = reader.schema(schema)
            df = reader.parquet(*[os.path.join(self.root, f) for f in fs])
            if need_meta:
                df = df.select(
                    "*",
                    F.col("_metadata.file_path")
                    .substr(F.lit(len(prefix) + 1), F.lit(1 << 30))
                    .alias("__dv_file"),
                    F.col("_metadata.row_index").alias("__dv_pos"),
                )
            out = (
                df
                if out is None
                else out.unionByName(df, allowMissingColumns=True)
            )
        assert out is not None
        if dv_files:
            out = out.join(
                F.broadcast(self._dv_positions(dv_files)),
                ["__dv_file", "__dv_pos"],
                "left_anti",
            )
        for op in column_ops or []:
            if op[0] == "rename":
                _, old_c, new_c = op
                if old_c in out.columns and new_c in out.columns:
                    out = out.withColumn(
                        new_c, F.coalesce(F.col(new_c), F.col(old_c))
                    ).drop(old_c)
                elif old_c in out.columns:
                    out = out.withColumnRenamed(old_c, new_c)
            else:  # drop
                out = out.drop(op[1])
        if need_meta and not with_pos:
            out = out.drop("__dv_file", "__dv_pos")
        if recorded_schema:
            # UPCAST to the manifest-recorded type (round 12 — the
            # ALTER COLUMN TYPE contract): after a metadata-only type
            # widening, or a partition-pruned read that happens to hit
            # only pre-widening files, the physical parquet type is
            # narrower than the declared one. Readers must see the
            # DECLARED type (Delta's type-widening read semantics) —
            # and the CoW rewrite paths must restage rows that pass
            # `_check_schema` against the wide manifest. Driver-side
            # schema compare; the projection is added ONLY when a
            # lossless widening is actually pending, so un-widened
            # tables keep their exact pre-round-12 plans.
            phys = {
                f.name: f.dataType.simpleString()
                for f in out.schema.fields
            }
            needs = {
                c: t
                for c, t in recorded_schema.items()
                if c in phys and phys[c] != t and widens(phys[c], t)
            }
            # columns DECLARED (add_column) but absent from every
            # scanned file materialize as typed NULLs — the Delta ADD
            # COLUMN read contract; files written after the add carry
            # them physically and take the unionByName path instead
            added = {
                c: t for c, t in recorded_schema.items() if c not in phys
            }
            declared = list(recorded_schema)
            extras = [c for c in out.columns if c not in recorded_schema]
            order = declared + extras
            if needs or added or order != list(out.columns):
                # also surface the manifest-DECLARED column order:
                # a mixed-generation rename read otherwise appends the
                # renamed column last (unionByName artifact), breaking
                # SELECT * / positional expectations (round 12)
                def col_of(c):
                    if c in needs:
                        return F.col(f"`{c}`").cast(needs[c]).alias(c)
                    if c in added:
                        return F.lit(None).cast(added[c]).alias(c)
                    return F.col(f"`{c}`")

                out = out.select(*[col_of(c) for c in order])
        return memo(self.spark, "read_plan", memo_key, lambda: out, limit=256)

    def _dv_positions(self, dv_files) -> DataFrame:
        """The (``__dv_file``, ``__dv_pos``) addresses the deletion-vector
        sidecars ``dv_files`` name."""
        from pyspark.sql import functions as F

        return self._read_files(dv_files).select(
            F.col("file").alias("__dv_file"), F.col("pos").alias("__dv_pos")
        )

    def read(self, version: int | None = None) -> DataFrame:
        """Snapshot read: exactly the files of ``version`` (default:
        latest). Time travel is just picking an older manifest."""
        v = self.latest_version() if version is None else version
        if v is None:
            raise FileNotFoundError(f"no committed version in {self.root}")
        mf = self._read_manifest(v)
        if not mf.files:
            raise FileNotFoundError(
                f"version {v} of {self.root} is empty"
            )
        return self._read_files(
            mf.files, dv_files=mf.dv_files, column_ops=mf.column_ops,
            recorded_schema=mf.declared_schema,
        )

    def read_partition(self, version: int | None = None, **filters) -> DataFrame:
        """Partition pruning: :meth:`read_matching` over the equality
        conjunction of ``filters`` (``c=None`` reads the NULL
        partition, ``c IS NULL``)."""
        return self.read_matching(
            render_predicate([(c, "=", x) for c, x in filters.items()]),
            version,
        )

    def read_partition_in(
        self, col: str, values: list, version: int | None = None
    ) -> DataFrame:
        """:meth:`read_matching` over ``col IN (values)`` — the IN-list
        form of :meth:`read_partition` in one scan (a None member also
        reads the NULL partition)."""
        return self.read_matching(
            render_predicate([(col, "in", values)]), version
        )

    def pruned_partition_files(
        self, version: int | None = None, **filters
    ) -> tuple[int, int]:
        """(files_kept, files_total) for a :meth:`read_partition`."""
        return self.pruned_predicate_files(
            render_predicate([(c, "=", x) for c, x in filters.items()]),
            version,
        )

    def read_where(self, col: str, lo, hi, version: int | None = None) -> DataFrame:
        """Stats-based data skipping: :meth:`read_matching` over
        ``col BETWEEN lo AND hi``."""
        return self.read_matching(
            render_predicate([(col, "between", (lo, hi))]), version
        )

    def read_matching(
        self, condition: str, version: int | None = None
    ) -> DataFrame:
        """The pruned read: scan only the files whose manifest stats,
        null counts and partition values say they MAY hold a row
        matching ``condition`` (`predicate_prune.prune_candidates` —
        AND/OR/NOT/BETWEEN/IN/IS NULL, zero file IO to prune), then
        apply the full predicate as the residual row filter. At 100 TB
        this is partition pruning and data skipping WITHIN a partition
        in one pass (Delta/Iceberg data skipping). A predicate outside
        the skippable subset degrades to a full scan + filter, never a
        wrong answer."""
        from pyspark.sql import functions as F

        return self._scan(*self._pruned(condition, version)).filter(
            F.expr(condition)
        )

    def pruned_predicate_files(
        self, condition: str, version: int | None = None
    ) -> tuple[int, int]:
        """(files_kept, files_total) for a :meth:`read_matching` — the
        auditable pruning measure."""
        _, mf, keep = self._pruned(condition, version)
        return len(keep), len(mf.files)

    def skipped_files(self, col: str, lo, hi, version: int | None = None) -> tuple[int, int]:
        """(files_kept, files_total) for a :meth:`read_where`."""
        return self.pruned_predicate_files(
            render_predicate([(col, "between", (lo, hi))]), version
        )

    def _scan(self, v: int, mf: _Manifest, keep: list[str]) -> DataFrame:
        """Snapshot ``v``'s read of the ``keep`` files (an empty frame of
        the table's schema when none is kept)."""
        from pyspark.sql import functions as F

        if not keep:
            return self.read(v).filter(F.lit(False))
        return self._read_files(
            keep, dv_files=mf.dv_files, column_ops=mf.column_ops,
            recorded_schema=mf.declared_schema,
        )

    def _pruned(
        self, condition: str, version: int | None
    ) -> tuple[int, _Manifest, list[str]]:
        """(version, snapshot, files that may match) for a pruned read."""
        v = self.latest_version() if version is None else version
        if v is None:
            raise FileNotFoundError(f"no committed version in {self.root}")
        mf = self._read_manifest(v)
        return v, mf, self._pruned_candidate_files(mf, condition)

    # ------------------------------------------------------------------
    # write side
    # ------------------------------------------------------------------
    #: string min/max longer than this are TRUNCATED in the manifest
    #: (Delta's stats truncation): min → prefix (a sound lower bound),
    #: max → prefix with its last char incremented (a sound upper
    #: bound), else the entry is dropped. Without it, per-file stats on
    #: a long-text corpus (the `documents` table) reach document size
    #: and bloat every manifest and checkpoint (VERDICT r7 item 3).
    STATS_MAX_STR_LEN = 32

    @classmethod
    def _truncate_str_range(cls, mn: str, mx: str) -> list | None:
        n = cls.STATS_MAX_STR_LEN
        if len(mn) <= n and len(mx) <= n:
            return [mn, mx]
        lo = mn[:n]  # a prefix sorts <= the full string: sound lower bound
        if len(mx) <= n:
            return [lo, mx]
        # upper bound: increment the prefix's last incrementable char and
        # drop the tail — strictly greater than every string sharing the
        # prefix. Skip the UTF-16 surrogate range (not JSON-encodable).
        p = mx[:n]
        for i in range(n - 1, -1, -1):
            o = ord(p[i])
            if o < 0x10FFFF:
                nxt = o + 1
                if 0xD800 <= nxt <= 0xDFFF:
                    nxt = 0xE000
                return [lo, p[:i] + chr(nxt)]
        return None  # un-incrementable (all chars at U+10FFFF): no bound

    def _file_stats(self, files: list[str]) -> dict[str, dict]:
        """Per-file [min, max] per primitive column, read from the
        parquet FOOTERS of the just-written files (no data scan — the
        writers already computed row-group stats). Only JSON-stable
        scalar types are recorded (int/float/str/bool; date/timestamp/
        decimal via ISO/str round-trip would need type tags — consumers
        skip conservatively when a column has no stats). String ranges
        are truncated to :attr:`STATS_MAX_STR_LEN` (sound prefix bounds
        — see :meth:`_truncate_str_range`).

        Two reserved keys ride alongside the column entries (the ``__``
        namespace never collides with data columns — consumers look
        stats up by real column names): ``__n_rows`` = [n, n] for the
        DV-materialization policy, and ``__nulls`` = {col: null_count}
        (round 8) so the pruner can answer ``IS [NOT] NULL`` atoms and
        prove all-NULL columns — the footers already carry the counts,
        recording them is free."""
        try:
            import pyarrow.parquet as pq
        except ImportError:  # stats are an optimization, never a failure
            return {}
        out: dict[str, dict] = {}
        for rel in files:
            try:
                md = pq.ParquetFile(os.path.join(self.root, rel)).metadata
            except Exception:
                continue
            cols: dict[str, list] = {}
            nulls: dict[str, int] = {}
            null_known: dict[str, bool] = {}
            for rg in range(md.num_row_groups):
                for ci in range(md.num_columns):
                    c = md.row_group(rg).column(ci)
                    st = c.statistics
                    name = c.path_in_schema
                    # null counts: known only if EVERY row group reports
                    # one for the column (a single silent gap would
                    # understate and break IS NULL pruning soundness)
                    if st is not None and st.has_null_count:
                        if null_known.get(name, True):
                            null_known[name] = True
                            nulls[name] = nulls.get(name, 0) + st.null_count
                    else:
                        null_known[name] = False
                        nulls.pop(name, None)
                    if st is None or not st.has_min_max:
                        continue
                    try:
                        mn, mx = st.min, st.max
                    except Exception:
                        # pyarrow can't extract min/max for some
                        # logical types (e.g. decimal) even when the
                        # footer flags them — skip, consumers treat
                        # a stats-less column conservatively
                        continue
                    if type(mn) not in (int, float, str) or type(mx) is not type(mn):
                        continue
                    if name in cols:
                        cols[name] = [min(cols[name][0], mn), max(cols[name][1], mx)]
                    else:
                        cols[name] = [mn, mx]
            for name in list(cols):
                mn, mx = cols[name]
                if isinstance(mn, str):
                    rng = self._truncate_str_range(mn, mx)
                    if rng is None:
                        del cols[name]
                    else:
                        cols[name] = rng
            cols["__n_rows"] = [md.num_rows, md.num_rows]
            live_nulls = {
                k: v for k, v in nulls.items() if null_known.get(k)
            }
            if live_nulls:
                cols["__nulls"] = live_nulls
            if cols:
                out[rel] = cols
        return out

    def _check_schema(
        self, new_schema: dict[str, str], mf: _Manifest | None = None
    ) -> None:
        """The METADATA half of commit-time governance (shared with the
        ``txn_table`` write DataSource, which has the declared schema
        but no DataFrame): reject retired column names and type
        redefinitions that are not lossless widenings, against ``mf``
        (default: the current latest manifest — callers that already
        resolved it pass it in so schema and constraint checks judge
        ONE version)."""
        if mf is None:
            latest = self.latest_version()
            if latest is None:
                return
            mf = self._read_manifest(latest)
        retired = retired_names(mf.column_ops)
        bad = sorted(n for n in new_schema if n in retired)
        if bad:
            raise SchemaConflict(
                f"column name(s) {bad} were retired by an earlier "
                f"rename/drop in {self.root} and cannot be re-added "
                "(no per-file column ids — the read mapping would be "
                "ambiguous)"
            )
        for name, typ in new_schema.items():
            old = (mf.schema or {}).get(name)
            if old is not None and old != typ:
                # TYPE WIDENING (round 7, Delta's type-widening rules):
                # a lossless widening is accepted and the manifest
                # records the WIDER type from this commit on; files
                # written earlier keep the narrow physical type and the
                # union-by-name read coerces. Narrowings (and any other
                # redefinition) stay rejected — they would corrupt
                # reads of the already-committed wider values.
                if widens(old, typ):
                    continue
                kind = "narrow" if widens(typ, old) else "redefine"
                raise SchemaConflict(
                    f"column {name!r} is {old} in {self.root} but the "
                    f"write declares {typ} (cannot {kind}; only "
                    "lossless widenings evolve)"
                )

    def _check_constraints(
        self, df: DataFrame, constraints: list[str]
    ) -> None:
        """The DATA half: reject rows failing any CHECK constraint
        (SQL semantics: a row violates only when the expression is
        FALSE — NULL passes). ONE validation pass however many
        constraints: OR the violation predicates (a per-constraint
        take(1) would re-execute the incoming frame's lineage N
        times)."""
        from pyspark.sql import functions as F

        viol_pred = None
        for c in constraints:
            p = F.coalesce(F.expr(c), F.lit(True)) == F.lit(False)
            viol_pred = p if viol_pred is None else (viol_pred | p)
        viol = df.filter(viol_pred).take(1)
        if viol:
            raise ConstraintViolation(
                f"write violates a CHECK constraint "
                f"({constraints}): e.g. {viol[0]}"
            )

    def _enforce(self, df: DataFrame) -> dict[str, str]:
        """Commit-time governance over an incoming write: reject a
        redefinition of an existing column's type (:class:`SchemaConflict`
        — new columns remain allowed, the evolution contract) and reject
        rows failing any recorded CHECK constraint
        (:class:`ConstraintViolation`, SQL semantics: NULL passes).
        Returns the write's column→type map for the manifest.

        The check reads the CURRENT latest manifest; a constraint added
        concurrently with an in-flight write may miss that write (the
        same relaxed model as adding a constraint to a live lakehouse
        table — it guards data written after it became visible)."""
        new_schema = {
            f.name: f.dataType.simpleString() for f in df.schema.fields
        }
        latest = self.latest_version()
        if latest is None:
            return new_schema
        mf = self._read_manifest(latest)  # ONE resolve for both checks
        self._check_schema(new_schema, mf)
        if mf.constraints:
            self._check_constraints(df, mf.constraints)
        return new_schema

    def add_constraint(self, expr: str) -> int:
        """Record a CHECK constraint (a SQL boolean expression over the
        table's columns). Existing data is validated first — like
        Delta's ``ADD CONSTRAINT``, the statement fails if any current
        row violates it — then the constraint rides the manifest and
        every subsequent write is validated before its commit."""
        from pyspark.sql import functions as F

        base = self.latest_version()
        if base is None:
            raise FileNotFoundError(f"no committed version in {self.root}")
        viol = (
            self.read(base)
            .filter(F.coalesce(F.expr(expr), F.lit(True)) == F.lit(False))
            .take(1)
        )
        if viol:
            raise ConstraintViolation(
                f"existing data violates CHECK ({expr}): e.g. {viol[0]}"
            )
        return self._commit(
            [],
            "add-constraint",
            base,
            rebase_ok=False,
            carry_parent_files=True,
            constraint=expr,
        )

    def rename_column(self, old: str, new: str) -> int:
        """ZERO-REWRITE column rename (round 6; Delta column-mapping
        semantics without per-file ids): one metadata-only commit
        records ``["rename", old, new]`` — no data file is touched.
        Reads apply the op after the scan (files written before the
        rename coalesce their old physical column into the new name;
        files written after carry the new name natively); per-file
        stats and bloom entries move to the new key, so data skipping
        on the renamed column keeps working. Time travel to an earlier
        version shows the names as of THAT version; ``restore`` does
        NOT undo metadata ops (data re-points, the schema history
        stands). The old name is RETIRED — re-adding it would make the
        read mapping ambiguous without per-file column ids, so
        `_enforce` rejects it. At 100 TB this is the difference between
        a rename costing one manifest and costing a full rewrite."""
        base = self.latest_version()
        if base is None:
            raise FileNotFoundError(f"no committed version in {self.root}")
        mf = self._read_manifest(base)
        schema = mf.schema or {}
        if old not in schema:
            raise KeyError(f"no column {old!r} in {self.root}")
        if new in schema:
            raise SchemaConflict(
                f"column {new!r} already exists in {self.root}"
            )
        if new in retired_names(mf.column_ops):
            raise SchemaConflict(
                f"column name {new!r} was retired by an earlier "
                f"rename/drop in {self.root}"
            )
        if any(old in pv for pv in (mf.partitions or {}).values()):
            raise SchemaConflict(
                f"{old!r} is a partition column (its values live in "
                "file paths) — renaming it needs a rewrite"
            )
        return self._commit(
            [],
            "rename-column",
            base,
            rebase_ok=False,
            carry_parent_files=True,
            column_op=["rename", old, new],
        )

    def drop_column(self, col: str) -> int:
        """ZERO-REWRITE column drop: one metadata-only commit records
        ``["drop", col]``; reads project the column away (Catalyst's
        column pruning then keeps the dropped column's bytes out of the
        parquet scans entirely), stats/bloom entries are retired, and
        the name cannot be re-added (see :meth:`rename_column`).
        Physical bytes remain until files are naturally rewritten
        (compact/CoW) — the Delta DROP COLUMN contract."""
        base = self.latest_version()
        if base is None:
            raise FileNotFoundError(f"no committed version in {self.root}")
        mf = self._read_manifest(base)
        if col not in (mf.schema or {}):
            raise KeyError(f"no column {col!r} in {self.root}")
        if any(col in pv for pv in (mf.partitions or {}).values()):
            raise SchemaConflict(
                f"{col!r} is a partition column — dropping it needs a "
                "rewrite"
            )
        return self._commit(
            [],
            "drop-column",
            base,
            rebase_ok=False,
            carry_parent_files=True,
            column_op=["drop", col],
        )

    def alter_column_type(self, col: str, new_type: str) -> int:
        """ZERO-REWRITE column type widening (round 12 — the Delta
        ``ALTER TABLE ... ALTER COLUMN ... TYPE`` type-widening
        contract): one metadata-only commit redefines the RECORDED
        type; no data file is touched. Only lossless widenings are
        accepted (:func:`widens` — the numeric lattice plus
        same-scale decimal precision growth); anything else raises
        :class:`SchemaConflict` exactly as a write declaring the type
        would. Reads upcast the narrow physical files to the declared
        type (`_read_files(recorded_schema=...)`), later writes must
        present the wide type, and DESCRIBE/INSERT follow the new
        declaration immediately. At 100 TB this is the difference
        between a type migration costing one manifest and costing a
        full rewrite.

        Bloom indexes hash the STRING rendering of values on both
        build and probe sides; a widening into the float family
        changes that rendering (``5`` → ``5.0``), so any recorded
        bloom on the column is REBUILT under the new type right after
        the metadata commit — otherwise :meth:`read_point` would
        silently skip files that do contain the probed value."""
        base = self.latest_version()
        if base is None:
            raise FileNotFoundError(f"no committed version in {self.root}")
        mf = self._read_manifest(base)
        schema = mf.schema or {}
        if col not in schema:
            raise KeyError(f"no column {col!r} in {self.root}")
        old = schema[col]
        if old == new_type:
            raise SchemaConflict(
                f"column {col!r} is already {new_type} in {self.root}"
            )
        if not widens(old, new_type):
            kind = "narrow" if widens(new_type, old) else "redefine"
            raise SchemaConflict(
                f"column {col!r} is {old} in {self.root} and the ALTER "
                f"declares {new_type} (cannot {kind}; only lossless "
                "widenings evolve)"
            )
        v = self._commit(
            [],
            "alter-column-type",
            base,
            rebase_ok=False,
            carry_parent_files=True,
            schema={col: new_type},
        )
        int_family = {"tinyint", "smallint", "int", "bigint"}
        renders_same = (
            old in int_family and new_type in int_family
        ) or (_DECIMAL_RE.match(old) and _DECIMAL_RE.match(new_type))
        if (mf.blooms or {}).get(col) and not renders_same:
            v = self.build_bloom(col)
        return v

    def add_column(self, col: str, new_type: str) -> int:
        """ZERO-REWRITE column add (round 12 — Delta ``ALTER TABLE ...
        ADD COLUMN`` semantics): one metadata-only commit extends the
        DECLARED schema; no data file is touched. Reads materialize
        the column as typed NULLs for files written before the add
        (`_read_files(recorded_schema=...)` — the same mechanism that
        upcasts widened columns), and every later write must supply
        it. Needed because positional INSERT validates arity against
        the declaration — without this verb a SQL user of a declared
        table could never grow its schema. The name must not collide
        with a live or retired column."""
        return self.add_columns({col: new_type})

    def add_columns(self, cols: dict[str, str]) -> int:
        """Multi-column :meth:`add_column` as ONE metadata commit —
        ``ALTER TABLE ... ADD COLUMNS (a t, b t)`` must be atomic
        (review r12: per-column commits left the statement
        half-applied when a later column failed validation). Every
        name is validated against the current schema and the retired
        set BEFORE the single commit."""
        if not cols:
            raise ValueError("add_columns: empty column map")
        base = self.latest_version()
        if base is None:
            raise FileNotFoundError(f"no committed version in {self.root}")
        mf = self._read_manifest(base)
        live = mf.declared_schema or {}
        for col in cols:
            if col in live:
                raise SchemaConflict(
                    f"column {col!r} already exists in {self.root}"
                )
        # retired names, and a dead name (taken out of the live set by a
        # narrowing overwrite) judged by the widening rule of a write
        # that re-declares it
        self._check_schema(cols, mf)
        return self._commit(
            [],
            "add-column",
            base,
            rebase_ok=False,
            carry_parent_files=True,
            schema=dict(cols),
        )

    def create_schema(
        self,
        schema: dict[str, str],
        partition_by: list[str] | None = None,
    ) -> int:
        """Column-definition CREATE TABLE (round 12): commit version 0
        with a DECLARED schema (column → Spark ``simpleString`` type)
        and optional partition spec but NO data files — the shape
        ``CREATE TABLE t (c INT, ...)`` needs. The first INSERT is
        validated and positionally cast against this declaration
        instead of adopting the query's own schema, closing the gap
        where an empty created table accepted any column set. A
        metadata-only commit; refuses a table that already has any
        committed version (that is ALTER's job)."""
        if self.latest_version() is not None:
            raise CommitConflict(
                f"create_schema: {self.root} already has committed "
                "versions — alter the existing schema instead"
            )
        if not schema:
            raise ValueError("create_schema: empty column list")
        missing = sorted(
            c for c in (partition_by or []) if c not in schema
        )
        if missing:
            raise ValueError(
                f"create_schema: partition column(s) {missing} not in "
                "the declared schema"
            )
        return self._commit(
            [],
            "create-table",
            None,
            rebase_ok=False,
            schema=dict(schema),
            partition_spec=list(partition_by) if partition_by else _UNSET,
        )

    def stage_files(
        self, df: DataFrame, partition_by: list[str] | None = None
    ) -> list[str]:
        """Step 1 of the protocol: write ``df`` as immutable parquet files
        under a fresh ``data/<uuid>/`` directory and return their
        root-relative paths. With ``partition_by`` the commit uses hive
        layout (``col=value/`` segments); `_commit` parses those segments
        into the manifest's partition map so pruning never lists storage.
        NO manifest is written — staged files are invisible to every
        reader until a later :meth:`_commit` publishes a manifest
        referencing them (this method is also the crash-injection point
        the isolation tests use: a writer dying here must leave the
        table unchanged)."""
        commit_dir = os.path.join(self._data_dir, uuid.uuid4().hex)
        writer = df.write.mode("errorifexists")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(commit_dir)
        files = []
        for root, _dirs, fns in os.walk(commit_dir):
            for fn in fns:
                if fn.endswith(".parquet"):
                    files.append(
                        os.path.relpath(os.path.join(root, fn), self.root)
                    )
        return sorted(files)

    @staticmethod
    def _partition_values(rel_path: str) -> dict[str, str]:
        """Parse hive ``col=value`` segments out of a root-relative file
        path (Spark percent-escapes special chars in dir names)."""
        from urllib.parse import unquote

        out: dict[str, str] = {}
        for seg in rel_path.split("/")[2:-1]:  # between data/<uuid>/ and file
            if "=" in seg:
                c, v = seg.split("=", 1)
                out[unquote(c)] = unquote(v)
        return out

    def _publish_json(self, payload: dict, target: str) -> bool:
        """Serialize and publish via the backend's atomic
        put-if-absent (`commit_backend.py` — fsync'd temp + link
        locally, conditional PUT on an object store). Returns False
        iff the target already exists (another writer won)."""
        return self.backend.put_if_absent(
            target, json.dumps(payload).encode()
        )

    def _publish(self, payload: str, version: int) -> bool:
        """Steps 2-3 of the protocol, for the serialized commit record."""
        return self.backend.put_if_absent(
            self._manifest_path(version), payload.encode()
        )

    def _write_checkpoint(self, version: int, state: dict) -> None:
        """Write ``version``'s full-state checkpoint plus the
        ``_last_checkpoint`` pointer (Delta's model: on an object store
        the pointer saves the listing; locally resolution lists the
        directory, so the pointer is advisory).

        Tables up to :attr:`CHECKPOINT_PART_FILES` files write the
        legacy single ``checkpoint-<N>.json``; above it the state is
        split into K = ceil(files / part_size) parts
        ``checkpoint-<N>.<k>-of-<K>.json`` (Delta's multi-part
        checkpoint): part 0 carries the scalar state, every part
        carries its slice of the file list with that slice's stats /
        partition values / bloom entries. Parts are independent — an
        object-store deployment writes them concurrently — and
        per-part size is bounded by the slice size, so neither the
        write nor any single read is O(table files) in one object.
        Readers only consume COMPLETE part sets (`_list_checkpoints`),
        so no ordering between part writes matters. Checkpoints for
        the same version are content-identical, so a concurrent writer
        racing on the same version is harmless (create-if-absent keeps
        the first). Never fails a commit: the checkpoint is a
        read-path accelerator, not part of the commit protocol."""
        files = state.get("files") or []
        part_size = self.CHECKPOINT_PART_FILES
        try:
            if len(files) <= part_size:
                self._publish_json(
                    dict(state),
                    os.path.join(
                        self._manifests_dir, f"checkpoint-{version}.json"
                    ),
                )
            else:
                total = -(-len(files) // part_size)
                stats = state.get("stats") or {}
                parts_map = state.get("partitions") or {}
                blooms = state.get("blooms") or {}
                for k in range(total):
                    chunk = files[k * part_size : (k + 1) * part_size]
                    cs = set(chunk)
                    part = dict(state) if k == 0 else {}
                    part["files"] = chunk
                    part["stats"] = {
                        f: s for f, s in stats.items() if f in cs
                    }
                    part["partitions"] = {
                        f: p for f, p in parts_map.items() if f in cs
                    }
                    pb = {
                        c: {f: b for f, b in m.items() if f in cs}
                        for c, m in blooms.items()
                    }
                    # part 0 keeps every built column, even one whose
                    # files all left (its map is empty): replay keeps
                    # the declaration, so the checkpoint must too
                    part["blooms"] = (
                        pb if k == 0 else {c: m for c, m in pb.items() if m}
                    )
                    self._publish_json(
                        part,
                        os.path.join(
                            self._manifests_dir,
                            f"checkpoint-{version}.{k}-of-{total}.json",
                        ),
                    )
            parts = (
                1
                if len(files) <= part_size
                else -(-len(files) // part_size)
            )
            # Delta's `_last_checkpoint` shape: version + parts so an
            # object-store reader GETs the parts directly without
            # listing; unconditional put — the pointer is advisory
            self.backend.put(
                os.path.join(self._manifests_dir, "_last_checkpoint"),
                json.dumps({"version": version, "parts": parts}).encode(),
            )
        except OSError:
            pass

    def _commit(
        self,
        files: list[str],
        op: str,
        base_version: int | None,
        rebase_ok: bool,
        carry_parent_files: bool = False,
        stats: dict | None = None,
        txn: tuple[str, int] | None = None,
        dv_files: list[str] | None = None,
        schema: dict[str, str] | None = None,
        constraint: str | None = None,
        blooms: dict[str, dict] | None = None,
        generated: dict[str, str] | None = None,
        column_op: list | None = None,
        cdf: dict | None = None,
        partition_spec=_UNSET,
        clustering=_UNSET,
        properties: dict | None = None,
        schema_replace: bool = False,
    ) -> int | None:
        """CAS loop over the version counter. ``rebase_ok`` ops (append)
        retry transparently when they lose the race;
        ``carry_parent_files`` makes the new manifest include the CURRENT
        latest's files (append semantics) — re-resolved on every retry so
        a rebased append includes the interleaved writer's rows.

        ``txn`` = (app_id, txn_version): application-level idempotence.
        The manifest's ``txns`` ledger carries the highest committed
        txn_version per app_id forward through every commit; if the
        CURRENT ledger already covers this txn (a streaming micro-batch
        replayed after a crash between sink-commit and checkpoint-commit,
        or a concurrent replica that won), the commit is SKIPPED and
        returns None — at-least-once replay becomes exactly-once landed
        rows (Delta's txnAppId/txnVersion protocol)."""
        while True:
            latest = self.latest_version()
            if latest != base_version and not rebase_ok:
                raise CommitConflict(
                    f"{op}: base version {base_version} is stale "
                    f"(latest is {latest})"
                )
            parent_state = parent = None
            if latest is not None:
                parent_state = self._resolve_state(latest)
                parent = self._to_manifest(parent_state)
            if txn is not None:
                app_id, txn_version = txn
                done = ((parent.txns or {}) if parent else {}).get(app_id)
                if done is not None and done >= txn_version:
                    return None  # already applied — idempotent skip
            version = 0 if latest is None else latest + 1
            all_files = list(files)
            all_dvs = list(dv_files or [])
            if carry_parent_files and parent is not None:
                all_files = parent.files + all_files
                # deletion vectors address parent files by position, so
                # they ride along with the files they mask (CoW rewrites
                # don't carry parent files — their staged rows already
                # have the DVs applied, so the vectors are dropped)
                all_dvs = list(parent.dv_files or []) + all_dvs
            prev_files = parent.files if parent else []
            prev_set = set(prev_files)
            new_set = set(all_files)
            add = [f for f in all_files if f not in prev_set]
            remove = [f for f in prev_files if f not in new_set]
            # the commit RECORD is the delta — O(changed files), so an
            # append's payload never grows with table size (the r5
            # verdict's scale ceiling); resolution replays checkpoint +
            # tail (`resolve_snapshot`)
            manifest = {
                "version": version,
                "op": op,
                "parent": latest,
                "add": add,
                "remove": remove,
            }
            if cdf:
                # per-RECORD change-feed metadata (round 9 — Delta CDF
                # parity): e.g. which added files are UPDATE postimages
                # vs plain inserts. Replay ignores it (it is not state);
                # change_feed / the CDF stream read it per commit.
                manifest["cdf"] = cdf
            if partition_spec is not _UNSET:
                # partition evolution (round 9): declare the spec NEW
                # data is laid out by; replay carries it forward. A
                # null VALUE is meaningful (restore resetting to
                # never-declared) — presence of the key is the signal.
                manifest["partition_spec"] = partition_spec
            if clustering is not _UNSET:
                # clustering declaration (round 10): same key-presence
                # contract as the partition spec
                manifest["clustering"] = clustering
            if properties:
                # property DELTA (round 10): None values delete keys
                manifest["properties"] = dict(properties)
            # replay order = retained-in-parent-order + adds; when the
            # op's order differs (restore interleaving re-added files
            # with retained ones) pin it explicitly — restore is a
            # full-state op anyway
            replayed = [f for f in prev_files if f in new_set] + add
            if replayed != all_files:
                manifest["files_order"] = all_files
            if txn is not None:
                # reaching here means the ledger did NOT already cover
                # this (app_id, version) — record just the new entry
                manifest["txn"] = list(txn)
            # stats and partition values are recorded for ADDED files
            # only: retained files keep their parent entries on replay
            add_set = set(add)
            rec_stats = {
                f: s for f, s in (stats or {}).items() if f in add_set
            }
            if rec_stats:
                manifest["stats"] = rec_stats
            rec_parts = {
                f: pv for f in add if (pv := self._partition_values(f))
            }
            if rec_parts:
                manifest["partitions"] = rec_parts
            prev_dvs = set(parent.dv_files or []) if parent else set()
            dv_add = [d for d in all_dvs if d not in prev_dvs]
            dv_remove = [d for d in prev_dvs if d not in set(all_dvs)]
            if dv_add:
                manifest["dv_add"] = dv_add
            if dv_remove:
                manifest["dv_remove"] = dv_remove
            # The type check RE-RUNS here against the (possibly
            # rebased) parent: two appends that each add the same NEW
            # column with different types both pass _enforce against
            # the old base, and without this in-loop check the rebase
            # would record a type the other writer's parquet files
            # contradict.
            parent_schema = (parent.schema or {}) if parent else {}
            for name_, typ_ in (schema or {}).items():
                old_ = parent_schema.get(name_)
                if old_ is not None and old_ != typ_:
                    if widens(old_, typ_):
                        continue  # widening evolves, like _enforce
                    if widens(typ_, old_):
                        # a CONCURRENT commit already widened this
                        # column past the write's type: the staged
                        # narrow files still read correctly under the
                        # wider recorded type — keep it
                        schema[name_] = old_
                        continue
                    raise SchemaConflict(
                        f"column {name_!r} is {old_} in {self.root} "
                        f"(committed while this write was in flight) "
                        f"but the write declares {typ_}"
                    )
            # A REBASED commit re-validates its column set against the
            # CURRENT parent's retired names: an interleaved
            # drop_column/rename_column would otherwise let this write
            # re-register a retired name — whose data every read then
            # silently drops/renames away (constraint re-validation
            # stays on the documented relaxed model — it needs a data
            # pass, not a metadata read).
            parent_retired = retired_names(
                parent.column_ops if parent else None
            )
            bad_cols = sorted(
                n for n in (schema or {}) if n in parent_retired
            )
            if bad_cols:
                raise SchemaConflict(
                    f"column name(s) {bad_cols} were retired by a "
                    f"rename/drop committed while this write was in "
                    f"flight in {self.root}"
                )
            # record the schema DELTA: new or retyped columns, plus any
            # name a narrowing overwrite took out of the LIVE set —
            # replay grows the live set by exactly the delta's names,
            # so a re-declared dead column must ride it to come back
            parent_live = (parent.declared_schema or {}) if parent else {}
            schema_delta = {
                k: v
                for k, v in (schema or {}).items()
                if parent_schema.get(k) != v or k not in parent_live
            }
            if schema_delta:
                manifest["schema"] = schema_delta
            if schema_replace:
                # a wholesale overwrite REDEFINES the user-visible
                # column set (round 12 — same key-presence contract as
                # the partition spec): dead names stay in ``schema``
                # as type history but leave the LIVE declaration
                manifest["live_cols"] = list((schema or {}).keys())
            if constraint is not None:
                manifest["constraint"] = constraint
            # blooms: record only this commit's new entries; replay
            # carries parent entries for still-live files forward
            if blooms:
                manifest["blooms"] = blooms
            # generated-column declarations: record the delta; a
            # redefinition is rejected like a schema type change
            parent_gen = (parent.generated or {}) if parent else {}
            gen_delta = {}
            for col_, expr_ in (generated or {}).items():
                if col_ in parent_gen and parent_gen[col_] != expr_:
                    raise SchemaConflict(
                        f"generated column {col_!r} is defined as "
                        f"{parent_gen[col_]!r} in {self.root} but the "
                        f"write declares {expr_!r}"
                    )
                if col_ not in parent_gen:
                    gen_delta[col_] = expr_
            if gen_delta:
                manifest["generated"] = gen_delta
            if column_op is not None:
                manifest["column_op"] = list(column_op)
            manifest["ts"] = time.time()
            payload = json.dumps(manifest)
            if self._publish(payload, version):
                # the record is the whole truth: the cached state and
                # any checkpoint cut from it are the parent replayed
                # through the record AS PUBLISHED — exactly what every
                # other handle resolves
                state = _apply_record(parent_state, json.loads(payload))
                self._cache_state(version, state)
                if (
                    version > 0
                    and version % self.CHECKPOINT_INTERVAL == 0
                ):
                    self._write_checkpoint(version, state)
                return version
            # lost the race; loop re-reads the new latest (appends
            # rebase, serial ops raise above on the next iteration)
            base_version = base_version if not rebase_ok else latest

    def _apply_generated(
        self,
        df: DataFrame,
        partition_by: list[str] | None,
        generated: dict[str, str] | None,
    ) -> tuple[DataFrame, list[str] | None, dict[str, str] | None]:
        """Materialize generated partition columns (Iceberg
        hidden-partitioning shape): ``generated`` maps a column name to
        a SQL expression over the data columns (``to_date(ts)``,
        ``month(o_orderdate)``, ``abs(hash(k)) % 16`` …). When None,
        the TABLE'S recorded declarations apply — so `append(df)` on a
        transform-partitioned table derives the partition column and
        hive layout automatically (the caller never hand-computes it,
        which is the point of hidden partitioning: the transform is
        table metadata, not pipeline code). Declared columns join
        ``partition_by`` automatically."""
        from pyspark.sql import functions as F

        if generated is None:
            latest = self.latest_version()
            if latest is not None:
                generated = self._read_manifest(latest).generated
        if not generated:
            return df, partition_by, None
        pb = list(partition_by or [])
        for col, expr in generated.items():
            if col not in df.columns:
                df = df.withColumn(col, F.expr(expr))
            if col not in pb:
                pb.append(col)
        return df, pb, generated

    def overwrite(
        self,
        df: DataFrame,
        partition_by: list[str] | None = None,
        generated: dict[str, str] | None = None,
    ) -> int:
        """Replace the table contents in one atomic snapshot (optionally
        hive-partitioned — partition values land in the manifest).
        ``generated`` declares transform partition columns (round 6,
        see :meth:`_apply_generated`); the declarations ride the
        manifest so later appends re-derive them automatically."""
        df, partition_by, generated = self._apply_generated(
            df, partition_by, generated
        )
        base = self.latest_version()
        # a wholesale overwrite REDEFINES a previously-declared spec
        # (round 9): the new layout becomes the contract for later
        # appends, instead of a stale declaration resurrecting the old
        # layout one append at a time. Never-declared tables record
        # nothing (pre-r9 behavior).
        spec = _UNSET
        if base is not None and (
            self._read_manifest(base).partition_spec is not None
        ):
            spec = list(partition_by or [])
        sch = self._enforce(df)
        files = self.stage_files(df, partition_by=partition_by)
        return self._commit(
            files, "overwrite", base, rebase_ok=False,
            stats=self._file_stats(files), schema=sch,
            generated=generated, partition_spec=spec,
            schema_replace=True,
        )

    def set_partition_spec(self, cols: list[str]) -> int:
        """PARTITION EVOLUTION (round 9 — Iceberg spec evolution): a
        metadata-only commit declaring the hive columns NEW data is
        laid out by. Existing files are untouched and stay readable
        under their own recorded spec (partition values are per-FILE
        in the manifest, so pruning applies each file's own values —
        files lacking a probed column are conservatively kept and the
        residual row filter preserves correctness). From this commit
        on: ``append`` without an explicit layout defaults to the new
        spec, the sink DataSources validate ``partitionBy`` against it
        instead of the legacy whole-table inference, and the
        maintenance rewrites (compact / zorder / CoW merge) re-stage
        their files under it — OPTIMIZE is the lazy migration path, so
        a long-lived 100 TB table converges to the new layout at
        normal maintenance cost instead of an O(table) one-shot
        rewrite. Predicate rewrites (UPDATE/DELETE) keep each hit
        file's own spec — an update should not silently migrate
        layouts.
        ``cols=[]`` evolves to unpartitioned. Columns must exist in
        the recorded schema; generated (hidden) partition columns keep
        their transform."""
        base = self.latest_version()
        if base is None:
            raise FileNotFoundError(f"no committed version in {self.root}")
        mf = self._read_manifest(base)
        known = set(mf.schema or {})
        missing = sorted(c for c in cols if c not in known)
        if missing:
            raise ValueError(
                f"set_partition_spec: column(s) {missing} not in the "
                f"recorded schema of {self.root}"
            )
        v = self._commit(
            mf.files,
            "set-partition-spec",
            base,
            rebase_ok=False,
            stats=mf.stats,
            dv_files=mf.dv_files,
            partition_spec=list(cols),
        )
        assert v is not None
        return v

    def current_partition_spec(self) -> list[str]:
        """The columns NEW data is laid out by: the declared spec, or
        the legacy per-file inference for never-evolved tables."""
        v = self.latest_version()
        if v is None:
            return []
        return self._pcols(self._read_manifest(v))

    def _default_layout(
        self, partition_by: list[str] | None, derived: bool = False
    ) -> list[str] | None:
        """Resolve an append's layout against the DECLARED spec: no
        layout defaults to the spec (new data lands under the evolved
        layout); an EXPLICIT mismatch raises — silently accepting it
        would undo the evolution one append at a time. ``derived``
        marks a layout the engine itself filled in (the generated-
        column auto-layout of `_apply_generated`): the declared spec
        overrides it instead of raising, so hidden-partitioned tables
        remain spec-evolvable (review r9 — the raise made evolution
        unusable on them). Tables that never declared a spec keep the
        pre-r9 behavior exactly."""
        base = self.latest_version()
        if base is None:
            return partition_by
        spec = self._read_manifest(base).partition_spec
        if spec is None:
            return partition_by
        if partition_by is None or derived:
            return list(spec) or None
        if sorted(partition_by) != sorted(spec):
            raise ValueError(
                f"append: table partition spec is {spec} but the write "
                f"declares partition_by={partition_by} — evolve the "
                "spec first (set_partition_spec)"
            )
        return partition_by

    def append(
        self,
        df: DataFrame,
        partition_by: list[str] | None = None,
        generated: dict[str, str] | None = None,
    ) -> int:
        """Add rows; order-independent, so losing a commit race rebases
        and retries instead of failing. On a transform-partitioned
        table the recorded generated columns are derived automatically
        (hidden partitioning — ingest never hand-computes them). On a
        spec-evolved table (round 9) the layout defaults to the
        declared spec."""
        explicit = partition_by is not None
        df, partition_by, generated = self._apply_generated(
            df, partition_by, generated
        )
        partition_by = self._default_layout(
            partition_by, derived=not explicit
        )
        base = self.latest_version()
        sch = self._enforce(df)
        files = self.stage_files(df, partition_by=partition_by)
        return self._commit(
            files, "append", base, rebase_ok=True, carry_parent_files=True,
            stats=self._file_stats(files), schema=sch,
            generated=generated,
        )

    def append_txn(
        self,
        df: DataFrame,
        app_id: str,
        txn_version: int,
        partition_by: list[str] | None = None,
    ) -> int | None:
        """Idempotent append keyed by (app_id, txn_version): the sink
        half of exactly-once streaming. If the ledger already records
        ``txn_version`` (or higher) for ``app_id``, the data is staged
        but never published and None is returned — replaying the same
        micro-batch cannot double-append. NOTE the check runs inside the
        commit CAS loop, so an interleaved replica's commit of the same
        txn is caught on the rebase re-read.

        Generated (hidden-partition) columns are derived exactly like
        :meth:`append` — an evolved spec that includes a generated
        column must not make streaming appends fail at stage_files with
        a missing column (advice r9)."""
        explicit = partition_by is not None
        df, partition_by, _gen = self._apply_generated(
            df, partition_by, None
        )
        partition_by = self._default_layout(
            partition_by, derived=not explicit
        )
        base = self.latest_version()
        # cheap pre-check saves staging work on the common replay path
        if base is not None:
            led = self._read_manifest(base).txns or {}
            if led.get(app_id, -1) >= txn_version:
                return None
        sch = self._enforce(df)
        files = self.stage_files(df, partition_by=partition_by)
        return self._commit(
            files,
            "stream-append",
            base,
            rebase_ok=True,
            carry_parent_files=True,
            stats=self._file_stats(files),
            txn=(app_id, txn_version),
            schema=sch,
        )

    def overwrite_partition(self, df: DataFrame, **partition_values) -> int:
        """Atomic partition overwrite (Hive's INSERT OVERWRITE
        PARTITION): :meth:`overwrite_where` over the equality predicate
        of ``partition_values`` (``c=None`` is the NULL partition).
        ``df`` must NOT contain the partition columns: they are added
        as literals of the recorded type, so its rows satisfy the
        predicate by construction and need no validation pass."""
        if not partition_values:
            raise ValueError("overwrite_partition needs partition values")
        pred = render_predicate(
            [(c, "=", v) for c, v in partition_values.items()]
        )
        return self._replace_where(df, pred, False, partition_values)

    def _pruned_candidate_files(
        self, mf: _Manifest, cond_str: str | None
    ) -> list[str]:
        """The live files that MAY hold rows matching a predicate —
        `predicate_prune.prune_candidates` over manifest stats +
        partition values for SQL strings (zero file IO), all files
        otherwise. Shared by every pruned read (`_pruned`) and every
        predicate rewrite's discovery (`_hit_files`, the DV
        delete/update)."""
        if cond_str is not None:
            pruned = prune_candidates(
                cond_str, mf.files, mf.stats or {}, mf.partitions or {}
            )
            if pruned is not None:
                return pruned
        return mf.files

    @staticmethod
    def _covered_files(mf: _Manifest, cond_str: str | None) -> frozenset[str]:
        """The live files every row of which provably matches a SQL
        string predicate (`predicate_prune.covered_files`); none for a
        Column predicate."""
        if cond_str is None:
            return frozenset()
        return frozenset(
            covered_files(
                cond_str, mf.files, mf.stats or {}, mf.partitions or {}
            )
        )

    def _rewrite_hit_files(
        self,
        base: int,
        mf: _Manifest,
        hit_files: set[str],
        transform,
        op: str,
        cdf: dict | None = None,
        dropped: frozenset[str] = frozenset(),
    ) -> int:
        """The file-level copy-on-write rewrite shared by
        :meth:`delete_where` and :meth:`update_where`: restage ONLY the
        hit files through ``transform`` (keeping their hive layout),
        leave the ``dropped`` files out unread, carry every other file
        by reference with its stats, keep DV sidecars while carried
        files may need them (entries on rewritten files become inert —
        their survivors were staged with the masks applied). ``cdf``
        rides the commit record (update_where's CoW change-data image
        files, advice r9)."""
        carried = [
            f for f in mf.files if f not in hit_files and f not in dropped
        ]
        staged: list[str] = []
        if hit_files:
            rows = self._read_files(
                sorted(hit_files),
                dv_files=mf.dv_files,
                column_ops=mf.column_ops,
            recorded_schema=mf.declared_schema,
            )
            out = transform(rows)
            pcols = sorted(
                {
                    c
                    for f in hit_files
                    for c in ((mf.partitions or {}).get(f) or {})
                }
            )
            staged = self.stage_files(out, partition_by=pcols or None)
        return self._commit(
            carried + staged,
            op,
            base,
            rebase_ok=False,
            stats=self._file_stats(staged),
            dv_files=mf.dv_files if carried else None,
            blooms=self._auto_blooms(mf, staged),
            cdf=cdf or None,
        )

    def _hit_files(
        self,
        mf: _Manifest,
        condition,
        cond_str: str | None,
        covered: frozenset[str] = frozenset(),
    ) -> set[str]:
        """The DISTINCT set of live files that CONTAIN rows matching
        ``condition`` — the discovery step every predicate rewrite
        (``overwrite_where``, ``delete_where``) shares. ``covered``
        files (every row provably matches) are left out of the scan.

        When the predicate arrived as a SQL STRING, the candidate list
        is first pruned against the manifest's per-file [min, max]
        stats, null counts and partition values
        (`predicate_prune.prune_candidates` — zero file IO, the same
        metadata `read_matching` uses), so at
        100 TB a replaceWhere touching one day's key range opens only
        the stats-intersecting files instead of scanning the whole
        table to learn which files to rewrite (VERDICT r6 item 2). The
        pruner is conservative: unparseable predicates and files
        without covering metadata fall through to the scan, which
        remains the source of truth. The scan's collect() is
        metadata-scale — one row per matching FILE."""
        candidates = [
            f
            for f in self._pruned_candidate_files(mf, cond_str)
            if f not in covered
        ]
        if not candidates:
            return set()
        src = self._read_files(
            candidates,
            dv_files=mf.dv_files,
            with_pos=True,
            column_ops=mf.column_ops,
            recorded_schema=mf.declared_schema,
        )
        return {
            r["__dv_file"]
            for r in src.filter(condition)
            .select("__dv_file")
            .distinct()
            .collect()
        }

    def overwrite_where(
        self, df: DataFrame, condition, validate: bool = True
    ) -> int:
        """Delta ``replaceWhere`` with an ARBITRARY predicate:
        atomically replace exactly the rows matching ``condition`` with
        ``df``'s rows, in one commit — the one region replace
        (:meth:`overwrite_partition` is its partition-equality form).

        ``condition`` is a Column or a SQL string. File-level plan:
        every file is CARRIED untouched in the manifest unless it may
        hold a matching row. With the STRING form, manifest metadata
        (stats, null counts, partition values — zero file IO) first
        prunes the files that provably hold none and drops whole the
        files every row of which provably matches
        (`predicate_prune.covered_files`, e.g. a pure-target hive
        file: no scan, nothing to restage). One metadata-augmented scan
        of the remaining files finds those that CONTAIN matching rows
        (``_metadata.file_path`` — the file list is metadata-scale);
        they are rewritten keeping their non-matching survivors (NULL
        predicate keeps the row, SQL DELETE semantics), and ``df``
        lands as new files under the table's hive layout.
        ``validate=True`` enforces Delta's replaceWhere contract: every
        incoming row must satisfy ``condition`` — otherwise the op
        would smuggle rows outside the replaced region and a re-run
        would not be idempotent. Deletion vectors on carried files
        ride along; entries on replaced files become inert.

        CONFLICT NARROWING (Delta's disjoint-predicate acceptance), for
        the string form only: an interleaved commit whose added files
        (judged by its record's stats and partition values) and removed
        files (judged by the snapshot they left) provably hold no row
        of the region is order-independent with this rewrite — rebase
        onto it and retry, so two writers replacing disjoint regions
        both commit. A full-state record, a deletion-vector change, a
        column op, or a file that may hold region rows raises
        ``CommitConflict``."""
        return self._replace_where(df, condition, validate)

    def _replace_where(
        self, df: DataFrame, condition, validate: bool, literals=None
    ) -> int:
        """:meth:`overwrite_where`; with partition ``literals``
        ({col: value}, added to ``df`` as columns of the type the base
        snapshot records) committed as an ``overwrite-partition``."""
        from pyspark.sql import functions as F

        cond_str = condition if isinstance(condition, str) else None
        if cond_str is not None:
            condition = F.expr(cond_str)
        base = self.latest_version()
        if base is None:
            raise FileNotFoundError(f"no committed version in {self.root}")
        mf = self._read_manifest(base)
        if literals:
            types = mf.schema or {}
            df = df.select(
                *[
                    (F.lit(v).cast(types[c]) if c in types else F.lit(v))
                    .alias(c)
                    for c, v in literals.items()
                ],
                "*",
            )
        if validate:
            strays = df.filter(
                ~F.coalesce(condition, F.lit(False))
            ).limit(1)
            if strays.count() > 0:
                raise ValueError(
                    "overwrite_where: incoming rows must all satisfy "
                    "the replace predicate (Delta replaceWhere contract)"
                )
        covered = self._covered_files(mf, cond_str)
        hit_files = self._hit_files(mf, condition, cond_str, covered)
        # keep the hive layout: a partially-replacing rewrite must not
        # demote partitioned files to unpartitioned ones (the
        # materialize_dv rule)
        pcols = self._pcols(mf)
        missing = [c for c in pcols if c not in df.columns]
        if missing:
            raise ValueError(
                f"overwrite_where on a partitioned table: incoming "
                f"rows must carry the partition column(s) {missing}"
            )
        staged: list[str] = []
        if hit_files:
            survivors = (
                self._read_files(
                    sorted(hit_files),
                    dv_files=mf.dv_files,
                    column_ops=mf.column_ops,
                    recorded_schema=mf.declared_schema,
                )
                .filter(~F.coalesce(condition, F.lit(False)))
            )
            staged += self.stage_files(
                survivors, partition_by=pcols or None
            )
        sch = self._enforce(df)
        staged += self.stage_files(df, partition_by=pcols or None)
        new_stats = self._file_stats(staged)
        new_blooms = self._auto_blooms(mf, staged)
        replaced = hit_files | covered
        while True:
            # carried files keep their recorded stats: a commit records
            # stats for the files it adds
            carried = [f for f in mf.files if f not in replaced]
            try:
                return self._commit(
                    carried + staged,
                    "overwrite-partition" if literals else "overwrite-where",
                    base,
                    rebase_ok=False,
                    stats=new_stats,
                    # entries on replaced files are inert
                    dv_files=mf.dv_files,
                    schema=sch,
                    blooms=new_blooms,
                )
            except CommitConflict:
                if cond_str is None:
                    raise  # a Column predicate cannot judge files
                latest = self.latest_version()
                assert latest is not None and latest > base
                for v in range(base + 1, latest + 1):
                    rec = _load_record(self.root, v, self.backend)
                    if (
                        "files" in rec
                        or rec.get("dv_add")
                        or rec.get("dv_remove")
                        or rec.get("column_op")
                    ):
                        raise
                    prev = self._read_manifest(v - 1)
                    if prune_candidates(
                        cond_str,
                        rec.get("add") or [],
                        rec.get("stats") or {},
                        rec.get("partitions") or {},
                    ) != [] or prune_candidates(
                        cond_str,
                        rec.get("remove") or [],
                        prev.stats or {},
                        prev.partitions or {},
                    ) != []:
                        raise  # may add or remove region rows
                base = latest  # disjoint interleave: rebase and retry
                mf = self._read_manifest(base)

    def delete_where(self, condition) -> int:
        """Copy-on-write delete at FILE granularity: rewrite only the
        files that actually contain matching rows (same discovery as
        :meth:`overwrite_where` — stats/partition-pruned when
        ``condition`` is a SQL string); every other file is carried
        untouched in the manifest, so a delete touching one day's key
        range rewrites that day's files, never the table (pre-r7 this
        re-staged EVERY surviving row). A file the string predicate
        provably matches in every row (`predicate_prune.covered_files`,
        e.g. the ``p=1`` file of ``delete_where("p = 1")``) is dropped
        without being opened. SQL DELETE semantics: a row is
        deleted only when ``condition`` is TRUE — NULL keeps the row (a
        bare ``~condition`` would drop NULL-predicate rows, silently
        deleting data SQL would keep, and diverge from
        :meth:`delete_where_dv`'s positive filter). Deletion vectors on
        carried files ride along; entries on rewritten files become
        inert (their survivors were staged with the masks applied).
        Conflicts with any interleaved commit."""
        from pyspark.sql import functions as F

        cond_str = condition if isinstance(condition, str) else None
        if cond_str is not None:
            condition = F.expr(cond_str)
        base = self.latest_version()
        if base is None:
            raise FileNotFoundError(f"no committed version in {self.root}")
        mf = self._read_manifest(base)
        covered = self._covered_files(mf, cond_str)
        hit_files = self._hit_files(mf, condition, cond_str, covered)
        return self._rewrite_hit_files(
            base,
            mf,
            hit_files,
            lambda rows: rows.filter(~F.coalesce(condition, F.lit(False))),
            "delete",
            dropped=covered,
        )

    def delete_where_dv(self, condition) -> int:
        """Merge-on-read delete via DELETION VECTORS (Delta deletion
        vectors / Iceberg positional delete files): instead of rewriting
        every data file that contains a matching row (copy-on-write —
        :meth:`delete_where`), the matching rows' (file, row-position)
        addresses are written to a small parquet sidecar and the new
        manifest lists it under ``dv_files``; every read path then
        LEFT-ANTI joins the addresses against ``_metadata.row_index``.

        This is the 100 TB lever copy-on-write lacks: deleting 0.1% of
        rows scattered over a 100 TB table rewrites ~all of it under
        CoW, but writes only ~the matching addresses here — write cost
        proportional to the DELETE, not the table. The read-side cost is
        a broadcast anti-join (DVs are tiny by premise); once vectors
        accumulate, :meth:`compact` (or any CoW rewrite) materializes
        them — staged rows come from :meth:`read`, which already applies
        the vectors — and the rewrite commit drops ``dv_files``.

        The data files are untouched and shared with prior snapshots,
        so time travel to the pre-delete version still sees every row.
        Conflicts with any interleaved commit, like every rewrite.

        ``condition`` may be a SQL string, in which case the address
        discovery scans only the stats/partition-pruned candidate
        files (round 7, like :meth:`overwrite_where`) — matching rows
        provably cannot live elsewhere."""
        from pyspark.sql import functions as F

        cond_str = condition if isinstance(condition, str) else None
        if cond_str is not None:
            condition = F.expr(cond_str)
        base = self.latest_version()
        if base is None:
            raise FileNotFoundError(f"no committed version in {self.root}")
        mf = self._read_manifest(base)
        candidates = self._pruned_candidate_files(mf, cond_str)
        if not candidates:
            # provably nothing to mask: no-op commit, no empty sidecar
            return self._commit(
                [], "delete-dv", base, rebase_ok=False,
                carry_parent_files=True,
            )
        hit = (
            self._read_files(
                candidates,
                dv_files=mf.dv_files,
                with_pos=True,
                column_ops=mf.column_ops,
            recorded_schema=mf.declared_schema,
            )
            .filter(condition)
            .select(
                F.col("__dv_file").alias("file"),
                F.col("__dv_pos").alias("pos"),
            )
            # one sidecar file: a deletion vector is small by premise
            # (a delete big enough to fragment this should be CoW
            # `delete_where` — rewriting is cheaper than masking there)
            .coalesce(1)
        )
        hit.persist()
        try:
            if hit.limit(1).count() == 0:
                # non-prunable predicate matching nothing: no empty
                # sidecar — every later read would pay its anti-join
                return self._commit(
                    [], "delete-dv", base, rebase_ok=False,
                    carry_parent_files=True,
                )
            dv_new = self.stage_files(hit)
        finally:
            hit.unpersist()
        return self._commit(
            [],
            "delete-dv",
            base,
            rebase_ok=False,
            carry_parent_files=True,
            dv_files=dv_new,
        )

    def _apply_set(self, rows: DataFrame, condition, set_exprs: dict):
        """Project ``rows`` with SQL ``SET col = expr`` applied to the
        rows matching ``condition`` (NULL predicate = unchanged, SQL
        UPDATE semantics). Each SET expression is cast back to the
        column's CURRENT type so the staged files never contradict the
        recorded schema (ANSI mode makes a lossy cast loud, not
        silent)."""
        from pyspark.sql import functions as F

        missing = sorted(c for c in set_exprs if c not in rows.columns)
        if missing:
            raise ValueError(
                f"update: SET column(s) {missing} not in {self.root}"
            )
        pred = F.coalesce(condition, F.lit(False))
        cols = []
        for c in rows.columns:
            if c in set_exprs:
                dt = rows.schema[c].dataType
                cols.append(
                    F.when(pred, F.expr(set_exprs[c]).cast(dt))
                    .otherwise(F.col(c))
                    .alias(c)
                )
            else:
                cols.append(F.col(c))
        return rows.select(*cols)

    def update_where(self, condition, set_exprs: dict[str, str]) -> int:
        """SQL ``UPDATE ... SET ... WHERE`` as FILE-LEVEL copy-on-write
        (round-8 extension — the one DML verb the surface lacked next
        to append/merge/delete/replaceWhere): rewrite only the files
        that actually contain matching rows (`_hit_files` — stats/
        partition-pruned discovery when ``condition`` is a SQL string,
        zero file IO), applying ``set_exprs`` ({col: sql_expr}) to the
        matching rows and passing every other row through; all other
        files carry untouched. At 100 TB an update touching one day's
        key range rewrites that day's files, never the table. SET
        expressions are cast to the column's existing type (schema
        stays stable; ANSI makes overflow loud). An update of a hive
        PARTITION column re-buckets the rewritten rows into their new
        partition dirs automatically (values land in the manifest).
        Conflicts with any interleaved commit, like every rewrite."""
        from pyspark.sql import functions as F

        cond_str = condition if isinstance(condition, str) else None
        if cond_str is not None:
            condition = F.expr(cond_str)
        base = self.latest_version()
        if base is None:
            raise FileNotFoundError(f"no committed version in {self.root}")
        mf = self._read_manifest(base)
        self._guard_generated_set(mf, set_exprs)
        hit_files = self._hit_files(mf, condition, cond_str)

        cdf: dict[str, list[str]] = {}

        def transform(rows: DataFrame) -> DataFrame:
            updated = self._apply_set(rows, condition, set_exprs)
            updated = self._rederive_generated(updated, mf)
            # The changed-row slice feeds THREE consumers off one
            # persisted pass: the CHECK-constraint gate (review
            # finding: updates previously skipped constraints — the
            # one way to commit violating rows; scoped to matched rows
            # per advice r8, pass-through rows were validated when
            # written), and the CoW change-data image files below. It
            # derives from `rows` pre-filtered on the ORIGINAL values
            # (filtering `updated` would re-evaluate the predicate on
            # post-SET values — the wrong row set when a SET column
            # appears in the condition).
            pre = rows.filter(F.coalesce(condition, F.lit(False))).persist()
            try:
                post = self._apply_set(pre, F.lit(True), set_exprs)
                post = self._rederive_generated(post, mf)
                if mf.constraints:
                    self._check_constraints(post, mf.constraints)
                # Delta CDF parity for copy-on-write UPDATE (advice
                # r9): the rewritten files mix survivors with updated
                # rows, so without explicit images the feed could only
                # degenerate to whole-file delete+insert. When the
                # table property "cdf.images" is on (set_property —
                # Delta's delta.enableChangeDataFeed; OFF by default,
                # review r10: every UPDATE would otherwise pay
                # O(changed rows) extra write even with no CDC
                # consumer), stage the pre/post images as CDF-ONLY
                # sidecar files (Delta's `_change_data` shape) — never
                # part of the data file list; the commit record's
                # `cdf` dict addresses them and change_feed / the CDF
                # stream emit exactly these, nothing for survivors.
                if (mf.properties or {}).get("cdf.images") == "true":
                    cdf["cow_pre"] = self.stage_files(pre)
                    cdf["cow_post"] = self.stage_files(post)
            finally:
                pre.unpersist()
            return updated

        return self._rewrite_hit_files(
            base, mf, hit_files, transform, "update", cdf=cdf
        )

    def _guard_generated_set(self, mf: _Manifest, set_exprs: dict) -> None:
        """SET on a declared GENERATED column contradicts its recorded
        transform — reject loudly (update the SOURCE column instead;
        the transform re-derives)."""
        bad = sorted(c for c in set_exprs if c in (mf.generated or {}))
        if bad:
            raise ValueError(
                f"update: column(s) {bad} are GENERATED in {self.root} "
                "(their values derive from the declared transform) — "
                "SET the source columns instead"
            )

    def _rederive_generated(self, df: DataFrame, mf: _Manifest) -> DataFrame:
        """Re-materialize declared generated columns after a SET (review
        finding: updating a transform's SOURCE column must move the
        stored value AND the hive placement with it, or hidden
        partitioning silently mis-prunes updated rows)."""
        from pyspark.sql import functions as F

        for col, expr in (mf.generated or {}).items():
            if col in df.columns:
                dt = df.schema[col].dataType
                df = df.withColumn(col, F.expr(expr).cast(dt))
        return df

    def update_where_dv(self, condition, set_exprs: dict[str, str]) -> int:
        """Merge-on-read ``UPDATE`` via deletion vectors (round-8
        extension; Delta's DV-backed UPDATE): the matching rows' (file,
        position) addresses land in a sidecar MASKING the old images,
        and the updated images append as new files — write cost
        **O(updated rows)**, never a data-file rewrite. This is the
        100 TB shape for sparse updates: touching 0.1% of rows
        scattered across the table writes ~the update, where
        copy-on-write (:meth:`update_where`) rewrites every hit file.
        Discovery scans only the stats/partition-pruned candidates for
        SQL-string predicates; a predicate matching nothing commits a
        no-op (no empty sidecar). Old snapshots still see the original
        rows (time travel untouched); `materialize_dv`/`compact` purge
        the masks later. Conflicts with any interleaved commit."""
        from pyspark.sql import functions as F

        cond_str = condition if isinstance(condition, str) else None
        if cond_str is not None:
            condition = F.expr(cond_str)
        base = self.latest_version()
        if base is None:
            raise FileNotFoundError(f"no committed version in {self.root}")
        mf = self._read_manifest(base)
        self._guard_generated_set(mf, set_exprs)
        candidates = self._pruned_candidate_files(mf, cond_str)
        if not candidates:
            return self._commit(
                [], "update-dv", base, rebase_ok=False,
                carry_parent_files=True,
            )
        matched = self._read_files(
            candidates,
            dv_files=mf.dv_files,
            with_pos=True,
            column_ops=mf.column_ops,
            recorded_schema=mf.declared_schema,
        ).filter(F.coalesce(condition, F.lit(False)))
        # the matched slice is small by the merge-on-read premise —
        # persist so the mask leg and the image leg agree and scan once
        matched.persist()
        try:
            if matched.limit(1).count() == 0:
                # non-prunable predicate matching nothing: no-op commit
                # (review finding: staging an empty sidecar + empty
                # image file taxed every later read's DV anti-join)
                return self._commit(
                    [], "update-dv", base, rebase_ok=False,
                    carry_parent_files=True,
                )
            hit = matched.select(
                F.col("__dv_file").alias("file"),
                F.col("__dv_pos").alias("pos"),
            ).coalesce(1)
            dv_new = self.stage_files(hit)
            images = self._apply_set(
                matched.drop("__dv_file", "__dv_pos"),
                F.lit(True),
                set_exprs,
            )
            images = self._rederive_generated(images, mf)
            if mf.constraints:  # same governance as every writing path
                self._check_constraints(images, mf.constraints)
            # images keep the table's hive layout (review finding:
            # layout-less image files were unprunable and un-compactable
            # on a partitioned table)
            files = self.stage_files(
                images, partition_by=self._pcols(mf) or None
            )
        finally:
            matched.unpersist()
        return self._commit(
            files,
            "update-dv",
            base,
            rebase_ok=False,
            carry_parent_files=True,
            stats=self._file_stats(files),
            dv_files=dv_new,
            # image files are tiny by the MoR premise — bloom them so
            # read_point keeps pruning on the updated values too
            blooms=self._auto_blooms(mf, files),
            # CDF parity (round 9): every added file is an UPDATE
            # postimage; the newly-masked positions are the preimages
            cdf={"postimage": files},
        )

    def materialize_dv(self, min_mask_ratio: float = 0.05) -> int | None:
        """Deletion-vector COMPACTION POLICY (round 6; Delta's DV purge
        during OPTIMIZE): rewrite ONLY the data files whose masked
        fraction meets ``min_mask_ratio``, dropping their masked rows
        for real; lightly-masked files stay as merge-on-read (their
        anti-join stays cheap — that is when DVs beat copy-on-write).
        Sidecars are rewritten to keep only the surviving files'
        addresses (fully-materialized → no sidecar at all). Returns the
        new version, or None when no file crosses the threshold.

        Decision inputs are metadata-scale: per-file mask counts come
        from the (tiny) sidecars, per-file row counts from the manifest
        stats' reserved ``__n_rows`` entry (footer fallback for files
        committed before it existed) — no data scan happens unless a
        rewrite is actually due. Partitioned files are re-staged in
        their hive layout. Conflicts with interleaved commits like any
        rewrite."""
        from pyspark.sql import functions as F

        base = self.latest_version()
        if base is None:
            raise FileNotFoundError(f"no committed version in {self.root}")
        mf = self._read_manifest(base)
        if not mf.dv_files:
            return None
        dv = self._read_files(mf.dv_files)
        masked = {
            r["file"]: r["n"]
            for r in dv.groupBy("file")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()  # ≤ one row per table file — metadata-scale
        }
        live = set(mf.files)
        stats = mf.stats or {}

        def n_rows(f: str) -> int | None:
            rng = (stats.get(f) or {}).get("__n_rows")
            if rng:
                return rng[0]
            try:  # files committed before __n_rows existed
                import pyarrow.parquet as pq

                return pq.ParquetFile(
                    os.path.join(self.root, f)
                ).metadata.num_rows
            except Exception:
                return None
        rewrite = []
        for f, n_masked in masked.items():
            if f not in live:
                continue  # dead entry: addresses a replaced file
            total = n_rows(f)
            if total and n_masked / total >= min_mask_ratio:
                rewrite.append(f)
        if not rewrite:
            return None
        rewrite_set = set(rewrite)
        survivors = self._read_files(
            sorted(rewrite),
            dv_files=mf.dv_files,
            column_ops=mf.column_ops,
            recorded_schema=mf.declared_schema,
        )
        pcols = sorted(
            {
                c
                for f in rewrite
                for c in ((mf.partitions or {}).get(f) or {})
            }
        )
        staged = self.stage_files(
            survivors, partition_by=pcols or None
        )
        carried = [f for f in mf.files if f not in rewrite_set]
        # sidecars: keep only addresses of files that remain masked
        remaining = dv.filter(~F.col("file").isin(rewrite))
        new_dvs: list[str] = []
        if remaining.limit(1).count() > 0:
            new_dvs = self.stage_files(remaining.coalesce(1))
        carried_stats = {
            f: s for f, s in stats.items() if f in set(carried)
        }
        return self._commit(
            carried + staged,
            "dv-materialize",
            base,
            rebase_ok=False,
            stats={**carried_stats, **self._file_stats(staged)},
            dv_files=new_dvs,
            blooms=self._auto_blooms(mf, staged),
        )

    def deleted_positions(self, version: int | None = None) -> int:
        """Number of row addresses masked by the snapshot's deletion
        vectors (0 when it has none) — the auditable merge-on-read
        measure, mirror of :meth:`skipped_files`."""
        v = self.latest_version() if version is None else version
        mf = self._read_manifest(v)  # type: ignore[arg-type]
        if not mf.dv_files:
            return 0
        return self._read_files(mf.dv_files).count()

    @staticmethod
    def _staged_key_pred(staged_stats: dict, keys: list[str]) -> str | None:
        """A conservative SQL predicate covering every key tuple the
        merge COMMITS, derived from the staged files' own footer stats
        (round 8; hardened after review) — the MERGE conflict-narrowing
        probe. Reading the range off the staged artifact instead of
        re-executing the source plan matters for soundness: a
        non-deterministic or concurrently-mutated source would yield a
        range describing keys OTHER than the ones actually staged,
        proving a false disjointness. Footer min/max exclude NaN, but
        the pruner holds the NaN side of float ranges open (V146), so
        NaN keys in an interleaved append still conflict.

        For :meth:`merge_dv` the staged images' keys are EXACTLY the
        source keys (updated matched rows + inserts); for the CoW
        :meth:`merge` the staged files are the whole merged table, so
        the range over-approximates to target ∪ source — weaker
        narrowing (an append inside the table's key span conflicts),
        never unsound. None when no key column yields a
        stats-comparable range (caller stays strict)."""
        import math

        from fefal_etl_spark.predicate_prune import sql_literal

        conjuncts = []
        for k in keys:
            lo = hi = None
            covered = True
            for fs in staged_stats.values():
                n_rows = (fs.get("__n_rows") or [0])[0]
                if n_rows == 0:
                    continue  # empty file constrains nothing
                rng = fs.get(k)
                if rng is None:
                    covered = False  # a staged file's keys are unbounded
                    break
                mn, mx = rng[0], rng[1]
                if isinstance(mn, bool) or not isinstance(
                    mn, (int, float, str)
                ):
                    covered = False
                    break
                if isinstance(mn, float) and not (
                    math.isfinite(mn) and math.isfinite(mx)
                ):
                    covered = False
                    break
                lo = mn if lo is None else min(lo, mn)
                hi = mx if hi is None else max(hi, mx)
            if not covered or lo is None:
                continue  # this key column cannot disprove anything
            conjuncts.append(
                f"{k} >= {sql_literal(lo)} AND {k} <= {sql_literal(hi)}"
            )
        return " AND ".join(conjuncts) or None

    def _pure_append_records(
        self, base: int, latest: int, op: str
    ) -> list[tuple[int, dict]]:
        """The commit records in (base, latest], REQUIRED to all be pure
        appends (op append/stream-append, no removes, no DV changes, no
        column ops) — the only interleaved commits a rebase can reorder
        around. Anything else raises :class:`CommitConflict` with the
        calling ``op`` named. Shared by the merge narrowing walk and the
        round-8 maintenance rebase (:meth:`compact` /
        :meth:`optimize_zorder` / :meth:`build_bloom`)."""
        recs: list[tuple[int, dict]] = []
        for v in range(base + 1, latest + 1):
            rec = _load_record(self.root, v, self.backend)
            if (
                rec.get("op") not in ("append", "stream-append")
                or "files" in rec
                or rec.get("remove")
                or rec.get("dv_add")
                or rec.get("dv_remove")
                or rec.get("column_op")
            ):
                raise CommitConflict(
                    f"{op}: interleaved {rec.get('op')} commit "
                    f"(version {v}) is not order-independent"
                )
            recs.append((v, rec))
        return recs

    def _rebase_appends(self, base: int, op: str) -> tuple[int, list[str]]:
        """Rebase step for a LOGICAL NO-OP maintenance commit
        (compact/zorder/bloom, round 8): a maintenance op changes no
        rows, so ANY pure interleaved append is order-independent —
        serial outcome = the rewritten base files plus the appended
        files verbatim (their stats/partition values/ledger entries
        already live in the resolved parent state). Returns
        (new base, appended files to carry); non-append interleavings
        raise :class:`CommitConflict` — the strict pre-r8 behavior. At
        100 TB, streaming appends land every minute; without this,
        OPTIMIZE never wins a race and small files accumulate
        unboundedly."""
        latest = self.latest_version()
        assert latest is not None and latest > base
        extra = [
            f
            for _v, rec in self._pure_append_records(base, latest, op)
            for f in (rec.get("add") or [])
        ]
        return latest, extra

    def _disjoint_append_files(
        self, base: int, latest: int, pred: str | None
    ) -> list[str]:
        """Conflict NARROWING walk shared by :meth:`merge` and
        :meth:`merge_dv` (round 8 — VERDICT r7 item 1): every commit in
        (base, latest] must be a PURE append whose added files provably
        hold no row matching ``pred`` (judged from the commit record's
        own stats/partition values — zero file IO); returns those files
        so a CoW merge can carry them (their stats already live in the
        resolved parent state — the commit record only re-records stats
        for ADDED files). Anything else — a rewrite, a DV commit, an
        append that may intersect the merge's key range — raises
        :class:`CommitConflict` (the strict pre-r8 behavior). At
        100 TB, concurrent daily appends plus a MoR upsert is the
        NORMAL write mix; without this the merge loses every race."""
        from fefal_etl_spark.predicate_prune import prune_candidates

        files: list[str] = []
        for v, rec in self._pure_append_records(base, latest, "merge"):
            add = list(rec.get("add") or [])
            if pred is None:
                raise CommitConflict(
                    f"merge: interleaved append (version {v}) and the "
                    "merge key range is not stats-comparable"
                )
            cand = prune_candidates(
                pred, add, rec.get("stats") or {}, rec.get("partitions") or {}
            )
            if cand is None or cand:
                raise CommitConflict(
                    f"merge: interleaved append (version {v}) may "
                    f"contain rows in the merge key range ({pred})"
                )
            files += add
        return files

    def merge(
        self,
        source: DataFrame,
        keys: list[str],
        update_cols: list[str] | None = None,
    ) -> int:
        """MERGE (upsert) as an atomic snapshot: matched target rows take
        the source's ``update_cols`` (default: all non-key columns),
        unmatched source rows are inserted. The join itself is
        `operators/upsert.py::merge_into`; this wrapper adds the
        atomicity/time-travel the r4 verdict called out as missing.

        CONFLICT NARROWING (round 8): an interleaved commit no longer
        conflicts outright — if every interleaved commit is a pure
        append whose files provably hold no row in the merge's key
        range (the STAGED files' own footer stats vs the appends'
        recorded stats, :meth:`_staged_key_pred` /
        :meth:`_disjoint_append_files` — for CoW the staged range is
        target ∪ source, an over-approximation that narrows less but
        never unsoundly), the merge REBASES: its staged result plus
        the appended files is exactly the serial outcome, because
        key-disjoint appended rows are neither matched nor
        re-inserted. Overlapping appends and rewrites still raise
        :class:`CommitConflict`."""
        from fefal_etl_spark.operators.upsert import merge_into

        base = self.latest_version()
        if base is None:
            raise FileNotFoundError(f"no committed version in {self.root}")
        mf = self._read_manifest(base)
        target = self.read(base)
        merged = merge_into(target, source, keys, update_cols=update_cols)
        sch = self._enforce(merged)
        files = self.stage_files(
            merged, partition_by=self._pcols(mf) or None
        )
        stats = self._file_stats(files)
        blooms = self._auto_blooms(mf, files)
        key_pred: str | None | bool = False  # False = not yet computed
        extra: list[str] = []
        while True:
            try:
                return self._commit(
                    files + extra, "merge", base, rebase_ok=False,
                    stats=stats, schema=sch, blooms=blooms,
                )
            except CommitConflict:
                latest = self.latest_version()
                assert latest is not None and latest > base
                if key_pred is False:  # lazily, only when racing
                    key_pred = self._staged_key_pred(stats, keys)
                extra += self._disjoint_append_files(
                    base, latest, key_pred
                )
                base = latest  # disjoint appends: rebase and retry

    def merge_dv(
        self,
        source: DataFrame,
        keys: list[str],
        update_cols: list[str] | None = None,
    ) -> int:
        """Merge-on-read MERGE (the deletion-vector form of
        :meth:`merge`): matched target rows are MASKED by a deletion
        vector and their updated images — plus the unmatched source
        inserts — are APPENDED as new files. The existing data files are
        untouched, so write cost is O(source + matched), never
        O(target): at 100 TB, upserting a 0.1% daily batch under
        copy-on-write rewrites ~every file a matched key lands in, while
        this writes one small sidecar and one batch-sized commit. This
        is Delta's DV-enabled MERGE / Iceberg's merge-on-read write mode.

        Reads pay the usual DV broadcast anti-join; vectors accumulate
        until any CoW rewrite (e.g. :meth:`compact`) materializes them.
        Same unique-source-keys precondition as :meth:`merge` (enforced
        by `merge_into`'s guard on the appended images).

        CONFLICT NARROWING (round 8, like :meth:`merge`): interleaved
        commits that are pure appends provably disjoint from the
        merge's key range REBASE instead of raising — the commit
        carries the parent's files, so the appended files ride along
        untouched, the DV masks still address their (still-live) base
        files, and the appended rows are neither matched nor
        re-inserted. Anything else still raises
        :class:`CommitConflict`."""
        from pyspark.sql import functions as F

        from fefal_etl_spark.operators.upsert import merge_into

        base = self.latest_version()
        if base is None:
            raise FileNotFoundError(f"no committed version in {self.root}")
        mf = self._read_manifest(base)
        tgt = self._read_files(
            mf.files,
            dv_files=mf.dv_files,
            with_pos=True,
            column_ops=mf.column_ops,
            recorded_schema=mf.declared_schema,
        )
        # source keys join twice (mask + image legs); no broadcast hint —
        # a merge source can be TBs, AQE demotes/promotes per actual size
        src_keys = source.select(*keys).distinct()
        # the hit leg carries the matched KEYS alongside (file, pos):
        # one persisted pass feeds the sidecar, the CDF postimage/insert
        # split below, and it is small by the merge-on-read premise
        # the DV address columns KEEP their reserved __dv_* names here —
        # a table keyed on a column literally named "file"/"pos" must
        # not collide with the sidecar addressing (advice r9); the
        # rename to the sidecar's (file, pos) schema happens only in
        # the two-column staging select below, after keys are dropped
        hit_rows = (
            tgt.join(src_keys, on=keys, how="left_semi")
            .select("__dv_file", "__dv_pos", *keys)
            .persist()
        )
        try:
            # no empty sidecar / empty image files (review r9, same
            # rule as update_where_dv's no-op path: a staged empty file
            # taxes every later read) — the legs are persisted, so the
            # emptiness probes are in-memory
            dv_new = (
                self.stage_files(
                    hit_rows.select(
                        F.col("__dv_file").alias("file"),
                        F.col("__dv_pos").alias("pos"),
                    ).coalesce(1)
                )
                if hit_rows.limit(1).count()
                else []
            )
            matched_keys = hit_rows.select(*keys).distinct()
            matched_tgt = (
                tgt.drop("__dv_file", "__dv_pos")
                .join(src_keys, on=keys, how="left_semi")
            )
            # merge_into over ONLY the matched target slice: updated
            # images for matched keys + pure inserts for source-only
            # keys — exactly the rows that must be appended. Staged in
            # TWO groups (round 9, Delta CDF parity): updated images of
            # MATCHED keys are recorded as UPDATE postimages, source-only
            # inserts stay plain inserts; `images` is persisted so the
            # split costs two in-memory passes, not two target scans.
            # Images keep the table's hive layout, like update_where_dv
            # (layout-less image files are unprunable on a partitioned
            # table — review r9 re-caught the r8 finding here).
            images = merge_into(
                matched_tgt, source, keys, update_cols=update_cols
            ).persist()
            pcols = self._pcols(mf) or None
            try:
                sch = self._enforce(images)
                upd_images = images.join(
                    matched_keys, on=keys, how="left_semi"
                )
                ins_images = images.join(
                    matched_keys, on=keys, how="left_anti"
                )
                upd_files = (
                    self.stage_files(upd_images, partition_by=pcols)
                    if upd_images.limit(1).count()
                    else []
                )
                ins_files = (
                    self.stage_files(ins_images, partition_by=pcols)
                    if ins_images.limit(1).count()
                    else []
                )
            finally:
                images.unpersist()
        finally:
            hit_rows.unpersist()
        files = upd_files + ins_files
        stats = self._file_stats(files)
        blooms = self._auto_blooms(mf, files)
        key_pred: str | None | bool = False  # False = not yet computed
        while True:
            try:
                return self._commit(
                    files,
                    "merge-dv",
                    base,
                    rebase_ok=False,
                    carry_parent_files=True,
                    stats=stats,
                    dv_files=dv_new,
                    schema=sch,
                    blooms=blooms,
                    cdf={"postimage": upd_files},
                )
            except CommitConflict:
                latest = self.latest_version()
                assert latest is not None and latest > base
                if key_pred is False:  # lazily, only when racing
                    # staged image keys == source keys exactly
                    key_pred = self._staged_key_pred(stats, keys)
                # raises unless every interleaved commit is a provably
                # key-disjoint append; carry_parent_files re-resolves
                # the new parent, so the appended files ride along
                self._disjoint_append_files(base, latest, key_pred)
                base = latest

    def change_feed(self, v_from: int, v_to: int) -> DataFrame:
        """Delta ``table_changes`` parity: the change rows of versions
        (``v_from``, ``v_to``] — data columns plus ``_change_type`` ∈
        {insert, delete, update_preimage, update_postimage} and
        ``_commit_version``. Each commit's rows are its
        :func:`change_units`, read with one scan per (label, masks)
        group: appends read only their added files, deletion-vector
        commits only the files the changed sidecars address, and a
        copy-on-write rewrite reads its removed and added files (or,
        under ``cdf.images``, only its image files). DV-backed updates
        (:meth:`update_where_dv` / :meth:`merge_dv`) label the masked
        old rows ``update_preimage`` and the images the record lists
        ``update_postimage``; a merge's source-only inserts stay
        ``insert``. Replaying the feed per version (deletes/preimages
        out, inserts/postimages in) rebuilds each snapshot — pinned in
        tests."""
        from pyspark.sql import functions as F

        out: DataFrame | None = None
        state = self._resolve_state(v_from) if v_from >= 0 else None
        for v in range(max(v_from, -1) + 1, v_to + 1):
            units, state = change_units(self.root, v, state, self.backend)
            groups: dict[tuple, list[str]] = {}
            for u in units:
                groups.setdefault(
                    (u.change, u.masked_by, u.only_in), []
                ).append(u.rel)
            for (change, masked_by, only_in), rels in groups.items():
                rows = self._read_files(
                    rels,
                    dv_files=list(masked_by),
                    with_pos=only_in is not None,
                    column_ops=state["column_ops"],
                )
                if only_in is not None:
                    rows = rows.join(
                        F.broadcast(self._dv_positions(only_in)),
                        ["__dv_file", "__dv_pos"],
                        "left_semi",
                    ).drop("__dv_file", "__dv_pos")
                part = rows.withColumn(
                    "_change_type", F.lit(change)
                ).withColumn("_commit_version", F.lit(v))
                out = (
                    part
                    if out is None
                    else out.unionByName(part, allowMissingColumns=True)
                )
        if out is None:
            out = (
                self.read(v_to)
                .withColumn("_change_type", F.lit(""))
                .withColumn("_commit_version", F.lit(0))
                .filter(F.lit(False))
            )
        return out

    def row_deltas(self, v_from: int, v_to: int) -> DataFrame:
        """The ±1 projection of :meth:`change_feed`: every data column
        plus ``__delta`` (+1 for insert/update_postimage rows, -1 for
        delete/update_preimage rows), as a MULTISET — no key contract,
        duplicates count, an update is a -1/+1 pair. This is the delta
        `materialized.IncrementalAggView` folds into its state.

        Cost: the range's commits are read one by one, so a multi-commit
        range reads each commit's changed files (a file added and then
        removed inside the range is read twice), not the net file diff
        of the two snapshots. The aggregates are the same, and a view
        refreshed after every commit reads exactly the changed files
        either way."""
        from pyspark.sql import functions as F

        plus = F.col("_change_type").isin("insert", "update_postimage")
        return (
            self.change_feed(v_from, v_to)
            .withColumn("__delta", F.when(plus, 1).otherwise(-1))
            .drop("_change_type", "_commit_version")
        )

    # ------------------------------------------------------------------
    # maintenance
    # ------------------------------------------------------------------
    def set_property(self, key: str, value: str | None) -> int:
        """Set (or with ``value=None`` unset) a free-form table
        property — the Delta ``TBLPROPERTIES`` shape (round 10). A
        metadata-only commit; properties carry through replay,
        checkpoints and restore. Known keys:

        * ``"cdf.images" = "true"`` — copy-on-write UPDATEs stage
          explicit change-data image files so the CDF emits
          update_pre/postimage rows for them (Delta's
          ``delta.enableChangeDataFeed``). Off by default: the images
          cost O(changed rows) extra write on every UPDATE, which a
          table nobody CDC-consumes should not pay (review r10).
        """
        return self.set_properties({key: value})

    def set_properties(self, props: dict[str, str | None]) -> int:
        """Multi-key :meth:`set_property` as ONE metadata commit —
        ``SET TBLPROPERTIES ('a'='1', 'b'='2')`` must be atomic
        (review r12). ``None`` values delete keys."""
        if not props:
            raise ValueError("set_properties: empty property map")
        base = self.latest_version()
        if base is None:
            raise FileNotFoundError(f"no committed version in {self.root}")
        mf = self._read_manifest(base)
        return self._commit(
            mf.files,
            "set-property",
            base,
            rebase_ok=False,
            stats=mf.stats,
            dv_files=mf.dv_files,
            properties=dict(props),
        )

    def set_clustering(self, *cols: str) -> int:
        """Declare preferred CLUSTERING columns (round 10 — the Delta
        liquid-clustering / `ALTER TABLE ... CLUSTER BY` shape): a
        metadata-only commit recording the columns every OPTIMIZE-class
        rewrite should order by. From this commit on, :meth:`compact` —
        including the streaming sink's ``auto_compact_every`` — lays
        its rewritten files out along the z-order curve of these
        columns instead of bin-packing arbitrarily, so post-ingest
        auto-maintenance PRESERVES multi-dimension data skipping
        (pre-r10, one auto-compact after an `optimize_zorder` silently
        destroyed the clustering). ``set_clustering()`` with no columns
        clears the declaration. Columns must exist in the recorded
        schema."""
        base = self.latest_version()
        if base is None:
            raise FileNotFoundError(f"no committed version in {self.root}")
        mf = self._read_manifest(base)
        known = mf.schema or {}
        missing = sorted(c for c in cols if c not in known)
        if missing:
            raise ValueError(
                f"set_clustering: column(s) {missing} not in the "
                f"recorded schema of {self.root}"
            )
        if len(cols) > 4:
            # 63-bit Morton budget: 4 cols x 15 bits is the floor at
            # which per-dimension clustering still pays (review r10 —
            # a 5-column declaration would poison every later compact)
            raise ValueError(
                "set_clustering: at most 4 columns (z-order quality "
                f"per dimension falls as 1/n; got {len(cols)})"
            )
        integral = {"tinyint", "smallint", "int", "integer",
                    "bigint", "long", "short", "byte"}
        bad = sorted(
            c for c in cols if str(known[c]).lower() not in integral
        )
        if bad:
            # EXACT type-name match (review r10 #2): DATE looked
            # integral but cast("long") raises on it, and a prefix
            # match would admit interval types — either way the first
            # later compact() would poison maintenance; cluster on an
            # integral surrogate (unix_date/hash/bucket) instead
            raise ValueError(
                "set_clustering: column(s) "
                f"{[(c, known[c]) for c in bad]} are not integral — "
                "the Morton interleave needs long-castable values; "
                "cluster on an integral surrogate (unix_date, hash, "
                "bucket) instead"
            )
        return self._commit(
            mf.files,
            "set-clustering",
            base,
            rebase_ok=False,
            stats=mf.stats,
            dv_files=mf.dv_files,
            clustering=list(cols) or None,
        )

    def _cluster_layout(
        self, src, cols: list[str], n_files: int, bits: int | None = None
    ):
        """Order ``src`` along the recorded clustering before staging:
        z-order curve for ≥2 columns, range+sort for one — the shared
        layout step of :meth:`compact` (clustered tables) and
        :meth:`optimize_zorder` (both forms — review r10 #4 removed
        the duplicated body). ``bits`` defaults to min(16, 63//n) so
        any allowed column count fits the 63-bit Morton budget."""
        from pyspark.sql import functions as F

        from fefal_etl_spark.operators.layout import zorder_key_n

        key = (
            zorder_key_n(
                [F.col(c) for c in cols],
                bits=bits if bits is not None else min(16, 63 // len(cols)),
            )
            if len(cols) >= 2
            else F.col(cols[0])
        )
        return (
            src.withColumn("__z", key)
            .repartitionByRange(max(n_files, 1), "__z")
            .sortWithinPartitions("__z")
            .drop("__z")
        )

    def compact(
        self,
        target_file_mb: int = 128,
        partition_by: list[str] | None = None,
        small_file_mb: float | None = None,
        partition_filter: dict | None = None,
    ) -> int:
        """Small-file compaction (Delta OPTIMIZE analogue): rewrite the
        latest snapshot into ceil(bytes/target) files as a new commit —
        logically a no-op (same rows), physically the cure for the
        many-small-files problem streaming appends accumulate (every
        file costs a task + an open at scan time; the txn sink commits
        one file set per micro-batch). ``partition_by`` keeps a
        hive-partitioned layout: rows are clustered per partition value
        before the partitioned rewrite, so each partition collapses to
        ~one file and manifest-side partition pruning keeps working
        (the shape index maintenance needs — per-batch appends shatter
        each bucket into per-batch files). Interleaved PURE APPENDS no
        longer conflict (round 8): compaction is a logical no-op, so it
        rebases and carries the appended files verbatim
        (:meth:`_rebase_appends`) — without that, a table under
        continuous streaming appends could never be compacted. Rewrites
        and DV commits still raise; the pre-compaction snapshot stays
        time-travelable until vacuumed.

        ``small_file_mb`` (round 8) makes the rewrite INCREMENTAL —
        Delta's actual OPTIMIZE bin-packing: only files smaller than
        the threshold are rewritten, already-well-sized files are
        RETAINED verbatim (their stats/partition values/blooms carry
        through the commit untouched). Without it the rewrite is the
        whole snapshot — O(table), which a 100 TB table cannot afford
        for routine maintenance; with it the cost is O(small files),
        i.e. O(ingest since the last OPTIMIZE). Deletion vectors
        masking rewritten files are materialized into the new files;
        sidecars are kept while any retained file may still need them
        (pairs addressing dead paths are inert and vacuum separately).
        ``partition_filter`` ({col: value}) scopes the rewrite to ONE
        partition's files — those every row of which the manifest
        proves in it (`predicate_prune.covered_files`: recorded hive
        values, or stats — zero listing): at 100 TB you OPTIMIZE
        yesterday's partition after its ingest closes, never the whole
        table. MIXED files are NOT victims — rewriting them would pull
        other partitions' rows into the target's layout. Composes with
        ``small_file_mb``. Fewer than two victims = nothing to pack:
        returns the current version WITHOUT committing."""
        import math

        base = self.latest_version()
        if base is None:
            raise FileNotFoundError(f"no committed version in {self.root}")
        mf = self._read_manifest(base)
        sizes = {
            f: os.path.getsize(os.path.join(self.root, f))
            for f in mf.files
        }
        victims, retained = list(mf.files), []
        if partition_filter:
            eq = [(c, "=", v) for c, v in partition_filter.items()]
            in_part = set(
                covered_files(
                    render_predicate(eq),
                    mf.files,
                    mf.stats or {},
                    mf.partitions or {},
                )
            )
            victims = [f for f in victims if f in in_part]
            retained = [f for f in mf.files if f not in in_part]
        if small_file_mb is not None:
            cut = small_file_mb * 1024 * 1024
            retained += [f for f in victims if sizes[f] >= cut]
            victims = [f for f in victims if sizes[f] < cut]
        if (partition_filter or small_file_mb is not None) and len(
            victims
        ) < 2:
            return base  # nothing to bin-pack — no empty commit
        total = sum(sizes[f] for f in victims)
        n_files = max(1, math.ceil(total / (target_file_mb * 1024 * 1024)))
        if partition_by is None:
            # preserve the table's hive layout by default (see _pcols)
            partition_by = self._pcols(mf) or None
        src = self._read_files(
            victims, dv_files=mf.dv_files, column_ops=mf.column_ops,
            recorded_schema=mf.declared_schema,
        )
        if mf.clustering:
            # declared clustering (round 10): the rewrite lays victims
            # out along the z-order curve — auto-maintenance preserves
            # data skipping instead of bin-packing it away; nests
            # inside the hive layout exactly like optimize_zorder
            laid_out = self._cluster_layout(
                src, list(mf.clustering), n_files
            )
        elif partition_by:
            laid_out = src.repartition(*partition_by)
        else:
            laid_out = src.repartition(n_files)
        files = self.stage_files(laid_out, partition_by=partition_by)
        stats = self._file_stats(files)
        # keep DV sidecars while retained files may still need their
        # masks (a sidecar can address several files); a full rewrite
        # materialized every mask, so the vectors drop with the files
        dvs = list(mf.dv_files or []) if retained else None
        blooms = self._auto_blooms(mf, files)
        extra: list[str] = []
        for _attempt in range(self._REBASE_MAX_RETRIES):
            try:
                return self._commit(
                    files + retained + extra,
                    "compact",
                    base,
                    rebase_ok=False,
                    stats=stats,
                    dv_files=dvs,
                    blooms=blooms,
                )
            except CommitConflict:
                base, more = self._rebase_appends(base, "compact")
                extra += more
        raise CommitConflict(
            f"compact: lost {self._REBASE_MAX_RETRIES} commit races to "
            "concurrent appends — back off and retry (advice r8: an "
            "unbounded rebase loop livelocks under sustained ingest)"
        )

    def optimize_zorder(
        self,
        *cols: str,
        n_files: int = 8,
        bits: int = 16,
    ) -> int:
        """Delta ``OPTIMIZE ZORDER BY`` analogue: rewrite the latest
        snapshot range-partitioned and sorted by the Morton interleave of
        two OR MORE integer columns (`operators/layout.py::zorder_key_n`
        — round 6 extended past the 2-column form), so each file covers
        a tight [min,max] band in EVERY interleaved dimension — the
        manifest's per-file stats then let :meth:`read_where` prune on
        ANY of them (plain single-column sort optimizes one dimension
        and destroys the others). ``len(cols)·bits`` must fit a signed
        long; per-dimension clustering quality falls as 1/n, so 3-4
        columns is the practical ceiling. Logically a no-op commit,
        like :meth:`compact`. With NO columns (round 10) the recorded
        :meth:`set_clustering` declaration applies —
        ``optimize_zorder()`` is then "re-cluster per table metadata",
        the scheduler-friendly form."""
        base = self.latest_version()
        if base is None:
            raise FileNotFoundError(f"no committed version in {self.root}")
        mf = self._read_manifest(base)
        if not cols:
            if not mf.clustering:
                raise ValueError(
                    "optimize_zorder: no columns given and no "
                    "clustering declared (set_clustering first)"
                )
            # the recorded declaration may be a SINGLE column —
            # _cluster_layout handles both arities (review r10: the
            # direct zorder_key_n call raised on 1-column clustering
            # while compact() accepted it); bits scale by count
            cols = tuple(mf.clustering)
            bits = min(bits, 63 // max(len(cols), 1))
        elif len(cols) >= 2:
            # explicit columns: honor the requested bits but never
            # exceed the 63-bit budget (review r10 #4: 4 explicit
            # columns at the default 16 raised while the declared
            # path scaled — the two OPTIMIZE forms must agree)
            bits = min(bits, 63 // len(cols))
        laid_out = self._cluster_layout(
            self.read(base), list(cols), n_files, bits=bits
        )
        # hive layout preserved (see _pcols): each z-band task fans its
        # rows into their partition dirs, so z-clustering nests INSIDE
        # the partition scheme instead of silently demoting it
        files = self.stage_files(
            laid_out, partition_by=self._pcols(mf) or None
        )
        stats = self._file_stats(files)
        blooms = self._auto_blooms(mf, files)
        extra: list[str] = []
        for _attempt in range(self._REBASE_MAX_RETRIES):
            try:
                return self._commit(
                    files + extra, "zorder", base, rebase_ok=False,
                    stats=stats, blooms=blooms,
                )
            except CommitConflict:
                # logical no-op: rebase over pure appends like compact
                # (appended files simply stay outside the z-layout until
                # the next OPTIMIZE — exactly Delta's semantics)
                base, more = self._rebase_appends(base, "zorder")
                extra += more
        raise CommitConflict(
            f"zorder: lost {self._REBASE_MAX_RETRIES} commit races to "
            "concurrent appends — back off and retry"
        )

    # bloom parameters: 8192 bits / 4 hashes ≈ 1 KB per file per column,
    # <1% fpp up to ~1k distinct values per file, manifest-bounded
    # regardless of row count (positions are distinct-capped at n_bits)
    _BLOOM_BITS = 8192
    _BLOOM_K = 4

    # cap on append-rebase retries for logical no-op maintenance commits
    # (compact/zorder/bloom): under sustained ingest an unbounded loop
    # livelocks — losing this many CAS races means the writer should
    # back off and reschedule, not spin re-walking the record range
    _REBASE_MAX_RETRIES = 20

    @classmethod
    def _bloom_positions(cls, value: str) -> list[int]:
        import hashlib

        return [
            int(
                hashlib.md5(
                    f"{value}\x1f{seed}".encode()
                ).hexdigest()[:15],
                16,
            )
            % cls._BLOOM_BITS
            for seed in range(cls._BLOOM_K)
        ]

    def _compute_bloom_maps(
        self,
        files: list[str],
        cols: list[str],
        column_ops=None,
        recorded_schema: dict[str, str] | None = None,
    ) -> dict[str, dict[str, str]]:
        """Per-file bloom bitmaps for each of ``cols`` over exactly
        ``files`` — ONE Spark job however many columns (per-column
        seed arrays explode from one scan). Shared by
        :meth:`build_bloom` (whole snapshot) and the rewrite paths'
        auto-rebuild (staged files only). ``recorded_schema`` makes
        the scan upcast widened columns first, so the md5-over-string
        hash keys match DECLARED-type probes (round 12 — see
        :meth:`alter_column_type`). Returns {col: {file: b64}}."""
        import base64

        from pyspark.sql import functions as F

        if not files or not cols:
            return {c: {} for c in cols}

        def seeds(val):
            return F.array(
                *[
                    (
                        F.conv(
                            F.substring(
                                F.md5(
                                    F.concat_ws(
                                        "\x1f", val, F.lit(str(s))
                                    )
                                ),
                                1,
                                15,
                            ),
                            16,
                            10,
                        ).cast("long")
                        % self._BLOOM_BITS
                    )
                    for s in range(self._BLOOM_K)
                ]
            )

        rows = self._read_files(
            files,
            with_pos=True,
            column_ops=column_ops,
            recorded_schema=recorded_schema,
        )
        # a schema-evolving write may omit a bloom column entirely —
        # those files keep NO entry (conservatively read), never an
        # AnalysisException inside a maintenance commit
        cols = [c for c in cols if c in rows.columns]
        if not cols:
            return {}
        # NULL values contribute no positions: when(isNotNull) leaves a
        # null seed array, which the inner explode drops entirely
        per_col = F.array(
            *[
                F.struct(
                    F.lit(c).alias("col"),
                    F.when(
                        F.col(c).isNotNull(),
                        seeds(F.col(c).cast("string")),
                    ).alias("pos_arr"),
                )
                for c in cols
            ]
        )
        # distinct positions per (file, col): bounded by n_bits
        per_file = (
            rows.select(
                F.col("__dv_file").alias("file"),
                F.explode(per_col).alias("e"),
            )
            .select(
                "file",
                F.col("e.col").alias("col"),
                F.explode("e.pos_arr").alias("pos"),
            )
            .distinct()
            .groupBy("file", "col")
            .agg(F.collect_list("pos").alias("positions"))
            .collect()
        )
        out: dict[str, dict[str, str]] = {c: {} for c in cols}
        for r in per_file:
            bits = bytearray(self._BLOOM_BITS // 8)
            for p in r["positions"]:
                bits[p // 8] |= 1 << (p % 8)
            out[r["col"]][r["file"]] = base64.b64encode(
                bytes(bits)
            ).decode()
        # a file whose column is all-NULL produced no row: its bloom is
        # the empty bitmap (probes on real values correctly skip it)
        empty = base64.b64encode(
            bytes(bytearray(self._BLOOM_BITS // 8))
        ).decode()
        for c in cols:
            for f in files:
                out[c].setdefault(f, empty)
        return out

    def _auto_blooms(
        self, mf: _Manifest, staged: list[str]
    ) -> dict[str, dict[str, str]] | None:
        """Bloom MAINTENANCE for rewrite commits (round 9 — VERDICT r8
        item 3): when the manifest carries bloom columns, rebuild the
        entries for the REWRITTEN (staged) files inside the same
        commit, so an OPTIMIZE / DV-purge / UPDATE no longer silently
        degrades :meth:`read_point` pruning until a manual
        :meth:`build_bloom`. Cost is one extra scan of the staged
        files only — the files the rewrite just produced, never the
        table. Staged files are post-column-ops, so no op replay."""
        if not mf.blooms or not staged:
            return None
        return self._compute_bloom_maps(staged, sorted(mf.blooms))

    def build_bloom(self, col: str) -> int:
        """Build per-file BLOOM FILTERS over ``col`` for the latest
        snapshot and commit them into the manifest (a logical no-op, like
        :meth:`compact`) — the point-lookup half of data skipping:
        [min,max] stats can't prune an equality probe on a column whose
        values interleave across files, a bloom can. ~1 KB per file per
        column in the manifest, so :meth:`read_point` prunes with zero
        file IO. Hashing is md5-over-string on BOTH build (JVM
        expressions) and probe (driver) sides — use on integer/string
        key columns. Files appended after the build have no entry and
        are conservatively read; rebuild after large ingests (the same
        maintenance cadence as OPTIMIZE). Rewrite commits
        (compact/zorder/DV-purge/UPDATE/DELETE) auto-rebuild entries
        for the files THEY rewrite (:meth:`_auto_blooms`), so a built
        bloom column keeps pruning across OPTIMIZE."""
        base = self.latest_version()
        if base is None:
            raise FileNotFoundError(f"no committed version in {self.root}")
        mf = self._read_manifest(base)
        maps = self._compute_bloom_maps(
            mf.files, [col], column_ops=mf.column_ops,
            recorded_schema=mf.declared_schema,
        )
        if col not in maps:
            raise ValueError(
                f"build_bloom: column {col!r} not in {self.root}"
            )
        blooms = maps[col]
        extra: list[str] = []
        for _attempt in range(self._REBASE_MAX_RETRIES):
            try:
                return self._commit(
                    mf.files + extra,
                    "bloom",
                    base,
                    rebase_ok=False,
                    stats=mf.stats,
                    dv_files=mf.dv_files,
                    blooms={col: blooms},
                )
            except CommitConflict:
                # metadata-only no-op: rebase over pure appends — the
                # appended files have no bloom entry, so read_point
                # conservatively keeps them (documented no-false-
                # negative contract), exactly the post-build-append case
                base, more = self._rebase_appends(base, "bloom")
                extra += more
        raise CommitConflict(
            f"build_bloom: lost {self._REBASE_MAX_RETRIES} commit races "
            "to concurrent appends — back off and retry"
        )

    def read_point(self, col: str, value, version: int | None = None) -> DataFrame:
        """Point lookup with bloom skipping: read only the files whose
        bloom for ``col`` may contain ``value`` (files without a bloom
        are conservatively kept — no false negatives by construction),
        then apply the exact equality filter."""
        from pyspark.sql import functions as F

        return self._scan(*self._bloom_kept(col, value, version)).filter(
            F.col(col) == F.lit(value)
        )

    def skipped_files_bloom(
        self, col: str, value, version: int | None = None
    ) -> tuple[int, int]:
        """(files_kept, files_total) for a :meth:`read_point`."""
        _, mf, keep = self._bloom_kept(col, value, version)
        return len(keep), len(mf.files)

    def _bloom_kept(
        self, col: str, value, version: int | None
    ) -> tuple[int, _Manifest, list[str]]:
        """(version, snapshot, files whose ``col`` bloom may hold
        ``value``) for a point lookup."""
        import base64

        v = self.latest_version() if version is None else version
        if v is None:
            raise FileNotFoundError(f"no committed version in {self.root}")
        mf = self._read_manifest(v)
        col_blooms = (mf.blooms or {}).get(col) or {}
        positions = self._bloom_positions(str(value))

        def may_hold(b64: str | None) -> bool:
            if b64 is None:
                return True
            bits = base64.b64decode(b64)
            return all(bits[p // 8] & (1 << (p % 8)) for p in positions)

        return v, mf, [f for f in mf.files if may_hold(col_blooms.get(f))]

    def history(self) -> DataFrame:
        """The commit history as a DataFrame (Delta's DESCRIBE HISTORY):
        one row per snapshot with version, operation, commit wall time,
        file counts and the parent pointer — manifests are KB-sized
        JSON, so this is a driver-side metadata read however large the
        table is."""
        rows = []
        for v in self.versions():
            mf = self._read_manifest(v)
            rows.append(
                (
                    v,
                    mf.op,
                    float(mf.ts) if mf.ts is not None else None,
                    len(mf.files),
                    len(mf.dv_files or []),
                    mf.parent,
                )
            )
        return self.spark.createDataFrame(
            rows,
            "version int, op string, commit_ts double, n_files int, "
            "n_dv_files int, parent int",
        )

    def version_as_of(self, ts: float) -> int:
        """Latest version whose commit time is ≤ ``ts`` (AS OF TIMESTAMP
        resolution). Pre-upgrade manifests without a recorded time fall
        back to the manifest file's mtime (POSIX backends only —
        non-filesystem logs cannot hold pre-upgrade records)."""
        best = None
        for v in self.versions():
            rec_ts = _load_record(self.root, v, self.backend).get("ts")  # O(delta) read
            commit_ts = rec_ts
            if commit_ts is None:
                try:
                    commit_ts = os.path.getmtime(self._manifest_path(v))
                except OSError:
                    continue  # no recorded time, no file: skip
            if commit_ts <= ts:
                best = v
        if best is None:
            raise FileNotFoundError(
                f"no version of {self.root} committed at or before {ts}"
            )
        return best

    def read_as_of(self, ts: float) -> DataFrame:
        """Time travel by wall clock: snapshot read of
        :meth:`version_as_of`(ts)."""
        return self.read(self.version_as_of(ts))

    def restore(self, version: int) -> int:
        """Delta RESTORE: atomically re-point the table at an earlier
        snapshot by committing a NEW version that lists the old
        version's files (and deletion vectors) — nothing is copied, the
        bad commits stay in history (time-travelable until vacuum), and
        concurrent readers flip atomically at the manifest swap. The
        undo button for a bad write at 100 TB: cost is one manifest,
        not a data rewrite."""
        mf = self._read_manifest(version)
        base = self.latest_version()
        cur = self._read_manifest(base)
        kept = set(mf.files)
        stats = {
            f: s for f, s in (mf.stats or {}).items() if f in kept
        }
        # bloom entries for re-added files must be re-recorded: the
        # delta log prunes bloom entries when files leave the table, so
        # unlike the pre-checkpoint absolute manifests they do not
        # resurrect by themselves
        blooms = {
            c: {f: b for f, b in m.items() if f in kept}
            for c, m in (mf.blooms or {}).items()
        }
        # metadata ops survive the restore, so re-recorded entries take
        # the names of the ops committed after ``version``
        for op_ in (cur.column_ops or [])[len(mf.column_ops or []):]:
            _, stats, blooms = _apply_col_op_to_meta(op_, {}, stats, blooms)
        blooms = {c: m for c, m in blooms.items() if m}
        return self._commit(
            mf.files,
            "restore",
            base,
            rebase_ok=False,
            stats=stats,
            dv_files=mf.dv_files,
            blooms=blooms or None,
            # the spec is table METADATA the restore must also rewind
            # (review r9): a post-restore append must land under the
            # restored snapshot's layout, not a since-redefined one;
            # None here genuinely resets to never-declared. Clustering
            # and properties (round 10) rewind identically — the
            # property delta below deletes keys absent at the restored
            # version (None value = delete).
            partition_spec=mf.partition_spec,
            clustering=mf.clustering,
            properties={
                **{k: None for k in (cur.properties or {})},
                **(mf.properties or {}),
            } or None,
        )

    def vacuum(
        self, keep_versions: int = 1, min_age_s: float = 0.0
    ) -> list[str]:
        """Remove data directories unreferenced by the ``keep_versions``
        most recent manifests (old snapshots stay time-travelable until
        vacuumed — same contract as Delta's VACUUM). Returns removed
        directory names.

        ``min_age_s`` is the retention guard for multi-writer
        deployments (Delta's retention window): a directory younger
        than it is spared even when unreferenced, because it may be a
        CONCURRENT writer's staged-but-not-yet-published commit —
        deleting it would make that writer publish a manifest pointing
        at missing files. The default 0 is fine for single-writer
        maintenance; run concurrent-writer vacuums with an age well
        above the longest expected stage-to-publish window."""
        vs = self.versions()
        keep = vs[-keep_versions:] if keep_versions > 0 else []
        live: set[str] = set()
        for v in keep:
            mf = self._read_manifest(v)
            for f in mf.files + (mf.dv_files or []):
                live.add(f.split("/")[1])  # data/<commit-dir>/part
            # CoW change-data image files (advice r9) are referenced
            # only by the commit RECORD, not the manifest state — a
            # kept version's CDF must stay replayable after vacuum
            rec = _load_record(self.root, v, self.backend)
            cdf_rec = rec.get("cdf") or {}
            for f in (cdf_rec.get("cow_pre") or []) + (
                cdf_rec.get("cow_post") or []
            ):
                live.add(f.split("/")[1])
        # commit records are deltas, so the kept tail must stay
        # resolvable after the records below it are trimmed: write a
        # full-state checkpoint AT the oldest kept version first (while
        # its ancestry still exists), then trim records and checkpoints
        # below it — the Delta log-retention model
        if keep:
            self._write_checkpoint(
                keep[0], self._resolve_state(keep[0])
            )
            if keep[0] not in _list_checkpoints(self.root, self.backend):
                # _write_checkpoint is best-effort by design (it is a
                # read accelerator on the commit path) — but HERE the
                # kept tail becomes unresolvable without it, so a
                # failed write (ENOSPC, fsync error) must abort the
                # trim rather than destroy the log
                raise OSError(
                    f"vacuum: checkpoint write for version {keep[0]} "
                    f"did not land; log left untrimmed"
                )
        removed = []
        now = time.time()
        for d in os.listdir(self._data_dir):
            full = os.path.join(self._data_dir, d)
            if d in live:
                continue
            if min_age_s > 0 and now - os.path.getmtime(full) < min_age_s:
                continue  # possibly a concurrent writer's staged commit
            shutil.rmtree(full)
            removed.append(d)
        for v in vs:
            if v not in keep:
                self.backend.delete(self._manifest_path(v))
        for c in _list_checkpoints(self.root, self.backend):
            if not keep or c < keep[0]:
                for p in _checkpoint_paths(self.root, c, self.backend):
                    self.backend.delete(p)
        return removed
