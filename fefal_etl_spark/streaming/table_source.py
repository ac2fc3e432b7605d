"""Structured-Streaming SOURCE over a transactional table — the read-side
twin of `streaming/events.py::transactional_table_sink`.

Spark 4's Python Data Source API (`pyspark.sql.datasource`, SPARK-44076)
lets a pure-Python source participate in real micro-batch planning. Here
the OFFSET IS THE MANIFEST VERSION: each micro-batch covers the data
files ADDED by manifest versions (start, end], so

* a batch is exactly one-or-more atomic commits — readers never see a
  torn commit (the sink's guarantee carries through);
* offsets are deterministic: replaying (start, end] always yields the
  same files, so a checkpointed downstream sink gets end-to-end
  exactly-once without any source-side state;
* tailing cost is O(new files) — the incremental-consumption shape that
  makes a 100 TB table followable (the manifest diff is metadata-only).

Append-only contract (same as Delta's table-streaming default): a commit
that REMOVES files (CoW delete/merge/compact/zorder) is not expressible
as an append stream — ``partitions()`` raises unless
``ignoreChanges=true``, which skips removals and streams only additions
(Delta's ignoreChanges). Deletion-vector commits add no files and are
treated as changes (masked rows were already streamed).

Rate limiting (round 10): ``maxFilesPerTrigger`` / ``maxBytesPerTrigger``
bound each micro-batch, splitting large commits at file granularity via
an intra-commit offset index — Delta's admission-control analog (see
`_RateLimit` for the offset encoding and the one documented
restart caveat).

HIVE-PARTITIONED tables (round 6): partition columns live in the file
PATHS (``col=value`` segments), not in the parquet bytes — the reader
reconstructs them per file and appends them to every Arrow batch as
constant STRING columns (the hive on-disk representation; cast
downstream — a Python source declares one static schema, so the
batch-reader's type inference doesn't apply). Partition columns are
discovered from the latest snapshot's manifest at stream start; a
partition COLUMN (not value) appearing mid-stream requires a stream
restart, like any schema change.

Executors read the parquet files with pyarrow and yield Arrow batches —
the data plane stays columnar through the Python boundary.

Usage::

    spark.dataSource.register(TxnTableStreamDataSource)
    df = (spark.readStream.format("txn_table_stream")
          .option("path", table_root).load())
"""

from __future__ import annotations

import os
import re
from typing import Iterator, Sequence

from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamReader,
    InputPartition,
)

_MANIFEST_RE = re.compile(r"^manifest-(\d+)\.json$")


def _versions(root: str) -> list[int]:
    mdir = os.path.join(root, "_manifests")
    out = []
    for fn in os.listdir(mdir):
        m = _MANIFEST_RE.match(fn)
        if m:
            out.append(int(m.group(1)))
    return sorted(out)


def _record(root: str, version: int) -> dict:
    """Raw commit record — a DELTA (``add``/``remove``) in the
    checkpointed-log format, or an absolute ``files`` list for
    pre-checkpoint records (single source of truth: `table._load_record`)."""
    from fefal_etl_spark.table import _load_record

    return _load_record(root, version)


def _snapshot(root: str, version: int) -> dict:
    """Full resolved state (files + dv_files) via checkpoint + tail."""
    from fefal_etl_spark.table import resolve_snapshot

    return resolve_snapshot(root, version)


def _pvals(rel: str) -> dict[str, str]:
    """Hive ``col=value`` path segments of a root-relative data-file
    path — delegates to the manifest writer's own parser so the two
    sides can never diverge."""
    from fefal_etl_spark.table import TransactionalTable

    return TransactionalTable._partition_values(rel)


def _apply_column_ops_schema(base, ops):
    """Arrow-schema projection of the ops (rename fields, drop fields)."""
    import pyarrow as pa

    for op in ops:
        if op[0] == "rename":
            _, old_c, new_c = op
            idx = base.get_field_index(old_c)
            if idx >= 0:
                base = base.set(
                    idx, pa.field(new_c, base.field(idx).type)
                )
        else:
            idx = base.get_field_index(op[1])
            if idx >= 0:
                base = base.remove(idx)
    return base


def _apply_column_ops_batch(batch, ops):
    """Apply rename/drop ops to an Arrow batch (old-named files rename
    to the logical name; files already carrying it pass through)."""
    import pyarrow as pa

    if not ops:
        return batch
    names = list(batch.schema.names)
    cols = list(batch.columns)
    for op in ops:
        if op[0] == "rename":
            _, old_c, new_c = op
            names = [new_c if n == old_c else n for n in names]
        else:
            keep = [i for i, n in enumerate(names) if n != op[1]]
            names = [names[i] for i in keep]
            cols = [cols[i] for i in keep]
    return pa.RecordBatch.from_arrays(cols, names=names)


def _stream_meta(root: str):
    """(pcols, col_ops, declared Arrow schema), all from ONE resolution
    of the latest snapshot — fixed at stream start. The declared
    schema is the MANIFEST-UNION schema (`arrow_meta.declared_schema`:
    first file's footer for order, widened types overridden,
    later-added live columns appended, partition columns as strings);
    files that physically lack a declared column surface typed NULLs
    via `project_batch`, the same contract as the batch source and
    ``TransactionalTable.read()``. A SINGLE resolution matters for
    more than cost: resolving ops and schema separately opened a race
    where a commit landing between the two reads bound one version's
    column_ops to another version's declared schema for the stream's
    whole lifetime (review finding — the batch source caches one
    resolution for the same reason)."""
    from fefal_etl_spark.arrow_meta import declared_schema

    vs = _versions(root)
    if not vs:
        raise FileNotFoundError(f"no committed version in {root}")
    state = _snapshot(root, vs[-1])
    if not state["files"]:
        raise FileNotFoundError(f"latest version of {root} is empty")
    pcols = sorted(
        {c for pv in (state.get("partitions") or {}).values() for c in pv}
    )
    ops = state.get("column_ops") or []
    schema = declared_schema(
        root,
        state,
        pcols,
        lambda sch: _apply_column_ops_schema(sch, ops),
    )
    return pcols, ops, schema


def _append_partition_columns(batch, rel: str, pcols: list[str]):
    """Append the file's partition values to an Arrow batch as constant
    string columns (NULL when the file lacks a value — mixed layouts)."""
    import pyarrow as pa

    if not pcols:
        return batch
    pv = _pvals(rel)
    n = batch.num_rows
    cols = list(batch.columns)
    names = list(batch.schema.names)
    for c in pcols:
        if c in names:
            # mixed layouts: an unpartitioned commit may store the
            # column IN the parquet bytes — keep the physical column
            # (appending a second one would break the static schema)
            continue
        cols.append(pa.array([pv.get(c)] * n, type=pa.string()))
        names.append(c)
    return pa.RecordBatch.from_arrays(cols, names=names)


def _step(root: str, version: int, prev_files: set[str]):
    """(added, removed, cur_files) for one commit — O(delta) for
    checkpointed-log records; absolute records diff against prev."""
    rec = _record(root, version)
    if "files" in rec:  # absolute (pre-checkpoint) record
        cur = list(rec["files"])
        cur_set = set(cur)
        added = [f for f in cur if f not in prev_files]
        removed = prev_files - cur_set
        return added, removed, cur_set, rec
    removed = set(rec.get("remove") or [])
    added = list(rec.get("add") or [])
    cur_set = (prev_files - removed) | set(added)
    return added, removed & prev_files, cur_set, rec


class _FilePartition(InputPartition):
    """One read task: a BUNDLE of data files consumed sequentially.

    One-task-per-file made every micro-batch pay (tasks × Python-worker
    round trip + parquet open) even when the files were KB-sized — a
    32-file commit of tiny files cost 32 tasks of pure overhead. Files
    are packed into bundles with Spark's own scan-packing formula
    (``maxPartitionBytes`` budget, ``openCostInBytes`` charged per file
    — see guide §6), so tiny files share a task while large files keep
    one task each. Admission/offsets are untouched: packing happens
    AFTER the batch's file set is fixed, so the planned rows are
    byte-identical, just grouped."""

    def __init__(self, path: str, rel: str = "", pcols: list[str] | None = None):
        self.path = path
        self.rel = rel
        self.pcols = pcols or []
        # (path, rel) bundle; single-file constructor form kept for
        # checkpoint/pickle compat with in-flight batches
        self.files: list[tuple[str, str]] = [(path, rel)] if path else []


# Spark's FilePartition packing defaults (files.maxPartitionBytes /
# files.openCostInBytes): tiny files pack ~32 per task, big files split
# across tasks at file granularity (a Python source cannot split inside
# a file, so a single huge file stays one task either way).
_PACK_BUDGET = 128 * 1024 * 1024
_PACK_OPEN_COST = 4 * 1024 * 1024


def _pack_files(
    entries: list[tuple[str, str, int]],
) -> list[list[tuple[str, str]]]:
    """Greedy in-order packing of (path, rel, bytes) into bundles under
    the budget; order inside and across bundles preserves the manifest
    add order (deterministic replay)."""
    bundles: list[list[tuple[str, str]]] = []
    cur: list[tuple[str, str]] = []
    cur_bytes = 0
    for path, rel, sz in entries:
        cost = sz + _PACK_OPEN_COST
        if cur and cur_bytes + cost > _PACK_BUDGET:
            bundles.append(cur)
            cur, cur_bytes = [], 0
        cur.append((path, rel))
        cur_bytes += cost
    if cur:
        bundles.append(cur)
    return bundles


# ----------------------------------------------------------------------
# Rate limiting (round 10 — VERDICT r9 item 2: Delta's
# maxFilesPerTrigger/maxBytesPerTrigger analog)
# ----------------------------------------------------------------------
#
# Offsets gain an optional intra-commit file index so one huge commit
# (a backfill landing 10k files at once) splits across micro-batches
# instead of becoming one giant batch:
#
#   {"version": v}             — consumed THROUGH version v (legacy
#                                shape, unchanged: checkpoints written
#                                before round 10 keep resolving, and
#                                un-rate-limited streams still emit it)
#   {"version": w, "index": i} — all versions < w fully consumed, plus
#                                the first i ADDED files of version w
#                                (0 < i < n_adds(w); both boundaries
#                                normalize to the legacy shape)
#
# The split preserves exactly-once because a version's add list is
# deterministic and ordered (the manifest's own file order): replaying
# (start, end] always yields the same file slice.
#
# ADMISSION lives in latestOffset() off a reader-tracked position —
# the Python DataSource API (unlike the JVM SupportsAdmissionControl)
# passes no start offset, so the reader seeds the position at
# construction (Spark calls latestOffset BEFORE initialOffset —
# measured on 4.1.2) and resyncs it from every partitions()/commit()
# call. Restarts (pinned in tests):
#  * crash mid-batch — Spark replays the offset log's last batch
#    through partitions(start, end) before the first admission, so the
#    position is at the checkpointed high-water mark before
#    latestOffset can admit;
#  * clean restart of a caught-up stream — there is NO replay, so the
#    first admission runs off the seeded startingVersion position and
#    can emit a REGRESSED offset behind the checkpoint. Spark runs the
#    (checkpoint, regressed] batch — empty — and the regressed offset
#    enters the offset log; the NEXT batch would re-span the
#    already-delivered range. `_RateLimit.clamp_start` closes this by
#    clamping every batch start up to the delivered watermark (the max
#    start ever passed to partitions — see its docstring for why that
#    watermark is provably committed).
#
# Trigger note: availableNow latches the FIRST latestOffset() result
# as its run target, so with a rate limit each availableNow run
# drains at most one admitted batch (run repeatedly to catch up) —
# use a processingTime trigger for rate-limited backfills; without a
# rate limit availableNow drains everything, unchanged.


def _off_key(off: dict) -> tuple[int, float]:
    """Total order over offsets: {"version": v} sorts above every
    partial offset of version v and below partials of v+1."""
    v = off["version"]
    i = off.get("index")
    return (v, float("inf")) if i is None else (v, i)


def _norm_off(version: int, index: int, n_adds: int) -> dict:
    """Normalize a partial offset to the legacy shape at boundaries
    (a zero-unit version — e.g. a DV-only commit — is consumed whole)."""
    if index >= n_adds:
        return {"version": version}
    if index <= 0:
        return {"version": version - 1}
    return {"version": version, "index": index}


class _RateLimit:
    """Shared admission logic for both table stream readers: walk
    version units (file adds for the append stream, CDF units for the
    changes stream) from the tracked position, admitting whole units
    until the file/byte budget is spent — always at least one unit per
    trigger, or a rate limit smaller than one file would stall the
    stream forever."""

    def __init__(self, options: dict):
        mf = options.get("maxfilespertrigger")
        mb = options.get("maxbytespertrigger")
        self.max_files = int(mf) if mf is not None else None
        self.max_bytes = int(mb) if mb is not None else None
        if self.max_files is not None and self.max_files < 1:
            raise ValueError("maxFilesPerTrigger must be >= 1")
        if self.max_bytes is not None and self.max_bytes < 1:
            raise ValueError("maxBytesPerTrigger must be >= 1")
        self.pos: tuple[int, float] | None = None  # _off_key of position
        # delivered watermark: max batch START ever passed to
        # partitions() this run (None until the first batch plans)
        self.watermark: tuple[int, float] | None = None
        # last stamped offset (equality stability — see stamp())
        self._last: dict | None = None

    @property
    def active(self) -> bool:
        return self.max_files is not None or self.max_bytes is not None

    def resync(self, off: dict) -> None:
        k = _off_key(off)
        if self.pos is None or k > self.pos:
            self.pos = k

    def stamp(self, off: dict) -> dict:
        """Attach the delivered watermark to an admitted offset (round
        11 — review: the in-memory watermark alone left a crash window).
        ``wm`` = the admission position at stamping time, which is
        always a COMMITTED floor when latestOffset runs (pos advances
        only through startingVersion, batch starts from the offset
        log, and commit()). Because the stamped offset enters Spark's
        offset log, the watermark SURVIVES restarts: a replay of the
        regressed catch-up batch (O, E·wm=E] on a fresh reader still
        clamps to empty, where the volatile watermark was lost.

        Equality stability: Spark plans a new batch whenever
        latestOffset != the last logged offset, so a wm-only change
        must not churn — if the admitted (version, index) equals the
        last stamped offset's, the previous dict is returned verbatim
        (at most one wm-refresh batch per restart, none in steady
        state). Consequence (advice r11, accepted as designed): the
        PERSISTED wm can trail the volatile watermark until the end
        offset next advances — harmless, because the wm is only a
        replay-clamp floor, never a correctness bound."""
        pv, pi = self.pos
        out = dict(off)
        out["wm"] = [pv, None if pi == float("inf") else int(pi)]
        if self._last is not None and _off_key(self._last) == _off_key(out):
            return dict(self._last)
        self._last = out
        return dict(out)

    def clamp_start(self, start: dict, end: dict) -> dict:
        """Effective batch start: never below the delivered watermark.

        TWO watermark sources, max-combined:
        * volatile — the max batch START this reader has seen in
          partitions(). Starts come from Spark's offset log — start(N)
          is end(N-1), and batch N's offset entry is written only
          after batch N-1 COMMITTED — so every row at or below any
          seen start was fully delivered AND committed.
        * persistent — the ``wm`` field stamp() wrote into the END
          offset when it was admitted (rides Spark's offset log, so it
          survives restarts; absent on pre-r11 checkpoints).

        Clamping a later start up to the watermark never skips
        undelivered data, while a crash-retry replay (its start IS the
        new watermark, and its end's wm equals its start) is emitted
        in full.

        This closes the clean-restart duplication (advice r10): a
        caught-up restart gets no replay, so the first admission runs
        off the seeded startingVersion position and can emit a
        regressed offset O behind the checkpointed E. Spark runs batch
        (E, O] — empty, but its start E raises the watermark — commits
        O, then runs (O, E] whose end was stamped wm=E: the start
        clamps up to E and the batch stays empty, instead of
        re-emitting every already-delivered file — INCLUDING when that
        batch replays after a crash on a fresh reader (review r11),
        which the volatile watermark alone could not cover."""
        k = _off_key(start)
        # Only a GENUINELY PLANNED batch (start != end) certifies its
        # start as delivered-and-committed: any real batch's start is
        # the PREVIOUS batch's logged end, and only the LAST logged
        # batch can be uncommitted — so a regressed catch-up batch
        # (E, O] with E > O still certifies E (it is the checkpoint's
        # committed offset; advice r10). Spark additionally issues
        # degenerate planInputPartitions(X, X) probes — observed on
        # checkpoint restart with the last logged batch UNCOMMITTED,
        # where X is that batch's (undelivered!) end offset. Treating
        # such an EQUAL-offset probe start as a watermark clamped the
        # subsequent real replay to empty and silently dropped the
        # batch's rows (the round-10/11 "restart flake" was this data
        # loss: the sink's replayed batch landed ~empty and the test
        # polled to its deadline).
        if _off_key(end) != k and (
            self.watermark is None or k > self.watermark
        ):
            self.watermark = k
        floor = self.watermark if self.watermark is not None else k
        wm = end.get("wm")
        if wm is not None:
            wv, wi = wm
            wk = (wv, float("inf")) if wi is None else (wv, float(wi))
            if wk > floor:
                floor = wk
        if k >= floor:
            return start
        v, i = min(floor, _off_key(end))
        return (
            {"version": v}
            if i == float("inf")
            else {"version": v, "index": int(i)}
        )

    def admit(self, root: str, latest: int, units_of) -> dict:
        """The admitted end offset from the tracked position (always
        seeded at construction — both readers resync startingVersion
        before the first latestOffset). ``units_of(v)`` returns the
        ordered (rel_path, n_bytes) units of version v."""
        assert self.pos is not None, "admission position never seeded"
        pv, pi = self.pos
        floor = pv if pi == float("inf") else pv - 1
        skip = 0 if pi == float("inf") else int(pi)
        files = 0
        nbytes = 0
        end_v, end_i, end_n = floor, 0, 0
        for v in range(floor + 1, latest + 1):
            units = units_of(v)
            start_i = skip if v == floor + 1 else 0
            i = start_i
            for rel, sz in units[start_i:]:
                if files > 0 and (
                    (self.max_files is not None and files + 1 > self.max_files)
                    or (self.max_bytes is not None and nbytes + sz > self.max_bytes)
                ):
                    return _norm_off(v, i, len(units))
                files += 1
                nbytes += sz
                i += 1
            end_v, end_i, end_n = v, i, len(units)
            if self.max_files is not None and files >= self.max_files:
                break
            if self.max_bytes is not None and nbytes >= self.max_bytes:
                break
        if end_v <= floor:  # nothing new
            return {"version": floor}
        return _norm_off(end_v, end_i, end_n)



class TxnTableStreamReader(DataSourceStreamReader):
    def __init__(self, options: dict, schema=None):
        from fefal_etl_spark.catalog import root_from_options

        self.root = root_from_options(options)
        self.ignore_changes = (
            str(options.get("ignorechanges", "false")).lower() == "true"
        )
        # -1 = "nothing consumed"; startingVersion=N streams from N on
        self.start_version = int(options.get("startingversion", 0)) - 1
        # maxFilesPerTrigger / maxBytesPerTrigger (round 10): split
        # large commits across micro-batches; offsets gain an optional
        # intra-commit "index" (see _RateLimit). The admission position
        # seeds at CONSTRUCTION (Spark calls latestOffset before
        # initialOffset — measured) so a new query's first backfill
        # batch is already bounded; a checkpoint restart resyncs
        # forward through partitions()/commit() and the admitted end
        # is clamped in partitions() so it can never regress a batch.
        self.limit = _RateLimit(options)
        self.limit.resync({"version": self.start_version})
        # per-version (rel, bytes) add units — versions are immutable,
        # so admission never recomputes a version it has walked
        self._units_memo: dict[int, list[tuple[str, int]]] = {}
        # version -> resolved file set at that version: partitions()
        # otherwise re-resolves a FULL snapshot (checkpoint + tail) for
        # every micro-batch's floor — O(versions) per batch on a
        # long-lived table. Steady-state batches start where the last
        # one ended, so the memo turns the per-batch cost into
        # O(new commits). Versions are immutable; entries never go
        # stale, and commit() prunes consumed ones.
        self._files_memo: dict[int, frozenset] = {}
        # hive partition columns + schema ops + declared schema,
        # fixed at stream start from ONE snapshot resolution
        self.pcols, self.col_ops, self.schema_arrow = _stream_meta(
            self.root
        )
        # the QUERY's analyzed schema wins as the projection target
        # (round 8 — the restart contract): a stream restarted from a
        # checkpoint AFTER an additive evolution plans with its
        # original schema, while _stream_meta resolves the evolved one
        # — projecting onto the fresh union would return extra columns
        # and fail the run. Batches project onto what Spark planned;
        # the evolved column arrives on a FRESH load() (Delta's own
        # restart semantics, pinned in tests).
        if schema is not None:
            from pyspark.sql.pandas.types import to_arrow_schema

            self.schema_arrow = to_arrow_schema(schema)

    # offsets: {"version": v} = consumed through v; an optional
    # intra-commit "index" appears only under rate limiting
    def initialOffset(self) -> dict:
        off = {"version": self.start_version}
        # seed the admission position: a NEW query's first trigger
        # must already be rate-limited (the 100-file-backfill case)
        self.limit.resync(off)
        return off

    def _add_units(self, v: int) -> list[tuple[str, int]]:
        """Ordered (rel, bytes) add units of one immutable version."""
        u = self._units_memo.get(v)
        if u is None:
            rec = _record(self.root, v)
            if "files" in rec:  # absolute (pre-checkpoint) record
                prev = (
                    set(_snapshot(self.root, v - 1)["files"])
                    if v > 0
                    else set()
                )
                adds = [f for f in rec["files"] if f not in prev]
            else:
                adds = list(rec.get("add") or [])
            u = [
                (f, os.path.getsize(os.path.join(self.root, f)))
                for f in adds
            ]
            self._units_memo[v] = u
        return u

    def latestOffset(self) -> dict:
        vs = _versions(self.root)
        latest = vs[-1] if vs else self.start_version
        if not self.limit.active:
            return {"version": latest}
        off = self.limit.admit(self.root, latest, self._add_units)
        off = self.limit.stamp(off)  # BEFORE resync: wm = committed floor
        self.limit.resync(off)
        return off

    def partitions(
        self, start: dict, end: dict
    ) -> Sequence[InputPartition]:
        # clamp BEFORE resync: pos still reflects the pre-batch
        # high-water mark (see _RateLimit.clamp_start), then resync
        # admission off Spark's authoritative bounds (restart replay
        # path: the reader is fresh, the checkpoint is not)
        start = self.limit.clamp_start(start, end)
        self.limit.resync(start)
        self.limit.resync(end)
        if _off_key(end) <= _off_key(start):
            return []
        v0, i0 = start["version"], start.get("index")
        v1, i1 = end["version"], end.get("index")
        floor = v0 if i0 is None else v0 - 1
        if floor < 0:
            prev: set = set()
        else:
            hit = self._files_memo.get(floor)
            prev = (
                set(hit)
                if hit is not None
                else set(_snapshot(self.root, floor)["files"])
            )
        added: list[str] = []
        for v in range(floor + 1, v1 + 1):
            adds, removed, prev, rec = _step(self.root, v, prev)
            self._files_memo[v] = frozenset(prev)
            if removed and not self.ignore_changes:
                raise RuntimeError(
                    f"version {v} ({rec.get('op')}) removed "
                    f"{len(removed)} file(s); an append-only stream "
                    "cannot express rewrites — restart from a fresh "
                    "checkpoint or set ignoreChanges=true to stream "
                    "additions only"
                )
            lo = i0 if (i0 is not None and v == v0) else 0
            hi = i1 if (i1 is not None and v == v1) else len(adds)
            added.extend(adds[lo:hi])
        entries = []
        for f in added:
            p = os.path.join(self.root, f)
            try:
                sz = os.path.getsize(p)
            except OSError:
                sz = 0
            entries.append((p, f, sz))
        out = []
        for bundle in _pack_files(entries):
            p_ = _FilePartition("", "", self.pcols)
            p_.files = bundle
            p_.col_ops = self.col_ops
            p_.schema_arrow = self.schema_arrow
            out.append(p_)
        return out

    def read(self, partition: _FilePartition) -> Iterator:
        import pyarrow.parquet as pq

        # yield Arrow batches: the Python source stays columnar —
        # no per-row Python objects on the data plane (partition values
        # are file-constant string columns appended per batch)
        from fefal_etl_spark.arrow_meta import project_batch

        files = getattr(partition, "files", None) or [
            (partition.path, partition.rel)
        ]
        for path, rel in files:
            for batch in pq.ParquetFile(path).iter_batches():
                batch = _apply_column_ops_batch(
                    batch, getattr(partition, "col_ops", [])
                )
                batch = _append_partition_columns(
                    batch, rel, partition.pcols
                )
                sch = getattr(partition, "schema_arrow", None)
                yield (
                    project_batch(batch, sch) if sch is not None else batch
                )

    def commit(self, end: dict) -> None:
        # offsets are derived purely from immutable manifests — nothing
        # to persist source-side (the checkpoint holds the offset);
        # the admission position tracks the committed high-water mark
        self.limit.resync(end)
        # fully consumed versions never replan — drop their memo
        # entries (review r10: a months-long stream otherwise keeps
        # one add-list per version forever)
        floor = end["version"] - (0 if end.get("index") is None else 1)
        for v in [v for v in self._units_memo if v < floor]:
            del self._units_memo[v]
        # a replayed/next batch can still start at floor (partial-offset
        # starts re-walk floor+1) — keep floor and newer, drop older
        for v in [v for v in self._files_memo if v < floor]:
            del self._files_memo[v]


class TxnTableStreamDataSource(DataSource):
    """``spark.readStream.format("txn_table_stream")`` over a
    `fefal_etl_spark.table.TransactionalTable` root."""

    @classmethod
    def name(cls) -> str:
        return "txn_table_stream"

    def schema(self):
        from pyspark.sql.pandas.types import from_arrow_schema

        from fefal_etl_spark.catalog import root_from_options

        return from_arrow_schema(
            _stream_meta(root_from_options(self.options))[2]
        )

    def streamReader(self, schema) -> TxnTableStreamReader:
        return TxnTableStreamReader(self.options, schema)


# ----------------------------------------------------------------------
# Change-data-feed stream: every commit's row-level +/- delta
# ----------------------------------------------------------------------


class _CdfPartition(InputPartition):
    """One read task of a CDF micro-batch: a `table.ChangeUnit`, the
    table root its paths are relative to, and the stream's fixed
    projection (partition columns, schema ops, declared schema). The
    executor masks the file's rows by position with the unit's
    sidecars — the positional contract the batch reader resolves with
    ``_metadata.row_index``."""

    def __init__(self, unit, root: str, pcols, col_ops, schema_arrow):
        self.unit = unit
        self.root = root
        self.pcols = pcols
        self.col_ops = col_ops
        self.schema_arrow = schema_arrow


class TxnTableChangesStreamReader(DataSourceStreamReader):
    """Offsets are manifest versions, like the append-only reader — but
    each micro-batch is the CHANGE feed of versions (start, end]: data
    columns plus ``_change_type`` (insert / delete / update_preimage /
    update_postimage) and ``_commit_version``, the rows
    ``TransactionalTable.change_feed`` returns for the same range. Both
    read the units `table.change_units` derives from each commit
    record; here each unit is one task, read with pyarrow on the
    worker. ``maxFilesPerTrigger``/``maxBytesPerTrigger`` (round 10)
    split large commits across micro-batches at unit granularity —
    offsets gain the same intra-commit index as the append reader (see
    `_RateLimit`)."""

    def __init__(self, options: dict, schema=None):
        from fefal_etl_spark.catalog import root_from_options

        self.root = root_from_options(options)
        self.start_version = int(options.get("startingversion", 0)) - 1
        self.pcols, self.col_ops, self.schema_arrow = _stream_meta(
            self.root
        )
        # rate limiting (round 10): same maxFilesPerTrigger /
        # maxBytesPerTrigger contract as the append reader; a "unit"
        # here is one change unit (one _CdfPartition)
        self.limit = _RateLimit(options)
        self.limit.resync({"version": self.start_version})
        # version -> (ordered units, resolved state) — versions are
        # immutable, so admission and planning share one computation
        self._parts_memo: dict[int, tuple[list, dict]] = {}

        # restart contract (round 8, like TxnTableStreamReader): the
        # query's analyzed schema minus the two CDF columns is the
        # data-projection target, so a checkpoint restart after an
        # additive evolution keeps returning the planned columns
        if schema is not None:
            from pyspark.sql.pandas.types import to_arrow_schema

            full = to_arrow_schema(schema)
            for cdf_col in ("_change_type", "_commit_version"):
                idx = full.get_field_index(cdf_col)
                if idx >= 0:
                    full = full.remove(idx)
            self.schema_arrow = full

    def initialOffset(self) -> dict:
        off = {"version": self.start_version}
        self.limit.resync(off)
        return off

    def latestOffset(self) -> dict:
        vs = _versions(self.root)
        latest = vs[-1] if vs else self.start_version
        if not self.limit.active:
            return {"version": latest}
        off = self.limit.admit(
            self.root,
            latest,
            lambda v: [
                (u.rel, os.path.getsize(os.path.join(self.root, u.rel)))
                for u in self._version_parts(v)[0]
            ],
        )
        off = self.limit.stamp(off)  # BEFORE resync: wm = committed floor
        self.limit.resync(off)
        return off

    def _version_parts(self, v: int) -> tuple[list, dict]:
        """`table.change_units` of version v, memoized: admission and
        partition planning slice the same ordered units, so an
        intra-commit offset index always addresses the same unit."""
        hit = self._parts_memo.get(v)
        if hit is None:
            from fefal_etl_spark.table import change_units

            prev = self._parts_memo.get(v - 1)
            if prev is not None:
                prev_state = prev[1]
            else:
                prev_state = _snapshot(self.root, v - 1) if v > 0 else None
            hit = self._parts_memo[v] = change_units(
                self.root, v, prev_state
            )
        return hit

    def partitions(self, start: dict, end: dict) -> Sequence[InputPartition]:
        start = self.limit.clamp_start(start, end)
        self.limit.resync(start)
        self.limit.resync(end)
        if _off_key(end) <= _off_key(start):
            return []
        v0, i0 = start["version"], start.get("index")
        v1, i1 = end["version"], end.get("index")
        floor = v0 if i0 is None else v0 - 1
        out: list[_CdfPartition] = []
        for v in range(max(floor, -1) + 1, v1 + 1):
            units, _state = self._version_parts(v)
            lo = i0 if (i0 is not None and v == v0) else 0
            hi = i1 if (i1 is not None and v == v1) else len(units)
            out.extend(
                _CdfPartition(
                    u, self.root, self.pcols, self.col_ops, self.schema_arrow
                )
                for u in units[lo:hi]
            )
        return out

    def read(self, partition: _CdfPartition) -> Iterator:
        import pyarrow as pa
        import pyarrow.parquet as pq

        from fefal_etl_spark.arrow_meta import project_batch

        u = partition.unit

        def positions(sidecars) -> set[int]:
            pos: set[int] = set()
            for sc in sidecars:
                t = pq.read_table(
                    os.path.join(partition.root, sc), columns=["file", "pos"]
                )
                pos.update(
                    p
                    for f, p in zip(
                        t.column("file").to_pylist(),
                        t.column("pos").to_pylist(),
                    )
                    if f == u.rel
                )
            return pos

        drop = positions(u.masked_by)
        keep = positions(u.only_in) if u.only_in is not None else None
        offset = 0
        for batch in pq.ParquetFile(
            os.path.join(partition.root, u.rel)
        ).iter_batches():
            idx = [
                i
                for i in range(batch.num_rows)
                if (offset + i) not in drop
                and (keep is None or (offset + i) in keep)
            ]
            offset += batch.num_rows
            if not idx:
                continue
            taken = batch.take(pa.array(idx, type=pa.int32()))
            taken = _apply_column_ops_batch(taken, partition.col_ops)
            taken = _append_partition_columns(taken, u.rel, partition.pcols)
            # project onto the declared data-column schema (order,
            # typed NULLs for absent columns, widened-type upcasts)
            if partition.schema_arrow is not None:
                taken = project_batch(taken, partition.schema_arrow)
            cols = list(taken.columns) + [
                pa.array([u.change] * len(idx), type=pa.string()),
                pa.array([u.version] * len(idx), type=pa.int64()),
            ]
            names = list(taken.schema.names) + [
                "_change_type",
                "_commit_version",
            ]
            yield pa.RecordBatch.from_arrays(cols, names=names)

    def commit(self, end: dict) -> None:
        self.limit.resync(end)
        # evict consumed versions (review r10): _parts_memo keeps the
        # RESOLVED STATE per version — one full snapshot each; a
        # long-running stream must not accumulate them unboundedly.
        # The latest entry stays: the next version resolves O(delta)
        # from it.
        floor = end["version"] - (0 if end.get("index") is None else 1)
        for v in [v for v in self._parts_memo if v < floor]:
            del self._parts_memo[v]


class TxnTableChangesDataSource(DataSource):
    """``spark.readStream.format("txn_table_changes")``: the change data
    feed of a transactional table as a stream — data columns +
    ``_change_type`` + ``_commit_version``."""

    @classmethod
    def name(cls) -> str:
        return "txn_table_changes"

    def schema(self):
        import pyarrow as pa

        from pyspark.sql.pandas.types import from_arrow_schema

        from fefal_etl_spark.catalog import root_from_options

        base = _stream_meta(root_from_options(self.options))[2]
        return from_arrow_schema(
            base.append(pa.field("_change_type", pa.string())).append(
                pa.field("_commit_version", pa.int64())
            )
        )

    def streamReader(self, schema) -> TxnTableChangesStreamReader:
        return TxnTableChangesStreamReader(self.options, schema)
