"""The session's caches: reused values behind one key and one release
rule, and the lifetimes of per-call persisted frames.

**The session cache** (:func:`memo`). Every value the library reuses
across calls — a memoized query plan, a base-table relation, a collected
scalar, a persisted family of shared frames — lives in one registry
under ``(application id, kind, key)``. ``kind`` names the family (the
comment above each call site says what it holds and why its key is
enough); ``key`` is the caller's. A value derived from source parquet
passes ``sources=(sf_dir, tables)`` and is stamped with
``staging.source_fingerprint`` of those tables (every ``*.parquet`` of
the dir when ``tables`` is empty): a lookup under a different
fingerprint rebuilds, so a regenerated source is never served a stale
value, and the replaced entry is freed. A dir that cannot be
fingerprinted (``OSError``) is built and nothing is stored, since no
key could tell its states apart. Entries are dropped, and their
``free`` run (unpersist, :func:`free_checkpoint`), when the first
access under a new application id finds another application's entries,
when ``limit`` same-kind entries are exceeded (oldest first), or by an
explicit :func:`release`. ``build`` runs outside the lock, because
builds nest (a plan build loads tables); when two threads race, the
first stored value wins and the loser's is freed.

**Per-call persists.** Several registry queries persist an intermediate
that feeds multiple downstream legs of the SAME returned plan (e.g.
`quality_rank_blend`'s feature frame, `matryoshka_recall`'s per-dim
corpus). The returned DataFrame is lazy, so the query function cannot
unpersist before the caller materializes it — but in a long shared
session (bench loops, the driver's full-registry sweep) those cached
blocks would otherwise accumulate for the application lifetime: exactly
the memory pressure behind the r2 late-suite OOM. Query functions call
``track(df.persist())``; harness loops call ``release_tracked()`` after
materializing each query's result.

Concurrency (ADVICE r4): the registry is guarded by a lock, and
harnesses that run queries on MULTIPLE THREADS should use
:func:`tracking_scope` — a context manager giving each in-flight query
its own tracking list and release handle, so one thread's
``release_tracked()`` can never unpersist frames another thread's query
still depends on. (Correctness was never at risk — Spark recomputes an
unpersisted frame — but the persist's benefit was silently lost.)
Without an active scope, ``track`` falls back to the process-global
list, preserving the single-threaded harness contract.

:func:`local_checkpoint` is the materialization barrier ``run_pipeline``
returns each survey wave through. Each checkpoint has one owner. By
default that is the thread that made it: :func:`release_checkpoints`
frees the checkpoints of the calling thread only, so a loader releasing
its wave never frees another thread's wave mid-commit. A long-lived
cache takes a checkpoint over with :func:`keep_checkpoint` and frees it
itself with :func:`free_checkpoint` when it drops the entry.
"""

from __future__ import annotations

import threading
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession

_LOCK = threading.Lock()
_TRACKED: list[DataFrame] = []
_SCOPED = threading.local()  # .stack: list[list[DataFrame]] per thread
_CHECKPOINTS = threading.local()  # .frames: list[DataFrame] per thread


def _current_list() -> list[DataFrame]:
    stack = getattr(_SCOPED, "stack", None)
    if stack:
        return stack[-1]
    return _TRACKED


def track(df: DataFrame) -> DataFrame:
    """Register an already-persisted frame for later bulk release: into
    the innermost :func:`tracking_scope` on this thread if one is
    active, else the process-global list."""
    with _LOCK:
        _current_list().append(df)
    return df


def unpersist_all(frames) -> None:
    """Unpersist each frame; one that cannot be is skipped."""
    for df in frames:
        try:
            df.unpersist()
        except Exception:
            pass


def release_tracked() -> None:
    """Unpersist every frame in the CURRENT tracking context (the active
    scope on this thread, else the global list). Safe to call
    repeatedly."""
    with _LOCK:
        frames = list(_current_list())
        _current_list().clear()
    unpersist_all(frames)


@contextmanager
def tracking_scope():
    """Scope tracking to one query invocation: ``with tracking_scope():``
    collects every ``track()`` on this thread into a private list and
    unpersists exactly those frames on exit — the thread-safe form of
    the track/release_tracked pair for concurrent harnesses."""
    frames: list[DataFrame] = []
    with _LOCK:
        if not hasattr(_SCOPED, "stack"):
            _SCOPED.stack = []
        _SCOPED.stack.append(frames)
    try:
        yield frames
    finally:
        with _LOCK:
            _SCOPED.stack.pop()
            pending = list(frames)
            frames.clear()
        unpersist_all(pending)


def _thread_checkpoints() -> list[DataFrame]:
    frames = getattr(_CHECKPOINTS, "frames", None)
    if frames is None:
        frames = _CHECKPOINTS.frames = []
    return frames


def local_checkpoint(df: DataFrame) -> DataFrame:
    """Run ``df`` once and return its rows with the lineage cut: every
    later consumer scans the materialized partitions instead of
    re-running (and re-shipping) the plan. The blocks are stored
    memory-and-disk, so memory pressure spills them rather than losing
    them. Unlike ``persist`` + reliable ``checkpoint`` this costs one job
    and keeps AQE's coalesced partitioning, so a small wave stays one
    partition (one file per table it feeds).

    The frame is held for the calling thread until
    :func:`release_checkpoints` runs on that thread, or until an owner
    takes it over with :func:`keep_checkpoint`. Reading it after it is
    freed fails, since the lineage to recompute it is gone."""
    out = df.localCheckpoint(eager=True)
    _thread_checkpoints().append(out)
    return out


def keep_checkpoint(df: DataFrame) -> DataFrame:
    """Take ``df`` (a :func:`local_checkpoint` frame made on this thread)
    out of the thread's hold: :func:`release_checkpoints` no longer frees
    it, and the caller frees it with :func:`free_checkpoint`."""
    frames = _thread_checkpoints()
    frames[:] = [f for f in frames if f is not df]
    return df


def free_checkpoint(df: DataFrame) -> None:
    """Drop the blocks behind one :func:`local_checkpoint` frame."""
    try:
        df._jdf.logicalPlan().rdd().unpersist(False)
    except Exception:
        pass


def release_checkpoints() -> None:
    """Free every checkpoint the calling thread made and still holds."""
    frames = _thread_checkpoints()
    drop = list(frames)
    frames.clear()
    for df in drop:
        free_checkpoint(df)


_MEMO_LOCK = threading.RLock()
#: application id -> kind -> key -> (source fingerprint, value, free)
_MEMO: dict[str, dict[str, dict]] = {}


def _drop(entries: dict, key) -> None:
    _fp, value, free = entries.pop(key)
    if free is not None:
        free(value)


def _kinds(app: str) -> dict[str, dict]:
    """The live application's entries by kind, after dropping every
    other application's. Call under ``_MEMO_LOCK``."""
    for other in [a for a in _MEMO if a != app]:
        for entries in _MEMO.pop(other).values():
            for key in list(entries):
                _drop(entries, key)
    return _MEMO.setdefault(app, {})


def _get(app: str, kind: str, key) -> tuple | None:
    with _MEMO_LOCK:
        return _kinds(app).get(kind, {}).get(key)


def memo(
    spark: SparkSession, kind: str, key, build, *, sources=None, free=None, limit=None
):
    """The value stored under ``(application id, kind, key)`` — stamped
    with the fingerprint of ``sources=(sf_dir, tables)`` when given —
    else ``build()``, stored. ``free(value)`` runs when the entry is
    dropped; ``limit`` caps the application's entries of this kind,
    dropping the oldest. See the module docstring for the rules."""
    from fefal_etl_spark import staging

    try:
        fp = None if sources is None else staging.source_fingerprint(
            sources[0], *sources[1]
        )
    except OSError:
        return build()
    app = spark.sparkContext.applicationId
    hit = _get(app, kind, key)
    if hit is not None and hit[0] == fp:
        return hit[1]
    value = build()
    with _MEMO_LOCK:
        entries = _kinds(app).setdefault(kind, {})
        old = entries.get(key)
        if old is not None and old[0] == fp:  # lost a race: keep the first
            if free is not None:
                free(value)
            return old[1]
        if old is not None:  # built from an older source
            _drop(entries, key)
        entries[key] = (fp, value, free)
        while limit is not None and len(entries) > limit:
            _drop(entries, next(iter(entries)))
    return value


def peek(spark: SparkSession, kind: str, key):
    """The value of a source-less :func:`memo` entry, or None; never
    builds."""
    hit = _get(spark.sparkContext.applicationId, kind, key)
    return None if hit is None else hit[1]


def release(kind: str, match=None) -> None:
    """Drop every application's ``kind`` entries whose key satisfies
    ``match`` (all of them by default) and run their ``free``."""
    with _MEMO_LOCK:
        for kinds in list(_MEMO.values()):
            entries = kinds.get(kind, {})
            for key in [k for k in entries if match is None or match(k)]:
                _drop(entries, key)
