"""Central registry for per-call persisted frames.

Several registry queries persist an intermediate that feeds multiple
downstream legs of the SAME returned plan (e.g. `quality_rank_blend`'s
feature frame, `matryoshka_recall`'s per-dim corpus). The returned
DataFrame is lazy, so the query function cannot unpersist before the
caller materializes it — but in a long shared session (bench loops, the
driver's full-registry sweep) those cached blocks would otherwise
accumulate for the application lifetime: exactly the memory pressure
behind the r2 late-suite OOM.

Pattern: query functions call ``track(df.persist())``; harness loops call
``release_tracked()`` after materializing each query's result. Named
family caches that are REUSED across calls (`_COPURCHASE`, the pipeline
star frames) keep their own release hooks — this registry is only for
single-call scratch persists.

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

from pyspark.sql import DataFrame

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


def _drain(frames: list[DataFrame]) -> None:
    while frames:
        df = frames.pop()
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
    _drain(frames)


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
        _drain(pending)


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
