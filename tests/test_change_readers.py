"""One change reader: over random commit sequences on a small
unpartitioned table, the three change readers of a ``TransactionalTable``
must tell the same story.

* ``row_deltas(a, b)``'s per-row net equals the ±1 projection of the
  per-commit ``change_feed`` over (a, b] (and ``change_feed(a, b)``
  itself is that slice, labels included);
* the ``txn_table_changes`` stream's rows for version v, driven
  in-process through ``partitions`` and ``read``, equal
  ``change_feed``'s rows for v, labels included;
* replaying ``change_feed(-1, v)`` (insert/update_postimage +1,
  delete/update_preimage -1) gives ``read(v)`` as a multiset.
"""

import functools
import itertools
import json
import os
from collections import Counter

import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from fefal_etl_spark.streaming.table_source import (
    TxnTableChangesStreamReader,
)
from fefal_etl_spark.table import TransactionalTable, _load_record

_SIGN = {
    "insert": 1, "update_postimage": 1, "delete": -1, "update_preimage": -1,
}
_OPS = (
    "append", "overwrite", "delete_where", "update_where",
    "delete_where_dv", "update_where_dv", "merge_dv", "compact",
    "restore", "cdf_images",
)
_seq = itertools.count()


def _frame(spark, rows):
    # two partitions, so a commit usually writes more than one file and
    # deletion vectors land on files that other commits keep
    return spark.createDataFrame(rows, "k long, v long").repartition(2)


def _run(t, spark, op, arg, keys):
    """Commit one op; ``keys`` hands out fresh, never-reused keys so
    every snapshot keeps ``k`` unique (merge's precondition)."""
    cond = f"k % 3 = {arg % 3}"
    if op in ("append", "overwrite"):
        n = 1 + arg % (3 if op == "append" else 4)
        getattr(t, op)(_frame(spark, [(next(keys), arg) for _ in range(n)]))
    elif op == "delete_where":
        t.delete_where(cond)
    elif op == "update_where":
        t.update_where(cond, {"v": f"v + {arg + 1}"})
    elif op == "delete_where_dv":
        t.delete_where_dv(cond)
    elif op == "update_where_dv":
        t.update_where_dv(cond, {"v": f"v + {arg + 1}"})
    elif op == "merge_dv":
        live = sorted(r["k"] for r in t.read().select("k").collect())
        src = [(k, 100 + arg) for k in live[arg % 2 :: 2]]
        src.append((next(keys), 100 + arg))
        t.merge_dv(_frame(spark, src), keys=["k"])
    elif op == "compact":
        t.compact()
    elif op == "restore":
        t.restore(arg % (t.latest_version() + 1))
    else:
        t.set_property("cdf.images", "true")


def _net(rows, sign=lambda r: _SIGN[r["_change_type"]]):
    """Per-row net count; zeros dropped, negative nets kept."""
    out = Counter()
    for r in rows:
        out[(r["k"], r["v"])] += sign(r)
    return Counter({k: n for k, n in out.items() if n})


def _labelled(rows):
    return Counter(
        (r["k"], r["v"], r["_change_type"], r["_commit_version"]) for r in rows
    )


def _check(spark, root):
    t = TransactionalTable(spark, root)
    last = t.latest_version()
    feed = t.change_feed(-1, last).collect()
    by_version = {
        v: [r for r in feed if r["_commit_version"] == v]
        for v in range(last + 1)
    }

    # replay: the feed through v nets to the snapshot at v
    for v in range(last + 1):
        live = Counter(
            (r["k"], r["v"])
            for r in (t.read(v).collect() if t._read_manifest(v).files else [])
        )
        replayed = _net(r for u in range(v + 1) for r in by_version[u])
        assert replayed == live, (v, replayed, live)

    # every pair: row_deltas nets like the feed; change_feed(a, b) is
    # the per-commit feed's slice (one collect each over all pairs)
    pairs = [(a, b) for a in range(last + 1) for b in range(a + 1, last + 1)]

    def collect_pairs(read, cols):
        out = {pair: [] for pair in pairs}
        if pairs:
            frames = [
                read(a, b).select(
                    *cols, F.lit(a).alias("a"), F.lit(b).alias("b")
                )
                for a, b in pairs
            ]
            union = functools.reduce(lambda x, y: x.unionByName(y), frames)
            for r in union.collect():
                out[(r["a"], r["b"])].append(r)
        return out

    deltas = collect_pairs(t.row_deltas, ["k", "v", "__delta"])
    feeds = collect_pairs(
        t.change_feed, ["k", "v", "_change_type", "_commit_version"]
    )
    for a, b in pairs:
        sliced = [r for v in range(a + 1, b + 1) for r in by_version[v]]
        got = _net(deltas[(a, b)], sign=lambda r: r["__delta"])
        assert got == _net(sliced), (a, b, got)
        assert _labelled(feeds[(a, b)]) == _labelled(sliced), (a, b)

    # the stream, in-process: one version per micro-batch
    reader = TxnTableChangesStreamReader({"path": root})
    for v in range(last + 1):
        rows = [
            r
            for p in reader.partitions({"version": v - 1}, {"version": v})
            for batch in reader.read(p)
            for r in batch.to_pylist()
        ]
        assert _labelled(rows) == _labelled(by_version[v]), (v, rows)


_op_lists = st.lists(
    st.tuples(st.sampled_from(_OPS), st.integers(0, 5)), max_size=5
)


def _to_absolute(t):
    """Rewrite every commit record into the pre-r6 absolute form (the
    full file and sidecar lists, no ``add``/``remove``/``dv_add``/
    ``dv_remove`` deltas), as an upgraded table's early log holds it."""
    for v in range(t.latest_version() + 1):
        state = t._resolve_state(v)
        rec = {
            k: state[k]
            for k in ("version", "op", "parent", "ts", "files", "stats",
                      "dv_files", "schema", "properties")
        }
        cdf = _load_record(t.root, v).get("cdf")
        if cdf:
            rec["cdf"] = cdf
        path = os.path.join(t.root, "_manifests", f"manifest-{v}.json")
        with open(path, "w") as f:
            json.dump(rec, f)


@pytest.mark.skipif(
    os.environ.get("FEFAL_TABLE_BACKEND") == "memory",
    reason="the stream's workers and _to_absolute read the log on disk",
)
def test_change_readers_agree(spark, tmp_path):
    @settings(
        max_examples=4,
        deadline=None,
        suppress_health_check=[HealthCheck.too_slow],
    )
    @given(ops=_op_lists, legacy=st.booleans())
    @example(
        ops=[("delete_where_dv", 0), ("update_where_dv", 1), ("restore", 0)],
        legacy=False,
    )
    @example(
        ops=[("cdf_images", 0), ("update_where", 2), ("merge_dv", 1)],
        legacy=False,
    )
    # an absolute record carries no dv_add/dv_remove: change_feed keyed
    # its deletion-vector leg on those and missed the masked rows
    @example(ops=[("delete_where_dv", 0), ("restore", 0)], legacy=True)
    def run(ops, legacy):
        root = str(tmp_path / f"t{next(_seq)}")
        t = TransactionalTable(spark, root)
        keys = itertools.count()
        t.overwrite(_frame(spark, [(next(keys), 0) for _ in range(6)]))
        for op, arg in ops:
            _run(t, spark, op, arg, keys)
        # the stream declares its schema from the latest snapshot,
        # which must hold a file: close every sequence with an append
        _run(t, spark, "append", 0, keys)
        if legacy:
            _to_absolute(t)
        _check(spark, root)

    run()
