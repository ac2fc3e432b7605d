"""One pruner for every pruned read: ``read_partition``,
``read_partition_in`` and ``read_where`` (and their audit twins) render
predicate text for ``read_matching`` / ``pruned_predicate_files``. The
property test (no Spark: the log is written through ``_commit``) pins,
over generated per-file rows, that the rendered predicate keeps every
file holding a matching row and never keeps a file the per-reader rule
it replaced would skip. Those rules are kept below as ``_legacy_*``
with the two cases where they kept fewer files than is safe fixed: a
stats range not comparable with the bounds keeps its file (the old
``read_where`` raised ``TypeError``), and number-equal partition values
match (the old ``read_partition(p="01")`` skipped the ``p=1`` file)."""

import itertools
import math

from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

from fefal_etl_spark.predicate_prune import (
    covered_files,
    hive_partition_value,
    parse_predicate,
    prune_candidates,
    render_predicate,
)
from fefal_etl_spark.table import TransactionalTable

_seq = itertools.count()
_DATA = ("x", "y", "s")
_PART = ("p", "q")


class _Trunc(TransactionalTable):
    # a tiny cap so generated strings actually truncate
    STATS_MAX_STR_LEN = 3


# ----------------------------------------------------------------------
# the replaced per-reader pruning rules
# ----------------------------------------------------------------------


def _num(x):
    try:
        return float(x)
    except (TypeError, ValueError):
        return None


def _same(pv: str, v) -> bool:
    """The old path-form equality, plus the fix: number-equal values
    match (Spark casts '01' or '1.0' to 1 against an int column; the old
    string compare skipped the ``p=1`` file)."""
    n = _num(pv)
    return pv == hive_partition_value(v) or (
        n is not None and not isinstance(v, bool) and n == _num(v)
    )


def _legacy_partition(files, parts, filters):
    return [
        f
        for f in files
        if all(
            c not in (parts.get(f) or {}) or _same(parts[f][c], v)
            for c, v in filters.items()
        )
    ]


def _legacy_partition_in(files, parts, col, values):
    return [
        f
        for f in files
        if (parts.get(f) or {}).get(col) is None
        or any(_same(parts[f][col], v) for v in values)
    ]


def _legacy_where(files, stats, col, lo, hi):
    def keep(rng):
        try:
            return rng is None or not (rng[1] < lo or rng[0] > hi)
        except TypeError:
            return True  # the fix: incomparable stats keep the file

    return [f for f in files if keep((stats.get(f) or {}).get(col))]


# ----------------------------------------------------------------------
# row-level truth (Spark SQL semantics for the rendered predicates)
# ----------------------------------------------------------------------


def _cast(col, lit):
    """A literal as Spark compares it with ``col``: against the int
    column ``p`` a string is cast to a number (None: the cast fails —
    an error, or NULL — so no row matches)."""
    if col != "p" or not isinstance(lit, str):
        return lit
    try:
        return int(lit)
    except ValueError:
        try:
            return float(lit)
        except ValueError:
            return None


def _eq(col, v, want) -> bool:
    if want is None:
        return v is None  # rendered as IS NULL
    want = _cast(col, want)
    return v is not None and want is not None and hive_partition_value(
        v
    ) == hive_partition_value(want)


def _between(col, v, lo, hi):
    lo, hi = _cast(col, lo), _cast(col, hi)
    if v is None or lo is None or hi is None:
        return False
    if any(isinstance(v, str) != isinstance(b, str) for b in (lo, hi)):
        return None  # type-confused: may match, never proven to
    if isinstance(v, float) and math.isnan(v):
        return False  # NaN >= lo holds, NaN <= hi does not
    return lo <= v <= hi


def _matches(query, row):
    """True (the row matches), False, or None (it may)."""
    kind = query[0]
    if kind == "eq":
        return all(_eq(c, row[c], v) for c, v in query[1].items())
    if kind == "in":
        return any(_eq(query[1], row[query[1]], v) for v in query[2])
    _, col, lo, hi = query
    return _between(col, row[col], lo, hi)


# ----------------------------------------------------------------------
# generators
# ----------------------------------------------------------------------

_pvals = st.none() | st.integers(0, 3)
_qvals = st.none() | st.sampled_from("abcd")
_strs = st.text(alphabet="abz", max_size=5)
_nums = st.integers(-5, 12) | st.floats(-5, 12, allow_nan=False)

_rows = st.lists(
    st.fixed_dictionaries(
        {
            "x": st.none() | st.integers(-5, 12),
            "y": st.none()
            | st.floats(-5, 12, allow_nan=False)
            | st.just(float("nan")),
            "s": st.none() | _strs,
            "p": _pvals,
            "q": _qvals,
        }
    ),
    min_size=1,
    max_size=5,
)
# (rows, hive columns, with stats?, with null counts?) per file
_files = st.lists(
    st.tuples(
        _rows,
        st.sampled_from([(), ("p",), ("p", "q")]),
        st.booleans(),
        st.booleans(),
    ),
    min_size=1,
    max_size=5,
)


@st.composite
def _queries(draw):
    kind = draw(st.sampled_from(["eq", "in", "between"]))
    # int partition values also arrive as strings, which Spark casts
    # against the int column — including non-canonical and bad ones
    pv = _pvals | st.sampled_from(["0", "1", "3", "01", "1.0", "x"])
    if kind == "eq":
        cols = draw(st.lists(st.sampled_from(_PART), unique=True))
        return ("eq", {c: draw(pv if c == "p" else _qvals) for c in cols})
    if kind == "in":
        col = draw(st.sampled_from(_PART))
        vals = pv if col == "p" else _qvals
        return ("in", col, draw(st.lists(vals, min_size=1, max_size=3)))
    col = draw(st.sampled_from(["x", "y", "s", "p"]))
    native = _strs if col == "s" else _nums
    if col == "p":
        native = _nums | st.sampled_from(["-1", "1", "2", "10", "x"])
    # str bounds on a numeric stats column and numeric ones on a str
    # column: the TypeError case of the old read_where
    elif draw(st.booleans()):
        native = _nums if col == "s" else _strs
    return ("between", col, draw(native), draw(native))


def _render(query) -> str:
    if query[0] == "eq":
        return render_predicate([(c, "=", v) for c, v in query[1].items()])
    if query[0] == "in":
        return render_predicate([(query[1], "in", query[2])])
    _, col, lo, hi = query
    return render_predicate([(col, "between", (lo, hi))])


def _table(files, tmp_path):
    """Commit the generated files (hive values in the path, stats as the
    footer reader records them) and return (table, names, stats, parts,
    rows per file)."""
    t = TransactionalTable(None, str(tmp_path / f"t{next(_seq)}"))
    names, stats, contents = [], {}, {}
    for i, (rows, hive, with_stats, with_nulls) in enumerate(files):
        rows = [dict(r, **{c: rows[0][c] for c in hive}) for r in rows]
        segs = "".join(
            f"{c}={hive_partition_value(rows[0][c])}/" for c in hive
        )
        f = f"data/c0/{segs}part-{i}.parquet"
        names.append(f)
        contents[f] = rows
        cols = [c for c in _DATA + _PART if c not in hive]
        fs: dict = {}
        if with_stats:
            for c in cols:
                vals = [
                    r[c]
                    for r in rows
                    if r[c] is not None
                    and not (isinstance(r[c], float) and math.isnan(r[c]))
                ]
                if vals:
                    rng = [min(vals), max(vals)]
                    if isinstance(rng[0], str):
                        rng = _Trunc._truncate_str_range(*rng)
                    if rng is not None:
                        fs[c] = rng
        if with_nulls:
            fs["__n_rows"] = [len(rows), len(rows)]
            fs["__nulls"] = {
                c: sum(r[c] is None for r in rows) for c in cols
            }
        if fs:
            stats[f] = fs
    t._commit(names, "overwrite", None, rebase_ok=False, stats=stats)
    mf = t._read_manifest(0)
    return t, mf.files, mf.stats or {}, mf.partitions or {}, contents


def _legacy(query, names, stats, parts):
    if query[0] == "eq":
        return _legacy_partition(names, parts, query[1])
    if query[0] == "in":
        return _legacy_partition_in(names, parts, query[1], query[2])
    _, col, lo, hi = query
    return _legacy_where(names, stats, col, lo, hi)


def test_rendered_readers_are_sound_and_no_wider(tmp_path):
    @settings(
        max_examples=400,
        deadline=None,
        suppress_health_check=[HealthCheck.too_slow],
    )
    @given(files=_files, query=_queries())
    # BETWEEN on float stats: [0.5, 1.5] holds no row in [5, 8] even
    # if the file hides NaN rows (NaN <= 8 is false)
    @example(
        files=[
            ([{"x": 1, "y": 0.5, "s": "a", "p": 1, "q": "a"},
              {"x": 1, "y": 1.5, "s": "a", "p": 1, "q": "a"}],
             (), True, False)
        ],
        query=("between", "y", 5, 8),
    )
    # the NULL hive partition pins p to NULL: p = 1 holds no row there
    @example(
        files=[([{"x": 1, "y": 1.0, "s": "a", "p": None, "q": "a"}],
                ("p",), False, False)],
        query=("eq", {"p": 1}),
    )
    # str stats meet numeric bounds (the old TypeError)
    @example(
        files=[([{"x": 1, "y": 1.0, "s": "ab", "p": 1, "q": "a"}],
                (), True, False)],
        query=("between", "s", 1, 5),
    )
    # '01' is 1 to the int column (the old string compare skipped p=1)
    @example(
        files=[([{"x": 1, "y": 1.0, "s": "a", "p": 1, "q": "a"}],
                ("p",), False, False)],
        query=("eq", {"p": "01"}),
    )
    # p=3 is in ['2', '10'] numerically, not as strings ("3" > "10")
    @example(
        files=[([{"x": 1, "y": 1.0, "s": "a", "p": 3, "q": "a"}],
                ("p",), False, False)],
        query=("between", "p", "2", "10"),
    )
    def run(files, query):
        t, names, stats, parts, contents = _table(files, tmp_path)
        sql = _render(query)
        new = prune_candidates(sql, names, stats, parts)
        assert new is not None, sql  # rendered text is in the subset
        legacy = _legacy(query, names, stats, parts)
        for f in names:
            if any(_matches(query, r) is not False for r in contents[f]):
                assert f in legacy, ("legacy unsound", sql, f, contents[f])
                assert f in new, ("unsound", sql, f, contents[f])
        assert set(new) <= set(legacy), (sql, set(new) - set(legacy))
        # the audit twins report the same kept set
        if query[0] == "eq":
            audit = t.pruned_partition_files(**query[1])
        elif query[0] == "between":
            audit = t.skipped_files(*query[1:])
        else:
            audit = t.pruned_predicate_files(sql)
        assert audit == (len(new), len(names))
        # a covered file is one whose every row matches: the region
        # replace drops it without reading it
        for f in covered_files(sql, names, stats, parts):
            assert all(_matches(query, r) is True for r in contents[f]), (
                sql,
                f,
            )

    run()


@given(st.text(alphabet="ab'\\\n%", max_size=6))
def test_string_literals_round_trip(v):
    """``sql_literal`` quotes and escapes what Spark's parser unescapes;
    the pruner's tokenizer decodes the same value."""
    ast = parse_predicate(render_predicate([("c", "=", v)]))
    assert ast == ("cmp", "=", "c", v)
