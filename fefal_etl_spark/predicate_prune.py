"""Conservative file pruning for arbitrary SQL predicates over manifest
metadata — the expression half of lakehouse data skipping.

This module is the table's ONE pruner: every pruned read
(`TransactionalTable.read_matching`, and the keyword readers
`read_partition` / `read_partition_in` / `read_where`, which render
their arguments through :func:`render_predicate`), its audit
(`pruned_predicate_files`), and the hit-file discovery of every
predicate rewrite (`overwrite_where` / `overwrite_partition` /
`delete_where` and the DV variants). It evaluates a SQL predicate
*approximately* against each file's manifest metadata (per-file
[min, max] stats, null counts and hive partition values — zero file IO)
and answers one question per file: **can any row of this file possibly
match?** (:func:`prune_candidates`). Files answered "no" are skipped;
everything unparseable or uncovered is conservatively kept, so pruning
can only remove provably-irrelevant files. Its dual,
:func:`covered_files`, answers **must every row match?** — the files a
region replace drops whole without reading them.

This is Delta's data-skipping expression rewrite in miniature: each
atom (``col <op> literal``, ``BETWEEN``, ``IN``) maps to an interval
test on the file's recorded range (exact test on a partition value);
``AND``/``OR``/``NOT`` combine in three-valued logic tracking both
"may evaluate TRUE" and "may evaluate FALSE" so that ``NOT`` stays
sound (a NULL atom is neither). Per-file null counts (the manifest's
``__nulls`` reserved entry, round 8) make ``IS [NOT] NULL`` a
first-class skippable atom and let an all-NULL column prove every
range atom NULL; files lacking the counts stay conservatively kept.

Reference parity: the reference (FEFAL-ETL ``etl_ui.py``) filters
pandas frames in memory and has no file-skipping notion; this module
exists purely for the engine's 100 TB write-path economics.
"""

from __future__ import annotations

import math
import re

_TOKEN_RE = re.compile(
    r"""\s*(?:
      (?P<num>-?\d+(?:\.\d+)?(?:[eE][+-]?\d+)?)
    | (?P<str>'(?:[^'\\]|''|\\.)*')
    | (?P<ident>`[^`]+`|[A-Za-z_][A-Za-z_0-9.]*)
    | (?P<op><=|>=|==|!=|<>|=|<|>)
    | (?P<lp>\()
    | (?P<rp>\))
    | (?P<comma>,)
    )""",
    re.X,
)

_KEYWORDS = {"and", "or", "not", "between", "in", "is", "null", "true", "false"}

#: three-valued "don't know": the expression may be TRUE and may be FALSE
_UNKNOWN = (True, True)


class _ParseError(ValueError):
    pass


def _unescape(m: re.Match) -> str:
    """Decode one quoted-string escape the way Spark's parser does:
    ``''`` and the backslash escapes ``\\\\`` / ``\\'``. Any other
    backslash escape is outside the subset, not a guessed value."""
    t = m.group(0)
    if t == "''" or t[1] in "\\'":
        return t[-1]
    raise _ParseError(f"string escape {t!r}")


def _tokenize(s: str) -> list[tuple[str, object]]:
    out: list[tuple[str, object]] = []
    pos = 0
    while pos < len(s):
        m = _TOKEN_RE.match(s, pos)
        if m is None or m.end() == pos:
            if s[pos:].strip() == "":
                break
            raise _ParseError(f"cannot tokenize at {s[pos:pos + 20]!r}")
        pos = m.end()
        if m.group("num") is not None:
            raw_n = m.group("num")
            # ints stay ints: float coercion would round above 2^53
            # and break the "pruned files provably hold no match"
            # guarantee for int64 keys
            out.append(
                (
                    "lit",
                    float(raw_n)
                    if ("." in raw_n or "e" in raw_n or "E" in raw_n)
                    else int(raw_n),
                )
            )
        elif m.group("str") is not None:
            out.append(
                ("lit", re.sub(r"''|\\.", _unescape, m.group("str")[1:-1]))
            )
        elif m.group("ident") is not None:
            raw = m.group("ident")
            low = raw.lower()
            if low in _KEYWORDS:
                out.append(("kw", low))
            else:
                out.append(("ident", raw.strip("`")))
        elif m.group("op") is not None:
            op = m.group("op")
            out.append(("op", {"==": "=", "<>": "!="}.get(op, op)))
        elif m.group("lp"):
            out.append(("lp", "("))
        elif m.group("rp"):
            out.append(("rp", ")"))
        else:
            out.append(("comma", ","))
    return out


class _Parser:
    """Recursive-descent parser for the skippable SQL subset. The AST is
    nested tuples: ("or"|"and", a, b), ("not", a),
    ("cmp", op, col, lit), ("between", col, lo, hi),
    ("in", col, [lits], negated), ("isnull", col, negated),
    ("const", bool), ("unknown",)."""

    def __init__(self, tokens: list[tuple[str, object]]):
        self.toks = tokens
        self.i = 0

    def peek(self) -> tuple[str, object] | None:
        return self.toks[self.i] if self.i < len(self.toks) else None

    def take(self) -> tuple[str, object]:
        t = self.peek()
        if t is None:
            raise _ParseError("unexpected end of predicate")
        self.i += 1
        return t

    def expect(self, kind: str, val: object = None) -> tuple[str, object]:
        t = self.take()
        if t[0] != kind or (val is not None and t[1] != val):
            raise _ParseError(f"expected {kind} {val}, got {t}")
        return t

    def parse(self):
        node = self.or_expr()
        if self.peek() is not None:
            raise _ParseError(f"trailing tokens: {self.toks[self.i:]}")
        return node

    def or_expr(self):
        node = self.and_expr()
        while (t := self.peek()) and t == ("kw", "or"):
            self.take()
            node = ("or", node, self.and_expr())
        return node

    def and_expr(self):
        node = self.unary()
        while (t := self.peek()) and t == ("kw", "and"):
            self.take()
            node = ("and", node, self.unary())
        return node

    def unary(self):
        if (t := self.peek()) and t == ("kw", "not"):
            self.take()
            return ("not", self.unary())
        return self.primary()

    def primary(self):
        t = self.peek()
        if t is None:
            raise _ParseError("unexpected end of predicate")
        if t[0] == "lp":
            self.take()
            node = self.or_expr()
            self.expect("rp")
            return node
        if t in (("kw", "true"), ("kw", "false")):
            self.take()
            return ("const", t[1] == "true")
        return self.atom()

    def _literal(self):
        t = self.take()
        if t[0] == "lit":
            return t[1]
        if t == ("kw", "true"):
            return True
        if t == ("kw", "false"):
            return False
        raise _ParseError(f"expected literal, got {t}")

    def atom(self):
        t = self.take()
        if t[0] == "lit":  # literal <op> ident — flip
            lit = t[1]
            op = self.expect("op")[1]
            col = self.expect("ident")[1]
            flip = {"<": ">", "<=": ">=", ">": "<", ">=": "<="}
            return ("cmp", flip.get(op, op), col, lit)
        if t[0] != "ident":
            raise _ParseError(f"expected column, got {t}")
        col = t[1]
        nxt = self.take()
        if nxt[0] == "op":
            t2 = self.peek()
            if t2 and t2[0] == "ident":  # col <op> col — not skippable
                self.take()
                return ("unknown",)
            return ("cmp", nxt[1], col, self._literal())
        if nxt == ("kw", "between"):
            lo = self._literal()
            self.expect("kw", "and")
            hi = self._literal()
            return ("between", col, lo, hi)
        negated = False
        if nxt == ("kw", "not"):
            negated = True
            nxt = self.take()
        if nxt == ("kw", "in"):
            self.expect("lp")
            vals = [self._literal()]
            while self.peek() == ("comma", ","):
                self.take()
                vals.append(self._literal())
            self.expect("rp")
            return ("in", col, vals, negated)
        if nxt == ("kw", "is"):
            negated = False
            if self.peek() == ("kw", "not"):
                self.take()
                negated = True
            self.expect("kw", "null")
            # round 8: manifests record per-file null counts
            # (``__nulls``), so IS [NOT] NULL is a first-class atom
            return ("isnull", col, negated)
        raise _ParseError(f"unsupported atom after {col!r}: {nxt}")


def parse_predicate(condition: str):
    """Parse ``condition`` into the skippable AST, or None when it uses
    constructs outside the subset (caller then skips pruning)."""
    try:
        return _Parser(_tokenize(condition)).parse()
    except _ParseError:
        return None


def _comparable(a, b) -> bool:
    num = (int, float)
    if isinstance(a, bool) or isinstance(b, bool):
        return False  # bools never have manifest stats; don't guess
    # NaN anywhere poisons interval logic (every comparison is False) —
    # junk bounds / literals degrade to UNKNOWN, never a wrong prune
    for x in (a, b):
        if isinstance(x, float) and math.isnan(x):
            return False
    if isinstance(a, num) and isinstance(b, num):
        return True
    return isinstance(a, str) and isinstance(b, str)


def _cmp_range(op: str, mn, mx, v) -> tuple[bool, bool]:
    """(may be TRUE, may be FALSE) for ``col <op> v`` given the file's
    non-null, non-NaN values all lie in [mn, mx].

    NaN soundness (ADVICE r7): parquet footer min/max EXCLUDE NaN, but
    Spark orders NaN above every double and NaN = NaN is true — so a
    float column whose stats say ``mx < v`` may still hold NaN rows
    matching ``> v``. Whenever the bounds are floats (the only type
    that can hide NaN), the side a NaN row would force is held open:
    NaN makes ``>``/``>=``/``!=`` TRUE and ``<``/``<=``/``=`` FALSE
    (literals are never NaN — the SQL subset cannot express one)."""
    if not (_comparable(mn, v) and _comparable(mx, v)):
        return _UNKNOWN
    nan = isinstance(mn, float) or isinstance(mx, float)
    if op == "=":
        return (mn <= v <= mx, not (mn == v == mx) or nan)
    if op == "!=":
        t, f = _cmp_range("=", mn, mx, v)
        return (f, t)
    if op == "<":
        return (mn < v, mx >= v or nan)
    if op == "<=":
        return (mn <= v, mx > v or nan)
    if op == ">":
        return (mx > v or nan, mn <= v)
    if op == ">=":
        return (mx >= v or nan, mn < v)
    return _UNKNOWN


def _eval(node, stats: dict, parts: dict) -> tuple[bool, bool]:
    """Three-valued evaluation of the AST against ONE file's metadata:
    returns (may evaluate TRUE, may evaluate FALSE). A partition value
    pins the column to one scalar (exact answer); a stats range bounds
    it; anything else is unknown."""
    kind = node[0]
    if kind == "unknown":
        return _UNKNOWN
    if kind == "const":
        return (node[1], not node[1])
    if kind == "and":
        at, af = _eval(node[1], stats, parts)
        bt, bf = _eval(node[2], stats, parts)
        return (at and bt, af or bf)
    if kind == "or":
        at, af = _eval(node[1], stats, parts)
        bt, bf = _eval(node[2], stats, parts)
        return (at or bt, af and bf)
    if kind == "not":
        t, f = _eval(node[1], stats, parts)
        return (f, t)

    col = node[2] if kind == "cmp" else node[1]
    if kind == "isnull":
        # IS [NOT] NULL is two-valued (never NULL itself), so both
        # sides can be exact: a hive partition value pins the whole
        # file (the default sentinel IS the null encoding); otherwise
        # the recorded null count vs row count answers it.
        negated = node[2]
        pv = parts.get(col)
        if pv is not None:
            isnull = pv == "__HIVE_DEFAULT_PARTITION__"
            t, f = isnull, not isnull
        else:
            nulls = (stats.get("__nulls") or {}).get(col)
            if nulls is None:
                return _UNKNOWN
            n_rows = (stats.get("__n_rows") or [None])[0]
            t = nulls > 0
            f = n_rows is None or nulls < n_rows
        return (f, t) if negated else (t, f)

    # a column PROVEN all-NULL (null count == row count, or the hive
    # default partition) makes every cmp/between/in atom evaluate NULL
    # for every row: may-TRUE and may-FALSE are both impossible —
    # (False, False), which NOT preserves (NOT NULL is still NULL)
    _nulls = (stats.get("__nulls") or {}).get(col)
    _n_rows = (stats.get("__n_rows") or [None])[0]
    pv = parts.get(col)
    if pv == "__HIVE_DEFAULT_PARTITION__" or (
        pv is None
        and _nulls is not None
        and _n_rows is not None
        and _nulls >= _n_rows
    ):
        return (False, False)

    if pv is not None:
        return _pv_atom(node, pv)
    rng = stats.get(col)
    if rng is None:
        return _UNKNOWN
    return _range_atom(node, rng[0], rng[1])


def _pv_atom(node, pv: str) -> tuple[bool, bool]:
    """(may TRUE, may FALSE) of a cmp/between/in atom on a column the
    file's hive path pins to ``pv`` (exact but for the typing). Path
    values are strings; a numeric-looking one may sit in a numeric
    column, where Spark casts a string literal to a number, or in a
    string one — a string literal keeps what either reading allows."""
    if node[0] == "in":
        per = [_pv_atom(("cmp", "=", node[1], v), pv) for v in node[2]]
        may_t = any(t for t, _ in per)
        may_f = not any(t and not f for t, f in per)
        return (may_f, may_t) if node[3] else (may_t, may_f)
    num = _as_number(pv)
    probe = node[3] if node[0] == "cmp" else node[2]
    if isinstance(probe, str):
        t, f = _range_atom(node, pv, pv)
        if num is None:
            return (t, f)
        alt = _numeric_reading(node)
        if alt is None:
            # the literal does not cast: under a numeric column the
            # atom is NULL (or an error), never provably TRUE
            return (t, True)
        t2, f2 = _range_atom(alt, num, num)
        return (t or t2, f or f2)
    if isinstance(probe, (int, float)) and not isinstance(probe, bool):
        # "nan"/"inf" or non-numeric path strings: don't guess
        return _UNKNOWN if num is None else _range_atom(node, num, num)
    return _range_atom(node, pv, pv)


def _as_number(x):
    """``x`` as Spark casts it to a number — ints stay ints (float
    coercion would round 2^53+ keys) — or None when it is not a finite
    number."""
    if isinstance(x, bool):
        return None
    if isinstance(x, (int, float)):
        return x
    try:
        return int(x)
    except ValueError:
        try:
            v = float(x)
        except ValueError:
            return None
        return v if math.isfinite(v) else None


def _numeric_reading(node):
    """A cmp/between atom with its literals cast to numbers, as Spark
    casts them against a numeric column; None when one does not cast."""
    lits = node[3:] if node[0] == "cmp" else node[2:]
    nums = [_as_number(v) for v in lits]
    if None in nums:
        return None
    return (*node[: len(node) - len(nums)], *nums)


def _range_atom(node, lo, hi) -> tuple[bool, bool]:
    """(may TRUE, may FALSE) of a cmp/between/in atom whose column's
    non-null, non-NaN values all lie in [lo, hi]."""
    kind = node[0]
    if kind == "cmp":
        return _cmp_range(node[1], lo, hi, node[3])
    if kind == "between":
        a, b = node[2], node[3]
        t1, f1 = _cmp_range(">=", lo, hi, a)
        t2, f2 = _cmp_range("<=", lo, hi, b)
        if all(_comparable(x, y) for x in (lo, hi) for y in (a, b)):
            # a NaN row fails ``<= b``, so it never makes BETWEEN TRUE:
            # may-TRUE is the plain intersection of [lo, hi] and [a, b]
            # (may-FALSE keeps NaN open through f2)
            t1 = t2 = max(lo, a) <= min(hi, b)
        return (t1 and t2, f1 or f2)
    if kind == "in":
        _, _col, vals, negated = node
        per_val = [_cmp_range("=", lo, hi, v) for v in vals]
        # col IN (...) may be TRUE iff any value may equal; may be
        # FALSE unless the range pins EVERY non-null row to a listed
        # value (lo == hi and that value is provably in the list)
        may_t = any(t for t, _ in per_val)
        pinned = any(t and not f for t, f in per_val) and lo == hi
        may_f = not pinned
        if negated:
            return (may_f, may_t)
        return (may_t, may_f)
    return _UNKNOWN


def hive_partition_value(v) -> str:
    """Spark's hive PATH rendering of a partition value — the one form
    the manifest's partition map records (ADVICE r7: ``str(True)`` is
    ``'True'`` but Spark writes ``c=true``, so naive str() comparison
    never matches boolean partitions; None lands as the hive default
    sentinel). Every partition-value comparison in the table layer
    goes through this single helper."""
    if v is None:
        return "__HIVE_DEFAULT_PARTITION__"
    if isinstance(v, bool):
        return "true" if v else "false"
    return str(v)


def sql_literal(v) -> str:
    """Render a Python scalar as a SQL literal for the skippable
    subset (finite numbers bare, everything else single-quoted with ''
    and backslash escaping — booleans render in their hive path form
    'true'/'false' so the pruner's partition-value string compare
    matches Spark's on-disk layout; bool atoms are never
    range-skippable anyway). A non-finite float renders as a cast
    Spark evaluates and the pruner does not parse (no pruning)."""
    if isinstance(v, float) and not math.isfinite(v):
        return f"double('{v!r}')"
    if isinstance(v, (int, float)) and not isinstance(v, bool):
        return repr(v)
    text = hive_partition_value(v).replace("\\", "\\\\")
    return "'" + text.replace("'", "''") + "'"


def render_predicate(atoms: list[tuple[str, str, object]]) -> str:
    """SQL text for the AND of ``(column, op, value)`` atoms — the one
    renderer behind the table's keyword readers (`read_partition`,
    `read_partition_in`, `read_where`, `overwrite_partition`).
    Identifiers are backtick-quoted and values go through
    :func:`sql_literal`. ``"="`` against None renders ``IS NULL``
    (``= NULL`` matches nothing); ``"in"`` takes a list, a None member
    adding ``OR ... IS NULL``; ``"between"`` takes a (lo, hi) pair. No
    atoms render ``TRUE``."""
    out = []
    for col, op, value in atoms:
        c = f"`{col}`"
        if op == "between":
            lo, hi = value
            out.append(
                f"{c} BETWEEN {sql_literal(lo)} AND {sql_literal(hi)}"
            )
        elif op == "in":
            vals = [v for v in value if v is not None]
            alts = [f"{c} IN ({', '.join(map(sql_literal, vals))})"]
            if not vals:
                alts = []
            if None in value:
                alts.append(f"{c} IS NULL")
            out.append(f"({' OR '.join(alts)})" if alts else "FALSE")
        elif value is None:
            out.append(f"{c} IS NULL")
        else:
            out.append(f"{c} = {sql_literal(value)}")
    return " AND ".join(out) or "TRUE"


def prune_candidates(
    condition: str,
    files: list[str],
    stats: dict[str, dict],
    partitions: dict[str, dict],
) -> list[str] | None:
    """Files that MAY contain a row matching ``condition``, judged from
    manifest metadata alone — or None when the predicate is outside the
    skippable subset (caller falls back to scanning everything).
    Guaranteed superset of the true hit set: a pruned-away file provably
    contains no matching row."""
    ast = parse_predicate(condition)
    if ast is None:
        return None
    out = []
    for f in files:
        may_t, _ = _eval(ast, stats.get(f) or {}, partitions.get(f) or {})
        if may_t:
            out.append(f)
    return out


def _null_sensitive_cols(node) -> set[str]:
    """Columns of the comparison atoms: a NULL there makes the atom
    NULL (``IS [NOT] NULL`` atoms are never NULL themselves)."""
    kind = node[0]
    if kind in ("and", "or"):
        return _null_sensitive_cols(node[1]) | _null_sensitive_cols(node[2])
    if kind == "not":
        return _null_sensitive_cols(node[1])
    if kind in ("cmp", "between", "in"):
        return {node[2] if kind == "cmp" else node[1]}
    return set()


def covered_files(
    condition: str,
    files: list[str],
    stats: dict[str, dict],
    partitions: dict[str, dict],
) -> list[str]:
    """Files EVERY row of which matches ``condition``, judged from
    manifest metadata alone — the dual of :func:`prune_candidates`. A
    region replace drops such a file whole, with no discovery scan and
    nothing to restage (a pure-target hive file of a partition
    overwrite is the common case). A file is covered when ``_eval``
    says the predicate may be TRUE and cannot be FALSE, and every
    column a comparison atom reads is provably non-NULL in it (a
    non-default hive value, or a recorded null count of 0) — so no row
    can evaluate NULL either. Empty when the predicate is outside the
    subset."""
    ast = parse_predicate(condition)
    if ast is None:
        return []
    cols = _null_sensitive_cols(ast)
    out = []
    for f in files:
        fs, pv = stats.get(f) or {}, partitions.get(f) or {}
        nulls = fs.get("__nulls") or {}
        may_t, may_f = _eval(ast, fs, pv)
        if may_t and not may_f and all(
            pv.get(c, "__HIVE_DEFAULT_PARTITION__")
            != "__HIVE_DEFAULT_PARTITION__"
            or (c not in pv and nulls.get(c) == 0)
            for c in cols
        ):
            out.append(f)
    return out
