"""Property-based tests (SURVEY.md §5.4) — hypothesis-generated inputs,
batched into one Spark job per example for speed.

Alphabet notes: the JVM fast-path accent stripper covers the Latin
repertoire in functions.text._ACCENTED; property parity with the Python NFKD
twin is asserted over that repertoire (outside it — e.g. ǒ — the fast path
passes chars through while NFKD strips, by design; normalize_text_udf is the
full-parity path). ``is_numeric_string`` parity is ASCII-scoped because
Python ``str.isdigit`` accepts unicode digits the reference never sees.
"""

import pytest
import re

from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from fefal_etl_spark.functions import (
    extract_content_in_brackets,
    is_numeric_string,
    normalize_text,
    py_normalize_text,
    split_sentences,
    split_sentences_portable,
    validate_numeric,
)
from fefal_etl_spark.functions.text import _ACCENTED, py_extract_brackets

SETTLE = settings(
    max_examples=15, deadline=None, suppress_health_check=[HealthCheck.too_slow]
)

LATIN = st.text(
    alphabet="abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ"
    "áàâãäçéêíóôõúüÁÀÂÃÄÇÉÊÍÓÔÕÚÜñÑ .,;!?/|[]()-0123456789\t\n",
    max_size=60,
)


def batch(spark, col_fn, values):
    df = spark.createDataFrame([(v,) for v in values], "v string")
    return [r[0] for r in df.select(col_fn(F.col("v")).alias("o")).collect()]


@SETTLE
@given(st.lists(LATIN, min_size=1, max_size=30))
def test_normalize_matches_python_twin(spark, texts):
    got = batch(spark, normalize_text, texts)
    want = [py_normalize_text(t) for t in texts]
    assert got == want


@SETTLE
@given(st.lists(LATIN, min_size=1, max_size=30))
def test_normalize_idempotent(spark, texts):
    once = batch(spark, normalize_text, texts)
    twice = batch(spark, normalize_text, once)
    assert once == twice


# ASCII whitespace, as Java's regex ``\s`` reads it
ASCII_WS = " \t\n\r\x0b\x0c"


@SETTLE
@given(st.lists(st.text(alphabet=_ACCENTED + ASCII_WS + "aZ", max_size=40),
                min_size=1, max_size=30))
@example(["Ø ł\x0bđ", "\tŦ\r"])
def test_normalize_twin_matches_on_the_accent_table(spark, texts):
    """The driver twin equals Spark's normalize_text on every character
    of the accent table, mixed with ASCII whitespace."""
    assert batch(spark, normalize_text, texts) == [py_normalize_text(t) for t in texts]


@SETTLE
@given(st.lists(st.text(alphabet="[]" + ASCII_WS + "aøÉ", max_size=20),
                min_size=1, max_size=30))
@example(["[a\rb]", " [ x\x0c] ", "[]", "ø [\n]"])
def test_extract_brackets_twin_matches_spark(spark, texts):
    """py_extract_brackets follows Java's regex: a bracket group spans no
    line terminator, and the trim is ASCII whitespace only."""
    got = batch(spark, extract_content_in_brackets, texts)
    assert got == [py_extract_brackets(t) for t in texts]


REF_SPLIT = r"(?<=[.!?;/|])\s+|,\s+(?=[A-ZÁÉÍÓÚÂÊÎÔÛÃÕÇ])"


def ref_split(texto):
    if not isinstance(texto, str) or not texto.strip():
        return []
    return [f.strip() for f in re.split(REF_SPLIT, texto.strip()) if f.strip()]


@SETTLE
@given(st.lists(LATIN, min_size=1, max_size=30))
def test_sentence_split_matches_reference_and_portable(spark, texts):
    texts = [t.replace("\x07", " ") for t in texts]  # portable sentinel guard
    exact = [list(x) for x in batch(spark, split_sentences, texts)]
    portable = [list(x) for x in batch(spark, split_sentences_portable, texts)]
    want = [ref_split(t) for t in texts]
    assert exact == want
    assert portable == want


NUMERICISH = st.one_of(
    st.integers(-10**6, 10**6).map(str),
    st.floats(
        allow_nan=False, allow_infinity=False, min_value=-1e6, max_value=1e6
    ).map(str),
    st.text(alphabet="0123456789.-e x", max_size=10),
)


def ref_validate(v):  # etl_ui.py:227-232
    try:
        # engine contract: LongType output saturates at int64 max (the DW
        # column is INT; the reference's unbounded Python int is unportable)
        return min(max(int(float(v)), 0), 2**63 - 1)
    except Exception:
        return 0


@SETTLE
@given(st.lists(NUMERICISH, min_size=1, max_size=40))
def test_validate_numeric_matches_reference(spark, vals):
    got = batch(spark, validate_numeric, vals)
    want = [ref_validate(v) for v in vals]
    assert got == want


def ref_isnum(t):  # etl_ui.py:542-543
    return t.strip().replace(".", "", 1).isdigit()


@SETTLE
@given(st.lists(st.text(alphabet="0123456789. -abe", max_size=8), min_size=1, max_size=40))
def test_is_numeric_string_matches_reference(spark, vals):
    got = batch(spark, is_numeric_string, vals)
    want = [ref_isnum(v) for v in vals]
    assert [bool(g) for g in got] == want


@SETTLE
@given(
    st.lists(
        st.tuples(st.integers(0, 5), st.integers(0, 100), st.integers(0, 100)),
        min_size=1,
        max_size=40,
    )
)
def test_dedup_keeps_exactly_one_per_key(spark, rows):
    from fefal_etl_spark.operators import dedup_keep_best

    df = spark.createDataFrame(rows, "k int, a int, b int")
    out = dedup_keep_best(
        df, key="k", order_by=[F.col("a").desc(), F.col("b").desc()]
    )
    got = out.groupBy("k").count().collect()
    assert all(r["count"] == 1 for r in got)
    keys_in = {r[0] for r in rows}
    assert {r["k"] for r in got} == keys_in
    # the kept row is a genuine argmax of (a, b) within its key
    best = {}
    for k, a, b in rows:
        best[k] = max(best.get(k, (-1, -1)), (a, b))
    for r in out.collect():
        assert (r["a"], r["b"]) == best[r["k"]]


@SETTLE
@given(
    st.lists(
        st.tuples(st.integers(0, 1000), st.integers(0, 50), st.integers(0, 50)),
        min_size=1,
        max_size=30,
        unique_by=lambda t: t[0],
    )
)
def test_unpivot_pivot_roundtrip(spark, rows):
    df = spark.createDataFrame(rows, "id long, m1 int, m2 int")
    long = df.unpivot(["id"], ["m1", "m2"], "measure", "value")
    wide = (
        long.groupBy("id").pivot("measure", ["m1", "m2"]).agg(F.first("value"))
    )
    assert sorted(map(tuple, wide.collect())) == sorted(map(tuple, df.collect()))


# ---------------------------------------------------------------------------
# Review-loop invariants (operators.review): for ANY promotion subset of the
# duplicate branch, re-classification preserves the row count, keeps exactly
# one valid row per matched entity, never moves blank/unmatched rows, and is
# idempotent.
# ---------------------------------------------------------------------------

@SETTLE
@given(
    st.lists(
        st.tuples(
            st.one_of(st.none(), st.integers(0, 4)),  # id_entidade (5 entities)
            st.integers(0, 100),                      # score
        ),
        min_size=1,
        max_size=25,
    ),
    st.sets(st.integers(0, 24), max_size=10),         # promoted row positions
)
@pytest.mark.slow
def test_promote_duplicate_invariants(spark, rows, promo_positions):
    from fefal_etl_spark.operators.dedup import ROW_KEY, classify_rows, with_row_key
    from fefal_etl_spark.operators.review import promote_duplicate

    df = with_row_key(
        spark.createDataFrame(
            [(i, e, s) for i, (e, s) in enumerate(rows)],
            "pos int, id_entidade int, score int",
        )
    )
    order = [F.col("score").desc(), F.col(ROW_KEY)]
    frame = classify_rows(df, order_by=order)
    promoted = frame.filter(
        (F.col("status") == "duplicate") & F.col("pos").isin(list(promo_positions))
    ).select(ROW_KEY)
    out = promote_duplicate(frame, promoted, order_by=order).cache()
    before = {r["pos"]: r["status"] for r in frame.collect()}
    after = {r["pos"]: r["status"] for r in out.collect()}
    assert len(after) == len(before)  # no rows created or lost
    # unmatched rows never move
    assert {p for p, s in after.items() if s == "unmatched"} == {
        p for p, s in before.items() if s == "unmatched"
    }
    # exactly one valid row per matched entity
    valid_per_entity = (
        out.filter(F.col("status") == "valid")
        .groupBy("id_entidade")
        .count()
        .collect()
    )
    assert all(r["count"] == 1 for r in valid_per_entity)
    # every promoted duplicate position is now valid (or lost a tie to
    # another promoted row of the same entity)
    promoted_pos = {
        r["pos"]
        for r in frame.filter(
            (F.col("status") == "duplicate")
            & F.col("pos").isin(list(promo_positions))
        ).collect()
    }
    for p in promoted_pos:
        assert after[p] in ("valid", "duplicate")
        if after[p] == "duplicate":  # only loses to a promoted sibling
            ent = rows[p][0]
            winners = [
                q
                for q in promoted_pos
                if rows[q][0] == ent and after[q] == "valid"
            ]
            assert winners, f"promoted row {p} lost to a non-promoted row"
    # idempotent
    again = promote_duplicate(out, promoted, order_by=order)
    assert {r["pos"]: r["status"] for r in again.collect()} == after


def test_connected_components_matches_union_find(spark):
    """Connected components must agree with an independent union-find on
    adversarial small graphs: a max-diameter path, duplicate + reversed
    edges, self-loops, and multiple components in one edge list."""
    import random

    from fefal_etl_spark.llm.dedup import connected_components

    rng = random.Random(7)
    cases = [
        # worst-case diameter: a path 0-1-2-...-7 given in scrambled order
        [(6, 7), (0, 1), (4, 5), (2, 3), (1, 2), (5, 6), (3, 4)],
        # duplicate edges, reversed duplicates, self-loop, two components
        [(1, 2), (2, 1), (1, 2), (3, 3), (4, 5), (5, 6), (4, 6)],
        # star + isolated self-loop
        [(9, 1), (9, 2), (9, 3), (0, 0)],
        # 60-node path: diameter 59
        [(i, i + 1) for i in range(60)],
        # random sparse graph + self-loop + duplicate/reversed edges
        [(rng.randrange(30), rng.randrange(30)) for _ in range(40)]
        + [(5, 5), (2, 1), (1, 2)],
    ]
    for edge_list in cases:
        parent = {}

        def find(x):
            parent.setdefault(x, x)
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        def union(a, b):
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)

        for a, b in edge_list:
            union(a, b)
        comp = {}
        for n in list(parent):
            comp.setdefault(find(n), set()).add(n)
        truth = {}
        for members in comp.values():
            m = min(members)
            for n in members:
                truth[n] = m

        edges = spark.createDataFrame(edge_list, "src long, dst long")
        got = {
            r["node"]: r["component"]
            for r in connected_components(edges).collect()
        }
        assert got == truth


@SETTLE
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=8),      # key
            st.sampled_from(["I", "U", "D"]),           # op
            st.integers(min_value=0, max_value=1000),   # seq (may tie across keys)
            st.integers(min_value=-50, max_value=50),   # payload
        ),
        min_size=1,
        max_size=40,
    )
)
def test_apply_changelog_matches_dict_replay(spark, events):
    """Latest-wins snapshot == a sequential dict replay of the same events
    (ties on seq broken by a uniquifying event index, as real CDC feeds
    do with an LSN)."""
    from fefal_etl_spark.operators.upsert import apply_changelog

    rows = [(k, op, seq, i, val) for i, (k, op, seq, val) in enumerate(events)]
    df = spark.createDataFrame(
        rows, "k long, op string, seq long, lsn long, val long"
    )
    got = {
        r["k"]: (r["op"], r["seq"], r["lsn"], r["val"])
        for r in apply_changelog(df, key="k", seq_cols=["seq", "lsn"]).collect()
    }
    replay: dict[int, tuple] = {}
    for k, op, seq, lsn, val in sorted(rows, key=lambda r: (r[2], r[3])):
        replay[k] = (op, seq, lsn, val)
    want = {k: v for k, v in replay.items() if v[0] != "D"}
    assert got == want


@SETTLE
@given(
    st.lists(
        st.lists(
            st.floats(
                min_value=-100, max_value=100,
                allow_nan=False, allow_infinity=False, width=32,
            ),
            min_size=1,
            max_size=6,
        ),
        min_size=1,
        max_size=12,
    )
)
def test_quantize_dequant_error_bound(spark, vecs):
    """Symmetric int8 quantization invariants: codes in [-127, 127], zero
    vectors -> zero scale and codes, and dequantization error per element
    is at most 0.5/scale (the rounding half-step)."""
    from fefal_etl_spark.llm.similarity import quantize_embeddings

    width = len(vecs[0])
    vecs = [v[:width] + [0.0] * (width - len(v)) for v in vecs]
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<double>",
    )
    out = {r["vec_id"]: r for r in quantize_embeddings(df).collect()}
    for i, v in enumerate(vecs):
        scale, q = out[i]["scale"], out[i]["q"]
        assert all(-127 <= c <= 127 for c in q)
        if max(abs(x) for x in v) == 0:
            assert scale == 0.0 and all(c == 0 for c in q)
            continue
        assert scale > 0
        for x, c in zip(v, q):
            assert abs(c / scale - x) <= 0.5 / scale + 1e-12


# word pool for similarity-join properties: small vocabulary forces real
# overlaps between generated docs
WORDS = st.lists(
    st.sampled_from(
        ["alpha", "beta", "gamma", "delta", "eps", "zeta", "eta", "theta",
         "iota", "kappa"]
    ),
    min_size=3,
    max_size=14,
)


@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(st.lists(WORDS, min_size=2, max_size=7))
def test_ppjoin_matches_bruteforce_jaccard(spark, docs):
    """PPJoin must return EXACTLY the pairs whose 3-gram shingle-set
    Jaccard clears the threshold — same result as brute-force all-pairs,
    for any corpus (100% recall AND precision)."""
    from fefal_etl_spark.llm.dedup import ppjoin_pairs

    texts = [" ".join(ws) for ws in docs]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ppjoin_pairs(df, "doc_id", "text", threshold=0.5).collect()
    }

    def shingle_set(ws):
        return {
            " ".join(ws[i : i + 3]) for i in range(len(ws) - 2)
        } if len(ws) >= 3 else set()

    expect = {}
    for i in range(len(docs)):
        for j in range(i + 1, len(docs)):
            a, b = shingle_set(docs[i]), shingle_set(docs[j])
            if not a or not b:
                continue
            jac = len(a & b) / len(a | b)
            # integer cross-multiply gate, exactly as the operator
            if len(a & b) * 1000 >= 500 * len(a | b):
                expect[(i, j)] = jac
    assert set(got) == set(expect)
    for k, v in expect.items():
        assert abs(got[k] - v) < 1e-12


@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(
    st.lists(st.tuples(st.integers(0, 8), st.integers(0, 99)),
             min_size=0, max_size=10),
    st.lists(st.tuples(st.integers(0, 8), st.integers(0, 99),
                       st.booleans()),
             min_size=0, max_size=10),
)
def test_merge_into_matches_dict_reference(spark, target_rows, source_rows):
    """merge_into == the obvious dict-based reference merge, for any
    target/source (unique keys enforced by construction)."""
    from fefal_etl_spark.operators.upsert import merge_into

    tgt = {k: v for k, v in target_rows}
    src = {}
    for k, v, d in source_rows:
        src[k] = (v, d)  # last wins -> unique keys
    target = spark.createDataFrame(
        [(k, v) for k, v in tgt.items()] or [(None, None)], "k long, v long"
    ).filter(F.col("k").isNotNull())
    source = spark.createDataFrame(
        [(k, v, d) for k, (v, d) in src.items()] or [(None, None, None)],
        "k long, v long, del boolean",
    ).filter(F.col("k").isNotNull())
    out = merge_into(
        target,
        source,
        on=["k"],
        update_cols=["v"],
        delete_condition=F.col("del"),
    ).collect()

    ref = dict(tgt)
    for k, (v, d) in src.items():
        if k in ref and d:
            del ref[k]          # WHEN MATCHED AND del THEN DELETE
        elif k in ref:
            ref[k] = v          # WHEN MATCHED THEN UPDATE
        else:
            ref[k] = v          # WHEN NOT MATCHED THEN INSERT
                                # (delete clause only applies on match)
    got = {r["k"]: r["v"] for r in out}
    assert got == ref


@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(st.lists(WORDS, min_size=1, max_size=5))
def test_cdc_chunks_partition_documents_exactly(spark, docs):
    """Chunks are a PARTITION of each document's words: word counts sum to
    the doc's token count and chunk ids are dense from 0."""
    from fefal_etl_spark.llm.curation import content_defined_chunks

    df = spark.createDataFrame(
        [(i, " ".join(ws)) for i, ws in enumerate(docs)],
        "doc_id long, text string",
    )
    rows = content_defined_chunks(df, "doc_id", "text").collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    for i, ws in enumerate(docs):
        chunks = by_doc.get(i, [])
        assert sum(c["n_words"] for c in chunks) == len(ws)
        ids = sorted(c["chunk_id"] for c in chunks)
        assert ids == list(range(len(ids)))


@given(
    pts=st.lists(
        st.tuples(
            st.floats(
                min_value=0.0,
                max_value=500.0,
                allow_nan=False,
                allow_infinity=False,
            ).map(lambda x: round(x, 1)),
            st.integers(min_value=0, max_value=40),
        ),
        min_size=1,
        max_size=60,
    )
)
@SETTLE
@pytest.mark.slow
def test_skyline_2d_matches_bruteforce(spark, pts):
    """operators.quality.skyline_2d (banded prune + running-min window)
    must equal the O(n²) domination definition for arbitrary point sets —
    duplicates, ties on either axis, single-band and cross-band layouts."""
    from fefal_etl_spark.operators.quality import skyline_2d

    def dominated(p, others):
        return any(
            q[0] <= p[0] and q[1] <= p[1] and (q[0] < p[0] or q[1] < p[1])
            for q in others
        )

    distinct = sorted(set(pts))
    expected = sorted(p for p in distinct if not dominated(p, distinct))
    df = spark.createDataFrame(pts, "x double, y int")
    got = sorted(
        (r["x"], r["y"]) for r in skyline_2d(df, "x", "y").collect()
    )
    assert got == expected


@given(
    edges=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=9),
            st.integers(min_value=0, max_value=9),
        ),
        min_size=1,
        max_size=25,
    ),
    hops=st.integers(min_value=1, max_value=4),
)
@SETTLE
@pytest.mark.slow
def test_bfs_levels_matches_python_bfs(spark, edges, hops):
    """operators.graph.bfs_levels must return exactly the textbook BFS
    levels (dict-based reference) for arbitrary small directed graphs,
    any max_hops, source fixed to node '0'."""
    from collections import deque

    from fefal_etl_spark.operators.graph import bfs_levels

    adj: dict[str, set[str]] = {}
    for a, b in edges:
        adj.setdefault(str(a), set()).add(str(b))
    expected = {"0": 0}
    dq = deque([("0", 0)])
    while dq:
        node, lvl = dq.popleft()
        if lvl >= hops:
            continue
        for nxt in adj.get(node, ()):
            if nxt not in expected:
                expected[nxt] = lvl + 1
                dq.append((nxt, lvl + 1))

    df = spark.createDataFrame(
        [(str(a), str(b)) for a, b in edges], "src string, dst string"
    )
    got = {
        r["node"]: r["level"]
        for r in bfs_levels(df, "0", max_hops=hops).collect()
    }
    assert got == expected


def test_png_roundtrip_property():
    """Property: encode_png → decode_png is the identity for ANY uint8
    RGB array (hypothesis over shapes and contents) — the codec-level
    guarantee the closed-form fixtures sample."""
    import numpy as np
    from hypothesis import given, settings
    from hypothesis import strategies as st
    from hypothesis.extra.numpy import arrays

    from fefal_etl_spark.llm.media_codecs import decode_png, encode_png

    @settings(max_examples=40, deadline=None)
    @given(
        st.integers(1, 9).flatmap(
            lambda h: st.integers(1, 9).flatmap(
                lambda w: arrays(np.uint8, (h, w, 3))
            )
        )
    )
    def roundtrip(arr):
        assert np.array_equal(decode_png(encode_png(arr)), arr)

    roundtrip()
