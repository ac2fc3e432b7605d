"""Text scalar functions (SURVEY.md §2.9 F1–F7, X1–X2).

All are pure ``Column -> Column`` expression factories — they stay inside
whole-stage codegen (no Python boundary). The only optional Python path is
``normalize_text_udf`` (Arrow-vectorized pandas UDF) for exact full-Unicode
accent-strip parity; the default ``strip_accents`` translate table covers the
Latin repertoire the reference's pt-PT data uses.

Reference semantics being reproduced (citations into /root/reference):
- ``normalize_text``: strip → unidecode → collapse whitespace → lower
  (etl_ui.py:322-331; shadowed earlier def at 28-34).
- ``remove_prefixes``: strip Portuguese entity prefixes via two anchored
  regexes, then trim (etl_ui.py:52-56; patterns at 22-25).
- ``extract_content_in_brackets``: first ``[...]`` group trimmed, else the
  whole trimmed string (etl_ui.py:57-62).
- sentence split regex (etl_ui.py:486-492).
"""

from __future__ import annotations

import re
import unicodedata

from pyspark.sql import Column
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# F1 normalize_text
# ---------------------------------------------------------------------------

# Latin accent repertoire (Latin-1 Supplement + Latin Extended-A, pt-PT first).
_ACCENTED = (
    "áàâãäåāăąéèêëēĕėęěíìîïĩīĭįóòôõöōŏőøúùûüũūŭůűųýÿñçćčĉċďđğĝġģĥśŝşšţťŧźżžĺľłńņňŕŗřŵŷ"
    "ÁÀÂÃÄÅĀĂĄÉÈÊËĒĔĖĘĚÍÌÎÏĨĪĬĮÓÒÔÕÖŌŎŐØÚÙÛÜŨŪŬŮŰŲÝŸÑÇĆČĈĊĎĐĞĜĠĢĤŚŜŞŠŢŤŦŹŻŽĹĽŁŃŅŇŔŖŘŴŶ"
)
_PLAIN = (
    "aaaaaaaaaeeeeeeeeeiiiiiiiiooooooooouuuuuuuuuuyyncccccddgggghsssstttzzzlllnnnrrrwy"
    "AAAAAAAAAEEEEEEEEEIIIIIIIIOOOOOOOOOUUUUUUUUUUYYNCCCCCDDGGGGHSSSSTTTZZZLLLNNNRRRWY"
)
assert len(_ACCENTED) == len(_PLAIN)


def ws_trim(col: Column) -> Column:
    """Full-whitespace trim — Python ``str.strip()`` parity. Spark/SQL
    ``trim`` strips ONLY spaces (0x20); the reference strips all whitespace
    (found by property testing: ``normalize_text('\\n')`` must be '')."""
    return F.regexp_replace(col, r"^\s+|\s+$", "")


def strip_accents(col: Column) -> Column:
    """Accent removal via a char-translate table (JVM-side, codegen-friendly).

    Covers the Latin-script repertoire; characters outside the table pass
    through unchanged (use :func:`normalize_text_udf` for full-Unicode parity
    with ``unidecode``).
    """
    return F.translate(col, _ACCENTED, _PLAIN)


def normalize_text(col: Column) -> Column:
    """strip → strip accents → collapse whitespace → lowercase; NULL → ''.

    Mirrors the reference's ``normalize_text`` (etl_ui.py:322-331), which
    returns "" for non-strings/NULL.
    """
    out = F.lower(F.regexp_replace(strip_accents(ws_trim(col)), r"\s+", " "))
    return F.coalesce(out, F.lit(""))


_PY_ACCENTS = str.maketrans(_ACCENTED, _PLAIN)


def _py_strip_accents(text: str) -> str:
    # The Spark table first, then NFKD-decompose and drop combining marks:
    # NFKD does not decompose ø đ ŧ ł (and capitals), which the table maps;
    # past the table it is unidecode-equivalent for Latin scripts
    # (unidecode additionally transliterates non-Latin scripts, which the
    # reference's pt-PT data never contains).
    return "".join(
        ch
        for ch in unicodedata.normalize("NFKD", text.translate(_PY_ACCENTS))
        if not unicodedata.combining(ch)
    )


def py_normalize_text(text: object) -> str:
    r"""Driver-side twin of :func:`normalize_text` (for column-name metadata
    ops, which operate on Python strings, and for tests). Equal to it on
    the accent table's characters, ASCII and ASCII whitespace. Known
    differences past those: NFKD also strips marks and compatibility forms
    the table lacks (``ǹ`` → ``n``, ``ﬁ`` → ``fi``, ``²`` → ``2``), and
    Python strips and collapses Unicode whitespace (``\xa0``, ``\u2003``,
    ``\x1c``-``\x1f``), where Spark's ``\s`` is ASCII only."""
    if not isinstance(text, str) or not text.strip():
        return ""
    text = _py_strip_accents(text.strip())
    return re.sub(r"\s+", " ", text).lower()


# Java's ``\s`` and ``.``: ASCII whitespace, and any character but a line
# terminator
_JAVA_WS = " \t\n\x0b\x0c\r"
_BRACKETS = re.compile(r"\[([^\n\r\x85\u2028\u2029]*?)\]")


def py_extract_brackets(text: object) -> str:
    """Driver-side twin of :func:`extract_content_in_brackets` for column-name
    metadata ops (etl_ui.py:57-62), with Java's regex semantics: a bracket
    group spans no line terminator, and only ASCII whitespace is
    trimmed."""
    m = _BRACKETS.search(str(text))
    return (m.group(1) if m else str(text)).strip(_JAVA_WS)


def normalize_text_udf():
    """Arrow-vectorized pandas UDF with full-Unicode accent handling (X1).

    The slow-path parity option; prefer :func:`normalize_text` in hot paths.
    """
    import pandas as pd  # noqa: F401
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import StringType

    @pandas_udf(StringType())
    def _norm(s):
        return s.map(py_normalize_text)

    return _norm


# ---------------------------------------------------------------------------
# F2 remove_prefixes
# ---------------------------------------------------------------------------

# Anchored prefix patterns (reference etl_ui.py:22-25). Applied to
# *already normalized* text, as in the reference (etl_ui.py:52-56 normalizes
# first), so only lowercase unaccented forms need matching.
ENTITY_PREFIX_PATTERNS = (
    r"^\s*(municipio|camara municipal|cm|c m)(\s+(de|do|da|dos|das))?\s+",
    r"^\s*(freguesia|junta de freguesia|uniao de freguesias|uniao das freguesias)(\s+(de|do|da|dos|das))?\s+",
)


def remove_entity_prefixes(col: Column) -> Column:
    """normalize → strip each entity prefix → trim (etl_ui.py:52-56)."""
    out = normalize_text(col)
    for pat in ENTITY_PREFIX_PATTERNS:
        out = F.regexp_replace(out, pat, "")
    return ws_trim(out)


# ---------------------------------------------------------------------------
# F3 extract_content_in_brackets
# ---------------------------------------------------------------------------


def extract_content_in_brackets(col: Column) -> Column:
    """First ``[...]`` group trimmed; if no match, the whole trimmed string.

    Matches etl_ui.py:57-62 including the no-match fallback returning the
    *original* (trimmed) text. An empty bracket pair ``[]`` yields ''.
    """
    extracted = F.regexp_extract(col, r"\[(.*?)\]", 1)
    has_match = col.rlike(r"\[.*?\]")
    return F.when(has_match, ws_trim(extracted)).otherwise(ws_trim(col))


# ---------------------------------------------------------------------------
# F4 composite key
# ---------------------------------------------------------------------------


def entity_key(name_norm: Column, type_norm: Column) -> Column:
    """``name || '||' || type`` composite join key (etl_ui.py:92-93)."""
    return F.concat_ws("||", name_norm, type_norm)


# ---------------------------------------------------------------------------
# F5 header cleanup, F6 truncate, F7 keyword containment
# ---------------------------------------------------------------------------


def clean_header(col: Column) -> Column:
    """trim + newline→space (etl_ui.py:225-226, 502-503)."""
    return F.regexp_replace(ws_trim(col), r"\n", " ")


def truncate_ellipsis(col: Column, max_len: int = 70) -> Column:
    """Display truncation with '...' suffix (etl_ui.py:1518-1519)."""
    return F.when(
        F.length(col) > max_len, F.concat(F.substring(col, 1, max_len), F.lit("..."))
    ).otherwise(col)


def contains_any(col: Column, keywords: list[str]) -> Column:
    """True if the (normalized) column contains any keyword
    (etl_ui.py:259-261, 1053, 1700-1703)."""
    if not keywords:
        return F.lit(False)
    pattern = "|".join(re.escape(k) for k in keywords)
    return normalize_text(col).rlike(pattern)


# ---------------------------------------------------------------------------
# X2 sentence split (reference split_coments, etl_ui.py:486-492)
# ---------------------------------------------------------------------------

# Reference regex: r'(?<=[.!?;/|])\s+|,\s+(?=[A-ZÁÉÍÓÚÂÊÎÔÛÃÕÇ])'
# Java regex supports lookaround, so the exact pattern runs JVM-side.
SENTENCE_SPLIT_REGEX = r"(?<=[.!?;/|])\s+|,\s+(?=[A-ZÁÉÍÓÚÂÊÎÔÛÃÕÇ])"


def split_sentences(col: Column) -> Column:
    """Array of trimmed non-empty sentences (etl_ui.py:486-492).

    NULL/blank input → empty array (the reference returns []).
    """
    parts = F.split(ws_trim(col), SENTENCE_SPLIT_REGEX)
    cleaned = F.filter(
        F.transform(parts, lambda s: ws_trim(s)), lambda s: s != F.lit("")
    )
    return F.when(ws_trim(col) == "", F.array().cast("array<string>")).otherwise(
        F.coalesce(cleaned, F.array().cast("array<string>"))
    )


def split_sentences_portable(col: Column) -> Column:
    """Lookaround-free equivalent used when the plan must also be expressible
    in RE2-based engines (e.g. a DuckDB oracle): rewrite delimiters to a
    sentinel char, then split on it. Semantics match :func:`split_sentences`
    for texts not containing the sentinel (U+0007)."""
    # NB: in the reference regex the comma is part of the split match and is
    # therefore *dropped*, while the [.!?;/|] delimiters survive (lookbehind).
    s = F.regexp_replace(ws_trim(col), r"([.!?;/|])\s+", "$1\x07")
    s = F.regexp_replace(s, r",\s+([A-ZÁÉÍÓÚÂÊÎÔÛÃÕÇ])", "\x07$1")
    parts = F.split(s, "\x07")
    cleaned = F.filter(F.transform(parts, lambda x: ws_trim(x)), lambda x: x != F.lit(""))
    return F.when(ws_trim(col) == "", F.array().cast("array<string>")).otherwise(
        F.coalesce(cleaned, F.array().cast("array<string>"))
    )
