"""Text keys shared by every text, dedup and curation plan and its
DuckDB oracle — each defined once per engine.

A key is a Spark form plus its DuckDB SQL twin (``words``/``words_sql``
pair the way ``rounding.pround``/``pround_sql`` do).  Spark forms come
as Columns or, for plans built with one ``F.expr`` parse, as Spark SQL
text (``*_expr``).  The twins agree row for row, NULL included
(tests/test_tokens.py); no other module spells these patterns.

- word tokens: lowercase, split on ``[^a-z0-9]+``, empties dropped —
  the tokenizer of shingling, SimHash, quality and Gopher rules;
- whitespace tokens: split on Java's ``\\s`` class, spelled out as
  ``[ \\t\\n\\x0B\\f\\r]`` because DuckDB's RE2 ``\\s`` omits ``\\x0B``;
- single-space words: split on ``' '``, empties dropped (chunk dedup);
- content text and key: ``lower(trim(text))`` and its md5 (exact
  dedup, char-gram fingerprints);
- word n-grams over a words array (Spark subscripts are 0-based,
  DuckDB's 1-based);
- non-overlapping n-word chunks over a words array (chunk dedup);
- BPE-ish token count: ASCII letter runs, single digits and single
  other non-whitespace chars.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F

_WORD_BREAK = "[^a-z0-9]+"
# Java regex \s (default flags) as class members; RE2 reads the same
# escapes, so one spelling serves both engines
_WS = r" \t\n\x0B\f\r"
_WS_CHARS = " \t\n\x0b\x0c\r"          # the same six chars, for translate
WS_RUN = f"[{_WS}]+"
BPE_ISH_PATTERN = f"[a-zA-Z]+|[0-9]|[^a-zA-Z0-9{_WS}]"
_ASCII_LETTERS = "abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ"


# ------------------------------------------------------------ word tokens

def words(text: Column) -> Column:
    """Lowercase ``[^a-z0-9]+`` word tokens, empties dropped."""
    return F.filter(F.split(F.lower(text), _WORD_BREAK), lambda x: x != "")


def words_expr(text: str) -> str:
    """:func:`words` as Spark SQL text over the SQL expression ``text``."""
    return f"filter(split(lower({text}), '{_WORD_BREAK}'), x -> x != '')"


def words_sql(text: str) -> str:
    """DuckDB twin of :func:`words`."""
    return (f"list_filter(regexp_split_to_array(lower({text}), "
            f"'{_WORD_BREAK}'), x -> x <> '')")


# ----------------------------------------------------- whitespace tokens

def ws_words(text: Column) -> Column:
    """Tokens between runs of Java ``\\s`` whitespace, empties dropped."""
    return F.filter(F.split(text, WS_RUN), lambda x: x != "")


def ws_words_sql(text: str) -> str:
    """DuckDB twin of :func:`ws_words`."""
    return (f"list_filter(regexp_split_to_array({text}, '{WS_RUN}'),"
            f" x -> x <> '')")


def spaced_words(text: Column) -> Column:
    """Tokens between single spaces, empties dropped: tabs and other
    whitespace stay inside a word."""
    return F.filter(F.split(text, " "), lambda x: x != "")


def spaced_words_sql(text: str) -> str:
    """DuckDB twin of :func:`spaced_words`."""
    return f"list_filter(string_split({text}, ' '), x -> x <> '')"


# ------------------------------------------------------------ content key

def content_text(text: Column) -> Column:
    """The lowercased, space-trimmed text."""
    return F.lower(F.trim(text))


def content_text_sql(text: str) -> str:
    """DuckDB twin of :func:`content_text`."""
    return f"lower(trim({text}))"


def content_key(text: Column) -> Column:
    """md5 of the :func:`content_text`."""
    return F.md5(content_text(text))


def content_key_sql(text: str) -> str:
    """DuckDB twin of :func:`content_key`."""
    return f"md5({content_text_sql(text)})"


# ------------------------------------------------------------ word n-grams

def ngrams_expr(w: str, n: int) -> str:
    """Spark SQL text: the space-joined ``n``-grams of the words array
    ``w``, in order, duplicates kept.  Requires ``size(w) >= n``:
    Spark's ``sequence(0, -1)`` counts down, so callers guard."""
    terms = ", ".join(f"{w}[i+{k}]" for k in range(n))
    return (f"transform(sequence(0, size({w}) - {n}),"
            f" i -> concat_ws(' ', {terms}))")


def ngrams_sql(w: str, n: int) -> str:
    """DuckDB twin of :func:`ngrams_expr`; an array shorter than ``n``
    gives ``[]``."""
    terms = " || ' ' || ".join(f"{w}[i+{k}]" for k in range(n))
    return (f"list_transform(generate_series(1, len({w}) - {n - 1}),"
            f" i -> {terms})")


# ----------------------------------------------------- word chunks

def chunks_expr(w: str, n: int) -> str:
    """Spark SQL text: the words array ``w`` cut into consecutive
    non-overlapping ``n``-word chunks, each space-joined; a trailing
    remainder shorter than ``n`` is dropped, and an array shorter than
    ``n`` (or NULL) gives ``[]``.  Spark's ``sequence(1, 0)`` is
    ``[1, 0]`` (it infers step -1 when start > stop), hence the guard."""
    return (f"CASE WHEN size({w}) >= {n} THEN"
            f" transform(sequence(1, CAST(floor(size({w}) / {n}) AS INT)),"
            f" i -> array_join(slice({w}, (i - 1) * {n} + 1, {n}), ' '))"
            f" ELSE CAST(array() AS array<string>) END")


def chunks_sql(w: str, n: int) -> str:
    """DuckDB twin of :func:`chunks_expr`."""
    return (f"CASE WHEN len({w}) >= {n} THEN"
            f" list_transform(range(CAST(floor(len({w}) / {n}) AS BIGINT)),"
            f" i -> array_to_string({w}[(i*{n}+1):(i*{n}+{n})], ' '))"
            f" ELSE [] END")


# ------------------------------------------------------ BPE-ish token count

def bpe_token_count(text: Column) -> Column:
    """``size(regexp_extract_all(text, BPE_ISH_PATTERN, 0))`` without
    materializing any match.

    The pattern's three alternatives partition every character of the
    input: ASCII letter runs count once per RUN, while digits and
    chars that are neither ASCII-alphanumeric nor Java ``\\s``
    whitespace count once per CHAR.  So the token count decomposes
    into one greedy-run ``regexp_count`` (one matcher find per letter
    run instead of one per token) plus ``translate``/``length``
    arithmetic (non-regex scans, no per-match substring allocation).
    Bit-equal to the extract-all form on every string —
    hypothesis-pinned — and ~1.5× cheaper on the 64× corpus, where the
    tokenizer is ~0.7 of the packing query's whole wall
    (evidence/PACKING_DECOMP.json, last present at commit a27ea52).
    Costs ~0.1 s MORE than extract-all at sf0.1, where fixed per-plan
    cost dominates and the
    extract-all's allocations are too few to matter — a deliberate
    scale-over-microbenchmark trade.  Counting the single-char classes
    with a second ``regexp_count('[^a-zA-Z\\s]')`` instead is 9×
    WORSE at 64× (~22 s vs ~2.4: one matcher find per punctuation/
    digit char), which is why the singles come from translate
    arithmetic.
    """
    # digits and "other" chars both count one token per CHAR, so they
    # merge into n_singles = chars that are neither ASCII letters nor
    # Java \s — two translate scans, the digit translate cancels:
    #   n_singles = L − n_ws − n_letters
    #             = len(sans_ws) + len(sans_letters) − L
    n = F.length(text)
    sans_letters = F.length(F.translate(text, _ASCII_LETTERS, ""))
    sans_ws = F.length(F.translate(text, _WS_CHARS, ""))
    n_letter_runs = F.regexp_count(text, F.lit(r"[a-zA-Z]+"))
    return n_letter_runs + sans_ws + sans_letters - n


def bpe_token_count_sql(text: str) -> str:
    """DuckDB twin of :func:`bpe_token_count`."""
    return f"len(regexp_extract_all({text}, '{BPE_ISH_PATTERN}'))"
