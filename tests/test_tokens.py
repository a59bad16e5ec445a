"""functions/tokens.py: every text key's Spark form equals its DuckDB
twin row for row, and no other package file re-spells a key."""

from __future__ import annotations

import pathlib
import re

import duckdb
import pandas as pd
import pytest
from pyspark.sql import functions as F

from ecommerce_data_engineering_spark.functions import tokens as T

from .oracle import compare

TEXTS = [
    "",
    None,
    "\t\t\x0b  ",
    "a\x0bb",                               # Java \s matches \x0B, RE2 \s does not
    "x\u00a0y\u00a0\u00a0z",                # NBSP is whitespace in neither engine
    "  a\t\x0b\x0c\r\nb c\t\td  ",
    "Café RÉSUMÉ naïve Ünïcödé façade",     # Latin-1 accents
    "我是 的 中文 了 在",                          # CJK
    "hello,,, world!!! ... ;; ?!",          # punctuation runs
    "a b",                                  # shorter than every n below
    "one two three",                        # CHUNK_WORDS - 1 words
    "one two three four",                   # CHUNK_WORDS words
    "a b c d e f g h i",                    # 2 * CHUNK_WORDS + 1 words
    "The the THE quick brown fox the quick brown fox 42 7x9",
    "it's \"quoted\" -- dash_underscore 3.14",
]
NGRAM_WIDTHS = (3, 8)
CHUNK_WORDS = 4


def _duck(exprs: list[str]) -> list[tuple]:
    """``exprs`` per text in TEXTS order; ``w`` is the words array."""
    con = duckdb.connect()
    con.register("documents", pd.DataFrame(
        {"id": range(len(TEXTS)), "text": TEXTS}))
    return [tuple(r[1:]) for r in con.execute(
        f"SELECT id, {', '.join(exprs)} FROM"
        f" (SELECT *, {T.words_sql('text')} AS w FROM documents)"
        f" ORDER BY id").fetchall()]


def _spark(spark, cols) -> list[tuple]:
    """``cols`` per text in TEXTS order; ``w`` is the words array."""
    df = (spark.createDataFrame(list(enumerate(TEXTS)), "id int, text string")
          .withColumn("w", T.words(F.col("text"))))
    return [tuple(r[1:]) for r in
            df.select("id", *cols).orderBy("id").collect()]


def test_spark_forms_equal_duckdb_twins(spark):
    text = F.col("text")
    # Spark n-gram callers guard size(w) >= n (sequence(0, -1) counts
    # down); DuckDB's form yields [] below n
    spark_rows = _spark(spark, [
        T.words(text), F.expr(T.words_expr("text")), T.ws_words(text),
        T.spaced_words(text), T.content_text(text), T.content_key(text),
        T.bpe_token_count(text).cast("long"),
        F.expr(T.chunks_expr("w", CHUNK_WORDS)),
        *[F.expr(f"CASE WHEN size(w) >= {n} THEN {T.ngrams_expr('w', n)} END")
          for n in NGRAM_WIDTHS]])
    duck_rows = _duck([
        T.words_sql("text"), T.words_sql("text"), T.ws_words_sql("text"),
        T.spaced_words_sql("text"), T.content_text_sql("text"),
        T.content_key_sql("text"), T.bpe_token_count_sql("text"),
        T.chunks_sql("w", CHUNK_WORDS),
        *[T.ngrams_sql("w", n) for n in NGRAM_WIDTHS]])
    k = len(NGRAM_WIDTHS)
    for text_, s, d in zip(TEXTS, spark_rows, duck_rows):
        assert s[:-k] == d[:-k], text_
        words = s[0]
        assert s[-k - 1] == [" ".join(words[i:i + CHUNK_WORDS]) for i in
                             range(0, len(words or ()) - CHUNK_WORDS + 1,
                                   CHUNK_WORDS)], text_
        for n, sg, dg in zip(NGRAM_WIDTHS, s[-k:], d[-k:]):
            if words is None:
                assert sg is None and dg is None, text_
            elif len(words) < n:
                assert sg is None and dg == [], text_
            else:
                assert sg == dg == [" ".join(words[i:i + n])
                                    for i in range(len(words) - n + 1)], text_
    # the Column and SQL-text Spark spellings are one expression
    df = spark.createDataFrame([(0, "x")], "id int, text string")
    assert df.select(T.words(text)).sameSemantics(
        df.select(F.expr(T.words_expr("`text`"))))


def test_oracles_count_java_whitespace(spark, tmp_path):
    """Every registered query whose oracle splits on whitespace or
    counts BPE-ish tokens agrees with its Spark plan on \\x0B, which
    Java's \\s matches and RE2's does not.  The last two documents
    differ only in \\x0B against a space, so their content
    fingerprints collapse to one leakage-split group."""
    from ecommerce_data_engineering_spark.plans import REGISTRY

    def salad(i):   # enough distinct words to pass the Gopher gate
        return " ".join(f"word{i}x{j}" for j in range(60))

    heads = ["a\x0bb", "x\x0b\x0b!", "plain", "7\x0b8 9", "\x0bq\x0b",
             "tab\there", "r\x0cs", "end", "a\x0b b", "a  b"]
    rows = [(i, f"{h} {salad(i if i < 8 else 8)}", "en", f"src{i % 3}", 0)
            for i, h in enumerate(heads)]
    sf = str(tmp_path)
    (spark.createDataFrame(rows, "doc_id long, text string, lang string,"
                                 " source string, n_chars long")
     .write.parquet(f"{sf}/documents.parquet"))
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS "
                f"SELECT * FROM '{sf}/documents.parquet/*.parquet'")
    problems = []
    for name in ("text_token_counts", "corpus_token_histogram",
                 "corpus_sequence_packing", "corpus_greedy_packing",
                 "corpus_mix_rebalance", "corpus_curation_funnel",
                 "corpus_leakage_safe_split"):
        spec = REGISTRY[name]
        problems += compare(spec.fn(spark, sf),
                            con.execute(spec.oracle).fetchdf(), name)
    assert not problems, "\n".join(problems)
    dup = REGISTRY["corpus_leakage_safe_split"].fn(spark, sf).agg(
        F.sum("n_dup_docs")).first()[0]
    assert dup == 2


PACKAGE = pathlib.Path(__file__).resolve().parents[1] / \
    "ecommerce_data_engineering_spark"
RESPELLINGS = {
    "word_tokenizer": re.escape("[^a-z0-9]+"),
    # md5(lower(trim(...))), or split over an alias: lower(trim(<the
    # document text>)) AS t, then md5(t)
    "content_key": r"md5\((F\.)?lower\((F\.)?trim\("
                   r"|lower\((F\.)?trim\((F\.col\()?`?text(_col)?\b"
                   r"|md5\((F\.col\()?[\"']?t[\"']?\)",
    "bpe_pattern": re.escape("[a-zA-Z]+|[0-9]"),
    "whitespace_class": r"\\s",
    "whitespace_split": r"string_split\(|regexp_split_to_array\("
                        r"|split\([^()]*(\([^()]*\))?[^()]*,\s*['\"] ['\"]\)",
    "ngram_subscript": r"\[i\s*\+\s*(\d+|\{k\})\]",
    "chunk_slice": r"\[\(i\s*\*[^\]]*\+\s*1\)\s*:"
                   r"|slice\([^,]*,\s*\(i\s*-\s*1\)\s*\*",
}


@pytest.mark.parametrize("key", sorted(RESPELLINGS))
def test_no_key_spelled_outside_tokens_module(key):
    pattern = re.compile(RESPELLINGS[key])
    hits = [f"{p.relative_to(PACKAGE)}:{i}: {line.strip()}"
            for p in sorted(PACKAGE.rglob("*.py"))
            if p.relative_to(PACKAGE).as_posix() != "functions/tokens.py"
            for i, line in enumerate(p.read_text().splitlines(), 1)
            if pattern.search(line)]
    assert not hits, f"{key} spelled outside functions/tokens.py:\n" + \
        "\n".join(hits)
    assert pattern.search(
        (PACKAGE / "functions" / "tokens.py").read_text()), key
