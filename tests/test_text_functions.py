"""Cross-engine non-ASCII tokenizer parity (the proof cited by
apps.py wordcount_unicode).

The reference's wc splits on `unicode.IsLetter`
(/root/reference/mrapps/wc.go:23-26); our Unicode variant uses \\p{L}
in BOTH engines — Java util.regex on the Spark side, RE2 on the DuckDB
oracle side. The two engines ship different Unicode table versions, so
agreement on non-ASCII text is an empirical claim, not a tautology:
this test pushes genuinely multilingual rows (CJK, Cyrillic, Greek,
Hebrew, Arabic, Hangul, Devanagari, accented Latin, modifier/ordinal
letters, ligatures, plus non-letter lookalikes — superscript digits,
Arabic-Indic digits, underscore, emoji) through BOTH tokenize+count
pipelines and diffs the full word->count maps. If either engine
upgrades its Unicode tables and a codepoint's Letter status drifts,
this fails loudly instead of silently skewing a 100 TB corpus.
"""

import duckdb
import pytest

from mapreduce_go_spark import runner
from mapreduce_go_spark.functions.text import (NON_LETTER_RE,
                                               UNICODE_NON_LETTER_RE,
                                               token_rows)
from pyspark.sql import functions as F

# Each row exercises a distinct tokenizer hazard; comments give the
# Unicode general category the case depends on.
ROWS = [
    (1, "Hello, world! Hello again"),                  # ASCII control row
    (2, "Привет мир Привет"),                          # Cyrillic (Ll/Lu)
    (3, "こんにちは世界 こんにちは"),                    # Hiragana+CJK (Lo)
    (4, "你好，世界。你好"),                            # CJK + fullwidth punct
    (5, "Grüße über Straße"),                          # Latin-1 letters + ß
    (6, "Καλημέρα κόσμε Καλημέρα"),                     # Greek
    (7, "שלום עולם שלום"),                             # Hebrew (RTL)
    (8, "مرحبا بالعالم مرحبا"),                        # Arabic (RTL, joining)
    (9, "안녕하세요 세계 안녕하세요"),                   # Hangul syllables
    (10, "नमस्ते दुनिया नमस्ते"),                       # Devanagari + combining
    (11, "ª2º m² x_y ٤٥ a٤b"),                         # Lo ordinals are
                                                       # letters; ²/٤/_ are NOT
    (12, "ʰello ﬁre ﬁre"),                             # Lm modifier, ﬁ (Ll)
    (13, "naïve café naïve 😀 café"),                  # combining-free accents
                                                       # + emoji separator
    (14, "Ａｂｃ Ａｂｃ ｄｅｆ"),                        # fullwidth Latin (L*)
    (15, ""),                                          # empty text
    (16, " ,.;!? -- "),                                # separators only
    (17, "...edge words, edge!!"),                     # leading/trailing
                                                       # separators
    (18, "12345 678"),                                 # digits only
]


def _spark_counts(spark, pattern):
    df = spark.createDataFrame(ROWS, ["doc_id", "text"])
    return {
        (r.word, r.cnt)
        for r in token_rows(df, alias="word", pattern=pattern)
        .groupBy("word")
        .agg(F.count("*").alias("cnt"))
        .collect()
    }


def _duck_counts(pattern):
    con = duckdb.connect()
    con.execute("CREATE TABLE t (doc_id INT, text VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?, ?)", ROWS)
    rows = con.execute(
        f"""
        SELECT word, count(*) AS cnt
        FROM (SELECT unnest(regexp_split_to_array(text, '{pattern}'))
                  AS word FROM t)
        WHERE word <> '' GROUP BY word
        """
    ).fetchall()
    con.close()
    return set(rows)


@pytest.mark.parametrize("pattern", [UNICODE_NON_LETTER_RE, NON_LETTER_RE],
                         ids=["unicode_pL", "ascii"])
def test_tokenizer_cross_engine_parity_non_ascii(spark, pattern):
    s, d = _spark_counts(spark, pattern), _duck_counts(pattern)
    assert s == d, {"spark_only": sorted(s - d)[:10],
                    "duck_only": sorted(d - s)[:10]}
    if pattern == NON_LETTER_RE:
        seq = runner.run_sequential([(str(i), t) for i, t in ROWS],
                                    runner.wc_map, runner.wc_reduce)
        assert s == {(w, int(c)) for w, c in seq}


def test_unicode_letter_semantics(spark):
    """Pin the IsLetter boundary itself (not just engine agreement):
    ordinal/modifier/fullwidth letters ARE tokens; digits (ASCII,
    superscript, Arabic-Indic), underscore, and emoji are SEPARATORS —
    matching Go unicode.IsLetter (/root/reference/mrapps/wc.go:23-26)."""
    words = {w for (w, _) in _spark_counts(spark, UNICODE_NON_LETTER_RE)}
    assert {"ª", "º", "m", "ʰello", "ﬁre", "Ａｂｃ", "ｄｅｆ",
            "naïve", "café", "Straße"} <= words
    assert {w for w in words if any(c in w for c in "²٤٥_😀2")} == set()
    # the Arabic-Indic digit splits a͏٤b into two tokens
    assert {"a", "b"} <= words


def test_text_stats_tolerate_degenerate_docs(spark, monkeypatch):
    """r14 review (all four reproduced live): a digits-only, empty,
    or whitespace-only document made token_stats / bpe_token_stats /
    quality_score abort under the session's ANSI mode
    (DIVIDE_BY_ZERO) and killed arrow_text_stats' Python worker (NaN
    -> int64 cast), while every oracle defines NULL for the
    unjudgeable ratio. The fixtures carry no such docs, which is why
    these survived thirteen rounds — pin them on a synthetic tiny
    corpus."""
    from mapreduce_go_spark import tables as tables_mod
    from mapreduce_go_spark.operators import textstats as ts

    tiny = spark.createDataFrame(
        [(1, "12345 678!"), (2, ""), (3, "  \t  "),
         (4, "plain words here")],
        "doc_id long, text string")
    monkeypatch.setattr(tables_mod, "load",
                        lambda spark_, sf_, name: tiny)

    r = {x.doc_id: x for x in ts.token_stats(spark, "i").collect()}
    assert r[1].mean_tok_len is None and r[4].mean_tok_len is not None

    r = {x.doc_id: x for x in ts.bpe_token_stats(spark, "i").collect()}
    assert r[3].fertility is None and r[4].fertility is not None

    r = {x.doc_id: x for x in ts.quality_score(spark, "i").collect()}
    assert r[1].stop_ratio is None and r[1].quality is None
    assert r[2].alpha_ratio is None and r[2].quality is None
    assert r[4].quality is not None

    r = {x.doc_id: x for x in ts.arrow_text_stats(spark, "i").collect()}
    assert r[2].letter_ratio_micro is None
    assert r[4].letter_ratio_micro is not None


def test_fingerprint_normalizes_edge_whitespace_uniformly(spark, duck):
    """r14 review: trim() strips SPACES only, so the old
    trim-then-collapse order left a trailing tab/newline behind as a
    stray single space — 'hello\\n' and 'hello' fingerprinted
    differently. Collapse-then-trim makes every edge-whitespace
    variant (and the SQL twin) agree."""
    from mapreduce_go_spark.functions.text import fingerprint

    df = spark.createDataFrame(
        [(1, "hello world"), (2, "hello world\n"), (3, "\thello world "),
         (4, " hello\tworld\r\n")],
        "doc_id long, text string")
    fps = {r.fp for r in
           df.select(fingerprint(F.col("text")).alias("fp")).collect()}
    assert len(fps) == 1, fps
    sql_fp = duck.execute(
        "select md5(lower(trim(regexp_replace('hello world\n', "
        "'[ \\t\\n\\x0B\\f\\r]+', ' ', 'g'))))").fetchone()[0]
    assert fps == {sql_fp}
