"""App-library parity queries (SURVEY §2.2): the reference's shipped
Map/Reduce plugins re-expressed as declarative DataFrame plans.

The `documents` fixture table stands in for the Gutenberg corpus
(FIXTURES.md): `source` plays the filename role, `text` the contents.

Scale notes (100 TB posture):
- wordcount / indexer are pure explode → hash-aggregate pipelines:
  map-side partial aggregation (which the reference lacks — no
  combiner, SURVEY §2.3) collapses the shuffle to ~|vocab| rows.
- the holistic collect_list reducers (indexer doc lists, crash
  payload) are kept only where the reference's output semantics
  demand a full sorted value list; their per-key state is bounded by
  |documents per word| — the skew story is AQE skew-join + salting,
  documented in SURVEY §4.3.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mapreduce_go_spark import tables
from mapreduce_go_spark.functions.text import (NON_LETTER_RE,
                                               UNICODE_NON_LETTER_RE,
                                               token_rows)


def wordcount(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1 wc: per-word counts, letters-only tokens, case-sensitive.

    Parity: /root/reference/mrapps/wc.go:21-34 (map = FieldsFunc on
    IsLetter), :41-44 (reduce = count). The algebraic reducer upgrades
    to a partial+final hash aggregate — no collect_list.
    """
    docs = tables.load(spark, sf_dir, "documents")
    return (
        token_rows(docs, alias="word")
        .groupBy("word")
        .agg(F.count("*").alias("cnt"))
    )


def wordcount_unicode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1 wc, full-Unicode token parity.

    The reference splits on `unicode.IsLetter`
    (/root/reference/mrapps/wc.go:23-26) — ANY Unicode letter starts a
    token, not just ASCII. `wc` pins the ASCII subset (byte-exact on
    the fixtures); this variant uses \\p{L}, the behavior a
    multilingual corpus gets from the reference. Identical plan shape:
    explode -> partial+final hash aggregate. Cross-engine non-ASCII
    agreement is proven in tests/test_text_functions.py.
    """
    docs = tables.load(spark, sf_dir, "documents")
    return (
        token_rows(docs, alias="word", pattern=UNICODE_NON_LETTER_RE)
        .groupBy("word")
        .agg(F.count("*").alias("cnt"))
    )


def inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2 indexer: word -> (document frequency, sorted csv of docs).

    Parity: /root/reference/mrapps/indexer.go:20-31 (per-doc dedup via
    a set before emit), :36-39 (reduce = "%d %s" count + sorted
    comma-join). The per-doc dedup is `.distinct()` BEFORE the group —
    the same shuffle-reduction trick the reference does map-side.
    """
    docs = tables.load(spark, sf_dir, "documents")
    word_doc = (
        token_rows(docs, F.col("source").alias("doc"), alias="word")
        .distinct()
    )
    return word_doc.groupBy("word").agg(
        F.count("*").alias("df"),
        F.array_join(F.sort_array(F.collect_set("doc")), ",").alias("docs"),
    )


# Document-frequency cap for the scalable indexer: fixture-calibrated
# to 390 of 500 docs so the drop path is exercised (top terms hit df
# 391-402); in production set to ~0.1% of the corpus — terms above it
# are stop-words whose posting lists are the one unbounded per-key
# state in the index (SCALE.md "collect_list reducers").
INDEXER_DF_CAP = 390


def indexer_df_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2-scale: inverted index with a document-frequency cap.

    Closes the SCALE.md honest gap: the plain indexer's posting list
    for a stop-word grows with the corpus (unbounded per-key state at
    100 TB). This variant computes df FIRST (algebraic partial+final
    count — tiny shuffle), drops over-cap terms, and only then builds
    posting lists for survivors — the giant lists are never
    materialized, unlike a HAVING filter after collect. Both
    aggregations and the join share the `word` hash partitioning, so
    the filter costs no extra exchange of the big side.
    """
    docs = tables.load(spark, sf_dir, "documents")
    word_doc = (
        token_rows(docs, "doc_id", alias="word")
        .distinct()
    )
    eligible = (
        word_doc.groupBy("word")
        .agg(F.count("*").alias("df"))
        .where(F.col("df") <= INDEXER_DF_CAP)
    )
    return (
        word_doc.join(eligible, "word")
        .groupBy("word")
        .agg(
            F.max("df").alias("df"),
            F.array_join(
                F.transform(F.sort_array(F.collect_set("doc_id")),
                            lambda c: c.cast("string")),
                ",",
            ).alias("docs"),
        )
    )


def crash_payload(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5/A6 crash|nocrash payload: per-file metadata rows fanned out to
    four fixed keys, reduced to sorted space-joined value lists.

    Parity: /root/reference/mrapps/crash.go:34-43 (map emits
    (a,filename) (b,len(filename)) (c,len(contents)) (d,"xyzzy")),
    :45-55 (reduce = sort values, space-join). The crash *behavior*
    itself maps to Spark task retry, exercised in tests/test_faults.py.
    """
    docs = tables.load(spark, sf_dir, "documents")
    pairs = docs.select(
        F.explode(
            F.array(
                F.struct(F.lit("a").alias("k"), F.col("source").alias("v")),
                # octet_length, not length: the reference's Go len()
                # counts BYTES (crash.go:34-43); the char count is the
                # same warc body_len char-vs-byte latent fixed in r11,
                # invisible here only because the fixture is ASCII and
                # the old oracle shared the bug (r14 review)
                F.struct(F.lit("b").alias("k"),
                         F.octet_length("source").cast("string")
                         .alias("v")),
                F.struct(F.lit("c").alias("k"),
                         F.octet_length("text").cast("string")
                         .alias("v")),
                F.struct(F.lit("d").alias("k"), F.lit("xyzzy").alias("v")),
            )
        ).alias("p")
    ).select(F.col("p.k").alias("k"), F.col("p.v").alias("v"))
    return pairs.groupBy("k").agg(
        F.array_join(F.sort_array(F.collect_list("v")), " ").alias("vals")
    )


def formatted_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F9 text-sink parity: the "%v %v" per-key output line format.

    Parity: /root/reference/mr/worker.go:92-98 (fprintf "%v %v\\n").
    Materialized as a one-column DataFrame of formatted lines; the
    file write itself is `df.write.text`, whose task-commit protocol
    replaces the reference's temp-file+rename idiom (worker.go:96-97).
    """
    wc = wordcount(spark, sf_dir)
    return wc.select(
        F.format_string("%s %d", F.col("word"), F.col("cnt")).alias("line")
    )


QUERIES = {
    "wc": wordcount,
    "wc_unicode": wordcount_unicode,
    "indexer": inverted_index,
    "indexer_df_capped": indexer_df_capped,
    "crash_payload": crash_payload,
    "formatted_sink": formatted_sink,
}

ORACLES = {
    "wc": f"""
        SELECT word, count(*) AS cnt
        FROM (SELECT unnest(regexp_split_to_array(text, '{NON_LETTER_RE}')) AS word
              FROM documents)
        WHERE word <> ''
        GROUP BY word
    """,
    "wc_unicode": f"""
        SELECT word, count(*) AS cnt
        FROM (SELECT unnest(regexp_split_to_array(text,
                  '{UNICODE_NON_LETTER_RE}')) AS word
              FROM documents)
        WHERE word <> ''
        GROUP BY word
    """,
    "indexer": f"""
        WITH word_doc AS (
            SELECT DISTINCT source AS doc,
                   unnest(regexp_split_to_array(text, '{NON_LETTER_RE}')) AS word
            FROM documents
        )
        SELECT word, count(*) AS df,
               string_agg(doc, ',' ORDER BY doc) AS docs
        FROM word_doc WHERE word <> '' GROUP BY word
    """,
    "indexer_df_capped": f"""
        WITH word_doc AS (
            SELECT DISTINCT doc_id,
                   unnest(regexp_split_to_array(text, '{NON_LETTER_RE}'))
                       AS word
            FROM documents
        ),
        dfs AS (
            SELECT word, count(*) AS df FROM word_doc
            WHERE word <> '' GROUP BY word
            HAVING count(*) <= {INDEXER_DF_CAP}
        )
        SELECT word, df,
               string_agg(cast(doc_id AS varchar), ',' ORDER BY doc_id)
                   AS docs
        FROM word_doc JOIN dfs USING (word)
        GROUP BY word, df
    """,
    "crash_payload": """
        WITH pairs AS (
            SELECT 'a' AS k, source AS v FROM documents
            UNION ALL SELECT 'b', cast(octet_length(encode(source)) AS varchar)
                FROM documents
            UNION ALL SELECT 'c', cast(octet_length(encode(text)) AS varchar)
                FROM documents
            UNION ALL SELECT 'd', 'xyzzy' FROM documents
        )
        SELECT k, string_agg(v, ' ' ORDER BY v) AS vals FROM pairs GROUP BY k
    """,
    "formatted_sink": f"""
        SELECT word || ' ' || cast(cnt AS varchar) AS line
        FROM (SELECT word, count(*) AS cnt
              FROM (SELECT unnest(regexp_split_to_array(text, '{NON_LETTER_RE}')) AS word
                    FROM documents)
              WHERE word <> '' GROUP BY word)
    """,
}
