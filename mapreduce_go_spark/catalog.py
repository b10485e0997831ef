"""Catalog / SQL API surface.

The reference has no catalog — its only registry is a list of
intermediate file paths on the master (/root/reference/mr/master.go:36).
Here the fixture tables register as temp views so the full engine is
reachable through `spark.sql(...)` as well as the DataFrame API.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from mapreduce_go_spark import tables


def register_tables(spark: SparkSession, sf_dir: str,
                    prefix: str = "") -> list[str]:
    """Register every fixture table as a temp view named
    `<prefix><table>`; returns the view names."""
    names = []
    for t in tables.TABLES:
        name = f"{prefix}{t}"
        tables.load(spark, sf_dir, t).createOrReplaceTempView(name)
        names.append(name)
    return names


def sql(spark: SparkSession, sf_dir: str, query: str) -> DataFrame:
    """One-shot SQL entry point over the fixture catalog."""
    register_tables(spark, sf_dir)
    return spark.sql(query)


def register_udfs(spark: SparkSession) -> list[str]:
    """Expose the engine's text kernels as SQL functions (the analog
    of the reference's plugin registry, reachable from spark.sql).
    These are thin SQL-expression wrappers — they stay JVM-side and
    codegen-able, not Python UDFs."""
    # The token rule of functions.text (NON_LETTER_RE, "" dropped).
    from mapreduce_go_spark.functions.text import FP_WS, NON_LETTER_RE

    spark.sql(f"""
        CREATE OR REPLACE TEMPORARY FUNCTION mrgs_tokens(t STRING)
        RETURNS ARRAY<STRING>
        RETURN filter(split(t, '{NON_LETTER_RE}'), x -> x != '')
    """)
    spark.sql("""
        CREATE OR REPLACE TEMPORARY FUNCTION mrgs_token_count(t STRING)
        RETURNS INT RETURN size(mrgs_tokens(t))
    """)
    # Same explicit whitespace class as functions.text.fingerprint
    # (FP_WS) — bare \s+ would make the SQL twin diverge on \x0B.
    spark.sql(f"""
        CREATE OR REPLACE TEMPORARY FUNCTION mrgs_fingerprint(t STRING)
        RETURNS STRING
        RETURN md5(lower(trim(regexp_replace(t,
            '{FP_WS.replace(chr(92), chr(92) * 2)}', ' '))))
    """)
    from mapreduce_go_spark.operators.quality import (EMAIL_RE, IPV4_RE,
                                                      PHONE_RE)

    spark.sql(f"""
        CREATE OR REPLACE TEMPORARY FUNCTION mrgs_pii_redact(t STRING)
        RETURNS STRING
        RETURN regexp_replace(regexp_replace(regexp_replace(t,
            '{EMAIL_RE.replace(chr(92), chr(92) * 2)}', '<EMAIL>'),
            '{PHONE_RE.replace(chr(92), chr(92) * 2)}', '<PHONE>'),
            '{IPV4_RE.replace(chr(92), chr(92) * 2)}', '<IP>')
    """)
    from mapreduce_go_spark.operators.quality import REP_TOKEN_CAP

    # Token cap matches quality._toks (REP_TOKEN_CAP): bounds the
    # per-row lambda cost on pathological documents and keeps the SQL
    # function's verdict identical to repetition_stats' dup_3gram_frac.
    spark.sql(f"""
        CREATE OR REPLACE TEMPORARY FUNCTION mrgs_dup_3gram_frac(t STRING)
        RETURNS DOUBLE
        RETURN CASE WHEN size(slice(mrgs_tokens(t), 1, {REP_TOKEN_CAP})) >= 3
        THEN
            1.0 - size(array_distinct(transform(
                sequence(1, size(slice(mrgs_tokens(t), 1,
                                       {REP_TOKEN_CAP})) - 2),
                i -> concat_ws(' ',
                               slice(mrgs_tokens(t), 1,
                                     {REP_TOKEN_CAP})[i - 1],
                               slice(mrgs_tokens(t), 1,
                                     {REP_TOKEN_CAP})[i],
                               slice(mrgs_tokens(t), 1,
                                     {REP_TOKEN_CAP})[i + 1]))))
            / cast(size(slice(mrgs_tokens(t), 1, {REP_TOKEN_CAP})) - 2
                   AS double)
        ELSE 0.0 END
    """)
    return ["mrgs_tokens", "mrgs_token_count", "mrgs_fingerprint",
            "mrgs_pii_redact", "mrgs_dup_3gram_frac"]
