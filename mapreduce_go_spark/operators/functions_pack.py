"""Scalar/window function coverage packs (SURVEY §2.4 D15/D16 depth):
extended window statistics, string functions, date functions, null
semantics, and TF-IDF.

Cross-engine notes baked into each query:
- percent_rank/cume_dist are exact rationals of row counts — engine-
  identical without rounding tricks.
- dayofweek: Spark is 1=Sunday, DuckDB extract(dow) is 0=Sunday; the
  oracle shifts by one.
- ln() inputs are identical doubles; a last-ulp libm divergence is
  theoretically possible, bounded by dround(…, 6).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from mapreduce_go_spark import tables
from mapreduce_go_spark.functions.num import dround, dround_sql
from mapreduce_go_spark.functions.text import NON_LETTER_RE, token_rows

TFIDF_TOP_K = 3


def window_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D15 depth: dense_rank / percent_rank / ntile / cume_dist /
    first_value in one window pass. percent_rank/cume_dist round on
    the 1e6 integer grid, not via dround: their rationals (k/(n-1),
    k/n) can land shortest-repr midpoints at the 7th decimal where
    the decimal(18,6) cast diverges cross-engine, while grid()'s
    half-integer argument is exactly representable so round() agrees
    (the window_navigation / quality_probe lesson); m/1e6 is then the
    same IEEE division in both engines."""
    o = tables.load(spark, sf_dir, "orders")
    from mapreduce_go_spark.functions.num import grid

    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), "o_orderkey")
    micro = lambda c: (grid(c, 10**6) / F.lit(1_000_000.0))  # noqa: E731
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.dense_rank().over(w).alias("drank"),
        micro(F.percent_rank().over(w)).alias("prank"),
        F.ntile(4).over(w).alias("quartile"),
        micro(F.cume_dist().over(w)).alias("cdist"),
        F.first_value(F.col("o_orderkey")).over(w).alias("top_order"),
    )


def scalar_strings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D16 string pack: regexp_extract, pads, reverse, repeat, split
    indexing, translate."""
    p = tables.load(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.regexp_extract("p_type", r"^(\w+)", 1).alias("type_head"),
        F.lpad("p_brand", 12, "#").alias("brand_lpad"),
        F.rpad("p_brand", 12, ".").alias("brand_rpad"),
        F.reverse(F.col("p_name")).alias("name_rev"),
        F.repeat(F.lit("ab"), 3).alias("abab"),
        F.element_at(F.split("p_name", " "), 1).alias("name_first"),
        F.translate("p_brand", "#B", "-b").alias("brand_tr"),
    )


def scalar_dates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D16 date pack: extract parts, datediff, add_months, last_day,
    quarter, dayofweek (normalized)."""
    o = tables.load(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.year("o_orderdate").alias("y"),
        F.month("o_orderdate").alias("m"),
        F.dayofmonth("o_orderdate").alias("d"),
        F.quarter("o_orderdate").alias("q"),
        F.dayofweek("o_orderdate").alias("dow"),
        F.datediff(F.to_date("o_orderdate"), F.lit("1995-01-01").cast("date"))
        .alias("days_since_95"),
        F.add_months(F.to_date("o_orderdate"), 3).alias("plus3m"),
        F.last_day("o_orderdate").alias("month_end"),
    )


def null_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null semantics: nullif / coalesce / null-safe equality /
    null-aware counting."""
    c = tables.load(spark, sf_dir, "customer")
    seg_or_null = F.nullif(F.col("c_mktsegment"), F.lit("BUILDING"))
    return c.select(
        "c_custkey",
        seg_or_null.alias("seg_nullable"),
        F.coalesce(seg_or_null, F.lit("(suppressed)")).alias("seg_filled"),
        seg_or_null.eqNullSafe(F.lit("AUTOMOBILE")).alias("is_auto_nullsafe"),
        seg_or_null.isNull().alias("was_building"),
    )


def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D19: TF-IDF, top-3 terms per document. tf and df are exact
    integers; idf = ln(N/df) on identical doubles. N rides the plan as
    a broadcast 1-row aggregate (no eager driver-side action — the query
    stays a single lazily-composable plan and the corpus scans once
    per term pass, not once extra for the scalar). The tf x df join is
    NOT force-broadcast: df is one row per distinct token, which grows
    with the corpus (typos, URLs, ids) — a forced broadcast OOMs the
    driver at exactly the scale this module documents; AQE still
    broadcasts while it fits (the r10 tpch/dedup lesson)."""
    docs = tables.load(spark, sf_dir, "documents")
    n = docs.agg(F.count("*").cast("double").alias("n_docs"))
    tok = token_rows(docs, "doc_id")
    tf = tok.groupBy("doc_id", "tok").agg(F.count("*").alias("tf"))
    df = tf.groupBy("tok").agg(F.count("*").alias("df"))
    w = Window.partitionBy("doc_id").orderBy(
        F.col("tfidf").desc(), F.col("tok"))
    return (
        tf.join(df, "tok")
        .crossJoin(F.broadcast(n))
        .withColumn(
            "tfidf",
            dround(F.col("tf") * F.log(F.col("n_docs") / F.col("df")), 6),
        )
        .withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= TFIDF_TOP_K)
        .select("doc_id", "tok", "tfidf", "rk")
    )


def nested_array_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D16/D20: higher-order functions over arrays of structs — build
    each customer's order history as an array, then filter/transform/
    aggregate it IN PLACE (no extra explode+shuffle round trip). The
    oracle computes the same facts relationally, pinning the HOF
    semantics."""
    o = tables.load(spark, sf_dir, "orders")
    hist = o.groupBy(F.col("o_custkey").alias("c")).agg(
        F.sort_array(
            F.collect_list(F.struct("o_orderkey", "o_totalprice"))
        ).alias("orders")
    )
    totals = F.transform(F.col("orders"), lambda x: x["o_totalprice"])
    return hist.select(
        F.col("c").alias("custkey"),
        F.size("orders").alias("n_orders"),
        F.size(
            F.filter(F.col("orders"), lambda x: x["o_totalprice"] > 200000)
        ).alias("n_big"),
        dround(F.array_max(totals), 2).alias("max_total"),
        F.element_at(F.col("orders"), 1)["o_orderkey"].alias("first_order"),
        F.exists(
            F.col("orders"), lambda x: x["o_totalprice"] < 50000
        ).alias("has_small"),
    )


QUERIES = {
    "nested_array_ops": nested_array_ops,
    "window_stats": window_stats,
    "scalar_strings": scalar_strings,
    "scalar_dates": scalar_dates,
    "null_semantics": null_semantics,
    "tfidf_top_terms": tfidf_top_terms,
}

ORACLES = {
    "nested_array_ops": f"""
        SELECT o_custkey AS custkey,
               count(*) AS n_orders,
               cast(sum(CASE WHEN o_totalprice > 200000 THEN 1 ELSE 0 END)
                    AS int) AS n_big,
               {dround_sql('max(o_totalprice)')} AS max_total,
               min(o_orderkey) AS first_order,
               bool_or(o_totalprice < 50000) AS has_small
        FROM orders GROUP BY o_custkey
    """,
    "window_stats": f"""
        SELECT o_custkey, o_orderkey,
               dense_rank() OVER w AS drank,
               round(percent_rank() OVER w * 1000000) / 1000000.0 AS prank,
               ntile(4) OVER w AS quartile,
               round(cume_dist() OVER w * 1000000) / 1000000.0 AS cdist,
               first_value(o_orderkey) OVER w AS top_order
        FROM orders
        WINDOW w AS (PARTITION BY o_custkey
                     ORDER BY o_totalprice DESC, o_orderkey)
    """,
    "scalar_strings": r"""
        SELECT p_partkey,
               regexp_extract(p_type, '^(\w+)', 1) AS type_head,
               lpad(p_brand, 12, '#') AS brand_lpad,
               rpad(p_brand, 12, '.') AS brand_rpad,
               reverse(p_name) AS name_rev,
               repeat('ab', 3) AS abab,
               string_split(p_name, ' ')[1] AS name_first,
               translate(p_brand, '#B', '-b') AS brand_tr
        FROM part
    """,
    "scalar_dates": """
        SELECT o_orderkey,
               cast(year(o_orderdate) AS int) AS y,
               cast(month(o_orderdate) AS int) AS m,
               cast(day(o_orderdate) AS int) AS d,
               cast(quarter(o_orderdate) AS int) AS q,
               cast(dayofweek(o_orderdate) + 1 AS int) AS dow,
               cast(datediff('day', date '1995-01-01',
                             cast(o_orderdate AS date)) AS int)
                   AS days_since_95,
               cast(cast(o_orderdate AS date) + INTERVAL 3 MONTH AS date)
                   AS plus3m,
               cast(last_day(cast(o_orderdate AS date)) AS date) AS month_end
        FROM orders
    """,
    "null_semantics": """
        SELECT c_custkey,
               nullif(c_mktsegment, 'BUILDING') AS seg_nullable,
               coalesce(nullif(c_mktsegment, 'BUILDING'), '(suppressed)')
                   AS seg_filled,
               nullif(c_mktsegment, 'BUILDING') IS NOT DISTINCT FROM
                   'AUTOMOBILE' AS is_auto_nullsafe,
               nullif(c_mktsegment, 'BUILDING') IS NULL AS was_building
        FROM customer
    """,
    "tfidf_top_terms": f"""
        WITH tok AS (
            SELECT doc_id,
                   unnest(regexp_split_to_array(text, '{NON_LETTER_RE}'))
                       AS tok
            FROM documents
        ),
        tf AS (SELECT doc_id, tok, count(*) AS tf FROM tok
               WHERE tok <> '' GROUP BY doc_id, tok),
        df AS (SELECT tok, count(*) AS df FROM tf GROUP BY tok),
        n AS (SELECT count(*) AS n_docs FROM documents),
        scored AS (
            SELECT tf.doc_id, tf.tok,
                   {dround_sql('tf.tf * ln(cast(n.n_docs AS double) / df.df)', 6)}
                       AS tfidf
            FROM tf JOIN df USING (tok) CROSS JOIN n
        )
        SELECT doc_id, tok, tfidf, rk
        FROM (SELECT *, row_number() OVER (PARTITION BY doc_id
                                           ORDER BY tfidf DESC, tok) AS rk
              FROM scored)
        WHERE rk <= {TFIDF_TOP_K}
    """,
}
