"""Warehouse-maintenance operators: SCD2 dimension build, MERGE-style
upsert, and the JSONL interchange round-trip.

Reference analog: none — the reference (s09g/mapreduce-go, 1,020 LoC)
emits append-only "%v %v" text (/root/reference/mr/worker.go:92-98);
these are the mutation-shaped jobs a warehouse on top of an immutable
lake actually runs: history-preserving dimension rebuilds (SCD type 2),
CDC batch application (the Delta/Iceberg MERGE INTO shape, expressed as
a plain full-outer join so it runs on stock Spark), and the JSONL
export/import every training-data pipeline uses as its interchange
format.

Scale posture:
- scd2_user_dim: ONE exchange on user_id; every window in the query
  shares the same (user_id; event-time, event_id) partitioning+order,
  so Catalyst plans a single Sort and the change-detection filter and
  interval windows reuse it (asserted in tests/test_plans.py). State
  per task is one partition's rows — no global window anywhere.
- merge_upsert_customers: the change batch is derived by an aggregate
  over orders (map-side combinable), then ONE shuffle of each side on
  the merge key into a full-outer sort-merge join. At 100 TB both
  sides land on the canonical bucketed layouts (joins.py) and the
  exchanges disappear; the change batch is never collected or
  broadcast (a CDC day can be arbitrarily large).
- jsonl_roundtrip: write is Spark's task-commit protocol (F13 — the
  atomic replacement for the reference's temp-file+rename,
  /root/reference/mr/worker.go:96-97,154-155); read is schema-explicit
  (never inferSchema — that is a second full scan). JSON-lines is
  splittable, so both directions parallelize per-file/per-split.

Determinism: SCD2 ordering carries the (ts, event_id) unique tiebreak
(windows.py discipline); merge amounts go through the num.dsum exact
decimal accumulation; the JSONL round-trip is byte-exact for the
fixture schema (long/string columns; Spark writes UTF-8 JSON, reads it
back with the explicit schema).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from mapreduce_go_spark import tables
from mapreduce_go_spark.functions.num import dround, dround_sql, dsum, dsum_sql
from mapreduce_go_spark.workspace import materialize_once

# MERGE fixture CDC rules (deterministic functions of the key so the
# oracle reproduces them): every 97th active customer is a delete,
# every 53rd also yields an insert under a surrogate key far above the
# base key range (production would allocate surrogates; the offset
# keeps fixture semantics collision-free at any sf we test).
MERGE_DELETE_MOD = 97
MERGE_INSERT_MOD = 53
MERGE_INSERT_OFFSET = 10_000_000


def scd2_user_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension type 2 over the event stream: per
    user, collapse consecutive equal `event_type` runs into validity
    intervals [eff_from, eff_to) with a version number and an
    is_current flag — the history-preserving dimension build.

    Shape: change detection is lag() over (user_id; ts, event_id);
    interval construction is lead()/row_number() over the SAME
    partitioning and a prefix-compatible order, so the whole query is
    one exchange on user_id (plan-asserted). No state beyond one
    user's rows exists anywhere — at 100 TB this is a pure shuffle-
    and-sort pass, and a skewed power user is bounded by that user's
    own event count (AQE skew handling applies to the exchange).
    """
    ev = tables.load(spark, sf_dir, "events")
    # NULL ts rows are excluded up front: Spark's ASC window order
    # puts NULLs FIRST, DuckDB's puts them LAST, so a NULL-ts event
    # would shift every version/eff_to on one engine only — the
    # dedup_first_event guard (r15), applied here by the r16 review.
    # An event with no timestamp carries no validity information for
    # an interval build anyway.
    ev = ev.where(F.col("ts").isNotNull())
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    changes = (
        ev.select("user_id", "event_type", "ts", "event_id")
        .withColumn("prev", F.lag("event_type").over(w))
        .where(F.col("prev").isNull()
               | (F.col("prev") != F.col("event_type")))
    )
    # the interval windows reuse w verbatim: the "SAME partitioning,
    # prefix-compatible order" single-exchange invariant is
    # structural, not a convention two copies must uphold
    return (
        changes.select(
            "user_id",
            F.col("event_type").alias("attr"),
            F.col("ts").alias("eff_from"),
            F.lead("ts").over(w).alias("eff_to"),
            F.row_number().over(w).cast("long").alias("version"),
            F.lead("ts").over(w).isNull().alias("is_current"),
        )
    )


def merge_upsert_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO expressed on stock Spark: apply a CDC batch (derived
    deterministically from orders — per-customer exact spend) onto the
    customer snapshot via ONE full-outer join on the key. Matched
    updates take the CDC amount, matched deletes drop the row,
    unmatched inserts append under surrogate keys, untouched base rows
    pass through — the four MERGE arms as one CASE over the join.

    A real CDC feed is deduplicated to latest-per-key first (the
    dedup_first_event window shape); here the batch is unique per key
    by construction. The batch is never collected or broadcast: at
    100 TB it shuffles on the merge key like any fact, and both sides
    land on the canonical bucketed layouts to erase the exchanges.
    Amounts use num.dsum (exact decimal accumulation; dround_wide at
    scales where a customer's total exceeds decimal(18,6) range).
    """
    cust = tables.load(spark, sf_dir, "customer")
    agg = (
        tables.load(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(dsum(F.col("o_totalprice")).alias("spend"))
    )
    updates = agg.select(
        F.col("o_custkey").alias("key"),
        F.when(F.col("o_custkey") % MERGE_DELETE_MOD == 0, F.lit("D"))
        .otherwise(F.lit("U")).alias("op"),
        F.col("spend").alias("new_bal"),
    )
    inserts = agg.where(
        F.col("o_custkey") % MERGE_INSERT_MOD == 0
    ).select(
        (F.col("o_custkey") + MERGE_INSERT_OFFSET).alias("key"),
        F.lit("I").alias("op"),
        F.col("spend").alias("new_bal"),
    )
    batch = updates.unionByName(inserts)
    joined = cust.join(
        batch, cust["c_custkey"] == batch["key"], "full_outer")
    return (
        joined.where(F.coalesce(F.col("op"), F.lit("")) != F.lit("D"))
        .select(
            F.coalesce(F.col("c_custkey"), F.col("key")).alias("custkey"),
            F.coalesce(
                F.col("c_name"),
                F.format_string("NEW Customer#%d", F.col("key")),
            ).alias("name"),
            F.when(F.col("op").isin("U", "I"), F.col("new_bal"))
            .otherwise(dround(F.col("c_acctbal"))).alias("acctbal"),
            F.coalesce(F.col("c_mktsegment"), F.lit("UNKNOWN"))
            .alias("segment"),
            F.when(F.col("op") == "I", F.lit("inserted"))
            .when(F.col("op") == "U", F.lit("updated"))
            .otherwise(F.lit("kept")).alias("action"),
        )
    )


def jsonl_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Export the corpus to JSON-lines through the task-commit writer,
    read it back with an explicit schema, return the rows — the
    interchange round-trip is its own integrity check (the oracle is
    the identity query on the source table, so any value the format
    mangles fails the differential). The export is a session artifact;
    JSONL is splittable so the re-read parallelizes per-split
    regardless of file count.
    """
    from mapreduce_go_spark.sources import io

    cols = ["doc_id", "lang", "source", "n_chars", "text"]
    out = materialize_once(
        spark, "jsonl", sf_dir, "",
        lambda p: io.write_json(
            tables.load(spark, sf_dir, "documents").select(*cols), p))
    schema = ("doc_id long, lang string, source string, "
              "n_chars long, text string")
    return io.read_json(spark, out, schema).select(*cols)


def orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC interchange round-trip (the jsonl_roundtrip discipline on
    the other columnar format Spark ships a native vectorized
    reader/writer for): export orders through the task-commit writer,
    read it back, return the rows — the oracle is the identity query
    on the source table, so any value the format mangles (decimal
    scale, timestamp zone, nulls) fails the differential. ORC stripes
    are splittable and carry min/max indexes, so the re-read
    parallelizes and filter-prunes like parquet; sources/io.read_orc
    is the library entry."""
    from mapreduce_go_spark.sources import io

    cols = ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
            "o_orderdate", "o_orderpriority"]
    out = materialize_once(
        spark, "orc", sf_dir, "",
        lambda p: io.write_orc(
            tables.load(spark, sf_dir, "orders").select(*cols), p))
    return io.read_orc(spark, out).select(*cols)


def csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV interchange round-trip with the quoting path genuinely
    exercised: the fixture text contains no commas or quotes, so a
    plain dump would never leave the fast path — instead a derived
    `tricky` column embeds both a comma and a double-quote per row,
    forcing RFC 4180 quote-wrapping + quote-doubling on write and the
    inverse on read (escape='\"' — Spark's default backslash escape is
    NOT the RFC dialect most CSV consumers expect). Identity oracle:
    the same derived string computed straight from the source table,
    so any mangling (lost quote, split field, header drift) fails the
    differential."""
    from mapreduce_go_spark.sources import io

    def derive(df: DataFrame) -> DataFrame:
        return df.select(
            "doc_id", "lang", "source", "n_chars",
            F.concat(F.col("lang"), F.lit(',"'),
                     F.col("source"), F.lit('" v'),
                     F.col("n_chars").cast("string")).alias("tricky"),
        )

    out = materialize_once(
        spark, "csv", sf_dir, "",
        lambda p: io.write_csv(
            derive(tables.load(spark, sf_dir, "documents")), p))
    schema = ("doc_id long, lang string, source string, "
              "n_chars long, tricky string")
    return (io.read_csv(spark, out, schema)
            .select("doc_id", "lang", "source", "n_chars", "tricky"))


QUERIES = {
    "scd2_user_dim": scd2_user_dim,
    "merge_upsert_customers": merge_upsert_customers,
    "jsonl_roundtrip": jsonl_roundtrip,
    "orc_roundtrip": orc_roundtrip,
    "csv_roundtrip": csv_roundtrip,
}

ORACLES = {
    "scd2_user_dim": """
        WITH ordered AS (
            SELECT user_id, event_type, ts, event_id,
                   lag(event_type) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                   ) AS prev
            FROM events
            WHERE ts IS NOT NULL
        ),
        chg AS (
            SELECT user_id, event_type AS attr, ts AS eff_from,
                   event_id
            FROM ordered
            WHERE prev IS NULL OR prev <> event_type
        )
        SELECT user_id, attr, eff_from,
               lead(eff_from) OVER (
                   PARTITION BY user_id ORDER BY eff_from, event_id
               ) AS eff_to,
               row_number() OVER (
                   PARTITION BY user_id ORDER BY eff_from, event_id
               ) AS version,
               lead(eff_from) OVER (
                   PARTITION BY user_id ORDER BY eff_from, event_id
               ) IS NULL AS is_current
        FROM chg
    """,
    "merge_upsert_customers": f"""
        WITH agg AS (
            SELECT o_custkey, {dsum_sql('o_totalprice')} AS spend
            FROM orders GROUP BY o_custkey
        ),
        batch AS (
            SELECT o_custkey AS key,
                   CASE WHEN o_custkey % {MERGE_DELETE_MOD} = 0
                        THEN 'D' ELSE 'U' END AS op,
                   spend AS new_bal
            FROM agg
            UNION ALL
            SELECT o_custkey + {MERGE_INSERT_OFFSET}, 'I', spend
            FROM agg WHERE o_custkey % {MERGE_INSERT_MOD} = 0
        )
        SELECT coalesce(c_custkey, key) AS custkey,
               coalesce(c_name,
                        format('NEW Customer#{{}}', key)) AS name,
               CASE WHEN op IN ('U', 'I') THEN new_bal
                    ELSE {dround_sql('c_acctbal')} END AS acctbal,
               coalesce(c_mktsegment, 'UNKNOWN') AS segment,
               CASE WHEN op = 'I' THEN 'inserted'
                    WHEN op = 'U' THEN 'updated'
                    ELSE 'kept' END AS action
        FROM customer FULL OUTER JOIN batch ON c_custkey = key
        WHERE coalesce(op, '') <> 'D'
    """,
    "jsonl_roundtrip": """
        SELECT doc_id, lang, source, n_chars, text FROM documents
    """,
    "orc_roundtrip": """
        SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
               o_orderdate, o_orderpriority
        FROM orders
    """,
    "csv_roundtrip": """
        SELECT doc_id, lang, source, n_chars,
               lang || ',"' || source || '" v'
                    || cast(n_chars AS varchar) AS tricky
        FROM documents
    """,
}
