"""Join family (SURVEY §2.4 D9-D12): inner/outer/semi/anti/broadcast
plus a TPC-H-shaped multi-join.

The reference composes joins from its primitives as the classic
repartition join — two tagged inputs shuffled on the join key, reduce
pairing the groups (SURVEY §2.4 D9, over F3/F7/F8). Declarative
`df.join` lets Catalyst/AQE pick broadcast-hash vs sort-merge at
runtime instead of hard-coding the reduce-side pairing.

Scale notes:
- region/nation are broadcast ALWAYS (bounded cardinality).
- fact-fact joins (orders x lineitem) shuffle on the join key; AQE
  skew-join splits hot keys (session.py turns it on).
- semi/anti compile to existence joins — no payload columns shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mapreduce_go_spark import tables
from mapreduce_go_spark.functions.num import dsum, dsum_sql, grid
from mapreduce_go_spark.workspace import artifact_path


def join_inner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D9: TPC-H Q3-shaped inner join — revenue of BUILDING-segment
    orders not yet shipped at the cutoff."""
    c = tables.load(spark, sf_dir, "customer")
    o = tables.load(spark, sf_dir, "orders")
    li = tables.load(spark, sf_dir, "lineitem")
    return (
        c.where(F.col("c_mktsegment") == "BUILDING")
        .join(o, F.col("c_custkey") == F.col("o_custkey"))
        .where(F.col("o_orderdate") < "1998-03-15")
        .join(li, F.col("o_orderkey") == F.col("l_orderkey"))
        .where(F.col("l_shipdate") > "1998-03-15")
        .groupBy("o_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")))
            .alias("revenue")
        )
    )


BUCKETS = 8


# Canonical bucketed layouts — ONE bucketed copy per fact table,
# carrying the union of columns every co-located join needs (scans
# still prune to each query's subset). At 100 TB the bucketed layout
# is a curated asset amortized across queries; two queries requesting
# different column subsets must NOT silently materialize (or worse,
# silently share) divergent copies — the layout name is keyed by
# (table, key, cols), so a mismatched request is a distinct table.
LINEITEM_BUCKET_COLS = [
    "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount",
    "l_quantity", "l_returnflag",
    "l_shipdate"]                  # widened r8: q18/q21, then q3 twins
ORDERS_BUCKET_COLS = [
    "o_orderkey", "o_custkey", "o_orderdate", "o_totalprice",
    "o_orderstatus",
    "o_orderpriority"]             # widened r8: q21, then q3 twins


def _bucketed_table(spark: SparkSession, sf_dir: str, table: str,
                    key: str, cols: list[str]) -> DataFrame:
    """A bucketed+sorted copy of `table` on `key`, written by the
    first call of the session and reused by every later one: the
    one-time shuffle of the write is amortized over every co-located
    join that reads it, which is the whole point of the 100 TB
    bucketed layout. (The write is a side effect of first construction;
    bench's min-of-3 keeps it out of steady-state timings.)

    The copy is a session artifact whose directory name is also its
    catalog table name. Bucketing metadata needs a catalog table
    (saveAsTable), so the copy keeps its own check instead of
    workspace.materialize_once: the catalog saying the table exists is
    trusted only if the backing files do too (_SUCCESS present) — a
    vanished path drops the stale catalog entry and rewrites instead
    of silently scanning an empty external table."""
    import os

    path = artifact_path(spark, f"{table}_bucketed", sf_dir,
                         "|".join([key, *cols]))
    name = os.path.basename(path)
    files_ok = os.path.exists(os.path.join(path, "_SUCCESS"))
    exists = spark.catalog.tableExists(name)  # one catalog RPC
    if exists and files_ok:
        return spark.table(name)
    if exists:
        spark.sql(f"DROP TABLE IF EXISTS {name}")
    (tables.load(spark, sf_dir, table).select(*cols)
     .write.bucketBy(BUCKETS, key).sortBy(key)
     .option("path", path).mode("overwrite").saveAsTable(name))
    return spark.table(name)


def join_inner_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D9 on the co-located layout (closes SCALE.md's "bucketed joins
    proven in tests only" gap): orders x lineitem where BOTH sides are
    bucketed AND sorted on the join key, and the aggregation groups on
    that same key — the entire join+agg plan needs NO Exchange (asserted
    in tests/test_plans.py). This is the repeated-fact-fact-join layout
    at 100 TB: one bucketed write amortized over every downstream join."""
    li = _bucketed_table(spark, sf_dir, "lineitem", "l_orderkey",
                         LINEITEM_BUCKET_COLS)
    od = _bucketed_table(spark, sf_dir, "orders", "o_orderkey",
                         ORDERS_BUCKET_COLS)
    return (
        li.join(od, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_orderkey")
        .agg(
            F.count("*").alias("n_items"),
            F.max("o_totalprice").alias("o_totalprice"),
            dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")))
            .alias("revenue"),
        )
    )


def join_left_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D10: left outer — every customer with 1995 order count and
    spend, zero-filled for customers with no 1995 order. Scoped like
    join_anti: EVERY fixture customer has some order, so the unscoped
    form degenerated to an inner join and the zero-fill branch was
    never exercised by the differential test (the fb12460
    vacuously-green class, r15 review; 34/326/3305 zero-filled rows
    at sf0.001/0.01/0.1 with the 1995 scope)."""
    c = tables.load(spark, sf_dir, "customer")
    o = tables.load(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= "1995-01-01")
        & (F.col("o_orderdate") < "1996-01-01")
    )
    return (
        c.join(o, F.col("c_custkey") == F.col("o_custkey"), "left")
        .groupBy("c_custkey", "c_name")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            F.coalesce(dsum(F.col("o_totalprice")), F.lit(0.0)).alias("spend"),
        )
    )


def join_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D10b: full outer — per (user_id, day) error-event count vs
    signup-event count, zero-filled on both sides. Until r15 this was
    customer-vs-supplier per nationkey, which is VACUOUS on every
    fixture: all 25 nations carry both sides, so the plan degenerated
    to an inner join and none of the three coalesce branches was ever
    exercised by the differential test (the fb12460 vacuously-green
    class). (user, day) slices of two sparse event types populate all
    three branches at every scale (error-only/signup-only/both:
    105/102/54 at sf0.001 ... 10205/10533/5774 at sf0.1)."""
    ev = tables.load(spark, sf_dir, "events")
    day = F.to_date(F.date_trunc("day", F.col("ts")))
    e = (
        ev.where(F.col("event_type") == "error")
        .groupBy(F.col("user_id").alias("eu"), day.alias("ed"))
        .agg(F.count("*").alias("n_err"))
    )
    g = (
        ev.where(F.col("event_type") == "signup")
        .groupBy(F.col("user_id").alias("su"), day.alias("sd"))
        .agg(F.count("*").alias("n_signup"))
    )
    return (
        e.join(g, (F.col("eu") == F.col("su"))
               & (F.col("ed") == F.col("sd")), "full")
        .select(
            F.coalesce("eu", "su").alias("user_id"),
            F.coalesce("ed", "sd").alias("day"),
            F.coalesce("n_err", F.lit(0)).alias("n_err"),
            F.coalesce("n_signup", F.lit(0)).alias("n_signup"),
        )
    )


def join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D11a: left semi — customers having at least one 1995 order.
    Existence join: only c_custkey shuffles, no order payload."""
    c = tables.load(spark, sf_dir, "customer")
    o = tables.load(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= "1995-01-01")
        & (F.col("o_orderdate") < "1996-01-01")
    )
    return c.join(
        o, F.col("c_custkey") == F.col("o_custkey"), "left_semi"
    ).select("c_custkey", "c_name", "c_mktsegment")


def join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D11b: left anti — customers with no 1995 order (every fixture
    customer has SOME order, so the unscoped variant is vacuous)."""
    c = tables.load(spark, sf_dir, "customer")
    o = tables.load(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= "1995-01-01")
        & (F.col("o_orderdate") < "1996-01-01")
    )
    return c.join(
        o, F.col("c_custkey") == F.col("o_custkey"), "left_anti"
    ).select("c_custkey", "c_name")


def join_broadcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D12: map-side join — dims explicitly broadcast (the reference
    idiom of a map task holding a small table in memory, SURVEY §2.4
    D12). nation/region never justify a shuffle at any scale."""
    s = tables.load(spark, sf_dir, "supplier")
    n = tables.load(spark, sf_dir, "nation")
    r = tables.load(spark, sf_dir, "region")
    return (
        s.join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .select("s_suppkey", "s_name", "n_name", "r_name")
    )


def local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D9/D12 composition: TPC-H Q5-shaped — revenue from orders where
    the supplier is in the customer's nation, per nation in ASIA.
    Fact-fact joins shuffle; nation/region broadcast."""
    c = tables.load(spark, sf_dir, "customer")
    o = tables.load(spark, sf_dir, "orders")
    li = tables.load(spark, sf_dir, "lineitem")
    s = tables.load(spark, sf_dir, "supplier")
    n = tables.load(spark, sf_dir, "nation")
    r = tables.load(spark, sf_dir, "region")
    return (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(s, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(c, (F.col("o_custkey") == F.col("c_custkey"))
              & (F.col("c_nationkey") == F.col("s_nationkey")))
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(r), (F.col("n_regionkey") == F.col("r_regionkey"))
              & (F.col("r_name") == "ASIA"))
        .where(
            (F.col("o_orderdate") >= "1996-01-01")
            & (F.col("o_orderdate") < "1997-01-01")
        )
        .groupBy("n_name")
        .agg(
            dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")))
            .alias("revenue")
        )
    )


def local_supplier_volume_bucketed(spark: SparkSession,
                                   sf_dir: str) -> DataFrame:
    """local_supplier_volume on the co-located layout: the fact-fact
    lineitem x orders join reads the shared bucketed+sorted copies
    (LINEITEM/ORDERS_BUCKET_COLS), so at ANY scale that join runs
    with zero Exchange on either side — only the later supplier/
    customer joins shuffle (asserted: tests/test_plans.py shows
    exactly two fewer shuffle exchanges than the unbucketed Q5).
    Same result as local_supplier_volume (same oracle SQL modulo
    alias): the layout is a physical choice, not a semantic one."""
    li = _bucketed_table(spark, sf_dir, "lineitem", "l_orderkey",
                         LINEITEM_BUCKET_COLS)
    od = _bucketed_table(spark, sf_dir, "orders", "o_orderkey",
                         ORDERS_BUCKET_COLS)
    c = tables.load(spark, sf_dir, "customer")
    s = tables.load(spark, sf_dir, "supplier")
    n = tables.load(spark, sf_dir, "nation")
    r = tables.load(spark, sf_dir, "region")
    return (
        li.join(od.where(
            (F.col("o_orderdate") >= "1996-01-01")
            & (F.col("o_orderdate") < "1997-01-01")),
            F.col("l_orderkey") == F.col("o_orderkey"))
        .join(s, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(c, (F.col("o_custkey") == F.col("c_custkey"))
              & (F.col("c_nationkey") == F.col("s_nationkey")))
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(r), (F.col("n_regionkey") == F.col("r_regionkey"))
              & (F.col("r_name") == "ASIA"))
        .groupBy("n_name")
        .agg(
            dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")))
            .alias("revenue")
        )
    )


SKEW_HOT_PCT = 97  # share of fact rows landing on hot key 0


def skewed_fact(li: DataFrame) -> DataFrame:
    """Deliberately skewed fact relation: ~SKEW_HOT_PCT% of lineitem
    rows map to key 0, the rest spread over nation keys 1..23 — the
    celebrity-key join distribution AQE's skew handling exists for.
    The cold modulus must be COPRIME to the hot one: o % 25 is fully
    determined by o % 100 (25 | 100), which collapses the cold keys
    to {22, 23, 24}; % 23 is independent of the mod-100 selection.
    tables.spread gives the map side real splits: AQE splits a skewed
    reducer partition by MAP-OUTPUT ranges, so a single-split scan
    (the fixture shape — one parquet file, one mapper) is physically
    unsplittable no matter the thresholds (measured r9; the same
    single-mapper caveat as the spread docstring)."""
    key = (
        F.when(F.col("l_orderkey") % 100 < SKEW_HOT_PCT, F.lit(0))
        .otherwise(F.col("l_orderkey") % 23 + 1)
    )
    # grid(qty, 1), not cast("long"): Spark's double->long cast
    # TRUNCATES while the oracle's cast(... AS bigint) rounds — any
    # non-integral l_quantity would diverge the engines (r15 review;
    # fixture quantities are integral, so values are unchanged)
    return tables.spread(
        li.select(key.cast("long").alias("k"),
                  grid(F.col("l_quantity"), 1).alias("qty")))


def skew_join_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skewed fact-dim equi-join (VERDICT r8 item 6): the skewed fact
    sort-merge-joins nation (both children direct shuffle reads — an
    interposed aggregate would break OptimizeSkewedJoin's pattern
    match, also measured r9), then aggregates per key. Under AQE with
    realistic thresholds the hot partition splits into map-range
    chunks with the dim side replicated per chunk (plan-pinned in
    tests/test_skew.py); the salting twin salted_skew_agg covers the
    GROUP-BY skew AQE cannot split. Oracle is the plain join+agg —
    skew handling must be algebra-invisible."""
    li = tables.load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_quantity")
    dim = tables.load(spark, sf_dir, "nation").select(
        F.col("n_nationkey").cast("long").alias("k"), "n_name")
    j = skewed_fact(li).join(dim, "k")
    return j.groupBy("k", "n_name").agg(
        F.count("*").alias("n_rows"),
        F.sum("qty").alias("qty_sum"),
        F.max("qty").alias("qty_max"),
    )


QUERIES = {
    "join_inner": join_inner,
    "skew_join_stats": skew_join_stats,
    "join_inner_bucketed": join_inner_bucketed,
    "local_supplier_volume_bucketed": local_supplier_volume_bucketed,
    "join_left_outer": join_left_outer,
    "join_full_outer": join_full_outer,
    "join_semi": join_semi,
    "join_anti": join_anti,
    "join_broadcast": join_broadcast,
    "local_supplier_volume": local_supplier_volume,
}

ORACLES = {
    "skew_join_stats": f"""
        WITH fact AS (
            SELECT CASE WHEN l_orderkey % 100 < {SKEW_HOT_PCT}
                        THEN 0 ELSE l_orderkey % 23 + 1 END AS k,
                   cast(round(l_quantity) AS bigint) AS qty
            FROM lineitem
        )
        SELECT k, n_name,
               cast(count(*) AS bigint) AS n_rows,
               cast(sum(qty) AS bigint) AS qty_sum,
               cast(max(qty) AS bigint) AS qty_max
        FROM fact JOIN nation ON k = cast(n_nationkey AS bigint)
        GROUP BY k, n_name
    """,
    "join_inner": f"""
        SELECT o_orderkey, o_orderdate, o_orderpriority,
               {dsum_sql('l_extendedprice * (1 - l_discount)')} AS revenue
        FROM customer
        JOIN orders ON c_custkey = o_custkey
        JOIN lineitem ON o_orderkey = l_orderkey
        WHERE c_mktsegment = 'BUILDING'
          AND o_orderdate < timestamp '1998-03-15'
          AND l_shipdate > timestamp '1998-03-15'
        GROUP BY o_orderkey, o_orderdate, o_orderpriority
    """,
    "join_inner_bucketed": f"""
        SELECT l_orderkey, count(*) AS n_items,
               max(o_totalprice) AS o_totalprice,
               {dsum_sql('l_extendedprice * (1 - l_discount)')} AS revenue
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        GROUP BY l_orderkey
    """,
    "join_left_outer": f"""
        SELECT c_custkey, c_name,
               count(o_orderkey) AS n_orders,
               coalesce({dsum_sql('o_totalprice')}, 0) AS spend
        FROM customer LEFT JOIN (
            SELECT * FROM orders
            WHERE o_orderdate >= '1995-01-01'
              AND o_orderdate < '1996-01-01'
        ) ON c_custkey = o_custkey
        GROUP BY c_custkey, c_name
    """,
    "join_full_outer": """
        WITH e AS (SELECT user_id AS eu,
                          cast(date_trunc('day', ts) AS date) AS ed,
                          count(*) AS n_err
                   FROM events WHERE event_type = 'error'
                   GROUP BY 1, 2),
             g AS (SELECT user_id AS su,
                          cast(date_trunc('day', ts) AS date) AS sd,
                          count(*) AS n_signup
                   FROM events WHERE event_type = 'signup'
                   GROUP BY 1, 2)
        SELECT coalesce(eu, su) AS user_id,
               coalesce(ed, sd) AS day,
               coalesce(n_err, 0) AS n_err,
               coalesce(n_signup, 0) AS n_signup
        FROM e FULL OUTER JOIN g ON eu = su AND ed = sd
    """,
    "join_semi": """
        SELECT c_custkey, c_name, c_mktsegment FROM customer
        WHERE EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey
                        AND o_orderdate >= timestamp '1995-01-01'
                        AND o_orderdate < timestamp '1996-01-01')
    """,
    "join_anti": """
        SELECT c_custkey, c_name FROM customer
        WHERE NOT EXISTS (SELECT 1 FROM orders
                          WHERE o_custkey = c_custkey
                            AND o_orderdate >= timestamp '1995-01-01'
                            AND o_orderdate < timestamp '1996-01-01')
    """,
    "join_broadcast": """
        SELECT s_suppkey, s_name, n_name, r_name
        FROM supplier
        JOIN nation ON s_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
    """,
    "local_supplier_volume_bucketed": f"""
        SELECT n_name,
               {dsum_sql('l_extendedprice * (1 - l_discount)')} AS revenue
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN customer ON o_custkey = c_custkey AND c_nationkey = s_nationkey
        JOIN nation ON s_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey AND r_name = 'ASIA'
        WHERE o_orderdate >= timestamp '1996-01-01'
          AND o_orderdate < timestamp '1997-01-01'
        GROUP BY n_name
    """,
    "local_supplier_volume": f"""
        SELECT n_name,
               {dsum_sql('l_extendedprice * (1 - l_discount)')} AS revenue
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN customer ON o_custkey = c_custkey AND c_nationkey = s_nationkey
        JOIN nation ON s_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey AND r_name = 'ASIA'
        WHERE o_orderdate >= timestamp '1996-01-01'
          AND o_orderdate < timestamp '1997-01-01'
        GROUP BY n_name
    """,
}
