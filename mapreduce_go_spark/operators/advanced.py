"""Advanced relational coverage: grouping sets, pivot/unpivot, exact
and approximate order statistics, as-of and range joins.

These extend SURVEY §2.4 (D14 multi-level aggregates, D16) with the
OLAP shapes a training-data pipeline leans on. The as-of join is the
merge formulation — the reference could express it as a secondary-sort
job (tag streams, shuffle on key, sorted scan carrying the last seen
dimension row: exactly F3+F6+F8, SURVEY §2.4 D15's idiom); Spark runs
the same shape as one shuffle + one window pass, with no join blowup.

Approximate aggregates built into Spark (HLL++, KLL/GK quantiles) are
engine-specific by construction, so approx_distinct/approx_quantile
carry no value oracle — tests/test_approx.py bounds their error
against exact answers instead (the driver records a rows-only check;
SURVEY §7.4 risk 3). Since r7 each has an oracle-CHECKABLE
from-scratch twin built on deterministic arithmetic:
quality.hll_distinct_tokens (register-exact HyperLogLog) and
hist_quantiles below (mergeable fixed-grid histogram).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from mapreduce_go_spark import tables
from mapreduce_go_spark.functions.num import dround, dround_sql, dsum, dsum_sql


def grouping_sets_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D14c: GROUPING SETS — the general multi-level aggregate (rollup
    and cube are special cases)."""
    tables.load(spark, sf_dir, "orders").createOrReplaceTempView(
        "_gs_orders")
    return spark.sql(f"""
        SELECT o_orderstatus, o_orderpriority,
               {dsum_sql('o_totalprice')} AS total, count(*) AS n
        FROM _gs_orders
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
    """)


def pivot_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot: return-flag columns per line status (explicit pivot
    values — at scale never let Spark run the extra distinct scan)."""
    li = tables.load(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_linestatus")
        .pivot("l_returnflag", ["A", "N", "R"])
        .agg(dsum(F.col("l_quantity")))
    )


def unpivot_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot/melt via stack: wide order row -> (metric, value)."""
    o = tables.load(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.expr(
            "stack(2, 'totalprice', o_totalprice,"
            " 'custkey', cast(o_custkey AS double)) AS (metric, val)"
        ),
    ).select("o_orderkey", "metric", dround(F.col("val"), 2).alias("val"))


def exact_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles per group (order statistics on
    identical sorted doubles -> engine-identical)."""
    li = tables.load(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        dround(F.expr("percentile(l_extendedprice, 0.5)"), 4).alias("median_price"),
        dround(F.expr("percentile(l_extendedprice, 0.9)"), 4).alias("p90_price"),
    )


def approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL++ distinct counts — the 100 TB replacement for exact
    countDistinct (D5). No oracle: sketch values are engine-specific;
    accuracy bounded in tests/test_approx.py."""
    li = tables.load(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_partkey").alias("apx_parts"),
        F.approx_count_distinct("l_suppkey").alias("apx_supps"),
    )


def approx_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate percentiles (GK sketch). No oracle; accuracy
    bounded in tests/test_approx.py."""
    li = tables.load(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.percentile_approx("l_extendedprice", 0.5).alias("apx_median"),
        F.percentile_approx("l_extendedprice", 0.9).alias("apx_p90"),
    )


HIST_BIN_W = 64.0        # fixed-width histogram bin (price domain)
HIST_QS = (0.5, 0.9, 0.99)


def hist_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable fixed-grid histogram quantiles — the third
    from-scratch sketch beside cms_token_counts (frequency) and
    hll_distinct_tokens (cardinality), and the oracle-checkable twin
    of the engine-specific approx_quantile: unlike the GK sketch,
    every engine-visible value here is deterministic.

    The DISTRIBUTED shape: per-task partial (group, bin) counts
    (map-side combine), one groupBy shuffle whose merge is counter
    addition (the mergeable-histogram property), |groups| x |bins|
    rows total regardless of row count. The q-quantile estimate is
    the upper edge of the first bin whose cumulative count reaches
    ceil(q*n) — all integer/grid arithmetic, bit-identical in DuckDB.
    The exact DISCRETE quantile — the order statistic at the SAME
    rank ceil(q*n) — rides along, which makes the error bound a
    theorem, not a heuristic: est is by construction the upper edge
    of the bin containing that order statistic, so 0 < est - exact
    <= one bin width always (bin width 64 is a power of two, so the
    floor/edge arithmetic is float-exact). err_ok asserts it per row
    and tests/test_approx.py::test_hist_quantiles_error_bound
    asserts every err_ok is true. (An
    INTERPOLATED percentile would not admit this bound: the
    interpolation partner v_(r+1) can sit any number of bins higher
    in sparse data.)"""
    li = tables.load(spark, sf_dir, "lineitem")
    b = li.select(
        "l_returnflag",
        F.floor(F.col("l_extendedprice") / HIST_BIN_W)
        .cast("long").alias("bin"))
    sketch = b.groupBy("l_returnflag", "bin").agg(
        F.count("*").alias("cnt"))
    w = Window.partitionBy("l_returnflag").orderBy("bin")
    cum = (
        sketch.withColumn("cum", F.sum("cnt").over(w))
        .withColumn("n", F.sum("cnt").over(
            Window.partitionBy("l_returnflag")))
    )
    # r16 (guide §2): the exact-rank rider used to row_number the FULL
    # table inside a per-group window — ONE task sorting a whole
    # returnflag group at any scale, the single-partition-window
    # scale-killer. The sketch already brackets the order statistic:
    # rank r = ceil(q*n) lives in the first bin with cum >= r, at
    # in-bin rank r - (cum - cnt), and every row of a LOWER bin is
    # strictly smaller (floor-bin edges), so the global order
    # statistic IS the in-bin one. The rider now broadcast-joins the
    # 9-row (group, q, qbin, rib) target to the bin-filtered rows and
    # sorts one bin per (group, q) instead of the corpus — 0.700 ->
    # 0.576 s interleaved min-of-4 at sf0.1, value-identical at all
    # three SFs; cum is lazily checkpointed (|bins|-bounded) so the
    # sketch aggregation runs once for est + target + err bound.
    cum = cum.localCheckpoint(eager=False)
    qq = cum.withColumn(
        "q", F.explode(F.array(*[F.lit(q) for q in HIST_QS])))
    tgt = (
        qq.where(F.col("cum") >= F.ceil(F.col("q") * F.col("n")))
        .groupBy("l_returnflag", "q")
        .agg(F.min_by(
            F.struct("bin",
                     (F.ceil(F.col("q") * F.col("n"))
                      - (F.col("cum") - F.col("cnt"))).alias("rib")),
            "bin").alias("t"))
        .select("l_returnflag", "q",
                F.col("t.bin").alias("qbin"), F.col("t.rib").alias("rib"))
    )
    est = tgt.select(
        "l_returnflag", "q",
        ((F.col("qbin") + 1) * HIST_BIN_W).alias("est_hist"))
    probe = (
        li.select(
            "l_returnflag",
            F.floor(F.col("l_extendedprice") / HIST_BIN_W)
            .cast("long").alias("bin"),
            "l_extendedprice")
        .join(F.broadcast(tgt.select(F.col("l_returnflag").alias("rf"),
                                     "q", "qbin", "rib")),
              (F.col("l_returnflag") == F.col("rf"))
              & (F.col("bin") == F.col("qbin")))
        .drop("rf")
    )
    exact = (
        probe.withColumn("rn", F.row_number().over(
            Window.partitionBy("l_returnflag", "q")
            .orderBy("l_extendedprice")))
        .where(F.col("rn") == F.col("rib"))
        .select("l_returnflag", "q",
                F.col("l_extendedprice").alias("exact_raw"))
    )
    return (
        est.join(exact, ["l_returnflag", "q"])
        .select(
            "l_returnflag", "q", "est_hist",
            dround(F.col("exact_raw"), 4).alias("exact_q"),
            (F.abs(F.col("est_hist") - F.col("exact_raw"))
             <= HIST_BIN_W).alias("err_ok"),
        )
    )


def asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (Spark has no native one): each event matched to the
    latest order of the same key at-or-before the event time.

    Merge formulation: tag both streams, union, one window pass per
    key carrying the last-seen order struct — one shuffle on the key,
    cost O(n log n) per key, no range-join blowup. Ties: orders sort
    before events at equal timestamp (inclusive <=), max o_orderkey
    wins within a tied order timestamp."""
    ev = tables.load(spark, sf_dir, "events").select(
        F.col("user_id").alias("k"),
        F.col("ts").alias("t"),
        F.lit(1).alias("pri"),
        "event_id",
        F.lit(None).cast("long").alias("o_orderkey"),
        F.lit(None).cast("double").alias("o_totalprice"),
    )
    od = tables.load(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("k"),
        F.col("o_orderdate").alias("t"),
        F.lit(0).alias("pri"),
        F.lit(None).cast("long").alias("event_id"),
        "o_orderkey",
        "o_totalprice",
    )
    merged = od.unionByName(ev)
    w = (
        Window.partitionBy("k")
        .orderBy("t", "pri", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = merged.withColumn(
        "last_order",
        F.last(
            F.when(
                F.col("pri") == 0,
                F.struct("o_orderkey", "o_totalprice"),
            ),
            ignorenulls=True,
        ).over(w),
    )
    return (
        carried.where(F.col("pri") == 1)
        .where(F.col("last_order").isNotNull())
        .select(
            "event_id",
            F.col("k").alias("user_id"),
            F.col("last_order.o_orderkey").alias("o_orderkey"),
            dround(F.col("last_order.o_totalprice"), 2).alias("o_totalprice"),
        )
    )


def range_join_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range join: line items shipped within 90 days of their order's
    date. Equality on the key keeps it a hash join with a residual
    range filter; at scale, bucketize the time axis to bound a pure
    range join's candidate set."""
    li = tables.load(spark, sf_dir, "lineitem")
    od = tables.load(spark, sf_dir, "orders")
    return (
        od.join(
            li,
            (F.col("o_orderkey") == F.col("l_orderkey"))
            & (F.col("l_shipdate") >= F.col("o_orderdate"))
            & (F.col("l_shipdate")
               < F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS")),
        )
        .groupBy("o_orderkey")
        .agg(
            F.count("*").alias("n_fast_lines"),
            dsum(F.col("l_extendedprice")).alias("fast_revenue"),
        )
    )


def multi_resolution_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style continuous-aggregate shape: hour/day/total
    resolutions of the event stream in ONE pass via ROLLUP over the
    truncation hierarchy (day ⊃ hour) — instead of three scans or
    chained jobs. At scale this materializes incrementally per
    watermarked window; the batch form is the backfill path."""
    ev = tables.load(spark, sf_dir, "events")
    day = F.date_trunc("day", F.col("ts"))
    hour = F.date_trunc("hour", F.col("ts"))
    return (
        ev.rollup(day.alias("day"), hour.alias("hour"))
        .agg(F.count("*").alias("n"), dsum(F.col("value")).alias("total"))
    )


def gapfilled_hourly_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-filled time series: every (hour, event_type) cell in the
    observed range, zero-filled where no events occurred — the
    hypertable `time_bucket_gapfill` shape (hourly so gaps genuinely
    exist in the fixture). The hour spine comes from sequence() over
    the observed min/max (two tiny scalars via a broadcast cross
    join, not a driver collect)."""
    ev = tables.load(spark, sf_dir, "events")
    hour = F.date_trunc("hour", F.col("ts"))
    counts = ev.groupBy(hour.alias("hour"),
                        "event_type").agg(F.count("*").alias("n"))
    bounds = ev.agg(F.min(hour).alias("h0"), F.max(hour).alias("h1"))
    spine = bounds.select(
        F.explode(
            F.sequence("h0", "h1", F.expr("INTERVAL 1 HOUR"))
        ).alias("hour"))
    types = ev.select("event_type").distinct()
    dense = spine.crossJoin(types)
    return (
        dense.join(counts, ["hour", "event_type"], "left")
        .select("hour", "event_type",
                F.coalesce(F.col("n"), F.lit(0)).alias("n"))
    )


FUNNEL_STEPS = ("view", "click", "purchase")
FUNNEL_HOURS = 24   # each step must follow the previous within 24h
                    # (fixture-calibrated: 150 -> 60 -> 25 users, so
                    # every stage transition is exercised)


def event_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential-pattern funnel: users who did view -> click ->
    purchase, each step strictly after the previous and within
    FUNNEL_HOURS of it; one row per stage with the surviving-user
    count. Each stage is one user-keyed aggregate + one join — the
    step tables shrink monotonically, so AQE broadcasts them against
    the (pre-filtered, pushed-down) event scan at any corpus size."""
    ev = tables.load(spark, sf_dir, "events")
    win = F.expr(f"INTERVAL {FUNNEL_HOURS} HOURS")

    def step_min(prev: DataFrame, etype: str, tprev: str,
                 tcur: str) -> DataFrame:
        return (
            ev.where(F.col("event_type") == etype)
            .join(prev, "user_id")
            .where((F.col("ts") > F.col(tprev))
                   & (F.col("ts") <= F.col(tprev) + win))
            .groupBy("user_id")
            .agg(F.min("ts").alias(tcur))
        )

    u1 = (ev.where(F.col("event_type") == FUNNEL_STEPS[0])
          .groupBy("user_id").agg(F.min("ts").alias("t1")))
    u2 = step_min(u1, FUNNEL_STEPS[1], "t1", "t2")
    u3 = step_min(u2, FUNNEL_STEPS[2], "t2", "t3")

    def cnt(df: DataFrame, step: int, name: str) -> DataFrame:
        return df.agg(F.count("*").alias("n_users")).select(
            F.lit(step).alias("step"),
            F.lit(name).alias("event_type"),
            "n_users",
        )

    return (
        cnt(u1, 1, FUNNEL_STEPS[0])
        .unionAll(cnt(u2, 2, FUNNEL_STEPS[1]))
        .unionAll(cnt(u3, 3, FUNNEL_STEPS[2]))
    )


def cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention: users grouped by the week of their
    first signup; for each later week-offset, how many of the cohort
    were active (any event). One aggregate for cohorts, one join, one
    distinct-count — all user-keyed, so at scale every stage shuffles
    on the same key and AQE reuses the partitioning."""
    ev = tables.load(spark, sf_dir, "events")
    first = (
        ev.where(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.date_trunc("week", F.min("ts")).alias("cohort_week"))
    )
    act = (
        ev.join(first, "user_id")
        .where(F.col("ts") >= F.col("cohort_week"))
        .select(
            "user_id", "cohort_week",
            # integer div, not double-divide-then-cast: Spark's cast
            # truncates while DuckDB's rounds, which only agreed
            # because UTC week boundaries differ by exact 604800s
            # multiples — a DST timezone would give 601200/604800 =
            # 0.994 -> 0 vs 1 (review r10); floor-div on exact longs
            # is timezone-robust in both engines
            F.expr("(unix_timestamp(date_trunc('week', ts))"
                   " - unix_timestamp(cohort_week)) div 604800")
            .cast("int").alias("week_offset"),
        )
    )
    return (
        act.groupBy("cohort_week", "week_offset")
        .agg(F.countDistinct("user_id").alias("n_active"))
    )


def salted_skew_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-salted two-phase aggregation as a first-class query:
    lineitem grouped by l_returnflag — 3 pathologically hot keys over
    the whole fact table, the exact shape AQE can't split for a GROUP
    BY — through functions/skew.salted_agg (content-hash salt, 16
    buckets, partial-then-merge). The salting is algebra-invisible, so
    the oracle is the plain GROUP BY: any salting bug (row dropped,
    partial double-merged, nondeterministic bucket under retry)
    surfaces as a value mismatch."""
    from mapreduce_go_spark.functions.skew import salted_agg

    li = tables.load(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_orderkey", "l_linenumber", "l_quantity")
    out = salted_agg(
        li, "l_returnflag", salts=16,
        n_rows=("count", "l_orderkey"),
        max_line=("max", "l_linenumber"),
        min_order=("min", "l_orderkey"),
        line_sum=("sum", "l_linenumber"),
    )
    return out.select(
        "l_returnflag", "n_rows", "max_line", "min_order",
        F.col("line_sum").cast("long").alias("line_sum"),
    )


# Z-order (Morton) multi-dimensional clustering key — the layout
# technique behind Delta/Iceberg OPTIMIZE ZORDER: interleaving the
# bits of two (or more) columns makes ONE sort order serve range
# predicates on EITHER column, so parquet min/max file stats prune
# for 2-D predicates where a linear sort only prunes its leading
# column. 14 bits per dimension covers the fixture domains at EVERY
# shipped scale (sf0.1: max o_custkey = 14999 needs 14 bits; day
# offset < 2500) — the old 12 silently aliased custkeys 4096 apart
# at sf0.1, collapsing custkey-stat pruning in the measured layout
# (review r10; the differential could never catch it because both
# engines computed the same truncated key). At production scale the
# inputs are first rank-normalized into the bit budget
# (tools/zorder_prune.py's zkey_norm). The bit spread is plain
# integer arithmetic ((x div 2^b) mod 2) * 4^b — codegen on Spark,
# identical text in the DuckDB oracle.
ZORDER_BITS = 14


def _zspread_sql(col: str) -> str:
    """Sum_b bit_b(col) * 4^b — the column's bits moved to even
    positions (the y dimension is the same spread doubled). The bit
    test is (col % 2^(b+1)) >= 2^b: pure %/compare arithmetic, the
    same text valid in Spark SQL and DuckDB (no div/// divergence)."""
    return " + ".join(
        f"(CASE WHEN ({col} % {1 << (b + 1)}) >= {1 << b}"
        f" THEN {1 << (2 * b)} ELSE 0 END)"
        for b in range(ZORDER_BITS))


def zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-order Morton key over (o_custkey, order-date day offset).
    Sorting/writing the table by zkey is the layout step (measured in
    tools/zorder_prune.py + SCALE.md: file-stat pruning for 2-D
    predicates vs a linear sort); this query pins the key arithmetic
    itself against the oracle."""
    o = tables.load(spark, sf_dir, "orders")
    day = F.datediff("o_orderdate", F.lit("1995-01-01").cast("date"))
    zx = F.expr(_zspread_sql("o_custkey"))
    zy = F.expr(_zspread_sql("day"))
    return (
        o.select("o_orderkey", "o_custkey", day.alias("day"))
        .select(
            "o_orderkey", "o_custkey", "day",
            (zx + 2 * zy).cast("long").alias("zkey"),
        )
    )


# PageRank — the canonical iterative MapReduce application (the
# repertoire SURVEY §2.4 derives D1-D16 from; Page et al. 1999,
# Dean/Ghemawat 2004 use it as the worked example). The twist that
# makes it fully value-oracle-able: FIXED-POINT integer arithmetic.
# Ranks are scaled by PR_SCALE and every per-edge contribution is
# floor((85 * rank) / (100 * outdeg)) — an exact integer, so the
# per-node sum is order-free and bit-identical on any engine (float
# PageRank is order-dependent in the 17th digit and cannot be
# differentially tested). Fixed PR_ITERS iterations; the oracle
# UNROLLS them as chained CTEs (standard SQL forbids aggregation in a
# recursive term).
PR_ITERS = 5
PR_SCALE = 1_000_000
PR_D_NUM, PR_D_DEN = 85, 100  # damping 0.85 as a ratio


def _pagerank_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed edge list over the part/supplier bipartite graph:
    each distinct (l_partkey, l_suppkey) sourcing relation yields
    both directions; node ids are disambiguated arithmetically
    (part -> 2k, supplier -> 2k+1), so every node has outdeg >= 1
    (no dangling-mass correction needed)."""
    li = tables.load(spark, sf_dir, "lineitem").select(
        (F.col("l_partkey") * 2).alias("p"),
        (F.col("l_suppkey") * 2 + 1).alias("s"),
    ).distinct()
    return li.select(F.col("p").alias("src"), F.col("s").alias("dst")) \
        .union(li.select(F.col("s").alias("src"), F.col("p").alias("dst")))


def pagerank_fixed(spark: SparkSession, sf_dir: str,
                   iters: int = PR_ITERS) -> DataFrame:
    """Exact fixed-point PageRank over the part/supplier graph:
    `iters` synchronous iterations of
    rank'(v) = base + sum_{u->v} (85 * rank(u)) div (100 * outdeg(u)),
    base = (15 * PR_SCALE) div (100 * N), rank0 = PR_SCALE div N.
    Plan: one edges relation, one outdeg aggregate, then per
    iteration one equi-join + one map-side-combinable sum — O(E) per
    round, the driver loop is plan construction only (no action).
    Every quantity is an exact int: the oracle value-checks all
    PR_ITERS iterations bit-for-bit.

    The plan is one lazy unroll, one join+agg layer per iteration
    (linear, unlike cluster_labels' doubling). Checkpointing the ranks
    every round measured slower at iters=5 (sf0.1, interleaved
    min-of-4: lazy 4.11 s vs 7.21 s): each checkpoint boundary splits
    the plan into segments that cannot share the edges Exchange
    (ReusedExchange is per-plan), so each segment re-derives it.
    .cache() on edges/outdeg inside the lazy plan measured ~2x worse
    too (3.8 -> 8.3 s warm at sf0.1)."""
    edges = _pagerank_edges(spark, sf_dir)
    outdeg = edges.groupBy("src").agg(F.count("*").alias("deg"))
    nodes = edges.select(F.col("src").alias("node")).distinct()
    # graph size as a broadcast singleton (the quality.py scalars
    # pattern) — no driver-side action, the query stays one lazy plan
    nscal = F.broadcast(nodes.agg(F.count("*").alias("n")))
    ranks = nodes.crossJoin(nscal).selectExpr(
        "node", f"{PR_SCALE} div n AS r")
    for _ in range(iters):
        contrib = (
            edges.join(outdeg, "src")
            .join(ranks, edges.src == ranks.node)
            .select(
                F.col("dst").alias("node"),
                F.expr(f"({PR_D_NUM} * r) div ({PR_D_DEN} * deg)")
                .alias("c"),
            )
        )
        ranks = (
            contrib.groupBy("node").agg(F.sum("c").alias("csum"))
            .crossJoin(nscal)
            .selectExpr(
                "node",
                f"(15 * {PR_SCALE}) div ({PR_D_DEN} * n) + csum AS r")
        )
    return ranks.select("node", F.col("r").cast("long").alias("rank_fp"))


def _pagerank_sql() -> str:
    head = f"""
        WITH li AS (
            SELECT DISTINCT l_partkey * 2 AS p, l_suppkey * 2 + 1 AS s
            FROM lineitem
        ),
        edges AS (
            SELECT p AS src, s AS dst FROM li
            UNION ALL
            SELECT s AS src, p AS dst FROM li
        ),
        outdeg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src),
        nn AS (SELECT count(DISTINCT src) AS n FROM edges),
        r0 AS (
            SELECT DISTINCT src AS node,
                   (SELECT {PR_SCALE} // n FROM nn) AS r
            FROM edges
        )"""
    steps = []
    for i in range(PR_ITERS):
        steps.append(f""",
        r{i + 1} AS (
            SELECT e.dst AS node,
                   (SELECT (15 * {PR_SCALE}) // ({PR_D_DEN} * n) FROM nn)
                   + sum(({PR_D_NUM} * r.r) // ({PR_D_DEN} * d.deg)) AS r
            FROM edges e
            JOIN outdeg d ON d.src = e.src
            JOIN r{i} r ON r.node = e.src
            GROUP BY e.dst
        )""")
    return (head + "".join(steps)
            + f" SELECT node, cast(r AS bigint) AS rank_fp"
              f" FROM r{PR_ITERS}")


def recursive_ancestor_depth(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    """Recursive CTE — Spark 4 is the first release with WITH
    RECURSIVE (SPARK-24497), and this query exercises it end to end:
    climb the deterministic decimal-trie forest parent(n) = n div 10
    from every document to the root, then aggregate each node's chain
    (depth-to-root = digit count, ancestor sum). Execution is
    level-synchronous: the engine unions one join per level,
    O(log10 N) levels regardless of corpus size — the same bounded
    iteration shape as the connected-components fixpoint
    (dedup.py:962) but DECLARED instead of driver-looped, so Catalyst
    owns the loop and the lineage. The anc > 0 guard strictly
    decreases the frontier, so termination is structural (and far
    inside spark.sql.cteRecursionLevelLimit's default 100).

    DuckDB runs the IDENTICAL recursion natively (// is its integer
    division) — a cross-engine differential of the recursive
    execution itself, not a rewrite."""
    docs = tables.load(spark, sf_dir, "documents")
    docs.select("doc_id").createOrReplaceTempView("rec_anc_docs")
    return spark.sql("""
        WITH RECURSIVE chain(node, anc, depth) AS (
            SELECT doc_id, doc_id div 10, 1 FROM rec_anc_docs
            UNION ALL
            SELECT node, anc div 10, depth + 1 FROM chain WHERE anc > 0
        )
        SELECT node AS doc_id,
               cast(max(depth) AS bigint) AS depth_to_root,
               cast(sum(anc) AS bigint) AS anc_sum
        FROM chain GROUP BY node
    """)


QUERIES = {
    "recursive_ancestor_depth": recursive_ancestor_depth,
    "salted_skew_agg": salted_skew_agg,
    "zorder_layout": zorder_layout,
    "pagerank_fixed": pagerank_fixed,
    "event_funnel": event_funnel,
    "cohort_retention": cohort_retention,
    "multi_resolution_rollup": multi_resolution_rollup,
    "gapfilled_hourly_counts": gapfilled_hourly_counts,
    "grouping_sets_agg": grouping_sets_agg,
    "pivot_agg": pivot_agg,
    "unpivot_metrics": unpivot_metrics,
    "exact_median": exact_median,
    "approx_distinct": approx_distinct,
    "approx_quantile": approx_quantile,
    "hist_quantiles": hist_quantiles,
    "asof_join": asof_join,
    "range_join_count": range_join_count,
}

ORACLES = {
    "recursive_ancestor_depth": """
        WITH RECURSIVE chain(node, anc, depth) AS (
            SELECT doc_id, doc_id // 10, 1 FROM documents
            UNION ALL
            SELECT node, anc // 10, depth + 1 FROM chain WHERE anc > 0
        )
        SELECT node AS doc_id,
               cast(max(depth) AS bigint) AS depth_to_root,
               cast(sum(anc) AS bigint) AS anc_sum
        FROM chain GROUP BY node
    """,
    "zorder_layout": f"""
        WITH base AS (
            SELECT o_orderkey, o_custkey,
                   cast(date_diff('day', TIMESTAMP '1995-01-01',
                                  o_orderdate) AS int) AS day
            FROM orders
        )
        SELECT o_orderkey, o_custkey, day,
               cast(({_zspread_sql('o_custkey')})
                    + 2 * ({_zspread_sql('day')}) AS bigint) AS zkey
        FROM base
    """,
    "pagerank_fixed": _pagerank_sql(),
    "salted_skew_agg": """
        SELECT l_returnflag,
               count(l_orderkey) AS n_rows,
               max(l_linenumber) AS max_line,
               min(l_orderkey) AS min_order,
               cast(sum(l_linenumber) AS bigint) AS line_sum
        FROM lineitem GROUP BY l_returnflag
    """,
    "cohort_retention": """
        WITH first AS (
            SELECT user_id,
                   cast(date_trunc('week', min(ts)) AS timestamp)
                       AS cohort_week
            FROM events WHERE event_type = 'signup' GROUP BY 1
        ),
        act AS (
            SELECT e.user_id, cohort_week,
                   cast((cast(epoch(date_trunc('week', ts)) AS bigint)
                         - cast(epoch(cohort_week) AS bigint))
                        // 604800 AS int) AS week_offset
            FROM events e JOIN first USING (user_id)
            WHERE ts >= cohort_week
        )
        SELECT cohort_week, week_offset,
               count(DISTINCT user_id) AS n_active
        FROM act GROUP BY 1, 2
    """,
    "event_funnel": f"""
        WITH u1 AS (
            SELECT user_id, min(ts) AS t1 FROM events
            WHERE event_type = '{FUNNEL_STEPS[0]}' GROUP BY 1
        ),
        u2 AS (
            SELECT e.user_id, min(ts) AS t2 FROM events e
            JOIN u1 USING (user_id)
            WHERE event_type = '{FUNNEL_STEPS[1]}'
              AND ts > t1 AND ts <= t1 + INTERVAL '{FUNNEL_HOURS} hours'
            GROUP BY 1
        ),
        u3 AS (
            SELECT e.user_id, min(ts) AS t3 FROM events e
            JOIN u2 USING (user_id)
            WHERE event_type = '{FUNNEL_STEPS[2]}'
              AND ts > t2 AND ts <= t2 + INTERVAL '{FUNNEL_HOURS} hours'
            GROUP BY 1
        )
        SELECT 1 AS step, '{FUNNEL_STEPS[0]}' AS event_type,
               (SELECT count(*) FROM u1) AS n_users
        UNION ALL
        SELECT 2, '{FUNNEL_STEPS[1]}', (SELECT count(*) FROM u2)
        UNION ALL
        SELECT 3, '{FUNNEL_STEPS[2]}', (SELECT count(*) FROM u3)
    """,
    "gapfilled_hourly_counts": """
        WITH bounds AS (
            SELECT cast(min(date_trunc('hour', ts)) AS timestamp) AS h0,
                   cast(max(date_trunc('hour', ts)) AS timestamp) AS h1
            FROM events
        ),
        spine AS (
            SELECT unnest(generate_series(h0, h1, INTERVAL 1 HOUR))
                       AS hour
            FROM bounds
        ),
        types AS (SELECT DISTINCT event_type FROM events),
        counts AS (
            SELECT cast(date_trunc('hour', ts) AS timestamp) AS hour,
                   event_type, count(*) AS n
            FROM events GROUP BY 1, 2
        )
        SELECT s.hour, t.event_type, coalesce(c.n, 0) AS n
        FROM spine s CROSS JOIN types t
        LEFT JOIN counts c ON c.hour = s.hour AND c.event_type = t.event_type
    """,
    "multi_resolution_rollup": f"""
        SELECT cast(date_trunc('day', ts) AS timestamp) AS day,
               date_trunc('hour', ts) AS hour,
               count(*) AS n, {dsum_sql('value')} AS total
        FROM events
        GROUP BY ROLLUP (day, hour)
    """,
    "grouping_sets_agg": f"""
        SELECT o_orderstatus, o_orderpriority,
               {dsum_sql('o_totalprice')} AS total, count(*) AS n
        FROM orders
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
    """,
    "pivot_agg": f"""
        SELECT l_linestatus,
               {dsum_sql("CASE WHEN l_returnflag = 'A' THEN l_quantity END")}
                   AS "A",
               {dsum_sql("CASE WHEN l_returnflag = 'N' THEN l_quantity END")}
                   AS "N",
               {dsum_sql("CASE WHEN l_returnflag = 'R' THEN l_quantity END")}
                   AS "R"
        FROM lineitem GROUP BY l_linestatus
    """,
    "unpivot_metrics": f"""
        SELECT o_orderkey, 'totalprice' AS metric,
               {dround_sql('o_totalprice')} AS val FROM orders
        UNION ALL
        SELECT o_orderkey, 'custkey', {dround_sql('cast(o_custkey AS double)')}
        FROM orders
    """,
    "hist_quantiles": f"""
        WITH b AS (
            SELECT l_returnflag,
                   cast(floor(l_extendedprice / {HIST_BIN_W}) AS bigint)
                       AS bin
            FROM lineitem
        ),
        sk AS (SELECT l_returnflag, bin, count(*) AS cnt
               FROM b GROUP BY 1, 2),
        cum AS (
            SELECT l_returnflag, bin, cnt,
                   sum(cnt) OVER (PARTITION BY l_returnflag
                                  ORDER BY bin) AS cum,
                   sum(cnt) OVER (PARTITION BY l_returnflag) AS n
            FROM sk
        ),
        qs(q) AS (VALUES {", ".join(f"(cast({q} AS double))" for q in HIST_QS)}),
        hit AS (
            SELECT l_returnflag, q, min(bin) AS qbin
            FROM cum CROSS JOIN qs
            WHERE cum >= ceil(q * n)
            GROUP BY 1, 2
        ),
        rk AS (
            SELECT l_returnflag, l_extendedprice,
                   row_number() OVER (PARTITION BY l_returnflag
                                      ORDER BY l_extendedprice) AS rn,
                   count(*) OVER (PARTITION BY l_returnflag) AS n
            FROM lineitem
        ),
        ex AS (
            SELECT l_returnflag, q, l_extendedprice AS exact_raw
            FROM rk CROSS JOIN qs
            WHERE rn = ceil(q * n)
        )
        SELECT h.l_returnflag, h.q,
               (h.qbin + 1) * {HIST_BIN_W} AS est_hist,
               {dround_sql('ex.exact_raw', 4)} AS exact_q,
               (abs((h.qbin + 1) * {HIST_BIN_W} - ex.exact_raw)
                <= {HIST_BIN_W}) AS err_ok
        FROM hit h JOIN ex ON ex.l_returnflag = h.l_returnflag
                          AND ex.q = h.q
    """,
    "exact_median": f"""
        SELECT l_returnflag,
               {dround_sql('quantile_cont(l_extendedprice, 0.5)', 4)}
                   AS median_price,
               {dround_sql('quantile_cont(l_extendedprice, 0.9)', 4)}
                   AS p90_price
        FROM lineitem GROUP BY l_returnflag
    """,
    "asof_join": f"""
        SELECT event_id, user_id, o_orderkey,
               {dround_sql('o_totalprice')} AS o_totalprice
        FROM (
            SELECT e.event_id, e.user_id, o.o_orderkey, o.o_totalprice,
                   row_number() OVER (
                       PARTITION BY e.event_id
                       ORDER BY o.o_orderdate DESC, o.o_orderkey DESC) AS rn
            FROM events e
            JOIN orders o ON e.user_id = o.o_custkey
                         AND o.o_orderdate <= e.ts
        ) WHERE rn = 1
    """,
    "range_join_count": f"""
        SELECT o_orderkey, count(*) AS n_fast_lines,
               {dsum_sql('l_extendedprice')} AS fast_revenue
        FROM orders o
        JOIN lineitem l ON o.o_orderkey = l.l_orderkey
                       AND l.l_shipdate >= o.o_orderdate
                       AND l.l_shipdate < o.o_orderdate + INTERVAL 90 DAY
        GROUP BY o_orderkey
    """,
}
