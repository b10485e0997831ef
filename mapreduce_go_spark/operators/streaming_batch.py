"""Event-time windowing, batch twins (SURVEY §2.4 D21).

Each query here is the BATCH execution of a windowed plan that also
runs as a Structured Streaming job (mapreduce_go_spark/streaming/):
same window expressions, same aggregates. The batch run is the oracle
anchor (DuckDB-checkable); tests/test_streaming.py then asserts the
streaming execution of the same plan converges to the batch answer —
mirroring how the reference defines streaming-free correctness by a
sequential twin (/root/reference/main/mrsequential.go, SURVEY §5).

Scale notes: windowed aggs are algebraic (count/sum) -> partial
aggregation before the shuffle on (window, key); session windows
shuffle once on user_id then sort-scan per user (Spark's
session-window exec), state bounded by the gap.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mapreduce_go_spark import tables
from mapreduce_go_spark.functions.num import dsum, dsum_sql

SESSION_GAP = "30 minutes"


def _window_counts(ev: DataFrame, w) -> DataFrame:
    return (
        ev.groupBy(w.alias("w"), "event_type")
        .agg(F.count("*").alias("n"), dsum(F.col("value")).alias("total"))
        .select(
            F.col("w.start").alias("win_start"),
            F.col("w.end").alias("win_end"),
            "event_type",
            "n",
            "total",
        )
    )


def tumbling_plan(ev: DataFrame) -> DataFrame:
    """Tumbling 1-day windows per event type: count + exact sum. The
    one plan of tumbling_window and the streaming tumbling_counts."""
    return _window_counts(ev, F.window("ts", "1 day"))


def sliding_plan(ev: DataFrame) -> DataFrame:
    """Sliding 1-hour windows every 30 minutes: each event lands in 2
    windows (explode happens inside Spark's window generator). The one
    plan of sliding_window and the streaming sliding_counts."""
    return _window_counts(ev, F.window("ts", "1 hour", "30 minutes"))


def tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tumbling_plan(tables.load(spark, sf_dir, "events"))


def sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sliding_plan(tables.load(spark, sf_dir, "events"))


def sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows per user (30-min inactivity gap): session start,
    last-event time, event count, exact value sum, plus a per-user
    session ordinal.

    NATIVE F.session_window in batch mode — the same operator the
    streaming twin runs (streaming/jobs.session_counts), so batch and
    streaming share one formulation instead of the old lag+cumsum
    fork. The DuckDB oracle keeps the portable lag+cumsum form, which
    makes the differential check a cross-engine proof of Spark's
    session-merge semantics (gap boundary INCLUSIVE: an event exactly
    `gap` after the last one still MERGES — a new session starts only
    when the gap is EXCEEDED; verified against native session_window,
    r15 review, which also found the oracle and this docstring
    pinning the opposite rule). NULL-ts events carry no event time
    and are dropped by the window generator; the oracle filters them
    to match. One shuffle on user_id, sort-scan
    per user; the sess_no ranking rides the same partitioning."""
    from pyspark.sql import Window

    ev = tables.load(spark, sf_dir, "events")
    sessions = (
        ev.groupBy("user_id", F.session_window("ts", SESSION_GAP).alias("w"))
        .agg(
            F.min("ts").alias("sess_start"),
            F.max("ts").alias("sess_last"),
            F.count("*").alias("n_events"),
            dsum(F.col("value")).alias("total"),
        )
    )
    rk = Window.partitionBy("user_id").orderBy("sess_start")
    return sessions.select(
        "user_id",
        F.row_number().over(rk).cast("long").alias("sess_no"),
        "sess_start",
        "sess_last",
        "n_events",
        "total",
    )


def dedup_first_event(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First event per (user, type) — the batch twin of streaming
    dropDuplicatesWithinWatermark: deterministic 'first' via event-time
    order (not Spark's nondeterministic dropDuplicates)."""
    from pyspark.sql import Window

    # a NULL ts carries no event time, and the engines disagree on
    # NULL sort position (Spark ASC = NULLS FIRST, DuckDB = NULLS
    # LAST — r15 review), so "first by event time" excludes them
    ev = tables.load(spark, sf_dir, "events").where(
        F.col("ts").isNotNull())
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("user_id", "event_type", "event_id", "ts")
    )


def _attribution(spark: SparkSession, sf_dir: str,
                 how: str) -> DataFrame:
    """The purchase<-click attribution join both batch twins share,
    parameterized by join type — the streaming side already factored
    its pair into one helper (streaming/jobs._attribution_join, r14);
    the batch pair was still a verbatim fork (r15 review)."""
    ev = tables.load(spark, sf_dir, "events")
    p = ev.where(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
        F.col("event_id").alias("purchase_id"),
    )
    c = ev.where(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("c_ts"),
        F.col("event_id").alias("click_id"),
    )
    return (
        p.join(
            c,
            (F.col("p_user") == F.col("c_user"))
            & (F.col("c_ts") <= F.col("p_ts"))
            & (F.col("c_ts") > F.col("p_ts") - F.expr("INTERVAL 1 HOUR")),
            how,
        )
        .select("p_user", "purchase_id", "click_id", "p_ts", "c_ts")
    )


def purchase_click_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of the STREAM-STREAM inner join
    (streaming/jobs.stream_stream_join): every purchase joined to the
    same user's clicks within the preceding hour — the attribution
    query real clickstream pipelines run. Same formulation as the
    streaming job minus the watermarks (batch needs no state bound);
    tests/test_streaming.py::test_stream_stream_join_matches_batch
    asserts the watermarked streaming execution converges to exactly
    this answer, completing the D21 pattern: every streaming job has
    an oracle-checkable batch anchor.

    100 TB shape: an equi-join on user_id (SortMergeJoin, one shuffle
    per side) with the time-range predicate applied as a join residual
    — the streaming twin's state stays bounded by watermark + 1h range
    for the same reason the batch join's per-key match set is bounded
    by the hour window."""
    return _attribution(spark, sf_dir, "inner")


def purchase_click_attribution_outer(spark: SparkSession,
                                     sf_dir: str) -> DataFrame:
    """LEFT-OUTER twin of purchase_click_attribution: every purchase,
    attributed clicks where they exist, NULL click columns where none
    occurred in the preceding hour — the "attribution coverage" query
    (what fraction of purchases have a click path). Batch anchor of
    the watermarked outer stream-stream join
    (streaming/jobs.stream_stream_join_outer), whose null rows are
    emitted only once the watermark passes the purchase's state —
    tests/test_streaming.py pins exactly that emission rule against
    this query's answer.

    100 TB shape: same SortMergeJoin-on-user_id as the inner twin;
    the outer side adds no state beyond the null-extension."""
    return _attribution(spark, sf_dir, "left_outer")


def user_type_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(user, event_type) running profile: event count + exact
    value total — the batch anchor of the transformWithState job
    (streaming/jobs.user_type_profile_stream), Spark 4's successor to
    applyInPandasWithState and the one streaming state API the §2.3
    matrix didn't cover. The streaming twin carries the same totals in
    a per-user MapState keyed by event_type; tests/test_streaming.py
    pins its converged emission against exactly this answer.

    Totals accumulate on the 1e6 integer grid (int64 sums are
    associative, so batch partial-agg order, streaming micro-batch
    arrival order, and the DuckDB oracle's hugeint sum all produce the
    same integer), finalized as micro-units / 1e6 — the identical IEEE
    division in every engine. Per-row |value*1e6| < 5e8 and per-group
    row counts keep the int64 sum orders of magnitude under 2^63;
    ANSI mode fails loudly if a rescale is ever needed.

    100 TB shape: algebraic aggregate, map-side combine, one shuffle
    on (user_id, event_type); the streaming twin's state is one tiny
    (n, micro_total) tuple per (user, type) in a RocksDB store
    partitioned by the group key."""
    from mapreduce_go_spark.functions.num import grid

    ev = tables.load(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id", "event_type")
        .agg(F.count("*").alias("n"),
             (F.sum(grid(F.col("value"), 10**6)) / F.lit(1_000_000.0))
             .alias("total"))
    )


RECENT_K = 5                      # last-K events kept per user
IDLE_GAP_MS = 6 * 3600 * 1000     # idle-flush gap (6 hours)
# THE late-data horizon, in ms — streaming/jobs derives its WATERMARK
# string from this constant, so the batch anchors and the streaming
# jobs cannot be edited apart (r14 review: the coupling was a comment)
WATERMARK_MS = 2 * 3600 * 1000
FLUSH_DELAY_MS = WATERMARK_MS


def user_recent_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user last-RECENT_K events by (ts, event_id) — the batch
    anchor of the transformWithState ListState job
    (streaming/jobs.user_recent_events_stream): the streaming twin
    keeps exactly this top-K in a per-user ListState, trimmed on
    every micro-batch, so its converged snapshot must equal this
    window query regardless of how the input was micro-batched
    (the top-K-by-total-order merge is associative).

    v_micro is the 1e6-grid image of value (NULL propagates) — the
    same integer the streaming state carries, so parity is exact.

    100 TB shape: one shuffle on user_id; the rank filter compares
    against a CONSTANT so WindowGroupLimit keeps only K rows per user
    per map partition ahead of the exchange; streaming state is K
    tiny tuples per user in RocksDB."""
    from pyspark.sql import Window

    from mapreduce_go_spark.functions.num import grid

    ev = tables.load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc())
    return (
        ev.select("user_id", "ts", "event_id", "event_type",
                  grid(F.col("value"), 10**6).alias("v_micro"))
        .withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= RECENT_K)
        .select("user_id", "rk", "event_id", "event_type", "v_micro")
    )


def idle_user_flush(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Users the event-time idle TIMER has flushed by end-of-stream —
    the batch anchor of the transformWithState timer job
    (streaming/jobs.idle_user_flush_stream). The streaming twin
    re-arms a per-user timer at last_event + IDLE_GAP_MS on every
    batch; a timer fires when the event-time watermark (final value:
    max(ts) - FLUSH_DELAY_MS, the job's withWatermark delay) passes
    it, emitting the user's running (n, m_micro, last_ms) aggregate.
    So the DETERMINISTIC converged output is exactly: every user
    whose last event is at-or-older-than max(ts) - delay - gap,
    carrying their full aggregate — which is this query. (Boundary
    is millisecond-floored like the engine's timer arithmetic;
    fixture user idle gaps are minutes-to-hours apart, so the sub-ms
    floor can never flip membership. Equality is INCLUSIVE: the
    engine fires a timer when watermark == its expiry timestamp —
    probed end-to-end in tests/test_streaming.py::
    test_tws_idle_flush_boundary_equality_is_inclusive — so the
    filter below is <=, not <.)

    100 TB shape: algebraic per-user aggregate (map-side combine, one
    shuffle), the max(ts) scalar broadcast; streaming state is one
    (n, m, last_ms) tuple + one registered timer per user."""
    from mapreduce_go_spark.functions.num import grid

    ev = tables.load(spark, sf_dir, "events")
    per = ev.groupBy("user_id").agg(
        F.count("*").alias("n"),
        F.coalesce(F.sum(grid(F.col("value"), 10**6)), F.lit(0))
        .alias("m_micro"),
        F.max("ts").alias("last_ts"),
    )
    # global max from the per-user aggregate, not a second full
    # events scan: max over per-user maxes == global max, and the
    # identical groupBy subtree lets Spark reuse the exchange — one
    # corpus scan instead of two (r15 review)
    mx = per.agg(F.expr("unix_micros(max(last_ts)) div 1000")
                 .alias("max_ms"))
    return (
        per.crossJoin(F.broadcast(mx))
        .where(F.expr("unix_micros(last_ts) div 1000")
               + F.lit(IDLE_GAP_MS) <= F.col("max_ms") - FLUSH_DELAY_MS)
        .select("user_id", "n", "m_micro",
                F.expr("unix_micros(last_ts) div 1000").alias("last_ms"))
    )


def event_enrichment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of the stream-static dimension-enrichment join
    (streaming/jobs.enriched_segment_counts): events joined to the
    broadcast customer dim, aggregated per (segment, type). At 100 TB
    the events side streams/shuffles; the dim stays broadcast."""
    ev = tables.load(spark, sf_dir, "events")
    c = tables.load(spark, sf_dir, "customer")
    return (
        ev.join(
            F.broadcast(c.select("c_custkey", "c_mktsegment")),
            ev["user_id"] == F.col("c_custkey"),
        )
        .groupBy("c_mktsegment", "event_type")
        .agg(F.count("*").alias("n"), dsum(F.col("value")).alias("total"))
    )


QUERIES = {
    "tumbling_window": tumbling_window,
    "event_enrichment": event_enrichment,
    "sliding_window": sliding_window,
    "sessionize": sessionize,
    "dedup_first_event": dedup_first_event,
    "purchase_click_attribution": purchase_click_attribution,
    "purchase_click_attribution_outer": purchase_click_attribution_outer,
    "user_type_profile": user_type_profile,
    "user_recent_events": user_recent_events,
    "idle_user_flush": idle_user_flush,
}

# one attribution formulation, join type spliced (mirrors the Spark
# side's _attribution helper — r15 review)
_ATTRIB_SQL = """
        SELECT p.user_id AS p_user, p.event_id AS purchase_id,
               c.event_id AS click_id, p.ts AS p_ts, c.ts AS c_ts
        FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        {join} (SELECT * FROM events WHERE event_type = 'click') c
          ON p.user_id = c.user_id
         AND c.ts <= p.ts
         AND c.ts > p.ts - INTERVAL 1 HOUR
    """

ORACLES = {
    "user_recent_events": f"""
        SELECT user_id, rk, event_id, event_type, v_micro FROM (
            SELECT user_id, event_id, event_type,
                   cast(round(value * 1000000) AS bigint) AS v_micro,
                   row_number() OVER (PARTITION BY user_id
                                      ORDER BY ts DESC, event_id DESC)
                       AS rk
            FROM events)
        WHERE rk <= {RECENT_K}
    """,
    "idle_user_flush": f"""
        WITH per AS (
            SELECT user_id, count(*) AS n,
                   coalesce(sum(cast(round(value * 1000000) AS bigint)),
                            0) AS m_micro,
                   max(ts) AS last_ts
            FROM events GROUP BY user_id
        ),
        mx AS (SELECT epoch_us(max(ts)) // 1000 AS max_ms FROM events)
        SELECT user_id, cast(n AS bigint) AS n,
               cast(m_micro AS bigint) AS m_micro,
               epoch_us(last_ts) // 1000 AS last_ms
        FROM per CROSS JOIN mx
        WHERE epoch_us(last_ts) // 1000 + {IDLE_GAP_MS}
                  <= max_ms - {FLUSH_DELAY_MS}
    """,
    "event_enrichment": f"""
        SELECT c_mktsegment, event_type, count(*) AS n,
               {dsum_sql('value')} AS total
        FROM events JOIN customer ON user_id = c_custkey
        GROUP BY 1, 2
    """,
    "tumbling_window": f"""
        SELECT time_bucket(INTERVAL '1 day', ts) AS win_start,
               time_bucket(INTERVAL '1 day', ts) + INTERVAL '1 day' AS win_end,
               event_type, count(*) AS n,
               {dsum_sql('value')} AS total
        FROM events WHERE ts IS NOT NULL GROUP BY 1, 2, 3
    """,
    "sliding_window": f"""
        WITH assigned AS (
            SELECT time_bucket(INTERVAL '30 minutes', ts)
                       - o.off * INTERVAL '30 minutes' AS win_start,
                   event_type, value
            FROM events, (VALUES (0), (1)) AS o(off)
            WHERE ts IS NOT NULL
        )
        SELECT win_start, win_start + INTERVAL '1 hour' AS win_end,
               event_type, count(*) AS n,
               {dsum_sql('value')} AS total
        FROM assigned GROUP BY 1, 2, 3
    """,
    # lag+cumsum twin of Spark's native session_window: STRICTLY
    # MORE than gap microseconds starts a new session (the boundary
    # is inclusive-merge: Spark merges an event exactly `gap` after
    # the last — the r15 review found the old >= here inverted, and
    # the fixture's microsecond-random timestamps never exercised it);
    # NULL-ts rows are dropped like the window generator drops them;
    # cumsum+1 gives the 1-based per-user ordinal row_number produces
    # on the Spark side.
    "sessionize": f"""
        WITH gapped AS (
            SELECT user_id, ts, event_id, value,
                   CASE WHEN epoch_us(ts) - epoch_us(lag(ts) OVER w)
                             > 1800 * 1000000
                        THEN 1 ELSE 0 END AS new_sess
            FROM events
            WHERE ts IS NOT NULL
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ),
        numbered AS (
            SELECT *, cast(sum(new_sess) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS bigint) + 1 AS sess_no
            FROM gapped
        )
        SELECT user_id, sess_no,
               min(ts) AS sess_start, max(ts) AS sess_last,
               count(*) AS n_events, {dsum_sql('value')} AS total
        FROM numbered GROUP BY user_id, sess_no
    """,
    "dedup_first_event": """
        SELECT user_id, event_type, event_id, ts
        FROM (SELECT user_id, event_type, event_id, ts,
                     row_number() OVER (PARTITION BY user_id, event_type
                                        ORDER BY ts, event_id) AS rn
              FROM events WHERE ts IS NOT NULL)
        WHERE rn = 1
    """,
    "purchase_click_attribution": _ATTRIB_SQL.format(join="JOIN"),
    "purchase_click_attribution_outer": _ATTRIB_SQL.format(
        join="LEFT JOIN"),
    # int64 grid sum is associative -> DuckDB's hugeint sum of the
    # same per-row integers matches Spark's long sum bit-for-bit; the
    # /1e6 finalization is the identical IEEE division (hugeint ->
    # double exact below 2^53)
    "user_type_profile": """
        SELECT user_id, event_type,
               count(*) AS n,
               sum(cast(round(value * 1000000) AS bigint)) / 1000000.0
                   AS total
        FROM events GROUP BY user_id, event_type
    """,
}
