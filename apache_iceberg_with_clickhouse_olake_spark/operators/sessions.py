"""Sessionization over the ``events`` table (extension; the reference's
user_sessions table is pre-sessionized by its generator,
mysql-init/01-setup.sql:242-289 -- here we *derive* sessions from a raw
event stream, the Structured-Streaming-ready shape).

Two equivalent formulations, both oracle-checked:
- gap-based lag/cumsum sessionization (the classic window recipe)
- ``session_window`` built-in (what the streaming path uses with a
  watermark; see ..streaming for the readStream variant)

Timestamps are exported as epoch seconds (BIGINT) because the raw events
carry nanosecond precision: DuckDB keeps ns while Spark truncates to
micros, so comparing raw timestamps would be a false mismatch.

Scale notes: everything partitions by user_id (high cardinality, uniform)
-- one shuffle, bounded per-user state; the session gap constant bounds
streaming state with a watermark.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions import dround, dround_sql, dsum, dsum_sql
from ..sources.parquet import load_table
from .registry import query

SESSION_GAP_SECS = 30 * 60

# Spark: ts is micros; DuckDB: ns. epoch_us both floors to micros.
_D_EPOCH = "epoch_us(ts) // 1000000"


def _spark_epoch() -> F.Column:
    return (F.unix_micros("ts") / 1_000_000).cast("long")


def _sessions_sql(
    cols: str, epoch: str = _D_EPOCH, gap: str = str(SESSION_GAP_SECS)
) -> str:
    """e/s CTEs: every event with ``cols`` and its gap-based session_seq
    (a session breaks where ``epoch`` advances past ``gap`` since the
    user's previous event) -- the SQL twin of :func:`sessionize`."""
    return f"""e AS (
      SELECT user_id, event_id, ts, {cols},
             CASE WHEN {epoch}
                    - lag({epoch}) OVER (
                        PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
                    > {gap}
                  OR lag(ts) OVER (
                        PARTITION BY user_id ORDER BY epoch_us(ts), event_id) IS NULL
                  THEN 1 ELSE 0 END AS new_sess
      FROM events
    ),
    s AS (
      SELECT *, SUM(new_sess) OVER (
               PARTITION BY user_id ORDER BY epoch_us(ts), event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_seq
      FROM e
    )"""


def sessionize(events: DataFrame, gap_secs: int = SESSION_GAP_SECS) -> DataFrame:
    """Assign gap-based session ids: a session breaks when the time since
    the user's previous event exceeds ``gap_secs``."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    epoch = _spark_epoch()
    gap = epoch - F.lag(epoch).over(w)
    new_sess = F.when(gap.isNull() | (gap > gap_secs), 1).otherwise(0)
    wcum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return events.withColumn("session_seq", F.sum(new_sess).over(wcum))


@query(
    "sessionize_events",
    oracle=f"""
    WITH {_sessions_sql(f"{_D_EPOCH} AS ep, value")}
    SELECT user_id,
           CAST(session_seq AS BIGINT) AS session_seq,
           COUNT(*) AS n_events,
           MIN(ep) AS first_ts_epoch,
           MAX(ep) AS last_ts_epoch,
           MAX(ep) - MIN(ep) AS duration_secs,
           {dsum_sql('value')} AS session_value
    FROM s
    GROUP BY user_id, session_seq
    """,
    tags=("llm-sessions", "C3"),
)
def sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30-min inactivity) -> per-session rollup:
    event count, span, summed value."""
    events = load_table(spark, sf_dir, "events")
    s = sessionize(events)
    epoch = _spark_epoch()
    return (
        s.select(
            "user_id", "session_seq", "event_id", "value", epoch.alias("ep")
        )
        .groupBy("user_id", F.col("session_seq").cast("long").alias("session_seq"))
        .agg(
            F.count("*").alias("n_events"),
            F.min("ep").alias("first_ts_epoch"),
            F.max("ep").alias("last_ts_epoch"),
            (F.max("ep") - F.min("ep")).alias("duration_secs"),
            dsum("value", "session_value"),
        )
    )


@query(
    "session_window_rollup",
    oracle=f"""
    WITH {_sessions_sql(
        f"{_D_EPOCH} AS ep, value",
        "epoch_us(ts)",
        f"{SESSION_GAP_SECS} * 1000000",
    )}
    SELECT user_id,
           MIN(ep) AS window_start_epoch,
           MAX(ep) + {SESSION_GAP_SECS} AS window_end_epoch,
           COUNT(*) AS n_events,
           {dsum_sql('value')} AS session_value
    FROM s
    GROUP BY user_id, session_seq
    """,
    tags=("llm-sessions",),
)
def session_window_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same sessions via Spark's built-in ``session_window`` (batch
    mode; the streaming variant adds withWatermark, see ..streaming).
    session_window's end = last event + gap, mirrored in the oracle.

    NOTE: session_window resolves gaps at MICROSECOND resolution —
    windows that touch (gap == exactly the session gap) merge, a gap
    one microsecond past it splits. The lag-based oracle therefore
    compares epoch_us with ``> gap * 1e6``; an earlier revision
    compared SECOND-truncated epochs, which silently merged gaps in
    (gap, gap + 1s) that session_window splits — found by the
    randomized-corpus suite's exact-boundary pair (r17). The
    hand-rolled sessionize() family truncates to seconds on BOTH
    engines, so its ``> gap`` rule at second resolution stays
    self-consistent."""
    events = load_table(spark, sf_dir, "events")
    sw = F.session_window("ts", f"{SESSION_GAP_SECS} seconds")
    return (
        events.groupBy("user_id", sw)
        .agg(
            F.count("*").alias("n_events"),
            dsum("value", "session_value"),
        )
        .select(
            "user_id",
            (F.unix_micros(F.col("session_window.start")) / 1_000_000)
            .cast("long")
            .alias("window_start_epoch"),
            (F.unix_micros(F.col("session_window.end")) / 1_000_000)
            .cast("long")
            .alias("window_end_epoch"),
            "n_events",
            "session_value",
        )
    )


@query(
    "session_length_distribution",
    oracle=f"""
    WITH {_sessions_sql(f"{_D_EPOCH} AS ep")},
    per AS (
      SELECT user_id, session_seq, COUNT(*) AS n_events
      FROM s GROUP BY user_id, session_seq
    )
    SELECT n_events AS session_length,
           COUNT(*) AS sessions,
           COUNT(DISTINCT user_id) AS users
    FROM per
    GROUP BY n_events
    ORDER BY session_length
    """,
    tags=("llm-sessions", "A10"),
)
def session_length_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Histogram of session lengths -- the profiling companion (A10 shape)
    for the sessionizer."""
    events = load_table(spark, sf_dir, "events")
    per = (
        sessionize(events)
        .groupBy("user_id", "session_seq")
        .agg(F.count("*").alias("n_events"))
    )
    return (
        per.groupBy(F.col("n_events").alias("session_length"))
        .agg(
            F.count("*").alias("sessions"),
            F.countDistinct("user_id").alias("users"),
        )
        .orderBy("session_length")
    )


# ---------------------------------------------------------------------------
# As-of join (custom operator Spark lacks; composed from window functions,
# oracle = DuckDB's NATIVE ASOF JOIN -- two independent constructions must
# agree)
# ---------------------------------------------------------------------------

@query(
    "asof_click_to_purchase",
    oracle="""
    WITH c AS (
      SELECT user_id, epoch_us(ts) AS us FROM events
      WHERE event_type = 'click'
    ),
    p AS (
      SELECT event_id, user_id, epoch_us(ts) AS us FROM events
      WHERE event_type = 'purchase'
    )
    SELECT p.event_id, p.user_id,
           c.us IS NOT NULL AS has_prior_click,
           (p.us - c.us) // 1000000 AS gap_secs
    FROM p ASOF LEFT JOIN c
      ON p.user_id = c.user_id AND p.us >= c.us
    """,
    tags=("llm-sessions", "J1"),
)
def asof_click_to_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: for every purchase, the user's most recent click at or
    before it (time-to-convert). Spark has no ASOF JOIN; the scalable
    composition is a tagged union + one per-user window pass (never a
    range cross-join): clicks sort before purchases at equal timestamps,
    and last(click_us, ignoreNulls) carries the as-of match forward. The
    oracle is DuckDB's NATIVE ASOF JOIN, so two independent constructions
    must agree (gap is tie-invariant when several clicks share an
    instant). One shuffle, keyed by user_id."""
    events = load_table(spark, sf_dir, "events")
    us = F.unix_micros("ts")
    tagged = events.filter(
        F.col("event_type").isin("click", "purchase")
    ).select(
        "event_id",
        "user_id",
        us.alias("us"),
        F.when(F.col("event_type") == "click", 0).otherwise(1).alias("tag"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("us", "tag", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    click_us = F.last(
        F.when(F.col("tag") == 0, F.col("us")), ignorenulls=True
    ).over(w)
    return (
        tagged.withColumn("click_us", click_us)
        .filter(F.col("tag") == 1)
        .select(
            "event_id",
            "user_id",
            F.col("click_us").isNotNull().alias("has_prior_click"),
            F.expr("(us - click_us) div 1000000").alias("gap_secs"),
        )
    )


# ---------------------------------------------------------------------------
# Weekly retention cohorts
# ---------------------------------------------------------------------------

_WEEK_US = 7 * 86400 * 1_000_000


@query(
    "retention_cohorts",
    oracle=f"""
    WITH weeks AS (
      SELECT DISTINCT user_id, epoch_us(ts) // {_WEEK_US} AS week
      FROM events
    ),
    cohort AS (
      SELECT user_id, MIN(week) AS cohort_week FROM weeks GROUP BY user_id
    )
    SELECT c.cohort_week,
           CAST(w.week - c.cohort_week AS INT) AS week_offset,
           COUNT(*) AS active_users
    FROM weeks w JOIN cohort c USING (user_id)
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
    tags=("llm-sessions", "A8"),
)
def retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly retention triangle: users bucketed by first-seen week, then
    counted in each later week they stayed active. distinct (user, week)
    bounds state; the cohort join is key-to-key on user_id."""
    events = load_table(spark, sf_dir, "events")
    weeks = events.select(
        "user_id", F.expr(f"unix_micros(ts) div {_WEEK_US}").alias("week")
    ).distinct()
    cohort = weeks.groupBy("user_id").agg(F.min("week").alias("cohort_week"))
    return (
        weeks.join(cohort, "user_id")
        .groupBy(
            "cohort_week",
            (F.col("week") - F.col("cohort_week")).cast("int").alias(
                "week_offset"
            ),
        )
        .agg(F.count("*").alias("active_users"))
        .orderBy("cohort_week", "week_offset")
    )


# ---------------------------------------------------------------------------
# Ordered funnel (signup -> click -> purchase)
# ---------------------------------------------------------------------------

@query(
    "funnel_signup_click_purchase",
    oracle="""
    WITH per_user AS (
      SELECT user_id,
             MIN(CASE WHEN event_type = 'signup'
                 THEN epoch_us(ts) END) AS s_us,
             MIN(CASE WHEN event_type = 'click'
                 THEN epoch_us(ts) END) AS c_us,
             MIN(CASE WHEN event_type = 'purchase'
                 THEN epoch_us(ts) END) AS p_us
      FROM events GROUP BY user_id
    )
    SELECT COUNT(*) AS users,
           COUNT(s_us) AS signed_up,
           COUNT(CASE WHEN c_us > s_us THEN 1 END) AS clicked_after_signup,
           COUNT(CASE WHEN c_us > s_us AND p_us > c_us THEN 1 END)
             AS purchased_after_click
    FROM per_user
    """,
    tags=("llm-sessions", "A6"),
)
def funnel_signup_click_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel: users whose FIRST signup precedes their
    first click precedes their first purchase. One groupBy(user) computing
    three conditional-min timestamps, then a single-row rollup -- the
    funnel never materializes event pairs, so cost is one keyed shuffle
    regardless of corpus size."""
    events = load_table(spark, sf_dir, "events")
    us = F.unix_micros("ts")

    def first_ts(t: str):
        return F.min(F.when(F.col("event_type") == t, us))

    per_user = events.groupBy("user_id").agg(
        first_ts("signup").alias("s_us"),
        first_ts("click").alias("c_us"),
        first_ts("purchase").alias("p_us"),
    )
    return per_user.agg(
        F.count("*").alias("users"),
        F.count("s_us").alias("signed_up"),
        F.count(F.when(F.col("c_us") > F.col("s_us"), 1)).alias(
            "clicked_after_signup"
        ),
        F.count(
            F.when(
                (F.col("c_us") > F.col("s_us"))
                & (F.col("p_us") > F.col("c_us")),
                1,
            )
        ).alias("purchased_after_click"),
    )


# ---------------------------------------------------------------------------
# Interval x point range join via bucket decomposition
# ---------------------------------------------------------------------------

_RJ_N_WINDOWS = 16
_RJ_STEP_DIV = 20    # a window starts every span/20
_RJ_WIDTH_DIV = 8    # each window spans span/8 (~2.5x overlap)
_RJ_N_BUCKETS = 64   # bucket grid the intervals decompose onto


@query(
    "events_interval_bucket_join",
    oracle=f"""
    WITH e AS (
      SELECT user_id, value, {_D_EPOCH} AS es FROM events
    ),
    sp AS (
      SELECT MIN(es) AS tmin, MAX(es) - MIN(es) + 1 AS span FROM e
    ),
    w AS (
      SELECT g.j AS window_id,
             sp.tmin + g.j * (sp.span // {_RJ_STEP_DIV}) AS ws,
             sp.tmin + g.j * (sp.span // {_RJ_STEP_DIV})
               + sp.span // {_RJ_WIDTH_DIV} AS we
      FROM sp, generate_series(0, {_RJ_N_WINDOWS - 1}) AS g(j)
    )
    SELECT w.window_id,
           CAST(w.ws AS BIGINT) AS window_start_epoch,
           CAST(w.we AS BIGINT) AS window_end_epoch,
           COUNT(*) AS n_events,
           CAST(COUNT(DISTINCT e.user_id) AS BIGINT) AS n_users,
           {dsum_sql('e.value')} AS window_value
    FROM e JOIN w ON e.es >= w.ws AND e.es < w.we
    GROUP BY 1, 2, 3
    ORDER BY 1
    """,
    tags=("llm-sessions", "C3"),
)
def events_interval_bucket_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval x point RANGE JOIN by bucket decomposition: {nw}
    overlapping analysis windows (derived deterministically from the
    stream's own span -- no pinned epochs) each rolled up over the
    events whose time falls inside them. The naive plan is a
    nested-loop theta join (every event tested against every interval);
    the scale plan decomposes each interval onto a fixed bucket grid,
    maps every event to its single covering bucket, EQUI-joins on the
    bucket id, and re-checks the exact bounds only for the events that
    share a bucket -- the bin/range-join optimization every warehouse
    applies to interval joins (public Databricks/Spark range-join-hint
    semantics re-expressed with plain DataFrame ops). Buckets are
    disjoint, so (event, window) pairs emerge exactly once -- no
    post-join dedup.

    Shape at scale: the exploded (window, bucket) table is
    windows x coverage rows -- tiny -- and broadcasts; events shuffle
    NOWHERE (the bucket id is a scan-side projection, the join is
    broadcast-hash, the rollup has map-side partials over at most
    n_windows x overlap groups). At 1e6 windows the same plan holds
    with the window side becoming a shuffled equi-join keyed by
    bucket -- still never a cartesian -- and the grid density is the
    knob trading join fan-out ({cov} buckets/window here) against
    false-positive bound checks per bucket.

    The span probe (tmin/step/width/bw) is derived IN-PLAN, exactly
    like the oracle's sp CTE: ONE scalar subquery (a struct-packed
    1-row aggregate, deduplicated by ReuseSubquery) feeds both the
    window grid and the event bucket projection as plain expressions
    -- no join of any kind for the scalars, so the only join in the
    plan is the bucket equi-join itself. Constructing the query scans
    nothing (lazy-scalar rule); executing it costs one extra 1-row
    span aggregate, the in-plan price of a data-derived grid.
    Floor-div via double division is exact here: every operand is a
    non-negative epoch-second offset < 2^53."""
    events = load_table(spark, sf_dir, "events").select(
        "user_id", "value", _spark_epoch().alias("es")
    )
    # Oracle's sp CTE as ONE struct-packed scalar subquery.
    sp = events.agg(
        F.min("es").alias("tmin"),
        (F.max("es") - F.min("es") + F.lit(1)).alias("span"),
    )
    sc = sp.select(
        F.struct(
            F.col("tmin"),
            F.expr(f"span DIV {_RJ_STEP_DIV}").alias("step"),
            F.expr(f"span DIV {_RJ_WIDTH_DIV}").alias("width"),
            F.greatest(
                F.expr(f"span DIV {_RJ_N_BUCKETS}"), F.lit(1)
            ).alias("bw"),
        ).alias("s")
    ).scalar()
    tmin, step, width, bw = (
        sc.getField(f) for f in ("tmin", "step", "width", "bw")
    )
    # (window, covering-bucket) rows, all exact integer arithmetic
    # inside the plan (buckets are tmin-relative).
    wb = (
        spark.range(_RJ_N_WINDOWS)
        .select(F.col("id").alias("window_id"), (F.col("id") * step).alias("rel_ws"))
        .select("window_id", "rel_ws", (F.col("rel_ws") + width).alias("rel_we"))
        .select(
            "window_id",
            (tmin + F.col("rel_ws")).alias("ws"),
            (tmin + F.col("rel_we")).alias("we"),
            F.explode(
                F.sequence(
                    F.floor(F.col("rel_ws") / bw).cast("long"),
                    F.floor((F.col("rel_we") - 1) / bw).cast("long"),
                )
            ).alias("bucket"),
        )
    )
    tagged = events.withColumn(
        "bucket", F.floor((F.col("es") - tmin) / bw).cast("long")
    )
    return (
        tagged.join(F.broadcast(wb), "bucket")
        .filter((F.col("es") >= F.col("ws")) & (F.col("es") < F.col("we")))
        .groupBy("window_id", "ws", "we")
        .agg(
            F.count("*").alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
            dsum(F.col("value"), "window_value"),
        )
        .select(
            "window_id",
            F.col("ws").alias("window_start_epoch"),
            F.col("we").alias("window_end_epoch"),
            "n_events",
            "n_users",
            "window_value",
        )
        .orderBy("window_id")
    )


events_interval_bucket_join.__doc__ = events_interval_bucket_join.__doc__.format(
    nw=_RJ_N_WINDOWS,
    cov=_RJ_N_BUCKETS // _RJ_WIDTH_DIV + 1,
)


# ---------------------------------------------------------------------------
# Session path mining: within-session event-type transitions
# ---------------------------------------------------------------------------

_PATH_TOP = 25


@query(
    "session_event_bigrams",
    oracle=f"""
    WITH {_sessions_sql("event_type")},
    t AS (
      SELECT event_type AS from_type,
             lead(event_type) OVER (
               PARTITION BY user_id, session_seq
               ORDER BY epoch_us(ts), event_id) AS to_type
      FROM s
    )
    SELECT from_type, to_type, COUNT(*) AS n_transitions
    FROM t WHERE to_type IS NOT NULL
    GROUP BY from_type, to_type
    ORDER BY n_transitions DESC, from_type, to_type
    LIMIT {_PATH_TOP}
    """,
    tags=("llm-sessions", "W-ext"),
)
def session_event_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-pattern mining over sessionized streams: the top
    within-session event-type transitions (path bigrams) -- the
    behavioral building block funnel and next-action models consume.
    Session boundaries cut transitions (a purchase followed by a fresh
    visit hours later is NOT a path edge), which is what distinguishes
    this from a plain corpus bigram count.

    Shape at scale: sessionization's single user-keyed shuffle, then
    lead() over (user, session) partitions -- per-partition state is
    one row, no corpus-wide window -- then a transition rollup whose
    cardinality is event-type^2 (tiny, map-side partials) and a
    TakeOrdered top-{n}."""
    events = load_table(spark, sf_dir, "events")
    s = sessionize(events)
    # full-precision ts (micros on both engines after the source
    # boundary), NOT the second-resolution epoch: two same-second events
    # whose event_id order disagrees with their microsecond order would
    # otherwise sequence differently across engines
    w = Window.partitionBy("user_id", "session_seq").orderBy(
        "ts", "event_id"
    )
    return (
        s.select(
            F.col("event_type").alias("from_type"),
            F.lead("event_type").over(w).alias("to_type"),
        )
        .filter(F.col("to_type").isNotNull())
        .groupBy("from_type", "to_type")
        .agg(F.count("*").alias("n_transitions"))
        .orderBy(F.col("n_transitions").desc(), "from_type", "to_type")
        .limit(_PATH_TOP)
    )


session_event_bigrams.__doc__ = session_event_bigrams.__doc__.format(
    n=_PATH_TOP
)


# ---------------------------------------------------------------------------
# Per-user lifetime profile (first/last seen, active days)
# ---------------------------------------------------------------------------

@query(
    "user_lifetime_stats",
    oracle=f"""
    WITH e AS (
      SELECT user_id, {_D_EPOCH} AS es FROM events
    )
    SELECT user_id,
           COUNT(*) AS n_events,
           CAST(MIN(es) AS BIGINT) AS first_seen_epoch,
           CAST(MAX(es) AS BIGINT) AS last_seen_epoch,
           CAST(MAX(es) - MIN(es) AS BIGINT) AS lifetime_secs,
           CAST(COUNT(DISTINCT es // 86400) AS BIGINT) AS active_days,
           {dround_sql(
               'COUNT(*) / CAST(COUNT(DISTINCT es // 86400) AS DOUBLE)', 4
           )} AS events_per_active_day
    FROM e
    GROUP BY user_id
    ORDER BY user_id
    """,
    tags=("A3", "A2"),
)
def user_lifetime_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user lifetime profile: first/last event timestamps, lifetime
    span, distinct active days and event intensity -- the recency/
    tenure table every engagement pipeline derives from a raw stream
    (ClickHouse-family MIN/MAX-timestamp rollup, the same grouped
    time-extremes idiom as the reference's aggregation comparisons,
    compare-query-performance.sql). Active days count distinct integer
    epoch-day buckets (es // 86400) rather than engine dates, and all
    timestamps export as epoch seconds (module ns-vs-us rule).

    Shape at scale: ONE shuffle keyed by user_id (high-cardinality,
    uniform -- the same key every session op here rides), count/min/max
    all with map-side partials; count(DISTINCT day) is per-group
    bounded (~90 distinct days in the fixture, never more than the
    stream's day span), so the agg state stays O(days) per user --
    no expansion joins, no windows."""
    events = load_table(spark, sf_dir, "events").select(
        "user_id", _spark_epoch().alias("es")
    )
    day = F.floor(F.col("es") / 86400).cast("long")
    return (
        events.groupBy("user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.min("es").alias("first_seen_epoch"),
            F.max("es").alias("last_seen_epoch"),
            (F.max("es") - F.min("es")).alias("lifetime_secs"),
            F.countDistinct(day).alias("active_days"),
            dround(
                F.count("*") / F.countDistinct(day).cast("double"), 4
            ).alias("events_per_active_day"),
        )
        .orderBy("user_id")
    )
