"""Event-analytics operators over the ``events`` table: ordered-funnel
conversion and weekly cohort retention.

These are the workload-analysis queries a training-data platform runs over
its own telemetry (ingest → filter → dedup → publish stage progression maps
exactly onto an event funnel; cohort retention is the canonical "did users
who arrived in week W come back in week W+k" rollup). Both are pure
integer-count outputs, so the driver hash is trivially exact.

Scale shape: the funnel reads the fact table ONCE and shuffles once by
``user_id`` (per-user sorted-array folds, not a per-stage scan+join
chain), and retention's second aggregate shuffles only
``(cohort_week, week_offset, user_id)`` triples, never raw events.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..catalog import load_table
from .registry import register

#: ordered conversion stages (events outside the funnel are ignored)
FUNNEL_STAGES = ("signup", "view", "click", "purchase")


def funnel_stage_times(ev: DataFrame) -> DataFrame:
    """Per-user completion times ``[user_id, t_1 .. t_n]`` of the
    ``FUNNEL_STAGES`` where ``t_i`` is the first time the user completed
    stage i at-or-after their ``t_{i-1}`` (NULL once a stage is never
    reached).

    ONE pass, ONE shuffle: funnel-relevant events are filtered at the scan
    (the predicate pushes down to parquet), shuffled once by ``user_id``,
    and each user's time-sorted event array is folded once per stage — the
    sequential-minimum semantics without re-scanning the fact table per
    stage (the naive per-stage groupBy+join chain reads a 100 TB events
    table four times; this reads it once). Per-user arrays are bounded by
    per-user event counts — cap with a slice if a bot user can emit
    millions of rows."""
    relevant = ev.filter(F.col("event_type").isin(*FUNNEL_STAGES))
    per_user = relevant.groupBy("user_id").agg(
        F.sort_array(F.collect_list(F.struct("ts", "event_type")))
        .alias("evs"))
    def _first_at(stage: str, prev):
        def fold(acc, x):
            qual = x["event_type"] == stage
            if prev is not None:
                qual = qual & (x["ts"] >= prev)
            return F.when(acc.isNull() & qual, x["ts"]).otherwise(acc)

        return F.aggregate(F.col("evs"),
                           F.lit(None).cast("timestamp"), fold)

    prev = None
    for i, stage in enumerate(FUNNEL_STAGES):
        per_user = per_user.withColumn(f"t{i + 1}", _first_at(stage, prev))
        prev = F.col(f"t{i + 1}")
    return per_user.drop("evs")


@register(
    "event_funnel_steps",
    oracle="""
    WITH s1 AS (
      SELECT user_id, MIN(ts) AS t FROM events
      WHERE event_type = 'signup' GROUP BY user_id
    ), s2 AS (
      SELECT e.user_id, MIN(e.ts) AS t FROM events e JOIN s1 USING (user_id)
      WHERE e.event_type = 'view' AND e.ts >= s1.t GROUP BY e.user_id
    ), s3 AS (
      SELECT e.user_id, MIN(e.ts) AS t FROM events e JOIN s2 USING (user_id)
      WHERE e.event_type = 'click' AND e.ts >= s2.t GROUP BY e.user_id
    ), s4 AS (
      SELECT e.user_id, MIN(e.ts) AS t FROM events e JOIN s3 USING (user_id)
      WHERE e.event_type = 'purchase' AND e.ts >= s3.t GROUP BY e.user_id
    )
    SELECT 1 AS step, 'signup' AS stage, COUNT(*) AS n_users FROM s1
    UNION ALL SELECT 2, 'view', COUNT(*) FROM s2
    UNION ALL SELECT 3, 'click', COUNT(*) FROM s3
    UNION ALL SELECT 4, 'purchase', COUNT(*) FROM s4
    """,
)
def event_funnel_steps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel signup → view → click → purchase: stage i
    counts users whose first qualifying stage-i event is at or after their
    first qualifying stage-(i-1) event (strict sequence, not mere
    presence). Four rows out; all counts exact."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    ev = load_table(spark, sf_dir, "events")
    times = funnel_stage_times(ev)
    counts = times.agg(*[
        F.count(F.col(f"t{i + 1}")).alias(f"n{i + 1}")   # count skips NULLs
        for i in range(len(FUNNEL_STAGES))
    ])
    stack = ", ".join(f"{i + 1}, '{s}', n{i + 1}"
                      for i, s in enumerate(FUNNEL_STAGES))
    return counts.selectExpr(
        f"stack({len(FUNNEL_STAGES)}, {stack}) AS (step, stage, n_users)")


@register(
    "cohort_retention_weekly",
    oracle="""
    WITH first_seen AS (
      SELECT user_id, date_trunc('week', MIN(ts)) AS cohort_week
      FROM events GROUP BY user_id
    )
    SELECT f.cohort_week,
           CAST(floor(date_diff('day', f.cohort_week,
                                date_trunc('week', e.ts)) / 7)
                AS INT) AS week_offset,
           COUNT(DISTINCT e.user_id) AS n_users
    FROM events e JOIN first_seen f USING (user_id)
    GROUP BY f.cohort_week, week_offset
    """,
)
def cohort_retention_weekly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention: users bucketed by the ISO week of their
    first event; for each (cohort, weeks-since-cohort) cell, the distinct
    users active in that week. The classic retention triangle — only
    ``(cohort_week, week_offset, user_id)`` reaches the second aggregate,
    and the first-seen frame joins back on the same ``user_id``
    partitioning the groupBy produced."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    ev = load_table(spark, sf_dir, "events")
    first_seen = (ev.groupBy("user_id")
                  .agg(F.date_trunc("week", F.min("ts")).alias("cohort_week")))
    act = ev.join(first_seen, "user_id").select(
        "user_id", "cohort_week",
        F.date_trunc("week", F.col("ts")).alias("act_week"))
    week_offset = F.floor(
        F.datediff(F.col("act_week"), F.col("cohort_week")) / 7).cast("int")
    return (act.groupBy("cohort_week", week_offset.alias("week_offset"))
            .agg(F.count_distinct("user_id").alias("n_users")))


#: anomaly threshold: flag a day whose count sits more than Z sigma from
#: its event-type's mean daily count (population variance)
ANOMALY_Z = 3
#: int64 headroom note: the comparison below squares ``n_days*cnt - sum``;
#: with a year of days (n=365) it stays exact in BIGINT while daily counts
#: are < ~8e6. Past that, cast both comparison sides to DECIMAL(38,0) —
#: the daily-count layer itself never overflows.


@register(
    "events_anomaly_days",
    oracle=f"""
    WITH daily AS (
      SELECT event_type, date_trunc('day', ts) AS day,
             COUNT(*) AS cnt
      FROM events GROUP BY event_type, day
    ), moments AS (
      SELECT event_type,
             COUNT(*) AS n_days, SUM(cnt) AS s, SUM(cnt * cnt) AS ss
      FROM daily GROUP BY event_type
    )
    SELECT d.event_type, d.day, CAST(d.cnt AS BIGINT) AS cnt,
           (m.n_days * d.cnt - m.s) * (m.n_days * d.cnt - m.s)
             > {ANOMALY_Z * ANOMALY_Z} * m.n_days
               * (m.n_days * m.ss - m.s * m.s) AS is_anomaly
    FROM daily d JOIN moments m USING (event_type)
    """,
)
def events_anomaly_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily-volume anomaly flags per event type: a day is anomalous when
    its count deviates from the type's mean daily count by more than
    ``ANOMALY_Z`` population standard deviations — the ingest-monitoring
    check a data platform runs over its own telemetry (a stalled source
    or a crawler loop shows up as a volume spike/crater long before
    content-level checks fire).

    The z-test is evaluated WITHOUT floats: ``|cnt - s/n| > z*sigma``
    is multiplied through by ``n^2`` to the all-integer form
    ``(n*cnt - s)^2 > z^2 * n * (n*ss - s^2)`` — exact in both engines,
    so the boolean hash-matches (a float sigma would be 1-ulp fragile).

    Scale: raw events collapse to (type, day) partial counts map-side —
    ONE shuffle of tiny aggregates; the moments table is per-type scalars
    joined back onto the daily layer (broadcast-sized by construction:
    one row per event type)."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    ev = load_table(spark, sf_dir, "events")
    daily = (ev.groupBy("event_type", F.date_trunc("day", "ts").alias("day"))
             .agg(F.count(F.lit(1)).alias("cnt")))
    moments = (daily.groupBy("event_type")
               .agg(F.count(F.lit(1)).alias("n_days"),
                    F.sum("cnt").alias("s"),
                    F.sum(F.col("cnt") * F.col("cnt")).alias("ss")))
    n, s, ss, cnt = (F.col(c) for c in ("n_days", "s", "ss", "cnt"))
    dev = n * cnt - s
    return (daily.join(F.broadcast(moments), "event_type")
            .select("event_type", "day", cnt.alias("cnt"),
                    (dev * dev > F.lit(ANOMALY_Z * ANOMALY_Z) * n
                     * (n * ss - s * s)).alias("is_anomaly")))


#: pivot column domain, pinned explicitly: an unpinned pivot triggers a
#: full extra scan just to discover the columns, and a high-cardinality
#: type column would explode the schema — the domain is a contract here
PIVOT_EVENT_TYPES = ("click", "error", "purchase", "signup", "view")


@register(
    "events_pivot_daily",
    oracle=f"""
    SELECT date_trunc('day', ts) AS day,
           {', '.join(
               f"CAST(SUM(CASE WHEN event_type = '{t}' THEN 1 ELSE 0 END)"
               f" AS BIGINT) AS n_{t}" for t in PIVOT_EVENT_TYPES)}
    FROM events GROUP BY day
    """,
)
def events_pivot_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily wide-format event matrix — one row per day, one count column
    per event type (the layout dashboards and drift monitors consume).
    Uses ``groupBy().pivot(values=...)`` with the domain PINNED so Spark
    skips the domain-discovery scan; the plan is a single partial+final
    hash aggregate over (day) with per-type conditional counts — exactly
    the CASE-WHEN conditional aggregation the oracle spells out, i.e.
    pivot costs no more than a plain grouped count at any scale."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    ev = load_table(spark, sf_dir, "events")
    out = (ev.groupBy(F.date_trunc("day", "ts").alias("day"))
           .pivot("event_type", list(PIVOT_EVENT_TYPES))
           .agg(F.count(F.lit(1))))
    # pivot null-fills types absent on a day; the count contract is 0
    return out.select(
        "day", *[F.coalesce(F.col(t), F.lit(0)).alias(f"n_{t}")
                 for t in PIVOT_EVENT_TYPES])


@register(
    "events_unpivot_daily",
    oracle="""
    SELECT date_trunc('day', ts) AS day, event_type,
           CAST(COUNT(*) AS BIGINT) AS cnt
    FROM events WHERE event_type IN ('click', 'error', 'purchase',
                                     'signup', 'view')
    GROUP BY day, event_type
    """,
)
def events_unpivot_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide-to-long melt: the pivoted daily matrix unpivoted back to
    ``(day, event_type, cnt)`` rows via ``unpivot`` (Expand — each input
    row fans out to one row per measure column, map-only, no shuffle
    beyond the pivot aggregate's own). The round-trip property — melt of
    the pivot equals the plain grouped count the oracle states — is
    exactly what makes wide marts safe to re-normalize downstream.
    Zero-filled cells from pivot are dropped on unpivot (a day with no
    errors has no 'error' row in long form)."""
    wide = events_pivot_daily(spark, sf_dir)
    cols = [f"n_{t}" for t in PIVOT_EVENT_TYPES]
    long = wide.unpivot(["day"], cols, "event_type", "cnt")
    return (long.filter(F.col("cnt") > 0)
            .select("day",
                    F.expr("substring(event_type, 3)").alias("event_type"),
                    F.col("cnt").cast("bigint")))


@register(
    "events_first_touch",
    oracle="""
    WITH ev AS (
      SELECT user_id, event_type, event_id,
             CAST(epoch_us(ts) AS BIGINT) AS us
      FROM events
    ), firsts AS (
      SELECT user_id, event_type, MIN(us) AS first_us
      FROM ev GROUP BY user_id, event_type
    )
    SELECT e.user_id, e.event_type, f.first_us,
           CAST(MIN(e.event_id) AS BIGINT) AS first_event_id
    FROM ev e JOIN firsts f
      ON e.user_id = f.user_id AND e.event_type = f.event_type
     AND e.us = f.first_us
    GROUP BY e.user_id, e.event_type, f.first_us
    """,
)
def events_first_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-touch per (user, event_type) — the attribution/dedup anchor:
    one row per key with the earliest event's time and id. This is the
    BATCH ground truth for streaming deduplication
    (``dropDuplicates`` on the key keeps stream-arrival-first; this op
    defines event-time-first — the streaming test ties the two).

    Tie discipline: timestamps are compared at MICROsecond precision
    (both engines truncate nanos to micros identically), and same-micro
    ties resolve to the smallest event id — a total order, so the pick
    is engine-deterministic. Two aggregates sharing the (user, type)
    shuffle key + one self-join on the min timestamp; at scale this is
    the standard decorrelated argmin (a window-rank would sort every
    partition instead)."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # ts arrives as TIMESTAMP_NTZ (or rebuilt micros from the nanos
    # file); with the session pinned to UTC the cast is wall-clock
    # identity, and unix_micros matches DuckDB's epoch_us truncation
    ev = (load_table(spark, sf_dir, "events")
          .select("user_id", "event_type", "event_id",
                  F.unix_micros(F.col("ts").cast("timestamp"))
                   .alias("us")))
    firsts = (ev.groupBy("user_id", "event_type")
              .agg(F.min("us").alias("first_us")))
    e, f = ev.alias("e"), firsts.alias("f")
    return (e.join(f, (F.col("e.user_id") == F.col("f.user_id"))
                   & (F.col("e.event_type") == F.col("f.event_type"))
                   & (F.col("e.us") == F.col("f.first_us")))
            .groupBy(F.col("f.user_id").alias("user_id"),
                     F.col("f.event_type").alias("event_type"),
                     F.col("f.first_us").alias("first_us"))
            .agg(F.min(F.col("e.event_id")).alias("first_event_id")))


@register(
    "order_gap_stats_per_customer",
    oracle="""
    SELECT o_custkey,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(MAX(gap) AS BIGINT) AS max_gap_days,
           CAST(MIN(gap) AS BIGINT) AS min_gap_days
    FROM (
      SELECT o_custkey,
             date_diff('day', LAG(o_orderdate) OVER w, o_orderdate) AS gap
      FROM orders
      WINDOW w AS (PARTITION BY o_custkey
                   ORDER BY o_orderdate, o_orderkey)
    )
    GROUP BY o_custkey HAVING COUNT(*) >= 2
    """,
)
def order_gap_stats_per_customer(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    """Inter-arrival gap analysis: per customer, the extremes of the
    day-gaps between consecutive orders — the windows-THEN-aggregate
    shape (lag inside a window, grouped HAVING outside) the registry's
    other window entries don't cover, and the classic churn/recency
    signal (max gap = longest dormancy; min gap = tightest burst).
    Timestamps are midnight-aligned so day arithmetic is exact integers
    in both engines; the orderkey tie-break pins same-day order
    sequences.

    Scale: the window partitions by o_custkey and the aggregate groups
    by the SAME key — one hash exchange serves both (Catalyst reuses
    the window's partitioning for the groupBy), and only
    (custkey, gap-int) pairs survive the window projection. Per-customer
    order counts are bounded (TPC-H ~10); a pathological key would
    bound via the same salting documented in skew_salted_join_count."""
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    gap = F.datediff(F.to_date("o_orderdate"),
                     F.to_date(F.lag("o_orderdate").over(w)))
    return (o.select("o_custkey", gap.alias("gap"))
            .groupBy("o_custkey")
            .agg(F.count(F.lit(1)).alias("n_orders"),
                 F.max("gap").cast("bigint").alias("max_gap_days"),
                 F.min("gap").cast("bigint").alias("min_gap_days"))
            .filter(F.col("n_orders") >= 2))


@register(
    "events_trailing_7d_active_users",
    oracle="""
    WITH du AS (
      SELECT DISTINCT
             date_diff('day', DATE '1995-01-01', date_trunc('day', ts))
               AS day_num,
             user_id
      FROM events
    ), spine AS (SELECT DISTINCT day_num FROM du)
    SELECT s.day_num,
           CAST(COUNT(DISTINCT d.user_id) AS BIGINT) AS active_7d,
           CAST(COUNT(DISTINCT CASE WHEN d.day_num = s.day_num
                                    THEN d.user_id END) AS BIGINT)
             AS active_1d
    FROM spine s JOIN du d
      ON d.day_num BETWEEN s.day_num - 6 AND s.day_num
    GROUP BY s.day_num
    """,
)
def events_trailing_7d_active_users(spark: SparkSession,
                                    sf_dir: str) -> DataFrame:
    """Trailing-7-day active users per day (the "7DAU" telemetry rollup):
    a SLIDING-window DISTINCT count — the aggregation windows can't
    express (no COUNT(DISTINCT) over moving frames in either engine), so
    the exact form is the two-step reduction: collapse events to
    distinct (day, user) pairs first, then fan each pair out to the ≤7
    window anchors via a broadcast interval join against the tiny
    observed-day spine, and count distinct per anchor day. Same-day
    actives ride along as a conditional distinct in the same pass.

    Scale: the heavy dedup (events → day×user) is ONE exact shuffle that
    shrinks 100 TB of events to |days|×|users| keys at most; the 7×
    fan-out happens on the collapsed pairs, never raw events, and the
    spine broadcast is bounded by the calendar. The spine derives
    straight from the events scan's day column (distinct over |days|
    values — map-side partial agg collapses it for pennies), NOT from
    ``du``, so the expensive distinct-(day,user) reduction runs exactly
    once for the probe side instead of twice (once more to feed the
    broadcast). At larger windows (or per-key sketch reuse) the
    approximate path merges per-day HLL sketches instead of
    re-counting — `stats_column_cardinalities_approx` is that lane's
    anchor; this entry is the exact one."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    ev = load_table(spark, sf_dir, "events")
    day_num = F.datediff(F.to_date(F.date_trunc("day", "ts")),
                         F.lit("1995-01-01").cast("date"))
    du = ev.select(day_num.alias("day_num"), "user_id").distinct()
    spine = ev.select(day_num.alias("anchor")).distinct()
    return (du.join(F.broadcast(spine),
                    F.col("day_num").between(F.col("anchor") - 6,
                                             F.col("anchor")))
            .groupBy(F.col("anchor").alias("day_num"))
            .agg(F.countDistinct("user_id").alias("active_7d"),
                 F.countDistinct(
                     F.when(F.col("day_num") == F.col("anchor"),
                            F.col("user_id"))).alias("active_1d")))


@register(
    "pareto_front_orders",
    oracle="""
    WITH o AS (
      SELECT o_custkey, o_orderkey,
             CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
               AS price_cents,
             CAST(epoch(o_orderdate) AS BIGINT) // 86400 AS epoch_day
      FROM orders
    ), pm AS (
      SELECT o_custkey, price_cents, MAX(epoch_day) AS mx
      FROM o GROUP BY o_custkey, price_cents
    ), sm AS (
      SELECT o_custkey, price_cents,
             MAX(mx) OVER (PARTITION BY o_custkey ORDER BY price_cents DESC
                           ROWS BETWEEN UNBOUNDED PRECEDING
                                    AND 1 PRECEDING) AS smx
      FROM pm
    )
    SELECT o.o_custkey, o.o_orderkey, o.price_cents, o.epoch_day
    FROM o JOIN sm USING (o_custkey, price_cents)
    WHERE sm.smx IS NULL OR o.epoch_day >= sm.smx
    """,
)
def pareto_front_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-customer 2-D **skyline** (Pareto front): the orders not
    strictly dominated in (price, recency) — no other order of the same
    customer has BOTH a strictly higher price and a strictly later date.
    The multi-objective "best trade-offs" operator (price/recency,
    quality/length, cost/latency) that plain top-k can't express.

    A naive skyline is a quadratic self-join per group. For 2-D the
    sort-based form is exact and linear after sorting: group prices,
    take max(day) per (customer, price), then a running max over
    strictly-greater prices — a row is dominated iff that strict-prefix
    max exceeds its day. ``ROWS … 1 PRECEDING`` on the per-price frame
    is what makes the prefix STRICT (price peers sit in one row), and
    integer-cents grouping keys keep the two engines' group boundaries
    identical.

    Scale: one shuffle family on ``o_custkey`` serves the aggregate, the
    window, and the join back (co-partitioned); nothing quadratic, no
    cross join. Higher-dimensional skylines compose this pass per
    dominance-comparable axis pair or fall back to the block-nested
    scan over per-group bounded frames."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    o = load_table(spark, sf_dir, "orders")
    base = o.select(
        "o_custkey", "o_orderkey",
        F.expr("cast(cast(o_totalprice as decimal(18,2)) * 100 as bigint)")
         .alias("price_cents"),
        F.expr("unix_timestamp(o_orderdate) div 86400").alias("epoch_day"))
    pm = (base.groupBy("o_custkey", "price_cents")
          .agg(F.max("epoch_day").alias("mx")))
    w = (Window.partitionBy("o_custkey")
         .orderBy(F.col("price_cents").desc())
         .rowsBetween(Window.unboundedPreceding, -1))
    sm = pm.select("o_custkey", "price_cents",
                   F.max("mx").over(w).alias("smx"))
    return (base.join(sm, ["o_custkey", "price_cents"])
            .filter(F.col("smx").isNull()
                    | (F.col("epoch_day") >= F.col("smx")))
            .select("o_custkey", "o_orderkey", "price_cents", "epoch_day"))


#: EWMA half-life in events: weight 2^(DECAY_LAGS-1-k) for lag k
DECAY_LAGS = 10


def _decay_terms_sql() -> tuple[str, str]:
    """(decay_cents, w_sum) SQL fragments — shared verbatim by the Spark
    plan (``selectExpr``) and the DuckDB oracle (LAG/CASE/inline OVER/
    integer multiply are dialect-common). The identical inline window
    spec on every LAG collapses to ONE window operator in Catalyst."""
    over = "OVER (PARTITION BY user_id ORDER BY event_id)"
    num, den = [], []
    for k in range(DECAY_LAGS):
        wt = 2 ** (DECAY_LAGS - 1 - k)
        src = "cents" if k == 0 else f"LAG(cents, {k}) {over}"
        num.append(f"COALESCE({src}, 0) * {wt}")
        den.append(f"CASE WHEN {src} IS NULL THEN 0 ELSE {wt} END")
    return " + ".join(num), " + ".join(den)


@register(
    "events_decay_weighted_sum",
    oracle="""
    SELECT user_id, event_id,
           CAST({NUM} AS BIGINT) AS decay_cents,
           CAST({DEN} AS BIGINT) AS w_sum
    FROM (
      SELECT user_id, event_id,
             CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
      FROM events
    )
    """.replace("{NUM}", _decay_terms_sql()[0])
       .replace("{DEN}", _decay_terms_sql()[1]),
)
def events_decay_weighted_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponential-decay-weighted rolling feature per user: each event
    carries ``Σ value_i · 2^(9-k)`` over its last 10 events (k = age in
    events) — the recency-weighted activity feature (EWMA numerator)
    behavioural models consume, with ``w_sum`` the realized weight mass
    so the consumer normalizes (``decay/w_sum``) without the engine ever
    dividing.

    Exactness: a true EWMA recurrence is a float fold whose summation
    order engines don't agree on; bounding the horizon to 10 lags turns
    it into an INTEGER dot product (cents × power-of-two weights —
    ≤ 512·10·max_cents, far inside int64), bit-identical everywhere.
    The unique ``event_id`` in the window order makes lag contents
    engine-deterministic under timestamp ties.

    Scale: one shuffle to (user_id)-partition, one sort, ten lags over
    the same window frame fold into a single window operator — no
    self-join, no explode. The fragment is generated once and shared
    verbatim with the oracle."""
    ev = load_table(spark, sf_dir, "events")
    num, den = _decay_terms_sql()
    return (ev.select(
        "user_id", "event_id",
        F.expr("cast(cast(value as decimal(18,2)) * 100 as bigint)")
         .alias("cents"))
        .selectExpr("user_id", "event_id",
                    f"cast({num} as bigint) as decay_cents",
                    f"cast({den} as bigint) as w_sum"))


@register(
    "events_time_weighted_value",
    oracle="""
    WITH seg AS (
      SELECT user_id,
             CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents,
             (LEAD(epoch_us(ts)) OVER (PARTITION BY user_id
                                       ORDER BY ts, event_id)
              - epoch_us(ts)) // 1000000 AS dt_sec
      FROM events
    )
    SELECT user_id,
           CAST(SUM(cents * dt_sec) AS BIGINT) AS twa_num,
           CAST(SUM(dt_sec) AS BIGINT) AS dur_sec,
           CAST(COUNT(*) AS BIGINT) AS n_segments
    FROM seg WHERE dt_sec IS NOT NULL
    GROUP BY user_id
    """,
)
def events_time_weighted_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average building blocks per user (TWAP-style): each
    consecutive event pair contributes ``value · Δt`` for the interval it
    was the live value — the correct average for irregularly-sampled
    series, where a plain AVG over-weights bursts. Emits the integer
    numerator (``cents × whole seconds``), the total covered duration,
    and the segment count; the single float division is the consumer's.

    Exactness: interval ends come from ``LEAD`` over ``(ts, event_id)``
    (unique tie-break ⇒ deterministic pairing); timestamps are compared
    in integer MICROseconds (both engines store micros; a seconds-level
    epoch would round differently), then the Δ is floored to whole
    seconds by integer division — identical in both engines. Bounds:
    cents ≤ ~5·10⁴, Δt ≤ the dataset span (~10⁸ s), per-user sums are
    orders of magnitude inside int64.

    Scale: one shuffle to (user_id), one sort serving the window, then a
    partial-aggregable groupBy on the same key — the exchange is reused
    (window and aggregate share partitioning), so the fact table moves
    once."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # ts arrives as TIMESTAMP_NTZ; unix_micros wants TIMESTAMP — with the
    # session TZ pinned UTC the cast is value-preserving
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    seg = ev.select(
        "user_id",
        F.expr("cast(cast(value as decimal(18,2)) * 100 as bigint)")
         .alias("cents"),
        ((F.lead(us).over(w) - us) / F.lit(1_000_000))
        .cast("bigint").alias("dt_sec"))
    return (seg.filter(F.col("dt_sec").isNotNull())
            .groupBy("user_id")
            .agg(F.sum(F.col("cents") * F.col("dt_sec"))
                 .cast("bigint").alias("twa_num"),
                 F.sum("dt_sec").cast("bigint").alias("dur_sec"),
                 F.count(F.lit(1)).alias("n_segments")))


@register(
    "basket_brand_pairs",
    oracle="""
    WITH ob AS (
      SELECT DISTINCT l.l_orderkey AS ok, p.p_brand AS brand
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    )
    SELECT a.brand AS brand_a, b.brand AS brand_b,
           CAST(COUNT(*) AS BIGINT) AS n_orders
    FROM ob a JOIN ob b ON a.ok = b.ok AND a.brand < b.brand
    GROUP BY brand_a, brand_b
    """,
)
def basket_brand_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket co-occurrence: for every brand pair, the number of
    orders containing both — the pairwise support table association-rule
    mining (and co-purchase recommenders) start from.

    Scale shape (round-13 optimization, guide §2.4/§3): the brand lookup
    joins ``part``, which grows with SF, so its strategy is left to size
    stats/AQE (broadcast at bench SFs, shuffled at 100 TB — no forced
    hint). The per-order distinct brand set is then built by ONE
    ``collect_set`` aggregate keyed on orderkey, and the pairs are
    expanded map-side from the sorted set (i<j positions of a sorted
    array give ``brand_a < brand_b`` directly) — replacing the previous
    DISTINCT-then-self-join, which shuffled the (orderkey, brand)
    stream once for the distinct and again for each join side. Plan:
    one exchange of (orderkey, brand-set) + the bounded-key pair
    aggregate, no join of scanned data. Per-order fan-out is bounded by
    the basket's distinct brand count (≤ ~7 lines/order here), never by
    the catalog; the final aggregate's key space is |brands|² / 2 —
    tiny. At 100 TB the same plan holds because every stage is keyed by
    orderkey or by the bounded pair key."""
    l = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    ob = (l.join(p, l["l_partkey"] == p["p_partkey"])
          .select(F.col("l_orderkey").alias("ok"),
                  F.col("p_brand").alias("brand")))
    baskets = (ob.groupBy("ok")
               .agg(F.array_sort(F.collect_set("brand")).alias("brands")))
    n = F.size("brands")
    pairs = F.flatten(F.transform(
        "brands",
        lambda x, i: F.transform(
            F.slice("brands", i + 2, n),  # tail is shorter than n; slice clamps
            lambda y: F.struct(x.alias("brand_a"), y.alias("brand_b")))))
    return (baskets.select(F.explode(pairs).alias("pr"))
            .groupBy(F.col("pr.brand_a").alias("brand_a"),
                     F.col("pr.brand_b").alias("brand_b"))
            .agg(F.count(F.lit(1)).alias("n_orders")))


@register(
    "events_transition_matrix",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type,
             LAG(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev_type
      FROM events
    )
    SELECT prev_type, event_type AS next_type,
           CAST(COUNT(*) AS BIGINT) AS n_transitions,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
    FROM seq WHERE prev_type IS NOT NULL
    GROUP BY prev_type, next_type
    """,
)
def events_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order behavioural transition matrix: counts of consecutive
    ``(prev_event_type → next_event_type)`` pairs per user stream — the
    sufficient statistic for a Markov-chain user model (next-action
    prediction, anomalous-sequence scoring, funnel leak localization —
    exactly which step users bounce between).

    Determinism: the lag window orders by ``(ts, event_id)`` — the
    unique id breaks timestamp ties, so each user's sequence (and hence
    every transition pair) is engine-identical.

    Scale: one shuffle to (user_id), one sort for the lag, then an
    aggregate whose key space is |event_types|² — map-side combinable
    down to a constant-size matrix regardless of fact size. The
    distinct-user count rides the same aggregate (the pair stream
    carries user_id; no second pass over events)."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select("user_id", "event_type",
                    F.lag("event_type").over(w).alias("prev_type"))
    return (seq.filter(F.col("prev_type").isNotNull())
            .groupBy("prev_type", F.col("event_type").alias("next_type"))
            .agg(F.count(F.lit(1)).alias("n_transitions"),
                 F.count_distinct("user_id").alias("n_users")))


#: RFM quantile buckets per axis
RFM_BUCKETS = 4


@register(
    "orders_rfm_segments",
    oracle=f"""
    WITH cust AS (
      SELECT o_custkey,
             MAX(CAST(epoch(o_orderdate) AS BIGINT) // 86400) AS r_day,
             COUNT(*) AS freq,
             SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                      AS BIGINT)) AS cents
      FROM orders GROUP BY o_custkey
    ), scored AS (
      SELECT o_custkey,
             NTILE({RFM_BUCKETS}) OVER (ORDER BY r_day, o_custkey)
               AS r_bucket,
             NTILE({RFM_BUCKETS}) OVER (ORDER BY freq, o_custkey)
               AS f_bucket,
             NTILE({RFM_BUCKETS}) OVER (ORDER BY cents, o_custkey)
               AS m_bucket
      FROM cust
    )
    SELECT r_bucket, f_bucket, m_bucket,
           CAST(COUNT(*) AS BIGINT) AS n_customers
    FROM scored GROUP BY r_bucket, f_bucket, m_bucket
    """,
)
def orders_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation — the classic customer-value cube: every
    customer scored into ``NTILE({4})`` quantile buckets independently
    on Recency (latest order epoch-day), Frequency (order count), and
    Monetary (integer-cents revenue), then segment sizes per
    (r, f, m) cell. The downstream consumer reads cells like
    (4,4,4) = champions / (1,1,1) = lapsed.

    Determinism: every NTILE ordering carries the unique ``o_custkey``
    tie-break — bucket boundaries cut tie runs identically in both
    engines (bare NTILE over a non-unique key is
    engine-nondeterministic at bucket edges).

    Scale: one key aggregate collapses the fact table to one row per
    customer; the three global NTILE sorts run over that key-sized
    frame (the deliberate global-sort family — `stats_price_deciles`
    is the anchor; at extreme key counts the buckets come from
    sketch-derived boundaries instead). Output is ≤ 4³ cells."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    o = load_table(spark, sf_dir, "orders")
    cust = (o.groupBy("o_custkey")
            .agg(F.max(F.expr("unix_timestamp(o_orderdate) div 86400"))
                 .alias("r_day"),
                 F.count(F.lit(1)).alias("freq"),
                 F.sum(F.expr("cast(cast(o_totalprice as decimal(18,2))"
                              " * 100 as bigint)")).alias("cents")))
    def bucket(col: str):
        return F.ntile(RFM_BUCKETS).over(
            Window.orderBy(F.col(col).asc(), F.col("o_custkey").asc()))
    scored = cust.select(
        "o_custkey", bucket("r_day").alias("r_bucket"),
        bucket("freq").alias("f_bucket"), bucket("cents").alias("m_bucket"))
    return (scored.groupBy("r_bucket", "f_bucket", "m_bucket")
            .agg(F.count(F.lit(1)).alias("n_customers")))


#: burst threshold: a user is flagged when any single hour holds more
#: than this many of their events (tuned so the flag genuinely fires on
#: this data — at sf0.01 it catches 7 of 150 users; a screen that never
#: fires proves nothing)
BURST_PER_HOUR = 2


@register(
    "events_burst_users",
    oracle=f"""
    WITH per_hour AS (
      SELECT user_id, date_trunc('hour', ts) AS hour,
             COUNT(*) AS cnt
      FROM events GROUP BY user_id, hour
    )
    SELECT user_id,
           CAST(MAX(cnt) AS BIGINT) AS max_per_hour,
           CAST(SUM(cnt) AS BIGINT) AS n_events,
           MAX(cnt) > {BURST_PER_HOUR} AS is_burst
    FROM per_hour GROUP BY user_id
    """,
)
def events_burst_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Burst/bot-rate screening: per user, the hottest hour's event
    count and a flag when it exceeds ``BURST_PER_HOUR`` — the
    rate-based abuse filter a telemetry or crawl pipeline applies
    before letting traffic into training data (scripted clients are
    rate-bursty long before they are content-distinguishable).

    Scale: two stacked aggregates over the same ``user_id``-leading key
    — ``(user, hour)`` then ``user`` — so the second reuses the
    first's partitioning (one exchange family); both min-combine
    map-side, so a bot firing 10⁶ events in one hour contributes one
    partial row per map partition, not 10⁶ shuffle rows (the skewed
    entity IS the one being hunted — the plan must not melt under it).
    The streaming twin is a tumbling-window count
    (``stream_windowed_event_counts``) with the flag in foreachBatch."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    ev = load_table(spark, sf_dir, "events")
    per_hour = (ev.groupBy("user_id",
                           F.date_trunc("hour", F.col("ts")).alias("hour"))
                .agg(F.count(F.lit(1)).alias("cnt")))
    return (per_hour.groupBy("user_id")
            .agg(F.max("cnt").cast("bigint").alias("max_per_hour"),
                 F.sum("cnt").cast("bigint").alias("n_events"),
                 (F.max("cnt") > BURST_PER_HOUR).alias("is_burst")))


@register(
    "orders_yoy_monthly_growth",
    oracle="""
    WITH monthly AS (
      SELECT CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS yr,
             CAST(EXTRACT(month FROM o_orderdate) AS BIGINT) AS mon,
             CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                           AS BIGINT)) AS BIGINT) AS cents,
             CAST(COUNT(*) AS BIGINT) AS n_orders
      FROM orders GROUP BY yr, mon
    )
    SELECT yr, mon, cents, n_orders, prev_cents,
           cents - prev_cents AS delta_cents
    FROM (
      SELECT yr, mon, cents, n_orders,
             LAG(cents) OVER (PARTITION BY mon ORDER BY yr) AS prev_cents
      FROM monthly
    ) WHERE prev_cents IS NOT NULL
    """,
)
def orders_yoy_monthly_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Year-over-year growth per calendar month — the period-over-period
    reporting shape (this January vs last January): monthly integer-cents
    revenue, then ``LAG`` over years *within* the month-of-year
    partition. No self-join — the naive formulation joins the monthly
    aggregate to itself on ``(yr-1, mon)``; partitioning by ``mon`` and
    lagging over ``yr`` gets the same alignment from the frame the
    aggregate already produced. The delta stays integer; the growth
    ratio is the consumer's division.

    Scale: the fact table collapses to |years|×12 rows in one
    partial+final aggregate; the window runs on that tiny frame.
    (yr, mon) is unique within each partition, so the lag needs no
    tie-break."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    o = load_table(spark, sf_dir, "orders")
    monthly = (o.groupBy(
        F.year("o_orderdate").cast("bigint").alias("yr"),
        F.month("o_orderdate").cast("bigint").alias("mon"))
        .agg(F.sum(F.expr("cast(cast(o_totalprice as decimal(18,2))"
                          " * 100 as bigint)")).cast("bigint").alias("cents"),
             F.count(F.lit(1)).alias("n_orders")))
    w = Window.partitionBy("mon").orderBy("yr")
    prev = F.lag("cents").over(w)
    return (monthly.select("yr", "mon", "cents", "n_orders",
                           prev.alias("prev_cents"))
            # YoY is undefined without a prior year; dropping the NULL
            # rows also keeps every output column solid BIGINT (nullable
            # ints canonicalize as floats in the driver's hash path)
            .where(F.col("prev_cents").isNotNull())
            .withColumn("delta_cents",
                        F.col("cents") - F.col("prev_cents")))
