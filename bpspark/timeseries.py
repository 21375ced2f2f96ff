"""Time-series operators over the ``events`` table: batch sessionization
(gap-based session assignment) and calendar gap-filling with
last-observation-carried-forward. Both are pure window/sequence
compositions — no Python on the hot path — keyed on ``user_id``
partitionings, so at 100 TB each user's timeline is processed locally;
any second exchange an op pays moves its reduced daily panel, never raw
events (per-op docstrings state the exact exchange ledger).

Reference parity: the reference pipeline (SURVEY §2.1 R9/R12) groups
per-entity records by time to pick the latest metadata revision; these ops
generalize that per-entity time ordering to sessions and daily panels.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from bpspark.io import materialize, table
from bpspark.registry import op

_SESSION_GAP_US = 1_800_000_000  # 30 min
_EWMA_ALPHA = 0.3  # shared by ts_ewma's Python recurrence AND its oracle SQL


@op(
    "sessionize_batch",
    sql="""
    WITH g AS (
      SELECT user_id, epoch_us(ts) AS ts_us, event_id,
             LAG(epoch_us(ts)) OVER (PARTITION BY user_id
                                     ORDER BY epoch_us(ts), event_id) AS prev_us
      FROM events
    ), s AS (
      SELECT user_id, ts_us,
             CAST(SUM(CASE WHEN prev_us IS NULL OR ts_us - prev_us > 1800000000
                           THEN 1 ELSE 0 END)
                    OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS session_id
      FROM g
    )
    SELECT user_id, session_id, COUNT(*) AS n_events,
           MIN(ts_us) AS session_start_us,
           MAX(ts_us) - MIN(ts_us) AS duration_us
    FROM s GROUP BY user_id, session_id
    """,
)
def sessionize_batch(spark: SparkSession, sf: str) -> DataFrame:
    """Batch sessionization: a 30-minute inactivity gap starts a new
    session (lag → gap flag → running sum = session id). The window and
    the final groupBy share the ``user_id`` hash partitioning, so Catalyst
    reuses one exchange; all times are integer microseconds (exact
    cross-engine math, ties broken by event_id)."""
    ev = table(spark, sf, "events").select(
        "user_id", F.unix_micros("ts").alias("ts_us"), "event_id"
    )
    order = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    gap = F.when(
        F.lag("ts_us").over(order).isNull()
        | (F.col("ts_us") - F.lag("ts_us").over(order) > _SESSION_GAP_US),
        F.lit(1),
    ).otherwise(F.lit(0))
    running = order.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    sess = ev.withColumn("session_id", F.sum(gap).over(running))
    return sess.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("ts_us").alias("session_start_us"),
        (F.max("ts_us") - F.min("ts_us")).alias("duration_us"),
    )


@op(
    "sessionize_markov_transitions",
    sql="""
    WITH seq AS (
        SELECT user_id, event_type,
               LEAD(event_type) OVER (
                   PARTITION BY user_id
                   ORDER BY epoch_us(CAST(ts AS TIMESTAMP)), event_id
               ) AS next_type
        FROM events
    ),
    tr AS (
        SELECT event_type AS from_type, next_type AS to_type, COUNT(*) AS n
        FROM seq WHERE next_type IS NOT NULL
        GROUP BY 1, 2
    ),
    rowtot AS (
        SELECT from_type, CAST(SUM(n) AS BIGINT) AS n_from FROM tr GROUP BY from_type
    )
    SELECT t.from_type, t.to_type, t.n AS n_transitions, r.n_from,
           CAST(t.n AS DOUBLE) / CAST(r.n_from AS DOUBLE) AS p
    FROM tr t JOIN rowtot r ON t.from_type = r.from_type
    ORDER BY t.from_type, t.to_type
    """,
)
def sessionize_markov_transitions(spark: SparkSession, sf: str) -> DataFrame:
    """First-order Markov transition matrix over each user's event
    sequence — the user-journey model product analytics derives click
    paths, drop-off predictions, and anomalous-flow alerts from (and
    the sufficient statistics for a Markov-chain attribution model,
    complementing q_marketing_attribution's last-touch rule). Each
    user's events order by (event time, event_id); consecutive pairs
    count into (from_type, to_type) cells; p = n / row-total is ONE
    division of exact integers per cell (no float aggregation
    anywhere), so the matrix is hash-certified.

    Plan: one window lead per user partition (the sessionize_batch
    exchange shape) → a |types²|-cell hash aggregate with map-side
    combine → a broadcast row-total join. At 100 TB the shuffle
    carries |types²| cells, not events; the user window is the same
    partitioning every sessionization op already pays."""
    ev = table(spark, sf, "events").select(
        "user_id", "event_type", F.unix_micros("ts").alias("ts_us"), "event_id"
    )
    order = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    seq = ev.select(
        "event_type", F.lead("event_type").over(order).alias("next_type")
    ).filter(F.col("next_type").isNotNull())
    tr = seq.groupBy(
        F.col("event_type").alias("from_type"),
        F.col("next_type").alias("to_type"),
    ).agg(F.count(F.lit(1)).alias("n_transitions"))
    rowtot = tr.groupBy("from_type").agg(
        F.sum("n_transitions").cast("long").alias("n_from")
    )
    return (
        tr.join(F.broadcast(rowtot), "from_type")
        .select(
            "from_type",
            "to_type",
            "n_transitions",
            "n_from",
            (
                F.col("n_transitions").cast("double") / F.col("n_from").cast("double")
            ).alias("p"),
        )
        .orderBy("from_type", "to_type")
    )


@op(
    "ts_gapfill_locf",
    sql="""
    WITH daily AS (
      SELECT user_id, day, day_value FROM (
        SELECT user_id, CAST(CAST(ts AS DATE) AS VARCHAR) AS day,
               value AS day_value,
               ROW_NUMBER() OVER (PARTITION BY user_id, CAST(ts AS DATE)
                                  ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn
        FROM events) WHERE rn = 1
    ), bounds AS (
      SELECT user_id, MIN(CAST(ts AS DATE)) AS d0, MAX(CAST(ts AS DATE)) AS d1
      FROM events GROUP BY user_id
    ), spine AS (
      SELECT user_id, CAST(CAST(u.d AS DATE) AS VARCHAR) AS day
      FROM bounds, UNNEST(generate_series(d0, d1, INTERVAL 1 DAY)) AS u(d)
    )
    SELECT s.user_id, s.day,
           LAST_VALUE(daily.day_value IGNORE NULLS)
             OVER (PARTITION BY s.user_id ORDER BY s.day
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled_value
    FROM spine s LEFT JOIN daily ON s.user_id = daily.user_id AND s.day = daily.day
    """,
)
def ts_gapfill_locf(spark: SparkSession, sf: str) -> DataFrame:
    """Calendar gap-fill with LOCF: build each user's daily spine
    (sequence of days between their first and last event), left-join the
    observed last-value-of-day (max_by on (ts, event_id) — a picked input
    value, never float arithmetic), and carry the last non-null forward.
    The spine explode is per-user (~rows × days/user, bounded). Two
    exchanges, both right at scale: the daily dedup agg shuffles map-side
    PARTIALS keyed (user_id, day), then the spine join + LOCF window
    re-align the REDUCED panel on user_id — panel rows, not events. (A
    literal one-shuffle form exists — pre-partition raw events by
    user_id — but it would shuffle the unaggregated corpus; the old
    docstring's "one shuffle total" claim was wrong, r5 plan audit.)
    Days travel as ISO strings to keep the oracle date-type-free."""
    ev = table(spark, sf, "events").select(
        "user_id",
        F.to_date("ts").alias("d"),
        F.unix_micros("ts").alias("ts_us"),
        "event_id",
        "value",
    )
    daily = ev.groupBy("user_id", F.col("d").alias("day_d")).agg(
        F.max_by("value", F.struct("ts_us", "event_id")).alias("day_value")
    )
    spine = (
        ev.groupBy("user_id")
        .agg(F.min("d").alias("d0"), F.max("d").alias("d1"))
        .select("user_id", F.explode(F.sequence("d0", "d1")).alias("day_d"))
    )
    joined = spine.join(daily, ["user_id", "day_d"], "left")
    locf = (
        Window.partitionBy("user_id")
        .orderBy("day_d")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return joined.select(
        "user_id",
        F.col("day_d").cast("string").alias("day"),
        F.last("day_value", ignorenulls=True).over(locf).alias("filled_value"),
    )


@op(
    "ts_ohlc_hourly",
    sql="""
    SELECT user_id, bucket,
           MAX(CASE WHEN rn_a = 1 THEN value END) AS open_v,
           MAX(value) AS high_v,
           MIN(value) AS low_v,
           MAX(CASE WHEN rn_d = 1 THEN value END) AS close_v,
           COUNT(*) AS n_events
    FROM (
        SELECT user_id, date_trunc('hour', ts) AS bucket, value, ts, event_id,
               row_number() OVER (PARTITION BY user_id, date_trunc('hour', ts)
                                  ORDER BY ts, event_id) AS rn_a,
               row_number() OVER (PARTITION BY user_id, date_trunc('hour', ts)
                                  ORDER BY ts DESC, event_id DESC) AS rn_d
        FROM events
    )
    GROUP BY user_id, bucket
    ORDER BY user_id, bucket
    """,
)
def ts_ohlc_hourly(spark: SparkSession, sf: str) -> DataFrame:
    """Hypertable-style OHLC rollup: per (user, hour) open/high/low/close.
    The first/last values are pinned by row_number over the unique
    (ts, event_id) order — deterministic where bare first()/last() and
    composite arg_min are not (DuckDB lacks struct arg_min). Both window
    passes and the final aggregate share one hash partitioning on
    (user_id, hour), so the whole rollup is a single shuffle; at 100 TB
    this is the continuous-aggregate shape run incrementally per
    time-slice."""
    ev = table(spark, sf, "events")
    # Materialize the hour bucket as a COLUMN before the windows: a window
    # partitioned by the raw date_trunc EXPRESSION plans as an internal
    # _w0 key that Spark does not recognize as equal to the groupBy's
    # `bucket` alias — that cost a second (user_id, bucket) exchange
    # between the windows and the aggregate (caught when the plan-test
    # exchange parser was fixed in r5; the old single-shuffle assertion
    # was vacuous). With the shared column, windows and agg reuse ONE
    # hash partitioning.
    ev = ev.withColumn("bucket", F.date_trunc("hour", F.col("ts")))
    wa = Window.partitionBy("user_id", "bucket").orderBy("ts", "event_id")
    wd = Window.partitionBy("user_id", "bucket").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    return (
        ev.select(
            "user_id",
            "bucket",
            "value",
            F.row_number().over(wa).alias("rn_a"),
            F.row_number().over(wd).alias("rn_d"),
        )
        .groupBy("user_id", "bucket")
        .agg(
            F.max(F.when(F.col("rn_a") == 1, F.col("value"))).alias("open_v"),
            F.max("value").alias("high_v"),
            F.min("value").alias("low_v"),
            F.max(F.when(F.col("rn_d") == 1, F.col("value"))).alias("close_v"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .orderBy("user_id", "bucket")
    )


@op(
    "ts_scd2_intervals",
    sql="""
    SELECT user_id, event_type, valid_from,
           lead(valid_from) OVER (PARTITION BY user_id ORDER BY valid_from, event_id)
               AS valid_to,
           (lead(valid_from) OVER (PARTITION BY user_id ORDER BY valid_from, event_id)
               IS NULL) AS is_current
    FROM (
        SELECT user_id, event_type, ts AS valid_from, event_id,
               lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   AS prev_type
        FROM events
    )
    WHERE prev_type IS NULL OR prev_type <> event_type
    ORDER BY user_id, valid_from, event_id
    """,
)
def ts_scd2_intervals(spark: SparkSession, sf: str) -> DataFrame:
    """Slowly-changing-dimension type-2 build: collapse each user's event
    stream into validity intervals of its event_type attribute —
    change-point detection (lag) then interval close (lead over the
    surviving change rows). Both windows and the filter share one
    user_id partitioning: a single shuffle builds the whole dimension,
    which is how you'd snapshot 100 TB of mutation logs into an SCD2
    table. (ts, event_id) ordering is unique, so interval bounds are
    deterministic."""
    ev = table(spark, sf, "events")
    w1 = Window.partitionBy("user_id").orderBy("ts", "event_id")
    changes = (
        ev.select(
            "user_id", "event_type", F.col("ts").alias("valid_from"), "event_id",
            F.lag("event_type").over(w1).alias("prev_type"),
        )
        .filter(F.col("prev_type").isNull() | (F.col("prev_type") != F.col("event_type")))
    )
    w2 = Window.partitionBy("user_id").orderBy("valid_from", "event_id")
    return changes.select(
        "user_id",
        "event_type",
        "valid_from",
        F.lead("valid_from").over(w2).alias("valid_to"),
        F.lead("valid_from").over(w2).isNull().alias("is_current"),
    ).orderBy("user_id", "valid_from", "event_id").drop("event_id")


@op(
    "ts_gaps_islands",
    sql="""
    WITH days AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events),
    r AS (SELECT user_id, d,
                 ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY d) AS rn
          FROM days),
    s AS (SELECT user_id, d - CAST(rn AS INTEGER) AS anchor, COUNT(*) AS len
          FROM r GROUP BY user_id, d - CAST(rn AS INTEGER))
    SELECT user_id, COUNT(*) AS n_streaks, MAX(len) AS max_streak
    FROM s GROUP BY user_id ORDER BY user_id
    """,
)
def ts_gaps_islands(spark: SparkSession, sf: str) -> DataFrame:
    """Gaps-and-islands: per user, the number of maximal runs of
    consecutive active days and the longest such streak. The classic
    date-minus-row_number anchor trick turns each island into a group
    key, so after the dedup-to-days agg everything is one window sort and
    two hash aggs on user_id. Two exchanges: the dedup agg ships
    (user_id, day) map-side partials; the island window then re-aligns
    the REDUCED day panel on user_id — panel rows, not events (the old
    "one shuffle" claim was wrong, r5 plan audit; pre-partitioning raw
    events would be worse at 100 TB).
    The anchor date never leaves the plan (no DateType in the output)."""
    days = (
        table(spark, sf, "events")
        .select("user_id", F.to_date("ts").alias("d"))
        .distinct()
    )
    w = Window.partitionBy("user_id").orderBy("d")
    islands = (
        days.withColumn("rn", F.row_number().over(w))
        .groupBy("user_id", F.expr("date_sub(d, rn)").alias("anchor"))
        .agg(F.count(F.lit(1)).alias("len"))
    )
    return (
        islands.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_streaks"),
            F.max("len").alias("max_streak"),
        )
        .orderBy("user_id")
    )


@op(
    "join_asof_tolerance",
    sql="""
    WITH p AS (SELECT event_id AS p_id, user_id, epoch_us(ts) AS p_us
               FROM events WHERE event_type = 'purchase'),
    v AS (SELECT user_id, epoch_us(ts) AS v_us
          FROM events WHERE event_type = 'view')
    SELECT p.p_id, p.user_id, p.p_us, MAX(v.v_us) AS matched_view_us
    FROM p LEFT JOIN v
      ON p.user_id = v.user_id
     AND v.v_us <= p.p_us AND v.v_us >= p.p_us - 3600000000
    GROUP BY p.p_id, p.user_id, p.p_us
    ORDER BY p.p_id
    """,
)
def join_asof_tolerance(spark: SparkSession, sf: str) -> DataFrame:
    """As-of join WITH TOLERANCE (pandas ``merge_asof(tolerance=...)``
    semantics): each purchase matches the latest view by the same user at
    most 1 hour earlier, or NULL — the left-preserving variant of
    join_asof_latest_prior. Expressed as bounded-range join + max()
    argmax so partial aggregation prunes the fan-out map-side. The range
    predicate bounds the blow-up to events-per-user-per-hour; at 100 TB
    the bucketed-by-hour variant (join_range_bucketed) caps the join
    input per bucket pair."""
    ev = table(spark, sf, "events")
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("p_id"),
        "user_id",
        F.unix_micros("ts").alias("p_us"),
    )
    v = ev.filter(F.col("event_type") == "view").select(
        F.col("user_id").alias("v_user"), F.unix_micros("ts").alias("v_us")
    )
    return (
        p.join(
            v,
            (p.user_id == v.v_user)
            & (v.v_us <= p.p_us)
            & (v.v_us >= p.p_us - 3_600_000_000),
            "left",
        )
        .groupBy("p_id", "user_id", "p_us")
        .agg(F.max("v_us").alias("matched_view_us"))
        .orderBy("p_id")
    )


@op(
    "ts_ewma",
    # Oracle (upgraded r6): the adjusted-EWMA recurrence num_t = x_t +
    # (1-a)·num_{t-1}, den_t = 1 + (1-a)·den_{t-1}, ewma = num/den is the
    # SAME IEEE op sequence in the Python loop and this recursive CTE
    # (one doc per series per step, depth = max events/user = 99 at
    # sf0.1), so the emitted doubles are BIT-identical — no quantization
    # needed. (1-a) is spelled as the explicit double subtraction in both
    # engines: a bare 0.7 literal would be DuckDB DECIMAL / the double
    # nearest 0.7, while 1.0-0.3 in IEEE is 0.7000000000000001.
    sql=f"""
    WITH RECURSIVE d AS (
      SELECT user_id, event_id, epoch_us(ts) AS ts_us, CAST(value AS DOUBLE) AS x,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY epoch_us(ts), event_id) AS rn
      FROM events
    ),
    r AS (
      SELECT user_id, event_id, ts_us, rn, x AS num, CAST(1.0 AS DOUBLE) AS den
      FROM d WHERE rn = 1
      UNION ALL
      SELECT d.user_id, d.event_id, d.ts_us, d.rn,
             d.x + (CAST(1.0 AS DOUBLE) - CAST({_EWMA_ALPHA} AS DOUBLE)) * r.num AS num,
             CAST(1.0 AS DOUBLE)
               + (CAST(1.0 AS DOUBLE) - CAST({_EWMA_ALPHA} AS DOUBLE)) * r.den AS den
      FROM r JOIN d ON d.user_id = r.user_id AND d.rn = r.rn + 1
    )
    SELECT user_id, ts_us, event_id, num / den AS ewma
    FROM r ORDER BY user_id, ts_us, event_id
    """,
)
def ts_ewma(spark: SparkSession, sf: str) -> DataFrame:
    """Exponentially-weighted moving average per user series (the
    adjusted form: ewma_t = Σ(1-a)^i·x_{t-i} / Σ(1-a)^i, a=0.3) via
    applyInPandas — the honest slow path: EWMA's recurrence is inherently
    sequential per key, so the right distribution strategy IS one Arrow
    batch per key group, parallel across users, sequential within. The
    explicit num/den recurrence (not pandas .ewm, whose Cython loop uses
    a different float-op order) makes the output bit-reproducible across
    engines — the DuckDB recursive-CTE oracle replays the identical IEEE
    sequence. event_id is the deterministic intra-timestamp tiebreak."""
    import bpspark

    bpspark.ensure_worker_imports(spark)
    ev = table(spark, sf, "events").select(
        "user_id", "event_id", F.unix_micros("ts").alias("ts_us"), "value"
    )
    return (
        ev.groupBy("user_id")
        .applyInPandas(
            _ewma_group, "user_id bigint, ts_us bigint, event_id bigint, ewma double"
        )
        .orderBy("user_id", "ts_us", "event_id")
    )


def _ewma_group(pdf):
    pdf = pdf.sort_values(["ts_us", "event_id"]).reset_index(drop=True)
    c = 1.0 - _EWMA_ALPHA  # 0.7000000000000001 — the exact IEEE value the oracle uses
    num = 0.0
    den = 0.0
    out = []
    for x in pdf["value"]:
        num = x + c * num
        den = 1.0 + c * den
        out.append(num / den)
    pdf["ewma"] = out
    return pdf[["user_id", "ts_us", "event_id", "ewma"]]


@op(
    "ts_anomaly_iqr",
    sql="""
    WITH q AS (
      SELECT event_type,
             quantile_cont(value, 0.25) AS q1,
             quantile_cont(value, 0.75) AS q3
      FROM events GROUP BY event_type
    )
    SELECT e.event_id, e.event_type, e.value
    FROM events e JOIN q ON e.event_type = q.event_type
    WHERE e.value > q.q3 + 1.5 * (q.q3 - q.q1)
       OR e.value < q.q1 - 1.5 * (q.q3 - q.q1)
    """,
)
def ts_anomaly_iqr(spark: SparkSession, sf: str) -> DataFrame:
    """Tukey-fence anomaly detection: flag events whose value falls
    outside [q1 - 1.5·IQR, q3 + 1.5·IQR] of their event_type. The
    per-type quantile frame is tiny (|event types| rows) so Catalyst
    broadcasts it back onto the fact scan — no second shuffle of the
    events. Exact interpolated quantiles are identical doubles in both
    engines and the fence arithmetic is a single mul/add per side, so the
    boolean comparison is bit-deterministic. At 100 TB swap
    F.percentile for approx_percentile and the plan is unchanged."""
    ev = table(spark, sf, "events")
    q = ev.groupBy("event_type").agg(
        F.percentile("value", F.lit(0.25)).alias("q1"),
        F.percentile("value", F.lit(0.75)).alias("q3"),
    )
    iqr = F.col("q3") - F.col("q1")
    return (
        ev.join(F.broadcast(q), "event_type")
        .filter(
            (F.col("value") > F.col("q3") + F.lit(1.5) * iqr)
            | (F.col("value") < F.col("q1") - F.lit(1.5) * iqr)
        )
        .select("event_id", "event_type", "value")
    )


@op(
    "ts_seasonal_decompose",
    sql="""
    WITH daily AS (
      SELECT event_type,
             CAST(CAST(ts AS DATE) AS VARCHAR) AS day,
             (CAST(ts AS DATE) - DATE '1970-01-01') AS epoch_day,
             CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS v
      FROM events GROUP BY 1, 2, 3
    ),
    tr AS (
      SELECT *,
             CAST(SUM(CAST(v AS DECIMAL(18,2))) OVER w AS DOUBLE) AS tsum,
             COUNT(*) OVER w AS tn
      FROM daily
      WINDOW w AS (PARTITION BY event_type ORDER BY epoch_day
                   RANGE BETWEEN 3 PRECEDING AND 3 FOLLOWING)
    ),
    det AS (
      SELECT event_type, day, epoch_day, v, tsum / 7 AS trend,
             epoch_day % 7 AS weekday,
             CAST(ROUND(v - tsum / 7, 6) AS DECIMAL(18,6)) AS detr
      FROM tr WHERE tn = 7
    ),
    seas AS (
      SELECT event_type, weekday,
             CAST(SUM(detr) AS DOUBLE) / COUNT(*) AS seasonal
      FROM det GROUP BY 1, 2
    )
    SELECT d.event_type, d.day, d.v,
           ROUND(d.trend, 6) AS trend,
           ROUND(s.seasonal, 6) AS seasonal,
           ROUND(d.v - d.trend - s.seasonal, 6) AS resid
    FROM det d
    JOIN seas s ON d.event_type = s.event_type AND d.weekday = s.weekday
    """,
)
def ts_seasonal_decompose(spark: SparkSession, sf: str) -> DataFrame:
    """Classical additive seasonal decomposition (the moving-average
    method STL descends from) of each event type's daily value series:
    trend = centered 7-day moving average over a CALENDAR range frame
    (full frames only, so edges carry no half-window bias and gapped
    panels never mix non-adjacent weeks), seasonal = per-weekday mean of the
    detrended series, residual = value − trend − seasonal. Weekday is
    epoch-day mod 7 — integer arithmetic, immune to the engines'
    dayofweek() origin disagreement (Spark 1=Sunday, DuckDB 0=Sunday).

    Cross-engine float discipline (the repo's decimal-snap contract):
    daily sums run in DECIMAL(18,2) (exact, associative — safe to
    shuffle in any order); the windowed trend sum runs in DECIMAL too,
    so trend = exact_sum / 7 is ONE IEEE division from identical inputs;
    the detrended series is snapped to DECIMAL(18,6) before the
    per-weekday mean so that aggregation is exact again. Every emitted
    float is therefore a single rounded arithmetic op over exact inputs
    — bit-identical in both engines.

    Scale: the ONLY corpus-sized work is the daily partial aggregate
    (map-side combine → shuffle of |types × days| rows). Everything
    after operates on the daily panel — thousands of rows per decade —
    so windows, the weekday profile (a broadcast back onto the panel),
    and the final join are noise at 100 TB. This is the hypertable
    continuous-aggregate shape: decompose reads the rollup, never the
    raw events."""
    ev = table(spark, sf, "events").select("event_type", "ts", "value")
    d = F.to_date("ts")
    daily = (
        ev.groupBy(
            "event_type",
            d.cast("string").alias("day"),
            F.datediff(d, F.to_date(F.lit("1970-01-01"))).alias("epoch_day"),
        )
        .agg(F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("v"))
    )
    # RANGE frame on epoch_day: the ±3-day window is CALENDAR-correct
    # even across gaps in the panel (a rows frame would mix non-adjacent
    # weeks); the tn = 7 filter then keeps only full calendar weeks
    w = (
        Window.partitionBy("event_type")
        .orderBy("epoch_day")
        .rangeBetween(-3, 3)
    )
    tr = daily.select(
        "event_type",
        "day",
        "epoch_day",
        "v",
        F.sum(F.col("v").cast("decimal(18,2)")).over(w).cast("double").alias("tsum"),
        F.count(F.lit(1)).over(w).alias("tn"),
    )
    det = tr.filter(F.col("tn") == 7).select(
        "event_type",
        "day",
        "v",
        (F.col("tsum") / 7).alias("trend"),
        (F.col("epoch_day") % 7).alias("weekday"),
        F.round(F.col("v") - F.col("tsum") / 7, 6).cast("decimal(18,6)").alias("detr"),
    )
    seas = det.groupBy("event_type", "weekday").agg(
        (F.sum("detr").cast("double") / F.count(F.lit(1))).alias("seasonal")
    )
    return det.join(F.broadcast(seas), ["event_type", "weekday"]).select(
        "event_type",
        "day",
        "v",
        F.round("trend", 6).alias("trend"),
        F.round("seasonal", 6).alias("seasonal"),
        F.round(F.col("v") - F.col("trend") - F.col("seasonal"), 6).alias("resid"),
    )


_HW_ALPHA, _HW_BETA, _HW_GAMMA, _HW_SEASON = 0.3, 0.1, 0.2, 7
_HW_HORIZON = 7


def _holt_winters_group(pdf):
    """Additive Holt-Winters (level/trend/7-day seasonal) over one
    series, plus an _HW_HORIZON-day out-of-sample forecast. Standard
    textbook initialization: level = first-season mean, trend =
    week-over-week mean slope / m, seasonal = first-season deviations.
    Runs in float64 off DECIMAL-exact daily sums, so the recurrence is
    bit-reproducible for a given input order (enforced by the sort)."""
    import numpy as np
    import pandas as pd

    pdf = pdf.sort_values("epoch_day").reset_index(drop=True)
    v = pdf["v"].to_numpy(dtype=np.float64)
    days = pdf["epoch_day"].to_numpy(dtype=np.int64)
    m = _HW_SEASON
    et = pdf["event_type"].iloc[0]
    if len(v) < 2 * m:  # too short to initialize — emit nothing
        return pd.DataFrame(
            columns=["event_type", "epoch_day", "kind", "v", "fitted"]
        ).astype({"event_type": str, "epoch_day": "int64", "kind": str,
                  "v": "float64", "fitted": "float64"})
    # explicit left-associated sums (NOT numpy .mean(), whose pairwise
    # summation is an internal detail) — the oracle SQL replays the same
    # IEEE chain, so level/trend init is bit-identical cross-engine
    acc1 = 0.0
    for j in range(m):
        acc1 += v[j]
    acc2 = 0.0
    for j in range(m, 2 * m):
        acc2 += v[j]
    # divide by float(m), never a literal: the oracle interpolates
    # float(_HW_SEASON), so a constant edit moves both sides (ADVICE r6)
    level = acc1 / float(m)
    trend = (acc2 / float(m) - level) / m
    # seasonal slots keyed by CALENDAR weekday (epoch_day mod 7), not row
    # position — on a gapped panel positional indexing would silently
    # shift every later observation into the wrong weekday slot
    season = {int(days[j]) % m: v[j] - level for j in range(m)}
    if len(season) < m:
        # Gapped init window: a weekday absent from the first m
        # observations would be consulted later (the forecast horizon
        # covers every slot) — fail loudly, exactly like the oracle's
        # error() guard on a NULL season0 slot (ADVICE r6).
        raise ValueError(
            "ts_holt_winters: init window (first %d observations) misses a "
            "weekday slot — gapped panel" % m
        )
    out = []
    for i in range(len(v)):
        slot = int(days[i]) % m
        s = season[slot]
        # tie-free cross-engine rounding (same float ops in DuckDB)
        fitted = float(np.floor((level + trend + s) * 1e6 + 0.5) / 1e6)
        out.append((et, int(days[i]), "fit", float(v[i]), fitted))
        prev_level = level
        level = _HW_ALPHA * (v[i] - s) + (1 - _HW_ALPHA) * (level + trend)
        trend = _HW_BETA * (level - prev_level) + (1 - _HW_BETA) * trend
        season[slot] = _HW_GAMMA * (v[i] - level) + (1 - _HW_GAMMA) * s
    last_day = int(days[-1])
    for h in range(1, _HW_HORIZON + 1):
        f = level + h * trend + season[(last_day + h) % m]
        out.append(
            (et, last_day + h, "forecast", None, float(np.floor(f * 1e6 + 0.5) / 1e6))
        )
    return pd.DataFrame(out, columns=["event_type", "epoch_day", "kind", "v", "fitted"])


_ACF_MAX_LAG = 7


@op(
    "ts_autocorrelation",
    sql=f"""
    WITH daily AS (
        SELECT event_type,
               DATE_DIFF('day', DATE '1970-01-01', CAST(ts AS DATE)) AS epoch_day,
               CAST(SUM(CAST(value AS DECIMAL(18,2))) * 100 AS HUGEINT) AS c
        FROM events GROUP BY 1, 2
    ),
    stats AS (
        SELECT event_type,
               COUNT(*) AS n_days,
               CAST(SUM(c) AS HUGEINT) AS s,
               CAST(SUM(c * c) AS HUGEINT) AS ss
        FROM daily GROUP BY event_type
    ),
    pairs AS (
        SELECT a.event_type, l.lag,
               COUNT(*) AS n_pairs,
               CAST(SUM(a.c * b.c) AS HUGEINT) AS p,
               CAST(SUM(a.c + b.c) AS HUGEINT) AS asum
        FROM daily a
        JOIN (SELECT UNNEST(range(1, {_ACF_MAX_LAG + 1})) AS lag) l ON TRUE
        JOIN daily b ON b.event_type = a.event_type
                    AND b.epoch_day = a.epoch_day + l.lag
        GROUP BY a.event_type, l.lag
    )
    SELECT p.event_type, CAST(p.lag AS BIGINT) AS lag,
           st.n_days, p.n_pairs,
           CAST(st.n_days * st.n_days * p.p
                - st.n_days * st.s * p.asum
                + p.n_pairs * st.s * st.s AS DOUBLE)
           / CAST(st.n_days * (st.n_days * st.ss - st.s * st.s) AS DOUBLE) AS acf
    FROM pairs p JOIN stats st ON p.event_type = st.event_type
    ORDER BY p.event_type, p.lag
    """,
)
def ts_autocorrelation(spark: SparkSession, sf: str) -> DataFrame:
    """Sample autocorrelation function at lags 1..{_ACF_MAX_LAG} per
    event type's daily series — the seasonality/memory diagnostic that
    tells a pipeline WHETHER to run ts_seasonal_decompose (a weekly
    cycle shows as an r_7 spike) and how far ts_holt_winters' smoothing
    should trust history. Lag pairs are joined on epoch_day + k, so
    lags stay CALENDAR-correct across panel gaps.

    Cross-engine float discipline (the exact-moments trick, pushed
    through a ratio of quadratics): with daily values as integer CENTS
    c, r_k = (n²·Σc_t c_{{t+k}} − n·S·Σ(c_t+c_{{t+k}}) + m_k·S²) /
    (n·(n·Σc² − S²)) — every term an EXACT integer (Spark
    DECIMAL(38,0) arithmetic, DuckDB HUGEINT), and the emitted acf is
    ONE IEEE division of the two exact values, so the driver hash
    matches bit-for-bit. No mean is ever materialized as a float.
    Magnitudes: cents ~1e8, Σc² ~1e18·days, n²Σcc ~1e24 — inside
    DECIMAL(38,0)/HUGEINT with ~14 digits of headroom at test scales;
    at true 100 TB panel sizes the same identity runs on a per-series
    basis so n is days-per-series, not corpus rows.

    Plan: the only corpus-sized pass is the daily rollup (map-side
    combined). The lag self-join runs on the |types×days| panel with
    the tiny lag dimension cross-joined; stats is one more panel
    aggregate. Everything is exact-integer until the final division."""
    ev = table(spark, sf, "events").select("event_type", "ts", "value")
    d = F.to_date("ts")
    daily = ev.groupBy(
        "event_type",
        F.datediff(d, F.to_date(F.lit("1970-01-01"))).alias("epoch_day"),
    ).agg(
        (F.sum(F.col("value").cast("decimal(18,2)")) * 100)
        .cast("decimal(38,0)")
        .alias("c")
    )
    # materialized: `daily` feeds THREE consumers (pair side a, pair
    # side b, stats) and Spark's static planner does not reuse the
    # aggregate subtree across them — without this the corpus-sized
    # rollup scan+aggregate ran three times (seen in the r5 plan audit).
    # Materializing the tiny |types×days| panel makes the corpus pass
    # happen exactly once, which is what the claim below promises.
    daily = materialize(daily)
    stats = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_days"),
        F.sum("c").cast("decimal(38,0)").alias("s"),
        F.sum(F.col("c") * F.col("c")).cast("decimal(38,0)").alias("ss"),
        F.max(F.abs(F.col("c"))).cast("decimal(38,0)").alias("max_c"),
    )
    lags = spark.range(1, _ACF_MAX_LAG + 1).select(F.col("id").alias("lag"))
    a = daily.select(
        "event_type", F.col("epoch_day").alias("ed_a"), F.col("c").alias("ca")
    ).crossJoin(F.broadcast(lags))
    b = daily.select(
        F.col("event_type").alias("et_b"),
        F.col("epoch_day").alias("ed_b"),
        F.col("c").alias("cb"),
    )
    pairs = (
        a.join(
            b,
            (F.col("event_type") == F.col("et_b"))
            & (F.col("ed_b") == F.col("ed_a") + F.col("lag")),
        )
        .groupBy("event_type", "lag")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.sum(F.col("ca") * F.col("cb")).cast("decimal(38,0)").alias("p"),
            F.sum(F.col("ca") + F.col("cb")).cast("decimal(38,0)").alias("asum"),
        )
    )
    j = pairs.join(stats, "event_type")
    num = (
        F.col("n_days") * F.col("n_days") * F.col("p")
        - F.col("n_days") * F.col("s") * F.col("asum")
        + F.col("n_pairs") * F.col("s") * F.col("s")
    )
    den = F.col("n_days") * (
        F.col("n_days") * F.col("ss") - F.col("s") * F.col("s")
    )
    # Overflow guard (ADVICE r4): Spark's non-ANSI DECIMAL(38,0) returns
    # NULL on overflow while DuckDB's HUGEINT keeps exact values — a
    # silent cross-engine fork. Bound: |num| <= 4 * n_days^3 * max|c|^2
    # (|p| <= n*M^2, |s||asum| <= 2n^2*M^2, n_pairs*s^2 <= n^3*M^2), so
    # log10(4) + 3*log10(n) + 2*log10(M) < 37.5 guarantees headroom in
    # BOTH engines (10^38 DECIMAL / 1.7e38 HUGEINT). raise_error keeps
    # the check lazy per-row — overflow risk now errors loudly instead
    # of emitting NULL acf.
    headroom_ok = (
        F.lit(0.61)
        + 3.0 * F.log10(F.col("n_days").cast("double"))
        + 2.0 * F.log10(F.greatest(F.col("max_c").cast("double"), F.lit(1.0)))
    ) < 37.5
    acf = num.cast("double") / den.cast("double")
    return j.select(
        "event_type",
        F.col("lag").cast("long").alias("lag"),
        "n_days",
        "n_pairs",
        F.when(headroom_ok, acf)
        .otherwise(
            F.raise_error(
                "ts_autocorrelation: DECIMAL(38,0) headroom exceeded "
                "(n_days^3 * max|cents|^2 too large) — result would "
                "silently NULL-fork vs the exact-integer oracle"
            )
        )
        .alias("acf"),
    ).orderBy("event_type", "lag")


def _hw_chain(lo: int, hi: int) -> str:
    """Left-associated vs[lo]+…+vs[hi] — the same IEEE order as the op's
    explicit Python accumulation loop."""
    expr = f"vs[{lo}]"
    for j in range(lo + 1, hi + 1):
        expr = f"({expr} + vs[{j}])"
    return expr


# α/β/γ and the season length are interpolated from the module constants
# (self-code-review r6) — editing them can never fork op and oracle.
_HW_SQL = f"""
    WITH RECURSIVE daily AS (
      SELECT event_type,
             CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS epoch_day,
             CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS v
      FROM events GROUP BY 1, 2
    ),
    dd AS (
      SELECT event_type, epoch_day, v,
             row_number() OVER (PARTITION BY event_type ORDER BY epoch_day) AS rn
      FROM daily
    ),
    ser AS (
      SELECT event_type, count(*) AS nd, max(epoch_day) AS last_day,
             list(v ORDER BY epoch_day) AS vs,
             list(epoch_day ORDER BY epoch_day) AS ds
      FROM dd GROUP BY event_type HAVING count(*) >= {2 * _HW_SEASON}
    ),
    init AS (
      -- a NULL season0 slot (weekday absent from the init window) errors
      -- loudly instead of silently emitting NULL fitted rows, matching
      -- the Python op's ValueError on the same input (ADVICE r6)
      SELECT event_type, nd, last_day, lvl0, mean2, tr0,
             CASE WHEN len(list_filter(season0_raw, e -> e IS NULL)) > 0
                  THEN error('ts_holt_winters: init window misses a weekday slot - gapped panel')
                  ELSE season0_raw END AS season0
      FROM (
        SELECT event_type, nd, last_day, lvl0,
               {_hw_chain(_HW_SEASON + 1, 2 * _HW_SEASON)}
                 / CAST({float(_HW_SEASON)} AS DOUBLE) AS mean2,
               ({_hw_chain(_HW_SEASON + 1, 2 * _HW_SEASON)}
                 / CAST({float(_HW_SEASON)} AS DOUBLE) - lvl0) / CAST({float(_HW_SEASON)} AS DOUBLE) AS tr0,
               list_transform(generate_series(0, {_HW_SEASON - 1}), sl ->
                 CASE WHEN list_position(
                          list_reverse(list_transform(ds[1:{_HW_SEASON}], d -> d % {_HW_SEASON})), sl) > 0
                      THEN vs[{_HW_SEASON + 1} - list_position(
                          list_reverse(list_transform(ds[1:{_HW_SEASON}], d -> d % {_HW_SEASON})), sl)]
                           - lvl0
                      ELSE NULL END) AS season0_raw
        FROM (
          SELECT *,
                 {_hw_chain(1, _HW_SEASON)}
                   / CAST({float(_HW_SEASON)} AS DOUBLE) AS lvl0
          FROM ser))
    ),
    st AS (
      SELECT i.event_type, 0 AS rn, CAST(NULL AS BIGINT) AS epoch_day,
             CAST(NULL AS DOUBLE) AS x, CAST(NULL AS DOUBLE) AS fitted,
             i.lvl0 AS level, i.tr0 AS trend, i.season0 AS season
      FROM init i
      UNION ALL
      SELECT d.event_type, d.rn, d.epoch_day, d.v,
             floor(t3.fitted_raw * 1e6 + 0.5) / 1e6 AS fitted,
             t3.newlevel AS level, t4.newtrend AS trend,
             list_transform(s.season,
                            (e, j) -> CASE WHEN j = t1.sloti
                                           THEN t4.newseason ELSE e END) AS season
      FROM st s
      JOIN dd d ON d.event_type = s.event_type AND d.rn = s.rn + 1,
      LATERAL (SELECT (d.epoch_day % {_HW_SEASON}) + 1 AS sloti) t1,
      LATERAL (SELECT s.season[t1.sloti] AS sv) t2,
      LATERAL (SELECT s.level + s.trend + t2.sv AS fitted_raw,
                      CAST({_HW_ALPHA} AS DOUBLE) * (d.v - t2.sv)
                        + (CAST(1.0 AS DOUBLE) - CAST({_HW_ALPHA} AS DOUBLE))
                          * (s.level + s.trend) AS newlevel) t3,
      LATERAL (SELECT CAST({_HW_BETA} AS DOUBLE) * (t3.newlevel - s.level)
                        + (CAST(1.0 AS DOUBLE) - CAST({_HW_BETA} AS DOUBLE)) * s.trend
                          AS newtrend,
                      CAST({_HW_GAMMA} AS DOUBLE) * (d.v - t3.newlevel)
                        + (CAST(1.0 AS DOUBLE) - CAST({_HW_GAMMA} AS DOUBLE)) * t2.sv
                          AS newseason) t4
    )
    SELECT event_type, epoch_day, 'fit' AS kind, x AS v, fitted
    FROM st WHERE rn >= 1
    UNION ALL
    SELECT f.event_type, f.last_day + h.h AS epoch_day, 'forecast' AS kind,
           CAST(NULL AS DOUBLE) AS v,
           floor((f.level + h.h * f.trend
                  + f.season[((f.last_day + h.h) % {_HW_SEASON}) + 1]) * 1e6 + 0.5) / 1e6
             AS fitted
    FROM (SELECT s.*, i.last_day FROM st s
          JOIN init i ON i.event_type = s.event_type AND s.rn = i.nd) f,
         unnest(generate_series(1, {_HW_HORIZON})) AS h(h)
    ORDER BY event_type, epoch_day
    """


@op("ts_holt_winters", sql=_HW_SQL)
def ts_holt_winters(spark: SparkSession, sf: str) -> DataFrame:
    """Additive Holt-Winters (triple exponential smoothing: level +
    trend + 7-day seasonality) per event type's daily series, with a
    7-day out-of-sample forecast — the forecasting closure of the ts
    family (ts_seasonal_decompose explains a series; this one predicts
    it). α=0.3, β=0.1, γ=0.2, textbook first-two-weeks initialization.

    Distribution contract = ts_ewma's: the recurrence is inherently
    sequential PER SERIES, so the right strategy is one Arrow batch per
    key group — parallel across series, sequential within. The input
    panel is the DECIMAL-exact daily rollup (the only corpus-sized
    pass: map-side combined partial aggregate, shuffle = |types×days|
    rows); the Python recurrence sees days, not events. At 100 TB with
    millions of series (per-entity forecasting) the same groupBy
    applyInPandas fans across the cluster and each group's cost is its
    own day count. Certified by an independently-written driver-side
    recurrence replica (bit-equality), forecast-shape properties, and —
    upgraded r6 — a DuckDB recursive-CTE oracle that carries the
    (level, trend, 7-slot season list) state one day per series per step
    and replays the IDENTICAL IEEE op sequence (explicit left-associated
    init sums, per-step updates via LATERAL-named intermediates, tie-free
    floor(x·1e6+0.5)/1e6 on the emitted fit/forecast values)."""
    import bpspark

    bpspark.ensure_worker_imports(spark)
    ev = table(spark, sf, "events").select("event_type", "ts", "value")
    d = F.to_date("ts")
    daily = ev.groupBy(
        "event_type",
        F.datediff(d, F.to_date(F.lit("1970-01-01"))).alias("epoch_day"),
    ).agg(F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("v"))
    return (
        daily.groupBy("event_type")
        .applyInPandas(
            _holt_winters_group,
            "event_type string, epoch_day long, kind string, v double, fitted double",
        )
        .orderBy("event_type", "epoch_day")
    )


@op(
    "sessionize_pattern_funnel",
    sql="""
    WITH g AS (
      SELECT user_id, epoch_us(ts) AS ts_us, event_id,
             substr(event_type, 1, 1) AS initial,
             LAG(epoch_us(ts)) OVER (PARTITION BY user_id
                                     ORDER BY epoch_us(ts), event_id) AS prev_us
      FROM events
    ), s AS (
      SELECT user_id, ts_us, event_id, initial,
             CAST(SUM(CASE WHEN prev_us IS NULL OR ts_us - prev_us > 1800000000
                           THEN 1 ELSE 0 END)
                    OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS session_id
      FROM g
    ), seqs AS (
      SELECT user_id, session_id,
             COUNT(*) AS n_events,
             string_agg(initial, '' ORDER BY ts_us, event_id) AS seq
      FROM s GROUP BY user_id, session_id
    )
    SELECT user_id, session_id, n_events,
           len(regexp_extract_all(seq, 'vc*p')) AS n_funnels
    FROM seqs
    WHERE len(regexp_extract_all(seq, 'vc*p')) >= 1
    ORDER BY user_id, session_id
    """,
)
def sessionize_pattern_funnel(spark: SparkSession, sf: str) -> DataFrame:
    """Sequential-pattern detection over sessions — MATCH_RECOGNIZE's
    most common use (the funnel 'view, any clicks, purchase'), emulated
    on an engine that lacks the clause: each session's events collapse
    to an ORDERED initial string ('vccp…', every event type here starts
    with a distinct letter) and the pattern becomes a regex counted
    per session — non-overlapping left-to-right matches, identical
    semantics in Java regex and RE2, so the count is hash-exact. This
    is the classic trick that turns CEP-style row-pattern queries into
    two aggregates; arbitrary MATCH_RECOGNIZE patterns with quantifiers
    map to regexes over the symbolized stream the same way.

    Plan: the sessionizer is sessionize_batch's exact lag→flag→running
    sum (one user_id exchange shared by both windows); the ordered
    collapse is array_sort(collect_list(struct(ts, id, initial))) —
    deterministic by (ts, event_id) — then one map-side regexp_count.
    Per-session state is its event initials (bytes, not rows); at
    100 TB sessions are bounded by the 30-min gap so no string grows
    with the corpus, and the whole op is two aggregates over one
    partitioning."""
    ev = table(spark, sf, "events").select(
        "user_id",
        F.unix_micros("ts").alias("ts_us"),
        "event_id",
        F.substring("event_type", 1, 1).alias("initial"),
    )
    order = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    gap = F.when(
        F.lag("ts_us").over(order).isNull()
        | (F.col("ts_us") - F.lag("ts_us").over(order) > _SESSION_GAP_US),
        F.lit(1),
    ).otherwise(F.lit(0))
    running = order.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    sess = ev.withColumn("session_id", F.sum(gap).over(running))
    seqs = sess.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("ts_us", "event_id", "initial"))),
                lambda s: s.initial,
            ),
            "",
        ).alias("seq"),
    )
    n_funnels = F.regexp_count("seq", F.lit("vc*p"))
    return (
        seqs.select("user_id", "session_id", "n_events", n_funnels.alias("n_funnels"))
        .filter(F.col("n_funnels") >= 1)
        .orderBy("user_id", "session_id")
    )


@op(
    "ts_changepoint_cusum",
    sql="""
    WITH daily AS (
      SELECT event_type,
             CAST(CAST(ts AS DATE) AS VARCHAR) AS day,
             (CAST(ts AS DATE) - DATE '1970-01-01') AS epoch_day,
             CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS v
      FROM events GROUP BY 1, 2, 3
    ),
    st AS (
      SELECT event_type,
             CAST(SUM(CAST(v AS DECIMAL(18,2))) AS DOUBLE) AS sv,
             COUNT(*) AS n
      FROM daily GROUP BY 1
    ),
    dev AS (
      SELECT d.*, CAST(ROUND(d.v - st.sv / st.n, 6) AS DECIMAL(18,6)) AS dv
      FROM daily d JOIN st ON d.event_type = st.event_type
    ),
    cs AS (
      SELECT *, CAST(SUM(dv) OVER (PARTITION BY event_type ORDER BY epoch_day
                                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS DOUBLE) AS cusum
      FROM dev
    ),
    cp AS (
      SELECT event_type, day AS cp_day, epoch_day AS cp_epoch,
             ROUND(ABS(cusum), 6) AS cusum_stat
      FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type
                                         ORDER BY ABS(cusum) DESC, epoch_day) AS rn
            FROM cs)
      WHERE rn = 1
    ),
    seg AS (
      SELECT d.event_type,
             CAST(SUM(CAST(d.v AS DECIMAL(18,2)))
                  FILTER (WHERE d.epoch_day <= cp.cp_epoch) AS DOUBLE) AS sb,
             COUNT(*) FILTER (WHERE d.epoch_day <= cp.cp_epoch) AS nb,
             CAST(SUM(CAST(d.v AS DECIMAL(18,2)))
                  FILTER (WHERE d.epoch_day > cp.cp_epoch) AS DOUBLE) AS sa,
             COUNT(*) FILTER (WHERE d.epoch_day > cp.cp_epoch) AS na
      FROM daily d JOIN cp ON d.event_type = cp.event_type
      GROUP BY 1
    )
    SELECT cp.event_type AS event_type, cp.cp_day, cp.cusum_stat,
           seg.sb / seg.nb AS mean_before,
           seg.sa / seg.na AS mean_after,
           seg.nb AS n_days_before, seg.na AS n_days_after
    FROM cp JOIN seg ON cp.event_type = seg.event_type
    ORDER BY cp.event_type
    """,
)
def ts_changepoint_cusum(spark: SparkSession, sf: str) -> DataFrame:
    """CUSUM changepoint detection per event type's daily series (Page
    1954 — the classic mean-shift detector): the cumulative sum of
    deviations from the series mean peaks in magnitude at the most
    likely level-shift day; emit that day, the |CUSUM| statistic, and
    the before/after means whose gap it detects. Decimal-snap
    discipline throughout (daily sums, the deviation column, and its
    running sum all aggregate in DECIMAL), so the argmax over |cusum|
    compares identical doubles in both engines and ties break to the
    earliest day — the whole detection is hash-certified, unusual for
    a statistics op.

    Plan: the daily rollup is the only corpus-sized pass; everything
    after runs on |types × days| rows — one window cumsum + one argmax
    window sharing the type partitioning, then one broadcast join of
    the |types|-row changepoint table back onto the panel for the
    segment means. At 100 TB: the monitoring shape again — detect on
    the rollup, never the raw stream; a streaming form holds mu and
    the running cusum as |types| rows of state."""
    ev = table(spark, sf, "events").select("event_type", "ts", "value")
    d = F.to_date("ts")
    daily = ev.groupBy(
        "event_type",
        d.cast("string").alias("day"),
        F.datediff(d, F.to_date(F.lit("1970-01-01"))).alias("epoch_day"),
    ).agg(F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("v"))
    st = daily.groupBy("event_type").agg(
        F.sum(F.col("v").cast("decimal(18,2)")).cast("double").alias("sv"),
        F.count(F.lit(1)).alias("n"),
    )
    dev = daily.join(F.broadcast(st), "event_type").withColumn(
        "dv", F.round(F.col("v") - F.col("sv") / F.col("n"), 6).cast("decimal(18,6)")
    )
    wcum = (
        Window.partitionBy("event_type")
        .orderBy("epoch_day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cs = dev.withColumn("cusum", F.sum("dv").over(wcum).cast("double"))
    warg = Window.partitionBy("event_type").orderBy(
        F.abs(F.col("cusum")).desc(), "epoch_day"
    )
    cp = (
        cs.withColumn("rn", F.row_number().over(warg))
        .filter(F.col("rn") == 1)
        .select(
            "event_type",
            F.col("day").alias("cp_day"),
            F.col("epoch_day").alias("cp_epoch"),
            F.round(F.abs(F.col("cusum")), 6).alias("cusum_stat"),
        )
    )
    seg = (
        daily.join(F.broadcast(cp), "event_type")
        .groupBy("event_type")
        .agg(
            F.sum(
                F.when(F.col("epoch_day") <= F.col("cp_epoch"), F.col("v").cast("decimal(18,2)"))
            ).cast("double").alias("sb"),
            F.count_if(F.col("epoch_day") <= F.col("cp_epoch")).alias("nb"),
            F.sum(
                F.when(F.col("epoch_day") > F.col("cp_epoch"), F.col("v").cast("decimal(18,2)"))
            ).cast("double").alias("sa"),
            F.count_if(F.col("epoch_day") > F.col("cp_epoch")).alias("na"),
        )
    )
    return (
        cp.join(seg, "event_type")
        .select(
            "event_type",
            "cp_day",
            "cusum_stat",
            (F.col("sb") / F.col("nb")).alias("mean_before"),
            (F.col("sa") / F.col("na")).alias("mean_after"),
            F.col("nb").alias("n_days_before"),
            F.col("na").alias("n_days_after"),
        )
        .orderBy("event_type")
    )
