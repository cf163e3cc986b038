"""Gap-based sessionization + tumbling-window batch twins (SURVEY §2B
'Streaming' — the H-checked batch halves; the streaming halves in
tile_etl_spark.streaming assert equality against these).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from tile_etl_spark.io import as_double, load, plan_memo, table_view
from tile_etl_spark.operators.windows import bounded_window_key
from tile_etl_spark.registry import query

GAP_US = 30 * 60 * 1_000_000  # 30-minute session gap


def sessionize(events: DataFrame, gap_us: int = GAP_US) -> DataFrame:
    """Classic lag + cumulative-sum sessionization: a session breaks
    where the gap to the previous event of the same user exceeds
    ``gap_us``. One shuffle on user_id; everything else is an
    in-partition sort — the standard scale shape."""
    us = F.unix_micros("ts")
    w = Window.partitionBy("user_id").orderBy(us, F.col("event_id"))
    wcum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    is_new = F.when(
        F.lag(us).over(w).isNull() | ((us - F.lag(us).over(w)) > gap_us), 1
    ).otherwise(0)
    return (
        events.withColumn("__us", us)
        .withColumn("session_id", F.sum(is_new).over(wcum))
    )


# Dialect-shared sessionization text: identical in Spark SQL and DuckDB
# except the epoch-µs function name ({epoch}: unix_micros vs epoch_us).
# {t} binds the events source (memoized temp view / DuckDB view).
_SESSIONIZE_SQL = f"""
    WITH e AS (
      SELECT user_id, event_id, ts, {{epoch}}(ts) AS us FROM {{t}}
    ),
    flagged AS (
      SELECT *,
             CASE WHEN lag(us) OVER w IS NULL
                       OR us - lag(us) OVER w > {GAP_US}
                  THEN 1 ELSE 0 END AS is_new
      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)
    ),
    sessions AS (
      SELECT *,
             sum(is_new) OVER (PARTITION BY user_id ORDER BY us, event_id
                               ROWS UNBOUNDED PRECEDING) AS session_id
      FROM flagged
    )
    SELECT user_id,
           CAST(session_id AS BIGINT) AS session_id,
           CAST(count(*) AS BIGINT) AS n_events,
           min(ts) AS session_start,
           max(ts) AS session_end,
           CAST(max(us) - min(us) AS BIGINT) AS duration_us
    FROM sessions
    GROUP BY user_id, session_id
"""


@query(
    "q_sessionize",
    oracle=_SESSIONIZE_SQL.format(epoch="epoch_us", t="events"),
)
@plan_memo("events")
def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """30-minute-gap sessions per user: id, size, span. The streaming
    twin (s_session) uses F.session_window and must agree. Issued as
    ONE dialect-shared spark.sql() over the memoized events view
    (_SESSIONIZE_SQL; the generic ``sessionize()`` helper remains the
    composable DataFrame form used by the other session operators)."""
    return spark.sql(
        _SESSIONIZE_SQL.format(
            epoch="unix_micros", t=table_view(spark, sf_dir, "events")
        )
    )


@query(
    "q_window_sliding",
    oracle="""
    WITH e AS (SELECT event_type, epoch_us(ts) AS us FROM events),
    expanded AS (
      SELECT event_type,
             make_timestamp(((us // 900000000) - unnest(generate_series(0, 3)))
                            * 900000000) AS window_start
      FROM e
    )
    SELECT window_start, event_type, CAST(count(*) AS BIGINT) AS n
    FROM expanded GROUP BY 1, 2
    """,
)
def q_window_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding window batch twin (1 h window / 15 min slide): every
    event contributes to exactly 4 epoch-aligned windows — the oracle
    expands them arithmetically, Spark's F.window does the same via an
    internal explode."""
    e = load(spark, sf_dir, "events")
    return (
        e.groupBy(
            F.window("ts", "1 hour", "15 minutes").alias("w"), "event_type"
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n")
    )


@query(
    "q_window_tumbling",
    oracle="""
    SELECT date_trunc('hour', ts) AS window_start,
           event_type,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
    FROM events GROUP BY 1, 2
    """,
)
def q_window_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-hour tumbling counts/sums per event type — the batch twin of
    s_tumbling, via the same window() operator the stream uses.

    r12: one spark.sql statement summing MICRO-UNITS (round(value*1e6)
    — events.value carries <=6 decimal digits, the same exact-integer
    argument as _Q1_CELLS_SQL's cents, asserted over every fixture SF)
    instead of a per-row double->DECIMAL(18,6) cast; the accumulator
    is DECIMAL(27,0) of the micro-units long, which adds compact-long
    fast-path until ~1e18 unscaled and then PROMOTES instead of
    wrapping — a bare BIGINT sum would silently overflow ~16x beyond
    100 TB cell sizes in non-ANSI mode. The bucket key is
    date_trunc('hour', ts): for EPOCH-ALIGNED tumbling windows it is
    value-identical to window(ts,'1 hour').start but skips building a
    (start,end) struct per row (interleaved A/B at sf0.1: 0.129 ->
    0.106 s median; the window() form's equivalence is pinned
    in-engine by tests/test_round7_pins.py, and the streaming twin
    s_tumbling still runs the window() operator itself). Cumulative
    r12 A/Bs: 0.125 (decimal-cast window()) -> 0.105 (micro-units) ->
    0.106/0.098 (date_trunc); the remainder is scan+floor by DECOMP
    (scan 0.039 + floor 0.026 of the 0.103 full)."""
    t = table_view(spark, sf_dir, "events")
    return spark.sql(
        f"""
        SELECT date_trunc('hour', ts) AS window_start, event_type,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CAST(CAST(round(value * 1000000) AS BIGINT)
                             AS DECIMAL(27,0)))
                    * CAST(0.000001 AS DECIMAL(7,6)) AS DOUBLE)
                 AS sum_value
        FROM {t}
        GROUP BY date_trunc('hour', ts), event_type
        """
    )


RESAMPLE_S = 900  # 15-minute buckets


# Shared DuckDB CTE block: (user, 15-min bucket) grid with the last
# observed value per bucket — the twin of resampled_grid(). Reused by
# both time-series qids so they agree on the grid by construction.
#
# The bucket is epoch SECONDS as BIGINT, not a timestamp: constructed
# timestamps (make_timestamp / from_unixtime) were the only driver-red
# output type in round 3 — the engines' pandas datetime resolutions
# diverge on synthesized values even when passthrough parquet
# timestamps compare green. Integers also make the grid explode and the
# grid↔lastv equi-join cheaper (no timestamp codec in the join key).
RESAMPLE_CTES = f"""
    b AS (
      SELECT user_id, event_id, value,
             CAST(floor(epoch(ts) / {RESAMPLE_S}) AS BIGINT)
               * {RESAMPLE_S} AS bucket,
             row_number() OVER (
               PARTITION BY user_id,
                 CAST(floor(epoch(ts) / {RESAMPLE_S}) AS BIGINT)
               ORDER BY ts DESC, event_id DESC) AS rn
      FROM events
    ),
    lastv AS (SELECT user_id, bucket, value FROM b WHERE rn = 1),
    spans AS (
      SELECT user_id, min(bucket) AS lo, max(bucket) AS hi
      FROM lastv GROUP BY user_id
    ),
    grid AS (
      SELECT user_id,
             unnest(generate_series(lo, hi, {RESAMPLE_S})) AS bucket
      FROM spans
    )
"""


def observation_pairs(e: DataFrame) -> DataFrame:
    """(user_id, bucket, value, nxt_bucket, nxt_value) — one row per
    observed 15-min bucket (value = last observation in the bucket,
    deterministic (ts, event_id) tiebreak) with the NEXT observed
    bucket of the same user alongside.

    This is the gap-fill primitive both time-series qids consume: the
    dense grid between two consecutive observations is generated BY
    EXPLODING the pair row (``sequence(bucket, nxt_bucket-step)``), so
    the fill value/slope is already on the row that generates the gap —
    no (user, bucket) equi-join of the exploded grid back to the
    observations, and no window pass over grid-sized data. Row
    amplification happens strictly AFTER the last shuffle: at sf0.1
    this cut the interpolation qid ~4.0 s → well under half (the old
    shape shuffled + window-sorted the 4.2 M-row grid twice).

    Assumes ``value`` is non-null (true of the events fixture): a null
    observation would need the LOCF window form instead.
    """
    bucket = (F.floor(F.unix_timestamp("ts") / RESAMPLE_S) * RESAMPLE_S).cast(
        "long"
    )
    lastv = (
        e.select("user_id", "event_id", "ts", "value", bucket.alias("bucket"))
        .groupBy("user_id", "bucket")
        .agg(
            F.expr(
                "max_by(value, struct(ts, event_id))"
            ).alias("value")
        )
    )
    w_nxt = Window.partitionBy("user_id").orderBy("bucket")
    return lastv.select(
        "user_id",
        "bucket",
        "value",
        F.lead("bucket").over(w_nxt).alias("nxt_bucket"),
        F.lead("value").over(w_nxt).alias("nxt_value"),
    )


@query(
    "q_ts_resample",
    oracle=f"""
    WITH {RESAMPLE_CTES}
    SELECT g.user_id, g.bucket,
           CAST(last_value(l.value IGNORE NULLS) OVER (
             PARTITION BY g.user_id ORDER BY g.bucket
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS DOUBLE) AS value_ff,
           CAST(CASE WHEN l.value IS NULL THEN 0 ELSE 1 END AS INT)
             AS had_event
    FROM grid g LEFT JOIN lastv l
      ON g.user_id = l.user_id AND g.bucket = l.bucket
    """,
)
def q_ts_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series RESAMPLE + GAP-FILL: each user's event stream is
    regularized onto a 15-minute grid — last observed ``value`` per
    bucket (deterministic (ts, event_id) tiebreak), empty buckets
    forward-filled from the previous observation, plus a had_event
    flag. The dense regular grid is what downstream feature pipelines
    and charting consume; forward fill is the standard
    last-observation-carried-forward semantics.

    Shape: one (user, bucket) aggregate and one user-keyed lead window
    over OBSERVATION-grain rows, then the gap explode — the carried
    value rides the pair row that generates its gap, so there is no
    grid-sized join and no window over grid-sized data
    (observation_pairs). Values are picked, never summed — no
    float-order risk.
    """
    pairs = observation_pairs(load(spark, sf_dir, "events"))
    step = F.lit(RESAMPLE_S).cast("long")
    return pairs.withColumn(
        "g",
        F.explode(
            F.sequence(
                F.col("bucket"),
                F.coalesce(F.col("nxt_bucket") - step, F.col("bucket")),
                step,
            )
        ),
    ).select(
        "user_id",
        F.col("g").alias("bucket"),
        F.col("value").cast("double").alias("value_ff"),
        (F.col("g") == F.col("bucket")).cast("int").alias("had_event"),
    )


@query(
    "q_ts_interpolate",
    oracle=f"""
    WITH {RESAMPLE_CTES},
    j AS (
      SELECT g.user_id, g.bucket, l.value, g.bucket AS idx
      FROM grid g LEFT JOIN lastv l
        ON g.user_id = l.user_id AND g.bucket = l.bucket
    ),
    w AS (
      SELECT user_id, bucket, value, idx,
             last_value(value IGNORE NULLS) OVER wprev AS pv,
             last_value(CASE WHEN value IS NOT NULL THEN idx END
                        IGNORE NULLS) OVER wprev AS pi,
             first_value(value IGNORE NULLS) OVER wnext AS nv,
             first_value(CASE WHEN value IS NOT NULL THEN idx END
                         IGNORE NULLS) OVER wnext AS ni
      FROM j
      WINDOW wprev AS (PARTITION BY user_id ORDER BY bucket
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
             wnext AS (PARTITION BY user_id ORDER BY bucket
               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
    )
    SELECT user_id, bucket,
           floor(CAST(CASE WHEN value IS NOT NULL THEN value
                WHEN nv IS NULL THEN pv
                ELSE pv + (nv - pv)
                     * (CAST(idx - pi AS DOUBLE) / (ni - pi)) END
             AS DOUBLE) * 1000000 + 0.5) / 1000000 AS value_li,
           CASE WHEN value IS NOT NULL THEN 'obs'
                WHEN nv IS NULL THEN 'ffill'
                ELSE 'interp' END AS fill_kind
    FROM w
    """,
)
def q_ts_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LINEAR INTERPOLATION over the resampled grid — the smooth
    alternative to q_ts_resample's LOCF: an empty bucket between two
    observations gets pv + (nv − pv)·(t − tp)/(tn − tp); trailing
    buckets after the last observation forward-fill (no future point to
    interpolate toward); observed buckets pass through. ``fill_kind``
    labels each row obs/interp/ffill — the provenance a feature
    pipeline keeps.

    Shape: the observation-pair form (observation_pairs) — the
    previous/next observation the oracle recovers with two grid-sized
    windows is ALREADY on the pair row that generates each gap bucket,
    so interpolation is pure per-row arithmetic after the explode; no
    join, no window over grid-sized data. The interpolation arithmetic
    is the same expression tree in both engines (double
    subtraction/division/rounding), so the 6-dp values hash-match.
    """
    pairs = observation_pairs(load(spark, sf_dir, "events"))
    step = F.lit(RESAMPLE_S).cast("long")
    rows = pairs.withColumn(
        "g",
        F.explode(
            F.sequence(
                F.col("bucket"),
                F.coalesce(F.col("nxt_bucket") - step, F.col("bucket")),
                step,
            )
        ),
    )
    is_obs = F.col("g") == F.col("bucket")
    # identical expression tree to the oracle's pv + (nv−pv)·(idx−pi)/
    # (ni−pi): pv/pi come from the generating observation, nv/ni from
    # the next one carried on the same row
    interp = F.col("value") + (F.col("nxt_value") - F.col("value")) * (
        (F.col("g") - F.col("bucket")).cast("double")
        / (F.col("nxt_bucket") - F.col("bucket"))
    )
    value_li = (
        F.when(is_obs, F.col("value"))
        .when(F.col("nxt_bucket").isNull(), F.col("value"))
        .otherwise(interp)
    )
    fill_kind = (
        F.when(is_obs, "obs")
        .when(F.col("nxt_bucket").isNull(), "ffill")
        .otherwise("interp")
    )
    # explicit HALF_UP via floor(x·1e6 + 0.5)/1e6 in BOTH dialects:
    # interpolation fractions (quarters, halves) times 2-decimal values
    # land EXACTLY on the 6-dp rounding boundary, where Spark's and
    # DuckDB's native round() differ in tie-breaking
    return rows.select(
        "user_id",
        F.col("g").alias("bucket"),
        (F.floor(value_li.cast("double") * 1000000 + 0.5) / 1000000).alias(
            "value_li"
        ),
        fill_kind.alias("fill_kind"),
    )


@query(
    "q_ts_rollup",
    oracle="""
    SELECT CAST(CASE WHEN grouping(h) = 0 THEN 'hour'
                WHEN grouping(d) = 0 THEN 'day'
                ELSE 'month' END AS VARCHAR) AS grain,
           CAST(epoch(coalesce(h, d, m)) AS BIGINT) AS bucket,
           event_type,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
    FROM (
      SELECT date_trunc('hour', ts) AS h,
             date_trunc('day', ts) AS d,
             date_trunc('month', ts) AS m,
             event_type, value
      FROM events
    )
    GROUP BY GROUPING SETS ((h, event_type), (d, event_type),
                            (m, event_type))
    """,
)
def q_ts_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HYPERTABLE ROLLUP — the continuous-aggregate hierarchy a
    time-series store maintains (TimescaleDB continuous aggregates,
    Druid granularity rollup): hour, day and month aggregates of the
    event stream computed in ONE pass via GROUPING SETS over the three
    date_trunc grains, instead of three scans.

    Spark expands grouping sets into a single Expand + hash aggregate:
    one scan, one shuffle keyed on (grain, bucket, event_type), partial
    aggregation before the exchange. At 100 TB this is the canonical
    backfill shape; the streaming twin is s_tumbling feeding the hour
    grain with day/month folding hourly partials (documented, same
    arithmetic). DECIMAL sums keep the three grains' values exactly
    consistent (hour rows sum to their day row bit-for-bit)."""
    e = load(spark, sf_dir, "events").select(
        F.date_trunc("hour", "ts").alias("h"),
        F.date_trunc("day", "ts").alias("d"),
        F.date_trunc("month", "ts").alias("m"),
        "event_type",
        "value",
    )
    rolled = e.groupingSets(
        [["h", "event_type"], ["d", "event_type"], ["m", "event_type"]],
        "h",
        "d",
        "m",
        "event_type",
    ).agg(
        # grouping_id bits over (h,d,m,event_type): (h,e)=0b0110,
        # (d,e)=0b1010, (m,e)=0b1100 — 0-bit = column grouped
        F.grouping_id().alias("gid"),
        F.count(F.lit(1)).alias("n"),
        as_double(F.sum(F.col("value").cast("decimal(18,6)"))).alias(
            "sum_value"
        ),
    )
    grain = (
        F.when(F.col("gid") == 6, "hour")
        .when(F.col("gid") == 10, "day")
        .otherwise("month")
    )
    # bucket emitted as epoch-second BIGINT: constructed TIMESTAMP
    # output columns are the driver-red representation class (round 3)
    # and the hour grain is sub-day, so DATE can't carry it.
    return rolled.select(
        grain.alias("grain"),
        F.unix_timestamp(F.coalesce("h", "d", "m")).alias("bucket"),
        "event_type",
        "n",
        "sum_value",
    )


@query(
    "q_scd2_intervals",
    oracle="""
    WITH chg AS (
      SELECT user_id, event_id, ts, value,
             lead(ts) OVER (PARTITION BY user_id
                            ORDER BY ts, event_id) AS next_ts
      FROM events WHERE event_type = 'purchase'
    )
    SELECT user_id, event_id,
           CAST(value AS DOUBLE) AS value,
           ts AS valid_from,
           next_ts AS valid_to,
           CAST(next_ts IS NULL AS INT) AS is_current
    FROM chg
    """,
)
def q_scd2_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD TYPE-2 INTERVAL BUILD — turn a change log into validity
    intervals: each change row becomes (valid_from = its ts,
    valid_to = next change's ts for the same key, NULL = still
    current). The complement of q_merge_upsert: that applies one delta
    batch to a dimension, this reconstructs the full history table a
    point-in-time join consumes.

    One window keyed on the dimension key — single shuffle, and the
    as-of lookup this table serves is q_join_asof's union+window
    rewrite. The (ts, event_id) total-order tiebreak makes the
    intervals deterministic under same-timestamp changes."""
    e = load(spark, sf_dir, "events").where(
        F.col("event_type") == "purchase"
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return e.select(
        "user_id",
        "event_id",
        F.col("value").cast("double").alias("value"),
        F.col("ts").alias("valid_from"),
        F.lead("ts").over(w).alias("valid_to"),
        F.lead("ts").over(w).isNull().cast("int").alias("is_current"),
    )


@query(
    "q_outlier_robust",
    oracle="""
    WITH med AS (
      SELECT event_type,
             median(value) AS med
      FROM events GROUP BY event_type
    ),
    mad AS (
      SELECT e.event_type, any_value(m.med) AS med,
             median(abs(e.value - m.med)) AS mad
      FROM events e JOIN med m USING (event_type)
      GROUP BY e.event_type
    )
    SELECT e.event_id, e.event_type,
           CAST(e.value AS DOUBLE) AS value,
           round((e.value - m.med) / (1.4826 * m.mad), 6) AS robust_z,
           CAST(abs(e.value - m.med) > 3.5 * 1.4826 * m.mad AS INT)
             AS is_outlier
    FROM events e JOIN mad m USING (event_type)
    """,
)
def q_outlier_robust(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROBUST OUTLIER DETECTION — median/MAD z-scores (the
    training-data quality gate that survives heavy tails, unlike
    mean/stddev): robust_z = (x − median) / (1.4826·MAD), flagged
    beyond 3.5. Exact percentile(0.5) in both engines (same linear
    interpolation on the same doubles — NOT percentile_approx, whose
    sketch differs per engine).

    Shape: two grouped exact medians (each one shuffle on event_type —
    at 100 TB swap in approx_percentile + tolerance when sketch error
    is acceptable, documented trade), then the tiny per-type stats
    broadcast back into the scan for the scoring pass. Group
    cardinality (3 event types) makes the medians' per-group sort the
    bounded cost."""
    e = load(spark, sf_dir, "events")
    med = e.groupBy("event_type").agg(
        F.expr("percentile(value, 0.5)").alias("med")
    )
    mad = (
        e.join(F.broadcast(med), "event_type")
        .groupBy("event_type")
        .agg(
            F.any_value("med").alias("med"),
            F.expr("percentile(abs(value - med), 0.5)").alias("mad"),
        )
    )
    return e.join(F.broadcast(mad), "event_type").select(
        "event_id",
        "event_type",
        F.col("value").cast("double").alias("value"),
        F.round(
            (F.col("value") - F.col("med")) / (1.4826 * F.col("mad")), 6
        ).alias("robust_z"),
        (
            F.abs(F.col("value") - F.col("med"))
            > 3.5 * 1.4826 * F.col("mad")
        )
        .cast("int")
        .alias("is_outlier"),
    )


@query(
    "q_winsorize",
    oracle="""
    WITH pct AS (
      SELECT event_type,
             quantile_cont(value, 0.05) AS p05,
             quantile_cont(value, 0.95) AS p95
      FROM events GROUP BY event_type
    )
    SELECT e.event_id, e.event_type,
           CAST(e.value AS DOUBLE) AS value,
           round(least(greatest(e.value, p.p05), p.p95), 6)
             AS value_winsor,
           CAST(e.value < p.p05 OR e.value > p.p95 AS INT) AS clipped
    FROM events e JOIN pct p USING (event_type)
    """,
)
def q_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WINSORIZATION — clip each value into its group's [p5, p95] band:
    the standard heavy-tail tamer for features and reward signals
    (complement of q_outlier_robust, which flags; this repairs). Exact
    linearly-interpolated percentiles in both engines (percentile ≡
    quantile_cont — same formula on the same doubles; NOT the
    approx sketch), per-type bounds broadcast back into the scan.

    Shape: one grouped percentile (per-group sort, bounded by group
    count), tiny stats broadcast, then a pure map — the big side never
    shuffles. At 100 TB swap percentile for approx_percentile and a
    tolerance when sketch error is acceptable."""
    e = load(spark, sf_dir, "events")
    pct = e.groupBy("event_type").agg(
        F.expr("percentile(value, 0.05)").alias("p05"),
        F.expr("percentile(value, 0.95)").alias("p95"),
    )
    return e.join(F.broadcast(pct), "event_type").select(
        "event_id",
        "event_type",
        F.col("value").cast("double").alias("value"),
        F.round(
            F.least(F.greatest("value", F.col("p05")), F.col("p95")), 6
        ).alias("value_winsor"),
        ((F.col("value") < F.col("p05")) | (F.col("value") > F.col("p95")))
        .cast("int")
        .alias("clipped"),
    )


@query(
    "q_ts_moving_median",
    oracle="""
    SELECT event_id, user_id,
           CAST(value AS DOUBLE) AS value,
           round(median(value) OVER (
             PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING), 6)
             AS smooth_med,
           CAST(count(*) OVER (
             PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING) AS INT)
             AS frame_n
    FROM events
    """,
)
def q_ts_moving_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MOVING MEDIAN smoother — the robust alternative to a moving
    average (one spike can't drag it): exact median over a 5-row
    centered frame per user's time order. Exact percentile as a WINDOW
    aggregate in both engines (median ≡ percentile 0.5, same linear
    interpolation over an at-most-5-element frame — order-insensitive
    by definition, so no float-summation risk); frame_n exposes the
    shrunken edge frames.

    One user-keyed shuffle + in-partition sort; the bounded ROWS frame
    keeps per-row state at 5 values regardless of scale."""
    e = load(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-2, 2)
    )
    return e.select(
        "event_id",
        "user_id",
        F.col("value").cast("double").alias("value"),
        F.round(F.expr("percentile(value, 0.5)").over(w), 6).alias(
            "smooth_med"
        ),
        F.count(F.lit(1)).over(w).cast("int").alias("frame_n"),
    )


# EWMA: 8-term truncated exponential weights (1-a)^i, a = 0.25. Each
# power of 0.75 = 3/4 is EXACTLY representable in binary64 (3^7 < 2^53),
# so the literal weight table is bit-identical in both engines.
EWMA_W = [0.75**i for i in range(8)]


def _ewma_oracle() -> str:
    num = " + ".join(
        f"coalesce(lag(value, {i}) OVER w, 0) * {w!r}"
        for i, w in enumerate(EWMA_W)
    )
    den = " + ".join(
        f"(CASE WHEN lag(value, {i}) OVER w IS NOT NULL"
        f" THEN {w!r} ELSE 0 END)"
        for i, w in enumerate(EWMA_W)
    )
    return f"""
    SELECT user_id, event_id, ts, value,
           round(({num}) / ({den}), 6) AS ewma
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """


@query("q_ts_ewma", oracle=_ewma_oracle())
def q_ts_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EWMA (exponentially-weighted moving average) of ``value`` per
    user over the (ts, event_id)-ordered stream — the standard decayed
    feature / trend smoother. True EWMA is a recurrence; this is the
    8-term truncated form: weights (1-a)^i (a = 0.25) over the last 8
    observations, normalized by the weights actually present so the
    head of each series is exact, not zero-padded. The 8th weight is
    0.13; truncation error is bounded by ~13% of a stale observation
    and vanishes as the window fills — the standard production
    trade-off that keeps the operator a fixed-size window expression
    instead of a sequential scan.

    Determinism: each weight is a power of 3/4 — exactly representable
    in binary64 — and the weighted sum is written as the SAME
    left-associated addition chain in both dialects, so the arithmetic
    is bit-identical before the 6-dp round. Shape: ONE user-partitioned
    window, 8 lags evaluated in a single WindowExec pass over the
    in-partition sort — no shuffle beyond the user_id hash, O(1) state
    per row at 100 TB.
    """
    e = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    num = F.lit(0.0)
    den = F.lit(0.0)
    # left-fold in ascending i, mirroring the oracle's chain order
    for i, wt in enumerate(EWMA_W):
        xi = F.lag("value", i).over(w)
        num = num + F.coalesce(xi, F.lit(0.0)) * F.lit(wt)
        den = den + F.when(xi.isNotNull(), F.lit(wt)).otherwise(F.lit(0.0))
    return e.select(
        "user_id",
        "event_id",
        "ts",
        "value",
        F.round(num / den, 6).alias("ewma"),
    )


PATH_LEN = 3
PATH_TOPK = 10


@query(
    "q_session_paths",
    oracle=f"""
    WITH e AS (
      SELECT user_id, event_id, event_type, epoch_us(ts) AS us
      FROM events
    ),
    flagged AS (
      SELECT *,
             CASE WHEN lag(us) OVER w IS NULL
                       OR us - lag(us) OVER w > {{gap}}
                  THEN 1 ELSE 0 END AS is_new
      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)
    ),
    sessions AS (
      SELECT *,
             sum(is_new) OVER (PARTITION BY user_id ORDER BY us, event_id
                               ROWS UNBOUNDED PRECEDING) AS session_id
      FROM flagged
    ),
    ranked AS (
      SELECT user_id, session_id, event_type,
             row_number() OVER (PARTITION BY user_id, session_id
                                ORDER BY us, event_id) AS rn
      FROM sessions
    ),
    paths AS (
      SELECT user_id, session_id,
             string_agg(event_type, '>' ORDER BY rn) AS path
      FROM ranked WHERE rn <= {PATH_LEN}
      GROUP BY user_id, session_id
    ),
    counted AS (
      SELECT path, count(*) AS n_sessions FROM paths GROUP BY path
    )
    SELECT path, CAST(n_sessions AS BIGINT) AS n_sessions,
           CAST(row_number() OVER (ORDER BY n_sessions DESC, path ASC)
                AS BIGINT) AS rank
    FROM counted
    ORDER BY rank LIMIT {PATH_TOPK}
    """.replace("{gap}", str(GAP_US)),
)
def q_session_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JOURNEY MINING: the top-{PATH_TOPK} most common session-opening
    paths — the first {PATH_LEN} event types of each 30-minute-gap
    session joined as 'a>b>c'. The product-analytics staple ("what do
    users do first?") and the batch twin of funnel discovery:
    q_funnel checks ONE hypothesized path, this surfaces the paths
    worth checking.

    Shape: sessionize (one user-keyed shuffle + in-partition sort),
    per-session row_number to keep the first {PATH_LEN} events, an
    ORDERED collect per session (array_sort over (rn, type) structs —
    deterministic, never bare collect_list), then a path-count
    aggregate and a bounded top-k. At 100 TB the per-session state is
    {PATH_LEN} rows and the path-count table is tiny (|event types|^
    {PATH_LEN} ceiling)."""
    s = sessionize(load(spark, sf_dir, "events"))
    w = Window.partitionBy("user_id", "session_id").orderBy(
        "__us", "event_id"
    )
    first_k = (
        s.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= PATH_LEN)
    )
    paths = (
        first_k.groupBy("user_id", "session_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("rn", "event_type"))
                    ),
                    lambda x: x["event_type"],
                ),
                ">",
            ).alias("path")
        )
    )
    counted = paths.groupBy("path").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_sessions")
    )
    # Bounded top-k FIRST (orderBy+limit → TakeOrderedAndProject, a
    # parallel per-partition heap + k-row merge), THEN the rank window
    # over just those k rows — never an unpartitioned window over the
    # full distinct-path table (the q_bm25 shape, llm/text.py).
    top = counted.orderBy(
        F.col("n_sessions").desc(), F.col("path").asc()
    ).limit(PATH_TOPK)
    wr = Window.partitionBy(bounded_window_key("path")).orderBy(
        F.col("n_sessions").desc(), F.col("path").asc()
    )
    return top.withColumn("rank", F.row_number().over(wr).cast("bigint"))


@query(
    "q_ts_seasonal_decompose",
    oracle="""
    WITH daily AS (
      SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS d,
             count(*) AS n
      FROM events GROUP BY 1, 2
    ),
    trend AS (
      SELECT event_type, d, n,
             count(*) OVER w7 AS cnt7,
             sum(n) OVER w7 AS sum7
      FROM daily
      WINDOW w7 AS (PARTITION BY event_type ORDER BY d
                    ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
    ),
    detr AS (
      SELECT event_type, d, n,
             CASE WHEN cnt7 = 7 THEN 7 * n - sum7 END AS detr7,
             CASE WHEN cnt7 = 7 THEN sum7 END AS sum7,
             dayofweek(d) AS dow
      FROM trend
    ),
    seas AS (
      SELECT event_type, dow,
             CAST(sum(detr7) AS DOUBLE) / (7 * count(*)) AS seasonal
      FROM detr WHERE detr7 IS NOT NULL
      GROUP BY 1, 2
    )
    SELECT t.event_type, t.d, CAST(t.n AS BIGINT) AS n,
           round(CAST(t.sum7 AS DOUBLE) / 7, 6) AS trend,
           round(s.seasonal, 6) AS seasonal,
           round(CAST(t.detr7 AS DOUBLE) / 7 - s.seasonal, 6) AS residual
    FROM detr t JOIN seas s
      ON t.event_type = s.event_type AND t.dow = s.dow
    """,
)
def q_ts_seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CLASSICAL SEASONAL DECOMPOSITION (STL-lite, additive): daily
    volume per event type splits into TREND (centered 7-day moving
    average — exact integer sum / 7, only where the window is full),
    SEASONAL (mean detrended value per day-of-week across the whole
    series — the fixed weekly profile), and RESIDUAL (what anomaly
    detection actually scores; cf. q_anomaly_window which thresholds a
    rolling z instead). The additive identity n = trend + seasonal +
    residual holds by construction on every emitted row.

    Determinism discipline: every aggregate stays in INTEGER space —
    the detrended value is carried ×7 (detr7 = 7n − Σ₇n, a BIGINT), so
    the seasonal mean is an integer sum over an integer count and NO
    float accumulation order exists anywhere; doubles appear only in
    final fixed-denominator divisions. (A naive avg(n − trend) would
    sum doubles in engine-dependent order — the cross-engine ulp class
    §5.3 bans.)

    Shape: one day-grain aggregate (the only data-sized shuffle), one
    7-row window over day-grain rows, one 7-key-per-type seasonal
    aggregate broadcast back into the day-grain rows. At 100 TB the
    day-grain table is ~10^3 rows per type regardless of event volume:
    everything after the first aggregate is metadata-sized."""
    e = load(spark, sf_dir, "events")
    daily = (
        e.groupBy(
            "event_type", F.date_trunc("day", "ts").cast("date").alias("d")
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w7 = (
        Window.partitionBy("event_type")
        .orderBy("d")
        .rowsBetween(-3, 3)
    )
    trend = daily.select(
        "event_type",
        "d",
        "n",
        F.count(F.lit(1)).over(w7).alias("cnt7"),
        F.sum("n").over(w7).alias("sum7_raw"),
    )
    full = F.col("cnt7") == 7
    detr = trend.select(
        "event_type",
        "d",
        "n",
        F.when(full, 7 * F.col("n") - F.col("sum7_raw")).alias("detr7"),
        F.when(full, F.col("sum7_raw")).alias("sum7"),
        F.dayofweek("d").alias("dow"),
    )
    seas = (
        detr.where(F.col("detr7").isNotNull())
        .groupBy("event_type", "dow")
        .agg(
            (
                F.sum("detr7").cast("double")
                / (7 * F.count(F.lit(1)))
            ).alias("seasonal")
        )
    )
    return detr.join(F.broadcast(seas), ["event_type", "dow"]).select(
        "event_type",
        "d",
        F.col("n").cast("bigint").alias("n"),
        F.round(F.col("sum7").cast("double") / 7, 6).alias("trend"),
        F.round("seasonal", 6).alias("seasonal"),
        F.round(
            F.col("detr7").cast("double") / 7 - F.col("seasonal"), 6
        ).alias("residual"),
    )


@query(
    "q_rolling_distinct",
    oracle="""
    WITH ud AS (
      SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS d
      FROM events
    ),
    days AS (SELECT DISTINCT d FROM ud)
    SELECT g.d,
           CAST(count(DISTINCT u.user_id) AS BIGINT) AS active_7d
    FROM days g JOIN ud u
      ON u.d BETWEEN g.d - INTERVAL 6 DAY AND g.d
    GROUP BY g.d
    """,
)
def q_rolling_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLING 7-DAY DISTINCT USERS (the WAU curve) — the BI metric SQL
    windows cannot express: COUNT(DISTINCT) OVER a RANGE frame is
    unsupported in every engine's window runtime because distinct state
    can't be incrementally evicted. The engine's rewrite: collapse to
    DISTINCT (user, day) pairs first (the only data-sized shuffle —
    events compress to at most users×days rows), then a banded
    self-join replicates each pair into the ≤7 day-buckets it
    contributes to and a plain COUNT(DISTINCT) per bucket finishes.
    Replication happens on the COLLAPSED grain, so the amplification is
    7×(users×days), independent of raw event volume — and it is an
    EXPLODE into the pair's own ≤7 target buckets followed by an
    equi-(semi-)join against the observed-day list, never a range
    probe: the plan has no nested loop (a banded
    ``d BETWEEN g-6 AND g`` broadcast join was the first draft — it
    plans BroadcastNestedLoopJoin, which the registry-wide sweep
    rightly rejects; the explode form is also what survives when the
    day list stops being broadcastable).

    At 100 TB the same shape holds: day-grain user pairs are ~10^6×
    smaller than the event log; swap the exact distinct for HLL
    sketches (q_agg_hll_sketch) when the pair table itself gets big —
    documented tier, same topology. Cf. q_cumulative_uniques for the
    unbounded (since-launch) variant via first-seen rewrite."""
    e = load(spark, sf_dir, "events")
    ud = e.select(
        "user_id", F.date_trunc("day", "ts").cast("date").alias("d")
    ).distinct()
    days = ud.select("d").distinct().withColumnRenamed("d", "g")
    contributes = ud.select(
        "user_id",
        F.explode(
            F.sequence(F.col("d"), F.date_add(F.col("d"), 6))
        ).alias("g"),
    )
    return (
        contributes.join(F.broadcast(days), "g", "left_semi")
        .groupBy("g")
        .agg(F.countDistinct("user_id").alias("active_7d"))
        .select(F.col("g").alias("d"), "active_7d")
    )


@query(
    "q_scd2_snapshot",
    oracle="""
    WITH chg AS (
      SELECT user_id, event_id, ts, value,
             lead(ts) OVER (PARTITION BY user_id
                            ORDER BY ts, event_id) AS next_ts
      FROM events WHERE event_type = 'purchase'
    )
    SELECT user_id, event_id,
           CAST(value AS DOUBLE) AS value,
           ts AS valid_from
    FROM chg
    WHERE ts <= TIMESTAMP '2024-01-15 00:00:00'
      AND (next_ts IS NULL OR next_ts > TIMESTAMP '2024-01-15 00:00:00')
    """,
)
def q_scd2_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """POINT-IN-TIME SNAPSHOT over the SCD2 history (AS OF a constant
    timestamp): reconstruct the dimension exactly as it stood at T —
    the row whose validity interval [valid_from, valid_to) contains T,
    per key. Completes the slowly-changing-dimension triple: build the
    intervals (q_scd2_intervals), merge new changes (q_merge_upsert),
    and READ any historical version (this) — the poor man's time
    travel when the lake format has none.

    Shape: the same single key-window as the interval build, then a
    per-row filter — no join at all; the snapshot timestamp prunes
    everything after T at the scan (pushed predicate on ts ≤ T). A
    repeated-snapshot workload would materialize the intervals once
    and serve every T from the same table.

    T sits mid-range of the events fixture (Jan 2024) so the snapshot
    is non-empty at every SF: an out-of-range T made both engines
    agree on 0 rows — a vacuously green check that proves nothing
    (150 rows at sf0.01, ~1.5k at sf0.1 with this T)."""
    t = "2024-01-15 00:00:00"
    e = load(spark, sf_dir, "events").where(
        (F.col("event_type") == "purchase") & (F.col("ts") <= t)
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    iv = e.select(
        "user_id",
        "event_id",
        F.col("value").cast("double").alias("value"),
        F.col("ts").alias("valid_from"),
        F.lead("ts").over(w).alias("valid_to"),
    )
    return iv.where(
        F.col("valid_to").isNull() | (F.col("valid_to") > t)
    ).select("user_id", "event_id", "value", "valid_from")


@query(
    "q_cdc_apply",
    oracle="""
    WITH log_ AS (
      SELECT user_id, ts, event_id, value,
             CASE WHEN event_type IN ('purchase', 'signup') THEN 'upsert'
                  WHEN event_type = 'error' THEN 'delete' END AS op
      FROM events
      WHERE event_type IN ('purchase', 'signup', 'error')
    ),
    latest AS (
      SELECT user_id, op, value, ts, event_id,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id DESC) AS rn
      FROM log_
    )
    SELECT user_id, CAST(value AS DOUBLE) AS value, ts AS updated_at
    FROM latest WHERE rn = 1 AND op = 'upsert'
    """,
)
def q_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC LOG REPLAY — materialize the current table state from a
    change-data-capture stream of upserts and DELETES (purchase/signup
    rows upsert the user's value, error rows tombstone it): last
    operation per key wins in strict (ts, event_id) log order, and a
    key whose final operation is a delete is ABSENT from the result —
    the semantics of applying a Debezium/binlog feed to a lake table.
    Complements q_merge_upsert (single-batch MERGE with explicit
    actions) and s_foreachbatch (the streaming upsert sink): this is
    the full-log replay that bootstraps or audits those.

    Shape: one window on the key — rank the log per key, keep rank 1,
    filter tombstones. Spark plans the rank-then-filter as
    WindowGroupLimit (per-partition top-1 before the shuffle), so the
    exchange carries keys, not log volume. At 100 TB the log would be
    partitioned by ingest date and the replay runs per partition with
    a final latest-wins merge — same operator, one more level."""
    e = load(spark, sf_dir, "events")
    log = e.where(
        F.col("event_type").isin("purchase", "signup", "error")
    ).select(
        "user_id",
        "ts",
        "event_id",
        "value",
        F.when(
            F.col("event_type").isin("purchase", "signup"), "upsert"
        )
        .otherwise("delete")
        .alias("op"),
    )
    w = Window.partitionBy("user_id").orderBy(
        F.desc("ts"), F.desc("event_id")
    )
    return (
        log.withColumn("rn", F.row_number().over(w))
        .where((F.col("rn") == 1) & (F.col("op") == "upsert"))
        .select(
            "user_id",
            F.col("value").cast("double").alias("value"),
            F.col("ts").alias("updated_at"),
        )
    )


@query(
    "q_ts_changepoint",
    oracle="""
    WITH x AS (
      SELECT user_id, ts, event_id,
             CAST(floor(value * 1000000 + 0.5) AS BIGINT) AS v
      FROM events
    ),
    c AS (
      SELECT user_id, ts, event_id,
             sum(v) OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND CURRENT ROW) AS cum,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS i,
             sum(v) OVER (PARTITION BY user_id) AS tot,
             count(*) OVER (PARTITION BY user_id) AS n
      FROM x
    ),
    s AS (
      SELECT user_id, ts, event_id, i, n,
             n * cum - i * tot AS ncusum
      FROM c
    ),
    best AS (
      SELECT user_id, ts, event_id, i, n, ncusum,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY abs(ncusum) DESC, ts, event_id)
               AS rn
      FROM s
    )
    SELECT user_id,
           CAST(i AS INT) AS cp_index,
           CAST(n AS BIGINT) AS n,
           ts AS cp_ts,
           event_id AS cp_event_id,
           round(CAST(abs(ncusum) AS DOUBLE) / n / 1000000, 6)
             AS cusum_mag
    FROM best WHERE rn = 1
    """,
)
def q_ts_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM CHANGE-POINT DETECTION per user series — the classic
    offline estimator: the change point is the index maximizing
    |Σ_{j≤i}(x_j − x̄)|, i.e. where the cumulative deviation from the
    series mean peaks. The mean is FRACTIONAL, so the statistic is
    computed SCALED BY n: n·CUSUM_i = n·cumsum_i − i·total — pure
    INT64 on ×10⁶ fixed-point values, so the argmax ordering is exact
    in both engines (no float-comparison risk at the decision point);
    only the reported magnitude divides back to double at the end.
    Emits each user's change-point index/timestamp/event plus the
    normalized peak deviation — what a drift monitor alerts on.

    Scale shape: three frames over ONE user-partitioned sort (running
    sum + per-partition total/count resolve in a single window
    exchange), then a bounded argmax window on the same partitioning —
    two exchanges total, both keyed by user_id; series length never
    materializes anywhere but the window frame."""
    e = load(spark, sf_dir, "events")
    v = F.floor(F.col("value") * 1000000 + F.lit(0.5)).cast("bigint")
    w_ord = Window.partitionBy("user_id").orderBy("ts", "event_id")
    w_run = w_ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    w_all = Window.partitionBy("user_id")
    s = (
        e.select("user_id", "ts", "event_id", v.alias("v"))
        .withColumn("cum", F.sum("v").over(w_run))
        .withColumn("i", F.row_number().over(w_ord))
        .withColumn("tot", F.sum("v").over(w_all))
        .withColumn("n", F.count(F.lit(1)).over(w_all))
        .withColumn(
            "ncusum", F.col("n") * F.col("cum") - F.col("i") * F.col("tot")
        )
    )
    w_best = Window.partitionBy("user_id").orderBy(
        F.abs(F.col("ncusum")).desc(), "ts", "event_id"
    )
    return (
        s.withColumn("rn", F.row_number().over(w_best))
        .where(F.col("rn") == 1)
        .select(
            "user_id",
            F.col("i").cast("int").alias("cp_index"),
            F.col("n").cast("bigint").alias("n"),
            F.col("ts").alias("cp_ts"),
            F.col("event_id").alias("cp_event_id"),
            F.round(
                F.abs(F.col("ncusum")).cast("double")
                / F.col("n")
                / 1000000,
                6,
            ).alias("cusum_mag"),
        )
    )


@query(
    "q_session_native",
    oracle=f"""
    WITH e AS (
      SELECT user_id, event_id, ts, epoch_us(ts) AS us FROM events
    ),
    flagged AS (
      SELECT *,
             CASE WHEN lag(us) OVER w IS NULL
                       OR us - lag(us) OVER w >= {GAP_US}
                  THEN 1 ELSE 0 END AS is_new
      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)
    ),
    sessions AS (
      SELECT *,
             sum(is_new) OVER (PARTITION BY user_id ORDER BY us, event_id
                               ROWS UNBOUNDED PRECEDING) AS session_id
      FROM flagged
    )
    SELECT user_id,
           CAST(session_id AS BIGINT) AS session_id,
           CAST(count(*) AS BIGINT) AS n_events,
           min(ts) AS session_start,
           CAST(max(us) - min(us) AS BIGINT) AS duration_us
    FROM sessions
    GROUP BY user_id, session_id
    """,
)
def q_session_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NATIVE ``session_window`` sessionization — the same 30-minute
    gap sessions as q_sessionize, but computed by Spark's built-in
    session-window aggregate instead of the manual lag/flag/cumsum
    rewrite, H-checked against the manual SQL: the two formulations
    must agree on every session boundary. One semantic pin made
    explicit: the native operator CLOSES a session when the next event
    lands exactly at prev + gap (intervals merge only on strict
    overlap), so the manual oracle uses ``>= gap`` — q_sessionize's
    ``> gap`` convention differs only on microsecond-exact ties, absent
    here but the kind of boundary a migration must know about.
    session_id is the per-user ordinal by start time (row_number over
    non-overlapping windows — total order).

    Scale shape: session_window plans as a single sort-based session
    aggregate partitioned by user_id — the same one-exchange shape as
    the manual form, with the merge logic inside the operator instead
    of three window passes. The streaming twin (s_session) runs the
    SAME operator with watermarked state."""
    e = load(spark, sf_dir, "events")
    agg = (
        e.groupBy(
            F.session_window("ts", "30 minutes").alias("w"), "user_id"
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("ts").alias("session_start"),
            (
                F.max(F.unix_micros("ts")) - F.min(F.unix_micros("ts"))
            ).alias("duration_us"),
        )
    )
    w_num = Window.partitionBy("user_id").orderBy("session_start")
    return agg.select(
        "user_id",
        F.row_number().over(w_num).cast("bigint").alias("session_id"),
        F.col("n_events").cast("bigint").alias("n_events"),
        "session_start",
        F.col("duration_us").cast("bigint").alias("duration_us"),
    )


@query(
    "q_ts_ohlc",
    oracle="""
    SELECT user_id,
           CAST(floor(epoch(ts) / 3600) AS BIGINT) * 3600 AS bucket,
           CAST(count(*) AS BIGINT) AS n,
           CAST(first(value ORDER BY ts, event_id) AS DOUBLE) AS open,
           CAST(max(value) AS DOUBLE) AS high,
           CAST(min(value) AS DOUBLE) AS low,
           CAST(last(value ORDER BY ts, event_id) AS DOUBLE) AS close
    FROM events
    GROUP BY user_id, CAST(floor(epoch(ts) / 3600) AS BIGINT) * 3600
    """,
)
def q_ts_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OHLC DOWNSAMPLING — the open/high/low/close bucket summary that
    charting and financial pipelines reduce tick streams with: per
    (user, 1-hour epoch bucket), first value (open), extremes
    (high/low) and last value (close), with the deterministic
    (ts, event_id) tiebreak on first/last. Unlike LOCF resampling
    (q_ts_resample), OHLC keeps intra-bucket dynamics — the standard
    lossy-but-shape-preserving reduction before plotting or coarse
    modeling. Values are PICKED (min_by/max_by) or exact extremes —
    never summed — so there is no float-order risk anywhere.

    Scale shape: ONE hash-aggregate on (user, bucket); min_by/max_by
    carry their struct key through the map-side combine, so the
    shuffle moves one row per (user, bucket) per partition. Buckets
    emit as epoch-second BIGINT (the driver-hashable representation —
    constructed TIMESTAMP outputs are the one class that cannot be
    cross-engine hashed)."""
    e = load(spark, sf_dir, "events")
    key = F.struct("ts", "event_id")
    bucket = (
        F.floor(F.col("ts").cast("long") / 3600).cast("bigint") * 3600
    )
    return (
        e.groupBy("user_id", bucket.alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.expr("min_by(value, struct(ts, event_id))").alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.expr("max_by(value, struct(ts, event_id))").alias("close"),
        )
        .select(
            "user_id",
            "bucket",
            F.col("n").cast("bigint").alias("n"),
            F.col("open").cast("double").alias("open"),
            F.col("high").cast("double").alias("high"),
            F.col("low").cast("double").alias("low"),
            F.col("close").cast("double").alias("close"),
        )
    )


@query(
    "q_ts_gap_stats",
    oracle="""
    WITH g AS (
      SELECT user_id,
             epoch_us(ts) - lag(epoch_us(ts)) OVER (
                PARTITION BY user_id ORDER BY ts, event_id
             ) AS gap_us
      FROM events
    )
    SELECT user_id,
           CAST(count(*) + 1 AS BIGINT) AS n_events,
           CAST(count(*) AS BIGINT) AS n_gaps,
           round(CAST(sum(gap_us) AS DOUBLE) / count(*) / 1000000, 6)
             AS mean_gap_s,
           CAST(max(gap_us) // 1000000 AS BIGINT) AS max_gap_s,
           CAST(count(*) FILTER (gap_us > 1800000000) AS BIGINT)
             AS n_session_breaks
    FROM g WHERE gap_us IS NOT NULL
    GROUP BY user_id
    HAVING count(*) > 0
    """,
)
def q_ts_gap_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTER-ARRIVAL PROFILING — per user: event count, mean and max
    gap between consecutive events (exact integer seconds from the
    microsecond timestamps), and the count of >30 min breaks (session
    boundaries by the q_sessionize gap rule). This is the distribution
    the sessionization timeout is TUNED from — you pick the 30 min gap
    by looking at exactly this table, so it belongs in the engine next
    to the sessionizers it calibrates.

    Shape: one lag window per user partition (hash-partitioned — the
    same single-shuffle skeleton as q_sessionize) and a per-user
    rollup riding the same partitioning; gaps are integer microsecond
    differences divided down, so every emitted stat is exact."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros("ts")
    # gaps stay integer MICROSECONDS until the last step: a double
    # seconds column would hit the cast-rounding split (DuckDB's
    # double->BIGINT cast rounds, Spark's truncates — measured a
    # 1-second off-by-one on max_gap_s); integer DIV floors in both
    g = (
        load(spark, sf_dir, "events")
        .select(
            "user_id",
            (us - F.lag(us).over(w)).alias("gap_us"),
        )
        .where(F.col("gap_us").isNotNull())
    )
    return g.groupBy("user_id").agg(
        (F.count(F.lit(1)) + 1).cast("bigint").alias("n_events"),
        F.count(F.lit(1)).cast("bigint").alias("n_gaps"),
        F.round(
            F.sum("gap_us").cast("double") / F.count(F.lit(1)) / 1000000,
            6,
        ).alias("mean_gap_s"),
        F.expr("CAST(max(gap_us) DIV 1000000 AS BIGINT)").alias(
            "max_gap_s"
        ),
        F.sum((F.col("gap_us") > 1800000000).cast("int"))
        .cast("bigint")
        .alias("n_session_breaks"),
    )
