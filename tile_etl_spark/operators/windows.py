"""Window-function operators (SURVEY §2B 'Window functions').

Every window ORDER BY is made total with the table's unique key
(SURVEY §5.3) so rank/lag/frame results are deterministic across
engines and across partitionings. Physical shape: one shuffle on the
partition key + in-partition sort — the same cost model at any scale,
provided partition keys aren't pathologically skewed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from tile_etl_spark import cache
from tile_etl_spark.io import as_double, dec, load
from tile_etl_spark.registry import query


def pid_hist_window():
    """Window spec for cumulating over a ``pid`` HISTOGRAM (one row
    per shuffle partition, ≤ defaultParallelism rows) — the offset
    table of every two-pass global rank/sum in the engine. The frame
    is deliberately a single partition (it's tiny by construction),
    but an empty partitionSpec makes WindowExec log 'No Partition
    Defined … serious performance degradation' on every run — a false
    scale alarm in bench/driver tails. ``pmod(pid, 1)`` is constant 0
    yet NOT foldable (pid is an attribute), so Catalyst keeps it as a
    partition key: identical single-partition physical shape, no
    warning. (A plain ``lit(0)`` is constant-folded out of the spec
    and the warning stays.)"""
    return Window.partitionBy(F.pmod(F.col("pid"), F.lit(1))).orderBy("pid")


def bounded_window_key(col_name: str):
    """Constant-0 partition key for window specs whose input is BOUNDED
    by construction (post-top-k rank windows, calendar-grain day
    series, locally-pruned frontier survivors). A deliberately empty
    partitionSpec is semantically fine there, but WindowExec logs
    'No Partition Defined … serious performance degradation' on every
    run — a false scale alarm that pollutes bench/driver tails.
    ``pmod(xxhash64(attr), 1)`` is 0 for every row yet NOT foldable
    (it hangs off a real attribute), so Catalyst keeps the partition
    key and the warning disappears; the physical shape is unchanged
    (still one partition — exactly right for bounded input). Same
    trick as pid_hist_window; any column of the frame works."""
    return F.pmod(F.xxhash64(F.col(col_name)), F.lit(1))


def global_rank(df: DataFrame, order: list) -> DataFrame:
    """Attach a global ``rn`` (1-based row number) and total ``n`` over
    a total ORDER without a single-reducer sort — the reusable form of
    q_win_ntile's two-pass pattern: range-repartition on the sort key
    (partition i's keys all precede partition i+1's), rank each
    partition locally in parallel, then lift local ranks to global
    ones with a broadcast per-partition-count offset table. The only
    unpartitioned window runs over the ≤ n_parts histogram rows, never
    the data. The range-partitioned block is persisted under the
    CALLER's cache scope (set yours with ``cache.scope`` first) so the
    histogram pass and the rank pass see the SAME sampled boundaries —
    the range sampler is not guaranteed stable across evaluations.
    ``order`` must be a TOTAL order (unique tiebreak) for deterministic
    ranks. The input schema must be disjoint from the working/output
    names ({pid, rn, n, __lrn, __off}) — withColumn would silently
    replace a caller's column of the same name."""
    reserved = {"pid", "rn", "n", "__lrn", "__off"}
    clash = reserved.intersection(df.columns)
    if clash:
        raise ValueError(
            "global_rank: input columns collide with its working/output "
            f"names {sorted(clash)}; rename them before calling"
        )
    spark = df.sparkSession
    n_parts = spark.sparkContext.defaultParallelism
    part = cache.persist_scoped(
        df.repartitionByRange(n_parts, *order).withColumn(
            "pid", F.spark_partition_id()
        )
    )
    hist = part.groupBy("pid").agg(F.count(F.lit(1)).alias("cnt"))
    w_off = pid_hist_window().rowsBetween(
        Window.unboundedPreceding, Window.currentRow - 1
    )
    w_all = pid_hist_window().rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    offsets = hist.select(
        "pid",
        F.coalesce(F.sum("cnt").over(w_off), F.lit(0)).alias("__off"),
        F.sum("cnt").over(w_all).alias("n"),
    )
    w_local = Window.partitionBy("pid").orderBy(*order)
    return (
        part.withColumn("__lrn", F.row_number().over(w_local))
        .join(F.broadcast(offsets), "pid")
        .withColumn("rn", F.col("__off") + F.col("__lrn"))
        .drop("pid", "__lrn", "__off")
    )


def ntile_from_rank(rn, n, buckets: int):
    """``ntile(buckets)`` as pure arithmetic on a global row number
    ``rn`` and total count ``n`` (both columns from ``global_rank``):
    the first n%b buckets get ⌈n/b⌉ rows, the rest ⌊n/b⌋ — SQL ntile
    semantics exactly, with no window at all."""
    b = F.lit(buckets)
    base, rem = F.floor(n / b), n % b
    big = rem * (base + 1)
    return F.when(rn <= big, F.floor((rn - 1) / (base + 1)) + 1).otherwise(
        rem + F.floor((rn - big - 1) / F.greatest(base, F.lit(1))) + 1
    )


@query(
    "q_win_rank",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice,
           CAST(row_number() OVER w AS BIGINT) AS rn,
           CAST(rank() OVER w AS BIGINT) AS rnk,
           CAST(dense_rank() OVER w AS BIGINT) AS drnk
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey
                 ORDER BY o_totalprice DESC, o_orderkey ASC)
    """,
)
def q_win_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking family per customer by totalprice (o_orderkey tiebreak →
    total order → deterministic)."""
    o = load(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    return o.select(
        "o_orderkey",
        "o_custkey",
        "o_totalprice",
        F.row_number().over(w).cast("bigint").alias("rn"),
        F.rank().over(w).cast("bigint").alias("rnk"),
        F.dense_rank().over(w).cast("bigint").alias("drnk"),
    )


@query(
    "q_win_running",
    oracle="""
    SELECT o_orderkey, o_custkey, o_orderdate,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
                OVER (PARTITION BY o_custkey
                      ORDER BY o_orderdate ASC, o_orderkey ASC
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS DOUBLE) AS running_spend
    FROM orders
    """,
)
def q_win_running(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running sum per customer over order history. The sum runs in
    exact decimals — a running double sum would drift between engines
    at every prefix."""
    o = load(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(F.col("o_orderdate").asc(), F.col("o_orderkey").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return o.select(
        "o_orderkey",
        "o_custkey",
        "o_orderdate",
        as_double(F.sum(dec("o_totalprice")).over(w)).alias("running_spend"),
    )


@query(
    "q_win_leadlag",
    oracle="""
    SELECT event_id, user_id, ts, round(value, 6) AS value,
           round(lag(value) OVER w, 6) AS prev_value,
           round(lead(value) OVER w, 6) AS next_value,
           round(value - lag(value) OVER w, 6) AS delta
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
    """,
)
def q_win_leadlag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag/lead per user ordered by (ts, event_id). Values are carried
    (not re-aggregated), so only output rounding is needed."""
    e = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    return e.select(
        "event_id",
        "user_id",
        "ts",
        F.round("value", 6).alias("value"),
        F.round(F.lag("value").over(w), 6).alias("prev_value"),
        F.round(F.lead("value").over(w), 6).alias("next_value"),
        F.round(F.col("value") - F.lag("value").over(w), 6).alias("delta"),
    )


@query(
    "q_win_ntile",
    oracle="""
    SELECT o_orderkey,
           CAST(ntile(4) OVER w AS BIGINT) AS quartile,
           round(percent_rank() OVER w, 6) AS pct_rank,
           round(cume_dist() OVER w, 6) AS cume
    FROM orders
    WINDOW w AS (ORDER BY o_totalprice ASC, o_orderkey ASC)
    """,
)
def q_win_ntile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution functions over one global total order, WITHOUT the
    single-reducer global sort an unpartitioned window implies.

    Two-pass global rank: (1) ``repartitionByRange`` on the sort key —
    partition i holds keys ≤ partition i+1's, each sorted locally in
    parallel; (2) the per-partition row counts (a tiny N-row histogram)
    turn local row_numbers into global ones via broadcast offsets. The
    only unpartitioned window runs over the N-row histogram, never the
    data. Since the sort key is total (o_orderkey tiebreak), the window
    distribution functions are pure arithmetic on the global row number
    rn and the total count n:

      percent_rank = (rn-1)/(n-1)            (0 when n=1)
      cume_dist    = rn/n                    (keys unique ⇒ no ties)
      ntile(4)     = first n%4 buckets get ⌈n/4⌉ rows, the rest ⌊n/4⌋

    The range-partitioned block is cached so the histogram pass and the
    rank pass see the SAME partition boundaries (the range sampler is
    not guaranteed stable across separate evaluations)."""
    cache.scope(f"q_win_ntile:{sf_dir}")
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    n_parts = spark.sparkContext.defaultParallelism
    part = cache.persist_scoped(
        o.repartitionByRange(
            n_parts, F.col("o_totalprice").asc(), F.col("o_orderkey").asc()
        ).withColumn("pid", F.spark_partition_id())
    )
    hist = part.groupBy("pid").agg(F.count(F.lit(1)).alias("cnt"))
    w_hist = pid_hist_window().rowsBetween(
        Window.unboundedPreceding, Window.currentRow - 1
    )
    offsets = hist.select(
        "pid",
        F.coalesce(F.sum("cnt").over(w_hist), F.lit(0)).alias("off"),
        F.sum("cnt")
        .over(
            pid_hist_window().rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        )
        .alias("n"),
    )
    w_local = Window.partitionBy("pid").orderBy(
        F.col("o_totalprice").asc(), F.col("o_orderkey").asc()
    )
    ranked = part.withColumn("lrn", F.row_number().over(w_local)).join(
        F.broadcast(offsets), "pid"
    )
    rn = F.col("off") + F.col("lrn")
    n = F.col("n")
    base, rem = F.floor(n / 4), n % F.lit(4)
    big = rem * (base + 1)  # rows covered by the (base+1)-sized buckets
    quartile = F.when(
        rn <= big, F.floor((rn - 1) / (base + 1)) + 1
    ).otherwise(rem + F.floor((rn - big - 1) / F.greatest(base, F.lit(1))) + 1)
    return ranked.select(
        "o_orderkey",
        quartile.cast("bigint").alias("quartile"),
        F.round(
            F.when(n == 1, F.lit(0.0)).otherwise(
                (rn - 1).cast("double") / (n - 1)
            ),
            6,
        ).alias("pct_rank"),
        F.round(rn.cast("double") / n, 6).alias("cume"),
    )


@query(
    "q_win_value",
    oracle="""
    SELECT o_orderkey, o_custkey,
           first_value(o_orderkey) OVER w AS biggest_order,
           last_value(o_orderkey)
             OVER (PARTITION BY o_custkey
                   ORDER BY o_totalprice DESC, o_orderkey ASC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
             AS smallest_order,
           nth_value(o_orderkey, 2) OVER w AS second_order
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey
                 ORDER BY o_totalprice DESC, o_orderkey ASC)
    """,
)
def q_win_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Value window family: first/last/nth over a total per-customer
    order. last_value gets the full frame explicitly — its default
    frame (up to CURRENT ROW) is the classic silent-wrong-answer."""
    o = load(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    wfull = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return o.select(
        "o_orderkey",
        "o_custkey",
        F.first("o_orderkey").over(w).alias("biggest_order"),
        F.last("o_orderkey").over(wfull).alias("smallest_order"),
        F.nth_value("o_orderkey", 2).over(w).alias("second_order"),
    )


RANGE_US = 10 * 60 * 1_000_000  # ±10 minutes in microseconds


@query(
    "q_win_range",
    oracle=f"""
    SELECT event_id, user_id, ts,
           CAST(sum(CAST(value AS DECIMAL(18,6)))
                OVER (PARTITION BY user_id ORDER BY epoch_us(ts)
                      RANGE BETWEEN {RANGE_US} PRECEDING AND {RANGE_US} FOLLOWING)
                AS DOUBLE)
             / CAST(count(*) OVER (PARTITION BY user_id ORDER BY epoch_us(ts)
                      RANGE BETWEEN {RANGE_US} PRECEDING AND {RANGE_US} FOLLOWING)
                    AS BIGINT) AS avg_value_10m
    FROM events
    """,
)
def q_win_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE frame over physical time: per-user mean of `value` within
    ±10 minutes, keyed on microsecond epoch (identical integer domain
    both engines; decimal sum / count division for bit equality)."""
    e = load(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros("ts"))
        .rangeBetween(-RANGE_US, RANGE_US)
    )
    total = F.sum(F.col("value").cast("decimal(18,6)")).over(w)
    n = F.count(F.lit(1)).over(w)
    return e.select(
        "event_id",
        "user_id",
        "ts",
        (as_double(total) / n).alias("avg_value_10m"),
    )


@query(
    "q_win_islands",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type, ts, event_id,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS rn,
             row_number() OVER (PARTITION BY user_id, event_type
                                ORDER BY ts, event_id) AS rn_t
      FROM events
    )
    SELECT user_id, event_type,
           CAST(rn - rn_t AS BIGINT) AS island_key,
           CAST(count(*) AS BIGINT) AS run_len,
           min(ts) AS run_start,
           max(ts) AS run_end
    FROM seq
    GROUP BY user_id, event_type, rn - rn_t
    """,
)
def q_win_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GAPS-AND-ISLANDS: maximal runs of consecutive same-type events
    per user, via the classic two-row_number difference — rn (global
    per user) minus rn_t (per user+type) is constant exactly within a
    run, so one groupBy over the difference key recovers every island
    with its length and time span. The streak/run primitive behind
    session quality, bot detection and repetition features.

    Both windows share the user_id partition (one shuffle, two sorts
    over the same partition); the aggregate is map-side combined. The
    (ts, event_id) total order makes runs deterministic under equal
    timestamps."""
    e = load(spark, sf_dir, "events")
    order = [F.col("ts").asc(), F.col("event_id").asc()]
    w_u = Window.partitionBy("user_id").orderBy(*order)
    w_ut = Window.partitionBy("user_id", "event_type").orderBy(*order)
    seq = e.select(
        "user_id",
        "event_type",
        "ts",
        "event_id",
        (F.row_number().over(w_u) - F.row_number().over(w_ut)).alias(
            "island_key"
        ),
    )
    return seq.groupBy("user_id", "event_type", "island_key").agg(
        F.count(F.lit(1)).alias("run_len"),
        F.min("ts").alias("run_start"),
        F.max("ts").alias("run_end"),
    )


@query(
    "q_win_share",
    oracle="""
    SELECT o_orderkey, o_custkey,
           CAST(o_totalprice AS DOUBLE) AS o_totalprice,
           round(CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE)
                 / CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
                        OVER (PARTITION BY o_custkey) AS DOUBLE), 6)
             AS share_of_customer,
           round(CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE)
                 / CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
                        OVER () AS DOUBLE), 6) AS share_of_total
    FROM orders
    """,
)
def q_win_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SHARE-OF-TOTAL windows — each order's fraction of its customer's
    spend and of global spend, the BI percent-of-total idiom. DECIMAL
    window sums keep both denominators exact (order-insensitive), so
    the shares hash-match.

    The global denominator is NOT an unpartitioned window over the
    data (single-reducer trap): it's a 1-row exact aggregate broadcast
    back — same result as ``sum() OVER ()``, scale-safe shape. The
    per-customer window is an ordinary partitioned frame."""
    o = load(spark, sf_dir, "orders")
    w_cust = Window.partitionBy("o_custkey")
    total = o.agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("g")
    )
    price_d = F.col("o_totalprice").cast("decimal(18,2)").cast("double")
    return (
        o.crossJoin(F.broadcast(total))
        .select(
            "o_orderkey",
            "o_custkey",
            F.col("o_totalprice").cast("double").alias("o_totalprice"),
            F.round(
                price_d
                / F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
                .over(w_cust)
                .cast("double"),
                6,
            ).alias("share_of_customer"),
            F.round(price_d / F.col("g").cast("double"), 6).alias(
                "share_of_total"
            ),
        )
    )


@query(
    "q_win_regression",
    oracle="""
    WITH x AS (
      SELECT user_id, ts, event_id,
             CAST(floor(epoch(ts)) AS BIGINT)
               - min(CAST(floor(epoch(ts)) AS BIGINT))
                   OVER (PARTITION BY user_id) AS xs,
             CAST(floor(value * 1000000 + 0.5) AS BIGINT) AS y
      FROM events
    ),
    s AS (
      SELECT user_id, ts, event_id,
             count(*) OVER w AS n,
             sum(xs) OVER w AS sx,
             sum(y) OVER w AS sy,
             sum(xs * y) OVER w AS sxy,
             sum(xs * xs) OVER w AS sxx
      FROM x
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
    )
    SELECT user_id, ts, event_id, CAST(n AS INT) AS n,
           floor(CASE WHEN n * sxx - sx * sx = 0 THEN NULL
                 ELSE CAST(n * sxy - sx * sy AS DOUBLE)
                      / (n * sxx - sx * sx) / 1000000 END
                 * 1000000 + 0.5) / 1000000 AS slope
    FROM s WHERE n = 5
    """,
)
def q_win_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLING OLS TREND — the trailing-window regression slope
    (value units per second over the last 5 events of each user), the
    feature-engineering primitive behind drift features, momentum
    signals and degradation alerts. Every sufficient statistic (n, Σx,
    Σy, Σxy, Σx²) is an INT64 window sum — x is epoch seconds
    re-based to the user's first event (shift-invariant slope, keeps
    n·Σxy far from overflow), y is ×10⁶ fixed-point — so the closed
    form (nΣxy − ΣxΣy)/(nΣx² − (Σx)²) has exact integer numerator and
    denominator; one double division at the end, identical in both
    engines, reported through the explicit floor(x·10⁶+0.5)/10⁶ HALF_UP
    (native round() tie-breaks differ at exact 6-dp boundaries). Degenerate frames (all 5 events at one timestamp) emit
    NULL slope rather than ±inf.

    Scale shape: one user-partitioned sort serves ALL five frame
    aggregates plus the per-user min (same window exchange); output
    restricted to full frames (n=5). This is the reversed-running-
    aggregate-safe direction (trailing frame, O(rows))."""
    e = load(spark, sf_dir, "events")
    w_all = Window.partitionBy("user_id")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-4, Window.currentRow)
    )
    xs = (
        F.col("ts").cast("long")
        - F.min(F.col("ts").cast("long")).over(w_all)
    )
    y = F.floor(F.col("value") * 1000000 + F.lit(0.5)).cast("bigint")
    s = (
        e.select("user_id", "ts", "event_id", xs.alias("xs"), y.alias("y"))
        .withColumn("n", F.count(F.lit(1)).over(w))
        .withColumn("sx", F.sum("xs").over(w))
        .withColumn("sy", F.sum("y").over(w))
        .withColumn("sxy", F.sum(F.col("xs") * F.col("y")).over(w))
        .withColumn("sxx", F.sum(F.col("xs") * F.col("xs")).over(w))
        .where(F.col("n") == 5)
    )
    den = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    return s.select(
        "user_id",
        "ts",
        "event_id",
        F.col("n").cast("int").alias("n"),
        (
            F.floor(
                F.when(den == 0, None).otherwise(
                    num.cast("double") / den / 1000000
                )
                * 1000000
                + F.lit(0.5)
            )
            / 1000000
        ).alias("slope"),
    )
