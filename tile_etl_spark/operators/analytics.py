"""Warehouse analytics primitives: Bloom-filter semi-join reduction
and histogram construction (equi-width / equi-depth).

These pin three patterns a 100 TB warehouse leans on constantly:

- **q_join_bloom** — the runtime-filter pattern (Spark's own
  InjectRuntimeFilter, Iceberg/Delta's bloom pruning): reduce a big
  probe side by a compact bitmap of the small side's join keys BEFORE
  any shuffle or join, then run the exact join on the survivors. At
  100 TB the bloom filter kills ~all non-matching rows at the scan, so
  the semi-join shuffles only matches. Built by hand here (SQL-level
  ``xxhash64`` + bitwise aggregation) so the engine controls the bits
  instead of relying on a non-deterministic optimizer injection.
- **q_hist_equiwidth** — fixed-width value histogram. All bucket math
  is INTEGER (prices are exact cents after the DECIMAL(18,2) cast), so
  the Spark and DuckDB bucket assignments are identical by
  construction — no float-boundary risk.
- **q_hist_equidepth** — quantile (equal-count) histogram via a global
  ntile over a total order, using the same two-pass
  range-partition + broadcast-offsets rewrite as q_win_ntile
  (operators/windows.py) so no single reducer ever sorts the data.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from tile_etl_spark import cache
from tile_etl_spark.io import as_double, dec, load
from tile_etl_spark.operators.windows import (
    bounded_window_key,
    global_rank,
    ntile_from_rank,
    pid_hist_window,
)
from tile_etl_spark.registry import query

# Bloom geometry: m = 8192 bits (128 int64 words), k = 3 hash probes.
# For the ~40 part keys of one p_size at sf0.01 the false-positive rate
# is ~(1-exp(-3*40/8192))^3 ≈ 3e-6; at real scale m grows with the
# build-side key count (m ≈ 10 bits/key keeps FP < 1%), and the bitmap
# stays a broadcast-sized array of longs either way.
_BLOOM_BITS = 8192
_BLOOM_WORDS = _BLOOM_BITS // 64
_BLOOM_K = 3


def _bloom_pos(key_sql: str, i: int) -> str:
    """SQL for the i-th bloom bit position of ``key_sql`` (0..m-1).
    Identical expression text on build and probe side, so the bits
    agree by construction."""
    return f"pmod(xxhash64({key_sql}, {i}), {_BLOOM_BITS})"


def bloom_build(keys: DataFrame, key: str) -> list[int]:
    """Aggregate the m-bit bloom bitmap of ``keys[key]`` distributed:
    explode each key into its k (word, mask) pairs, ``bit_or`` per word
    (map-side combined — one shuffle of ≤ k·distinct-keys tiny rows),
    and collect the ≤ m/64 non-empty words. The collect is the
    broadcast-build step — O(bitmap), independent of build-side row
    count, exactly like Spark's own BroadcastExchange of a runtime
    filter."""
    pos_arr = ", ".join(_bloom_pos(key, i) for i in range(_BLOOM_K))
    words = (
        keys.select(F.expr(f"explode(array({pos_arr}))").alias("pos"))
        .select(
            F.expr("pos div 64").alias("word"),
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(pos % 64 AS INT))").alias(
                "mask"
            ),
        )
        .groupBy("word")
        .agg(F.expr("bit_or(mask)").alias("bits"))
        .collect()
    )
    bitmap = [0] * _BLOOM_WORDS
    for r in words:
        bitmap[r["word"]] = r["bits"]
    return bitmap


def bloom_might_contain(bitmap: list[int], key_sql: str) -> F.Column:
    """Membership predicate: all k bits set. Pure JVM bitwise ops inside
    whole-stage codegen — the probe side never leaves the scan stage."""
    arr = F.array(*[F.lit(w) for w in bitmap])
    cond = F.lit(True)
    for i in range(_BLOOM_K):
        pos = F.expr(_bloom_pos(key_sql, i))
        word = F.element_at(arr, (pos / 64).cast("int") + 1)
        mask = F.expr(
            f"shiftleft(CAST(1 AS BIGINT), CAST({_bloom_pos(key_sql, i)} % 64 AS INT))"
        )
        cond = cond & (word.bitwiseAND(mask) != 0)
    return cond


@query(
    "q_join_bloom",
    oracle="""
    SELECT l_partkey,
           CAST(count(*) AS BIGINT) AS n_lines,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                    * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)
             AS revenue
    FROM lineitem
    WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_size = 15)
    GROUP BY l_partkey
    """,
)
def q_join_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter semi-join reduction: lineitem rows for parts of one
    size. The small side's keys become an 8192-bit bitmap (distributed
    bit_or build); the probe side is pre-filtered by the bitmap INSIDE
    its scan stage, and only the survivors (matches + ~3e-6 false
    positives) reach the exact broadcast semi-join that removes FPs.
    Result is exactly the plain semi-join — the oracle IS the plain
    semi-join — but the probe-side shuffle volume at 100 TB is the
    match set, not the table.
    """
    part = load(spark, sf_dir, "part")
    li = load(spark, sf_dir, "lineitem")
    keys = part.where(F.col("p_size") == 15).select(
        F.col("p_partkey").alias("k")
    )
    bitmap = bloom_build(keys, "k")
    survivors = li.where(bloom_might_contain(bitmap, "l_partkey"))
    exact = survivors.join(
        F.broadcast(keys), survivors["l_partkey"] == keys["k"], "left_semi"
    )
    return exact.groupBy("l_partkey").agg(
        F.count(F.lit(1)).alias("n_lines"),
        as_double(
            F.sum(dec("l_extendedprice") * (1 - dec("l_discount")))
        ).alias("revenue"),
    )


_EW_BUCKETS = 20

# Bucket math in exact integer cents: price is 2-decimal, so
# cents = CAST(price AS DECIMAL(18,2)) * 100 is an exact integer and
# bucket = ((cents - min) * B) div (max - min + 1) is pure int64
# arithmetic — Spark and DuckDB agree bit-for-bit, and the max value
# lands in bucket B-1 without a clamp.
_EW_CENTS = "CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)"


@query(
    "q_hist_equiwidth",
    oracle=f"""
    WITH c AS (SELECT {_EW_CENTS} AS cents FROM lineitem),
    b AS (SELECT min(cents) AS lo, max(cents) - min(cents) + 1 AS span
          FROM c)
    SELECT CAST((cents - lo) * {_EW_BUCKETS} // span AS INT) AS bucket,
           CAST(count(*) AS BIGINT) AS n,
           CAST(CAST(min(cents) AS DECIMAL(18,2)) / 100 AS DOUBLE) AS lo_price,
           CAST(CAST(max(cents) AS DECIMAL(18,2)) / 100 AS DOUBLE) AS hi_price
    FROM c, b GROUP BY 1
    """,
)
def q_hist_equiwidth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width histogram of lineitem price in 20 buckets. The global
    [min, max] comes from a 1-row aggregate broadcast into the scan
    (same pattern as tf-idf's corpus-size N) — two passes over the
    data, zero driver-side math, map-side-combined count per bucket.
    """
    li = load(spark, sf_dir, "lineitem")
    c = li.select(F.expr(_EW_CENTS).alias("cents"))
    bounds = c.agg(
        F.min("cents").alias("lo"),
        (F.max("cents") - F.min("cents") + 1).alias("span"),
    )
    bucket = F.expr(f"(cents - lo) * {_EW_BUCKETS} div span").cast("int")
    return (
        c.crossJoin(F.broadcast(bounds))
        .groupBy(bucket.alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            as_double(F.min("cents").cast("decimal(18,2)") / 100).alias(
                "lo_price"
            ),
            as_double(F.max("cents").cast("decimal(18,2)") / 100).alias(
                "hi_price"
            ),
        )
    )


_ED_BUCKETS = 8


@query(
    "q_hist_equidepth",
    oracle=f"""
    WITH c AS (
      SELECT {_EW_CENTS} AS cents, l_orderkey, l_linenumber FROM lineitem
    ),
    t AS (
      SELECT cents,
             ntile({_ED_BUCKETS}) OVER (
               ORDER BY cents ASC, l_orderkey ASC, l_linenumber ASC
             ) AS bucket
      FROM c
    )
    SELECT CAST(bucket AS BIGINT) AS bucket,
           CAST(count(*) AS BIGINT) AS n,
           CAST(CAST(min(cents) AS DECIMAL(18,2)) / 100 AS DOUBLE) AS lo_price,
           CAST(CAST(max(cents) AS DECIMAL(18,2)) / 100 AS DOUBLE) AS hi_price
    FROM t GROUP BY bucket
    """,
)
def q_hist_equidepth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth (quantile) histogram: 8 equal-count buckets over the
    total order (cents, orderkey, linenumber). Global ntile WITHOUT a
    global sort: range-repartition on the sort key, per-partition local
    row_number, broadcast per-partition offsets (the q_win_ntile
    rewrite — the only unpartitioned window runs over the ≤ n_parts
    histogram rows), then ntile becomes arithmetic on the global row
    number and the per-bucket aggregate is an ordinary groupBy.
    """
    cache.scope(f"q_hist_equidepth:{sf_dir}")
    c = load(spark, sf_dir, "lineitem").select(
        F.expr(_EW_CENTS).alias("cents"), "l_orderkey", "l_linenumber"
    )
    order = [
        F.col("cents").asc(),
        F.col("l_orderkey").asc(),
        F.col("l_linenumber").asc(),
    ]
    n_parts = spark.sparkContext.defaultParallelism
    part = cache.persist_scoped(
        c.repartitionByRange(n_parts, *order).withColumn(
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
        F.coalesce(F.sum("cnt").over(w_off), F.lit(0)).alias("off"),
        F.sum("cnt").over(w_all).alias("n"),
    )
    w_local = Window.partitionBy("pid").orderBy(*order)
    ranked = part.withColumn("lrn", F.row_number().over(w_local)).join(
        F.broadcast(offsets), "pid"
    )
    rn, n = F.col("off") + F.col("lrn"), F.col("n")
    b = F.lit(_ED_BUCKETS)
    base, rem = F.floor(n / b), n % b
    big = rem * (base + 1)
    bucket = F.when(rn <= big, F.floor((rn - 1) / (base + 1)) + 1).otherwise(
        rem + F.floor((rn - big - 1) / F.greatest(base, F.lit(1))) + 1
    )
    return (
        ranked.select("cents", bucket.cast("bigint").alias("bucket"))
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            as_double(F.min("cents").cast("decimal(18,2)") / 100).alias(
                "lo_price"
            ),
            as_double(F.max("cents").cast("decimal(18,2)") / 100).alias(
                "hi_price"
            ),
        )
    )


_HH_K = 10  # report keys with frequency > n/K

# Deterministically manufactured skew (the fixtures are uniform): 70 %
# of lineitem rows collapse onto one hot key, the rest keep a per-part
# cold key — same expression in both dialects, mirroring
# q_join_skew_salted's generator (operators/workloads.py).
_HH_KEY = (
    "CASE WHEN l_orderkey % 10 < 7 THEN 'HOT' "
    "ELSE concat('cold_', CAST(l_partkey AS STRING)) END"
)


@query(
    "q_topk_heavy_hitters",
    oracle=f"""
    WITH keyed AS (SELECT {_HH_KEY} AS k FROM lineitem),
    n AS (SELECT count(*) AS n FROM keyed)
    SELECT k, CAST(count(*) AS BIGINT) AS freq,
           round(CAST(count(*) AS DOUBLE) / any_value(n.n), 6) AS share
    FROM keyed, n
    GROUP BY k HAVING count(*) > any_value(n.n) / {_HH_K}
    """,
)
def q_topk_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT distributed HEAVY HITTERS (frequency > n/k) via the
    classic two-phase algorithm: (1) per-partition Misra-Gries with
    2k counters inside one Arrow pass — any key exceeding n/k
    globally is guaranteed to survive some partition's summary, so the
    candidate union (≤ 2k · partitions keys, broadcast-sized) is a
    superset of the answer; (2) one exact count restricted to the
    candidates (broadcast semi-join) prunes false candidates.

    Why not plain groupBy(key)? At 100 TB the full key cardinality can
    be billions — two narrow passes shuffle only candidate keys
    (thousands), never the distinct-key universe. The result is EXACT
    (phase 2 verifies), so it H-checks against DuckDB's HAVING —
    independent of partitioning, which only affects candidate-set
    slack.
    """
    import pandas as pd

    li = load(spark, sf_dir, "lineitem")
    keyed = li.select(F.expr(_HH_KEY).alias("k"))

    m = 2 * _HH_K  # Misra-Gries counters per partition

    def mg(iterator):
        # Vectorized Misra-Gries via summary MERGE (Agarwal et al.,
        # "Mergeable Summaries"): each Arrow batch reduces to exact
        # per-key counts (value_counts, no per-row Python), the running
        # summary adds them, and if more than m counters survive, the
        # (m+1)-th largest count is subtracted from all (the batched
        # equivalent of decrement-all) — error stays <= n/(m+1) < n/K,
        # so every global heavy hitter still survives some partition.
        from collections import Counter

        counters: Counter = Counter()
        for pdf in iterator:
            for key, cnt in pdf["k"].value_counts().items():
                counters[key] += int(cnt)
            if len(counters) > m:
                sub = sorted(counters.values(), reverse=True)[m]
                counters = Counter(
                    {k: v - sub for k, v in counters.items() if v > sub}
                )
        yield pd.DataFrame({"k": list(counters.keys())})

    candidates = keyed.mapInPandas(mg, "k string").distinct()
    n_row = keyed.agg(F.count(F.lit(1)).alias("n"))
    exact = (
        keyed.join(F.broadcast(candidates), "k", "left_semi")
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    return (
        exact.crossJoin(F.broadcast(n_row))
        .where(F.col("freq") > F.col("n") / _HH_K)
        .select(
            "k",
            "freq",
            F.round(F.col("freq").cast("double") / F.col("n"), 6).alias(
                "share"
            ),
        )
    )


@query(
    "q_skyline",
    oracle="""
    WITH pts AS (
      SELECT CAST(o_totalprice AS DECIMAL(18,2)) AS price,
             o_orderdate AS odate, count(*) AS n_orders
      FROM orders GROUP BY 1, 2
    ),
    w AS (
      SELECT price, odate, n_orders,
             min(odate) OVER (ORDER BY price DESC, odate ASC
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS prev_min
      FROM pts
    )
    SELECT CAST(price AS DOUBLE) AS price, odate AS o_orderdate,
           CAST(n_orders AS BIGINT) AS n_orders
    FROM w WHERE prev_min IS NULL OR prev_min > odate
    """,
)
def q_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SKYLINE (Pareto frontier): the orders no other order dominates —
    here "higher price AND earlier date" (maximize o_totalprice,
    minimize o_orderdate; strict in at least one axis). The classic
    multi-criteria shortlist query (Börzsönyi et al., ICDE'01): every
    frontier point is the best trade-off at its price level.

    2-D skylines reduce to ONE sorted window pass: over distinct
    (price, odate) points sorted (price DESC, odate ASC), a point is on
    the frontier iff its date is strictly earlier than the running
    MIN(date) of every strictly-better-or-equal-priced predecessor —
    dominance collapses into a prefix minimum, O(n log n) not the
    textbook O(n²) self-join. Grouping to distinct points first makes
    the sort key total (no same-(price,date) tie rows), so both engines
    walk the identical order.

    Scale: dominance is decomposable — a locally-dominated point can
    never be globally frontier. Pass 1 runs the same prefix-min window
    PER INPUT PARTITION (spark_partition_id key, no shuffle) and
    discards local non-frontier points; only the few survivors reach
    the single global sort. At 100 TB the global window sees ~frontier-
    sized input (thousands of points), not the table.
    """
    o = load(spark, sf_dir, "orders")
    pts = o.groupBy(
        dec("o_totalprice").alias("price"),
        F.col("o_orderdate").alias("odate"),
    ).agg(F.count(F.lit(1)).alias("n_orders"))

    def frontier(df: DataFrame, *part) -> DataFrame:
        w = (
            Window.partitionBy(*part)
            .orderBy(F.col("price").desc(), F.col("odate").asc())
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        prev_min = F.min("odate").over(w)
        return df.withColumn("prev_min", prev_min).where(
            F.col("prev_min").isNull() | (F.col("prev_min") > F.col("odate"))
        ).drop("prev_min")

    local = frontier(pts.withColumn("pid", F.spark_partition_id()), "pid")
    return frontier(
        local.drop("pid"), bounded_window_key("odate")
    ).select(
        F.col("price").cast("double").alias("price"),
        F.col("odate").alias("o_orderdate"),
        "n_orders",
    )


@query(
    "q_agg_entropy",
    oracle="""
    WITH c AS (
      SELECT user_id, event_type, count(*) AS cnt
      FROM events GROUP BY 1, 2
    ),
    t AS (
      SELECT user_id, cnt,
             CAST(cnt AS DOUBLE)
               / sum(cnt) OVER (PARTITION BY user_id) AS p
      FROM c
    )
    SELECT user_id,
           CAST(sum(cnt) AS BIGINT) AS n_events,
           CAST(count(*) AS BIGINT) AS n_types,
           round(-sum(p * log2(p)), 6) AS entropy,
           round(1.0 - sum(pow(p, 2)), 6) AS gini
    FROM t GROUP BY user_id
    """,
)
def q_agg_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISTRIBUTION-SHAPE AGGREGATES per user: Shannon entropy and Gini
    impurity of each user's event-type mix — the standard diversity /
    concentration features (a user with one event type scores 0; a
    uniform mix scores log2(k)). Data-mixture monitoring computes the
    same statistic over domain shares.

    Shape: one (user, type) count aggregate, then a second aggregate to
    user grain — the second shuffle's keys are a prefix of the first's,
    so AQE/co-partitioning makes it a cheap local fold at scale. The
    -Σ p·log2 p sum runs over ≤ |event types| (single digits) doubles;
    6-dp rounding absorbs cross-engine addition-order ulp drift.
    """
    e = load(spark, sf_dir, "events")
    c = e.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    p = F.col("cnt").cast("double") / F.sum("cnt").over(
        Window.partitionBy("user_id")
    )
    return (
        c.withColumn("p", p)
        .groupBy("user_id")
        .agg(
            F.sum("cnt").cast("bigint").alias("n_events"),
            F.count(F.lit(1)).cast("bigint").alias("n_types"),
            F.round(-F.sum(F.col("p") * F.log2("p")), 6).alias("entropy"),
            F.round(F.lit(1.0) - F.sum(F.pow("p", 2)), 6).alias("gini"),
        )
    )


ATTR_WINDOW_US = 30 * 60 * 1_000_000  # 30-minute attribution lookback


@query(
    "q_attribution",
    oracle=f"""
    WITH e AS (
      SELECT event_id, user_id, event_type, epoch_us(ts) AS us,
             CASE WHEN event_type IN ('click', 'view') THEN
               printf('%016d|%010d|%s', epoch_us(ts), event_id, event_type)
             END AS touch
      FROM events
    ),
    w AS (
      SELECT event_id, user_id, event_type,
             min(touch) OVER lb AS first_t,
             max(touch) OVER lb AS last_t,
             count(touch) OVER lb AS n_touches
      FROM e
      WINDOW lb AS (PARTITION BY user_id ORDER BY us
               RANGE BETWEEN {ATTR_WINDOW_US} PRECEDING AND CURRENT ROW)
    )
    SELECT event_id, user_id,
           CASE WHEN first_t IS NULL THEN 'organic'
                ELSE split_part(first_t, '|', 3) END AS first_channel,
           CASE WHEN last_t IS NULL THEN 'organic'
                ELSE split_part(last_t, '|', 3) END AS last_channel,
           CAST(n_touches AS BIGINT) AS n_touches
    FROM w WHERE event_type = 'purchase'
    """,
)
def q_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MARKETING ATTRIBUTION: for every purchase, the FIRST-touch and
    LAST-touch channel (click/view) of the same user within the
    preceding 30 minutes, plus the touch count — the multi-touch
    attribution primitive every growth pipeline computes. Purchases
    with no recent touch are labeled 'organic' (spelled as an explicit
    CASE in both dialects: DuckDB's split_part maps the NULL no-touch
    marker to '', Spark to NULL — the label unifies them).

    One user-partitioned RANGE window (epoch-µs ordered, bounded
    lookback) computes all three aggregates in a single pass — the
    bounded-frame twin of the as-of join, with NO self-join: at 100 TB
    the event stream shuffles once by user and streams in ts order.
    Touches travel as one zero-padded sortable string
    (us|event_id|type) so MIN/MAX give the (ts, event_id)-total-order
    first/last — the same encoding trick in both engines, no struct
    comparison semantics to align.
    """
    e = load(spark, sf_dir, "events")
    us = F.unix_micros("ts")
    touch = F.when(
        F.col("event_type").isin("click", "view"),
        F.format_string(
            "%016d|%010d|%s", us, F.col("event_id"), F.col("event_type")
        ),
    )
    lb = (
        Window.partitionBy("user_id")
        .orderBy(us)
        .rangeBetween(-ATTR_WINDOW_US, 0)
    )
    tagged = e.select(
        "event_id",
        "user_id",
        "event_type",
        F.min(touch).over(lb).alias("first_t"),
        F.max(touch).over(lb).alias("last_t"),
        F.count(touch).over(lb).alias("n_touches"),
    )
    return tagged.where(F.col("event_type") == "purchase").select(
        "event_id",
        "user_id",
        F.coalesce(
            F.split_part(F.col("first_t"), F.lit("|"), F.lit(3)),
            F.lit("organic"),
        ).alias("first_channel"),
        F.coalesce(
            F.split_part(F.col("last_t"), F.lit("|"), F.lit(3)),
            F.lit("organic"),
        ).alias("last_channel"),
        F.col("n_touches").cast("bigint").alias("n_touches"),
    )


@query(
    "q_rfm_segments",
    oracle="""
    WITH cust AS (
      SELECT o_custkey AS custkey,
             max(o_orderdate) AS last_order,
             count(*) AS frequency,
             sum(CAST(o_totalprice AS DECIMAL(18,2))) AS monetary
      FROM orders GROUP BY o_custkey
    ),
    scored AS (
      SELECT custkey, last_order, frequency,
             CAST(monetary AS DOUBLE) AS monetary,
             ntile(4) OVER (ORDER BY last_order DESC, custkey ASC) AS r,
             ntile(4) OVER (ORDER BY frequency DESC, custkey ASC) AS f,
             ntile(4) OVER (ORDER BY monetary DESC, custkey ASC) AS m
      FROM cust
    )
    SELECT custkey, last_order, CAST(frequency AS BIGINT) AS frequency,
           monetary,
           CAST(r AS INT) AS r, CAST(f AS INT) AS f, CAST(m AS INT) AS m,
           CAST(r * 100 + f * 10 + m AS INT) AS segment
    FROM scored
    """,
)
def q_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM SEGMENTATION — the classic customer-value model: quartile
    scores for Recency (latest order first), Frequency and Monetary
    value, combined into the 111..444 segment code that lifecycle
    campaigns target. Every ntile runs over a TOTAL order (custkey
    tiebreak), so quartile boundaries are deterministic in both
    engines even where metric values tie.

    Shape: orders collapse to ONE row per customer first (map-side-
    combined aggregate), then each quartile score runs as the two-pass
    range-partition + broadcast-offsets global rank (global_rank /
    ntile_from_rank, operators/windows.py) — three chained passes over
    the customer frame, each a parallel range shuffle, NO
    single-reducer ntile sort anywhere even if the customer frame
    itself outgrows one reducer."""
    cache.scope(f"q_rfm_segments:{sf_dir}")
    o = load(spark, sf_dir, "orders")
    cust = o.groupBy(F.col("o_custkey").alias("custkey")).agg(
        F.max("o_orderdate").alias("last_order"),
        F.count(F.lit(1)).cast("bigint").alias("frequency"),
        F.sum(dec("o_totalprice")).alias("monetary"),
    )
    scored = cust
    for name, order in (
        ("r", [F.col("last_order").desc(), F.col("custkey").asc()]),
        ("f", [F.col("frequency").desc(), F.col("custkey").asc()]),
        ("m", [F.col("monetary").desc(), F.col("custkey").asc()]),
    ):
        scored = (
            global_rank(scored, order)
            .withColumn(
                name,
                ntile_from_rank(F.col("rn"), F.col("n"), 4).cast("int"),
            )
            .drop("rn", "n")
        )
    return scored.select(
        "custkey",
        "last_order",
        "frequency",
        F.col("monetary").cast("double").alias("monetary"),
        "r",
        "f",
        "m",
        (F.col("r") * 100 + F.col("f") * 10 + F.col("m"))
        .cast("int")
        .alias("segment"),
    )


@query(
    "q_dq_partition_stats",
    oracle="""
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS event_date, count(*) AS n
      FROM events GROUP BY 1
    ),
    w AS (
      SELECT event_date, n,
             avg(CAST(n AS DOUBLE)) OVER t AS trail_avg,
             stddev_samp(CAST(n AS DOUBLE)) OVER t AS trail_sd,
             count(*) OVER t AS trail_n
      FROM daily
      WINDOW t AS (ORDER BY event_date
                   ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)
    )
    SELECT event_date, CAST(n AS BIGINT) AS n,
           round(trail_avg, 6) AS trail_avg,
           CAST(CASE WHEN trail_n >= 3 AND trail_sd > 0
                 AND abs(n - trail_avg) > 2 * trail_sd
                THEN 1 ELSE 0 END AS INT) AS volume_alert
    FROM w
    """,
)
def q_dq_partition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PARTITION-VOLUME MONITORING — the data-ops check every 100 TB
    lake runs nightly: per ingestion day, row volume vs the trailing
    7-day window; a day deviating > 2σ from its trailing mean raises a
    volume alert (upstream outage, duplicate backfill, schema-drift
    row explosion). q_dq_checks audits VALUES; this audits ARRIVAL —
    the partition-grain freshness/volume half of a Deequ/dbt-style
    suite.

    Shape: the fact table collapses to one row per day FIRST (map-side
    combined count), so the trailing window runs over days, not rows —
    at any scale the windowed frame is calendar-sized. The alert needs
    ≥ 3 trailing days and σ > 0 (both spelled identically in the
    oracle) so cold starts and constant weeks never divide by zero."""
    e = load(spark, sf_dir, "events")
    daily = e.groupBy(F.col("ts").cast("date").alias("event_date")).agg(
        F.count(F.lit(1)).alias("n")
    )
    t = (
        Window.partitionBy(bounded_window_key("event_date"))
        .orderBy("event_date")
        .rowsBetween(-7, -1)
    )
    nn = F.col("n").cast("double")
    w = daily.select(
        "event_date",
        F.col("n").cast("bigint").alias("n"),
        F.avg(nn).over(t).alias("trail_avg"),
        F.stddev_samp(nn).over(t).alias("trail_sd"),
        F.count(F.lit(1)).over(t).alias("trail_n"),
    )
    alert = (
        (F.col("trail_n") >= 3)
        & (F.col("trail_sd") > 0)
        & (F.abs(F.col("n") - F.col("trail_avg")) > 2 * F.col("trail_sd"))
    )
    return w.select(
        "event_date",
        "n",
        F.round("trail_avg", 6).alias("trail_avg"),
        alert.cast("int").alias("volume_alert"),
    )


@query(
    "q_rel_division",
    oracle="""
    WITH cust_brand AS (
      SELECT DISTINCT o.o_custkey AS custkey, p.p_brand AS brand
      FROM lineitem l
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      JOIN part p ON l.l_partkey = p.p_partkey
    ),
    need AS (SELECT count(DISTINCT p_brand) AS n FROM part)
    SELECT cb.custkey,
           CAST(count(*) AS BIGINT) AS n_brands
    FROM cust_brand cb CROSS JOIN need
    GROUP BY cb.custkey, need.n
    HAVING count(*) = need.n
    """,
)
def q_rel_division(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RELATIONAL DIVISION — "customers who ordered parts of EVERY
    brand": the universal-quantifier query (FOR ALL) that plain joins
    cannot express. Spelled as the standard count-match rewrite:
    distinct (customer, brand) pairs, grouped per customer, kept iff
    the count equals the divisor cardinality — set containment becomes
    integer equality, with the divisor size broadcast as a 1-row
    aggregate. The double-NOT-EXISTS formulation is semantically
    identical but plans as two correlated anti-joins; the count-match
    form is one aggregate over an already-reduced pair set — the shape
    that survives 100 TB.

    The divisor is deliberately the BRAND domain (25 values, constant
    across scale factors), not a partkey set: a divisor that grows
    with SF makes coverage probability collapse toward zero as data
    scales (the original Brand#1-partkey form returned 0 rows at every
    SF — a vacuously-true query), while a fixed enum divisor keeps the
    quantifier satisfiable and the answer non-empty at any scale
    (21/1500 customers at sf0.01, 325/15000 at sf0.1).
    """
    part = load(spark, sf_dir, "part")
    orders = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    brand_of = F.broadcast(part.select("p_partkey", "p_brand"))
    pairs = (
        li.select("l_orderkey", "l_partkey")
        .join(orders.select("o_orderkey", "o_custkey"),
              F.col("l_orderkey") == F.col("o_orderkey"))
        .join(brand_of, F.col("l_partkey") == F.col("p_partkey"))
        .select(F.col("o_custkey").alias("custkey"),
                F.col("p_brand").alias("brand"))
        .distinct()
    )
    need = part.agg(F.countDistinct("p_brand").alias("n"))
    return (
        pairs.crossJoin(F.broadcast(need))
        .groupBy("custkey", "n")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .where(F.col("cnt") == F.col("n"))
        .select(
            "custkey",
            F.col("cnt").cast("bigint").alias("n_brands"),
        )
    )


@query(
    "q_cumulative_uniques",
    oracle="""
    WITH firsts AS (
      SELECT user_id, min(CAST(ts AS DATE)) AS first_day
      FROM events GROUP BY user_id
    ),
    daily_new AS (
      SELECT first_day AS d, count(*) AS new_users
      FROM firsts GROUP BY first_day
    )
    SELECT d, CAST(new_users AS BIGINT) AS new_users,
           CAST(sum(new_users) OVER (ORDER BY d
                ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_uniques
    FROM daily_new
    """,
)
def q_cumulative_uniques(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUMULATIVE UNIQUE USERS per day — the growth curve every
    dashboard opens with, and a classic scale trap: the naive form
    (COUNT(DISTINCT user) over an expanding window) re-deduplicates
    the ENTIRE history per day — O(days × users) state in one window.
    The rewrite: distinct collapses to each user's FIRST day (one
    map-side-combined aggregate), daily new-user counts, and a running
    sum over the tiny calendar frame — cumulative-distinct becomes
    cumulative-sum-of-first-appearances, mathematically identical and
    linear at 100 TB. (HLL sketches — q_agg_hll_sketch — are the
    approximate mergeable variant when per-segment curves multiply.)"""
    e = load(spark, sf_dir, "events")
    firsts = e.groupBy("user_id").agg(
        F.min(F.col("ts").cast("date")).alias("first_day")
    )
    daily = firsts.groupBy(F.col("first_day").alias("d")).agg(
        F.count(F.lit(1)).alias("new_users")
    )
    w = (
        Window.partitionBy(bounded_window_key("d"))
        .orderBy("d")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return daily.select(
        "d",
        F.col("new_users").cast("bigint").alias("new_users"),
        F.sum("new_users").over(w).cast("bigint").alias("cum_uniques"),
    )


@query(
    "q_peak_concurrency",
    oracle=f"""
    WITH e AS (
      SELECT user_id, event_id, ts, epoch_us(ts) AS us FROM events
    ),
    flagged AS (
      SELECT *,
             CASE WHEN lag(us) OVER w IS NULL
                       OR us - lag(us) OVER w > {{gap}}
                  THEN 1 ELSE 0 END AS is_new
      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)
    ),
    sessions AS (
      SELECT user_id,
             sum(is_new) OVER (PARTITION BY user_id ORDER BY us, event_id
                               ROWS UNBOUNDED PRECEDING) AS session_id,
             us
      FROM flagged
    ),
    spans AS (
      SELECT user_id, session_id, min(us) AS s, max(us) AS t
      FROM sessions GROUP BY user_id, session_id
    ),
    deltas AS (
      SELECT s AS us, 1 AS delta FROM spans
      UNION ALL
      SELECT t + 1, -1 FROM spans
    ),
    sweep AS (
      SELECT us,
             sum(delta) OVER (ORDER BY us, delta
                              ROWS UNBOUNDED PRECEDING) AS live
      FROM deltas
    )
    SELECT CAST(max(live) AS BIGINT) AS peak_concurrent,
           CAST(count(*) AS BIGINT) AS n_boundary_events
    FROM sweep
    """.replace("{gap}", str(1800000000)),
)
def q_peak_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PEAK CONCURRENCY — the sweep-line pattern: how many 30-minute
    sessions were ever live at once (capacity planning's first
    number). Sessions become ±1 boundary events; a running sum over
    the time-ordered boundary stream is the live-session count and its
    max is the peak. The sweep order (us, delta ASC) is total up to
    interchangeable equal-delta rows (whose running-sum max is
    order-invariant), and at a shared boundary instant the −1 sorts
    first — back-to-back sessions hand over without inflating the
    peak, identically in both engines.

    Scale shape: sessionization is the usual user-keyed sort; the
    sweep's running sum runs TWO-LEVEL (the q_win_ntile offset
    pattern): range-repartition the ±1 boundary stream on (us, delta),
    partial prefix-sum each shard in parallel, then lift shard-local
    sums to global ones with a broadcast per-shard delta-total offset
    table — no single reducer ever sorts the boundary stream. Rows
    tied on (us, delta) may land in either shard at a range boundary,
    but equal-delta rows commute under prefix summation, so the set of
    running-sum values (hence the max) is order-invariant — the same
    argument that makes the sweep deterministic in one pass."""
    from tile_etl_spark.operators.sessionize import sessionize

    cache.scope(f"q_peak_concurrency:{sf_dir}")
    s = sessionize(load(spark, sf_dir, "events"))
    spans = s.groupBy("user_id", "session_id").agg(
        F.min("__us").alias("s"), F.max("__us").alias("t")
    )
    deltas = spans.select(
        F.col("s").alias("us"), F.lit(1).alias("delta")
    ).unionByName(
        spans.select((F.col("t") + 1).alias("us"), F.lit(-1).alias("delta"))
    )
    n_parts = spark.sparkContext.defaultParallelism
    part = cache.persist_scoped(
        deltas.repartitionByRange(
            n_parts, F.col("us").asc(), F.col("delta").asc()
        ).withColumn("pid", F.spark_partition_id())
    )
    w_off = pid_hist_window().rowsBetween(
        Window.unboundedPreceding, Window.currentRow - 1
    )
    offsets = (
        part.groupBy("pid")
        .agg(F.sum("delta").alias("dsum"))
        .select(
            "pid",
            F.coalesce(F.sum("dsum").over(w_off), F.lit(0)).alias("off"),
        )
    )
    w_local = (
        Window.partitionBy("pid")
        .orderBy("us", "delta")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    sweep = (
        part.withColumn("lsum", F.sum("delta").over(w_local))
        .join(F.broadcast(offsets), "pid")
        .select((F.col("off") + F.col("lsum")).alias("live"))
    )
    return sweep.agg(
        F.max("live").cast("bigint").alias("peak_concurrent"),
        F.count(F.lit(1)).cast("bigint").alias("n_boundary_events"),
    )


@query(
    "q_seasonality_dow",
    oracle="""
    WITH daily AS (
      SELECT event_type, dayofweek(CAST(ts AS DATE)) + 1 AS dow,
             count(*) AS n,
             sum(CAST(value AS DECIMAL(18,6))) AS v
      FROM events GROUP BY 1, 2
    ),
    totals AS (
      SELECT event_type, sum(n) AS tn, sum(v) AS tv
      FROM daily GROUP BY event_type
    )
    SELECT d.event_type, CAST(d.dow AS INT) AS dow,
           CAST(d.n AS BIGINT) AS n,
           round(CAST(d.n AS DOUBLE) / t.tn * 7, 6) AS volume_index,
           CAST(d.v AS DOUBLE) AS sum_value
    FROM daily d JOIN totals t ON d.event_type = t.event_type
    """,
)
def q_seasonality_dow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAY-OF-WEEK SEASONALITY PROFILE: per event type, each weekday's
    share of volume indexed to a flat week (1.0 = no seasonality) —
    the profile that capacity planning, anomaly baselines
    (q_dq_partition_stats' trailing window assumes one) and forecast
    de-seasonalization all consume. Counts are exact integers, values
    exact decimals; the index is one exact-ratio double round. dow is
    Spark's convention (1 = Sunday); the oracle shifts DuckDB's
    0-based dayofweek to match.
    Two map-side-combined aggregates, the second over 7×|types| rows."""
    e = load(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type",
        F.dayofweek(F.col("ts").cast("date")).cast("int").alias("dow"),
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("value").cast("decimal(18,6)")).alias("v"),
    )
    totals = daily.groupBy("event_type").agg(
        F.sum("n").alias("tn"), F.sum("v").alias("tv")
    )
    return daily.join(F.broadcast(totals), "event_type").select(
        "event_type",
        "dow",
        F.col("n").cast("bigint").alias("n"),
        F.round(F.col("n").cast("double") / F.col("tn") * 7, 6).alias(
            "volume_index"
        ),
        F.col("v").cast("double").alias("sum_value"),
    )


@query(
    "q_funnel_ttc",
    oracle="""
    WITH clicks AS (
      SELECT user_id, event_id, ts, epoch_us(ts) AS us FROM events
      WHERE event_type = 'click'
    ),
    conv AS (
      SELECT c.user_id, c.event_id,
             (SELECT min(epoch_us(p.ts)) FROM events p
               WHERE p.user_id = c.user_id AND p.event_type = 'purchase'
                 AND p.ts >= c.ts) - c.us AS delta_us
      FROM clicks c
    ),
    conv2 AS (SELECT * FROM conv WHERE delta_us IS NOT NULL)
    SELECT CAST(count(*) AS BIGINT) AS n_converted,
           CAST((SELECT count(*) FROM clicks) AS BIGINT) AS n_clicks,
           round(CAST(count(*) AS DOUBLE)
                 / (SELECT count(*) FROM clicks), 6) AS conversion_rate,
           round(quantile_cont(CAST(delta_us AS DOUBLE), 0.5) / 1e6, 6)
             AS median_ttc_sec,
           round(quantile_cont(CAST(delta_us AS DOUBLE), 0.9) / 1e6, 6)
             AS p90_ttc_sec
    FROM conv2
    """,
)
def q_funnel_ttc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TIME-TO-CONVERT: for every click, the delay to the user's next
    same-or-later purchase (forward as-of), summarized as conversion
    rate + median/p90 latency — the funnel's missing time axis
    (q_funnel counts WHO converts; this measures HOW FAST). Exact
    interpolated percentiles over integer-µs deltas — the same
    determinism argument as q_agg_percentile.

    Shape: the forward as-of is q_join_asof_fwd's union-tag +
    reversed running-min rewrite (ONE user-keyed shuffle — the
    correlated-subquery oracle is the O(n·m) semantics statement, not
    the plan), then a single global summary row."""
    from tile_etl_spark.operators.joins import asof_join

    e = load(spark, sf_dir, "events")
    clicks = e.where(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    purchases = e.where(F.col("event_type") == "purchase").select(
        "user_id", "ts", F.col("event_id").alias("__right_id")
    )
    matched = asof_join(clicks, purchases, on="user_id", direction="forward")
    delta = (
        F.unix_micros("asof_ts") - F.unix_micros("ts")
    ).alias("delta_us")
    conv = matched.where(F.col("asof_ts").isNotNull()).select(delta)
    n_clicks = clicks.agg(F.count(F.lit(1)).alias("n_clicks"))
    return (
        conv.agg(
            F.count(F.lit(1)).alias("n_converted"),
            F.expr("percentile(CAST(delta_us AS DOUBLE), 0.5)").alias("p50"),
            F.expr("percentile(CAST(delta_us AS DOUBLE), 0.9)").alias("p90"),
        )
        .crossJoin(F.broadcast(n_clicks))
        .select(
            F.col("n_converted").cast("bigint").alias("n_converted"),
            F.col("n_clicks").cast("bigint").alias("n_clicks"),
            F.round(
                F.col("n_converted").cast("double") / F.col("n_clicks"), 6
            ).alias("conversion_rate"),
            F.round(F.col("p50") / 1e6, 6).alias("median_ttc_sec"),
            F.round(F.col("p90") / 1e6, 6).alias("p90_ttc_sec"),
        )
    )


@query(
    "q_basket_pairs",
    oracle="""
    WITH baskets AS (
      SELECT DISTINCT l.l_orderkey, p.p_brand
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    ),
    n_orders AS (SELECT count(DISTINCT l_orderkey) AS n FROM baskets),
    brand_n AS (
      SELECT p_brand, count(*) AS n FROM baskets GROUP BY p_brand
    ),
    pairs AS (
      SELECT a.p_brand AS b1, b.p_brand AS b2, count(*) AS together
      FROM baskets a JOIN baskets b
        ON a.l_orderkey = b.l_orderkey AND a.p_brand < b.p_brand
      GROUP BY 1, 2
    )
    SELECT pairs.b1, pairs.b2,
           CAST(pairs.together AS BIGINT) AS together,
           round(CAST(pairs.together AS DOUBLE) * n_orders.n
                 / (na.n * nb.n), 6) AS lift
    FROM pairs
    JOIN brand_n na ON pairs.b1 = na.p_brand
    JOIN brand_n nb ON pairs.b2 = nb.p_brand
    CROSS JOIN n_orders
    WHERE pairs.together >= 5
    """,
)
def q_basket_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MARKET-BASKET PAIR MINING: brand pairs bought together in one
    order, with lift = P(A,B)/(P(A)·P(B)) — the association-rule
    primitive (Apriori's first level) behind recommendations and
    cross-sell. q_text_cooccur mines token pairs in documents; this is
    the transactional twin on (order, brand) baskets with the same
    count-then-join shape: distinct basket items, a self-join keyed on
    the basket id restricted to ordered pairs (each unordered pair
    once), marginal counts broadcast back, one exact-ratio lift. At
    100 TB the basket self-join is the only wide stage and it
    co-partitions on the basket key; hot baskets are bounded by
    items-per-order, not corpus size."""
    li = load(spark, sf_dir, "lineitem")
    p = load(spark, sf_dir, "part")
    baskets = (
        li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
        .select("l_orderkey", "p_brand")
        .distinct()
    )
    baskets = cache.persist_scoped(baskets, tag="q_basket_pairs")
    n_orders = baskets.agg(
        F.countDistinct("l_orderkey").alias("n")
    )
    brand_n = baskets.groupBy("p_brand").agg(F.count(F.lit(1)).alias("n"))
    a, b = baskets.alias("a"), baskets.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.p_brand") < F.col("b.p_brand")),
        )
        .groupBy(
            F.col("a.p_brand").alias("b1"), F.col("b.p_brand").alias("b2")
        )
        .agg(F.count(F.lit(1)).alias("together"))
        .where(F.col("together") >= 5)
    )
    na = brand_n.select(
        F.col("p_brand").alias("b1"), F.col("n").alias("na")
    )
    nb = brand_n.select(
        F.col("p_brand").alias("b2"), F.col("n").alias("nb")
    )
    return (
        pairs.join(F.broadcast(na), "b1")
        .join(F.broadcast(nb), "b2")
        .crossJoin(F.broadcast(n_orders))
        .select(
            "b1",
            "b2",
            F.col("together").cast("bigint").alias("together"),
            F.round(
                F.col("together").cast("double")
                * F.col("n")
                / (F.col("na") * F.col("nb")),
                6,
            ).alias("lift"),
        )
    )


@query(
    "q_corr_pearson",
    oracle="""
    WITH s AS (
      SELECT l_returnflag,
             count(*) AS n,
             sum(CAST(l_quantity AS DECIMAL(18,2))) AS sx,
             sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS sy,
             sum(CAST(l_quantity AS DECIMAL(18,2))
                 * CAST(l_quantity AS DECIMAL(18,2))) AS sxx,
             sum(CAST(l_extendedprice AS DECIMAL(18,2))
                 * CAST(l_extendedprice AS DECIMAL(18,2))) AS syy,
             sum(CAST(l_quantity AS DECIMAL(18,2))
                 * CAST(l_extendedprice AS DECIMAL(18,2))) AS sxy
      FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_returnflag, CAST(n AS BIGINT) AS n,
           round((n * CAST(sxy AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                 / sqrt((n * CAST(sxx AS DOUBLE)
                         - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                        * (n * CAST(syy AS DOUBLE)
                           - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))),
                 6) AS corr_qty_price
    FROM s
    """,
)
def q_corr_pearson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PEARSON CORRELATION from exact moment sums — quantity vs price
    per return flag. The built-in ``corr()`` aggregate accumulates
    doubles in partition order, so two engines (or two runs) disagree
    in the last ulps; the engine instead sums the five raw moments in
    DECIMAL (order-insensitive, exact — quantities and prices are
    exact at 2 dp) and evaluates the closed form
    (n·Σxy − ΣxΣy)/√((n·Σx² − Σx²)(n·Σy² − Σy²)) once per group in
    identical double arithmetic. Hash-exact by construction.

    Shape: ONE map-side-combined aggregate pass (five DECIMAL sums +
    count), then per-group scalar math — the same single-shuffle cost
    as a plain sum at any scale. The same moment-vector is mergeable
    state for incremental maintenance (cf. q_agg_incremental)."""
    li = load(spark, sf_dir, "lineitem")
    x = F.col("l_quantity").cast("decimal(18,2)")
    y = F.col("l_extendedprice").cast("decimal(18,2)")
    s = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x).alias("sx"),
        F.sum(y).alias("sy"),
        F.sum(x * x).alias("sxx"),
        F.sum(y * y).alias("syy"),
        F.sum(x * y).alias("sxy"),
    )
    n = F.col("n")
    sx, sy = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxx, syy = F.col("sxx").cast("double"), F.col("syy").cast("double")
    sxy = F.col("sxy").cast("double")
    return s.select(
        "l_returnflag",
        n.cast("bigint").alias("n"),
        F.round(
            (n * sxy - sx * sy)
            / F.sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)),
            6,
        ).alias("corr_qty_price"),
    )


@query(
    "q_cuped",
    oracle="""
    WITH u AS (
      SELECT user_id,
             CAST(user_id % 2 AS INT) AS arm,
             sum(CASE WHEN ts < TIMESTAMP '2024-01-16 00:00:00'
                 THEN CAST(value AS DECIMAL(18,6))
                 ELSE CAST(0 AS DECIMAL(18,6)) END) AS x,
             sum(CASE WHEN ts >= TIMESTAMP '2024-01-16 00:00:00'
                 THEN CAST(value AS DECIMAL(18,6))
                 ELSE CAST(0 AS DECIMAL(18,6)) END) AS y
      FROM events GROUP BY user_id
    ),
    g AS (
      SELECT count(*) AS n,
             CAST(sum(x) AS DOUBLE) AS sx, CAST(sum(y) AS DOUBLE) AS sy,
             CAST(sum(x * x) AS DOUBLE) AS sxx,
             CAST(sum(x * y) AS DOUBLE) AS sxy
      FROM u
    ),
    th AS (
      SELECT (n * sxy - sx * sy) / (n * sxx - sx * sx) AS theta,
             sx / n AS gx
      FROM g
    )
    SELECT u.arm,
           CAST(count(*) AS BIGINT) AS n_users,
           round(CAST(sum(u.y) AS DOUBLE) / count(*), 6) AS mean_y,
           round(CAST(sum(u.y) AS DOUBLE) / count(*)
                 - any_value(th.theta)
                   * (CAST(sum(u.x) AS DOUBLE) / count(*)
                      - any_value(th.gx)), 6) AS mean_y_adj
    FROM u, th GROUP BY u.arm
    """,
)
def q_cuped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED variance reduction (Deng et al., WSDM'13) — the standard
    experiment-analysis adjustment: per-user pre-period metric X
    (first half of the month) explains away baseline variance in the
    post-period metric Y, via theta = cov(X,Y)/var(X) pooled across
    arms, adjusted mean = ȳ_arm − theta·(x̄_arm − x̄_global). Arms are
    a deterministic user_id hash split (% 2), the same assignment a
    real experiment platform derives from a bucketing hash.

    Every moment (Σx, Σy, Σxy, Σx², counts) is an exact DECIMAL sum —
    theta and both means are single identical double expressions, so
    the adjusted means hash-match. Shape: one user-grain aggregate
    (the only wide shuffle), a 1-row pooled-stats reduce broadcast
    back, and a 2-group arm aggregate — CUPED at 100 TB costs one
    pass + one broadcast."""
    e = load(spark, sf_dir, "events")
    v = F.col("value").cast("decimal(18,6)")
    zero = F.lit(0).cast("decimal(18,6)")
    cut = "2024-01-16 00:00:00"
    u = e.groupBy("user_id").agg(
        F.sum(F.when(F.col("ts") < cut, v).otherwise(zero)).alias("x"),
        F.sum(F.when(F.col("ts") >= cut, v).otherwise(zero)).alias("y"),
    ).select(
        (F.col("user_id") % 2).cast("int").alias("arm"), "x", "y"
    )
    g = u.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").cast("double").alias("gsx"),
        F.sum("y").cast("double").alias("gsy"),
        F.sum(F.col("x") * F.col("x")).cast("double").alias("gsxx"),
        F.sum(F.col("x") * F.col("y")).cast("double").alias("gsxy"),
    )
    th = g.select(
        (
            (F.col("n") * F.col("gsxy") - F.col("gsx") * F.col("gsy"))
            / (F.col("n") * F.col("gsxx") - F.col("gsx") * F.col("gsx"))
        ).alias("theta"),
        (F.col("gsx") / F.col("n")).alias("gx"),
    )
    arms = u.groupBy("arm").agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum("x").cast("double").alias("asx"),
        F.sum("y").cast("double").alias("asy"),
    )
    return arms.join(F.broadcast(th)).select(
        "arm",
        F.col("n_users").cast("bigint").alias("n_users"),
        F.round(F.col("asy") / F.col("n_users"), 6).alias("mean_y"),
        F.round(
            F.col("asy") / F.col("n_users")
            - F.col("theta")
            * (F.col("asx") / F.col("n_users") - F.col("gx")),
            6,
        ).alias("mean_y_adj"),
    )


@query(
    "q_sample_reservoir",
    oracle="""
    WITH r AS (
      SELECT event_id, event_type,
             row_number() OVER (
               PARTITION BY event_type
               ORDER BY md5(CAST(event_id AS VARCHAR)), event_id) AS rn
      FROM events
    )
    SELECT event_id, event_type, CAST(rn AS INT) AS rn
    FROM r WHERE rn <= 10
    """,
)
def q_sample_reservoir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DETERMINISTIC PER-GROUP SAMPLE (reservoir-equivalent): exactly
    k=10 rows per event type, chosen by ranking on a cryptographic
    hash of the row key — a uniform draw that is reproducible across
    engines, runs and partitionings (unlike rand()-based sampling,
    which can never hash-match an oracle). This is how a 100 TB
    pipeline takes auditable QA samples: the selection is a pure
    function of the data.

    Spark plans the rank-then-filter as a WindowGroupLimit: each
    partition keeps only its local top-k BEFORE the shuffle, so the
    exchange carries k·partitions rows, not the table. md5 on the key
    string is identical in both engines; the event_id tiebreak makes
    the order total."""
    e = load(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy(
        F.md5(F.col("event_id").cast("string")), F.col("event_id")
    )
    return (
        e.select("event_id", "event_type")
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 10)
        .select("event_id", "event_type", F.col("rn").cast("int").alias("rn"))
    )


@query(
    "q_anomaly_window",
    oracle="""
    WITH daily AS (
      SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS d,
             count(*) AS n
      FROM events GROUP BY 1, 2
    ),
    w AS (
      SELECT event_type, d, n,
             count(n) OVER win AS cnt7,
             sum(n) OVER win AS sn,
             sum(n * n) OVER win AS snn
      FROM daily
      WINDOW win AS (PARTITION BY event_type ORDER BY d
                     ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)
    )
    SELECT event_type, d, CAST(n AS BIGINT) AS n,
           round(CASE WHEN cnt7 = 7
                      AND snn * cnt7 - sn * sn > 0 THEN
                 (n - CAST(sn AS DOUBLE) / cnt7)
                 / (sqrt(CAST(snn * cnt7 - sn * sn AS DOUBLE)) / cnt7)
                 END, 6) AS zscore,
           CAST(CASE WHEN cnt7 = 7 AND snn * cnt7 - sn * sn > 0
                     AND abs((n - CAST(sn AS DOUBLE) / cnt7)
                 / (sqrt(CAST(snn * cnt7 - sn * sn AS DOUBLE)) / cnt7))
                         > 3.0
                THEN 1 ELSE 0 END AS INT) AS is_anomaly
    FROM w
    """,
)
def q_anomaly_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLING-BASELINE ANOMALY DETECTION — each day's event volume
    scored against the trailing 7 complete days' mean/std (the window
    excludes the current day, so an anomalous day cannot mask itself).
    The volume-spike monitor every ingestion pipeline runs. z is NULL
    until a full 7-day baseline exists or when the baseline is
    constant (std = 0).

    All window state is INTEGER (Σn, Σn² over counts) so mean and std
    come from exact sums — the z expression is the identical double
    computation in both engines. Shape: one day-grain aggregate (the
    only pass over raw events), then a tiny per-type window over the
    calendar grain; at 100 TB the window input is days×types rows."""
    e = load(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type", F.date_trunc("day", "ts").cast("date").alias("d")
    ).agg(F.count(F.lit(1)).alias("n"))
    win = (
        Window.partitionBy("event_type").orderBy("d").rowsBetween(-7, -1)
    )
    w = daily.select(
        "event_type",
        "d",
        "n",
        F.count("n").over(win).alias("cnt7"),
        F.sum("n").over(win).alias("sn"),
        F.sum(F.col("n") * F.col("n")).over(win).alias("snn"),
    )
    ok = (F.col("cnt7") == 7) & (
        F.col("snn") * F.col("cnt7") - F.col("sn") * F.col("sn") > 0
    )
    z = (F.col("n") - F.col("sn").cast("double") / F.col("cnt7")) / (
        F.sqrt(
            (F.col("snn") * F.col("cnt7") - F.col("sn") * F.col("sn")).cast(
                "double"
            )
        )
        / F.col("cnt7")
    )
    return w.select(
        "event_type",
        "d",
        F.col("n").cast("bigint").alias("n"),
        F.round(F.when(ok, z), 6).alias("zscore"),
        F.when(ok & (F.abs(z) > 3.0), 1).otherwise(0).cast("int").alias(
            "is_anomaly"
        ),
    )


# Portable md5-hex → uint32: both dialects turn the first 8 hex chars of
# md5(key) into the same integer; Spark has conv(), DuckDB gets the
# positional-digit expansion (lexicographic strpos arithmetic — no
# hex-parsing dialect dependence).
_WS_SALT = "::wsample"


def _duck_hex8_to_int(key_sql: str) -> str:
    digit = (
        "(strpos('0123456789abcdef', "
        f"substr(md5({key_sql}), {{i}}, 1)) - 1)"
    )
    terms = " + ".join(
        digit.format(i=i + 1) + f" * {16 ** (7 - i)}" for i in range(8)
    )
    return f"({terms})"


@query(
    "q_sample_weighted",
    oracle=f"""
    WITH keyed AS (
      SELECT lang, doc_id, n_chars,
             row_number() OVER (
               PARTITION BY lang
               ORDER BY -ln(({_duck_hex8_to_int(
                   "CAST(doc_id AS VARCHAR) || '" + _WS_SALT + "'")}
                  + 0.5) / 4294967296.0) / n_chars,
                 doc_id) AS rn
      FROM documents
    )
    SELECT lang, doc_id, CAST(n_chars AS BIGINT) AS n_chars,
           CAST(rn AS INT) AS rn
    FROM keyed WHERE rn <= 20
    """,
)
def q_sample_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WEIGHTED sampling without replacement (Efraimidis–Spirakis):
    k=20 docs per language with inclusion probability proportional to
    ``n_chars`` — the length-weighted draw a training pipeline uses to
    fill a token budget (sampling documents uniformly under-represents
    long documents token-wise). Each row gets key = −ln(u)/w with u a
    DETERMINISTIC uniform derived from md5(doc_id) (never rand() — the
    draw must be reproducible across engines, retries and
    partitionings; cf. q_sample_reservoir, q_data_split) and w =
    n_chars; the k smallest keys per group are exactly an E–S weighted
    sample.

    Spark plans rank-then-filter as WindowGroupLimit: every partition
    locally top-k's BEFORE the shuffle, so the exchange carries
    k·partitions rows regardless of corpus size — the same scale shape
    as q_sample_reservoir, plus one codegen'd ln() per row. The u
    derivation (first 8 md5 hex chars as uint32, +0.5, /2^32) is
    spelled digit-arithmetically in the oracle so no hex-parsing
    dialect difference can bite."""
    d = load(spark, sf_dir, "documents")
    u = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.col("doc_id").cast("string"), F.lit(_WS_SALT)
                    ).cast("binary")
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("bigint")
        + F.lit(0.5)
    ) / F.lit(4294967296.0)
    key = -F.log(u) / F.col("n_chars")
    w = Window.partitionBy("lang").orderBy(key, "doc_id")
    return (
        d.select("lang", "doc_id", "n_chars")
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 20)
        .select(
            "lang",
            "doc_id",
            F.col("n_chars").cast("bigint").alias("n_chars"),
            F.col("rn").cast("int").alias("rn"),
        )
    )


# --- count-min sketch --------------------------------------------------


_CM_D = 4    # hash rows
_CM_W = 32   # buckets per row


def _cm_bucket_duck(j: int) -> str:
    key = f"'cm{j}:' || CAST(user_id AS VARCHAR)"
    return f"({_duck_hex8_to_int(key)} % {_CM_W})"


def _cm_bucket_spark(j: int) -> F.Column:
    key = F.concat(
        F.lit(f"cm{j}:"), F.col("user_id").cast("string")
    ).cast("binary")
    return (
        F.conv(F.substring(F.md5(key), 1, 8), 16, 10).cast("bigint")
        % _CM_W
    )


@query(
    "q_agg_countmin",
    oracle=f"""
    WITH cells AS (
      SELECT j.j AS j,
             CASE j.j {" ".join(
                 f"WHEN {j} THEN {_cm_bucket_duck(j)}"
                 for j in range(_CM_D))} END AS bucket,
             count(*) AS n
      FROM events CROSS JOIN (
        SELECT unnest(generate_series(0, {_CM_D - 1})) AS j) j
      GROUP BY 1, 2
    ),
    truth AS (
      SELECT user_id, count(*) AS true_n FROM events GROUP BY user_id
    ),
    probes AS (
      SELECT t.user_id, t.true_n, j.j AS j,
             CASE j.j {" ".join(
                 f"WHEN {j} THEN {_cm_bucket_duck(j)}"
                 for j in range(_CM_D))} END AS bucket
      FROM truth t CROSS JOIN (
        SELECT unnest(generate_series(0, {_CM_D - 1})) AS j) j
    )
    SELECT p.user_id,
           CAST(p.true_n AS BIGINT) AS true_n,
           CAST(min(c.n) AS BIGINT) AS cm_est,
           CAST(min(c.n) - p.true_n AS BIGINT) AS overcount
    FROM probes p JOIN cells c ON p.j = c.j AND p.bucket = c.bucket
    GROUP BY p.user_id, p.true_n
    """,
)
def q_agg_countmin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COUNT-MIN SKETCH — the bounded-memory frequency estimator that
    completes the sketch family (HLL q_agg_hll_sketch counts DISTINCT,
    bitmap q_agg_bitmap_distinct counts exactly, count-min estimates
    PER-KEY frequency): d=4 portable md5 hash rows × w=32 counters,
    answer = min over rows of the landed counter. The qid builds the
    sketch AND probes every user against it, emitting true count,
    estimate, and the overcount — which the count-min guarantee says
    is ≥ 0 always and ≤ εN with probability 1−δ (asserted ≥ 0 by
    construction in both engines' output: min of counters that each
    contain the key's own count).

    Scale shape: the sketch build is ONE hash-aggregate over d
    replicas of the stream — d·w = 128 cells total regardless of
    corpus size (the whole point: a 100 TB stream reduces map-side to
    128 counters per partition, then one 128-row shuffle); the probe
    joins against those 128 broadcast-able cells. Hashes are the
    engine-portable md5-hex construction (cf. q_sample_weighted), so
    the sketch is bit-identical cross-engine → H-checked."""
    e = load(spark, sf_dir, "events")
    js = F.explode(
        F.array(*[F.lit(j) for j in range(_CM_D)])
    ).alias("j")
    bucket = None
    for j in range(_CM_D):
        b = _cm_bucket_spark(j)
        bucket = (
            F.when(F.col("j") == j, b)
            if bucket is None
            else bucket.when(F.col("j") == j, b)
        )
    cells = (
        e.select("user_id", js)
        .select("user_id", "j", bucket.alias("bucket"))
        .groupBy("j", "bucket")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    truth = e.groupBy("user_id").agg(F.count(F.lit(1)).alias("true_n"))
    probes = truth.select("user_id", "true_n", js).select(
        "user_id", "true_n", "j", bucket.alias("bucket")
    )
    return (
        probes.join(F.broadcast(cells), ["j", "bucket"])
        .groupBy("user_id", "true_n")
        .agg(F.min("n").alias("cm_est"))
        .select(
            "user_id",
            F.col("true_n").cast("bigint").alias("true_n"),
            F.col("cm_est").cast("bigint").alias("cm_est"),
            (F.col("cm_est") - F.col("true_n"))
            .cast("bigint")
            .alias("overcount"),
        )
    )


# --- portable Bloom filter ---------------------------------------------


_BF_M = 4096  # bits
_BF_K = 3    # hash functions


def _bf_bit_duck(j: int, key_sql: str) -> str:
    salted = f"'bf{j}:' || {key_sql}"
    return f"({_duck_hex8_to_int(salted)} % {_BF_M})"


def _bf_bit_spark(j: int, key: F.Column) -> F.Column:
    h = F.md5(
        F.concat(F.lit(f"bf{j}:"), key.cast("string")).cast("binary")
    )
    return F.conv(F.substring(h, 1, 8), 16, 10).cast("bigint") % _BF_M


@query(
    "q_agg_bloom_portable",
    oracle=f"""
    WITH members AS (
      SELECT DISTINCT c_custkey FROM customer
      WHERE c_mktsegment = 'BUILDING'
    ),
    bits AS (
      SELECT DISTINCT
             CASE j.j {" ".join(
                 f"WHEN {j} THEN "
                 + _bf_bit_duck(j, "CAST(c_custkey AS VARCHAR)")
                 for j in range(_BF_K))} END AS bit
      FROM members CROSS JOIN (
        SELECT unnest(generate_series(0, {_BF_K - 1})) AS j) j
    ),
    probes AS (
      SELECT c.c_custkey,
             CAST(CASE WHEN c.c_mktsegment = 'BUILDING'
                  THEN 1 ELSE 0 END AS INT) AS truth,
             j.j AS j,
             CASE j.j {" ".join(
                 f"WHEN {j} THEN "
                 + _bf_bit_duck(j, "CAST(c_custkey AS VARCHAR)")
                 for j in range(_BF_K))} END AS bit
      FROM customer c CROSS JOIN (
        SELECT unnest(generate_series(0, {_BF_K - 1})) AS j) j
    )
    SELECT p.c_custkey, p.truth,
           CAST(CASE WHEN count(b.bit) = {_BF_K} THEN 1 ELSE 0 END
                AS INT) AS bloom_hit,
           CAST(CASE WHEN count(b.bit) = {_BF_K} AND p.truth = 0
                THEN 1 ELSE 0 END AS INT) AS false_positive
    FROM probes p LEFT JOIN bits b ON p.bit = b.bit
    GROUP BY p.c_custkey, p.truth
    """,
)
def q_agg_bloom_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PORTABLE BLOOM FILTER — the membership sketch that rounds out
    the family (HLL: distinct count, count-min: frequency, bloom:
    membership), built relationally so it is engine-portable and
    H-checked: the filter is the SET OF SET BITS (≤ m rows — the
    relational dual of the bitmap; a native build ORs the bits into a
    single bitmap, Spark's own ``bloom_filter_agg`` being the
    non-portable fast path, cf. q_join_bloom). Members are BUILDING-
    segment customers, k=3 md5-derived bit positions each (m=4096); every
    customer then probes all k bits and hits only if ALL are set. The
    output audits the Bloom guarantee per probe: truth=1 ⇒ hit=1 (no
    false negatives, structural — a member's own bits are in the set),
    false positives explicitly flagged (expected rate ≈ (1−e^{-kn/m})^k).

    Scale shape: build = one distinct-aggregate over k replicas of the
    member keys, collapsing to ≤ m rows regardless of member count;
    probe = fan-out × k then an equi-join against the ≤ m-row bit set
    — broadcast, so the probe side never shuffles. This is exactly the
    semi-join-reduction shape a distributed engine ships to the scan
    side of a selective join."""
    c = load(spark, sf_dir, "customer")
    js = F.explode(
        F.array(*[F.lit(j) for j in range(_BF_K)])
    ).alias("j")
    bit = None
    for j in range(_BF_K):
        b = _bf_bit_spark(j, F.col("c_custkey"))
        bit = (
            F.when(F.col("j") == j, b)
            if bit is None
            else bit.when(F.col("j") == j, b)
        )
    bits = (
        c.where(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey", js)
        .select(bit.alias("bit"))
        .distinct()
    )
    probes = c.select(
        "c_custkey",
        (F.col("c_mktsegment") == "BUILDING").cast("int").alias("truth"),
        js,
    ).select("c_custkey", "truth", bit.alias("bit"))
    hit = (F.count("b_bit") == _BF_K).cast("int")
    return (
        probes.join(
            F.broadcast(bits.withColumnRenamed("bit", "b_bit")),
            probes["bit"] == F.col("b_bit"),
            "left",
        )
        .groupBy("c_custkey", "truth")
        .agg(hit.alias("bloom_hit"))
        .select(
            "c_custkey",
            "truth",
            "bloom_hit",
            ((F.col("bloom_hit") == 1) & (F.col("truth") == 0))
            .cast("int")
            .alias("false_positive"),
        )
    )


@query(
    "q_diff_in_diff",
    oracle="""
    WITH cells AS (
      SELECT CAST(user_id % 2 AS INT) AS treated,
             CAST(CASE WHEN ts >= TIMESTAMP '2024-01-16 00:00:00'
                  THEN 1 ELSE 0 END AS INT) AS post,
             sum(CAST(floor(value * 1000000 + 0.5) AS BIGINT)) AS s,
             count(*) AS n
      FROM events GROUP BY 1, 2
    ),
    m AS (
      SELECT treated, post, n,
             CAST(s AS DOUBLE) / n / 1000000 AS mv
      FROM cells
    )
    SELECT round(t0.mv, 6) AS ctrl_pre, round(t1.mv, 6) AS ctrl_post,
           round(x0.mv, 6) AS treat_pre, round(x1.mv, 6) AS treat_post,
           CAST(t0.n + t1.n + x0.n + x1.n AS BIGINT) AS n_total,
           round((x1.mv - x0.mv) - (t1.mv - t0.mv), 6) AS did
    FROM m t0, m t1, m x0, m x1
    WHERE t0.treated = 0 AND t0.post = 0
      AND t1.treated = 0 AND t1.post = 1
      AND x0.treated = 1 AND x0.post = 0
      AND x1.treated = 1 AND x1.post = 1
    """,
)
def q_diff_in_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DIFFERENCE-IN-DIFFERENCES — the quasi-experimental estimator
    completing the experimentation family (q_abtest_ztest: randomized
    lift; q_cuped: variance reduction; THIS: observational before/
    after with a control trend): cohorts = user parity (the
    deterministic stand-in for a rollout flag), intervention at the
    series midpoint, and DiD = (treated post − pre) − (control post −
    pre), which cancels the shared time trend a naive before/after
    comparison absorbs. Cell sums run in ×10⁶ fixed-point INT64 (no
    float-order risk); each cell's mean divides once in double.

    Scale shape: ONE hash-aggregate to exactly 4 cells regardless of
    input size, then constant-size arithmetic — the entire 100 TB
    events table reduces map-side. Output is a single audit row with
    all four cell means, so the parallel-trends eyeball check is in
    the result itself."""
    e = load(spark, sf_dir, "events")
    cutoff = F.lit("2024-01-16 00:00:00").cast("timestamp")
    cells = (
        e.select(
            (F.col("user_id") % 2).cast("int").alias("treated"),
            (F.col("ts") >= cutoff).cast("int").alias("post"),
            F.floor(F.col("value") * 1000000 + F.lit(0.5))
            .cast("bigint")
            .alias("v"),
        )
        .groupBy("treated", "post")
        .agg(F.sum("v").alias("s"), F.count(F.lit(1)).alias("n"))
        .select(
            "treated",
            "post",
            "n",
            (F.col("s").cast("double") / F.col("n") / 1000000).alias("mv"),
        )
    )
    def cell(t, p, name):
        return (
            cells.where((F.col("treated") == t) & (F.col("post") == p))
            .select(
                F.col("mv").alias(f"{name}_mv"), F.col("n").alias(f"{name}_n")
            )
        )
    row = (
        cell(0, 0, "t0")
        .crossJoin(cell(0, 1, "t1"))
        .crossJoin(cell(1, 0, "x0"))
        .crossJoin(cell(1, 1, "x1"))
    )
    return row.select(
        F.round("t0_mv", 6).alias("ctrl_pre"),
        F.round("t1_mv", 6).alias("ctrl_post"),
        F.round("x0_mv", 6).alias("treat_pre"),
        F.round("x1_mv", 6).alias("treat_post"),
        (F.col("t0_n") + F.col("t1_n") + F.col("x0_n") + F.col("x1_n"))
        .cast("bigint")
        .alias("n_total"),
        F.round(
            (F.col("x1_mv") - F.col("x0_mv"))
            - (F.col("t1_mv") - F.col("t0_mv")),
            6,
        ).alias("did"),
    )


@query(
    "q_pareto",
    oracle="""
    WITH rev AS (
      SELECT n_name,
             s.s_suppkey,
             sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT))
               AS cents
      FROM lineitem l
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
      JOIN nation n ON s.s_nationkey = n.n_nationkey
      GROUP BY n_name, s.s_suppkey
    ),
    ranked AS (
      SELECT n_name, s_suppkey, cents,
             row_number() OVER (PARTITION BY n_name
                                ORDER BY cents DESC, s_suppkey) AS rnk,
             sum(cents) OVER (PARTITION BY n_name
                              ORDER BY cents DESC, s_suppkey
                              ROWS UNBOUNDED PRECEDING) AS cum,
             sum(cents) OVER (PARTITION BY n_name) AS tot,
             count(*) OVER (PARTITION BY n_name) AS n_sup
      FROM rev
    )
    SELECT n_name,
           CAST(min(CASE WHEN CAST(cum AS DOUBLE) / tot >= 0.8
                    THEN rnk END) AS INT) AS suppliers_for_80pct,
           CAST(max(n_sup) AS BIGINT) AS n_suppliers,
           round(CAST(min(CASE WHEN CAST(cum AS DOUBLE) / tot >= 0.8
                         THEN rnk END) AS DOUBLE) / max(n_sup), 6)
             AS concentration
    FROM ranked
    GROUP BY n_name
    """,
)
def q_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PARETO / CONCENTRATION ANALYSIS — per nation, the smallest
    number of suppliers whose cumulative revenue reaches 80 % of the
    nation's total (the 80/20 analysis behind vendor-risk and
    long-tail decisions), plus the concentration ratio (that count
    over the supplier population — low = revenue concentrated in few
    hands). Revenue accumulates in exact integer CENTS; the running
    share divides in double ONLY for the ≥ 0.8 test, on a
    deterministic (revenue desc, suppkey) total order so the
    threshold rank is unambiguous in both engines.

    Scale shape: fact→dim joins broadcast (supplier/nation are dims),
    one hash-aggregate to supplier grain, then nation-partitioned
    windows over supplier-count-sized groups (thousands, not fact
    rows) and a tiny final aggregate — fact data crosses the wire
    once, at supplier grain."""
    l = load(spark, sf_dir, "lineitem")
    s = load(spark, sf_dir, "supplier")
    n = load(spark, sf_dir, "nation")
    rev = (
        l.join(F.broadcast(s), l["l_suppkey"] == s["s_suppkey"])
        .join(F.broadcast(n), s["s_nationkey"] == n["n_nationkey"])
        .groupBy("n_name", "s_suppkey")
        .agg(
            F.sum(
                F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5)).cast(
                    "bigint"
                )
            ).alias("cents")
        )
    )
    w_ord = Window.partitionBy("n_name").orderBy(
        F.col("cents").desc(), "s_suppkey"
    )
    w_run = w_ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    w_all = Window.partitionBy("n_name")
    ranked = (
        rev.withColumn("rnk", F.row_number().over(w_ord))
        .withColumn("cum", F.sum("cents").over(w_run))
        .withColumn("tot", F.sum("cents").over(w_all))
        .withColumn("n_sup", F.count(F.lit(1)).over(w_all))
    )
    hit = F.when(
        F.col("cum").cast("double") / F.col("tot") >= 0.8, F.col("rnk")
    )
    return ranked.groupBy("n_name").agg(
        F.min(hit).cast("int").alias("suppliers_for_80pct"),
        F.max("n_sup").cast("bigint").alias("n_suppliers"),
        F.round(
            F.min(hit).cast("double") / F.max("n_sup"), 6
        ).alias("concentration"),
    )


@query(
    "q_drift_chi2",
    oracle="""
    WITH binned AS (
      SELECT CAST(CASE WHEN ts >= TIMESTAMP '2024-01-16 00:00:00'
                  THEN 1 ELSE 0 END AS INT) AS period,
             CAST(least(floor(value / 50), 9) AS INT) AS bin
      FROM events
    ),
    cells AS (
      SELECT period, bin, count(*) AS n FROM binned GROUP BY 1, 2
    ),
    tot AS (SELECT period, sum(n) AS pn FROM cells GROUP BY period),
    grid AS (
      SELECT b.bin,
             coalesce(p0.n, 0) AS n0, t0.pn AS pn0,
             coalesce(p1.n, 0) AS n1, t1.pn AS pn1
      FROM (SELECT DISTINCT bin FROM cells) b
      LEFT JOIN cells p0 ON p0.bin = b.bin AND p0.period = 0
      LEFT JOIN cells p1 ON p1.bin = b.bin AND p1.period = 1
      CROSS JOIN (SELECT pn FROM tot WHERE period = 0) t0
      CROSS JOIN (SELECT pn FROM tot WHERE period = 1) t1
    )
    SELECT bin,
           round(CAST(n0 AS DOUBLE) / pn0, 6) AS share_ref,
           round(CAST(n1 AS DOUBLE) / pn1, 6) AS share_cur,
           round((CAST(n1 AS DOUBLE) / pn1 - CAST(n0 AS DOUBLE) / pn0)
                 * (CAST(n1 AS DOUBLE) / pn1 - CAST(n0 AS DOUBLE) / pn0)
                 / nullif(CAST(n0 AS DOUBLE) / pn0, 0), 6)
             AS chi2_term
    FROM grid
    """,
)
def q_drift_chi2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISTRIBUTION-DRIFT MONITORING — the χ²-style per-bin drift
    report an ML-serving pipeline computes between a reference window
    and the current window (the exp/ln-free cousin of PSI, chosen
    deliberately: (Δshare)²/ref_share is +,×,÷ only, so the statistic
    is bit-identical cross-engine, while ln-based PSI differs in the
    last ulp between libm implementations). ``value`` is binned on
    FIXED breakpoints (10 × width-50 bins, top bin open) — drift bins
    must come from the reference config, never re-quantiled per
    period, or the comparison measures the binning. Emits per-bin
    reference/current shares and the χ² term; Σ terms vs a threshold
    is the alert.

    Scale shape: one hash-aggregate to ≤ 2·|bins| cells, two 1-row
    period totals broadcast back — the full table reduces map-side;
    output is |bins| audit rows."""
    e = load(spark, sf_dir, "events")
    cutoff = F.lit("2024-01-16 00:00:00").cast("timestamp")
    binned = e.select(
        (F.col("ts") >= cutoff).cast("int").alias("period"),
        F.least(F.floor(F.col("value") / 50), F.lit(9))
        .cast("int")
        .alias("bin"),
    )
    cells = binned.groupBy("period", "bin").agg(
        F.count(F.lit(1)).alias("n")
    )
    tot = cells.groupBy("period").agg(F.sum("n").alias("pn"))
    bins = cells.select("bin").distinct()
    p0 = cells.where(F.col("period") == 0).select(
        "bin", F.col("n").alias("n0")
    )
    p1 = cells.where(F.col("period") == 1).select(
        "bin", F.col("n").alias("n1")
    )
    t0 = tot.where(F.col("period") == 0).select(F.col("pn").alias("pn0"))
    t1 = tot.where(F.col("period") == 1).select(F.col("pn").alias("pn1"))
    grid = (
        bins.join(p0, "bin", "left")
        .join(p1, "bin", "left")
        .crossJoin(F.broadcast(t0))
        .crossJoin(F.broadcast(t1))
        .na.fill({"n0": 0, "n1": 0})
    )
    sr = F.col("n0").cast("double") / F.col("pn0")
    sc = F.col("n1").cast("double") / F.col("pn1")
    return grid.select(
        "bin",
        F.round(sr, 6).alias("share_ref"),
        F.round(sc, 6).alias("share_cur"),
        F.round((sc - sr) * (sc - sr) / F.nullif(sr, F.lit(0)), 6).alias(
            "chi2_term"
        ),
    )


@query(
    "q_join_skew_profile",
    oracle="""
    WITH kc AS (
      SELECT user_id, count(*) AS n FROM events GROUP BY user_id
    ),
    tot AS (SELECT sum(n) AS t, count(*) AS k, max(n) AS mx FROM kc)
    SELECT CAST(tot.k AS BIGINT) AS n_keys,
           CAST(tot.t AS BIGINT) AS n_rows,
           CAST(tot.mx AS BIGINT) AS max_key_rows,
           round(CAST(tot.mx AS DOUBLE) / tot.t, 6) AS top1_share,
           round(CAST(tot.t AS DOUBLE) / tot.k, 6) AS mean_key_rows,
           round(CAST(tot.mx AS DOUBLE) * tot.k / tot.t, 6) AS skew_factor,
           CAST((SELECT count(*) FROM kc, tot
                 WHERE kc.n * tot.k > 2 * tot.t) AS BIGINT)
             AS n_hot_keys
    FROM tot
    """,
)
def q_join_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JOIN-KEY SKEW PROFILE — the one-row diagnostic that decides
    whether a join key needs salting (q_join_skew_salted) or AQE skew
    handling before the shuffle is ever planned: key cardinality, the
    hottest key's row count and share, the skew factor (hottest ÷
    mean), and how many keys run >2× the mean. At 100 TB you run this
    on a SAMPLE or on partition-level stats; the plan shape — one
    partial+final count aggregate and a 1-row reduction — is the same
    either way, and nothing here joins or sorts.

    skew_factor ≈ 1 means uniform keys (shuffle partitions balance);
    ≥ ~4 means the hottest task runs 4× longer than average and the
    key needs salting. The fixture's user_id is near-uniform by
    construction — the profile PROVING that is the point (you check
    before you salt, not after the straggler)."""
    kc = cache.persist_scoped(
        load(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n")),
        tag=f"q_join_skew_profile:{sf_dir}",
    )  # consumers: totals + hot-key count
    tot = kc.agg(
        F.sum("n").alias("t"),
        F.count(F.lit(1)).alias("k"),
        F.max("n").alias("mx"),
    )
    hot = (
        kc.join(F.broadcast(tot), how="cross")
        .where(F.col("n") * F.col("k") > 2 * F.col("t"))
        .agg(F.count(F.lit(1)).alias("n_hot"))
    )
    return (
        tot.join(F.broadcast(hot), how="cross")
        .select(
            F.col("k").cast("bigint").alias("n_keys"),
            F.col("t").cast("bigint").alias("n_rows"),
            F.col("mx").cast("bigint").alias("max_key_rows"),
            F.round(F.col("mx").cast("double") / F.col("t"), 6).alias(
                "top1_share"
            ),
            F.round(F.col("t").cast("double") / F.col("k"), 6).alias(
                "mean_key_rows"
            ),
            F.round(
                F.col("mx").cast("double") * F.col("k") / F.col("t"), 6
            ).alias("skew_factor"),
            F.col("n_hot").cast("bigint").alias("n_hot_keys"),
        )
    )
