"""Join operators (SURVEY §2B 'Joins').

Equi joins are declared and left to Catalyst: broadcast-hash when a
side fits ``spark.sql.autoBroadcastJoinThreshold`` (AQE also converts
sort-merge→broadcast at runtime), else shuffled sort-merge with AQE
skew splitting. The two genuinely hard shapes — interval join and as-of
join — are *builders* that rewrite into shuffle-friendly equi joins
(SURVEY §4.3): no BroadcastNestedLoop in the scale path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tile_etl_spark.io import (
    as_double, cached_dim_view, dec, load, table_view,
)
from tile_etl_spark.registry import query


@query(
    "q_join_inner",
    oracle="""
    SELECT n.n_name,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_spend
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    GROUP BY n.n_name
    """,
)
def q_join_inner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash equi-join chain orders⋈customer⋈nation + group agg. customer
    and nation are dimension-sized → Catalyst broadcasts them; the fact
    table never shuffles before aggregation.

    r13: one spark.sql statement over cached dim views (the r12
    eager-build-tax lesson + the q_join_broadcast dim-cache lever
    applied together): the former 6-step DataFrame chain paid per-op
    Py4J analysis, and both dims' broadcast BUILD jobs re-scanned
    parquet every action. The projected join columns now pin in the
    columnar cache (O(dim) memory at any corpus scale — customers
    don't grow with fact data). Interleaved A/B, values bit-identical:
    sf0.1 median 0.426 s → 0.346 (−19%); sf1 0.954 → 0.775 (−19%,
    min −33%) — a both-SF winner, no inversion."""
    o = table_view(spark, sf_dir, "orders")
    c = cached_dim_view(spark, sf_dir, "customer",
                        ("c_custkey", "c_nationkey"))
    n = cached_dim_view(spark, sf_dir, "nation",
                        ("n_nationkey", "n_name"))
    return spark.sql(
        f"""
        SELECT n.n_name,
               CAST(count(*) AS BIGINT) AS n_orders,
               CAST(sum(CAST(o.o_totalprice AS DECIMAL(18,2)))
                    AS DOUBLE) AS total_spend
        FROM {o} o
        JOIN {c} c ON o.o_custkey = c.c_custkey
        JOIN {n} n ON c.c_nationkey = n.n_nationkey
        GROUP BY n.n_name
        """
    )


@query(
    "q_join_left",
    oracle="""
    SELECT c.c_custkey, c.c_name,
           CAST(count(o.o_orderkey) AS BIGINT) AS n_orders,
           CAST(sum(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_spend
    FROM customer c
    LEFT JOIN orders o ON o.o_custkey = c.c_custkey
    GROUP BY c.c_custkey, c.c_name
    """,
)
def q_join_left(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left outer with null extension: customers without orders keep
    n_orders = 0 (count of a NULL column) and NULL total_spend."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    return (
        c.join(o, o.o_custkey == c.c_custkey, "left")
        .groupBy("c_custkey", "c_name")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            as_double(F.sum(dec("o_totalprice"))).alias("total_spend"),
        )
    )


@query(
    "q_join_right",
    oracle="""
    SELECT c.c_custkey, o.o_orderkey
    FROM orders o
    RIGHT JOIN customer c ON o.o_custkey = c.c_custkey
    """,
)
def q_join_right(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right outer: every customer survives; unmatched ones carry a
    NULL o_orderkey."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    return o.join(c, o.o_custkey == c.c_custkey, "right").select(
        "c_custkey", "o_orderkey"
    )


@query(
    "q_join_full",
    oracle="""
    WITH a AS (
      SELECT p_size AS k, CAST(count(*) AS BIGINT) AS n_parts
      FROM part GROUP BY p_size
    ),
    b AS (
      SELECT CAST(l_quantity AS INT) AS k, CAST(count(*) AS BIGINT) AS n_lines
      FROM lineitem GROUP BY CAST(l_quantity AS INT)
    )
    SELECT a.k AS part_size, b.k AS qty, a.n_parts, b.n_lines
    FROM a FULL JOIN b ON a.k = b.k
    """,
)
def q_join_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full outer over partially overlapping integer domains — rows
    null-extended on either side."""
    a = (
        load(spark, sf_dir, "part")
        .groupBy(F.col("p_size").alias("k"))
        .agg(F.count(F.lit(1)).alias("n_parts"))
    )
    b = (
        load(spark, sf_dir, "lineitem")
        .groupBy(F.col("l_quantity").cast("int").alias("k"))
        .agg(F.count(F.lit(1)).alias("n_lines"))
    )
    return a.join(b, a.k == b.k, "full").select(
        a.k.alias("part_size"), b.k.alias("qty"), "n_parts", "n_lines"
    )


@query(
    "q_join_semi",
    oracle="""
    SELECT c_custkey, c_name FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
)
def q_join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left semi — customers WITH orders; probe side deduplicates, no
    row multiplication, and only the left schema survives."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    return c.join(
        o, c.c_custkey == o.o_custkey, "left_semi"
    ).select("c_custkey", "c_name")


@query(
    "q_join_anti",
    oracle="""
    SELECT c_custkey, c_name FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
)
def q_join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left anti — customers WITHOUT orders."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    return c.join(
        o, c.c_custkey == o.o_custkey, "left_anti"
    ).select("c_custkey", "c_name")


@query(
    "q_join_broadcast",
    oracle="""
    SELECT p.p_brand,
           CAST(count(*) AS BIGINT) AS n_lines,
           CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,2))
                    * (1 - CAST(l.l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
    FROM lineitem l
    JOIN part p ON l.l_partkey = p.p_partkey
    GROUP BY p.p_brand
    """,
)
def q_join_broadcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit broadcast hint: `part` is dimension-sized at every SF
    the reference workload implies — the fact side streams map-side with
    zero shuffle before the final agg.

    The revenue sum uses the Q1 cell decomposition (see
    aggregates._Q1_CELLS_SQL): per-row decimal multiplies route
    through java BigDecimal, but brand x discount has ~275 distinct
    cells, so the map side sums exact BIGINT cents per (brand,
    discount) and the decimal products run on the cell rows —
    bit-identical by distributivity, zero per-row BigDecimal. The
    COALESCE(1) hint folds the brand re-aggregation into the reduce
    stage (cells are bounded at any scale). r12: the whole query is
    ONE spark.sql statement (the q_agg_rollup A/B lesson — the former
    ~10-step eager DataFrame build cost more than the plan it chose;
    interleaved A/B at sf0.1: 0.266 s median -> 0.196, -26%, values
    bit-identical). The BROADCAST hint plans the same
    BroadcastHashJoin as F.broadcast(). r13 (VERDICT r12 #3b): the
    broadcast BUILD job re-executes per action (Spark never reuses a
    broadcast exchange across actions — ReusedExchange is intra-plan
    only), so the build side is now the projected MEMORY-CACHED dim
    view (io.cached_dim_view): the per-action rebuild reads the
    columnar cache instead of re-scanning parquet. Interleaved A/B,
    values bit-identical: sf0.1 median 0.409 s -> 0.319 (-22%); sf1
    0.717 -> 0.693 (wash — the build is an O(dim) constant that
    amortizes); shipped because pinning hot dims is the long-lived
    cluster serving path regardless."""
    li = table_view(spark, sf_dir, "lineitem")
    pt = cached_dim_view(spark, sf_dir, "part",
                         ("p_partkey", "p_brand"))
    # int-cent group key: avoids the NaN/zero-normalization wrapper a
    # raw double group key gets in the hash (see _Q1_CELLS_SQL)
    return spark.sql(
        f"""
        WITH cells AS (
          SELECT /*+ BROADCAST(p), COALESCE(1) */ p.p_brand,
                 CAST(round(l.l_discount * 100) AS INT) AS dc,
                 sum(CAST(round(l.l_extendedprice * 100) AS BIGINT))
                   AS pc,
                 count(*) AS n
          FROM {li} l JOIN {pt} p ON l.l_partkey = p.p_partkey
          GROUP BY p.p_brand, CAST(round(l.l_discount * 100) AS INT)
        )
        SELECT p_brand,
               CAST(sum(n) AS BIGINT) AS n_lines,
               CAST(sum(CAST(pc AS DECIMAL(30,0))
                        * CAST(0.01 AS DECIMAL(3,2))
                        * (1 - CAST(dc AS DECIMAL(4,0))
                               * CAST(0.01 AS DECIMAL(3,2))))
                    AS DOUBLE) AS revenue
        FROM cells GROUP BY p_brand
        """
    )


@query(
    "q_join_cross",
    oracle="""
    SELECT r.r_regionkey, r.r_name, n.n_nationkey, n.n_name
    FROM region r CROSS JOIN nation n
    """,
)
def q_join_cross(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cartesian product of two tiny dims (5×25) — the only place a
    cross join is ever acceptable; Spark broadcasts one side."""
    r = load(spark, sf_dir, "region")
    n = load(spark, sf_dir, "nation")
    return r.crossJoin(n).select(
        "r_regionkey", "r_name", "n_nationkey", "n_name"
    )


@query(
    "q_join_theta",
    oracle="""
    SELECT p1.p_brand,
           p1.p_partkey AS pk_small, p2.p_partkey AS pk_large,
           p1.p_size AS size_small, p2.p_size AS size_large
    FROM part p1
    JOIN part p2
      ON p1.p_brand = p2.p_brand AND p1.p_size < p2.p_size
    WHERE p1.p_size <= 10 AND p1.p_partkey < 20000
    """,
)
def q_join_theta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Non-equi (theta) join — but NOT a nested loop: the equality on
    p_brand hash-partitions the join; the `<` rides along as a residual
    condition — the way to express theta joins that have any equi
    component.

    Scale honesty, measured (round-9 full-registry sweep): a theta join
    whose only equi key has FIXED cardinality (25 brands) produces
    quadratically growing OUTPUT — same-brand pairs grow as SF² — and
    the unbounded form ground for 47 s at sf1 (98.8× the sf0.1 wall;
    the naive DuckDB twin blew its 120 s budget outright). The wall was
    output-LINEAR (the plan is optimal); the semantics were the
    problem. So the probe side is a FIXED REFERENCE SET — the base
    catalog key range (p_partkey < 20000, the whole table at sf ≤ 0.1)
    probed against the full catalog — which is how production theta
    joins are kept affordable: bound one side, let the other scale.
    Output then grows linearly with the big side."""
    p = load(spark, sf_dir, "part")
    p1 = (
        p.alias("p1")
        .where(F.col("p_size") <= 10)
        .where(F.col("p_partkey") < 20000)
    )
    p2 = p.alias("p2")
    return p1.join(
        p2,
        (F.col("p1.p_brand") == F.col("p2.p_brand"))
        & (F.col("p1.p_size") < F.col("p2.p_size")),
    ).select(
        F.col("p1.p_brand").alias("p_brand"),
        F.col("p1.p_partkey").alias("pk_small"),
        F.col("p2.p_partkey").alias("pk_large"),
        F.col("p1.p_size").alias("size_small"),
        F.col("p2.p_size").alias("size_large"),
    )


@query(
    "q_join_nullsafe",
    oracle="""
    WITH a AS (
      SELECT event_id, CASE WHEN event_type = 'error' THEN NULL
                            ELSE user_id END AS k
      FROM events WHERE event_id % 97 = 0
    ),
    b AS (
      SELECT event_id, CASE WHEN event_type = 'error' THEN NULL
                            ELSE user_id END AS k
      FROM events WHERE event_id % 97 = 1
    )
    SELECT a.event_id AS id_a, b.event_id AS id_b, a.k
    FROM a JOIN b ON a.k IS NOT DISTINCT FROM b.k
    """,
)
def q_join_nullsafe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equality join (<=> / IS NOT DISTINCT FROM): NULL keys
    MATCH each other — still a hash join (the null bucket is just
    another key), unlike `=` which drops all NULL rows. Inputs are
    1/97-sampled: the NULL bucket is inherently quadratic — at scale
    null-keyed rows are the canonical skew case (salt or pre-filter
    them; here the sample keeps the demo bounded)."""
    e = load(spark, sf_dir, "events")
    k = F.when(F.col("event_type") == "error", F.lit(None)).otherwise(
        F.col("user_id")
    )
    a = e.where(F.col("event_id") % 97 == 0).select(
        F.col("event_id").alias("id_a"), k.alias("k")
    )
    b = e.where(F.col("event_id") % 97 == 1).select(
        F.col("event_id").alias("id_b"), k.alias("kb")
    )
    return a.join(b, a.k.eqNullSafe(b.kb)).select("id_a", "id_b", "k")


BAND_US = 5 * 60 * 1_000_000  # 5-minute band in microseconds


def interval_self_join(events: DataFrame, band_us: int = BAND_US) -> DataFrame:
    """Banding rewrite for |ts1-ts2| ≤ band self-pairs (SURVEY §4.3).

    Pure inequality joins degenerate to BroadcastNestedLoop in OSS
    Spark — O(n·m) and a guaranteed 100 TB disaster. Instead: quantize
    time into band-width buckets, explode the left side into its
    adjacent buckets (b-1, b, b+1), equi-join on (user, bucket) and
    apply |Δt| ≤ band as a residual filter. Each qualifying pair meets
    in exactly one bucket, so no dedup pass is needed; the join is a
    plain shuffled hash join on a composite key.
    """
    us = F.unix_micros(F.col("ts"))
    left = events.select(
        F.col("user_id"),
        F.col("event_id").alias("id1"),
        us.alias("us1"),
        F.explode(
            F.sequence(
                (us / band_us).cast("bigint") - 1,
                (us / band_us).cast("bigint") + 1,
            )
        ).alias("bucket"),
    )
    right = events.select(
        F.col("user_id"),
        F.col("event_id").alias("id2"),
        us.alias("us2"),
        (us / band_us).cast("bigint").alias("bucket"),
    )
    return (
        left.join(right, ["user_id", "bucket"])
        .where(
            (F.col("id1") < F.col("id2"))
            & (F.abs(F.col("us1") - F.col("us2")) <= band_us)
        )
        .select("user_id", "id1", "id2")
    )


# Spark-dialect SQL twin of interval_self_join — the SAME banding plan
# (explode ±1 bucket, equi-join on (user, bucket), exact |Δt| residual)
# issued as one spark.sql() call; the generic DataFrame helper above
# remains the composable API. Bucket arithmetic matches the helper
# bit-for-bit: bigint/int division is DOUBLE in both paths, truncated
# by the bigint cast.
_INTERVAL_SELF_SQL = f"""
    WITH l AS (
      SELECT user_id, event_id AS id1, unix_micros(ts) AS us1,
             explode(sequence(
               CAST(unix_micros(ts) / {BAND_US} AS BIGINT) - 1,
               CAST(unix_micros(ts) / {BAND_US} AS BIGINT) + 1)) AS bucket
      FROM {{t}}
    ),
    r AS (
      SELECT user_id, event_id AS id2, unix_micros(ts) AS us2,
             CAST(unix_micros(ts) / {BAND_US} AS BIGINT) AS bucket
      FROM {{t}}
    )
    SELECT l.user_id, id1, id2
    FROM l JOIN r ON l.user_id = r.user_id AND l.bucket = r.bucket
    WHERE id1 < id2 AND abs(us1 - us2) <= {BAND_US}
"""

# Window rewrite of the same interval self-pairing — strictly less
# data movement than the banding join: ONE shuffle of the raw events
# on user_id (vs explode x3 + a 4x-row hash join), then each event
# collects its forward neighbours within the band from a range frame
# and explodes the (bounded) list. Every unordered pair surfaces
# exactly once: strictly-later neighbours only from the earlier row's
# frame; same-timestamp ties from both rows' frames, deduped by the
# id order test. least/greatest restore the oracle's id1 < id2 frame-
# independently. Skew profile is identical to the banding form (a hot
# user lands on one task either way); per-row cost is bounded by the
# events-per-user-per-band density, which is what the banding join's
# residual filter paid anyway. Measured -57% wall vs banding at sf0.1.
_INTERVAL_WINDOW_SQL = f"""
    WITH e AS (
      SELECT user_id, event_id, unix_micros(ts) AS us FROM {{t}}
    ),
    w AS (
      SELECT user_id, event_id, us,
             collect_list(named_struct('id', event_id, 'us', us)) OVER (
               PARTITION BY user_id ORDER BY us
               RANGE BETWEEN CURRENT ROW AND {BAND_US} FOLLOWING
             ) AS nbrs
      FROM e
    )
    SELECT user_id, least(event_id, n.id) AS id1,
           greatest(event_id, n.id) AS id2
    FROM w LATERAL VIEW explode(nbrs) x AS n
    WHERE n.id != event_id AND (n.us != us OR n.id > event_id)
"""


def interval_self_join_window(events: DataFrame) -> DataFrame:
    """Range-frame window form of interval_self_join over any events
    DataFrame (needs user_id, event_id, ts) — the helper the hot-key
    stress pins against the banding join."""
    spark = events.sparkSession
    v = f"__interval_win_{events.semanticHash() & 0xFFFFFFFF:x}"
    events.createOrReplaceTempView(v)
    return spark.sql(_INTERVAL_WINDOW_SQL.format(t=v))


@query(
    "q_join_interval",
    oracle=f"""
    SELECT a.user_id, a.event_id AS id1, b.event_id AS id2
    FROM events a
    JOIN events b
      ON a.user_id = b.user_id
     AND a.event_id < b.event_id
     AND abs(epoch_us(a.ts) - epoch_us(b.ts)) <= {BAND_US}
    """,
)
def q_join_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event pairs of the same user within 5 minutes — via the
    range-frame window rewrite (_INTERVAL_WINDOW_SQL; oracle states
    the naive theta join; results identical). The banding equi-join
    (interval_self_join / _INTERVAL_SELF_SQL) remains the composable
    API and the shape stream-stream joins use."""
    return spark.sql(
        _INTERVAL_WINDOW_SQL.format(t=table_view(spark, sf_dir, "events"))
    )


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_ts: str = "ts",
    right_ts: str = "ts",
    direction: str = "backward",
) -> DataFrame:
    """As-of join builder (SURVEY §4.3): for every left row, the most
    recent right row with ``right.ts <= left.ts`` on the same key
    (``direction='backward'``), or the EARLIEST right row with
    ``right.ts >= left.ts`` (``direction='forward'``).

    Implemented as union-tag + running ``last(..., ignorenulls)`` window
    — a single sort-per-key shuffle instead of an O(n·m) inequality
    join; the forward variant is the same scan over the REVERSED
    (ts desc) order, not a second algorithm. Right rows order before
    left rows at equal timestamps (a same-instant right row counts);
    ties inside the right stream resolve to the highest right_id
    backward, the lowest forward — both total orders.

    Returns the left rows plus ``asof_id`` / ``asof_ts`` of the match
    (NULL where no right row exists on the relevant side).
    """
    from pyspark.sql import Window

    lcols = left.columns
    l = left.select(
        F.col(on).alias("__k"),
        F.col(left_ts).alias("__ts"),
        F.lit(1).alias("__is_left"),
        F.lit(None).cast("bigint").alias("__rid"),
        F.lit(None).cast("timestamp").alias("__rts"),
        F.struct(*lcols).alias("__payload"),
    )
    r = right.select(
        F.col(on).alias("__k"),
        F.col(right_ts).alias("__ts"),
        F.lit(0).alias("__is_left"),
        F.col("__right_id").alias("__rid"),
        F.col(right_ts).alias("__rts"),
        F.lit(None).cast(l.schema["__payload"].dataType).alias("__payload"),
    )
    if direction == "forward":
        order = [F.col("__ts").desc(), F.col("__is_left").asc(),
                 F.col("__rid").desc()]
    else:
        order = [F.col("__ts").asc(), F.col("__is_left").asc(),
                 F.col("__rid").asc()]
    w = (
        Window.partitionBy("__k")
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    u = l.unionByName(r)
    u = u.withColumn("asof_id", F.last("__rid", ignorenulls=True).over(w))
    u = u.withColumn("asof_ts", F.last("__rts", ignorenulls=True).over(w))
    return u.where(F.col("__is_left") == 1).select(
        "__payload.*", "asof_id", "asof_ts"
    )


@query(
    "q_join_asof",
    oracle="""
    SELECT e.event_id, e.user_id, e.ts,
           (SELECT c.event_id FROM events c
             WHERE c.user_id = e.user_id AND c.event_type = 'click'
               AND c.ts <= e.ts
             ORDER BY c.ts DESC, c.event_id DESC LIMIT 1) AS asof_id,
           (SELECT c.ts FROM events c
             WHERE c.user_id = e.user_id AND c.event_type = 'click'
               AND c.ts <= e.ts
             ORDER BY c.ts DESC, c.event_id DESC LIMIT 1) AS asof_ts
    FROM events e
    WHERE e.event_type = 'error'
    """,
)
def q_join_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Each 'error' event → most recent prior-or-same-instant 'click'
    of the same user (oracle = correlated top-1 subquery twin).
    Issued as the single-spark.sql twin of asof_join's union-tag +
    running last(ignorenulls) shape — same plan, right rows ordering
    before left at equal instants, right ties to the highest id."""
    return spark.sql(
        _ASOF_BACKWARD_SQL.format(t=table_view(spark, sf_dir, "events"))
    )


# Spark-dialect SQL twin of asof_join(direction='backward') for the
# events fixture — ONE parse+analyze round trip instead of the
# helper's ~20 eagerly-analyzed steps (measured ~200 ms of build at
# sf0.1). The generic asof_join above remains the composable API (and
# the forward variant still uses it).
_ASOF_BACKWARD_SQL = """
    WITH u AS (
      SELECT user_id AS k, ts AS o_ts, 1 AS is_left,
             CAST(NULL AS BIGINT) AS rid, CAST(NULL AS TIMESTAMP) AS rts,
             event_id, ts
      FROM {t} WHERE event_type = 'error'
      UNION ALL
      SELECT user_id, ts, 0, event_id, ts,
             CAST(NULL AS BIGINT), CAST(NULL AS TIMESTAMP)
      FROM {t} WHERE event_type = 'click'
    ),
    m AS (
      SELECT *,
             last(rid, true) OVER w AS asof_id,
             last(rts, true) OVER w AS asof_ts
      FROM u
      WINDOW w AS (PARTITION BY k ORDER BY o_ts ASC, is_left ASC, rid ASC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    )
    SELECT event_id, k AS user_id, ts, asof_id, asof_ts
    FROM m WHERE is_left = 1
"""


@query(
    "q_join_fuzzy",
    oracle="""
    WITH dn AS (SELECT DISTINCT p_brand, p_name FROM part),
    name_pairs AS (
      SELECT x.p_brand AS brand, x.p_name AS name_a, y.p_name AS name_b,
             CAST(levenshtein(x.p_name, y.p_name) AS INT) AS dist
      FROM dn x JOIN dn y
        ON x.p_brand = y.p_brand
       AND abs(length(x.p_name) - length(y.p_name)) <= 4
      WHERE levenshtein(x.p_name, y.p_name) <= 4
    )
    SELECT a.p_partkey AS k1, b.p_partkey AS k2, p.dist
    FROM part a
    JOIN name_pairs p ON a.p_brand = p.brand AND a.p_name = p.name_a
    JOIN part b ON p.brand = b.p_brand AND p.name_b = b.p_name
               AND a.p_partkey < b.p_partkey
    """,
)
def q_join_fuzzy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FUZZY (edit-distance) JOIN — the entity-resolution primitive:
    near-identical part names within a brand, levenshtein ≤ 4.
    Levenshtein is a well-defined integer metric, so the H-check is
    exact across engines.

    Three scale defenses, each earned the hard way (the round-9
    full-registry sf1 sweep caught the original brand-only blocking
    red-handed: brand cardinality is FIXED at 25, so same-brand blocks
    grow linearly with data, candidate pairs quadratically, and the
    sweep sat in levenshtein inside that join for over an hour —
    thread dump on record):

    1. DEDUP-BEFORE-DISTANCE: real catalogs repeat names heavily (the
       sf0.1 fixture: 20,000 parts, 1,600 distinct (brand, name)), so
       the O(block²) edit-distance core runs on DISTINCT names only —
       ~100× fewer DP calls here — and two equi-joins expand matched
       name pairs back to key pairs, linear in output size.
    2. LENGTH BANDING: every edit changes length by ≤ 1, so lev ≤ 4
       implies |Δlen| ≤ 4; the right side explodes to its 9 admissible
       lengths (the interval join's banding trick) and the hash key
       becomes (brand, length) — block sizes shrink by the live length
       range and the key cardinality grows with data instead of
       saturating at 25.
    3. THRESHOLD DP: levenshtein(a, b, 4) is the banded O(k·n) form
       that abandons early (returns −1), not the full O(n·m) table.

    At 100 TB the same pattern extends the key with q-gram prefixes;
    an unblocked fuzzy join would be a cartesian scan, which the plan
    test forbids. The expand-back joins deliberately carry NO broadcast
    hint (ADVICE r9): distinct (brand, name) pairs grow with the
    catalog, so pinning name_pairs driver-side would trade the sweep's
    quadratic bug for a broadcast OOM at large SF — AQE decides
    broadcast-vs-shuffle from the measured size instead."""
    p = load(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_name")
    dn = (
        p.select("p_brand", "p_name")
        .distinct()
        .withColumn("ln", F.length("p_name"))
    )
    # Pin BOTH sides' width for the levenshtein join with NUMBERED
    # repartitions: the distinct-name exchanges are byte-tiny, so AQE
    # coalesces them to ~1 partition, and the CPU cost here lives in
    # the join RESIDUAL (the O(k·n) DP per candidate pair) ABOVE those
    # exchanges — the r10 sweep caught the whole DP stage on one core
    # (48 s at sf1; 31 idle). Numbered repartitions are exempt from
    # AQE coalescing — the same fix as q_cogroup_pandas (r9) and
    # tiles.grid's explode fan-out. Both sides, not just one: the
    # planner picks the broadcast BUILD side from measured sizes
    # (either fits), and pinning only one side leaves a one-task probe
    # whenever the pinned side happens to be chosen as the build — the
    # sweep caught exactly that flip (warm 3.5 s one run, 33 s the
    # next). CPU-bound-above-tiny-exchange is the case byte-based
    # coalescing cannot see.
    width = spark.sparkContext.defaultParallelism
    na = dn.repartition(width, "p_brand", "ln").alias("na")
    nb = (
        dn.withColumn("d", F.explode(F.sequence(F.lit(-4), F.lit(4))))
        .withColumn("ln_join", F.col("ln") + F.col("d"))
        .repartition(width, "p_brand", "ln_join")
        .alias("nb")
    )
    dist = F.levenshtein(F.col("na.p_name"), F.col("nb.p_name"), 4)
    # ordered distinct-name pairs (x == y included: dist 0 covers the
    # exact-duplicate groups); each (k1, k2) key pair below expands
    # from exactly one ordered name pair
    name_pairs = (
        na.join(
            nb,
            (F.col("na.p_brand") == F.col("nb.p_brand"))
            & (F.col("na.ln") == F.col("nb.ln_join")),
        )
        .select(
            F.col("na.p_brand").alias("brand"),
            F.col("na.p_name").alias("name_a"),
            F.col("nb.p_name").alias("name_b"),
            dist.cast("int").alias("dist"),
        )
        .where(F.col("dist") >= 0)  # threshold form: -1 means > 4
    )
    a, b = p.alias("a"), p.alias("b")
    return (
        a.join(
            name_pairs,
            (F.col("a.p_brand") == F.col("brand"))
            & (F.col("a.p_name") == F.col("name_a")),
        )
        .join(
            b,
            (F.col("brand") == F.col("b.p_brand"))
            & (F.col("name_b") == F.col("b.p_name"))
            & (F.col("a.p_partkey") < F.col("b.p_partkey")),
        )
        .select(
            F.col("a.p_partkey").alias("k1"),
            F.col("b.p_partkey").alias("k2"),
            F.col("dist"),
        )
    )


@query(
    "q_join_asof_fwd",
    oracle="""
    SELECT e.event_id, e.user_id, e.ts,
           (SELECT c.event_id FROM events c
             WHERE c.user_id = e.user_id AND c.event_type = 'signup'
               AND c.ts >= e.ts
             ORDER BY c.ts ASC, c.event_id ASC LIMIT 1) AS asof_id,
           (SELECT c.ts FROM events c
             WHERE c.user_id = e.user_id AND c.event_type = 'signup'
               AND c.ts >= e.ts
             ORDER BY c.ts ASC, c.event_id ASC LIMIT 1) AS asof_ts
    FROM events e
    WHERE e.event_type = 'error'
    """,
)
def q_join_asof_fwd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FORWARD as-of: each 'error' event → the NEXT same-or-later
    'signup' of the same user ("did the user recover after the
    failure?" — the look-ahead twin of q_join_asof's look-back).
    Same union-tag + running-last rewrite over the reversed (ts DESC)
    order — still ONE user-keyed shuffle, no inequality join; the
    oracle is the correlated ascending top-1 subquery."""
    e = load(spark, sf_dir, "events")
    errors = e.where(F.col("event_type") == "error").select(
        "event_id", "user_id", "ts"
    )
    signups = e.where(F.col("event_type") == "signup").select(
        "user_id", "ts", F.col("event_id").alias("__right_id")
    )
    return asof_join(errors, signups, on="user_id", direction="forward")


@query(
    "q_join_hints",
    oracle="""
    SELECT n.n_name,
           CAST(count(*) AS BIGINT) AS n_customers,
           CAST(sum(CAST(c.c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
             AS total_bal
    FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
    GROUP BY n.n_name
    """,
)
def q_join_hints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JOIN-STRATEGY HINT surface: the same customer⋈nation join forced
    through SHUFFLE_HASH (plan-pinned to ShuffledHashJoin) — the
    override a tuner reaches for when the optimizer's default (here:
    broadcast) is wrong for a specific shape, e.g. a 'small' side that
    is small in bytes but explodes after codegen, or a broadcast that
    OOMs the driver at 100 TB. Hints bound WHERE the optimizer may
    choose, not WHAT the query means — results are hash-identical to
    the unhinted plan, which is exactly what the oracle proves.
    test_plan_quality pins that the hint is actually honored."""
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation").hint("shuffle_hash")
    return (
        c.join(n, c["c_nationkey"] == n["n_nationkey"])
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_customers"),
            F.sum(F.col("c_acctbal").cast("decimal(18,2)"))
            .cast("double")
            .alias("total_bal"),
        )
    )
