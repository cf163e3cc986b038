"""Composite analytic workloads: multi-join TPC-H-shaped queries and a
skew-salted join.

The single-operator qids (operators/*.py) pin each primitive; these pin
the COMPOSITIONS a warehouse actually runs — 3-to-6-table star joins
with selective filters, where the plan-level wins (broadcast the dims,
push the filters into every scan, aggregate partial-first, top-k via
TakeOrderedAndProject) compound. Schemas are the driver fixtures'
trimmed TPC-H (no shippriority/comment columns; o_orderpriority stands
in for Q3's shippriority).

Money math follows the repo rule (SURVEY §5.3): sums over
DECIMAL(18,2), emitted as DOUBLE — bit-identical across engines
regardless of executor summation order.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from tile_etl_spark.io import (
    as_double,
    cached_dim_view,
    dec,
    free_local_checkpoint,
    load,
    plan_memo,
    scaled_broadcast_hint,
    table_view,
)
from tile_etl_spark.registry import query

_REV = "CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))"


def _rev() -> F.Column:
    return dec("l_extendedprice") * (1 - dec("l_discount"))


@query(
    "q_tpch_q3",
    oracle=f"""
    SELECT l_orderkey,
           CAST(sum({_REV}) AS DOUBLE) AS revenue,
           o_orderdate, o_orderpriority
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
      AND l_shipdate > TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, o_orderdate ASC, l_orderkey ASC
    LIMIT 10
    """,
)
def q_tpch_q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape (shipping-priority): top-10 open 'BUILDING'
    orders by outstanding revenue. The classic star probe: the customer
    dim broadcasts explicitly (small by contract); the filtered orders
    side is left to AQE, which auto-broadcasts it from runtime sizes at
    this SF and promotes to a shuffle join once it outgrows the
    threshold at real scale — nothing in the query pins a strategy (the
    q5 A/B showed force-broadcasting the larger side costs driver-side
    hash builds). The revenue aggregate reduces map-side to one row per
    (orderkey, date, priority); the LIMIT plans as
    TakeOrderedAndProject (no global sort materialization). l_orderkey
    tiebreak makes the top-10 cut total-order deterministic.
    """
    cutoff = F.lit("1998-01-01 00:00:00").cast("timestamp")
    c = load(spark, sf_dir, "customer").where(
        F.col("c_mktsegment") == "BUILDING"
    )
    o = load(spark, sf_dir, "orders").where(F.col("o_orderdate") < cutoff)
    li = load(spark, sf_dir, "lineitem").where(F.col("l_shipdate") > cutoff)
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(as_double(F.sum(_rev())).alias("revenue"))
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(
            F.col("revenue").desc(),
            F.col("o_orderdate").asc(),
            F.col("l_orderkey").asc(),
        )
        .limit(10)
    )


@query(
    "q_tpch_q5",
    oracle=f"""
    SELECT n_name,
           CAST(sum({_REV}) AS DOUBLE) AS revenue
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey
                 AND c_nationkey = s_nationkey
    JOIN nation ON s_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY n_name
    """,
)
def q_tpch_q5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape (local-supplier volume): six-table join with the
    non-tree predicate c_nationkey = s_nationkey (customer and supplier
    in the same nation) folded into the supplier join condition —
    Catalyst keeps it an equi-join key, not a post-filter. The SMALL
    dims (region→nation→supplier chain, customer) broadcast explicitly;
    orders — the biggest non-fact side — is deliberately left to AQE:
    forcing every dim to broadcast made the driver build two large hash
    relations back-to-back and ran 4.6 s at sf0.1, vs 0.7 s with orders
    planned from runtime stats (A/B-measured; AQE still auto-broadcasts
    it under the threshold, but from real sizes, off the driver's
    critical path). Region filter prunes nations before they reach the
    fact join.
    """
    lo = F.lit("1996-01-01 00:00:00").cast("timestamp")
    hi = F.lit("1998-01-01 00:00:00").cast("timestamp")
    r = load(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    n = load(spark, sf_dir, "nation").join(
        F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey")
    )
    s = load(spark, sf_dir, "supplier").join(
        F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey")
    )
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= lo) & (F.col("o_orderdate") < hi)
    )
    li = load(spark, sf_dir, "lineitem")
    return (
        li.join(
            F.broadcast(s),
            F.col("l_suppkey") == F.col("s_suppkey"),
        )
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(
            F.broadcast(c),
            (F.col("o_custkey") == F.col("c_custkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .groupBy("n_name")
        .agg(as_double(F.sum(_rev())).alias("revenue"))
    )


@query(
    "q_tpch_q10",
    oracle=f"""
    SELECT c_custkey, c_name,
           CAST(sum({_REV}) AS DOUBLE) AS revenue,
           c_acctbal, n_name
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN nation ON c_nationkey = n_nationkey
    WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
      AND l_returnflag = 'R'
    GROUP BY c_custkey, c_name, c_acctbal, n_name
    ORDER BY revenue DESC, c_custkey ASC
    LIMIT 20
    """,
)
def q_tpch_q10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape (returned-item reporting): top-20 customers by
    revenue lost to returns in a year. Same star discipline as Q3 —
    filtered orders and the nation dim broadcast, lineitem filtered on
    the return flag at the scan (PushedFilters), aggregate keyed on the
    customer attributes, TakeOrderedAndProject for the top-20 with a
    c_custkey tiebreak.
    """
    lo = F.lit("1997-01-01 00:00:00").cast("timestamp")
    hi = F.lit("1998-01-01 00:00:00").cast("timestamp")
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    o = load(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= lo) & (F.col("o_orderdate") < hi)
    )
    li = load(spark, sf_dir, "lineitem").where(F.col("l_returnflag") == "R")
    return (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(as_double(F.sum(_rev())).alias("revenue"))
        .select("c_custkey", "c_name", "revenue", "c_acctbal", "n_name")
        .orderBy(F.col("revenue").desc(), F.col("c_custkey").asc())
        .limit(20)
    )


SALT_WIDTH = 8


@query(
    "q_join_skew_salted",
    oracle="""
    WITH fact AS (
      SELECT CASE WHEN l_orderkey % 10 < 7 THEN 0
                  ELSE l_orderkey % 100 END AS skew_key,
             l_extendedprice, l_discount
      FROM lineitem
    ),
    dim AS (
      SELECT i AS skew_key, concat('grp_', CAST(i % 7 AS VARCHAR)) AS grp
      FROM generate_series(0, 99) t(i)
    )
    SELECT d.grp,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(f.l_extendedprice AS DECIMAL(18,2))
                    * (1 - CAST(f.l_discount AS DECIMAL(18,2))))
                AS DOUBLE) AS revenue
    FROM fact f JOIN dim d ON f.skew_key = d.skew_key
    GROUP BY d.grp
    """,
)
def q_join_skew_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SALTED JOIN under manufactured skew: 70 % of fact rows share one
    hot key (l_orderkey % 10 < 7 → key 0), the classic shape that sends
    one shuffle partition 70 % of the data and stalls the stage on a
    single straggler task. The salted rewrite is semantics-preserving:

    - fact rows get a DETERMINISTIC salt (l_linenumber % SALT_WIDTH —
      never rand(): retries must re-produce the same rows),
    - the dim side is exploded × SALT_WIDTH so every (key, salt)
      combination still finds its match,
    - the join key becomes (skew_key, salt) — the hot key now spreads
      over SALT_WIDTH partitions — and the merge hint pins a shuffle
      sort-merge join, because a broadcastable dim would dodge the
      skew instead of demonstrating the fix (at 100 TB the dim that
      skews you is precisely the one too big to broadcast).

    The oracle is the UNSALTED join — proving the rewrite changes the
    physical distribution only. AQE's skew-join split
    (spark.sql.adaptive.skewJoin) solves the same problem from the
    runtime side; salting remains the portable fix when the skew is in
    a single key AQE cannot split (e.g. under a following aggregate on
    the same key, as here — the groupBy(grp) re-keys, so salt never
    leaks downstream).
    """
    li = load(spark, sf_dir, "lineitem")
    fact = li.select(
        F.when(F.col("l_orderkey") % 10 < 7, F.lit(0))
        .otherwise(F.col("l_orderkey") % 100)
        .alias("skew_key"),
        (F.col("l_linenumber") % SALT_WIDTH).alias("salt"),
        "l_extendedprice",
        "l_discount",
    )
    dim = (
        spark.range(100)
        .select(
            F.col("id").alias("skew_key"),
            F.concat(F.lit("grp_"), (F.col("id") % 7).cast("string")).alias(
                "grp"
            ),
        )
        .withColumn(
            "salt",
            F.explode(
                F.sequence(F.lit(0), F.lit(SALT_WIDTH - 1), F.lit(1))
            ),
        )
    )
    joined = fact.join(dim.hint("merge"), ["skew_key", "salt"])
    return joined.groupBy("grp").agg(
        F.count(F.lit(1)).alias("n"),
        as_double(F.sum(_rev())).alias("revenue"),
    )


@query(
    "q_merge_upsert",
    oracle="""
    WITH src AS (
      SELECT c_custkey AS k,
             c_acctbal + CASE WHEN c_custkey % 10 = 0
                              THEN 100.0 ELSE 0.0 END AS bal
      FROM customer WHERE c_custkey % 7 <> 0
      UNION ALL
      SELECT c_custkey + 100000, 50.0
      FROM customer WHERE c_custkey % 20 = 5
    ),
    tgt AS (SELECT c_custkey AS k, c_acctbal AS bal FROM customer)
    SELECT coalesce(t.k, s.k) AS k,
           CAST(t.bal AS DOUBLE) AS old_bal,
           CAST(s.bal AS DOUBLE) AS new_bal,
           CASE WHEN t.k IS NULL THEN 'insert'
                WHEN s.k IS NULL THEN 'expire'
                WHEN s.bal <> t.bal THEN 'update'
                ELSE 'keep' END AS action
    FROM tgt t FULL OUTER JOIN src s ON t.k = s.k
    """,
)
def q_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE / UPSERT semantics (the SCD maintenance step) expressed as
    a FULL OUTER join — Spark without a table format has no MERGE INTO
    statement, but the operator decomposes exactly: source-only rows
    INSERT, target-only rows EXPIRE (SCD2's close-out), value changes
    UPDATE, the rest KEEP. The synthetic source snapshot derives
    deterministically from the target itself (10 % rebalanced, ~14 %
    absent, 5 % brand-new keys), so both engines build the identical
    merge input.

    Emitting the action column per row is the audit a real MERGE job
    logs; a sink would then write the merged snapshot partitioned by
    action or date. Shape: ONE full-outer shuffle join on the key —
    the same single co-partitioned pass Delta/Iceberg MERGE plans at
    100 TB — plus narrow expressions. On a cluster the target side is
    the bucketed/partitioned table, so the shuffle is one-sided.
    """
    c = load(spark, sf_dir, "customer")
    tgt = c.select(F.col("c_custkey").alias("k"), F.col("c_acctbal").alias("bal"))
    src = (
        c.where(F.col("c_custkey") % 7 != 0)
        .select(
            F.col("c_custkey").alias("k"),
            (
                F.col("c_acctbal")
                + F.when(F.col("c_custkey") % 10 == 0, 100.0).otherwise(0.0)
            ).alias("bal"),
        )
        .unionByName(
            c.where(F.col("c_custkey") % 20 == 5).select(
                (F.col("c_custkey") + 100000).alias("k"),
                F.lit(50.0).alias("bal"),
            )
        )
    )
    t, s = tgt.alias("t"), src.alias("s")
    action = (
        F.when(F.col("t.k").isNull(), "insert")
        .when(F.col("s.k").isNull(), "expire")
        .when(F.col("s.bal") != F.col("t.bal"), "update")
        .otherwise("keep")
    )
    return t.join(s, F.col("t.k") == F.col("s.k"), "full_outer").select(
        F.coalesce("t.k", "s.k").alias("k"),
        F.col("t.bal").cast("double").alias("old_bal"),
        F.col("s.bal").cast("double").alias("new_bal"),
        action.alias("action"),
    )


# q_merge_upsert's deterministic source snapshot (10% rebalanced, ~14%
# absent, 5% new keys) — shared text so the MERGE-family qids agree on
# the merge input by construction. q_merge_audit appends a third branch
# of DUPLICATE-key rows (k % 50 = 3, also present in the base branch)
# to exercise Delta's "multiple source rows matched" conflict class.
_MERGE_SRC_SQL = """
      SELECT c_custkey AS k,
             c_acctbal + CASE WHEN c_custkey % 10 = 0
                              THEN 100.0 ELSE 0.0 END AS bal
      FROM customer WHERE c_custkey % 7 <> 0
      UNION ALL
      SELECT c_custkey + 100000, 50.0
      FROM customer WHERE c_custkey % 20 = 5
"""


@query(
    "q_merge_audit",
    oracle=f"""
    WITH src AS (
      {_MERGE_SRC_SQL}
      UNION ALL
      SELECT c_custkey, c_acctbal + 7.0
      FROM customer WHERE c_custkey % 50 = 3
    ),
    sagg AS (
      SELECT k, count(*) AS n_src, max(bal) AS bal FROM src GROUP BY k
    ),
    tgt AS (SELECT c_custkey AS k, c_acctbal AS bal FROM customer),
    merged AS (
      SELECT CASE WHEN t.k IS NULL THEN 'insert'
                  WHEN s.k IS NULL THEN 'expire'
                  WHEN s.bal <> t.bal THEN 'update'
                  ELSE 'keep' END AS action,
             CAST(coalesce(s.bal, 0) AS DECIMAL(18,2))
               - CAST(coalesce(t.bal, 0) AS DECIMAL(18,2)) AS delta
      FROM tgt t
      FULL OUTER JOIN (SELECT k, bal FROM sagg WHERE n_src = 1) s
        ON t.k = s.k
    )
    SELECT action, CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(delta) AS DOUBLE) AS net_bal_delta
    FROM merged GROUP BY action
    UNION ALL
    SELECT 'conflict', CAST(count(*) AS BIGINT), CAST(NULL AS DOUBLE)
    FROM sagg WHERE n_src > 1
    """,
)
def q_merge_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE OPERATION METRICS — the Delta-style audit row a real MERGE
    job logs (operationMetrics: numTargetRowsInserted/Updated/Deleted)
    plus the CONFLICT class Delta aborts on: target keys matched by
    MULTIPLE source rows. The source extends q_merge_upsert's snapshot
    with a deterministic duplicate-key branch (k % 50 = 3 rows appear
    twice when also in the base branch); conflicted keys are EXCLUDED
    from the merge and reported as their own metric row — report, not
    abort, so the audit is the gate a pipeline checks before retrying
    with a deduplicated source.

    Shape: one map-side-combined groupBy of the source (the conflict
    count falls out of the same aggregate that dedupes), one full-outer
    key join against the target, then a ≤5-row metrics aggregate — the
    same single co-partitioned pass as q_merge_upsert at any scale,
    with exact DECIMAL deltas per the engine's money rule."""
    return merge_audit_metrics(load(spark, sf_dir, "customer"))


def merge_audit_metrics(c: DataFrame) -> DataFrame:
    """q_merge_audit's pipeline over any customer-schema frame — split
    out so the volume stress (tools/scale_stress.py) can run it on an
    amplified target."""
    base = c.where(F.col("c_custkey") % 7 != 0).select(
        F.col("c_custkey").alias("k"),
        (
            F.col("c_acctbal")
            + F.when(F.col("c_custkey") % 10 == 0, 100.0).otherwise(0.0)
        ).alias("bal"),
    )
    new_keys = c.where(F.col("c_custkey") % 20 == 5).select(
        (F.col("c_custkey") + 100000).alias("k"), F.lit(50.0).alias("bal")
    )
    dups = c.where(F.col("c_custkey") % 50 == 3).select(
        F.col("c_custkey").alias("k"),
        (F.col("c_acctbal") + 7.0).alias("bal"),
    )
    sagg = (
        base.unionByName(new_keys)
        .unionByName(dups)
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("n_src"), F.max("bal").alias("bal"))
    )
    tgt = c.select(
        F.col("c_custkey").alias("k"), F.col("c_acctbal").alias("bal")
    )
    t = tgt.alias("t")
    s = sagg.where(F.col("n_src") == 1).select("k", "bal").alias("s")
    action = (
        F.when(F.col("t.k").isNull(), "insert")
        .when(F.col("s.k").isNull(), "expire")
        .when(F.col("s.bal") != F.col("t.bal"), "update")
        .otherwise("keep")
    )
    delta = F.coalesce(F.col("s.bal"), F.lit(0)).cast(
        "decimal(18,2)"
    ) - F.coalesce(F.col("t.bal"), F.lit(0)).cast("decimal(18,2)")
    metrics = (
        t.join(s, F.col("t.k") == F.col("s.k"), "full_outer")
        .select(action.alias("action"), delta.alias("delta"))
        .groupBy("action")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            as_double(F.sum("delta")).alias("net_bal_delta"),
        )
    )
    conflicts = sagg.where(F.col("n_src") > 1).agg(
        F.lit("conflict").alias("action"),
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.lit(None).cast("double").alias("net_bal_delta"),
    )
    return metrics.unionByName(conflicts)


@query(
    "q_table_changes",
    oracle=f"""
    WITH src AS (
      {_MERGE_SRC_SQL}
    ),
    tgt AS (SELECT c_custkey AS k, c_acctbal AS bal FROM customer),
    j AS (
      SELECT t.k AS tk, s.k AS sk, t.bal AS old_bal, s.bal AS new_bal
      FROM tgt t FULL OUTER JOIN src s ON t.k = s.k
    )
    SELECT sk AS k, CAST(new_bal AS DOUBLE) AS bal,
           'insert' AS change_type
    FROM j WHERE tk IS NULL
    UNION ALL
    SELECT tk, CAST(old_bal AS DOUBLE), 'delete' FROM j WHERE sk IS NULL
    UNION ALL
    SELECT tk, CAST(old_bal AS DOUBLE), 'update_preimage'
    FROM j WHERE tk IS NOT NULL AND sk IS NOT NULL AND old_bal <> new_bal
    UNION ALL
    SELECT tk, CAST(new_bal AS DOUBLE), 'update_postimage'
    FROM j WHERE tk IS NOT NULL AND sk IS NOT NULL AND old_bal <> new_bal
    """,
)
def q_table_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHANGE DATA FEED — the Delta ``table_changes()`` / Iceberg
    changelog row set between two table versions: inserts and deletes
    as single rows, updates as a PREIMAGE + POSTIMAGE pair (the shape
    downstream incremental consumers and CDC sinks expect). Versions
    are the q_merge_upsert target (customer) and its deterministic
    source snapshot, so the MERGE family agrees on the input by
    construction.

    Shape: ONE full-outer key join computes every change class; the
    pre/post pair comes from exploding a per-row array of change
    structs built with CASE — the oracle's 4-way UNION re-reads the
    join four times, the engine reads it once. Unchanged rows emit an
    empty array and vanish in the explode (Generate outer=false)."""
    c = load(spark, sf_dir, "customer")
    tgt = c.select(
        F.col("c_custkey").alias("tk"), F.col("c_acctbal").alias("old_bal")
    )
    src = (
        c.where(F.col("c_custkey") % 7 != 0)
        .select(
            F.col("c_custkey").alias("sk"),
            (
                F.col("c_acctbal")
                + F.when(F.col("c_custkey") % 10 == 0, 100.0).otherwise(0.0)
            ).alias("new_bal"),
        )
        .unionByName(
            c.where(F.col("c_custkey") % 20 == 5).select(
                (F.col("c_custkey") + 100000).alias("sk"),
                F.lit(50.0).alias("new_bal"),
            )
        )
    )
    j = tgt.join(src, F.col("tk") == F.col("sk"), "full_outer")
    changes = F.expr(
        """
        CASE
          WHEN tk IS NULL THEN
            array(struct(new_bal AS bal, 'insert' AS change_type))
          WHEN sk IS NULL THEN
            array(struct(old_bal AS bal, 'delete' AS change_type))
          WHEN old_bal <> new_bal THEN
            array(struct(old_bal AS bal,
                         'update_preimage' AS change_type),
                  struct(new_bal AS bal,
                         'update_postimage' AS change_type))
          ELSE array()
        END
        """
    )
    return j.select(
        F.coalesce("tk", "sk").alias("k"), F.explode(changes).alias("c")
    ).select(
        "k",
        F.col("c.bal").cast("double").alias("bal"),
        F.col("c.change_type").alias("change_type"),
    )


@query(
    "q_table_checksum",
    oracle="""
    WITH h AS (
      SELECT o_orderkey % 16 AS bucket,
             xor(xor((o_orderkey % 2147483647) * 2654435761,
                     o_custkey * 40503),
                 xor(CAST(round(o_totalprice * 100) AS BIGINT) * 69069,
                     CAST(ascii(o_orderstatus) AS BIGINT))) AS row_h,
             CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders
    )
    SELECT bucket,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(bit_xor(row_h) AS BIGINT) AS content_xor,
           CAST(sum(cents) AS BIGINT) AS total_cents
    FROM h GROUP BY bucket
    """,
)
def q_table_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TABLE RECONCILIATION CHECKSUM — the migration/replication audit
    run after copying a 100 TB table between systems: per key-bucket,
    an ORDER-INSENSITIVE content fingerprint (count, bit_xor of a
    deterministic per-row hash, exact cent total). Two systems agree
    on every bucket row ⟺ contents match, and a mismatch localizes to
    1/16th of the table — re-copy one bucket, not the world. The
    per-row hash is engine-portable arithmetic (multiply + xor over
    exact BIGINTs: keys, int cents, the status byte) rather than an
    engine hash builtin, so ANY two SQL systems can compute it — the
    point of a reconciliation format. The order key is reduced mod
    2^31−1 BEFORE the multiply so every product stays under int64
    ((2^31−2)·2654435761 ≈ 5.7e18 < 2^63−1) — without the reduction,
    orderkeys above ~3.5e9 (reached at large TPC-H SFs, i.e. exactly
    the 100 TB design point) would silently wrap in non-ANSI Spark but
    ABORT in checked-arithmetic engines (DuckDB, ANSI mode), breaking
    the cross-system contract. xor, unlike sum, cannot overflow and is
    insensitive to both row order and partitioning.

    Shape: one map-side-combined groupBy into 16 bucket rows — a
    single scan, one tiny shuffle, at any scale."""
    o = load(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("bigint")
    row_h = (
        ((F.col("o_orderkey") % F.lit(2147483647)) * F.lit(2654435761))
        .bitwiseXOR(F.col("o_custkey") * F.lit(40503))
        .bitwiseXOR(
            (cents * F.lit(69069)).bitwiseXOR(
                F.ascii("o_orderstatus").cast("bigint")
            )
        )
    )
    return (
        o.select(
            (F.col("o_orderkey") % 16).alias("bucket"),
            row_h.alias("row_h"),
            cents.alias("cents"),
        )
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.bit_xor("row_h").cast("bigint").alias("content_xor"),
            F.sum("cents").cast("bigint").alias("total_cents"),
        )
    )


PR_ITERS = 10
PR_DAMP = 0.85


# The DuckDB twin UNROLLS the fixed iteration count as generated CTEs
# (a recursive CTE may reference its working table only once, which
# cannot express "join ranks to edges AND left-join the result back to
# all nodes" in one recursive term).
_PR_ORACLE_HEAD = """
    WITH edges AS (
      SELECT DISTINCT o_custkey % 100 AS src, o_orderkey % 100 AS dst
      FROM orders WHERE o_custkey % 100 <> o_orderkey % 100
    ),
    nodes AS (
      SELECT src AS node FROM edges UNION SELECT dst FROM edges
    ),
    outdeg AS (
      SELECT src, count(*) AS deg FROM edges GROUP BY src
    ),
    nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
    it0 AS (SELECT node, 1.0 / nn.n AS r FROM nodes, nn)
"""


def _pr_oracle() -> str:
    ctes = [_PR_ORACLE_HEAD]
    for k in range(1, PR_ITERS + 1):
        ctes.append(f"""
    , it{k} AS (
      SELECT b.node,
             round({1 - PR_DAMP} / (SELECT n FROM nn)
                   + {PR_DAMP} * coalesce(inc.s, 0.0), 12) AS r
      FROM nodes b LEFT JOIN (
        SELECT e.dst AS node, sum(p.r / d.deg) AS s
        FROM it{k - 1} p
        JOIN edges e ON p.node = e.src
        JOIN outdeg d ON e.src = d.src
        GROUP BY e.dst
      ) inc ON inc.node = b.node
    )""")
    ctes.append(
        f" SELECT node, round(r, 6) AS rank FROM it{PR_ITERS}"
    )
    return "".join(ctes)


@query("q_graph_pagerank", oracle=_pr_oracle())
@plan_memo("orders")
def q_graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PAGERANK — iterative message-passing dataflow (damping 0.85,
    {PR_ITERS} fixed iterations) over a deterministic 100-node graph
    derived from ``orders`` (custkey→orderkey mod 100; a stand-in for
    any entity-link graph). Each iteration is the classic two-step:
    contribution = rank/out-degree routed along edges (one equi-join),
    summed per destination (one aggregate); dangling nodes keep only
    the teleport term. Ranks are rounded to 12 dp EVERY iteration in
    BOTH engines — double summation order differs across engines and
    10 iterations would otherwise compound ulp drift past the 6-dp
    output rounding (same pinning technique as the k-means centroids).

    The driver loop is O(iters) with a localCheckpoint per round
    (lineage truncation, same contract as connected_components); state
    per round is one (node, rank) frame partitioned like the edges, so
    at 100 TB every iteration is one co-partitioned shuffle. The
    fixed-iteration DuckDB recursive CTE replays the identical
    computation — a rare case of an ITERATIVE algorithm being
    H-checkable."""
    o = load(spark, sf_dir, "orders")
    edges = (
        o.select(
            (F.col("o_custkey") % 100).alias("src"),
            (F.col("o_orderkey") % 100).alias("dst"),
        )
        .where(F.col("src") != F.col("dst"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    nodes = (
        edges.select(F.col("src").alias("node"))
        .union(edges.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    outdeg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    contrib_edges = (
        edges.join(outdeg, "src")
        .select("src", "dst", "deg")
        .localCheckpoint(eager=True)
    )
    free_local_checkpoint(edges)  # contrib_edges supersedes it
    n_nodes = nodes.count()  # scalar graph size (drives the teleport term)
    if n_nodes == 0:
        # empty derived graph: the teleport term below divides by
        # n_nodes in PYTHON (eager ZeroDivisionError); the oracle's
        # answer is simply the empty rank set
        return nodes.select(
            "node", F.lit(0.0).alias("rank")
        ).where(F.lit(False))
    ranks = nodes.select(
        "node", (F.lit(1.0) / n_nodes).alias("r")
    ).localCheckpoint(eager=True)
    prev = ranks
    for _ in range(PR_ITERS):
        inc = (
            contrib_edges.join(ranks, contrib_edges["src"] == ranks["node"])
            .groupBy("dst")
            .agg(F.sum(F.col("r") / F.col("deg")).alias("s"))
        )
        ranks = (
            nodes.join(inc, nodes["node"] == inc["dst"], "left")
            .select(
                "node",
                F.round(
                    F.lit((1 - PR_DAMP) / n_nodes)
                    + PR_DAMP * F.coalesce("s", F.lit(0.0)),
                    12,
                ).alias("r"),
            )
            .localCheckpoint(eager=True)
        )
        # superseded rank snapshot: free it or the loop pins
        # O(PR_ITERS) full rank frames in executor storage
        free_local_checkpoint(prev)
        prev = ranks
    return ranks.select("node", F.round("r", 6).alias("rank"))


@query(
    "q_dq_checks",
    oracle="""
    SELECT chk, n_viol FROM (
      SELECT 'orders_pk_unique' AS chk,
             CAST(count(*) - count(DISTINCT o_orderkey) AS BIGINT)
               AS n_viol
      FROM orders
      UNION ALL
      SELECT 'lineitem_fk_orders',
             CAST(count(*) AS BIGINT)
      FROM lineitem l LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
      WHERE o.o_orderkey IS NULL
      UNION ALL
      SELECT 'orders_fk_customer',
             CAST(count(*) AS BIGINT)
      FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
      WHERE c.c_custkey IS NULL
      UNION ALL
      SELECT 'lineitem_qty_range',
             CAST(sum(CASE WHEN l_quantity < 0 OR l_quantity > 50
                           THEN 1 ELSE 0 END) AS BIGINT)
      FROM lineitem
      UNION ALL
      SELECT 'lineitem_discount_range',
             CAST(sum(CASE WHEN l_discount < 0 OR l_discount > 1
                           THEN 1 ELSE 0 END) AS BIGINT)
      FROM lineitem
      UNION ALL
      SELECT 'customer_name_not_null',
             CAST(sum(CASE WHEN c_name IS NULL THEN 1 ELSE 0 END)
               AS BIGINT)
      FROM customer
    )
    """,
)
def q_dq_checks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DATA-QUALITY constraint audit (the dbt-test / Deequ shape): one
    row per declared constraint with its violation count — primary-key
    uniqueness, two referential-integrity checks (anti-join shaped:
    Catalyst turns the left-join + IS NULL into LeftAnti), value-range
    gates, and a not-null check. A pipeline gates promotion on
    ``max(n_viol) = 0``; emitting counts (not booleans) is what makes
    the report actionable.

    Scale shape: each check is either a single-pass conditional
    aggregate (range/null checks — they share one scan per table via
    one projection each) or one key-shuffle anti-join (FK checks).
    Nothing collects; the audit over 100 TB is the same few scans a
    single analytics query costs.
    """
    o = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    c = load(spark, sf_dir, "customer")

    pk = o.agg(
        F.lit("orders_pk_unique").alias("chk"),
        (F.count(F.lit(1)) - F.countDistinct("o_orderkey"))
        .cast("bigint")
        .alias("n_viol"),
    )
    fk_li = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"], "left_anti")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_viol"))
        .select(F.lit("lineitem_fk_orders").alias("chk"), "n_viol")
    )
    fk_o = (
        o.join(c, o["o_custkey"] == c["c_custkey"], "left_anti")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_viol"))
        .select(F.lit("orders_fk_customer").alias("chk"), "n_viol")
    )
    qty = li.agg(
        F.lit("lineitem_qty_range").alias("chk"),
        F.sum(
            ((F.col("l_quantity") < 0) | (F.col("l_quantity") > 50)).cast(
                "int"
            )
        )
        .cast("bigint")
        .alias("n_viol"),
    )
    disc = li.agg(
        F.lit("lineitem_discount_range").alias("chk"),
        F.sum(
            ((F.col("l_discount") < 0) | (F.col("l_discount") > 1)).cast(
                "int"
            )
        )
        .cast("bigint")
        .alias("n_viol"),
    )
    nn = c.agg(
        F.lit("customer_name_not_null").alias("chk"),
        F.sum(F.col("c_name").isNull().cast("int"))
        .cast("bigint")
        .alias("n_viol"),
    )
    return (
        pk.unionByName(fk_li)
        .unionByName(fk_o)
        .unionByName(qty)
        .unionByName(disc)
        .unionByName(nn)
    )


_SQL_API_TEXT = """
    WITH monthly AS (
      SELECT o_orderpriority,
             CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
             CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                      * (1 - CAST(l_discount AS DECIMAL(18,2))))
                  AS DOUBLE) AS revenue
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      GROUP BY 1, 2
    ),
    ranked AS (
      SELECT o_orderpriority, month, revenue,
             row_number() OVER (PARTITION BY o_orderpriority
                                ORDER BY revenue DESC, month ASC) AS rk
      FROM monthly
    )
    SELECT o_orderpriority, month, revenue, CAST(rk AS INT) AS rk
    FROM ranked WHERE rk <= 2
"""


@query("q_sql_api", oracle=_SQL_API_TEXT)
def q_sql_api(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SQL-TEXT entry point: the identical ANSI query string runs
    through ``spark.sql`` over registered temp views AND through DuckDB
    as its own oracle — pinning that the engine's SQL surface (CTEs,
    join, DECIMAL aggregation, window + QUALIFY-style filter) is
    dialect-portable, not just the DataFrame builders. Catalyst plans
    SQL text and DataFrame calls into the same logical plan space, so
    every plan-quality property (broadcast dims, partial aggs, window
    group limits) holds identically."""
    load(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    load(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    return spark.sql(_SQL_API_TEXT)


@query(
    "q_agg_mode",
    oracle="""
    WITH b AS (
      SELECT event_type, CAST(floor(value) AS BIGINT) AS bucket,
             count(*) AS n
      FROM events GROUP BY 1, 2
    ),
    r AS (
      SELECT event_type, bucket, n,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY n DESC, bucket ASC) AS rk
      FROM b
    )
    SELECT event_type, bucket AS mode_bucket, CAST(n AS BIGINT) AS n
    FROM r WHERE rk = 1
    """,
)
def q_agg_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MODE aggregate with a DETERMINISTIC tiebreak — built-in mode()
    breaks frequency ties arbitrarily in both engines, so the engine
    spells it as count + windowed argmax ordered (n DESC, bucket ASC):
    cross-engine stable by construction. Two map-side-combined
    aggregates + a 3-row window — the first groupBy collapses the data
    to (type, bucket) cardinality before any window sees it."""
    e = load(spark, sf_dir, "events")
    b = (
        e.select(
            "event_type", F.floor("value").cast("bigint").alias("bucket")
        )
        .groupBy("event_type", "bucket")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    from pyspark.sql import Window

    w = Window.partitionBy("event_type").orderBy(
        F.col("n").desc(), F.col("bucket").asc()
    )
    return (
        b.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") == 1)
        .select("event_type", F.col("bucket").alias("mode_bucket"), "n")
    )


@query(
    "q_retention_cohorts",
    oracle="""
    WITH firsts AS (
      SELECT user_id, CAST(min(date_trunc('week', ts)) AS DATE)
               AS cohort_week
      FROM events GROUP BY user_id
    ),
    activity AS (
      SELECT DISTINCT e.user_id, f.cohort_week,
             CAST(datediff('week', f.cohort_week,
                           CAST(date_trunc('week', e.ts) AS DATE))
                  AS INT) AS week_n
      FROM events e JOIN firsts f USING (user_id)
    ),
    sizes AS (
      SELECT cohort_week, count(*) AS cohort_size FROM firsts
      GROUP BY cohort_week
    )
    SELECT a.cohort_week, a.week_n,
           CAST(count(*) AS BIGINT) AS active_users,
           CAST(any_value(s.cohort_size) AS BIGINT) AS cohort_size,
           round(CAST(count(*) AS DOUBLE) / any_value(s.cohort_size), 6)
             AS retention
    FROM activity a JOIN sizes s USING (cohort_week)
    GROUP BY a.cohort_week, a.week_n
    """,
)
def q_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COHORT RETENTION — the canonical product-analytics triangle:
    users grouped by first-seen week, retention(k) = share of the
    cohort active in week k. Three aggregates, all keyed on bounded
    cardinalities (users, then (cohort, week)): the first-seen min is
    map-side combined per user, the activity distinct collapses
    (user, week) duplicates before counting, and cohort sizes broadcast
    back. Retention is an exact integer ratio — no float-order risk.

    At 100 TB the user-keyed aggregates are the only wide shuffles and
    they reuse one hash partitioning; the final triangle is tiny."""
    e = load(spark, sf_dir, "events")
    # cohort_week emitted as DATE: constructed TIMESTAMP output columns
    # are the one driver-red representation class (round 3: the only
    # red qids were the two emitting synthesized timestamps, while
    # constructed DATE columns were green all round) — week-grain loses
    # nothing at DATE.
    firsts = e.groupBy("user_id").agg(
        F.min(F.date_trunc("week", "ts")).cast("date").alias("cohort_week")
    )
    activity = (
        e.join(firsts, "user_id")
        .select(
            "user_id",
            "cohort_week",
            F.floor(
                F.datediff(
                    F.date_trunc("week", "ts").cast("date"),
                    F.col("cohort_week"),
                )
                / 7
            )
            .cast("int")
            .alias("week_n"),
        )
        .distinct()
    )
    sizes = firsts.groupBy("cohort_week").agg(
        F.count(F.lit(1)).alias("cohort_size")
    )
    return (
        activity.groupBy("cohort_week", "week_n")
        .agg(F.count(F.lit(1)).alias("active_users"))
        .join(F.broadcast(sizes), "cohort_week")
        .select(
            "cohort_week",
            "week_n",
            "active_users",
            "cohort_size",
            F.round(
                F.col("active_users").cast("double") / F.col("cohort_size"),
                6,
            ).alias("retention"),
        )
    )


@query(
    "q_abtest_ztest",
    oracle="""
    WITH arms AS (
      SELECT o_orderpriority AS arm,
             count(*) AS n,
             sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS conv
      FROM orders GROUP BY o_orderpriority
    ),
    control AS (SELECT n AS n0, conv AS c0 FROM arms
                WHERE arm = '1-URGENT')
    SELECT arm,
           CAST(n AS BIGINT) AS n,
           CAST(conv AS BIGINT) AS conversions,
           round(CAST(conv AS DOUBLE) / n, 6) AS rate,
           round(
             (CAST(conv AS DOUBLE) / n - CAST(c0 AS DOUBLE) / n0)
             / sqrt((CAST(conv + c0 AS DOUBLE) / (n + n0))
                    * (1 - CAST(conv + c0 AS DOUBLE) / (n + n0))
                    * (1.0 / n + 1.0 / n0)),
             6) AS z_score
    FROM arms, control WHERE arm <> '1-URGENT'
    """,
)
def q_abtest_ztest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TWO-PROPORTION Z-TEST — experiment-analysis primitive: each
    order-priority arm's completion rate vs the control arm, scored
    with the pooled-variance z statistic. All inputs are exact integer
    counts; the divisions and sqrt are IEEE-correctly-rounded in both
    engines (sqrt is exactly rounded per IEEE-754, unlike log/exp), so
    the 6-dp statistics hash-match.

    Shape: one map-side-combined aggregate to per-arm counts (arm
    cardinality rows), the 1-row control broadcast, pure arithmetic —
    the experiment-analysis query at 100 TB is exactly this aggregate
    plus scalar math."""
    o = load(spark, sf_dir, "orders")
    arms = o.groupBy(F.col("o_orderpriority").alias("arm")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(
            F.when(F.col("o_orderstatus") == "F", 1).otherwise(0)
        ).alias("conv"),
    )
    control = (
        arms.where(F.col("arm") == "1-URGENT")
        .select(F.col("n").alias("n0"), F.col("conv").alias("c0"))
    )
    p = F.col("conv").cast("double") / F.col("n")
    p0 = F.col("c0").cast("double") / F.col("n0")
    pool = (F.col("conv") + F.col("c0")).cast("double") / (
        F.col("n") + F.col("n0")
    )
    z = (p - p0) / F.sqrt(
        pool * (1 - pool) * (1.0 / F.col("n") + 1.0 / F.col("n0"))
    )
    return (
        arms.crossJoin(F.broadcast(control))
        .where(F.col("arm") != "1-URGENT")
        .select(
            "arm",
            "n",
            F.col("conv").alias("conversions"),
            F.round(p, 6).alias("rate"),
            F.round(z, 6).alias("z_score"),
        )
    )


Q18_QTY = 300


@query(
    "q_tpch_q18",
    oracle=f"""
    SELECT c_custkey, o_orderkey, o_orderdate,
           CAST(o_totalprice AS DOUBLE) AS o_totalprice,
           CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
             AS total_qty
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON o_orderkey = l_orderkey
    WHERE o_orderkey IN (
      SELECT l_orderkey FROM lineitem
      GROUP BY l_orderkey
      HAVING sum(CAST(l_quantity AS DECIMAL(18,2))) > {Q18_QTY}
    )
    GROUP BY c_custkey, o_orderkey, o_orderdate, o_totalprice
    ORDER BY o_totalprice DESC, o_orderkey ASC
    LIMIT 100
    """,
)
def q_tpch_q18(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 (large-volume customers): orders whose total quantity
    exceeds the threshold, with customer attribution — the classic
    AGGREGATE-DRIVEN SEMI-JOIN shape: a grouped HAVING over the fact
    table produces the qualifying key set, which then semi-joins back
    into the same fact. The heavy aggregate runs ONCE (keyed on
    l_orderkey), its small output broadcasts as the semi-join filter,
    and the final top-100 is TakeOrderedAndProject with a total order.

    DECIMAL quantity sums keep the HAVING boundary exact — a double
    sum could flip orders sitting exactly on the threshold.

    r13: one spark.sql with the HAVING expressed directly and the
    customer key column cache-fed. Interleaved A/B, values (and the
    declared ORDER) bit-identical: sf0.1 median -21%; sf1 -77% — the
    old eager form's per-action rebuild of the broadcast key set
    degraded to 15-24 s walls at sf1 (GC pressure from repeated
    large-relation builds) while the one-SQL form held 3.0-3.4 s.
    Both-SF winner and the round's largest sf1 delta.

    r14 (VERDICT r13 #3 + ADVICE): the BROADCAST hints are size-
    gated. ``big`` is FACT-scaled (its cardinality grows with lineitem;
    a skewed quantity distribution could OOM a forced build side) and
    customer grows ~linearly with SF, so both hints now come from
    scaled_broadcast_hint — emitted only while the governing source is
    under the 32 MB gate, dropped past it so AQE picks the strategy
    from runtime sizes. Bench-SF plans byte-identical (both sources
    under the gate there)."""
    li = table_view(spark, sf_dir, "lineitem")
    o = table_view(spark, sf_dir, "orders")
    c = cached_dim_view(spark, sf_dir, "customer", ("c_custkey",))
    hint = scaled_broadcast_hint(sf_dir, big="lineitem", c="customer")
    return spark.sql(
        f"""
        WITH big AS (
          SELECT l_orderkey FROM {li}
          GROUP BY l_orderkey
          HAVING sum(CAST(l_quantity AS DECIMAL(18,2))) > {Q18_QTY}
        )
        SELECT {hint}
               c.c_custkey, o.o_orderkey, o.o_orderdate,
               CAST(o.o_totalprice AS DOUBLE) AS o_totalprice,
               CAST(sum(CAST(l.l_quantity AS DECIMAL(18,2))) AS DOUBLE)
                 AS total_qty
        FROM {li} l
        LEFT SEMI JOIN big ON l.l_orderkey = big.l_orderkey
        JOIN {o} o ON l.l_orderkey = o.o_orderkey
        JOIN {c} c ON o.o_custkey = c.c_custkey
        GROUP BY c.c_custkey, o.o_orderkey, o.o_orderdate, o.o_totalprice
        ORDER BY o_totalprice DESC, o_orderkey ASC
        LIMIT 100
        """
    )


@query(
    "q_event_transitions",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type,
             lead(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS next_type
      FROM events
    ),
    pairs AS (
      SELECT event_type, next_type, count(*) AS n
      FROM seq WHERE next_type IS NOT NULL
      GROUP BY event_type, next_type
    ),
    totals AS (
      SELECT event_type, sum(n) AS row_total FROM pairs GROUP BY event_type
    )
    SELECT p.event_type AS from_type, p.next_type AS to_type,
           CAST(p.n AS BIGINT) AS n,
           round(CAST(p.n AS DOUBLE) / t.row_total, 6) AS p_transition
    FROM pairs p JOIN totals t USING (event_type)
    """,
)
def q_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EVENT TRANSITION MATRIX — first-order Markov behavior model:
    P(next event type | current) from each user's time-ordered
    sequence. One lead() window per user (single shuffle), a pair
    count, and an exact integer-ratio normalization — the
    session-flow / funnel-discovery primitive behind "what do users
    do after X".

    The (ts, event_id) total order pins the sequences; transition
    probabilities are single double divisions of exact counts — no
    float-order risk. At 100 TB the window's user partitioning is the
    only wide shuffle; the matrix itself is |types|² rows."""
    from pyspark.sql import Window

    e = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        "event_type", F.lead("event_type").over(w).alias("next_type")
    ).where(F.col("next_type").isNotNull())
    pairs = seq.groupBy("event_type", "next_type").agg(
        F.count(F.lit(1)).alias("n")
    )
    totals = pairs.groupBy("event_type").agg(
        F.sum("n").alias("row_total")
    )
    return pairs.join(F.broadcast(totals), "event_type").select(
        F.col("event_type").alias("from_type"),
        F.col("next_type").alias("to_type"),
        "n",
        F.round(F.col("n").cast("double") / F.col("row_total"), 6).alias(
            "p_transition"
        ),
    )


@query(
    "q_graph_triangles",
    oracle="""
    WITH ue AS (
      SELECT DISTINCT least(o_custkey % 100, o_orderkey % 100) AS a,
             greatest(o_custkey % 100, o_orderkey % 100) AS b
      FROM orders WHERE o_custkey % 100 <> o_orderkey % 100
    ),
    tri AS (
      SELECT e1.a AS x, e1.b AS y, e2.b AS z
      FROM ue e1
      JOIN ue e2 ON e2.a = e1.b
      JOIN ue e3 ON e3.a = e1.a AND e3.b = e2.b
    ),
    pernode AS (
      SELECT x AS node FROM tri
      UNION ALL SELECT y FROM tri
      UNION ALL SELECT z FROM tri
    )
    SELECT node, CAST(count(*) AS BIGINT) AS n_triangles
    FROM pernode GROUP BY node
    """,
)
def q_graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRIANGLE COUNTING per node — the clustering-coefficient
    numerator and the workhorse of community/spam structure mining —
    over the same deterministic 100-node entity-link graph as
    q_graph_pagerank (custkey→orderkey mod 100, undirected).

    Node-iterator with total-order orientation: every undirected edge
    is stored once as (a < b), and a triangle {x,y,z} with x<y<z is
    enumerated EXACTLY once as the wedge (x,y)-(y,z) closed by (x,z) —
    two self-equi-joins, no dedup pass, integer keys end to end (zero
    float risk). Per-node counts fan each triangle to its 3 corners.

    Scale: wedge count is Σ deg(v)², the known hot spot. The orientation
    above already directs every edge from the LOWER id, and the
    production refinement (orient by (degree, id) instead, so wedges
    pivot on low-degree vertices — O(m^{3/2}) total work) drops in by
    swapping the (a,b) ordering key; both joins stay hash-partitioned
    equi-joins with map-side-combined count aggregation, and the small
    hot side broadcasts."""
    o = load(spark, sf_dir, "orders")
    s, d = F.col("o_custkey") % 100, F.col("o_orderkey") % 100
    ue = (
        o.where(s != d)
        .select(F.least(s, d).alias("a"), F.greatest(s, d).alias("b"))
        .distinct()
    )
    e1, e2, e3 = ue.alias("e1"), ue.alias("e2"), ue.alias("e3")
    tri = (
        e1.join(e2, F.col("e2.a") == F.col("e1.b"))
        .join(
            e3,
            (F.col("e3.a") == F.col("e1.a"))
            & (F.col("e3.b") == F.col("e2.b")),
        )
        .select(
            F.col("e1.a").alias("x"),
            F.col("e1.b").alias("y"),
            F.col("e2.b").alias("z"),
        )
    )
    pernode = (
        tri.select(F.col("x").alias("node"))
        .unionAll(tri.select(F.col("y").alias("node")))
        .unionAll(tri.select(F.col("z").alias("node")))
    )
    return pernode.groupBy("node").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_triangles")
    )


@query(
    "q_tpch_q7",
    oracle="""
    WITH vol AS (
      SELECT ns.n_name AS supp_nation, nc.n_name AS cust_nation,
             year(l.l_shipdate) AS l_year,
             CAST(l.l_extendedprice AS DECIMAL(18,2))
               * (1 - CAST(l.l_discount AS DECIMAL(18,2))) AS volume
      FROM lineitem l
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
      JOIN nation ns ON s.s_nationkey = ns.n_nationkey
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation nc ON c.c_nationkey = nc.n_nationkey
      WHERE (ns.n_name = 'NATION_1' AND nc.n_name = 'NATION_2')
         OR (ns.n_name = 'NATION_2' AND nc.n_name = 'NATION_1')
    )
    SELECT supp_nation, cust_nation, CAST(l_year AS INT) AS l_year,
           CAST(count(*) AS BIGINT) AS n_lines,
           CAST(sum(volume) AS DOUBLE) AS revenue
    FROM vol GROUP BY supp_nation, cust_nation, l_year
    """,
)
def q_tpch_q7(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 (volume shipping): revenue flowing between two nations
    per direction per year — the 6-table snowflake with a SYMMETRIC
    pair predicate, the classic case where the filter sits across TWO
    dimension arms and the optimizer must still broadcast both arms
    and keep the fact table streaming. supplier/customer/nation are
    dimension-sized (broadcast); lineitem→orders is the only big join,
    hash-partitioned on orderkey; the DECIMAL revenue aggregate is
    map-side combined. (Fixture adaptation: nation names are
    NATION_<k>; the reference pair FRANCE/GERMANY becomes
    NATION_1/NATION_2; no view layer — the CTE is the view.)

    r13: one spark.sql over memory-cached dim projections (supplier,
    customer, nation×2) — the 10-step eager chain paid per-op
    analysis and four dim parquet decodes per action. Interleaved
    A/B, values bit-identical: sf0.1 median 0.597 s -> 0.372 (-38%);
    sf1 1.36 -> 1.24 (-9%) — both-SF winner."""
    li = table_view(spark, sf_dir, "lineitem")
    o = table_view(spark, sf_dir, "orders")
    s = cached_dim_view(spark, sf_dir, "supplier",
                        ("s_suppkey", "s_nationkey"))
    c = cached_dim_view(spark, sf_dir, "customer",
                        ("c_custkey", "c_nationkey"))
    n = cached_dim_view(spark, sf_dir, "nation",
                        ("n_nationkey", "n_name"))
    # r14: hints size-gated — supplier/customer grow ~linearly with SF
    # (nation is constant); past the gate AQE picks the strategy.
    hint = scaled_broadcast_hint(
        sf_dir, s="supplier", ns="nation", c="customer", nc="nation"
    )
    return spark.sql(
        f"""
        WITH vol AS (
          SELECT {hint}
                 ns.n_name AS supp_nation, nc.n_name AS cust_nation,
                 year(l.l_shipdate) AS l_year,
                 CAST(l.l_extendedprice AS DECIMAL(18,2))
                   * (1 - CAST(l.l_discount AS DECIMAL(18,2)))
                   AS volume
          FROM {li} l
          JOIN {s} s ON l.l_suppkey = s.s_suppkey
          JOIN {n} ns ON s.s_nationkey = ns.n_nationkey
          JOIN {o} o ON l.l_orderkey = o.o_orderkey
          JOIN {c} c ON o.o_custkey = c.c_custkey
          JOIN {n} nc ON c.c_nationkey = nc.n_nationkey
          WHERE (ns.n_name = 'NATION_1' AND nc.n_name = 'NATION_2')
             OR (ns.n_name = 'NATION_2' AND nc.n_name = 'NATION_1')
        )
        SELECT supp_nation, cust_nation, CAST(l_year AS INT) AS l_year,
               CAST(count(*) AS BIGINT) AS n_lines,
               CAST(sum(volume) AS DOUBLE) AS revenue
        FROM vol GROUP BY supp_nation, cust_nation, l_year
        """
    )


@query(
    "q_tpch_q12",
    oracle="""
    SELECT l.l_returnflag,
           CAST(sum(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(sum(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE l.l_shipdate >= DATE '1996-01-01'
      AND l.l_shipdate < DATE '1997-01-01'
    GROUP BY l.l_returnflag
    """,
)
def q_tpch_q12(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 (priority shipping audit, fixture-adapted: the
    grouping key is l_returnflag since the reduced schema carries no
    l_shipmode): per flag, how many 1996-shipped lines belong to
    high-priority vs other orders. The pattern being pinned is the
    conditional-count split (SUM of CASE — one pass, no two-scan
    UNION) on top of the date-pruned fact⋈orders join: the shipdate
    range reaches the parquet scan as a pushed filter, and both counts
    come out of ONE map-side-combined aggregate.

    r13: one spark.sql statement (the eager-build-tax lesson applied
    to the TPC-H tier). Interleaved A/B, values bit-identical: sf0.1
    median 0.738 s -> 0.448 (-39%); sf1 2.34 -> 2.07 (-12%) — both-SF
    winner, same plan shape (orders is fact-sized, no dim cache)."""
    li = table_view(spark, sf_dir, "lineitem")
    o = table_view(spark, sf_dir, "orders")
    return spark.sql(
        f"""
        SELECT l.l_returnflag,
               CAST(sum(CASE WHEN o.o_orderpriority
                             IN ('1-URGENT', '2-HIGH')
                        THEN 1 ELSE 0 END) AS BIGINT)
                 AS high_line_count,
               CAST(sum(CASE WHEN o.o_orderpriority
                             NOT IN ('1-URGENT', '2-HIGH')
                        THEN 1 ELSE 0 END) AS BIGINT)
                 AS low_line_count
        FROM {li} l JOIN {o} o ON l.l_orderkey = o.o_orderkey
        WHERE l.l_shipdate >= DATE '1996-01-01'
          AND l.l_shipdate < DATE '1997-01-01'
        GROUP BY l.l_returnflag
        """
    )


@query(
    "q_tpch_q14",
    oracle="""
    SELECT CAST(date_trunc('month', l.l_shipdate) AS DATE) AS ship_month,
           round(100.0 * CAST(sum(CASE WHEN p.p_type = 'PROMO' THEN
                  CAST(l.l_extendedprice AS DECIMAL(18,2))
                    * (1 - CAST(l.l_discount AS DECIMAL(18,2)))
                ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
                / CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,2))
                    * (1 - CAST(l.l_discount AS DECIMAL(18,2)))) AS DOUBLE),
             6) AS promo_revenue_pct
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE l.l_shipdate >= DATE '1997-01-01'
      AND l.l_shipdate < DATE '1998-01-01'
    GROUP BY 1
    """,
)
def q_tpch_q14(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 (promotion effect), extended to a monthly series: the
    share of revenue from PROMO-type parts per ship month of 1997.
    Pins the ratio-of-conditional-aggregates shape — both numerator
    and denominator from ONE pass (never two scans joined), DECIMAL
    all the way so the ratio is a single exact-over-exact double
    division. part is the broadcast dim; the date window is a pushed
    scan filter.

    r13: one spark.sql over the memory-cached (p_partkey, p_type)
    dim projection — the build job stops re-decoding part parquet per
    action and the eager chain collapses to one analysis round trip.
    Interleaved A/B, values bit-identical: sf0.1 median 0.527 s ->
    0.311 (-41%); sf1 1.33 -> 1.02 (-23%) — both-SF winner."""
    li = table_view(spark, sf_dir, "lineitem")
    p = cached_dim_view(spark, sf_dir, "part", ("p_partkey", "p_type"))
    return spark.sql(
        f"""
        SELECT CAST(date_trunc('month', l.l_shipdate) AS DATE)
                 AS ship_month,
               round(100.0 * CAST(sum(CASE WHEN p.p_type = 'PROMO' THEN
                      CAST(l.l_extendedprice AS DECIMAL(18,2))
                        * (1 - CAST(l.l_discount AS DECIMAL(18,2)))
                    ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
                    / CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,2))
                        * (1 - CAST(l.l_discount AS DECIMAL(18,2))))
                      AS DOUBLE),
                 6) AS promo_revenue_pct
        FROM {li} l JOIN {p} p ON l.l_partkey = p.p_partkey
        WHERE l.l_shipdate >= DATE '1997-01-01'
          AND l.l_shipdate < DATE '1998-01-01'
        GROUP BY CAST(date_trunc('month', l.l_shipdate) AS DATE)
        """
    )


@query(
    "q_tpch_q19",
    oracle="""
    SELECT CAST(count(*) AS BIGINT) AS n_lines,
           CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,2))
                    * (1 - CAST(l.l_discount AS DECIMAL(18,2))))
             AS DOUBLE) AS revenue
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE (p.p_brand = 'Brand#1' AND p.p_size BETWEEN 1 AND 5
           AND l.l_quantity >= 1 AND l.l_quantity <= 11)
       OR (p.p_brand = 'Brand#2' AND p.p_size BETWEEN 1 AND 10
           AND l.l_quantity >= 10 AND l.l_quantity <= 20)
       OR (p.p_brand = 'Brand#3' AND p.p_size BETWEEN 1 AND 15
           AND l.l_quantity >= 20 AND l.l_quantity <= 30)
    """,
)
def q_tpch_q19(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 (discounted revenue, disjunctive predicates): an
    OR-of-ANDs condition spanning BOTH join sides — the canonical
    stress test for predicate handling. The single-side conjuncts that
    CAN be separated are derivable (p_size >= 1 across all branches,
    l_quantity between 1 and 30 overall), and Catalyst pushes those
    residuals to each scan while the full disjunction evaluates after
    the broadcast join — one pass, no UNION-of-three-scans rewrite
    needed. (Fixture adaptation: no p_container column, so the branch
    predicates pair brand with size bands instead.)

    r13: one spark.sql over the memory-cached (p_partkey, p_brand,
    p_size) dim projection — the old form broadcast-built from a
    full-width part parquet scan every action; the cached 3-column
    projection plus the single-statement build was the round's
    biggest extra-tier win. Interleaved A/B, values bit-identical:
    sf0.1 median 0.547 s -> 0.190 (-65%); sf1 0.436 -> 0.263
    (-40%) — both-SF winner."""
    li = table_view(spark, sf_dir, "lineitem")
    p = cached_dim_view(
        spark, sf_dir, "part", ("p_partkey", "p_brand", "p_size")
    )
    return spark.sql(
        f"""
        SELECT CAST(count(*) AS BIGINT) AS n_lines,
               CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,2))
                        * (1 - CAST(l.l_discount AS DECIMAL(18,2))))
                 AS DOUBLE) AS revenue
        FROM {li} l JOIN {p} p ON l.l_partkey = p.p_partkey
        WHERE (p.p_brand = 'Brand#1' AND p.p_size BETWEEN 1 AND 5
               AND l.l_quantity >= 1 AND l.l_quantity <= 11)
           OR (p.p_brand = 'Brand#2' AND p.p_size BETWEEN 1 AND 10
               AND l.l_quantity >= 10 AND l.l_quantity <= 20)
           OR (p.p_brand = 'Brand#3' AND p.p_size BETWEEN 1 AND 15
               AND l.l_quantity >= 20 AND l.l_quantity <= 30)
        """
    )


@query(
    "q_cohort_ltv",
    oracle="""
    WITH firsts AS (
      SELECT o_custkey, min(date_trunc('month', o_orderdate)) AS cohort
      FROM orders GROUP BY o_custkey
    ),
    monthly AS (
      SELECT f.cohort,
             CAST(datediff('month', f.cohort,
                           date_trunc('month', o.o_orderdate)) AS INT)
               AS month_n,
             sum(CAST(o.o_totalprice AS DECIMAL(18,2))) AS rev
      FROM orders o JOIN firsts f ON o.o_custkey = f.o_custkey
      GROUP BY 1, 2
    ),
    sizes AS (
      SELECT cohort, count(*) AS n_customers FROM firsts GROUP BY cohort
    )
    SELECT m.cohort, m.month_n,
           CAST(sum(m.rev) OVER (PARTITION BY m.cohort ORDER BY m.month_n
                ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS cum_revenue,
           round(CAST(sum(m.rev) OVER (PARTITION BY m.cohort
                  ORDER BY m.month_n ROWS UNBOUNDED PRECEDING) AS DOUBLE)
                 / s.n_customers, 6) AS ltv_per_customer,
           CAST(s.n_customers AS BIGINT) AS n_customers
    FROM monthly m JOIN sizes s ON m.cohort = s.cohort
    """,
)
def q_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COHORT LTV CURVES — cumulative revenue per acquisition cohort by
    months-since-first-order, normalized per customer: the lifetime-
    value trajectory that payback-period and CAC decisions read off.
    The retention triangle (q_retention_cohorts) counts PRESENCE; this
    accumulates VALUE over the same cohort axes.

    Determinism: monthly revenue sums are DECIMAL (exact, any
    partitioning); the running total is a window over exact decimals
    cast to double only at emission; the per-customer ratio divides by
    an exact integer. Shape: customer-keyed first-order aggregate, one
    (cohort, month) aggregate, cohort sizes broadcast back, and a
    cumulative window over the TINY (cohort × month) frame — at 100 TB
    every wide stage is map-side combined on the same customer hash."""
    o = load(spark, sf_dir, "orders")
    firsts = o.groupBy("o_custkey").agg(
        F.min(F.date_trunc("month", "o_orderdate")).alias("cohort")
    )
    monthly = (
        o.join(firsts, "o_custkey")
        .groupBy(
            "cohort",
            (
                F.floor(
                    F.months_between(
                        F.date_trunc("month", "o_orderdate"), F.col("cohort")
                    )
                )
            )
            .cast("int")
            .alias("month_n"),
        )
        .agg(F.sum(dec("o_totalprice")).alias("rev"))
    )
    sizes = firsts.groupBy("cohort").agg(
        F.count(F.lit(1)).alias("n_customers")
    )
    wc = (
        Window.partitionBy("cohort")
        .orderBy("month_n")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        monthly.join(F.broadcast(sizes), "cohort")
        .select(
            "cohort",
            "month_n",
            F.sum("rev").over(wc).cast("double").alias("cum_revenue"),
            F.round(
                F.sum("rev").over(wc).cast("double") / F.col("n_customers"),
                6,
            ).alias("ltv_per_customer"),
            F.col("n_customers").cast("bigint").alias("n_customers"),
        )
    )


@query(
    "q_graph_degree_dist",
    oracle="""
    WITH ue AS (
      SELECT DISTINCT least(o_custkey % 100, o_orderkey % 100) AS a,
             greatest(o_custkey % 100, o_orderkey % 100) AS b
      FROM orders WHERE o_custkey % 100 <> o_orderkey % 100
    ),
    deg AS (
      SELECT node, count(*) AS degree FROM (
        SELECT a AS node FROM ue UNION ALL SELECT b FROM ue
      ) GROUP BY node
    )
    SELECT CAST(degree AS BIGINT) AS degree,
           CAST(count(*) AS BIGINT) AS n_nodes
    FROM deg GROUP BY degree
    """,
)
def q_graph_degree_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DEGREE DISTRIBUTION of the entity-link graph (same deterministic
    edge derivation as q_graph_pagerank / q_graph_triangles): node
    degree histogram — the first diagnostic run on any graph (skew,
    hubs, power-law shape) and the statistic that DECIDES the triangle
    orientation and join-salting strategies the other graph operators
    document. Two integer aggregates over the edge endpoints; entirely
    map-side-combinable."""
    o = load(spark, sf_dir, "orders")
    s, d = F.col("o_custkey") % 100, F.col("o_orderkey") % 100
    ue = (
        o.where(s != d)
        .select(F.least(s, d).alias("a"), F.greatest(s, d).alias("b"))
        .distinct()
    )
    deg = (
        ue.select(F.col("a").alias("node"))
        .unionAll(ue.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("degree"))
    )
    return deg.groupBy(F.col("degree").cast("bigint").alias("degree")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_nodes")
    )


@query(
    "q_tpch_q13",
    oracle="""
    WITH c_orders AS (
      SELECT c.c_custkey,
             sum(CASE WHEN o.o_orderkey IS NOT NULL THEN 1 ELSE 0 END)
               AS c_count
      FROM customer c
      LEFT JOIN orders o ON c.c_custkey = o.o_custkey
        AND o.o_orderpriority <> '1-URGENT'
      GROUP BY c.c_custkey
    )
    SELECT CAST(c_count AS BIGINT) AS c_count,
           CAST(count(*) AS BIGINT) AS custdist
    FROM c_orders GROUP BY c_count
    """,
)
def q_tpch_q13(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 (customer order-count distribution): how many
    customers placed 0, 1, 2, ... qualifying orders — the two-level
    aggregate over a LEFT join whose point is the PRESERVED null side
    (zero-order customers must appear; an inner join silently drops
    them). Fixture adaptation: the reference excludes
    'special requests' comment patterns; the trimmed schema has no
    comment column, so non-URGENT priority stands in as the filter ON
    the join condition (not WHERE — a WHERE would turn the left join
    back into inner).

    Shape: the filter rides the join condition so urgent orders are
    dropped WITHOUT dropping their customers; first groupBy keyed on
    c_custkey (one shuffle over customers), second on the tiny c_count
    domain. At 100 TB the orders side is pre-filtered before the
    shuffle and both aggregates are map-side combined."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    joined = c.join(
        o,
        (c["c_custkey"] == o["o_custkey"])
        & (o["o_orderpriority"] != "1-URGENT"),
        "left",
    )
    counts = joined.groupBy("c_custkey").agg(
        F.sum(
            F.when(F.col("o_orderkey").isNotNull(), 1).otherwise(0)
        ).alias("c_count")
    )
    return counts.groupBy(F.col("c_count").cast("bigint").alias("c_count")).agg(
        F.count(F.lit(1)).cast("bigint").alias("custdist")
    )


@query(
    "q_tpch_q15",
    oracle=f"""
    WITH revenue AS (
      SELECT l_suppkey AS supplier_no,
             sum({_REV}) AS total_revenue
      FROM lineitem
      WHERE l_shipdate >= DATE '1996-01-01'
        AND l_shipdate < DATE '1996-04-01'
      GROUP BY l_suppkey
    )
    SELECT s.s_suppkey, s.s_name,
           CAST(r.total_revenue AS DOUBLE) AS total_revenue
    FROM supplier s JOIN revenue r ON s.s_suppkey = r.supplier_no
    WHERE r.total_revenue = (SELECT max(total_revenue) FROM revenue)
    """,
)
def q_tpch_q15(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 (top supplier): the supplier(s) whose Q1-1996 revenue
    equals the global maximum — the reference phrases it as a view +
    scalar subquery; the engine phrases the same plan as a revenue
    aggregate reused for both the argmax filter and the join
    (self-referencing view = compute once, consume twice). DECIMAL
    revenue makes the max comparison exact, so ties select
    deterministically identical row sets in both engines.

    Shape: one shuffle for the per-supplier aggregate; the 1-row max
    re-broadcasts into the filter; supplier is the broadcast dim. The
    aggregate output (suppliers, not lineitems) is what flows into
    both consumers — at 100 TB the fact table is read once.

    r13: one spark.sql over the cached supplier projection.
    Interleaved A/B, values bit-identical: sf0.1 median -29%; sf1
    first read +8% in a burst-hit 5-rep window, re-measured alone at
    9 reps -17% (new arm wins 7/9 adjacent pairs) — both-SF winner."""
    li = table_view(spark, sf_dir, "lineitem")
    s = cached_dim_view(spark, sf_dir, "supplier",
                        ("s_suppkey", "s_name"))
    return spark.sql(
        f"""
        WITH revenue AS (
          SELECT l_suppkey AS supplier_no,
                 sum(CAST(l_extendedprice AS DECIMAL(18,2))
                     * (1 - CAST(l_discount AS DECIMAL(18,2))))
                   AS total_revenue
          FROM {li}
          WHERE l_shipdate >= DATE '1996-01-01'
            AND l_shipdate < DATE '1996-04-01'
          GROUP BY l_suppkey
        ),
        mx AS (SELECT max(total_revenue) AS mx FROM revenue)
        SELECT {scaled_broadcast_hint(sf_dir, always=("mx",),
                                      s="supplier")}
               s.s_suppkey, s.s_name,
               CAST(r.total_revenue AS DOUBLE) AS total_revenue
        FROM revenue r
        JOIN mx ON r.total_revenue = mx.mx
        JOIN {s} s ON r.supplier_no = s.s_suppkey
        """
    )


@query(
    "q_tpch_q17",
    oracle="""
    WITH part_avg AS (
      SELECT l_partkey, 0.2 * avg(l_quantity) AS qty_thresh
      FROM lineitem GROUP BY l_partkey
    )
    SELECT CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
             / 7.0 AS avg_yearly
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    JOIN part_avg a ON a.l_partkey = l.l_partkey
    WHERE p.p_brand = 'Brand#1'
      AND l.l_quantity < a.qty_thresh
    """,
)
def q_tpch_q17(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 (small-quantity-order revenue): yearly revenue lost if
    orders below 20% of a part's average quantity were not filled. The
    correlated scalar subquery (per-part average) decorrelates into a
    grouped aggregate joined back to the fact — the rewrite every
    modern optimizer performs, expressed directly. l_quantity is
    integer-valued, so avg = exact-integer-sum / count is deterministic
    in both engines and the 0.2× threshold comparison cannot straddle
    an ulp.

    Shape: only Brand#1 parts' averages are ever consumed, so the
    brand filter pushes THROUGH the aggregate — the fact table is
    semi-joined down to the brand's partkeys (broadcast) BEFORE the
    per-part average shuffles, cutting both shuffles to ~1/25 of the
    rows while leaving every surviving part's average bit-identical
    (it still aggregates ALL of that part's lineitems). The manual
    form of the aggregate-pushdown rewrite optimizers can't always
    prove. DECIMAL revenue sum; single global result row.

    r13: one spark.sql over the cached (p_partkey, p_brand)
    projection — part was decoded TWICE per action before (the semi
    build and the validating inner join), and the 6-step eager chain
    paid per-op analysis. Interleaved A/B, values bit-identical:
    sf0.1 median -26%; sf1 -33% — both-SF winner."""
    li = table_view(spark, sf_dir, "lineitem")
    p = cached_dim_view(spark, sf_dir, "part", ("p_partkey", "p_brand"))
    # r14: part grows ~linearly with SF — hints size-gated
    hint_b = scaled_broadcast_hint(sf_dir, b="part")
    hint_b2 = scaled_broadcast_hint(sf_dir, b2="part")
    return spark.sql(
        f"""
        WITH brand AS (
          SELECT p_partkey FROM {p} WHERE p_brand = 'Brand#1'
        ),
        li1 AS (
          SELECT {hint_b} l.l_partkey, l.l_quantity,
                 l.l_extendedprice
          FROM {li} l LEFT SEMI JOIN brand b ON l.l_partkey = b.p_partkey
        ),
        part_avg AS (
          SELECT l_partkey AS pk, 0.2 * avg(l_quantity) AS qty_thresh
          FROM li1 GROUP BY l_partkey
        )
        SELECT CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,2)))
                    AS DOUBLE) / 7.0 AS avg_yearly
        FROM li1 l
        JOIN (SELECT {hint_b2} p_partkey FROM brand b2) p
          ON l.l_partkey = p.p_partkey
        JOIN part_avg a ON l.l_partkey = a.pk
        WHERE l.l_quantity < a.qty_thresh
        """
    )


@query(
    "q_tpch_q22",
    oracle="""
    WITH avg_bal AS (
      SELECT CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
               / count(*) AS ab
      FROM customer WHERE c_acctbal > 0.0
    )
    SELECT c.c_mktsegment,
           CAST(count(*) AS BIGINT) AS numcust,
           CAST(sum(CAST(c.c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
             AS totacctbal
    FROM customer c, avg_bal
    WHERE c.c_acctbal > avg_bal.ab
      AND NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_orderpriority = '1-URGENT')
    GROUP BY c.c_mktsegment
    """,
)
def q_tpch_q22(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 (global sales opportunity): wealthy-but-inactive
    customers — balance above the positive-balance average, and NO
    qualifying orders. Pins the NOT EXISTS → left ANTI join rewrite
    plus a scalar-aggregate broadcast (the average) into the filter.
    Fixture adaptation: every fixture customer has orders, so the
    anti-join condition is 'no URGENT orders' (the reference's
    7-year-window phone-code variant needs columns the trimmed schema
    lacks); c_mktsegment stands in for the country-code grouping.
    The average is exact (DECIMAL sum / count emitted once as DOUBLE),
    so the balance comparison is cross-engine deterministic.

    Shape: the 1-row average broadcasts into the customer scan filter;
    the anti join shuffles only urgent orders (pre-filtered, projected
    to the key column) against surviving customers; final aggregate is
    5 groups, map-side combined.

    r13: one spark.sql over the cached 3-column customer projection —
    customer was decoded TWICE per action (average leg + main leg).
    Interleaved A/B, values bit-identical: sf0.1 median -41%; sf1
    -52% — both-SF winner."""
    o = table_view(spark, sf_dir, "orders")
    c = cached_dim_view(spark, sf_dir, "customer",
                        ("c_custkey", "c_mktsegment", "c_acctbal"))
    return spark.sql(
        f"""
        WITH ab AS (
          SELECT CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
                   / count(1) AS ab
          FROM {c} WHERE c_acctbal > 0.0
        ),
        urgent AS (
          SELECT o_custkey FROM {o} WHERE o_orderpriority = '1-URGENT'
        )
        SELECT /*+ BROADCAST(ab) */ c.c_mktsegment,
               CAST(count(1) AS BIGINT) AS numcust,
               CAST(sum(CAST(c.c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
                 AS totacctbal
        FROM {c} c
        JOIN ab ON c.c_acctbal > ab.ab
        LEFT ANTI JOIN urgent u ON c.c_custkey = u.o_custkey
        GROUP BY c.c_mktsegment
        """
    )


@query(
    "q_tpch_q9",
    oracle=f"""
    SELECT n.n_name AS nation,
           CAST(year(l.l_shipdate) AS INT) AS o_year,
           CAST(sum({_REV}) AS DOUBLE) AS profit
    FROM lineitem l
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    JOIN part p ON l.l_partkey = p.p_partkey
    WHERE p.p_name LIKE '%red%'
    GROUP BY n.n_name, year(l.l_shipdate)
    """,
)
def q_tpch_q9(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 (product-type profit): profit per supplier nation per
    year over parts matching a name pattern — the widest fixture-
    expressible star (fact + 3 dims) with a LIKE filter on a dimension
    attribute. Fixture adaptation: no partsupp table, so profit is
    revenue (no supplycost term) and the reference's 6-table chain
    drops the orders hop (year comes from l_shipdate, matching the
    available column).

    Shape: the p_name LIKE filter shrinks part BEFORE broadcast, so
    the fact scan keeps only matching partkeys via the broadcast hash
    join (runtime filter at real scale); supplier and nation broadcast;
    ONE map-side-combined DECIMAL aggregate over (nation, year).

    r13: one spark.sql over memory-cached dim projections — the LIKE
    filter now evaluates on the cached (p_partkey, p_name) columns
    instead of a full-width part decode per action. Interleaved A/B,
    values bit-identical: sf0.1 median 0.332 s -> 0.229 (-31%); sf1
    0.677 -> 0.596 (-12%) — both-SF winner."""
    li = table_view(spark, sf_dir, "lineitem")
    s = cached_dim_view(spark, sf_dir, "supplier",
                        ("s_suppkey", "s_nationkey"))
    n = cached_dim_view(spark, sf_dir, "nation",
                        ("n_nationkey", "n_name"))
    p = cached_dim_view(spark, sf_dir, "part", ("p_partkey", "p_name"))
    return spark.sql(
        f"""
        SELECT {scaled_broadcast_hint(sf_dir, s="supplier", n="nation",
                                      p="part")}
               n.n_name AS nation,
               CAST(year(l.l_shipdate) AS INT) AS o_year,
               CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,2))
                        * (1 - CAST(l.l_discount AS DECIMAL(18,2))))
                 AS DOUBLE) AS profit
        FROM {li} l
        JOIN {s} s ON l.l_suppkey = s.s_suppkey
        JOIN {n} n ON s.s_nationkey = n.n_nationkey
        JOIN {p} p ON l.l_partkey = p.p_partkey
        WHERE p.p_name LIKE '%red%'
        GROUP BY n.n_name, year(l.l_shipdate)
        """
    )


@query(
    "q_tpch_q2",
    oracle="""
    WITH ps AS (
      SELECT DISTINCT l_partkey, l_suppkey FROM lineitem
    ),
    ranked AS (
      SELECT ps.l_partkey, s.s_suppkey, s.s_name, s.s_acctbal,
             row_number() OVER (PARTITION BY ps.l_partkey
                                ORDER BY s.s_acctbal ASC, s.s_suppkey ASC)
               AS rn
      FROM ps JOIN supplier s ON ps.l_suppkey = s.s_suppkey
    )
    SELECT p.p_partkey, p.p_name, r.s_suppkey, r.s_name,
           CAST(r.s_acctbal AS DOUBLE) AS s_acctbal
    FROM ranked r JOIN part p ON p.p_partkey = r.l_partkey
    WHERE r.rn = 1 AND p.p_size <= 10
    """,
)
def q_tpch_q2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 (minimum-cost supplier): for each small part, the
    single cheapest supplier that has actually supplied it — the
    correlated-min-subquery pattern, decorrelated into a per-part
    argmin window over the part↔supplier relationship. Fixture
    adaptation: no partsupp table, so the relationship is the DISTINCT
    (partkey, suppkey) pairs observed in lineitem and s_acctbal stands
    in for ps_supplycost; no region/nation arm (Q9 covers that
    traversal). The (acctbal, suppkey) tiebreak makes the argmin total.

    Shape: pair-distinct is one shuffle on the composite key; supplier
    broadcasts into the pairs; the argmin window runs partitioned by
    partkey (WindowGroupLimit keeps only local minima before the
    shuffle); part broadcasts with the size filter pre-applied. The
    semi-join still prunes the pair scan to qualifying partkeys
    BEFORE the distinct shuffles.

    r13: one spark.sql over cached part/supplier projections — part
    was decoded TWICE per action (semi build + final attribute join)
    and the 8-step eager chain paid per-op analysis. Interleaved A/B,
    values bit-identical: sf0.1 median -33%; sf1 -12% — both-SF
    winner."""
    li = table_view(spark, sf_dir, "lineitem")
    p = cached_dim_view(spark, sf_dir, "part",
                        ("p_partkey", "p_name", "p_size"))
    s = cached_dim_view(spark, sf_dir, "supplier",
                        ("s_suppkey", "s_name", "s_acctbal"))
    # r14: part/supplier grow ~linearly with SF — hints size-gated
    hint_b = scaled_broadcast_hint(sf_dir, b="part")
    hint_s = scaled_broadcast_hint(sf_dir, s="supplier")
    hint_p = scaled_broadcast_hint(sf_dir, p="part")
    return spark.sql(
        f"""
        WITH small AS (
          SELECT p_partkey, p_name FROM {p} WHERE p_size <= 10
        ),
        ps AS (
          SELECT {hint_b} DISTINCT l.l_partkey, l.l_suppkey
          FROM {li} l
          LEFT SEMI JOIN small b ON l.l_partkey = b.p_partkey
        ),
        ranked AS (
          SELECT {hint_s} ps.l_partkey, s.s_suppkey, s.s_name,
                 s.s_acctbal,
                 row_number() OVER (PARTITION BY ps.l_partkey
                                    ORDER BY s.s_acctbal ASC,
                                             s.s_suppkey ASC) AS rn
          FROM ps JOIN {s} s ON ps.l_suppkey = s.s_suppkey
        )
        SELECT {hint_p} p.p_partkey, p.p_name, r.s_suppkey,
               r.s_name, CAST(r.s_acctbal AS DOUBLE) AS s_acctbal
        FROM ranked r JOIN small p ON p.p_partkey = r.l_partkey
        WHERE r.rn = 1
        """
    )


@query(
    "q_tpch_q4",
    oracle="""
    SELECT o.o_orderpriority,
           CAST(count(*) AS BIGINT) AS order_count
    FROM orders o
    WHERE o.o_orderdate >= DATE '1996-01-01'
      AND o.o_orderdate < DATE '1996-04-01'
      AND EXISTS (
        SELECT 1 FROM lineitem l
        WHERE l.l_orderkey = o.o_orderkey
          AND CAST(l.l_shipdate AS DATE)
              > CAST(o.o_orderdate AS DATE) + 60)
    GROUP BY o.o_orderpriority
    """,
)
def q_tpch_q4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 (order priority checking): per priority, how many
    Q1-1996 orders had at least one line shipped more than 60 days
    after ordering. Pins EXISTS-with-correlated-predicate → LEFT SEMI
    join where the correlation involves BOTH tables' columns (shipdate
    vs orderdate), so the semi join carries a non-equi residual on top
    of the orderkey equi key. Fixture adaptation: no l_commitdate /
    l_receiptdate, so 'late' is shipdate 60+ days past order date.

    Shape: the date window prunes orders at the scan; the semi join
    hashes on l_orderkey and evaluates the residual per match,
    stopping at the first hit (semi semantics — no fan-out); final
    aggregate is 5 groups, map-side combined."""
    o = load(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= "1996-01-01")
        & (F.col("o_orderdate") < "1996-04-01")
    )
    li = load(spark, sf_dir, "lineitem")
    cond = (F.col("l_orderkey") == F.col("o_orderkey")) & (
        F.col("l_shipdate").cast("date")
        > F.date_add(F.col("o_orderdate").cast("date"), 60)
    )
    return (
        o.join(li, cond, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).cast("bigint").alias("order_count"))
    )


@query(
    "q_tpch_q6",
    oracle="""
    SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                    * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE)
             AS revenue
    FROM lineitem
    WHERE l_shipdate >= DATE '1997-01-01'
      AND l_shipdate < DATE '1998-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
)
def q_tpch_q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 (forecasting revenue change) — the pure scan-filter-
    aggregate: no join, one global DECIMAL sum under three pushed
    predicates. This is the query that measures raw scan + predicate
    throughput; every filter reaches the parquet reader (date range,
    discount band, quantity cap all pushable), and the aggregate is a
    single partial+final sum. The discount literals compare against
    the same stored doubles in both engines, so the band edges select
    identical rows."""
    li = load(spark, sf_dir, "lineitem")
    return (
        li.where(
            (F.col("l_shipdate") >= "1997-01-01")
            & (F.col("l_shipdate") < "1998-01-01")
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            as_double(
                F.sum(dec("l_extendedprice") * dec("l_discount"))
            ).alias("revenue")
        )
    )


@query(
    "q_tpch_q8",
    oracle=f"""
    WITH vol AS (
      SELECT year(l.l_shipdate) AS o_year,
             {_REV} AS volume,
             ns.n_name AS supp_nation
      FROM lineitem l
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
      JOIN nation ns ON s.s_nationkey = ns.n_nationkey
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation nc ON c.c_nationkey = nc.n_nationkey
      JOIN region r ON nc.n_regionkey = r.r_regionkey
      WHERE r.r_name = 'ASIA'
    )
    SELECT CAST(o_year AS INT) AS o_year,
           round(CAST(sum(CASE WHEN supp_nation = 'NATION_1'
                          THEN volume ELSE CAST(0 AS DECIMAL(18,2)) END)
                      AS DOUBLE)
                 / CAST(sum(volume) AS DOUBLE), 6) AS mkt_share
    FROM vol GROUP BY o_year
    """,
)
def q_tpch_q8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 (national market share): NATION_1 suppliers' share of
    revenue sold into ASIA-region customers, per year — the deepest
    fixture-expressible snowflake (fact + 5 dimension hops, one
    traversed twice) with the conditional-share aggregate on top.
    Fixture adaptation: no p_type filter arm (part carries the Q9/Q14
    coverage) and the year range is the data's own span.

    Shape: every dimension (supplier, customer, nation×2, region)
    broadcasts; lineitem→orders is the only shuffled join; numerator
    and denominator come from ONE DECIMAL aggregate pass (CASE inside
    SUM), so the share is exact-over-exact in both engines.

    r13: one spark.sql over memory-cached dim projections — the old
    11-step eager chain paid per-op analysis plus four dim parquet
    decodes per action (supplier, customer, nation twice, region).
    Interleaved A/B, values bit-identical: sf0.1 median -52%; sf1 -7%
    — both-SF winner (the deepest-chain analog of Q7's -38%/-9%)."""
    li = table_view(spark, sf_dir, "lineitem")
    o = table_view(spark, sf_dir, "orders")
    s = cached_dim_view(spark, sf_dir, "supplier",
                        ("s_suppkey", "s_nationkey"))
    c = cached_dim_view(spark, sf_dir, "customer",
                        ("c_custkey", "c_nationkey"))
    n = cached_dim_view(spark, sf_dir, "nation",
                        ("n_nationkey", "n_name", "n_regionkey"))
    r = cached_dim_view(spark, sf_dir, "region",
                        ("r_regionkey", "r_name"))
    return spark.sql(
        f"""
        WITH vol AS (
          SELECT {scaled_broadcast_hint(sf_dir, s="supplier",
                                        ns="nation", c="customer",
                                        nc="nation", r="region")}
                 CAST(year(l.l_shipdate) AS INT) AS o_year,
                 CAST(l.l_extendedprice AS DECIMAL(18,2))
                   * (1 - CAST(l.l_discount AS DECIMAL(18,2)))
                   AS volume,
                 ns.n_name AS supp_nation
          FROM {li} l
          JOIN {s} s ON l.l_suppkey = s.s_suppkey
          JOIN {n} ns ON s.s_nationkey = ns.n_nationkey
          JOIN {o} o ON l.l_orderkey = o.o_orderkey
          JOIN {c} c ON o.o_custkey = c.c_custkey
          JOIN {n} nc ON c.c_nationkey = nc.n_nationkey
          JOIN {r} r ON nc.n_regionkey = r.r_regionkey
          WHERE r.r_name = 'ASIA'
        )
        SELECT o_year,
               round(CAST(sum(CASE WHEN supp_nation = 'NATION_1'
                              THEN volume
                              ELSE CAST(0 AS DECIMAL(18,2)) END)
                          AS DOUBLE)
                     / CAST(sum(volume) AS DOUBLE), 6) AS mkt_share
        FROM vol GROUP BY o_year
        """
    )


@query(
    "q_tpch_q11",
    oracle="""
    WITH pv AS (
      SELECT l.l_partkey,
             sum(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS val
      FROM lineitem l
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
      JOIN nation n ON s.s_nationkey = n.n_nationkey
      WHERE n.n_name = 'NATION_1'
      GROUP BY l.l_partkey
    ),
    tot AS (SELECT sum(val) AS t FROM pv)
    SELECT pv.l_partkey, CAST(pv.val AS DOUBLE) AS value
    FROM pv, tot
    WHERE CAST(pv.val AS DOUBLE) > 0.001 * CAST(tot.t AS DOUBLE)
    """,
)
def q_tpch_q11(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 (important stock identification): parts whose value
    supplied through NATION_1 suppliers exceeds 0.1% of that nation's
    total — the grouped-aggregate-vs-scalar-aggregate HAVING pattern,
    where the threshold is itself an aggregate over the same derived
    table. Fixture adaptation: no partsupp, so value is lineitem
    extendedprice through the nation's suppliers.

    Shape: the per-part aggregate is computed ONCE and consumed twice
    (group rows + 1-row total) — the total broadcasts back into the
    filter, exactly like Q15's argmax. Both sides of the threshold
    comparison are exact DECIMAL sums cast to double through the same
    expression, so the cut selects identical parts.

    r13: one spark.sql over cached supplier/nation projections — the
    6-step eager chain paid per-op analysis plus two dim parquet
    decodes per action. Interleaved A/B, values bit-identical: sf0.1
    median -37%; sf1 -16% — both-SF winner."""
    li = table_view(spark, sf_dir, "lineitem")
    s = cached_dim_view(spark, sf_dir, "supplier",
                        ("s_suppkey", "s_nationkey"))
    n = cached_dim_view(spark, sf_dir, "nation",
                        ("n_nationkey", "n_name"))
    return spark.sql(
        f"""
        WITH pv AS (
          SELECT {scaled_broadcast_hint(sf_dir, s="supplier",
                                        n="nation")} l.l_partkey,
                 sum(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS val
          FROM {li} l
          JOIN {s} s ON l.l_suppkey = s.s_suppkey
          JOIN {n} n ON s.s_nationkey = n.n_nationkey
          WHERE n.n_name = 'NATION_1'
          GROUP BY l.l_partkey
        ),
        tot AS (SELECT sum(val) AS t FROM pv)
        SELECT /*+ BROADCAST(tot) */ pv.l_partkey,
               CAST(pv.val AS DOUBLE) AS value
        FROM pv JOIN tot
          ON CAST(pv.val AS DOUBLE) > 0.001 * CAST(tot.t AS DOUBLE)
        """
    )


@query(
    "q_tpch_q16",
    oracle="""
    SELECT p.p_brand, p.p_type, p.p_size,
           CAST(count(DISTINCT l.l_suppkey) AS BIGINT) AS supplier_cnt
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE p.p_size IN (1, 5, 9, 13)
      AND p.p_brand <> 'Brand#1'
      AND l.l_suppkey NOT IN (
        SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
    GROUP BY p.p_brand, p.p_type, p.p_size
    """,
)
def q_tpch_q16(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 (parts/supplier relationship): how many distinct
    eligible suppliers serve each (brand, type, size) slice — the
    COUNT(DISTINCT) over a join with a NOT IN exclusion subquery.
    Fixture adaptation: the supplier relationship comes from lineitem
    (no partsupp) and negative account balance stands in for the
    complaints blacklist.

    Shape: NOT IN over a provably non-null key column plans as a LEFT
    ANTI join (broadcast — the blacklist is tiny); part is the filtered
    broadcast dim; the distinct-count is a two-phase aggregate (dedup
    on (group, suppkey), then count) — both phases map-side
    combinable, no single-point distinct.

    r13: one spark.sql over cached part/supplier projections — part's
    four columns and the supplier blacklist re-decoded parquet per
    action before. Interleaved A/B, values bit-identical: sf0.1
    median -14%; sf1 -23% — both-SF winner."""
    li = table_view(spark, sf_dir, "lineitem")
    p = cached_dim_view(spark, sf_dir, "part",
                        ("p_partkey", "p_brand", "p_type", "p_size"))
    s = cached_dim_view(spark, sf_dir, "supplier",
                        ("s_suppkey", "s_acctbal"))
    return spark.sql(
        f"""
        SELECT {scaled_broadcast_hint(sf_dir, p="part",
                                      bad="supplier")}
               p.p_brand, p.p_type, p.p_size,
               CAST(count(DISTINCT l.l_suppkey) AS BIGINT) AS supplier_cnt
        FROM {li} l
        JOIN {p} p ON p.p_partkey = l.l_partkey
        LEFT ANTI JOIN (SELECT s_suppkey FROM {s} WHERE s_acctbal < 0) bad
          ON l.l_suppkey = bad.s_suppkey
        WHERE p.p_size IN (1, 5, 9, 13) AND p.p_brand <> 'Brand#1'
        GROUP BY p.p_brand, p.p_type, p.p_size
        """
    )


@query(
    "q_tpch_q20",
    oracle="""
    WITH agg AS (
      SELECT l_partkey, l_suppkey, sum(l_quantity) AS qty97
      FROM lineitem
      WHERE l_shipdate >= DATE '1997-01-01'
        AND l_shipdate < DATE '1998-01-01'
      GROUP BY l_partkey, l_suppkey
    ),
    ptot AS (
      SELECT l_partkey, sum(qty97) AS tot FROM agg GROUP BY l_partkey
    ),
    dominant AS (
      SELECT a.l_suppkey
      FROM agg a
      JOIN ptot t ON a.l_partkey = t.l_partkey
      JOIN part p ON p.p_partkey = a.l_partkey
      WHERE p.p_name LIKE '%red%' AND a.qty97 > 0.5 * t.tot
    )
    SELECT s.s_suppkey, s.s_name
    FROM supplier s
    WHERE s.s_suppkey IN (SELECT l_suppkey FROM dominant)
    """,
)
def q_tpch_q20(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 (potential part promotion): suppliers who DOMINATE
    the 1997 supply of some red part (more than half that part's
    shipped quantity) — the nested IN-chain query (supplier IN (...
    part IN (...))), decorrelated into two stacked aggregates and a
    semi join. Fixture adaptation: no partsupp availqty, so the
    half-threshold compares a supplier's share against the part's
    total shipped quantity.

    Shape: both aggregates key on l_partkey (the second reuses the
    first's partitioning under AQE); part broadcasts with the LIKE
    pre-applied; the final IN is a LEFT SEMI against the small
    dominant-supplier set. Quantities are integer-valued doubles —
    sums are exact, so the 0.5× threshold is deterministic. The red
    semi-join still happens BEFORE both aggregates (per-part values
    unchanged; both shuffles shrink to the red slice).

    r13: one spark.sql over cached part/supplier projections — the
    8-step eager chain paid per-op analysis, and part + supplier
    re-decoded per action. Interleaved A/B, values bit-identical:
    sf0.1 median -25%; sf1 -23% — both-SF winner."""
    li = table_view(spark, sf_dir, "lineitem")
    p = cached_dim_view(spark, sf_dir, "part", ("p_partkey", "p_name"))
    s = cached_dim_view(spark, sf_dir, "supplier",
                        ("s_suppkey", "s_name"))
    return spark.sql(
        f"""
        WITH red AS (
          SELECT p_partkey FROM {p} WHERE p_name LIKE '%red%'
        ),
        agg AS (
          SELECT {scaled_broadcast_hint(sf_dir, b="part")}
                 l.l_partkey, l.l_suppkey,
                 sum(l.l_quantity) AS qty97
          FROM {li} l LEFT SEMI JOIN red b ON l.l_partkey = b.p_partkey
          WHERE l.l_shipdate >= DATE '1997-01-01'
            AND l.l_shipdate < DATE '1998-01-01'
          GROUP BY l.l_partkey, l.l_suppkey
        ),
        ptot AS (
          SELECT l_partkey AS pk, sum(qty97) AS tot
          FROM agg GROUP BY l_partkey
        ),
        dominant AS (
          SELECT a.l_suppkey FROM agg a
          JOIN ptot t ON a.l_partkey = t.pk
          WHERE a.qty97 > 0.5 * t.tot
        )
        SELECT s.s_suppkey, s.s_name
        FROM {s} s LEFT SEMI JOIN dominant d ON s.s_suppkey = d.l_suppkey
        """
    )


@query(
    "q_delete_propagate",
    oracle="""
    WITH del AS (
      SELECT c_custkey FROM customer WHERE c_custkey % 97 = 0
    ),
    surv_orders AS (
      SELECT o_orderkey FROM orders
      WHERE o_custkey NOT IN (SELECT c_custkey FROM del)
    )
    SELECT 'customer' AS tbl, CAST(count(*) AS BIGINT) AS n_rows
    FROM customer WHERE c_custkey NOT IN (SELECT c_custkey FROM del)
    UNION ALL
    SELECT 'orders', count(*) FROM surv_orders
    UNION ALL
    SELECT 'lineitem', count(*) FROM lineitem
    WHERE l_orderkey IN (SELECT o_orderkey FROM surv_orders)
    """,
)
def q_delete_propagate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ERASURE-REQUEST PROPAGATION (GDPR/CCPA delete cascade): a
    deletion set of customers (deterministic key sample standing in
    for the request table) must cascade through the foreign-key chain
    customer → orders → lineitem, and the output is the surviving
    row count per table — the audit a compliance job emits. The
    cascade is anti join (direct key) then semi join (surviving
    parents), never a NOT-IN-over-subquery per row.

    Shape: the request set is tiny → broadcast anti join against
    customer and orders (no shuffle of the big tables); lineitem keeps
    rows via a semi join on surviving orderkeys — at 100 TB that semi
    join is the only wide shuffle, and with a table format it becomes
    MERGE DELETE using the same join plan."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    del_keys = c.where(F.col("c_custkey") % 97 == 0).select("c_custkey")
    surv_c = c.join(F.broadcast(del_keys), "c_custkey", "left_anti")
    surv_o = o.join(
        F.broadcast(del_keys),
        o["o_custkey"] == del_keys["c_custkey"],
        "left_anti",
    )
    surv_li = li.join(
        surv_o.select("o_orderkey"),
        li["l_orderkey"] == F.col("o_orderkey"),
        "left_semi",
    )
    count_of = lambda df, name: df.agg(  # noqa: E731
        F.lit(name).alias("tbl"),
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
    )
    return (
        count_of(surv_c, "customer")
        .unionAll(count_of(surv_o, "orders"))
        .unionAll(count_of(surv_li, "lineitem"))
    )


@query(
    "q_ivm_join",
    oracle="""
    SELECT o.o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_lines,
           CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
             AS revenue
    FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    GROUP BY o.o_orderpriority
    """,
)
def q_ivm_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL JOIN-VIEW MAINTENANCE — the delta algebra behind
    every materialized join view refresh:
    Δ(A⋈B) = ΔA⋈B₀ ∪ A₀⋈ΔB ∪ ΔA⋈ΔB. The engine splits both tables
    into a base (95%) and a late-arriving delta partition (keys
    ≡ 0 mod 20), computes the three delta joins, and the union of
    base-join + deltas must equal the full recompute — which is
    exactly what the oracle computes, so the hash match PROVES the
    maintenance algebra (the same guarantee q_agg_incremental gives
    for aggregate state, extended to the binary operator).

    At 100 TB this is the nightly-refresh shape: each delta term joins
    a small delta against a base (broadcast or partition-pruned), never
    recomputing the full A⋈B; all four terms share the orderkey hash
    partitioning, and the final aggregate is map-side combined over
    the unioned deltas."""
    o = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    # DIFFERENT delta predicates per table (keys ≡0 mod 20 vs mod 30,
    # overlapping at mod 60) so all three delta terms are non-empty —
    # same-key splits would make ΔA⋈B₀ and A₀⋈ΔB vacuously empty and
    # prove nothing about the cross terms.
    is_delta_o = F.col("o_orderkey") % 20 == 0
    is_delta_l = F.col("l_orderkey") % 30 == 0
    o0, do = o.where(~is_delta_o), o.where(is_delta_o)
    l0, dl = li.where(~is_delta_l), li.where(is_delta_l)

    def j(a, b):
        return a.join(b, a["o_orderkey"] == b["l_orderkey"]).select(
            "o_orderpriority", "l_extendedprice"
        )

    merged = (
        j(o0, l0)       # the standing view
        .unionAll(j(do, l0))  # ΔA ⋈ B₀
        .unionAll(j(o0, dl))  # A₀ ⋈ ΔB
        .unionAll(j(do, dl))  # ΔA ⋈ ΔB
    )
    return merged.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_lines"),
        as_double(F.sum(dec("l_extendedprice"))).alias("revenue"),
    )


@query(
    "q_table_profile",
    oracle="""
    SELECT 'l_quantity' AS col,
           CAST(min(l_quantity) AS DOUBLE) AS min_v,
           CAST(max(l_quantity) AS DOUBLE) AS max_v,
           CAST(sum(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END)
             AS BIGINT) AS n_nulls,
           CAST(count(DISTINCT l_quantity) AS BIGINT) AS ndv,
           round(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
                 / count(*), 6) AS mean_v
    FROM lineitem
    UNION ALL
    SELECT 'l_extendedprice',
           CAST(min(l_extendedprice) AS DOUBLE),
           CAST(max(l_extendedprice) AS DOUBLE),
           CAST(sum(CASE WHEN l_extendedprice IS NULL THEN 1 ELSE 0 END)
             AS BIGINT),
           CAST(count(DISTINCT l_extendedprice) AS BIGINT),
           round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)))
                      AS DOUBLE) / count(*), 6)
    FROM lineitem
    UNION ALL
    SELECT 'l_discount',
           CAST(min(l_discount) AS DOUBLE),
           CAST(max(l_discount) AS DOUBLE),
           CAST(sum(CASE WHEN l_discount IS NULL THEN 1 ELSE 0 END)
             AS BIGINT),
           CAST(count(DISTINCT l_discount) AS BIGINT),
           round(CAST(sum(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE)
                 / count(*), 6)
    FROM lineitem
    """,
)
@plan_memo("lineitem")
def q_table_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COLUMN PROFILER — the ANALYZE TABLE / data-catalog statistics
    pass: min, max, null count, exact NDV and mean per numeric column,
    in ONE scan (the oracle spells it as three scans; Spark computes
    every column's stats in a single aggregate and unpivots — the
    profiler shape that feeds CBO statistics, data catalogs and drift
    monitors). Exact NDV is the honest tier here; q_agg_approx /
    q_agg_hll_sketch pin the sketch tier a 100 TB profiler would swap
    in per-column when exactness stops paying.

    One full-scan aggregate (count-distinct expands each column, still
    one shuffle round under AQE) + a 3-row unpivot — at scale the scan
    cost dominates and is paid ONCE for all columns, which is the
    point vs per-column ANALYZE statements."""
    li = load(spark, sf_dir, "lineitem")

    def stats(c):
        return [
            F.min(c).cast("double").alias(f"{c}__min"),
            F.max(c).cast("double").alias(f"{c}__max"),
            F.sum(F.col(c).isNull().cast("int"))
            .cast("bigint")
            .alias(f"{c}__nulls"),
            F.countDistinct(c).cast("bigint").alias(f"{c}__ndv"),
            F.round(
                F.sum(F.col(c).cast("decimal(18,2)")).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias(f"{c}__mean"),
        ]

    cols = ["l_quantity", "l_extendedprice", "l_discount"]
    one = li.agg(*[s for c in cols for s in stats(c)])
    rows = [
        F.struct(
            F.lit(c).alias("col"),
            F.col(f"{c}__min").alias("min_v"),
            F.col(f"{c}__max").alias("max_v"),
            F.col(f"{c}__nulls").alias("n_nulls"),
            F.col(f"{c}__ndv").alias("ndv"),
            F.col(f"{c}__mean").alias("mean_v"),
        )
        for c in cols
    ]
    return one.select(
        F.explode(F.array(*rows)).alias("s")
    ).select("s.col", "s.min_v", "s.max_v", "s.n_nulls", "s.ndv", "s.mean_v")


@query(
    "q_observe_metrics",
    oracle="""
    SELECT CAST(count(*) AS BIGINT) AS n_rows,
           CAST(count(CASE WHEN l_returnflag = 'R' THEN 1 END) AS BIGINT)
             AS n_returned,
           CAST(sum(CAST(l_extendedprice * (1 - l_discount)
                         AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
           CAST(min(l_shipdate) AS DATE) AS first_ship,
           CAST(max(l_shipdate) AS DATE) AS last_ship
    FROM lineitem
    """,
)
def q_observe_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BATCH OBSERVABILITY via ``Dataset.observe``: named accumulator
    metrics (row count, conditional count, revenue sum, ship-date
    bounds) ride ON the pass the query was already making — zero extra
    scans, zero extra shuffles, collected on the driver when the action
    completes. This is the batch half of the A13 progress/telemetry
    surface (SURVEY §2A; streaming half = s_progress_metrics): the
    reference prints per-tile progress lines (src/Program.cs:120-127),
    a Spark pipeline instead attaches observations to the frames it
    writes and ships them to metrics sinks via QueryExecutionListener.

    The observed metrics are REAL aggregates with exact semantics
    (DECIMAL money math per §5.3), so the qid H-checks them against
    DuckDB computing the same aggregates the explicit way — pinning
    that piggy-backed observation ≡ a dedicated aggregation pass. At
    100 TB the difference is one full scan saved per audit metric
    family."""
    from pyspark.sql import Observation

    li = load(spark, sf_dir, "lineitem")
    obs = Observation("q_observe_metrics")
    observed = li.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.count(F.when(F.col("l_returnflag") == "R", 1)).alias("n_returned"),
        as_double(
            F.sum(
                (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                    "decimal(18,4)"
                )
            )
        ).alias("revenue"),
        F.min("l_shipdate").alias("first_ship"),
        F.max("l_shipdate").alias("last_ship"),
    )
    # The action the pipeline was running anyway; observation costs no
    # extra pass. (A real job would .write here — count() stands in.)
    observed.count()
    m = obs.get
    return spark.createDataFrame(
        [
            (
                m["n_rows"],
                m["n_returned"],
                float(m["revenue"]),
                m["first_ship"],
                m["last_ship"],
            )
        ],
        "n_rows BIGINT, n_returned BIGINT, revenue DOUBLE, "
        "first_ship DATE, last_ship DATE",
    )


_BFS_SEED = 1  # part node; suppliers are encoded as negative ids
_BFS_ROUNDS = 6
_BFS_EDGE_FILTER = "l_quantity < 4 AND l_linenumber <= 2"


@query(
    "q_graph_bfs",
    oracle=f"""
    WITH RECURSIVE e AS (
      SELECT DISTINCT l_partkey AS p, l_suppkey AS s FROM lineitem
      WHERE {_BFS_EDGE_FILTER}
    ),
    g AS (
      SELECT p AS src, -s AS dst FROM e
      UNION ALL
      SELECT -s AS src, p AS dst FROM e
    ),
    bfs(node, dist) AS (
      SELECT CAST({_BFS_SEED} AS BIGINT) AS node, 0 AS dist
      UNION
      SELECT g.dst, bfs.dist + 1
      FROM bfs JOIN g ON g.src = bfs.node
      WHERE bfs.dist < {_BFS_ROUNDS}
    )
    SELECT node, CAST(min(dist) AS INT) AS dist
    FROM bfs GROUP BY node
    """,
)
@plan_memo("lineitem")
def q_graph_bfs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SINGLE-SOURCE BFS shortest hops (bounded frontier expansion)
    over the part↔supplier bipartite graph (sparse edge subset so the
    fixture graph has real depth; suppliers ride as negative node ids).
    Distances are INTEGER hops — exact, no float drift — making this
    the H-checkable representative of the message-passing family next
    to q_graph_pagerank (fixed-iteration float) and q_dedup_cluster
    (label propagation to fixpoint).

    Spark shape: classic frontier BFS — each round joins the CURRENT
    FRONTIER (not the visited set) against the edge list, anti-joins
    out already-visited nodes, unions into visited. Work per round is
    O(frontier boundary), the distributed-BFS optimum; localCheckpoint
    truncates the growing lineage so round N's plan doesn't replay
    rounds 1..N-1 (the standard iterative-algorithm discipline, same
    as q_graph_pagerank). The oracle spells it as a bounded recursive
    CTE with UNION-dedup + min(dist) — semantics pinned: min over all
    ≤6-hop walks ≡ BFS layering."""
    li = load(spark, sf_dir, "lineitem")
    # checkpoint BEFORE symmetrizing (the connected_components
    # discipline): the union's two branches would each re-execute the
    # lineitem scan + distinct shuffle otherwise
    e = (
        li.where(_BFS_EDGE_FILTER)
        .select("l_partkey", "l_suppkey")
        .distinct()
        .localCheckpoint(eager=True)
    )
    g = (
        e.select(
            F.col("l_partkey").alias("src"),
            (-F.col("l_suppkey")).cast("bigint").alias("dst"),
        )
        .unionAll(
            e.select(
                (-F.col("l_suppkey")).cast("bigint").alias("src"),
                F.col("l_partkey").alias("dst"),
            )
        )
        .localCheckpoint()
    )
    free_local_checkpoint(e)  # g supersedes it
    frontier = spark.createDataFrame(
        [(_BFS_SEED, 0)], "node BIGINT, dist INT"
    )
    visited = frontier
    for d in range(1, _BFS_ROUNDS + 1):
        nxt = (
            frontier.join(g, frontier["node"] == g["src"])
            .select(F.col("dst").alias("node"))
            .distinct()
            .join(visited, "node", "left_anti")
            .withColumn("dist", F.lit(d))
            .localCheckpoint()
        )
        if not nxt.take(1):
            break
        visited = visited.unionAll(nxt)
        frontier = nxt
    return visited.select("node", F.col("dist").cast("int").alias("dist"))
