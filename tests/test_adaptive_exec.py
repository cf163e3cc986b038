"""AQE RUNTIME evidence (SURVEY §4.2), and the small posture without it.

test_plan_quality.py pins static plan shapes; these tests pin what
ADAPTIVE execution actually did at runtime — the final (isFinalPlan)
plan after stage materialization. At 100 TB, AQE's runtime re-planning
(coalescing the post-shuffle partition count to the data's real size)
is the difference between 'shuffle.partitions must be hand-tuned per
query' and 'one global setting works'; these tests prove the large
posture of ``session.conf_for`` leaves AQE in a state where that re-plan
really fires. The sf0.001 fixture is small, so they lower the bound to
make the registry pick the large posture; the last test pins what the
fixture really gets: AQE off and ``min(8, cpus)`` partitions.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tile_etl_spark import registry, session

registry.load_all()


def executed_plan(df) -> str:
    """Final adaptive plan — valid only AFTER an action on ``df``."""
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture
def large(monkeypatch):
    """Every input reads as large: the registry sets AQE on and
    ``max(32, cpus)`` shuffle partitions."""
    monkeypatch.setattr(session, "SMALL_INPUT_BYTES", -1)


def test_aqe_finalizes_and_coalesces_small_aggregate(spark, sf_dir, large):
    """Distinct aggregates per supplier: 32 shuffle partitions
    configured, ten groups of output at sf0.001 — the final plan must show
    AQE re-read the shuffle ('AQEShuffleRead coalesced'), not 32
    near-empty reducers. The qids here build a fresh frame per call: a
    frame's physical plan is fixed at its first action, so a memoized
    one (``io.plan_memo``, e.g. q_agg_group) keeps the conf it first ran
    under."""
    df = registry.QUERIES["q_agg_distinct"](spark, sf_dir)
    df.collect()
    p = executed_plan(df)
    assert "isFinalPlan=true" in p
    assert "AQEShuffleRead" in p and "coalesced" in p, p[:1500]


def test_aqe_coalesces_shuffled_join_reads(spark, sf_dir, large):
    """A deliberately non-broadcast join (threshold -1 via hint-free
    SMJ path): both shuffle reads must come back coalesced in the
    final plan — the runtime correction for over-provisioned
    parallelism on dimension-sized inputs."""
    li = registry.QUERIES["q_scan_project"](spark, sf_dir)
    right = (
        li.groupBy("l_orderkey")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    j = (
        li.hint("merge")
        .join(right.hint("merge"), "l_orderkey")
        .groupBy()
        .agg(F.count(F.lit(1)).alias("total"))
    )
    j.collect()
    p = executed_plan(j)
    assert "isFinalPlan=true" in p
    assert "AQEShuffleRead" in p and "coalesced" in p, p[:1500]


def test_small_input_runs_without_aqe(spark, sf_dir):
    """A registry call on the small fixture sets AQE off and
    ``min(8, cpus)`` partitions, and its action plans statically."""
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    df = registry.QUERIES["q_agg_distinct"](spark, sf_dir)
    cpus = spark.sparkContext.defaultParallelism
    assert spark.conf.get("spark.sql.adaptive.enabled") == "false"
    assert spark.conf.get("spark.sql.shuffle.partitions") == str(min(8, cpus))
    df.collect()
    assert "AdaptiveSparkPlan" not in executed_plan(df)
