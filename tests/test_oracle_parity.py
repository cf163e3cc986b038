"""The engine-wide correctness gate, run locally at sf0.001: every
registered qid with an oracle twin must match DuckDB exactly —
row-count, column names, and order-insensitive canonical values. This
is the same contract the driver enforces at sf0.01."""

from __future__ import annotations

import pytest

from tile_etl_spark import registry
from tests._compare import assert_query_matches_oracle

registry.load_all()

H_QIDS = sorted(registry.ORACLES)


@pytest.mark.parametrize("qid", H_QIDS)
def test_oracle_parity(qid, spark, duck, sf_dir):
    fn = registry.QUERIES[qid]
    sql = registry.ORACLES[qid]
    assert_query_matches_oracle(fn, sql, spark, duck, sf_dir, qid=qid)


def test_every_query_runs(spark, sf_dir):
    """Oracle-less (B/R) qids must at least run and return a DataFrame
    with a stable schema."""
    for qid, fn in sorted(registry.QUERIES.items()):
        if qid in registry.ORACLES:
            continue
        df = fn(spark, sf_dir)
        assert df.columns, qid
        assert df.count() >= 0, qid


def test_fuzzy_oracle_dedup_form_equals_naive_form(duck):
    """q_join_fuzzy's oracle shares the dedup-before-distance structure
    with the Spark plan (a naive quadratic twin took 215 s and emitted
    109 M rows at sf1 — unusable as a sweep denominator). To keep the
    oracle an INDEPENDENT check, pin here (DuckDB only) that the
    structured form is row-identical to the naive declarative spec."""
    naive = """
      SELECT a.p_partkey AS k1, b.p_partkey AS k2,
             CAST(levenshtein(a.p_name, b.p_name) AS INT) AS dist
      FROM part a JOIN part b
        ON a.p_brand = b.p_brand AND a.p_partkey < b.p_partkey
      WHERE levenshtein(a.p_name, b.p_name) <= 4
    """
    structured = registry.ORACLES["q_join_fuzzy"]
    diff = duck.execute(
        f"SELECT count(*) FROM (({naive}) EXCEPT ({structured})) "
        f"UNION ALL "
        f"SELECT count(*) FROM (({structured}) EXCEPT ({naive}))"
    ).fetchall()
    assert [r[0] for r in diff] == [0, 0]
    n_naive = duck.execute(
        f"SELECT count(*) FROM ({naive})"
    ).fetchone()[0]
    n_struct = duck.execute(
        f"SELECT count(*) FROM ({structured})"
    ).fetchone()[0]
    assert n_naive == n_struct > 0  # EXCEPT is set-wise; counts too


def test_embed_oracle_norm_once_form_equals_pairwise_form(duck):
    """q_dedup_embed's oracle takes each vector's norm once, in a CTE;
    the pairwise form below recomputed both norms for every pair, twice,
    and made the sf1 twin ~40 s. Pin (DuckDB only) that the two forms
    are value-identical: same division order, so bit-equal doubles."""
    pairwise = """
      WITH v AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
      )
      SELECT a.vec_id AS v1, b.vec_id AS v2,
             round(list_dot_product(a.e, b.e)
                   / (sqrt(list_dot_product(a.e, a.e))
                      * sqrt(list_dot_product(b.e, b.e))), 6) AS cos_sim
      FROM v a JOIN v b ON a.vec_id < b.vec_id
      WHERE list_dot_product(a.e, b.e)
            / (sqrt(list_dot_product(a.e, a.e))
               * sqrt(list_dot_product(b.e, b.e))) >= 0.4
    """
    structured = registry.ORACLES["q_dedup_embed"]
    diff = duck.execute(
        f"SELECT count(*) FROM (({pairwise}) EXCEPT ({structured})) "
        f"UNION ALL "
        f"SELECT count(*) FROM (({structured}) EXCEPT ({pairwise}))"
    ).fetchall()
    assert [r[0] for r in diff] == [0, 0]
    n_pairwise = duck.execute(
        f"SELECT count(*) FROM ({pairwise})"
    ).fetchone()[0]
    n_struct = duck.execute(
        f"SELECT count(*) FROM ({structured})"
    ).fetchone()[0]
    assert n_pairwise == n_struct > 0
