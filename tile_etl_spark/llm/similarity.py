"""Similarity search over the ``embeddings`` table (SURVEY §2B).

Two tiers, as a real 100 TB pipeline would ship them:

- **Exact brute-force top-k** (q_sim_cosine_topk): broadcast probe
  matrix, one Arrow GEMM pass over the corpus with per-partition
  partial top-k — the corpus never shuffles and per-task output is
  bounded by probes × k.
- **IVF-style ANN** (q_sim_ann_ivf): corpus clustered into coarse cells
  by distributed spherical k-means (kmeans_centroids); a probe scores
  only members of its nprobe nearest cells — the partition-pruning path
  that turns a full-corpus scan into a few-percent scan when the corpus
  is laid out bucketed by cell. Recall vs the exact tier is asserted in
  tests.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from tile_etl_spark import cache
from tile_etl_spark.io import load, plan_memo
from tile_etl_spark.operators.windows import bounded_window_key
from tile_etl_spark.registry import query

N_PROBES = 10  # vec_id 0..9 serve as probe vectors
TOP_K = 5


def _as_double_vec(col):
    return F.transform(col, lambda x: x.cast("double"))


def cosine_topk(
    corpus: DataFrame, probes: DataFrame, k: int = TOP_K
) -> DataFrame:
    """Exact cosine top-k, GEMM-shaped for scale.

    The probe set is SMALL by contract (that is what makes exact
    brute-force viable at all), so it is collected into an (m × d)
    numpy matrix and broadcast to executors — the ~10-row collect here
    is the probe side, never the corpus. One Arrow ``mapInPandas`` pass
    over the corpus then computes an (n_batch × m) BLAS GEMM per batch
    and keeps only each probe's local top-k: per-task output is bounded
    by m·k rows regardless of corpus size, the corpus never shuffles,
    and the final global rank window sees ≤ tasks·m·k candidate rows.

    This replaces a crossJoin + interpreted ``zip_with``/``aggregate``
    dot product (three HOF evaluations per pair — Catalyst evaluates
    higher-order functions per element, ~100× BLAS on the same data —
    and an O(n·m)-row window input instead of O(tasks·m·k)).

    Numerics: cos = raw_dot / (‖e‖·‖p‖) in float64, the same formula
    as the DuckDB twin; np.dot's pairwise summation can differ from
    sequential summation only in the last ulp, far below the 6-dp
    rounding of the emitted similarity. The per-batch top-k uses the
    same (cos desc, vec_id asc) total order as the final window, so
    the candidate cut is exact, not approximate."""
    import numpy as np

    p_rows = probes.select(
        F.col("vec_id").alias("probe_id"),
        _as_double_vec("embedding").alias("pe"),
    ).collect()
    pids = np.array([r["probe_id"] for r in p_rows], dtype=np.int64)
    P = np.stack([np.asarray(r["pe"], dtype=np.float64) for r in p_rows])
    pnorm = np.sqrt((P * P).sum(axis=1))
    bp = corpus.sparkSession.sparkContext.broadcast((pids, P, pnorm))

    def scan(batches):
        import numpy as np
        import pandas as pd

        pids, P, pnorm = bp.value
        for pdf in batches:
            if not len(pdf):
                continue
            E = np.stack(
                [np.asarray(v, dtype=np.float64) for v in pdf["e"]]
            )
            vids = pdf["vec_id"].to_numpy()
            raw = E @ P.T  # (n, m)
            enorm = np.sqrt((E * E).sum(axis=1))
            cos = raw / (enorm[:, None] * pnorm[None, :])
            cos[vids[:, None] == pids[None, :]] = -np.inf  # self-pairs
            kk = min(k, len(vids))
            out_p, out_v, out_c = [], [], []
            for j in range(len(pids)):
                # total order (cos desc, vec_id asc); lexsort is
                # last-key-primary
                order = np.lexsort((vids, -cos[:, j]))[:kk]
                out_p.append(np.full(len(order), pids[j]))
                out_v.append(vids[order])
                out_c.append(cos[order, j])
            yield pd.DataFrame(
                {
                    "probe_id": np.concatenate(out_p),
                    "vec_id": np.concatenate(out_v),
                    "cos_raw": np.concatenate(out_c),
                }
            )

    # Ship the raw float32 arrays over Arrow and widen numpy-side:
    # float->double widening is exact, so the math is bit-identical to
    # casting JVM-side, at HALF the Arrow transfer bytes (the transfer,
    # not the GEMM, dominates this stage's residual at small SF — and
    # at 100 TB the saved network/serde bytes matter more).
    #
    # r14 (VERDICT r13 #4): a mapInArrow rewrite of this scan — the
    # batch's list<float32> flattened straight from the Arrow buffers
    # via pyarrow.compute.list_flatten into one (n × d) matrix, no
    # pandas Series of per-row ndarrays — was A/B'd (same JVM,
    # interleaved arms, values bit-identical) and did NOT win: sf0.1
    # medians −11.0% (7 reps) then −1.3% (11 reps), sf1 −5.7% (7) then
    # +0.5% (11), and a 200k-vector cached-corpus probe isolating the
    # boundary read +3.1% — every delta inside the box noise floor
    # (raw runs: plans/r14/AB_COSINE_ARROW.json). Mechanism: Spark's
    # mapInPandas conversion is itself Arrow-backed, and the stage is
    # dominated by the float64 widening + GEMM that both forms pay
    # identically, so removing the pandas wrapper moves nothing. NOT
    # shipped — the pandas form stays (same plan node count; the
    # losing A/B is committed so the lever is not re-tried).
    cand = corpus.select("vec_id", F.col("embedding").alias("e")).mapInPandas(
        scan, "probe_id bigint, vec_id bigint, cos_raw double"
    )
    cand = cand.where(F.col("cos_raw") != float("-inf"))
    w = Window.partitionBy("probe_id").orderBy(
        F.col("cos_raw").desc(), F.col("vec_id").asc()
    )
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            "probe_id",
            "vec_id",
            F.round("cos_raw", 6).alias("cos_sim"),
            F.col("rank").cast("bigint").alias("rank"),
        )
    )


@query(
    "q_sim_cosine_topk",
    oracle=f"""
    WITH v AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
    ),
    p AS (SELECT vec_id AS probe_id, e AS pe FROM v WHERE vec_id < {N_PROBES}),
    scored AS (
      SELECT p.probe_id, v.vec_id,
             list_dot_product(v.e, p.pe)
               / (sqrt(list_dot_product(v.e, v.e))
                  * sqrt(list_dot_product(p.pe, p.pe))) AS cos_raw
      FROM v JOIN p ON v.vec_id <> p.probe_id
    ),
    ranked AS (
      SELECT probe_id, vec_id, cos_raw,
             row_number() OVER (PARTITION BY probe_id
                                ORDER BY cos_raw DESC, vec_id ASC) AS rank
      FROM scored
    )
    SELECT probe_id, vec_id, round(cos_raw, 6) AS cos_sim,
           CAST(rank AS BIGINT) AS rank
    FROM ranked WHERE rank <= {TOP_K}
    """,
)
@plan_memo("embeddings")
def q_sim_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-5 for 10 probe vectors, vec_id tiebreak,
    similarity rounded 6 dp (H-checked against DuckDB list ops)."""
    e = load(spark, sf_dir, "embeddings")
    return cosine_topk(e, e.where(F.col("vec_id") < N_PROBES))


N_CELLS = 16
# 6/16 cells probed. NB: the synthetic fixture's vectors are near-
# uniform (max pairwise cosine ~0.5), so the coarse cells barely
# cluster and IVF recall ≈ the scanned fraction plus a small margin
# (measured 0.64 at nprobe=4→6 across SFs). On real embedding corpora
# — the workload IVF exists for — neighbors concentrate in the probed
# cells and recall at this nprobe is typically >0.9.
N_PROBE_CELLS = 6


KMEANS_ITERS = 4


def kmeans_centroids(corpus: DataFrame, n_cells: int = N_CELLS, iters: int = KMEANS_ITERS):
    """Spherical k-means (Lloyd's) trained distributed, deterministic.
    Returns the (n_cells × d) centroid matrix as numpy, unit-normalized.

    Init is the former hash-of-id stand-in (cell j = mean of vectors
    with xxhash64-ish bucket j — here vec_id % n_cells, computed in the
    same reduce path as the updates). Each Lloyd round is ONE corpus
    pass: a ``mapInPandas`` GEMM assigns every Arrow batch's vectors to
    their argmax-cosine centroid and emits per-(batch, cell) partial
    sums — ≤ n_cells rows of d doubles per batch, the map-side combine
    — then a distributed groupBy(cell_id) pre-reduce folds the partials
    per cell (sorted order → deterministic float addition) so the
    driver only collects and renormalizes O(n_cells) rows regardless of
    corpus size. Model state (n_cells × d floats) lives on the driver
    and is broadcast each round; the corpus never shuffles and is never
    collected.

    Centroids are rounded to 9 dp before use so run-to-run ulp jitter
    of the distributed summation cannot flip an assignment. Empty
    cells keep their previous centroid."""
    import numpy as np

    sc = corpus.sparkSession.sparkContext
    out_schema = "cell_id int, psum array<double>, cnt bigint"

    def make_pass(C_bc, n_cells):
        """One corpus pass: C_bc None → init buckets (vec_id mod k),
        else argmax-cosine assignment against the broadcast matrix."""

        def partial(batches):
            import numpy as np
            import pandas as pd

            C = C_bc.value if C_bc is not None else None
            for pdf in batches:
                if not len(pdf):
                    continue
                E = np.stack(
                    [np.asarray(v, dtype=np.float64) for v in pdf["e"]]
                )
                norms = np.linalg.norm(E, axis=1, keepdims=True)
                En = E / np.where(norms == 0, 1.0, norms)
                if C is None:
                    a = pdf["vec_id"].to_numpy() % n_cells
                else:
                    a = (En @ C.T).argmax(axis=1)  # ties → lowest cell
                sums = np.zeros((n_cells, En.shape[1]))
                np.add.at(sums, a, En)
                cnts = np.bincount(a, minlength=n_cells)
                nz = cnts.nonzero()[0]
                yield pd.DataFrame(
                    {
                        "cell_id": nz.astype("int32"),
                        "psum": [sums[j].tolist() for j in nz],
                        "cnt": cnts[nz].astype("int64"),
                    }
                )

        return partial

    def cell_sum(pdf):
        """Per-cell distributed pre-reduce: fold all (batch, cell)
        partials of one cell into a single row, adding in (cnt, psum)
        sorted order so float addition is deterministic regardless of
        task arrival order."""
        import numpy as np
        import pandas as pd

        items = sorted(
            (int(c), tuple(p)) for c, p in zip(pdf["cnt"], pdf["psum"])
        )
        s = np.zeros(len(items[0][1]))
        for _, p in items:
            s += np.asarray(p)
        return pd.DataFrame(
            {
                "cell_id": [int(pdf["cell_id"].iloc[0])],
                "psum": [s.tolist()],
                "cnt": [int(sum(c for c, _ in items))],
            }
        )

    def reduce_round(C_bc):
        partials = corpus.select("vec_id", "e").mapInPandas(
            make_pass(C_bc, n_cells), out_schema
        )
        # Distributed pre-reduce: one shuffle on ≤ n_cells keys, so the
        # driver collects O(n_cells) rows — NOT O(batches), which grows
        # with corpus size. The per-cell fold adds in the same sorted
        # (cnt, psum) order the old driver-side reduce used, so the
        # resulting floats are bit-identical; the remaining determinism
        # assumption is that Arrow batch boundaries (which define the
        # partials themselves) are stable run-to-run — the 9-dp rounding
        # below absorbs boundary-level ulp jitter.
        rows = partials.groupBy("cell_id").applyInPandas(
            cell_sum, out_schema
        ).collect()
        if not rows:
            raise ValueError(
                "kmeans_centroids: empty corpus — no vectors to train on"
            )
        d = len(rows[0]["psum"])
        sums, cnts = np.zeros((n_cells, d)), np.zeros(n_cells)
        for r in rows:  # one row per non-empty cell
            sums[r["cell_id"]] += np.asarray(r["psum"])
            cnts[r["cell_id"]] += r["cnt"]
        return sums, cnts

    C = None
    for it in range(iters + 1):  # round 0 = init buckets
        bc = sc.broadcast(C) if C is not None else None
        sums, cnts = reduce_round(bc)
        newC = C.copy() if C is not None else np.zeros_like(sums)
        nz = cnts.nonzero()[0]
        newC[nz] = sums[nz] / cnts[nz, None]
        norms = np.linalg.norm(newC, axis=1, keepdims=True)
        newC = newC / np.where(norms == 0, 1.0, norms)
        C = np.round(newC, 9)
    return C


# 6 bands × 4 bits: empirically the best recall-per-candidate on the
# fixture (cand. fraction ≈ 0.33, recall 0.56–0.58 across SFs; 4×4
# gave 0.23/0.34, 8×4 gave 0.41/0.62 — diminishing). Near-uniform
# synthetic vectors are the hostile case for any locality family; real
# embedding corpora cluster and clear 0.9 at far lower fractions.
LSH_BITS = 24
LSH_BANDS = 6
LSH_SEED = 1234


def lsh_hyperplanes(d: int):
    """(LSH_BITS × d) random-hyperplane matrix, fixed seed — the
    signature family is part of the index definition, so it must be
    identical across runs, executors and the test's recompute."""
    import numpy as np

    return np.random.RandomState(LSH_SEED).standard_normal((LSH_BITS, d))


def lsh_band_codes(E, H, bands: int = LSH_BANDS):
    """(n × bands) int codes: sign-bit signature packed per band —
    MSB-first within each band. Same one-liner is inlined in the
    executor closure (which must stay self-contained: the driver loads
    ``__spark_entry__`` by path, so workers cannot re-import this
    module to resolve by-reference function pickles)."""
    import numpy as np

    bits = ((E @ H.T) > 0).astype(np.int64)  # (n, LSH_BITS)
    width = H.shape[0] // bands
    pw = 1 << np.arange(width - 1, -1, -1)
    return (bits.reshape(len(E), bands, width) * pw).sum(axis=2)


@query("q_sim_ann_lsh")
def q_sim_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed ANN top-5 — the hyperplane-hash alternative to IVF
    (q_sim_ann_ivf): {LSH_BITS} sign bits against fixed random
    hyperplanes, split into {LSH_BANDS} bands; a corpus vector is a
    candidate for a probe iff they collide in ≥ 1 band (the classic
    OR-of-ANDs LSH amplification — P[collide] rises steeply with
    cosine). Candidates are scored exactly; non-candidates are never
    scored.

    Plan: ONE fused mapInPandas pass — per Arrow batch, GEMM the
    signature bits, compare band codes against the broadcast probe
    codes (m × {LSH_BANDS} ints), mask non-colliding pairs, score the
    rest via the same BLAS cosine as the exact tier, keep the local
    top-k. Per-task output ≤ m·k rows; the corpus never shuffles or
    collects. At 100 TB the same signature becomes the TABLE LAYOUT:
    write the corpus bucketed by (band, code) and each probe reads only
    its {LSH_BANDS} buckets — a partition-pruning predicate, the same
    scale path documented for IVF.

    R-checked; tests recompute the signature bit-exactly and verify
    every hit collides, sims match the exact tier, and recall clears a
    fixture-calibrated bound (near-uniform synthetic vectors make any
    locality family look weak — documented at N_PROBE_CELLS too)."""
    import numpy as np

    emb = load(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("e")
    )
    p_rows = emb.where(F.col("vec_id") < N_PROBES).collect()
    pids = np.array([r["vec_id"] for r in p_rows], dtype=np.int64)
    P = np.stack([np.asarray(r["e"], dtype=np.float64) for r in p_rows])
    pnorm = np.sqrt((P * P).sum(axis=1))
    H = lsh_hyperplanes(P.shape[1])
    pcodes = lsh_band_codes(P, H)  # (m, LSH_BANDS)
    bp = spark.sparkContext.broadcast(
        (pids, P, pnorm, H, pcodes, LSH_BANDS, TOP_K)
    )

    def scan(batches):
        import numpy as np
        import pandas as pd

        pids, P, pnorm, H, pcodes, bands, k = bp.value
        width = H.shape[0] // bands
        pw = 1 << np.arange(width - 1, -1, -1)
        for pdf in batches:
            if not len(pdf):
                continue
            E = np.stack(
                [np.asarray(v, dtype=np.float64) for v in pdf["e"]]
            )
            vids = pdf["vec_id"].to_numpy()
            bits = ((E @ H.T) > 0).astype(np.int64)
            codes = (bits.reshape(len(E), bands, width) * pw).sum(axis=2)
            # (n, m): collide in >= 1 band
            match = (codes[:, None, :] == pcodes[None, :, :]).any(axis=2)
            enorm = np.sqrt((E * E).sum(axis=1))
            cos = (E @ P.T) / (
                np.where(enorm == 0, 1.0, enorm)[:, None] * pnorm[None, :]
            )
            cos[~match] = -np.inf
            cos[vids[:, None] == pids[None, :]] = -np.inf  # self-pairs
            kk = min(k, len(vids))
            out_p, out_v, out_c = [], [], []
            for j in range(len(pids)):
                order = np.lexsort((vids, -cos[:, j]))[:kk]
                keep = order[np.isfinite(cos[order, j])]
                out_p.append(np.full(len(keep), pids[j]))
                out_v.append(vids[keep])
                out_c.append(cos[keep, j])
            yield pd.DataFrame(
                {
                    "probe_id": np.concatenate(out_p),
                    "vec_id": np.concatenate(out_v),
                    "cos_raw": np.concatenate(out_c),
                }
            )

    cand = emb.mapInPandas(
        scan, "probe_id bigint, vec_id bigint, cos_raw double"
    )
    w = Window.partitionBy("probe_id").orderBy(
        F.col("cos_raw").desc(), F.col("vec_id").asc()
    )
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= TOP_K)
        .select(
            "probe_id",
            "vec_id",
            F.round("cos_raw", 6).alias("cos_sim"),
            F.col("rank").cast("bigint").alias("rank"),
        )
    )


@query("q_sim_ann_ivf")
def q_sim_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN top-5: k-means-trained coarse cells; each probe scores
    only members of its 6 nearest cells (per-probe pruning).

    Plan: train centroids (kmeans_centroids — corpus passes only),
    compute each probe's probed-cell set on the driver (10 × 16 dots),
    then ONE fused mapInPandas pass over the corpus: assign the batch's
    vectors to their cell by GEMM, score them against the broadcast
    probe matrix, and mask out (probe, vector) pairs whose cell the
    probe does not probe — the IVF candidate restriction — plus
    self-pairs. Per-task output ≤ m·k rows; the corpus never shuffles.

    At 100 TB the same operator runs against a corpus WRITTEN bucketed
    by cell_id (the IVF index layout): the probed-cell union becomes a
    partition-pruning predicate at the scan and unprobed cells are
    never read. Here (16 cells, 10 probes × 6 cells) the union covers
    most cells, so the demo keeps the mask form; semantics — exact
    search restricted to probed cells — are identical.

    R-checked; the unit test measures recall vs q_sim_cosine_topk."""
    import numpy as np

    cache.scope(f"q_sim_ann_ivf:{sf_dir}")
    # the trainer makes iters+1 passes and the scorer one more — cache
    # the projected corpus once instead of re-reading parquet per pass
    emb = cache.persist_scoped(
        load(spark, sf_dir, "embeddings").select(
            "vec_id", F.col("embedding").cast("array<double>").alias("e")
        )
    )
    C = kmeans_centroids(emb)  # (n_cells, d) unit rows

    p_rows = emb.where(F.col("vec_id") < N_PROBES).collect()
    pids = np.array([r["vec_id"] for r in p_rows], dtype=np.int64)
    P = np.stack([np.asarray(r["e"], dtype=np.float64) for r in p_rows])
    pnorm = np.sqrt((P * P).sum(axis=1))
    Pn = P / np.where(pnorm == 0, 1.0, pnorm)[:, None]
    # probe j probes its N_PROBE_CELLS nearest cells (cos desc, cell asc
    # tiebreak via stable argsort on -cos)
    probe_cells = np.argsort(-(Pn @ C.T), axis=1, kind="stable")[
        :, :N_PROBE_CELLS
    ]
    probes_cell_mask = np.zeros((len(pids), len(C)), dtype=bool)
    for j in range(len(pids)):
        probes_cell_mask[j, probe_cells[j]] = True
    bp = spark.sparkContext.broadcast((pids, P, pnorm, C, probes_cell_mask))

    def scan(batches):
        import numpy as np
        import pandas as pd

        pids, P, pnorm, C, cell_mask = bp.value
        k = TOP_K
        for pdf in batches:
            if not len(pdf):
                continue
            E = np.stack(
                [np.asarray(v, dtype=np.float64) for v in pdf["e"]]
            )
            vids = pdf["vec_id"].to_numpy()
            enorm = np.linalg.norm(E, axis=1)
            En = E / np.where(enorm == 0, 1.0, enorm)[:, None]
            cells = (En @ C.T).argmax(axis=1)  # top-1 assignment
            cos = (E @ P.T) / (
                np.where(enorm == 0, 1.0, enorm)[:, None] * pnorm[None, :]
            )
            # IVF restriction: probe j only sees rows in its cells
            cos[~cell_mask[:, cells].T] = -np.inf
            cos[vids[:, None] == pids[None, :]] = -np.inf  # self-pairs
            kk = min(k, len(vids))
            out_p, out_v, out_c = [], [], []
            for j in range(len(pids)):
                order = np.lexsort((vids, -cos[:, j]))[:kk]
                keep = order[np.isfinite(cos[order, j])]
                out_p.append(np.full(len(keep), pids[j]))
                out_v.append(vids[keep])
                out_c.append(cos[keep, j])
            yield pd.DataFrame(
                {
                    "probe_id": np.concatenate(out_p),
                    "vec_id": np.concatenate(out_v),
                    "cos_raw": np.concatenate(out_c),
                }
            )

    cand = emb.mapInPandas(
        scan, "probe_id bigint, vec_id bigint, cos_raw double"
    )
    w = Window.partitionBy("probe_id").orderBy(
        F.col("cos_raw").desc(), F.col("vec_id").asc()
    )
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= TOP_K)
        .select(
            "probe_id",
            "vec_id",
            F.round("cos_raw", 6).alias("cos_sim"),
            F.col("rank").cast("bigint").alias("rank"),
        )
    )


@query(
    "q_embed_centroids",
    oracle="""
    WITH flat AS (
      SELECT label,
             unnest(generate_series(1, len(embedding))) AS dim,
             CAST(floor(CAST(embedding[unnest(generate_series(1,
               len(embedding)))] AS DOUBLE) * 1000000 + 0.5) AS BIGINT)
               AS micro
      FROM embeddings
    )
    SELECT CAST(label AS INT) AS label, CAST(dim AS INT) AS dim,
           CAST(count(*) AS BIGINT) AS n,
           round(CAST(sum(micro) AS DOUBLE) / (count(*) * 1000000), 6)
             AS centroid
    FROM flat GROUP BY label, dim
    """,
)
def q_embed_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PER-LABEL CENTROIDS (class prototypes) of the embedding column —
    the mean vector per label that few-shot classifiers, cluster
    seeding and drift monitors consume. Emitted as (label, dim,
    centroid) rows — scalar columns, driver-hashable.

    Float-sum order is engine- and partition-dependent, so the mean is
    computed in EXACT integer micro-units: each component is floored to
    µ-resolution int64 (float32→double widening, multiply and floor
    all deterministic per IEEE), summed exactly (map-side combined),
    divided once in double space. 384-dim float32 at 1e-6 resolution
    sums ~1e8 per thousand rows — 10 orders below int64 overflow at
    100 TB row counts per (label, dim) group.

    Shape: posexplode → one hash aggregate keyed (label, dim) — the
    transpose-free distributed mean; no vector ever materializes on
    the driver."""
    em = load(spark, sf_dir, "embeddings")
    flat = em.select(
        "label",
        F.posexplode(
            F.transform(
                "embedding",
                lambda x: F.floor(x.cast("double") * 1000000 + 0.5).cast(
                    "bigint"
                ),
            )
        ).alias("pos", "micro"),
    )
    return (
        flat.groupBy(
            F.col("label").cast("int").alias("label"),
            (F.col("pos") + 1).cast("int").alias("dim"),
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(
                F.sum("micro").cast("double")
                / (F.count(F.lit(1)) * 1000000),
                6,
            ).alias("centroid"),
        )
    )


KNN_K = 3
_KNN_BLOCKS = 8  # same √corpus-scaled grid width as q_dedup_embed


@query(
    "q_embed_knn_graph",
    oracle=f"""
    WITH v AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e,
             sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                   CAST(embedding AS DOUBLE[]))) AS nrm
      FROM embeddings
    ),
    s AS (
      SELECT a.vec_id AS src, b.vec_id AS dst,
             list_dot_product(a.e, b.e) / (a.nrm * b.nrm) AS cos_raw
      FROM v a JOIN v b ON a.vec_id <> b.vec_id
    ),
    r AS (
      SELECT src, dst, cos_raw,
             row_number() OVER (PARTITION BY src
               ORDER BY cos_raw DESC, dst ASC) AS rank
      FROM s
    )
    SELECT src, dst, round(cos_raw, 6) AS cos_sim,
           CAST(rank AS BIGINT) AS rank
    FROM r WHERE rank <= {KNN_K}
    """,
)
def q_embed_knn_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-NN GRAPH over the whole embedding corpus: each vector's top-k
    cosine neighbors (k={KNN_K}, (cos desc, vec_id) total order) — the
    substrate for graph-based curation (SemDeDup-style cluster pruning,
    label propagation, connected-component semantic dedup all consume
    exactly this edge list).

    Distributed block GEMM, same grid as q_dedup_embed: vectors hash to
    B blocks, the B(B+1)/2 unordered block pairs form the task grid,
    each task BLAS-multiplies its two blocks. The kNN twist: a task
    emits each of its nodes' LOCAL top-k against the opposite block
    (both directions of an off-diagonal cell), so per-task output is
    O(block_rows · k) and the global per-src window sees ≤ B·k
    candidates per node instead of n — the cut is exact because the
    local ranking uses the same (cos desc, vec_id asc) total order as
    the final window. Nothing is ever collected; B grows with √corpus.

    At 100 TB the exact grid is the verification tier; the scale path
    prunes the grid to IVF-cell neighbor pairs first (q_sim_ann_ivf's
    layout), which this operator's output itself helps validate."""
    import numpy as np

    e = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    B = _KNN_BLOCKS
    b = F.pmod(F.col("vec_id"), F.lit(B)).cast("int")
    other = F.explode(F.sequence(F.lit(0), F.lit(B - 1))).alias("ob")
    tagged = e.select("vec_id", "embedding", b.alias("b"), other)
    left = tagged.where(F.col("b") <= F.col("ob")).select(
        F.col("b").alias("gi"), F.col("ob").alias("gj"),
        F.lit(0).alias("side"), "vec_id", "embedding",
    )
    right = tagged.where(F.col("ob") < F.col("b")).select(
        F.col("ob").alias("gi"), F.col("b").alias("gj"),
        F.lit(1).alias("side"), "vec_id", "embedding",
    )

    def local_topk(ids_from, ids_to, cos, k):
        """Per-row top-k of ``cos`` (rows = ids_from, cols = ids_to) in
        (cos desc, id asc) order; returns (src, dst, cos_raw) arrays."""
        kk = min(k, cos.shape[1])
        src, dst, val = [], [], []
        for i in range(cos.shape[0]):
            order = np.lexsort((ids_to, -cos[i]))[:kk]
            keep = order[np.isfinite(cos[i][order])]
            src.append(np.full(len(keep), ids_from[i]))
            dst.append(ids_to[keep])
            val.append(cos[i][keep])
        if not src:
            return (np.array([], dtype=np.int64),) * 2 + (np.array([]),)
        return np.concatenate(src), np.concatenate(dst), np.concatenate(val)

    def knn_block_pair(key, pdf):
        import pandas as pd

        gi, gj = int(key[0]), int(key[1])
        lp = pdf[pdf["side"] == 0]
        rp = lp if gi == gj else pdf[pdf["side"] == 1]
        empty = pd.DataFrame(
            {"src": [], "dst": [], "cos_raw": []}
        ).astype({"src": "int64", "dst": "int64", "cos_raw": "float64"})
        if len(lp) == 0 or len(rp) == 0:
            return empty
        lids = np.asarray(lp["vec_id"], dtype=np.int64)
        rids = np.asarray(rp["vec_id"], dtype=np.int64)
        lm = np.asarray([np.asarray(v, np.float64) for v in lp["embedding"]])
        rm = np.asarray([np.asarray(v, np.float64) for v in rp["embedding"]])
        lm = lm / np.linalg.norm(lm, axis=1, keepdims=True)
        rm = rm / np.linalg.norm(rm, axis=1, keepdims=True)
        cos = lm @ rm.T
        cos[lids[:, None] == rids[None, :]] = -np.inf  # self-pairs
        s1, d1, c1 = local_topk(lids, rids, cos, KNN_K)
        if gi == gj:
            src, dst, val = s1, d1, c1
        else:
            s2, d2, c2 = local_topk(rids, lids, cos.T, KNN_K)
            src = np.concatenate([s1, s2])
            dst = np.concatenate([d1, d2])
            val = np.concatenate([c1, c2])
        return pd.DataFrame({"src": src, "dst": dst, "cos_raw": val})

    cand = (
        left.unionByName(right)
        .groupBy("gi", "gj")
        .applyInPandas(knn_block_pair, "src BIGINT, dst BIGINT, cos_raw DOUBLE")
    )
    w = Window.partitionBy("src").orderBy(
        F.col("cos_raw").desc(), F.col("dst").asc()
    )
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= KNN_K)
        .select(
            "src",
            "dst",
            F.round("cos_raw", 6).alias("cos_sim"),
            F.col("rank").cast("bigint").alias("rank"),
        )
    )


PROTO_FAR_K = 20  # farthest members reported per label


@query(
    "q_embed_prototype",
    oracle=f"""
    WITH flat AS (
      SELECT vec_id, label,
             unnest(generate_series(1, len(embedding))) AS dim,
             CAST(floor(CAST(embedding[unnest(generate_series(1,
               len(embedding)))] AS DOUBLE) * 1000000 + 0.5) AS BIGINT)
               AS micro
      FROM embeddings
    ),
    cent AS (
      SELECT label, dim,
             CAST(floor(CAST(sum(micro) AS DOUBLE) / count(*)) AS BIGINT)
               AS cmicro
      FROM flat GROUP BY label, dim
    ),
    pv AS (
      SELECT f.vec_id, f.label,
             CAST(sum(f.micro * c.cmicro) AS BIGINT) AS dot,
             CAST(sum(f.micro * f.micro) AS BIGINT) AS nm
      FROM flat f JOIN cent c ON f.label = c.label AND f.dim = c.dim
      GROUP BY 1, 2
    ),
    cn AS (
      SELECT label, CAST(sum(cmicro * cmicro) AS BIGINT) AS nc
      FROM cent GROUP BY label
    ),
    scored AS (
      SELECT pv.vec_id, pv.label,
             CAST(dot AS DOUBLE)
               / (sqrt(CAST(nm AS DOUBLE)) * sqrt(CAST(nc AS DOUBLE)))
               AS cosr
      FROM pv JOIN cn ON pv.label = cn.label
    ),
    ranked AS (
      SELECT vec_id, CAST(label AS INT) AS label,
             round(cosr, 6) AS cos_centroid,
             CAST(row_number() OVER (PARTITION BY label
               ORDER BY cosr ASC, vec_id ASC) AS BIGINT) AS rank_far
      FROM scored
    )
    SELECT * FROM ranked WHERE rank_far <= {PROTO_FAR_K}
    """,
)
def q_embed_prototype(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PROTOTYPE-DISTANCE PRUNING (SemDeDup / prototype-outlier shape):
    per label, the mean-vector prototype, then every member's cosine to
    its prototype, reporting the {PROTO_FAR_K} FARTHEST members per
    label — the mislabel/outlier candidates a curation pass reviews or
    drops. (The same scored frame, filtered from the other end, is the
    near-centroid redundancy prune of SemDeDup.)

    EXACT ARITHMETIC end to end: components quantize to µ-int64
    (deterministic), the prototype is the floored integer mean
    (exact — sums < 2^53 survive the double division bit-exactly), and
    dot/norms are INTEGER sums (≤ 384·10¹² < 2^53), so the single
    double division + sqrt at the end is bit-identical in both engines
    regardless of partitioning or summation order — no float-
    accumulation hazard anywhere, the same technique as
    q_embed_centroids.

    Shape: posexplode → (label, dim) hash agg for the prototype (tiny:
    labels × dims rows, broadcast back), one broadcast equi-join on
    (label, dim), one (vec_id) hash agg, one per-label top-k window.
    Corpus rows never collect; everything scales as one explode + two
    map-side-combined aggregates at 100 TB."""
    em = load(spark, sf_dir, "embeddings")
    micro = F.floor(
        F.col("comp").cast("double") * 1000000 + 0.5
    ).cast("bigint")
    flat = em.select(
        "vec_id",
        "label",
        F.posexplode("embedding").alias("pos", "comp"),
    ).select("vec_id", "label", "pos", micro.alias("micro"))
    cent = (
        flat.groupBy("label", "pos")
        .agg(F.sum("micro").alias("sm"), F.count(F.lit(1)).alias("n"))
        .select(
            "label",
            "pos",
            F.floor(F.col("sm").cast("double") / F.col("n"))
            .cast("bigint")
            .alias("cmicro"),
        )
    )
    pv = (
        flat.join(F.broadcast(cent), ["label", "pos"])
        .groupBy("vec_id", "label")
        .agg(
            F.sum(F.col("micro") * F.col("cmicro")).alias("dot"),
            F.sum(F.col("micro") * F.col("micro")).alias("nm"),
        )
    )
    cn = cent.groupBy("label").agg(
        F.sum(F.col("cmicro") * F.col("cmicro")).alias("nc")
    )
    cosr = F.col("dot").cast("double") / (
        F.sqrt(F.col("nm").cast("double")) * F.sqrt(F.col("nc").cast("double"))
    )
    w = Window.partitionBy("label").orderBy(
        F.col("cosr").asc(), F.col("vec_id").asc()
    )
    return (
        pv.join(F.broadcast(cn), "label")
        .withColumn("cosr", cosr)
        .withColumn("rank_far", F.row_number().over(w).cast("bigint"))
        .where(F.col("rank_far") <= PROTO_FAR_K)
        .select(
            "vec_id",
            F.col("label").cast("int").alias("label"),
            F.round("cosr", 6).alias("cos_centroid"),
            "rank_far",
        )
    )


PCA_K = 2  # projected dimensions


@query("q_embed_pca")
def q_embed_pca(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISTRIBUTED PCA PROJECTION of the embedding corpus — the
    dimensionality-reduction/whitening step training-data pipelines
    run before clustering, visualization or cheap ANN: project every
    vector onto the top-k principal components of the corpus
    covariance. R-checked (eigendecomposition is not SQL-expressible);
    tests/test_llm_ops.py asserts the projection matches numpy's PCA
    on the same data bit-for-sign-convention.

    Scale shape (two passes + driver d×d eigh):
    1. moment pass: one mapInPandas emits per-batch partials
       (Σxxᵀ as a d² vector, Σx, n) → groupBy-free reduce of
       O(batches) tiny rows (d=64 → 4 KB each); covariance and its
       eigenvectors are computed ONCE on the driver — d×d work,
       independent of corpus size (the classic tall-skinny split:
       data-sized work distributed, d-sized work centralized).
    2. projection pass: components broadcast; one mapInPandas GEMM
       maps each Arrow batch to its k coordinates. Nothing data-sized
       ever reaches the driver.

    Sign convention: each component is flipped so its
    largest-|loading| element is positive — eigenvectors are
    sign-ambiguous and this pins a deterministic output.
    """
    import numpy as np

    emb = load(spark, sf_dir, "embeddings").select(
        "vec_id", _as_double_vec("embedding").alias("e")
    )

    def moments(batches):
        import pandas as _pd

        for pdf in batches:
            if not len(pdf):  # Spark may hand a 0-row Arrow batch
                continue
            X = np.stack(pdf["e"].to_numpy())
            yield _pd.DataFrame(
                {
                    "xtx": [(X.T @ X).ravel().tolist()],
                    "sx": [X.sum(axis=0).tolist()],
                    "n": [len(X)],
                }
            )

    parts = emb.mapInPandas(
        moments, "xtx array<double>, sx array<double>, n bigint"
    ).collect()
    if not parts:
        raise ValueError(
            "q_embed_pca: embeddings source is empty — PCA needs at "
            "least one row to estimate the covariance"
        )
    # dimension from the data, not a hardcoded 64 — any embedding
    # width projects correctly
    d = len(parts[0]["sx"])
    xtx = np.zeros((d, d))
    sx = np.zeros(d)
    n = 0
    # deterministic fold order for float addition
    for r in sorted(parts, key=lambda r: (r["n"], tuple(r["sx"]))):
        xtx += np.asarray(r["xtx"]).reshape(d, d)
        sx += np.asarray(r["sx"])
        n += r["n"]
    mu = sx / n
    cov = xtx / n - np.outer(mu, mu)
    vals, vecs = np.linalg.eigh(cov)
    comp = vecs[:, np.argsort(vals)[::-1][:PCA_K]].T  # (k, d)
    for i in range(PCA_K):
        if comp[i, np.abs(comp[i]).argmax()] < 0:
            comp[i] = -comp[i]
    sc = spark.sparkContext
    comp_bc, mu_bc = sc.broadcast(comp), sc.broadcast(mu)

    def project(batches):
        import pandas as _pd

        C, m = comp_bc.value, mu_bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            X = np.stack(pdf["e"].to_numpy()) - m
            P = X @ C.T
            out = {"vec_id": pdf["vec_id"]}
            for i in range(PCA_K):
                out[f"pc{i + 1}"] = np.round(P[:, i], 9)
            yield _pd.DataFrame(out)

    schema = "vec_id bigint, " + ", ".join(
        f"pc{i + 1} double" for i in range(PCA_K)
    )
    return emb.mapInPandas(project, schema)


# --- product quantization ----------------------------------------------


_PQ_M = 4           # subspaces (64 dims -> 16 dims each)
_PQ_SUBDIM = 16


def _pq_micro(c: F.Column) -> F.Column:
    """×10⁶ fixed-point int64 (half-up) — exact, commutative sums."""
    return F.floor(c.cast("double") * 1000000 + F.lit(0.5)).cast("bigint")


def _pq_flat(e: DataFrame) -> DataFrame:
    """(vec_id, label, dim 1-based, x micro-int) — dim-grain explode."""
    return e.select(
        "vec_id",
        "label",
        F.posexplode(F.col("embedding")).alias("dim0", "xf"),
    ).select(
        "vec_id",
        "label",
        (F.col("dim0") + 1).alias("dim"),
        _pq_micro(F.col("xf")).alias("x"),
    )


def _pq_codebook(flat: DataFrame) -> DataFrame:
    """(code, dim, c) — per-label per-dim micro-int mean (half-up)."""
    return flat.groupBy(F.col("label").alias("code"), "dim").agg(
        F.floor(
            F.sum("x").cast("double") / F.count(F.lit(1)) + F.lit(0.5)
        )
        .cast("bigint")
        .alias("c")
    )



@query(
    "q_embed_pq",
    oracle=f"""
    WITH flat AS (
      SELECT vec_id, label,
             unnest(generate_series(1, len(embedding))) AS dim,
             CAST(floor(CAST(embedding[unnest(generate_series(1,
               len(embedding)))] AS DOUBLE) * 1000000 + 0.5) AS BIGINT)
               AS x
      FROM embeddings
    ),
    cb AS (
      SELECT label AS code, dim,
             CAST(floor(CAST(sum(x) AS DOUBLE) / count(*) + 0.5)
                  AS BIGINT) AS c
      FROM flat GROUP BY label, dim
    ),
    dists AS (
      SELECT f.vec_id,
             CAST((f.dim - 1) // {_PQ_SUBDIM} AS INT) AS subspace,
             cb.code,
             sum((f.x - cb.c) * (f.x - cb.c)) AS d2
      FROM flat f JOIN cb ON f.dim = cb.dim
      GROUP BY 1, 2, 3
    ),
    ranked AS (
      SELECT vec_id, subspace, code, d2,
             row_number() OVER (PARTITION BY vec_id, subspace
                                ORDER BY d2, code) AS rn
      FROM dists
    )
    SELECT vec_id, subspace, CAST(code AS INT) AS code,
           CAST(d2 AS BIGINT) AS err_micro2
    FROM ranked WHERE rn = 1
    """,
)
def q_embed_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PRODUCT QUANTIZATION assign/reconstruct — the memory-side half
    of billion-scale ANN (FAISS IVF-PQ): each 64-dim vector is split
    into M=4 subvectors and each subvector replaced by the id of its
    nearest codeword, compressing 64 floats to 4 small codes (64× at
    8-bit codes); the summed subspace distance to the chosen codewords
    is the reconstruction error the recall/memory trade is tuned by.
    Codebooks here are the per-label subvector means (the supervised
    stand-in for per-subspace k-means — the unsupervised trainer is
    kmeans_centroids in this module, R-checked; using labels keeps the
    WHOLE assign/reconstruct path H-checked), and all distance math is
    exact INT64 micro-units (×10⁶ fixed point, the q_embed_centroids
    trick): sums of (x−c)² commute, so no float-summation-order risk
    anywhere, and the argmin tiebreak (d², code) is total.

    Scale shape: the codebook is K·dims rows (640) — broadcast; the
    vector side explodes to dim grain, joins the codebook map-side,
    and reduces with ONE hash-aggregate per (vec, subspace, code) then
    a bounded window (K=10 rows per key) for the argmin. Vectors never
    pair with each other — cost is linear in corpus × K."""
    e = load(spark, sf_dir, "embeddings")
    flat = _pq_flat(e)
    cb = _pq_codebook(flat)
    dists = (
        flat.join(F.broadcast(cb), "dim")
        .groupBy(
            "vec_id",
            F.floor((F.col("dim") - 1) / _PQ_SUBDIM)
            .cast("int")
            .alias("subspace"),
            "code",
        )
        .agg(
            F.sum(
                (F.col("x") - F.col("c")) * (F.col("x") - F.col("c"))
            ).alias("d2")
        )
    )
    w = Window.partitionBy("vec_id", "subspace").orderBy("d2", "code")
    return (
        dists.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            "vec_id",
            "subspace",
            F.col("code").cast("int").alias("code"),
            F.col("d2").cast("bigint").alias("err_micro2"),
        )
    )


_PQ_TOPK = 5


@query(
    "q_sim_ann_pq",
    oracle=f"""
    WITH flat AS (
      SELECT vec_id, label,
             unnest(generate_series(1, len(embedding))) AS dim,
             CAST(floor(CAST(embedding[unnest(generate_series(1,
               len(embedding)))] AS DOUBLE) * 1000000 + 0.5) AS BIGINT)
               AS x
      FROM embeddings
    ),
    cb AS (
      SELECT label AS code, dim,
             CAST(floor(CAST(sum(x) AS DOUBLE) / count(*) + 0.5)
                  AS BIGINT) AS c
      FROM flat GROUP BY label, dim
    ),
    codes AS (
      SELECT vec_id, subspace, code FROM (
        SELECT vec_id, subspace, code,
               row_number() OVER (PARTITION BY vec_id, subspace
                                  ORDER BY d2, code) AS rn
        FROM (
          SELECT f.vec_id,
                 CAST((f.dim - 1) // {_PQ_SUBDIM} AS INT) AS subspace,
                 cb.code, sum((f.x - cb.c) * (f.x - cb.c)) AS d2
          FROM flat f JOIN cb ON f.dim = cb.dim
          GROUP BY 1, 2, 3
        )
      ) WHERE rn = 1
    ),
    ptab AS (
      SELECT p.vec_id AS probe_id,
             CAST((p.dim - 1) // {_PQ_SUBDIM} AS INT) AS subspace,
             cb.code, sum((p.x - cb.c) * (p.x - cb.c)) AS t2
      FROM flat p JOIN cb ON p.dim = cb.dim
      WHERE p.vec_id < {N_PROBES}
      GROUP BY 1, 2, 3
    ),
    adc AS (
      SELECT t.probe_id, c.vec_id, sum(t.t2) AS adc_micro2
      FROM codes c
      JOIN ptab t ON t.subspace = c.subspace AND t.code = c.code
      WHERE c.vec_id != t.probe_id
      GROUP BY 1, 2
    ),
    exact AS (
      SELECT p.vec_id AS probe_id, f.vec_id,
             sum((f.x - p.x) * (f.x - p.x)) AS true_micro2
      FROM flat f JOIN flat p ON f.dim = p.dim
      WHERE p.vec_id < {N_PROBES} AND f.vec_id != p.vec_id
      GROUP BY 1, 2
    )
    SELECT a.probe_id, a.vec_id,
           CAST(a.adc_micro2 AS BIGINT) AS adc_micro2,
           CAST(e.true_micro2 AS BIGINT) AS true_micro2,
           CAST(rn AS INT) AS rn
    FROM (
      SELECT probe_id, vec_id, adc_micro2,
             row_number() OVER (PARTITION BY probe_id
                                ORDER BY adc_micro2, vec_id) AS rn
      FROM adc
    ) a JOIN exact e
      ON a.probe_id = e.probe_id AND a.vec_id = e.vec_id
    WHERE a.rn <= {_PQ_TOPK}
    """,
)
def q_sim_ann_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ-ADC APPROXIMATE NEAREST NEIGHBOR — the search half of IVF-PQ
    (q_embed_pq is the compression half): each probe precomputes a
    DISTANCE TABLE (its exact squared distance to every codeword, per
    subspace — K·M = 40 cells), and a database vector's approximate
    distance is just M table lookups summed over its stored codes —
    the corpus' raw floats are never touched at query time. Top-k per
    probe by (ADC asc, vec_id); ``true_micro2`` carries the exact
    distance alongside, so the PQ approximation error is auditable
    row-by-row (ADC ignores within-cell quantization residue, so it
    under/over-estimates — the recall/memory trade made visible).
    All arithmetic in exact int64 micro-units — H-checked end to end.

    Scale shape: codes (M small ints per vector) are the only
    per-vector state read at query time; the probe tables (probes ×
    K·M rows) broadcast; scoring is one equi-join on (subspace, code)
    + a sum over M rows per (probe, vector); the exact-distance audit
    column is corpus-width work that exists for verification only, not
    the production path."""
    e = load(spark, sf_dir, "embeddings")
    flat = cache.persist_scoped(_pq_flat(e), tag=f"q_sim_ann_pq:{sf_dir}")
    cb = _pq_codebook(flat)
    sub = (
        F.floor((F.col("dim") - 1) / _PQ_SUBDIM).cast("int").alias(
            "subspace"
        )
    )
    dist_to_codes = (
        lambda side: side.join(F.broadcast(cb), "dim")
        .groupBy("vec_id", sub, "code")
        .agg(
            F.sum(
                (F.col("x") - F.col("c")) * (F.col("x") - F.col("c"))
            ).alias("d2")
        )
    )
    w_assign = Window.partitionBy("vec_id", "subspace").orderBy(
        "d2", "code"
    )
    codes = (
        dist_to_codes(flat)
        .withColumn("rn", F.row_number().over(w_assign))
        .where(F.col("rn") == 1)
        .select("vec_id", "subspace", "code")
    )
    ptab = (
        dist_to_codes(flat.where(F.col("vec_id") < N_PROBES))
        .select(
            F.col("vec_id").alias("probe_id"),
            "subspace",
            "code",
            F.col("d2").alias("t2"),
        )
    )
    adc = (
        codes.join(F.broadcast(ptab), ["subspace", "code"])
        .where(F.col("vec_id") != F.col("probe_id"))
        .groupBy("probe_id", "vec_id")
        .agg(F.sum("t2").alias("adc_micro2"))
    )
    pf = flat.where(F.col("vec_id") < N_PROBES).select(
        F.col("vec_id").alias("probe_id"), "dim", F.col("x").alias("px")
    )
    exact = (
        flat.join(F.broadcast(pf), "dim")
        .where(F.col("vec_id") != F.col("probe_id"))
        .groupBy("probe_id", "vec_id")
        .agg(
            F.sum(
                (F.col("x") - F.col("px")) * (F.col("x") - F.col("px"))
            ).alias("true_micro2")
        )
    )
    w_top = Window.partitionBy("probe_id").orderBy("adc_micro2", "vec_id")
    return (
        adc.withColumn("rn", F.row_number().over(w_top))
        .where(F.col("rn") <= _PQ_TOPK)
        .join(exact, ["probe_id", "vec_id"])
        .select(
            "probe_id",
            "vec_id",
            F.col("adc_micro2").cast("bigint").alias("adc_micro2"),
            F.col("true_micro2").cast("bigint").alias("true_micro2"),
            F.col("rn").cast("int").alias("rn"),
        )
    )


# --- hybrid retrieval: BM25 + dense, reciprocal-rank fusion -------------

RRF_K = 60  # Cormack/Clarke/Buettcher (SIGIR'09) constant
RRF_TOPK = 20


def _hybrid_rrf_oracle() -> str:
    from tile_etl_spark.llm.text import _bm25_oracle

    return f"""
    WITH lex AS (
      SELECT doc_id, rank AS lex_rank FROM ({_bm25_oracle()})
    ),
    dv AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
    ),
    dp AS (SELECT e AS pe FROM dv WHERE vec_id = 0),
    dscored AS (
      SELECT dv.vec_id AS doc_id,
             list_dot_product(dv.e, dp.pe)
               / (sqrt(list_dot_product(dv.e, dv.e))
                  * sqrt(list_dot_product(dp.pe, dp.pe))) AS cos_raw
      FROM dv CROSS JOIN dp WHERE dv.vec_id <> 0
    ),
    dense AS (
      SELECT doc_id, CAST(rn AS BIGINT) AS dense_rank FROM (
        SELECT doc_id,
               row_number() OVER (ORDER BY cos_raw DESC, doc_id ASC) AS rn
        FROM dscored
      ) WHERE rn <= {RRF_TOPK}
    ),
    fused AS (
      SELECT COALESCE(l.doc_id, d.doc_id) AS doc_id,
             COALESCE(l.lex_rank, 0) AS lex_rank,
             COALESCE(d.dense_rank, 0) AS dense_rank,
             COALESCE(CAST(1 AS DOUBLE) / ({RRF_K} + l.lex_rank), 0)
               + COALESCE(CAST(1 AS DOUBLE) / ({RRF_K} + d.dense_rank), 0)
               AS rrf_raw
      FROM lex l FULL OUTER JOIN dense d ON l.doc_id = d.doc_id
    ),
    ranked AS (
      SELECT doc_id, lex_rank, dense_rank, rrf_raw,
             row_number() OVER (ORDER BY rrf_raw DESC, doc_id ASC) AS rank
      FROM fused
    )
    SELECT doc_id, CAST(lex_rank AS BIGINT) AS lex_rank,
           CAST(dense_rank AS BIGINT) AS dense_rank,
           round(rrf_raw, 6) AS rrf_score, CAST(rank AS BIGINT) AS rank
    FROM ranked WHERE rank <= {RRF_TOPK}
    """


@query("q_hybrid_rrf", oracle=_hybrid_rrf_oracle())
@plan_memo("documents", "embeddings")
def q_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HYBRID RETRIEVAL with reciprocal-rank fusion — the standard way
    production RAG / training-data retrieval stacks combine a lexical
    ranker with a dense one (Cormack, Clarke & Buettcher, SIGIR 2009):
    rrf(d) = Σ_lists 1/(k + rank_list(d)), k = 60, over the BM25 top-20
    (q_bm25's fixed 3-term query) and the cosine top-20 for the probe
    document's embedding (vec_id 0; the fixture pairs doc_id with
    vec_id 1:1). Docs absent from a list contribute 0 to the sum and
    carry rank 0 in the emitted per-list columns.

    Shape at 100 TB: each input list is produced by its own bounded
    top-k pipeline (BM25: query-term-pruned scan + scored-docs window;
    dense: broadcast-probe Arrow GEMM with per-task partial top-k), so
    the fusion itself joins two ≤k-row lists — a driver-free full-outer
    broadcast join and a ≤2k-row rank window. Fusing RANKS, not scores,
    is what makes this robust cross-engine too: no score normalization,
    and 1/(k+rank) is exact in float64 for both engines.
    """
    from tile_etl_spark.llm.text import q_bm25

    e = load(spark, sf_dir, "embeddings")
    lex = q_bm25(spark, sf_dir).select(
        "doc_id", F.col("rank").alias("lex_rank")
    )
    dense = cosine_topk(
        e, e.where(F.col("vec_id") == 0), k=RRF_TOPK
    ).select(F.col("vec_id").alias("doc_id"), F.col("rank").alias("dense_rank"))
    fused = lex.join(dense, "doc_id", "full_outer")
    rrf = F.coalesce(
        F.lit(1.0) / (F.lit(RRF_K) + F.col("lex_rank")), F.lit(0.0)
    ) + F.coalesce(
        F.lit(1.0) / (F.lit(RRF_K) + F.col("dense_rank")), F.lit(0.0)
    )
    scored = fused.select(
        "doc_id",
        F.coalesce(F.col("lex_rank"), F.lit(0)).cast("bigint").alias("lex_rank"),
        F.coalesce(F.col("dense_rank"), F.lit(0)).cast("bigint").alias("dense_rank"),
        rrf.alias("rrf_raw"),
    )
    w = Window.partitionBy(bounded_window_key("doc_id")).orderBy(
        F.col("rrf_raw").desc(), F.col("doc_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .where(F.col("rank") <= RRF_TOPK)
        .select(
            "doc_id",
            "lex_rank",
            "dense_rank",
            F.round("rrf_raw", 6).alias("rrf_score"),
            "rank",
        )
    )


# --- embedding truncation (Matryoshka) evaluation -----------------------

_TRUNC_DIM = 32  # evaluate the first half of the 64-dim fixture vectors


@query(
    "q_embed_truncation_eval",
    oracle=f"""
    WITH v AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
    ),
    h AS (SELECT vec_id, e[1:{_TRUNC_DIM}] AS e FROM v),
    fp AS (SELECT vec_id AS probe_id, e AS pe FROM v WHERE vec_id < {N_PROBES}),
    hp AS (SELECT vec_id AS probe_id, e AS pe FROM h WHERE vec_id < {N_PROBES}),
    fr AS (
      SELECT probe_id, vec_id FROM (
        SELECT fp.probe_id, v.vec_id,
               row_number() OVER (
                 PARTITION BY fp.probe_id
                 ORDER BY list_dot_product(v.e, fp.pe)
                          / (sqrt(list_dot_product(v.e, v.e))
                             * sqrt(list_dot_product(fp.pe, fp.pe))) DESC,
                          v.vec_id ASC
               ) AS rn
        FROM v JOIN fp ON v.vec_id <> fp.probe_id
      ) WHERE rn <= {TOP_K}
    ),
    hr AS (
      SELECT probe_id, vec_id FROM (
        SELECT hp.probe_id, h.vec_id,
               row_number() OVER (
                 PARTITION BY hp.probe_id
                 ORDER BY list_dot_product(h.e, hp.pe)
                          / (sqrt(list_dot_product(h.e, h.e))
                             * sqrt(list_dot_product(hp.pe, hp.pe))) DESC,
                          h.vec_id ASC
               ) AS rn
        FROM h JOIN hp ON h.vec_id <> hp.probe_id
      ) WHERE rn <= {TOP_K}
    ),
    ov AS (
      SELECT fr.probe_id, count(*) AS n_overlap
      FROM fr JOIN hr ON fr.probe_id = hr.probe_id
                     AND fr.vec_id = hr.vec_id
      GROUP BY 1
    )
    SELECT p.probe_id,
           CAST(COALESCE(ov.n_overlap, 0) AS BIGINT) AS n_overlap,
           round(CAST(COALESCE(ov.n_overlap, 0) AS DOUBLE) / {TOP_K}, 6)
             AS overlap_frac
    FROM (SELECT DISTINCT probe_id FROM fr) p
    LEFT JOIN ov ON p.probe_id = ov.probe_id
    """,
)
@plan_memo("embeddings")
def q_embed_truncation_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EMBEDDING-TRUNCATION EVALUATION (Matryoshka representation
    learning, Kusupati et al. 2022): per probe, how much of the
    full-dimension cosine top-k survives when vectors are truncated to
    their first half — the measurement that decides whether a pipeline
    can store/search d/2 floats for 2× memory bandwidth. Both lists
    come from the same exact GEMM top-k operator (cosine_topk), one on
    the full corpus and one on a prefix-sliced projection; the overlap
    is an equi-join of two ≤probes×k lists, so the evaluation adds no
    corpus-scale work beyond the second scan.

    At 100 TB the truncated scan reads HALF the vector bytes — with a
    columnar layout storing the prefix as its own column chunk this is
    real IO savings, which is exactly what the overlap number justifies
    (fixture vectors are near-uniform, so overlap here is low; on real
    MRL-trained embeddings it is typically >0.8)."""
    e = load(spark, sf_dir, "embeddings")
    full_top = cosine_topk(e, e.where(F.col("vec_id") < N_PROBES))
    half = e.select(
        "vec_id", F.slice(F.col("embedding"), 1, _TRUNC_DIM).alias("embedding")
    )
    half_top = cosine_topk(half, half.where(F.col("vec_id") < N_PROBES))
    ov = (
        full_top.select("probe_id", "vec_id")
        .join(half_top.select("probe_id", "vec_id"), ["probe_id", "vec_id"])
        .groupBy("probe_id")
        .agg(F.count(F.lit(1)).alias("n_overlap"))
    )
    probes = full_top.select("probe_id").distinct()
    return probes.join(ov, "probe_id", "left").select(
        "probe_id",
        F.coalesce(F.col("n_overlap"), F.lit(0)).cast("bigint").alias("n_overlap"),
        F.round(
            F.coalesce(F.col("n_overlap"), F.lit(0)).cast("double") / TOP_K, 6
        ).alias("overlap_frac"),
    )


# --- embedding hygiene audit --------------------------------------------


@query(
    "q_embed_quality",
    oracle="""
    WITH v AS (
      SELECT label,
             CAST(round(sqrt(list_dot_product(
               CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[])
             )) * 1000000) AS BIGINT) AS nm
      FROM embeddings
    )
    SELECT label,
           CAST(count(*) AS BIGINT) AS n_vecs,
           round(CAST(sum(nm) AS DOUBLE) / count(*) / 1000000, 6)
             AS mean_norm,
           round(sqrt(greatest(
             (CAST(sum(nm * nm) AS DOUBLE)
              - CAST(sum(nm) AS DOUBLE) * sum(nm) / count(*))
             / (count(*) - 1), 0)) / 1000000, 6) AS sd_norm,
           CAST(count(*) FILTER (nm < 100000) AS BIGINT) AS n_near_zero
    FROM v GROUP BY label
    """,
)
def q_embed_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EMBEDDING HYGIENE AUDIT — the vector-side data-quality pass a
    pipeline runs before building ANN indexes: per label, vector count,
    mean/σ of the L2 norm, and the count of near-zero vectors (norm
    < 0.1 — dead encoder outputs that poison cosine math). Norms are
    snapped to exact integer MICRO-units per row (one deterministic
    round of an identically-computed double), so the cross-row sums
    are exact integer arithmetic in both engines and the emitted
    mean/σ are bit-identical — the same integer-sufficient-statistics
    discipline as q_win_regression/q_target_encode; a raw double SUM
    would hash-mismatch on summation order.

    Shape: per-row fold for the dot product (each array referenced
    once), one partial+final hash aggregate on label — one shuffle of
    ≤labels × 3 longs."""
    e = load(spark, sf_dir, "embeddings")
    # single-pass fold: acc + x²  (r9 — was transform→zip_with→fold,
    # which materialized two intermediate arrays per row in the
    # interpreted HOF evaluator; same left-to-right fold order and
    # per-element arithmetic (cast, square, add), so the micro-unit
    # snap below is bit-identical)
    dot = F.aggregate(
        F.col("embedding"),
        F.lit(0.0),
        lambda acc, x: acc + x.cast("double") * x.cast("double"),
    )
    nm = F.round(F.sqrt(dot) * 1000000).cast("bigint")
    v = e.select("label", nm.alias("nm"))
    n = F.count(F.lit(1))
    s = F.sum("nm")
    s2 = F.sum(F.col("nm") * F.col("nm"))
    return v.groupBy("label").agg(
        n.cast("bigint").alias("n_vecs"),
        F.round(s.cast("double") / n / 1000000, 6).alias("mean_norm"),
        F.round(
            # greatest(·, 0): with all-equal norms the float64 rounding
            # of the squared-sum product can dip the variance a hair
            # below zero — DuckDB's sqrt RAISES on negatives (Spark
            # returns NaN), so both sides clamp identically
            F.sqrt(
                F.greatest(
                    (s2.cast("double") - s.cast("double") * s / n)
                    / (n - 1),
                    F.lit(0.0),
                )
            )
            / 1000000,
            6,
        ).alias("sd_norm"),
        F.sum((F.col("nm") < 100000).cast("int"))
        .cast("bigint")
        .alias("n_near_zero"),
    )


# --- RAG context packing ------------------------------------------------

_CTX_BUDGET = 1000  # token budget for the packed context


def _context_pack_oracle() -> str:
    from tile_etl_spark.registry import ORACLES

    return f"""
    WITH fused AS ({ORACLES["q_hybrid_rrf"]}),
    sized AS (
      SELECT f.rank, f.doc_id,
             CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_tokens
      FROM fused f JOIN documents d ON f.doc_id = d.doc_id
    ),
    run AS (
      SELECT rank, doc_id, n_tokens,
             CAST(sum(n_tokens) OVER (ORDER BY rank
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS BIGINT) AS cum_tokens
      FROM sized
    )
    SELECT rank, doc_id, n_tokens, cum_tokens
    FROM run WHERE cum_tokens <= {_CTX_BUDGET}
    """


@query("q_context_pack", oracle=_context_pack_oracle())
@plan_memo("documents", "embeddings")
def q_context_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CONTEXT PACKING — fill a fixed token budget from the hybrid
    retrieval ranking in rank order: the last step of a RAG pipeline,
    where the fused top-k is trimmed to what actually fits the prompt.
    Greedy-by-rank with a running token sum (documents are taken whole;
    a doc that overflows the budget is dropped along with everything
    ranked below it — the deterministic contract retrieval consumers
    expect).

    Shape: the fused list is ≤k rows by construction, so the doc-size
    join is a k-row broadcast probe of the corpus (at 100 TB the token
    count is a stored column, not a recompute) and the running-sum
    window orders k rows — nothing here scales with corpus size."""
    from tile_etl_spark.registry import QUERIES

    fused = QUERIES["q_hybrid_rrf"](spark, sf_dir).select("rank", "doc_id")
    d = load(spark, sf_dir, "documents").select(
        "doc_id", F.size(F.split("text", " ")).cast("bigint").alias("n_tokens")
    )
    sized = fused.join(d, "doc_id")
    w = (
        Window.partitionBy(bounded_window_key("doc_id"))
        .orderBy("rank")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    run = sized.select(
        "rank",
        "doc_id",
        "n_tokens",
        F.sum("n_tokens").over(w).cast("bigint").alias("cum_tokens"),
    )
    return run.where(F.col("cum_tokens") <= _CTX_BUDGET)
