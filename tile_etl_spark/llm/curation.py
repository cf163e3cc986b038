"""Training-data curation operators (round-3 extensions): near-dup
cluster resolution, benchmark decontamination, PII scrubbing,
deterministic dataset splits, sequence packing, and within-document
repetition scoring.

These are the steps BETWEEN the primitives (dedup / similarity / text
scoring, in sibling modules) and an actual training set: candidate
pairs must be resolved to one survivor per connected component, eval
benchmarks must be decontaminated out of the corpus, documents must be
assigned to stable train/val/test splits and packed into fixed token
budgets. Every operator is a DataFrame composition (one or two shuffles
each) except sequence packing, whose greedy in-order fill is inherently
sequential per group and runs as an Arrow ``applyInPandas`` over
deterministic shards.

Scale notes per operator live on the builders. Nothing here collects
data-bearing rows to the driver; the one driver-side loop
(q_dedup_cluster's fixpoint iteration) reduces a single scalar per
round and runs O(component-diameter) rounds — near-dup components are
clique-like (every member pairs with most others), so 2–4 rounds in
practice.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tile_etl_spark import cache
from tile_etl_spark.cache import persist_scoped as _persist
from tile_etl_spark.cache import scope as _scope
from tile_etl_spark.io import load
from tile_etl_spark.llm.dedup import (
    NGRAM_PAIRS_CTES,
    _parallelize_docs,
    ngram_jaccard_pairs,
    shingles_df,
)
from tile_etl_spark.registry import query

# --- near-dup cluster resolution ---------------------------------------

_MAX_CC_ROUNDS = 20


def connected_components(
    edges: DataFrame,
    max_rounds: int = _MAX_CC_ROUNDS,
    num_partitions: int | None = None,
) -> DataFrame:
    """(node, component) — component = min node id reachable from
    ``node`` over the undirected edge set ``(src, dst)``.

    Min-label propagation: every round each node takes the min of its
    own label and its neighbors' labels — one equi-join + one hash
    aggregate per round, converging in O(component diameter) rounds.
    Near-dup graphs are the favorable case: LSH-verified components are
    dense (most members pair directly), so diameter is 2–4 regardless
    of corpus size. For high-diameter graphs (linked lists of docs) the
    alternating large-star/small-star contraction [Kiveris et al.,
    "Connected Components in MapReduce and Beyond"] halves diameter per
    round (O(log n) total) — same join-shape building blocks, swap-in
    documented rather than implemented because near-dup resolution
    never sees such graphs.

    Each round ``localCheckpoint``s the label frame: truncating lineage
    is what keeps round k from re-running rounds 1..k-1 (and the plan
    from growing unboundedly). The EDGE frame is checkpointed once up
    front for the same reason — it feeds every round, and without the
    cut the whole upstream candidate-generation pipeline (LSH/n-gram
    pair mining here) would re-execute per iteration (measured 13.8 s →
    3 s at sf0.01). On a cluster, checkpoint to durable storage instead
    if executor loss must not restart the loop. The per-round driver
    reduce is ONE scalar (the changed-label count).

    Shuffle width: the label/edge frames are keyed shuffles whose size
    is the graph, not the corpus — the width is pinned to the session's
    default parallelism rather than inheriting
    ``spark.sql.shuffle.partitions`` (200 near-empty tasks per round
    dominate wall-clock on small graphs; at real scale pass
    ``num_partitions`` sized to the edge count).
    """
    from tile_etl_spark.io import free_local_checkpoint

    width = num_partitions or edges.sparkSession.sparkContext.defaultParallelism
    # checkpoint BEFORE symmetrizing: union's two branches would each
    # re-execute the (expensive) upstream pair-mining plan otherwise
    edges = edges.localCheckpoint(eager=True)
    sym = (
        edges.union(edges.select(F.col("dst"), F.col("src")))
        .repartition(width, "dst")
        .localCheckpoint(eager=True)
    )
    # the raw edge snapshot is dead weight once sym materialized
    free_local_checkpoint(edges)
    labels = (
        sym.select(F.col("src").alias("node"))
        .distinct()
        .select("node", F.col("node").alias("label"))
        .repartition(width, "node")
        .localCheckpoint(eager=True)
    )
    prev = labels  # superseded label snapshots are freed as we go —
    # without this the loop pins O(rounds) full label-frame copies in
    # executor storage (ContextCleaner won't run mid-loop)
    changed = 0
    for _ in range(max_rounds):
        nbr_min = (
            sym.join(labels, sym["dst"] == labels["node"])
            .groupBy(sym["src"].alias("node"))
            .agg(F.min("label").alias("nbr_min"))
            .repartition(width, "node")
        )
        upd = (
            labels.join(nbr_min, "node", "left")
            .select(
                "node",
                F.col("label").alias("old"),
                F.least(
                    F.col("label"), F.coalesce("nbr_min", "label")
                ).alias("label"),
            )
            .repartition(width, "node")
            .localCheckpoint(eager=True)
        )
        changed = upd.where(F.col("label") < F.col("old")).count()
        free_local_checkpoint(prev)
        prev = upd
        labels = upd.select("node", "label")
        if changed == 0:
            break
    if changed != 0:
        # Returning unconverged labels would SILENTLY split one true
        # component into several (multiple survivors per near-dup
        # cluster) — fail loudly instead. A graph whose diameter
        # exceeds max_rounds needs more rounds or the documented
        # star-contraction variant (O(log n) rounds).
        raise RuntimeError(
            f"connected_components: {changed} labels still changing "
            f"after max_rounds={max_rounds} (graph diameter exceeds "
            "the round budget); raise max_rounds or switch to "
            "star-contraction"
        )
    return labels.select("node", F.col("label").alias("component"))


@query(
    "q_dedup_cluster",
    oracle=f"""
    WITH RECURSIVE {NGRAM_PAIRS_CTES},
    edges AS (
      SELECT d1 AS a, d2 AS b FROM njpairs
      UNION ALL
      SELECT d2, d1 FROM njpairs
    ),
    reach(a, b) AS (
      SELECT a, b FROM edges
      UNION
      SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
    ),
    rep AS (
      SELECT a AS doc_id, least(a, min(b)) AS cluster_rep
      FROM reach GROUP BY a
    ),
    assign AS (
      SELECT d.doc_id,
             coalesce(r.cluster_rep, d.doc_id) AS cluster_rep
      FROM documents d LEFT JOIN rep r ON d.doc_id = r.doc_id
    ),
    csize AS (
      SELECT cluster_rep, count(*) AS n FROM assign GROUP BY cluster_rep
    )
    SELECT a.doc_id, a.cluster_rep, CAST(s.n AS BIGINT) AS cluster_size,
           CAST(CASE WHEN a.doc_id = a.cluster_rep THEN 1 ELSE 0 END
                AS INT) AS is_survivor
    FROM assign a JOIN csize s ON a.cluster_rep = s.cluster_rep
    """,
)
def q_dedup_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTER RESOLUTION: pairwise matches (exact 3-gram
    Jaccard ≥ 0.8, the H-checked tier shared with q_dedup_ngram) are
    only half of dedup — transitive groups must collapse to one
    survivor. Connected components over the match graph assigns every
    doc its component's min doc_id as ``cluster_rep``; survivors are
    reps. Docs in no pair are their own singleton cluster.

    Oracle: DuckDB recursive transitive closure over the SAME pair CTE
    (shared SQL constant), min over the reachable set — O(n·component)
    closure is fine at oracle scale, while the Spark side stays
    propagation-shaped for 100 TB.
    """
    tag = f"q_dedup_cluster:{sf_dir}"
    _scope(tag)
    d = _parallelize_docs(load(spark, sf_dir, "documents"))
    # Pre-build cache check (BEFORE running connected_components):
    # the CC loop's checkpoints + per-round counts execute eagerly
    # during plan CONSTRUCTION, so the persist-time dedupe below could
    # only skip storage — warm reruns (bench best-of-N, the
    # cluster_stats qid composing this one) would re-pay the whole
    # fixpoint. The components are a deterministic function of the
    # input docs, so the input's hash names the result.
    key = f"cc_assign:{d.semanticHash()}"
    assign = cache.lookup(key, spark, tag=tag)
    if assign is None:
        pairs = ngram_jaccard_pairs(d).select(
            F.col("d1").alias("src"), F.col("d2").alias("dst")
        )
        comp = connected_components(pairs)
        # the CC loop's edge checkpoint has cut all lineage back to the
        # corpus-sized shingle cache ngram_jaccard_pairs persisted —
        # free it before persisting the (small) assignment table
        cache.release_tag(tag)
        # persisted: feeds BOTH the size aggregate and the final join —
        # without it the doc scan + component join execute twice.
        # Explicit dedupe key: connected_components checkpoints its
        # iterations, so every rebuild has a fresh lineage that
        # sameSemantics can never match (see persist_scoped).
        assign = _persist(
            d.select("doc_id")
            .join(
                comp.select(
                    F.col("node").alias("doc_id"),
                    F.col("component").alias("cluster_rep"),
                ),
                "doc_id",
                "left",
            )
            .select(
                "doc_id",
                F.coalesce("cluster_rep", F.col("doc_id")).alias(
                    "cluster_rep"
                ),
            ),
            key=key,
        )
    sizes = assign.groupBy("cluster_rep").agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    return assign.join(sizes, "cluster_rep").select(
        "doc_id",
        "cluster_rep",
        "cluster_size",
        (F.col("doc_id") == F.col("cluster_rep"))
        .cast("int")
        .alias("is_survivor"),
    )


# --- benchmark decontamination -----------------------------------------


@query(
    "q_decontam",
    oracle="""
    WITH words AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
    sh AS (
      SELECT doc_id,
             unnest(list_distinct(list_transform(
               generate_series(1, greatest(len(w) - 4, 0)),
               i -> concat_ws(' ', w[i], w[i+1], w[i+2], w[i+3], w[i+4])
             ))) AS shingle
      FROM words
    ),
    ev AS (SELECT doc_id AS eval_id, shingle FROM sh WHERE doc_id % 10 = 0),
    corp AS (SELECT doc_id, shingle FROM sh WHERE doc_id % 10 <> 0)
    SELECT c.doc_id,
           CAST(count(DISTINCT c.shingle) AS BIGINT) AS n_shared_ngrams,
           CAST(count(DISTINCT e.eval_id) AS BIGINT) AS n_eval_docs
    FROM corp c JOIN ev e ON c.shingle = e.shingle
    GROUP BY c.doc_id
    """,
)
def q_decontam(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark DECONTAMINATION: flag corpus documents sharing any
    5-gram with the eval set (docs with doc_id % 10 = 0 stand in for a
    held-out benchmark). Per contaminated doc: how many distinct
    5-grams collide and how many eval docs are hit — the evidence a
    filtering decision needs.

    Scale shape: the eval side is tiny relative to the corpus (a
    benchmark is KBs against 100 TB), so its shingle set is BROADCAST —
    the corpus streams through a broadcast hash join with no shuffle of
    corpus shingles; the only shuffle is the per-doc count aggregation.
    5-grams not 13-grams (the common production n) because fixture docs
    are short; n is a parameter of the same plan.
    """
    d = _parallelize_docs(load(spark, sf_dir, "documents"))
    ev = d.where(F.col("doc_id") % 10 == 0)
    corp = d.where(F.col("doc_id") % 10 != 0)
    sh_ev = shingles_df(ev, 5).withColumnRenamed("doc_id", "eval_id")
    sh_corp = shingles_df(corp, 5)
    hits = sh_corp.join(F.broadcast(sh_ev), "shingle")
    return hits.groupBy("doc_id").agg(
        F.countDistinct("shingle").alias("n_shared_ngrams"),
        F.countDistinct("eval_id").alias("n_eval_docs"),
    )


# --- PII scrubbing ------------------------------------------------------

_PII_SALT = "::tile-etl-salt-v1"

# RE2-safe patterns (no lookaround/backrefs): usable verbatim in Spark
# (java.util.regex) and DuckDB (RE2). Applied by scrub_text(); the
# fixture corpus contains none of these, so the H-check exercises them
# as identity transforms and the unit test drives them on synthetic
# rows with real emails/phones/IPs.
PII_PATTERNS = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "phone": r"\+?[0-9][0-9 ()-]{6,}[0-9]",
    "ipv4": r"[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}",
}


def scrub_text(col, kinds=("email", "phone", "ipv4")):
    """Chained regexp_replace redacting each PII kind to ``<KIND>``."""
    out = col if not isinstance(col, str) else F.col(col)
    for k in kinds:
        out = F.regexp_replace(out, PII_PATTERNS[k], f"<{k.upper()}>")
    return out


@query(
    "q_pii_scrub",
    oracle=f"""
    SELECT c_custkey,
           concat(
             regexp_replace(substring(c_name, 1, length(c_name) - 2),
                            '[0-9]', '#', 'g'),
             substring(c_name, length(c_name) - 1, 2)
           ) AS masked_name,
           substring(sha256(c_name || '{_PII_SALT}'), 1, 16) AS pseudo_id,
           CAST(length(regexp_replace(c_name, '[^0-9]', '', 'g'))
                AS BIGINT) AS n_digits,
           CAST(floor(c_acctbal / 1000) * 1000 AS BIGINT) AS acct_band
    FROM customer
    """,
)
def q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing / pseudonymization over ``customer``: mask the
    numeric identity in ``c_name`` (keep last 2 chars for human
    eyeballing), derive a stable salted-SHA256 pseudonymous key (same
    input → same key across runs and tables — join-able, untraceable
    without the salt), and generalize ``c_acctbal`` to $1000 bands
    (k-anonymity-style coarsening). Free-text redaction (emails,
    phones, IPs) ships as ``scrub_text`` with RE2-safe patterns — the
    fixture corpus has no such tokens, so those patterns are
    unit-tested on synthetic rows instead of hash-checked here.

    All five columns are single-pass narrow expressions — no shuffle,
    no UDF; at 100 TB this is a pure map stage pipelined into the scan.
    """
    c = load(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.concat(
            F.regexp_replace(
                F.expr("substring(c_name, 1, length(c_name) - 2)"),
                "[0-9]",
                "#",
            ),
            F.expr("substring(c_name, length(c_name) - 1, 2)"),
        ).alias("masked_name"),
        F.substring(
            F.sha2(F.concat(F.col("c_name"), F.lit(_PII_SALT)), 256), 1, 16
        ).alias("pseudo_id"),
        F.length(F.regexp_replace(F.col("c_name"), "[^0-9]", ""))
        .cast("bigint")
        .alias("n_digits"),
        (F.floor(F.col("c_acctbal") / 1000) * 1000)
        .cast("bigint")
        .alias("acct_band"),
    )


K_ANON = 5


@query(
    "q_kanon_audit",
    oracle=f"""
    WITH g AS (
      SELECT c_nationkey, c_mktsegment,
             CAST(floor(c_acctbal / 1000) AS BIGINT) AS bal_band,
             count(*) AS group_size
      FROM customer GROUP BY 1, 2, 3
    )
    SELECT c_nationkey, c_mktsegment, bal_band,
           CAST(group_size AS BIGINT) AS group_size
    FROM g WHERE group_size < {K_ANON}
    """,
)
def q_kanon_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-ANONYMITY AUDIT — the governance check BEHIND q_pii_scrub's
    generalization step: under the quasi-identifier combination
    (nation, market segment, $1000 balance band), any equivalence
    class with fewer than k=5 (K_ANON) members is a re-identification
    risk (Sweeney, IJUFKS'02 — an attacker joining public attributes
    singles those rows out). Emits the risky classes with their sizes
    — the actionable worklist a release gate either suppresses or
    coarsens further; publishable iff the result is empty.

    Shape: one map-side-combined groupBy on the quasi-identifier
    tuple, then a size filter — a single shuffle whose reduce side is
    |QI-combination space| rows (bounded: 25 nations × 5 segments ×
    ~11 bands), never data-sized. The same audit at 100 TB costs one
    pass."""
    c = load(spark, sf_dir, "customer")
    return (
        c.groupBy(
            "c_nationkey",
            "c_mktsegment",
            F.floor(F.col("c_acctbal") / 1000)
            .cast("bigint")
            .alias("bal_band"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("group_size"))
        .where(F.col("group_size") < K_ANON)
    )


# --- deterministic dataset splits ---------------------------------------


@query(
    "q_data_split",
    oracle="""
    WITH tagged AS (
      SELECT lang, n_chars,
             CASE WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'cc'
                  THEN 'train'
                  WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'e6'
                  THEN 'val'
                  ELSE 'test' END AS split
      FROM documents
    )
    SELECT lang, split,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS chars_total
    FROM tagged GROUP BY lang, split
    """,
)
def q_data_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test assignment: hash the stable doc_id
    (never random() — reruns, retries and late-arriving shards must all
    agree), take the first 2 hex chars of md5 and threshold the STRING:
    lexicographic order over ``[0-9a-f]{2}`` equals numeric order, so
    ``< 'cc'`` is bucket < 204/256 ≈ 79.7 % train, ``< 'e6'`` adds
    ≈ 10.2 % val, rest test. String thresholds sidestep every
    hex-parsing dialect difference between engines. Reported as per
    (lang, split) doc and char counts — the split-balance audit a
    pipeline runs before training.

    Scale: one map-side expression + one 15-key aggregate; the
    assignment itself never shuffles.
    """
    d = load(spark, sf_dir, "documents")
    b2 = F.substring(
        F.md5(F.col("doc_id").cast("string").cast("binary")), 1, 2
    )
    split = (
        F.when(b2 < "cc", "train").when(b2 < "e6", "val").otherwise("test")
    )
    return (
        d.select("lang", "n_chars", split.alias("split"))
        .groupBy("lang", "split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("chars_total"),
        )
    )


# --- sequence packing ---------------------------------------------------

PACK_BUDGET = 512
# Packing shard width: greedy fill runs per (lang, chunk-of-256
# doc_ids), not per lang. Re-scoped r10 after the registry-wide sf1
# sweep: the per-lang form's DuckDB twin is a recursive CTE whose
# frontier advances ONE doc per lang per iteration — O(docs_per_lang)
# iterations x O(n) join each = quadratic, >120 s at sf1 — and the
# per-lang Spark form is itself the anti-pattern the docstring warned
# about (one sequential task per lang regardless of corpus size).
# Chunked packing bounds BOTH: recursion depth <= max docs per chunk,
# and every chunk packs independently in parallel.
PACK_CHUNK = 256


@query(
    "q_pack_sequences",
    oracle=f"""
    WITH RECURSIVE docs AS (
      SELECT doc_id, lang, doc_id // {PACK_CHUNK} AS chunk,
             len(string_split(text, ' ')) AS tok,
             row_number() OVER (PARTITION BY lang, doc_id // {PACK_CHUNK}
                                ORDER BY doc_id) AS rn
      FROM documents
    ),
    step(lang, chunk, rn, bin_id, fill) AS (
      SELECT lang, chunk, rn, 0, tok FROM docs WHERE rn = 1
      UNION ALL
      SELECT d.lang, d.chunk, d.rn,
             CASE WHEN s.fill + d.tok <= {PACK_BUDGET}
                  THEN s.bin_id ELSE s.bin_id + 1 END,
             CASE WHEN s.fill + d.tok <= {PACK_BUDGET}
                  THEN s.fill + d.tok ELSE d.tok END
      FROM step s JOIN docs d ON d.lang = s.lang AND d.chunk = s.chunk
                             AND d.rn = s.rn + 1
    ),
    packed AS (
      SELECT s.lang, s.chunk, s.bin_id, d.tok
      FROM step s JOIN docs d ON d.lang = s.lang AND d.chunk = s.chunk
                             AND d.rn = s.rn
    )
    SELECT lang, CAST(chunk AS BIGINT) AS chunk,
           CAST(bin_id AS BIGINT) AS bin_id,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(tok) AS BIGINT) AS bin_tokens
    FROM packed GROUP BY lang, chunk, bin_id
    """,
)
def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEQUENCE PACKING: greedy first-fit of documents (in doc_id
    order, per (lang, chunk)) into {PACK_BUDGET}-token bins — the step
    that turns a filtered corpus into fixed-length training sequences.
    Greedy in-order fill is inherently sequential, so it runs as an
    Arrow ``applyInPandas`` per group: a tight pandas loop over
    (already sorted) token counts, emitting a bin id per doc; Spark
    then aggregates per (lang, chunk, bin).

    An over-budget document gets a bin of its own (fill = its own count
    — real pipelines would chunk it first) and the NEXT doc always
    starts fresh; the DuckDB oracle replays the identical rule as a
    recursive CTE, one recursion step per doc per (lang, chunk).

    Scale (re-scoped r10, same rationale as q_join_theta's r9 bounded
    probe): packing shards on (lang, chunk = doc_id // {PACK_CHUNK}),
    accepting per-shard bin numbering — global sequential numbering is
    the antithesis of distributed. The previous per-lang form had ONE
    sequential task per lang (15 tasks forever, whatever the corpus)
    and a quadratic oracle (recursion frontier = one doc per lang per
    iteration over a full-table join; >120 s at sf1 in the r9 sweep).
    Chunking bounds recursion depth by the chunk width and lets every
    shard pack in parallel — both engines now scale linearly, and at
    100 TB the chunk id doubles as the shard key the docstring always
    prescribed. Group state is one integer pair; memory per task is
    the group's (doc_id, tok) pairs only.
    """
    d = _parallelize_docs(load(spark, sf_dir, "documents"))
    tok = d.select(
        "lang",
        "doc_id",
        # floor division to mirror DuckDB's `//` exactly (ADVICE r10:
        # float-divide + cast('long') truncates toward zero and double-
        # rounds — diverges from the oracle for negative or huge ids)
        F.floor(F.col("doc_id") / PACK_CHUNK).cast("long").alias("chunk"),
        F.size(F.split("text", " ")).alias("tok"),
    )

    budget = PACK_BUDGET

    def pack(pdf):
        pdf = pdf.sort_values("doc_id").reset_index(drop=True)
        bins = []
        bin_id, fill = 0, 0
        first = True
        for t in pdf["tok"]:
            t = int(t)
            if first:
                first = False
                fill = t
            elif fill + t <= budget:
                fill += t
            else:
                bin_id += 1
                fill = t
            bins.append(bin_id)
        pdf["bin_id"] = bins
        return pdf[["lang", "chunk", "doc_id", "bin_id", "tok"]]

    packed = tok.groupBy("lang", "chunk").applyInPandas(
        pack, "lang string, chunk long, doc_id long, bin_id long, tok long"
    )
    return packed.groupBy("lang", "chunk", "bin_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("tok").alias("bin_tokens"),
    )


# --- within-document repetition ----------------------------------------


@query(
    "q_text_repetition",
    oracle="""
    WITH words AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS word
      FROM documents
    ),
    wc AS (
      SELECT doc_id, word, count(*) AS n FROM words GROUP BY doc_id, word
    )
    SELECT doc_id,
           CAST(sum(n) AS BIGINT) AS n_words,
           CAST(count(*) AS BIGINT) AS n_distinct,
           round(CAST(max(n) AS DOUBLE) / sum(n), 6) AS top_ratio,
           round(CAST(count(*) AS DOUBLE) / sum(n), 6) AS distinct_ratio,
           CAST(CASE WHEN CAST(max(n) AS DOUBLE) / sum(n) > 0.2
                     THEN 1 ELSE 0 END AS INT) AS repetitive
    FROM wc GROUP BY doc_id
    """,
)
def q_text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document REPETITION scoring — the boilerplate/spam signal
    (a page of one word repeated 500× has high n_words and terrible
    top_ratio). Per doc: word count, distinct-word count, the most
    frequent word's share (top_ratio), type-token ratio
    (distinct_ratio), and a 20 %-share repetitive flag.

    Shape: explode words → two stacked hash aggregates ((doc, word)
    then doc) — both combine map-side; no window, no UDF. The flag
    compares UNROUNDED ratios in both engines (rounding first would
    make the boundary engine-dependent).
    """
    d = _parallelize_docs(load(spark, sf_dir, "documents"))
    wc = (
        d.select("doc_id", F.explode(F.split("text", " ")).alias("word"))
        .groupBy("doc_id", "word")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    ratio = F.col("max_n").cast("double") / F.col("n_words")
    return (
        wc.groupBy("doc_id")
        .agg(
            F.sum("n").alias("n_words"),
            F.count(F.lit(1)).alias("n_distinct"),
            F.max("n").alias("max_n"),
        )
        .select(
            "doc_id",
            "n_words",
            "n_distinct",
            F.round(ratio, 6).alias("top_ratio"),
            F.round(
                F.col("n_distinct").cast("double") / F.col("n_words"), 6
            ).alias("distinct_ratio"),
            (ratio > 0.2).cast("int").alias("repetitive"),
        )
    )


# --- event funnels ------------------------------------------------------


@query(
    "q_funnel",
    oracle="""
    WITH s1 AS (
      SELECT user_id, min(ts) AS t1 FROM events
      WHERE event_type = 'signup' GROUP BY user_id
    ),
    s2 AS (
      SELECT e.user_id, min(e.ts) AS t2
      FROM events e JOIN s1 ON e.user_id = s1.user_id
      WHERE e.event_type = 'click' AND e.ts > s1.t1
      GROUP BY e.user_id
    ),
    s3 AS (
      SELECT e.user_id, min(e.ts) AS t3
      FROM events e JOIN s2 ON e.user_id = s2.user_id
      WHERE e.event_type = 'purchase' AND e.ts > s2.t2
      GROUP BY e.user_id
    )
    SELECT stage, n_users FROM (
      SELECT 'signup' AS stage,
             CAST((SELECT count(*) FROM s1) AS BIGINT) AS n_users
      UNION ALL
      SELECT 'signup>click',
             CAST((SELECT count(*) FROM s2) AS BIGINT)
      UNION ALL
      SELECT 'signup>click>purchase',
             CAST((SELECT count(*) FROM s3) AS BIGINT)
    )
    """,
)
def q_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered event-sequence (FUNNEL) detection: users who signed up,
    then clicked strictly after their first signup, then purchased
    strictly after that first qualifying click — the strict-order
    semantics of MATCH_RECOGNIZE / windowFunnel, built from chained
    min-timestamp aggregates: stage k is a groupBy(user) min(ts) over
    events later than stage k-1's timestamp.

    Scale: three aggregates + two joins, all keyed on user_id — they
    co-partition, so AQE plans one real shuffle of the events scan per
    stage filter with small probe sides; stage frames only shrink.
    Output is one row per funnel stage with the surviving user count.
    """
    e = load(spark, sf_dir, "events")
    s1 = (
        e.where(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    s2 = (
        e.where(F.col("event_type") == "click")
        .join(s1, "user_id")
        .where(F.col("ts") > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    s3 = (
        e.where(F.col("event_type") == "purchase")
        .join(s2, "user_id")
        .where(F.col("ts") > F.col("t2"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )

    def stage(name: str, df: DataFrame) -> DataFrame:
        return df.agg(
            F.lit(name).alias("stage"),
            F.count(F.lit(1)).alias("n_users"),
        ).select("stage", "n_users")

    return (
        stage("signup", s1)
        .unionByName(stage("signup>click", s2))
        .unionByName(stage("signup>click>purchase", s3))
    )


# --- stratified sampling ------------------------------------------------


@query(
    "q_sample_stratified",
    oracle="""
    WITH t AS (
      SELECT lang,
             (ascii(substring(lang, 1, 1)) % 10) + 3 AS th,
             substring(md5(CAST(doc_id AS VARCHAR) || '::sample'), 1, 1)
               AS h1
      FROM documents
    ),
    flagged AS (
      SELECT lang, th,
             CASE WHEN h1 < substring('0123456789abcdef', th + 1, 1)
                  THEN 1 ELSE 0 END AS sampled
      FROM t
    )
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(sampled) AS BIGINT) AS n_sampled,
           round(CAST(min(th) AS DOUBLE) / 16, 6) AS rate_nominal,
           round(CAST(sum(sampled) AS DOUBLE) / count(*), 6)
             AS rate_observed
    FROM flagged GROUP BY lang
    """,
)
def q_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STRATIFIED downsampling audit: each stratum (lang) is sampled at
    its own deterministic rate — here th/16 with th derived from the
    lang name (3/16 .. 12/16), standing in for a per-stratum quota
    table. Membership is decided per row by hashing the stable doc_id
    (salted differently from q_data_split so the two assignments are
    independent): first md5 hex char < the stratum's threshold digit —
    lexicographic order over hex digits equals numeric order, the same
    dialect-proof string-threshold trick as q_data_split. Never
    ``sample()``/random(): retries and re-runs must pick the SAME rows.

    Output is the audit a pipeline checks before training: per stratum,
    population, sample size, nominal vs observed rate.

    Scale: pure map expression + one small aggregate; the sampled
    subset itself (filter on the same flag) never shuffles.
    """
    d = load(spark, sf_dir, "documents")
    th = (F.ascii(F.substring("lang", 1, 1)) % 10) + 3
    h1 = F.substring(
        F.md5(
            F.concat(F.col("doc_id").cast("string"), F.lit("::sample")).cast(
                "binary"
            )
        ),
        1,
        1,
    )
    # substring(lit, Column) needs the SQL-expr form in Spark
    digit = F.expr(
        "substring('0123456789abcdef',"
        " (ascii(substring(lang, 1, 1)) % 10) + 3 + 1, 1)"
    )
    sampled = (h1 < digit).cast("int")
    return (
        d.select("lang", th.alias("th"), sampled.alias("sampled"))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("sampled").alias("n_sampled"),
            F.round(F.min("th").cast("double") / 16, 6).alias("rate_nominal"),
            F.round(
                F.sum("sampled").cast("double") / F.count(F.lit(1)), 6
            ).alias("rate_observed"),
        )
    )


# --- document chunking --------------------------------------------------

CHUNK_SIZE = 32
CHUNK_STRIDE = 24


@query(
    "q_doc_chunk",
    oracle=f"""
    WITH words AS (
      SELECT doc_id, string_split(text, ' ') AS w,
             len(string_split(text, ' ')) AS n
      FROM documents
    ),
    st AS (
      SELECT doc_id, w, n,
             unnest(generate_series(1, n, {CHUNK_STRIDE})) AS start
      FROM words
    )
    SELECT doc_id,
           CAST((start - 1) / {CHUNK_STRIDE} AS BIGINT) AS chunk_id,
           CAST(least({CHUNK_SIZE}, n - start + 1) AS INT) AS n_chunk_tokens,
           array_to_string(
             w[start:least(start + {CHUNK_SIZE} - 1, n)], ' ') AS chunk_text
    FROM st
    """,
)
def q_doc_chunk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document CHUNKING for training: split each doc into
    {CHUNK_SIZE}-token windows advancing by {CHUNK_STRIDE} tokens
    ({CHUNK_SIZE - CHUNK_STRIDE}-token overlap keeps context across
    chunk boundaries) — the step that turns variable-length documents
    into model-sized sequences, upstream of q_pack_sequences. Chunk ids
    are per-doc (deterministic from the start offset); the final
    (short) window starts at the last stride position ≤ n.

    Shape: sequence() + explode + slice — pure per-row array
    expressions, a map stage with ~n/stride row amplification and no
    shuffle. At 100 TB chunking pipelines into the scan and the
    downstream repartition is the packing stage's, not chunking's.
    """
    d = _parallelize_docs(load(spark, sf_dir, "documents"))
    w = F.split("text", " ")
    base = d.select("doc_id", w.alias("w"), F.size(w).alias("n"))
    st = base.select(
        "doc_id",
        "w",
        "n",
        F.explode(
            F.sequence(F.lit(1), F.col("n"), F.lit(CHUNK_STRIDE))
        ).alias("start"),
    )
    chunk_len = F.least(F.lit(CHUNK_SIZE), F.col("n") - F.col("start") + 1)
    return st.select(
        "doc_id",
        ((F.col("start") - 1) / CHUNK_STRIDE).cast("bigint").alias("chunk_id"),
        chunk_len.cast("int").alias("n_chunk_tokens"),
        F.array_join(
            F.slice(F.col("w"), F.col("start"), chunk_len), " "
        ).alias("chunk_text"),
    )


# --- domain mixture weighting -------------------------------------------


@query(
    "q_mixture_weights",
    oracle="""
    WITH per_src AS (
      SELECT source,
             (CAST(substring(source, 4) AS INT) % 4) + 1 AS raw_w,
             count(*) AS n_docs
      FROM documents GROUP BY source
    ),
    tot AS (
      SELECT sum(raw_w) AS s,
             min(CAST(n_docs AS DOUBLE) / raw_w) AS m
      FROM per_src
    )
    SELECT p.source,
           CAST(p.n_docs AS BIGINT) AS n_docs,
           round(CAST(p.raw_w AS DOUBLE) / g.s, 6) AS target_w,
           round(p.raw_w * g.m / p.n_docs, 6) AS rate,
           CAST(floor(p.raw_w * g.m) AS BIGINT) AS expected_docs
    FROM per_src p CROSS JOIN tot g
    """,
)
def q_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain MIXTURE reweighting: given target mixture weights per
    source domain (derived here from the source name — a stand-in for
    the curated weights table of a real run), compute the downsampling
    rate per domain that achieves the target mixture with the largest
    corpus satisfying rate ≤ 1 everywhere: with target share w_s and
    population n_s, the binding domain is argmin(n_s / w_s) and
    rate_s = w_s · C / n_s with C = min(n_s / w_s) — which algebraically
    reduces to raw_s · min(n/raw) / n_s, so the normalizer cancels and
    both engines compute the identical double expression.

    Shape: one per-source aggregate, then a BROADCAST cross join of the
    1-row global (sum, min) — the same no-driver-roundtrip scalar
    pattern as tf-idf's N. The rates then drive the same hash-threshold
    sampler as q_sample_stratified.
    """
    d = load(spark, sf_dir, "documents")
    per_src = (
        d.groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .select(
            "source",
            "n_docs",
            ((F.expr("CAST(substring(source, 4) AS INT)") % 4) + 1).alias(
                "raw_w"
            ),
        )
    )
    glob = per_src.agg(
        F.sum("raw_w").alias("s"),
        F.min(F.col("n_docs").cast("double") / F.col("raw_w")).alias("m"),
    )
    return per_src.crossJoin(F.broadcast(glob)).select(
        "source",
        F.col("n_docs").cast("bigint").alias("n_docs"),
        F.round(F.col("raw_w").cast("double") / F.col("s"), 6).alias(
            "target_w"
        ),
        F.round(F.col("raw_w") * F.col("m") / F.col("n_docs"), 6).alias(
            "rate"
        ),
        F.floor(F.col("raw_w") * F.col("m")).cast("bigint").alias(
            "expected_docs"
        ),
    )


# --- composite quality gate ---------------------------------------------


@query(
    "q_quality_filter",
    oracle="""
    WITH words AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS word
      FROM documents
    ),
    wc AS (
      SELECT doc_id, word, count(*) AS n FROM words GROUP BY doc_id, word
    ),
    rep AS (
      SELECT doc_id, sum(n) AS n_words, max(n) AS max_n
      FROM wc GROUP BY doc_id
    ),
    base AS (
      SELECT doc_id,
             len(string_split(text, ' ')) AS n_tokens,
             len(list_filter(string_split(text, ' '),
                 t -> t IN ('the', 'a', 'of', 'and', 'data', 'value')))
               AS n_stop
      FROM documents
    ),
    scored AS (
      SELECT b.doc_id, b.n_tokens, b.n_stop,
             CAST(r.max_n AS DOUBLE) / r.n_words AS top_ratio
      FROM base b JOIN rep r ON b.doc_id = r.doc_id
    )
    SELECT doc_id,
           CAST(n_tokens AS INT) AS n_tokens,
           round(top_ratio, 6) AS top_ratio,
           CASE WHEN n_tokens < 5 THEN 'too_short'
                WHEN n_tokens > 80 THEN 'too_long'
                WHEN top_ratio > 0.2 THEN 'repetitive'
                WHEN n_stop = 0 THEN 'no_stopwords'
                ELSE 'ok' END AS reason,
           CAST(CASE WHEN n_tokens >= 5 AND n_tokens <= 80
                      AND top_ratio <= 0.2 AND n_stop > 0
                     THEN 1 ELSE 0 END AS INT) AS keep
    FROM scored
    """,
)
def q_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite QUALITY GATE — the decision step that composes the
    individual signals (token count, repetition share, stopword
    presence; siblings q_text_quality / q_text_repetition compute the
    full feature sets) into a keep/drop verdict with a REASON CODE, in
    fixed priority order: too_short → too_long → repetitive →
    no_stopwords → ok. Reason codes are what make a drop auditable —
    every real curation pipeline reports removal counts per rule.

    Gate thresholds compare UNROUNDED ratios in both engines; only the
    reported top_ratio is rounded. Shape: one explode + two stacked
    aggregates for the repetition signal, joined back to the per-doc
    scalar pass on doc_id — two shuffles total, both map-side-combined.
    """
    d = _parallelize_docs(load(spark, sf_dir, "documents"))
    words = F.split("text", " ")
    rep = (
        d.select("doc_id", F.explode(words).alias("word"))
        .groupBy("doc_id", "word")
        .agg(F.count(F.lit(1)).alias("n"))
        .groupBy("doc_id")
        .agg(F.sum("n").alias("n_words"), F.max("n").alias("max_n"))
    )
    base = d.select(
        "doc_id",
        F.size(words).alias("n_tokens"),
        F.size(
            F.filter(
                words,
                lambda t: t.isin("the", "a", "of", "and", "data", "value"),
            )
        ).alias("n_stop"),
    )
    top_ratio = F.col("max_n").cast("double") / F.col("n_words")
    scored = base.join(rep, "doc_id").select(
        "doc_id", "n_tokens", "n_stop", top_ratio.alias("top_ratio")
    )
    reason = (
        F.when(F.col("n_tokens") < 5, "too_short")
        .when(F.col("n_tokens") > 80, "too_long")
        .when(F.col("top_ratio") > 0.2, "repetitive")
        .when(F.col("n_stop") == 0, "no_stopwords")
        .otherwise("ok")
    )
    return scored.select(
        "doc_id",
        F.col("n_tokens").cast("int").alias("n_tokens"),
        F.round("top_ratio", 6).alias("top_ratio"),
        reason.alias("reason"),
        (reason == "ok").cast("int").alias("keep"),
    )


# --- embedding quantization ---------------------------------------------


@query(
    "q_embed_quantize",
    oracle="""
    WITH base AS (
      SELECT vec_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      FROM embeddings
    ),
    scaled AS (
      SELECT vec_id, e,
             127.0 / list_aggregate(list_transform(e, x -> abs(x)), 'max')
               AS scale
      FROM base
    )
    SELECT vec_id,
           round(scale, 6) AS scale_r,
           array_to_string(
             list_transform(e,
               x -> CAST(floor(x * scale + 0.5) AS BIGINT)), ',') AS codes,
           round(list_aggregate(
             list_transform(e,
               x -> abs(x - floor(x * scale + 0.5) / scale)), 'max'),
             6) AS max_abs_err
    FROM scaled
    """,
)
def q_embed_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric INT8 QUANTIZATION of the embedding column — 4×
    compression for ANN shortlists and caches. Per vector: scale =
    127/max|x|, code_i = floor(x_i·scale + 0.5) ∈ [-127, 127], plus
    the max absolute reconstruction error. Codes are emitted as a
    comma-joined string (driver-hashable, and integer codes are
    EXACTLY comparable across engines — float32→double widening, the
    multiply and floor are all deterministic; max is order-independent,
    so no float-summation-order risk anywhere).

    Shape: pure per-row array expressions (transform/max/floor) — a map
    stage, no shuffle, no UDF. The 64-wide HOFs run interpreted
    per-element, which is fine off the hot path; the GEMM tier
    (similarity.py) is where vector math must be BLAS.
    """
    em = load(spark, sf_dir, "embeddings")
    e = F.transform("embedding", lambda x: x.cast("double"))
    base = em.select("vec_id", e.alias("e"))
    scale = 127.0 / F.array_max(
        F.transform("e", lambda x: F.abs(x))
    )
    scaled = base.select("vec_id", "e", scale.alias("scale"))
    codes = F.array_join(
        F.transform(
            "e",
            lambda x: F.floor(x * F.col("scale") + 0.5)
            .cast("bigint")
            .cast("string"),
        ),
        ",",
    )
    err = F.array_max(
        F.transform(
            "e",
            lambda x: F.abs(
                x - F.floor(x * F.col("scale") + 0.5) / F.col("scale")
            ),
        )
    )
    return scaled.select(
        "vec_id",
        F.round("scale", 6).alias("scale_r"),
        codes.alias("codes"),
        F.round(err, 6).alias("max_abs_err"),
    )


# --- end-to-end curation pipeline ---------------------------------------

_E2E_ORACLE = f"""
    WITH RECURSIVE norm AS (
      SELECT doc_id, text, lang, n_chars,
             md5(trim(regexp_replace(
               regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
               ' +', ' ', 'g'))) AS norm_hash
      FROM documents
    ),
    exact_surv AS (
      SELECT min(doc_id) AS doc_id FROM norm GROUP BY norm_hash
    ),
    docs2 AS (
      SELECT n.doc_id, n.text, n.lang, n.n_chars
      FROM norm n JOIN exact_surv e ON n.doc_id = e.doc_id
    ),
    {NGRAM_PAIRS_CTES.replace("FROM documents", "FROM docs2")},
    edges AS (
      SELECT d1 AS a, d2 AS b FROM njpairs
      UNION ALL SELECT d2, d1 FROM njpairs
    ),
    reach(a, b) AS (
      SELECT a, b FROM edges
      UNION
      SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
    ),
    rep AS (
      SELECT a AS doc_id, least(a, min(b)) AS cluster_rep
      FROM reach GROUP BY a
    ),
    cluster_surv AS (
      SELECT d.doc_id, d.text, d.lang, d.n_chars
      FROM docs2 d LEFT JOIN rep r ON d.doc_id = r.doc_id
      WHERE coalesce(r.cluster_rep, d.doc_id) = d.doc_id
    ),
    qwords AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS word
      FROM cluster_surv
    ),
    qwc AS (
      SELECT doc_id, word, count(*) AS n FROM qwords GROUP BY doc_id, word
    ),
    repet AS (
      SELECT doc_id, sum(n) AS n_words, max(n) AS max_n
      FROM qwc GROUP BY doc_id
    ),
    quality_ok AS (
      SELECT c.doc_id, c.lang, c.n_chars
      FROM cluster_surv c JOIN repet r ON c.doc_id = r.doc_id
      WHERE len(string_split(c.text, ' ')) >= 5
        AND len(string_split(c.text, ' ')) <= 80
        AND CAST(r.max_n AS DOUBLE) / r.n_words <= 0.2
        AND len(list_filter(string_split(c.text, ' '),
                t -> t IN ('the', 'a', 'of', 'and', 'data', 'value'))) > 0
    ),
    final AS (
      SELECT doc_id, n_chars,
             CASE WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'cc'
                  THEN 'train'
                  WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'e6'
                  THEN 'val'
                  ELSE 'test' END AS split
      FROM quality_ok
    )
    SELECT stage, n_docs, n_chars FROM (
      SELECT 'raw' AS stage, CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(n_chars) AS BIGINT) AS n_chars FROM documents
      UNION ALL
      SELECT 'exact_unique', CAST(count(*) AS BIGINT),
             CAST(sum(n_chars) AS BIGINT) FROM docs2
      UNION ALL
      SELECT 'cluster_survivor', CAST(count(*) AS BIGINT),
             CAST(sum(n_chars) AS BIGINT) FROM cluster_surv
      UNION ALL
      SELECT 'quality_ok', CAST(count(*) AS BIGINT),
             CAST(sum(n_chars) AS BIGINT) FROM quality_ok
      UNION ALL
      SELECT 'split:' || split, CAST(count(*) AS BIGINT),
             CAST(sum(n_chars) AS BIGINT) FROM final GROUP BY split
    )
"""


@query("q_curation_e2e", oracle=_E2E_ORACLE)
def q_curation_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END curation pipeline — the composite the individual
    qids exist for, chained exactly as a production run would stage
    them: normalize → exact dedup (canonical-hash survivors) →
    near-dup cluster resolution (3-gram Jaccard ≥ 0.8 components, min
    id survives) → composite quality gate → deterministic split
    assignment. Output is the FUNNEL AUDIT: one row per stage with doc
    and char counts, plus the final per-split sizes — the table a data
    lead reads before green-lighting a training run.

    Every stage is the H-checked primitive's exact logic (shared SQL
    constants / shared builders), so the DuckDB twin replays the whole
    chain; the funnel numbers hash-match end to end. Scale: each stage
    is the primitive's own plan (one or two shuffles each), composed
    lazily — Catalyst sees ONE DAG and shares the docs2 scan across
    stage counters; the union of 5 tiny aggregates adds no shuffle of
    data-bearing rows.
    """
    _scope(f"q_curation_e2e:{sf_dir}")
    d = _parallelize_docs(load(spark, sf_dir, "documents"))

    normalized = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9 ]", ""),
            " +",
            " ",
        )
    )
    norm = d.select(
        "doc_id", "text", "lang", "n_chars",
        F.md5(normalized.cast("binary")).alias("norm_hash"),
    )
    exact_surv = norm.groupBy("norm_hash").agg(
        F.min("doc_id").alias("doc_id")
    )
    docs2 = _persist(
        norm.join(exact_surv.select("doc_id"), "doc_id").select(
            "doc_id", "text", "lang", "n_chars"
        )
    )

    pairs = ngram_jaccard_pairs(docs2).select(
        F.col("d1").alias("src"), F.col("d2").alias("dst")
    )
    comp = connected_components(pairs)
    # keyed like q_dedup_cluster's assign: the checkpointed component
    # lineage defeats sameSemantics; the result is a deterministic
    # function of docs2.
    cluster_surv = _persist(
        docs2.join(
            comp.select(
                F.col("node").alias("doc_id"),
                F.col("component").alias("cluster_rep"),
            ),
            "doc_id",
            "left",
        ).where(
            F.coalesce("cluster_rep", F.col("doc_id")) == F.col("doc_id")
        ).select("doc_id", "text", "lang", "n_chars"),
        key=f"cc_cluster_surv:{docs2.semanticHash()}",
    )

    words = F.split("text", " ")
    repet = (
        cluster_surv.select(
            "doc_id", F.explode(words).alias("word")
        )
        .groupBy("doc_id", "word")
        .agg(F.count(F.lit(1)).alias("n"))
        .groupBy("doc_id")
        .agg(F.sum("n").alias("n_words"), F.max("n").alias("max_n"))
    )
    n_tokens = F.size(words)
    stop = F.size(
        F.filter(
            words,
            lambda t: t.isin("the", "a", "of", "and", "data", "value"),
        )
    )
    quality_ok = _persist(
        cluster_surv.join(repet, "doc_id")
        .where(
            (n_tokens >= 5)
            & (n_tokens <= 80)
            & (F.col("max_n").cast("double") / F.col("n_words") <= 0.2)
            & (stop > 0)
        )
        .select("doc_id", "n_chars"),
        key=f"cc_quality_ok:{docs2.semanticHash()}",
    )

    b2 = F.substring(
        F.md5(F.col("doc_id").cast("string").cast("binary")), 1, 2
    )
    split = (
        F.when(b2 < "cc", "train").when(b2 < "e6", "val").otherwise("test")
    )
    final = quality_ok.select("n_chars", split.alias("split"))

    def counter(stage: str, df: DataFrame) -> DataFrame:
        return df.agg(
            F.lit(stage).alias("stage"),
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("n_chars"),
        ).select("stage", "n_docs", "n_chars")

    per_split = (
        final.groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("n_chars"),
        )
        .select(
            F.concat(F.lit("split:"), F.col("split")).alias("stage"),
            "n_docs",
            "n_chars",
        )
    )
    return (
        counter("raw", d)
        .unionByName(counter("exact_unique", docs2))
        .unionByName(counter("cluster_survivor", cluster_surv))
        .unionByName(counter("quality_ok", quality_ok))
        .unionByName(per_split)
    )


@query(
    "q_dedup_cluster_stats",
    oracle=f"""
    WITH RECURSIVE {NGRAM_PAIRS_CTES},
    edges AS (
      SELECT d1 AS a, d2 AS b FROM njpairs
      UNION ALL
      SELECT d2, d1 FROM njpairs
    ),
    reach(a, b) AS (
      SELECT a, b FROM edges
      UNION
      SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
    ),
    rep AS (
      SELECT a AS doc_id, least(a, min(b)) AS cluster_rep
      FROM reach GROUP BY a
    ),
    assign AS (
      SELECT d.doc_id,
             coalesce(r.cluster_rep, d.doc_id) AS cluster_rep
      FROM documents d LEFT JOIN rep r ON d.doc_id = r.doc_id
    ),
    csize AS (
      SELECT cluster_rep, count(*) AS n FROM assign GROUP BY cluster_rep
    ),
    corpus AS (SELECT count(*) AS total FROM documents)
    SELECT CAST(csize.n AS BIGINT) AS cluster_size,
           CAST(count(*) AS BIGINT) AS n_clusters,
           CAST(count(*) * csize.n AS BIGINT) AS n_docs,
           round(CAST(count(*) * csize.n AS DOUBLE) / corpus.total, 6)
             AS corpus_share
    FROM csize CROSS JOIN corpus
    GROUP BY csize.n, corpus.total
    """,
)
def q_dedup_cluster_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DEDUP AUDIT REPORT — the cluster-size distribution: how many
    near-dup clusters exist at each size, how many documents they bind,
    and what share of the corpus that is. The first chart in every
    dedup run report (singletons = unique docs; the heavy tail = the
    template/boilerplate families worth inspecting), and the number
    that decides whether near-dup removal is worth its cost on a new
    corpus. Built ON TOP of q_dedup_cluster's connected components —
    operators composing operators, same edge set by construction.

    Shape: the component assignment's (rep → size) aggregate collapses
    to a size histogram (integer keys, map-side combined) with the
    corpus total broadcast as a 1-row frame. All exact integers plus
    one exact-ratio round."""
    assign = q_dedup_cluster(spark, sf_dir)
    csize = assign.groupBy("cluster_rep").agg(
        F.count(F.lit(1)).alias("n")
    )
    total = load(spark, sf_dir, "documents").agg(
        F.count(F.lit(1)).alias("total")
    )
    return (
        csize.crossJoin(F.broadcast(total))
        .groupBy(F.col("n").cast("bigint").alias("cluster_size"), "total")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_clusters"))
        .select(
            "cluster_size",
            "n_clusters",
            (F.col("n_clusters") * F.col("cluster_size"))
            .cast("bigint")
            .alias("n_docs"),
            F.round(
                (F.col("n_clusters") * F.col("cluster_size")).cast("double")
                / F.col("total"),
                6,
            ).alias("corpus_share"),
        )
    )


@query(
    "q_feature_scale",
    oracle="""
    WITH stats AS (
      SELECT l_returnflag,
             count(*) AS n,
             CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
               AS sx,
             CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                      * CAST(l_extendedprice AS DECIMAL(18,2)))
                  AS DOUBLE) AS sxx,
             CAST(min(l_extendedprice) AS DOUBLE) AS mn,
             CAST(max(l_extendedprice) AS DOUBLE) AS mx
      FROM lineitem GROUP BY l_returnflag
    )
    SELECT l.l_orderkey, l.l_linenumber, l.l_returnflag,
           round((l.l_extendedprice - s.sx / s.n)
                 / sqrt(s.sxx / s.n - (s.sx / s.n) * (s.sx / s.n)), 6)
             AS zscore,
           round((l.l_extendedprice - s.mn) / nullif(s.mx - s.mn, 0.0), 6)
             AS minmax
    FROM lineitem l JOIN stats s ON l.l_returnflag = s.l_returnflag
    WHERE l.l_orderkey % 100 = 0
    """,
)
def q_feature_scale(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FEATURE SCALING — per-group z-score and min-max normalization,
    the preprocessing every numeric feature gets before training. Group
    statistics come from ONE exact-DECIMAL moment pass (population
    variance via Σx²/n − μ², the same mergeable moment vector as
    q_corr_pearson) broadcast back into the scoring scan — never a
    per-row window over the full table. The z and min-max expressions
    are identical double trees in both engines, rounded to 6 dp.

    At 100 TB: stats aggregate is map-side combined to one row per
    group; the scoring pass is a broadcast join + per-row codegen —
    two scans total, no shuffle of the fact table."""
    li = load(spark, sf_dir, "lineitem")
    x = F.col("l_extendedprice").cast("decimal(18,2)")
    stats = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x).cast("double").alias("sx"),
        F.sum(x * x).cast("double").alias("sxx"),
        F.min("l_extendedprice").cast("double").alias("mn"),
        F.max("l_extendedprice").cast("double").alias("mx"),
    )
    mu = F.col("sx") / F.col("n")
    sd = F.sqrt(F.col("sxx") / F.col("n") - mu * mu)
    return (
        li.where(F.col("l_orderkey") % 100 == 0)
        .join(F.broadcast(stats), "l_returnflag")
        .select(
            "l_orderkey",
            "l_linenumber",
            "l_returnflag",
            F.round((F.col("l_extendedprice") - mu) / sd, 6).alias(
                "zscore"
            ),
            F.round(
                (F.col("l_extendedprice") - F.col("mn"))
                / F.nullif(F.col("mx") - F.col("mn"), F.lit(0.0)),
                6,
            ).alias("minmax"),
        )
    )


@query(
    "q_onehot_encode",
    oracle="""
    SELECT o_orderkey,
           CAST(o_orderpriority = '1-URGENT' AS INT) AS pri_urgent,
           CAST(o_orderpriority = '2-HIGH' AS INT) AS pri_high,
           CAST(o_orderpriority = '3-MEDIUM' AS INT) AS pri_medium,
           CAST(o_orderpriority = '4-NOT SPECIFIED' AS INT)
             AS pri_notspec,
           CAST(o_orderpriority = '5-LOW' AS INT) AS pri_low,
           CAST(o_orderstatus = 'F' AS INT) AS st_f,
           CAST(o_orderstatus = 'O' AS INT) AS st_o,
           CAST(o_orderstatus = 'P' AS INT) AS st_p
    FROM orders
    """,
)
def q_onehot_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ONE-HOT ENCODING of categorical columns into indicator ints —
    the other half of ML feature prep (q_feature_hash covers the
    hashing-trick alternative for unbounded vocabularies; explicit
    one-hot is right when the category set is small and KNOWN, as
    here: the encoding is part of the schema contract, so an unseen
    category is a detectable upstream error rather than a silent hash
    bucket). Pure per-row codegen, no shuffle, columns not rows — the
    layout a feature store materializes."""
    o = load(spark, sf_dir, "orders")

    def ind(col, val, name):
        return (F.col(col) == val).cast("int").alias(name)

    return o.select(
        "o_orderkey",
        ind("o_orderpriority", "1-URGENT", "pri_urgent"),
        ind("o_orderpriority", "2-HIGH", "pri_high"),
        ind("o_orderpriority", "3-MEDIUM", "pri_medium"),
        ind("o_orderpriority", "4-NOT SPECIFIED", "pri_notspec"),
        ind("o_orderpriority", "5-LOW", "pri_low"),
        ind("o_orderstatus", "F", "st_f"),
        ind("o_orderstatus", "O", "st_o"),
        ind("o_orderstatus", "P", "st_p"),
    )


# --- model-based quality scoring --------------------------------------


# Frozen weights of an (offline-trained) linear quality classifier —
# literals in the plan, the degenerate case of broadcasting a small
# model to every task. Feature order: [tokens/100, stopword_ratio,
# digit_ratio, upper_ratio, avg_word_len/10].
_QM_W = (1.9, 6.0, -8.0, -3.0, -0.9)
_QM_B = -1.1


@query(
    "q_quality_model",
    oracle=f"""
    WITH feats AS (
      SELECT doc_id,
             len(string_split(text, ' ')) AS n_tokens,
             CAST(len(list_filter(string_split(text, ' '),
                  t -> t IN ('the', 'a', 'of', 'and', 'data', 'value')))
                  AS DOUBLE) / len(string_split(text, ' ')) AS stop_ratio,
             CAST(length(regexp_replace(text, '[^0-9]', '', 'g'))
                  AS DOUBLE) / length(text) AS digit_ratio,
             CAST(length(regexp_replace(text, '[^A-Z]', '', 'g'))
                  AS DOUBLE) / length(text) AS upper_ratio,
             CAST(length(text) AS DOUBLE)
               / len(string_split(text, ' ')) AS avg_word_len
      FROM documents WHERE length(text) > 0
    ),
    scored AS (
      SELECT doc_id, n_tokens, stop_ratio, digit_ratio, upper_ratio,
             {_QM_B} + {_QM_W[0]} * (CAST(n_tokens AS DOUBLE) / 100)
                     + {_QM_W[1]} * stop_ratio
                     + {_QM_W[2]} * digit_ratio
                     + {_QM_W[3]} * upper_ratio
                     + {_QM_W[4]} * (avg_word_len / 10) AS z
      FROM feats
    )
    SELECT doc_id,
           CAST(n_tokens AS INT) AS n_tokens,
           round(stop_ratio, 6) AS stop_ratio,
           round(digit_ratio, 6) AS digit_ratio,
           round(0.5 * (1 + z / (1 + abs(z))), 6) AS score,
           CAST(CASE WHEN 0.5 * (1 + z / (1 + abs(z))) >= 0.5
                     THEN 1 ELSE 0 END AS INT) AS keep
    FROM scored
    """,
)
def q_quality_model(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MODEL-BASED QUALITY SCORING — the learned companion to
    q_quality_filter's rule gate: a frozen linear classifier (the
    FineWeb-edu / DCLM pattern: train a small quality model offline,
    score the whole corpus with it at ingest) over five cheap text
    features, squashed through the algebraic sigmoid
    ``0.5·(1 + z/(1+|z|))``. The link is chosen deliberately: it is
    +,×,÷,|·| only — every step is a correctly-rounded IEEE operation,
    so Spark and DuckDB produce BIT-IDENTICAL scores (exp()-based
    logistic differs in the last ulp between libm implementations; an
    H-checked scorer must avoid it). ``keep`` thresholds the unrounded
    score at 0.5, i.e. z ≥ 0.

    Scale shape: pure per-row projection — regex counts, one split,
    fixed-weight dot product — no shuffle, no UDF, whole-stage
    codegen; the model rides the plan as literals (a bigger model
    would be a broadcast map + F.aggregate dot product, same shape).
    """
    d = load(spark, sf_dir, "documents").where(F.length("text") > 0)
    toks = F.split(F.col("text"), " ")
    n_tokens = F.size(toks)
    stop_ratio = (
        F.size(
            F.filter(
                toks,
                lambda t: (t == "the") | (t == "a") | (t == "of")
                | (t == "and") | (t == "data") | (t == "value"),
            )
        ).cast("double")
        / n_tokens
    )
    digit_ratio = (
        F.length(F.regexp_replace("text", "[^0-9]", "")).cast("double")
        / F.length("text")
    )
    upper_ratio = (
        F.length(F.regexp_replace("text", "[^A-Z]", "")).cast("double")
        / F.length("text")
    )
    avg_word_len = F.length("text").cast("double") / n_tokens
    z = (
        F.lit(_QM_B)
        + F.lit(_QM_W[0]) * (n_tokens.cast("double") / 100)
        + F.lit(_QM_W[1]) * stop_ratio
        + F.lit(_QM_W[2]) * digit_ratio
        + F.lit(_QM_W[3]) * upper_ratio
        + F.lit(_QM_W[4]) * (avg_word_len / 10)
    )
    score = 0.5 * (F.lit(1.0) + z / (F.lit(1.0) + F.abs(z)))
    return d.select(
        "doc_id",
        n_tokens.cast("int").alias("n_tokens"),
        F.round(stop_ratio, 6).alias("stop_ratio"),
        F.round(digit_ratio, 6).alias("digit_ratio"),
        F.round(score, 6).alias("score"),
        (score >= 0.5).cast("int").alias("keep"),
    )


# --- segment-level dedup (line-dedup shape) ----------------------------


_SEG_LEN = 10  # words per non-overlapping segment


@query(
    "q_dedup_segments",
    oracle=f"""
    WITH words AS (
      SELECT doc_id, string_split(text, ' ') AS w,
             len(string_split(text, ' ')) AS n
      FROM documents
    ),
    seg AS (
      SELECT doc_id,
             array_to_string(
               w[start:least(start + {_SEG_LEN} - 1, n)], ' ') AS segment
      FROM (
        SELECT doc_id, w, n,
               unnest(generate_series(1, n, {_SEG_LEN})) AS start
        FROM words
      )
    ),
    freq AS (
      SELECT segment, count(DISTINCT doc_id) AS n_docs
      FROM seg GROUP BY segment
    )
    SELECT s.doc_id,
           CAST(count(*) AS INT) AS n_segments,
           CAST(sum(CASE WHEN f.n_docs > 1 THEN 1 ELSE 0 END) AS INT)
             AS n_dup_segments,
           round(CAST(sum(CASE WHEN f.n_docs > 1 THEN 1 ELSE 0 END)
                      AS DOUBLE) / count(*), 6) AS dup_ratio
    FROM seg s JOIN freq f ON s.segment = f.segment
    GROUP BY s.doc_id
    """,
)
def q_dedup_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEGMENT-LEVEL DEDUP SIGNAL — the line/paragraph-dedup operator
    of C4/RefinedWeb ("remove any line occurring verbatim elsewhere in
    the corpus") adapted to the fixture's unpunctuated text: documents
    split into non-overlapping 10-word segments, a segment is
    DUPLICATED if it appears verbatim in more than one document, and
    each doc reports its duplicated-segment share. Downstream, dup
    ratio ≥ τ drops the doc (boilerplate/mirror pages) and individual
    duplicated segments can be stripped — this qid emits the per-doc
    evidence both decisions read.

    Scale shape: explode to segment grain (let-bound token array — one
    split per row), ONE hash-aggregate on the segment string for the
    corpus frequency (map-side combined; the segment string is the
    key, no pairwise comparison anywhere), one equi-join back on that
    key, one per-doc re-aggregate. Same dataflow as exact dedup but at
    sub-document grain — at 100 TB the segment table is the big
    intermediate, and it hash-partitions evenly (uniform text hashes)
    with combiner-reduced counts.
    """
    d = _parallelize_docs(load(spark, sf_dir, "documents"))
    from tile_etl_spark.llm.dedup import let_tokens

    seg_arr = let_tokens(
        lambda w: F.transform(
            F.sequence(F.lit(1), F.size(w), F.lit(_SEG_LEN)),
            lambda start: F.array_join(
                F.slice(w, start, F.lit(_SEG_LEN)), " "
            ),
        )
    )
    seg = d.select("doc_id", F.explode(seg_arr).alias("segment"))
    freq = seg.groupBy("segment").agg(
        F.countDistinct("doc_id").alias("n_docs")
    )
    dup = F.when(F.col("n_docs") > 1, 1).otherwise(0)
    return (
        seg.join(freq, "segment")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("int").alias("n_segments"),
            F.sum(dup).cast("int").alias("n_dup_segments"),
            F.round(
                F.sum(dup).cast("double") / F.count(F.lit(1)), 6
            ).alias("dup_ratio"),
        )
    )


# --- target encoding ---------------------------------------------------


_TE_SMOOTH = 10  # pseudo-observations toward the global mean


@query(
    "q_target_encode",
    oracle=f"""
    WITH cents AS (
      SELECT o_orderkey, o_orderpriority,
             CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS y
      FROM orders
    ),
    cat AS (
      SELECT o_orderpriority, sum(y) AS s, count(*) AS n
      FROM cents GROUP BY o_orderpriority
    ),
    gstats AS (SELECT sum(y) AS gs, count(*) AS gn FROM cents)
    SELECT c.o_orderkey, c.o_orderpriority,
           round(CAST(c.y AS DOUBLE) / 100, 2) AS target,
           round((CAST(cat.s AS DOUBLE) - c.y) / (cat.n - 1) / 100, 6)
             AS te_loo,
           round((CAST(cat.s AS DOUBLE)
                  + {_TE_SMOOTH} * (CAST(g.gs AS DOUBLE) / g.gn))
                 / (cat.n + {_TE_SMOOTH}) / 100, 6) AS te_smooth
    FROM cents c
    JOIN cat ON c.o_orderpriority = cat.o_orderpriority
    CROSS JOIN gstats g
    WHERE c.o_orderkey % 100 = 0
    """,
)
def q_target_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TARGET ENCODING — the ML-preprocessing step that replaces a
    categorical feature with statistics of the label, in its two
    leakage-safe forms: LEAVE-ONE-OUT ((Σ_cat − y)/(n−1): each row's
    own label is excluded from its encoding, the standard guard
    against target leakage) and SMOOTHED ((Σ_cat + m·μ_global)/(n+m),
    m={_TE_SMOOTH}: rare categories shrink toward the global mean).
    Money arithmetic runs in exact integer CENTS (cf. §5.3: no
    float-summation-order risk in the Σs), with the division done in
    double by both engines in the same expression order.

    Scale shape: one hash-aggregate to |categories| rows + one 1-row
    global aggregate, both BROADCAST back onto the fact scan — the
    fact table never shuffles, exactly how a feature pipeline encodes
    a 100 TB training table (the o_orderkey % 100 filter just bounds
    the emitted audit rows)."""
    o = load(spark, sf_dir, "orders")
    cents = o.select(
        "o_orderkey",
        "o_orderpriority",
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
        .cast("bigint")
        .alias("y"),
    )
    cat = cents.groupBy("o_orderpriority").agg(
        F.sum("y").alias("s"), F.count(F.lit(1)).alias("n")
    )
    glob = cents.agg(
        F.sum("y").alias("gs"), F.count(F.lit(1)).alias("gn")
    )
    return (
        cents.join(F.broadcast(cat), "o_orderpriority")
        .crossJoin(F.broadcast(glob))
        .where(F.col("o_orderkey") % 100 == 0)
        .select(
            "o_orderkey",
            "o_orderpriority",
            F.round(F.col("y").cast("double") / 100, 2).alias("target"),
            F.round(
                (F.col("s").cast("double") - F.col("y"))
                / (F.col("n") - 1)
                / 100,
                6,
            ).alias("te_loo"),
            F.round(
                (
                    F.col("s").cast("double")
                    + _TE_SMOOTH
                    * (F.col("gs").cast("double") / F.col("gn"))
                )
                / (F.col("n") + _TE_SMOOTH)
                / 100,
                6,
            ).alias("te_smooth"),
        )
    )


# --- deterministic epoch shuffle ----------------------------------------

_SHUF_EPOCHS = 2
_SHUF_SHARDS = 8
# Knuth's multiplicative-hash constant and a small odd epoch offset;
# the modulus is the Mersenne prime 2^31-1. All intermediates fit in
# int64 for doc_id < ~3.5e9, and every engine computes identical exact
# integer arithmetic — the whole point of choosing an explicit LCG over
# an engine-native hash (Spark xxhash64 and DuckDB hash() disagree).
_SHUF_MULT = 2654435761
_SHUF_EPOCH_OFF = 40503
_SHUF_MOD = 2147483647


@query(
    "q_epoch_shuffle",
    oracle=f"""
    WITH epochs AS (SELECT unnest(generate_series(0, {_SHUF_EPOCHS - 1})) AS epoch),
    h AS (
      SELECT d.doc_id, e.epoch,
             (d.doc_id * {_SHUF_MULT} + e.epoch * {_SHUF_EPOCH_OFF})
               % {_SHUF_MOD} AS hv
      FROM documents d CROSS JOIN epochs e
    ),
    placed AS (
      SELECT epoch, hv % {_SHUF_SHARDS} AS shard, doc_id,
             row_number() OVER (
               PARTITION BY epoch, hv % {_SHUF_SHARDS}
               ORDER BY hv, doc_id
             ) AS pos
      FROM h
    )
    SELECT CAST(epoch AS BIGINT) AS epoch, CAST(shard AS BIGINT) AS shard,
           doc_id, CAST(pos AS BIGINT) AS pos
    FROM placed
    """,
)
def q_epoch_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DETERMINISTIC EPOCH SHUFFLE — assign every document a
    pseudo-random (shard, position) per training epoch, the way a
    large-scale training job re-orders its corpus each epoch: no global
    sort, no RNG state, reproducible from (doc_id, epoch) alone.

    h = (doc_id·2654435761 + epoch·40503) mod (2^31−1) is an explicit
    multiplicative hash computed in exact int64 arithmetic so Spark and
    the SQL oracle agree bit-for-bit (engine-native hashes differ across
    engines). shard = h mod S spreads docs uniformly; the within-shard
    order is h (doc_id tiebreak), so consecutive doc_ids land far apart
    — the anti-curriculum property an epoch shuffle exists for.

    Scale shape: one row per (doc, epoch) via a tiny epoch-literal
    explode (never a data×data cross join), then ONE hash shuffle on
    (epoch, shard) and a per-shard rank window. At 100 TB the shard
    count is sized to the cluster (thousands, not 8) so each window
    partition is one task's worth — the parameter is the knob, the plan
    shape does not change. Position is what a downstream reader sorts
    ON within its shard file, so no stage here ever orders the full
    corpus globally."""
    d = load(spark, sf_dir, "documents").select("doc_id")
    epochs = F.explode(
        F.sequence(F.lit(0), F.lit(_SHUF_EPOCHS - 1))
    ).alias("epoch")
    h = d.select("doc_id", epochs).select(
        "doc_id",
        "epoch",
        (
            (
                F.col("doc_id") * F.lit(_SHUF_MULT)
                + F.col("epoch") * F.lit(_SHUF_EPOCH_OFF)
            )
            % F.lit(_SHUF_MOD)
        ).alias("hv"),
    )
    from pyspark.sql import Window

    shard = (F.col("hv") % _SHUF_SHARDS).alias("shard")
    placed = h.select(
        "doc_id", "epoch", "hv", shard
    )
    w = Window.partitionBy("epoch", "shard").orderBy("hv", "doc_id")
    return placed.select(
        F.col("epoch").cast("bigint").alias("epoch"),
        F.col("shard").cast("bigint").alias("shard"),
        "doc_id",
        F.row_number().over(w).cast("bigint").alias("pos"),
    )


def _quality_agreement_oracle() -> str:
    from tile_etl_spark.registry import ORACLES

    return f"""
    WITH m AS ({ORACLES["q_quality_model"]}),
    f AS ({ORACLES["q_quality_filter"]}),
    j AS (
      SELECT m.doc_id,
             least(CAST(floor(m.score * 10) AS BIGINT), 9) AS bin,
             f.keep AS rule_keep
      FROM m JOIN f ON m.doc_id = f.doc_id
    )
    SELECT bin, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(rule_keep) AS BIGINT) AS n_rule_keep,
           round(CAST(sum(rule_keep) AS DOUBLE) / count(*), 6)
             AS rule_keep_rate
    FROM j GROUP BY bin
    """


@query("q_quality_agreement", oracle=_quality_agreement_oracle())
def q_quality_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """QUALITY-MODEL CALIBRATION — bin the learned quality score
    (q_quality_model) into deciles and report the rule gate's
    (q_quality_filter) keep-rate per bin: the agreement table a
    curation team reads before swapping a heuristic filter for a
    model. A well-calibrated model shows keep-rate rising
    monotonically with score; flat bins mean the model adds nothing
    over the rules there.

    Shape: both inputs are per-row projections over the same corpus
    scan (the model pass is shuffle-free; the rule pass adds its two
    map-side-combined aggregates), joined on doc_id and rolled up to
    ≤10 rows — the audit costs one extra co-keyed join over what the
    two filters already compute."""
    from tile_etl_spark.registry import QUERIES

    m = QUERIES["q_quality_model"](spark, sf_dir).select("doc_id", "score")
    f = QUERIES["q_quality_filter"](spark, sf_dir).select(
        "doc_id", F.col("keep").alias("rule_keep")
    )
    j = m.join(f, "doc_id").select(
        F.least(
            F.floor(F.col("score") * 10).cast("bigint"), F.lit(9).cast("bigint")
        ).alias("bin"),
        "rule_keep",
    )
    return j.groupBy("bin").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("rule_keep").cast("bigint").alias("n_rule_keep"),
        F.round(
            F.sum("rule_keep").cast("double") / F.count(F.lit(1)), 6
        ).alias("rule_keep_rate"),
    )


def _source_yield_oracle() -> str:
    from tile_etl_spark.registry import ORACLES

    return f"""
    WITH qf AS ({ORACLES["q_quality_filter"]}),
    base AS (
      SELECT d.doc_id, d.source,
             len(string_split(d.text, ' ')) AS n_tokens,
             (d.doc_id = min(d.doc_id)
                OVER (PARTITION BY md5(d.text))) AS survivor,
             qf.keep
      FROM documents d JOIN qf ON d.doc_id = qf.doc_id
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
           CAST(sum(keep) AS BIGINT) AS n_after_quality,
           CAST(count(*) FILTER (survivor) AS BIGINT) AS n_dedup_survivors,
           CAST(count(*) FILTER (survivor AND keep = 1) AS BIGINT)
             AS n_final,
           CAST(COALESCE(sum(n_tokens) FILTER (survivor AND keep = 1), 0)
                AS BIGINT) AS tokens_final,
           round(CAST(COALESCE(sum(n_tokens) FILTER (survivor AND keep = 1),
                               0)
                      AS DOUBLE) / sum(n_tokens), 6) AS token_yield
    FROM base GROUP BY source
    """


@query("q_source_yield", oracle=_source_yield_oracle())
def q_source_yield(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PER-SOURCE YIELD REPORT — what each crawl source actually
    contributes to the training set after the funnel: raw docs/tokens,
    docs passing the rule quality gate, exact-dedup survivors, and the
    final kept token mass with its yield fraction. This is the table
    that decides which feeds are worth their ingest cost — a source
    with 2% token yield is burning pipeline budget.

    Shape: the quality verdict is the existing per-row pass; the
    survivor flag is a min-over-md5 window (hash-partitioned, no global
    sort — same key as q_dedup_exact's aggregate); one final rollup on
    source. All three passes ride the same corpus scan at 100 TB."""
    from pyspark.sql import Window
    from tile_etl_spark.registry import QUERIES

    d = load(spark, sf_dir, "documents")
    qf = QUERIES["q_quality_filter"](spark, sf_dir).select("doc_id", "keep")
    w = Window.partitionBy(F.md5(F.col("text").cast("binary")))
    base = (
        d.join(qf, "doc_id")
        .select(
            "source",
            F.size(F.split("text", " ")).alias("n_tokens"),
            (F.col("doc_id") == F.min("doc_id").over(w)).alias("survivor"),
            "keep",
        )
    )
    fin = F.col("survivor") & (F.col("keep") == 1)
    return base.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("n_tokens"),
        F.sum("keep").cast("bigint").alias("n_after_quality"),
        F.sum(F.col("survivor").cast("int")).cast("bigint").alias(
            "n_dedup_survivors"
        ),
        F.sum(fin.cast("int")).cast("bigint").alias("n_final"),
        F.sum(F.when(fin, F.col("n_tokens")).otherwise(0))
        .cast("bigint")
        .alias("tokens_final"),
        F.round(
            F.sum(F.when(fin, F.col("n_tokens")).otherwise(0)).cast("double")
            / F.sum("n_tokens"),
            6,
        ).alias("token_yield"),
    )


# --- mixture interleaving -----------------------------------------------

# Stand-in for configured per-source mixture weights: sources cycle
# through 1x / 2x / 3x upweighting by their numeric suffix.
_MIX_W = "1.0 + (CAST(substr(source, 4) AS INT) % 3)"


@query(
    "q_mixture_interleave",
    oracle=f"""
    WITH h AS (
      SELECT doc_id, source,
             (doc_id * {_SHUF_MULT}) % {_SHUF_MOD} AS hv,
             {_MIX_W} AS w
      FROM documents
    ),
    ranked AS (
      SELECT doc_id, source, w,
             row_number() OVER (PARTITION BY source ORDER BY hv, doc_id)
               AS rn
      FROM h
    ),
    keyed AS (
      SELECT doc_id, source, rn,
             (CAST(rn AS DOUBLE) - 0.5) / w AS k
      FROM ranked
    )
    SELECT CAST(row_number() OVER (ORDER BY k, doc_id) AS BIGINT) AS pos,
           doc_id, source, CAST(rn AS BIGINT) AS rn,
           round(k, 6) AS mix_key
    FROM keyed
    """,
)
def q_mixture_interleave(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MIXTURE INTERLEAVING — merge the per-source streams into ONE
    training order that honors per-source mixture weights: each source's
    docs are shuffled within the source (the epoch-shuffle LCG), then
    spread along the global axis at stride 1/w via the classic
    fractional-position key (rn − ½)/w — a source with weight 3 lands
    3× as densely as a weight-1 source, which is exactly what
    "upweight this domain 3×" means for a sequential trainer reading
    the corpus in order. Deterministic end to end: the LCG, the weight
    expression, and the key arithmetic are identical exact operations
    in both engines.

    Scale shape: one per-source rank window (hash-partitioned on
    source), then the global position via the two-pass pid-offset
    pattern (same as q_win_ntile, operators/windows.py): range-
    partition on (k, doc_id) so partition i's keys all precede
    partition i+1's, rank locally in parallel, and lift local ranks to
    global ones with a broadcast per-partition-count offset table. The
    only unpartitioned window runs over the N-partition histogram —
    never over doc-bearing rows — so no single reducer ever sorts the
    interleaved corpus. The mix key is near-uniform by construction,
    so range partitions balance; the range-partitioned block is cached
    so the histogram pass and the rank pass see the SAME sampled
    boundaries."""
    from pyspark.sql import Window

    _scope(f"q_mixture_interleave:{sf_dir}")
    d = load(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        ((F.col("doc_id") * _SHUF_MULT) % _SHUF_MOD).alias("hv"),
        (
            1.0
            + (F.substring("source", 4, 10).cast("int") % 3)
        ).alias("w"),
    )
    w_src = Window.partitionBy("source").orderBy("hv", "doc_id")
    keyed = d.select(
        "doc_id",
        "source",
        F.row_number().over(w_src).alias("rn"),
        "w",
    ).select(
        "doc_id",
        "source",
        "rn",
        ((F.col("rn").cast("double") - 0.5) / F.col("w")).alias("k"),
    )
    from tile_etl_spark.operators.windows import global_rank

    ranked = global_rank(
        keyed.withColumnRenamed("rn", "src_rn"),
        [F.col("k").asc(), F.col("doc_id").asc()],
    )
    return ranked.select(
        F.col("rn").cast("bigint").alias("pos"),
        "doc_id",
        "source",
        F.col("src_rn").cast("bigint").alias("rn"),
        F.round("k", 6).alias("mix_key"),
    )


def _pack_efficiency_oracle() -> str:
    from tile_etl_spark.registry import ORACLES

    return f"""
    WITH p AS ({ORACLES["q_pack_sequences"]})
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_bins,
           CAST(sum(bin_tokens) AS BIGINT) AS total_tokens,
           round(CAST(sum(bin_tokens) AS DOUBLE)
                 / (count(*) * {PACK_BUDGET}), 6) AS fill_rate,
           CAST(count(*) FILTER (bin_tokens * 10 >= {PACK_BUDGET} * 9)
                AS BIGINT) AS n_dense_bins,
           CAST(min(bin_tokens) AS BIGINT) AS min_bin_tokens
    FROM p GROUP BY lang
    """


@query("q_pack_efficiency", oracle=_pack_efficiency_oracle())
def q_pack_efficiency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PACKING-EFFICIENCY AUDIT — per language: bin count, packed token
    mass, mean fill rate against the token budget, bins ≥90% full
    (integer comparison — no float threshold ambiguity) and the
    emptiest bin. Fill rate is what greedy first-fit packing is judged
    on: a mean fill under ~0.8 means the budget or the document
    chunking is mis-sized and the trainer pays for padding.

    Shape: a ≤bins-row rollup over the existing packer output — the
    sequential-by-construction packing (applyInPandas per shard) stays
    untouched; the audit itself is one tiny aggregate."""
    from tile_etl_spark.registry import QUERIES

    p = QUERIES["q_pack_sequences"](spark, sf_dir)
    dense = (F.col("bin_tokens") * 10 >= PACK_BUDGET * 9).cast("int")
    return p.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_bins"),
        F.sum("bin_tokens").cast("bigint").alias("total_tokens"),
        F.round(
            F.sum("bin_tokens").cast("double")
            / (F.count(F.lit(1)) * PACK_BUDGET),
            6,
        ).alias("fill_rate"),
        F.sum(dense).cast("bigint").alias("n_dense_bins"),
        F.min("bin_tokens").cast("bigint").alias("min_bin_tokens"),
    )
