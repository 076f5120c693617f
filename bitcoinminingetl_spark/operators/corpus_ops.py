"""Corpus-construction operators: the selection/grouping passes a
training-data pipeline runs AFTER profiling and dedup — deterministic
stratified sampling, class rebalancing, and near-dup clustering
(BASELINE.json north star: "the operations a large-scale training-data
pipeline would need").

Determinism doctrine (same as q_hash_split, sortset.py): anything that
"randomly" selects rows uses md5 bucketing, not rand(). md5 is identical
across engines and runs, so the sample is reproducible, auditable, and
DuckDB-oracle-checkable — rand(seed) is none of those (seeded streams
differ per engine AND per partitioning).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from bitcoinminingetl_spark.catalog import table
from bitcoinminingetl_spark.functions.cache import lru_persisted
from bitcoinminingetl_spark.functions.numeric import roundn, roundn_sql
from bitcoinminingetl_spark.functions.state import ckpt
from bitcoinminingetl_spark.functions.vectors import (
    DOT_SQL,
    dot,
    norm_sql,
    usable_norm_sql,
)
from bitcoinminingetl_spark.operators.dedup import (
    holdout_hits,
    holdout_hits_sql,
    minhash_pairs_sql,
    near_dup_pairs,
    NGRAM_PAIRS_ORACLE,
    pair_overlaps,
    shingle_index,
    shingle_sql,
)
from bitcoinminingetl_spark.registry import query

# Per-class sampling rates in 16ths, keyed by the first hex digit of
# md5(doc_id) — en is heavily over-represented in the corpus, so keep
# 4/16 of it, 8/16 of zh, all of everything else.
_RATE_16THS = {"en": 4, "zh": 8}
_HEX = "0123456789abcdef"


def _keep_hexes(rate16: int) -> list[str]:
    return list(_HEX[:rate16])


@query(
    "q_stratified_sample",
    oracle=f"""
    SELECT doc_id, lang FROM documents
    WHERE CASE lang
        WHEN 'en' THEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)
                       IN ({', '.join(repr(h) for h in _keep_hexes(_RATE_16THS['en']))})
        WHEN 'zh' THEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)
                       IN ({', '.join(repr(h) for h in _keep_hexes(_RATE_16THS['zh']))})
        ELSE TRUE
    END
    """,
)
def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified downsampling: per-language keep rates
    applied by md5(doc_id) hex bucket (en 4/16, zh 8/16, rest 1.0) — the
    `sampleBy` of a corpus pipeline, minus the irreproducibility. Pure
    projection + filter: no shuffle, no state; pushes down to the scan;
    a row's fate never depends on partitioning or history."""
    first = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1)
    keep = F.lit(True)
    for lang, rate in _RATE_16THS.items():
        keep = F.when(F.col("lang") == lang, first.isin(*_keep_hexes(rate))).otherwise(
            keep
        )
    return table(spark, sf_dir, "documents").filter(keep).select("doc_id", "lang")


@query(
    "q_class_balance",
    oracle="""
    WITH ranked AS (
        SELECT doc_id, lang,
               row_number() OVER (
                   PARTITION BY lang
                   ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
        FROM documents
    ),
    m AS (SELECT min(cnt) AS m FROM (
        SELECT count(*) AS cnt FROM documents GROUP BY lang))
    SELECT doc_id, lang FROM ranked, m WHERE rn <= m.m
    """,
)
def q_class_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Class rebalancing: downsample every language to the size of the
    smallest one, choosing survivors by md5 order (a deterministic
    shuffle) so the kept subset is unbiased w.r.t. doc_id order but
    stable across runs/engines. Two window passes over one shuffle by
    lang; the minority count joins back as a 1-row broadcast."""
    docs = table(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy(F.md5(F.col("doc_id").cast("string")), "doc_id")
    ranked = docs.select("doc_id", "lang", F.row_number().over(w).alias("rn"))
    min_count = (
        docs.groupBy("lang")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .agg(F.min("cnt").alias("m"))
    )
    return (
        ranked.join(F.broadcast(min_count))
        .filter(F.col("rn") <= F.col("m"))
        .select("doc_id", "lang")
    )


_CC_MAX_ITERS = 20


# Materialization policy (reliable checkpoint vs localCheckpoint) is
# shared engine-wide: see functions/state.ckpt.
_ckpt = ckpt


# The CC fixpoint as reusable CTEs: q_dedup_clusters/_minlabel take the
# label map verbatim; q_dedup_representatives builds its keep decision
# on top of the same closure.
_CC_CTES = f"""pairs AS (
        SELECT doc_a, doc_b FROM ({NGRAM_PAIRS_ORACLE})
    ),
    edges AS (
        SELECT doc_a AS u, doc_b AS v FROM pairs
        UNION ALL SELECT doc_b, doc_a FROM pairs
    ),
    reach(u, v) AS (
        SELECT u, v FROM edges
        UNION
        SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
    ),
    cc AS (
        SELECT u AS doc_id, least(u, min(v)) AS cluster_id
        FROM reach GROUP BY u
    )"""

_CC_ORACLE = f"""
    WITH RECURSIVE {_CC_CTES}
    SELECT doc_id, cluster_id FROM cc
    """


def _cc_labels(
    spark: SparkSession, sf_dir: str, pointer_jump: bool
) -> DataFrame:
    """Shared connected-components fixpoint over the exact-Jaccard pair
    graph. Both variants start labels at min(doc_id, min neighbor) and
    iterate (neighbor min-label propagation) to the same fixpoint;
    `pointer_jump` adds per-round path compression (every vertex
    re-labels to its label's label — one self-join of the label map), so
    convergence drops from O(component diameter) rounds to O(log
    diameter). Each round is a bounded number of distributed join+aggs
    over checkpointed state (reliable checkpoint under a checkpoint dir,
    localCheckpoint otherwise — see functions/state.ckpt); the driver
    only pulls the 1-row convergence count. Edges come from the shared
    persisted pair_overlaps relation, computed once per corpus."""
    pairs = near_dup_pairs(pair_overlaps(spark, sf_dir))
    edges = (
        pairs.select(F.col("doc_a").alias("u"), F.col("doc_b").alias("v"))
        .union(pairs.select(F.col("doc_b").alias("u"), F.col("doc_a").alias("v")))
    )
    edges = _ckpt(edges)
    labels = edges.groupBy("u").agg(F.min("v").alias("nbr_min")).select(
        F.col("u").alias("doc_id"),
        F.least(F.col("u"), F.col("nbr_min")).alias("cluster_id"),
    )
    labels = _ckpt(labels)
    for _ in range(_CC_MAX_ITERS):
        # propagate: my new label = min(mine, min over neighbors' labels)
        nbr = (
            edges.join(labels, edges["v"] == labels["doc_id"])
            .groupBy("u")
            .agg(F.min("cluster_id").alias("nbr_label"))
        )
        # r14 (r13 VERDICT item 7 — guide §2.4): the previous label now
        # rides THROUGH every per-round projection as `old_label` (it is
        # already on the propagate join's input row — no extra join),
        # so the convergence count becomes a filter over the round's
        # checkpointed state instead of a shuffle join of the new label
        # map back to the old one: one join per round dropped, and it
        # compounds with rounds at scale. The relation the next
        # iteration consumes is the same (doc_id, cluster_id)
        # projection of the checkpointed blocks.
        propagated = (
            labels.join(nbr, labels["doc_id"] == nbr["u"], "left")
            .select(
                "doc_id",
                F.least(
                    F.col("cluster_id"),
                    F.coalesce(F.col("nbr_label"), F.col("cluster_id")),
                ).alias("cluster_id"),
                F.col("cluster_id").alias("old_label"),
            )
        )
        if pointer_jump:
            # pointer jumping: my new label = my label's label
            parent = propagated.select(
                F.col("doc_id").alias("p_id"),
                F.col("cluster_id").alias("p_label"),
            )
            propagated = (
                propagated.join(
                    parent, propagated["cluster_id"] == parent["p_id"], "left"
                )
                .select(
                    "doc_id",
                    F.least(
                        F.col("cluster_id"),
                        F.coalesce(F.col("p_label"), F.col("cluster_id")),
                    ).alias("cluster_id"),
                    "old_label",
                )
            )
        new_labels = _ckpt(propagated)
        changed = new_labels.filter(
            F.col("cluster_id") != F.col("old_label")
        ).count()
        labels = new_labels.select("doc_id", "cluster_id")
        if changed == 0:
            break
    return labels


@query("q_dedup_clusters", oracle=_CC_ORACLE)
def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTERS: connected components over the exact-Jaccard
    pair graph (doc pairs >= 0.3), labeling every clustered doc with the
    minimum doc_id reachable from it — the step that turns pairwise
    near-dup hits into a keep-one-per-cluster decision (pair-based
    pruning drops doc_b of each pair, which over-deletes on chains
    A~B~C where A!~C; components don't).

    PRIMARY PLAN = POINTER JUMPING (swapped in round 5 per the r4
    verdict): each round does neighbor min-label propagation AND path
    compression, so convergence is O(log diameter) rounds instead of
    O(diameter) — on a 1000-hop chain that is ~10 joins instead of
    1000, the difference between a job and a hang at 100 TB. More than
    speed, it is a CORRECTNESS bound: the round cap is fixed
    (_CC_MAX_ITERS=20), so propagation-only silently under-merges any
    component deeper than 20 hops, while pointer jumping is exact up to
    diameter 2^20. The propagation-only plan survives as
    q_dedup_clusters_minlabel, the parity reference (same fixpoint, same
    oracle — the q_surrogate_key/_serial twin pattern).

    Bench attribution note (measured r5, sf0.1/local[16]): warm with the
    family's shared pair relation built, pointer jumping runs 1.05 s vs
    0.90 s for propagation — fixture components are shallow (<=3
    rounds), so the extra per-round self-join roughly cancels the saved
    rounds; r4's 3.98-vs-0.93 split was mostly WHO paid the one-time
    pair_overlaps build (the alphabetically-first family member in a
    bench run), which this query, as the new family head, now carries in
    BENCH_FULL. DuckDB oracle: recursive-CTE transitive closure."""
    return _cc_labels(spark, sf_dir, pointer_jump=True)


_DECON_N = 13  # the n-gram width The Pile/GPT-3-style decontamination uses


@query(
    "q_decontaminate",
    oracle=holdout_hits_sql("doc_id % 10 = 0", "doc_id % 10 <> 0", _DECON_N),
)
def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/eval decontamination: flag corpus documents sharing any
    13-gram with the held-out evaluation set (stand-in: doc_id % 10 == 0)
    — the GPT-3/Pile-style overlap check a training pipeline runs before
    every release, reported as (doc_id, n_hits = distinct eval 13-grams
    present).

    One shingle pass feeds both sides (the eval filter is a predicate,
    not a second scan); overlap is an equi-join on 8-byte xxhash64 keys
    followed by a per-doc count. At 100 TB the eval side is tiny
    (benchmarks, not the corpus) — broadcast it and the corpus never
    shuffles; here eval is 10% of docs so the planner's hash join on the
    hashed-shingle key is the right call either way. 13-gram collisions
    under xxhash64 are ~n²/2⁶⁴ — immaterial, and a collision only
    over-flags one document (the safe direction for decontamination)."""
    return holdout_hits(
        shingle_index(spark, sf_dir, n=_DECON_N),
        F.col("doc_id") % 10 == 0,
        F.col("doc_id") % 10 != 0,
    )


@query("q_dedup_clusters_minlabel", oracle=_CC_ORACLE)
def q_dedup_clusters_minlabel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parity-reference twin of q_dedup_clusters: the textbook min-label
    propagation WITHOUT path compression — one hop per round, so
    O(component diameter) rounds (the large-star/small-star complaint).
    Kept because its per-round plan is the simplest possible statement
    of the fixpoint, making it the ground-truth check on the
    pointer-jumping primary (same edges, same fixpoint, same
    recursive-CTE oracle); never the plan to ship at 100 TB. Named
    q_dedup_clusters_fast through round 4 — the roles swapped in round 5
    when pointer jumping (4x cheaper at sf0.1) became the primary."""
    return _cc_labels(spark, sf_dir, pointer_jump=False)


@query(
    "q_dedup_representatives",
    oracle=f"""
    WITH RECURSIVE {_CC_CTES},
    q AS (
        SELECT cc.doc_id, cc.cluster_id,
               CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_tokens
        FROM cc JOIN documents d USING (doc_id)
    )
    SELECT doc_id, cluster_id, n_tokens,
           (row_number() OVER (
                PARTITION BY cluster_id
                ORDER BY n_tokens DESC NULLS LAST, doc_id
            ) = 1) AS keep
    FROM q
    """,
)
def q_dedup_representatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster REPRESENTATIVE selection — the keep policy a production
    dedup actually ships. q_dedup_keep_first's min-doc_id rule is the
    SQL-textbook answer, but on a near-dup CLUSTER the copies differ
    (truncated mirrors, boilerplate-wrapped rescrapes), and dropping by
    arrival order keeps whichever copy happened to be crawled first.
    This query keeps the RICHEST copy per cluster — highest token count,
    doc_id as the deterministic tiebreak — and emits the full per-doc
    decision table (doc_id, cluster_id, n_tokens, keep), the relation a
    curation pipeline joins back to drop non-representatives while
    keeping the evidence trail (generalizes reference dedup identity,
    data_model.py:32-33, to a quality-ranked cluster policy).

    Plan: the cluster labels are q_dedup_clusters' pointer-jumping CC
    over the persisted pair relation (shared, built once per corpus);
    token counts attach by one doc_id equi-join (the corpus side is
    |clustered docs| rows, not the corpus); the keep flag is a
    row_number window partitioned BY CLUSTER — state O(cluster size),
    never a global sort. At 100 TB the whole relation after the CC step
    is |clustered docs| rows — orders of magnitude below the corpus —
    so the join and window ride on the small side by construction."""
    cl = _cc_labels(spark, sf_dir, pointer_jump=True)
    docs = table(spark, sf_dir, "documents").select(
        "doc_id",
        F.size(F.split("text", " ")).cast("long").alias("n_tokens"),
    )
    # NULLS LAST pinned on both engines: Spark's DESC default is
    # NULLS LAST but DuckDB's is NULLS FIRST — latent divergence if a
    # clustered doc ever carries NULL text (r8 ADVICE null-pinning
    # doctrine, same class as q_window_ntile/q_length_buckets).
    w = Window.partitionBy("cluster_id").orderBy(
        F.col("n_tokens").desc_nulls_last(), "doc_id"
    )
    return (
        cl.join(docs, "doc_id")
        .select(
            "doc_id",
            "cluster_id",
            "n_tokens",
            (F.row_number().over(w) == 1).alias("keep"),
        )
    )


_PR_ITERS = 5
_PR_DAMP = 0.85  # both constants are exact decimal-literal doubles:
_PR_TELEPORT = 0.15  # NEVER write 1 - 0.85 (== 0.15000000000000002)


def _pr_step_sql(prev: str) -> str:
    """One unrolled PageRank iteration (DuckDB side). The exact-sum
    doctrine at rank precision: each contribution rank/deg quantizes to
    DECIMAL(28,12) before the per-node sum (same order-independence
    argument as ewma_smooth's term chain, windows.py), and every double
    arithmetic step is mirrored operator-for-operator on the Spark side
    — literals CAST to DOUBLE because a bare 0.15 is DECIMAL(3,2) to
    DuckDB and decimal division diverges from Spark's double division."""
    new_rank = roundn_sql(
        f"CAST({_PR_TELEPORT} AS DOUBLE) / n.n"
        f" + CAST({_PR_DAMP} AS DOUBLE) * CAST(s AS DOUBLE)",
        12,
    )
    return f"""
        SELECT doc_id, {new_rank} AS rank
        FROM (SELECT e.dst AS doc_id,
                     sum(TRY_CAST(r.rank / e.deg AS DECIMAL(28,12))) AS s
              FROM e JOIN {prev} r ON r.doc_id = e.src
              GROUP BY e.dst), n
    """


def pagerank_sql(pairs: str) -> str:
    """DuckDB twin of _pagerank_ranks(pagerank_graph(...)) over the
    near-dup pair SQL ``pairs`` (doc_a, doc_b, ...). The pairs are
    materialized: `edges` reads them twice, and DuckDB would otherwise
    re-run the pair query at each reference."""
    return f"""
    WITH pairs AS MATERIALIZED (
        SELECT doc_a, doc_b FROM ({pairs})
    ),
    edges AS (
        SELECT doc_a AS src, doc_b AS dst FROM pairs
        UNION ALL SELECT doc_b, doc_a FROM pairs
    ),
    deg AS (
        SELECT src, CAST(count(*) AS BIGINT) AS deg FROM edges GROUP BY src
    ),
    n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM deg),
    e AS (SELECT ed.src, ed.dst, d.deg FROM edges ed JOIN deg d USING (src)),
    pr0 AS (
        SELECT src AS doc_id, {roundn_sql('CAST(1.0 AS DOUBLE) / n.n', 12)}
            AS rank
        FROM deg, n
    ),
    {",".join(f"pr{i + 1} AS ({_pr_step_sql(f'pr{i}')})" for i in range(_PR_ITERS))}
    SELECT doc_id, rank FROM pr{_PR_ITERS}
    """


_PR_GRAPH_CACHE: dict[str, DataFrame] = {}
_PR_PAIRS_CACHE: dict[str, DataFrame] = {}
_PR_NODES_CACHE: dict[str, int] = {}


def _pr_edge_pairs(
    spark: SparkSession, sf_dir: str, variant: str
) -> DataFrame:
    """Near-dup pairs (doc_a, doc_b) for the requested edge generator —
    each variant IS the corresponding registered dedup query's pair
    relation, not a reimplementation, so the PageRank graph provably
    shares edges with the dedup family: ``exact`` is
    q_dedup_ngram_jaccard's relation (the quadratic-guarded ground
    truth), ``lsh`` is q_dedup_minhash_lsh's (MinHash bands →
    bucket-join candidates → exact verification). Both filter at the one
    _JACCARD_THRESHOLD on the raw ratio, so LSH edges are a SUBSET of
    exact edges (one-sided recall trade, auditable)."""
    from bitcoinminingetl_spark.operators.dedup import (
        q_dedup_minhash_lsh,
        q_dedup_ngram_jaccard,
    )

    fn = q_dedup_minhash_lsh if variant == "lsh" else q_dedup_ngram_jaccard
    return fn(spark, sf_dir).select("doc_a", "doc_b")


def pagerank_graph(
    spark: SparkSession, sf_dir: str, variant: str = "exact"
) -> tuple[DataFrame, int]:
    """Persist-once near-dup graph for a corpus: the symmetric edge
    relation (src, dst, deg) with out-degree attached, plus the node
    count — third member of the dedup-family artifact stack
    (shingle_index → pair_overlaps → this). Without it each of the 5
    PageRank iterations would re-derive edges+degree from the pair
    relation AND re-run the 1-row node-count subquery per broadcast
    (6 extra jobs — measured 11.6 s vs ~2 s warm at sf0.1); the LSH
    variant would even re-run MinHash banding per iteration. The node
    count crosses to the driver once as a plain int (a 1-row pull, the
    same sanctioned scalar-stat class as sources/layout.py's row count);
    its side cache is pruned to the LRU's surviving keys so eviction
    keeps both in lockstep."""
    key = f"{spark.sparkContext.applicationId}:{sf_dir}:{variant}"

    def build() -> DataFrame:
        # the pairs relation is referenced FOUR times in the plan below
        # (both union branches, then the whole edges subtree again under
        # the deg aggregate) — without its own persist the LSH variant
        # would run the full MinHash banding + verify pipeline 4x during
        # the one-time graph materialization
        pairs = lru_persisted(
            _PR_PAIRS_CACHE,
            key,
            lambda: _pr_edge_pairs(spark, sf_dir, variant),
        )
        edges = pairs.select(
            F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
        ).unionAll(
            pairs.select(
                F.col("doc_b").alias("src"), F.col("doc_a").alias("dst")
            )
        )
        deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
        return edges.join(deg, "src")

    ewd = lru_persisted(_PR_GRAPH_CACHE, key, build)
    if key not in _PR_NODES_CACHE:
        _PR_NODES_CACHE[key] = ewd.select("src").distinct().count()
        for k in list(_PR_NODES_CACHE):
            if k not in _PR_GRAPH_CACHE:
                del _PR_NODES_CACHE[k]
    return ewd, _PR_NODES_CACHE[key]


@query("q_dedup_pagerank", oracle=pagerank_sql(NGRAM_PAIRS_ORACLE))
def q_dedup_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Template-HUB centrality: PageRank over the exact-Jaccard near-dup
    graph (the same edges as q_dedup_clusters). Where components answer
    "which docs merge", rank answers "which doc is the TEMPLATE" — in a
    web corpus, boilerplate hubs (a TOS page near-duplicated by thousands
    of thin variants) collect rank from their whole neighborhood, so
    rank-ordering a cluster surfaces the canonical representative to keep
    (or the template to strip) without any per-cluster heuristic. Only
    docs with at least one near-dup edge are ranked — an isolated doc has
    no duplication signal and is omitted by construction (undirected
    edges also mean out-degree >= 1, so there are no dangling nodes and
    no rank leak). Fixed {_PR_ITERS} damped iterations (d={_PR_DAMP}),
    init 1/N.

    Unlike q_dedup_clusters' data-dependent while-loop (pointer jumping
    to a fixpoint, checkpointed), the iteration count here is STATIC — 5
    unrolled DataFrame joins, lineage bounded at build time, no
    checkpoint needed, and the oracle is plain unrolled CTEs instead of a
    recursive one. Each iteration is one shuffle pair (join ranks on src,
    aggregate messages on dst) over the persisted pair_overlaps relation
    (persist-once via pagerank_graph, the family artifact stack). Hot
    hubs skew the dst aggregate exactly like hot grams skew the shingle
    join; the message payload is one decimal, and AQE skew-split owns
    the rest. N crosses to the driver once as a plain int (see
    pagerank_graph) and enters the plan as a folded literal.

    Determinism: rank is a 12-dp double at every step; contributions
    quantize to DECIMAL(28,12) and sum exactly (order-independent, the
    dsum doctrine at rank precision), teleport/damping literals are exact
    decimal-literal doubles CAST identically in both engines."""
    return _pagerank_ranks(spark, *pagerank_graph(spark, sf_dir))


def _pagerank_ranks(
    spark: SparkSession, ewd: DataFrame, n_nodes: int
) -> DataFrame:
    """The shared fixed-iteration damped rank loop over a (src, dst,
    deg) edge relation — see q_dedup_pagerank's docstring for the plan
    and determinism story."""
    if n_nodes == 0:
        return spark.createDataFrame([], "doc_id long, rank double")
    # teleport term computed driver-side in IEEE double — bit-identical
    # to the oracle's CAST(0.15 AS DOUBLE) / n.n
    teleport = _PR_TELEPORT / n_nodes
    # iteration 1 folds pr0 away: every node starts at the same constant
    # roundn(1/N, 12), so the first message pass reads no ranks relation
    rank0 = roundn(F.lit(1.0 / n_nodes), 12)
    ranks = (
        ewd.select(
            "dst", (rank0 / F.col("deg")).try_cast("decimal(28,12)").alias("c")
        )
        .groupBy("dst")
        .agg(F.sum("c").alias("s"))
        .select(
            F.col("dst").alias("doc_id"),
            roundn(
                F.lit(teleport) + F.lit(_PR_DAMP) * F.col("s").cast("double"),
                12,
            ).alias("rank"),
        )
    )
    for _ in range(_PR_ITERS - 1):
        ranks = (
            ewd.join(ranks, F.col("src") == F.col("doc_id"))
            .select(
                "dst",
                (F.col("rank") / F.col("deg"))
                .try_cast("decimal(28,12)")
                .alias("c"),
            )
            .groupBy("dst")
            .agg(F.sum("c").alias("s"))
            .select(
                F.col("dst").alias("doc_id"),
                roundn(
                    F.lit(teleport)
                    + F.lit(_PR_DAMP) * F.col("s").cast("double"),
                    12,
                ).alias("rank"),
            )
        )
    return ranks


@query(
    "q_dedup_pagerank_lsh", oracle=pagerank_sql(minhash_pairs_sql(shingle_sql()))
)
def q_dedup_pagerank_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q_dedup_pagerank with its edge generator swapped for the 100 TB
    candidate path — MinHash bands → bucket-join candidates →
    exact-Jaccard verification on candidates only (the q_corpus_dedup_lsh
    composition), so edge generation shuffles O(docs × bands) instead of
    exploding the shared-shingle pair space. Verification filters at the
    same 0.3 threshold, so the LSH edge set is a SUBSET of the exact
    graph's: hubs can only lose neighbors, never gain false ones, and
    rank mass still sums to 1 over whatever graph LSH recovers (the
    no-dangling argument is per-graph, not per-corpus). Same persist-once
    graph relation (variant='lsh') and the same static 5-iteration loop;
    the oracle runs the PageRank twin over the MinHash oracle's pairs,
    and the property test pins node-subset-of-exact and mass
    conservation."""
    return _pagerank_ranks(spark, *pagerank_graph(spark, sf_dir, variant="lsh"))


_TRIANGLES_ORACLE = f"""
    WITH pairs AS (
        SELECT doc_a, doc_b FROM ({NGRAM_PAIRS_ORACLE})
    ),
    tri AS (
        SELECT p1.doc_a AS a, p1.doc_b AS b, p2.doc_b AS c
        FROM pairs p1
        JOIN pairs p2 ON p1.doc_b = p2.doc_a
        WHERE EXISTS (
            SELECT 1 FROM pairs p3
            WHERE p3.doc_a = p1.doc_a AND p3.doc_b = p2.doc_b
        )
    ),
    deg AS (
        SELECT doc_id, CAST(count(*) AS BIGINT) AS degree FROM (
            SELECT doc_a AS doc_id FROM pairs
            UNION ALL SELECT doc_b FROM pairs
        ) GROUP BY doc_id
    ),
    tcnt AS (
        SELECT doc_id, CAST(count(*) AS BIGINT) AS n_triangles FROM (
            SELECT a AS doc_id FROM tri
            UNION ALL SELECT b FROM tri
            UNION ALL SELECT c FROM tri
        ) GROUP BY doc_id
    )
    SELECT d.doc_id,
           d.degree,
           COALESCE(t.n_triangles, CAST(0 AS BIGINT)) AS n_triangles,
           {roundn_sql(
               "CASE WHEN d.degree >= 2 THEN"
               " 2.0 * COALESCE(t.n_triangles, 0)"
               " / (d.degree * (d.degree - 1)) END", 6)} AS clustering
    FROM deg d LEFT JOIN tcnt t USING (doc_id)
    """


@query("q_dedup_triangles", oracle=_TRIANGLES_ORACLE)
def q_dedup_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc triangle count and local clustering coefficient over the
    exact near-dup graph (same edges as q_dedup_clusters /
    q_dedup_pagerank). Where components say "which docs merge" and rank
    says "which doc is the template", the clustering coefficient says
    how CLIQUE-LIKE a doc's neighborhood is: coefficient ~1 marks a
    mutually-near-duplicate template family (safe to keep one and drop
    the rest), while a high-degree hub with coefficient ~0 is a
    star-shaped aggregator whose neighbors are NOT near-dups of each
    other — dropping all-but-one there would delete distinct content.
    It is the standard cluster-quality audit run before acting on CC
    labels (a component with low average clustering merged through a
    chain of borderline pairs, not a genuine dup family).

    Enumeration uses the oriented-wedge identity: pairs are stored
    doc_a < doc_b, so every triangle a<b<c is counted exactly once as
    wedge (a,b)x(b,c) confirmed by semi-join on (a,c) — two equi-joins
    on the PAIR relation (persist-once, shared with the PageRank family
    via _PR_PAIRS_CACHE), never on the corpus. Cost is bounded by
    sum-over-b of in-deg(b)*out-deg(b), a property of the near-dup graph
    (tiny relative to the corpus at any scale); a hot template hub skews
    the wedge join's b key exactly like hot grams skew the shingle join,
    and AQE skew-split owns it. Each triangle then fans out 3 rows for
    the per-node count — linear in triangles. Degree reuses the
    symmetric-union aggregate; coefficient math is plain codegen with a
    CASE guard so degree-1 nodes emit NULL, not an ANSI divide-by-zero.

    Reference scope note: the reference (lyfer233/BitcoinMiningETL) has
    no graph surface; this extends the near-dup family the brief's
    training-data pipeline requires."""
    key = f"{spark.sparkContext.applicationId}:{sf_dir}:exact"
    pairs = lru_persisted(
        _PR_PAIRS_CACHE, key, lambda: _pr_edge_pairs(spark, sf_dir, "exact")
    )
    p1 = pairs.select(F.col("doc_a").alias("a"), F.col("doc_b").alias("b"))
    p2 = pairs.select(F.col("doc_a").alias("b"), F.col("doc_b").alias("c"))
    closing = pairs.select(F.col("doc_a").alias("a"), F.col("doc_b").alias("c"))
    tri = p1.join(p2, "b").join(closing, ["a", "c"], "left_semi")
    tcnt = (
        tri.select(F.explode(F.array("a", "b", "c")).alias("doc_id"))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    deg = (
        pairs.select(F.col("doc_a").alias("doc_id"))
        .unionAll(pairs.select(F.col("doc_b").alias("doc_id")))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("degree"))
    )
    d = F.col("degree")
    t = F.coalesce(F.col("n_triangles"), F.lit(0).cast("long"))
    return deg.join(tcnt, "doc_id", "left").select(
        "doc_id",
        "degree",
        t.alias("n_triangles"),
        roundn(F.when(d >= 2, 2.0 * t / (d * (d - 1))), 6).alias("clustering"),
    )


_PACK_CAP = 512  # tokens per packed training sequence
_PACK_BUCKETS = 8

DOC_PACK_ORACLE = f"""
    WITH t AS (
        SELECT doc_id,
               CAST(len(regexp_extract_all(text, '[a-z0-9]+')) AS BIGINT)
                   AS n_tokens
        FROM documents
    ),
    c AS (
        SELECT doc_id, n_tokens,
               CAST(COALESCE(SUM(n_tokens) OVER (
                   ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ), 0) AS BIGINT) AS cum_before
        FROM t
    )
    SELECT doc_id, n_tokens,
           cum_before // {_PACK_CAP} AS seq_id,
           cum_before % {_PACK_CAP} AS seq_pos,
           (cum_before % {_PACK_CAP}) + n_tokens > {_PACK_CAP} AS straddles
    FROM c
"""


@query("q_doc_pack", oracle=DOC_PACK_ORACLE)
def q_doc_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing — the layout pass an LLM training pipeline runs
    last: concatenate documents in a deterministic order (doc_id) and
    chunk the token stream into fixed-capacity training sequences
    (concat-and-split, the GPT-style packing that wastes zero pad
    tokens). Output per doc: its sequence id, its token offset within
    that sequence, and whether it straddles a sequence boundary — enough
    for a writer to materialize the packed examples.

    The core is an exclusive prefix sum of token counts in global
    doc_id order. A naive Window.orderBy cumsum is a single-task sort
    (the q_surrogate_key trap), so this uses the same two-phase plan as
    q_surrogate_key_dist: percentile_approx sketch buckets of doc_id
    (deterministic, branch-stable — repartitionByRange re-samples per
    branch) -> within-bucket cumsum under Window.partitionBy(bucket)
    (parallel) -> per-bucket token totals (a |buckets|-row aggregate)
    cumsum'd into starting offsets and broadcast back. Only full-data
    exchange is hash(bucket). The oracle is the plain global-window
    cumsum, so the distributed plan is checked value-exact against the
    serial semantics."""
    docs = table(spark, sf_dir, "documents").select(
        "doc_id",
        F.size(F.expr(r"regexp_extract_all(text, '[a-z0-9]+', 0)"))
        .cast("long")
        .alias("n_tokens"),
    )
    qs = [i / _PACK_BUCKETS for i in range(1, _PACK_BUCKETS)]
    bounds = docs.agg(
        F.percentile_approx("doc_id", qs, 10000).alias("bs")
    ).select(*[F.element_at("bs", i + 1).alias(f"b{i}") for i in range(len(qs))])
    bucket = F.lit(0)
    for i in range(len(qs)):
        bucket = bucket + (F.col("doc_id") > F.col(f"b{i}")).cast("int")
    bucketed = docs.join(F.broadcast(bounds)).select(
        "doc_id", "n_tokens", bucket.alias("bkt")
    )
    cum_in = F.coalesce(
        F.sum("n_tokens").over(
            Window.partitionBy("bkt")
            .orderBy("doc_id")
            .rowsBetween(Window.unboundedPreceding, -1)
        ),
        F.lit(0),
    )
    totals = bucketed.groupBy("bkt").agg(F.sum("n_tokens").alias("tok"))
    offs = totals.select(
        "bkt",
        F.coalesce(
            F.sum("tok").over(
                Window.orderBy("bkt").rowsBetween(Window.unboundedPreceding, -1)
            ),
            F.lit(0),
        ).alias("offset"),
    )
    cum_before = F.col("offset") + cum_in
    return (
        bucketed.join(F.broadcast(offs), "bkt")
        .select(
            "doc_id",
            "n_tokens",
            F.floor(cum_before / _PACK_CAP).alias("seq_id"),
            (cum_before % _PACK_CAP).alias("seq_pos"),
            ((cum_before % _PACK_CAP) + F.col("n_tokens") > _PACK_CAP).alias(
                "straddles"
            ),
        )
    )


_SEMDECON_THRESHOLD = 0.25  # tuned to the synthetic embedding spread


@query(
    "q_decontaminate_semantic",
    oracle=f"""
    WITH hits AS (
        SELECT a.vec_id,
               {DOT_SQL} / ({norm_sql("a")} * {norm_sql("b")}) AS cosine
        FROM embeddings a
        JOIN embeddings b
          ON a.label = b.label
         AND b.vec_id % 10 = 0
         AND a.vec_id % 10 != 0
        WHERE {usable_norm_sql("a")} AND {usable_norm_sql("b")}
    )
    SELECT vec_id,
           CAST(count(*) AS BIGINT) AS n_eval_hits,
           {roundn_sql("max(cosine)", 6, guard=False)} AS max_cosine
    FROM hits
    WHERE cosine >= {_SEMDECON_THRESHOLD}
    GROUP BY vec_id
    """,
)
def q_decontaminate_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic train/eval decontamination — the embedding-space
    complement of q_decontaminate's 13-gram check: an eval example that
    was PARAPHRASED into the training set shares no n-grams but sits
    next to it in embedding space. Same eval split convention as the
    lexical variant (id % 10 == 0 is "the benchmark"); flag every train
    vector whose cosine against any same-block eval vector reaches the
    threshold, reporting hit count and max similarity — the evidence a
    curation run reviews before dropping.

    Plan is the q_dedup_embed_cosine shape, made ASYMMETRIC: train ⋈
    eval only (never train×train — the contamination question is one-
    sided, cutting the pair space by 10× here and by |eval|/|corpus| at
    scale), blocked on label (any coarse quantizer at 100 TB), norms
    computed O(n) before the join. The eval side is a small fraction of
    the corpus by construction, so at scale it BROADCASTS and the check
    is a map-side pass over the training scan."""
    from bitcoinminingetl_spark.operators.dedup import normed_embeddings

    # normed load: zero-norm vectors are excluded (cosine undefined;
    # ANSI division would kill the job) — see dedup.normed_embeddings
    emb = normed_embeddings(spark, sf_dir)
    train = emb.filter(F.col("vec_id") % 10 != 0).alias("a")
    ev = emb.filter(F.col("vec_id") % 10 == 0).alias("b")
    cos = dot(F.col("a.embedding"), F.col("b.embedding")) / (
        F.col("a.norm") * F.col("b.norm")
    )
    return (
        train.join(F.broadcast(ev), F.col("a.label") == F.col("b.label"))
        .select(F.col("a.vec_id").alias("vec_id"), cos.alias("cosine"))
        .filter(F.col("cosine") >= _SEMDECON_THRESHOLD)
        .groupBy("vec_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_eval_hits"),
            roundn(F.max("cosine"), 6).alias("max_cosine"),
        )
    )


_BUDGET_TOKENS = 20_000  # target corpus size for the selection pass
_QB_BUCKETS = 8


@query(
    "q_token_budget_select",
    oracle=f"""
    WITH t AS (
        -- NULL text is unbudgetable (no token count) and excluded on
        -- both engines; unfiltered, DuckDB's nulls-first DESC default
        -- put the NULL-density doc at rank 1 inside the budget while
        -- Spark's bucketed prefix sum dropped it (r8 adversarial sweep)
        SELECT doc_id,
               CAST(len(regexp_extract_all(text, '[a-z0-9]+')) AS BIGINT)
                   AS n_tokens,
               CAST(len(regexp_extract_all(text, '[a-z0-9]+')) AS DOUBLE)
                   / greatest(n_chars, 1) AS density
        FROM documents WHERE text IS NOT NULL
    ),
    c AS (
        SELECT doc_id, n_tokens, density,
               CAST(COALESCE(SUM(n_tokens) OVER (
                   ORDER BY density DESC, doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ), 0) AS BIGINT) AS cum_before
        FROM t
    )
    SELECT doc_id, n_tokens,
           CAST(round(CAST(density AS DECIMAL(28,12)), 6) AS DOUBLE)
               AS density
    FROM c WHERE cum_before < {_BUDGET_TOKENS}
    """,
)
def q_token_budget_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget subset selection — "fill a {_BUDGET_TOKENS}-token
    training budget with the best documents": rank the corpus by a
    quality key (token density here; any score column works), take docs
    in rank order until the budget is exhausted (the last doc may
    straddle the budget — included, matching greedy selection). This is
    the curation step after scoring/dedup: FineWeb-style pipelines cut
    exactly this way.

    Same distributed prefix-sum skeleton as q_doc_pack, proving the
    pattern generalizes to ARBITRARY orderings: sketch buckets come from
    percentile_approx over the (density, doc_id) rank key — approximated
    by bucketing on density alone with doc_id-ordered ties inside
    buckets — within-bucket cumsum, per-bucket totals to offsets,
    broadcast back. No single-task global window; the oracle is the
    serial window cumsum.

    NULL text is unbudgetable (no token count) and EXPLICITLY excluded
    — pre-r8 it fell out only accidentally (NULL bucket key never
    matched the offsets join), while the oracle's nulls-first DESC
    default ranked it INSIDE the budget; both sides now declare the
    exclusion (r8 adversarial sweep)."""
    docs = table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    ).select(
        "doc_id",
        F.size(F.expr(r"regexp_extract_all(text, '[a-z0-9]+', 0)"))
        .cast("long")
        .alias("n_tokens"),
        (
            F.size(F.expr(r"regexp_extract_all(text, '[a-z0-9]+', 0)")).cast(
                "double"
            )
            / F.greatest(F.col("n_chars"), F.lit(1))
        ).alias("density"),
    )
    qs = [i / _QB_BUCKETS for i in range(1, _QB_BUCKETS)]
    bounds = docs.agg(
        F.percentile_approx("density", qs, 10000).alias("bs")
    ).select(*[F.element_at("bs", i + 1).alias(f"b{i}") for i in range(len(qs))])
    # density DESC ordering: bucket 0 holds the highest densities
    bucket = F.lit(len(qs))
    for i in range(len(qs)):
        bucket = bucket - (F.col("density") > F.col(f"b{i}")).cast("int")
    bucketed = docs.join(F.broadcast(bounds)).select(
        "doc_id", "n_tokens", "density", bucket.alias("bkt")
    )
    w_in = (
        Window.partitionBy("bkt")
        .orderBy(F.col("density").desc(), "doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum_in = F.coalesce(F.sum("n_tokens").over(w_in), F.lit(0))
    totals = bucketed.groupBy("bkt").agg(F.sum("n_tokens").alias("tok"))
    offs = totals.select(
        "bkt",
        F.coalesce(
            F.sum("tok").over(
                Window.orderBy("bkt").rowsBetween(Window.unboundedPreceding, -1)
            ),
            F.lit(0),
        ).alias("offset"),
    )
    return (
        bucketed.join(F.broadcast(offs), "bkt")
        .withColumn("cum_before", F.col("offset") + cum_in)
        .filter(F.col("cum_before") < _BUDGET_TOKENS)
        .select("doc_id", "n_tokens", roundn(F.col("density"), 6).alias("density"))
    )


# RAG/context-window chunking: fixed chunk with overlap (stride < chunk).
_CHUNK_CHARS = 120
_CHUNK_STRIDE = 90

# Deterministic seeded corpus cut.
_SAMPLE_K = 100
_SAMPLE_SEED = "42"


@query(
    "q_chunk_documents",
    oracle=f"""
    SELECT doc_id,
           CAST(off // {_CHUNK_STRIDE} AS BIGINT) AS chunk_id,
           substring(text, CAST(off AS BIGINT) + 1, {_CHUNK_CHARS}) AS chunk,
           CAST(length(substring(text, CAST(off AS BIGINT) + 1, {_CHUNK_CHARS}))
                AS BIGINT) AS chunk_len
    FROM (
        SELECT doc_id, text,
               unnest(generate_series(0, greatest(length(text) - 1, 0),
                                      {_CHUNK_STRIDE})) AS off
        FROM documents
    )
    """,
)
def q_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping sliding-window chunking of document text — the
    context-window prep pass of a RAG / pretraining pipeline (chunk=120
    chars, stride=90, so consecutive chunks share a 30-char overlap and
    no character is lost at a boundary).

    The offset list is generated per row with `sequence` and exploded
    with `posexplode`, so the whole operator is one Generate inside a
    narrow scan: zero shuffles, no Python, and at 100 TB it pipelines
    straight into a parquet sink or the dedup family partition-by-
    partition. posexplode's position doubles as the chunk id (the stride
    sequence is regular), saving a second pass. Empty documents emit one
    empty chunk rather than disappearing — row-count parity matters for
    downstream provenance joins."""
    docs = table(spark, sf_dir, "documents")
    offs = F.sequence(
        F.lit(0),
        F.greatest(F.length("text") - F.lit(1), F.lit(0)),
        F.lit(_CHUNK_STRIDE),
    )
    exploded = docs.select(
        "doc_id", "text", F.posexplode(offs).alias("chunk_id", "off")
    )
    chunk = F.expr(f"substring(text, off + 1, {_CHUNK_CHARS})")
    return exploded.select(
        "doc_id",
        F.col("chunk_id").cast("long").alias("chunk_id"),
        chunk.alias("chunk"),
        F.length(chunk).cast("long").alias("chunk_len"),
    )


@query(
    "q_seeded_sample",
    oracle=f"""
    SELECT doc_id, lang,
           md5(CAST(doc_id AS VARCHAR) || ':{_SAMPLE_SEED}') AS sample_key
    FROM documents
    ORDER BY sample_key
    LIMIT {_SAMPLE_K}
    """,
)
def q_seeded_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seeded uniform sample without replacement: order by
    md5(doc_id:seed), keep the first k. Equivalent to a reservoir sample
    but fully distributed and reproducible across engines and runs (the
    determinism doctrine above; rand(seed) is neither). The plan is
    TakeOrderedAndProject — each partition keeps its local top-k and only
    k rows reach the driver-side merge, so at 100 TB the cost is one
    narrow scan plus a k-row reduction, never a global sort. For a
    rate-based cut (keep p% rather than top-k) the same key feeds a
    simple `sample_key < threshold` filter with no ordering at all."""
    docs = table(spark, sf_dir, "documents")
    key = F.md5(
        F.concat(F.col("doc_id").cast("string"), F.lit(f":{_SAMPLE_SEED}"))
    )
    return (
        docs.select("doc_id", "lang", key.alias("sample_key"))
        .orderBy("sample_key")
        .limit(_SAMPLE_K)
    )


# Training-mix construction: per-source token budget (equal shares — the
# RE-BALANCING cut: big sources get downsampled to the budget, small ones
# pass whole; weights other than uniform are a one-line change).
_MIX_TOKENS_PER_SOURCE = 600


@query(
    "q_mix_sample",
    oracle=f"""
    WITH scored AS (
        SELECT doc_id, source,
               CAST(len(regexp_extract_all(text, '[a-z0-9]+')) AS BIGINT)
                   AS n_tokens,
               len(regexp_extract_all(text, '[a-z0-9]+'))
                   / greatest(n_chars, 1) AS density
        FROM documents
    ),
    cum AS (
        SELECT doc_id, source, n_tokens,
               coalesce(sum(n_tokens) OVER (
                   PARTITION BY source
                   ORDER BY density DESC, doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ), 0) AS cum_before
        FROM scored
    )
    SELECT doc_id, source, n_tokens FROM cum
    WHERE cum_before < {_MIX_TOKENS_PER_SOURCE}
    """,
)
def q_mix_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-mix construction: fill an equal per-source token budget
    with each source's best documents (quality = token density; any score
    column works). The rebalancing cut every multi-source pretraining mix
    runs — oversized sources are truncated at the budget in quality
    order, small sources pass entirely; greedy inclusion means the last
    doc may straddle the budget, matching q_token_budget_select.

    Scale shape: the cumulative sum partitions BY SOURCE, so every
    source's prefix-sum runs as an independent task — parallelism =
    number of sources, no global window anywhere. One source so large
    its own prefix-sum needs splitting would reuse
    q_token_budget_select's sketch-bucket skeleton within that source;
    at real mix cardinalities (10s-100s of sources) the per-source
    window IS the right plan."""
    toks = F.size(F.expr(r"regexp_extract_all(text, '[a-z0-9]+', 0)"))
    docs = table(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        toks.cast("long").alias("n_tokens"),
        (toks.cast("double") / F.greatest(F.col("n_chars"), F.lit(1))).alias(
            "density"
        ),
    )
    w = (
        Window.partitionBy("source")
        .orderBy(F.col("density").desc(), "doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return (
        docs.withColumn(
            "cum_before", F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
        )
        .filter(F.col("cum_before") < _MIX_TOKENS_PER_SOURCE)
        .select("doc_id", "source", "n_tokens")
    )


@query(
    "q_quality_calibrate",
    oracle=f"""
    WITH scored AS (
        SELECT doc_id, source,
               len(regexp_extract_all(text, '[a-z0-9]+'))
                   / greatest(n_chars, 1) AS score
        FROM documents
    )
    SELECT doc_id, source,
           {roundn_sql('percent_rank() OVER (PARTITION BY source ORDER BY score NULLS FIRST)', 6)}
               AS pct_rank,
           percent_rank() OVER (PARTITION BY source ORDER BY score NULLS FIRST) >= 0.2
               AS keep
    FROM scored
    """,
)
def q_quality_calibrate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source quality calibration: raw quality scores are not
    comparable across sources (web boilerplate scores differently from
    books), so thresholds must be per-source — replace the raw score
    with its percent-rank WITHIN its source, then one global cut (keep
    the top 80%) means the same thing everywhere. This is how quality
    filters are actually applied across a multi-source mix (per-domain
    calibrated thresholds, not one global score cut).

    Scale shape: percent_rank partitions by source — independent
    per-source tasks, no global ordering; percent_rank depends only on
    rank, so score ties agree with any serial oracle regardless of
    partitioning. NULL scores (NULL text — fetch failures) are pinned
    NULLS FIRST on both engines: unknown quality ranks WORST and falls
    below the keep cut, instead of DuckDB's nulls-last default silently
    ranking an unscorable doc as the best in its source (r8 adversarial
    sweep finding)."""
    score = (
        F.size(F.expr(r"regexp_extract_all(text, '[a-z0-9]+', 0)")).cast("double")
        / F.greatest(F.col("n_chars"), F.lit(1))
    )
    w = Window.partitionBy("source").orderBy(F.col("score").asc_nulls_first())
    return (
        table(spark, sf_dir, "documents")
        .select("doc_id", "source", score.alias("score"))
        .select(
            "doc_id",
            "source",
            roundn(F.percent_rank().over(w), 6).alias("pct_rank"),
            (F.percent_rank().over(w) >= 0.2).alias("keep"),
        )
    )


_SPAN_N = 5  # word n-gram width for duplicated-span accounting

_SPAN_GRAMS_CACHE: dict[str, DataFrame] = {}
_SPAN_DUP_CACHE: dict[str, DataFrame] = {}


def span_grams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The positional word-5-gram index (doc_id, pos, gram_h) for a
    corpus, persisted once per (session, corpus) — the ExactSubstr span
    index the whole span family reads (r13 optimization: q_dup_span_stats
    and q_dedup_span_removal each re-ran the scan + split + posexplode +
    xxhash64 pass; one shared build saves a full corpus explode per
    consumer). At 100 TB this is the span/suffix index table an
    ExactSubstr dedup pipeline (Lee et al. 2022) materializes once per
    corpus snapshot.

    8-byte-key doctrine (q_decontaminate, _shingled): downstream shuffles
    and joins key on xxhash64(gram), never the ~30-byte gram string — 4x
    less shuffle payload; a collision would need two distinct grams
    sharing 64 bits within one corpus (negligible below 1e9 distinct
    grams). NULL text yields no grams via the size filter (split(NULL)
    has size -1), identical to both consumers' previous inline builds."""
    key = f"{spark.sparkContext.applicationId}:{sf_dir}:span_grams"

    def build() -> DataFrame:
        return (
            table(spark, sf_dir, "documents")
            .select("doc_id", F.split("text", " ").alias("ws"))
            # Docs shorter than the span emit no grams (and no output
            # row, matching the oracles' empty generate_series). Without
            # this filter sequence(0, size-5) DESCENDS for size<5 and
            # the slice start goes invalid — Spark sequence is never
            # empty when stop < start.
            .filter(F.size("ws") >= _SPAN_N)
            .select(
                "doc_id",
                F.posexplode(
                    F.transform(
                        F.sequence(F.lit(0), F.size("ws") - _SPAN_N),
                        lambda i: F.concat_ws(
                            " ", F.slice(F.col("ws"), i + 1, _SPAN_N)
                        ),
                    )
                ).alias("pos", "gram"),
            )
            .select("doc_id", "pos", F.xxhash64("gram").alias("gram_h"))
        )

    return lru_persisted(_SPAN_GRAMS_CACHE, key, build)


def span_dup_grams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The multi-document gram set (gram_h) — grams occurring in MORE
    than one distinct document — persisted once per (session, corpus)
    on top of span_grams. Both span consumers derive their dup signal
    from exactly this aggregate (stats flags against it, removal
    semi-joins it), so sharing it saves one full groupBy(gram_h) +
    count_distinct shuffle per consumer. Hot (stop-)grams skew that
    aggregate's key; map-side partials collapse them before the
    exchange, same as the previous inline builds."""
    key = f"{spark.sparkContext.applicationId}:{sf_dir}:span_dup_grams"

    def build() -> DataFrame:
        return (
            span_grams(spark, sf_dir)
            .groupBy("gram_h")
            .agg(F.count_distinct("doc_id").alias("nd"))
            .filter(F.col("nd") > 1)
            .select("gram_h")
        )

    return lru_persisted(_SPAN_DUP_CACHE, key, build)


@query(
    "q_dup_span_stats",
    oracle=f"""
    WITH grams AS (
        SELECT doc_id, CAST(i AS INTEGER) - 1 AS pos,
               array_to_string(
                   words[CAST(i AS INTEGER):CAST(i AS INTEGER) + {_SPAN_N - 1}],
                   ' ') AS gram
        FROM (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
             unnest(generate_series(1, len(words) - {_SPAN_N - 1})) AS t(i)
    ), shared AS (
        SELECT gram FROM grams GROUP BY gram
        HAVING count(DISTINCT doc_id) > 1
    )
    SELECT g.doc_id,
           CAST(count(*) AS BIGINT) AS n_spans,
           CAST(count(*) FILTER (WHERE s.gram IS NOT NULL) AS BIGINT)
               AS n_dup_spans,
           CAST(round(CAST(count(*) FILTER (WHERE s.gram IS NOT NULL)
                 AS DECIMAL(28,12)) / count(*), 9) AS DOUBLE) AS dup_rate
    FROM grams g LEFT JOIN shared s ON s.gram = g.gram
    GROUP BY g.doc_id
    """,
)
def q_dup_span_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicated-span accounting (the per-position dup-rate behind
    exact-substring dedup, Lee et al. 2022 "Deduplicating Training Data
    Makes Language Models Better"): for every document, the fraction of
    its word 5-gram positions whose 5-gram also occurs in ANOTHER
    document. High dup_rate docs are span-removal / drop candidates;
    unlike q_decontaminate (membership against an eval set) or
    q_fingerprint (sampled winnowing), this is the dense per-position
    rate over the whole corpus.

    Scale shape: grams come from the shared persisted span index
    (span_grams — r13: previously an inline re-build of the scan +
    explode per consumer); the shared-gram relation is the persisted
    multi-doc aggregate (span_dup_grams, map-side partial collapses hot
    grams before its one exchange); the flag attaches by
    semi-join-shaped left join on the gram hash and the per-doc rollup
    reuses the doc_id grouping. Hot (stop-)grams skew the join key —
    AQE skew-split owns it, and the joined payload is 1 column, so a
    hot gram costs bytes, not width. pos is not read here (span stats
    are plain counts) — the projection prunes it at the cache scan so
    the gram shuffle carries only (doc_id, 8-byte key). dup_rate is
    decimal-quantized for the oracle hash."""
    grams = span_grams(spark, sf_dir).select("doc_id", "gram_h")
    shared = span_dup_grams(spark, sf_dir).select(
        "gram_h", F.lit(True).alias("is_dup")
    )
    flagged = grams.join(shared, "gram_h", "left")
    return flagged.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_spans"),
        F.count_if(F.col("is_dup")).alias("n_dup_spans"),
        roundn(
            F.count_if(F.col("is_dup"))
            / F.count(F.lit(1)).cast("double"),
            9,
        ).alias("dup_rate"),
    )


@query(
    "q_dedup_span_removal",
    oracle=f"""
    WITH d AS (
        SELECT doc_id, text, string_split(text, ' ') AS ws FROM documents
    ), grams AS (
        SELECT doc_id, CAST(i AS INTEGER) - 1 AS pos,
               array_to_string(
                   ws[CAST(i AS INTEGER):CAST(i AS INTEGER) + {_SPAN_N - 1}],
                   ' ') AS gram
        FROM d, unnest(generate_series(1, len(ws) - {_SPAN_N - 1})) AS t(i)
        WHERE text IS NOT NULL
    ), shared AS (
        SELECT gram FROM grams GROUP BY gram
        HAVING count(DISTINCT doc_id) > 1
    ), covered AS (
        SELECT DISTINCT g.doc_id, CAST(p AS INTEGER) AS pos
        FROM grams g JOIN shared USING (gram),
             unnest(generate_series(g.pos, g.pos + {_SPAN_N - 1})) AS c(p)
    ), words AS (
        SELECT doc_id, CAST(i AS INTEGER) - 1 AS pos,
               ws[CAST(i AS INTEGER)] AS word
        FROM d, unnest(generate_series(1, len(ws))) AS t(i)
        WHERE text IS NOT NULL
    ), rebuilt AS (
        SELECT w.doc_id, CAST(count(*) AS BIGINT) AS n_kept,
               string_agg(w.word, ' ' ORDER BY w.pos) AS clean_text
        FROM words w LEFT JOIN covered c
          ON c.doc_id = w.doc_id AND c.pos = w.pos
        WHERE c.doc_id IS NULL
        GROUP BY w.doc_id
    )
    SELECT d.doc_id,
           CAST(CASE WHEN d.text IS NULL THEN 0 ELSE len(d.ws) END
               AS BIGINT) AS n_words,
           CAST(CASE WHEN d.text IS NULL THEN 0 ELSE len(d.ws) END
               - COALESCE(r.n_kept, 0) AS BIGINT) AS n_removed,
           CASE WHEN d.text IS NULL THEN NULL
                ELSE COALESCE(r.clean_text, '') END AS clean_text
    FROM d LEFT JOIN rebuilt r USING (doc_id)
    """,
)
def q_dedup_span_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring span REMOVAL — the corpus rewrite q_dup_span_stats
    only measures (Lee et al. 2022's ExactSubstr dedup, the variant that
    keeps documents but cuts the repeated material): every word position
    covered by any 5-gram that also occurs in ANOTHER document is
    dropped, and the surviving words are reassembled in order. Output is
    the full-corpus audit rewrite: (doc_id, n_words, n_removed,
    clean_text) for EVERY document — NULL text passes through as NULL,
    fully-duplicated docs come back as empty text, sub-span docs (< 5
    words) are untouched. Reassembly via split/join on single spaces is
    lossless for the corpus's space-separated text (empty tokens from
    consecutive spaces survive both engines identically — verified
    concat_ws/string_agg parity).

    Scale shape: the gram relation IS q_dup_span_stats' — the shared
    persisted span index (span_grams) plus the shared multi-doc gram
    set (span_dup_grams), each built once per (session, corpus) instead
    of inline per consumer (r13); coverage expansion is
    explode(sequence(pos, pos+4)) — a bounded x5 fan-out, strictly
    LINEAR in gram count, unlike pair generation there is no quadratic
    term anywhere. The rebuild is one per-doc aggregate:
    array_sort(collect_list(struct(pos, word))) bounds memory at
    document length, the same per-group bound every text op already
    carries. Hot (stop-)grams skew the semi-join key — AQE skew-split
    owns it, payload is (doc_id, pos) longs."""
    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    with_words = docs.filter(F.col("text").isNotNull()).select(
        "doc_id", F.split("text", " ").alias("ws")
    )
    covered = (
        span_grams(spark, sf_dir)
        .join(span_dup_grams(spark, sf_dir), "gram_h", "semi")
        .select(
            "doc_id",
            F.explode(
                F.sequence(F.col("pos"), F.col("pos") + _SPAN_N - 1)
            ).alias("pos"),
        )
        .distinct()
    )
    words = with_words.select(
        "doc_id", F.posexplode("ws").alias("pos", "word")
    )
    rebuilt = (
        words.join(covered, ["doc_id", "pos"], "left_anti")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_kept"),
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("pos", "word"))
                    ),
                    lambda s: s["word"],
                ),
            ).alias("clean_text"),
        )
    )
    n_words = F.when(
        F.col("text").isNull(), F.lit(0).cast("long")
    ).otherwise(F.size(F.split("text", " ")).cast("long"))
    return docs.join(rebuilt, "doc_id", "left").select(
        "doc_id",
        n_words.alias("n_words"),
        (n_words - F.coalesce(F.col("n_kept"), F.lit(0).cast("long")))
        .cast("long")
        .alias("n_removed"),
        F.when(F.col("text").isNull(), F.lit(None).cast("string"))
        .otherwise(F.coalesce(F.col("clean_text"), F.lit("")))
        .alias("clean_text"),
    )


_BPE_MERGES = 5


def _bpe_round_sql(k: int) -> str:
    """One unrolled BPE merge round (DuckDB side) — the same unroll
    doctrine as the PageRank oracle: the merge budget is a fixed
    constant, so the 'iterative' loop is really _BPE_MERGES static
    rounds, each expressible as CTEs over the previous round's vocab.

    p{k}: the vocab exploded to (token, position, symbol) via ZIPPED
    unnest — one streaming pass; a lateral unnest over positions would
    re-materialize the whole symbol LIST per position, which goes
    quadratic on the adversarial 30k-char single-token document.
    pr{k}: adjacent pairs by a lead() window. b{k}: the argmax pair
    (freq-weighted, ties by (l, r) — integer sums, so cross-engine
    exact). c{k}: the taken merge positions under LEFT-TO-RIGHT GREEDY
    pairing — candidates at consecutive positions only happen when
    l == r (the next symbol must equal both r and l), and the fold
    takes every other one, which is row_number-odd within each
    consecutive run. A merged symbol can never re-pair within its own
    round (that would need r = ''), so the window formulation is
    exactly the fold. v{k}: the rewritten vocab — position j emits
    l||r when taken, nothing when j-1 was taken, else the original
    symbol. The CROSS JOIN against b{k} makes every later round empty
    once pairs run out, matching the Spark loop's early break. Every
    CTE is MATERIALIZED: each is consumed more than once, and DuckDB
    re-inlines multiply-referenced CTEs otherwise (measured 290x on
    the 5-round chain)."""
    return f"""
    p{k} AS MATERIALIZED (
        SELECT tid, freq,
               unnest(syms) AS s,
               unnest(generate_series(1, len(syms))) AS j
        FROM v{k - 1}
    ),
    pr{k} AS MATERIALIZED (
        SELECT tid, freq, j, s AS l,
               lead(s) OVER (PARTITION BY tid ORDER BY j) AS r
        FROM p{k}
    ),
    b{k} AS MATERIALIZED (
        SELECT l, r, n FROM (
            SELECT l, r, CAST(sum(freq) AS BIGINT) AS n
            FROM pr{k} WHERE r IS NOT NULL
            GROUP BY l, r
        ) ORDER BY n DESC, l, r LIMIT 1
    ),
    c{k} AS MATERIALIZED (
        SELECT tid, j FROM (
            SELECT tid, j,
                   row_number() OVER (PARTITION BY tid, grp ORDER BY j)
                       AS rn
            FROM (
                SELECT pr.tid, pr.j,
                       pr.j - row_number() OVER (
                           PARTITION BY pr.tid ORDER BY pr.j) AS grp
                FROM pr{k} pr, b{k} b
                WHERE pr.l = b.l AND pr.r = b.r
            )
        ) WHERE rn % 2 = 1
    ),
    v{k} AS MATERIALIZED (
        SELECT p.tid,
               list(
                   CASE WHEN tk.j IS NOT NULL THEN b.l || b.r
                        WHEN tkp.j IS NOT NULL THEN NULL
                        ELSE p.s END
                   ORDER BY p.j
               ) FILTER (
                   tk.j IS NOT NULL OR tkp.j IS NULL
               ) AS syms,
               any_value(p.freq) AS freq
        FROM p{k} p
        CROSS JOIN b{k} b
        LEFT JOIN c{k} tk ON tk.tid = p.tid AND tk.j = p.j
        LEFT JOIN c{k} tkp ON tkp.tid = p.tid AND tkp.j = p.j - 1
        GROUP BY p.tid
    )"""


_BPE_TRAIN_ORACLE = (
    """
    WITH v0 AS MATERIALIZED (
        -- tid: dense surrogate key. Every later round joins and
        -- windows on the token identity; using the token STRING as
        -- that key re-hashes the adversarial 30k-char single token
        -- tens of thousands of times per round (measured ~30 s on the
        -- adversarial corpus vs ~0.3 s with the integer key).
        SELECT row_number() OVER (ORDER BY token) AS tid,
               string_split(token, '') AS syms,
               CAST(count(*) AS BIGINT) AS freq
        FROM (SELECT unnest(string_split(text, ' ')) AS token
              FROM documents WHERE text IS NOT NULL) t
        GROUP BY token
        HAVING len(string_split(token, '')) >= 2
    ),"""
    + ",".join(_bpe_round_sql(k) for k in range(1, _BPE_MERGES + 1))
    + "\n    "
    + "\n    UNION ALL ".join(
        f"SELECT CAST({k} AS INTEGER) AS step, l AS \"left\","
        f" r AS \"right\", n AS pair_count FROM b{k}"
        for k in range(1, _BPE_MERGES + 1)
    )
)


@query("q_bpe_train", oracle=_BPE_TRAIN_ORACLE)
def q_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer training, the iterative step q_bpe_pair_counts only
    scores once: N rounds of (count adjacent symbol pairs weighted by
    corpus token frequency) → (merge the argmax pair corpus-wide).
    Output: the learned merge table (step, left, right, pair_count) —
    the artifact a tokenizer ships.

    Scale shape: the corpus is touched ONCE (token-frequency aggregate);
    every round then runs on the VOCABULARY (distinct tokens as symbol
    arrays × freq — 10^5-ish rows at any corpus size, cached and
    replaced each round). Pair counting is explode+hash-agg on that
    small relation; the argmax is an orderBy(1).limit(1) driver pull of
    ONE row per round (the sanctioned ≤N-rows collect); the merge
    rewrite is a map-only fold (aggregate HOF) applying left-to-right
    greedy pairing — no Python UDF anywhere. Round count is the fixed
    merge budget, so the lineage is bounded (always exactly one cached
    hop deep). r13: each round's rewrite materializes INSIDE the next
    round's argmax job — the parent vocab stays cached one extra round
    and is dropped right after that job, instead of paying a dedicated
    count() materialization job per round. Same passes over the same
    relations, minus one scheduler round-trip per merge — and the LAST
    round's rewrite (whose output no job ever read) is never computed
    at all."""
    vocab = (
        table(spark, sf_dir, "documents")
        .select(F.explode(F.split("text", " ")).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).cast("long").alias("freq"))
        .select(
            F.expr("transform(split(token, ''), c -> c)").alias("syms"),
            "freq",
        )
        .filter(F.size("syms") >= 2)
        .cache()
    )
    merges = []
    prev = None  # parent vocab, kept cached until the child materializes
    for step in range(1, _BPE_MERGES + 1):
        # NB: Spark's sequence(1, 0) DESCENDS instead of being empty, so
        # fully-merged single-symbol tokens must be filtered before the
        # pair explosion every round, not just at init.
        pairs = (
            vocab.filter(F.size("syms") >= 2)
            .select(
                F.explode(
                    F.expr(
                        "transform(sequence(1, size(syms) - 1), "
                        "i -> struct(syms[i-1] AS l, syms[i] AS r))"
                    )
                ).alias("p"),
                "freq",
            )
            .groupBy(F.col("p.l").alias("l"), F.col("p.r").alias("r"))
            .agg(F.sum("freq").cast("long").alias("n"))
            .orderBy(F.col("n").desc(), "l", "r")
            .limit(1)
            .collect()
        )
        # this collect just materialized `vocab`'s cache (reading the
        # still-cached parent) — the parent's blocks are now dead
        if prev is not None:
            prev.unpersist()
            prev = None
        if not pairs:
            break
        best = pairs[0]
        merges.append((step, best.l, best.r, best.n))
        # Escape backslashes BEFORE quotes — a corpus token containing a
        # backslash must not corrupt the spliced SQL aggregate expression.
        def _esc(s: str) -> str:
            return s.replace("\\", "\\\\").replace("'", "\\'")

        l_lit, r_lit = _esc(best.l), _esc(best.r)
        merged = vocab.select(
            F.expr(
                "aggregate(syms, CAST(array() AS array<string>), (acc, s) -> "
                f"IF(size(acc) > 0 AND element_at(acc, -1) = '{l_lit}' "
                f"AND s = '{r_lit}', "
                "concat(slice(acc, 1, size(acc) - 1), "
                f"array(concat('{l_lit}', '{r_lit}'))), "
                "concat(acc, array(s))))"
            ).alias("syms"),
            "freq",
        ).cache()  # lazy: next round's argmax job materializes it
        prev, vocab = vocab, merged
    vocab.unpersist()
    if prev is not None:
        prev.unpersist()
    return spark.createDataFrame(
        merges, "step int, left string, right string, pair_count long"
    )


_WS_SEED = 23
_WS_K = 100


@query(
    "q_weighted_sample",
    oracle=f"""
    WITH keyed AS (
        SELECT doc_id, source, n_chars,
               CAST(round(CAST(
                   ln((CAST(('0x' || substr(
                        md5(CAST(doc_id AS VARCHAR) || ':{_WS_SEED}'), 1, 8))
                        AS BIGINT) + 0.5) / 4294967296.0)
                   / n_chars AS DECIMAL(28,12)), 9) AS DOUBLE) AS es_key
        FROM documents WHERE n_chars > 0
    )
    SELECT doc_id, source, n_chars, es_key
    FROM keyed ORDER BY es_key DESC, doc_id LIMIT {_WS_K}
    """,
)
def q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sample without replacement (Efraimidis–Spirakis): keep
    the k docs with the largest ln(u)/w where u is a deterministic
    per-doc uniform and w = n_chars — longer docs proportionally more
    likely, every run and every engine picking the SAME sample. The
    length-weighted cut is the standard token-budget-aware corpus
    sample (sampling docs uniformly would under-sample long-doc tokens).

    Determinism doctrine (q_seeded_sample, q_hash_split): u derives from
    md5(doc_id:seed) — first 8 hex chars as a 32-bit integer, +0.5 to
    dodge ln(0) — identical in Spark and DuckDB, unlike rand(seed). The
    E-S identity: taking top-k by u^(1/w) ⇔ by ln(u)/w is exactly a
    w-weighted draw without replacement. Plan: map-only key computation,
    TakeOrderedAndProject top-k — per-partition local top-k, k rows to
    the driver-side merge, no global sort at any SF. The key is
    decimal-quantized so the order (and hash) agrees across engines."""
    docs = table(spark, sf_dir, "documents").filter(F.col("n_chars") > 0)
    u = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(F.col("doc_id").cast("string"), F.lit(f":{_WS_SEED}"))
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("double")
        + F.lit(0.5)
    ) / F.lit(4294967296.0)
    return (
        docs.select(
            "doc_id",
            "source",
            "n_chars",
            roundn(F.log(u) / F.col("n_chars"), 9).alias("es_key"),
        )
        .orderBy(F.col("es_key").desc(), "doc_id")
        .limit(_WS_K)
    )


_FUNNEL_MIN_TOK = 30
_FUNNEL_MAX_TOK = 500
_FUNNEL_BUDGET = 2000  # tokens kept per source


@query(
    "q_curation_funnel",
    oracle=f"""
    WITH train AS (
        SELECT doc_id, source, text,
               len(string_split(text, ' ')) AS n_tokens,
               (len(replace(text, ' ', '')) * 1.0
                / len(string_split(text, ' '))) AS mean_wl
        FROM documents WHERE doc_id % 10 <> 0
    ), quality AS (
        SELECT *,
               (n_tokens BETWEEN {_FUNNEL_MIN_TOK} AND {_FUNNEL_MAX_TOK}
                AND mean_wl BETWEEN 2 AND 10) AS q_ok
        FROM train
    ), dedup AS (
        SELECT *,
               row_number() OVER (
                   PARTITION BY md5(text) ORDER BY doc_id) = 1 AS d_ok
        FROM quality
    ), contaminated AS (
        SELECT doc_id FROM ({holdout_hits_sql(
            "doc_id % 10 = 0", "doc_id % 10 <> 0", _DECON_N
        )})
    ), flagged AS (
        SELECT d.doc_id, d.source, d.n_tokens, d.q_ok, d.d_ok,
               (c.doc_id IS NULL) AS c_ok
        FROM dedup d LEFT JOIN contaminated c ON c.doc_id = d.doc_id
    ), budgeted AS (
        SELECT *,
               CASE WHEN q_ok AND d_ok AND c_ok THEN
                   sum(CASE WHEN q_ok AND d_ok AND c_ok
                       THEN n_tokens ELSE 0 END) OVER (
                       PARTITION BY source
                       ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id)
               END <= {_FUNNEL_BUDGET} AS b_ok_raw
        FROM flagged
    )
    SELECT doc_id, source, CAST(n_tokens AS BIGINT) AS n_tokens,
           q_ok, d_ok, c_ok,
           COALESCE(b_ok_raw, FALSE) AS b_ok,
           (q_ok AND d_ok AND c_ok AND COALESCE(b_ok_raw, FALSE)) AS kept
    FROM budgeted
    """,
)
def q_curation_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed corpus-curation funnel — quality filter → exact
    dedup → 13-gram decontamination → per-source token budget — as ONE
    DataFrame plan, emitting the per-document audit table (one boolean
    per stage + the final keep) a data-governance review wants: every
    drop is attributable to a stage, and stage rules are the suite's
    own operators' shapes (Gopher-style bounds, keep-first-by-md5,
    q_decontaminate's eval split, q_mix_sample's budget prefix-sum).

    The composition is the point: no materialization between stages —
    Catalyst fuses the quality predicate into the scan, the dedup
    window and the budget window are the only per-doc shuffles (hash
    partition by content hash, then by source), and the contamination
    flag arrives by anti-join-shaped left join from the shingle
    pipeline. At 100 TB each stage's scale story is unchanged from its
    standalone query; chaining adds NO new shuffle beyond the two
    windows because stage flags are plain columns, not filters — docs
    flow through once, flags accumulate.

    Budget stage note: ordered by md5(doc_id) (deterministic corpus
    shuffle, q_seeded_sample doctrine) so the budget cut is unbiased;
    ineligible docs (failed earlier stages) consume no budget and get
    b_ok=false."""
    docs = table(spark, sf_dir, "documents")
    train = docs.filter(F.col("doc_id") % 10 != 0).select(
        "doc_id",
        "source",
        "text",
        F.size(F.split("text", " ")).alias("n_tokens"),
        (
            F.length(F.regexp_replace("text", " ", ""))
            / F.size(F.split("text", " "))
        ).alias("mean_wl"),
    )
    quality = train.withColumn(
        "q_ok",
        F.col("n_tokens").between(_FUNNEL_MIN_TOK, _FUNNEL_MAX_TOK)
        & F.col("mean_wl").between(2, 10),
    )
    w_dup = Window.partitionBy(F.md5("text")).orderBy("doc_id")
    dedup = quality.withColumn(
        "d_ok", F.row_number().over(w_dup) == 1
    )
    # contamination: train docs sharing any 13-gram with the eval split —
    # q_decontaminate's holdout_hits stage over the SHARED persisted
    # shingle index (8-byte hashed keys); an inline string-shingle
    # rebuild would re-run the scan+tokenize+explode and shuffle ~30-byte
    # strings where the family's doctrine shuffles longs
    contaminated = (
        holdout_hits(
            shingle_index(spark, sf_dir, n=_DECON_N),
            F.col("doc_id") % 10 == 0,
            F.col("doc_id") % 10 != 0,
        )
        .select("doc_id")
        .withColumn("contaminated", F.lit(True))
    )
    flagged = dedup.join(contaminated, "doc_id", "left").withColumn(
        "c_ok", F.col("contaminated").isNull()
    )
    eligible = F.col("q_ok") & F.col("d_ok") & F.col("c_ok")
    w_budget = Window.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")), "doc_id"
    )
    budgeted = flagged.withColumn(
        "b_ok",
        F.coalesce(
            F.when(
                eligible,
                F.sum(F.when(eligible, F.col("n_tokens")).otherwise(0)).over(
                    w_budget
                )
                <= _FUNNEL_BUDGET,
            ),
            F.lit(False),
        ),
    )
    return budgeted.select(
        "doc_id",
        "source",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        "q_ok",
        "d_ok",
        "c_ok",
        "b_ok",
        (eligible & F.col("b_ok")).alias("kept"),
    )


_TEMP_ALPHA = 0.3  # mT5/XLM-R default sampling temperature exponent
_TOKS_SQL = "len(regexp_extract_all(text, '[a-z0-9]+'))"


@query(
    "q_mix_temperature",
    oracle=f"""
    WITH src AS (
        SELECT source, count(*) AS n_docs,
               CAST(sum({_TOKS_SQL}) AS BIGINT) AS n_tokens
        FROM documents GROUP BY source
    ),
    w AS (
        SELECT *, {roundn_sql(f'pow(n_tokens, {_TEMP_ALPHA})', 6)} AS w
        FROM src
    ),
    tot AS (
        SELECT CAST(sum(n_tokens) AS DOUBLE) AS tot_n,
               CAST(sum(CAST(w AS DECIMAL(18,6))) AS DOUBLE) AS tot_w
        FROM w
    )
    SELECT source, n_docs, n_tokens,
           {roundn_sql('CAST(n_tokens AS DOUBLE) / tot_n', 6)} AS raw_share,
           {roundn_sql('w / tot_w', 6)} AS temp_share,
           CASE WHEN n_tokens > 0 THEN
               {roundn_sql('(w / tot_w) / (CAST(n_tokens AS DOUBLE) / tot_n)', 6)}
           END AS boost
    FROM w, tot
    """,
)
def q_mix_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TEMPERATURE-SCALED MIX WEIGHTS (mT5/XLM-R alpha-sampling,
    arXiv:1910.10683 sec 3.4.2 / arXiv:1911.02116): proportional-to-size
    sampling lets the largest source drown the mix, uniform sampling
    over-trains tiny sources; the standard fix samples source s with
    probability proportional to n_s^alpha (alpha={_TEMP_ALPHA}), which
    compresses the size ratios. Output per source: doc/token counts, the
    raw proportional share, the temperature share, and the boost factor
    (temp/raw — >1 means the source is up-sampled by the temperature).

    Engine-stable numerics: token counts are exact integers; pow() is
    quantized to 6 dp per source BEFORE the exact decimal total, so the
    only cross-engine hazard (libm pow at the last ulp) is squeezed out
    ahead of the normalization; every share is one IEEE double division
    on identical inputs, rounded to 6 dp.

    Scale shape: ONE grouped aggregate over the corpus (map-side partial
    sums), then all share math happens on the ||sources||-row relation
    via a share-of-total window (one SinglePartition exchange of ~20
    rows, the q_sql_text_query pattern) — the corpus is scanned once;
    a broadcast-total crossJoin would duplicate the aggregate subtree
    and scan it twice."""
    toks = F.size(F.expr(r"regexp_extract_all(text, '[a-z0-9]+', 0)"))
    src = (
        table(spark, sf_dir, "documents")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(toks.cast("long")).alias("n_tokens"),
        )
        .withColumn(
            "w",
            roundn(F.pow(F.col("n_tokens"), F.lit(_TEMP_ALPHA)), 6, guard=False),
        )
    )
    # share-of-total as a window over the ||sources||-row aggregate (the
    # q_sql_text_query pattern): a broadcast-total crossJoin would
    # duplicate the src subtree and SCAN THE CORPUS TWICE — the window
    # costs one SinglePartition exchange of ~20 rows instead
    w_all = Window.partitionBy()
    src = src.withColumn(
        "tot_n", F.sum("n_tokens").over(w_all).cast("double")
    ).withColumn(
        "tot_w",
        F.sum(F.col("w").cast("decimal(18,6)")).over(w_all).cast("double"),
    )
    raw_share = F.col("n_tokens").cast("double") / F.col("tot_n")
    temp_share = F.col("w") / F.col("tot_w")
    return src.select(
        "source",
        "n_docs",
        "n_tokens",
        roundn(raw_share, 6, guard=False).alias("raw_share"),
        roundn(temp_share, 6, guard=False).alias("temp_share"),
        F.when(
            F.col("n_tokens") > 0,
            roundn(temp_share / raw_share, 6, guard=False),
        ).alias("boost"),
    )


_LB_BUCKETS = 8  # length buckets (equal-count, ntile over token length)
# module-level (not inline) so the tolerance mutation gate can coarsen
# the boundary sketch and prove the vs-ntile planted test goes red
_LB_ACCURACY = 10000


@query(
    "q_length_buckets",
    oracle=f"""
    WITH lens AS (
        SELECT doc_id, CAST({_TOKS_SQL} AS BIGINT) AS n_tokens
        FROM documents
    ),
    bucketed AS (
        SELECT *, CAST(ntile({_LB_BUCKETS}) OVER (
            ORDER BY n_tokens NULLS FIRST, doc_id) AS BIGINT) AS bucket
        FROM lens
    )
    SELECT bucket, count(*) AS n_docs,
           CAST(max(n_tokens) AS BIGINT) AS pad_len,
           CAST(sum(n_tokens) AS BIGINT) AS real_tokens,
           CAST(count(*) * max(n_tokens) AS BIGINT) AS padded_tokens,
           CASE WHEN count(*) * max(n_tokens) > 0 THEN
               {roundn_sql('1.0 - CAST(sum(n_tokens) AS DOUBLE) / CAST(count(*) * max(n_tokens) AS DOUBLE)', 6)}
           END AS waste_ratio
    FROM bucketed GROUP BY bucket
    """,
)
def q_length_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LENGTH-BUCKETED BATCHING AUDIT: batching variable-length documents
    pads every sequence to its batch's max, and padding is wasted
    compute — the standard fix buckets by length first so batch-mates
    have similar lengths. This query quantifies the win: docs are split
    into {_LB_BUCKETS} equal-count buckets by token length, and each
    bucket reports its pad-to length (bucket max), real vs padded token
    counts, and the waste ratio (1 - real/padded). The unbucketed
    baseline is the same numbers computed at one global bucket; the test
    pins that bucketing strictly reduces total waste on any non-constant
    length distribution.

    The global ntile mirrors q_histogram_equiheight's (the declared
    ground-truth pattern): a single-task O(n) sort bounded by the docs
    relation. The 100 TB path swaps it for percentile_approx boundaries
    broadcast onto a map-only bucketing, exactly as
    q_histogram_equiheight_approx already implements — the audit math on
    top is unchanged."""
    toks = F.size(F.expr(r"regexp_extract_all(text, '[a-z0-9]+', 0)"))
    lens = table(spark, sf_dir, "documents").select(
        "doc_id", toks.cast("long").alias("n_tokens")
    )
    # NULLS FIRST pinned on both engines: a NULL token count (NULL
    # text) buckets with the shortest docs instead of DuckDB's
    # nulls-last default pushing it into the longest bucket and
    # shifting every boundary (r8 adversarial sweep finding)
    w = Window.orderBy(F.col("n_tokens").asc_nulls_first(), "doc_id")
    padded = F.count(F.lit(1)) * F.max("n_tokens")
    return (
        lens.withColumn("bucket", F.ntile(_LB_BUCKETS).over(w).cast("long"))
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.max("n_tokens").alias("pad_len"),
            F.sum("n_tokens").alias("real_tokens"),
            padded.alias("padded_tokens"),
            F.when(
                padded > 0,
                roundn(
                    1.0 - F.sum("n_tokens").cast("double") / padded.cast("double"),
                    6,
                    guard=False,
                ),
            ).alias("waste_ratio"),
        )
    )


@query("q_length_buckets_approx")  # rows-only: sketch boundaries are engine-specific
def q_length_buckets_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-bucketed batching audit, 100 TB path (r6 VERDICT stretch
    7): q_length_buckets' global ntile is a single-task O(n log n) sort
    — the declared ground-truth pattern, disqualified at corpus scale.
    This twin swaps it for the q_histogram_equiheight_approx recipe:
    bucket boundaries from ONE percentile_approx sketch aggregate
    (mergeable per-partition state, no sort), broadcast back onto the
    scan as seven scalar columns, each doc's bucket assigned by range
    comparison inside whole-stage codegen — a map-only pass plus an
    8-key aggregate. The audit math on top (pad-to length, real vs
    padded tokens, waste ratio) is unchanged.

    Semantics delta vs the ntile ground truth, by design: range
    bucketing keeps TIED lengths in one bucket where ntile splits them
    to equalize counts, so bucket populations are approximately — not
    exactly — equal. The planted test pins the invariants that survive
    the swap: doc/token totals conserved, pad lengths monotone across
    buckets, and total padded tokens within tolerance of (and strictly
    better than the single global bucket baseline beaten by) the exact
    ntile answer."""
    toks = F.size(F.expr(r"regexp_extract_all(text, '[a-z0-9]+', 0)"))
    lens = table(spark, sf_dir, "documents").select(
        "doc_id", toks.cast("long").alias("n_tokens")
    )
    qs = [i / _LB_BUCKETS for i in range(1, _LB_BUCKETS)]
    bounds = lens.agg(
        F.percentile_approx("n_tokens", qs, _LB_ACCURACY).alias("bs")
    ).select(
        *[F.element_at("bs", i + 1).alias(f"b{i}") for i in range(len(qs))]
    )
    bucket = F.lit(1)
    for i in range(len(qs)):
        bucket = bucket + (F.col("n_tokens") > F.col(f"b{i}")).cast("int")
    padded = F.count(F.lit(1)) * F.max("n_tokens")
    return (
        lens.join(F.broadcast(bounds))
        .select("n_tokens", bucket.cast("long").alias("bucket"))
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.max("n_tokens").alias("pad_len"),
            F.sum("n_tokens").alias("real_tokens"),
            padded.alias("padded_tokens"),
            F.when(
                padded > 0,
                roundn(
                    1.0 - F.sum("n_tokens").cast("double") / padded.cast("double"),
                    6,
                    guard=False,
                ),
            ).alias("waste_ratio"),
        )
    )


# Token-budget epoch math (Muennighoff et al. 2023, arXiv:2305.16264):
# value per repeated epoch decays fast and is roughly spent after ~4
# epochs, so the mix planner flags any source whose temperature share
# forces more than _MIX_MAX_EPOCHS passes over it.
_MIX_BUDGET_MULT = 4  # training budget = 4x the corpus token count
_MIX_MAX_EPOCHS = 4.0


@query(
    "q_mix_epochs",
    oracle=f"""
    WITH src AS (
        SELECT source, count(*) AS n_docs,
               CAST(sum({_TOKS_SQL}) AS BIGINT) AS n_tokens
        FROM documents GROUP BY source
    ),
    w AS (
        SELECT *, {roundn_sql(f'pow(n_tokens, {_TEMP_ALPHA})', 6)} AS w
        FROM src
    ),
    tot AS (
        SELECT CAST(sum(n_tokens) AS DOUBLE) AS tot_n,
               CAST(sum(CAST(w AS DECIMAL(18,6))) AS DOUBLE) AS tot_w
        FROM w
    )
    SELECT source, n_docs, n_tokens,
           {roundn_sql('w / tot_w', 6)} AS temp_share,
           {roundn_sql(f'{_MIX_BUDGET_MULT} * tot_n * (w / tot_w)', 6)}
               AS budget_tokens,
           CASE WHEN n_tokens > 0 THEN
               {roundn_sql(
                   f'{_MIX_BUDGET_MULT} * tot_n * (w / tot_w) / n_tokens', 6
               )}
           END AS epochs,
           CASE WHEN n_tokens > 0 THEN
               {roundn_sql(
                   f'{_MIX_BUDGET_MULT} * tot_n * (w / tot_w) / n_tokens', 6
               )} > {_MIX_MAX_EPOCHS}
           END AS over_repeat_limit
    FROM w, tot
    """,
)
def q_mix_epochs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EPOCH ALLOCATION UNDER A TOKEN BUDGET: q_mix_temperature's
    temperature shares decide how the training budget (here 4x the
    corpus token count, _MIX_BUDGET_MULT) splits across sources;
    this query converts each source's share into the number of EPOCHS
    over that source (budget_tokens / n_tokens) and flags sources pushed
    past the ~4-epoch repetition limit of Muennighoff et al. 2023
    (arXiv:2305.16264) — the data-constrained-scaling rule that repeated
    tokens stop buying loss after about four passes, which is exactly
    what temperature up-sampling of tiny sources silently violates.

    Scale shape: identical to q_mix_temperature — ONE grouped aggregate
    over the corpus, then all budget math on the ||sources||-row
    relation via the share-of-total window (no broadcast-total crossJoin
    double scan). Epoch counts are ratios of engine-stable quantities
    (exact integer token counts, 6-dp-quantized pow), so the flag's
    comparison is deterministic cross-engine."""
    toks = F.size(F.expr(r"regexp_extract_all(text, '[a-z0-9]+', 0)"))
    src = (
        table(spark, sf_dir, "documents")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(toks.cast("long")).alias("n_tokens"),
        )
        .withColumn(
            "w",
            roundn(F.pow(F.col("n_tokens"), F.lit(_TEMP_ALPHA)), 6, guard=False),
        )
    )
    w_all = Window.partitionBy()
    src = src.withColumn(
        "tot_n", F.sum("n_tokens").over(w_all).cast("double")
    ).withColumn(
        "tot_w",
        F.sum(F.col("w").cast("decimal(18,6)")).over(w_all).cast("double"),
    )
    budget_tokens = _MIX_BUDGET_MULT * F.col("tot_n") * (
        F.col("w") / F.col("tot_w")
    )
    epochs = roundn(
        budget_tokens / F.col("n_tokens"), 6, guard=False
    )
    return src.select(
        "source",
        "n_docs",
        "n_tokens",
        roundn(F.col("w") / F.col("tot_w"), 6, guard=False).alias("temp_share"),
        roundn(budget_tokens, 6, guard=False).alias("budget_tokens"),
        F.when(F.col("n_tokens") > 0, epochs).alias("epochs"),
        F.when(F.col("n_tokens") > 0, epochs > _MIX_MAX_EPOCHS).alias(
            "over_repeat_limit"
        ),
    )


# Hash-based holdout split: md5 is byte-identical across engines (and
# languages), which is the whole point — the split must be REPRODUCIBLE
# by any system that can hash, or train/eval membership silently drifts
# between the Spark pipeline and whoever consumes the split downstream.
# Thresholds are hex-STRING prefixes compared under binary collation
# (both engines), giving 204/256 ~ 79.7% train and 26/256 ~ 10.2% val:
# the documented contract is "deterministic bucket boundaries", not
# exact round percentages — at corpus scale the realized shares
# concentrate on these to 4 decimal places.
_SPLIT_SALT = "|split-salt-v1"
_SPLIT_TRAIN_LT = "cc"  # md5 hex prefix < 'cc' (204/256) -> train
_SPLIT_VAL_LT = "e6"  # < 'e6' (230/256) -> val; else test


@query(
    "q_eval_split",
    oracle=f"""
    SELECT doc_id, source,
           md5(concat(CAST(doc_id AS VARCHAR), '{_SPLIT_SALT}')) AS split_key,
           CASE WHEN substring(md5(concat(CAST(doc_id AS VARCHAR),
                                          '{_SPLIT_SALT}')), 1, 2)
                     < '{_SPLIT_TRAIN_LT}' THEN 'train'
                WHEN substring(md5(concat(CAST(doc_id AS VARCHAR),
                                          '{_SPLIT_SALT}')), 1, 2)
                     < '{_SPLIT_VAL_LT}' THEN 'val'
                ELSE 'test' END AS split
    FROM documents
    """,
)
def q_eval_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test HOLDOUT ASSIGNMENT — the split step
    every training pipeline runs before decontamination checks the other
    direction (q_decontaminate flags eval-set leakage INTO train; this
    query decides membership in the first place). Keyed on
    md5(doc_id || salt): content-independent (re-crawled or re-cleaned
    copies of a doc keep their split), engine-independent (md5 is
    byte-identical everywhere, so a downstream evaluator can recompute
    membership without Spark — the reason this is md5 and not xxhash64,
    whose implementations differ per engine), and salt-versioned (a new
    salt is a new split, an audited event). The full decision table
    (doc_id, source, split_key, split) is the evidence-trail relation a
    curation pipeline joins against, same shape doctrine as
    q_dedup_representatives.

    Plan: pure map-side projection — one scan, zero shuffles, identical
    plan at 100 TB; the split lands with the data instead of requiring a
    membership join at training time. Stratification is a groupBy away
    and intentionally NOT fused here (the per-doc relation is the
    artifact; summaries are consumers)."""
    key = F.md5(
        F.concat(F.col("doc_id").cast("string"), F.lit(_SPLIT_SALT))
    )
    prefix = F.substring(key, 1, 2)
    return table(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        key.alias("split_key"),
        F.when(prefix < _SPLIT_TRAIN_LT, F.lit("train"))
        .when(prefix < _SPLIT_VAL_LT, F.lit("val"))
        .otherwise(F.lit("test"))
        .alias("split"),
    )


def _split_prefix_sql(ref: str) -> str:
    return (
        f"substring(md5(concat(CAST({ref} AS VARCHAR), "
        f"'{_SPLIT_SALT}')), 1, 2)"
    )


@query(
    "q_split_decontaminate",
    oracle=holdout_hits_sql(
        f"{_split_prefix_sql('doc_id')} >= '{_SPLIT_TRAIN_LT}'",
        f"{_split_prefix_sql('doc_id')} < '{_SPLIT_TRAIN_LT}'",
        _DECON_N,
    ),
)
def q_split_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPLIT-AWARE decontamination — q_decontaminate against the REAL
    holdout instead of its doc_id%10 stand-in: flag train-split
    documents (q_eval_split's md5 assignment) sharing any 13-gram with
    a val/test document. This is the check that actually gates a
    release — leakage is defined by the split you ship, so the overlap
    join and the split assignment must agree on membership, which the
    md5 keying guarantees for any downstream re-checker. Composes the
    two persisted relations the pipeline already maintains: the shingle
    index (built once per corpus, shared with the dedup family) and the
    pure-projection split key.

    Plan: identical shape to q_decontaminate — the split predicate is a
    map-side md5 projection on the |docs|-row side of the shingle
    index (no join against a split table needed), the overlap is an
    equi-join on 8-byte hashed shingles, one per-doc count. At 100 TB
    the holdout side is ~20% of shingles; broadcast when the split is
    eval-tiny, hash join otherwise — the planner's call either way."""
    prefix = F.substring(
        F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(_SPLIT_SALT))),
        1,
        2,
    )
    return holdout_hits(
        shingle_index(spark, sf_dir, n=_DECON_N),
        prefix >= _SPLIT_TRAIN_LT,
        prefix < _SPLIT_TRAIN_LT,
    )
