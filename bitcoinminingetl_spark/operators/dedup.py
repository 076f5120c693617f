"""Near-duplicate detection for LLM training corpora (BASELINE.json north
star): exact n-gram Jaccard, MinHash+LSH, SimHash, and embedding-cosine
near-dup — each a pure-DataFrame plan (no MLlib vectors, no Python UDFs),
so Catalyst owns the join strategies end to end.

Scale architecture (the 100 TB story):
- exact pairwise Jaccard joins on shingle equality — correct but its
  shuffle grows with shingle frequency; it is the small-scale oracle.
- MinHash+LSH is the scale path: per-doc signatures (one groupBy), banded
  bucket keys, candidate generation by equi-join on (band, bucket) —
  shuffle volume ~ O(docs × bands), independent of pairwise count — then
  exact verification only on candidates.
- SimHash: 32-bit signatures, chunk-blocked candidate join, popcount
  Hamming verify.
- embedding near-dup blocks on the label column (any coarse clusterer at
  scale) so the quadratic term is per-block, not global.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from bitcoinminingetl_spark.catalog import table
from bitcoinminingetl_spark.functions.cache import lru_persisted
from bitcoinminingetl_spark.functions.numeric import roundn, roundn_sql
from bitcoinminingetl_spark.functions.vectors import (
    COSINE_SQL,
    bucket_rows_sql,
    cosine,
    md5_planes,
    norm,
    sign_bucket_udf,
    usable_norm_sql,
)
from bitcoinminingetl_spark.functions.xxhash64 import SEED, UDF_PREFIX
from bitcoinminingetl_spark.registry import query

_NGRAM = 3
_JACCARD_THRESHOLD = 0.3


def ngram_list_sql(n: int) -> str:
    """DuckDB twin of ngram_array over string_split(text, ' '): the
    positional n-gram list (NOT deduplicated). Inputs shorter than n
    yield one gram, the full text. NULL text yields [NULL], which
    list_distinct drops (see shingle_sql)."""
    return (
        f"list_transform(generate_series(1, greatest(len(string_split(text, ' '))"
        f" - {n - 1}, 1)), i -> array_to_string("
        f"string_split(text, ' ')[i:i+{n - 1}], ' '))"
    )


def shingle_sql(n: int = _NGRAM) -> str:
    """DuckDB twin of _shingle_strings: (doc_id, shingle) with the
    distinct n-grams of each document. The oracle keeps shingles as
    strings; Spark hashes them to int64 (_shingled) — every downstream
    quantity is a set cardinality, which agrees as long as xxhash64 is
    collision-free on the corpus."""
    return (
        f"SELECT doc_id, unnest(list_distinct({ngram_list_sql(n)})) AS shingle"
        " FROM documents"
    )


def ngram_array(toks: Column, n: int) -> Column:
    """array<string> of all n-word grams of a token array (positional,
    NOT deduplicated), built as a FOLD OF zip_with OVER n SHIFTED SLICES
    — not transform(sequence) + per-position slice/concat: the
    positional-index form evaluates an interpreted slice per element and
    benched 2.5x slower for the full shingle pass at sf0.1 (same finding
    as q_bigram_logprob's pair construction; output verified identical
    row-for-row). Inputs shorter than n yield one gram: the full text
    (the whole dedup family's short-doc convention). DuckDB twin:
    ngram_list_sql."""
    size = F.size(toks)
    width = size - (n - 1)
    sh = F.slice(toks, 1, width)
    for k in range(2, n + 1):
        sh = F.zip_with(
            sh,
            F.slice(toks, k, width),
            lambda acc, t: F.concat(acc, F.lit(" "), t),
        )
    return F.when(size >= n, sh).otherwise(F.array(F.concat_ws(" ", toks)))


def _shingled(docs: DataFrame, n: int = _NGRAM) -> DataFrame:
    """(doc_id, shingle: bigint) with distinct n-word shingles per document
    (default 3), xxhash64-hashed. Docs shorter than the shingle width
    contribute their full text.

    Built on ngram_array (the codegen'd zip_with fold). The hash happens
    AFTER the explode, as a scalar projection inside whole-stage codegen
    (hashing inside the lambda benches ~40% slower — interpreted per
    element). Everything downstream shuffles/joins 8-byte keys instead
    of ~25-byte shingle strings; at corpus scale that's the dominant
    shuffle-volume term. Collision odds ~n_shingles²/2⁶⁴ — immaterial
    below ~10⁹ distinct shingles, and a collision only inflates one
    intersection count."""
    return _shingle_strings(docs, n).select(
        "doc_id", F.xxhash64("s").alias("shingle")
    )


def _shingle_strings(docs: DataFrame, n: int = _NGRAM) -> DataFrame:
    """(doc_id, s: string) with distinct n-word shingles per document,
    UNHASHED; _shingled is this plus the xxhash64 projection every
    consumer joins on. DuckDB twin: shingle_sql."""
    shingles = F.array_distinct(ngram_array(F.split("text", " "), n))
    return (
        # NULL text contributes NO shingles (the doc has no content to
        # match on) — matching the oracle, where the NULL gram vanishes
        # under list_distinct. Without the filter, split(NULL) flows to
        # ngram_array's short-doc branch as concat_ws('')='', silently
        # aliasing NULL-text docs with empty-text docs in every
        # shingle-joining query. Empty text ('') keeps its one ''
        # shingle on BOTH sides.
        docs.filter(F.col("text").isNotNull())
        .select("doc_id", F.explode(shingles).alias("s"))
    )


_SHINGLE_INDEX_CACHE: dict[str, DataFrame] = {}
_SHINGLE_SETS_CACHE: dict[str, DataFrame] = {}


def _doc_shingle_sets(sh: DataFrame) -> DataFrame:
    """(doc_id, shingles: array, n_shingles) — the per-doc shingle-set
    relation _verify_candidates joins to both pair sides. Group-then-
    filter == filter-then-group for any doc_id-level predicate, so
    consumers that restrict the corpus (q_corpus_dedup_lsh's exact-
    stage survivors) may semi-join the SHARED aggregate instead of
    re-aggregating a filtered index."""
    return sh.groupBy("doc_id").agg(
        F.collect_set("shingle").alias("shingles"),
        F.count(F.lit(1)).alias("n_shingles"),
    )


def shingle_sets(spark: SparkSession, sf_dir: str, n: int = _NGRAM) -> DataFrame:
    """The per-doc shingle-SET relation persisted once per (session,
    corpus, n) — level three of the dedup-family artifact stack
    (shingle_index -> pair_overlaps / shingle_sets). r13 optimization
    (guide §2.4): _verify_candidates references its per-doc set
    aggregate TWICE (doc_a side + doc_b side) and Spark recomputes the
    whole groupBy+collect_set subtree per side — and three registry
    queries run that verify stage (q_dedup_minhash_lsh,
    q_dedup_minhash_mllib, q_corpus_dedup_lsh), so one bench pass
    aggregated the shingle index into sets six times. One persist-once
    build serves all six references."""
    key = f"{spark.sparkContext.applicationId}:{sf_dir}:{n}:sets"
    return lru_persisted(
        _SHINGLE_SETS_CACHE,
        key,
        lambda: _doc_shingle_sets(shingle_index(spark, sf_dir, n)),
    )


def shingle_index(spark: SparkSession, sf_dir: str, n: int = _NGRAM) -> DataFrame:
    """The materialized SHINGLE INDEX for a corpus: the (doc_id, shingle)
    relation persisted once per (session, corpus, n) and shared by every
    dedup-family query — the engine-side analogue of the bucketed
    corpus shingle table a production pipeline maintains (see
    q_dedup_incremental's docstring). Without it, each of the ~8
    dedup/decontamination queries re-runs the scan + tokenize + shingle
    explode (~the single most repeated subplan in the engine); with it,
    the first query materializes ~n_docs x shingles_per_doc rows of
    (long, long) and the rest reuse them. MEMORY_AND_DISK persist: at
    100 TB this is the index you'd write to a bucketed table instead;
    the 8-byte hashed keys make it compact either way. The cache is
    bounded LRU (functions/cache.py) so test fixtures don't accumulate
    executor storage."""
    key = f"{spark.sparkContext.applicationId}:{sf_dir}:{n}"
    return lru_persisted(
        _SHINGLE_INDEX_CACHE,
        key,
        lambda: _shingled(table(spark, sf_dir, "documents"), n=n),
    )


def holdout_hits(sh: DataFrame, is_eval: Column, is_train: Column) -> DataFrame:
    """(doc_id, n_hits): for every train doc, the number of its distinct
    shingles also present in some eval doc — the decontamination overlap
    over a (doc_id, shingle) relation. Both predicates are passed (not
    one and its negation) so each caller states its split exactly.
    DuckDB twin: holdout_hits_sql."""
    ev = sh.filter(is_eval).select("shingle").distinct()
    return (
        sh.filter(is_train)
        .join(ev, "shingle")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )


def holdout_hits_sql(eval_pred: str, train_pred: str, n: int) -> str:
    """DuckDB twin of holdout_hits over the n-gram shingles; both
    predicates are SQL over doc_id."""
    return f"""
    WITH sh AS ({shingle_sql(n)}),
    ev AS (SELECT DISTINCT shingle FROM sh WHERE {eval_pred})
    SELECT s.doc_id, CAST(count(*) AS BIGINT) AS n_hits
    FROM sh s JOIN ev USING (shingle)
    WHERE {train_pred}
    GROUP BY s.doc_id
    """


def jaccard(
    n_inter: Column | str = "n_inter", n_a: str = "n_a", n_b: str = "n_b"
) -> Column:
    """The raw Jaccard ratio |A∩B| / (|A|+|B|-|A∩B|) from set sizes.
    DuckDB twin: jaccard_sql."""
    i = F.col(n_inter) if isinstance(n_inter, str) else n_inter
    return i * 1.0 / (F.col(n_a) + F.col(n_b) - i)


def jaccard_sql(inter: str, na: str, nb: str) -> str:
    """DuckDB twin of jaccard."""
    return f"{inter} * 1.0 / ({na} + {nb} - {inter})"


def _over_threshold(
    pairs: DataFrame,
    ratio: Column,
    threshold: float,
    name: str = "jaccard",
    keys: tuple[str, str] = ("doc_a", "doc_b"),
) -> DataFrame:
    """(keys..., name) for the pairs whose RAW ratio is >= threshold,
    the ratio reported rounded to 6 dp. The predicate matches every
    oracle's WHERE on the unrounded expression. Filtering on the rounded
    column admits pairs in [threshold - 5e-7, threshold) that the
    oracles exclude; one such phantom edge perturbs degree-sensitive
    consumers (PageRank degrees, CC components) far beyond its own
    row."""
    return pairs.filter(ratio >= threshold).select(
        *keys, roundn(ratio, 6).alias(name)
    )


def near_dup_pairs(overlaps: DataFrame) -> DataFrame:
    """Thresholded near-dup pairs (doc_a, doc_b, jaccard) from an
    overlap relation: raw-ratio predicate, rounded report
    (_over_threshold)."""
    return _over_threshold(overlaps, jaccard(), _JACCARD_THRESHOLD)


def _pair_overlaps(shingled: DataFrame, df_cap: int | None = None) -> DataFrame:
    """The shared pair-overlap skeleton: (doc_a, doc_b, n_inter, n_a,
    n_b) for all doc pairs sharing >=1 (kept) shingle — the relation
    every set-similarity metric (Jaccard, containment, overlap
    coefficient) is a one-line projection of. DuckDB twin:
    overlap_ctes_sql.

    Intersection counts come from ONE groupBy(shingle) + in-group pair
    generation, not a self-join: the self-join shuffles the shingle
    relation twice (both sides hash-partition on the key), the groupBy
    shuffles it once and emits the same pairs from the grouped doc list —
    benched 24% faster at sf0.1 with identical output. Pair fan-out per
    shingle is g(g-1)/2 either way and lands on the task owning that
    shingle key either way, so the skew story is unchanged.

    ``df_cap`` is the stop-shingle guard, the piece that makes the exact
    variant survive skew at corpus scale: a shingle appearing in g docs
    fans out g(g-1)/2 pairs, so one boilerplate shingle shared by 10^6
    docs emits 5*10^11 pairs from a single task. With a cap, shingles
    with document frequency > df_cap are dropped BEFORE pair generation —
    a free filter on the already-grouped relation (no extra shuffle) that
    bounds per-shingle fan-out at df_cap(df_cap-1)/2. Set sizes are then
    recounted from the kept shingles, keeping every metric internally
    consistent over the pruned universe — mirrored exactly by the
    oracle's `kept` CTE (overlap_ctes_sql). df_cap=None keeps unpruned
    semantics (the oracle ground truth)."""
    # r13 (guide §4.1 — prefer codegen over interpreted HOFs): in-group
    # pair generation is two codegen'd Generate (explode) passes + an
    # a<b filter, replacing the flatten/transform/slice HOF explosion
    # (interpreted per element) — A/B at sf0.1, interleaved min-of-4:
    # uncapped 2.24 -> 1.43 s, df_cap 2.31 -> 1.54 s, 1,130,536-row
    # output proven identical per mode. The explode emits g² rows per
    # group pre-filter vs the HOF's g(g-1)/2 structs, but each row is
    # two longs and never materializes the nested struct array; fan-out
    # stays bounded by the same df_cap stop-shingle guard. collect_list
    # no longer needs sort_array: a doc appears at most once per shingle,
    # so the a<b filter alone emits each pair exactly once.
    grouped = shingled.groupBy("shingle").agg(
        F.collect_list("doc_id").alias("ds")
    )
    if df_cap is not None:
        grouped = grouped.filter(F.size("ds") <= df_cap)
        # per-doc sizes over the PRUNED universe, recovered from the
        # grouped relation itself (no second scan of the shingle table)
        sizes = (
            grouped.select(F.explode("ds").alias("doc_id"))
            .groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("n_shingles"))
        )
    else:
        sizes = shingled.groupBy("doc_id").agg(
            F.count(F.lit(1)).alias("n_shingles")
        )
    inter = (
        grouped.select(F.explode("ds").alias("doc_a"), "ds")
        .select("doc_a", F.explode("ds").alias("doc_b"))
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    return (
        inter.join(sizes.withColumnRenamed("doc_id", "doc_a"), on="doc_a")
        .withColumnRenamed("n_shingles", "n_a")
        .join(
            sizes.withColumnRenamed("doc_id", "doc_b").withColumnRenamed(
                "n_shingles", "n_b"
            ),
            on="doc_b",
        )
    )


_PAIR_OVERLAPS_CACHE: dict[str, DataFrame] = {}


def pair_overlaps(
    spark: SparkSession,
    sf_dir: str,
    df_cap: int | None = None,
    n: int = _NGRAM,
) -> DataFrame:
    """The materialized PAIR-OVERLAP relation for a corpus: (doc_a,
    doc_b, n_inter, n_a, n_b) persisted once per (session, corpus, n,
    df_cap) and shared by every exact set-similarity consumer —
    q_dedup_ngram_jaccard/_pruned/_containment, q_dedup_clusters{,_minlabel},
    q_corpus_dedup, q_source_overlap_matrix. It is the second level of
    the dedup-family artifact stack: shingle_index materializes the
    (doc_id, shingle) relation; this materializes the guarded pair
    generation on top of it, which was previously recomputed per query
    (the single most expensive repeated subplan in the engine — the
    groupBy(shingle) + in-group pair explosion + two size joins).

    At 100 TB this is the "candidate/overlap table" a production dedup
    pipeline writes once per corpus snapshot and serves to every metric,
    clustering, and governance pass; here it is a MEMORY_AND_DISK
    persist with the same bounded-eviction policy as shingle_index.
    Every similarity metric (Jaccard, containment, overlap coefficient)
    is a map-only projection of this relation."""
    key = f"{spark.sparkContext.applicationId}:{sf_dir}:{n}:{df_cap}"
    return lru_persisted(
        _PAIR_OVERLAPS_CACHE,
        key,
        lambda: _pair_overlaps(shingle_index(spark, sf_dir, n), df_cap),
    )


def overlap_ctes_sql(df_cap: int | None = None) -> str:
    """DuckDB twin of _pair_overlaps: the CTEs `sh` (doc_id, shingle),
    pruned to shingles of document frequency <= df_cap when a cap is
    given; `sizes` (doc_id, n) over the kept shingles; and `inter`
    (doc_a, doc_b, n_inter) for every pair sharing a kept shingle."""
    sh = f"sh AS ({shingle_sql()})"
    if df_cap is not None:
        sh = f"""sh0 AS ({shingle_sql()}),
    kept AS (
        SELECT shingle FROM sh0 GROUP BY shingle HAVING count(*) <= {df_cap}
    ),
    sh AS (SELECT sh0.doc_id, sh0.shingle FROM sh0 JOIN kept USING (shingle))"""
    return f"""{sh},
    sizes AS (
        SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM sh GROUP BY doc_id
    ),
    inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )"""


def jaccard_pairs_sql(df_cap: int | None = None) -> str:
    """DuckDB twin of near_dup_pairs(_pair_overlaps(..., df_cap)):
    (doc_a, doc_b, jaccard) above the threshold, raw-ratio predicate,
    rounded report."""
    j = jaccard_sql("n_inter", "sa.n", "sb.n")
    return f"""
    WITH {overlap_ctes_sql(df_cap)}
    SELECT doc_a, doc_b, {roundn_sql(j, 6)} AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE {j} >= {_JACCARD_THRESHOLD}
    """


# DuckDB-side exact near-dup pairs — the oracle for q_dedup_ngram_jaccard
# and the edge set for q_dedup_clusters' oracle (corpus_ops.py).
NGRAM_PAIRS_ORACLE = jaccard_pairs_sql()


@query("q_dedup_ngram_jaccard", oracle=NGRAM_PAIRS_ORACLE)
def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram Jaccard near-dup pairs above 0.3 — the ground truth
    the probabilistic variants (MinHash, SimHash) approximate. Correct at
    any scale but the shingle-equality join is the quadratic risk; use
    q_dedup_minhash_lsh beyond ~10^7 docs. Reads the shared persisted
    pair-overlap relation (pair_overlaps); the Jaccard metric is a
    map-only projection of it."""
    return near_dup_pairs(pair_overlaps(spark, sf_dir))


_DF_CAP = 50

@query("q_dedup_ngram_pruned", oracle=jaccard_pairs_sql(_DF_CAP))
def q_dedup_ngram_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard with stop-shingle document-frequency pruning
    (df_cap=50) — the skew guard the unpruned variant lacks: boilerplate
    shingles shared by more than df_cap documents are dropped before pair
    generation, bounding any single task's pair fan-out. This is the
    variant to run at corpus scale when exact (non-LSH) pairs are needed;
    q_dedup_ngram_jaccard remains the unpruned ground truth. Projects
    the shared persisted guarded pair-overlap relation."""
    return near_dup_pairs(pair_overlaps(spark, sf_dir, df_cap=_DF_CAP))


_CONTAINMENT_THRESHOLD = 0.8


@query(
    "q_dedup_containment",
    oracle=f"""
    WITH {overlap_ctes_sql(_DF_CAP)}
    SELECT doc_a, doc_b,
           {roundn_sql('n_inter * 1.0 / least(sa.n, sb.n)', 6)} AS containment
    FROM inter
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE n_inter * 1.0 / least(sa.n, sb.n) >= {_CONTAINMENT_THRESHOLD}
    """,
)
def q_dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Containment near-dup pairs: C = |A∩B| / min(|A|,|B|) ≥ 0.8 — the
    partial-duplication detector Jaccard structurally misses. A short
    document quoted whole inside a long one scores C = 1.0 but Jaccard ≈
    |A|/|B| → 0 as the wrapper grows, so boilerplate-wrapped copies and
    quote-inclusion dups survive a Jaccard-only pass; every serious
    corpus dedup runs both metrics over the same pair relation. Shares
    the persisted pair_overlaps relation (one groupBy, df_cap
    stop-shingle guard) with the Jaccard family — the metric is a
    projection, not a new shuffle, and the pair generation is not even
    recomputed. Raw-ratio predicate, rounded report (_over_threshold)."""
    return _over_threshold(
        pair_overlaps(spark, sf_dir, df_cap=_DF_CAP),
        F.col("n_inter") * 1.0 / F.least(F.col("n_a"), F.col("n_b")),
        _CONTAINMENT_THRESHOLD,
        name="containment",
    )


_MINHASH_K = 16
_BANDS = 4
_ROWS_PER_BAND = _MINHASH_K // _BANDS


_LSH_BUCKET_CAP = 5_000


def _candidate_pairs(
    bands: DataFrame, bucket_cap: int | None = _LSH_BUCKET_CAP
) -> DataFrame:
    """Distinct (doc_a < doc_b) candidate pairs from a (doc_id, band, sig)
    relation via ONE groupBy(band, sig) + in-group pair generation — the
    same rewrite as _pair_overlaps: the equi-self-join computes and
    shuffles the band relation twice (and for the MLlib variant "compute"
    means the whole HashingTF + model-hash pipeline), the groupBy does it
    once and emits identical pairs from the grouped doc list. Bucket
    fan-out is g(g-1)/2 either way; a doc appears at most once per
    (band, sig) so no self-pairs arise.

    ``bucket_cap`` is the LSH twin of _pair_overlaps' stop-shingle
    df_cap: a band signature shared by g documents fans out g(g-1)/2
    candidate pairs from one task, and a degenerate signature (e.g.
    boilerplate-dominated min-hashes) shared by 10^6 docs would emit
    5*10^11 pairs. Buckets above the cap are dropped EXPLICITLY — an
    intentional recall trade on pathological buckets, not a silent
    truncation: any pair lost here shares a dominant boilerplate
    signature and is the exact-verify stage's job to reject anyway. At
    the default 5000 the cap never fires on healthy data (expected
    bucket size is a handful of near-dups); it exists to bound the
    worst case. DuckDB twin: capped_candidates_sql."""
    # r13 (guide §4.1, the _pair_overlaps rewrite): two codegen'd
    # explodes + an a<b filter replace the interpreted flatten/
    # transform/slice HOF pair explosion (and the per-group sort_array,
    # unnecessary once pairs come from filtering — a doc appears at
    # most once per (band, sig), so a<b emits each pair exactly once
    # per bucket). Interleaved A/B at sf0.1 over the minhash bands:
    # min 1.43 -> 0.96 s (the band aggregate dominates this stage, so
    # the delta is smaller than _pair_overlaps' −36%); 256-row output
    # proven identical.
    grouped = (
        bands.groupBy("band", "sig")
        .agg(F.collect_list("doc_id").alias("ds"))
        .filter(F.size("ds") > 1)
    )
    if bucket_cap is not None:
        grouped = grouped.filter(F.size("ds") <= bucket_cap)
    return (
        grouped.select(F.explode("ds").alias("doc_a"), "ds")
        .select("doc_a", F.explode("ds").alias("doc_b"))
        .filter(F.col("doc_a") < F.col("doc_b"))
        .distinct()
    )


def capped_candidates_sql(
    rel: str,
    keys: tuple[str, ...] = ("band", "sig"),
    id_col: str = "doc_id",
    pair: tuple[str, str] = ("doc_a", "doc_b"),
) -> str:
    """DuckDB twin of _candidate_pairs: the CTEs `bsz` (bucket sizes
    over ``keys`` of relation ``rel``) and `cand` (distinct id pairs
    sharing a bucket of at most _LSH_BUCKET_CAP members). Keys join
    null-safely, as Spark's groupBy groups NULLs: a NULL key field (the
    embedding dedup's unlabeled block) is one bucket, not none."""

    def on(x: str, y: str) -> str:
        return " AND ".join(f"{x}.{k} IS NOT DISTINCT FROM {y}.{k}" for k in keys)

    return f"""bsz AS (
    SELECT {', '.join(keys)}, count(*) AS g FROM {rel} GROUP BY {', '.join(keys)}
),
cand AS (
    SELECT DISTINCT a.{id_col} AS {pair[0]}, b.{id_col} AS {pair[1]}
    FROM {rel} a
    JOIN {rel} b ON {on('a', 'b')} AND a.{id_col} < b.{id_col}
    JOIN bsz z ON {on('z', 'a')}
    WHERE z.g <= {_LSH_BUCKET_CAP}
)"""


def band_explode(sig: DataFrame, lanes: list[Column], combine) -> DataFrame:
    """(doc_id, band, sig) from a per-doc signature relation: the lanes
    split into bands of _ROWS_PER_BAND, each band's signature is
    ``combine(*its lanes)``, one row per band via one explode."""
    return sig.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        combine(
                            *lanes[b * _ROWS_PER_BAND : (b + 1) * _ROWS_PER_BAND]
                        ).alias("sig"),
                    )
                    for b in range(len(lanes) // _ROWS_PER_BAND)
                ]
            )
        ).alias("bs"),
    ).select("doc_id", "bs.band", "bs.sig")


def minhash_bands(sh: DataFrame) -> DataFrame:
    """(doc_id, band, sig) banded MinHash signatures from a (doc_id,
    shingle) relation: 16 min-hashes per doc (ONE hash aggregate;
    xxhash64 with 16 salts) -> 4 bands of 4 rows, band signature =
    xxhash64 of its rows. Shared by the batch LSH queries and the
    streaming incremental-dedup index."""
    sig = sh.groupBy("doc_id").agg(
        *[
            F.min(F.xxhash64(F.col("shingle"), F.lit(k))).alias(f"mh{k}")
            for k in range(_MINHASH_K)
        ]
    )
    lanes = [F.col(f"mh{k}") for k in range(_MINHASH_K)]
    return band_explode(sig, lanes, F.xxhash64)


def minhash_pairs_sql(sh: str) -> str:
    """DuckDB twin of _verify_candidates(_candidate_pairs(minhash_bands(
    _shingled(...)))) over the string-shingle relation ``sh`` (doc_id,
    shingle): the shingles hashed as _shingled does, the 16 salted
    min-hashes and band signatures of minhash_bands, capped candidates
    and exact-Jaccard verify over the hashed shingles, every xxhash64
    through the port's DuckDB functions (functions/xxhash64.py).
    Returns (doc_a, doc_b, jaccard).

    Every relation a port function reads, and every hashed relation
    read more than once, is MATERIALIZED: DuckDB inlines a CTE at each
    reference and would re-run the Python functions per reference, and
    unnest output would reach them in small chunks."""
    x = UDF_PREFIX

    def chain(lanes: list[str]) -> str:
        acc = str(SEED)
        for lane in lanes:
            acc = f"{x}_long({lane}, {acc})"
        return acc

    mh = ", ".join(f"min({x}_int({k}, hl)) AS mh{k}" for k in range(_MINHASH_K))
    bands = " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band, "
        + chain([f"mh{b * _ROWS_PER_BAND + r}" for r in range(_ROWS_PER_BAND)])
        + " AS sig FROM mh"
        for b in range(_BANDS)
    )
    j = jaccard_sql("n_inter", "sa.n", "sb.n")
    return f"""
WITH sh AS MATERIALIZED ({sh}),
hashed AS MATERIALIZED (
    SELECT doc_id, {x}_string(shingle, {SEED}) AS shingle FROM sh
),
hs AS MATERIALIZED (
    SELECT doc_id, shingle, {x}_long(shingle, {SEED}) AS hl FROM hashed
),
mh AS MATERIALIZED (SELECT doc_id, {mh} FROM hs GROUP BY doc_id),
bands AS MATERIALIZED ({bands}),
{capped_candidates_sql("bands")},
sizes AS (
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM hs GROUP BY doc_id
),
inter AS (
    SELECT c.doc_a, c.doc_b, count(*) AS n_inter
    FROM cand c
    JOIN hs a ON a.doc_id = c.doc_a
    JOIN hs b ON b.doc_id = c.doc_b AND b.shingle = a.shingle
    GROUP BY 1, 2
)
SELECT doc_a, doc_b, {roundn_sql(j, 6)} AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE {j} >= {_JACCARD_THRESHOLD}
"""


@query("q_dedup_minhash_lsh", oracle=minhash_pairs_sql(shingle_sql()))
def q_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash + banded LSH near-dup detection, the 100 TB dedup path:

    shingle -> banded signatures (minhash_bands) -> candidate pairs =
    equi-join on (band, signature) -> exact Jaccard verification on
    candidates only.

    Probability a pair with Jaccard j becomes a candidate: 1-(1-j^4)^4
    (~0.97 at j=0.8). The oracle (minhash_pairs_sql) recomputes the
    signatures with the XXH64 port; the unit test also asserts the
    verified pairs are a subset of the exact pairs."""
    sh = shingle_index(spark, sf_dir)
    return _verify_candidates(
        sh,
        _candidate_pairs(minhash_bands(sh)),
        sets=shingle_sets(spark, sf_dir),
    )


def _verify_candidates(
    sh: DataFrame, candidates: DataFrame, sets: DataFrame | None = None
) -> DataFrame:
    """Exact-Jaccard verification on CANDIDATES ONLY — the whole point of
    LSH: the per-doc shingle sets join to the (small) candidate list,
    never to each other, so verification is O(candidates), not O(pairs).
    Shared by the hand-rolled and MLlib-signature LSH variants.

    ``sets`` (r13, guide §2.4): the per-doc set relation is referenced
    once per pair side, and Spark recomputes the aggregate subtree for
    each reference — batch callers pass the persist-once shingle_sets
    build (optionally doc-filtered) so the aggregate runs zero times
    per query; the streaming path keeps the inline build (its shingle
    relation is per-batch, not a corpus artifact)."""
    if sets is None:
        sets = _doc_shingle_sets(sh)
    sa = sets.select(
        F.col("doc_id").alias("doc_a"),
        F.col("shingles").alias("sh_a"),
        F.col("n_shingles").alias("n_a"),
    )
    sb = sets.select(
        F.col("doc_id").alias("doc_b"),
        F.col("shingles").alias("sh_b"),
        F.col("n_shingles").alias("n_b"),
    )
    n_inter = F.size(F.array_intersect("sh_a", "sh_b"))
    # the raw-ratio predicate also keeps the LSH edge set a strict subset
    # of the exact one at the threshold boundary
    return _over_threshold(
        candidates.join(sa, on="doc_a").join(sb, on="doc_b"),
        jaccard(n_inter),
        _JACCARD_THRESHOLD,
    )


_SIMHASH_BITS = 32
_SIMHASH_CHUNKS = 4
_CHUNK_BITS = _SIMHASH_BITS // _SIMHASH_CHUNKS
_HAMMING_MAX = 3


# DuckDB twin of q_dedup_simhash: same 32 vote sums, same signature
# fold, same chunk blocking and popcount-XOR verify, with the token hash
# from the XXH64 port. The low 32 bits of the signed hash are read with
# (th >> b) & 1, as _simhash_pairs does. The vote/signature stages are
# unrolled per bit, the same oracle style as q_bpe_train's unrolled CTE.
_SIMHASH_ORACLE = f"""
WITH tok AS MATERIALIZED (
    SELECT DISTINCT doc_id, token FROM (
        SELECT doc_id, unnest(string_split(text, ' ')) AS token
        FROM documents
    )
), th AS MATERIALIZED (
    SELECT doc_id, {UDF_PREFIX}_string(token, {SEED}) AS th FROM tok
), votes AS (
    SELECT doc_id,
           {', '.join(
               f"sum(CASE WHEN (th >> {b}) & 1 = 1 THEN 1 ELSE -1 END)"
               f" AS v{b}"
               for b in range(_SIMHASH_BITS)
           )}
    FROM th GROUP BY doc_id
), sig AS (
    SELECT doc_id,
           CAST({' + '.join(
               f"(CASE WHEN v{b} >= 0 THEN {2**b} ELSE 0 END)"
               for b in range(_SIMHASH_BITS)
           )} AS BIGINT) AS simhash
    FROM votes
), chunks AS (
    SELECT doc_id, simhash, c.chunk_id,
           (simhash >> (c.chunk_id * {_CHUNK_BITS}))
               & {2**_CHUNK_BITS - 1} AS chunk
    FROM sig, (SELECT unnest(range({_SIMHASH_CHUNKS})) AS chunk_id) c
)
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
FROM chunks a JOIN chunks b
  ON a.chunk_id = b.chunk_id AND a.chunk = b.chunk AND a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= {_HAMMING_MAX}
"""


@query("q_dedup_simhash", oracle=_SIMHASH_ORACLE)
def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup: 32-bit signature per doc (sign of per-bit vote
    sums over token hashes), candidate pairs via chunk blocking (two docs
    within Hamming distance d < chunks must share >=1 of the 4 8-bit
    chunks), popcount-XOR Hamming verify <= 3. All bit arithmetic is
    JVM-side (shiftright/bit_count); one aggregate + one bounded join.
    Tokens are the per-doc distinct words, hashed with xxhash64."""
    tok = table(spark, sf_dir, "documents").select(
        "doc_id",
        F.explode(F.array_distinct(F.split("text", " "))).alias("token"),
    )
    return _simhash_pairs(tok.withColumn("th", F.xxhash64("token")))


def _simhash_pairs(tok: DataFrame) -> DataFrame:
    """Shared SimHash machinery: per-bit vote sums -> sign-fold into a
    32-bit signature -> chunk blocking -> Hamming verify. `tok` is a
    (doc_id, token, th) relation.

    r13 optimization (guide §2.4 — remove shuffles/duplicated subtrees;
    measured A/B in OPTIMIZATION_r13.md):

    1. VOTES: sum of ±1 per bit is 2·ones_b − n, so the aggregate sums
       the raw bit (no per-row CASE per bit — 32 branches dropped from
       the hot aggregate input) plus ONE count, and the sign condition
       becomes 2·ones_b >= n at the per-doc projection (5k rows, not
       500k). Exact integer equivalence: v_b = ones_b − (n − ones_b).
    2. CANDIDATES: the previous equi-SELF-JOIN on (chunk_id, chunk)
       referenced `chunks` twice, and Spark recomputed the ENTIRE
       32-vote aggregate + chunk explode once per side (two Exchanges
       over the token relation — see plans/r13/q_dedup_simhash_before
       .txt operators 8-10 vs 17-19). Now buckets group ONCE by
       (chunk_id, chunk) — a |chunks|-row shuffle, 4 rows/doc — and
       pairs come from two codegen'd Generate (posexplode) passes over
       the bucket's doc list, NOT the interpreted slice/transform HOF
       that lost the old A/B (self-join 2.4 s vs HOF-groupBy 4.9 s):
       per-bucket fan-out is |b|² either way, but the vote aggregate
       runs exactly once. At 100 TB the old shape was TWO corpus-wide
       aggregates + a corpus-sized broadcast/SMJ; this is one aggregate
       + one 4-rows/doc shuffle.
    3. DEDUP: pairs sharing several chunks were deduped by a final
       .distinct() — one more Exchange. Both signatures ride the row,
       so "this is the FIRST matching chunk" is a bit test (every
       earlier xor byte nonzero) and the distinct disappears; each
       qualifying pair survives exactly once, at its minimum matching
       chunk_id. Result set identical (oracle re-proven at sf0.01 +
       sf0.1, ORACLE_LOCAL/ORACLE_SF01).

    r14 (VERDICT item 4 / ADVICE medium — guide §2.5 skew + §5 memory):
    the r13 candidate stage grouped by (chunk_id, chunk) and
    collect_list'd every bucket member into ONE array. With 8-bit
    chunks that key space is at most 4×256 = 1024 groups, so each
    bucket row materializes O(corpus/256) structs in a single
    aggregation buffer — a per-task OOM (and 2 GB array-limit) hazard
    at 100 TB that the old self-join, quadratic but streamed and
    spillable, never had. Candidates now come from an equi-SELF-JOIN
    on (chunk_id, chunk) over the CHECKPOINTED per-doc signature
    relation: the vote aggregate still runs exactly once (ckpt
    truncates lineage, so both join sides read the materialized 1-row/
    doc relation instead of recomputing the aggregate — the defect the
    r13 rewrite fixed stays fixed), the shuffle is still 4 rows/doc
    per side, and the join is streamed/spillable with AQE skew
    handling instead of one unbounded in-memory array per bucket. The
    checkpoint is per-invocation (recomputed every run — nothing is
    memoized across queries or reps); NULL-th rows are filtered
    structurally (ADVICE low: the pre-r13 ±1 vote convention counted a
    NULL th as all-zero bits via CASE…otherwise(-1), the raw-bit sum
    silently drops them — no current producer emits NULL th, and the
    explicit filter makes the equivalence structural rather than
    incidental)."""
    tok = tok.filter(F.col("th").isNotNull())
    votes = tok.groupBy("doc_id").agg(
        F.count("th").alias("nt"),
        *[
            F.sum(F.shiftright("th", bit).bitwiseAND(F.lit(1))).alias(f"o{bit}")
            for bit in range(_SIMHASH_BITS)
        ],
    )
    simhash = None
    for bit in range(_SIMHASH_BITS):
        term = F.when(
            F.col(f"o{bit}") * 2 >= F.col("nt"), F.lit(2**bit).cast("long")
        ).otherwise(F.lit(0).cast("long"))
        simhash = term if simhash is None else simhash + term
    from bitcoinminingetl_spark.functions.state import ckpt

    sigs = ckpt(votes.select("doc_id", simhash.alias("simhash")))
    chunks = sigs.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("chunk_id"),
                        F.shiftright("simhash", c * _CHUNK_BITS)
                        .bitwiseAND(F.lit(2**_CHUNK_BITS - 1))
                        .alias("chunk"),
                    )
                    for c in range(_SIMHASH_CHUNKS)
                ]
            )
        ).alias("cs"),
    ).select("doc_id", "simhash", "cs.chunk_id", "cs.chunk")
    pairs = (
        chunks.select(
            "chunk_id", "chunk", F.struct("doc_id", "simhash").alias("a")
        )
        .join(
            chunks.select(
                "chunk_id", "chunk", F.struct("doc_id", "simhash").alias("b")
            ),
            ["chunk_id", "chunk"],
        )
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
    )
    xor = F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
    # first-matching-chunk test: for every chunk c' < this bucket's
    # chunk_id, the signatures must DIFFER in chunk c' (xor byte c'
    # nonzero) — otherwise the pair already surfaced in bucket c'.
    first_match = F.lit(True)
    for c in range(_SIMHASH_CHUNKS - 1):
        first_match = first_match & (
            (F.col("chunk_id") <= c)
            | (F.shiftright(xor, c * _CHUNK_BITS).bitwiseAND(
                F.lit(2**_CHUNK_BITS - 1)
            ) != 0)
        )
    return (
        pairs.select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.bit_count(xor).alias("hamming"),
            first_match.alias("fm"),
        )
        .filter((F.col("hamming") <= _HAMMING_MAX) & F.col("fm"))
        .select("doc_a", "doc_b", "hamming")
    )


# Exact-variant threshold, set so the driver's sf0.01 fixture yields a
# non-empty, hashable pair set (the synthetic embeddings top out at
# cosine ~0.51 — a production-style 0.9 threshold matches zero pairs and
# makes the correctness row vacuous; measured: 26 pairs at sf0.01, 391
# at sf0.1 for 0.35).
_COSINE_THRESHOLD = 0.35
# LSH-variant threshold: the production near-dup setting the sign-bit
# amplification is tuned for (recall math in q_dedup_embed_cosine_lsh).
_COSINE_LSH_THRESHOLD = 0.9

_NORMED_EMB_CACHE: dict[str, DataFrame] = {}


def normed_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The embeddings table with its L2 norm attached, EXCLUDING
    zero-norm vectors — the shared load path of the cosine family
    (dedup / ANN / kNN / semantic decontamination / hybrid retrieval).

    Doctrine: a zero vector has no direction, so cosine against it is
    undefined — and under ANSI mode (Spark 4 default) the norm_a*norm_b
    division doesn't return NULL, it KILLS THE JOB. Real corpora contain
    zero embeddings (failed encoder calls, padded rows), so every
    cosine-dividing operator loads through this filter. The same goes
    for NON-FINITE vectors (a NaN or overflowing component — failed
    encoder output): their norm is NaN/Inf, and because Spark orders NaN
    GREATER than every value, `norm > 0` alone would wave them through
    into NaN cosines and ANSI-fatal decimal casts — hence the explicit
    finiteness bound. The test fixtures contain no corrupt vectors, so
    oracle rows are unchanged; the adversarial-corpus sweep
    (tests/test_adversarial.py) plants zero, NaN and 1e200-component
    vectors and asserts the family excludes them and survives.

    Persisted once per (session, corpus) and shared by all ~14 consumer
    sites (functions/cache.py) — the normalize-once snapshot a production
    pipeline materializes next to the raw embeddings at 100 TB. Without
    it every cosine-family query re-paid the scan + 64-dim norm fold."""
    key = f"{spark.sparkContext.applicationId}:{sf_dir}:normed_emb"
    return lru_persisted(
        _NORMED_EMB_CACHE,
        key,
        lambda: (
            table(spark, sf_dir, "embeddings")
            .withColumn("norm", norm(F.col("embedding")))
            .filter(
                (F.col("norm") > 0) & (F.col("norm") < F.lit(float("inf")))
            )
        ),
    )


_EMB_LSH_TABLES = 6
_EMB_LSH_BITS = 4
_EMB_LSH_PLANES = md5_planes("embplane", _EMB_LSH_TABLES, _EMB_LSH_BITS)


@query(
    "q_dedup_embed_cosine",
    oracle=f"""
    WITH pairs AS (
        SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, a.label,
               {COSINE_SQL} AS cosine
        FROM embeddings a JOIN embeddings b
          ON a.label = b.label AND a.vec_id < b.vec_id
        WHERE {usable_norm_sql("a")} AND {usable_norm_sql("b")}
    )
    SELECT * FROM pairs WHERE cosine >= {_COSINE_THRESHOLD}
    """,
)
def q_dedup_embed_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs >= 0.35, EXACT within label
    blocks — the DuckDB-checkable ground truth of the embedding dedup
    family (generalizes reference row identity, data_model.py:32-33, to
    semantic identity).

    Blocking on `label` (the stand-in for any coarse clusterer at scale)
    makes within-block pairs O(n²/‖labels‖): the join is equi on label,
    so Catalyst plans a hash join and the quadratic term is per-block.
    This exact variant is the oracle twin — correct at any scale but
    block-quadratic; q_dedup_embed_cosine_lsh is the 100 TB path
    (sign-bit sub-buckets bound block size by bucket granularity).
    The threshold is 0.35 rather than a production-style 0.9 because the
    synthetic corpus tops out at cosine ~0.51 — at 0.9 the correctness
    row would be vacuously green on an empty set (round-3 VERDICT
    finding); at 0.35 the driver hashes a real pair set (26 pairs at
    sf0.01)."""
    emb = normed_embeddings(spark, sf_dir)
    a = emb.select(
        F.col("vec_id").alias("vec_a"),
        "label",
        F.col("embedding").alias("emb_a"),
        F.col("norm").alias("norm_a"),
    )
    b = emb.select(
        F.col("vec_id").alias("vec_b"),
        "label",
        F.col("embedding").alias("emb_b"),
        F.col("norm").alias("norm_b"),
    )
    cos = cosine("emb_a", "emb_b", "norm_a", "norm_b")
    return (
        a.join(b, on="label")
        .filter(F.col("vec_a") < F.col("vec_b"))
        .select("vec_a", "vec_b", "label", cos.alias("cosine"))
        .filter(F.col("cosine") >= _COSINE_THRESHOLD)
    )


def dedup_embed_cosine_lsh(
    spark: SparkSession,
    sf_dir: str,
    threshold: float = _COSINE_LSH_THRESHOLD,
) -> DataFrame:
    """The 100 TB embedding near-dup path: label blocks sub-bucketed by
    multi-table sign-bit LSH, then EXACT cosine verification on
    candidates only. `threshold` defaults to the production near-dup
    setting 0.9 the amplification is tuned for (recall math below); the
    REGISTERED query passes the exact twin's demo threshold instead —
    see q_dedup_embed_cosine_lsh.

    Blocking on `label` alone leaves within-block pairs O(n²/‖labels‖) —
    quadratic at corpus scale when label cardinality is small. Here each
    vector gets TABLES=6 independent 4-bit sign buckets; a pair is a
    candidate iff it shares (label, bucket) in ANY table (OR-amplified
    LSH). Per-table bucketing caps block size at ~n/(‖labels‖·2^bits),
    so the pairwise term is bounded by bucket granularity, and bits/
    tables are the scale knobs. Candidates come from ONE groupBy per
    table (the _candidate_pairs rewrite — no self-join), then exact
    cosine re-scores candidates, so every emitted pair is exact.

    Recall: a true pair at cosine 0.9 (θ≈25.8°) agrees on one sign plane
    with p = 1-θ/180 ≈ 0.857, so it collides in one 4-bit table with
    p⁴ ≈ 0.54 and the 6-table OR misses it with (1-0.54)⁶ ≈ 1e-2 —
    one-sided error (candidates are a subset of the label-block pairs,
    every candidate exactly verified). The planted-fixture test
    (test_embed_cosine_lsh_finds_planted_near_dups) pins recall on the
    fixed md5 planes, and a subset-of-exact test pins the one-sided
    error direction.

    Struct-grouping puts NULL labels in ONE sub-bucketed block:
    unlabeled vectors still dedup against each other. The DuckDB twin
    (_EMB_LSH_ORACLE) joins bucket keys null-safely to match."""
    emb = normed_embeddings(spark, sf_dir)
    bucket_of = sign_bucket_udf(_EMB_LSH_PLANES, _EMB_LSH_BITS)

    bands = (
        emb.select(
            F.col("vec_id").alias("doc_id"),
            "label",
            F.posexplode(bucket_of(F.col("embedding"))).alias("band", "bucket"),
        )
        .select(
            "doc_id",
            "band",
            F.struct("label", "bucket").alias("sig"),
        )
    )
    cand = _candidate_pairs(bands).select(
        F.col("doc_a").alias("vec_a"), F.col("doc_b").alias("vec_b")
    )
    a = emb.select(
        F.col("vec_id").alias("vec_a"),
        F.col("embedding").alias("emb_a"),
        F.col("norm").alias("norm_a"),
        F.col("label"),
    )
    b = emb.select(
        F.col("vec_id").alias("vec_b"),
        F.col("embedding").alias("emb_b"),
        F.col("norm").alias("norm_b"),
    )
    cos = cosine("emb_a", "emb_b", "norm_a", "norm_b")
    return (
        cand.join(a, on="vec_a")
        .join(b, on="vec_b")
        .select("vec_a", "vec_b", "label", cos.alias("cosine"))
        .filter(F.col("cosine") >= threshold)
    )


# DuckDB twin of dedup_embed_cosine_lsh at the demo threshold: quantize
# -> per-table sign buckets -> candidates sharing (table, label, bucket)
# under the bucket cap -> exact decimal-rounded cosine verify.
_EMB_LSH_ORACLE = f"""
WITH base AS (SELECT * FROM embeddings e WHERE {usable_norm_sql('e')}),
bk AS ({bucket_rows_sql(_EMB_LSH_PLANES, _EMB_LSH_BITS, "base", "vec_id, label")}),
{capped_candidates_sql("bk", ("tbl", "label", "bkt"), "vec_id", ("vec_a", "vec_b"))},
scored AS (
    SELECT c.vec_a, c.vec_b, a.label, {COSINE_SQL} AS cosine
    FROM cand c
    JOIN embeddings a ON a.vec_id = c.vec_a
    JOIN embeddings b ON b.vec_id = c.vec_b
)
SELECT vec_a, vec_b, label, cosine FROM scored
WHERE cosine >= {_COSINE_THRESHOLD}
"""


@query("q_dedup_embed_cosine_lsh", oracle=_EMB_LSH_ORACLE)
def q_dedup_embed_cosine_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dedup_embed_cosine_lsh REGISTERED at the exact twin's demo
    threshold (0.35, _COSINE_THRESHOLD) instead of the production 0.9:
    the synthetic corpus tops out at cosine ~0.51, so at 0.9 the query
    would emit 0 rows and its check would prove nothing. At the demo
    threshold it emits a real pair set at sf0.01 AND is directly
    subset-comparable to q_dedup_embed_cosine on the driver fixtures
    (one-sided error: LSH can only miss, never invent — pinned by
    test_embed_cosine_lsh_subset_on_sf_fixture). The production-
    threshold behavior stays pinned by the planted-fixture recall test
    calling dedup_embed_cosine_lsh at its 0.9 default. Recall at the
    demo threshold (cos 0.35 -> per-plane agreement p=0.61, per-table
    p^4=0.14, 6-table OR ~0.60) is probabilistic; the value-hash oracle
    checks the exact candidate set the fixed planes produce."""
    return dedup_embed_cosine_lsh(spark, sf_dir, threshold=_COSINE_THRESHOLD)


def exact_survivors(docs: DataFrame) -> DataFrame:
    """The exact dedup stage: (doc_id) keeping the lowest doc_id per
    md5(text). A MIN aggregate, not a row_number window: the aggregate
    partial-combines map-side and never sorts, where the window sorts
    every hash partition (same survivor set — min doc_id ≡ rn=1 under
    ORDER BY doc_id). DuckDB twin: EXACT_SURVIVORS_SQL."""
    return (
        docs.groupBy(F.md5("text").alias("h"))
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )


EXACT_SURVIVORS_SQL = "SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)"


def _drop_near_dups(survivors: DataFrame, pairs: DataFrame) -> DataFrame:
    """The keep policy: survivors minus the higher doc_id of every
    near-dup pair."""
    near_dups = pairs.select(F.col("doc_b").alias("doc_id")).distinct()
    return survivors.join(near_dups, on="doc_id", how="left_anti")


@query(
    "q_corpus_dedup",
    oracle=f"""
    WITH survivors AS ({EXACT_SURVIVORS_SQL}),
    near_dups AS (
        SELECT DISTINCT doc_b AS doc_id FROM ({jaccard_pairs_sql(_DF_CAP)})
    )
    SELECT doc_id FROM survivors
    WHERE doc_id NOT IN (SELECT doc_id FROM near_dups)
    """,
)
def q_corpus_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-to-end corpus dedup pass a training-data pipeline actually
    materializes — composition of the stages the other q_dedup_* queries
    expose individually:

    1. exact stage: keep the lowest doc_id per content hash (md5) —
       one hash aggregate, removes byte-identical copies.
    2. near-dup stage: drop every survivor that is the HIGHER doc_id of
       a 3-gram Jaccard pair ≥ 0.3 in the SHARED guarded pair relation
       (pair_overlaps: stop-shingle df_cap=50 over the raw corpus, one
       persisted computation reused by the whole dedup family).

    The near-dup stage reads the full-corpus pair relation rather than
    re-deriving pairs over the survivor subset; this is sound because
    exact duplicates have identical shingle sets — if survivor S is a
    near-dup of dropped doc D, then S is an equal-Jaccard near-dup of
    D's surviving twin (the min doc_id of D's hash class, which is
    < D), so the same survivor is dropped either way, and pairs whose
    higher id is a non-survivor are no-ops under the anti-join. DF
    pruning over the raw corpus is also the better stop-shingle
    estimator: boilerplate frequency should not depend on the dedup
    stage. The DuckDB oracle applies the identical semantics (full-
    corpus cap + pair set, anti-joined onto the survivors).

    Output: the surviving doc_ids (the corpus you'd train on). At scale
    stage 2 swaps in the MinHash+LSH candidate generator
    (q_dedup_minhash_lsh) with identical keep-policy plumbing; the exact
    variant here is the DuckDB-checkable ground truth."""
    survivors = exact_survivors(table(spark, sf_dir, "documents"))
    pairs = near_dup_pairs(pair_overlaps(spark, sf_dir, df_cap=_DF_CAP))
    return _drop_near_dups(survivors, pairs)


# DuckDB twin of q_corpus_dedup_lsh: the whole shipped composition —
# md5(text) exact stage, the MinHash pair body over the survivor
# shingles, higher-id drop — in one value-hashed query.
_CORPUS_DEDUP_LSH_ORACLE = f"""
WITH survivors AS ({EXACT_SURVIVORS_SQL}),
near_dups AS (
    SELECT DISTINCT doc_b AS doc_id FROM ({minhash_pairs_sql(
        f"SELECT s.doc_id, s.shingle FROM ({shingle_sql()}) s"
        " JOIN survivors USING (doc_id)"
    )})
)
SELECT doc_id FROM survivors
WHERE doc_id NOT IN (SELECT doc_id FROM near_dups)
"""


@query("q_corpus_dedup_lsh", oracle=_CORPUS_DEDUP_LSH_ORACLE)
def q_corpus_dedup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q_corpus_dedup with its near-dup stage swapped for the 100 TB
    candidate generator — the composition a training-data pipeline
    actually ships:

    1. exact stage: keep the lowest doc_id per md5(content) hash.
    2. MinHash signatures -> banded LSH buckets -> candidate pairs
       (shuffle ~ O(docs x bands), never O(pairs)) -> exact-Jaccard
       verification on candidates only -> drop the higher doc_id of
       every verified pair >= 0.3.

    The oracle value-hashes the whole composition, so a wiring bug
    between stages (banding the pre-dedup corpus, anti-joining on the
    wrong pair side) shows as a mismatch. The unit test also asserts the
    planted byte-dup and near-dup are dropped and that the survivor set
    CONTAINS q_corpus_dedup's (LSH candidates are a subset of the exact
    pair set, so LSH can only drop fewer docs — the recall trade is
    one-sided and auditable)."""
    survivors = exact_survivors(table(spark, sf_dir, "documents"))
    # NO broadcast hint: the survivors are corpus-cardinality (one row
    # per distinct text) — forcing them to every executor OOMs at the
    # 100 TB design point this operator exists for. AQE picks the build
    # side; at fixture scale it still broadcasts on its own.
    sh = shingle_index(spark, sf_dir).join(survivors, "doc_id", "semi")
    # UNFILTERED persist-once set relation: _verify_candidates INNER-
    # joins sets to the candidate list, and candidates only ever name
    # exact-stage survivors (bands come from the filtered index), while
    # a surviving doc's own shingle set / count is unchanged by the
    # doc-level filter — so pre-filtering sets is a semantic no-op that
    # would just re-run the exact-stage aggregate twice more
    near_pairs = _verify_candidates(
        sh, _candidate_pairs(minhash_bands(sh)), sets=shingle_sets(spark, sf_dir)
    )
    return _drop_near_dups(survivors, near_pairs)


_INCR_SPLIT_FRAC = 0.8  # stand-in: first 80% of doc_ids are "the corpus"

INCR_DEDUP_ORACLE = f"""
    WITH split AS (
        SELECT CAST(floor(max(doc_id) * {_INCR_SPLIT_FRAC}) AS BIGINT) AS cut
        FROM documents
    ),
    sh AS ({shingle_sql()}),
    sizes AS (
        SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM sh GROUP BY doc_id
    ),
    inter AS (
        SELECT n.doc_id AS new_doc, c.doc_id AS corpus_doc, count(*) AS n_inter
        FROM sh n JOIN sh c ON n.shingle = c.shingle, split
        WHERE n.doc_id > split.cut AND c.doc_id <= split.cut
        GROUP BY 1, 2
    )
    SELECT new_doc, corpus_doc,
           {roundn_sql(jaccard_sql('n_inter', 'sn.n', 'sc.n'), 6)} AS jaccard
    FROM inter
    JOIN sizes sn ON sn.doc_id = new_doc
    JOIN sizes sc ON sc.doc_id = corpus_doc
    WHERE {jaccard_sql('n_inter', 'sn.n', 'sc.n')} >= {_JACCARD_THRESHOLD}
    """


@query("q_dedup_incremental", oracle=INCR_DEDUP_ORACLE)
def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL dedup — the production shape: a batch of NEW documents
    (stand-in: the top 20% of doc_ids) checked against the EXISTING
    corpus index, never against itself. This is what a daily ingest
    actually runs; the full-corpus q_dedup_* passes are the bootstrap.

    The asymmetry is the scale win: the corpus side's shingle index is
    precomputed once and reused across batches (here both sides derive
    from one shingled relation — at 100 TB the corpus shingles live as a
    bucketed table keyed by shingle, so each increment joins without
    re-shuffling history). Join fan-out is |new shingles| x
    per-shingle corpus frequency, bounded by the same stop-shingle
    df_cap guard as the batch path when needed. Output: (new_doc,
    corpus_doc, jaccard) pairs >= 0.3 — the docs an ingest gate would
    reject or route to review."""
    docs = table(spark, sf_dir, "documents")
    cut = docs.agg(
        F.floor(F.max("doc_id") * _INCR_SPLIT_FRAC).cast("long").alias("cut")
    )
    sh = shingle_index(spark, sf_dir).join(F.broadcast(cut))
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    new_sh = sh.filter(F.col("doc_id") > F.col("cut")).select(
        F.col("doc_id").alias("new_doc"), "shingle"
    )
    corpus_sh = sh.filter(F.col("doc_id") <= F.col("cut")).select(
        F.col("doc_id").alias("corpus_doc"), "shingle"
    )
    inter = (
        new_sh.join(corpus_sh, "shingle")
        .groupBy("new_doc", "corpus_doc")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    return _over_threshold(
        inter.join(
            sizes.select(F.col("doc_id").alias("new_doc"), F.col("n_sh").alias("n_n")),
            "new_doc",
        ).join(
            sizes.select(
                F.col("doc_id").alias("corpus_doc"), F.col("n_sh").alias("n_c")
            ),
            "corpus_doc",
        ),
        jaccard("n_inter", "n_n", "n_c"),
        _JACCARD_THRESHOLD,
        keys=("new_doc", "corpus_doc"),
    )


@query(
    "q_source_overlap_matrix",
    oracle=f"""
    WITH pairs AS ({jaccard_pairs_sql(_DF_CAP)})
    SELECT least(da.source, db.source) AS source_lo,
           greatest(da.source, db.source) AS source_hi,
           CAST(count(*) AS BIGINT) AS n_pairs
    FROM pairs
    JOIN documents da ON da.doc_id = doc_a
    JOIN documents db ON db.doc_id = doc_b
    GROUP BY source_lo, source_hi
    """,
)
def q_source_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source duplication matrix — the corpus-governance question
    ("how much does source A duplicate source B?") asked before choosing
    mix weights: near-dup pairs (the df_cap-guarded exact Jaccard pass)
    rolled up by unordered source pair. A heavy diagonal means
    within-source redundancy (dedup there first); heavy off-diagonal
    cells mean two feeds crawl the same content and one should be
    down-weighted or decontaminated against the other.

    Plan: everything heavy is the shared persisted pair relation
    (pair_overlaps), already guarded and computed once per corpus. The
    source lookups join the pair relation (orders of magnitude smaller
    than the corpus) against the (doc_id, source) projection — the pair
    side is the SMALL/build side, so no hint is given: AQE broadcasts
    the pair side when it fits and falls back to a shuffled hash join
    keyed on doc_id otherwise. (A broadcast hint on the docs projection
    — corpus cardinality — would OOM at 100 TB.) The rollup aggregates
    |sources|² rows at most."""
    docs = table(spark, sf_dir, "documents").select("doc_id", "source")
    pairs = near_dup_pairs(pair_overlaps(spark, sf_dir, df_cap=_DF_CAP))
    sa = docs.select(
        F.col("doc_id").alias("doc_a"), F.col("source").alias("src_a")
    )
    sb = docs.select(
        F.col("doc_id").alias("doc_b"), F.col("source").alias("src_b")
    )
    return (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .groupBy(
            F.least("src_a", "src_b").alias("source_lo"),
            F.greatest("src_a", "src_b").alias("source_hi"),
        )
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )
