"""Similarity search over the embeddings table (BASELINE.json north star):
exact brute-force cosine top-k as the correctness baseline, and a
random-hyperplane LSH variant as the scale path.

Both are pure DataFrame plans. The vector math (functions/vectors.py)
lives in higher-order functions (zip_with/aggregate — JVM, no Python):
at 64 dims the dot product is a tight codegen loop. The exact twins
broadcast their small query side, so the 100 TB corpus never shuffles
for scoring; the blocked-LSH family leaves its data-proportional query
side to the planner.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from bitcoinminingetl_spark.catalog import table
from bitcoinminingetl_spark.functions.numeric import (
    davg,
    davg_sql,
    roundn,
    roundn_sql,
)
from bitcoinminingetl_spark.functions.vectors import (
    COSINE_SQL,
    bucket_rows_sql,
    cosine,
    dot,
    md5_planes,
    norm_sql,
    sign_bucket_udf,
    usable_norm_sql,
)
from bitcoinminingetl_spark.operators.dedup import normed_embeddings
from bitcoinminingetl_spark.registry import query

_N_QUERIES = 5  # query set: vec_id < 5
_TOP_K = 10


def _top_k(scored: DataFrame, key: str, other: str, k: int) -> DataFrame:
    """Per-`key` top-k of a scored pair relation by rounded cosine, ties
    broken by the `other` id; `rn` is the long rank."""
    w = Window.partitionBy(key).orderBy(F.col("cosine").desc(), F.col(other))
    return (
        scored.withColumn("rn", F.row_number().over(w).cast("long"))
        .filter(F.col("rn") <= k)
    )


def _top_k_sql(scored: str, key: str, other: str, k: int, cols: str) -> str:
    """DuckDB twin of _top_k over the relation `scored`, projecting
    `cols` plus the BIGINT rank `rn`."""
    return f"""
    SELECT {cols}, CAST(rn AS BIGINT) AS rn FROM (
        SELECT *, row_number() OVER (
            PARTITION BY {key} ORDER BY cosine DESC, {other}) AS rn
        FROM {scored}
    ) WHERE rn <= {k}"""


@query(
    "q_cosine_topk",
    oracle=f"""
    WITH q AS (SELECT * FROM embeddings
               WHERE vec_id < {_N_QUERIES} AND {usable_norm_sql("embeddings")}),
    scored AS (
        SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
               {COSINE_SQL} AS cosine
        FROM q a JOIN embeddings b ON a.vec_id <> b.vec_id
        WHERE {usable_norm_sql("b")}
    )
    {_top_k_sql("scored", "query_id", "neighbor_id", _TOP_K, "query_id, neighbor_id, cosine")}
    """,
)
def q_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact brute-force cosine top-10 for 5 query vectors: broadcast the
    query set against the corpus scan, score with a codegen'd fold, rank
    per query on the 6-dp-rounded score (+ id tiebreak). The plan shape
    at 100 TB: corpus-side narrow scan, per-partition top-k via the
    window, k·|queries| rows into the final exchange."""
    emb = normed_embeddings(spark, sf_dir)
    q = emb.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.col("norm").alias("q_norm"),
    )
    scored = (
        emb.join(F.broadcast(q), F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            cosine("q_emb", "embedding", "q_norm", "norm").alias("cosine"),
        )
    )
    return _top_k(scored, "query_id", "neighbor_id", _TOP_K)


_ANN_BITS = 8  # one table of 8 sign planes: 256 buckets
_ANN_PLANES = md5_planes("annplane", 1, _ANN_BITS)


@query(
    "q_ann_lsh",
    oracle=f"""
    WITH base AS (SELECT * FROM embeddings e WHERE {usable_norm_sql("e")}),
    bk AS ({bucket_rows_sql(_ANN_PLANES, _ANN_BITS, "base", "vec_id")}),
    scored AS (
        SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
               {COSINE_SQL} AS cosine
        FROM bk qb
        JOIN bk nb ON qb.bkt = nb.bkt AND qb.vec_id <> nb.vec_id
        JOIN embeddings a ON a.vec_id = qb.vec_id
        JOIN embeddings b ON b.vec_id = nb.vec_id
        WHERE qb.vec_id < {_N_QUERIES}
    )
    {_top_k_sql("scored", "query_id", "neighbor_id", _TOP_K, "query_id, neighbor_id, cosine")}
    """,
)
def q_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate nearest neighbors via random-hyperplane LSH: corpus and
    queries get an 8-bit sign bucket (one table of the sign-bucket
    kernel); candidates are an equi-join on the bucket id (shuffle
    ~ O(n), not O(n·q)); exact cosine re-ranks only candidates. Recall
    < 1 by construction — the unit test checks every returned neighbor
    agrees with the exact q_cosine_topk scoring for its query."""
    bucket_of = sign_bucket_udf(_ANN_PLANES, _ANN_BITS)
    emb = normed_embeddings(spark, sf_dir).withColumn(
        "bucket", bucket_of(F.col("embedding"))[0]
    )
    q = emb.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.col("norm").alias("q_norm"),
        F.col("bucket").alias("q_bucket"),
    )
    cand = emb.join(
        F.broadcast(q),
        (F.col("bucket") == F.col("q_bucket")) & (F.col("vec_id") != F.col("query_id")),
    )
    scored = cand.select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        cosine("q_emb", "embedding", "q_norm", "norm").alias("cosine"),
    )
    return _top_k(scored, "query_id", "neighbor_id", _TOP_K)


_N_CELLS = 16
_N_PROBE = 4


def ivf_centroids(spark: SparkSession, emb: DataFrame) -> DataFrame:
    """The IVF coarse quantizer's centroid relation: the first _N_CELLS
    usable corpus vectors by vec_id, unit-normalized driver-side (a
    ≤16-row collect — the kmeans-init bootstrap pattern; at 100 TB this
    is a sampled kmeans fit). The python-float normalization is the
    SAME left-fold double arithmetic as the DuckDB oracle's list_reduce
    (sum() from 0.0 and a fold from the first element agree exactly in
    IEEE), which is what lets the deterministic-quantizer consumers
    (q_cluster_keywords_ivf) carry a full value-hash oracle. Shared by
    q_ann_ivf and q_cluster_keywords_ivf."""
    cent_rows = (
        emb.orderBy("vec_id").limit(_N_CELLS).select("embedding").collect()
    )
    data = []
    for i, r in enumerate(cent_rows):
        v = [float(x) for x in r.embedding]
        nrm = sum(x * x for x in v) ** 0.5 or 1.0
        data.append((i, [x / nrm for x in v]))
    return spark.createDataFrame(data, "cell int, c_emb array<double>")


# Deterministic-quantizer dot against the centroid relation — the same
# left-fold double arithmetic as vectors.dot (see ivf_centroids /
# q_cluster_keywords_ivf for the IEEE parity argument).
_IVF_CELL_DOT = (
    "list_reduce(list_transform(generate_series(1, len(a.embedding)), "
    "i -> CAST(a.embedding[i] AS DOUBLE) * b.c_emb[i]), (x, y) -> x + y)"
)

_ANN_IVF_ORACLE = f"""
    WITH cents AS MATERIALIZED (
        SELECT row_number() OVER (ORDER BY e.vec_id) - 1 AS cell,
               list_transform(CAST(e.embedding AS DOUBLE[]),
                              v -> v / {norm_sql('e')}) AS c_emb
        FROM (SELECT vec_id, embedding FROM embeddings e
              WHERE {usable_norm_sql('e')}
              ORDER BY vec_id LIMIT {_N_CELLS}) e
    ),
    scored_cells AS MATERIALIZED (
        SELECT a.vec_id, b.cell, {_IVF_CELL_DOT} AS sim
        FROM embeddings a, cents b
        WHERE {usable_norm_sql('a')}
    ),
    asgn AS MATERIALIZED (
        SELECT vec_id, cell FROM (
            SELECT vec_id, cell,
                   row_number() OVER (PARTITION BY vec_id
                                      ORDER BY sim DESC, cell) AS rn
            FROM scored_cells
        ) WHERE rn = 1
    ),
    probes AS (
        SELECT vec_id AS query_id, cell AS q_cell FROM (
            SELECT vec_id, cell,
                   row_number() OVER (PARTITION BY vec_id
                                      ORDER BY sim DESC, cell) AS pr
            FROM scored_cells WHERE vec_id < {_N_QUERIES}
        ) WHERE pr <= {_N_PROBE}
    ),
    cand AS (
        SELECT p.query_id, g.vec_id AS neighbor_id
        FROM probes p
        JOIN asgn g ON g.cell = p.q_cell AND g.vec_id <> p.query_id
    ),
    scored AS (
        SELECT c.query_id, c.neighbor_id,
               {COSINE_SQL} AS cosine
        FROM cand c
        JOIN embeddings a ON a.vec_id = c.query_id
        JOIN embeddings b ON b.vec_id = c.neighbor_id
    )
    SELECT query_id, neighbor_id, cosine, rn FROM (
        SELECT query_id, neighbor_id, cosine,
               CAST(row_number() OVER (PARTITION BY query_id
                                       ORDER BY cosine DESC, neighbor_id)
                    AS BIGINT) AS rn
        FROM scored
    ) WHERE rn <= {_TOP_K}
"""


@query("q_ann_ivf", oracle=_ANN_IVF_ORACLE)
def q_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate nearest neighbors via IVF (inverted-file) cells — the
    other classic ANN scale path next to q_ann_lsh:

    1. coarse quantizer: _N_CELLS centroids (here: the first 16 corpus
       vectors by vec_id, unit-normalized driver-side — a 16-row collect,
       the kmeans-init bootstrap pattern; at 100 TB this is a sampled
       kmeans fit). Centroids travel as a small broadcast DataFrame, NOT
       plan literals — a literal-array plan was benched 2.4x slower
       (compile cost) and caps out at tens of cells; the broadcast join
       scales to thousands.
    2. cell scoring: corpus × broadcast(centroids) cross join scores every
       (vector, centroid) pair with a codegen'd fold — no shuffle of the
       corpus; assignment = max(struct(sim, cell)) per vector.
    3. query side: each query probes its _N_PROBE best cells (nprobe=4 of
       16 → ~25% of the corpus scored instead of 100%).
    4. candidates = equi-join corpus.cell == probe.cell (broadcast: the
       query set is small); exact cosine re-ranks candidates, top-k per
       query.

    Recall < 1 by construction; the unit test cross-checks scores against
    the exact ranking and requires recall@10 above a floor.

    CONVERTED rows-only -> full value-hash oracle (r9 VERDICT item 6):
    the quantizer is the deterministic first-16 bootstrap, so cell
    assignment, probe ranking and re-rank are all pure functions of the
    embeddings view — the same argmax-of-left-fold-doubles parity
    q_cluster_keywords_ivf's hash gate already proved cross-engine. The
    KMeans-fitted variant (q_ann_ivf_kmeans) stays rows-only: its cells
    are an engine-side artifact of the MLlib fit."""
    emb = normed_embeddings(spark, sf_dir)
    cents = ivf_centroids(spark, emb)

    scored_cells = emb.crossJoin(F.broadcast(cents)).withColumn(
        "sim", dot(F.col("embedding"), F.col("c_emb"))
    )
    corpus = (
        scored_cells.groupBy("vec_id")
        .agg(
            # negated cell id: max(struct) prefers the HIGHEST second
            # field on sim ties, but the probe ranking below orders
            # (sim DESC, cell ASC) — without the negation, duplicate
            # centroids send all vectors to the high cell while queries
            # probe the low one first, silently zeroing recall there
            F.max(
                F.struct(F.col("sim"), (-F.col("cell")).alias("negcell"))
            ).alias("best"),
            # embedding/norm are functionally dependent on vec_id: every
            # row in the group carries the same value, so first() is safe
            F.first("embedding").alias("embedding"),
            F.first("norm").alias("norm"),
        )
        .select(
            "vec_id",
            "embedding",
            "norm",
            (-F.col("best.negcell")).cast("int").alias("cell"),
        )
    )
    wq = Window.partitionBy("vec_id").orderBy(F.col("sim").desc(), F.col("cell"))
    probes = (
        scored_cells.filter(F.col("vec_id") < _N_QUERIES)
        .withColumn("pr", F.row_number().over(wq))
        .filter(F.col("pr") <= _N_PROBE)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("q_emb"),
            F.col("norm").alias("q_norm"),
            F.col("cell").alias("q_cell"),
        )
    )
    cand = corpus.join(
        F.broadcast(probes),
        (F.col("cell") == F.col("q_cell")) & (F.col("vec_id") != F.col("query_id")),
    )
    scored = cand.select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        cosine("q_emb", "embedding", "q_norm", "norm").alias("cosine"),
    )
    return _top_k(scored, "query_id", "neighbor_id", _TOP_K)


@query(
    "q_embed_centroids",
    oracle=f"""
    WITH e AS (
        SELECT label,
               unnest(embedding) AS x,
               unnest(generate_series(1, len(embedding))) AS pos
        FROM embeddings
    ), per AS (
        -- CAST to DOUBLE before the decimal quantization: DuckDB casts
        -- FLOAT->DECIMAL via the float's shortest decimal rendering,
        -- Spark promotes to double first — one ulp apart at 4 dp.
        SELECT label, pos, {davg_sql('CAST(x AS DOUBLE)')} AS c,
               CAST(count(*) AS BIGINT) AS n
        FROM e GROUP BY label, pos
    )
    SELECT label,
           CAST(max(n) AS BIGINT) AS n_vecs,
           -- COALESCE the rendered token: printf('%.6f', NULL) is NULL and
           -- array_to_string silently DROPS null elements, which would
           -- shift every later dimension exactly in the poisoned-dimension
           -- case; the Spark side emits a positional "null" token instead
           -- (array_join null replacement) and the oracle must match it.
           array_to_string(
               list_transform(list(c ORDER BY pos),
                              x -> COALESCE(printf('%.6f', x), 'null')), ','
           ) AS centroid_csv
    FROM per GROUP BY label
    """,
)
def q_embed_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding centroids — the distributed vector-mean that
    is the reduce step of k-means / the class-prototype computation in
    embedding-space corpus curation. posexplode flattens vectors to
    (label, dim, component) so the mean is an ordinary hash aggregate on
    (label, dim) — 64 small keys per vector instead of any vector UDAF —
    then one more tiny aggregate reassembles the centroid array in
    dimension order (array_sort over (pos, c) structs, field-order
    comparison). Shuffle volume is exactly the per-(label, dim) partial
    sums — executors pre-aggregate locally, so at 100 TB the exchange
    carries |labels| x dims rows, not the corpus. Component means go
    through decimal-quantized davg for cross-engine bit-stability."""
    emb = table(spark, sf_dir, "embeddings")
    per = (
        emb.select("label", F.posexplode("embedding").alias("pos", "x"))
        .groupBy("label", "pos")
        .agg(
            davg(F.col("x").cast("double")).alias("c"),
            F.count(F.lit(1)).alias("n"),
        )
    )
    # The centroid array is reassembled (array_sort over (pos, c) structs)
    # and then final-projected to a CSV string: the driver canonicalizer
    # cannot hash array cells, and the components are 6-dp davg outputs so
    # %.6f renders identically on both engines.
    return per.groupBy("label").agg(
        F.max("n").cast("long").alias("n_vecs"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "c"))),
                lambda s: F.format_string("%.6f", s["c"]),
            ),
            ",",
            # a poisoned dimension (davg exact-or-NULL) renders as a
            # positional "null" token — array_join would otherwise DROP
            # the NULL element and silently shift every later dimension
            "null",
        ).alias("centroid_csv"),
    )


# Residuals are bounded by scale/2, so (scale/2)^2 must fit
# DECIMAL(28,12)'s 16 integer digits: scale < 1e8 keeps every term
# (2.5e15 max) and the 64-term DECIMAL(38,12) accumulator in range.
_QUANT_SCALE_MAX = 1e8


@query(
    "q_embed_quantize",
    oracle=f"""
    WITH dv AS (
        SELECT vec_id,
               list_transform(embedding, v -> CAST(v AS DOUBLE)) AS dv
        FROM embeddings
    ),
    s AS (
        SELECT vec_id, dv,
               list_max(list_transform(dv, v -> abs(v))) / 127.0 AS scale
        FROM dv
    )
    SELECT vec_id,
           {roundn_sql('scale', 8)} AS scale,
           {roundn_sql(
               "CASE WHEN scale > 0 AND scale < 1e8 "
               "THEN CAST(list_sum(list_transform(dv, "
               "x -> CAST((x - round(x / scale) * scale) "
               "* (x - round(x / scale) * scale) AS DECIMAL(28,12)))) "
               "AS DOUBLE) / len(dv) END", 10)} AS mse,
           CAST(CASE WHEN scale > 0 AND scale < 1e8
                THEN len(list_filter(dv, x -> round(x / scale) != 0))
                END AS BIGINT) AS nnz
    FROM s
    """,
)
def q_embed_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 quantization of the embedding column — the storage/
    serving compression pass of an embedding pipeline — reporting the
    per-vector scale, reconstruction MSE, and quantized non-zero count
    (q = round(x/scale), scale = max|x|/127).

    All vector math stays in higher-order functions over the array —
    map-only, zero shuffles, no Python — so at 100 TB this is a narrow
    projection that pipelines with the scan. The squared errors are
    quantized to DECIMAL(28,12) and summed with a decimal accumulator,
    making the sum independent of both addition order and libm (the
    error terms use x*x, not pow, because pow is not IEEE-pinned and can
    differ by an ulp between the JVM and C runtimes); the oracle mirrors
    the same decimal reduction, so mse is bit-stable at 10 dp. The
    quantized vectors themselves stay internal (array cells cannot be
    driver-hashed); a real sink would emit transform(dv, x ->
    CAST(round(x/scale) AS TINYINT)) alongside the scale."""
    emb = table(spark, sf_dir, "embeddings")
    base = emb.select(
        "vec_id",
        F.expr("transform(embedding, v -> CAST(v AS DOUBLE))").alias("dv"),
    ).withColumn(
        "scale", F.expr("array_max(transform(dv, v -> abs(v))) / 127.0D")
    )
    sqerr = F.expr(
        "CAST(aggregate(dv, CAST(0 AS DECIMAL(38,12)), (acc, x) -> "
        "CAST(acc + CAST((x - round(x / scale) * scale) "
        "* (x - round(x / scale) * scale) AS DECIMAL(28,12)) "
        "AS DECIMAL(38,12))) AS DOUBLE)"
    )
    nnz = F.expr("size(filter(dv, x -> round(x / scale) <> 0))")
    # Quantizability window: scale <= 0 (zero vector) has nothing to
    # quantize, and scale >= 1e8 means per-element residuals (up to
    # scale/2) square past DECIMAL(28,12)'s integer digits — and NaN/Inf
    # scales (corrupt components; NaN orders GREATER than everything in
    # Spark, so "> 0" alone admits it) fall outside the window too.
    # Outside it mse/nnz are NULL: exact-or-NULL, never an ANSI crash.
    ok = (F.col("scale") > 0) & (F.col("scale") < _QUANT_SCALE_MAX)
    return base.select(
        "vec_id",
        roundn(F.col("scale"), 8).alias("scale"),
        roundn(F.when(ok, sqerr / F.size("dv")), 10).alias("mse"),
        F.when(ok, nnz).cast("long").alias("nnz"),
    )


# ---------------------------------------------------------------------------
# k-NN JOIN: corpus-vs-corpus nearest neighbors. Distinct from
# q_cosine_topk's broadcast-query shape — here BOTH sides are
# corpus-cardinality, so the scale path must block (LSH buckets on both
# sides) instead of broadcasting; the exact variant is the guarded
# ground-truth twin, mirroring the dedup family's exact/LSH pairing.
# ---------------------------------------------------------------------------

_KNN_K = 3
_KNN_MOD = 50  # query side: vec_id % 50 == 0 (a 2% sample of the corpus)


@query(
    "q_knn_join",
    oracle=f"""
    WITH a AS (SELECT * FROM embeddings
               WHERE vec_id % {_KNN_MOD} = 0 AND {usable_norm_sql("embeddings")}),
    b AS (SELECT * FROM embeddings
          WHERE vec_id % {_KNN_MOD} <> 0 AND {usable_norm_sql("embeddings")}),
    scored AS (
        SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
               {COSINE_SQL} AS cosine
        FROM a JOIN b ON true
    )
    {_top_k_sql("scored", "query_id", "neighbor_id", _KNN_K, "query_id, neighbor_id, cosine")}
    """,
)
def q_knn_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact k-NN join (ground-truth twin): for every 50th vector, its 3
    nearest neighbors among the rest of the corpus by cosine.

    GUARDED all-pairs — this is the oracle twin the LSH variant is
    measured against, like q_dedup_ngram_jaccard vs _minhash_lsh. The
    query side (2% of the corpus) broadcasts, so the probe side never
    shuffles, but candidate count is |A|·|B| and the plan is declared
    unshippable past ~10^4 query rows; q_knn_join_lsh is the scale path.
    Per-query top-k via window on the broadcast-joined relation: each
    probe partition ranks locally, k·|A| rows reach the final exchange."""
    emb = normed_embeddings(spark, sf_dir)
    a = emb.filter(F.col("vec_id") % _KNN_MOD == 0).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.col("norm").alias("q_norm"),
    )
    b = emb.filter(F.col("vec_id") % _KNN_MOD != 0)
    scored = b.join(F.broadcast(a)).select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        cosine("q_emb", "embedding", "q_norm", "norm").alias("cosine"),
    )
    return _top_k(scored, "query_id", "neighbor_id", _KNN_K)


_KNN_TABLES = 4  # OR-amplification: 4 independent 6-plane hash tables
_KNN_BITS = 6
_KNN_PLANES = md5_planes("knnplane", _KNN_TABLES, _KNN_BITS)


def _lsh_scored(spark: SparkSession, sf_dir: str, q_id: str, n_id: str) -> DataFrame:
    """The blocked-candidate skeleton of the sign-bucket family
    (q_knn_join_lsh, q_hard_negatives_lsh, q_bitext_mine_lsh): bucket
    explode → narrow (table, bucket) id equi-join → vector re-attach →
    exact rounded cosine. The query side is the vec_id % 50 == 0
    sample. Returns (q_id, n_id, q_label, n_label, cosine); each query
    adds its own tail. DuckDB twin: _lsh_scored_sql.

    Plan doctrine (also why this beats the naive "carry the vectors
    through the bucket join" shape): the bucket relation is (id, table,
    bucket) — 12 bytes of payload — so the candidate join shuffles
    O(n·tables) slim rows and the cross-table duplicate collapse is a
    distinct on two longs. Vectors rejoin ONCE per side afterwards by
    key. The query side is 2% of the corpus — data-proportional — so no
    join strategy is forced: AQE broadcasts it while it is under the
    threshold and shuffles it past that. At 100 TB the candidate pair
    relation is the only growing intermediate, and it is two-long rows.

    The normed load drops zero-norm and non-finite vectors before
    bucketing, so neither the candidate join nor the cosine re-rank
    ever divides by zero."""
    emb = normed_embeddings(spark, sf_dir)
    bucket_of = sign_bucket_udf(_KNN_PLANES, _KNN_BITS)

    def bucketed(df, idcol):
        return df.select(
            F.col("vec_id").alias(idcol),
            F.posexplode(bucket_of(F.col("embedding"))).alias(
                f"{idcol}_t", f"{idcol}_bkt"
            ),
        )

    def vectors(df, p):
        return df.select(
            F.col("vec_id").alias(f"{p}_id"),
            F.col("embedding").alias(f"{p}_emb"),
            F.col("norm").alias(f"{p}_norm"),
            F.col("label").alias(f"{p}_label"),
        )

    q_side = emb.filter(F.col("vec_id") % _KNN_MOD == 0)
    n_side = emb.filter(F.col("vec_id") % _KNN_MOD != 0)
    cand = (
        bucketed(q_side, q_id)
        .join(
            bucketed(n_side, n_id),
            (F.col(f"{q_id}_t") == F.col(f"{n_id}_t"))
            & (F.col(f"{q_id}_bkt") == F.col(f"{n_id}_bkt")),
        )
        .select(q_id, n_id)
        .distinct()
    )
    qv = vectors(q_side, "q")
    nv = vectors(n_side, "n")
    return (
        cand.join(qv, cand[q_id] == qv.q_id)
        .join(nv, cand[n_id] == nv.n_id)
        .select(
            q_id,
            n_id,
            "q_label",
            "n_label",
            cosine("q_emb", "n_emb", "q_norm", "n_norm").alias("cosine"),
        )
    )


def _lsh_scored_sql(q_id: str, n_id: str) -> str:
    """DuckDB twin of _lsh_scored: the CTEs `base`, `bk`, `cand` and
    `scored` (q_id, n_id, q_label, n_label, cosine). `scored` is
    materialized: inlined, a caller's label predicate moves into the
    vector re-attach and DuckDB joins the two embeddings scans on it
    before the candidates (3 s instead of 0.3 s at sf0.1)."""
    return f"""base AS (
        SELECT * FROM embeddings e WHERE {usable_norm_sql("e")}
    ),
    bk AS ({bucket_rows_sql(_KNN_PLANES, _KNN_BITS, "base", "vec_id")}),
    cand AS (
        SELECT DISTINCT a.vec_id AS {q_id}, b.vec_id AS {n_id}
        FROM bk a JOIN bk b ON a.tbl = b.tbl AND a.bkt = b.bkt
        WHERE a.vec_id % {_KNN_MOD} = 0 AND b.vec_id % {_KNN_MOD} <> 0
    ),
    scored AS MATERIALIZED (
        SELECT c.{q_id}, c.{n_id}, a.label AS q_label, b.label AS n_label,
               {COSINE_SQL} AS cosine
        FROM cand c
        JOIN embeddings a ON a.vec_id = c.{q_id}
        JOIN embeddings b ON b.vec_id = c.{n_id}
    )"""


@query(
    "q_knn_join_lsh",
    oracle=f"""
    WITH {_lsh_scored_sql("query_id", "neighbor_id")}
    {_top_k_sql("scored", "query_id", "neighbor_id", _KNN_K, "query_id, neighbor_id, cosine")}
    """,
)
def q_knn_join_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked k-NN join — the shippable corpus-vs-corpus shape: both
    sides hash into 4 independent 6-plane sign-bucket tables (OR
    amplification); candidates are the equi-join on (table, bucket) over
    NARROW id rows; exact cosine re-ranks only the survivors after the
    vectors are re-attached by key (_lsh_scored).

    Recall math at the design point (semantic corpora, neighbor cosine
    ≥0.9): per-plane collision 1-θ/π ≈ 0.856, per-table 0.856^6 ≈ 0.394,
    across 4 OR'd tables 1-(1-0.394)^4 ≈ 0.87 per true pair. On the
    isotropic fixture (neighbor cosine ≈0.34) the same config gives
    ≈0.19 — the planted-cluster test pins the former, a recall-floor
    assertion the latter."""
    scored = _lsh_scored(spark, sf_dir, "query_id", "neighbor_id")
    return _top_k(
        scored.select("query_id", "neighbor_id", "cosine"),
        "query_id",
        "neighbor_id",
        _KNN_K,
    )


_HN_K = 3  # hard negatives per anchor


@query(
    "q_hard_negatives",
    oracle=f"""
    WITH a AS (SELECT * FROM embeddings
               WHERE vec_id % {_KNN_MOD} = 0 AND {usable_norm_sql("embeddings")}),
    b AS (SELECT * FROM embeddings
          WHERE vec_id % {_KNN_MOD} <> 0 AND {usable_norm_sql("embeddings")}),
    scored AS (
        SELECT a.vec_id AS anchor_id, b.vec_id AS negative_id,
               b.label AS negative_label,
               {COSINE_SQL} AS cosine
        FROM a JOIN b ON a.label IS DISTINCT FROM b.label
    )
    {_top_k_sql("scored", "anchor_id", "negative_id", _HN_K,
                "anchor_id, negative_id, negative_label, cosine")}
    """,
)
def q_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HARD-NEGATIVE MINING, exact ground-truth twin: for every anchor
    (the 2% vec_id sample), the k most-similar vectors with a DIFFERENT
    label. Contrastive training (retrieval embedders, CLIP-style dual
    encoders, rerankers) is only as good as its negatives — random
    negatives are trivially separable, so the pipeline op that matters
    mines the highest-cosine wrong-label vectors, exactly this query's
    output. It is q_knn_join with one extra predicate, inherited
    guardrails included (normed_embeddings drops zero-norm/non-finite
    vectors): the label-inequality join condition uses null-safe
    semantics (IS DISTINCT FROM / ~eqNullSafe) so unlabeled vectors
    count as negatives for every labeled anchor rather than silently
    vanishing.

    GUARDED all-pairs like its parent — |A|·|B| candidates with the
    anchor side broadcast; declared unshippable past ~10^4 anchors;
    q_hard_negatives_lsh is the scale path this twin measures."""
    emb = normed_embeddings(spark, sf_dir)
    a = emb.filter(F.col("vec_id") % _KNN_MOD == 0).select(
        F.col("vec_id").alias("anchor_id"),
        F.col("embedding").alias("q_emb"),
        F.col("norm").alias("q_norm"),
        F.col("label").alias("q_label"),
    )
    b = emb.filter(F.col("vec_id") % _KNN_MOD != 0)
    scored = b.join(
        F.broadcast(a), ~F.col("q_label").eqNullSafe(F.col("label"))
    ).select(
        "anchor_id",
        F.col("vec_id").alias("negative_id"),
        F.col("label").alias("negative_label"),
        cosine("q_emb", "embedding", "q_norm", "norm").alias("cosine"),
    )
    return _top_k(scored, "anchor_id", "negative_id", _HN_K)


# The label-inequality predicate applied at re-rank time, module-level
# (not inline) so the mutation gate can drop it and prove the planted
# same-label-reject test goes red — the regression class is a refactor
# losing the one predicate that makes these negatives NEGATIVES.
def _hn_label_keep(q_label: Column, n_label: Column) -> Column:
    return ~q_label.eqNullSafe(n_label)


@query(
    "q_hard_negatives_lsh",
    oracle=f"""
    WITH {_lsh_scored_sql("anchor_id", "negative_id")},
    negs AS (
        SELECT anchor_id, negative_id, n_label AS negative_label, cosine
        FROM scored WHERE q_label IS DISTINCT FROM n_label
    )
    {_top_k_sql("negs", "anchor_id", "negative_id", _HN_K,
                "anchor_id, negative_id, negative_label, cosine")}
    """,
)
def q_hard_negatives_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining at corpus scale: q_knn_join_lsh's blocked
    candidate generator (4 OR'd 6-plane sign-bucket tables, narrow
    id-only candidate join, vectors re-attached only for the exact
    re-rank) with the label-inequality filter applied at re-rank time.
    The filter deliberately does NOT enter the bucketing: sign buckets
    are label-blind, so candidates arrive label-mixed and the predicate
    costs one codegen'd comparison on the already-joined rows — whereas
    label-partitioned tables would need per-label bucket joins and
    re-shuffle the corpus per distinct label. Same two-long-row growth
    contract as the parent; the planted test pins that a same-label
    near-twin is rejected while the cross-label nearest vector
    survives, and the recall floor is asserted against the exact
    twin."""
    scored = _lsh_scored(spark, sf_dir, "anchor_id", "negative_id")
    return _top_k(
        scored.filter(_hn_label_keep(F.col("q_label"), F.col("n_label"))).select(
            "anchor_id",
            "negative_id",
            F.col("n_label").alias("negative_label"),
            "cosine",
        ),
        "anchor_id",
        "negative_id",
        _HN_K,
    )


_BT_K = 4  # neighborhood size for the margin denominators
_BT_MARGIN = 1.35  # keep threshold on the ratio margin. Sized so the
# oracle check exercises BOTH branches at every fixture SF (measured
# kept/best-pairs: 8/10 at sf0.001, 8/10 at sf0.01, 8/40 at sf0.1).
# r13 (ORACLE_SF01 receipt finding): the previous 1.45 sat above
# sf0.1's margin ceiling (~1.424 — denser corpora pull neighborhood
# averages toward the best pair, compressing margins toward 1), so the
# 10x check matched on zero rows; 1.45 also let every sf0.01 best pair
# through, leaving the filter's reject branch unexercised at the
# driver's own SF. Production mining uses margins near 1.06 (CCMatrix)
# for exactly this density reason.

_BT_AVG_SQL = """
    CAST(sum(CASE WHEN {rn} <= {k} THEN CAST(cosine AS DECIMAL(18,6)) END)
             OVER (PARTITION BY {key}) AS DOUBLE)
    / CAST(count(CASE WHEN {rn} <= {k} THEN 1 END)
             OVER (PARTITION BY {key}) AS DOUBLE)
"""


def _margin_rank_sql(scored: str) -> str:
    """DuckDB twin of _margin_rank over the (src_id, tgt_id, cosine, ...)
    relation `scored`: the CTEs `ranked`, `avgd`, `margins` and the
    final best-per-source select."""
    return f"""ranked AS (
        SELECT *,
            row_number() OVER (
                PARTITION BY src_id ORDER BY cosine DESC, tgt_id) AS fwd_rn,
            row_number() OVER (
                PARTITION BY tgt_id ORDER BY cosine DESC, src_id) AS bwd_rn
        FROM {scored}
    ),
    avgd AS (
        SELECT *,
            {_BT_AVG_SQL.format(rn='fwd_rn', k=_BT_K, key='src_id')} AS fwd_avg,
            {_BT_AVG_SQL.format(rn='bwd_rn', k=_BT_K, key='tgt_id')} AS bwd_avg
        FROM ranked
    ),
    margins AS (
        SELECT src_id, tgt_id, cosine,
            CASE WHEN (fwd_avg + bwd_avg) / 2.0 > 0 THEN
                {roundn_sql('cosine / ((fwd_avg + bwd_avg) / 2.0)', 6)}
            END AS margin
        FROM avgd
    )
    SELECT src_id, tgt_id, cosine, margin FROM (
        SELECT *, row_number() OVER (
            PARTITION BY src_id ORDER BY margin DESC, tgt_id) AS rn
        FROM margins WHERE margin IS NOT NULL
    ) WHERE rn = 1 AND margin >= {_BT_MARGIN}"""


@query(
    "q_bitext_mine",
    oracle=f"""
    WITH s AS (SELECT * FROM embeddings
               WHERE vec_id % {_KNN_MOD} = 0 AND {usable_norm_sql("embeddings")}),
    t AS (SELECT * FROM embeddings
          WHERE vec_id % {_KNN_MOD} <> 0 AND {usable_norm_sql("embeddings")}),
    scored AS (
        SELECT a.vec_id AS src_id, b.vec_id AS tgt_id,
               {COSINE_SQL} AS cosine
        FROM s a JOIN t b ON true
    ),
    {_margin_rank_sql("scored")}
    """,
)
def q_bitext_mine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PARALLEL-PAIR (bitext) MINING, exact ground-truth twin — the
    margin criterion of Artetxe & Schwenk (ACL'19), the method behind
    CCMatrix/LASER-scale parallel-corpus construction. Raw cosine is a
    broken pair score because of HUBS: vectors near the embedding-space
    centroid score high against everything, so threshold-on-cosine mines
    hub junk. The ratio margin renormalizes each pair by its two local
    neighborhoods —

        margin(x, y) = cos(x, y) / ((fwd_avg(x) + bwd_avg(y)) / 2)

    where fwd_avg is the mean of x's top-{_BT_K} candidate cosines and
    bwd_avg the mean of y's top-{_BT_K} source cosines — and a hub's
    inflated bwd_avg cancels its inflated cosine. Output: per source
    vector its best candidate BY MARGIN (not cosine — the planted test
    pins a rank inversion) when that margin clears {_BT_MARGIN}.

    Engine-stable numerics: cosines rounded to 6 dp; the avg legs are
    exact DECIMAL(18,6) window sums divided as doubles (both engines do
    the same correctly-rounded decimal->double conversion); the margin
    division is one IEEE double op on identical inputs, rounded to 6 dp.
    Non-positive denominators (adversarially anti-correlated
    neighborhoods) yield NULL margin, filtered before ranking in both
    engines — no ANSI division hazard.

    GUARDED all-pairs like q_knn_join (the source side is the 2%
    vec_id sample, broadcast; candidates are |S|·|T|); the margin
    windows add two sorts of the pair relation, fine for a twin.
    q_bitext_mine_lsh is the shippable path this twin measures."""
    emb = normed_embeddings(spark, sf_dir)
    s = emb.filter(F.col("vec_id") % _KNN_MOD == 0).select(
        F.col("vec_id").alias("src_id"),
        F.col("embedding").alias("s_emb"),
        F.col("norm").alias("s_norm"),
    )
    t = emb.filter(F.col("vec_id") % _KNN_MOD != 0)
    scored = t.join(F.broadcast(s)).select(
        "src_id",
        F.col("vec_id").alias("tgt_id"),
        cosine("s_emb", "embedding", "s_norm", "norm").alias("cosine"),
    )
    return _margin_rank(scored)


def _margin_rank(scored: DataFrame) -> DataFrame:
    """Shared margin machinery over a (src_id, tgt_id, cosine) pair
    relation: neighborhood ranks, decimal-exact top-K averages, ratio
    margin, best-per-source cut. Works unchanged on the exact all-pairs
    relation and on the LSH candidate relation (where the neighborhoods
    are the candidate sets — exactly how FAISS-backed production miners
    approximate the denominator). DuckDB twin: _margin_rank_sql."""
    w_fwd = Window.partitionBy("src_id").orderBy(
        F.col("cosine").desc(), F.col("tgt_id")
    )
    w_bwd = Window.partitionBy("tgt_id").orderBy(
        F.col("cosine").desc(), F.col("src_id")
    )
    w_src = Window.partitionBy("src_id")
    w_tgt = Window.partitionBy("tgt_id")

    def topk_avg(rn_col: str, w) -> Column:
        kept = F.when(
            F.col(rn_col) <= _BT_K, F.col("cosine").cast("decimal(18,6)")
        )
        return F.sum(kept).over(w).cast("double") / F.count(kept).over(
            w
        ).cast("double")

    # r14 (guide §2.4 — windows partitioned by the same key share one
    # exchange when ADJACENT): the previous order alternated
    # src/tgt/src/tgt/src partitionings — five Exchanges of the pair
    # relation. Grouping the two src-keyed windows together and the two
    # tgt-keyed ones together (the avg only needs its OWN side's rank,
    # so the interleave was never a data dependency) drops that to
    # src/tgt + the final src-keyed pick: 5 → 3 Exchanges. Pure
    # reordering of independent column definitions — every value is
    # unchanged.
    ranked = (
        scored.withColumn("fwd_rn", F.row_number().over(w_fwd))
        .withColumn("fwd_avg", topk_avg("fwd_rn", w_src))
        .withColumn("bwd_rn", F.row_number().over(w_bwd))
        .withColumn("bwd_avg", topk_avg("bwd_rn", w_tgt))
    )
    denom = (F.col("fwd_avg") + F.col("bwd_avg")) / 2.0
    margins = ranked.withColumn(
        "margin",
        F.when(
            denom > 0,
            # identical rounded-double inputs -> identical IEEE division
            roundn(F.col("cosine") / denom, 6, guard=False),
        ),
    ).filter(F.col("margin").isNotNull())
    w_pick = Window.partitionBy("src_id").orderBy(
        F.col("margin").desc(), F.col("tgt_id")
    )
    return (
        margins.withColumn("rn", F.row_number().over(w_pick))
        .filter((F.col("rn") == 1) & (F.col("margin") >= _BT_MARGIN))
        .select("src_id", "tgt_id", "cosine", "margin")
    )


@query(
    "q_bitext_mine_lsh",
    oracle=f"""
    WITH {_lsh_scored_sql("src_id", "tgt_id")},
    {_margin_rank_sql("scored")}
    """,
)
def q_bitext_mine_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitext mining at corpus scale: q_knn_join_lsh's blocked candidate
    generator (4 OR'd 6-plane sign-bucket tables, narrow id-only
    candidate join, vectors re-attached only for exact scoring) feeding
    the SAME margin machinery as the exact twin — the denominators'
    neighborhoods become the candidate sets, which is precisely the
    approximation FAISS-backed production miners make. Margin is a
    projection over the candidate relation plus three windows keyed by
    src/tgt id; the only growing intermediate is the two-long-row
    candidate relation, same contract as the parent.

    Degeneracy caveat the planted test documents: when a candidate set
    is THIN (1-2 pairs, only possible on toy fixtures), fwd_avg
    collapses toward the pair's own cosine and the margin toward ~1, so
    the threshold filters the pair — the approximate margin needs
    neighborhood mass to renormalize against, which real corpora always
    provide (the sf fixture yields non-empty output; the real-fixture
    test pins that)."""
    scored = _lsh_scored(spark, sf_dir, "src_id", "tgt_id")
    return _margin_rank(scored.select("src_id", "tgt_id", "cosine"))
