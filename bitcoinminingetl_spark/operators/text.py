"""Text-analysis operators for LLM training-data pipelines (BASELINE.json
north star): token counting, language ID, quality scoring, document
fingerprinting, TF-IDF term weighting — all over the `documents` table.

Design rule: tokenization and scoring stay in built-in expressions
(split/transform/aggregate — JVM, codegen'd); nothing here drops to Python.
At 100 TB these run as narrow scans + one hash aggregate each, so they
pipeline with the dedup operators that consume their outputs.
(One sanctioned exception: q_zlib_quality's DEFLATE byte counts have no
SQL equivalent — its Arrow-batched kernel returns two integers per doc
and everything derived stays JVM-side.)
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from bitcoinminingetl_spark.catalog import table
from bitcoinminingetl_spark.functions.cache import lru_persisted
from bitcoinminingetl_spark.functions.numeric import (
    davg,
    davg_sql,
    floor_long,
    floor_long_sql,
    roundn,
    roundn_sql,
)
from bitcoinminingetl_spark.functions.vectors import dot, usable_norm_sql
from bitcoinminingetl_spark.operators.dedup import ngram_array, ngram_list_sql
from bitcoinminingetl_spark.registry import query


@query(
    "q_text_stats",
    oracle=f"""
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS total_tokens,
           {davg_sql('n_chars')} AS avg_chars,
           CAST(min(n_chars) AS BIGINT) AS min_chars,
           CAST(max(n_chars) AS BIGINT) AS max_chars
    FROM documents
    GROUP BY lang
    """,
)
def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus statistics per language: doc counts, token totals, char
    length distribution. One narrow projection + one hash aggregate."""
    docs = table(spark, sf_dir, "documents")
    return docs.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(F.split("text", " ")).cast("long")).alias("total_tokens"),
        davg(F.col("n_chars")).alias("avg_chars"),
        F.min("n_chars").alias("min_chars"),
        F.max("n_chars").alias("max_chars"),
    )


@query(
    "q_token_count",
    oracle="""
    SELECT doc_id,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS n_ws_tokens,
           CAST(len(regexp_extract_all(text, '[a-z0-9]+')) AS BIGINT) AS n_re_tokens,
           CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_uniq_tokens
    FROM documents
    """,
)
def q_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting two ways: whitespace split and a BPE-ish regex pass
    ([a-z0-9]+ runs — the pre-tokenizer shape real BPE vocabularies use),
    plus unique-token cardinality."""
    docs = table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.size(F.split("text", " ")).cast("long").alias("n_ws_tokens"),
        F.size(F.regexp_extract_all("text", F.lit("[a-z0-9]+"), 0))
        .cast("long")
        .alias("n_re_tokens"),
        F.size(F.array_distinct(F.split("text", " ")))
        .cast("long")
        .alias("n_uniq_tokens"),
    )


_EN = ("the", "a", "is", "of")
_ES = ("el", "la", "es", "de")
_FR = ("le", "la", "est", "un")


def _sql_list(words: tuple[str, ...]) -> str:
    return "[" + ", ".join(f"'{w}'" for w in words) + "]"


@query(
    "q_lang_id",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, lang, string_split(text, ' ') AS toks FROM documents
    )
    SELECT doc_id, lang,
           CAST(len(list_intersect(toks, {_sql_list(_EN)})) AS INT) AS en_hits,
           CAST(len(list_intersect(toks, {_sql_list(_ES)})) AS INT) AS es_hits,
           CAST(len(list_intersect(toks, {_sql_list(_FR)})) AS INT) AS fr_hits,
           CASE
               WHEN len(list_intersect(toks, {_sql_list(_EN)})) = 0
                AND len(list_intersect(toks, {_sql_list(_ES)})) = 0
                AND len(list_intersect(toks, {_sql_list(_FR)})) = 0 THEN 'unknown'
               WHEN len(list_intersect(toks, {_sql_list(_EN)}))
                    >= len(list_intersect(toks, {_sql_list(_ES)}))
                AND len(list_intersect(toks, {_sql_list(_EN)}))
                    >= len(list_intersect(toks, {_sql_list(_FR)})) THEN 'en'
               WHEN len(list_intersect(toks, {_sql_list(_ES)}))
                    >= len(list_intersect(toks, {_sql_list(_FR)})) THEN 'es'
               ELSE 'fr'
           END AS predicted_lang
    FROM t
    """,
)
def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-profile language ID: count distinct hits against per-
    language function-word lists, argmax with a fixed precedence order
    (en > es > fr on ties) so the result is deterministic. The n-gram
    profile method in miniature — real profiles would be broadcast as a
    lookup table, same plan shape."""
    docs = table(spark, sf_dir, "documents").withColumn(
        "toks", F.split("text", " ")
    )
    hits = {
        name: F.size(F.array_intersect("toks", F.array(*[F.lit(w) for w in words])))
        for name, words in (("en", _EN), ("es", _ES), ("fr", _FR))
    }
    predicted = (
        F.when(
            (hits["en"] == 0) & (hits["es"] == 0) & (hits["fr"] == 0), "unknown"
        )
        .when((hits["en"] >= hits["es"]) & (hits["en"] >= hits["fr"]), "en")
        .when(hits["es"] >= hits["fr"], "es")
        .otherwise("fr")
    )
    return docs.select(
        "doc_id",
        "lang",
        hits["en"].cast("int").alias("en_hits"),
        hits["es"].cast("int").alias("es_hits"),
        hits["fr"].cast("int").alias("fr_hits"),
        predicted.alias("predicted_lang"),
    )


@query(
    "q_quality_score",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, n_chars,
               len(string_split(text, ' ')) AS n_tok,
               len(list_distinct(string_split(text, ' '))) AS n_uniq,
               len(list_intersect(string_split(text, ' '), {_sql_list(_EN)}))
                   AS stop_hits
        FROM documents
    )
    SELECT doc_id,
           CAST(n_tok AS BIGINT) AS n_tokens,
           {roundn_sql('n_uniq * 1.0 / n_tok', 6)} AS ttr,
           {roundn_sql('(n_chars - (n_tok - 1)) * 1.0 / n_tok', 6)} AS avg_word_len,
           {roundn_sql('stop_hits * 1.0 / n_tok', 6)} AS stopword_ratio,
           {roundn_sql('least(n_tok / 100.0, 1.0) * (n_uniq * 1.0 / n_tok)', 6)}
               AS quality
    FROM t
    """,
)
def q_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic quality scoring: type-token ratio, mean word length,
    stopword density, and a combined [0,1] score (length prior × TTR) —
    the standard cheap filters before expensive dedup/training steps."""
    docs = table(spark, sf_dir, "documents").select(
        "doc_id",
        "n_chars",
        F.size(F.split("text", " ")).alias("n_tok"),
        F.size(F.array_distinct(F.split("text", " "))).alias("n_uniq"),
        F.size(
            F.array_intersect(
                F.split("text", " "), F.array(*[F.lit(w) for w in _EN])
            )
        ).alias("stop_hits"),
    )
    return docs.select(
        "doc_id",
        F.col("n_tok").cast("long").alias("n_tokens"),
        roundn(F.col("n_uniq") * 1.0 / F.col("n_tok"), 6).alias("ttr"),
        roundn(
            (F.col("n_chars") - (F.col("n_tok") - 1)) * 1.0 / F.col("n_tok"), 6
        ).alias("avg_word_len"),
        roundn(F.col("stop_hits") * 1.0 / F.col("n_tok"), 6).alias("stopword_ratio"),
        roundn(
            F.least(F.col("n_tok") / 100.0, F.lit(1.0))
            * (F.col("n_uniq") * 1.0 / F.col("n_tok")),
            6,
        ).alias("quality"),
    )


@query(
    "q_fingerprint",
    oracle="""
    SELECT doc_id,
           md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' '))
               AS bag_fingerprint,
           md5(text) AS exact_fingerprint
    FROM documents
    """,
)
def q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting: an exact-content hash and a bag-of-words
    canonical hash (sorted distinct tokens) that is invariant to word
    order — the grouping key for exact and shuffled-duplicate detection.
    Two docs with equal bag_fingerprint are permutation duplicates."""
    toks = F.split("text", " ")
    return table(spark, sf_dir, "documents").select(
        "doc_id",
        F.md5(F.array_join(F.array_sort(F.array_distinct(toks)), " ")).alias(
            "bag_fingerprint"
        ),
        F.md5(F.col("text")).alias("exact_fingerprint"),
    )


_WINNOW_K = 3  # tokens per shingle
_WINNOW_W = 4  # winnowing window (consecutive shingle hashes)


@query(
    "q_fingerprint_winnow",
    oracle=f"""
    WITH d AS (
        SELECT doc_id, string_split(text, ' ') AS toks FROM documents
    ), pos AS (
        SELECT doc_id, toks, unnest(generate_series(1, len(toks) - {_WINNOW_K - 1}))
                   AS p
        FROM d WHERE len(toks) >= {_WINNOW_K}
    ), h AS (
        SELECT doc_id, p,
               substr(md5(array_to_string(toks[p:p + {_WINNOW_K - 1}], ' ')), 1, 8)
                   AS h
        FROM pos
    ), wm AS (
        SELECT doc_id,
               min(h) OVER (PARTITION BY doc_id ORDER BY p
                   ROWS BETWEEN CURRENT ROW AND {_WINNOW_W - 1} FOLLOWING) AS mh
        FROM h
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_shingles,
           CAST(count(DISTINCT mh) AS BIGINT) AS n_fingerprints,
           md5(array_to_string(list_sort(list(DISTINCT mh)), ' ')) AS winnow_digest
    FROM wm GROUP BY doc_id
    """,
)
def q_fingerprint_winnow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprint (Schleimer/Wilkerson/Aiken, SIGMOD'03): hash
    every token 3-gram, then keep the minimum hash of each sliding window
    of 4 consecutive shingle hashes — the selected minima are a compact,
    position-robust fingerprint set guaranteeing any match of >= w+k-1
    tokens shares a fingerprint. Output per doc: shingle count, distinct
    fingerprint count, and an order-canonical digest of the fingerprint
    set (equal digests => winnow-identical docs).

    Engine shape: positions come from `explode(sequence(...))` so shingle
    assembly and hashing stay scalar (codegen'd, not HOF lambdas); the
    rolling minimum is one window over (doc_id, p) — a single shuffle
    that the final per-doc aggregate reuses, so at 100 TB this is scan ->
    one exchange -> window + partial agg. The hash is substr(md5, 8 hex)
    — engine-portable and lexicographically ordered identically
    everywhere (cf. q_hash_split's determinism doctrine)."""
    k, w = _WINNOW_K, _WINNOW_W
    docs = (
        table(spark, sf_dir, "documents")
        .select("doc_id", F.split("text", " ").alias("toks"))
        .filter(F.size("toks") >= k)
    )
    pos = docs.select(
        "doc_id",
        "toks",
        F.explode(F.sequence(F.lit(1), F.size("toks") - (k - 1))).alias("p"),
    )
    hashed = pos.select(
        "doc_id",
        "p",
        F.substring(
            F.md5(F.concat_ws(" ", F.slice("toks", F.col("p"), F.lit(k)))), 1, 8
        ).alias("h"),
    )
    win = Window.partitionBy("doc_id").orderBy("p").rowsBetween(0, w - 1)
    minima = hashed.select("doc_id", F.min("h").over(win).alias("mh"))
    return minima.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_shingles"),
        F.countDistinct("mh").cast("long").alias("n_fingerprints"),
        F.md5(F.array_join(F.array_sort(F.collect_set("mh")), " ")).alias(
            "winnow_digest"
        ),
    )


@query(
    "q_tfidf_terms",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id, lang, unnest(string_split(text, ' ')) AS term
        FROM documents
    ), tf AS (
        SELECT lang, term, CAST(count(*) AS BIGINT) AS tf
        FROM tok GROUP BY lang, term
    ), df AS (
        SELECT term, count(DISTINCT doc_id) AS df FROM tok GROUP BY term
    ), n AS (
        SELECT count(*) AS n_docs FROM documents
    ), scored AS (
        SELECT tf.lang, tf.term, tf.tf,
               {roundn_sql('tf.tf * ln(n.n_docs * 1.0 / df.df)', 6)} AS tfidf
        FROM tf JOIN df USING (term) CROSS JOIN n
    )
    SELECT lang, term, tf, tfidf, CAST(rn AS BIGINT) AS rn FROM (
        SELECT *, row_number() OVER (
            PARTITION BY lang ORDER BY tfidf DESC, term) AS rn
        FROM scored
    ) WHERE rn <= 5
    """,
)
def q_tfidf_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 TF-IDF terms per language. Pure DataFrame: explode -> two
    hash aggregates (tf by (lang,term), df by term) -> broadcast the tiny
    doc-count -> window top-k. Ranking happens on the 6-dp rounded score
    (+ term tiebreak) so order is engine-deterministic."""
    docs = table(spark, sf_dir, "documents")
    tok = docs.select("doc_id", "lang", F.explode(F.split("text", " ")).alias("term"))
    tf = tok.groupBy("lang", "term").agg(F.count(F.lit(1)).alias("tf"))
    df = tok.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    n = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(df, on="term")
        .crossJoin(F.broadcast(n))
        .select(
            "lang",
            "term",
            "tf",
            roundn(F.col("tf") * F.log(F.col("n_docs") * 1.0 / F.col("df")), 6).alias(
                "tfidf"
            ),
        )
    )
    w = Window.partitionBy("lang").orderBy(F.col("tfidf").desc(), F.col("term"))
    return (
        scored.withColumn("rn", F.row_number().over(w).cast("long"))
        .filter(F.col("rn") <= 5)
    )


# Explicit whitespace class shared by the Spark and oracle patterns: the
# one place Java regex and RE2 disagree inside ASCII is \s itself (Java
# includes \x0B, RE2 does not), so both sides spell the class out.
_WS_CLASS = r" \t\n\x0B\f\r"


@query(
    "q_text_normalize",
    oracle=f"""
    SELECT doc_id,
           trim(regexp_replace(regexp_replace(lower(text),
                '[^a-z0-9{_WS_CLASS}]', '', 'g'),
                '[{_WS_CLASS}]+', ' ', 'g')) AS norm_text,
           md5(trim(regexp_replace(regexp_replace(lower(text),
                '[^a-z0-9{_WS_CLASS}]', '', 'g'),
                '[{_WS_CLASS}]+', ' ', 'g'))) AS norm_fingerprint
    FROM documents
    """,
)
def q_text_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    r"""Canonical text normalization — the pass every corpus pipeline runs
    before exact dedup so trivial variants (case, punctuation, whitespace)
    collapse to one key: lowercase -> strip non-alphanumerics -> collapse
    whitespace -> trim, plus the md5 of the normalized form as the dedup
    key. Pure scalar projection (regexp_replace chains inside whole-stage
    codegen): zero shuffles at any scale. Whitespace is an EXPLICIT class
    (_WS_CLASS), not \s — Java's \s includes vertical tab \x0B while
    RE2's (DuckDB's) does not, so \s silently diverges cross-engine on
    a corpus row containing one."""
    norm = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col("text")), f"[^a-z0-9{_WS_CLASS}]", ""),
            f"[{_WS_CLASS}]+",
            " ",
        )
    )
    return table(spark, sf_dir, "documents").select(
        "doc_id",
        norm.alias("norm_text"),
        F.md5(norm).alias("norm_fingerprint"),
    )


_PII_EMAIL = r"[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}"
_PII_NUM = r"[0-9][0-9]+"


@query(
    "q_pii_redact",
    oracle=f"""
    SELECT doc_id,
           regexp_replace(regexp_replace(text, '{_PII_EMAIL}', '<email>', 'g'),
                '{_PII_NUM}', '<num>', 'g') AS redacted,
           CAST(len(regexp_extract_all(text, '{_PII_EMAIL}')) AS BIGINT) AS n_emails,
           CAST(len(regexp_extract_all(text, '{_PII_NUM}')) AS BIGINT) AS n_nums
    FROM documents
    """,
)
def q_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rule-based PII scrubbing for training corpora: replace email
    addresses and multi-digit number runs with typed placeholders and
    count the hits per document (the audit trail redaction pipelines
    keep). Order matters — emails first, so their digit runs aren't
    half-rewritten by the number pass. Scalar regex projection, zero
    shuffles; the real-world pattern set (phones, SSNs, IPs...) extends
    the chain without changing the plan shape."""
    red = F.regexp_replace(
        F.regexp_replace(F.col("text"), _PII_EMAIL, "<email>"), _PII_NUM, "<num>"
    )
    return table(spark, sf_dir, "documents").select(
        "doc_id",
        red.alias("redacted"),
        F.size(F.regexp_extract_all("text", F.lit(_PII_EMAIL), 0))
        .cast("long")
        .alias("n_emails"),
        F.size(F.regexp_extract_all("text", F.lit(_PII_NUM), 0))
        .cast("long")
        .alias("n_nums"),
    )


@query(
    "q_repetition_score",
    oracle=f"""
    WITH g AS (
        SELECT doc_id,
               CASE WHEN text IS NULL THEN NULL ELSE {ngram_list_sql(3)} END
                   AS grams
        FROM documents
    )
    SELECT doc_id,
           CAST(len(grams) AS BIGINT) AS n_grams,
           CAST(len(list_distinct(grams)) AS BIGINT) AS n_distinct,
           {roundn_sql('1.0 - len(list_distinct(grams)) * 1.0 / len(grams)', 6)}
               AS rep_ratio
    FROM g
    """,
)
def q_repetition_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intra-document repetition score (the Gopher-rules quality signal
    the near-dup family doesn't cover): fraction of 3-gram positions
    occupied by a gram already seen in the SAME document — machine-
    generated/template spam scores high, natural prose near zero.
    rep_ratio = 1 - distinct/total over the per-doc gram array, computed
    entirely inside whole-stage codegen (split -> zip_with gram fold ->
    size / array_distinct, dedup.ngram_array): a pure map-side projection, zero shuffles, same
    plan at 100 TB. Complements q_quality_score (char-level ratios) and
    q_dedup_* (cross-doc duplication).

    NULL text reads NULL stats on both engines (r8 adversarial sweep):
    ngram_array's short-doc fallback goes through concat_ws, which
    renders a NULL token array as the '' gram — so an unfetched doc
    silently scored as a 1-gram document (rep 0.0, "perfect prose")
    while the oracle's NULL gram vanished from COUNT(DISTINCT) and
    scored rep 1.0 ("pure spam"). Two confident opposite answers for a
    doc with no text; the only defensible stat for absent text is
    NULL.

    COST NOTE (r9, attributed by a controlled per-query A/B): the r8
    fix wrapped the zip_with gram FOLD itself in when(text IS NOT
    NULL, ...), and codegen does not subexpression-eliminate across
    conditional branches — the fold ran per output column and the plan
    cost reproduced at 1.6x the r7 floor. The guard doctrine's
    pre-project rule applies: evaluate the fold ONCE unconditionally
    in a first projection (CollapseProject never duplicates non-cheap
    producers), and apply the NULL mask to the cheap size() scalars in
    the second. NULL text still reads NULL everywhere — size() of the
    fallback '' gram is masked before any consumer sees it."""
    raw = ngram_array(F.split("text", " "), 3)
    base = table(spark, sf_dir, "documents").select(
        "doc_id",
        F.col("text").isNotNull().alias("has_text"),
        F.size(raw).alias("ng_raw"),
        F.size(F.array_distinct(raw)).alias("nd_raw"),
    )
    has = F.col("has_text")
    return base.select(
        "doc_id",
        F.when(has, F.col("ng_raw")).cast("long").alias("n_grams"),
        F.when(has, F.col("nd_raw")).cast("long").alias("n_distinct"),
        F.when(
            has,
            roundn(
                F.lit(1.0) - F.col("nd_raw") * F.lit(1.0) / F.col("ng_raw"),
                6,
            ),
        ).alias("rep_ratio"),
    )


_VOCAB_TOP_K = 100


@query(
    "q_vocab_df",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS token
        FROM documents
    ),
    df AS (
        SELECT token,
               CAST(count(*) AS BIGINT) AS doc_freq
        FROM tok GROUP BY token
    )
    SELECT token, doc_freq FROM df
    ORDER BY doc_freq DESC, token
    LIMIT {_VOCAB_TOP_K}
    """,
)
def q_vocab_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary by document frequency: the top-k tokens by the
    number of documents containing them — the first pass of tokenizer/
    vocab construction and the source of stopword lists and the
    stop-shingle caps the dedup family consumes. array_distinct before
    the explode keeps the aggregate df-semantics (per-doc dedup happens
    map-side, so the shuffle carries each (doc, token) once); the top-k
    is a TakeOrdered over |vocab| rows, never the corpus. Deterministic
    tiebreak by token so the cut is engine-exact."""
    toks = F.array_distinct(F.split("text", " "))
    return (
        table(spark, sf_dir, "documents")
        .select(F.explode(toks).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("doc_freq"))
        .orderBy(F.col("doc_freq").desc(), "token")
        .limit(_VOCAB_TOP_K)
    )


@query(
    "q_unigram_logprob",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS token
        FROM documents
    ),
    tf AS (
        SELECT token, count(*) AS tf FROM tok GROUP BY token
    ),
    n AS (
        SELECT count(*) AS n FROM tok
    )
    SELECT t.doc_id,
           CAST(count(*) AS BIGINT) AS n_tokens,
           {roundn_sql(
               "CAST(sum(CAST(ln(f.tf * 1.0 / n.n) AS DECIMAL(28,12)))"
               " AS DOUBLE) / count(*)",
               6,
           )} AS avg_logprob
    FROM tok t
    JOIN tf f USING (token)
    CROSS JOIN n
    GROUP BY t.doc_id
    """,
)
def q_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram language-model scoring — the CCNet-style LM quality
    filter reduced to its self-trained unigram form: train token
    frequencies on the corpus itself (one aggregate), then score every
    document by its mean token log-probability. Gibberish and boilerplate
    sit at the extremes (rare-token soup scores very negative, stopword
    soup scores near the top), which is exactly the percentile-cut
    signal production pipelines threshold on. Self-scoring means no OOV,
    so no smoothing term clouds the oracle.

    Plan: tokens -> tf aggregate (mergeable, |vocab| rows) -> one
    shuffle join of (doc, token) against tf on token (heavy-hitter
    tokens skew this join; AQE skew-split handles it — the alternative,
    broadcasting tf, only works while |vocab| fits an executor) -> per-
    doc aggregate. The corpus token total N rides along as a broadcast
    1-row cross join. Per-token log terms are quantized to
    DECIMAL(28,12) before the per-doc sum so the result is independent
    of intra-partition addition order (dsum doctrine)."""
    tok = table(spark, sf_dir, "documents").select(
        "doc_id", F.explode(F.split("text", " ")).alias("token")
    )
    tf = tok.groupBy("token").agg(F.count(F.lit(1)).alias("tf"))
    n = tok.agg(F.count(F.lit(1)).alias("n"))
    lp = F.log(F.col("tf") * 1.0 / F.col("n"))
    return (
        tok.join(tf, "token")
        .join(F.broadcast(n))
        .select("doc_id", lp.cast("decimal(28,12)").alias("lp"))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            roundn(
                F.sum("lp").cast("double") / F.count(F.lit(1)), 6
            ).alias("avg_logprob"),
        )
    )


_HH_K = 64  # tracked slots: >= |vocab| at test scale, so estimates are exact


@query(
    "q_heavy_hitters",
    oracle="""
    WITH tok AS (
        SELECT unnest(string_split(text, ' ')) AS token FROM documents
    )
    SELECT token, CAST(count(*) AS BIGINT) AS est_count
    FROM tok GROUP BY token
    """,
)
def q_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequent-item sketch over corpus tokens — approx_top_k (Spark 4's
    bounded-memory heavy-hitter aggregate): ONE mergeable sketch of
    fixed size regardless of corpus size, against the exact groupBy
    (q_vocab_df) whose state is O(|vocab|). This is the 100 TB shape for
    'what dominates this corpus' dashboards: at scale you'd track k <<
    |vocab| slots and read ranked estimates; at test scale k exceeds the
    synthetic vocabulary, the sketch degenerates to exact counts, and
    the DuckDB group-count oracle checks it value-for-value — which is
    precisely what makes the demo verifiable rather than rows-only."""
    return (
        table(spark, sf_dir, "documents")
        .select(F.explode(F.split("text", " ")).alias("token"))
        .agg(F.expr(f"approx_top_k(token, {_HH_K})").alias("tk"))
        .select(F.explode("tk").alias("e"))
        .select(
            F.col("e.item").alias("token"),
            F.col("e.count").cast("long").alias("est_count"),
        )
    )


# Hottest transitions get salted: 1024 (w1, w2) head rows ≈ a few tens
# of KB broadcast for the probe-side marking — negligible, but on a Zipf
# corpus the head carries the majority of total bigram occurrences.
_BIGRAM_C2_CACHE: dict = {}
_BIGRAM_HEAD_K = 1024
# Salt fan-out for head keys: the hottest transition's fan-in spreads
# over this many reducer cells (size to head frequency / target task
# size at real scale).
_BIGRAM_SALT = 16


# The bigram-LM scoring CTE chain, shared verbatim by q_bigram_logprob's
# oracle and the CCNet bucket oracles built on top of the same scores.
_BIGRAM_LP_CTES = f"""
    split AS (
        SELECT doc_id, string_split(text, ' ') AS ts FROM documents
    ),
    bg AS (
        SELECT doc_id,
               unnest(list_transform(
                   generate_series(1, len(ts) - 1),
                   i -> {{'w1': ts[i], 'w2': ts[i + 1]}})) AS p
        FROM split WHERE len(ts) >= 2
    ),
    b AS (SELECT doc_id, p.w1 AS w1, p.w2 AS w2 FROM bg),
    c2 AS (SELECT w1, w2, count(*) AS c2 FROM b GROUP BY w1, w2),
    c1 AS (SELECT w1, count(*) AS c1 FROM b GROUP BY w1),
    lm_scored AS (
        SELECT b.doc_id,
               CAST(count(*) AS BIGINT) AS n_bigrams,
               {roundn_sql(
                   "CAST(sum(CAST(ln(c2.c2 * 1.0 / c1.c1) AS DECIMAL(28,12)))"
                   " AS DOUBLE) / count(*)",
                   6,
               )} AS avg_logprob
        FROM b JOIN c2 USING (w1, w2) JOIN c1 USING (w1)
        GROUP BY b.doc_id
    )"""


@query(
    "q_bigram_logprob",
    oracle=f"""
    WITH {_BIGRAM_LP_CTES}
    SELECT doc_id, n_bigrams, avg_logprob FROM lm_scored
    """,
)
def q_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram language-model scoring — q_unigram_logprob's conditional
    upgrade and the closest SQL-checkable stand-in for the perplexity
    filter (CCNet/Gopher-style) every pretraining pipeline applies:
    train bigram transition counts on the corpus itself, then score each
    document by its mean ln P(w2|w1) = ln(c(w1,w2)/c(w1)). Fluent text
    rides high-probability transitions; shuffled or boilerplate-stitched
    text scores low even when its unigram mix looks normal — which is
    exactly what the bigram model adds over the unigram one.
    Self-training means every scored bigram was counted, so no smoothing
    term clouds the oracle; c(w1) counts first-positions over the bigram
    relation on BOTH sides, keeping the conditional well-normalized.
    Docs under 2 tokens have no bigrams and drop out (both sides).

    Plan: one explode -> two mergeable count aggregates (|bigrams| and
    |vocab| rows) -> transition table joins its w1 marginals (small ⋈
    smaller), materialized once as the model table -> the doc⋈transition
    join, HEAD-SALTED against the transition frequency distribution: the
    _BIGRAM_HEAD_K hottest (w1, w2) transitions (a TakeOrdered over the
    model table, broadcast as plan literals) mark probe rows map-side,
    and marked rows get salt = hash(doc_id) mod _BIGRAM_SALT while the
    model side replicates its head rows across all salts — so the
    probe still scans and shuffles ONCE, but the hottest key's fan-in
    is split across _BIGRAM_SALT reducer cells instead of landing on
    one task. Cold keys keep salt 0 and are skew-free by construction
    (every key below the head cutoff). This is the q_join_salted
    doctrine applied to the LM-scoring join; AQE skew-split stays on as
    the backstop for mid-distribution keys. Salting cannot change
    results: each probe row still matches exactly one (w1, w2, salt)
    model row carrying the same lp. Per-bigram log terms quantize to
    DECIMAL(28,12) before the per-doc sum (dsum doctrine:
    partition-order-independent results)."""
    toks = F.split("text", " ")
    # zip_with over two shifted slices, NOT transform(sequence) +
    # element_at: per-element array indexing is interpreted and benched
    # ~6x slower for the explode+count pass (2.4 s -> 0.4 s at sf0.1).
    # A 1-token doc slices to an empty array -> zero bigrams -> the row
    # drops out of the explode, matching the oracle's len(ts) >= 2.
    pairs = F.zip_with(
        F.slice(toks, 1, F.size(toks) - 1),
        F.slice(toks, 2, F.size(toks) - 1),
        lambda x, y: F.struct(x.alias("w1"), y.alias("w2")),
    )
    b = (
        table(spark, sf_dir, "documents")
        .select("doc_id", F.explode(pairs).alias("p"))
        .select("doc_id", "p.w1", "p.w2")
    )
    # The transition-count table — persisted once per (session, corpus)
    # via the shared LRU cache (functions/cache.py): the head selection,
    # the w1 marginals, and the scored model all derive from it, so the
    # corpus is exploded exactly TWICE (training count + probe) — one
    # fewer pass than even the unguarded plan, which re-exploded for the
    # separate c1 aggregate. The cache fills as a side effect of the
    # head TakeOrdered job (no dedicated materialization job); |bigram
    # vocab| rows — the model table a production pipeline persists
    # anyway. A bare .persist() here leaked one never-unpersisted
    # relation per invocation (bench reps, oracle sweeps).
    c2 = lru_persisted(
        _BIGRAM_C2_CACHE,
        f"{spark.sparkContext.applicationId}:{sf_dir}:bigram_c2",
        lambda: b.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c2")),
    )
    # c(w1) = Σ_w2 c(w1,w2): the marginal is a window over the cached
    # counts (one shuffle of the small model relation, no join and no
    # second corpus pass).
    scored = c2.select(
        "w1",
        "w2",
        F.col("c2"),
        F.log(
            F.col("c2") * 1.0 / F.sum("c2").over(Window.partitionBy("w1"))
        )
        .cast("decimal(28,12)")
        .alias("lp"),
    )
    # Head of the transition distribution: deterministic top-K by count
    # (ties broken lexically — though any head choice yields identical
    # results, since lp rides the model row either way). TakeOrdered
    # keeps this a bounded-size relation at any corpus scale.
    head_keys = (
        c2.orderBy(F.col("c2").desc(), "w1", "w2")
        .limit(_BIGRAM_HEAD_K)
        .select("w1", "w2", F.lit(True).alias("hot"))
    )
    b_marked = b.join(F.broadcast(head_keys), ["w1", "w2"], "left").withColumn(
        "salt",
        F.when(
            F.col("hot").isNotNull(),
            F.pmod(F.xxhash64("doc_id"), F.lit(_BIGRAM_SALT)),
        )
        .otherwise(F.lit(0))
        .cast("int"),
    )
    scored_salted = (
        scored.join(F.broadcast(head_keys), ["w1", "w2"], "left")
        .select(
            "w1",
            "w2",
            "lp",
            F.explode(
                F.when(
                    F.col("hot").isNotNull(),
                    F.sequence(F.lit(0), F.lit(_BIGRAM_SALT - 1)),
                ).otherwise(F.array(F.lit(0)))
            ).alias("salt"),
        )
    )
    return (
        b_marked.join(scored_salted, ["w1", "w2", "salt"])
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_bigrams"),
            roundn(F.sum("lp").cast("double") / F.count(F.lit(1)), 6).alias(
                "avg_logprob"
            ),
        )
    )


_CCNET_BUCKET = (
    "CASE t WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END"
)

_CCNET_SCORED_CACHE: dict = {}


def ccnet_scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persist-once per (session, corpus) LM-scored doc relation
    (doc_id, n_bigrams, avg_logprob, lang) shared by the CCNet bucket
    pair. Without it every consumer re-plans the full bigram probe join
    — the corpus's dominant scoring stage — and q_ccnet_buckets_approx
    alone would run it TWICE (once under the per-lang boundary
    aggregate, once under the bucketing join). |docs|-row, 4 narrow
    columns: exactly the per-doc score table a production pipeline
    materializes once per corpus snapshot. Prebuilt by bench.py's
    shared-infra step so its one-time cost is attributed to the family,
    not to whichever bucket query runs first."""
    def build() -> DataFrame:
        return q_bigram_logprob(spark, sf_dir).join(
            table(spark, sf_dir, "documents").select("doc_id", "lang"),
            "doc_id",
        )

    return lru_persisted(
        _CCNET_SCORED_CACHE,
        f"{spark.sparkContext.applicationId}:{sf_dir}:ccnet_scored",
        build,
    )


@query(
    "q_ccnet_buckets",
    oracle=f"""
    WITH {_BIGRAM_LP_CTES},
    j AS (
        SELECT s.doc_id, s.avg_logprob, d.lang
        FROM lm_scored s JOIN documents d USING (doc_id)
    ),
    t AS (
        SELECT lang, avg_logprob,
               ntile(3) OVER (
                   PARTITION BY lang ORDER BY avg_logprob DESC, doc_id
               ) AS t
        FROM j
    )
    SELECT lang, {_CCNET_BUCKET} AS bucket,
           CAST(count(*) AS BIGINT) AS n_docs,
           {davg_sql('avg_logprob')} AS mean_logprob,
           min(avg_logprob) AS min_logprob,
           max(avg_logprob) AS max_logprob
    FROM t GROUP BY lang, t
    """,
)
def q_ccnet_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style quality bucketing (Wenzek et al. 2020, arXiv:1911.00359
    sec 4.4): split each language's documents into head/middle/tail
    TERCILES by language-model score — head (best-scoring third) trains
    the main run, tail is held for ablations — using the self-trained
    bigram LM of q_bigram_logprob as the scorer (its per-doc avg_logprob
    is hash-checked, so bucket membership is engine-stable; higher
    logprob = lower perplexity = better). Docs with <2 tokens have no
    LM score and drop out, as in q_bigram_logprob.

    Plan: the scored relation is the persist-once ccnet_scored table
    (bigram scores ⋈ lang, shared with the approx twin), then a
    per-lang ntile(3) window — a per-KEY sort whose state is O(docs per
    language), the declared ground-truth pattern — and a (lang, bucket)
    aggregate. The 100 TB path swaps the ntile for per-lang
    percentile_approx boundaries (q_ccnet_buckets_approx below),
    exactly the q_length_buckets -> _approx relationship."""
    j = ccnet_scored(spark, sf_dir)
    w = Window.partitionBy("lang").orderBy(
        F.col("avg_logprob").desc(), "doc_id"
    )
    return (
        j.withColumn("t", F.ntile(3).over(w))
        .groupBy("lang", "t")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            davg(F.col("avg_logprob")).alias("mean_logprob"),
            F.min("avg_logprob").alias("min_logprob"),
            F.max("avg_logprob").alias("max_logprob"),
        )
        .select(
            "lang",
            F.expr(_CCNET_BUCKET).alias("bucket"),
            "n_docs",
            "mean_logprob",
            "min_logprob",
            "max_logprob",
        )
    )


@query("q_ccnet_buckets_approx")  # rows-only: sketch boundaries are engine-specific
def q_ccnet_buckets_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet quality bucketing, 100 TB path: per-language tercile
    boundaries from ONE grouped percentile_approx sketch (mergeable
    per-partition state — no per-lang sort, state O(|langs|), not
    O(docs per language)), broadcast back onto the scored relation by a
    lang equi-join, each doc's bucket assigned by range comparison
    inside whole-stage codegen. Ties at a boundary land in the better
    bucket (range semantics) where the exact ntile splits them for
    equal counts — the same declared delta as q_length_buckets_approx;
    the planted test pins conservation + tolerance vs the exact twin.
    Both the boundary aggregate and the bucketing join consume the
    persist-once ccnet_scored relation, so the LM probe join (the
    dominant stage) runs ONCE for the whole bucket family rather than
    once per consumer leg."""
    j = ccnet_scored(spark, sf_dir)
    bounds = j.groupBy("lang").agg(
        F.percentile_approx("avg_logprob", [1 / 3, 2 / 3], 10000).alias("bs")
    ).select(
        F.col("lang").alias("b_lang"),
        F.element_at("bs", 1).alias("b1"),  # 33rd pct (ascending score)
        F.element_at("bs", 2).alias("b2"),  # 66th pct
    )
    bucket = (
        F.when(F.col("avg_logprob") >= F.col("b2"), F.lit("head"))
        .when(F.col("avg_logprob") >= F.col("b1"), F.lit("middle"))
        .otherwise(F.lit("tail"))
    )
    return (
        # eqNullSafe, not a bare equi-join: the exact twin's
        # Window.partitionBy('lang') keeps NULL lang as its own
        # partition, and a plain inner join would silently drop those
        # docs here, breaking the twins' conservation invariant on any
        # corpus with unidentified-language documents (r7 ADVICE).
        # groupBy above already emits the NULL-lang boundary row.
        j.join(F.broadcast(bounds), F.col("lang").eqNullSafe(F.col("b_lang")))
        .select("lang", bucket.alias("bucket"), "avg_logprob")
        .groupBy("lang", "bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            davg(F.col("avg_logprob")).alias("mean_logprob"),
            F.min("avg_logprob").alias("min_logprob"),
            F.max("avg_logprob").alias("max_logprob"),
        )
    )


_BM25_TERMS = ("spark", "join", "window")
_BM25_K1 = 1.2
_BM25_B = 0.75
_BM25_TOP_K = 50


def _bm25_tf_sql(term: str) -> str:
    return f"len(list_filter(string_split(text, ' '), x -> x = '{term}'))"


_BM25_TF_CACHE: dict = {}


def bm25_tf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persist-once (doc_id, dl, tf0..tfN) term-frequency relation for
    the fixed _BM25_TERMS query — r13 (guide §2.4): _bm25_scored
    references this projection TWICE (the 1-row stats aggregate and the
    probe side), each reference re-running the text split + N
    interpreted array-filter HOFs per doc, and THREE registry queries
    (q_bm25_rank, q_hybrid_rrf, q_retrieval_eval) call _bm25_scored —
    six tf passes over the corpus per bench pass. One shared build
    (timed in bench.py's shared-infra phase, the ccnet_scored doctrine:
    a per-doc score-input table a retrieval pipeline materializes once
    per corpus snapshot) serves all six references; at 100 TB this is
    the postings/statistics table next to the index."""

    def build() -> DataFrame:
        toks = F.split("text", " ")

        def _tf(term: str):
            # NB: the lambda must be unary — pyspark treats a 2-arg
            # lambda as the (element, index) filter form.
            return F.size(
                F.filter(toks, lambda x: x == F.lit(term))
            ).cast("long")

        return table(spark, sf_dir, "documents").select(
            "doc_id",
            F.size(toks).cast("long").alias("dl"),
            *[_tf(tm).alias(f"tf{i}") for i, tm in enumerate(_BM25_TERMS)],
        )

    return lru_persisted(
        _BM25_TF_CACHE,
        f"{spark.sparkContext.applicationId}:{sf_dir}:bm25_tf",
        build,
    )


def _bm25_scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, dl, score) for the fixed _BM25_TERMS query — the ONE
    implementation of the Okapi BM25 score expression, shared by
    q_bm25_rank and q_hybrid_rrf. Shared on purpose: the score must
    match the DuckDB oracles bit-for-bit before rounding, and floating-
    point association is part of the contract — (idf * num) / denom and
    idf * (num / denom) can differ by an ulp and flip ranks at a pool
    boundary, which is exactly the drift two hand-maintained copies
    developed.

    Plan (the 100 TB story both callers inherit): per-doc term
    frequencies are map-side array ops on the token split, persisted
    once per corpus (bm25_tf — previously recomputed per reference and
    per consumer); the corpus statistics reduce to ONE 1-row aggregate
    broadcast back; scoring is a map-only projection. Nothing shuffles
    the corpus."""
    t = bm25_tf(spark, sf_dir)
    stats = t.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("dl").cast("long").alias("sum_dl"),
        *[
            F.count(F.when(F.col(f"tf{i}") > 0, 1)).cast("long").alias(f"df{i}")
            for i in range(len(_BM25_TERMS))
        ],
    )
    avgdl = F.col("sum_dl") * 1.0 / F.col("n")
    score = None
    for i in range(len(_BM25_TERMS)):
        idf = F.log(
            (F.col("n") - F.col(f"df{i}") + 0.5) / (F.col(f"df{i}") + 0.5) + 1.0
        )
        part = idf * (F.col(f"tf{i}") * (_BM25_K1 + 1.0)) / (
            F.col(f"tf{i}")
            + _BM25_K1 * (1.0 - _BM25_B + _BM25_B * F.col("dl") / avgdl)
        )
        score = part if score is None else score + part
    any_tf = None
    for i in range(len(_BM25_TERMS)):
        any_tf = (
            F.col(f"tf{i}")
            if any_tf is None
            else any_tf + F.col(f"tf{i}")
        )
    return (
        t.join(F.broadcast(stats))
        .filter(any_tf > 0)
        .select("doc_id", "dl", score.alias("score"))
    )


@query(
    "q_bm25_rank",
    oracle=f"""
    WITH t AS (
        SELECT doc_id,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS dl,
               {', '.join(f'CAST({_bm25_tf_sql(t)} AS BIGINT) AS tf{i}'
                          for i, t in enumerate(_BM25_TERMS))}
        FROM documents
    ), stats AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(dl) AS BIGINT) AS sum_dl,
               {', '.join(f'CAST(count(*) FILTER (tf{i} > 0) AS BIGINT) AS df{i}'
                          for i in range(len(_BM25_TERMS)))}
        FROM t
    ), scored AS (
        SELECT doc_id, dl,
               {' + '.join(
                   f"(ln((n - df{i} + 0.5) / (df{i} + 0.5) + 1.0)"
                   f" * (tf{i} * ({_BM25_K1} + 1.0))"
                   f" / (tf{i} + {_BM25_K1} * (1.0 - {_BM25_B}"
                   f" + {_BM25_B} * dl / (sum_dl * 1.0 / n))))"
                   for i in range(len(_BM25_TERMS)))} AS score
        FROM t CROSS JOIN stats
        WHERE {' + '.join(f'tf{i}' for i in range(len(_BM25_TERMS)))} > 0
    )
    SELECT doc_id, dl, {roundn_sql('score', 6)} AS bm25
    FROM scored
    ORDER BY score DESC, doc_id
    LIMIT {_BM25_TOP_K}
    """,
)
def q_bm25_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 document ranking for a fixed query term set — the retrieval
    scorer a RAG/data-curation pipeline runs to pull topical documents
    out of a corpus (Okapi BM25, k1=1.2, b=0.75, Lucene's +1 idf form so
    scores stay positive).

    Plan: per-doc term frequencies are map-side array ops on the token
    split (no explode — the query is a handful of terms, so tf is
    size(filter(toks, = term)) per term); the corpus statistics (N,
    Σdl, per-term df) reduce to ONE 1-row aggregate broadcast back as a
    cross join; scoring is a map-only projection and the cut is
    TakeOrdered (partial top-k per partition, no global sort). avgdl is
    computed as exact-integer Σdl / N at use — both engines derive every
    double from the same exact integers, so scores match bit-for-bit
    before the 6-dp round. At 100 TB: one corpus scan, a 1-row
    broadcast, and a top-k — nothing shuffles the corpus."""
    return (
        _bm25_scored(spark, sf_dir)
        .orderBy(F.col("score").desc(), "doc_id")
        .limit(_BM25_TOP_K)
        .select("doc_id", "dl", roundn(F.col("score"), 6).alias("bm25"))
    )


# Gopher-style quality rules, tuned to the synthetic corpus so each rule
# has bite (real pipelines tune them per corpus the same way).
_GOPHER_MIN_TOK = 25
_GOPHER_MAX_TOK = 1_000
_GOPHER_MIN_WORD_LEN = 3.0
_GOPHER_MAX_WORD_LEN = 10.0
_GOPHER_MIN_STOP_HITS = 2
_GOPHER_MAX_REP = 0.2


@query(
    "q_quality_filter_gopher",
    oracle=f"""
    WITH g AS (
        SELECT doc_id,
               unnest({ngram_list_sql(3)}) AS gram
        FROM documents WHERE text IS NOT NULL
    ), rep AS (
        SELECT doc_id,
               1.0 - count(DISTINCT gram) * 1.0 / count(*) AS rep_ratio
        FROM g GROUP BY doc_id
    ), t AS (
        -- LEFT join: a NULL-text doc has no grams, and its row must
        -- survive with NULL rep_ratio (every rule reads NULL, keep
        -- reads NULL — same three-valued verdict as the Spark side)
        SELECT d.doc_id,
               len(string_split(text, ' ')) AS n_tok,
               (n_chars - (len(string_split(text, ' ')) - 1)) * 1.0
                   / len(string_split(text, ' ')) AS mwl,
               len(list_intersect(string_split(text, ' '), {_sql_list(_EN)}))
                   AS stop_hits,
               rep.rep_ratio
        FROM documents d LEFT JOIN rep USING (doc_id)
    )
    SELECT doc_id,
           n_tok BETWEEN {_GOPHER_MIN_TOK} AND {_GOPHER_MAX_TOK} AS r_len,
           mwl BETWEEN {_GOPHER_MIN_WORD_LEN} AND {_GOPHER_MAX_WORD_LEN}
               AS r_word_len,
           stop_hits >= {_GOPHER_MIN_STOP_HITS} AS r_stopwords,
           rep_ratio <= {_GOPHER_MAX_REP} AS r_repetition,
           (n_tok BETWEEN {_GOPHER_MIN_TOK} AND {_GOPHER_MAX_TOK})
               AND (mwl BETWEEN {_GOPHER_MIN_WORD_LEN} AND {_GOPHER_MAX_WORD_LEN})
               AND stop_hits >= {_GOPHER_MIN_STOP_HITS}
               AND rep_ratio <= {_GOPHER_MAX_REP} AS keep
    FROM t
    """,
)
def q_quality_filter_gopher(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Gopher-rule composite quality FILTER — the shippable keep/drop
    verdict that combines the individual signals the other text queries
    expose (token-count bounds, mean-word-length bounds, stopword
    presence, intra-doc repetition cap), reported per rule so a pipeline
    can audit WHY a document was dropped, plus the conjunction. This is
    the standard pre-dedup gate (Gopher/MassiveText rules, adapted to
    the synthetic corpus' ranges).

    Plan: pure map-side projection — token split, array ops, and the
    3-gram repetition ratio (dedup.ngram_array, codegen'd) all evaluate
    in one scan with zero shuffles; identical plan at 100 TB.

    NULL text: every rule and the keep verdict read NULL on both
    engines (r8 adversarial sweep — the repetition leg used to read the
    concat_ws '' gram as rep 0.0 and VOTE KEEP on a doc with no text,
    while the oracle's NULL-gram COUNT(DISTINCT) scored it rep 1.0 and
    voted drop; see q_repetition_score). A doc with no text gets no
    verdict, not a confident one."""
    toks = F.split("text", " ")
    grams = F.when(F.col("text").isNotNull(), ngram_array(toks, 3))
    n_tok = F.size(toks)
    mwl = (F.col("n_chars") - (n_tok - 1)) * 1.0 / n_tok
    stop_hits = F.size(
        F.array_intersect(toks, F.array(*[F.lit(w) for w in _EN]))
    )
    rep = F.lit(1.0) - F.size(F.array_distinct(grams)) * 1.0 / F.size(grams)
    r_len = n_tok.between(_GOPHER_MIN_TOK, _GOPHER_MAX_TOK)
    r_word_len = mwl.between(_GOPHER_MIN_WORD_LEN, _GOPHER_MAX_WORD_LEN)
    r_stop = stop_hits >= _GOPHER_MIN_STOP_HITS
    r_rep = rep <= _GOPHER_MAX_REP
    return table(spark, sf_dir, "documents").select(
        "doc_id",
        r_len.alias("r_len"),
        r_word_len.alias("r_word_len"),
        r_stop.alias("r_stopwords"),
        r_rep.alias("r_repetition"),
        (r_len & r_word_len & r_stop & r_rep).alias("keep"),
    )


_BPE_TOP_K = 50


@query(
    "q_bpe_pair_counts",
    oracle=f"""
    WITH tok AS (
        SELECT unnest(string_split(text, ' ')) AS token FROM documents
    ), vocab AS (
        SELECT token, CAST(count(*) AS BIGINT) AS freq
        FROM tok GROUP BY token HAVING len(token) >= 2
    ), pairs AS (
        SELECT substring(token, CAST(i AS INT), 2) AS pair, freq
        FROM vocab, unnest(generate_series(1, len(token) - 1)) AS u(i)
    )
    SELECT pair, CAST(sum(freq) AS BIGINT) AS n
    FROM pairs GROUP BY pair
    ORDER BY n DESC, pair
    LIMIT {_BPE_TOP_K}
    """,
)
def q_bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The first step of BPE tokenizer training: corpus-frequency-
    weighted counts of adjacent character pairs, whose argmax is the
    first merge. The trick that makes this 100 TB-cheap: pair explosion
    happens on the VOCABULARY (distinct tokens with their corpus
    frequencies — a |vocab|-row relation), never on the corpus; the
    corpus contributes exactly one token-count aggregate and each
    token's pairs are weighted by its frequency. The per-token pair
    construction may use positional substring because the relation it
    runs on is tiny by design. Single-char tokens have no pairs and are
    filtered before explosion (both engines). Output: top-50 pairs by
    weighted count, lexical tiebreak."""
    vocab = (
        table(spark, sf_dir, "documents")
        .select(F.explode(F.split("text", " ")).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).cast("long").alias("freq"))
        .filter(F.length("token") >= 2)
    )
    pairs = vocab.select(
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.length("token") - 1),
                lambda i: F.col("token").substr(i, F.lit(2)),
            )
        ).alias("pair"),
        "freq",
    )
    return (
        pairs.groupBy("pair")
        .agg(F.sum("freq").cast("long").alias("n"))
        .orderBy(F.col("n").desc(), "pair")
        .limit(_BPE_TOP_K)
    )


_PMI_MIN_COUNT = 25
_PMI_TOP_K = 40


@query(
    "q_pmi_collocations",
    oracle=f"""
    WITH words AS (
        SELECT doc_id, string_split(text, ' ') AS ws FROM documents
    ), uni AS (
        SELECT unnest(ws) AS w FROM words
    ), unigrams AS (
        SELECT w, CAST(count(*) AS BIGINT) AS c FROM uni GROUP BY w
    ), tot AS (
        SELECT CAST(sum(c) AS DOUBLE) AS n FROM unigrams
    ), bigrams AS (
        SELECT ws[CAST(i AS INTEGER)] AS w1,
               ws[CAST(i AS INTEGER) + 1] AS w2
        FROM words, unnest(generate_series(1, len(ws) - 1)) AS t(i)
    ), bg AS (
        SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12 FROM bigrams
        GROUP BY w1, w2 HAVING count(*) >= {_PMI_MIN_COUNT}
    ), btot AS (
        SELECT CAST(count(*) AS DOUBLE) AS b FROM bigrams
    )
    SELECT bg.w1, bg.w2, bg.c12,
           {roundn_sql(
               'ln((bg.c12 / btot.b) / ((u1.c / tot.n) * (u2.c / tot.n)))', 6
           )} AS pmi
    FROM bg
    JOIN unigrams u1 ON u1.w = bg.w1
    JOIN unigrams u2 ON u2.w = bg.w2
    CROSS JOIN tot CROSS JOIN btot
    ORDER BY pmi DESC, bg.w1, bg.w2
    LIMIT {_PMI_TOP_K}
    """,
)
def q_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pointwise-mutual-information collocation mining: the corpus's most
    associated adjacent word pairs — the classic phrase-detection pass
    (word2vec's phrase pre-join, quality-signal n-grams) that complements
    q_bigram_logprob's per-doc scoring with a corpus-level model readout.

    Scale shape: ONE in-scan Generate produces bigrams, unigram and
    bigram counts are two hash aggregates on vocab-cardinality keys
    (map-side partials collapse the corpus before either exchange); the
    bigram relation min-count-prunes BEFORE joining its two unigram
    marginals (post-prune it is tiny, so both marginal joins broadcast
    under AQE); the two grand totals attach as 1-row broadcasts. PMI is
    computed from exact integer counts so both engines round the same
    doubles; TakeOrdered keeps only the top-40."""
    words = table(spark, sf_dir, "documents").select(
        F.split("text", " ").alias("ws")
    )
    unigrams = (
        words.select(F.explode("ws").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    tot = unigrams.agg(F.sum("c").cast("double").alias("n"))
    # Single-word (and empty-split) docs contribute no bigrams; without
    # the filter sequence(1, 0) descends and element_at(ws, 0) throws.
    bigrams = words.filter(F.size("ws") >= 2).select(
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("ws") - 1),
                lambda i: F.struct(
                    F.element_at(F.col("ws"), i).alias("w1"),
                    F.element_at(F.col("ws"), i + 1).alias("w2"),
                ),
            )
        ).alias("p")
    ).select("p.w1", "p.w2")
    btot = bigrams.agg(F.count(F.lit(1)).cast("double").alias("b"))
    bg = (
        bigrams.groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c12"))
        .filter(F.col("c12") >= _PMI_MIN_COUNT)
    )
    u1 = unigrams.select(F.col("w").alias("u1_w"), F.col("c").alias("c1"))
    u2 = unigrams.select(F.col("w").alias("u2_w"), F.col("c").alias("c2"))
    return (
        bg.join(u1, bg.w1 == u1.u1_w)
        .join(u2, bg.w2 == u2.u2_w)
        .join(F.broadcast(tot))
        .join(F.broadcast(btot))
        .select(
            "w1",
            "w2",
            "c12",
            roundn(
                F.log(
                    (F.col("c12") / F.col("b"))
                    / ((F.col("c1") / F.col("n")) * (F.col("c2") / F.col("n")))
                ),
                6,
            ).alias("pmi"),
        )
        .orderBy(F.col("pmi").desc(), "w1", "w2")
        .limit(_PMI_TOP_K)
    )


_VOCAB_MIN_FREQ = 2


@query(
    "q_tokenize_to_ids",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id,
               CAST(i AS INTEGER) - 1 AS pos,
               ws[CAST(i AS INTEGER)] AS w
        FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
             unnest(generate_series(1, len(ws))) AS t(i)
    ), vocab AS (
        SELECT w,
               CAST(row_number() OVER (ORDER BY count(*) DESC, w) AS BIGINT)
                   AS id
        FROM toks GROUP BY w HAVING count(*) >= {_VOCAB_MIN_FREQ}
    )
    SELECT t.doc_id,
           CAST(count(*) AS BIGINT) AS n_tokens,
           CAST(count(*) FILTER (WHERE v.id IS NULL) AS BIGINT) AS n_oov,
           list(COALESCE(v.id, 0) ORDER BY t.pos) AS token_ids
    FROM toks t LEFT JOIN vocab v ON v.w = t.w
    GROUP BY t.doc_id
    """,
)
def q_tokenize_to_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus tokenization to id sequences: build a frequency-ranked
    vocabulary (rank 1 = most frequent, min corpus frequency {2}, OOV →
    id 0), then map every document to its ordered token-id array — the
    text→tensor step that feeds q_doc_pack / q_token_budget_select.

    Scale shape: tokens explode in-scan with their ordinal (Generate);
    the vocabulary is a vocab-cardinality aggregate whose id assignment
    is ONE window over the vocab relation (bounded — a tokenizer's vocab
    is 10^4..10^6 at any corpus size; for unbounded key spaces the
    distributed rank is q_surrogate_key_dist's sketch-bucket plan); the
    token→id join broadcasts the vocab; reassembly is one doc_id shuffle
    with array_sort(collect_list(struct(pos,id))) recovering order
    without a second window. OOV handling is explicit (id 0 + per-doc
    count) because silent OOV drops corrupt token budgets downstream."""
    toks = (
        table(spark, sf_dir, "documents")
        .select(
            "doc_id", F.posexplode(F.split("text", " ")).alias("pos", "w")
        )
    )
    w = Window.orderBy(F.col("c").desc(), "w")
    vocab = (
        toks.groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") >= _VOCAB_MIN_FREQ)
        .select("w", F.row_number().over(w).cast("long").alias("id"))
        .withColumnRenamed("w", "v_w")
    )
    return (
        toks.join(F.broadcast(vocab), toks.w == vocab.v_w, "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.count_if(F.col("id").isNull()).alias("n_oov"),
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.struct("pos", F.coalesce("id", F.lit(0)).alias("id"))
                    )
                ),
                lambda s: s.id,
            ).alias("token_ids"),
        )
    )


_ANON_SALT = "s3cr3t-rotation-2024Q1"


@query(
    "q_anonymize_keys",
    oracle=f"""
    SELECT substr(sha256('{_ANON_SALT}:' || CAST(user_id AS VARCHAR)), 1, 16)
               AS pseudo_user,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(count(DISTINCT event_type) AS BIGINT) AS n_types
    FROM events
    GROUP BY user_id
    """,
)
def q_anonymize_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Consistent key pseudonymization (the GDPR-pipeline primitive
    q_pii_redact's free-text scrubbing doesn't cover): every user_id maps
    to the same salted-SHA256 token everywhere, so joins and per-user
    aggregation still work across tables and runs WITHIN a salt rotation,
    while the mapping is irreversible without the salt. Grouping by the
    raw id and projecting only the token proves the aggregation-
    compatibility claim: per-pseudonym stats equal per-user stats.

    Plan: the aggregation groups on the ORIGINAL numeric key and the
    token is projected AFTER the aggregate — so the shuffle carries
    8-byte keys plus partial counts, never hash strings, and sha2 runs
    once per GROUP, not once per event. Salt lives in the plan as a
    literal; production rotates it via config, which re-keys every token
    — the documented forgetting mechanism."""
    e = table(spark, sf_dir, "events")
    return e.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.count_distinct("event_type").alias("n_types"),
    ).select(
        F.substring(
            F.sha2(
                F.concat(F.lit(f"{_ANON_SALT}:"), F.col("user_id").cast("string")),
                256,
            ),
            1,
            16,
        ).alias("pseudo_user"),
        "n_events",
        "n_types",
    )


# k-anonymity threshold: an equivalence class of quasi-identifiers with
# fewer than this many rows is a re-identification risk (the release
# gate refuses, generalizes, or suppresses those rows).
_K_ANON = 5


def _value_band() -> Column:
    """Decile band of the event value — the shared quasi-identifier
    projection of the privacy-release trio (k-anonymity / l-diversity /
    t-closeness). Non-finite AND |value| >= 2**63 values MUST be masked
    BEFORE floor: Spark's floor(double) casts to long itself, coercing
    NaN to 0, +/-Inf AND finite huge values to Long.MIN/MAX before a
    try_cast can NULL them, silently merging corrupt-sensor rows into
    real bands — while the DuckDB oracle's TRY_CAST reads NULL for all
    of them (r7 + r8 ADVICE, verified by probe). Masked identically on
    both engines (floor_long / floor_long_sql), the corrupt band reads
    NULL everywhere: its own equivalence class, the standard treatment."""
    return floor_long(F.col("value"), 10).alias("value_band")


@query(
    "q_k_anonymity",
    oracle=f"""
    WITH cls AS (
        SELECT event_type,
               date_trunc('hour', ts) AS hour_bucket,
               {floor_long_sql('value', 10)} AS value_band,
               CAST(count(*) AS BIGINT) AS c
        FROM events
        GROUP BY 1, 2, 3
    )
    SELECT CAST(min(c) AS BIGINT) AS k_anonymity,
           CAST(count(*) AS BIGINT) AS n_classes,
           CAST(count(CASE WHEN c < {_K_ANON} THEN 1 END) AS BIGINT)
               AS n_violating,
           CAST(coalesce(sum(CASE WHEN c < {_K_ANON} THEN c END), 0)
                AS BIGINT) AS rows_at_risk,
           {roundn_sql(
               f'coalesce(sum(CASE WHEN c < {_K_ANON} THEN c END), 0)'
               ' * 1.0 / sum(c)', 6)} AS risk_share,
           CAST(max(c) AS BIGINT) AS largest_class
    FROM cls
    """,
)
def q_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-ANONYMITY AUDIT (Sweeney 2002) — the release gate that
    complements q_anonymize_keys' pseudonymization and q_pii_redact's
    scrubbing: pseudonymized data still re-identifies people when a
    combination of innocuous QUASI-IDENTIFIERS (here event_type x hour
    bucket x value decile band) is unique or near-unique. The audit
    reports the dataset's k (the smallest equivalence-class size), how
    many classes fall under the k={_K_ANON} threshold, and the row count
    / share at risk — the numbers that decide between releasing,
    generalizing a quasi-identifier (coarser hour bucket, wider band),
    or suppressing the violating rows.

    Plan: two hash aggregates — quasi-key classes with map-side
    partials, then a single-row global summary over the |classes|-row
    relation. One corpus scan, no join, no window, no Python; the
    second exchange carries |classes| partial rows. The band projection
    masks non-finite values BEFORE floor (_value_band) so NaN/Inf read
    NULL — their own class — in both engines instead of Spark-side
    coercion to 0 / Long.MAX (r7 ADVICE fix, differentially pinned on
    the adversarial fixture)."""
    cls = (
        table(spark, sf_dir, "events")
        .groupBy(
            "event_type",
            F.date_trunc("hour", F.col("ts")).alias("hour_bucket"),
            _value_band(),
        )
        .agg(F.count(F.lit(1)).alias("c"))
    )
    at_risk = F.coalesce(
        F.sum(F.when(F.col("c") < _K_ANON, F.col("c"))), F.lit(0)
    )
    return cls.agg(
        F.min("c").cast("long").alias("k_anonymity"),
        F.count(F.lit(1)).cast("long").alias("n_classes"),
        F.count(F.when(F.col("c") < _K_ANON, 1)).cast("long").alias(
            "n_violating"
        ),
        at_risk.cast("long").alias("rows_at_risk"),
        roundn(at_risk * 1.0 / F.sum("c"), 6, guard=False).alias("risk_share"),
        F.max("c").cast("long").alias("largest_class"),
    )


# l-diversity threshold: a quasi-class whose SENSITIVE attribute takes
# fewer than this many distinct values allows attribute inference even
# when the class is k-anonymous (everyone in it shares the secret).
_L_DIV = 3


@query(
    "q_l_diversity",
    oracle=f"""
    WITH cls AS (
        SELECT event_type,
               date_trunc('hour', ts) AS hour_bucket,
               {floor_long_sql('value', 10)} AS value_band,
               CAST(count(*) AS BIGINT) AS c,
               CAST(count(DISTINCT user_id) AS BIGINT) AS l
        FROM events
        GROUP BY 1, 2, 3
    )
    SELECT CAST(min(l) AS BIGINT) AS l_diversity,
           CAST(count(*) AS BIGINT) AS n_classes,
           CAST(count(CASE WHEN l < {_L_DIV} THEN 1 END) AS BIGINT)
               AS n_homogeneous,
           CAST(coalesce(sum(CASE WHEN l < {_L_DIV} THEN c END), 0)
                AS BIGINT) AS rows_at_risk,
           {roundn_sql(
               f'coalesce(sum(CASE WHEN l < {_L_DIV} THEN c END), 0)'
               ' * 1.0 / sum(c)', 6)} AS risk_share
    FROM cls
    """,
)
def q_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L-DIVERSITY AUDIT (Machanavajjhala et al. 2006) — k-anonymity's
    standard companion: a quasi-identifier class can satisfy k and still
    leak, because if everyone in the class shares one SENSITIVE value
    (here user_id as the sensitive attribute stand-in), membership alone
    reveals it — the homogeneity attack. The audit reports the dataset's
    l (minimum distinct sensitive values per class), the homogeneous
    classes under l={_L_DIV}, and the rows/share exposed. Same quasi
    keys as q_k_anonymity so the two reports read side by side.

    Plan: identical shape to q_k_anonymity plus a COUNT(DISTINCT) inside
    the class aggregate — Spark plans it as the standard two-phase
    distinct expansion on the quasi keys, still one corpus scan, no
    join, no window, no Python."""
    cls = (
        table(spark, sf_dir, "events")
        .groupBy(
            "event_type",
            F.date_trunc("hour", F.col("ts")).alias("hour_bucket"),
            _value_band(),
        )
        .agg(
            F.count(F.lit(1)).alias("c"),
            F.count_distinct("user_id").alias("l"),
        )
    )
    at_risk = F.coalesce(
        F.sum(F.when(F.col("l") < _L_DIV, F.col("c"))), F.lit(0)
    )
    return cls.agg(
        F.min("l").cast("long").alias("l_diversity"),
        F.count(F.lit(1)).cast("long").alias("n_classes"),
        F.count(F.when(F.col("l") < _L_DIV, 1)).cast("long").alias(
            "n_homogeneous"
        ),
        at_risk.cast("long").alias("rows_at_risk"),
        roundn(at_risk * 1.0 / F.sum("c"), 6, guard=False).alias("risk_share"),
    )


# t-closeness threshold: a quasi-class whose sensitive-value
# distribution sits farther than this (total variation distance) from
# the global distribution leaks attribute skew even when k and l hold.
_T_CLOSE = 0.5
_TCLOSE_CELL_CACHE: dict = {}


@query(
    "q_t_closeness",
    oracle=f"""
    WITH base AS (
        SELECT date_trunc('hour', ts) AS hour_bucket,
               {floor_long_sql('value', 10)} AS value_band,
               event_type
        FROM events
    ),
    cell AS (
        SELECT hour_bucket, value_band, event_type,
               CAST(count(*) AS BIGINT) AS n
        FROM base GROUP BY 1, 2, 3
    ),
    cls AS (
        SELECT hour_bucket, value_band,
               CAST(sum(n) AS BIGINT) AS c FROM cell GROUP BY 1, 2
    ),
    gmarg AS (
        SELECT event_type, CAST(sum(n) AS BIGINT) AS g FROM cell GROUP BY 1
    ),
    tot AS (SELECT CAST(sum(n) AS DOUBLE) AS t FROM cell),
    -- TVD needs BOTH sides of every (class, sensitive-value) pair: a
    -- value absent from a class contributes its full global share, so
    -- the join is class x sensitive-domain, then cell counts attach left
    tvd AS (
        SELECT cls.hour_bucket, cls.value_band, cls.c,
               sum(abs(coalesce(cell.n, 0) * 1.0 / cls.c
                       - gmarg.g / tot.t)) / 2 AS tvd
        FROM cls CROSS JOIN gmarg CROSS JOIN tot
        LEFT JOIN cell ON cell.hour_bucket IS NOT DISTINCT FROM cls.hour_bucket
                      AND cell.value_band IS NOT DISTINCT FROM cls.value_band
                      AND cell.event_type = gmarg.event_type
        GROUP BY 1, 2, 3
    )
    SELECT {roundn_sql('max(tvd)', 6)} AS t_closeness,
           CAST(count(*) AS BIGINT) AS n_classes,
           CAST(count(CASE WHEN {roundn_sql('tvd', 6)} > {_T_CLOSE}
                      THEN 1 END) AS BIGINT) AS n_skewed,
           CAST(coalesce(sum(CASE WHEN {roundn_sql('tvd', 6)} > {_T_CLOSE}
                             THEN c END), 0) AS BIGINT) AS rows_at_risk
    FROM tvd
    """,
)
def q_t_closeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T-CLOSENESS AUDIT (Li et al. 2007) — the third leg of the release
    trio: a class can be k-anonymous AND l-diverse yet still leak when
    its sensitive-value DISTRIBUTION is skewed far from the global one
    (the skewness attack — "3 distinct diagnoses" means little if 98% of
    the class shares one). Sensitive attribute here is event_type (small
    domain, the textbook setting); quasi keys are hour bucket x value
    band. Distance is total variation (the L1/EMD-with-uniform-ground
    simplification): tvd(class) = ½ Σ_v |P(v|class) − P(v)|; the report
    is the dataset's t (max tvd), classes past t={_T_CLOSE}, and rows
    exposed. TVD rounds to 6 dp BEFORE the threshold compare on BOTH
    engines so the flag cannot flip on an ulp.

    Plan: one scan into a (quasi, sensitive) cell aggregate,
    PERSISTED once per (session, corpus) — four consumers (class
    marginal, global marginal, grand total, probe) read it, and an
    unmaterialized cell subtree would re-scan the corpus once per
    consumer (measured: 4 parquet scans in the plan before the
    persist). Class and global marginals are rollups OF THE CELL
    RELATION; the class x sensitive-domain completion is a crossJoin
    against the BROADCAST |domain|-row global relation — sanctioned, a
    ~5-row dim, not the corpus (the broadcast-total rule applies to
    corpus-sized sides only); cells attach by left join on the small
    completed relation. Everything after the first aggregate is
    |classes| x |domain| rows."""
    base = table(spark, sf_dir, "events").select(
        F.date_trunc("hour", F.col("ts")).alias("hour_bucket"),
        _value_band(),
        "event_type",
    )
    cell = lru_persisted(
        _TCLOSE_CELL_CACHE,
        f"{spark.sparkContext.applicationId}:{sf_dir}:tclose_cell",
        lambda: base.groupBy("hour_bucket", "value_band", "event_type").agg(
            F.count(F.lit(1)).alias("n")
        ),
    )
    cls = cell.groupBy("hour_bucket", "value_band").agg(
        F.sum("n").alias("c")
    )
    glob = cell.groupBy("event_type").agg(F.sum("n").alias("g"))
    tot = cell.agg(F.sum("n").cast("double").alias("t"))
    # cls/glob/tot/cell all derive from one relation — rename the probe
    # side's columns so the left join is unambiguous (self-join lineage)
    cell_p = cell.select(
        F.col("hour_bucket").alias("p_hb"),
        F.col("value_band").alias("p_vb"),
        F.col("event_type").alias("p_et"),
        F.col("n").alias("p_n"),
    )
    completed = (
        cls.crossJoin(F.broadcast(glob))
        .crossJoin(F.broadcast(tot))
        .join(
            cell_p,
            [
                F.col("hour_bucket").eqNullSafe(F.col("p_hb")),
                F.col("value_band").eqNullSafe(F.col("p_vb")),
                F.col("event_type") == F.col("p_et"),
            ],
            "left",
        )
        .select(
            "hour_bucket",
            "value_band",
            "c",
            (
                F.abs(
                    F.coalesce(F.col("p_n"), F.lit(0)) * 1.0 / F.col("c")
                    - F.col("g") / F.col("t")
                )
            ).alias("term"),
        )
    )
    tvd = completed.groupBy("hour_bucket", "value_band", "c").agg(
        roundn(F.sum("term") / 2, 6, guard=False).alias("tvd")
    )
    at_risk = F.coalesce(
        F.sum(F.when(F.col("tvd") > _T_CLOSE, F.col("c"))), F.lit(0)
    )
    return tvd.agg(
        roundn(F.max("tvd"), 6, guard=False).alias("t_closeness"),
        F.count(F.lit(1)).cast("long").alias("n_classes"),
        F.count(F.when(F.col("tvd") > _T_CLOSE, 1)).cast("long").alias(
            "n_skewed"
        ),
        at_risk.cast("long").alias("rows_at_risk"),
    )


_DSIR_TARGET_SOURCES = ("src0", "src1")  # the "high-quality domain" stand-in


@query(
    "q_dsir_weights",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id, source, unnest(string_split(text, ' ')) AS token
        FROM documents
    ),
    tgt AS (
        SELECT token, count(*) AS ct FROM tok
        WHERE source IN {_DSIR_TARGET_SOURCES} GROUP BY token
    ),
    raw AS (
        SELECT token, count(*) AS cr FROM tok
        WHERE source NOT IN {_DSIR_TARGET_SOURCES} GROUP BY token
    ),
    vocab AS (
        SELECT token, COALESCE(t.ct, 0) AS ct, COALESCE(r.cr, 0) AS cr
        FROM (SELECT DISTINCT token FROM tok)
        LEFT JOIN tgt t USING (token) LEFT JOIN raw r USING (token)
    ),
    tots AS (
        SELECT sum(ct) AS nt, sum(cr) AS nr,
               CAST(count(*) AS BIGINT) AS v
        FROM vocab
    )
    SELECT k.doc_id,
           CAST(count(*) AS BIGINT) AS n_tokens,
           {roundn_sql(
               "CAST(sum(CAST("
               "ln((v.ct + 1.0) / (tots.nt + tots.v))"
               " - ln((v.cr + 1.0) / (tots.nr + tots.v))"
               " AS DECIMAL(28,12))) AS DOUBLE) / count(*)",
               6,
           )} AS dsir_weight
    FROM tok k JOIN vocab v USING (token) CROSS JOIN tots
    WHERE k.source NOT IN {_DSIR_TARGET_SOURCES}
    GROUP BY k.doc_id
    """,
)
def q_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance weights (Xie et al. 2023, arXiv:2302.03169 —
    Data Selection via Importance Resampling): score every RAW-pool
    document by the mean log-ratio of two add-1-smoothed unigram LMs,
    one trained on the target domain (here: sources {_DSIR_TARGET_SOURCES}),
    one on the raw pool. High weight = "looks like the target"; the
    resampling step is q_weighted_sample with these weights (the two
    queries compose into the paper's pipeline). The paper hashes n-grams
    into a fixed-width table; at this vocab size exact unigrams are the
    stronger check and the hashed variant changes only the token→bucket
    projection.

    Scale shape: one corpus tokenize feeding BOTH model aggregates and
    the scoring join (vocab-cardinality relations throughout); totals
    are a 1-row broadcast; the per-doc sum is DECIMAL-quantized so the
    shuffle order can't move the hash. Smoothing uses the SHARED vocab
    (union of both pools) so neither log is ever of zero."""
    tok = table(spark, sf_dir, "documents").select(
        "doc_id", "source", F.explode(F.split("text", " ")).alias("token")
    )
    is_tgt = F.col("source").isin(*_DSIR_TARGET_SOURCES)
    vocab = (
        tok.groupBy("token")
        .agg(
            F.count_if(is_tgt).alias("ct"),
            F.count_if(~is_tgt).alias("cr"),
        )
    )
    tots = vocab.agg(
        F.sum("ct").alias("nt"),
        F.sum("cr").alias("nr"),
        F.count(F.lit(1)).alias("v"),
    )
    term = (
        F.log((F.col("ct") + 1.0) / (F.col("nt") + F.col("v")))
        - F.log((F.col("cr") + 1.0) / (F.col("nr") + F.col("v")))
    ).cast("decimal(28,12)")
    return (
        tok.filter(~is_tgt)
        .join(vocab, "token")
        .join(F.broadcast(tots))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            roundn(
                F.sum(term).cast("double") / F.count(F.lit(1)), 6
            ).alias("dsir_weight"),
        )
    )


_RRF_K = 60
_RRF_POOL = 200  # per-system candidate pool; 1/(60+200) is already negligible
_RRF_TOP = 20
_RRF_QVEC_ID = 0  # the semantic query: embedding of id 0


@query(
    "q_hybrid_rrf",
    oracle=f"""
    WITH t AS (
        SELECT doc_id,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS dl,
               {', '.join(f'CAST({_bm25_tf_sql(t)} AS BIGINT) AS tf{i}'
                          for i, t in enumerate(_BM25_TERMS))}
        FROM documents
    ), stats AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(dl) AS BIGINT) AS sum_dl,
               {', '.join(f'CAST(count(*) FILTER (tf{i} > 0) AS BIGINT) AS df{i}'
                          for i in range(len(_BM25_TERMS)))}
        FROM t
    ), lex_pool AS (
        SELECT doc_id,
               {' + '.join(
                   f"(ln((n - df{i} + 0.5) / (df{i} + 0.5) + 1.0)"
                   f" * (tf{i} * ({_BM25_K1} + 1.0))"
                   f" / (tf{i} + {_BM25_K1} * (1.0 - {_BM25_B}"
                   f" + {_BM25_B} * dl / (sum_dl * 1.0 / n))))"
                   for i in range(len(_BM25_TERMS)))} AS score
        FROM t CROSS JOIN stats
        WHERE {' + '.join(f'tf{i}' for i in range(len(_BM25_TERMS)))} > 0
        ORDER BY score DESC, doc_id LIMIT {_RRF_POOL}
    ), lex AS (
        SELECT doc_id,
               CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS BIGINT)
                   AS lex_rank
        FROM lex_pool
    ), qv AS (
        SELECT embedding AS q FROM embeddings
        WHERE vec_id = {_RRF_QVEC_ID}
          AND {usable_norm_sql('embeddings')}
    ), sem_pool AS (
        SELECT b.vec_id AS doc_id,
               list_reduce(list_transform(generate_series(1, len(qv.q)),
                   i -> CAST(qv.q[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)),
                   (x, y) -> x + y)
               / (sqrt(list_reduce(list_transform(CAST(qv.q AS DOUBLE[]),
                      v -> v * v), (x, y) -> x + y))
                * sqrt(list_reduce(list_transform(CAST(b.embedding AS DOUBLE[]),
                      v -> v * v), (x, y) -> x + y))) AS cosine
        FROM embeddings b CROSS JOIN qv
        WHERE b.vec_id <> {_RRF_QVEC_ID}
          AND {usable_norm_sql('b')}
        ORDER BY cosine DESC, b.vec_id LIMIT {_RRF_POOL}
    ), sem AS (
        SELECT doc_id,
               CAST(row_number() OVER (ORDER BY cosine DESC, doc_id) AS BIGINT)
                   AS sem_rank
        FROM sem_pool
    )
    SELECT COALESCE(lex.doc_id, sem.doc_id) AS doc_id,
           lex.lex_rank, sem.sem_rank,
           CAST(round(CAST(
               COALESCE(1.0 / ({_RRF_K} + lex.lex_rank), 0)
               + COALESCE(1.0 / ({_RRF_K} + sem.sem_rank), 0)
               AS DECIMAL(28,12)), 9) AS DOUBLE) AS rrf
    FROM lex FULL OUTER JOIN sem ON lex.doc_id = sem.doc_id
    ORDER BY rrf DESC, doc_id LIMIT {_RRF_TOP}
    """,
)
def q_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval via Reciprocal Rank Fusion (Cormack et al.,
    SIGIR'09): fuse the lexical BM25 ranking (q_bm25_rank's formula and
    constants) with a semantic cosine ranking against a query embedding,
    score = Σ 1/(k + rank_system), k=60 — the standard
    keyword+vector-search combiner (Elasticsearch/Vespa's default
    hybrid mode).

    Scale doctrine — rank the POOL, not the corpus: each system first
    takes its top-{_RRF_POOL} by TakeOrderedAndProject (per-partition
    local top-k, no global sort, no corpus-sized window), and
    row_number runs on that ≤{_RRF_POOL}-row relation; beyond the pool
    1/(k+rank) is negligible by construction. The fusion join is two
    tiny relations (broadcast). The semantic side broadcasts the 1-row
    query vector; the corpus never shuffles in either system."""
    lex_pool = (
        _bm25_scored(spark, sf_dir)
        .select("doc_id", "score")
        .orderBy(F.col("score").desc(), "doc_id")
        .limit(_RRF_POOL)
    )
    w_lex = Window.orderBy(F.col("score").desc(), "doc_id")
    lex = lex_pool.select(
        "doc_id", F.row_number().over(w_lex).cast("long").alias("lex_rank")
    )

    from bitcoinminingetl_spark.operators.dedup import normed_embeddings

    # normed load: zero-norm corpus vectors can't join the semantic pool
    # (cosine undefined; ANSI division would kill the job)
    emb = normed_embeddings(spark, sf_dir)
    # reuse the norm column the normed load already attaches — an inline
    # norm() would re-run the 64-dim HOF fold per row (numeric.py caveat)
    qv = emb.filter(F.col("vec_id") == _RRF_QVEC_ID).select(
        F.col("embedding").alias("q_emb"),
        F.col("norm").alias("q_norm"),
    )
    sem_pool = (
        emb.filter(F.col("vec_id") != _RRF_QVEC_ID)
        .join(F.broadcast(qv))
        .select(
            F.col("vec_id").alias("doc_id"),
            (
                dot(F.col("embedding"), F.col("q_emb"))
                / (F.col("norm") * F.col("q_norm"))
            ).alias("cosine"),
        )
        .orderBy(F.col("cosine").desc(), "doc_id")
        .limit(_RRF_POOL)
    )
    w_sem = Window.orderBy(F.col("cosine").desc(), "doc_id")
    sem = sem_pool.select(
        "doc_id", F.row_number().over(w_sem).cast("long").alias("sem_rank")
    )
    # Fusion WITHOUT a join: each system contributes (doc_id, its rank,
    # its 1/(k+rank)) rows; one tiny groupBy sums contributions and
    # carries each system's rank through max(). Generalizes to S systems
    # as S unions — no full-outer join (which Spark cannot broadcast and
    # would plan as a sort-merge even on two 200-row inputs).
    contrib = (
        lex.select(
            "doc_id",
            F.col("lex_rank").alias("lr"),
            F.lit(None).cast("long").alias("sr"),
            (1.0 / (_RRF_K + F.col("lex_rank"))).alias("c"),
        )
        .unionByName(
            sem.select(
                "doc_id",
                F.lit(None).cast("long").alias("lr"),
                F.col("sem_rank").alias("sr"),
                (1.0 / (_RRF_K + F.col("sem_rank"))).alias("c"),
            )
        )
    )
    return (
        contrib.groupBy("doc_id")
        .agg(
            F.max("lr").alias("lex_rank"),
            F.max("sr").alias("sem_rank"),
            # quantize the TOTAL, as the oracle does (sum of <= one
            # contribution per system; FP addition of two doubles is
            # commutative, so the double sum is order-independent here)
            F.round(F.sum("c").cast("decimal(28,12)"), 9)
            .cast("double")
            .alias("rrf"),
        )
        .orderBy(F.col("rrf").desc(), "doc_id")
        .limit(_RRF_TOP)
    )


_ZLIB_LEVEL = 6
_ZLIB_MIN_BYTES = 64
_ZLIB_KEEP_LO = 0.25
_ZLIB_KEEP_HI = 0.95


def _zlib_len_batches(batches):
    """mapInPandas kernel: (doc_id, text) in, (doc_id, n_bytes,
    n_compressed) out. The ONLY work done in Python is the zlib call —
    every derived quantity (ratio, keep flag) is computed JVM-side by
    the caller. NULL text = empty payload (0 bytes in, header-only
    compressed length), never a worker crash."""
    import zlib

    import pandas as pd

    for pdf in batches:
        n_bytes, n_comp = [], []
        for t in pdf["text"]:
            raw = b"" if t is None else str(t).encode("utf-8")
            n_bytes.append(len(raw))
            n_comp.append(len(zlib.compress(raw, _ZLIB_LEVEL)))
        yield pd.DataFrame(
            {"doc_id": pdf["doc_id"], "n_bytes": n_bytes, "n_compressed": n_comp}
        )


@query("q_zlib_quality")  # rows-only: zlib isn't SQL-expressible
def q_zlib_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compression-ratio quality signal (the Dolma/RedPajama-family
    heuristic): compressed_bytes / raw_bytes per document. Highly
    repetitive machine-generated spam compresses far below natural
    prose; random-noise/binary junk sits near (or above) 1.0 — the keep
    band [0.25, 0.95] cuts both tails, and docs under 64 raw bytes are
    dropped outright (the zlib header dominates, making the ratio
    meaningless). It catches repetition the n-gram signals miss
    (q_repetition_score sees exact 3-gram reuse; zlib sees ANY
    redundancy, including long-period and near-miss repeats).

    This is the one sanctioned Python drop in this module (the design
    rule at the top): DEFLATE has no SQL equivalent. The Python surface
    is minimal — an Arrow-batched mapInPandas kernel returning only the
    two byte counts (zlib itself is C-speed; the per-row loop costs
    microseconds) — while ratio, rounding and the keep flag stay in
    whole-stage codegen. Scale shape: map-only, zero shuffles, output is
    ~25 B/row regardless of document size, partitioning inherited from
    the scan — the same contract as the multimodal kernels
    (multimodal.py), at any corpus size."""
    lens = (
        table(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .mapInPandas(_zlib_len_batches, "doc_id long, n_bytes long, n_compressed long")
    )
    ratio = F.when(
        F.col("n_bytes") > 0, F.col("n_compressed") * 1.0 / F.col("n_bytes")
    )
    return lens.select(
        "doc_id",
        "n_bytes",
        "n_compressed",
        roundn(ratio, 6).alias("compress_ratio"),
        (
            (F.col("n_bytes") >= _ZLIB_MIN_BYTES)
            & ratio.between(_ZLIB_KEEP_LO, _ZLIB_KEEP_HI)
        ).alias("keep"),
    )


# ---- retrieval evaluation: nDCG@k / overlap@k of the lexical ranker ----
import math as _math
from decimal import Decimal as _Decimal

_EVAL_K = 10
# 12-dp string literals so both engines parse the EXACT same decimal —
# log2 at the last ulp is the one libm call that could diverge, so it is
# evaluated once here, not in either engine.
_NDCG_DISCOUNTS = [
    f"{1.0 / _math.log2(i + 1):.12f}" for i in range(1, _EVAL_K + 1)
]
# ideal DCG for graded relevance K..1 down the ranking — exact decimal
_NDCG_IDCG = str(
    sum(
        _Decimal(_EVAL_K + 1 - i) * _Decimal(_NDCG_DISCOUNTS[i - 1])
        for i in range(1, _EVAL_K + 1)
    )
)
_DISC_SQL = (
    "[" + ", ".join(f"CAST('{d}' AS DECIMAL(14,12))" for d in _NDCG_DISCOUNTS) + "]"
)


@query(
    "q_retrieval_eval",
    oracle=f"""
    WITH t AS (
        SELECT doc_id,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS dl,
               {', '.join(f'CAST({_bm25_tf_sql(t)} AS BIGINT) AS tf{i}'
                          for i, t in enumerate(_BM25_TERMS))}
        FROM documents
    ), stats AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(dl) AS BIGINT) AS sum_dl,
               {', '.join(f'CAST(count(*) FILTER (tf{i} > 0) AS BIGINT) AS df{i}'
                          for i in range(len(_BM25_TERMS)))}
        FROM t
    ), lex_pool AS (
        SELECT doc_id,
               {' + '.join(
                   f"(ln((n - df{i} + 0.5) / (df{i} + 0.5) + 1.0)"
                   f" * (tf{i} * ({_BM25_K1} + 1.0))"
                   f" / (tf{i} + {_BM25_K1} * (1.0 - {_BM25_B}"
                   f" + {_BM25_B} * dl / (sum_dl * 1.0 / n))))"
                   for i in range(len(_BM25_TERMS)))} AS score
        FROM t CROSS JOIN stats
        WHERE {' + '.join(f'tf{i}' for i in range(len(_BM25_TERMS)))} > 0
        ORDER BY score DESC, doc_id LIMIT {_EVAL_K}
    ), lex AS (
        SELECT doc_id,
               CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS BIGINT)
                   AS lex_rank
        FROM lex_pool
    ), qv AS (
        SELECT embedding AS q FROM embeddings
        WHERE vec_id = {_RRF_QVEC_ID}
          AND {usable_norm_sql('embeddings')}
    ), sem_pool AS (
        SELECT b.vec_id AS doc_id,
               list_reduce(list_transform(generate_series(1, len(qv.q)),
                   i -> CAST(qv.q[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)),
                   (x, y) -> x + y)
               / (sqrt(list_reduce(list_transform(CAST(qv.q AS DOUBLE[]),
                      v -> v * v), (x, y) -> x + y))
                * sqrt(list_reduce(list_transform(CAST(b.embedding AS DOUBLE[]),
                      v -> v * v), (x, y) -> x + y))) AS cosine
        FROM embeddings b CROSS JOIN qv
        WHERE b.vec_id <> {_RRF_QVEC_ID}
          AND {usable_norm_sql('b')}
        ORDER BY cosine DESC, b.vec_id LIMIT {_EVAL_K}
    ), sem AS (
        SELECT doc_id,
               CAST(row_number() OVER (ORDER BY cosine DESC, doc_id) AS BIGINT)
                   AS sem_rank
        FROM sem_pool
    ), joined AS (
        SELECT lex.lex_rank, sem.sem_rank FROM lex
        LEFT JOIN sem ON lex.doc_id = sem.doc_id
    )
    SELECT CAST({_EVAL_K} AS BIGINT) AS k,
           CAST(count(sem_rank) AS BIGINT) AS n_overlap,
           CAST(count(sem_rank) AS DOUBLE) / {_EVAL_K}.0 AS overlap_at_k,
           {roundn_sql(
               "CAST(sum(CAST(CASE WHEN sem_rank IS NOT NULL "
               f"THEN {_EVAL_K + 1} - sem_rank ELSE 0 END AS DECIMAL(4,0)) "
               f"* {_DISC_SQL}[lex_rank]) AS DOUBLE) "
               f"/ CAST('{_NDCG_IDCG}' AS DOUBLE)", 6)} AS ndcg_at_k
    FROM joined
    """,
)
def q_retrieval_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RETRIEVAL EVALUATION — overlap@{_EVAL_K} and nDCG@{_EVAL_K} of the
    lexical BM25 ranker against semantic-cosine graded relevance: before
    trusting a cheap ranker (BM25) to curate topical data at 100 TB, a
    pipeline measures how much of the semantic ranking it recovers. The
    truth side grades the cosine top-{_EVAL_K} (vs the q_hybrid_rrf
    query embedding) as relevance {_EVAL_K}..1; the system side is
    q_bm25_rank's exact scoring; nDCG = sum(rel_i * discount_i) / IDCG
    over the system's ranking.

    Engine-stable numerics: the discounts 1/log2(rank+1) and the IDCG
    are PYTHON-evaluated 12-dp decimal string literals — neither engine
    ever calls log2 — so rel*discount products and their sum are exact
    decimal arithmetic, and the one double division per metric runs on
    identical inputs. An empty lexical pool yields NULL nDCG and zero
    overlap in both engines (no ANSI hazard).

    Scale shape: both rankers are TakeOrdered top-{_EVAL_K} pools (the
    corpus never shuffles — q_bm25_rank / q_hybrid_rrf plan doctrine);
    every metric computes on a ≤{_EVAL_K}-row relation."""
    from bitcoinminingetl_spark.operators.dedup import normed_embeddings

    lex_pool = (
        _bm25_scored(spark, sf_dir)
        .select("doc_id", "score")
        .orderBy(F.col("score").desc(), "doc_id")
        .limit(_EVAL_K)
    )
    w_lex = Window.orderBy(F.col("score").desc(), "doc_id")
    lex = lex_pool.select(
        "doc_id", F.row_number().over(w_lex).cast("long").alias("lex_rank")
    )
    emb = normed_embeddings(spark, sf_dir)
    qv = emb.filter(F.col("vec_id") == _RRF_QVEC_ID).select(
        F.col("embedding").alias("q_emb"), F.col("norm").alias("q_norm")
    )
    sem_pool = (
        emb.filter(F.col("vec_id") != _RRF_QVEC_ID)
        .join(F.broadcast(qv))
        .select(
            F.col("vec_id").alias("doc_id"),
            (
                dot(F.col("embedding"), F.col("q_emb"))
                / (F.col("norm") * F.col("q_norm"))
            ).alias("cosine"),
        )
        .orderBy(F.col("cosine").desc(), "doc_id")
        .limit(_EVAL_K)
    )
    w_sem = Window.orderBy(F.col("cosine").desc(), "doc_id")
    sem = sem_pool.select(
        "doc_id", F.row_number().over(w_sem).cast("long").alias("sem_rank")
    )
    disc = F.element_at(
        F.array(
            *[
                F.expr(f"CAST('{d}' AS DECIMAL(14,12))")
                for d in _NDCG_DISCOUNTS
            ]
        ),
        F.col("lex_rank").cast("int"),
    )
    rel = F.when(
        F.col("sem_rank").isNotNull(), F.lit(_EVAL_K + 1) - F.col("sem_rank")
    ).otherwise(F.lit(0)).cast("decimal(4,0)")
    return lex.join(sem, "doc_id", "left").agg(
        F.lit(_EVAL_K).cast("long").alias("k"),
        F.count("sem_rank").cast("long").alias("n_overlap"),
        (F.count("sem_rank").cast("double") / float(_EVAL_K)).alias(
            "overlap_at_k"
        ),
        roundn(
            F.sum(rel * disc).cast("double")
            / F.lit(float(_Decimal(_NDCG_IDCG))),
            6,
            guard=False,
        ).alias("ndcg_at_k"),
    )
