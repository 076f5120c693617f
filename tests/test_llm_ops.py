"""Semantic tests for the probabilistic / rows-only LLM-data operators:
the properties their docstrings promise, beyond the rows-only smoke."""

from __future__ import annotations

from pyspark.sql import functions as F

from bitcoinminingetl_spark.functions.numeric import roundn
from bitcoinminingetl_spark.registry import load_all

REGISTRY = load_all()


def test_minhash_candidates_subset_of_exact(spark, sf_dir):
    """Verified MinHash+LSH pairs must be a subset of the exact Jaccard
    pairs at the same threshold (LSH can miss pairs, never invent them)."""
    exact = {
        (r.doc_a, r.doc_b)
        for r in REGISTRY["q_dedup_ngram_jaccard"].fn(spark, sf_dir).collect()
    }
    lsh = {
        (r.doc_a, r.doc_b)
        for r in REGISTRY["q_dedup_minhash_lsh"].fn(spark, sf_dir).collect()
    }
    assert lsh, "no pairs — planted duplicates should be detected"
    assert lsh <= exact
    # planted exact duplicates (jaccard 1.0) collide in every band
    assert len(lsh) >= len(exact) // 2


def test_simhash_finds_planted_duplicates(spark, sf_dir):
    """Exact duplicates have identical simhash -> hamming 0 pairs exist."""
    rows = REGISTRY["q_dedup_simhash"].fn(spark, sf_dir).collect()
    assert rows
    assert any(r.hamming == 0 for r in rows)


def test_simhash_pairs_dedup_without_distinct(spark):
    """r13 _simhash_pairs rewrite internals: (1) a pair sharing SEVERAL
    chunks surfaces exactly once (the first-matching-chunk filter that
    replaced the .distinct() exchange), at hamming <= max; (2) the
    2*ones >= n vote fold ties break exactly like the old sum(+/-1) >= 0
    (a bit with equal votes is SET). Two identical single-token docs
    share all 4 chunks -> exactly one (a, b, 0) row; a doc pair with
    signatures differing beyond the Hamming cap emits nothing."""
    from pyspark.sql import functions as F

    from bitcoinminingetl_spark.operators.dedup import _simhash_pairs

    # doc 1/2: same token -> identical signatures, all 4 chunks match.
    # doc 3: one token whose hash differs in >3 bits from doc 1's.
    tok = spark.createDataFrame(
        [(1, "alpha"), (2, "alpha"), (3, "omega9")],
        "doc_id long, token string",
    ).withColumn("th", F.xxhash64("token"))
    rows = _simhash_pairs(tok).collect()
    dup_rows = [r for r in rows if {r.doc_a, r.doc_b} == {1, 2}]
    assert len(dup_rows) == 1, rows  # once, not once-per-shared-chunk
    assert dup_rows[0].hamming == 0
    # vote tie: two tokens voting 1/0 on a bit -> 2*ones == n -> bit set,
    # matching the old (ones - zeros) >= 0 convention. Identical tie
    # inputs => identical signatures => the pair lands at hamming 0.
    tie = spark.createDataFrame(
        [(7, 1 << 5), (7, 0), (8, 1 << 5), (8, 0)],
        "doc_id long, th long",
    ).withColumn("token", F.lit("x"))
    tie_rows = _simhash_pairs(tie.select("doc_id", "token", "th")).collect()
    assert [(r.doc_a, r.doc_b, r.hamming) for r in tie_rows] == [(7, 8, 0)]


def test_ann_lsh_is_subset_of_exact_ranking(spark, sf_dir):
    """Every ANN neighbor must appear in the exact brute-force scoring
    with the same cosine (LSH reduces candidates, never rescores)."""
    exact = {
        (r.query_id, r.neighbor_id): r.cosine
        for r in REGISTRY["q_cosine_topk"].fn(spark, sf_dir).collect()
    }
    ann = REGISTRY["q_ann_lsh"].fn(spark, sf_dir).collect()
    assert ann
    # ann top-k within its bucket; any pair also in exact top-k must agree
    for r in ann:
        key = (r.query_id, r.neighbor_id)
        if key in exact:
            assert abs(exact[key] - r.cosine) < 1e-9


def test_approx_distinct_close_to_exact(spark, sf_dir):
    exact = {
        r.l_returnflag: r.distinct_parts
        for r in REGISTRY["q_agg_distinct"].fn(spark, sf_dir).collect()
    }
    approx = {
        r.l_returnflag: r.approx_parts
        for r in REGISTRY["q_approx_distinct"].fn(spark, sf_dir).collect()
    }
    for flag, exact_n in exact.items():
        assert abs(approx[flag] - exact_n) / exact_n < 0.05


def test_multimodal_pipeline_deterministic(spark, sf_dir):
    """Text stand-in payloads are not images: every row must honestly
    decode to 'unknown' with null dimensions, deterministically."""
    df = REGISTRY["q_multimodal_pipeline"].fn(spark, sf_dir)
    a = sorted((r.doc_id, r.width, r.height, r.format) for r in df.collect())
    b = sorted((r.doc_id, r.width, r.height, r.format) for r in df.collect())
    assert a == b
    assert all(r[1] is None and r[2] is None and r[3] == "unknown" for r in a)


def _png_bytes(w: int, h: int) -> bytes:
    return (
        b"\x89PNG\r\n\x1a\n"
        + (13).to_bytes(4, "big")
        + b"IHDR"
        + w.to_bytes(4, "big")
        + h.to_bytes(4, "big")
        + b"\x08\x06\x00\x00\x00"
        + b"\x00\x00\x00\x00"  # crc not validated by header parse
    )


def _jpeg_bytes(w: int, h: int) -> bytes:
    app0 = b"\xff\xe0" + (16).to_bytes(2, "big") + b"JFIF\x00" + b"\x00" * 9
    sof0 = (
        b"\xff\xc0"
        + (17).to_bytes(2, "big")
        + b"\x08"
        + h.to_bytes(2, "big")
        + w.to_bytes(2, "big")
        + b"\x03" + b"\x00" * 9
    )
    return b"\xff\xd8" + app0 + sof0 + b"\xff\xd9"


def test_multimodal_decodes_real_headers(spark):
    """The dependency-free codec reads true dimensions from PNG IHDR,
    JPEG SOF0, GIF, and BMP headers in a real BinaryType payload column
    through the same mapInPandas kernel the registered query uses;
    garbage bytes decode to null/'unknown' instead of raising."""
    from bitcoinminingetl_spark.operators import multimodal

    gif = b"GIF89a" + (320).to_bytes(2, "little") + (200).to_bytes(2, "little")
    bmp = (
        b"BM" + b"\x00" * 16
        + (640).to_bytes(4, "little")
        + (4294966816).to_bytes(4, "little")  # -480: top-down BMP, abs()'d
    )
    rows = [
        (1, bytearray(_png_bytes(800, 600))),
        (2, bytearray(_jpeg_bytes(1024, 768))),
        (3, bytearray(gif)),
        (4, bytearray(bmp)),
        (5, bytearray(b"just some text, not an image")),
    ]
    payloads = spark.createDataFrame(rows, "doc_id long, payload binary")
    out = {
        r.doc_id: r
        for r in payloads.mapInPandas(
            multimodal._decode_batches, multimodal._DECODE_SCHEMA
        ).collect()
    }
    assert (out[1].width, out[1].height, out[1].format) == (800, 600, "png")
    assert (out[2].width, out[2].height, out[2].format) == (1024, 768, "jpeg")
    assert out[2].aspect == round(1024 / 768, 4)
    assert (out[3].width, out[3].height, out[3].format) == (320, 200, "gif")
    assert (out[4].width, out[4].height, out[4].format) == (640, 480, "bmp")
    assert (out[5].width, out[5].height, out[5].format) == (None, None, "unknown")


def test_ann_ivf_scores_exact_and_recall_floor(spark, sf_dir):
    """IVF neighbors agree with the exact scoring wherever they overlap,
    and nprobe=4/16 keeps recall@10 well above chance (~25% of corpus
    scored)."""
    exact = {
        (r.query_id, r.neighbor_id): r.cosine
        for r in REGISTRY["q_cosine_topk"].fn(spark, sf_dir).collect()
    }
    ivf = REGISTRY["q_ann_ivf"].fn(spark, sf_dir).collect()
    assert ivf
    hits = 0
    for r in ivf:
        key = (r.query_id, r.neighbor_id)
        if key in exact:
            assert abs(exact[key] - r.cosine) < 1e-9
            hits += 1
    assert hits / len(exact) >= 0.5


def test_minhash_mllib_matches_exact_pairs(spark, sf_dir):
    """The MLlib-signature banded LSH variant returns verified
    exact-Jaccard pairs: a subset of the exact n-gram pairs with
    identical jaccard values, and most of them recovered (planted dups
    collide in every band)."""
    exact = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in REGISTRY["q_dedup_ngram_jaccard"].fn(spark, sf_dir).collect()
    }
    got = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in REGISTRY["q_dedup_minhash_mllib"].fn(spark, sf_dir).collect()
    }
    assert got, "MLlib MinHash found no pairs"
    for key, j in got.items():
        assert key in exact
        assert abs(exact[key] - j) < 1e-9
    assert len(got) >= len(exact) // 2


def test_ann_brp_mllib_recall_vs_exact(spark, sf_dir):
    """On unit-norm embeddings euclidean and cosine rank identically
    (d² = 2-2·cos), so the BRP-LSH top-10 should recover most of the
    exact cosine top-10 per query, with consistent distances."""
    exact_by_q: dict[int, set[int]] = {}
    exact_cos = {}
    for r in REGISTRY["q_cosine_topk"].fn(spark, sf_dir).collect():
        exact_by_q.setdefault(r.query_id, set()).add(r.neighbor_id)
        exact_cos[(r.query_id, r.neighbor_id)] = r.cosine
    rows = REGISTRY["q_ann_brp_mllib"].fn(spark, sf_dir).collect()
    assert rows
    hits = total = 0
    for qid, exact_nbrs in exact_by_q.items():
        got = {r.neighbor_id for r in rows if r.query_id == qid}
        hits += len(got & exact_nbrs)
        total += len(exact_nbrs)
    assert hits / total >= 0.7
    for r in rows:
        key = (r.query_id, r.neighbor_id)
        if key in exact_cos:
            # d = sqrt(2 - 2cos) up to the 6-dp rounding both sides apply
            expected = (2 - 2 * exact_cos[key]) ** 0.5
            assert abs(expected - r.euclid) < 1e-4


def test_dedup_clusters_properties(spark, sf_dir):
    """Connected-component labels: every near-dup pair shares a cluster,
    every cluster_id is the component's minimum doc_id, and only docs
    appearing in some pair are labeled."""
    pairs = REGISTRY["q_dedup_ngram_jaccard"].fn(spark, sf_dir).collect()
    labels = {
        r.doc_id: r.cluster_id
        for r in REGISTRY["q_dedup_clusters"].fn(spark, sf_dir).collect()
    }
    assert labels
    in_pairs = {r.doc_a for r in pairs} | {r.doc_b for r in pairs}
    assert set(labels) == in_pairs
    for r in pairs:
        assert labels[r.doc_a] == labels[r.doc_b]
    clusters: dict[int, set[int]] = {}
    for doc, c in labels.items():
        clusters.setdefault(c, set()).add(doc)
    for c, members in clusters.items():
        assert c == min(members)


def test_class_balance_equalizes(spark, sf_dir):
    """Every language ends at exactly the minority-class count."""
    out = REGISTRY["q_class_balance"].fn(spark, sf_dir)
    counts = {r.lang: r.n for r in out.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n")).collect()}
    assert len(set(counts.values())) == 1


def test_winnow_fingerprint_properties(spark, sf_dir, tmp_path):
    """Winnowing invariants on real data (fingerprint set never larger
    than shingle set, every long-enough doc covered) plus planted-fixture
    semantics: identical texts share a digest, distinct texts don't, and
    n_shingles = n_tokens - k + 1."""
    winnow = {
        r.doc_id: r
        for r in REGISTRY["q_fingerprint_winnow"].fn(spark, sf_dir).collect()
    }
    assert winnow
    for r in winnow.values():
        assert 1 <= r.n_fingerprints <= r.n_shingles
    text_a = "the quick brown fox jumps over the lazy dog again and again"
    text_b = "a completely different document about winnowing fingerprints ok"
    fixture = spark.createDataFrame(
        [
            (1, text_a, "en", "web", len(text_a)),
            (2, text_a, "en", "web", len(text_a)),
            (3, text_b, "en", "web", len(text_b)),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    fixture.write.parquet(str(tmp_path / "documents.parquet"))
    out = {
        r.doc_id: r
        for r in REGISTRY["q_fingerprint_winnow"].fn(spark, str(tmp_path)).collect()
    }
    assert out[1].winnow_digest == out[2].winnow_digest
    assert out[1].winnow_digest != out[3].winnow_digest
    assert out[1].n_shingles == len(text_a.split()) - 2


def test_approx_percentiles_within_tolerance(spark, sf_dir):
    """Each sketch quantile must land within 1% (relative) of the exact
    interpolated percentile for the same key and column."""
    from pyspark.sql import functions as F2

    from bitcoinminingetl_spark.catalog import table

    approx = {
        r.l_returnflag: (r.p50, r.p90, r.p99)
        for r in REGISTRY["q_approx_percentiles"].fn(spark, sf_dir).collect()
    }
    exact = {
        r.l_returnflag: (r.p50, r.p90, r.p99)
        for r in table(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F2.expr("percentile(l_extendedprice, 0.5)").alias("p50"),
            F2.expr("percentile(l_extendedprice, 0.9)").alias("p90"),
            F2.expr("percentile(l_extendedprice, 0.99)").alias("p99"),
        )
        .collect()
    }
    assert set(approx) == set(exact)
    for key, pcts in approx.items():
        for got, want in zip(pcts, exact[key]):
            assert abs(got - want) / want < 0.01


def test_pii_redact_planted_fixture(spark, tmp_path):
    """Planted emails/numbers are replaced and counted; clean text passes
    through untouched."""
    rows = [
        (1, "contact bob.smith+x@corp.example.org or call 5551234 now", "en",
         "web", 55),
        (2, "no pii here at all", "en", "web", 18),
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(str(tmp_path / "documents.parquet"))
    out = {
        r.doc_id: r
        for r in REGISTRY["q_pii_redact"].fn(spark, str(tmp_path)).collect()
    }
    assert out[1].n_emails == 1 and out[1].n_nums == 1
    assert out[1].redacted == "contact <email> or call <num> now"
    assert out[2].redacted == "no pii here at all"
    assert out[2].n_emails == 0 and out[2].n_nums == 0


def test_dedup_incremental_asymmetry(spark, tmp_path):
    """Incremental dedup only pairs NEW docs (top 20% of ids) against
    the corpus — never new-vs-new or corpus-vs-corpus, even when those
    pairs would clear the similarity threshold."""
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = [
        (1, base, "en", "web", 1),                      # corpus
        (2, base + " mu", "en", "web", 1),              # corpus (dup of 1: ignored)
        (3, "unrelated corpus text entirely different words", "en", "web", 1),
        (9, base + " nu", "en", "web", 1),              # new: dup of corpus 1,2
        (10, base + " xi", "en", "web", 1),             # new: dup of 1,2 AND of 9
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(str(tmp_path / "documents.parquet"))
    # cut = floor(10 * 0.8) = 8 -> docs 9,10 are "new"
    pairs = {
        (r.new_doc, r.corpus_doc)
        for r in REGISTRY["q_dedup_incremental"].fn(spark, str(tmp_path)).collect()
    }
    assert (9, 1) in pairs and (9, 2) in pairs
    assert (10, 1) in pairs and (10, 2) in pairs
    assert all(n > 8 and c <= 8 for n, c in pairs)  # strict asymmetry
    assert (10, 9) not in pairs and (9, 10) not in pairs  # no new-vs-new
    assert (2, 1) not in pairs  # no corpus-vs-corpus


def test_corpus_dedup_lsh_composition(spark, sf_dir, tmp_path):
    """The LSH-candidate corpus pipeline drops planted byte-dups and
    near-dups, keeps clean docs, and its survivor set contains the
    exact-pair pipeline's (LSH candidates ⊆ exact pairs, so LSH drops a
    subset of the docs — the recall trade is one-sided)."""
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = [
        (1, base, "en", "web", 1),
        (2, base, "en", "web", 1),  # byte-identical -> exact stage drops
        (3, base + " extra", "en", "web", 1),  # near-dup of 1 -> LSH drop
        (4, "totally different content with no overlap here at all", "en", "web", 1),
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(str(tmp_path / "documents.parquet"))
    lsh_survivors = {
        r.doc_id
        for r in REGISTRY["q_corpus_dedup_lsh"].fn(spark, str(tmp_path)).collect()
    }
    assert 1 in lsh_survivors and 4 in lsh_survivors
    assert 2 not in lsh_survivors  # byte dup
    assert 3 not in lsh_survivors  # near dup (9/11 > 0.3)

    # superset property on the real corpus
    exact = {
        r.doc_id for r in REGISTRY["q_corpus_dedup"].fn(spark, sf_dir).collect()
    }
    lsh = {
        r.doc_id for r in REGISTRY["q_corpus_dedup_lsh"].fn(spark, sf_dir).collect()
    }
    assert lsh >= exact


def test_embed_cosine_lsh_finds_planted_near_dups(spark, tmp_path):
    """The multi-table sign-LSH sub-buckets must recover planted
    high-cosine pairs (the fixed md5 planes make recall deterministic),
    keep pairs within their label block, and reject sub-threshold and
    cross-label pairs — every emitted pair is exactly verified. The LSH
    pair set must also be a SUBSET of the exact label-block pair set
    (the recall trade is one-sided: LSH can only miss, never invent)."""
    import numpy as np

    rng = np.random.default_rng(3)
    base = rng.standard_normal(64)
    near = base + 0.05 * rng.standard_normal(64)  # cosine ~0.999
    other_label = base + 0.05 * rng.standard_normal(64)  # near but label 2
    far = rng.standard_normal(64)  # cosine ~0 vs base
    rows = [
        (1, [float(x) for x in base], 1),
        (2, [float(x) for x in near], 1),
        (3, [float(x) for x in other_label], 2),
        (4, [float(x) for x in far], 1),
    ]
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).write.parquet(str(tmp_path / "embeddings.parquet"))
    from bitcoinminingetl_spark.operators.dedup import dedup_embed_cosine_lsh

    # PRODUCTION threshold (the 0.9 default the amplification is tuned
    # for — the registered query runs the demo threshold, so this call
    # is what keeps the production path pinned, r7 VERDICT item 1)
    pairs = {
        (r.vec_a, r.vec_b): r.cosine
        for r in dedup_embed_cosine_lsh(spark, str(tmp_path)).collect()
    }
    assert (1, 2) in pairs and pairs[(1, 2)] >= 0.9
    assert all(a < b for a, b in pairs)
    assert not any({a, b} & {3} for a, b in pairs)  # label block respected
    assert not any({a, b} & {4} for a, b in pairs)  # sub-threshold rejected

    # one-sided error: every LSH pair appears in the exact ground truth
    exact = {
        (r.vec_a, r.vec_b)
        for r in REGISTRY["q_dedup_embed_cosine"].fn(spark, str(tmp_path)).collect()
    }
    assert (1, 2) in exact
    assert set(pairs) <= exact

    # the REGISTERED (demo-threshold) variant finds the planted pair too
    # and keeps the same one-sided guarantees
    reg = {
        (r.vec_a, r.vec_b)
        for r in REGISTRY["q_dedup_embed_cosine_lsh"]
        .fn(spark, str(tmp_path))
        .collect()
    }
    assert (1, 2) in reg
    assert not any({a, b} & {3} for a, b in reg)


def test_embed_cosine_lsh_subset_on_sf_fixture(spark, sf_dir):
    """r7 VERDICT item 1, the non-vacuity half: at the registered demo
    threshold the LSH query must emit a REAL pair set on the driver
    fixture (the production 0.9 matched zero pairs at sf0.01, so the
    driver's rows-only gate proved nothing), and that set must be a
    subset of the exact twin's — one-sided error on the very data the
    driver hashes."""
    exact = {
        (r.vec_a, r.vec_b)
        for r in REGISTRY["q_dedup_embed_cosine"].fn(spark, sf_dir).collect()
    }
    lsh = {
        (r.vec_a, r.vec_b)
        for r in REGISTRY["q_dedup_embed_cosine_lsh"].fn(spark, sf_dir).collect()
    }
    assert lsh, "registered threshold must fire on the fixture"
    assert lsh <= exact


def test_embed_cosine_lsh_keeps_null_label_block(spark, tmp_path):
    """Unlabeled vectors dedup against each other: the two near-identical
    NULL-label vectors are one pair of the NULL-label block, the
    labelled copy pairs with neither, and the DuckDB oracle, whose
    bucket keys join null-safely, returns the same rows."""
    import numpy as np

    from bitcoinminingetl_spark.oracle_check import compare, duck_connect

    rng = np.random.default_rng(7)
    base = rng.standard_normal(64)
    rows = [
        (vid, [float(x) for x in base + 0.01 * rng.standard_normal(64)], label)
        for vid, label in ((1, None), (2, None), (3, 1))
    ]
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).write.parquet(str(tmp_path / "embeddings.parquet"))
    spec = REGISTRY["q_dedup_embed_cosine_lsh"]
    sdf = spec.fn(spark, str(tmp_path))
    got = sdf.collect()
    assert [(r.vec_a, r.vec_b, r.label) for r in got] == [(1, 2, None)]

    con = duck_connect(str(tmp_path))
    try:
        res = con.execute(spec.oracle)
        o_cols = [d[0].lower() for d in res.description]
        rec = compare(sdf.columns, got, o_cols, res.fetchall())
    finally:
        con.close()
    assert rec["status"] == "match", rec


def test_dedup_clusters_chain_convergence(spark, tmp_path):
    """On a 16-doc near-dup CHAIN (each doc overlaps only its neighbors
    — worst case for plain propagation, which needs ~16 rounds), the
    pointer-jumping PRIMARY must reach the full fixpoint within the
    round cap and agree exactly with the propagation-only parity twin:
    every doc labeled with the chain minimum."""
    toks = [f"t{i}" for i in range(120)]
    rows = [
        (i + 1, " ".join(toks[5 * i : 5 * i + 20]), "en", "web", 1)
        for i in range(16)
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(str(tmp_path / "documents.parquet"))
    slow = sorted(
        (r.doc_id, r.cluster_id)
        for r in REGISTRY["q_dedup_clusters_minlabel"]
        .fn(spark, str(tmp_path))
        .collect()
    )
    fast = sorted(
        (r.doc_id, r.cluster_id)
        for r in REGISTRY["q_dedup_clusters"].fn(spark, str(tmp_path)).collect()
    )
    assert fast == slow
    assert {c for _, c in fast} == {1}  # one chain, labeled by its minimum


def test_pagerank_star_hub_and_mass(spark, tmp_path):
    """On a planted STAR (one template doc near-dup to k variants that
    are NOT near-dup to each other), PageRank must (a) rank the template
    hub strictly above every leaf, (b) rank all leaves equally (graph
    symmetry), and (c) conserve rank mass: the ranks of the 5 graph
    nodes sum to ~1. Star construction: each variant = the 12 base words
    + 12 unique words, so variant-vs-template Jaccard is 10/22 ~ 0.45
    (edge) while variant-vs-variant is 10/34 ~ 0.29 (just under the 0.3
    threshold, no edge). An unrelated doc is isolated and must be absent
    from the output."""
    base = [f"b{i}" for i in range(12)]
    rows = [(1, " ".join(base), "en", "web", 1)]
    for k in range(4):
        rows.append(
            (
                2 + k,
                " ".join(base + [f"u{k}_{j}" for j in range(12)]),
                "en",
                "web",
                1,
            )
        )
    rows.append((99, "totally separate island words only here", "en", "web", 1))
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(str(tmp_path / "documents.parquet"))
    ranks = {
        r.doc_id: r.rank
        for r in REGISTRY["q_dedup_pagerank"].fn(spark, str(tmp_path)).collect()
    }
    assert set(ranks) == {1, 2, 3, 4, 5}  # isolated doc 99 not ranked
    leaf_ranks = [ranks[d] for d in (2, 3, 4, 5)]
    assert all(ranks[1] > lr for lr in leaf_ranks)  # hub dominates
    assert len({round(lr, 9) for lr in leaf_ranks}) == 1  # leaves tie
    assert abs(sum(ranks.values()) - 1.0) < 1e-6  # mass conserved


def test_pagerank_lsh_subset_and_mass(spark, sf_dir):
    """The LSH edge generator verifies candidates with the SAME exact
    Jaccard threshold as the ground-truth graph, so (a) every node LSH
    ranks must be a node the exact graph ranks (edges are a subset, so
    nodes are too), and (b) rank mass over the LSH graph still sums to
    ~1 — the undirected no-dangling argument holds per-graph regardless
    of how many edges LSH recovered."""
    exact_nodes = {
        r.doc_id for r in REGISTRY["q_dedup_pagerank"].fn(spark, sf_dir).collect()
    }
    lsh = REGISTRY["q_dedup_pagerank_lsh"].fn(spark, sf_dir).collect()
    assert len(lsh) > 0  # fixture corpus has recoverable near-dup structure
    assert {r.doc_id for r in lsh} <= exact_nodes
    assert abs(sum(r.rank for r in lsh) - 1.0) < 1e-6


def test_decontaminate_planted_overlap(spark, tmp_path):
    """A corpus doc sharing a verbatim 13-word span with an eval doc
    (doc_id % 10 == 0) is flagged with the right hit count; unrelated
    corpus docs and eval docs themselves are not flagged."""
    leaked = "the quick brown fox jumps over the lazy dog near the old mill"
    assert len(leaked.split()) == 13
    rows = [
        (10, f"eval question: {leaked} answer follows here", "en", "web", 1),
        (11, f"scraped page containing {leaked} plus unrelated chatter", "en", "web", 1),
        (12, "completely unrelated text with no overlap at all whatsoever", "en", "web", 1),
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(str(tmp_path / "documents.parquet"))
    out = {
        r.doc_id: r.n_hits
        for r in REGISTRY["q_decontaminate"].fn(spark, str(tmp_path)).collect()
    }
    assert out == {11: 1}  # exactly the one shared 13-gram


def test_dedup_clusters_reliable_checkpoint(spark, sf_dir, tmp_path):
    """With a reliable checkpoint directory configured, q_dedup_clusters
    switches from localCheckpoint to fault-tolerant checkpoint() and
    produces identical clusters; the checkpoint dir actually receives
    state."""
    base = sorted(
        (r.doc_id, r.cluster_id)
        for r in REGISTRY["q_dedup_clusters"].fn(spark, sf_dir).collect()
    )
    sc = spark.sparkContext
    assert sc.getCheckpointDir() is None
    ckdir = str(tmp_path / "ck")
    sc.setCheckpointDir(ckdir)
    try:
        reliable = sorted(
            (r.doc_id, r.cluster_id)
            for r in REGISTRY["q_dedup_clusters"].fn(spark, sf_dir).collect()
        )
        import os

        assert any(os.scandir(ckdir))  # checkpoint state was written
    finally:
        # restore "no checkpoint dir" for the rest of the suite
        getattr(sc._jsc.sc(), "checkpointDir_$eq")(
            sc._jvm.scala.Option.empty()
        )
    assert reliable == base


def test_equiheight_approx_matches_ntile(spark, sf_dir):
    """The sketch-boundary histogram must agree with the exact global-
    ntile ground truth: same bucket ids, every bucket within 5% of the
    ideal equal height, and bucket ranges non-overlapping/monotone."""
    exact = {
        r.bucket: r for r in REGISTRY["q_histogram_equiheight"].fn(spark, sf_dir).collect()
    }
    approx = {
        r.bucket: r
        for r in REGISTRY["q_histogram_equiheight_approx"].fn(spark, sf_dir).collect()
    }
    assert set(approx) == set(exact)
    total = sum(r.n for r in exact.values())
    ideal = total / len(exact)
    for b, r in approx.items():
        assert abs(r.n - ideal) / ideal < 0.05
    ordered = [approx[b] for b in sorted(approx)]
    for prev, nxt in zip(ordered, ordered[1:]):
        assert prev.hi <= nxt.lo


def test_dedup_pruned_drops_hot_shingle_pairs(spark, tmp_path):
    """Stop-shingle DF pruning: docs related ONLY through a boilerplate
    shingle shared by more than df_cap documents lose that edge, while
    genuinely-near-dup pairs (sharing rare shingles) survive. With the
    cap above every document frequency, pruning is a no-op."""
    from bitcoinminingetl_spark.operators import dedup

    # 8 tokens -> 6 pure-boilerplate 3-gram shingles present in EVERY doc
    # (DF = 59 > df_cap = 50): enough shared mass to push unrelated docs
    # over the 0.3 Jaccard threshold before pruning (6/14 = 0.43), zero
    # shared mass after.
    boiler = "all rights reserved worldwide by applicable law today"
    rows = [
        (1, f"alpha beta gamma delta epsilon zeta {boiler}", "en", "web", 1),
        (2, f"alpha beta gamma delta epsilon eta {boiler}", "en", "web", 1),
    ] + [
        (i, f"unique{i} filler{i} token{i} word{i} {boiler}", "en", "web", 1)
        for i in range(3, 60)
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(str(tmp_path / "documents.parquet"))

    sh = dedup._shingled(dedup.table(spark, str(tmp_path), "documents"))

    def pairs(df_cap=None):
        return {
            (r.doc_a, r.doc_b)
            for r in dedup._pair_overlaps(sh, df_cap=df_cap)
            .select("doc_a", "doc_b", roundn(dedup.jaccard(), 6).alias("jaccard"))
            .filter(F.col("jaccard") >= dedup._JACCARD_THRESHOLD)
            .collect()
        }

    unpruned = pairs()
    pruned = pairs(dedup._DF_CAP)
    # (1,2) share 4 rare shingles -> survives pruning; boilerplate-only
    # pairs (e.g. (3,4)) existed unpruned but are gone after
    assert (1, 2) in pruned
    assert (3, 4) in unpruned and (3, 4) not in pruned
    # cap above every DF -> identical to unpruned semantics
    assert pairs(10_000) == unpruned


def test_ann_ivf_kmeans_scores_exact_and_recall_floor(spark, sf_dir):
    """KMeans-trained IVF: neighbors agree with the exact scoring
    wherever they overlap, and nprobe=4/16 keeps recall@10 above the
    same floor as the bootstrap-centroid IVF."""
    exact = {
        (r.query_id, r.neighbor_id): r.cosine
        for r in REGISTRY["q_cosine_topk"].fn(spark, sf_dir).collect()
    }
    ivf = REGISTRY["q_ann_ivf_kmeans"].fn(spark, sf_dir).collect()
    assert ivf
    hits = 0
    for r in ivf:
        key = (r.query_id, r.neighbor_id)
        if key in exact:
            assert abs(exact[key] - r.cosine) < 1e-9
            hits += 1
    assert hits / len(exact) >= 0.5


def test_resample_interpolate_planted_gap(spark, tmp_path):
    """A stream observed at t0 (10.0) and t0+30min (20.0) with nothing in
    between gets exactly one reconstructed 15-min bucket at the linear
    midpoint (15.0), flagged observed=False."""
    t0_ns = 1_700_000_100 * 1_000_000_000  # inside a 15-min bucket
    rows = [
        (1, t0_ns, 7, "m", 10.0, "{}"),
        (2, t0_ns + 30 * 60 * 1_000_000_000, 7, "m", 20.0, "{}"),
    ]
    spark.createDataFrame(
        rows,
        "event_id long, ts long, user_id long, event_type string, "
        "value double, props string",
    ).write.parquet(str(tmp_path / "events.parquet"))
    out = sorted(
        REGISTRY["q_resample_interpolate"].fn(spark, str(tmp_path)).collect(),
        key=lambda r: r.bucket,
    )
    assert len(out) == 3
    assert [r.observed for r in out] == [True, False, True]
    assert [r.value for r in out] == [10.0, 15.0, 20.0]


def test_chunking_covers_document_exactly(spark, sf_dir):
    """Stride-prefix reconstruction: concatenating the first `stride`
    chars of each chunk in order rebuilds the document (no char lost at a
    boundary, no double-count), and every chunk obeys the size cap."""
    from bitcoinminingetl_spark.catalog import table
    from bitcoinminingetl_spark.operators.corpus_ops import (
        _CHUNK_CHARS,
        _CHUNK_STRIDE,
    )

    chunks = REGISTRY["q_chunk_documents"].fn(spark, sf_dir)
    rebuilt = (
        chunks.groupBy("doc_id")
        .agg(
            F.concat_ws(
                "",
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("chunk_id", "chunk"))
                    ),
                    lambda s: F.substring(s["chunk"], 1, _CHUNK_STRIDE),
                ),
            ).alias("rebuilt")
        )
    )
    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    bad = (
        docs.join(rebuilt, "doc_id")
        .filter(F.col("rebuilt") != F.col("text"))
        .count()
    )
    assert bad == 0
    assert chunks.filter(F.col("chunk_len") > _CHUNK_CHARS).count() == 0


def test_quantize_error_bounded_by_half_step(spark, sf_dir):
    """Round-to-nearest guarantees per-element error <= scale/2, so the
    MSE can never exceed (scale/2)^2."""
    rows = REGISTRY["q_embed_quantize"].fn(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r.scale > 0
        assert r.mse <= (r.scale / 2) ** 2 + 1e-12
        assert 0 <= r.nnz <= 64


def test_seeded_sample_is_true_topk(spark, sf_dir):
    """The kept keys must be exactly the k smallest — the max kept key is
    below every excluded key (the top-k contract, not just 'some 100')."""
    from bitcoinminingetl_spark.catalog import table
    from bitcoinminingetl_spark.operators.corpus_ops import (
        _SAMPLE_K,
        _SAMPLE_SEED,
    )

    sample = REGISTRY["q_seeded_sample"].fn(spark, sf_dir)
    kept = sorted(r.sample_key for r in sample.collect())
    assert len(kept) == min(
        _SAMPLE_K, table(spark, sf_dir, "documents").count()
    )
    docs = table(spark, sf_dir, "documents")
    all_keys = sorted(
        r.k
        for r in docs.select(
            F.md5(
                F.concat(
                    F.col("doc_id").cast("string"), F.lit(f":{_SAMPLE_SEED}")
                )
            ).alias("k")
        ).collect()
    )
    assert kept == all_keys[: len(kept)]


def test_bigram_logprob_ranks_fluent_above_shuffled(spark, tmp_path):
    """The bigram LM's whole point over the unigram one: a document with
    predictable transitions must outscore one with the SAME token
    multiset in scrambled order (their unigram scores would tie)."""
    fluent = "the cat sat on the mat " * 10
    shuffled = "mat the on sat the cat sat mat on cat the the " + \
        "on mat sat the cat the mat on the sat cat the " * 2
    rows = [
        (1, fluent.strip(), "en", "web", len(fluent)),
        (2, fluent.strip(), "en", "web", len(fluent)),  # reinforce transitions
        (3, shuffled.strip(), "en", "web", len(shuffled)),
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(str(tmp_path / "documents.parquet"))
    out = {
        r.doc_id: r.avg_logprob
        for r in REGISTRY["q_bigram_logprob"].fn(spark, str(tmp_path)).collect()
    }
    assert out[1] > out[3]


def test_containment_catches_quote_inclusion_jaccard_misses(spark, tmp_path):
    """A short doc quoted whole inside a long wrapper: containment = 1.0
    (caught), Jaccard ≈ |A|/|B| (far below its 0.3 threshold — missed).
    This asymmetry is the whole reason the containment pass exists."""
    short = "alpha beta gamma delta epsilon zeta"
    filler = " ".join(f"w{i} x{i} y{i}" for i in range(40))
    rows = [
        (1, short, "en", "web", len(short)),
        (2, filler + " " + short + " " + filler, "en", "web", 1),
        (3, "completely unrelated text with different words", "en", "web", 1),
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(str(tmp_path / "documents.parquet"))
    cont = {
        (r.doc_a, r.doc_b): r.containment
        for r in REGISTRY["q_dedup_containment"].fn(spark, str(tmp_path)).collect()
    }
    jac = {
        (r.doc_a, r.doc_b)
        for r in REGISTRY["q_dedup_ngram_jaccard"].fn(spark, str(tmp_path)).collect()
    }
    assert cont.get((1, 2)) == 1.0          # full inclusion caught
    assert (1, 2) not in jac                # the Jaccard-only blind spot
    assert not any(3 in p for p in cont)    # unrelated doc untouched


def test_stop_shingle_guard_bounds_pathological_fanout(spark, tmp_path):
    """60 docs sharing one boilerplate sentence (df=60 > cap=50): the
    unpruned pair generator owes 60·59/2 = 1770 pairs from that shingle
    alone; the df_cap guard drops it BEFORE pair generation, so the
    pruned variant emits no boilerplate-only pairs while still finding a
    planted genuine near-dup pair through its sub-cap shingles."""
    boiler = "all rights reserved contact us at example dot com"
    uniq = "zq{} xw{} vr{}"
    rows = [
        (i, boiler + " " + uniq.format(i, i, i), "en", "web", 1)
        for i in range(1, 61)
    ]
    # planted genuine near-dups: long shared UNIQUE tail, sub-cap shingles
    tail = " ".join(f"tok{j}" for j in range(30))
    rows += [
        (100, tail, "en", "web", 1),
        (101, tail + " extra", "en", "web", 1),
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(str(tmp_path / "documents.parquet"))
    pruned = {
        (r.doc_a, r.doc_b)
        for r in REGISTRY["q_dedup_ngram_pruned"].fn(spark, str(tmp_path)).collect()
    }
    assert (100, 101) in pruned             # real near-dup still found
    assert all(a >= 100 for a, b in pruned)  # no boilerplate-only pairs


def test_embed_pca_invariants(spark, sf_dir, tmp_path):
    """PCA model invariants (values are solver-specific, properties are
    not): components come out in decreasing explained-variance order,
    the projection is deterministic, and geometry survives — a planted
    near-identical pair stays close in PCA space while an unrelated
    vector stays far."""
    import numpy as np

    def parse(df):
        return {
            r.vec_id: np.array([float(x) for x in r.components_csv.split(",")])
            for r in df.collect()
        }

    a = parse(REGISTRY["q_embed_pca"].fn(spark, sf_dir))
    b = parse(REGISTRY["q_embed_pca"].fn(spark, sf_dir))
    assert a.keys() == b.keys() and all((a[k] == b[k]).all() for k in a)
    mat = np.vstack(list(a.values()))
    assert mat.shape[1] == 16
    variances = mat.var(axis=0)
    assert all(
        variances[i] >= variances[i + 1] - 1e-9 for i in range(len(variances) - 1)
    )

    rng = np.random.default_rng(5)
    base = rng.standard_normal(64)
    rows = [
        (1, [float(x) for x in base], 1),
        (2, [float(x) for x in base + 0.01 * rng.standard_normal(64)], 1),
        (3, [float(x) for x in rng.standard_normal(64)], 1),
    ]
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).write.parquet(str(tmp_path / "embeddings.parquet"))
    p = parse(REGISTRY["q_embed_pca"].fn(spark, str(tmp_path)))
    assert np.linalg.norm(p[1] - p[2]) < np.linalg.norm(p[1] - p[3])


def test_bigram_logprob_skewed_fixture_head_and_tail(spark, tmp_path):
    """On a corpus with one dominant transition AND >1024 distinct cold
    transitions (so the head/tail split exercises BOTH join paths), the
    head-broadcast plan must agree exactly with a directly computed
    bigram model — the split is a physical optimization, not a semantic
    one."""
    import math
    from collections import Counter

    hot = "x " * 201 + "x"  # 202 tokens -> 201 (x,x) bigrams
    cold = " ".join(f"t{i}" for i in range(1200))  # 1199 unique bigrams
    mixed = "x x y"
    rows = [
        (1, hot, "en", "web", 1),
        (2, cold, "en", "web", 1),
        (3, mixed, "en", "web", 1),
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(str(tmp_path / "documents.parquet"))

    # reference model computed directly
    docs = {r[0]: r[1].split(" ") for r in rows}
    bigrams = {
        d: list(zip(ts, ts[1:])) for d, ts in docs.items() if len(ts) >= 2
    }
    c2 = Counter(bg for bgs in bigrams.values() for bg in bgs)
    c1 = Counter(bg[0] for bgs in bigrams.values() for bg in bgs)
    expected = {
        d: (
            len(bgs),
            round(sum(math.log(c2[bg] / c1[bg[0]]) for bg in bgs) / len(bgs), 6),
        )
        for d, bgs in bigrams.items()
    }

    got = {
        r.doc_id: (r.n_bigrams, round(r.avg_logprob, 6))
        for r in REGISTRY["q_bigram_logprob"].fn(spark, str(tmp_path)).collect()
    }
    assert got == expected


def test_knn_join_lsh_planted_clusters_and_recall(spark, sf_dir, tmp_path):
    """The blocked k-NN join must (a) recover planted tight clusters —
    the regime it is built for (semantic corpora, neighbor cosine ≥0.9,
    where the 4×6-plane config gives ~87% per-pair recall and the
    fixed md5 planes make the outcome deterministic); (b) never invent a
    neighbor: every (query, neighbor, cosine) row must agree exactly
    with the exact twin's scoring; (c) keep a non-degenerate recall on
    the isotropic fixture corpus (whose top-3 neighbors sit near cosine
    0.34, where sign-LSH theory gives ~0.19 — the documented trade,
    asserted so a config regression is visible)."""
    import numpy as np

    rng = np.random.default_rng(11)
    rows = []
    # 10 clusters of 4 near-identical vectors; ids chosen so each cluster
    # contributes exactly one query-side member (vec_id % 50 == 0).
    for c in range(10):
        base = rng.standard_normal(64)
        for j in range(4):
            vec = base + 0.05 * rng.standard_normal(64)
            rows.append((c * 50 + j, [float(x) for x in vec], c))
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).write.parquet(str(tmp_path / "embeddings.parquet"))
    exact = REGISTRY["q_knn_join"].fn(spark, str(tmp_path)).collect()
    exact_pairs = {(r.query_id, r.neighbor_id) for r in exact}
    exact_scores = {(r.query_id, r.neighbor_id): r.cosine for r in exact}
    got = REGISTRY["q_knn_join_lsh"].fn(spark, str(tmp_path)).collect()
    # (a) planted recall: each query's exact top-3 are its cluster
    # mates (cosine ~0.999); the LSH join must find most of them.
    got_pairs = {(r.query_id, r.neighbor_id) for r in got}
    recall = len(exact_pairs & got_pairs) / len(exact_pairs)
    assert recall >= 0.8, f"planted-cluster recall {recall}"
    # (b) scores agree exactly with the exact twin where pairs overlap
    for r in got:
        k = (r.query_id, r.neighbor_id)
        if k in exact_scores:
            assert abs(r.cosine - exact_scores[k]) < 1e-9
    # per-query cap respected
    from collections import Counter
    per_q = Counter(q for q, _ in got_pairs)
    assert all(v <= 3 for v in per_q.values())

    # (c) isotropic-fixture floor: weak neighbors, weak recall — but not zero
    ex = {(r.query_id, r.neighbor_id)
          for r in REGISTRY["q_knn_join"].fn(spark, sf_dir).collect()}
    ap = {(r.query_id, r.neighbor_id)
          for r in REGISTRY["q_knn_join_lsh"].fn(spark, sf_dir).collect()}
    assert len(ex & ap) / len(ex) >= 0.10


def test_bpe_train_hand_computed_merges(spark, tmp_path):
    """q_bpe_train on a corpus small enough to run BPE by hand:
    vocab {aaab×2, aab×1}. Round 1: (a,a) weight 5 beats (a,b) weight 3.
    Round 2: after merging, (aa,a)=2 ties (a,b)=2 — lexical tiebreak on
    the left symbol picks (a,b). Round 3: (aa,ab)=2. Round 4: (aa,b)=1.
    Round 5: no pairs remain -> the loop stops early with 4 merges."""
    rows = [
        (1, "aaab aaab", "en", "s1", 9),
        (2, "aab", "en", "s1", 3),
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(str(tmp_path / "documents.parquet"))
    got = [
        (r.step, r.left, r.right, r.pair_count)
        for r in REGISTRY["q_bpe_train"].fn(spark, str(tmp_path)).collect()
    ]
    assert got == [
        (1, "a", "a", 5),
        (2, "a", "b", 2),
        (3, "aa", "ab", 2),
        (4, "aa", "b", 1),
    ]


def test_multimodal_embed_deterministic_and_normalized(spark, sf_dir):
    """The feature kernel must be deterministic across partitionings
    (repartition(7) changes batch boundaries, features must not move),
    emit fixed 16-dim L1-normalized vectors, and compute the documented
    byte histogram (checked exactly on a crafted payload)."""
    import numpy as np
    import pandas as pd

    from bitcoinminingetl_spark.operators.multimodal import (
        _EMBED_DIM,
        _feature_batches,
    )

    df = REGISTRY["q_multimodal_embed"].fn(spark, sf_dir)
    a = {r.doc_id: r.feature for r in df.collect()}
    assert all(len(v) == _EMBED_DIM for v in a.values())
    assert all(abs(sum(v) - 1.0) < 1e-5 for v in a.values() if sum(v))

    from bitcoinminingetl_spark.catalog import table as _table
    import pyspark.sql.functions as SF

    rep = (
        _table(spark, sf_dir, "documents")
        .repartition(7)
        .select("doc_id", SF.encode(SF.col("text"), "UTF-8").alias("payload"))
        .mapInPandas(
            _feature_batches, "doc_id long, n_bytes long, feature array<float>"
        )
    )
    b = {r.doc_id: r.feature for r in rep.collect()}
    assert a == b

    # crafted payload: bytes 0x00 x3 + 0xF0 x1 -> bins 0 and 15 get 3/4, 1/4
    [(row)] = list(
        _feature_batches(
            iter([pd.DataFrame({"doc_id": [1], "payload": [b"\x00\x00\x00\xf0"]})])
        )
    )[0].to_dict("records")
    feat = row["feature"]
    assert abs(feat[0] - 0.75) < 1e-6 and abs(feat[15] - 0.25) < 1e-6
    assert row["n_bytes"] == 4


def test_dup_span_stats_planted_and_hot_gram(spark, tmp_path):
    """Planted-fixture semantics for the duplicated-span accounting:
    (a) a doc sharing a 5-gram run with another doc counts exactly the
    overlapping positions; (b) a unique doc reports dup_rate 0;
    (c) a pathological hot gram (the same 5-gram repeated across MANY
    docs — the stop-gram skew case the AQE-owned flag join must absorb)
    still yields exact per-doc counts, because the multi-doc flag is a
    semi-join property, not a pair count (no fan-out explosion to get
    wrong)."""
    shared = "alpha beta gamma delta epsilon"  # one shared 5-gram
    rows = [
        (1, shared + " zeta eta theta iota kappa", "en", "s1", 0),
        (2, shared + " unique2a unique2b unique2c unique2d unique2e", "en", "s1", 0),
        (3, "lone3a lone3b lone3c lone3d lone3e lone3f", "en", "s1", 0),
    ]
    # hot gram: 30 docs all equal to the same 5 words -> 1 position each,
    # all duplicated
    hot = "hot1 hot2 hot3 hot4 hot5"
    rows += [(100 + i, hot, "en", "s2", 0) for i in range(30)]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(str(tmp_path / "documents.parquet"))
    got = {
        r.doc_id: (r.n_spans, r.n_dup_spans)
        for r in REGISTRY["q_dup_span_stats"].fn(spark, str(tmp_path)).collect()
    }
    # doc1: 10 words -> 6 positions; only position 0 (the shared gram) dups
    assert got[1] == (6, 1)
    assert got[2] == (6, 1)
    assert got[3] == (2, 0)  # 6 words -> 2 positions, none shared
    for i in range(30):
        assert got[100 + i] == (1, 1)

    # span REMOVAL on the same fixture: the rewrite the stats motivate.
    # doc1/doc2: the shared gram covers word positions 0-4, the 5 tail
    # words survive; doc3 untouched; hot docs fully covered -> empty.
    rm = {
        r.doc_id: (r.n_words, r.n_removed, r.clean_text)
        for r in REGISTRY["q_dedup_span_removal"]
        .fn(spark, str(tmp_path))
        .collect()
    }
    assert rm[1] == (10, 5, "zeta eta theta iota kappa")
    assert rm[2] == (10, 5, "unique2a unique2b unique2c unique2d unique2e")
    assert rm[3] == (6, 0, "lone3a lone3b lone3c lone3d lone3e lone3f")
    for i in range(30):
        assert rm[100 + i] == (5, 5, "")


def test_dedup_span_removal_edge_docs(spark, tmp_path):
    """Full-corpus rewrite contract on the shapes the funnel must not
    drop or corrupt: NULL text passes through as NULL; sub-span docs
    (< 5 words) are untouched; an interior shared run removes only its
    covered window (overlapping grams merge into one span); consecutive
    spaces (empty tokens) survive reassembly byte-for-byte."""
    mid = "m1 m2 m3 m4 m5"
    rows = [
        (1, f"pre1 pre2 {mid} post1 post2", "en", "s", 0),
        (2, f"left1 {mid} right1 right2 right3", "en", "s", 0),
        (3, "short doc", "en", "s", 0),
        (4, None, "en", "s", 0),
        (5, "a  b", "en", "s", 0),  # consecutive spaces, 3 tokens
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(str(tmp_path / "documents.parquet"))
    got = {
        r.doc_id: (r.n_words, r.n_removed, r.clean_text)
        for r in REGISTRY["q_dedup_span_removal"]
        .fn(spark, str(tmp_path))
        .collect()
    }
    assert got[1] == (9, 5, "pre1 pre2 post1 post2")
    assert got[2] == (9, 5, "left1 right1 right2 right3")
    assert got[3] == (2, 0, "short doc")
    assert got[4] == (0, 0, None)
    assert got[5] == (3, 0, "a  b")


def test_tokenize_to_ids_reassembly_laws(spark, sf_dir):
    """Structural laws of the tokenization: per doc, len(token_ids) ==
    n_tokens == the doc's whitespace token count; OOV ids are exactly
    the zeros; ids are consistent (same word -> same id) — checked by
    re-deriving a word's id from two different docs containing it."""
    rows = REGISTRY["q_tokenize_to_ids"].fn(spark, sf_dir).collect()
    docs = {
        r.doc_id: r.text.split(" ")
        for r in REGISTRY["q_scan_count"]
        .fn(spark, sf_dir)
        .sparkSession.read.parquet(f"{sf_dir}/documents.parquet")
        .collect()
    }
    assert rows
    for r in rows:
        assert len(r.token_ids) == r.n_tokens == len(docs[r.doc_id])
        assert sum(1 for t in r.token_ids if t == 0) == r.n_oov
    # consistency: map word -> set of ids across all docs; non-OOV words
    # must map to exactly one id
    word_ids: dict[str, set] = {}
    for r in rows:
        for w, t in zip(docs[r.doc_id], r.token_ids):
            if t != 0:
                word_ids.setdefault(w, set()).add(t)
    assert word_ids and all(len(s) == 1 for s in word_ids.values())


def test_curation_funnel_laws(spark, sf_dir, tmp_path):
    """Laws of the composed curation funnel on the real fixture (kept
    implies every stage flag; per-source kept tokens respect the
    budget; eval-split docs never appear) plus a PLANTED corpus where
    every stage demonstrably bites: a too-short doc (quality), a byte
    dup (dedup), a doc sharing a 13-gram with an eval doc
    (decontamination), and a source whose eligible docs exceed the
    token budget (budget)."""
    rows = REGISTRY["q_curation_funnel"].fn(spark, sf_dir).collect()
    assert rows and all(r.doc_id % 10 != 0 for r in rows)
    for r in rows:
        if r.kept:
            assert r.q_ok and r.d_ok and r.c_ok and r.b_ok
    from collections import defaultdict

    per_source = defaultdict(int)
    for r in rows:
        if r.kept:
            per_source[r.source] += r.n_tokens
    assert per_source
    assert all(v <= 2000 for v in per_source.values())
    assert any(r.kept for r in rows)

    # planted corpus: doc_id % 10 == 0 rows are the eval split
    long_text = " ".join(f"w{i}" for i in range(40))
    eval_text = " ".join(f"e{i}" for i in range(20))
    contaminated = eval_text + " " + " ".join(f"c{i}" for i in range(25))
    fat = " ".join(f"f{j}" for j in range(450))
    planted = [
        (10, eval_text, "en", "sA", 0),          # eval split member
        (1, long_text, "en", "sA", 0),           # clean keeper
        (2, long_text, "en", "sA", 0),           # byte dup of 1 -> d_ok False
        (3, "short doc", "en", "sA", 0),         # 2 tokens -> q_ok False
        (4, contaminated, "en", "sA", 0),        # shares 13-gram with eval
        # source sB: five eligible 450-token docs > 2000 budget
        *[(11 + i, fat + f" tail{i}", "en", "sB", 0) for i in range(5)],
    ]
    spark.createDataFrame(
        planted,
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.parquet(str(tmp_path / "documents.parquet"))
    got = {
        r.doc_id: r
        for r in REGISTRY["q_curation_funnel"].fn(spark, str(tmp_path)).collect()
    }
    assert 10 not in got                      # eval member excluded
    assert got[1].kept
    assert not got[2].d_ok and not got[2].kept  # byte dup dropped
    assert not got[3].q_ok and not got[3].kept  # quality dropped
    assert not got[4].c_ok and not got[4].kept  # contamination dropped
    sB = [got[11 + i] for i in range(5)]
    assert all(r.q_ok and r.d_ok and r.c_ok for r in sB)
    kept_b = [r for r in sB if r.kept]
    assert kept_b and len(kept_b) < 5, "budget must cut some of source sB"
    assert sum(r.n_tokens for r in kept_b) <= 2000


def test_multimodal_resize_fixed_size_and_deterministic(spark, sf_dir):
    """Resize kernel laws: every thumb is exactly W*H bytes regardless of
    input size; deterministic across partitionings; the index-sampling
    math is checked exactly on a crafted payload; empty payloads yield a
    zero buffer."""
    import pandas as pd

    from bitcoinminingetl_spark.operators.multimodal import (
        _RESIZE_H,
        _RESIZE_W,
        _resize_batches,
    )

    size = _RESIZE_W * _RESIZE_H
    df = REGISTRY["q_multimodal_resize"].fn(spark, sf_dir)
    rows = df.collect()
    assert rows and all(len(r.thumb) == size for r in rows)
    a = {r.doc_id: bytes(r.thumb) for r in rows}

    from bitcoinminingetl_spark.catalog import table as _table
    import pyspark.sql.functions as SF

    rep = (
        _table(spark, sf_dir, "documents")
        .repartition(5)
        .select("doc_id", SF.encode(SF.col("text"), "UTF-8").alias("payload"))
        .mapInPandas(
            _resize_batches,
            "doc_id long, in_bytes long, width int, height int, thumb binary",
        )
    )
    assert a == {r.doc_id: bytes(r.thumb) for r in rep.collect()}

    # crafted: payload of 2*size bytes 0..2N-1 -> nearest-neighbor picks
    # every second byte; empty payload -> zeros
    payload = bytes(range(256)) * ((2 * size) // 256)
    [out] = list(
        _resize_batches(
            iter([pd.DataFrame({"doc_id": [1, 2], "payload": [payload, b""]})])
        )
    ).copy()
    got = out.to_dict("records")
    assert bytes(got[0]["thumb"]) == payload[::2]
    assert got[0]["in_bytes"] == 2 * size
    assert bytes(got[1]["thumb"]) == bytes(size)


def test_semdedup_drops_planted_semantic_dups(spark, sf_dir, tmp_path):
    """SemDeDup on a planted corpus: three tight semantic clusters of 4
    near-identical vectors each + isotropic noise — every cluster must
    collapse to ONE survivor (3 dropped per cluster), noise survives
    untouched; accounting invariant n_kept + n_dropped == corpus size.
    On the real (isotropic) fixture nothing crosses cosine 0.9, so
    n_dropped must be 0 — the non-vacuity lives in the planted half."""
    import numpy as np

    rng = np.random.default_rng(17)
    rows = []
    vid = 0
    for c in range(3):
        base = rng.standard_normal(64) * 3
        for _ in range(4):
            rows.append(
                (vid, [float(x) for x in base + 0.02 * rng.standard_normal(64)], c)
            )
            vid += 1
    for _ in range(20):
        rows.append((vid, [float(x) for x in rng.standard_normal(64)], 9))
        vid += 1
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).write.parquet(str(tmp_path / "embeddings.parquet"))
    got = REGISTRY["q_semdedup"].fn(spark, str(tmp_path)).collect()
    total_kept = sum(r.n_kept for r in got)
    total_dropped = sum(r.n_dropped for r in got)
    assert total_kept + total_dropped == 32
    assert total_dropped == 9, f"3 clusters x 3 dups -> 9, got {total_dropped}"

    real = REGISTRY["q_semdedup"].fn(spark, sf_dir).collect()
    assert sum(r.n_dropped for r in real) == 0


def test_dsir_weights_rank_target_like_docs_higher(spark, tmp_path):
    """DSIR law: a raw-pool doc written in the TARGET domain's vocabulary
    must score a strictly higher importance weight than raw-pool docs in
    a disjoint vocabulary; target-pool docs themselves are excluded from
    the output (they are the model, not the candidates)."""
    tgt_vocab = " ".join(f"t{i % 10}" for i in range(60))
    raw_vocab = " ".join(f"r{i % 10}" for i in range(60))
    rows = [
        (1, tgt_vocab, "en", "src0", 0),          # target pool
        (2, tgt_vocab, "en", "src1", 0),          # target pool
        (3, tgt_vocab, "en", "src5", 0),          # raw, target-like -> high
        (4, raw_vocab, "en", "src6", 0),          # raw, off-domain -> low
        (5, raw_vocab, "en", "src7", 0),          # raw, off-domain -> low
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(str(tmp_path / "documents.parquet"))
    got = {
        r.doc_id: r.dsir_weight
        for r in REGISTRY["q_dsir_weights"].fn(spark, str(tmp_path)).collect()
    }
    assert set(got) == {3, 4, 5}
    assert got[3] > got[4] and got[3] > got[5]


def test_skew_metrics_detects_planted_hot_key(spark, sf_dir, tmp_path):
    """The skew instrument must read near-uniform on the balanced fixture
    and light up on a planted 90%-one-key distribution."""
    rows = REGISTRY["q_skew_metrics"].fn(spark, sf_dir).collect()
    from bitcoinminingetl_spark.catalog import table as _table

    n_events = _table(spark, sf_dir, "events").count()
    assert rows and sum(r.n_rows for r in rows) == n_events
    assert rows[0].skew_ratio < 3.0  # 5 event types over 8 partitions

    import datetime

    hot = [(i, datetime.datetime(2024, 1, 1), i, "hot", 1.0, "{}")
           for i in range(900)]
    cold = [(1000 + i, datetime.datetime(2024, 1, 1), i, f"k{i % 20}", 1.0, "{}")
            for i in range(100)]
    spark.createDataFrame(
        hot + cold,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    ).write.parquet(str(tmp_path / "events.parquet"))
    planted = REGISTRY["q_skew_metrics"].fn(spark, str(tmp_path)).collect()
    assert planted[0].skew_ratio > 4.0  # hot partition dominates the mean


def test_cluster_keywords_separate_planted_vocabularies(spark, tmp_path):
    """Two planted embedding clusters whose documents use DISJOINT
    vocabularies: every cluster's keywords must come from its own
    vocabulary, with lift > 1 (distinctive by construction), and no
    keyword may appear under both cells."""
    import numpy as np

    rng = np.random.default_rng(29)
    base_a = rng.standard_normal(64) * 3
    base_b = -base_a
    doc_rows, emb_rows = [], []
    for i in range(16):
        in_a = i < 8
        base = base_a if in_a else base_b
        emb_rows.append(
            (i, [float(x) for x in base + 0.05 * rng.standard_normal(64)], 0)
        )
        words = [f"{'alpha' if in_a else 'beta'}{j % 6}" for j in range(40)]
        doc_rows.append((i, " ".join(words), "en", "s", 0))
    spark.createDataFrame(
        emb_rows, "vec_id long, embedding array<float>, label int"
    ).write.parquet(str(tmp_path / "embeddings.parquet"))
    spark.createDataFrame(
        doc_rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(str(tmp_path / "documents.parquet"))
    got = REGISTRY["q_cluster_keywords"].fn(spark, str(tmp_path)).collect()
    assert got
    by_cell: dict[int, set] = {}
    for r in got:
        by_cell.setdefault(r.cell, set()).add(r.token)
        assert r.lift > 1.0
    assert len(by_cell) == 2
    cells = list(by_cell.values())
    assert not (cells[0] & cells[1])
    for toks in cells:
        prefixes = {t[:4] for t in toks}
        assert prefixes in ({"alph"}, {"beta"})


def test_short_doc_guards_dup_span_and_pmi(spark, tmp_path):
    """Latent-crash regression (r4 ADVICE): docs shorter than the gram/
    bigram width must yield zero grams, not a descending sequence()
    whose slice/element_at bounds blow up. Mixes 1-word, 4-word, and
    empty docs in with normal ones; both queries must run clean, short
    docs must be absent from dup-span output, and PMI counts must come
    only from the multi-word docs."""
    rows = [
        (1, "one", "en", "s1", 3),                     # 1 word: no bigram, no 5-gram
        (2, "just four words here", "en", "s1", 20),   # 4 words: bigrams, no 5-gram
        (3, "", "en", "s1", 0),                        # empty text -> split = [""]
        (4, "alpha beta gamma delta epsilon zeta", "en", "s1", 0),
        (5, "alpha beta gamma delta epsilon zeta", "en", "s1", 0),
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(str(tmp_path / "documents.parquet"))

    spans = {
        r.doc_id: (r.n_spans, r.n_dup_spans)
        for r in REGISTRY["q_dup_span_stats"].fn(spark, str(tmp_path)).collect()
    }
    assert set(spans) == {4, 5}          # short docs emit no gram rows
    assert spans[4] == (2, 2) and spans[5] == (2, 2)

    # PMI: min-count filter empties the top-k at this scale; the point is
    # that the bigram explode over doc 1/3 no longer throws.
    pmi = REGISTRY["q_pmi_collocations"].fn(spark, str(tmp_path)).collect()
    assert isinstance(pmi, list)


def test_bpe_train_escapes_backslash_tokens(spark, tmp_path):
    """Regression (r4 ADVICE): a corpus token containing a backslash (or
    quote) must not corrupt the spliced merge-rewrite SQL. Corpus is one
    token 'a\\b' x2: round 1 merges ('\\','b') (lexical tiebreak, '\\' <
    'a'), round 2 merges ('a','\\b'), then the single-symbol token drops
    out and training stops."""
    rows = [(1, "a\\b a\\b", "en", "s1", 0)]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(str(tmp_path / "documents.parquet"))
    got = [
        (r.step, r.left, r.right, r.pair_count)
        for r in REGISTRY["q_bpe_train"].fn(spark, str(tmp_path)).collect()
    ]
    assert got == [(1, "\\", "b", 2), (2, "a", "\\b", 2)]


def test_kmeans_sampled_fit_keeps_planted_properties(spark, tmp_path):
    """The fit_sample_fraction knob (the 100 TB scale path the quantizer
    docstrings promise): fitting the SemDeDup quantizer on a 50% sample
    must still collapse every planted tight cluster to one survivor —
    cells only need to partition space, and a planted cluster's members
    land in the same cell regardless of which half trained the fit. Same
    accounting invariants as the full-fit test."""
    import numpy as np

    rng = np.random.default_rng(17)
    rows = []
    vid = 0
    for c in range(3):
        base = rng.standard_normal(64) * 3
        for _ in range(4):
            rows.append(
                (vid, [float(x) for x in base + 0.02 * rng.standard_normal(64)], c)
            )
            vid += 1
    for _ in range(20):
        rows.append((vid, [float(x) for x in rng.standard_normal(64)], 9))
        vid += 1
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).write.parquet(str(tmp_path / "embeddings.parquet"))
    got = REGISTRY["q_semdedup"].fn(
        spark, str(tmp_path), fit_sample_fraction=0.5
    ).collect()
    total_kept = sum(r.n_kept for r in got)
    total_dropped = sum(r.n_dropped for r in got)
    assert total_kept + total_dropped == 32
    assert total_dropped == 9, f"3 clusters x 3 dups -> 9, got {total_dropped}"


def test_dedup_clusters_deep_chain_beyond_round_cap(spark, tmp_path):
    """The reason pointer jumping is the PRIMARY (r5 role swap): the
    round cap is fixed (_CC_MAX_ITERS=20), so propagation-only walks at
    most 20 hops and silently under-merges anything deeper, while
    pointer jumping compresses paths and is exact up to diameter 2^20.
    A 30-doc chain (diameter 29 > cap) must still collapse to one
    cluster under the primary."""
    toks = [f"t{i}" for i in range(200)]
    rows = [
        (i + 1, " ".join(toks[5 * i : 5 * i + 20]), "en", "web", 1)
        for i in range(30)
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(str(tmp_path / "documents.parquet"))
    got = {
        r.doc_id: r.cluster_id
        for r in REGISTRY["q_dedup_clusters"].fn(spark, str(tmp_path)).collect()
    }
    assert set(got.values()) == {1}, f"chain split: {sorted(set(got.values()))}"
    assert len(got) == 30


def test_zlib_quality_planted(spark, sf_dir, tmp_path):
    """Compression-ratio semantics: repetitive spam compresses below the
    keep band, high-entropy text lands inside it, sub-64-byte and NULL
    docs are never kept, and the kernel is deterministic."""
    import hashlib

    spam = "buy now " * 300
    # ~0.5 bits-of-entropy-per-hex-char -> ratio comfortably in-band
    noisy = " ".join(
        hashlib.sha256(str(i).encode()).hexdigest() for i in range(40)
    )
    rows = [
        (1, spam, "en", "web", len(spam)),
        (2, noisy, "en", "web", len(noisy)),
        (3, "tiny", "en", "web", 4),
        (4, None, "en", "web", 0),
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(str(tmp_path / "documents.parquet"))
    out = {
        r.doc_id: r
        for r in REGISTRY["q_zlib_quality"].fn(spark, str(tmp_path)).collect()
    }
    assert out[1].compress_ratio < 0.25 and out[1].keep is False
    assert 0.25 <= out[2].compress_ratio <= 0.95 and out[2].keep is True
    assert out[3].n_bytes == 4 and out[3].keep is False
    assert out[4].n_bytes == 0
    assert out[4].compress_ratio is None and out[4].keep is False
    again = {
        r.doc_id: r.n_compressed
        for r in REGISTRY["q_zlib_quality"].fn(spark, str(tmp_path)).collect()
    }
    assert again == {d: r.n_compressed for d, r in out.items()}
    # real corpus: every doc scored, ratios positive where text is non-empty
    corpus = REGISTRY["q_zlib_quality"].fn(spark, sf_dir)
    assert corpus.filter(
        (F.col("n_bytes") > 0) & ~(F.col("compress_ratio") > 0)
    ).count() == 0


def test_linreg_trend_planted(spark, tmp_path):
    """Planted exact line recovers slope/intercept/R²=1; a constant
    series yields slope 0 with NULL R²; a single-instant series (zero
    time variance) yields all-NULL coefficients instead of an ANSI
    divide-by-zero crash."""
    from datetime import datetime, timedelta

    anchor = datetime(2024, 1, 1)
    rows = []
    for h in range(24):  # y = 2x + 5 exactly
        rows.append((h, anchor + timedelta(hours=h), 1, "line", 2.0 * h + 5.0, "{}"))
    for h in range(24):
        rows.append((100 + h, anchor + timedelta(hours=h), 1, "flat", 7.5, "{}"))
    for i in range(10):
        rows.append((200 + i, anchor, 1, "instant", float(i), "{}"))
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    ).write.parquet(str(tmp_path / "events.parquet"))
    out = {
        r.event_type: r
        for r in REGISTRY["q_linreg_trend"].fn(spark, str(tmp_path)).collect()
    }
    assert out["line"].n_obs == 24
    assert abs(out["line"].slope_per_hour - 2.0) < 1e-6
    assert abs(out["line"].intercept - 5.0) < 1e-3
    assert abs(out["line"].r2 - 1.0) < 1e-6
    assert out["flat"].slope_per_hour == 0.0 and out["flat"].r2 is None
    assert out["instant"].slope_per_hour is None
    assert out["instant"].intercept is None and out["instant"].r2 is None


def test_dedup_triangles_clique_and_star(spark, tmp_path):
    """On a planted 4-clique of mutual near-dups plus a star (hub
    near-dup to 4 leaves that are not near-dups of each other):
    clique nodes have degree 3, sit in 3 triangles each, clustering
    1.0 (a true template family); the star hub has degree 4 with ZERO
    triangles, clustering 0.0 (chain-merged aggregator, not a dup
    family); degree-1 leaves get NULL clustering, isolated docs are
    absent."""
    base = [f"b{i}" for i in range(12)]
    rows = [(1, " ".join(base), "en", "web", 1)]
    for k in range(4):  # star leaves: the q_dedup_pagerank fixture
        rows.append(
            (2 + k, " ".join(base + [f"u{k}_{j}" for j in range(12)]),
             "en", "web", 1)
        )
    cw = [f"c{i}" for i in range(30)]
    for k in range(4):  # clique: same 30 words + one unique tail word
        rows.append((11 + k, " ".join(cw + [f"x{k}"]), "en", "web", 1))
    rows.append((99, "totally separate island words only here", "en", "web", 1))
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(str(tmp_path / "documents.parquet"))
    out = {
        r.doc_id: r
        for r in REGISTRY["q_dedup_triangles"].fn(spark, str(tmp_path)).collect()
    }
    assert set(out) == {1, 2, 3, 4, 5, 11, 12, 13, 14}
    assert out[1].degree == 4 and out[1].n_triangles == 0
    assert out[1].clustering == 0.0
    for d in (2, 3, 4, 5):
        assert out[d].degree == 1 and out[d].n_triangles == 0
        assert out[d].clustering is None
    for d in (11, 12, 13, 14):
        assert out[d].degree == 3 and out[d].n_triangles == 3
        assert out[d].clustering == 1.0


def test_event_seq_pattern_planted(spark, tmp_path):
    """Pattern counts are non-overlapping leftmost matches over the
    time-ordered per-user string; NULL-ts events carry no sequence
    position; unknown event types map to 'x' and so BREAK a pattern."""
    from datetime import datetime, timedelta

    t0 = datetime(2024, 1, 1)
    rows = []

    def seq(user, types, start):
        for i, ty in enumerate(types):
            rows.append(
                (len(rows) + 1, t0 + timedelta(minutes=start + i),
                 user, ty, 1.0, "{}")
            )

    seq(1, ["view", "view", "click", "view", "click", "purchase"], 0)
    seq(2, ["error", "error", "error", "view"], 100)
    seq(3, ["signup", "view", "view", "view"], 200)
    seq(4, ["click", "refund", "purchase"], 300)  # unknown type -> 'x'
    # a NULL-ts purchase that WOULD add a click_to_purchase match
    rows.append((9999, None, 1, "purchase", 1.0, "{}"))
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    ).write.parquet(str(tmp_path / "events.parquet"))
    out = {
        r.pattern: r
        for r in REGISTRY["q_event_seq_pattern"].fn(spark, str(tmp_path)).collect()
    }
    # user 1 string is 'vvcvcp': v+c matches twice, cp once
    assert out["browse_then_click"].n_users == 1
    assert out["browse_then_click"].total_matches == 2
    assert out["click_to_purchase"].n_users == 1
    assert out["click_to_purchase"].total_matches == 1
    # user 2 'eeev': one burst regardless of length; user 4 'cxp': no cp
    assert out["error_burst"].n_users == 1
    assert out["error_burst"].total_matches == 1


def test_hll_union_merge_planted(spark, tmp_path):
    """Union-of-partial-sketches must agree with the full-pass sketch
    within the sketch's own error (merge_rel_gap ~ 0 — DataSketches'
    union gadget is NOT guaranteed bit-identical to single-pass state)
    even when users span both periods, a group lives entirely in one
    period (NULL sketch leg), or rows carry NULL ts (routed to the
    increment leg); the estimate itself stays within 5% of exact at
    this cardinality."""
    from datetime import datetime

    before = datetime(2024, 1, 10)
    after = datetime(2024, 1, 28)
    rows = []
    for u in range(1, 301):  # base period users 1..300
        rows.append((len(rows) + 1, before, u, "view", 1.0, "{}"))
    for u in range(200, 401):  # increment users 200..400 (overlap!)
        rows.append((len(rows) + 1, after, u, "view", 1.0, "{}"))
    for u in range(1, 51):  # increment-only group: sk_base is NULL
        rows.append((len(rows) + 1, after, u, "solo", 1.0, "{}"))
    for u in range(1, 31):  # NULL ts routes to the increment leg
        rows.append((len(rows) + 1, None, u, "nullts", 1.0, "{}"))
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    ).write.parquet(str(tmp_path / "events.parquet"))
    out = {
        r.event_type: r
        for r in REGISTRY["q_hll_union_merge"].fn(spark, str(tmp_path)).collect()
    }
    assert set(out) == {"view", "solo", "nullts"}
    for r in out.values():
        assert r.merge_rel_gap is not None and r.merge_rel_gap < 0.01
        assert r.rel_err is not None and r.rel_err < 0.05
    assert out["view"].exact_users == 400  # overlap counted once
    assert out["solo"].exact_users == 50
    assert out["nullts"].exact_users == 30


def test_zorder_layout_rectangles(spark, sf_dir, tmp_path):
    """Every layout fills all buckets; each linear layout leaves its
    orthogonal dimension at full domain width while zorder bounds BOTH
    spans below them; NaN quantity and NULL dimensions don't kill the
    job (try_cast + mask)."""
    rows = {
        r.layout: r
        for r in REGISTRY["q_zorder_layout"].fn(spark, sf_dir).collect()
    }
    assert set(rows) == {"zorder", "linear_ship", "linear_qty"}
    for r in rows.values():
        assert r.n_buckets == 64
        assert 1 <= r.buckets_scanned <= 64
    # orthogonal-dimension collapse of the linear layouts
    assert rows["zorder"].avg_day_span < rows["linear_qty"].avg_day_span
    assert rows["zorder"].avg_qty_span < rows["linear_ship"].avg_qty_span
    # crash-safety on pathological rows
    from datetime import datetime, timedelta

    t0 = datetime(1995, 1, 1)
    bad = [
        (i + 1, 1, i + 1, i + 1, float((i * 7) % 50 + 1), t0 + timedelta(days=i))
        for i in range(256)
    ]
    bad.append((300, 1, 300, 300, float("nan"), t0))
    bad.append((301, 1, 301, 301, 5.0, None))
    spark.createDataFrame(
        bad,
        "l_orderkey long, l_linenumber int, l_partkey long, l_suppkey long,"
        " l_quantity double, l_shipdate timestamp",
    ).write.parquet(str(tmp_path / "lineitem.parquet"))
    out = REGISTRY["q_zorder_layout"].fn(spark, str(tmp_path)).collect()
    assert {r.layout for r in out} == {"zorder", "linear_ship", "linear_qty"}


def test_kll_quantile_merge_planted(spark, tmp_path):
    """Merged-sketch quantiles track the exact percentiles of a known
    distribution within sketch error; a group living entirely on one
    side of the cutoff exercises the NULL-sketch leg; NaN/Inf values
    are masked out of BOTH sketch and exact twin instead of poisoning
    (KLL throws on NaN) — the exact p50 of 0..999 plus junk must still
    be 499.5."""
    from datetime import datetime

    before, after = datetime(2024, 1, 10), datetime(2024, 1, 28)
    rows = []
    for i in range(1000):  # uniform 0..999 split across the cutoff
        rows.append((len(rows) + 1, before if i % 2 == 0 else after,
                     1, "uniform", float(i), "{}"))
    for i in range(200):  # increment-only group: sk_base is NULL
        rows.append((len(rows) + 1, after, 1, "onesided", float(i), "{}"))
    rows.append((9001, before, 1, "uniform", float("nan"), "{}"))
    rows.append((9002, after, 1, "uniform", float("inf"), "{}"))
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    ).write.parquet(str(tmp_path / "events.parquet"))
    out = {
        r.event_type: r
        for r in REGISTRY["q_kll_quantile_merge"].fn(spark, str(tmp_path)).collect()
    }
    u = out["uniform"]
    assert u.p50_exact == 499.5  # junk rows masked from the exact twin too
    for p, exact in (("p50", 499.5), ("p90", 899.1), ("p99", 989.01)):
        got = getattr(u, f"{p}_sketch")
        assert abs(got - exact) / exact < 0.05, (p, got)
    assert u.merge_gap_p90 < 0.05 * 899.1
    o = out["onesided"]
    assert o.p50_exact == 99.5 and abs(o.p50_sketch - 99.5) / 99.5 < 0.05


def test_theta_set_ops_planted(spark, tmp_path):
    """Planted overlap: 100 viewers, 80 purchasers, 50 shared. Theta
    sketches are exact at this cardinality, so union/intersection/
    difference estimates must EQUAL the exact twins computed in the
    same query; unrelated event types and NULL users don't leak in."""
    from datetime import datetime

    t = datetime(2024, 1, 5)
    rows = []
    for u in range(1, 101):
        rows.append((len(rows) + 1, t, u, "view", 1.0, "{}"))
    for u in range(51, 131):
        rows.append((len(rows) + 1, t, u, "purchase", 1.0, "{}"))
    for u in range(200, 210):
        rows.append((len(rows) + 1, t, u, "click", 1.0, "{}"))
    rows.append((len(rows) + 1, t, None, "view", 1.0, "{}"))
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    ).write.parquet(str(tmp_path / "events.parquet"))
    r = REGISTRY["q_theta_set_ops"].fn(spark, str(tmp_path)).collect()[0]
    assert (r.exact_a, r.exact_b) == (100, 80)
    assert (r.exact_union, r.exact_inter, r.exact_diff) == (130, 50, 50)
    assert r.est_a == r.exact_a and r.est_b == r.exact_b
    assert r.est_union == r.exact_union
    assert r.est_inter == r.exact_inter
    assert r.est_diff == r.exact_diff


def test_hard_negatives_planted(spark, tmp_path):
    """The nearest SAME-label twin must be rejected; the nearest
    cross-label vector ranks first; an unlabeled vector counts as a
    negative for a labeled anchor (null-safe inequality); zero-norm
    junk never surfaces. The LSH twin obeys the same label contract and
    recovers the planted high-cosine negative."""
    d = 64

    def vec(*pairs):
        v = [0.0] * d
        for i, x in pairs:
            v[i] = x
        return v

    rows = [
        (50, vec((0, 1.0)), 1),            # anchor (50 % 50 == 0)
        (51, vec((0, 1.0), (1, 0.05)), 1), # same-label near-twin: rejected
        (52, vec((0, 1.0), (1, 0.2)), 2),  # hardest cross-label negative
        (53, vec((1, 1.0)), 3),            # orthogonal cross-label
        (54, vec((0, 1.0), (1, 0.3)), None),  # unlabeled counts as negative
        (55, [0.0] * d, 9),                # zero vector: filtered by load
        (56, vec((0, 0.5), (1, 1.0)), 2),  # mid-cosine cross-label
    ]
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).write.parquet(str(tmp_path / "embeddings.parquet"))
    out = REGISTRY["q_hard_negatives"].fn(spark, str(tmp_path)).collect()
    assert {r.anchor_id for r in out} == {50}
    ranked = [r.negative_id for r in sorted(out, key=lambda r: r.rn)]
    assert ranked == [52, 54, 56]  # 51 (same label) and 55 (zero) absent
    assert all(r.negative_label != 1 for r in out)

    lsh = REGISTRY["q_hard_negatives_lsh"].fn(spark, str(tmp_path)).collect()
    lsh_ids = {r.negative_id for r in lsh}
    assert 51 not in lsh_ids and 55 not in lsh_ids
    assert 52 in lsh_ids  # cos 0.98 collides in the OR'd sign tables
    assert all(r.negative_label != 1 for r in lsh)


def test_hard_negatives_lsh_recall_floor(spark, sf_dir):
    """On the real fixture the LSH twin's pairs at rank 1 recover a
    reasonable fraction of the exact twin's rank-1 negatives (sign
    buckets are label-blind, so recall matches q_knn_join_lsh's), and
    every returned pair satisfies the label contract."""
    exact = REGISTRY["q_hard_negatives"].fn(spark, sf_dir).collect()
    lsh = REGISTRY["q_hard_negatives_lsh"].fn(spark, sf_dir).collect()
    assert len(lsh) > 0
    lsh_pairs = {(r.anchor_id, r.negative_id) for r in lsh}
    top1 = {(r.anchor_id, r.negative_id) for r in exact if r.rn == 1}
    assert len(lsh_pairs & top1) / len(top1) >= 0.1  # isotropic-fixture floor


def test_bitext_mine_hub_demotion(spark, tmp_path):
    """The margin criterion's entire reason to exist: a HUB vector
    (similar to every source) must lose to a true match with LOWER raw
    cosine. src 100's best candidate by cosine is the hub (0.707 > 0.68)
    but the hub's inflated bwd_avg cancels its cosine, so the mined pair
    is the true match — a rank inversion raw cosine cannot produce.
    Zero vectors are filtered by the normed load."""
    import math

    d = 64

    def vec(*pairs):
        v = [0.0] * d
        for i, x in pairs:
            v[i] = x
        return v

    r = math.sqrt(0.5)
    t53_y = math.sqrt(1 - 0.68**2)
    rows = [
        (50, vec((0, 1.0))),               # source A = e0
        (100, vec((2, 1.0))),              # source B = e2
        (51, vec((0, 0.95), (1, math.sqrt(1 - 0.95**2)))),  # A's true match
        (52, vec((0, r), (2, r))),         # hub: cos 0.707 to BOTH sources
        (53, vec((2, 0.68), (3, t53_y))),  # B's true match, cos 0.68 < hub's
        (54, vec((5, 1.0))),               # noise
        (55, vec((6, 1.0))),               # noise
        (56, [0.0] * d),                   # zero vector: filtered by load
    ]
    spark.createDataFrame(
        [(i, v, None) for i, v in rows],
        "vec_id long, embedding array<float>, label int",
    ).write.parquet(str(tmp_path / "embeddings.parquet"))

    out = {r.src_id: r for r in REGISTRY["q_bitext_mine"].fn(spark, str(tmp_path)).collect()}
    assert set(out) == {50, 100}
    assert out[50].tgt_id == 51
    # the inversion: hub's raw cosine beats the true match's...
    assert 0.707 > 0.68
    # ...but margin mines the true match and demotes the hub
    assert out[100].tgt_id == 53
    assert abs(out[100].cosine - 0.68) < 1e-4
    assert all(r.margin >= 1.45 for r in out.values())
    assert all(r.tgt_id != 56 for r in out.values())

    # the LSH twin (fixed md5 planes, fixed vectors): the same
    # margin machinery over bucket candidates must never mine the hub for
    # src 100. On THIS thin fixture the candidate-set denominators
    # degenerate (margin -> ~1 with 1-2 candidates) so the threshold may
    # drop everything — documented in the operator docstring; the
    # real-fixture test below pins non-degenerate output.
    lsh = {r.src_id: r for r in REGISTRY["q_bitext_mine_lsh"].fn(spark, str(tmp_path)).collect()}
    assert all(r.tgt_id != 56 for r in lsh.values())
    if 100 in lsh:
        assert lsh[100].tgt_id != 52


def test_bitext_mine_lsh_real_fixture(spark, sf_dir):
    """On the real fixture the LSH miner produces non-empty output whose
    every row obeys the contract: source side is the 2% vec_id sample,
    target side is the rest, margins clear the threshold, and the pair's
    cosine is the 6-dp cosine of its two stored vectors."""
    import numpy as np
    import pyarrow.parquet as pq

    out = REGISTRY["q_bitext_mine_lsh"].fn(spark, sf_dir).collect()
    assert len(out) > 0
    assert all(r.src_id % 50 == 0 and r.tgt_id % 50 != 0 for r in out)
    assert all(r.margin >= 1.35 for r in out)
    assert all(-1.0 <= r.cosine <= 1.0 for r in out)
    emb = pq.read_table(
        f"{sf_dir}/embeddings.parquet", columns=["vec_id", "embedding"]
    ).to_pydict()
    vec = {i: np.asarray(e, dtype=np.float64) for i, e in zip(emb["vec_id"], emb["embedding"])}
    for r in out:
        a, b = vec[r.src_id], vec[r.tgt_id]
        assert abs(r.cosine - a @ b / (np.linalg.norm(a) * np.linalg.norm(b))) < 1e-6
    # one mined pair per source at most (best-by-margin cut)
    assert len({r.src_id for r in out}) == len(out)


def test_mix_temperature_planted(spark, tmp_path):
    """Temperature sampling compresses size ratios: the small source is
    boosted (>1), the big one damped (<1), both share columns sum to ~1,
    and the temperature ratio between sources is strictly smaller than
    the raw ratio. A zero-token source gets zero shares and NULL boost
    (no ANSI division)."""
    rows = (
        [(i, "alpha beta gamma delta", "en", "big", 23) for i in range(100)]
        + [(1000 + i, "alpha beta gamma delta", "en", "small", 23) for i in range(4)]
        + [(2000, "", "en", "empty", 0)]
    )
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(str(tmp_path / "documents.parquet"))
    out = {r.source: r for r in REGISTRY["q_mix_temperature"].fn(spark, str(tmp_path)).collect()}
    assert set(out) == {"big", "small", "empty"}
    assert out["small"].boost > 1 > out["big"].boost
    assert abs(sum(r.raw_share for r in out.values()) - 1.0) < 1e-5
    assert abs(sum(r.temp_share for r in out.values()) - 1.0) < 1e-5
    raw_ratio = out["big"].raw_share / out["small"].raw_share
    temp_ratio = out["big"].temp_share / out["small"].temp_share
    assert 1 < temp_ratio < raw_ratio  # 25x raw -> 25^0.3 ~ 2.6x tempered
    assert out["empty"].raw_share == 0.0 and out["empty"].temp_share == 0.0
    assert out["empty"].boost is None

    # Epoch allocation on the same fixture: the budget is 4x total
    # tokens, so the damped big source trains UNDER 4 epochs and the
    # boosted small one blows past the ~4-epoch repetition limit
    # (100:4 raw -> 25^0.3 ~ 2.6x tempered means small's epoch count is
    # ~2.6x big's around the 4-epoch mean). Budgets must conserve: the
    # per-source token budgets sum back to 4x the corpus.
    ep = {r.source: r for r in REGISTRY["q_mix_epochs"].fn(spark, str(tmp_path)).collect()}
    assert set(ep) == {"big", "small", "empty"}
    assert ep["big"].epochs < 4.0 < ep["small"].epochs
    assert ep["small"].over_repeat_limit is True
    assert ep["big"].over_repeat_limit is False
    total_tokens = sum(r.n_tokens for r in ep.values())
    budget = sum(r.budget_tokens for r in ep.values())
    assert abs(budget - 4 * total_tokens) < 1e-3 * total_tokens
    assert ep["empty"].epochs is None and ep["empty"].over_repeat_limit is None


def test_k_anonymity_planted(spark, tmp_path):
    """Threshold semantics on a controlled release: a singleton
    quasi-class drives k to 1 and lands its row at risk; a class at
    exactly k rows is NOT violating (strict <); a uniform release with
    every class at k is perfectly anonymous (0 violations)."""
    import datetime

    t0 = datetime.datetime(2024, 1, 1)
    rows = []
    # class A: 5 rows (exactly k -> safe), same type/hour/band
    for i in range(5):
        rows.append((i, t0, 1, "click", 15.0, None))
    # class B: singleton (violating)
    rows.append((10, t0, 2, "view", 95.0, None))
    # class C: 2 rows (violating)
    rows.append((11, t0, 3, "purchase", 42.0, None))
    rows.append((12, t0, 4, "purchase", 45.0, None))  # same band (4x)
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    ).write.parquet(str(tmp_path / "events.parquet"))
    out = REGISTRY["q_k_anonymity"].fn(spark, str(tmp_path)).collect()[0]
    assert out.k_anonymity == 1
    assert out.n_classes == 3
    assert out.n_violating == 2          # singleton + pair; the 5-class is safe
    assert out.rows_at_risk == 3
    assert abs(out.risk_share - 3 / 8) < 1e-6
    assert out.largest_class == 5

    # l-diversity on the same release: class A is k-anonymous (5 rows)
    # but HOMOGENEOUS — every row shares user_id 1, so membership reveals
    # the sensitive value; classes B/C are singletons/pairs of distinct
    # users. All three classes fall under l=3.
    ld = REGISTRY["q_l_diversity"].fn(spark, str(tmp_path)).collect()[0]
    assert ld.l_diversity == 1
    assert ld.n_classes == 3
    assert ld.n_homogeneous == 3      # the k-safe class is still exposed
    assert ld.rows_at_risk == 8
    assert abs(ld.risk_share - 1.0) < 1e-6

    # t-closeness on the same release (sensitive = event_type; quasi =
    # hour x band, so the three bands are the classes): the all-click
    # 5-row class sits at tvd 0.375 from the global (5/8, 1/8, 2/8)
    # distribution — under t=0.5, NOT skewed — while the singleton view
    # (0.875) and the purchase pair (0.75) are flagged.
    tc = REGISTRY["q_t_closeness"].fn(spark, str(tmp_path)).collect()[0]
    assert abs(tc.t_closeness - 0.875) < 1e-6
    assert tc.n_classes == 3
    assert tc.n_skewed == 2
    assert tc.rows_at_risk == 3


def test_length_buckets_planted(spark, tmp_path):
    """Bucketing by length strictly reduces padding waste on a bimodal
    length distribution, and a constant-length corpus wastes nothing."""
    short = "a b"                      # 2 tokens
    long = " ".join(["tok"] * 40)      # 40 tokens
    rows = [(i, short if i % 2 == 0 else long, "en", "s", 100) for i in range(64)]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(str(tmp_path / "documents.parquet"))
    out = REGISTRY["q_length_buckets"].fn(spark, str(tmp_path)).collect()
    assert len(out) == 8
    real = sum(r.real_tokens for r in out)
    padded = sum(r.padded_tokens for r in out)
    n = sum(r.n_docs for r in out)
    global_padded = n * max(r.pad_len for r in out)
    assert padded < global_padded  # bucketing beats one global bucket
    # perfectly homogeneous buckets here: each bucket is all-short or
    # all-long, so padding waste is exactly zero
    assert padded == real
    assert all(r.waste_ratio == 0.0 for r in out)

    # constant-length corpus: zero waste in every bucket by construction
    rows2 = [(i, short, "en", "s", 10) for i in range(16)]
    spark.createDataFrame(
        rows2, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(str(tmp_path / "documents2"))
    import shutil
    shutil.move(str(tmp_path / "documents.parquet"), str(tmp_path / "old"))
    shutil.move(str(tmp_path / "documents2"), str(tmp_path / "documents.parquet"))
    out2 = REGISTRY["q_length_buckets"].fn(spark, str(tmp_path)).collect()
    assert all(r.waste_ratio == 0.0 for r in out2)
    assert sum(r.n_docs for r in out2) == 16


def test_length_buckets_approx_tolerance_vs_ntile(spark, sf_dir):
    """The sketch-boundary scale twin must agree with the exact global-
    ntile ground truth up to its declared semantics delta (ties stay in
    one range bucket instead of being split for equal counts): doc and
    token totals conserved exactly, pad lengths monotone across buckets,
    total padded tokens within 25% of the ntile answer AND strictly
    better than the single-global-bucket baseline the operator exists to
    beat."""
    exact = sorted(
        REGISTRY["q_length_buckets"].fn(spark, sf_dir).collect(),
        key=lambda r: r.bucket,
    )
    approx = sorted(
        REGISTRY["q_length_buckets_approx"].fn(spark, sf_dir).collect(),
        key=lambda r: r.bucket,
    )
    assert sum(r.n_docs for r in approx) == sum(r.n_docs for r in exact)
    assert sum(r.real_tokens for r in approx) == sum(
        r.real_tokens for r in exact
    )
    pads = [r.pad_len for r in approx]
    assert pads == sorted(pads)  # contiguous ranges: max monotone
    exact_padded = sum(r.padded_tokens for r in exact)
    approx_padded = sum(r.padded_tokens for r in approx)
    assert approx_padded <= 1.25 * exact_padded
    n = sum(r.n_docs for r in exact)
    global_padded = n * max(r.pad_len for r in exact)
    assert approx_padded < global_padded


def test_ccnet_buckets_exact_and_approx(spark, sf_dir):
    """CCNet terciles: per language the exact ntile buckets are
    near-equal-count (±1), score-ordered (every head score >= every
    middle score >= every tail score — equality only on ties), and the
    sketch-boundary twin conserves totals and stays within tolerance of
    the exact counts (its declared delta: boundary ties land in the
    better bucket instead of being split)."""
    from collections import defaultdict

    exact = REGISTRY["q_ccnet_buckets"].fn(spark, sf_dir).collect()
    approx = REGISTRY["q_ccnet_buckets_approx"].fn(spark, sf_dir).collect()

    def by_lang(rows):
        out = defaultdict(dict)
        for r in rows:
            out[r.lang][r.bucket] = r
        return out

    ex, ap = by_lang(exact), by_lang(approx)
    assert set(ex) == set(ap)
    for lang, bs in ex.items():
        assert set(bs) <= {"head", "middle", "tail"}
        counts = [b.n_docs for b in bs.values()]
        assert max(counts) - min(counts) <= 1  # ntile near-equal
        if {"head", "middle", "tail"} <= set(bs):
            assert bs["head"].min_logprob >= bs["middle"].max_logprob
            assert bs["middle"].min_logprob >= bs["tail"].max_logprob
    for lang in ex:
        n_ex = sum(r.n_docs for r in ex[lang].values())
        n_ap = sum(r.n_docs for r in ap[lang].values())
        assert n_ex == n_ap  # conservation: every scored doc bucketed once
        for bucket, r in ap[lang].items():
            e = ex[lang].get(bucket)
            assert e is not None
            assert abs(r.n_docs - e.n_docs) <= max(3, 0.2 * e.n_docs)
        ordered = [ap[lang][b] for b in ("head", "middle", "tail") if b in ap[lang]]
        for hi, lo in zip(ordered, ordered[1:]):
            assert hi.min_logprob >= lo.max_logprob


def _retrieval_eval_fixture(spark, path, reverse):
    """10 docs whose BM25 ranking is doc 1..10 (tf of 'spark' decreasing,
    constant dl) and whose semantic ranking either agrees (doc 1..10) or
    is exactly reversed."""
    docs = []
    for i in range(1, 11):
        text = " ".join(["spark"] * (11 - i) + ["filler"] * i)  # dl = 11
        docs.append((i, text, "en", "s", len(text)))
    spark.createDataFrame(
        docs, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.mode("overwrite").parquet(str(path / "documents.parquet"))
    d = 64
    vecs = [(0, [1.0] + [0.0] * (d - 1), None)]  # query = e0
    for i in range(1, 11):
        c = 0.9 - 0.05 * (i if not reverse else (11 - i))
        v = [0.0] * d
        v[0] = c
        v[i] = (1 - c * c) ** 0.5
        vecs.append((i, v, None))
    spark.createDataFrame(
        vecs, "vec_id long, embedding array<float>, label int"
    ).write.mode("overwrite").parquet(str(path / "embeddings.parquet"))


def test_retrieval_eval_planted(spark, tmp_path):
    """Perfect lex/sem agreement scores overlap 1.0 and nDCG exactly 1.0;
    an exactly reversed semantic ranking keeps overlap 1.0 but drops nDCG
    to the hand-computed sum(i * D_i) / sum((11-i) * D_i)."""
    from decimal import Decimal
    from bitcoinminingetl_spark.operators.text import _NDCG_DISCOUNTS, _NDCG_IDCG

    _retrieval_eval_fixture(spark, tmp_path, reverse=False)
    r = REGISTRY["q_retrieval_eval"].fn(spark, str(tmp_path)).collect()[0]
    assert (r.k, r.n_overlap, r.overlap_at_k) == (10, 10, 1.0)
    assert r.ndcg_at_k == 1.0

    _retrieval_eval_fixture(spark, tmp_path, reverse=True)
    r = REGISTRY["q_retrieval_eval"].fn(spark, str(tmp_path)).collect()[0]
    assert (r.n_overlap, r.overlap_at_k) == (10, 1.0)
    dcg = sum(Decimal(i) * Decimal(_NDCG_DISCOUNTS[i - 1]) for i in range(1, 11))
    expected = float(dcg / Decimal(_NDCG_IDCG))
    assert abs(r.ndcg_at_k - expected) < 1e-6
    assert 0.5 < r.ndcg_at_k < 1.0


def test_ccnet_buckets_keep_null_lang_docs(spark, tmp_path):
    """r7 ADVICE: a real crawl contains documents whose language ID
    failed (lang NULL). The exact twin's Window.partitionBy('lang')
    keeps NULL as its own partition; the approx twin's bucketing join
    must do the same (eqNullSafe), or the twins' conservation invariant
    silently breaks — an inner equi-join on lang would drop every
    NULL-lang doc from the approx buckets."""
    rows = []
    for i in range(9):
        rows.append((i, f"alpha beta gamma delta tok{i} tok{i} end word",
                     None, "web", 40))
    for i in range(9, 18):
        rows.append((i, f"alpha beta gamma delta tok{i} other end word",
                     "en", "web", 40))
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(str(tmp_path / "documents.parquet"))

    exact = REGISTRY["q_ccnet_buckets"].fn(spark, str(tmp_path)).collect()
    approx = REGISTRY["q_ccnet_buckets_approx"].fn(spark, str(tmp_path)).collect()

    ex_langs = {r.lang for r in exact}
    ap_langs = {r.lang for r in approx}
    assert None in ex_langs and "en" in ex_langs
    assert ap_langs == ex_langs  # NULL lang not dropped by the join

    for lang in ex_langs:
        n_ex = sum(r.n_docs for r in exact if r.lang == lang)
        n_ap = sum(r.n_docs for r in approx if r.lang == lang)
        assert n_ex == n_ap == 9  # conservation per partition


def test_dedup_representatives_keep_richest_not_first(spark, tmp_path):
    """On a 3-doc near-dup CHAIN (1~2, 2~3, 1!~3) whose MIDDLE doc is
    the richest copy, representative selection must keep doc 2 — the
    highest-token-count member — where the keep-first policy would have
    kept doc 1. Exactly one keep per cluster; every clustered doc gets
    a decision row; unclustered docs are absent (they need no decision)."""
    toks = [f"t{i}" for i in range(40)]
    rows = [
        (1, " ".join(toks[0:20]), "en", "web", 1),    # 20 tokens
        (2, " ".join(toks[5:35]), "en", "web", 1),    # 30 tokens — richest
        (3, " ".join(toks[20:40]), "en", "web", 1),   # 20 tokens
        (9, "completely unrelated single document", "en", "web", 1),
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(str(tmp_path / "documents.parquet"))

    out = {
        r.doc_id: r
        for r in REGISTRY["q_dedup_representatives"]
        .fn(spark, str(tmp_path))
        .collect()
    }
    assert set(out) == {1, 2, 3}          # the chain, not the singleton
    assert all(r.cluster_id == 1 for r in out.values())
    assert out[2].keep and out[2].n_tokens == 30
    assert not out[1].keep and not out[3].keep
    # agreement with the cluster labeler on membership
    clusters = {
        r.doc_id: r.cluster_id
        for r in REGISTRY["q_dedup_clusters"].fn(spark, str(tmp_path)).collect()
    }
    assert {d: r.cluster_id for d, r in out.items()} == clusters


def test_eval_split_golden_assignments(spark, sf_dir):
    """q_eval_split's oracle bakes the SAME boundary constants at import
    as the Spark side, so a mis-edit of the thresholds or salt moves
    docs between splits on BOTH sides and the differential stays green —
    this golden test pins the external contract instead: specific
    hashlib-computed md5 keys and split assignments (what a non-Spark
    consumer recomputing membership would derive), plus the realized
    shares against the documented ~79.7/10.2/10.1 boundary fractions."""
    rows = {
        r.doc_id: r for r in REGISTRY["q_eval_split"].fn(spark, sf_dir).collect()
    }
    golden = {
        0: ("c4fc734144d98807b405983d3b217984", "train"),
        3: ("fc999e94bb176f34a277ca3ae30330b9", "test"),
        8: ("e0c23b37b896153f529d46bcda1760be", "val"),
        17: ("243c342486a56ad4dadf1bfbe74b6a08", "train"),
    }
    for doc_id, (key, split) in golden.items():
        assert rows[doc_id].split_key == key
        assert rows[doc_id].split == split
    n = len(rows)
    shares = {
        s: sum(1 for r in rows.values() if r.split == s) / n
        for s in ("train", "val", "test")
    }
    assert abs(shares["train"] - 204 / 256) < 0.06
    assert abs(shares["val"] - 26 / 256) < 0.04
    assert abs(shares["test"] - 26 / 256) < 0.04
    # determinism: a second invocation assigns identically
    again = {
        r.doc_id: r.split
        for r in REGISTRY["q_eval_split"].fn(spark, sf_dir).collect()
    }
    assert again == {d: r.split for d, r in rows.items()}
