"""Streaming incremental dedup: the daily-ingest dedup shape
(operators/dedup.q_dedup_incremental) run as a STRUCTURED STREAM against
a persisted, growing corpus index — the composition the reference's
always-on pipeline implies (its DAG ticks forever, main.py:18,61; its
dedup predicate is R13 row identity, data_model.py:32-33) applied to the
LLM north star's document corpus.

Shape:
  landed doc JSON -> file stream
    -> withWatermark + dropDuplicatesWithinWatermark(content_hash)
       (R13 streaming-native: re-deliveries of the same bytes within the
       watermark delay die in streaming state, before any index I/O)
    -> foreachBatch:
         1. exact stage: anti-join batch content hashes against the
            PERSISTED hash index (cross-batch + cross-restart byte dups),
            keep-lowest within the batch;
         2. near-dup stage: shingle the fresh docs, MinHash-band them
            (operators/dedup.minhash_bands — same signature scheme as the
            batch LSH path), candidates = asymmetric equi-join of batch
            bands against the persisted signature index (batch x corpus
            only — history never re-pairs with itself) PLUS the in-batch
            pair generation for new-vs-new dups; exact-Jaccard verify on
            candidates only; drop verified >= threshold;
         3. append survivors to the output AND their hashes/shingles/
            signatures to the index — later batches (and later RESTARTS)
            dedup against everything accepted so far.

Exactly-once: every write lands under <dir>/batch_id=N with per-batch
directory OVERWRITE, so a replayed micro-batch (restart after a crash
between sink write and checkpoint commit) rewrites the same partition
instead of appending duplicates — idempotence by layout, the foreachBatch
contract. At 100 TB the index directories are the bucketed corpus tables
q_dedup_incremental's docstring describes; the per-batch partitioning is
also exactly how a production index ingests increments.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from bitcoinminingetl_spark.operators.dedup import (
    _JACCARD_THRESHOLD,
    _candidate_pairs,
    _shingled,
    _verify_candidates,
    minhash_bands,
)
from bitcoinminingetl_spark.streaming.pipeline import WATERMARK_DELAY

DOC_STREAM_SCHEMA = "doc_id long, ts timestamp, text string"


def read_doc_stream(
    spark: SparkSession, landing_dir: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """File-stream source over landed document JSON (the R1 ingestion
    shape applied to documents instead of ticks)."""
    reader = spark.readStream.schema(DOC_STREAM_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.json(landing_dir)


def _write_index_increment(docs: DataFrame, index_dir: str, part: int) -> None:
    """Write one batch's hashes/shingles/signatures under batch_id=part
    (directory overwrite — idempotent under micro-batch replay). The
    shingle relation is persisted for the duration of the writes so the
    explode runs once, not once for the shingle file and once for the
    signature derivation."""
    hashes = docs.select("doc_id", F.md5("text").alias("content_hash"))
    sh = _shingled(docs.select("doc_id", "text")).persist()
    try:
        hashes.write.mode("overwrite").parquet(
            f"{index_dir}/hashes/batch_id={part}"
        )
        sh.write.mode("overwrite").parquet(
            f"{index_dir}/shingles/batch_id={part}"
        )
        minhash_bands(sh).write.mode("overwrite").parquet(
            f"{index_dir}/signatures/batch_id={part}"
        )
    finally:
        sh.unpersist()


def build_corpus_index(docs: DataFrame, index_dir: str) -> None:
    """Bootstrap the persisted index from an existing (already-deduped)
    corpus: hashes/, shingles/, signatures/ parquet, each under the
    reserved bootstrap partition batch_id=-1. Must run once before the
    stream starts (an empty corpus writes empty, schema-bearing files)."""
    _write_index_increment(docs, index_dir, -1)


def accepted_docs(spark: SparkSession, out_dir: str) -> DataFrame:
    """Read back everything the stream has accepted (partition discovery
    adds the batch_id column)."""
    return spark.read.parquet(out_dir)


def run_incremental_dedup(
    spark: SparkSession,
    stream: DataFrame,
    index_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    stage_times: dict | None = None,
):
    """Start the incremental-dedup stream (see module docstring).
    ``build_corpus_index`` must have populated ``index_dir`` first.

    ``stage_times`` (r11 VERDICT item 5): when a dict is passed, every
    foreachBatch invocation appends a per-batch cost row under
    ``stage_times["batches"]`` splitting the batch's wall time into the
    dedup-compute-plus-accept write (the exact anti-join, LSH candidate
    join and verify all execute lazily inside the survivors write) and
    the index-increment writes (hashes/shingles/signatures) — so the
    lifecycle's cost can be attributed between trigger/drain overhead
    and actual dedup work (scripts/stream_state.py commits the
    breakdown into STREAMSTATE.json)."""
    import time

    hashed = stream.withColumn("content_hash", F.md5("text"))
    deduped = hashed.withWatermark("ts", WATERMARK_DELAY).dropDuplicatesWithinWatermark(
        ["content_hash"]
    )

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        t_batch = time.perf_counter()
        # availableNow drains end with a state-flush batch of zero rows;
        # running the full index pipeline on it is pure overhead, and an
        # empty batch writes nothing, so skipping preserves idempotence.
        if batch_df.isEmpty():
            if stage_times is not None:
                stage_times.setdefault("batches", []).append(
                    {
                        "batch_id": batch_id,
                        "empty": True,
                        "total_s": round(time.perf_counter() - t_batch, 3),
                    }
                )
            return
        sess = batch_df.sparkSession
        # keep-lowest within the batch (dropDuplicatesWithinWatermark
        # keeps an arbitrary first arrival; this pins determinism for
        # same-batch byte dups), then exact stage vs the persisted index
        w = Window.partitionBy("content_hash").orderBy("doc_id")
        batch = (
            batch_df.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .drop("rn")
        )
        hash_idx = sess.read.parquet(f"{index_dir}/hashes").select("content_hash")
        # per-batch persists are released in the finally below: foreachBatch
        # RETRIES a failed batch, and an unpersist reached only on the happy
        # path would leak one set of blocks per failed attempt — a slow OOM
        # in a long-running stream with transient sink errors
        batch_persists: list = []

        def _p(df):
            batch_persists.append(df.persist())
            return df

        try:
            fresh = _p(batch.join(hash_idx, "content_hash", "left_anti"))
            _run_batch(sess, fresh, _p, index_dir, out_dir, batch_id, t_batch)
        finally:
            for df in batch_persists:
                df.unpersist()

    def _run_batch(sess, fresh, _p, index_dir, out_dir, batch_id, t_batch):
        # near-dup stage: candidates vs the corpus index (asymmetric)
        # plus new-vs-new within the batch; exact verify on candidates
        sh_new = _p(_shingled(fresh.select("doc_id", "text")))
        bands_new = minhash_bands(sh_new)
        sig_idx = sess.read.parquet(f"{index_dir}/signatures")
        cross_cand = (
            bands_new.withColumnRenamed("doc_id", "doc_b")
            .join(
                sig_idx.select(
                    F.col("doc_id").alias("doc_a"), "band", "sig"
                ),
                ["band", "sig"],
            )
            .select("doc_a", "doc_b")
            .distinct()
        )
        sh_idx = sess.read.parquet(f"{index_dir}/shingles").select(
            "doc_id", "shingle"
        )
        # ONE verify pass over the union of cross (corpus x batch) and
        # intra (batch x batch) candidates — doc_b is the batch doc in
        # both, so dropping verified doc_b's covers both dup shapes.
        # The index side is semi-filtered to candidate corpus docs
        # first, so history never fans out beyond the candidate list.
        candidates = cross_cand.unionByName(_candidate_pairs(bands_new))
        sh_verify = sh_idx.join(
            cross_cand.select(F.col("doc_a").alias("doc_id")).distinct(),
            "doc_id",
            "semi",
        ).unionByName(sh_new)
        dups = _verify_candidates(sh_verify, candidates).select(
            F.col("doc_b").alias("doc_id")
        )
        survivors = _p(fresh.join(dups.distinct(), "doc_id", "left_anti"))

        # idempotent per-batch writes: overwrite <dir>/batch_id=N. The
        # survivors write is where the batch's ENTIRE dedup compute
        # (exact anti-join, banded candidates, Jaccard verify) actually
        # executes — everything above is lazy — so its wall time IS the
        # dedup-work number the cost attribution records.
        t_dedup = time.perf_counter()
        survivors.select("doc_id", "ts", "text", "content_hash").write.mode(
            "overwrite"
        ).parquet(f"{out_dir}/batch_id={batch_id}")
        t_accept = time.perf_counter()
        _write_index_increment(
            survivors.select("doc_id", "text"), index_dir, batch_id
        )
        if stage_times is not None:
            t_end = time.perf_counter()
            stage_times.setdefault("batches", []).append(
                {
                    "batch_id": batch_id,
                    "empty": False,
                    "batch_prep_s": round(t_dedup - t_batch, 3),
                    "dedup_and_accept_write_s": round(t_accept - t_dedup, 3),
                    "index_increment_s": round(t_end - t_accept, 3),
                    "total_s": round(t_end - t_batch, 3),
                }
            )

    return (
        deduped.writeStream.outputMode("update")
        .foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
