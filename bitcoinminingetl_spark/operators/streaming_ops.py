"""Streaming operators surfaced in the driver contract (rows-only — a
stateful stream over a checkpoint can't be expressed as one DuckDB SQL).

Each callable materializes a full streaming lifecycle (_land_and_drain):
land one week of events as JSON files (the R1 ingestion shape) ->
file-stream source with declared schema -> a stateful stream (R11
windows, sessions, interval joins) -> parquet sink (R6) with AvailableNow
(R2's gate), drained and checked -> read the sink back. The returned
batch DataFrame is what a downstream consumer of avg_info would read."""

from __future__ import annotations


from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from bitcoinminingetl_spark.catalog import events_in_range
from bitcoinminingetl_spark.functions.state import workdir
from bitcoinminingetl_spark.registry import query
from bitcoinminingetl_spark.streaming.pipeline import (
    drain,
    read_event_stream,
    run_to_parquet,
    session_windows,
    start_file_sink,
    stream_stream_interval_join,
    windowed_metric_averages,
)


def _land_and_drain(spark: SparkSession, sf_dir: str, prefix: str, start) -> str:
    """Land one week of events as JSON, stream it at 2 files per trigger
    through ``start(stream, out_dir, checkpoint_dir)``, drain the query
    and return the output dir. One week because the lifecycle under test
    (multi-batch drain, watermarked state, re-emission) is
    volume-independent, and the pushed-down ns-range scan keeps the
    landing write proportional to the slice, not the table."""
    work = workdir(prefix)
    landing, out, ckpt = f"{work}/landing", f"{work}/out", f"{work}/ckpt"
    (
        events_in_range(spark, sf_dir, "2024-01-05 00:00:00", "2024-01-12 00:00:00")
        .select("event_id", "ts", "user_id", "event_type", "value")
        .coalesce(4)
        .write.json(landing)
    )
    drain(start(read_event_stream(spark, landing, max_files_per_trigger=2), out, ckpt))
    return out


@query("q_streaming_window_avg")  # rows-only: stateful streaming lifecycle
def q_streaming_window_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end streaming run of the reference pipeline (R1+R2+R6+R11),
    drained with AvailableNow; see module docstring. Output: one row per
    (window, event_type) with its final average — the streaming twin of
    q_window_join's batch result."""
    out = _land_and_drain(
        spark,
        sf_dir,
        "bmetl_stream_",
        lambda stream, out, ckpt: run_to_parquet(windowed_metric_averages(stream), out, ckpt),
    )
    emitted = spark.read.parquet(out)
    w = Window.partitionBy("win", "event_type").orderBy(F.col("batch_id").desc())
    return (
        emitted.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            F.col("win.start").alias("window_start"),
            "event_type",
            "avg_value",
            "n",
        )
    )


@query("q_streaming_sessionize")  # rows-only: stateful streaming lifecycle
def q_streaming_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows driven through the full streaming lifecycle:
    landed JSON -> file stream -> per-user session_window (30-min
    inactivity gap) in APPEND mode (dynamic-length windows only emit
    once finalized by the watermark) -> foreachBatch parquet ->
    AvailableNow drain. Dynamic session windows are the one windowing
    shape the batch reference cannot express at all; the batch twin
    (q_sessionize) builds the same sessions with lag+cumsum (boundary
    note: batch starts a new session strictly AFTER the gap, streaming's
    window is end-exclusive, so an event landing exactly on the gap
    boundary differs). The unit test asserts the session laws on the
    emitted rows: per-user disjointness, ordering, and the inactivity
    gap between consecutive sessions.

    Determinism: maxFilesPerTrigger fixes the batch boundaries, so the
    final watermark — and therefore WHICH sessions are finalized — is
    the same every run; sessions within the watermark delay of the last
    event stay open and unemitted by design."""
    out = _land_and_drain(
        spark,
        sf_dir,
        "bmetl_sess_",
        lambda stream, out, ckpt: run_to_parquet(
            session_windows(stream), out, ckpt, output_mode="append"
        ),
    )
    emitted = spark.read.parquet(out)
    # append mode emits each finalized session exactly once — no
    # per-window last-emission dedup needed (that is the update-mode
    # contract q_streaming_window_avg handles above)
    return emitted.select(
        F.col("sess.start").alias("session_start"),
        F.col("sess.end").alias("session_end"),
        "user_id",
        "n_events",
        "avg_value",
    )


@query("q_streaming_interval_join")  # rows-only: stateful streaming lifecycle
def q_streaming_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream time-interval join through the full lifecycle
    (r7 VERDICT item 6 — previously test-only while the other three
    streaming lifecycles were registered): land a week of events as
    JSON -> ONE file-stream source split into click and view legs (the
    split is two filters on the same source, so the two "streams" share
    offsets/watermark progression exactly like a production fan-out) ->
    watermarked interval join (each click pairs with the same user's
    views within ±5 min; the time-bound condition is what lets the
    state store expire rows, without it stream-stream join state grows
    forever) -> append-mode parquet sink -> AvailableNow drain. Output:
    the attribution pair table (click_id, view_id, user_id, click_ts,
    view_ts).

    Rows-only by design: which pairs the drain emits is exact (inner
    join; every emitted pair is a true interval match, pinned
    differentially against the batch join by
    test_stream_stream_interval_join_matches_batch), but the lifecycle
    — checkpointed state, watermark-driven state expiry, cross-restart
    exactly-once (test_interval_join_exactly_once_across_restart) — is
    not one DuckDB SQL statement."""
    return _interval_join(spark, sf_dir, "bmetl_sjoin_", "inner")


@query("q_streaming_interval_join_outer")  # rows-only: stateful streaming lifecycle
def q_streaming_interval_join_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LEFT-OUTER twin of q_streaming_interval_join — the
    attribution-LOSS table: clicks with NO same-user view within ±5 min
    emit exactly once, with NULL view columns, precisely when the
    view-side watermark passes click.ts + tolerance (the engine can
    PROVE no match can still arrive). That proof is the whole point of
    the watermark contract: outer results are late by one watermark
    delay but never retracted, so downstream consumers read an
    append-only, eventually-complete attribution table — the shape a
    marketing pipeline actually joins spend against. Clicks newer than
    the final watermark stay in state, not in output (the drain leaves
    them pending, matching production semantics where the stream never
    "ends").

    Same one-source fan-out and lifecycle as the inner twin; the null
    emission against a batch left join (restricted to the proven
    region) is pinned by
    test_stream_stream_left_outer_join_emits_unmatched, and the
    registered lifecycle by test_interval_join_outer_lifecycle."""
    return _interval_join(spark, sf_dir, "bmetl_sjoin_outer_", "left_outer")


def _interval_join(spark: SparkSession, sf_dir: str, prefix: str, how: str) -> DataFrame:
    """Shared body of the two interval-join lifecycles, which differ
    only in ``how``."""

    def start(stream, out, ckpt):
        clicks = stream.filter(F.col("event_type") == "click")
        views = stream.filter(F.col("event_type") == "view")
        return start_file_sink(stream_stream_interval_join(clicks, views, how=how), out, ckpt)

    out = _land_and_drain(spark, sf_dir, prefix, start)
    return spark.read.parquet(out).select(
        "click_id", "view_id", "user_id", "click_ts", "view_ts"
    )


@query("q_streaming_incremental_dedup")  # rows-only: stateful streaming lifecycle
def q_streaming_incremental_dedup(
    spark: SparkSession, sf_dir: str, *, stage_times: dict | None = None
) -> DataFrame:
    """The incremental LSH dedup pipeline (streaming/incremental_dedup)
    through a full lifecycle: bootstrap the persisted index from the
    first 80% of documents (q_dedup_incremental's corpus/new split),
    land the remaining 20% as JSON micro-batches, stream them through
    exact + LSH near-dup stages against the growing index, drain with
    AvailableNow, and return the accepted new docs. Output: the ingest
    gate's accept list — (doc_id, batch_id) per surviving new doc.

    ``stage_times`` (r11 VERDICT item 5): when passed, the lifecycle's
    wall time is attributed stage by stage — bootstrap index build,
    landing write, stream drain (with per-batch foreachBatch rows from
    run_incremental_dedup), accepted read-back — so the bench's most
    expensive lifecycle entry carries a committed cost breakdown
    (scripts/stream_state.py -> STREAMSTATE.json) instead of one
    opaque number. The bench path passes nothing; the timers then cost
    two perf_counter calls per stage."""
    import time

    from bitcoinminingetl_spark.catalog import table
    from bitcoinminingetl_spark.streaming.incremental_dedup import (
        accepted_docs,
        build_corpus_index,
        read_doc_stream,
        run_incremental_dedup,
    )

    work = workdir("bmetl_incdedup_")
    landing, index_dir, out, ckpt = (
        f"{work}/landing",
        f"{work}/index",
        f"{work}/out",
        f"{work}/ckpt",
    )
    # corpus = first 80% of doc_ids; streamed increment = the top 5%
    # (a bounded "daily batch" — the lifecycle under test is
    # volume-independent, same argument as q_streaming_window_avg's
    # one-week slice, and per-micro-batch overhead dominates at test
    # scale). Docs in (80%, 95%] are simply not part of this run.
    docs = table(spark, sf_dir, "documents")
    cut = docs.agg(
        F.floor(F.max("doc_id") * 0.8).cast("long").alias("cut"),
        F.floor(F.max("doc_id") * 0.95).cast("long").alias("hi"),
    )
    with_cut = docs.join(F.broadcast(cut))
    t0 = time.perf_counter()
    build_corpus_index(
        with_cut.filter(F.col("doc_id") <= F.col("cut")).select("doc_id", "text"),
        index_dir,
    )
    t1 = time.perf_counter()
    (
        with_cut.filter(F.col("doc_id") > F.col("hi"))
        .select(
            "doc_id",
            F.to_timestamp(F.lit("2024-01-01 00:00:00")).alias("ts"),
            "text",
        )
        .coalesce(1)
        .write.json(landing)
    )
    t2 = time.perf_counter()
    drain(
        run_incremental_dedup(
            spark,
            read_doc_stream(spark, landing),
            index_dir,
            out,
            ckpt,
            stage_times=stage_times,
        )
    )
    t3 = time.perf_counter()
    result = accepted_docs(spark, out).select("doc_id", "batch_id")
    if stage_times is not None:
        stage_times["bootstrap_index_s"] = round(t1 - t0, 3)
        stage_times["landing_write_s"] = round(t2 - t1, 3)
        stage_times["drain_s"] = round(t3 - t2, 3)
    return result
