"""Streaming form of the reference pipeline (SURVEY.md §2.2 Streaming).

The reference is conceptually two unbounded streams polled by Airflow
ticks (reference main.py:18-21) with a 300 s materialization cadence
(main.py:21,154-157) and a previous-window fallback for late/missing data
(load.py:16-25). Structured Streaming expresses each piece natively:

- interval gate (R2)            -> AvailableNow, checked by drain()
- append sink (R6)              -> foreachBatch -> parquet (update mode)
                                   or the parquet file sink (append mode)
- 5-min tumbling materialize    -> groupBy(window(ts, "5 minutes"))
  (R11)                            + withWatermark (state eviction)
- late data / fallback (R10)    -> watermark delay; windows
                                   keep accepting rows until the
                                   watermark passes, so the batch-world
                                   "retry previous window" becomes
                                   "window not finalized yet"
- dedup identity (R13)          -> dropDuplicatesWithinWatermark

State scale: every aggregation below is keyed by (window, event_type) —
state store shards by key across executors; watermarks bound state size.
Sources here are file streams (the landed-payload pattern for R1's HTTP
polling: an external fetcher appends JSON files; at production scale the
same plans read Kafka).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bitcoinminingetl_spark.functions.numeric import round2

EVENT_SCHEMA = "event_id long, ts timestamp, user_id long, event_type string, value double"


def read_event_stream(
    spark: SparkSession, path: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """File-stream source over landed JSON events (R1's ingestion shape:
    an HTTP poller lands payload files; the stream tails the directory).
    Schema is declared — never inferred — so a malformed file can't
    silently widen types mid-stream."""
    reader = spark.readStream.schema(EVENT_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.json(path)


# Module-level (not default args — defaults bind at def time) so the
# mutation gates can prove the streaming differential tests go red when
# a window/gap/tolerance constant silently drifts from the batch twin.
_TUMBLE_WINDOW = "5 minutes"
_SESSION_GAP = "30 minutes"
_JOIN_TOLERANCE = "5 minutes"
# How late a row may arrive: the watermark delay of every watermarked stream
# except the interval join (_JOIN_WATERMARK below).
WATERMARK_DELAY = "10 minutes"
# How long drain() waits for an AvailableNow query to finish.
DRAIN_TIMEOUT_S = 300


def windowed_metric_averages(events: DataFrame) -> DataFrame:
    """R11 streaming: per-(window, metric) running averages with watermark.

    One keyed aggregation instead of the batch full-outer join: in
    streaming, joining two windowed aggregates needs both sides'
    watermarks to align; grouping by (window, event_type) gives the same
    wide row after a pivot in the sink, with half the state."""
    return (
        events.withWatermark("ts", WATERMARK_DELAY)
        .groupBy(F.window("ts", _TUMBLE_WINDOW).alias("win"), "event_type")
        .agg(round2(F.avg("value")).alias("avg_value"), F.count(F.lit(1)).alias("n"))
    )


def session_windows(events: DataFrame) -> DataFrame:
    """Session windows per user: a session closes after _SESSION_GAP of
    inactivity — dynamic-length windows the batch reference can't
    express."""
    return (
        events.withWatermark("ts", WATERMARK_DELAY)
        .groupBy(F.session_window("ts", _SESSION_GAP).alias("sess"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"), round2(F.avg("value")).alias("avg_value"))
    )


def streaming_dedup(events: DataFrame) -> DataFrame:
    """R13 streaming: drop re-deliveries of the same identity key while
    its watermark window is open. State = one entry per key in the
    horizon, evicted as the watermark advances."""
    return events.withWatermark("ts", WATERMARK_DELAY).dropDuplicatesWithinWatermark(
        ["user_id", "event_type"]
    )


def run_to_parquet(
    agg: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    output_mode: str = "update",
):
    """R6's append sink: foreachBatch -> parquet append, drained with
    AvailableNow. foreachBatch (not the file sink of start_file_sink)
    because update-mode windowed aggregates re-emit windows; the batch
    function owns idempotence via overwrite-by-window at scale."""

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        (
            batch_df.withColumn("batch_id", F.lit(batch_id))
            .write.mode("append")
            .parquet(out_dir)
        )

    # update mode for plain windowed aggs (re-emits as late data lands);
    # session windows only support append (finalized sessions).
    return (
        agg.writeStream.outputMode(output_mode)
        .foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def start_file_sink(df: DataFrame, out_dir: str, checkpoint_dir: str):
    """Append-mode parquet file sink, drained with AvailableNow. The
    sink's metadata log makes it exactly-once across restarts; it takes
    append-only results (stream-stream joins, finalized sessions)."""
    return (
        df.writeStream.outputMode("append")
        .format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def drain(q):
    """Wait for an AvailableNow query to finish and return it. A query
    still running after DRAIN_TIMEOUT_S is stopped and raises, so no
    caller reads a partial sink or leaves the stream running; a failed
    query raises through awaitTermination."""
    if not q.awaitTermination(DRAIN_TIMEOUT_S):
        q.stop()
        raise TimeoutError(f"stream {q.id} did not drain within {DRAIN_TIMEOUT_S}s")
    return q


# ---------------------------------------------------------------------------
# R10 as a custom stateful operator (SURVEY §2.2 Streaming: "the 10-min
# fallback as stateful applyInPandasWithState logic").

FALLBACK_OUTPUT_SCHEMA = (
    "event_type string, window_start timestamp, avg_value double, "
    "n long, used_fallback boolean"
)
# state: the last window's average per event_type key (the reference's
# [t-600, t-300] lookback, load.py:16-25, held as keyed streaming state).
FALLBACK_STATE_SCHEMA = "prev_avg double"


def _fallback_windows(event_type, prev, frames):
    """The R10 kernel for one event_type key: aggregate each 5-min window
    in the micro-batch frames; when a window's average is NULL-or-zero
    (the reference's falsy check, load.py:17), emit the previous
    window's average instead. Returns the output frame and the last
    non-falsy average, the state carried to the next micro-batch."""
    import pandas as pd  # executor-side import

    out = []
    frames = [pdf for pdf in frames if len(pdf)]
    if frames:
        rows = pd.concat(frames, ignore_index=True)
        rows["window_start"] = rows["ts"].dt.floor("5min")
        g = rows.groupby("window_start")["value"].agg(["mean", "count"]).sort_index()
        for win, r in g.iterrows():
            avg = float(r["mean"]) if r["count"] else None
            falsy = avg is None or avg == 0.0
            out.append((event_type, win, prev if falsy else avg, int(r["count"]), falsy))
            if not falsy:
                prev = avg
    columns = ["event_type", "window_start", "avg_value", "n", "used_fallback"]
    return pd.DataFrame(out, columns=columns), prev


def _fallback_fn(key, pdf_iter, state):
    """applyInPandasWithState handler: _fallback_windows with the last
    average held in the group state."""
    (event_type,) = key
    prev = state.get[0] if state.exists else None
    out, prev = _fallback_windows(event_type, prev, pdf_iter)
    state.update((prev,))
    yield out


def windowed_averages_with_fallback(events: DataFrame) -> DataFrame:
    """R10+R11 as applyInPandasWithState: keyed by event_type, one output
    row per (key, 5-min window) whose avg falls back to the previous
    window's value when the current one is empty-or-zero — semantics the
    built-in windowed agg can't express (it would just emit no row).

    Scale: state is one double per key — sharded by the groupBy hash
    across executors like any keyed state; batches arrive Arrow-encoded
    (pandas), so the Python hop is vectorized, not per-row."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    return (
        events.withWatermark("ts", WATERMARK_DELAY)
        .groupBy("event_type")
        .applyInPandasWithState(
            _fallback_fn,
            outputStructType=FALLBACK_OUTPUT_SCHEMA,
            stateStructType=FALLBACK_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


# Watermark delay for both sides of the stream-stream interval join.
# Module-level (not inline) so the mutation gate in
# tests/test_mutation_gates.py can prove the null-emission test goes red
# when the watermark stops advancing past click.ts + tolerance.
_JOIN_WATERMARK = "10 minutes"


def stream_stream_interval_join(
    clicks: DataFrame, views: DataFrame, how: str = "inner"
) -> DataFrame:
    """Stream-stream time-interval join: each click pairs with the same
    user's views within ±_JOIN_TOLERANCE — the attribution-join shape (R11's
    two-stream correlation as a true stream-stream join rather than the
    aggregate-then-join the batch path uses; Spark forbids joining two
    *aggregated* streams, so the join runs on raw events and any
    aggregation comes after).

    Both sides carry watermarks; the time-bound condition lets the state
    store expire rows once the other stream's watermark passes ts +
    tolerance — without it, stream-stream join state grows forever.

    how="left_outer" adds the attribution-loss rows: clicks with NO view
    within tolerance emit once — with null view columns — exactly when
    the view-side watermark passes click.ts + tolerance, i.e. when the
    engine can PROVE no match can still arrive. That proof is the whole
    point of the watermark contract: outer results are late by one
    watermark delay but never retracted, so downstream consumers see an
    append-only, eventually-complete attribution table. (Clicks newer
    than the final watermark stay in state, not in output — the drain
    leaves them pending, matching production semantics where the stream
    never "ends".)"""
    c = clicks.withWatermark("ts", _JOIN_WATERMARK).alias("c")
    v = views.withWatermark("ts", _JOIN_WATERMARK).alias("v")
    return c.join(
        v,
        F.expr(
            f"""
            c.user_id = v.user_id AND
            v.ts BETWEEN c.ts - INTERVAL {_JOIN_TOLERANCE} AND c.ts + INTERVAL {_JOIN_TOLERANCE}
            """
        ),
        how,
    ).select(
        F.col("c.event_id").alias("click_id"),
        F.col("v.event_id").alias("view_id"),
        F.col("c.user_id").alias("user_id"),
        F.col("c.ts").alias("click_ts"),
        F.col("v.ts").alias("view_ts"),
    )


def stream_static_enrich(events: DataFrame, dim: DataFrame) -> DataFrame:
    """Stream-static enrichment join: each streaming event picks up the
    dimension attributes for its key — the lookup-table shape every
    production stream runs (user profile, device registry, price book).

    The static side is a plain batch DataFrame: Spark re-plans it per
    micro-batch (so a refreshed dim parquet is picked up on the next
    trigger) and, when it fits the broadcast threshold, ships it as a
    broadcast hash join — the streaming side never shuffles and carries
    no join state (unlike stream-stream joins, a static side needs no
    watermark: rows can't be late). No broadcast is forced: a user-keyed
    dimension grows with the user base, so the planner decides from its
    size. Inner join drops events with no dim row — use left for
    keep-and-null."""
    return events.join(dim, on="user_id")


class AlertingListener:
    """R14's failure alerting (reference main.py:27-56 sends an HTML email
    on task failure; retries are Spark-level `spark.task.maxFailures`).

    A StreamingQueryListener that hands terminal events to a callback —
    the engine-side hook where the reference's send_email goes. Kept
    dependency-free: the callback receives (kind, payload) tuples; tests
    collect them, production wires a real notifier.

    Use: `spark.streams.addListener(AlertingListener.build(cb))`.
    """

    @staticmethod
    def build(callback):
        from pyspark.sql.streaming import StreamingQueryListener

        class _L(StreamingQueryListener):
            def onQueryStarted(self, event):
                callback(("started", event.id))

            def onQueryProgress(self, event):
                callback(("progress", event.progress.numInputRows))

            def onQueryIdle(self, event):
                callback(("idle", event.id))

            def onQueryTerminated(self, event):
                # exception is None on clean stop — the alert condition is
                # a non-None exception (the reference's failure email path)
                callback(("terminated", event.exception))

        return _L()


def format_failure_alert(query_name: str, run_id: str, exception: str) -> dict:
    """The alert MESSAGE R14 parity needs: the reference's failure email
    (main.py:27-56) carries task name, dag id, execution time, and the
    exception in an HTML body. Engine-side equivalent: a flat dict any
    sink can serialize — subject line plus the same fields. UTC wall time
    comes from the engine, not the OS locale."""
    import datetime as dt

    return {
        "subject": f"[bitcoinminingetl-spark] streaming query FAILED: {query_name}",
        "query_name": query_name,
        "run_id": run_id,
        "failed_at_utc": dt.datetime.now(dt.timezone.utc).isoformat(),
        "exception": exception,
    }


class FileAlertSink:
    """Alert sink -> a JSON-lines file (the durable, dependency-free shape:
    ship the file to any pager/email bridge). Appends one line per alert;
    driver-side only, so a plain local append is safe. Any callable that
    takes the alert dict is a sink; this is the one shipped."""

    def __init__(self, path: str) -> None:
        self._path = path

    def __call__(self, alert: dict) -> None:
        import json

        with open(self._path, "a", encoding="utf-8") as fh:
            fh.write(json.dumps(alert) + "\n")


def failure_alerting_listener(*sinks):
    """The R14 production hook: a StreamingQueryListener that formats a
    failure alert (format_failure_alert) and fans it out to every
    sink callable — but ONLY on failed termination; clean stops are
    silent, matching the reference's email-on-exception-only behavior.
    A sink that raises is isolated (best-effort fan-out): one broken
    notifier must not mask the original failure or starve other sinks.

    Use: `spark.streams.addListener(failure_alerting_listener(
    FileAlertSink('/var/alerts.jsonl'), notify))`."""
    from pyspark.sql.streaming import StreamingQueryListener

    class _FailureListener(StreamingQueryListener):
        def __init__(self) -> None:
            self._names: dict[str, str] = {}

        def onQueryStarted(self, event):
            if event.name:
                self._names[str(event.id)] = event.name

        def onQueryProgress(self, event):
            pass

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            if event.exception is None:
                return
            # QueryTerminatedEvent carries no query name — only ids; the
            # started event does, so remember id -> name while running.
            alert = format_failure_alert(
                query_name=self._names.get(str(event.id), str(event.id)),
                run_id=str(event.runId),
                exception=str(event.exception),
            )
            for sink in sinks:
                try:
                    sink(alert)
                except Exception:  # noqa: BLE001 — best-effort fan-out
                    pass

    return _FailureListener()


def windowed_averages_with_fallback_tws(events: DataFrame) -> DataFrame:
    """The same R10 fallback operator on transformWithStateInPandas —
    Spark 4's arbitrary-state API (the successor to
    applyInPandasWithState): state is declared as named, typed handles
    on a StatefulProcessor instead of one opaque tuple, the processor
    has an explicit lifecycle (init/handleInputRows/close), and the
    runtime adds timers and state TTL for free. Requires the RocksDB
    state store provider (the 100 TB state backend anyway — keyed state
    spills to disk and checkpoints incrementally instead of living on
    the executor heap). Semantics and output schema are identical to
    windowed_averages_with_fallback; the test runs the same fixture
    through both. NB the TWS Python driver worker speaks protobuf to the
    JVM, so environments without google.protobuf can't start it — the
    test importorskips there and the applyInPandasWithState twin keeps
    the semantics covered."""
    from pyspark.sql.streaming import StatefulProcessor, StatefulProcessorHandle

    class _FallbackProcessor(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._prev = handle.getValueState("prev_avg", FALLBACK_STATE_SCHEMA)

        def handleInputRows(self, key, rows, timer_values):
            (event_type,) = key
            prev = self._prev.get()[0] if self._prev.exists() else None
            out, prev = _fallback_windows(event_type, prev, rows)
            self._prev.update((prev,))
            yield out

        def close(self) -> None:
            pass

    return (
        events.withWatermark("ts", WATERMARK_DELAY)
        .groupBy("event_type")
        .transformWithStateInPandas(
            statefulProcessor=_FallbackProcessor(),
            outputStructType=FALLBACK_OUTPUT_SCHEMA,
            outputMode="append",
            timeMode="none",
        )
    )
