"""Streaming pipeline tests: land JSON event files, drain with
AvailableNow, check results against the equivalent batch computation
(the streaming analogue of the DuckDB differential oracle)."""

from __future__ import annotations

import json

import pytest

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from bitcoinminingetl_spark.catalog import table
from bitcoinminingetl_spark.functions.numeric import round2
from bitcoinminingetl_spark.streaming.pipeline import (
    drain,
    read_event_stream,
    run_to_parquet,
    session_windows,
    start_file_sink,
    streaming_dedup,
    windowed_metric_averages,
)


@pytest.fixture(scope="module")
def landed_events(spark, sf_dir, tmp_path_factory):
    """Land the events table as JSON files (3 files ~ 3 micro-batches)."""
    return land_event_json(spark, sf_dir, tmp_path_factory.mktemp("landed"))


def land_event_json(spark, sf_dir, out):
    """Plain-function body of the landed_events fixture, importable by
    other test modules (the mutation gates re-land into their own tmp
    dir so red/green arms can't share checkpoint or sink state)."""
    rows = (
        table(spark, sf_dir, "events")
        .select("event_id", "ts", "user_id", "event_type", "value")
        .collect()
    )
    chunk = max(1, len(rows) // 3)
    for i in range(0, len(rows), chunk):
        with open(out / f"part-{i:06d}.json", "w") as f:
            for r in rows[i : i + chunk]:
                f.write(
                    json.dumps(
                        {
                            "event_id": r.event_id,
                            "ts": r.ts.isoformat(sep=" "),
                            "user_id": r.user_id,
                            "event_type": r.event_type,
                            "value": r.value,
                        }
                    )
                    + "\n"
                )
    return str(out)


def test_windowed_averages_match_batch(spark, landed_events, tmp_path):
    stream = read_event_stream(spark, landed_events, max_files_per_trigger=1)
    agg = windowed_metric_averages(stream)
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    drain(run_to_parquet(agg, out, ckpt))

    got = spark.read.parquet(out)
    # update mode re-emits windows across batches: last emission per key wins
    latest = (
        got.withColumn(
            "rn",
            F.row_number().over(
                __import__("pyspark.sql.window", fromlist=["Window"]).Window.partitionBy(
                    "win", "event_type"
                ).orderBy(F.col("batch_id").desc())
            ),
        )
        .filter(F.col("rn") == 1)
        .select(F.col("win.start").alias("ws"), "event_type", "avg_value", "n")
    )
    expected = (
        spark.read.schema(
            "event_id long, ts timestamp, user_id long, event_type string, value double"
        )
        .json(landed_events)
        .groupBy(F.window("ts", "5 minutes").alias("win"), "event_type")
        .agg(round2(F.avg("value")).alias("avg_value"), F.count(F.lit(1)).alias("n"))
        .select(F.col("win.start").alias("ws"), "event_type", "avg_value", "n")
    )
    got_set = {tuple(r) for r in latest.collect()}
    exp_set = {tuple(r) for r in expected.collect()}
    assert got_set == exp_set


def test_streaming_dedup_bounds_to_identity_keys(spark, landed_events, tmp_path):
    stream = read_event_stream(spark, landed_events)
    deduped = streaming_dedup(stream)
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    def write_batch(batch_df, batch_id):
        batch_df.write.mode("append").parquet(out)

    q = (
        deduped.writeStream.outputMode("append")
        .foreachBatch(write_batch)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    drain(q)
    got = spark.read.parquet(out)
    n_keys = (
        spark.read.schema(
            "event_id long, ts timestamp, user_id long, event_type string, value double"
        )
        .json(landed_events)
        .select("user_id", "event_type")
        .distinct()
        .count()
    )
    # all events arrive within the watermark horizon of this bounded
    # replay, so dedup keeps exactly one row per identity key
    assert got.count() == n_keys
    assert got.select("user_id", "event_type").distinct().count() == n_keys


def test_session_windows_run(spark, landed_events, tmp_path):
    stream = read_event_stream(spark, landed_events)
    sess = session_windows(stream)
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    drain(run_to_parquet(sess, out, ckpt, output_mode="append"))
    got = spark.read.parquet(out)
    assert got.count() > 0
    # session invariant: end - start >= 0 and every session has events
    bad = got.filter(
        (F.col("sess.end") < F.col("sess.start")) | (F.col("n_events") < 1)
    ).count()
    assert bad == 0


def test_stateful_fallback_operator(spark, tmp_path):
    """applyInPandasWithState (R10): a window whose average is zero emits
    the previous window's average with used_fallback=True, and state
    carries across micro-batches (each file = one batch)."""
    import json as _json

    from bitcoinminingetl_spark.streaming.pipeline import (
        read_event_stream,
        run_to_parquet,
        windowed_averages_with_fallback,
    )

    landing = tmp_path / "landing"
    landing.mkdir()
    # batch 1: window 00:00 avg=10 ; batch 2 (separate file): window
    # 00:05 all-zero -> falsy -> fallback to 10 ; window 00:10 avg=30
    batches = [
        [("2024-01-01 00:01:00", 10.0), ("2024-01-01 00:02:00", 10.0)],
        [("2024-01-01 00:06:00", 0.0), ("2024-01-01 00:11:00", 30.0)],
    ]
    import os as _os
    import time as _time

    for i, rows in enumerate(batches):
        with open(landing / f"b{i}.json", "w") as f:
            for j, (ts, v) in enumerate(rows):
                f.write(
                    _json.dumps(
                        {
                            "event_id": i * 10 + j,
                            "ts": ts,
                            "user_id": 1,
                            "event_type": "click",
                            "value": v,
                        }
                    )
                    + "\n"
                )
        # file-stream batch order follows modification time — make it explicit
        mtime = _time.time() - 600 + i * 60
        _os.utime(landing / f"b{i}.json", (mtime, mtime))
    stream = read_event_stream(spark, str(landing), max_files_per_trigger=1)
    drain(
        run_to_parquet(
            windowed_averages_with_fallback(stream),
            str(tmp_path / "out"),
            str(tmp_path / "ckpt"),
            output_mode="append",
        )
    )
    rows = {
        r.window_start.strftime("%H:%M"): r
        for r in spark.read.parquet(str(tmp_path / "out")).collect()
    }
    assert rows["00:00"].avg_value == 10.0 and not rows["00:00"].used_fallback
    assert rows["00:05"].avg_value == 10.0 and rows["00:05"].used_fallback
    assert rows["00:10"].avg_value == 30.0 and not rows["00:10"].used_fallback


def test_stream_stream_interval_join_matches_batch(spark, landed_events, tmp_path):
    """The streaming click↔view interval join, drained with AvailableNow,
    produces exactly the batch join's pairs."""
    from bitcoinminingetl_spark.streaming.pipeline import (
        read_event_stream,
        stream_stream_interval_join,
    )

    stream = read_event_stream(spark, landed_events)
    clicks = stream.filter(F.col("event_type") == "click")
    views = stream.filter(F.col("event_type") == "view")
    out = str(tmp_path / "join_out")
    drain(
        start_file_sink(
            stream_stream_interval_join(clicks, views), out, str(tmp_path / "join_ckpt")
        )
    )
    got = {
        (r.click_id, r.view_id)
        for r in spark.read.parquet(out).collect()
    }

    batch = spark.read.schema(
        "event_id long, ts timestamp, user_id long, event_type string, value double"
    ).json(landed_events)
    bc = batch.filter(F.col("event_type") == "click").alias("c")
    bv = batch.filter(F.col("event_type") == "view").alias("v")
    expected = {
        (r.click_id, r.view_id)
        for r in bc.join(
            bv,
            F.expr(
                "c.user_id = v.user_id AND "
                "v.ts BETWEEN c.ts - INTERVAL 5 MINUTES AND c.ts + INTERVAL 5 MINUTES"
            ),
        )
        .select(
            F.col("c.event_id").alias("click_id"),
            F.col("v.event_id").alias("view_id"),
        )
        .collect()
    }
    assert got == expected
    assert got, "no pairs joined — fixture should produce matches"


def test_alerting_listener_observes_lifecycle(spark, landed_events, tmp_path):
    """R14 parity: the listener sees start/progress/clean-termination for
    a drained query; exception is None on clean stop (the alert fires
    only when it isn't)."""
    from bitcoinminingetl_spark.streaming.pipeline import (
        AlertingListener,
        read_event_stream,
        run_to_parquet,
        windowed_metric_averages,
    )

    events = []
    listener = AlertingListener.build(events.append)
    spark.streams.addListener(listener)
    try:
        drain(
            run_to_parquet(
                windowed_metric_averages(read_event_stream(spark, landed_events)),
                str(tmp_path / "out"),
                str(tmp_path / "ckpt"),
            )
        )
        # listener callbacks are async; wait briefly for terminated event
        import time

        for _ in range(40):
            if any(k == "terminated" for k, _ in events):
                break
            time.sleep(0.25)
    finally:
        spark.streams.removeListener(listener)
    kinds = [k for k, _ in events]
    assert "started" in kinds
    assert "terminated" in kinds
    term_payloads = [p for k, p in events if k == "terminated"]
    assert term_payloads[-1] is None  # clean drain -> no alert


def test_failure_alert_sinks_fire_on_failed_query(spark, landed_events, tmp_path):
    """R14 parity, failure path: a streaming query whose batch function
    raises must fan an alert (subject + exception + run id) out to every
    pluggable sink; a clean query must stay silent. A broken sink must
    not stop the others."""
    import json
    import time

    from bitcoinminingetl_spark.streaming.pipeline import (
        FileAlertSink,
        failure_alerting_listener,
        read_event_stream,
    )

    alerts_file = str(tmp_path / "alerts.jsonl")
    seen = []

    def broken_sink(alert):
        raise RuntimeError("notifier down")

    listener = failure_alerting_listener(
        broken_sink, FileAlertSink(alerts_file), seen.append
    )
    spark.streams.addListener(listener)
    try:
        def boom(batch_df, batch_id):
            raise ValueError("planted batch failure")

        q = (
            read_event_stream(spark, landed_events)
            .writeStream.foreachBatch(boom)
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .queryName("failing_query")
            .start()
        )
        try:
            drain(q)
        except Exception:  # noqa: BLE001 — the failure IS the fixture
            pass
        # listener delivery is async; poll for the alert
        for _ in range(120):
            if seen:
                break
            time.sleep(0.25)
    finally:
        spark.streams.removeListener(listener)

    assert seen, "failure alert never reached the callback sink"
    alert = seen[-1]
    assert "FAILED" in alert["subject"] and "failing_query" in alert["subject"]
    assert "planted batch failure" in alert["exception"]
    assert alert["run_id"]
    with open(alerts_file, encoding="utf-8") as fh:
        on_disk = [json.loads(line) for line in fh]
    assert on_disk and on_disk[-1]["subject"] == alert["subject"]


def test_parse_kafka_shaped_frame(spark):
    """The Kafka value-decoding transform, driven by a synthesized
    connector-shaped batch frame (same columns/types the connector
    emits): JSON payloads decode to the events schema with lineage
    columns; a poison (non-JSON) message is filtered, not fatal."""
    import json as _json

    from bitcoinminingetl_spark.sources.kafka_source import (
        KAFKA_SHAPE,
        parse_kafka_events,
    )

    def msg(i, payload):
        return (
            None,
            payload.encode(),
            "events",
            i % 2,
            i,
            __import__("datetime").datetime(2024, 1, 1, 0, 0, i % 60),
            0,
        )

    good = [
        msg(
            i,
            _json.dumps(
                {
                    "event_id": i,
                    "ts": "2024-01-01 00:00:00",
                    "user_id": i * 7,
                    "event_type": "click",
                    "value": i / 2.0,
                }
            ),
        )
        for i in range(4)
    ]
    poison = [msg(99, "{not json")]
    kafka_df = spark.createDataFrame(good + poison, KAFKA_SHAPE)
    rows = {r.event_id: r for r in parse_kafka_events(kafka_df).collect()}
    assert set(rows) == {0, 1, 2, 3}  # poison dropped
    assert rows[2].user_id == 14 and rows[2].value == 1.0
    assert rows[3].topic == "events" and rows[3].offset == 3


def test_rate_source_processing_time_cadence(spark, tmp_path):
    """Live Trigger.ProcessingTime run (R2's 300 s tick, scaled to 1 s):
    the rate-source stream aggregates by event_type and must complete
    multiple timed micro-batches with growing input before a clean stop."""
    import time

    from bitcoinminingetl_spark.sources.kafka_source import rate_event_stream

    agg = (
        rate_event_stream(spark, rows_per_second=200)
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"), round2(F.avg("value")).alias("avg_value"))
    )
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName("rate_cadence")
        .trigger(processingTime="1 second")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        deadline = time.time() + 30
        batches = 0
        while time.time() < deadline:
            p = q.lastProgress
            if p and p["numInputRows"] > 0:
                batches += 1
                if batches >= 3:
                    break
            time.sleep(0.5)
        assert batches >= 3, f"only {batches} non-empty timed batches in 30s"
        out = {r.event_type: r.n for r in spark.sql(
            "SELECT * FROM rate_cadence"
        ).collect()}
        assert set(out) <= {"click", "view", "purchase", "signup"}
        assert sum(out.values()) > 0
    finally:
        q.stop()


def test_checkpoint_recovery_exactly_once(spark, sf_dir, tmp_path):
    """Restart semantics (the reliability property behind R2's gate
    state, main.py:83-98 — persisted progress survives process death):
    drain half the files, stop, land the rest, restart with the SAME
    checkpoint. The second run must (a) continue batch numbering from
    the checkpoint instead of starting over — proof the source offsets
    were recovered, not re-read — and (b) converge to exactly the batch
    answer over ALL data, with no double-counted events."""
    rows = (
        table(spark, sf_dir, "events")
        .select("event_id", "ts", "user_id", "event_type", "value")
        .collect()
    )
    landing, out, ckpt = (
        str(tmp_path / "landing"),
        str(tmp_path / "out"),
        str(tmp_path / "ckpt"),
    )
    import os

    os.makedirs(landing)

    def land(name, chunk):
        with open(f"{landing}/{name}.json", "w") as f:
            for r in chunk:
                f.write(
                    json.dumps(
                        {
                            "event_id": r.event_id,
                            "ts": r.ts.isoformat(sep=" "),
                            "user_id": r.user_id,
                            "event_type": r.event_type,
                            "value": r.value,
                        }
                    )
                    + "\n"
                )

    half = len(rows) // 2
    land("first", rows[:half])
    q1 = run_to_parquet(
        windowed_metric_averages(read_event_stream(spark, landing)), out, ckpt
    )
    drain(q1)
    batches_run1 = {r.batch_id for r in spark.read.parquet(out).collect()}

    land("second", rows[half:])
    q2 = run_to_parquet(
        windowed_metric_averages(read_event_stream(spark, landing)), out, ckpt
    )
    drain(q2)

    emitted = spark.read.parquet(out)
    batches_run2 = {
        r.batch_id for r in emitted.collect()
    } - batches_run1
    assert batches_run2, "second run emitted nothing"
    assert min(batches_run2) > max(batches_run1)  # offsets recovered

    w = Window.partitionBy("win", "event_type").orderBy(F.col("batch_id").desc())
    final = (
        emitted.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            F.col("win.start").alias("window_start"), "event_type", "avg_value", "n"
        )
    )
    batch_expected = (
        table(spark, sf_dir, "events")
        .groupBy(
            F.window("ts", "5 minutes").alias("win"), "event_type"
        )
        .agg(round2(F.avg("value")).alias("avg_value"), F.count(F.lit(1)).alias("n"))
        .select(
            F.col("win.start").alias("window_start"), "event_type", "avg_value", "n"
        )
    )
    got = sorted(map(tuple, final.collect()))
    want = sorted(map(tuple, batch_expected.collect()))
    assert got == want


def test_stream_static_enrich_matches_batch(spark, landed_events, tmp_path):
    """Stream-static enrichment: every streamed event picks up
    its user's segment from a static dimension; result equals the same
    join run in batch, and events without a dim row are dropped (inner
    join semantics)."""
    from bitcoinminingetl_spark.streaming.pipeline import stream_static_enrich

    batch = spark.read.schema(
        "event_id long, ts timestamp, user_id long, event_type string, value double"
    ).json(landed_events)
    # dim covers only even user_ids so the inner-join drop is exercised
    dim = (
        batch.select("user_id")
        .distinct()
        .filter(F.col("user_id") % 2 == 0)
        .withColumn(
            "segment", F.when(F.col("user_id") % 4 == 0, "whale").otherwise("minnow")
        )
    )
    dim_path = str(tmp_path / "dim")
    dim.write.parquet(dim_path)
    static_dim = spark.read.parquet(dim_path)

    stream = read_event_stream(spark, landed_events, max_files_per_trigger=1)
    enriched = stream_static_enrich(stream, static_dim)
    # a user-keyed dim grows with the user base: no broadcast is forced
    assert "strategy=broadcast" not in enriched._jdf.queryExecution().analyzed().toString()
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    drain(run_to_parquet(enriched, out, ckpt, output_mode="append"))

    got = {
        (r.event_id, r.segment)
        for r in spark.read.parquet(out).select("event_id", "segment").collect()
    }
    exp = {
        (r.event_id, r.segment)
        for r in batch.join(static_dim, "user_id").select("event_id", "segment").collect()
    }
    assert got == exp and got  # non-empty and exactly the batch join


def test_unfinished_drain_stops_the_query_and_raises(spark, sf_dir, monkeypatch):
    """A drain that outlives its timeout must not hand back a partial
    sink: the lifecycle raises and leaves no stream running."""
    import bitcoinminingetl_spark.streaming.pipeline as pipe_mod
    from bitcoinminingetl_spark.registry import load_all

    monkeypatch.setattr(pipe_mod, "DRAIN_TIMEOUT_S", 0.001)
    with pytest.raises(TimeoutError):
        load_all()["q_streaming_window_avg"].fn(spark, sf_dir)
    assert spark.streams.active == []


def test_stateful_fallback_transform_with_state(spark, tmp_path):
    """transformWithStateInPandas (Spark 4 state API): the same R10
    fallback fixture as test_stateful_fallback_operator must produce the
    same three windows, with state carried across micro-batches through
    the RocksDB state store.

    Skipped where protobuf is absent: the TWS driver worker speaks a
    protobuf protocol to the JVM (pyspark.sql.streaming.proto), so the
    operator physically cannot start without it — the
    applyInPandasWithState twin above covers the semantics there."""
    pytest.importorskip(
        "google.protobuf", reason="transformWithState needs protobuf"
    )
    import json as _json
    import os as _os
    import time as _time

    from bitcoinminingetl_spark.streaming.pipeline import (
        read_event_stream,
        run_to_parquet,
        windowed_averages_with_fallback_tws,
    )

    landing = tmp_path / "landing"
    landing.mkdir()
    batches = [
        [("2024-01-01 00:01:00", 10.0), ("2024-01-01 00:02:00", 10.0)],
        [("2024-01-01 00:06:00", 0.0), ("2024-01-01 00:11:00", 30.0)],
    ]
    for i, rows in enumerate(batches):
        with open(landing / f"b{i}.json", "w") as f:
            for j, (ts, v) in enumerate(rows):
                f.write(
                    _json.dumps(
                        {
                            "event_id": i * 10 + j,
                            "ts": ts,
                            "user_id": 1,
                            "event_type": "click",
                            "value": v,
                        }
                    )
                    + "\n"
                )
        mtime = _time.time() - 600 + i * 60
        _os.utime(landing / f"b{i}.json", (mtime, mtime))

    provider_key = "spark.sql.streaming.stateStore.providerClass"
    old = spark.conf.get(provider_key, None)
    spark.conf.set(
        provider_key,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        stream = read_event_stream(spark, str(landing), max_files_per_trigger=1)
        drain(
            run_to_parquet(
                windowed_averages_with_fallback_tws(stream),
                str(tmp_path / "out"),
                str(tmp_path / "ckpt"),
                output_mode="append",
            )
        )
    finally:
        if old is None:
            spark.conf.unset(provider_key)
        else:
            spark.conf.set(provider_key, old)
    rows = {
        r.window_start.strftime("%H:%M"): r
        for r in spark.read.parquet(str(tmp_path / "out")).collect()
    }
    assert rows["00:00"].avg_value == 10.0 and not rows["00:00"].used_fallback
    assert rows["00:05"].avg_value == 10.0 and rows["00:05"].used_fallback
    assert rows["00:10"].avg_value == 30.0 and not rows["00:10"].used_fallback


def test_streaming_sessionize_laws(spark, sf_dir):
    """q_streaming_sessionize's emitted (finalized) sessions obey the
    session-window laws: every session is non-empty and well-ordered,
    and a user's consecutive sessions are separated by at least the
    30-minute inactivity gap (otherwise session_window would have merged
    them)."""
    from collections import defaultdict

    from bitcoinminingetl_spark.registry import load_all

    rows = load_all()["q_streaming_sessionize"].fn(spark, sf_dir).collect()
    assert rows, "no finalized sessions emitted"
    by_user = defaultdict(list)
    gap_s = 30 * 60
    for r in rows:
        assert r.n_events >= 1
        assert r.session_end >= r.session_start
        # session_window's end = last event + gap, so EVERY session is at
        # least gap long — the one law recoverable from emitted rows that
        # pins the gap constant itself (the consecutive-session checks
        # below reduce to disjointness and cannot catch a shrunken gap)
        assert (r.session_end - r.session_start).total_seconds() >= gap_s
        by_user[r.user_id].append(r)
    multi = 0
    for sess in by_user.values():
        sess.sort(key=lambda r: r.session_start)
        for a, b in zip(sess, sess[1:]):
            multi += 1
            # session_window end = last event + gap (end-exclusive), so
            # "next session starts at or after the previous end" IS the
            # inactivity-gap law: b.start - last_event(a) >= gap
            assert (b.session_start - a.session_end).total_seconds() >= 0
            # cross-check via the reconstructed last-event time
            last_event_a = a.session_end.timestamp() - gap_s
            assert b.session_start.timestamp() - last_event_a >= gap_s
    assert multi > 0, "fixture produced no user with 2+ sessions"


def test_incremental_dedup_drops_cross_batch_near_dup_across_restart(
    spark, tmp_path
):
    """The streaming LSH dedup pipeline against a persisted corpus index
    (streaming/incremental_dedup.py): byte dups of indexed docs die in
    the exact stage, near-dups of indexed docs die in the LSH+verify
    stage, and — the restart property — a doc accepted in run 1 grows
    the index, so a near-dup of it landing AFTER a restart is dropped by
    run 2 (dropped exactly once: it never appears in the output, while
    its original appears exactly once across both runs). Offsets resume
    from the checkpoint, not from zero."""
    import os

    from bitcoinminingetl_spark.streaming.incremental_dedup import (
        accepted_docs,
        build_corpus_index,
        read_doc_stream,
        run_incremental_dedup,
    )

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    other = "one two three four five six seven eight nine ten"
    corpus = spark.createDataFrame(
        [(1, base), (2, other)], "doc_id long, text string"
    )
    landing = str(tmp_path / "landing")
    index_dir = str(tmp_path / "index")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(landing)
    build_corpus_index(corpus, index_dir)

    def land(name, rows):
        with open(f"{landing}/{name}.json", "w") as f:
            for doc_id, ts, text in rows:
                f.write(
                    json.dumps({"doc_id": doc_id, "ts": ts, "text": text}) + "\n"
                )

    fresh_102 = "fresh unrelated content nothing shared with anything else here"
    # run 1: near-dup of corpus doc 1, a clean doc, byte-dup of corpus doc 2
    land(
        "batch1",
        [
            (101, "2024-01-01 00:00:00", base + " extra"),
            (102, "2024-01-01 00:01:00", fresh_102),
            (103, "2024-01-01 00:02:00", other),
        ],
    )
    q1 = run_incremental_dedup(
        spark, read_doc_stream(spark, landing), index_dir, out, ckpt
    )
    drain(q1)
    run1 = {r.doc_id: r.batch_id for r in accepted_docs(spark, out).collect()}
    assert set(run1) == {102}, f"run 1 accepted {set(run1)}"

    # restart: near-dup of doc 102 (accepted last run — only the GROWN
    # index can catch it), a clean doc, and a re-delivery of doc 102's
    # bytes under a new id (exact stage vs grown index)
    land(
        "batch2",
        [
            (104, "2024-01-01 01:00:00", fresh_102 + " padding"),
            (105, "2024-01-01 01:01:00", "совершенно novel words appear in this document"),
            (106, "2024-01-01 01:02:00", fresh_102),
        ],
    )
    q2 = run_incremental_dedup(
        spark, read_doc_stream(spark, landing), index_dir, out, ckpt
    )
    drain(q2)

    final = [r for r in accepted_docs(spark, out).collect()]
    by_id = {}
    for r in final:
        by_id.setdefault(r.doc_id, []).append(r.batch_id)
    assert set(by_id) == {102, 105}, f"final accepted {set(by_id)}"
    assert len(by_id[102]) == 1  # exactly once across restart
    assert len(by_id[105]) == 1
    # run 2 continued batch numbering from the checkpoint
    assert min(by_id[105]) > max(run1.values())


def test_stream_stream_left_outer_join_emits_unmatched(
    spark, landed_events, tmp_path
):
    """The left-outer stream-stream join must (a) produce the same
    matched pairs as the inner join, and (b) additionally emit
    null-view rows for clicks whose attribution window closed with no
    view — exactly the clicks the batch left join leaves unmatched,
    restricted to those the final watermark got past (tail clicks stay
    in state: the stream never 'ends', AvailableNow just stops
    feeding it)."""
    from bitcoinminingetl_spark.streaming.pipeline import (
        read_event_stream,
        stream_stream_interval_join,
    )

    stream = read_event_stream(spark, landed_events)
    clicks = stream.filter(F.col("event_type") == "click")
    views = stream.filter(F.col("event_type") == "view")
    out = str(tmp_path / "louter_out")
    drain(
        start_file_sink(
            stream_stream_interval_join(clicks, views, how="left_outer"),
            out,
            str(tmp_path / "louter_ckpt"),
        )
    )
    got = spark.read.parquet(out)
    got_pairs = {
        (r.click_id, r.view_id)
        for r in got.filter(F.col("view_id").isNotNull()).collect()
    }
    got_unmatched = {
        r.click_id for r in got.filter(F.col("view_id").isNull()).collect()
    }

    batch = spark.read.schema(
        "event_id long, ts timestamp, user_id long, event_type string, value double"
    ).json(landed_events)
    bc = batch.filter(F.col("event_type") == "click").alias("c")
    bv = batch.filter(F.col("event_type") == "view").alias("v")
    joined = bc.join(
        bv,
        F.expr(
            "c.user_id = v.user_id AND "
            "v.ts BETWEEN c.ts - INTERVAL 5 MINUTES AND c.ts + INTERVAL 5 MINUTES"
        ),
        "left_outer",
    ).select(
        F.col("c.event_id").alias("click_id"),
        F.col("v.event_id").alias("view_id"),
    )
    expected_pairs = {
        (r.click_id, r.view_id)
        for r in joined.filter(F.col("view_id").isNotNull()).collect()
    }
    expected_unmatched = {
        r.click_id for r in joined.filter(F.col("view_id").isNull()).collect()
    }

    # matched pairs identical to batch
    assert got_pairs == expected_pairs
    # outer rows: only-and-exactly batch-unmatched clicks, minus any the
    # final watermark hadn't passed (held in state, never wrongly emitted)
    assert got_unmatched <= expected_unmatched
    assert got_unmatched, (
        "no unmatched clicks emitted — watermark should have closed most "
        "attribution windows during the drain"
    )
    # no click appears both matched and null-view
    assert not (got_unmatched & {c for c, _ in got_pairs})


def test_interval_join_exactly_once_across_restart(spark, tmp_path):
    """Lifecycle pin for q_streaming_interval_join (r7 VERDICT item 6):
    the stream-stream join's STATE must survive a restart — a click
    arriving before the stop and its view arriving after must still
    pair (the checkpoint carries join state, not just source offsets),
    run-1 pairs must not re-emit (exactly-once across restart), and the
    final pair set must equal the batch interval join over all data."""
    import os

    from bitcoinminingetl_spark.streaming.pipeline import (
        read_event_stream,
        stream_stream_interval_join,
    )

    landing = str(tmp_path / "landing")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(landing)

    def ev(eid, t, uid, typ):
        return {
            "event_id": eid,
            "ts": f"2024-01-01 {t}",
            "user_id": uid,
            "event_type": typ,
            "value": 1.0,
        }

    first = [
        ev(1, "09:00:00", 2, "view"),
        ev(2, "09:02:00", 2, "click"),   # pairs with 1 inside run 1
        ev(3, "08:00:00", 3, "click"),   # view arrives 30 min later: no pair
        ev(4, "10:00:00", 1, "click"),   # its view arrives AFTER restart
    ]
    second = [
        ev(5, "10:03:00", 1, "view"),    # pairs with 4 across the restart
        ev(6, "08:30:00", 3, "view"),    # outside the ±5 min tolerance
        ev(7, "11:00:00", 4, "click"),
        ev(8, "11:01:00", 4, "view"),    # pairs with 7 inside run 2
    ]

    def land(name, rows):
        with open(f"{landing}/{name}.json", "w") as f:
            for r in rows:
                f.write(json.dumps(r) + "\n")

    def run():
        stream = read_event_stream(spark, landing)
        joined = stream_stream_interval_join(
            stream.filter(F.col("event_type") == "click"),
            stream.filter(F.col("event_type") == "view"),
        )
        drain(start_file_sink(joined, out, ckpt))
        return [(r.click_id, r.view_id) for r in spark.read.parquet(out).collect()]

    land("first", first)
    run1 = run()
    assert (2, 1) in run1           # both sides in run 1
    assert (4, 5) not in run1       # view not landed yet

    land("second", second)
    run2 = run()
    # join state survived the restart: the pre-stop click pairs with the
    # post-restart view
    assert (4, 5) in run2
    # exactly-once: nothing re-emitted, no duplicates anywhere
    assert len(run2) == len(set(run2))
    assert set(run2) == {(2, 1), (4, 5), (7, 8)}


def test_interval_join_outer_lifecycle(spark, sf_dir):
    """The registered q_streaming_interval_join_outer lifecycle: its
    matched pairs must equal the inner twin's (outer adds rows, never
    changes matches), every added row is a NULL-view attribution-loss
    click, and at least one such loss row exists on the fixture (the
    slice has clicks with no same-user view inside ±5 min whose window
    the final watermark provably closed)."""
    from bitcoinminingetl_spark.registry import load_all

    reg = load_all()
    outer = reg["q_streaming_interval_join_outer"].fn(spark, sf_dir).collect()
    inner = {
        (r.click_id, r.view_id)
        for r in reg["q_streaming_interval_join"].fn(spark, sf_dir).collect()
    }
    matched = {
        (r.click_id, r.view_id) for r in outer if r.view_id is not None
    }
    losses = [r for r in outer if r.view_id is None]
    assert matched == inner
    assert losses, "no attribution-loss rows emitted"
    assert all(r.view_ts is None for r in losses)
    # exactly-once per lost click
    lost_ids = [r.click_id for r in losses]
    assert len(lost_ids) == len(set(lost_ids))
    assert not set(lost_ids) & {c for c, _ in matched}


def state_timeline(q) -> list[dict]:
    """Per-batch state-store readings from a drained query's
    recentProgress: one entry per batch that carried stateOperators,
    with (numRowsTotal, numRowsUpdated, numRowsRemoved,
    memoryUsedBytes) per operator and the batch watermark. Shared by
    the state-expiry tests here and scripts/stream_state.py's committed
    receipt (r10 VERDICT item 5) so the two read the same telemetry."""
    import json as _json

    out = []
    for p in q.recentProgress:
        d = _json.loads(p.json) if hasattr(p, "json") else dict(p)
        ops = d.get("stateOperators") or []
        if ops:
            out.append(
                {
                    "batch_id": d.get("batchId"),
                    "watermark": (d.get("eventTime") or {}).get("watermark"),
                    "state": [
                        {
                            k: op.get(k)
                            for k in (
                                "operatorName",
                                "numRowsTotal",
                                "numRowsUpdated",
                                "numRowsRemoved",
                                "memoryUsedBytes",
                            )
                        }
                        for op in ops
                    ],
                }
            )
    return out


def state_expiry_verdict(timeline: list[dict]) -> dict:
    """The bounded-state claim, reduced to three numbers: peak and
    final state rows (summed over operators per batch) and total rows
    removed by watermark expiry. Bounded state = removed > 0 AND final
    < peak: the store grew, the watermark advanced, and rows actually
    left — the 100 TB streaming killer is precisely a timeline where
    removed stays 0 while total ratchets up."""
    totals = [
        sum(op.get("numRowsTotal") or 0 for op in t["state"])
        for t in timeline
    ]
    removed = sum(
        op.get("numRowsRemoved") or 0 for t in timeline for op in t["state"]
    )
    return {
        "batches": len(timeline),
        "peak_state_rows": max(totals) if totals else 0,
        "final_state_rows": totals[-1] if totals else 0,
        "rows_removed": removed,
        "bounded": bool(
            totals and removed > 0 and totals[-1] < max(totals)
        ),
    }


def test_interval_join_state_expires_with_watermark(
    spark, landed_events, tmp_path
):
    """r10 VERDICT item 5: the interval join's symmetric-hash state must
    SHRINK as the watermark advances across the drain — rows removed by
    expiry > 0 and final state rows below the peak. Without the
    time-bound condition this state grows forever; this test is the
    receipt that it doesn't."""
    from bitcoinminingetl_spark.streaming.pipeline import (
        read_event_stream,
        stream_stream_interval_join,
    )

    stream = read_event_stream(spark, landed_events, max_files_per_trigger=1)
    clicks = stream.filter(F.col("event_type") == "click")
    views = stream.filter(F.col("event_type") == "view")
    q = start_file_sink(
        stream_stream_interval_join(clicks, views),
        str(tmp_path / "out"),
        str(tmp_path / "ckpt"),
    )
    # the drain must FINISH — a timed-out query's timeline is partial
    # and its "final" reading meaningless (r11 review finding)
    v = state_expiry_verdict(state_timeline(drain(q)))
    assert v["batches"] >= 2, "drain produced too few stateful batches"
    assert v["rows_removed"] > 0, v
    assert v["final_state_rows"] < v["peak_state_rows"], v


def test_session_state_expires_with_watermark(spark, landed_events, tmp_path):
    """Session-window state must also be watermark-bounded: finalized
    sessions leave the store (removed > 0) and the final state row
    count sits below the peak."""
    from bitcoinminingetl_spark.streaming.pipeline import (
        read_event_stream,
        run_to_parquet,
        session_windows,
    )

    stream = read_event_stream(spark, landed_events, max_files_per_trigger=1)
    q = run_to_parquet(
        session_windows(stream),
        str(tmp_path / "out"),
        str(tmp_path / "ckpt"),
        output_mode="append",
    )
    v = state_expiry_verdict(state_timeline(drain(q)))
    assert v["batches"] >= 2, "drain produced too few stateful batches"
    assert v["rows_removed"] > 0, v
    assert v["final_state_rows"] < v["peak_state_rows"], v


def test_checkpoints_commit_through_filesystem_manager(
    spark, landed_events, tmp_path
):
    """get_spark's sessions write streaming checkpoints through Spark's
    FileSystem-based manager (its FileContext default makes Hadoop's local
    filesystem fork a process per file operation without libhadoop). A
    commit replaces an existing file, as a re-run state version needs,
    and a drained stateful stream leaves no temp file in its checkpoint:
    the offset/commit logs and the state store each commit by rename."""
    import os

    jvm = spark._jvm
    Path = jvm.org.apache.hadoop.fs.Path
    ckpt = tmp_path / "ckpt"
    pkg = "org.apache.spark.sql.execution.streaming.checkpointing."
    mgr = getattr(jvm, pkg + "CheckpointFileManager").create(
        Path(str(ckpt)), spark._jsparkSession.sessionState().newHadoopConf()
    )
    if mgr.getClass().getName() == pkg + "ChecksumCheckpointFileManager":
        inner = mgr.getClass().getDeclaredField("underlyingFileMgr")
        inner.setAccessible(True)
        mgr = inner.get(mgr)
    assert mgr.getClass().getName() == pkg + "FileSystemBasedCheckpointFileManager"

    commit_dir = tmp_path / "commit"
    for payload in (b"first", b"second"):
        out = mgr.createAtomic(Path(str(commit_dir / "1.delta")), True)
        out.write(payload)
        out.close()
    assert sorted(os.listdir(commit_dir)) == [".1.delta.crc", "1.delta"]
    assert (commit_dir / "1.delta").read_bytes() == b"second"

    stream = read_event_stream(spark, landed_events, max_files_per_trigger=1)
    q = drain(
        run_to_parquet(
            windowed_metric_averages(stream), str(tmp_path / "out"), str(ckpt)
        )
    )
    assert q.lastProgress["batchId"] >= 2
    names = [f for _, _, files in os.walk(ckpt) for f in files]
    assert any(f.endswith(".delta") for f in names), names  # state store ran
    assert not [f for f in names if ".tmp" in f], names
