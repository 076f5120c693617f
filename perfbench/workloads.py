"""The two workloads: which engine entry points each pass calls, how one
operation is timed (plain or traced), and how outputs are checked.

Every call goes through the engine's public surface: registry query
functions, `streaming.pipeline`, `streaming.incremental_dedup`, and the
persist-once builders of `operators.dedup`, `operators.corpus_ops` and
`operators.text`.
"""

from __future__ import annotations

import hashlib
import json
import os
import pickle
import shutil
import time
from contextlib import nullcontext

from gen import PROPS
from tracing import covered, dir_stats, job_ids, job_stats

# Reference pipeline queries and their time-series and TPC-H-style
# generalisations over events/orders/lineitem, then LLM-data operators over
# the corpus. Every one has a DuckDB oracle.
QUERY_MIX = (
    "q_window_join", "q_window_fallback", "q_filter_between", "q_null_routing",
    "q_ohlc_bars",
    "q_dedup_ngram_jaccard", "q_dedup_clusters", "q_corpus_dedup",
    "q_cosine_topk", "q_bm25_rank",
)
# the dedup path takes longest, so it starts first
STREAM_PATHS = ("incremental_dedup", "window_avg", "session_windows", "interval_join")
EVENT_FILES_PER_TRIGGER = PROPS["stream_ingest"]["event_files_per_trigger"]
DOC_FILES_PER_TRIGGER = PROPS["stream_ingest"]["doc_files_per_trigger"]


def _clear_group(spark) -> None:
    spark.sparkContext._jsc.clearJobGroup()


class BatchWorkload:
    """Registry queries, each run from `fn()` through the noop sink."""

    def __init__(self, spark, registry, data: str, names: tuple[str, ...]):
        self.spark, self.registry, self.data, self.ops = spark, registry, data, names

    def run_pass(self, pass_no: int, tracer, op_ids) -> list[dict]:
        """Each query in turn; one that raises is recorded and skipped."""
        recs = []
        for name in self.ops:
            try:
                rec = self.run(name, tracer, next(op_ids))
                rec["ok"] = True
            except Exception as exc:  # noqa: BLE001 - counted as failed
                rec = {"name": name, "ok": False, "error": str(exc)[:500]}
            recs.append(rec)
        return recs

    def run(self, name: str, tracer=None, op_id: int = 0) -> dict:
        spec = self.registry[name]
        if tracer is None:
            t0 = time.perf_counter()
            spec.fn(self.spark, self.data).write.format("noop").mode("overwrite").save()
            return {"name": name, "wall_s": time.perf_counter() - t0}

        spark = self.spark
        group = f"perfbench-op-{op_id}"
        spark.sparkContext.setJobGroup(group, name)
        try:
            with tracer.span("query", op=op_id, query=name) as q:
                with tracer.span("build", op=op_id) as b:
                    df = spec.fn(spark, self.data)
                build_ids = job_ids(spark, group)
                with tracer.span("plan", op=op_id) as p:
                    plan = df._jdf.queryExecution().executedPlan()
                with tracer.span("execute", op=op_id) as e:
                    df.write.format("noop").mode("overwrite").save()
        finally:
            _clear_group(spark)
        scans = plan.toString().count("FileScan ")
        ids = job_ids(spark, group)
        stats = job_stats(spark, ids)
        build_jobs = [iv for jid, iv in stats["job_intervals"].items() if jid in build_ids]
        build_job_s = covered(build_jobs, b["start"], b["end"])
        exec_wall = (e["end"] - e["start"]) + build_job_s
        stage_iv = stats["stage_intervals"]
        busy = covered(stage_iv, e["start"], e["end"]) + covered(stage_iv, b["start"], b["end"])
        return {
            "name": name,
            "wall_s": q["end"] - q["start"],
            "build_s": (b["end"] - b["start"]) - build_job_s,
            "build_jobs": len(build_ids),
            "plan_s": p["end"] - p["start"],
            "exec_wall_s": exec_wall,
            "gap_s": max(exec_wall - busy, 0.0),
            "scans": scans,
            **{k: v for k, v in stats.items() if not k.endswith("_intervals")},
        }

    def check(self, oracle_dir: str) -> dict:
        """Untimed: every query against its DuckDB oracle on the generated
        inputs, via the engine's own comparison. DuckDB answers depend only
        on the inputs and the SQL, so they are kept beside the inputs."""
        import duckdb

        from bitcoinminingetl_spark.oracle_check import check_one

        con = duckdb.connect()
        for f in sorted(os.listdir(self.data)):
            if f.endswith(".parquet"):
                con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM '{self.data}/{f}'")
        os.makedirs(oracle_dir, exist_ok=True)
        out = {}
        for name in self.ops:
            sql = self.registry[name].oracle
            path = os.path.join(oracle_dir, hashlib.sha1(sql.encode()).hexdigest() + ".pkl")
            memo = {sql: None}
            if os.path.exists(path):
                with open(path, "rb") as fh:
                    memo[sql] = pickle.load(fh)
            rec = check_one(self.spark, con, self.registry[name], self.data, memo)
            if rec["status"] == "match" and not os.path.exists(path):
                with open(path, "wb") as fh:
                    pickle.dump(memo[sql], fh)
            out[name] = rec
        con.close()
        return out


def _progress(q) -> list[dict]:
    return [json.loads(p.json) if hasattr(p, "json") else dict(p) for p in q.recentProgress]


class StreamWorkload:
    """Four streaming paths over one landed backlog, running side by side
    as one ingest service runs its queries. Each pass drains them with
    AvailableNow from fresh checkpoint and output directories. The dedup
    index is bootstrapped once, in the first pass, as a service builds it
    once before streaming; each pass streams into a fresh copy of it."""

    def __init__(self, spark, data: str, work: str):
        self.spark, self.data, self.work = spark, data, work
        self.ops = STREAM_PATHS
        self.events = os.path.join(data, "landing_events")
        self.docs = os.path.join(data, "landing_docs")
        self.outputs: dict[str, list[str]] = {p: [] for p in STREAM_PATHS}
        self.pass_exec: dict[int, dict] = {}  # traced passes: drain wall and gap
        self.index = os.path.join(work, "bootstrap-index")
        self.bootstrap_s = 0.0

    def _start(self, name: str, d: str, stage_times: dict):
        from pyspark.sql import functions as F

        from bitcoinminingetl_spark.catalog import table
        from bitcoinminingetl_spark.streaming import incremental_dedup as inc
        from bitcoinminingetl_spark.streaming import pipeline as pl

        spark, out, ckpt = self.spark, f"{d}/out", f"{d}/ckpt"
        if name == "incremental_dedup":
            if not os.path.exists(self.index):
                t0 = time.perf_counter()
                docs = table(spark, self.data, "documents").select("doc_id", "text")
                inc.build_corpus_index(docs, self.index)
                self.bootstrap_s = time.perf_counter() - t0
            shutil.copytree(self.index, f"{d}/index")
            stream = inc.read_doc_stream(spark, self.docs, DOC_FILES_PER_TRIGGER)
            return inc.run_incremental_dedup(
                spark, stream, f"{d}/index", out, ckpt, stage_times=stage_times
            )
        events = pl.read_event_stream(spark, self.events, EVENT_FILES_PER_TRIGGER)
        if name == "window_avg":
            return pl.run_to_parquet(pl.windowed_metric_averages(events), out, ckpt)
        if name == "session_windows":
            return pl.run_to_parquet(pl.session_windows(events), out, ckpt, output_mode="append")
        clicks = events.filter(F.col("event_type") == "click")
        views = events.filter(F.col("event_type") == "view")
        return (
            pl.stream_stream_interval_join(clicks, views)
            .writeStream.outputMode("append")
            .format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )

    def run_pass(self, pass_no: int, tracer, op_ids) -> list[dict]:
        """Start every path, then wait until all have drained. Each path's
        wall time runs from its start to its own termination."""
        spark = self.spark
        base = os.path.join(self.work, f"pass{pass_no:03d}")
        group = f"perfbench-pass-{pass_no}"
        recs, queries = [], {}
        if tracer is not None:
            spark.sparkContext.setJobGroup(group, "stream pass")
        try:
            with tracer.span("drain", pass_no=pass_no) if tracer else nullcontext() as span:
                for name in self.ops:
                    rec = {"name": name, "op": next(op_ids), "ok": True, "stage_times": {},
                           "t0": time.perf_counter()}
                    recs.append(rec)
                    try:
                        queries[name] = self._start(name, f"{base}/{name}", rec["stage_times"])
                    except Exception as exc:  # noqa: BLE001 - counted as failed
                        rec.update(ok=False, error=str(exc)[:500])
                # block until a query ends rather than poll, so waiting costs
                # no CPU in either process
                running = dict(queries)
                while running:
                    try:
                        spark.streams.awaitAnyTermination()
                    except Exception:  # noqa: BLE001 - q.exception() reports it below
                        pass
                    now = time.perf_counter()
                    spark.streams.resetTerminated()
                    for name, q in list(running.items()):
                        if not q.isActive:
                            rec = next(r for r in recs if r["name"] == name)
                            rec["wall_s"] = now - rec["t0"]
                            del running[name]
        finally:
            if tracer is not None:
                _clear_group(spark)
        stage_iv = []
        for rec in recs:
            q = queries.get(rec["name"])
            if q is None:
                continue
            if q.exception() is not None:
                rec.update(ok=False, error=str(q.exception())[:500])
                continue
            d = f"{base}/{rec['name']}"
            self.outputs[rec["name"]].append(f"{d}/out")
            rec["progress"] = _progress(q)
            if tracer is not None:
                stats = job_stats(spark, job_ids(spark, str(q.runId)))
                stage_iv += stats["stage_intervals"]
                rec.update({k: v for k, v in stats.items() if not k.endswith("_intervals")})
                src = self.docs if rec["name"] == "incremental_dedup" else self.events
                rec["input_bytes"] = dir_stats(src)[1]
                rec["sink_files"], rec["sink_bytes"] = dir_stats(f"{d}/out")
                rec["checkpoint_bytes"] = dir_stats(f"{d}/ckpt")[1]
        if tracer is not None:
            # in the first pass the index bootstrap runs on this thread, under
            # the pass's group
            boot = job_stats(spark, job_ids(spark, group))
            stage_iv += boot["stage_intervals"]
            inc = next(r for r in recs if r["name"] == "incremental_dedup")
            for k, v in boot.items():
                if not k.endswith("_intervals") and k in inc:
                    inc[k] += v
            wall = span["end"] - span["start"]
            self.pass_exec[pass_no] = {
                "wall_s": wall,
                "gap_s": wall - covered(stage_iv, span["start"], span["end"]),
            }
        return recs

    def check(self, oracle_dir: str) -> dict:
        """Untimed: each path's output is non-empty and has the same row
        count on every pass."""
        out = {}
        for name, dirs in self.outputs.items():
            counts = [self.spark.read.parquet(p).count() for p in dirs]
            ok = bool(counts) and counts[0] > 0 and len(set(counts)) == 1
            out[name] = {"status": "rows_stable" if ok else "rows_unstable", "rows": counts}
        return out


def landed_rows(data: str) -> dict[str, int]:
    """Input rows each path reads from the backlog."""
    def lines(d):
        return sum(
            sum(1 for _ in open(os.path.join(d, f), encoding="utf-8"))
            for f in os.listdir(d)
        )

    ev = lines(os.path.join(data, "landing_events"))
    return {
        "window_avg": ev,
        "session_windows": ev,
        "interval_join": ev,
        "incremental_dedup": lines(os.path.join(data, "landing_docs")),
    }

