"""Benchmark of the engine: one workload, one seed, one closed-loop run.

    python3 perfbench/run.py --workload query_mix --seed 1 --seconds 10 --trace 0

Run from the root of a source tree that holds `bitcoinminingetl_spark/`.
The run generates its inputs from the seed (cached under `.bench_work/`),
sets up a Spark session, then drives the workload from one thread: each
operation starts after the previous one completes, on local[<cores>]. The
first pass is reported alone; warm passes follow until `--seconds` have
passed (at least one, or two untraced plus two traced with `--trace 1`).
Outputs are then checked, untimed: batch queries against their DuckDB
oracles, streaming outputs for non-empty, pass-stable row counts.

The gated timings are CPU seconds of the Python driver, the JVM and their
child processes: on a host whose free CPU varies, wall-clock time varies
with it, and CPU time much less. `setup_s` is the CPU cost of the run's
cold set-up (JVM launch, registry load, warm-up). Wall-clock figures are
printed on an info line and reported as per-layer `wall.*` metrics.

The last line of stdout is one JSON object with `correct`, `attempted`,
`failed` and `metrics`: the end-to-end metrics of BENCHMARK.json with
`--trace 0`, its per-layer metrics with `--trace 1`. A full record (stamp,
per-pass and per-operation figures, checks, and with `--trace 1` the spans)
is written to `.bench_work/results/`. See perfbench/NOTES.md for every
metric.
"""

import argparse
import hashlib
import itertools
import json
import os
import shlex
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_work")
WORKLOADS = ("query_mix", "stream_ingest")
MAX_WALL_S = 100.0  # stop adding warm passes past this, whatever --seconds says
# The engine defaults the driver to 8g. 2g keeps a run small on a host whose
# memory other work shares, and holds both workloads (peak RSS about 1.7 GB
# with the Python driver). peak_rss_mb is measured under this cap, so a
# driver-memory regression past it shows as exec.gc_s or a failed run.
DRIVER_MEM = "2g"
# Under G1 the driver JVM's peak RSS varied by up to +-18% between runs of
# the same work, following which heap regions the collector touched; with
# the parallel collector it varies by about 7%, at a similar GC time.
JVM_GC = "-XX:+UseParallelGC"

# per-operation fields summed per pass into the build/plan/exec metrics
_PASS_SUMS = {
    "build.driver_s": "build_s",
    "build.jobs": "build_jobs",
    "plan.physical_s": "plan_s",
    "exec.wall_s": "exec_wall_s",
    "exec.task_s": "task_s",
    "exec.cpu_s": "cpu_s",
    "exec.gc_s": "gc_s",
    "exec.jobs": "jobs",
    "exec.stages": "stages",
    "exec.tasks": "tasks",
    "exec.shuffle_read_mb": "shuffle_read_mb",
    "exec.shuffle_write_mb": "shuffle_write_mb",
    "exec.spill_mb": "spill_mb",
    "exec.gap_s": "gap_s",
}


def _args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cores", type=int, default=len(os.sched_getaffinity(0)))
    return ap.parse_args(argv)


def _metric_units() -> tuple[dict, dict]:
    """End-to-end and per-layer metric names and units, from BENCHMARK.json."""
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        spec = json.load(fh)
    return tuple({m["name"]: m["unit"] for m in spec[k]} for k in ("end_to_end", "per_layer"))


def _med(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def _pct(xs, q: float) -> float:
    import numpy as np

    return float(np.percentile(xs, q)) if len(xs) else 0.0


def _environment(cores: int) -> None:
    """Keep every file the run writes inside the checkout."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["PYSPARK_PYTHON"] = sys.executable
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData {JVM_GC}"
    warehouse = os.path.join(WORK, "warehouse")
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options {shlex.quote(java_opts)} "
        f"--conf {shlex.quote('spark.sql.warehouse.dir=' + warehouse)} "
        "--conf spark.ui.showConsoleProgress=false pyspark-shell"
    )


def _warm_up(spark) -> None:
    """First use of codegen, shuffle, Arrow and MLlib, on a tiny in-memory
    frame."""
    import pandas as pd
    from pyspark.ml.feature import VectorAssembler
    from pyspark.sql import functions as F

    df = spark.range(2000).select(
        (F.col("id") % 7).alias("k"), F.col("id").cast("double").alias("v")
    )
    df.groupBy("k").agg(F.avg("v")).collect()
    spark.createDataFrame(pd.DataFrame({"k": [1, 2], "v": [0.5, 1.5]})).toPandas()
    VectorAssembler(inputCols=["v"], outputCol="f").transform(df).limit(1).collect()


def _setup():
    """get_spark + load_all + warm-up; returns (spark, registry, timings)."""
    from tracing import tree_cpu_s

    cpu0 = tree_cpu_s()
    t0 = time.perf_counter()
    from bitcoinminingetl_spark.session import get_spark

    spark = get_spark(app_name="perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    t1 = time.perf_counter()
    from bitcoinminingetl_spark.registry import load_all

    registry = load_all()
    t2 = time.perf_counter()
    _warm_up(spark)
    t3 = time.perf_counter()
    return spark, registry, {
        "get_spark_s": t1 - t0, "load_all_s": t2 - t1, "warm_up_s": t3 - t2, "total_s": t3 - t0,
        "cpu_s": tree_cpu_s() - cpu0,
    }


def _cache_snapshot() -> dict:
    from bitcoinminingetl_spark.functions import cache

    return {(i, k): df for i, c in enumerate(cache._ALL_CACHES) for k, df in c.items()}


def _cache_changes(before: dict, after: dict) -> int:
    return sum(1 for k, df in after.items() if before.get(k) is not df)


def _run_pass(wl, pass_no: int, tracer, op_ids) -> dict:
    from tracing import tree_cpu_s

    cpu0 = tree_cpu_s()
    t0 = time.perf_counter()
    ops = wl.run_pass(pass_no, tracer, op_ids)
    wall = time.perf_counter() - t0
    cpu = tree_cpu_s() - cpu0
    for o in ops:
        if not o["ok"]:
            print(f"perfbench: {o['name']} failed: {o['error']}", file=sys.stderr)
    return {"pass": pass_no, "traced": tracer is not None, "wall_s": wall, "cpu_s": cpu, "ops": ops}


def _bench(wl, seconds: float, tracer, t_process: float) -> tuple[list[dict], dict]:
    """First pass, then warm passes until `seconds` have passed. With a
    tracer, warm passes are traced and untraced in equal numbers."""
    from contextlib import nullcontext

    op_ids = itertools.count()
    min_warm = 4 if tracer else 1
    # past MAX_WALL_S a traced run stops once it has one pass of each kind
    min_warm_late = 2 if tracer else 1
    passes = []
    before = _cache_snapshot()
    t0 = time.perf_counter()
    for i in itertools.count():
        # traced, untraced, untraced, traced: warm-up drift between passes
        # cancels in trace.overhead_share
        traced = tracer is not None and i % 4 in (0, 1)
        with tracer.span("pass", pass_no=i) if traced else nullcontext():
            passes.append(_run_pass(wl, i, tracer if traced else None, op_ids))
        after = _cache_snapshot()
        passes[-1]["cache_changes"] = _cache_changes(before, after)
        before = after
        now = time.perf_counter()
        if i >= min_warm and now - t0 >= seconds:
            break
        if i >= min_warm_late and now - t_process >= MAX_WALL_S:
            break
    cache = {
        "relations_built": passes[0]["cache_changes"],
        "rebuilds_warm": sum(p["cache_changes"] for p in passes[1:]),
    }
    return passes, cache


def _stream_layers(wl, warm: list[dict], traced: list[dict], checks: dict, data: str) -> dict:
    from workloads import landed_rows

    rows = landed_rows(data)
    batches = [b for p in warm for o in p["ops"] for b in o.get("progress", [])]
    dur = lambda b, *ks: sum(b["durationMs"].get(k, 0) for k in ks)  # noqa: E731
    state = lambda b, k: sum(s.get(k, 0) for s in b.get("stateOperators", []))  # noqa: E731
    per_pass = lambda f: _med(f(p) for p in warm)  # noqa: E731
    op_of = lambda p, n: next(o for o in p["ops"] if o["name"] == n)  # noqa: E731
    inc = [op_of(p, "incremental_dedup")["stage_times"] for p in warm]
    accepted = checks["incremental_dedup"]["rows"][0]
    return {
        "stream.batches": per_pass(lambda p: sum(len(o.get("progress", [])) for o in p["ops"])),
        "stream.batch_p50_ms": _pct([dur(b, "triggerExecution") for b in batches], 50),
        "stream.batch_p90_ms": _pct([dur(b, "triggerExecution") for b in batches], 90),
        "stream.rows_per_s": per_pass(lambda p: sum(rows.values()) / p["wall_s"]),
        # the paths drain side by side: execution wall is the pass's drain
        "exec.wall_s": _med(wl.pass_exec[p["pass"]]["wall_s"] for p in traced),
        "exec.gap_s": _med(wl.pass_exec[p["pass"]]["gap_s"] for p in traced),
        "stream.add_batch_ms": _med(dur(b, "addBatch") for b in batches),
        "stream.planning_ms": _med(dur(b, "queryPlanning") for b in batches),
        "stream.commit_ms": _med(dur(b, "walCommit", "commitOffsets") for b in batches),
        "stream.source_ms": _med(dur(b, "latestOffset", "getBatch") for b in batches),
        "stream.state_rows": per_pass(lambda p: max(
            state(b, "numRowsTotal") for o in p["ops"] for b in o.get("progress", []))),
        "stream.state_mb": per_pass(lambda p: max(
            state(b, "memoryUsedBytes") for o in p["ops"] for b in o.get("progress", []))) / 2**20,
        "stream.state_commit_ms": _med(state(b, "commitTimeMs") for b in batches),
        "stream.late_rows_dropped": per_pass(lambda p: sum(
            state(b, "numRowsDroppedByWatermark") for o in p["ops"] for b in o.get("progress", []))),
        "stream.checkpoint_mb": _med(
            sum(o["checkpoint_bytes"] for o in p["ops"]) for p in traced) / 2**20,
        "incdedup.bootstrap_s": wl.bootstrap_s,
        "incdedup.verify_write_s": _med(
            sum(b.get("dedup_and_accept_write_s", 0.0) for b in s["batches"]) for s in inc),
        "incdedup.index_write_s": _med(
            sum(b.get("index_increment_s", 0.0) for b in s["batches"]) for s in inc),
        "incdedup.accept_ratio": accepted / rows["incremental_dedup"],
        "sink.files": _med(sum(o["sink_files"] for o in p["ops"]) for p in traced),
        "sink.bytes_per_input_byte": _med(
            sum(o["sink_bytes"] for o in p["ops"]) / sum(o["input_bytes"] for o in p["ops"])
            for p in traced),
    }


def _catalog_probes(spark, data: str) -> dict:
    """Median wall time of one call to each public catalog function."""
    from bitcoinminingetl_spark import catalog

    tables = sorted(f[:-8] for f in os.listdir(data) if f.endswith(".parquet"))
    table_ms = []
    for t in tables:
        t0 = time.perf_counter()
        catalog.table(spark, data, t)
        table_ms.append((time.perf_counter() - t0) * 1000)
    range_ms = []
    if "events" in tables:
        for day in (5, 10, 15):
            t0 = time.perf_counter()
            catalog.events_in_range(spark, data, f"2024-01-{day:02d} 00:00:00", f"2024-01-{day + 5:02d} 00:00:00")
            range_ms.append((time.perf_counter() - t0) * 1000)
    return {"catalog.table_ms": _med(table_ms), "catalog.events_in_range_ms": _med(range_ms)}


def _cache_probes(spark, data: str) -> tuple[dict, dict]:
    """Cold build time of each shared relation through its public builder,
    plus the pair-stack counts. Runs after timing: it drops every cached
    relation first."""
    from bitcoinminingetl_spark.functions.cache import unpersist_all
    from bitcoinminingetl_spark.operators import corpus_ops, dedup, text

    builders = {
        "shingle_index": dedup.shingle_index,
        "shingle_sets": dedup.shingle_sets,
        "pair_overlaps": dedup.pair_overlaps,
        "normed_embeddings": dedup.normed_embeddings,
        "span_grams": corpus_ops.span_grams,
        "bm25_tf": text.bm25_tf,
    }
    unpersist_all()
    build = {}
    for name, fn in builders.items():
        t0 = time.perf_counter()
        fn(spark, data).count()
        build[name] = time.perf_counter() - t0
    overlaps = dedup.pair_overlaps(spark, data)
    cand = overlaps.count()
    near = dedup.near_dup_pairs(overlaps).count()
    return {
        "cache.build_s": sum(build.values()),
        "dedup.candidate_pairs": cand,
        "dedup.near_dup_pairs": near,
        "dedup.pair_yield": near / cand if cand else 0.0,
        "dedup.pair_overlaps_s": build["pair_overlaps"],
    }, build


def _layers(args, wl, passes, cache, setup, checks, data, spark, names) -> tuple[dict, dict]:
    from tracing import storage_mb

    warm = passes[1:]
    traced = [p for p in warm if p["traced"]]
    untraced = [p for p in warm if not p["traced"]]
    m = dict.fromkeys(names, 0.0)
    m["session.get_spark_s"] = setup["get_spark_s"]
    m["registry.load_all_s"] = setup["load_all_s"]
    for metric, field in _PASS_SUMS.items():
        m[metric] = _med(sum(o.get(field, 0) for o in p["ops"] if o["ok"]) for p in traced)
    traced_pass_s = _med(p["wall_s"] for p in traced)
    m["build.share"] = m["build.driver_s"] / traced_pass_s
    scans = [o["scans"] for p in traced for o in p["ops"] if "scans" in o]
    m["catalog.scans_per_query"] = statistics.fmean(scans) if scans else 0.0
    m["cache.relations_built"] = cache["relations_built"]
    m["cache.rebuilds_warm"] = cache["rebuilds_warm"]
    m["cache.storage_mb"] = storage_mb(spark)
    m["trace.overhead_share"] = traced_pass_s / _med(p["wall_s"] for p in untraced) - 1.0
    m.update(_catalog_probes(spark, data))
    extra = {}
    if args.workload == "query_mix":
        probes, extra["cache_build_s"] = _cache_probes(spark, data)
        m.update(probes)
        # share of each traced query's wall that build + plan + execute cover
        extra["accounted_share"] = _med(
            (o["build_s"] + o["plan_s"] + o["exec_wall_s"]) / o["wall_s"]
            for p in traced for o in p["ops"] if o["ok"])
    if args.workload == "stream_ingest":
        m.update(_stream_layers(wl, warm, traced, checks, data))
    m["exec.core_busy_ratio"] = m["exec.task_s"] / (m["exec.wall_s"] * args.cores)
    return m, extra


def _cpu_ticks() -> list[int]:
    with open("/proc/stat", encoding="ascii") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def _steal_share(a: list[int], b: list[int]) -> float:
    """Share of host CPU time stolen by other guests while timing ran."""
    d = [y - x for x, y in zip(a, b)]
    return d[7] / sum(d) if len(d) > 7 and sum(d) else 0.0


def _engine_digest() -> str:
    h = hashlib.sha1()
    pkg = os.path.join(ROOT, "bitcoinminingetl_spark")
    for d, _, names in sorted(os.walk(pkg)):
        for n in sorted(names):
            if n.endswith(".py"):
                with open(os.path.join(d, n), "rb") as fh:
                    h.update(n.encode() + fh.read())
    return h.hexdigest()[:12]


def _stop(spark) -> None:
    """Stop Spark and wait for the JVM to exit."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    proc = gateway.proc
    if proc.stdin is not None:
        proc.stdin.close()
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def main(argv=None) -> int:
    t_process = time.perf_counter()
    args = _args(argv)
    if not os.path.isfile(os.path.join(ROOT, "bitcoinminingetl_spark", "registry.py")):
        print(f"perfbench: no engine source under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    _environment(args.cores)
    end_to_end, per_layer = _metric_units()

    import gen
    from tracing import Tracer, peak_rss_mb
    from workloads import QUERY_MIX, BatchWorkload, StreamWorkload

    data = gen.generate(args.workload, args.seed, os.path.join(WORK, "inputs"))
    run_dir = os.path.join(WORK, "runs", f"{args.workload}-s{args.seed}-{os.getpid()}")

    spark, registry, setup = _setup()

    if args.workload == "stream_ingest":
        wl = StreamWorkload(spark, data, run_dir)
    else:
        wl = BatchWorkload(spark, registry, data, QUERY_MIX)

    tracer = Tracer() if args.trace else None
    cpu0 = _cpu_ticks()
    passes, cache = _bench(wl, args.seconds, tracer, t_process)
    cpu1 = _cpu_ticks()
    rss_jvm, rss_py = peak_rss_mb(spark)  # before the checks, which collect and run DuckDB
    checks = wl.check(os.path.join(data, "oracle"))

    attempted = sum(len(p["ops"]) for p in passes)
    failed = sum(1 for p in passes for o in p["ops"] if not o["ok"])
    bad_checks = sorted(n for n, r in checks.items() if r["status"] not in ("match", "rows_stable"))
    failed += len(bad_checks)
    for n in bad_checks:
        print(f"perfbench: check failed for {n}: {checks[n]}", file=sys.stderr)

    layers, extra = ({}, {})
    if args.trace:
        layers, extra = _layers(args, wl, passes, cache, setup, checks, data, spark, per_layer)
    _stop(spark)
    shutil.rmtree(run_dir, ignore_errors=True)

    warm = [p for p in passes[1:] if not p["traced"]]
    op_walls = [o["wall_s"] for p in warm for o in p["ops"] if o["ok"]]
    e2e = {
        "setup_s": setup["cpu_s"],
        "first_pass_cpu_s": passes[0]["cpu_s"],
        "pass_cpu_s": _med(p["cpu_s"] for p in warm),
        "peak_rss_mb": rss_jvm + rss_py,
    }
    # wall-clock figures follow the host's free CPU; reported, not gated
    wall = {
        "wall.setup_s": setup["total_s"],
        "wall.first_pass_s": passes[0]["wall_s"],
        "wall.pass_s": _med(p["wall_s"] for p in warm),
        "wall.query_p50_s": _pct(op_walls, 50),
        "wall.query_p90_s": _pct(op_walls, 90),
    }
    if args.trace:
        layers.update(wall)

    import pyspark

    stamp = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "cpus": args.cores, "generator_version": gen.GEN_VERSION,
        "input_props": gen.PROPS[args.workload], "spark_version": pyspark.__version__,
        "engine_sha": _engine_digest(), "ops_per_pass": len(wl.ops),
        "query_samples": len(op_walls), "warm_passes": len(warm),
        "host_steal_share": _steal_share(cpu0, cpu1),
        "peak_rss_jvm_mb": rss_jvm, "peak_rss_python_mb": rss_py,
    }
    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    base = os.path.join(WORK, "results", f"{args.workload}-s{args.seed}-t{args.trace}-c{args.cores}")
    record = {
        "stamp": stamp, "setup": setup, "end_to_end": e2e, "wall": wall, "per_layer": layers,
        "failed_share": failed / attempted, "checks": checks, "passes": passes,
        "cache": cache, **extra,
    }
    with open(base + ".json", "w", encoding="utf-8") as fh:
        json.dump(record, fh, indent=1, default=str)
    if tracer is not None:
        tracer.write(base + ".spans.json")

    chosen, units = (layers, per_layer) if args.trace else (e2e, end_to_end)
    print("perfbench: " + json.dumps(stamp))
    print("perfbench: wall-clock " + json.dumps(wall))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": chosen[k], "unit": units[k]} for k in units},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
