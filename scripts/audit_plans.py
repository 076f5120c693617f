"""Whole-registry physical-plan audit: grep every registered query's
executed plan for scale anti-patterns and fail loudly on new ones.

Each query is EXECUTED (collect) before its plan is read, so under AQE
the audit sees the FINAL adaptive plan (isFinalPlan=true): runtime
SMJ->broadcast conversions, broadcast demotions, and skew splits are all
visible — the plan that actually ran, not the initial static guess.

What counts as an anti-pattern (and the allowed exceptions):
- CartesianProduct           — never acceptable; none exist today.
- BatchEvalPython / row UDFs — only the UDTF demo (q_python_udtf) may
  evaluate Python per row: demonstrating that escape hatch IS the query.
- SortMergeJoin              — allowed only where both sides are genuinely
  fact-sized (full-outer window join, bloom-join probe); a SMJ against a
  dimension means a broadcast was missed.
- BroadcastNestedLoopJoin    — allowed only for tiny-side literal/stat
  relations (1-row aggregates, centroid tables, offset maps). This is
  ASSERTED, not eyeballed (r11 VERDICT item 2): every BNLJ's broadcast
  side must measure <= BNLJ_BUILD_ROWS_MAX rows (read from the
  BroadcastExchange's numOutputRows runtime metric in the executed
  plan), so a build side growing to fact scale fails the audit instead
  of riding a human-review list.

Run: python scripts/audit_plans.py   (exit 1 on violations)
"""

from __future__ import annotations

import os
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")

# Queries that execute a real streaming lifecycle when built — auditing
# them would run the stream; their plans are covered by the streaming
# tests instead.
LIFECYCLE = {
    "q_streaming_window_avg",
    "q_streaming_sessionize",
    "q_streaming_incremental_dedup",
    "q_streaming_interval_join",
    "q_streaming_interval_join_outer",
}

# The one sanctioned per-row Python eval: the UDTF escape-hatch demo.
ROW_PYTHON_OK = {"q_python_udtf"}

# SMJ allowed where both join sides are fact-sized by construction —
# q_funnel_stages joins |users|-cardinality stage aggregates that share
# one user_id partitioning (SMJ reuses the exchange; broadcasting a
# per-user relation would not scale, and AQE's runtime demotion of the
# sparse purchase stage is exactly that call made with real sizes).
# q_bigram_logprob's doc⋈transition join is fact⋈model on the salted
# key: at corpus scale the |bigram vocab| model side exceeds any
# broadcast threshold, so the head-salted shuffle equi-join IS the
# intended plan; AQE picking it at test scale matches.
# q_snapshot_diff full-outer joins two VERSIONS of the same fact table —
# both sides are fact-sized by construction and full-outer cannot
# broadcast; the single SMJ on the key is the intended (and only) plan.
SMJ_OK = {
    "q_window_join",
    "q_join_full",
    "q_join_bloom",
    "q_funnel_stages",
    "q_bigram_logprob",
    "q_snapshot_diff",
    # the CCNet pair attaches lang to the bigram-LM scores: scored docs
    # ⋈ (doc_id, lang) — both corpus-sized id relations, broadcast
    # impossible at scale; the doc_id-keyed SMJ is the intended plan
    # (the boundary relation in the approx twin IS broadcast).
    "q_ccnet_buckets",
    "q_ccnet_buckets_approx",
    # q_semdedup's within-cell pair stage self-joins the corpus on the
    # (cell, sub-split) block key — both sides fact-sized, broadcast
    # impossible; the blocked SMJ/shuffle join IS the plan, with the
    # cluster-size cap bounding per-block fan-out.
    "q_semdedup",
    # q_cluster_keywords joins docs⋈cell-assignments (both corpus-sized
    # id relations) and cell-token⋈token-total (both vocab-sized):
    # neither side is a broadcastable dim at corpus scale, so the keyed
    # SMJ/shuffle joins are the intended plans.
    "q_cluster_keywords",
    # same join topology with the deterministic quantizer swapped in:
    # the docs⋈cells and cell-token⋈token-total joins carry the same
    # both-sides-fact/vocab-sized argument as the KMeans twin above.
    "q_cluster_keywords_ivf",
    # adapted Q21: the NOT EXISTS decorrelates to a LEFT ANTI between
    # two slices of the late-line relation — both fact-sized by
    # construction (lineitem-derived), broadcast impossible at scale;
    # the order-keyed SMJ is the intended plan and shares its exchange
    # with the probe side.
    "q_tpch_waiting_suppliers",
}


# Hard ceiling on a sanctioned BNLJ broadcast side. Every carrier today
# is a 1-row aggregate or a <=32-row centroid/offset/boundary table —
# relations whose size is a CONSTANT of the plan (k, bucket count, a
# scalar), not a function of the corpus. 64 gives those constants 2x
# headroom while sitting orders of magnitude below anything data-sized;
# a carrier that needs more is by definition no longer a tiny-side
# literal/stat relation and must be redesigned (equi-join or re-keyed
# broadcast hash join), not waved through by raising this.
BNLJ_BUILD_ROWS_MAX = 64


def _plan_nodes(node):
    """Yield every SparkPlan node, descending through the AQE wrappers:
    AdaptiveSparkPlanExec -> its final executedPlan, QueryStageExec ->
    its materialized plan, ReusedExchangeExec -> the original exchange —
    AND through each node's expression subqueries (r13 ADVICE low: the
    r13 move from treeString grepping to node traversal silently lost
    the innerChildren the printed tree included, so a CartesianProduct
    or BatchEvalPython inside a scalar/IN subquery — which DOES execute
    at runtime, unlike cached InMemoryTableScan lineage — escaped all
    four checks; `subqueries()` restores exactly that runtime surface
    without re-admitting cached lineage)."""
    cls = node.getClass().getSimpleName()
    if cls == "AdaptiveSparkPlanExec":
        yield from _plan_nodes(node.executedPlan())
        return
    yield node
    subs = node.subqueries()
    for i in range(subs.size()):
        yield from _plan_nodes(subs.apply(i))
    if cls.endswith("QueryStageExec"):
        yield from _plan_nodes(node.plan())
        return
    if cls == "ReusedExchangeExec":
        yield from _plan_nodes(node.child())
        return
    children = node.children()
    for i in range(children.size()):
        yield from _plan_nodes(children.apply(i))


def bnlj_build_rows(df) -> list[int]:
    """Measured broadcast-side row counts of every
    BroadcastNestedLoopJoin in df's EXECUTED plan — the caller must have
    executed the query first, because the counts come from the build
    side's BroadcastExchange numOutputRows runtime metric (the rows that
    were ACTUALLY broadcast, not an estimate). One entry per BNLJ node
    in tree order; -1 when no exchange was found under the build side
    (unmeasurable == not sanctioned)."""
    counts: list[int] = []
    for node in _plan_nodes(df._jdf.queryExecution().executedPlan()):
        if node.getClass().getSimpleName() != "BroadcastNestedLoopJoinExec":
            continue
        side = 1 if node.buildSide().toString() == "BuildRight" else 0
        build = node.children().apply(side)
        rows = [
            int(n.metrics().apply("numOutputRows").value())
            for n in _plan_nodes(build)
            if n.getClass().getSimpleName() == "BroadcastExchangeExec"
        ]
        counts.append(rows[0] if rows else -1)
    return counts


def bnlj_violation(name: str, rows: list[int]) -> str | None:
    """The per-plan BNLJ verdict main() applies to bnlj_build_rows'
    measurements: None when every build side is within
    BNLJ_BUILD_ROWS_MAX, else the violation line."""
    bad = [r for r in rows if r < 0 or r > BNLJ_BUILD_ROWS_MAX]
    if bad:
        return (
            f"{name}: BroadcastNestedLoopJoin build side measured "
            f"{bad} rows (limit {BNLJ_BUILD_ROWS_MAX}; -1 = no "
            "measurable BroadcastExchange) — a BNLJ is sanctioned only "
            "for tiny literal/stat relations"
        )
    return None


def main() -> int:
    from bitcoinminingetl_spark.registry import load_all
    from bitcoinminingetl_spark.runner import run_query
    from bitcoinminingetl_spark.session import get_spark

    spark = get_spark(app_name="audit-plans", cpus=4, shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    reg = load_all()

    violations: list[str] = []
    bnlj_carriers: list[str] = []
    for name in sorted(reg):
        if name in LIFECYCLE:
            continue
        # Execute the query's own QueryExecution first: AQE finalizes the
        # adaptive plan only on execution, so reading executedPlan()
        # un-executed would audit the initial plan (isFinalPlan=false) and
        # miss runtime join demotions/promotions and skew splits.
        try:
            df, _, _ = run_query(spark, name, reg[name].fn, SF_DIR, "collect")
        except Exception as exc:  # noqa: BLE001 — audit must name the query
            violations.append(f"{name}: execution failed: {exc}")
            continue
        # Walk the FINAL adaptive nodes (the _plan_nodes traversal the
        # BNLJ assertion already uses) instead of grepping
        # executedPlan().toString(): under AQE that string also prints
        # every "== Initial Plan ==" section, so a static-guess SMJ that
        # AQE demoted to broadcast at runtime was flagged as if it had
        # executed (r13: the shared shingle_sets relation's accurate
        # cache statistics flipped three queries' INITIAL anti-join to
        # SMJ while their executed plans kept 0 SMJs / all broadcasts —
        # exactly the false positive this docstring says the audit
        # exists to avoid). Cached build subtrees under
        # InMemoryTableScan stay excluded: runtime serves the persisted
        # blocks, not the printed lineage.
        node_names = [
            n.getClass().getSimpleName()
            for n in _plan_nodes(df._jdf.queryExecution().executedPlan())
        ]
        if any(c.startswith("CartesianProduct") for c in node_names):
            violations.append(f"{name}: CartesianProduct")
        if (
            any(c.startswith("BatchEvalPython") for c in node_names)
            and name not in ROW_PYTHON_OK
        ):
            violations.append(f"{name}: row-at-a-time Python eval")
        if (
            any(c.startswith("SortMergeJoin") for c in node_names)
            and name not in SMJ_OK
        ):
            violations.append(f"{name}: unexpected SortMergeJoin")
        if any(c.startswith("BroadcastNestedLoopJoin") for c in node_names):
            # assert, don't list (r11 VERDICT item 2): the measured
            # broadcast rows ride in the carrier line for the record,
            # and any side over the ceiling is a hard violation
            rows = bnlj_build_rows(df)
            bnlj_carriers.append(f"{name}={rows}")
            err = bnlj_violation(name, rows)
            if err:
                violations.append(err)

    print(f"audited {len(reg) - len(LIFECYCLE)} plans at {SF_DIR}")
    print(
        f"BNLJ carriers (build rows asserted <= {BNLJ_BUILD_ROWS_MAX}):",
        " ".join(bnlj_carriers),
    )
    if violations:
        print("VIOLATIONS:")
        for v in violations:
            print(" -", v)
        return 1
    print("RESULT: OK")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
