"""Plan lint: sweep every queries() entry's PHYSICAL plan for scale
red flags.  Not a correctness gate — a perf review the same way
tests/test_plans.py is, but exhaustive instead of curated.

Flags:
- CartesianProduct           non-broadcast cross product (O(n*m) at scale)
- BroadcastNestedLoopJoin    flagged UNLESS its build side is
                             provably tiny AT ITS ROOT (below only
                             row-preserving nodes: a grouping-key-free,
                             i.e. 1-row, aggregate, a limit, a literal
                             table, or a BNLJ of tiny sides), or a
                             checkpoint scan whose row bound was
                             proven before the cut — the
                             scalar-crossJoin pattern is fine,
                             anything else is an O(n*m) bomb hiding
                             behind a broadcast
- Exchange rangepartitioning global sort shuffle (top-k should be
                             TakeOrderedAndProject; intended only for
                             explicitly-sorted sinks)
- BatchEvalPython            row-at-a-time Python UDF in the plan
                             (must be ArrowEvalPython / mapInPandas)
- DISTINCT-REWRITE-BUFFER    an object-buffer aggregate (percentile /
                             HLL / quantile sketch / collect_*)
                             evaluated inside a distinct-expand
                             partial aggregate — the count_distinct+
                             sketch-in-one-agg pathology (0.7→29 s on
                             agg_approx; split the distinct into its
                             own aggregation, see SCALING.md r6)
- exchanges=N                shuffle count, FYI ordering

Usage: python scripts/plan_lint.py [query ...]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from eggv_spark.session import get_session  # noqa: E402


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _walk(node):
    yield node
    kids = node.children()
    for i in range(kids.length()):
        yield from _walk(kids.apply(i))


def _plan_root(df):
    """Physical-plan root for node walks.  Under AQE the executedPlan
    root is an AdaptiveSparkPlan LEAF (zero children until execution
    materializes stages) — walking it visits nothing and every
    node-level check silently passes.  Walk the initial plan instead;
    it is the same tree the plan string renders."""
    root = df._jdf.queryExecution().executedPlan()
    if root.nodeName() == "AdaptiveSparkPlan":
        return root.initialPlan()
    return root


#: Largest proven row count of a tiny checkpoint-leaf build side.
CHECKPOINT_TINY_ROWS = 10_000


def _tiny_checkpoint_build(build) -> bool:
    """A build side that is ONE checkpoint scan, under projections
    and filters only, whose row count Catalyst proved before the cut:
    the LogicalRDD keeps the cut plan's statistics, whose rowCount is
    set for a keys=[] aggregate (1) or a limit (n), never for a
    data-sized frame."""
    nodes = list(_walk(build))
    names = [n.nodeName() for n in nodes]
    if names[0] != "BroadcastExchange" or names[-1] != "Scan ExistingRDD" \
            or set(names[1:-1]) - {"Project", "Filter"}:
        return False
    link = nodes[-1].logicalLink()
    rows = link.get().stats().rowCount() if link.isDefined() else None
    return bool(rows and rows.isDefined()) \
        and int(str(rows.get())) <= CHECKPOINT_TINY_ROWS


#: Physical nodes that never output more rows than their child gets:
#: a row bound proven below them holds above them.  (Codegen stages
#: print as ``WholeStageCodegen (<id>)``.)
_ROW_PRESERVING = {
    "Project", "Filter", "BroadcastExchange", "InputAdapter",
    "ColumnarToRow", "Sort",
}

#: Nodes whose output row count is bounded by the plan itself.
_BOUNDED = {"GlobalLimit", "CollectLimit", "TakeOrderedAndProject",
            "LocalTableScan"}


def _tiny_at_root(node) -> bool:
    """Walk down from ``node`` through row-preserving nodes; the first
    other node must bound the row count by itself: a grouping-key-free
    aggregate (keys=[] -> exactly one row; SortAggregate prints
    ``key=[]``), a limit, the fused sort+limit TakeOrderedAndProject,
    or a literal LocalTableScan.  A nested BNLJ is tiny when all of
    its children are.  Anything else — an explode, a join, a keyed
    aggregate — can multiply rows, whatever bounded node sits below
    it."""
    name = node.nodeName()
    while name in _ROW_PRESERVING or name.startswith("WholeStageCodegen"):
        node = node.children().apply(0)
        name = node.nodeName()
    if name in ("HashAggregate", "SortAggregate", "ObjectHashAggregate"):
        head = str(node.toString()).split("\n")[0]
        return "keys=[]" in head or "key=[]" in head
    if name == "BroadcastNestedLoopJoin":
        kids = node.children()
        return all(_tiny_at_root(kids.apply(i)) for i in range(kids.length()))
    return name in _BOUNDED


def unbounded_nested_loops(df) -> int:
    """Count BroadcastNestedLoopJoin nodes whose build side is NOT
    provably tiny (:func:`_tiny_at_root`, or a proven-tiny checkpoint
    leaf).  Tiny build sides are the legitimate scalar-crossJoin
    pattern (join a 1-row global statistic onto every row).  Any other
    BNLJ build side is unbounded at scale and gets flagged — this
    makes the previously by-inspection-only judgement mechanical."""
    bad = 0
    for node in _walk(_plan_root(df)):
        if node.nodeName() != "BroadcastNestedLoopJoin":
            continue
        kids = node.children()
        side = str(node.buildSide())
        build = kids.apply(1) if "Right" in side else kids.apply(0)
        if not _tiny_at_root(build) and not _tiny_checkpoint_build(build):
            bad += 1
    return bad


#: Aggregate functions whose per-group state is an unbounded object
#: buffer (serialized value maps / registers / summaries), not a few
#: scalars.  Evaluating one of these per DISTINCT VALUE is the
#: distinct-rewrite pathology below.
_BUFFER_AGGS = (
    "partial_percentile(",
    "partial_approx_percentile(",
    "partial_approx_count_distinct(",
    "partial_hll_sketch_agg(",
    "partial_hll_union_agg(",
    "partial_collect_list(",
    "partial_collect_set(",
)

def distinct_rewrite_buffer_aggs(df) -> int:
    """Count aggregate nodes where an object-buffer aggregate is
    evaluated inside a distinct-expand partial aggregate.

    Mixing ``count_distinct`` with percentile/HLL/quantile sketches in
    ONE ``agg`` makes Catalyst key the partial aggregate by
    (group keys, distinct column) and evaluate every buffer aggregate
    PER DISTINCT VALUE — the "partial" state dwarfs the input
    (measured 0.7 s → 29 s on agg_approx at sf0.1; an OOM at 100 TB,
    see SCALING.md round-6 close).  Detector: a buffer aggregate
    whose ARGUMENT column also appears among the node's grouping keys
    — aggregating a column you group by only happens in that rewrite.
    Fix pattern: run the exact-distinct twin as its own two-stage
    aggregation joined back on the group keys
    (aggregates.approx_aggregates_graded)."""
    import re

    bad = 0
    for node in _walk(_plan_root(df)):
        if "Aggregate" not in node.nodeName():
            continue
        head = str(node.toString()).split("\n")[0]
        m = re.search(r"keys=\[([^\]]*)\]", head)
        if not m:
            continue
        # compare WHOLE attribute references (name#exprId), not raw
        # substrings: `x#12` must not match key `x#123`, and the
        # buffer agg's full argument list (up to the closing paren)
        # is scanned so a distinct column in any argument position
        # is caught, not just the first token
        attr = r"[A-Za-z_][A-Za-z0-9_]*#\d+"
        key_tokens = set(re.findall(attr, m.group(1)))
        for fn in _BUFFER_AGGS:
            for fm in re.finditer(re.escape(fn) + r"([^)]*)", head):
                arg_tokens = set(re.findall(attr, fm.group(1)))
                if arg_tokens & key_tokens:
                    bad += 1
                    break
            else:
                continue
            break
    return bad


#: BNLJ build sides that are BOUNDED by construction but not
#: mechanically provable (not tiny at the build root), as
#: ``entry: (allowed_count, justification)``.  The
#: count pins how many such joins the entry's plan has: one more
#: unbounded BNLJ in an allowlisted entry FAILS the gate, as does any
#: in an entry NOT listed here.  This
#: list exists because the round-6 AQE fix made the node walk
#: actually visit the tree (the gate was silently vacuous before) —
#: these are the pre-existing, fingerprint-pinned plans re-reviewed
#: at that point.
BNLJ_ALLOWLIST: dict[str, tuple[int, str]] = {
    "join_cross": (1, "the operator IS a cross join; build side is the "
                      "5-row region dimension scan (documented small dim)"),
    "agg_median_test": (2, "builds are the pooled median — exactly one "
                           "row by construction (row_number = ceil(n/2) "
                           "over a single global window)"),
    "evt_ab_test": (1, "build is the per-variant aggregate filtered to "
                       "one variant — ≤2 rows by the md5-split contract"),
    "join_fuzzy_name": (1, "build is the documented probe batch (1-in-300 "
                           "systematic sample); record-linkage contract "
                           "is |probes| << |corpus|"),
    "sim_centroid_cosine": (1, "build is the per-label centroid frame — "
                               "bounded by |labels| (10); the operator "
                               "is an O(labels²) comparison by design"),
    "sim_cosine_topk": (1, "build is the query-vector batch (fixture: "
                           "every 50th id); ANN contract is "
                           "|queries| << |corpus|"),
    "sim_ndcg": (2, "same query-batch broadcast as sim_cosine_topk, "
                    "twice (exact + graded run)"),
    "sim_pq_topk": (1, "same query-batch broadcast as sim_cosine_topk"),
    "sim_recall_eval": (1, "build is the query-vector batch (every 50th "
                           "vec_id) of the exact brute-force top-k side, "
                           "the sim_cosine_topk |queries| << |corpus| "
                           "contract; the IVF probe side adds no "
                           "unbounded BNLJ"),
    "composite_ann_health": (1, "same query-batch broadcast as "
                                "sim_recall_eval (its recall stage IS "
                                "that plan, folded to one row)"),
    "evt_qte": (1, "build is the literal quantile spine (5 rows by "
                   "construction — a LocalTableScan of the requested "
                   "p values); the rn = ceil(p*n) position condition "
                   "is inherently non-equi"),
    "sim_rrf_fusion": (1, "build is the lexical stage's query-token "
                          "batch (every 50th doc, the sim_cosine_topk "
                          "|queries| << corpus contract); the <> join "
                          "condition makes it a BNLJ by necessity"),
    "prefix_dim_recall": (6, "same query-batch broadcast as "
                             "sim_cosine_topk (pushed-down vec_id < 20 "
                             "predicate; exact + per-dims truncated + "
                             "baseline passes), ANN contract "
                             "|queries| << |corpus|"),
    "agg_kendall_tau": (1, "the operator IS an all-pairs statistic; both "
                           "sides are the same pre-aggregated grain "
                           "(fixture: 125 (nation, segment) rows) — the "
                           "documented pre-aggregated-grain contract, "
                           "same bounded-by-construction class as "
                           "sim_centroid_cosine"),
    "txt_vocab_coverage": (1, "build is the 1-row corpus token total "
                              "exploded over the 4-literal threshold "
                              "array: 4 rows by construction"),
    "naive_bayes_fit": (2, "build is the per-class parameter frame (per-"
                           "class token totals crossed with the 1-row "
                           "vocabulary size and class count), one row per "
                           "class: bounded by |classes|; the plan holds "
                           "it twice"),
    "sim_maxsim_rerank": (1, "build is the query-signature batch (every "
                             "40th doc, one packed int per row) for the "
                             "stage-1 hamming prune — the "
                             "sim_cosine_topk posture; stage 2 is "
                             "bounded at n_candidates per query"),
}


def main() -> int:
    spark = get_session(
        "plan-lint", master="local[4]", shuffle_partitions=4,
        extra_confs={"spark.ui.enabled": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    import __spark_entry__ as entry

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    registry = entry.queries()
    names = sys.argv[1:] or list(registry)
    findings: list[str] = []
    for name in names:
        try:
            df = registry[name](spark, sf_dir)
            plan = plan_of(df)
        except Exception as exc:  # streaming plans can't executedPlan pre-start
            findings.append(f"SKIP  {name}: {type(exc).__name__}")
            continue
        flags = []
        if "CartesianProduct" in plan:
            flags.append("CARTESIAN")
        if "BroadcastNestedLoopJoin" in plan:
            n_bad = unbounded_nested_loops(df)
            allowed, reason = BNLJ_ALLOWLIST.get(name, (0, ""))
            if n_bad > allowed:
                flags.append(f"UNBOUNDED-BNLJ({n_bad}>{allowed})")
            elif n_bad:
                print(f"note  {name}: {n_bad} BNLJ allowed — {reason}",
                      flush=True)
        if "Exchange rangepartitioning" in plan:
            flags.append("GLOBAL-SORT")
        if "BatchEvalPython" in plan:
            flags.append("ROW-PYTHON-UDF")
        if any(fn in plan for fn in _BUFFER_AGGS):
            n_dr = distinct_rewrite_buffer_aggs(df)
            if n_dr:
                flags.append(f"DISTINCT-REWRITE-BUFFER({n_dr})")
        n_ex = plan.count("Exchange ")
        line = f"{'FLAG' if flags else 'ok  '}  {name}: exchanges={n_ex}"
        if flags:
            line += "  " + ",".join(flags)
            findings.append(line)
        print(line, flush=True)
    print("\n--- summary ---")
    for f in findings:
        print(f)
    n_flagged = len([f for f in findings if f.startswith("FLAG")])
    print(f"{n_flagged} flagged")
    # Nonzero on flags so the stage-gate chain actually fails on an
    # anti-pattern (it advertised this but the old exit code was
    # always 0); SKIPs (streaming pre-start) stay informational.
    return 1 if n_flagged else 0


if __name__ == "__main__":
    raise SystemExit(main())
