"""Physical-plan regression guard: the headline queries must keep the
plan shapes PLANS.md documents (broadcasts on dimension sides, bounded
top-k, pushed filters) and must never regress into cartesian products.

A correctness gate can't see a plan regression — a query that silently
turns a broadcast join into a cartesian product still returns the right
rows at sf0.01 and then dies at 100×.  This suite pins the shapes.
"""

from __future__ import annotations

import pytest

import __spark_entry__ as E

SF_DIR = "/root/testdata/sf0.001"


def _plan(spark, name: str) -> str:
    df = E.queries()[name](spark, SF_DIR)
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode
        .fromString("formatted"))


# every query here must contain ALL its `need` fragments
CASES = [
    # bounded top-k: TopTree analogue, never a global sort
    ("t1_topk", ["TakeOrderedAndProject"]),
    # frontier winner window: rank-limit pushdown below the exchange
    ("a1_best_per_group", ["WindowGroupLimit"]),
    # pushdown scan: filter reaches the parquet reader
    ("f2_pushdown_scan", ["PushedFilters: ["]),
    # dimension join broadcasts
    ("j2_dim_broadcast", ["BroadcastHashJoin"]),
    # compiled query language: broadcast scoring join + anti-join + top-k
    ("search_querylang_topk",
     ["TakeOrderedAndProject", "BroadcastHashJoin LeftAnti",
      "BroadcastHashJoin"]),
    ("search_proximity_topk", ["TakeOrderedAndProject"]),
    # contamination probe: eval side must broadcast (semi), big side
    # never shuffles for membership
    ("contamination_ngram", ["BroadcastHashJoin LeftSemi"]),
    ("search_querylang_boolean",
     ["TakeOrderedAndProject", "BroadcastHashJoin"]),
    ("search_querylang_numeric", ["TakeOrderedAndProject"]),
    ("postings_reindex", ["BroadcastHashJoin LeftAnti"]),
    ("shard_balance", ["HashAggregate"]),
    ("corpus_filter_pipeline", ["BroadcastHashJoin LeftSemi"]),
    # round-3b: trap dim must broadcast onto candidates; winner window
    # keeps the rank-limit pushdown
    ("frontier_trap_suppress",
     ["BroadcastHashJoin LeftOuter", "WindowGroupLimit"]),
    # classifier: the <=4096-row weight vector broadcasts every round;
    # the corpus must never self-join
    ("fasttext_quality", ["BroadcastHashJoin"]),
    # trap detection alone: one agg, no join at all
    ("crawl_trap_templates", ["HashAggregate"]),
    # RRF: both lists bounded BEFORE their rank windows
    ("search_hybrid_rrf", ["TakeOrderedAndProject"]),
    # aging winner window keeps the A1 shape
    ("frontier_priority_aging", ["WindowGroupLimit"]),
]


@pytest.mark.parametrize("name,need", CASES, ids=[c[0] for c in CASES])
def test_plan_has_required_shape(spark, name, need):
    plan = _plan(spark, name)
    for frag in need:
        assert frag in plan, f"{name}: expected {frag!r} in plan"


# queries where a BroadcastNestedLoopJoin is the INTENDED plan: a
# no-condition join against a 1-row (or K-row) broadcast aggregate
BNLJ_OK = {"shard_balance",
           # 1-row broadcast aggregates by design: n_train / dangling
           # pot / seat count join with no condition
           "fasttext_quality",
           # composes the labeled brute-force cosine baseline (1-row
           # broadcast query vector, != condition) + bm25's 1-row
           # corpus-stats cross joins
           "search_hybrid_rrf"}


@pytest.mark.parametrize("name", [c[0] for c in CASES])
def test_plan_never_cartesian(spark, name):
    plan = _plan(spark, name)
    assert "CartesianProduct" not in plan
    # BroadcastNestedLoopJoin is allowed ONLY where one side is a
    # broadcast constant-size aggregate (BNLJ_OK) or in the labeled
    # brute-force ANN baseline, which is not in this list
    if name not in BNLJ_OK:
        assert "BroadcastNestedLoopJoin" not in plan


def test_driver_collect_discipline():
    """Every ``.collect()`` in non-test source must be either a 1-row
    scalar aggregate (``.collect()[0]``) or routed through
    ``session.bounded_collect`` with an explicit row ceiling (VERDICT
    r4 item 9) — so a bounded config/model collect can never silently
    grow into a driver-side bottleneck."""
    import pathlib
    import re

    root = pathlib.Path(__file__).resolve().parent.parent / "gigaspark"
    offenders = []
    for p in root.rglob("*.py"):
        for lineno, line in enumerate(p.read_text().splitlines(), 1):
            if p.name == "session.py" and "max_rows + 1" in line:
                continue   # bounded_collect's own implementation
            if ".collect()" in line and ".collect()[0]" not in line:
                offenders.append(f"{p.relative_to(root.parent)}:{lineno}: "
                                 f"{line.strip()}")
    assert not offenders, (
        "raw .collect() outside bounded_collect/scalar-agg:\n"
        + "\n".join(offenders))


def test_bounded_collect_raises():
    from gigaspark.session import UnboundedCollectError, bounded_collect
    from gigaspark.session import get_spark

    spark = get_spark("plans-bc", cores=2, shuffle_partitions=2)
    df = spark.range(100)
    assert len(bounded_collect(df, 100, "ok")) == 100
    import pytest
    with pytest.raises(UnboundedCollectError):
        bounded_collect(df, 99, "too many")


def _winner_plan(sched):
    """Executed plan of the scheduler's own winner selection plus the
    politeness window run_round puts on top of it."""
    from pyspark.sql import Window, functions as F

    from gigaspark.operators.frontier import _win_order

    cum = Window.partitionBy("firstip").orderBy(*_win_order()) \
        .rowsBetween(Window.unboundedPreceding, -1)
    df = sched._select_winners(sched.clock_ms).withColumn(
        "t", F.coalesce(F.sum(F.lit(100)).over(cum), F.lit(0)))
    return df, df._jdf.queryExecution().executedPlan().toString()


def _n_shuffles(plan: str) -> int:
    return plan.count("Exchange") - plan.count("BroadcastExchange")


def test_round_plan_exchange_free(spark, micro_dir):
    """Round-5 scale property: once the frontier is checkpointed with
    its firstip hash-partitioning preserved, the ENTIRE per-round
    winner selection — host_state join, winner window, politeness
    window — plans with ZERO Exchange operators (the wide state never
    re-shuffles; per-round shuffle bytes ~0 at any frontier size), and
    the winner window carries Catalyst's per-host rank limit."""
    from tests.conftest import load_fixtures

    from gigaspark.operators.frontier import CrawlScheduler

    sched = CrawlScheduler(spark, load_fixtures(spark, micro_dir))
    sched.seed(spark.read.parquet(f"{micro_dir}/seeds.parquet"))
    assert len(sched.frontier_parts) == 1

    df, plan = _winner_plan(sched)
    n_shuffle = _n_shuffles(plan)
    assert n_shuffle == 0, \
        f"per-round plan has {n_shuffle} shuffle Exchange(s):\n{plan[:2000]}"
    # the tiny host_state broadcast is the ONLY data movement
    assert plan.count("BroadcastExchange") <= 1
    # and the rank-limit pushdown engaged (bounded sort input per host)
    assert "WindowGroupLimit" in plan, plan[:3000]
    # the plan is real: it still produces the winner rows
    assert df.count() > 0


def test_round_plan_rank_limit_below_shuffle(spark, tiny_dir):
    """On a multi-part frontier (seed part + one round's harvest) the
    union loses the firstip layout and the winner window shuffles once.
    The Partial WindowGroupLimit must run BELOW that exchange, so at
    most k_max rows per host and input partition cross it — a megahost
    cannot funnel its whole pending set through one task."""
    from tests.conftest import load_fixtures

    from gigaspark.operators.frontier import CrawlScheduler

    sched = CrawlScheduler(spark, load_fixtures(spark, tiny_dir))
    sched.seed(spark.read.parquet(f"{tiny_dir}/seeds.parquet"))
    sched.run_round()
    assert len(sched.frontier_parts) == 2   # the round harvested

    df, plan = _winner_plan(sched)
    assert _n_shuffles(plan) == 1, plan[:3000]
    lines = plan.splitlines()
    shuffle = next(i for i, ln in enumerate(lines)
                   if "Exchange hashpartitioning" in ln)
    wgl = {ln.rsplit(",", 1)[1].strip(): i for i, ln in enumerate(lines)
           if "WindowGroupLimit" in ln}
    assert set(wgl) == {"Partial", "Final"}, plan[:3000]
    assert wgl["Final"] < shuffle < wgl["Partial"], plan[:3000]
    assert df.count() > 0
