"""Physical-plan invariants across the whole query registry.

BASELINE.md's plan audits pin these properties by hand for a few
headline queries; this test sweeps every oracle-backed registry entry
so a regression (a join that stops broadcasting, a lambda that falls
back to a row-at-a-time Python UDF, an accidental cross join) fails CI
instead of waiting for the next manual `.explain` read.  Invariants:

* no ``CartesianProduct`` / ``BroadcastNestedLoopJoin`` anywhere — the
  registry has no theta-only join that would justify one at scale;
* no ``BatchEvalPython`` (row-at-a-time Python UDF) — every Python
  kernel must be Arrow-vectorized (``ArrowEvalPython`` / ``MapInPandas``
  / ``FlatMapGroupsInPandas``), per SURVEY §2.11;
* scan-level pruning on the representative projection query (pushed
  filters + pruned read schema);
* dimension joins stay broadcast; the brute-force ANN top-k stays a
  ``TakeOrderedAndProject`` (never a global sort).

Plans are inspected pre-execution (``sparkPlan``), so the sweep is
cheap: nothing larger than the quadratic-guard probes actually runs.
"""

from __future__ import annotations

import re

import pytest

from crawlkit.queries import REGISTRY

SF_DIR = "/root/testdata/sf0.001"

# stateful / streaming entries drive whole jobs, not a single plan
_SKIP = {"crawl_round_smoke", "streaming_windowed_rollup"}


def _plan(df) -> str:
    return df._jdf.queryExecution().sparkPlan().toString()


def _registry_plans(spark):
    for name, (fn, sql) in sorted(REGISTRY.items()):
        if name in _SKIP:
            continue
        yield name, _plan(fn(spark, SF_DIR))


# Queries that join a ONE-ROW broadcast frame with no equi-condition
# (a scalar: the corpus max timestamp, the ANN probe vector).  Spark
# plans these as BroadcastNestedLoopJoin, which with a 1-row build side
# is O(n) streaming — the standard scalar-join shape, safe at any
# scale.  Everything else must use an equi-join strategy.
_SCALAR_BROADCAST_OK = {"p3_freshness_window", "ann_topk_cosine"}


def test_no_cartesian_or_nested_loop_anywhere(spark):
    bad = []
    for name, plan in _registry_plans(spark):
        if "CartesianProduct" in plan:
            bad.append((name, "CartesianProduct"))
        elif ("BroadcastNestedLoopJoin" in plan
              and name not in _SCALAR_BROADCAST_OK):
            bad.append((name, "BroadcastNestedLoopJoin"))
    assert not bad, f"cross-join strategy in: {bad}"


def test_no_row_at_a_time_python_udf_anywhere(spark):
    bad = []
    for name, plan in _registry_plans(spark):
        if "BatchEvalPython" in plan:
            bad.append(name)
    assert not bad, f"non-Arrow Python UDF in: {bad}"


def test_projection_query_prunes_at_scan(spark):
    fn, _ = REGISTRY["p1_project_filter"]
    plan = _plan(fn(spark, SF_DIR))
    # at least one real pushed predicate — 'PushedFilters: [' followed
    # by anything but the immediate ']' of an empty list (ADVICE r4:
    # the previous split-based check reassembled the string without the
    # delimiter and could never fail)
    assert re.search(r"PushedFilters: \[(?!\])", plan), plan
    # the documents table is wide; the read schema must not carry the
    # heavy text/body column this query never returns
    read = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "text" not in read, read


def test_dim_join_broadcasts(spark):
    for name in ("j3_broadcast_dim", "j3_lang_normalize", "j4_semi_join"):
        fn, _ = REGISTRY[name]
        plan = _plan(fn(spark, SF_DIR))
        assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan, (
            name, plan,
        )


def test_ann_topk_is_take_ordered(spark):
    fn, _ = REGISTRY["ann_topk_cosine"]
    plan = _plan(fn(spark, SF_DIR))
    assert "TakeOrderedAndProject" in plan, plan


def test_default_driver_heap_fits_host():
    """Without CRAWLKIT_DRIVER_MEM the local-mode heap is derived from
    the machine's RAM (half of MemTotal, capped at 48g), so the test
    session cannot ask the JVM for more memory than the host has."""
    from crawlkit.session import MAX_DRIVER_MB, _default_driver_mem

    heap_mb = int(_default_driver_mem().removesuffix("m"))
    assert 1024 <= heap_mb <= MAX_DRIVER_MB
    try:
        with open("/proc/meminfo") as fh:
            total_kb = next(int(line.split()[1]) for line in fh
                            if line.startswith("MemTotal:"))
    except OSError:
        pytest.skip("no /proc/meminfo")
    if total_kb >= 2 * 1024 * 1024:
        assert heap_mb * 1024 <= total_kb // 2
