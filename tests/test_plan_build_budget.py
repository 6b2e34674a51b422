"""Plan-BUILD cost regression pin (VERDICT r10 #7): round-10 profiling
found ~0.5s/query of silent driver-side creep — py4j round-trips from
Catalyst analysis + parquet footer re-reads during DataFrame
CONSTRUCTION — that no correctness or bench gate would catch (bench
times execution; the build cost hides inside it).

This pins a deterministic proxy: the number of py4j commands issued
while building (not executing) each of the most build-heavy queries.
Round-trip counts are stable across hosts (unlike wall-clock), so the
budgets can sit close to measured reality. If a refactor regresses
plan construction (e.g. drops the _t scan memoization,
relational.py:24-51, or un-fuses the LSH one-select stages), the count
jumps well past budget."""

from __future__ import annotations

import os

import pytest

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR_SMALL", "/root/testdata/sf0.001")

# measured round-11 (second build, warm _t cache — the steady state the
# bench loop sees): ann_lsh 718, embed_project 595, simhash 1537,
# jaccard 840, minhash 2181. Budget = measured * 2 rounded up,
# comfortable for schema drift but far below the 10x of a lost
# memoization.
BUDGETS = {
    "ann_lsh_topk": 1500,
    "embed_project_topk": 1200,
    "dedup_simhash": 3100,
    "dedup_ngram_jaccard": 1700,
    "dedup_minhash_lsh": 4400,
}


def _settle_detaches(spark, timeout_s: float = 10.0) -> None:
    """Free unreachable JavaObjects and wait until py4j has sent their
    detaches. Freeing a JavaObject queues a detach (``m\nd\n``) that
    py4j's FinalizerWorker thread sends up to a second later, so without
    this the window would count a timing-dependent share of earlier
    tests' (and the warm-up build's) detaches, and of its own."""
    import gc
    import time

    gc.collect()
    client = spark.sparkContext._gateway._gateway_client
    pending = getattr(client, "finalizer_deque", None)
    deadline = time.monotonic() + timeout_s
    while pending and time.monotonic() < deadline:
        time.sleep(0.01)


def _count_py4j_commands(spark, fn) -> int:
    from py4j.java_gateway import GatewayClient

    _settle_detaches(spark)  # nothing from before the window counts
    counter = {"n": 0}
    orig = GatewayClient.send_command

    def counting(self, *a, **kw):
        counter["n"] += 1
        return orig(self, *a, **kw)

    GatewayClient.send_command = counting
    try:
        fn()
        _settle_detaches(spark)  # every detach of the build's own counts
    finally:
        GatewayClient.send_command = orig
    return counter["n"]


@pytest.mark.parametrize("name", sorted(BUDGETS))
def test_plan_build_roundtrip_budget(spark, name):
    from bento_spark.queries import QUERIES, load_all

    load_all()
    fn = QUERIES[name]
    # first build warms the per-(app, sf_dir, table) scan cache and any
    # lazily-imported modules; the pinned number is the steady state
    fn(spark, SF_DIR)
    n = _count_py4j_commands(spark, lambda: fn(spark, SF_DIR))
    assert n <= BUDGETS[name], (
        f"{name}: plan construction issued {n} py4j commands "
        f"(budget {BUDGETS[name]}) — driver-side build creep; check the "
        "_t scan memoization and stage fusion before raising the budget"
    )
