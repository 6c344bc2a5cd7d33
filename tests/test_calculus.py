"""Plane-A kernel tests: BASELINE.md §C goldens, reference invariants, and
validation — no Spark required (fast)."""

from __future__ import annotations

import heapq
import math
import random

import pytest

from flink_estimator_spark.estimator import calculus
from flink_estimator_spark.estimator.calculus import (
    OS_MEM_MB,
    PlacementError,
    Scenario,
    estimate_scenario,
    free_mem_per_node,
    greedy_pack,
    validate_scenario,
)
from tests.scenarios import BASELINE_EXPECT, GOLDEN, INVALID, random_scenarios


@pytest.mark.parametrize("kw", [g for g in GOLDEN if g["project_name"] in BASELINE_EXPECT],
                         ids=lambda g: g["project_name"])
def test_baseline_goldens(kw):
    exp = BASELINE_EXPECT[kw["project_name"]]
    r = estimate_scenario(Scenario(**kw))
    assert r["error"] is None
    re_ = r["resource_estimates"]
    tm = r["cluster_recommendations"]["taskmanagers"]
    jm = r["cluster_recommendations"]["jobmanager"]
    sc = r["scaling_recommendations"]
    assert re_["total_memory_mb"] == exp["total_memory_mb"]
    assert re_["total_cpus"] == exp["total_cpus"]
    assert re_["total_worker_node_needed"] == exp["nodes"]
    assert re_["processing_load_score"] == 1.0
    assert tm["count"] == exp["tms"]
    assert tm["memory_mb_each"] == exp["tm_mb_each"]
    assert (jm["total_cpus"], jm["memory_mb"]) == (float(exp["jm"][0]), exp["jm"][1])
    assert (sc["min_parallelism"], sc["recommended_parallelism"], sc["max_parallelism"]) == exp["par"]
    assert sc["checkpointing_interval_ms"] == exp["ckpt"]


def test_free_mem_per_node_golden():
    # reference test golden: VM-S x3 with JM 2048 -> [13824, 15872, 15872]
    s = Scenario(project_name="g", worker_node_type="VM", worker_node_t_size="S", nb_worker_nodes=3)
    from flink_estimator_spark.estimator.calculus import normalize_scenario

    s = normalize_scenario(s)
    free, total = free_mem_per_node(s, 2048, 3)
    assert free == [13824, 15872, 15872]
    assert total == sum(free)


def test_state_pass_goldens():
    # 20M keys @ 1KiB on VM-S -> 12 TMs, alloc [3,3,3,3]
    from flink_estimator_spark.estimator.calculus import (
        normalize_scenario,
        taskmanagers_from_state,
    )

    s = normalize_scenario(
        Scenario(project_name="s", worker_node_type="VM", worker_node_t_size="S",
                 num_distinct_keys=20_000_000, avg_record_size_bytes=1024,
                 medium_statements=1, complex_statements=0, simple_statements=0)
    )
    _, nb_tm, alloc, _, _ = taskmanagers_from_state(s, 2048, s.nb_worker_nodes)
    assert nb_tm == 12
    assert alloc == [3, 3, 3, 3]


def test_scaling_invariants():
    from tests.scenarios import random_scenarios

    for kw in random_scenarios(60):
        r = estimate_scenario(Scenario(**kw))
        if r.get("error"):
            continue
        sc = r["scaling_recommendations"]
        assert sc["min_parallelism"] <= sc["recommended_parallelism"] <= sc["max_parallelism"]
        assert 5000 <= sc["checkpointing_interval_ms"] <= 60000


def test_skew_and_bandwidth_do_not_affect_cpus():
    base = dict(project_name="x", messages_per_second=20000, avg_record_size_bytes=1024)
    cpus = {
        estimate_scenario(Scenario(**base, data_skew_risk=s, bandwidth_capacity_gbps=g))[
            "resource_estimates"
        ]["total_cpus"]
        for s in ("low", "medium", "high")
        for g in (1, 100)
    }
    assert len(cpus) == 1


def test_validation_errors():
    for kw in INVALID[:4]:
        assert validate_scenario(Scenario(**kw)), kw
    # tiny worker is *valid* input but fails placement
    r = estimate_scenario(Scenario(**INVALID[4]))
    assert r["error"] and "task manager" in r["error"]


def test_apps_double_count_quirk():
    # capacity_analysis.total_flink_statements multiplies apps twice
    r = estimate_scenario(Scenario(project_name="q", number_flink_applications=10,
                                   simple_statements=5, medium_statements=3,
                                   complex_statements=2, num_distinct_keys=1000,
                                   nb_worker_nodes=3))
    assert r["error"] is None
    assert r["capacity_analysis"]["total_flink_statements"] == 1000


# ---------------------------------------------------------------------------
# Placement oracle: the reference's pick-one-TM-at-a-time greedy packing
# (estimation.py:428-457) over a heap, and its node-growth loop
# (estimation.py:205-244), transcribed as the kernel ran them before the
# closed-form placement.  The kernel's ``greedy_pack`` and
# ``place_with_growth`` must agree with them everywhere.
# ---------------------------------------------------------------------------


def heap_greedy_pack(
    free: list[float], nb_tm: int, tm_mem_mb: int
) -> tuple[list[int], int, bool, list[float]]:
    """Most-free-node-first placement, ties to the lowest index."""
    n = len(free)
    alloc = [0] * n
    remaining = list(free)
    # (-free, index) heap == "most remaining memory, ties to lowest index",
    # identical pick order to the reference's linear scan
    heap = [(-r, i) for i, r in enumerate(remaining) if r >= tm_mem_mb]
    heapq.heapify(heap)
    for _ in range(nb_tm):
        if not heap:
            return alloc, (max(alloc) if alloc else 0), False, remaining
        _, i = heapq.heappop(heap)
        remaining[i] -= tm_mem_mb
        alloc[i] += 1
        if remaining[i] >= tm_mem_mb:
            heapq.heappush(heap, (-remaining[i], i))
    return alloc, max(alloc), True, remaining


def heap_place_with_growth(
    s: Scenario, jm_memory: int, nb_tm: int, tm_mem_mb: int, nb_nodes: int
) -> tuple[int, list[int], int]:
    """Grow the node count until the TMs pack; one packing per count tried."""
    required = nb_tm * tm_mem_mb
    while True:
        free, total_free = free_mem_per_node(s, jm_memory, nb_nodes)
        if not free or max(free) < tm_mem_mb:
            raise PlacementError(
                f"No worker can host a {tm_mem_mb} MB task manager: "
                f"max free memory on a node is {max(free) if free else 0} MB. "
                "Increase worker_node_memory (or use a larger VM t-shirt) "
                "so each node can hold at least one TM."
            )
        if total_free < required:
            # every added node contributes the same free memory: jump straight
            # to the first sufficient count
            per_new_node = s.worker_node_memory_mb - OS_MEM_MB
            nb_nodes += max(1, math.ceil((required - total_free) / per_new_node))
            continue
        alloc, _mx, ok, _rem = heap_greedy_pack(free, nb_tm, tm_mem_mb)
        if ok:
            return jm_memory + required, alloc, nb_nodes
        nb_nodes += 1


def test_greedy_pack_invariants():
    alloc, mx, ok, rem = heap_greedy_pack([10000.0, 8000.0, 8000.0], 4, 4096)
    assert ok and sum(alloc) == 4 and mx == max(alloc) == 2
    assert alloc == [2, 1, 1]  # most-free-first, ties to lowest index
    assert all(r >= 0 for r in rem)
    # not enough room anywhere
    alloc, mx, ok, _ = heap_greedy_pack([1000.0], 1, 4096)
    assert not ok and sum(alloc) == 0
    # the closed form on the same nodes: node 0 first, then the others
    assert greedy_pack(10000.0, 8000.0, 3, 4, 4096) == [2, 1, 1]
    assert greedy_pack(1000.0, 1000.0, 1, 1, 4096) == [0]
    # a tie between node 0 and a level of the others goes to node 0
    assert greedy_pack(11776.0, 15872.0, 3, 2, 4096) == [0, 1, 1]
    assert greedy_pack(11776.0, 15872.0, 3, 3, 4096) == [1, 1, 1]
    assert greedy_pack(11776.0, 15872.0, 3, 4, 4096) == [1, 2, 1]


def _packing_case(rng: random.Random) -> tuple[float, float, int, int, int]:
    """One seeded (f0, f, n, T, m) packing problem.  Node 0's free memory
    is the others' minus whole JobManagers, so ties between node 0 and a
    level of the others are common; some cases have fractional memory,
    node 0 below one TM or below zero, or node 0 above the others."""
    m = rng.choice([4096, 4096, 4096, 8192, 4097, 5000, 6143, 12288, rng.randint(4096, 20000)])
    mem = rng.choice([4096.0, 8192.0, 16384.0, 65536.0, 96448.0, 524288.0,
                      float(rng.randint(4096, 524288)), rng.uniform(4096, 524288)])
    f = mem - OS_MEM_MB
    r = rng.random()
    if r < 0.7:
        f0 = f - rng.choice([2048, 4096, 8192]) * rng.choice([1, 1, 2, 3, 10])
    elif r < 0.9:
        f0 = rng.uniform(-f, f)
    else:
        f0 = f + rng.choice([1, 4096, m, rng.uniform(0, 3 * m)])
    n = rng.choice([1, 1, 2, 3, rng.randint(1, 12), rng.randint(1, 200)])
    t = rng.randint(0, 40) if rng.random() < 0.9 else rng.randint(40, 600)
    return f0, f, n, t, m


def test_greedy_pack_equals_heap_packing():
    """Differential: the closed-form placement equals the heap packing on
    120k seeded cases, including partial packings that run out of room."""
    rng = random.Random(20261018)
    bad = []
    for _ in range(120_000):
        f0, f, n, t, m = case = _packing_case(rng)
        alloc, _mx, ok, _rem = heap_greedy_pack([f0] + [f] * (n - 1), t, m)
        got = greedy_pack(f0, f, n, t, m)
        if got != alloc or (sum(got) == t) != ok:
            bad.append(case)
    assert not bad, f"{len(bad)} mismatches, first {bad[:3]}"


def test_estimate_scenario_equals_heap_placement(monkeypatch):
    """Differential: every scenario estimates to the same dict with the
    closed-form placement as with the heap oracle's, heavy rows (thousands
    of TMs) included, and every placement on the way returns the same
    per-node allocation (which the result dict only counts)."""
    cases = GOLDEN + INVALID + random_scenarios(10_000)

    def run(place):
        placements = []

        def logged(*args):
            placements.append(place(*args))
            return placements[-1]

        monkeypatch.setattr(calculus, "place_with_growth", logged)
        return [estimate_scenario(Scenario(**kw)) for kw in cases], placements

    fast, fast_placements = run(calculus.place_with_growth)
    heap, heap_placements = run(heap_place_with_growth)
    for kw, got, want in zip(cases, fast, heap):
        assert got == want, kw["project_name"]
    assert fast_placements == heap_placements
