"""Entity-resolution capstone (q_entity_resolution) and the one
connected-components operator behind it: the driver union-find (edge sets
under the cap) and the distributed pointer-doubling engine (over the cap)
must produce IDENTICAL component labels, including on the chain-shaped
graphs that defeat plain min-label propagation's O(diameter) iteration
count.
"""

from __future__ import annotations

import random

import pytest

import flink_estimator_spark.plans  # noqa: F401  (finish registry init first)
from flink_estimator_spark.operators import dedup
from flink_estimator_spark.operators.dedup import (
    _cc_pointer_doubling,
    connected_components,
)


def _labels(cc, spark, edges, ddl="id_a string, id_b string"):
    df = spark.createDataFrame(edges, ddl)
    return {(r["doc_id"], r["cluster"]) for r in cc(df).collect()}


def _both(spark, edges, ddl="id_a string, id_b string"):
    """Labels from the public operator (driver union-find at this size)
    and from the over-cap engine, asserted equal."""
    local = _labels(connected_components, spark, edges, ddl)
    assert _labels(_cc_pointer_doubling, spark, edges, ddl) == local
    return local


def _py_components(edges):
    parent = {}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb
    comp = {}
    for v in parent:
        comp.setdefault(find(v), []).append(v)
    out = set()
    for vs in comp.values():
        m = min(vs)
        out |= {(v, m) for v in vs}
    return out


def _chain(n):
    return [(f"n{i:03d}", f"n{i + 1:03d}") for i in range(n - 1)]


def test_chain_graph_both_paths_agree(spark):
    """A 40-node chain — the shape whose diameter breaks O(diameter) CC:
    the pointer-doubling engine must agree with driver union-find and
    converge within its round budget."""
    edges = _chain(40)
    assert _both(spark, edges) == _py_components(edges)


def test_random_graphs_both_paths_agree(spark):
    """Random sparse graphs (mixed chains, cliques, singleton-free):
    label sets identical across the local and distributed paths."""
    rng = random.Random(7)
    nodes = [f"v{i:02d}" for i in range(30)]
    edges = list(
        {
            tuple(sorted(rng.sample(nodes, 2)))
            for _ in range(25)
        }
    )
    assert _both(spark, edges) == _py_components(edges)


def test_bigint_ids_keep_their_type(spark):
    """Integer vertex ids (the dedup graphs' ``doc_id``): labels come back
    as the input's id type on both paths, ordered numerically (9 < 10)."""
    edges = [(9, 10), (10, 11), (3, 4), (100, 4)]
    ddl = "id_a bigint, id_b bigint"
    assert _both(spark, edges, ddl) == _py_components(edges)
    out = connected_components(spark.createDataFrame(edges, ddl))
    assert [f.dataType.simpleString() for f in out.schema] == ["bigint", "bigint"]


def test_empty_edge_set_is_an_empty_frame_of_the_id_type(spark):
    out = connected_components(spark.createDataFrame([], "id_a int, id_b int"))
    assert out.columns == ["doc_id", "cluster"]
    assert [f.dataType.simpleString() for f in out.schema] == ["int", "int"]
    assert out.count() == 0


def test_over_cap_edge_set_takes_the_distributed_engine(spark, monkeypatch):
    """The route is by edge count: one edge over the cap and the public
    operator returns the pointer-doubling engine's labels (a plan over
    checkpointed rows, not a driver-built LocalTableScan)."""
    edges = _chain(12)
    monkeypatch.setattr(dedup, "_CC_LOCAL_CAP", len(edges) - 1)
    out = connected_components(spark.createDataFrame(edges, "id_a string, id_b string"))
    assert "LocalTableScan" not in out._jdf.queryExecution().executedPlan().toString()
    assert {(r["doc_id"], r["cluster"]) for r in out.collect()} == _py_components(edges)


def test_er_census_is_consistent(spark):
    """The registered query's census: every entity has >= 2 members (the
    node set is edge endpoints), each cluster label is genuinely the
    MINIMUM of its member names (checked by recomputing the member->label
    assignment via connected_components on the same edge set and
    grouping), and labels are unique per output row."""
    from pyspark.sql import functions as F

    from flink_estimator_spark.operators.fuzzy import fuzzy_pairs
    from flink_estimator_spark.plans._helpers import t
    from flink_estimator_spark.plans.registry import QUERIES

    sf_dir = "/root/testdata/sf0.001"
    rows = QUERIES["q_entity_resolution"].builder(spark, sf_dir).collect()
    assert all(r["n_members"] >= 2 for r in rows)
    assert len({r["canonical_name"] for r in rows}) == len(rows)

    # Independent member re-join: recompute labels from the same blocked
    # fuzzy-pair edges and assert canonical == min(member names) per
    # entity and that the census member counts match.
    c = t(spark, sf_dir, "customer").filter(F.col("c_nationkey") == 3)
    edges = fuzzy_pairs(c, "c_name").select(
        F.col("name_a").alias("id_a"), F.col("name_b").alias("id_b")
    )
    members: dict[str, list[str]] = {}
    for r in connected_components(edges).collect():
        members.setdefault(r["cluster"], []).append(r["doc_id"])
    census = {r["canonical_name"]: r["n_members"] for r in rows}
    assert set(census) == set(members)
    for label, names in members.items():
        assert label == min(names)
        assert census[label] == len(names)


def test_jump_cc_raises_on_unconverged(spark, monkeypatch):
    """Fail-loud contract: a round budget too small for the graph's
    diameter must RAISE, never return partially-converged labels (a
    40-node chain needs ~log2(40) pointer-doubling rounds; 1 is not
    enough)."""
    edges = spark.createDataFrame(_chain(40), "id_a string, id_b string")
    with monkeypatch.context() as m:
        m.setattr(dedup, "_CC_ROUNDS", 1)
        with pytest.raises(RuntimeError, match="did not converge"):
            _cc_pointer_doubling(edges).collect()
    # and the default budget converges on the same graph
    labels = {
        (r["doc_id"], r["cluster"])
        for r in _cc_pointer_doubling(edges).collect()
    }
    assert labels == {(f"n{i:03d}", "n000") for i in range(40)}
