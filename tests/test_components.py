"""Clustering parity: the reference's single-linkage semantics re-expressed
as connected components. Fixtures are direct ports of the explicit distance
matrices in /root/reference/tests/utils/test_sequence_grouping.py:247-327
(re-expressed as edge lists: edge iff dist <= threshold, inclusive)."""

import pytest
from pyspark.sql import functions as F

from lasvdedup_spark.operators.components import assign_components, connected_components


def _components(spark, edges):
    if not edges:
        return {}
    df = spark.createDataFrame(edges, ["src", "dst"])
    rows = connected_components(df).collect()
    return {r["id"]: r["component"] for r in rows}


def _groups(assign: dict) -> set[frozenset]:
    inv = {}
    for node, comp in assign.items():
        inv.setdefault(comp, set()).add(node)
    return {frozenset(v) for v in inv.values()}


def test_two_clusters(spark):
    # test_sequence_grouping.py:250-269 — A,B,C pairwise 0.01; D,E 0.01;
    # cross-distances 0.5; threshold 0.02 -> {A,B,C}, {D,E}
    edges = [("A", "B"), ("A", "C"), ("B", "C"), ("D", "E")]
    assert _groups(_components(spark, edges)) == {
        frozenset("ABC"), frozenset("DE")
    }


def test_three_clusters(spark):
    # test_sequence_grouping.py:285-305
    edges = [("A", "B"), ("C", "D"), ("E", "F")]
    assert _groups(_components(spark, edges)) == {
        frozenset("AB"), frozenset("CD"), frozenset("EF")
    }


def test_transitive_chain(spark):
    # single-linkage transitivity: A~B, B~C, no A~C edge -> one cluster
    # (cluster_sequences absorbs via ANY member, sequence_grouping.py:106-114)
    edges = [("A", "B"), ("B", "C")]
    assert _groups(_components(spark, edges)) == {frozenset("ABC")}


def test_long_chain_converges(spark):
    # pathological diameter: 40-node path — exercises the O(log n)
    # large-star/small-star rounds, not O(diameter) propagation
    names = [f"n{i:03d}" for i in range(40)]
    edges = list(zip(names, names[1:]))
    got = _groups(_components(spark, edges))
    assert got == {frozenset(names)}


def test_component_id_is_min_member(spark):
    comp = _components(spark, [("b", "c"), ("c", "a"), ("x", "y")])
    assert comp["a"] == comp["b"] == comp["c"] == "a"
    assert comp["x"] == comp["y"] == "x"


def test_singletons_assigned_self(spark):
    ids = spark.createDataFrame([("A",), ("B",), ("Z",)], ["url"])
    edges = spark.createDataFrame([("A", "B")], ["src", "dst"])
    rows = assign_components(ids, edges).collect()
    m = {r["id"]: r["component"] for r in rows}
    assert m == {"A": "A", "B": "A", "Z": "Z"}


def test_threshold_boundary_inclusive(spark):
    # test_sequence_grouping.py:307-327: dists exactly 0.05, t=0.05 -> one
    # cluster; t=0.04 -> singletons. Edge construction IS the predicate:
    # similarity >= threshold, inclusive.
    sims = spark.createDataFrame(
        [("A", "B", 0.95), ("B", "C", 0.95), ("A", "C", 0.95)],
        ["src", "dst", "jaccard"],
    )
    at_t = sims.where(F.col("jaccard") >= 0.95).select("src", "dst")
    above_t = sims.where(F.col("jaccard") >= 0.96).select("src", "dst")
    got = {r["id"]: r["component"] for r in connected_components(at_t).collect()}
    assert _groups(got) == {frozenset("ABC")}
    assert above_t.count() == 0


def test_star_violations_zero_iff_star_forest(spark):
    """r6 convergence predicate: a small-star output is a fixpoint iff it
    is a star forest (no node both a src and a dst). Pinning the predicate
    directly guards the no-confirmation-round optimization."""
    from lasvdedup_spark.operators.components import _star_violations

    star = spark.createDataFrame(
        [("B", "A"), ("C", "A"), ("Y", "X")], ["src", "dst"]
    )
    assert _star_violations(star) == 0
    chain = spark.createDataFrame(
        [("B", "A"), ("C", "B")], ["src", "dst"]  # B is src AND dst
    )
    assert _star_violations(chain) == 1
    two_roots = spark.createDataFrame(
        [("C", "A"), ("C", "B")], ["src", "dst"]  # C points at two roots
    )
    assert _star_violations(two_roots) == 1


def _union_find_groups(edges) -> set[frozenset]:
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        parent[find(a)] = find(b)
    groups = {}
    for x in list(parent):
        groups.setdefault(find(x), set()).add(x)
    return {frozenset(g) for g in groups.values()}


@pytest.mark.parametrize(
    "edges",
    [
        [(0, 2), (0, 6), (3, 5), (3, 7), (4, 6), (4, 7)],
        [(0, 5), (1, 4), (2, 4), (2, 5), (4, 6)],
    ],
)
def test_src_with_two_roots_is_not_converged(spark, edges):
    """Each graph is one component. A round can leave a src pointing at
    two different roots with no node both a src and a dst; stopping there
    split the graph into two stars."""
    named = [(str(a), str(b)) for a, b in edges]
    got = _groups(_components(spark, named))
    assert got == _union_find_groups(named) and len(got) == 1


def test_components_match_union_find_on_random_graphs(spark):
    """Seeded small random graphs: the components equal union-find's."""
    import random

    rng = random.Random(13)
    for _ in range(50):
        n = rng.randint(3, 9)
        edges = {
            tuple(rng.sample(range(n), 2)) for _ in range(rng.randint(1, 2 * n))
        }
        named = [(str(a), str(b)) for a, b in edges]
        assert _groups(_components(spark, named)) == _union_find_groups(named), named


def test_cc_converges_in_one_round_on_star_input(spark):
    """An already-star edge set must converge in exactly ONE round (the
    old checksum-equality check needed a second, confirming round)."""
    import lasvdedup_spark.operators.components as comp

    star = spark.createDataFrame(
        [("B", "A"), ("C", "A")], ["src", "dst"]
    )
    calls = []
    orig = comp._star_violations
    try:
        comp._star_violations = lambda e: calls.append(1) or orig(e)
        got = {
            r["id"]: r["component"]
            for r in comp.connected_components(star).collect()
        }
    finally:
        comp._star_violations = orig
    assert got == {"A": "A", "B": "A", "C": "A"}
    assert len(calls) == 1
