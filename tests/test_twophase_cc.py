"""Two-phase (large-star/small-star) connected components — the
diameter-proof ext alternative to min-id propagation (VERDICT r10 item 4:
propagation is O(component diameter) rounds, fine for near-clique dup
graphs but degenerate on chains; star contraction is O(log^2 n) rounds
regardless of shape). Verified against a driver-side union-find oracle and
against the propagation variant on the real MinHash dup graph. The
propagation variant's own edge cases (empty, self-loop-only, string-id,
null-id, null-pair and duplicate-row inputs) are checked against the same oracle,
and its rounds must stay free of driver actions."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from glue_etl_framework_spark.ext.dedup import (
    connected_component_labels,
    connected_component_labels_twophase,
    dedup_keep_representative,
)

SF_ORACLE = "/root/testdata/sf0.01"


def _union_find_labels(ids, edges):
    """Min id of each node's component, for any orderable ids (union-find
    over a dict); ``ids`` may hold None, which labels itself."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # label = min id in component == root under min-union
    return {i: (None if i is None else find(i)) for i in ids}


def _run(spark, n_nodes, edge_list, fn, **kw):
    nodes = spark.createDataFrame([(i,) for i in range(n_nodes)], ["doc_id"])
    if edge_list:
        pairs = spark.createDataFrame(edge_list, ["id_a", "id_b"])
    else:
        pairs = nodes.select(
            F.col("doc_id").alias("id_a"), F.col("doc_id").alias("id_b")
        ).limit(0)
    out = fn(nodes, pairs, id_col="doc_id", **kw)
    return {r["node"]: r["label"] for r in out.collect()}


def test_twophase_matches_union_find_on_random_graphs(spark):
    rng = random.Random(11)
    for trial in range(3):
        n = 60
        edges = [
            tuple(sorted(rng.sample(range(n), 2)))
            for _ in range(rng.randint(10, 50))
        ]
        expected = _union_find_labels(range(n), edges)
        got = _run(spark, n, edges, connected_component_labels_twophase)
        assert got == expected, f"trial {trial}"


def test_twophase_handles_high_diameter_chain(spark):
    """A 64-node path has diameter 63: min-id propagation needs 63 rounds
    (its default max_iterations=10 would stop early), while star
    contraction collapses it within its default round budget — the reason
    this variant exists."""
    n = 64
    edges = [(i, i + 1) for i in range(n - 1)]
    got = _run(spark, n, edges, connected_component_labels_twophase)
    assert got == {i: 0 for i in range(n)}
    # the propagation variant at a chain-sized round budget agrees too
    prop = _run(spark, n, edges, connected_component_labels, max_iterations=n)
    assert prop == got


def test_twophase_isolated_nodes_and_empty_graph(spark):
    got = _run(spark, 5, [], connected_component_labels_twophase)
    assert got == {i: i for i in range(5)}
    got = _run(spark, 5, [(3, 4)], connected_component_labels_twophase)
    assert got == {0: 0, 1: 1, 2: 2, 3: 3, 4: 3}


def test_twophase_matches_propagation_on_minhash_graph(spark):
    """On the real near-dup graph (near-cliques) both algorithms must
    produce the oracle-checked labeling of dedup_connected_components."""
    from glue_etl_framework_spark.queries import t
    from glue_etl_framework_spark.queries.dedup import dedup_minhash_lsh

    d = t(spark, SF_ORACLE, "documents").select("doc_id")
    pairs = dedup_minhash_lsh(spark, SF_ORACLE).select(
        F.col("doc_a").alias("id_a"), F.col("doc_b").alias("id_b")
    )
    two = {
        (r["node"], r["label"])
        for r in connected_component_labels_twophase(d, pairs).collect()
    }
    prop = {
        (r["node"], r["label"])
        for r in connected_component_labels(d, pairs).collect()
    }
    assert two == prop
    assert len(two) == d.count()


def test_propagation_warns_when_round_budget_exhausted(spark):
    """A chain longer than max_iterations must produce a loud UserWarning
    (silently returning non-final labels hands the caller wrong
    components); the two-phase variant converges on the same graph without
    one."""
    import warnings

    n = 24
    edges = [(i, i + 1) for i in range(n - 1)]
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        _run(spark, n, edges, connected_component_labels, max_iterations=3)
    assert any("max_iterations" in str(w.message) for w in caught)

    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        got = _run(spark, n, edges, connected_component_labels_twophase)
    assert not any("max_iterations" in str(w.message) for w in caught)
    assert got == {i: 0 for i in range(n)}


def test_propagation_exhaustion_default_falls_back_to_correct_labels(spark):
    """Strict-by-default (VERDICT r11 item 1): budget exhaustion on a
    chain must NOT surface warned-but-wrong labels — exhaustion always
    reruns via two-phase star contraction, and the returned labels are the
    true component minima despite max_iterations being far below the
    chain's diameter."""
    import warnings

    n = 24
    edges = [(i, i + 1) for i in range(n - 1)]
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        got = _run(spark, n, edges, connected_component_labels, max_iterations=3)
    assert any("falling back" in str(w.message) for w in caught)
    assert got == {i: 0 for i in range(n)}  # final labels, not 3-round truncation


def test_twophase_exhaustion_warns_and_keeps_one_row_per_node(spark):
    """ADVICE r11 (medium): a truncated star-contraction run must never
    emit conflicting (node, label) rows — the min aggregate keeps one row
    per node — and must warn that the fingerprint never stabilized instead
    of silently projecting a non-star edge set."""
    import warnings

    rng = random.Random(7)
    n = 40
    edges = [tuple(sorted(rng.sample(range(n), 2))) for _ in range(60)]
    nodes = spark.createDataFrame([(i,) for i in range(n)], ["doc_id"])
    pairs = spark.createDataFrame(edges, ["id_a", "id_b"])
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        out = connected_component_labels_twophase(
            nodes, pairs, id_col="doc_id", max_iterations=0
        )
        rows = out.collect()
    assert any("fingerprint stabilized" in str(w.message) for w in caught)
    # one row per node, even though the projected edge set is not a star
    assert len(rows) == n
    assert len({r["node"] for r in rows}) == n
    # and a converged rerun on the same graph matches the union-find oracle
    assert _run(spark, n, edges, connected_component_labels_twophase) == _union_find_labels(range(n), edges)


# (doc rows, id type, pair rows): each case's expected labels and kept rows
# come from the union-find oracle over the pairs with no null end.
CC_EDGE_CASES = {
    "empty_pairs": ([(1, "a"), (2, "b"), (3, "c")], "long", []),
    "self_loops_only": ([(1, "a"), (2, "b"), (3, "c")], "long", [(1, 1), (3, 3)]),
    "string_ids": (
        [("x", "a"), ("y", "b"), ("z", "c"), ("w", "d")], "string",
        [("x", "y"), ("z", "y")],
    ),
    "null_id_dropped": ([(1, "a"), (None, "n"), (2, "b"), (3, "c")], "long", [(1, 2)]),
    "duplicate_rows_kept": (
        [(1, "a"), (1, "a"), (2, "b"), (3, "c"), (3, "c")], "long", [(1, 2)],
    ),
    "null_pair_ignored": (
        [(1, "a"), (2, "b"), (3, "c"), (4, "d")], "long",
        [(1, 2), (2, None), (None, 3), (None, None)],
    ),
}


@pytest.mark.parametrize("case", sorted(CC_EDGE_CASES))
def test_propagation_edge_cases_match_union_find(spark, case):
    rows, id_type, pair_rows = CC_EDGE_CASES[case]
    df = spark.createDataFrame(rows, f"doc_id {id_type}, text string")
    pairs = spark.createDataFrame(pair_rows, f"id_a {id_type}, id_b {id_type}")
    # A pair with a null end joins no label, so it links nothing.
    comp = _union_find_labels({r[0] for r in rows}, [p for p in pair_rows if None not in p])

    m: dict = {}
    labels = connected_component_labels(df, pairs, metrics=m).collect()
    assert sorted(((r["node"], r["label"]) for r in labels), key=repr) == sorted(
        comp.items(), key=repr
    )
    assert m["cc_converged"] is True and m["cc_fallback"] is False

    kept = dedup_keep_representative(df, pairs).collect()
    expected = [r for r in rows if r[0] is not None and comp[r[0]] == r[0]]
    assert sorted(map(tuple, kept), key=repr) == sorted(expected, key=repr)


def test_propagation_zero_round_budget_runs_no_round_and_falls_back(spark):
    edges = [(0, 1), (1, 2)]
    nodes = spark.createDataFrame([(i,) for i in range(4)], ["doc_id"])
    pairs = spark.createDataFrame(edges, ["id_a", "id_b"])
    m: dict = {}
    with pytest.warns(UserWarning, match="falling back"):
        got = {
            r["node"]: r["label"]
            for r in connected_component_labels(
                nodes, pairs, max_iterations=0, metrics=m
            ).collect()
        }
    assert m == {"cc_rounds": 0, "cc_converged": False, "cc_fallback": True}
    assert got == _union_find_labels(range(4), edges)


DRIVER_ACTIONS = ("collect", "first", "count", "take", "head", "toPandas", "toLocalIterator")


def test_propagation_rounds_make_no_driver_action(spark, monkeypatch):
    """Convergence is counted by an Observation on each round's own
    checkpoint job, so a whole connected_component_labels call on a
    3-round chain brings no row to the driver: a reintroduced fingerprint
    collect (or any count/first probe) fails here. A call count, so it
    does not depend on the host's cores."""
    nodes = spark.createDataFrame([(i,) for i in range(5)], ["doc_id"])
    pairs = spark.createDataFrame([(0, 1), (1, 2), (3, 4)], ["id_a", "id_b"])
    calls = []
    for cls in type(nodes).__mro__:
        for name in DRIVER_ACTIONS:
            if name in vars(cls):
                def wrapped(self, *a, _orig=vars(cls)[name], _name=name, **kw):
                    calls.append(_name)
                    return _orig(self, *a, **kw)

                monkeypatch.setattr(cls, name, wrapped)
    m: dict = {}
    labels = connected_component_labels(nodes, pairs, metrics=m)
    assert calls == []
    assert m == {"cc_rounds": 3, "cc_converged": True, "cc_fallback": False}
    monkeypatch.undo()
    assert {r["node"]: r["label"] for r in labels.collect()} == {
        0: 0, 1: 0, 2: 0, 3: 3, 4: 3,
    }
