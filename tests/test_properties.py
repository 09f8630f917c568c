"""Property-based tests (hypothesis) for the engine's deterministic
primitives — the invariants the oracle-hash discipline depends on. These
run driver-side (no Spark session) against the same pure functions the
Column expressions and UDFs are built from."""

from __future__ import annotations

import random

import numpy as np
from hypothesis import given, settings, strategies as st

from active_query_optimizer_spark.model import tcnn
from active_query_optimizer_spark.plans import featurize as FZ
from active_query_optimizer_spark.workload import extract as X
from active_query_optimizer_spark.workload import generate as G
from active_query_optimizer_spark.workload.template import fingerprint


RANGE_DICT = {
    "orders": {
        "o_totalprice": {"type": "numeric", "min": 1.0, "max": 9.0},
        "o_orderpriority": {"type": "string",
                            "values": ["a'b", "c", "d-e"]},
        "o_orderdate": {"type": "timestamp",
                        "min": 1_500_000_000, "max": 1_600_000_000},
    },
    "customer": {"c_acctbal": {"type": "numeric", "min": -10, "max": 10}},
    "nation": {"n_name": {"type": "string", "values": ["X", "Y"]}},
}
GRAPH = X.build_join_graph([
    ("customer.c_custkey", "orders.o_custkey"),
    ("customer.c_nationkey", "nation.n_nationkey"),
])


@settings(max_examples=60, deadline=None)
@given(seed=st.integers(0, 2**31 - 1), n_joins=st.integers(1, 4),
       n_filters=st.integers(0, 5))
def test_generated_sql_is_parseable_and_connected(seed, n_joins, n_filters):
    rng = random.Random(seed)
    sql = G.generate_one(rng, GRAPH, RANGE_DICT, [n_joins], [n_filters])
    joins, _ = X.mine_conditions(sql)
    # the mined join graph of a generated query is connected
    tables = {t for j in joins for t in (j[0].split(".")[0],
                                         j[1].split(".")[0])}
    if tables:
        g = X.build_join_graph(joins)
        seen, stack = set(), [next(iter(tables))]
        while stack:
            t = stack.pop()
            if t in seen:
                continue
            seen.add(t)
            stack.extend(o for o, _, _ in g.get(t, []))
        assert seen == tables
    # regeneration with the same seed is identical
    assert sql == G.generate_one(random.Random(seed), GRAPH, RANGE_DICT,
                                 [n_joins], [n_filters])
    # literal quoting never breaks the statement shape
    assert sql.count("'") % 2 == 0


@settings(max_examples=40, deadline=None)
@given(seed=st.integers(0, 2**31 - 1))
def test_template_fingerprint_is_literal_invariant(seed):
    rng = random.Random(seed)
    sql = G.generate_one(rng, GRAPH, RANGE_DICT, [2], [2])
    sql2 = G.generate_one(random.Random(seed + 1), GRAPH, RANGE_DICT, [2], [2])
    same_joins = X.mine_conditions(sql)[0] == X.mine_conditions(sql2)[0]
    same_filters = X.mine_conditions(sql)[1] == X.mine_conditions(sql2)[1]
    if same_joins and same_filters:
        assert fingerprint(sql) == fingerprint(sql2)


def _random_tree(rng: random.Random, depth: int) -> FZ.PlanNode:
    if depth == 0 or rng.random() < 0.3:
        return FZ.PlanNode("Seq Scan", relation=rng.choice(["a", "b", None]),
                           rows=rng.uniform(0, 1e6), width=rng.randint(1, 64))
    kids = [_random_tree(rng, depth - 1)
            for _ in range(rng.choice([1, 1, 2]))]
    op = rng.choice(["Hash Join", "Aggregate", "Sort", "Materialize"])
    return FZ.PlanNode(op if len(kids) == 2 or op != "Hash Join" else "Sort",
                       rows=rng.uniform(0, 1e6), width=rng.randint(1, 64),
                       children=kids)


@settings(max_examples=30, deadline=None)
@given(seed=st.integers(0, 2**31 - 1), depth=st.integers(1, 5))
def test_plan_roundtrip_and_binarization(seed, depth):
    rng = random.Random(seed)
    tree = _random_tree(rng, depth)
    back, ms = FZ.from_pg_json(FZ.to_pg_json(tree, 12.5))
    assert ms == 12.5
    assert FZ.plan_fingerprint(back) == FZ.plan_fingerprint(tree)
    fg = FZ.FeatureGenerator().fit([tree], [1.0])
    vecs, tri = fg.transform_tree(tree)

    def walk(n):
        yield n
        for c in n.children:
            yield from walk(c)

    n_plan = sum(1 for _ in walk(tree))
    n_unary = sum(len(n.children) == 1 for n in walk(tree))
    assert vecs.shape == (n_plan + n_unary, fg.input_feature_dim)
    assert tri[:, 0].tolist() == list(range(1, len(vecs) + 1))
    # strictly binarized: left and right are both 0 or both non-zero
    assert ((tri[:, 1] > 0) == (tri[:, 2] > 0)).all()
    # one phantom per unary node: a zero-vector leaf in a right slot
    phantom = ~vecs.any(axis=1)
    assert phantom.sum() == n_unary
    assert set(np.flatnonzero(phantom) + 1) <= set(tri[:, 2].tolist())
    assert not tri[phantom, 1:].any()
    rows, idx, n_nodes = FZ.prepare_trees([(vecs, tri)])
    assert rows.shape[0] == n_nodes[0] + 1
    assert (idx <= n_nodes[0]).all()


@settings(max_examples=15, deadline=None)
@given(seed=st.integers(0, 2**31 - 1))
def test_net_scores_batch_invariant_random_trees(seed):
    rng = random.Random(seed)
    trees = [_random_tree(rng, rng.randint(1, 4)) for _ in range(3)]
    fg = FZ.FeatureGenerator().fit(trees, [1.0, 2.0, 3.0])
    net = tcnn.LeroNet(fg.input_feature_dim, seed=1, hidden=(6, 5, 4))
    vts = [fg.transform_tree(t) for t in trees]
    f_all, i_all, n_all = FZ.prepare_trees(vts)
    batched, _ = net.forward(f_all, i_all, n_all)
    for k, vt in enumerate(vts):
        f1, i1, n1 = FZ.prepare_trees([vt])
        solo, _ = net.forward(f1, i1, n1)
        assert np.isclose(solo[0], batched[k], rtol=1e-10)
