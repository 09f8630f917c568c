"""Tests for plan capture/featurization (SURVEY §2.D) and the numpy
tree-conv ranker (§2.D model rows). The gradient checks are the safety net
for the hand-written backprop."""

from __future__ import annotations

import json
from collections import Counter
from dataclasses import dataclass

import numpy as np
import pytest

from tests.conftest import SF_SMALL

from active_query_optimizer_spark.plans import featurize as FZ
from active_query_optimizer_spark.plans import explore as EX
from active_query_optimizer_spark.model import tcnn
from active_query_optimizer_spark.model import lero as L


def _pg_plan(op="Seq Scan", rows=100, rel="t1", children=()):
    d = {"Node Type": op, "Plan Rows": rows, "Plan Width": 8}
    if rel:
        d["Relation Name"] = rel
    if children:
        d["Plans"] = list(children)
    return d


# ----------------------------------------------------------- featurizer

def test_pg_json_roundtrip_and_binarize():
    plan = {"Plan": _pg_plan("Aggregate", 1, None, [
        _pg_plan("Hash Join", 50, None, [
            _pg_plan("Seq Scan", 100, "t1"),
            _pg_plan("Hash", 40, None, [_pg_plan("Seq Scan", 40, "t2")]),
        ])]), "Execution Time": 123.4}
    tree, ms = FZ.from_pg_json(json.dumps(plan))
    assert ms == 123.4
    assert tree.preorder_ops() == [
        "Aggregate", "Hash Join", "Seq Scan", "Hash", "Seq Scan"]
    # round-trip through the bundle serialization
    tree2, ms2 = FZ.from_pg_json(FZ.to_pg_json(tree, ms))
    assert FZ.plan_fingerprint(tree2) == FZ.plan_fingerprint(tree)
    assert ms2 == ms

    fg = FZ.FeatureGenerator().fit([tree], [ms])
    # 15 ops + 2 relations + 1 unknown + width + rows
    assert fg.input_feature_dim == 15 + 2 + 1 + 2
    vecs, tri = fg.transform_tree(tree)
    # unary Aggregate got a phantom right child (zero vector)
    assert tri[0, 1] > 0 and tri[0, 2] > 0
    assert not vecs[tri[0, 2] - 1].any()
    # root relation multiset counts both scans
    rel_slice = vecs[0, 15:18]
    assert rel_slice.tolist() == [1.0, 1.0, 0.0]


def test_unknown_ops_and_relations_map_to_unknown_slots():
    tree, _ = FZ.from_pg_json(json.dumps(
        {"Plan": _pg_plan("Gather", 10, "never_seen")}))
    assert tree.op == "Unknown"
    fg = FZ.FeatureGenerator().fit(
        [FZ.from_pg_json(json.dumps({"Plan": _pg_plan()}))[0]], [1.0])
    vecs, _ = fg.transform_tree(tree)
    assert vecs[0, FZ.OP_TYPES.index("Unknown")] == 1.0
    assert vecs[0, 15 + 1] == 1.0  # unknown-relation slot


def test_prepare_trees_shapes_and_indexes():
    plan = {"Plan": _pg_plan("Hash Join", 5, None, [
        _pg_plan("Seq Scan", 3, "a"), _pg_plan("Seq Scan", 2, "b")])}
    tree, _ = FZ.from_pg_json(json.dumps(plan))
    fg = FZ.FeatureGenerator().fit([tree], [1.0])
    trees, labels = fg.transform([tree, tree], [1.0, None])
    rows, tri, n_nodes = FZ.prepare_trees(trees)
    assert rows.shape == (7, fg.input_feature_dim)  # 2 x 3 nodes + zero row
    assert tri.shape == (6, 3)
    assert n_nodes.tolist() == [3, 3]
    # root triple references children; zero row is all zeros
    assert tri[0].tolist() == [1, 2, 3]
    assert not rows[0].any()
    # the second tree's triples are shifted by its row offset
    assert tri[3:].tolist() == [[4, 5, 6], [5, 0, 0], [6, 0, 0]]
    assert (rows[4:] == rows[1:4]).all()


def test_normalizer_inverse():
    n = FZ.Normalizer(0.0, 5.0)
    for v in [0.0, 1.0, 100.0]:
        assert n.inverse_norm(n.norm(v)) == pytest.approx(v, rel=1e-9)


# ------------------------------------------------------ numpy gradients

def _num_grad(f, x, eps=1e-6):
    g = np.zeros_like(x)
    it = np.nditer(x, flags=["multi_index"])
    while not it.finished:
        i = it.multi_index
        old = x[i]
        x[i] = old + eps
        fp = f()
        x[i] = old - eps
        fm = f()
        x[i] = old
        g[i] = (fp - fm) / (2 * eps)
        it.iternext()
    return g


def _packed_case(counts, C, rng):
    """Random packed rows (row 0 zero) for trees of ``counts`` nodes."""
    seg = tcnn.Segments(np.array(counts))
    x = rng.normal(size=(int(sum(counts)) + 1, C))
    x[0] = 0.0
    return x, seg


def test_treeconv_gradcheck():
    rng = np.random.default_rng(0)
    C = 3
    x, seg = _packed_case([5, 3], C, rng)
    T = len(x) - 1
    # (self, left, right) rows of two binary trees in preorder, as
    # prepare_trees packs them; 0 is the zero row standing in for an
    # absent child, whose gradient backward does not compute
    tri = np.array([[1, 2, 5], [2, 3, 4], [3, 0, 0], [4, 0, 0], [5, 0, 0],
                    [6, 7, 8], [7, 0, 0], [8, 0, 0]])
    conv = tcnn.BinaryTreeConv(C, 5, rng)

    def loss():
        return float(conv.forward(x, tri, seg).sum())

    conv.forward(x, tri, seg)
    dx = conv.backward(np.ones((T + 1, 5)))
    assert np.allclose(dx[1:], _num_grad(loss, x)[1:], atol=1e-5)
    conv.dW[...] = 0
    conv.db[...] = 0
    conv.forward(x, tri, seg)
    assert conv.backward(np.ones((T + 1, 5)), input_grad=False) is None
    assert np.allclose(conv.dW, _num_grad(loss, conv.W), atol=1e-5)
    assert np.allclose(conv.db, _num_grad(loss, conv.b), atol=1e-5)


def test_layernorm_gradcheck():
    rng = np.random.default_rng(1)
    x, seg = _packed_case([3, 2], 3, rng)
    ln = tcnn.TreeLayerNorm()
    w = rng.normal(size=x.shape)  # project so grad isn't trivially zero

    def loss():
        return float((ln.forward(x, None, seg) * w).sum())

    ln.forward(x, None, seg)
    dx = ln.backward(w)
    num = _num_grad(loss, x)
    # the zero row feeds nothing: 0 analytically and numerically
    assert not dx[0].any()
    assert np.allclose(dx, num, atol=1e-4)


def test_pool_first_max_tie_rule():
    """Equal maxima inside a tree (identical subtrees score identically)
    send the gradient to the first row, like ``argmax``."""
    x = np.array([[0.0, 0.0], [1.0, 5.0], [3.0, 5.0], [3.0, 2.0],
                  [7.0, 7.0]])
    pool = tcnn.DynamicPooling()
    emb = pool.forward(x, tcnn.Segments(np.array([3, 1])))
    assert emb.tolist() == [[3.0, 5.0], [7.0, 7.0]]
    dx = pool.backward(np.array([[1.0, 2.0], [3.0, 4.0]]))
    assert dx.tolist() == [[0, 0], [0, 2], [1, 0], [0, 0], [3, 4]]


def test_segments_reject_empty_tree():
    with pytest.raises(ValueError):
        tcnn.Segments(np.array([2, 0, 1]))


def test_full_net_gradcheck_small():
    rng = np.random.default_rng(2)
    B, C, M = 2, 4, 3
    rows = rng.normal(size=(B * M + 1, C))
    rows[0] = 0
    local = np.array([[1, 2, 3], [2, 0, 0], [3, 0, 0]])
    tri = np.concatenate([np.where(local > 0, local + b * M, 0)
                          for b in range(B)])
    n_nodes = np.array([M, M])
    net = tcnn.LeroNet(C, seed=3, hidden=(6, 5, 4))

    def loss():
        s, _ = net.forward(rows, tri, n_nodes)
        return float(s.sum())

    net.zero_grad()
    net.forward(rows, tri, n_nodes)
    net.backward(np.ones(B))
    p, g = net.params()[0]  # first conv W
    assert np.allclose(g, _num_grad(loss, p), atol=1e-4)


def test_scores_are_batch_invariant():
    """Batch mates must not leak: a tree scores identically alone and
    batched with a much larger tree (the distributed-scoring invariant)."""
    small = FZ.PlanNode("Seq Scan", relation="a", rows=10, width=2)
    big = small
    for _ in range(6):
        big = FZ.PlanNode("Hash Join", rows=50, width=4,
                          children=[big, FZ.PlanNode("Seq Scan", relation="b",
                                                     rows=5, width=2)])
    fg = FZ.FeatureGenerator().fit([small, big], [1.0, 2.0])
    net = tcnn.LeroNet(fg.input_feature_dim, seed=7, hidden=(8, 6, 4))
    ts, tb = fg.transform_tree(small), fg.transform_tree(big)

    f1, i1, n1 = FZ.prepare_trees([ts])
    solo, _ = net.forward(f1, i1, n1)
    f2, i2, n2 = FZ.prepare_trees([ts, tb])
    batched, _ = net.forward(f2, i2, n2)
    assert batched[0] == pytest.approx(solo[0], rel=1e-12)


# ------------------------------------------- packed vs padded parity

@dataclass
class _VecNode:
    vec: np.ndarray
    children: list


def _ref_vec_tree(fg, tree):
    """The object-tree transform the flat trees replaced, as a
    reference: one ``_VecNode`` per plan node, a zero-vector phantom right
    child under every unary node."""
    n_rel = len(fg.relations) + 1

    def walk(n):
        rel_counts = np.zeros(n_rel)
        if n.relation:
            rel_counts[fg._rel_index.get(n.relation, n_rel - 1)] += 1
        kids = []
        for c in n.children:
            v, rc = walk(c)
            kids.append(v)
            rel_counts += rc
        if len(kids) == 1:
            kids.append(_VecNode(np.zeros(fg.input_feature_dim), []))
        return _VecNode(fg._node_vec(n, rel_counts), kids), rel_counts

    return walk(tree)[0]


def _ref_flatten(tree):
    """Preorder vectors and 1-based (self, left, right) triples of a
    ``_VecNode`` tree."""
    vecs, triples = [], []

    def walk(n):
        idx = len(vecs) + 1
        vecs.append(n.vec)
        triples.append((idx, 0, 0))
        kids = [walk(c) for c in n.children]
        if kids:
            triples[idx - 1] = (idx, kids[0], kids[1] if len(kids) > 1 else 0)
        return idx

    walk(tree)
    return vecs, triples


def _ref_padded(fg, plans):
    """The padded batch the packed one replaced: (features (B, C, N+1)
    with a zero column 0, indexes (B, 3N) padded with (0, 0, 0) triples,
    n_nodes (B,))."""
    flat = [_ref_flatten(_ref_vec_tree(fg, p)) for p in plans]
    max_n = max(len(v) for v, _ in flat)
    feats = np.zeros((len(plans), fg.input_feature_dim, max_n + 1))
    idx = np.zeros((len(plans), 3 * max_n), dtype=np.int64)
    n_nodes = np.zeros(len(plans), dtype=np.int64)
    for b, (vecs, triples) in enumerate(flat):
        for i, v in enumerate(vecs):
            feats[b, :, i + 1] = v
        idx[b, : 3 * len(triples)] = np.asarray(triples).reshape(-1)
        n_nodes[b] = len(vecs)
    return feats, idx, n_nodes


def _ref_pack(feats, idx, n_nodes):
    """The padded batch packed onto its real nodes, as the net once did
    before its first layer: (rows (T+1, C), global triples (T, 3),
    n_nodes)."""
    B, C, n1 = feats.shape
    starts = np.cumsum(n_nodes) - n_nodes
    real = np.arange(n1 - 1)[None, :] < n_nodes[:, None]
    rows = np.zeros((int(n_nodes.sum()) + 1, C))
    rows[1:] = feats[:, :, 1:].transpose(0, 2, 1)[real]
    glob = np.where(idx > 0, idx + starts[:, None], 0)
    return rows, glob.reshape(B, n1 - 1, 3)[real], n_nodes


def _padded_ref(net, feats, idx, n_nodes, dscore):
    """The padded forward/backward the packed net replaced, as a
    reference: every layer runs on the (B, C, N+1) ``_ref_padded``
    tensor with a real-node mask, ``dW`` is an einsum and the scatter is a
    per-sample ``np.add.at``. Uses ``net``'s weights; returns (scores,
    embeddings, gradients in ``net.params()`` order)."""
    B, _, n1 = feats.shape
    cols = np.arange(n1)[None, :]
    m = ((cols >= 1) & (cols <= np.asarray(n_nodes)[:, None]))[:, None, :]
    convs = [layer for layer in net.tree if layer.params()]
    slope = tcnn.LEAKY_SLOPE
    x, caches = feats, []
    for k, conv in enumerate(convs):
        C, M = x.shape[1], idx.shape[1] // 3
        g = np.take_along_axis(x, idx[:, None, :], axis=2)
        g = g.reshape(B, C, M, 3).transpose(0, 2, 3, 1).reshape(B, M, 3 * C)
        y = np.zeros((B, conv.c_out, M + 1))
        y[:, :, 1:] = (g @ conv.W.T + conv.b).transpose(0, 2, 1)
        y *= m
        n = conv.c_out * m.sum(axis=2, keepdims=True)
        mu = (y * m).sum(axis=(1, 2), keepdims=True) / n
        var = (((y - mu) * m) ** 2).sum(axis=(1, 2), keepdims=True) / n
        inv = 1.0 / np.sqrt(var + tcnn.TreeLayerNorm.EPS)
        z = (y - mu) * inv * m
        caches.append((x.shape, g, inv, z, n))
        x = np.where(z >= 0, z, slope * z) if k < len(convs) - 1 else z
    neg = np.where(m, x, -np.inf)
    arg = neg.argmax(axis=2)
    emb = neg.max(axis=2)
    l1, l2 = net.head[0], net.head[2]
    h = emb @ l1.W.T + l1.b
    a = np.where(h >= 0, h, slope * h)
    scores = (a @ l2.W.T + l2.b)[:, 0]

    d = np.asarray(dscore)[:, None]
    head = [d.T @ a, d.sum(axis=0)]
    da = d @ l2.W
    dh = np.where(h >= 0, da, slope * da)
    head = [dh.T @ emb, dh.sum(axis=0)] + head
    dx = np.zeros(x.shape)
    bi, ci = np.meshgrid(np.arange(B), np.arange(x.shape[1]), indexing="ij")
    dx[bi, ci, arg] = dh @ l1.W
    grads = []
    for k in reversed(range(len(convs))):
        x_shape, g, inv, z, n = caches[k]
        if k < len(convs) - 1:
            dx = np.where(z >= 0, dx, slope * dx)
        dx = dx * m
        dz_sum = dx.sum(axis=(1, 2), keepdims=True)
        dzz_sum = (dx * z).sum(axis=(1, 2), keepdims=True)
        dout = inv * (dx - m * dz_sum / n - z * dzz_sum / n) * m
        dy = dout[:, :, 1:].transpose(0, 2, 1)
        grads[:0] = [np.einsum("bmo,bmi->oi", dy, g), dy.sum(axis=(0, 1))]
        C, M = x_shape[1], dy.shape[1]
        dg = (dy @ convs[k].W).reshape(B, M, 3, C).transpose(0, 3, 1, 2)
        dg = dg.reshape(B, C, 3 * M)
        dx = np.zeros(x_shape)
        for b in range(B):
            np.add.at(dx[b].T, idx[b], dg[b].T)
    return scores, emb, grads + head


def _cache_plans(n):
    """The first ``n`` plans of the committed label cache, decoded."""
    import gzip
    import os

    root = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), ".label_cache")
    plans = []
    for f in sorted(os.listdir(root)):
        if not f.endswith(".json.gz") or f.endswith("-probe.json.gz"):
            continue
        with gzip.open(os.path.join(root, f), "rt") as fh:
            raw = json.load(fh)
        if isinstance(raw, list):
            plans += [FZ.from_pg_json(r["plan_json"])[0] for r in raw]
        if len(plans) >= n:
            return plans[:n]
    pytest.skip("label cache holds fewer plans than needed")


def _assert_close(got, want, rtol=1e-12):
    """Equal up to ``rtol`` of the reference's largest magnitude: the
    packed net sums in another order, so the last digits may differ."""
    got, want = np.asarray(got), np.asarray(want)
    assert got.shape == want.shape
    assert np.abs(got - want).max() <= rtol * max(np.abs(want).max(), 1e-300)


def _parity_plans(source):
    """(plans, hidden widths): trees of mixed depth, or the first 64 plans
    of the label cache (a third of the padded columns are real)."""
    if source == "mixed":
        plans = []
        for depth in (0, 1, 5, 2, 9, 3):
            node = FZ.PlanNode("Seq Scan", relation="a", rows=10.0, width=2)
            for d in range(depth):
                kid = FZ.PlanNode("Seq Scan", relation="b", rows=5.0 + d,
                                  width=2)
                node = FZ.PlanNode("Hash Join", rows=50.0 + d, width=4,
                                   children=[node, kid])
            plans.append(node)
        return plans, (8, 6, 4)
    return _cache_plans(64), tcnn.LeroNet.HIDDEN


@pytest.mark.parametrize("source", ["mixed", "label_cache"])
def test_prepare_trees_matches_padded_then_packed_reference(source):
    """Flat trees stacked by ``prepare_trees`` are bit-equal to the object
    tree → flatten → pad → pack path they replaced: rows, triples and
    node counts."""
    plans, _ = _parity_plans(source)
    fg = FZ.FeatureGenerator().fit(plans, [1.0] * len(plans))
    rows, tri, n_nodes = FZ.prepare_trees(
        [fg.transform_tree(p) for p in plans])
    want_rows, want_tri, want_n = _ref_pack(*_ref_padded(fg, plans))
    assert rows.dtype == want_rows.dtype and tri.dtype == want_tri.dtype
    assert np.array_equal(rows, want_rows)
    assert np.array_equal(tri, want_tri)
    assert np.array_equal(n_nodes, want_n)


@pytest.mark.parametrize("source", ["mixed", "label_cache"])
def test_packed_net_matches_padded_reference(source):
    """Scores, embeddings and every conv/head ``dW``/``db`` of the packed
    net equal the padded reference's on batches whose trees differ in
    size (a third of the padded columns are real on the cache batch)."""
    plans, hidden = _parity_plans(source)
    fg = FZ.FeatureGenerator().fit(plans, [1.0] * len(plans))
    feats, idx, n_nodes = _ref_padded(fg, plans)
    assert len(set(n_nodes.tolist())) > 1
    net = tcnn.LeroNet(fg.input_feature_dim, seed=5, hidden=hidden)
    dscore = np.random.default_rng(6).normal(size=len(plans))
    want_s, want_e, want_g = _padded_ref(net, feats, idx, n_nodes, dscore)
    net.zero_grad()
    scores, emb = net.forward(*FZ.prepare_trees(
        [fg.transform_tree(p) for p in plans]))
    net.backward(dscore)
    _assert_close(scores, want_s)
    _assert_close(emb, want_e)
    got_g = [g for _, g in net.params()]
    assert len(got_g) == len(want_g) == 10
    for got, want in zip(got_g, want_g):
        _assert_close(got, want)


def test_treeconv_scatter_matches_add_at_on_label_cache():
    """``BinaryTreeConv.backward``'s buffered per-slot scatter equals
    ``np.add.at`` on every real row of 400 label-cache plans: within a
    triple slot a real row appears at most once; only the zero row 0
    repeats, and its gradient is never read."""
    plans = _cache_plans(400)
    fg = FZ.FeatureGenerator().fit(plans, [1.0] * len(plans))
    rows, tri, n_nodes = FZ.prepare_trees(
        [fg.transform_tree(p) for p in plans])
    assert (tri[:, 1:] == 0).any()
    for k in range(3):
        real = tri[:, k][tri[:, k] > 0]
        assert len(np.unique(real)) == len(real)
    net = tcnn.LeroNet(fg.input_feature_dim, seed=3)
    net.forward(rows, tri, n_nodes)
    rng = np.random.default_rng(8)
    convs = [layer for layer in net.tree
             if isinstance(layer, tcnn.BinaryTreeConv)]
    for conv in convs:
        dout = rng.normal(size=(len(tri) + 1, conv.c_out))
        dout[0] = 0.0
        dx = conv.backward(dout)
        dg = (dout[1:] @ conv.W).reshape(len(tri), 3, conv.c_in)
        want = np.zeros_like(dx)
        for k in range(3):
            np.add.at(want, tri[:, k], dg[:, k])
        assert np.array_equal(dx[1:], want[1:])


# ------------------------------------------------------------ training

def _synthetic_bundles(n_queries=30, seed=4, depths=(1, 3)):
    """Bundles where deeper join trees are slower — a learnable signal."""
    rng = np.random.default_rng(seed)
    bundles = []
    for q in range(n_queries):
        cands = []
        for depth in depths:
            node = FZ.PlanNode("Seq Scan", relation="t1",
                               rows=float(rng.integers(10, 1000)), width=4)
            for _ in range(depth):
                right = FZ.PlanNode("Seq Scan", relation="t2",
                                    rows=float(rng.integers(10, 1000)), width=4)
                node = FZ.PlanNode("Hash Join", rows=node.rows + right.rows,
                                   width=8, children=[node, right])
            t = 10.0 * depth + float(rng.normal(0, 0.5))
            cands.append((node, t))
        bundles.append((f"q{q}", cands))
    return bundles


def test_pairwise_learns_to_rank(tmp_path):
    bundles = _synthetic_bundles()
    model = L.train_pairwise_from_bundles(bundles, epochs=30, seed=5)
    correct = 0
    for _, cands in bundles:
        trees = [model.fg.transform_tree(p) for p, _ in cands]
        scores = model.predict(trees)
        truth = np.argmin([t for _, t in cands])
        correct += int(np.argmin(scores) == truth)
    assert correct >= 0.9 * len(bundles)
    # embeddings exist and are 64-d
    emb = model.embeddings([model.fg.transform_tree(bundles[0][1][0][0])])
    assert emb.shape == (1, 64)
    # save/load round trip preserves scores
    model.save(str(tmp_path / "m"))
    back = L.LeroModelPairWise.load(str(tmp_path / "m"))
    t0 = [model.fg.transform_tree(bundles[0][1][0][0])]
    assert np.allclose(back.predict(t0), model.predict(t0))


def _pair_set(bundles):
    """Featurized all-pairs of ``bundles``: (fg, x1, x2, y1, y2)."""
    fg = FZ.FeatureGenerator().fit([p for _, c in bundles for p, _ in c],
                                   [t for _, c in bundles for _, t in c])
    x1, x2, y1, y2 = [], [], [], []
    for _, cands in bundles:
        for (pa, ta), (pb, tb) in L.all_pairs(cands):
            x1.append(fg.transform_tree(pa))
            x2.append(fg.transform_tree(pb))
            y1.append(fg.label_norm.norm(ta))
            y2.append(fg.label_norm.norm(tb))
    return fg, x1, x2, y1, y2


def _three_pass_grads(net, x1, x2, labels, weights, sel):
    """The pairwise step the single pass replaced, as a reference: side 1
    forward, side 2 forward, side 2 backward, then side 1 forward again
    (side 2's forward overwrote its layer caches) and backward. Returns
    the gradients in ``net.params()`` order."""
    b1 = FZ.prepare_trees([x1[i] for i in sel])
    b2 = FZ.prepare_trees([x2[i] for i in sel])
    net.zero_grad()
    s1, _ = net.forward(*b1)
    s1 = s1.copy()
    s2, _ = net.forward(*b2)
    p = L._sigmoid(s1 - s2)
    g = weights[sel] * (p - labels[sel]) / len(sel)
    net.backward(-g)
    net.forward(*b1)
    net.backward(g)
    return [grad.copy() for _, grad in net.params()]


def test_pairwise_step_matches_three_pass_reference(monkeypatch):
    """One ``fit_pairs`` batch — both sides in one forward, one backward
    with ``[g, -g]`` — gives the conv and head ``dW``/``db`` of the
    three-forward/two-backward step, up to gemm summation order."""
    fg, x1, x2, y1, y2 = _pair_set(
        _synthetic_bundles(n_queries=6, depths=(1, 2, 3)))
    # each pair in both orders, so both labels occur
    x1, x2, y1, y2 = x1 + x2, x2 + x1, y1 + y2, y2 + y1
    weights = np.random.default_rng(8).uniform(0.2, 2.0, size=len(x1))
    steps = []
    # record the batch's gradients; skipping the update keeps the weights
    monkeypatch.setattr(tcnn.Adam, "step", lambda self: steps.append(
        [grad.copy() for _, grad in self.params]))
    model = L.LeroModelPairWise(fg, seed=3)
    model.fit_pairs(x1, x2, y1, y2, epochs=1, batch_size=len(x1), seed=9,
                    weights=list(weights))
    assert len(steps) == 1
    labels = (np.asarray(y1) >= np.asarray(y2)).astype(float)
    assert 0 < labels.sum() < len(labels)
    sel = np.random.default_rng(9).permutation(len(x1))
    want = _three_pass_grads(model.net, x1, x2, labels, weights, sel)
    assert len(steps[0]) == len(want) == 10
    # per layer (dW, db) within 1e-12 of the layer's largest magnitude: the
    # output bias's gradient is zero, as the two sides cancel exactly
    for k in range(0, len(want), 2):
        scale = max(np.abs(want[k]).max(), np.abs(want[k + 1]).max())
        assert scale > 0
        for got, ref in zip(steps[0][k:k + 2], want[k:k + 2]):
            assert np.abs(got - ref).max() <= 1e-12 * scale


def _count_calls(monkeypatch, cls, attr, counts):
    fn = cls.__dict__[attr]

    def counted(*args, **kwargs):
        counts[attr] += 1
        return fn(*args, **kwargs)
    monkeypatch.setattr(cls, attr, counted)


def test_one_forward_and_backward_per_pairwise_batch(monkeypatch):
    fg, x1, x2, y1, y2 = _pair_set(_synthetic_bundles(n_queries=5,
                                                      depths=(1, 2, 3)))
    counts = Counter()
    for attr in ("forward", "backward"):
        _count_calls(monkeypatch, tcnn.LeroNet, attr, counts)
    assert len(x1) == 15
    L.LeroModelPairWise(fg).fit_pairs(x1, x2, y1, y2, epochs=2,
                                      batch_size=4)
    assert counts == {"forward": 8, "backward": 8}  # 2 epochs x 4 batches


def test_one_transform_per_plan_in_pairwise_training(monkeypatch):
    """The pretrain set and the pairs reuse each plan's flat tree."""
    bundles = _synthetic_bundles(n_queries=4, depths=(1, 2, 3))
    counts = Counter()
    _count_calls(monkeypatch, FZ.FeatureGenerator, "transform_tree", counts)
    L.train_pairwise_from_bundles(bundles, epochs=1, pretrain_epochs=1,
                                  pair_weighting="latency_delta")
    assert counts["transform_tree"] == sum(len(c) for _, c in bundles) == 12


def test_rank_scores():
    assert L.all_pairs([1, 2, 3]) == [(1, 2), (1, 3), (2, 3)]


# --------------------------------------------------- live plan capture

def test_capture_plan_real_join(spark):
    from active_query_optimizer_spark.catalog import register_views

    register_views(spark, SF_SMALL)
    df = spark.sql(
        "SELECT COUNT(*) FROM orders o, customer c "
        "WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 1000")
    df.collect()
    tree = FZ.capture_plan(df, executed=True)
    ops = tree.preorder_ops()
    assert "Hash Join" in ops
    assert ops.count("Seq Scan") == 2
    scans = [n for n in _walk(tree) if n.op == "Seq Scan"]
    assert {s.relation for s in scans} == {"orders", "customer"}
    assert all(s.rows > 0 for s in scans)  # numOutputRows captured


def _walk(n):
    yield n
    for c in n.children:
        yield from _walk(c)


def test_plan_variants_and_labeling(spark):
    from active_query_optimizer_spark.catalog import register_views

    register_views(spark, SF_SMALL)
    sql = ("SELECT COUNT(*) FROM customer c, nation n "
           "WHERE c.c_nationkey = n.n_nationkey")
    cands = EX.plan_variants(spark, sql)
    assert len(cands) >= 2  # default collapses into one of the hinted forms
    assert len({c.fingerprint for c in cands}) == len(cands)
    joins = {op for c in cands for op in c.plan.preorder_ops()
             if "Join" in op or op == "Nested Loop"}
    assert len(joins) >= 2  # genuinely different strategies realized

    labeled = EX.label_query(spark, sql, EX.HINT_STRATEGIES,
                             EX.LABEL_TIMEOUT_S)
    assert all(c.exec_time_ms and c.exec_time_ms > 0 for c in labeled)
    lines = EX.bundles_to_lines([("q0", labeled)])
    assert lines[0].startswith("q0#####")
    # bundle line parses back into the reference's corpus format
    first = lines[0].split("#####")[1]
    tree, ms = FZ.from_pg_json(first)
    assert ms > 0 and tree.preorder_ops()


def test_join_order_rotation_variants(spark):
    from active_query_optimizer_spark.catalog import register_views

    register_views(spark, SF_SMALL)
    sql = ("SELECT COUNT(*) FROM lineitem l, orders o, customer c "
           "WHERE l.l_orderkey = o.o_orderkey AND o.o_custkey = c.c_custkey "
           "AND l.l_quantity > 10")
    rot1 = EX.reorder_from_clause(sql, 1)
    assert rot1 != sql and "FROM orders o, customer c, lineitem l" in rot1
    # rotated SQL is still the same query
    assert spark.sql(rot1).collect() == spark.sql(sql).collect()
    # rotations widen the distinct-candidate set beyond hints alone
    only_hints = EX.plan_forms(spark, [f for f in EX.variant_forms(sql)
                                       if not f[0].startswith("rot")])
    with_rots = EX.plan_variants(spark, sql)
    assert len(with_rots) >= len(only_hints)
    assert any(c.variant.startswith("rot") for c in with_rots)
    assert len({c.fingerprint for c in with_rots}) == len(with_rots)


def test_conf_knob_variants_widen_candidates(spark):
    """SURVEY §7.3c / Lero knob analog: session-conf dimensions
    (autoBroadcastJoinThreshold, runtime bloom filter) add genuinely
    distinct plans and the overrides never leak out of planning."""
    from active_query_optimizer_spark.catalog import register_views

    register_views(spark, SF_SMALL)
    sql = ("SELECT COUNT(*) FROM customer c, nation n "
           "WHERE c.c_nationkey = n.n_nationkey")
    before = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    # the default form plus the conf forms: no hints, no rotations
    forms = [f for f in EX.variant_forms(sql, strategies=())
             if not f[0].startswith("rot")]
    no_knobs = EX.plan_forms(spark, [f for f in forms if not f[2]])
    with_knobs = EX.plan_forms(spark, forms)
    assert spark.conf.get("spark.sql.autoBroadcastJoinThreshold") == before
    assert len(with_knobs) > len(no_knobs)  # -1 threshold forces a non-
    assert any(c.variant == "nobroadcast" and c.conf for c in with_knobs)
    # broadcast join plan distinct from the default broadcast one
    fps = {c.fingerprint for c in with_knobs}
    assert len(fps) == len(with_knobs)


def _join_fp(join: str, *tables: str) -> str:
    """Fingerprint of a COUNT(*)/GROUP BY over a left-deep chain of
    ``join`` nodes scanning ``tables`` in order."""
    tree = f"Seq Scan[{tables[0]}]()"
    for t in tables[1:]:
        tree = f"{join}[]({tree},Seq Scan[{t}]())"
    return f"Aggregate[](Aggregate[]({tree}))"


#: ``plan_variants``' (variant, fingerprint) lists for three sf0.001 joins:
#: a change to how forms are listed or planned must not move a candidate
_PINNED_VARIANTS = [
    ("SELECT COUNT(*) FROM customer c, nation n "
     "WHERE c.c_nationkey = n.n_nationkey",
     [("default", _join_fp("Hash Join", "customer", "nation")),
      ("merge", _join_fp("Merge Join", "customer", "nation")),
      ("shuffle_replicate_nl", _join_fp("Nested Loop", "customer", "nation")),
      ("rot1", _join_fp("Hash Join", "nation", "customer"))]),
    ("SELECT COUNT(*) FROM lineitem l, orders o, customer c "
     "WHERE l.l_orderkey = o.o_orderkey AND o.o_custkey = c.c_custkey "
     "AND l.l_quantity > 10",
     [("default", _join_fp("Hash Join", "lineitem", "orders", "customer")),
      ("merge", _join_fp("Merge Join", "lineitem", "orders", "customer")),
      ("shuffle_replicate_nl",
       _join_fp("Nested Loop", "lineitem", "orders", "customer")),
      ("rot1", _join_fp("Hash Join", "orders", "customer", "lineitem")),
      ("rot2", _join_fp("Hash Join", "customer", "orders", "lineitem"))]),
    ("SELECT n.n_name, COUNT(*) FROM supplier s, nation n, region r "
     "WHERE s.s_nationkey = n.n_nationkey AND n.n_regionkey = r.r_regionkey "
     "AND r.r_name = 'ASIA' GROUP BY n.n_name",
     [("default", _join_fp("Hash Join", "supplier", "nation", "region")),
      ("merge", _join_fp("Merge Join", "supplier", "nation", "region")),
      ("shuffle_replicate_nl",
       _join_fp("Nested Loop", "supplier", "nation", "region")),
      ("rot1", _join_fp("Hash Join", "nation", "region", "supplier")),
      ("rot2", _join_fp("Hash Join", "region", "nation", "supplier"))]),
]


def test_plan_variants_pinned_candidates(spark):
    from active_query_optimizer_spark.catalog import register_views

    register_views(spark, SF_SMALL)
    for sql, expect in _PINNED_VARIANTS:
        got = [(c.variant, c.fingerprint)
               for c in EX.plan_variants(spark, sql)]
        assert got == expect, sql


def test_plan_variants_hints_join_on_relations(spark):
    """A ``JOIN … ON`` query's hint forms name its real aliases, so at
    least one hint strategy plans differently from the default (with a
    condition column read as a relation, every hint form collapsed)."""
    from active_query_optimizer_spark.catalog import register_views

    from tests.test_stats_workload import JOIN_ON_SQL

    register_views(spark, SF_SMALL)
    hints = {s.lower() for s in EX.HINT_STRATEGIES}
    variants = [c.variant for c in EX.plan_variants(spark, JOIN_ON_SQL)]
    assert hints & set(variants), variants


def test_label_query_realized_strategies(spark):
    """The executed plan, not the hint, is the label: candidates record
    realized join nodes, hint_realized is checked against them, and
    realized-duplicate plans are dropped from the bundle."""
    from active_query_optimizer_spark.catalog import register_views

    register_views(spark, SF_SMALL)
    sql = ("SELECT COUNT(*) FROM customer c, nation n "
           "WHERE c.c_nationkey = n.n_nationkey")
    labeled = EX.label_query(spark, sql, EX.HINT_STRATEGIES,
                             EX.LABEL_TIMEOUT_S)
    assert labeled, "no labeled candidates"
    # every labeled candidate ran at least one join and recorded it
    assert all(c.realized_joins for c in labeled)
    # bundles contain no realized-duplicate plans
    fps = [c.fingerprint for c in labeled]
    assert len(fps) == len(set(fps))
    # >=2 realized-distinct join strategies for the flagship-style query
    strategies = {c.realized_joins for c in labeled}
    assert len(strategies) >= 2, strategies
    # hinted variants are verified against the executed plan
    for c in labeled:
        if c.variant in EX._HINT_REALIZATION:
            assert c.hint_realized is True, (c.variant, c.realized_joins)
        else:
            assert c.hint_realized is None
    # real measurements carry the explicit not-timed-out flag
    assert all(c.timed_out is False for c in labeled)


def test_label_query_timeout_penalty(spark):
    """A candidate that blows the labeling deadline is cancelled and
    penalty-labeled (LABEL_TIMEOUT_PENALTY x timeout) instead of hanging
    the loop — the explorer's wall clock must stay bounded even when a
    hint degenerates a join into a near-cartesian plan."""
    import time as _t

    from active_query_optimizer_spark.catalog import register_views

    register_views(spark, SF_SMALL)
    # no equi-condition -> a genuine THREE-way cartesian on lineitem
    # (~1e11 tuples at sf0.001): hours unthrottled, so completing fast
    # proves the cancel works
    sql = ("SELECT COUNT(*) FROM lineitem a, lineitem b, lineitem c "
           "WHERE a.l_quantity + b.l_quantity + c.l_quantity > 90")
    t0 = _t.perf_counter()
    labeled = EX.label_query(spark, sql, strategies=(), timeout_s=3.0)
    wall = _t.perf_counter() - t0
    assert labeled
    penalty_ms = EX.LABEL_TIMEOUT_PENALTY * 3.0 * 1000.0
    assert all(c.exec_time_ms == penalty_ms for c in labeled), (
        [(c.variant, c.exec_time_ms) for c in labeled])
    # the explicit flag distinguishes a penalty label from a real
    # measurement that happens to exceed the threshold (round-12 advice)
    assert all(c.timed_out is True for c in labeled)
    # bounded: variants x timeout plus planning slack
    assert wall < 3.0 * len(labeled) + 60, wall
    # and the session is still healthy for normal queries afterwards
    assert spark.sql("SELECT COUNT(*) AS n FROM region").collect()[0]["n"] >= 0


def test_pretrained_pairwise_learns_to_rank():
    """Pointwise pretrain (round-9 verdict item #6) must compose with the
    pairwise fine-tune: same ranking quality bar as the cold-start
    path."""
    bundles = _synthetic_bundles()
    model = L.train_pairwise_from_bundles(
        bundles, epochs=30, seed=5, pretrain_epochs=10,
        pretrain_mode="latency")
    correct = 0
    for _, cands in bundles:
        trees = [model.fg.transform_tree(p) for p, _ in cands]
        scores = model.predict(trees)
        truth = np.argmin([t for _, t in cands])
        correct += int(np.argmin(scores) == truth)
    assert correct >= 0.9 * len(bundles)


def test_pretrain_bad_mode_rejected():
    """Only the latency pretrain exists: the rank-score family lost to
    it (PRETRAIN_AB.md) and is rejected like any unknown mode."""
    for mode in ("nope", "rank2"):
        with pytest.raises(ValueError):
            L.train_pairwise_from_bundles(
                _synthetic_bundles(), epochs=1, pretrain_epochs=1,
                pretrain_mode=mode)


def test_pretrain_censor_excludes_penalty_labels():
    """Timeout-penalty labels are censored observations: with
    pretrain_censor_ms set, they must not enter the pointwise pretrain
    set (on the sf1 rehearsal an uncensored latency pretrain pushed
    fold regret from 0.06s to 275s by fitting magnitudes to the penalty
    constant), while the pairwise pass still ranks them."""
    bundles = _synthetic_bundles()
    # poison every bundle with one penalty-labeled candidate
    pen = 60000.0
    poisoned = [(q, cands + [(cands[0][0], pen)]) for q, cands in bundles]
    model = L.train_pairwise_from_bundles(
        poisoned, epochs=30, seed=5, pretrain_epochs=10,
        pretrain_mode="latency", pretrain_censor_ms=pen)
    correct = 0
    for _, cands in bundles:
        trees = [model.fg.transform_tree(p) for p, _ in cands]
        scores = model.predict(trees)
        truth = np.argmin([t for _, t in cands])
        correct += int(np.argmin(scores) == truth)
    assert correct >= 0.9 * len(bundles)
    # degenerate: censor below every label -> pretrain set empty, still fits
    model2 = L.train_pairwise_from_bundles(
        bundles, epochs=5, seed=5, pretrain_epochs=5,
        pretrain_mode="latency", pretrain_censor_ms=0.0)
    assert model2.net is not None


def test_pair_weighting_latency_delta_learns_and_validates():
    """Consequence-weighted pairwise objective (round-11 q64-class
    experiment): 'latency_delta' weights each pair by the absolute delta
    of its normalized latency labels. The weighted objective must still
    learn the depth->latency signal, and an unknown mode must fail loudly."""
    import pytest

    bundles = _synthetic_bundles(n_queries=20, seed=9)
    model = L.train_pairwise_from_bundles(bundles, epochs=30, seed=5,
                                          pair_weighting="latency_delta")
    correct = 0
    for _, cands in bundles:
        trees = [model.fg.transform_tree(p) for p, _ in cands]
        scores = model.predict(trees)
        correct += int(np.argmin(scores) == np.argmin([t for _, t in cands]))
    assert correct >= 0.9 * len(bundles)
    with pytest.raises(ValueError, match="pair_weighting"):
        L.train_pairwise_from_bundles(bundles, epochs=1, seed=5,
                                      pair_weighting="bogus")
    # all-tied labels degrade to equal weights, not a zeroed gradient
    tied = [("q0", [(bundles[0][1][0][0], 5.0), (bundles[0][1][1][0], 5.0)])]
    L.train_pairwise_from_bundles(tied, epochs=1, seed=5,
                                  pair_weighting="latency_delta")
