"""Tree convolution network in pure numpy (forward + analytic backward).

Re-implements the reference's torch stack — ``BinaryTreeConv`` /
``TreeLayerNorm`` / ``TreeActivation(LeakyReLU)`` / ``DynamicPooling``
(``Lero/TreeConvolution/tcnn.py:4-47``) and the LeroNet head
(``Lero/model.py:322-358``: TreeConv in→256→128→64 with norm+LeakyReLU
between, global max-pool, FC 64→32→1) — without torch: this environment has
numpy only, and the nets are small (≤ ~100k params, trees ≤ ~50 nodes), so
driver-side numpy training is faster than any distributed scheme. Inference
*is* distributed — the weights broadcast into a pandas UDF
(``model/infer.py``).

Packed layout. ``prepare_trees`` hands ``LeroNet.forward`` the batch
packed on its real nodes: the B trees' nodes are the rows of one
``(T+1, C)`` matrix — T real nodes, tree after tree, preorder within a
tree — whose row 0 is the zero row standing in for absent children, and
each node's (self, left, right) triple holds *global* row indices into it.
A tree convolution is then one fancy-index gather of the ``(T, 3·C_in)``
triples and one gemm with the ``(C_out, 3·C_in)`` weight — numerically the
reference's stride-3 Conv1d over the gathered sequence (``tcnn.py:17-26``,
``util.py:64-111``) — and no work is spent on padding (on the benchmark's
held-out batch the real nodes are a third of what the reference's padded
batch holds). Every layer keeps row 0 at zero, so the triples stay valid
through the stack.
Per-tree statistics are segment reductions over each tree's contiguous
row range (``np.add.reduceat`` / ``np.maximum.reduceat``).

**Deliberate deviation from the reference**: its ``TreeLayerNorm`` and
``DynamicPooling`` run over the *padded* tensor (``tcnn.py:41-47``), so a
plan's score depends on which other trees share its batch — harmless in its
single-process loop, fatal for distributed scoring where Arrow batch
composition is arbitrary. Here normalization statistics and the max-pool
read only a tree's own rows, so scores are batch-invariant by construction,
up to float association in the gemm (tested: UDF batches == singleton local
scoring).
"""

from __future__ import annotations

import numpy as np

LEAKY_SLOPE = 0.01


class Segments:
    """Row ranges of a packed batch: tree b owns rows
    ``1 + starts[b] … starts[b] + counts[b]`` of the ``(T+1, C)`` matrix;
    ``ids`` is the tree of each real row."""

    def __init__(self, counts: np.ndarray) -> None:
        self.counts = np.asarray(counts, dtype=np.int64)
        # reduceat needs strictly increasing starts: an empty tree would
        # silently take its neighbour's first row
        if (self.counts < 1).any():
            raise ValueError("every tree needs at least one node")
        self.starts = np.cumsum(self.counts) - self.counts
        self.ids = np.repeat(np.arange(len(self.counts)), self.counts)

    def sum(self, per_row: np.ndarray) -> np.ndarray:
        """(T,) → (B,) per-tree sums."""
        return np.add.reduceat(per_row, self.starts)


class BinaryTreeConv:
    """Stride-3 tree convolution: out[t] = W @ concat(x[self], x[left],
    x[right]) + bias for every real node t, with the zero row re-prepended."""

    def __init__(self, c_in: int, c_out: int, rng: np.random.Generator) -> None:
        self.c_in, self.c_out = c_in, c_out
        # torch Conv1d default init: U(-k, k), k = 1/sqrt(C_in * kernel)
        k = 1.0 / np.sqrt(c_in * 3)
        self.W = rng.uniform(-k, k, size=(c_out, 3 * c_in))
        self.b = rng.uniform(-k, k, size=(c_out,))
        self.dW = np.zeros_like(self.W)
        self.db = np.zeros_like(self.b)

    def forward(self, x: np.ndarray, tri: np.ndarray,
                seg: Segments) -> np.ndarray:
        """x (T+1, c_in), tri (T, 3) → (T+1, c_out)."""
        g = x[tri].reshape(len(tri), 3 * self.c_in)   # self | left | right
        out = np.empty((len(tri) + 1, self.c_out))
        out[0] = 0.0
        out[1:] = g @ self.W.T + self.b
        self._cache = (x.shape, tri, g)
        return out

    def backward(self, dout: np.ndarray,
                 input_grad: bool = True) -> np.ndarray | None:
        """dout (T+1, c_out) → dx (T+1, c_in); row 0 of ``dout`` is the
        constant zero row and carries no gradient. The first layer passes
        ``input_grad=False``: nothing consumes the gradient of the input
        features."""
        x_shape, tri, g = self._cache
        dy = dout[1:]
        self.dW += dy.T @ g
        self.db += dy.sum(axis=0)
        if not input_grad:
            return None
        dg = (dy @ self.W).reshape(len(tri), 3, self.c_in)
        dx = np.zeros(x_shape)
        # scatter per triple slot: within a slot every real row appears at
        # most once (self is unique, a row has at most one parent), so the
        # buffered add is exact there; only the zero row 0 repeats, and its
        # gradient is never read (TreeLayerNorm.backward drops row 0)
        for k in range(3):
            dx[tri[:, k]] += dg[:, k]
        return dx

    def params(self):
        return [(self.W, self.dW), (self.b, self.db)]


class TreeLayerNorm:
    """Per-tree normalization over the tree's own (node, channel) values
    (reference ``tcnn.py:40-45`` includes padding — see module docstring)."""

    EPS = 1e-5

    def forward(self, x: np.ndarray, tri: np.ndarray,
                seg: Segments) -> np.ndarray:
        xr = x[1:]
        n = x.shape[1] * seg.counts                   # real elements per tree
        mu = seg.sum(xr.sum(axis=1)) / n
        xc = xr - mu[seg.ids, None]
        var = seg.sum((xc * xc).sum(axis=1)) / n
        inv = 1.0 / np.sqrt(var + self.EPS)
        out = np.empty_like(x)
        out[0] = 0.0
        out[1:] = xc * inv[seg.ids, None]
        self._cache = (out[1:], inv, n, seg)
        return out

    def backward(self, dout: np.ndarray) -> np.ndarray:
        y, inv, n, seg = self._cache
        d = dout[1:]
        dy_mean = seg.sum(d.sum(axis=1)) / n
        dyy_mean = seg.sum((d * y).sum(axis=1)) / n
        dx = np.empty_like(dout)
        dx[0] = 0.0
        dx[1:] = inv[seg.ids, None] * (d - dy_mean[seg.ids, None]
                                       - y * dyy_mean[seg.ids, None])
        return dx

    def params(self):
        return []


class TreeActivation:
    """LeakyReLU (``tcnn.py:31-38`` wraps the activation); keeps row 0 at
    zero."""

    def forward(self, x: np.ndarray, tri: np.ndarray,
                seg: Segments) -> np.ndarray:
        self._mask = x >= 0
        return np.where(self._mask, x, LEAKY_SLOPE * x)

    def backward(self, dout: np.ndarray) -> np.ndarray:
        return np.where(self._mask, dout, LEAKY_SLOPE * dout)

    def params(self):
        return []


class DynamicPooling:
    """Global max-pool over each tree's rows (``tcnn.py:44-47``). The
    gradient goes to the first maximal row, ``argmax``'s tie rule."""

    def forward(self, x: np.ndarray, seg: Segments) -> np.ndarray:
        xr = x[1:]
        emb = np.maximum.reduceat(xr, seg.starts, axis=0)        # (B, C)
        rows = np.arange(1, len(x))[:, None]
        hit = np.where(xr == emb[seg.ids], rows, len(x))
        self._rows = np.minimum.reduceat(hit, seg.starts, axis=0)
        self._shape = x.shape
        return emb

    def backward(self, dout: np.ndarray) -> np.ndarray:
        dx = np.zeros(self._shape)
        dx[self._rows, np.arange(self._shape[1])] = dout
        return dx

    def params(self):
        return []


class Linear:
    def __init__(self, c_in: int, c_out: int, rng: np.random.Generator) -> None:
        k = 1.0 / np.sqrt(c_in)
        self.W = rng.uniform(-k, k, size=(c_out, c_in))
        self.b = rng.uniform(-k, k, size=(c_out,))
        self.dW = np.zeros_like(self.W)
        self.db = np.zeros_like(self.b)

    def forward(self, x: np.ndarray) -> np.ndarray:
        self._x = x
        return x @ self.W.T + self.b

    def backward(self, dout: np.ndarray) -> np.ndarray:
        self.dW += dout.T @ self._x
        self.db += dout.sum(axis=0)
        return dout @ self.W

    def params(self):
        return [(self.W, self.dW), (self.b, self.db)]


class LeakyReLU:
    def forward(self, x: np.ndarray) -> np.ndarray:
        self._mask = x >= 0
        return np.where(self._mask, x, LEAKY_SLOPE * x)

    def backward(self, dout: np.ndarray) -> np.ndarray:
        return np.where(self._mask, dout, LEAKY_SLOPE * dout)

    def params(self):
        return []


class LeroNet:
    """TreeConv in→256→128→64 (+norm+LeakyReLU) → max-pool → FC 64→32→1;
    ``forward`` returns (scores (B,), embeddings (B, 64)) — the embedding is
    what the coreset selector consumes (``Lero/model.py:322-358``,
    ``lero_train.py:224-241``)."""

    HIDDEN = (256, 128, 64)

    def __init__(self, input_dim: int, seed: int = 0,
                 hidden: tuple[int, int, int] = HIDDEN) -> None:
        rng = np.random.default_rng(seed)
        self.input_dim = input_dim
        self.hidden = tuple(hidden)
        h1, h2, h3 = hidden
        self.tree = [
            BinaryTreeConv(input_dim, h1, rng), TreeLayerNorm(), TreeActivation(),
            BinaryTreeConv(h1, h2, rng), TreeLayerNorm(), TreeActivation(),
            BinaryTreeConv(h2, h3, rng), TreeLayerNorm(),
        ]
        self.pool = DynamicPooling()
        self.head = [Linear(h3, 32, rng), LeakyReLU(), Linear(32, 1, rng)]

    def forward(self, rows: np.ndarray, tri: np.ndarray,
                n_nodes: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
        """A ``prepare_trees`` batch: rows (T+1, C), triples (T, 3),
        n_nodes (B,)."""
        x, seg = rows, Segments(n_nodes)
        for layer in self.tree:
            x = layer.forward(x, tri, seg)
        emb = self.pool.forward(x, seg)
        y = emb
        for layer in self.head:
            y = layer.forward(y)
        return y[:, 0], emb

    def backward(self, dscore: np.ndarray) -> None:
        """dscore (B,) — gradient w.r.t. the scalar scores."""
        d = dscore[:, None]
        for layer in reversed(self.head):
            d = layer.backward(d)
        d = self.pool.backward(d)
        for layer in reversed(self.tree[1:]):
            d = layer.backward(d)
        self.tree[0].backward(d, input_grad=False)

    def params(self):
        out = []
        for layer in self.tree + self.head:
            out.extend(layer.params())
        return out

    def zero_grad(self) -> None:
        for _, g in self.params():
            g[...] = 0.0

    # ---- persistence
    def state_arrays(self) -> dict[str, np.ndarray]:
        return {f"p{i}": p for i, (p, _) in enumerate(self.params())}

    def load_state_arrays(self, arrays: dict[str, np.ndarray]) -> None:
        for i, (p, _) in enumerate(self.params()):
            p[...] = arrays[f"p{i}"]


class Adam:
    """Adam (reference trains with torch Adam, ``Lero/model.py:133``)."""

    def __init__(self, params, lr: float = 1e-3, betas=(0.9, 0.999),
                 eps: float = 1e-8) -> None:
        self.params = params
        self.lr, self.b1, self.b2, self.eps = lr, betas[0], betas[1], eps
        self.m = [np.zeros_like(p) for p, _ in params]
        self.v = [np.zeros_like(p) for p, _ in params]
        self.t = 0

    def step(self) -> None:
        self.t += 1
        for i, (p, g) in enumerate(self.params):
            self.m[i] = self.b1 * self.m[i] + (1 - self.b1) * g
            self.v[i] = self.b2 * self.v[i] + (1 - self.b2) * g * g
            mh = self.m[i] / (1 - self.b1 ** self.t)
            vh = self.v[i] / (1 - self.b2 ** self.t)
            p -= self.lr * mh / (np.sqrt(vh) + self.eps)
