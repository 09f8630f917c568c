"""In-memory spans around the package's layer boundaries.

The tracer wraps public functions and methods of the package from the
outside: every module attribute that *is* the wrapped function is replaced,
so ``from ..model.infer import score_plans`` call sites are covered
too. Spans carry a name, start, end, parent span and the operation id of
the benchmark operation that caused them; a layer's self time is its span
time minus the time its child spans cover.

Nothing here is active in an untraced run: the ``install_*`` functions are
only called with ``--trace 1``.
"""

from __future__ import annotations

import functools
import sys
import time
from collections import defaultdict
from contextlib import contextmanager

PKG = "active_query_optimizer_spark"


class Tracer:
    def __init__(self) -> None:
        self.enabled = False
        self.op_id = -1
        self.spans: list[tuple[str, float, float, int, int]] = []
        self.counts: dict[tuple[int, str], float] = defaultdict(float)
        self._stack: list[int] = []

    # ---- recording
    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else -1
        idx = len(self.spans)
        self.spans.append((name, 0.0, 0.0, parent, self.op_id))
        self._stack.append(idx)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            t1 = time.perf_counter()
            self._stack.pop()
            self.spans[idx] = (name, t0, t1, parent, self.op_id)

    def count(self, name: str, n: float = 1.0) -> None:
        if self.enabled:
            self.counts[(self.op_id, name)] += n

    # ---- instrumentation
    def _wrapper(self, fn, name: str):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not tracer.enabled:
                return fn(*args, **kwargs)
            with tracer.span(name):
                return fn(*args, **kwargs)
        return traced

    def wrap_function(self, module, attr: str, name: str) -> None:
        """Replace ``module.attr`` everywhere in the package it is bound."""
        fn = getattr(module, attr)
        traced = self._wrapper(fn, name)
        for mod_name, mod in list(sys.modules.items()):
            if mod is None or not mod_name.startswith(PKG):
                continue
            for key, val in list(vars(mod).items()):
                if val is fn:
                    setattr(mod, key, traced)

    def wrap_method(self, cls, attr: str, name: str) -> None:
        setattr(cls, attr, self._wrapper(cls.__dict__[attr], name))

    # ---- aggregation
    def totals(self, op_ids: set[int] | None = None) -> dict[str, dict]:
        """Per span name: total seconds, self seconds and call count over
        the spans of ``op_ids`` (all spans when ``None``)."""
        child_time = defaultdict(float)
        for name, t0, t1, parent, op in self.spans:
            if parent >= 0:
                child_time[parent] += t1 - t0
        out: dict[str, dict] = {}
        for i, (name, t0, t1, parent, op) in enumerate(self.spans):
            if op_ids is not None and op not in op_ids:
                continue
            agg = out.setdefault(name, {"total_s": 0.0, "self_s": 0.0,
                                        "calls": 0})
            agg["total_s"] += t1 - t0
            agg["self_s"] += (t1 - t0) - child_time[i]
            agg["calls"] += 1
        return out

    def counted(self, name: str, op_ids: set[int]) -> float:
        return sum(v for (op, n), v in self.counts.items()
                   if n == name and op in op_ids)


def install_py4j_counter(tracer: Tracer) -> None:
    """Count Python-to-JVM round trips under ``py4j.calls``."""
    import py4j.java_gateway as jg

    classes = [jg.GatewayConnection]
    try:
        import py4j.clientserver as cs
        classes.append(cs.ClientServerConnection)
    except ImportError:  # pragma: no cover - older py4j
        pass
    for cls in classes:
        orig = cls.__dict__["send_command"]

        def send_command(self, command, *a, _orig=orig, **kw):
            tracer.count("py4j.calls")
            return _orig(self, command, *a, **kw)
        cls.send_command = send_command


def install_layers(tracer: Tracer) -> None:
    """Wrap the package's layer entry points named by their module."""
    from active_query_optimizer_spark import catalog, session
    from active_query_optimizer_spark.evaluation import metrics
    from active_query_optimizer_spark.model import infer, lero, tcnn
    from active_query_optimizer_spark.plans import featurize
    from active_query_optimizer_spark.select import coreset

    for module, attr, name in [
        (session, "get_spark", "session.get_spark"),
        (catalog, "load_table", "catalog.load_table"),
        (featurize, "prepare_trees", "featurize.prepare_trees"),
        (infer, "score_plans", "infer.score_plans"),
        (infer, "plan_embeddings", "infer.plan_embeddings"),
        (infer, "choose_best", "infer.choose_best"),
        (metrics, "ranking_loss", "evaluation.ranking_loss"),
        (metrics, "selection_report", "evaluation.selection_report"),
        (coreset, "coreset_select", "select.coreset_select"),
    ]:
        tracer.wrap_function(module, attr, name)
    for cls, attr, name in [
        (featurize.FeatureGenerator, "fit", "featurize.fit"),
        (featurize.FeatureGenerator, "transform_tree", "featurize.transform"),
        (lero.LeroModel, "fit", "model.pretrain"),
        (lero.LeroModel, "embeddings", "model.embeddings"),
        (lero.LeroModelPairWise, "fit_pairs", "model.pairwise"),
        (tcnn.LeroNet, "forward", "model.forward"),
        (tcnn.LeroNet, "backward", "model.backward"),
        (tcnn.Adam, "step", "model.adam"),
    ]:
        tracer.wrap_method(cls, attr, name)
