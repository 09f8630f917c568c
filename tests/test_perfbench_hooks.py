"""perfbench's ``--trace 1`` run wraps package functions and methods by
name (``perfbench/tracing.install_layers``). A rename there fails the
traced run before it measures anything; this test catches it without
starting Spark."""

from __future__ import annotations

import os
import subprocess
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent


def test_perfbench_layer_hooks_install():
    env = dict(os.environ, PYTHONPATH=os.pathsep.join(
        [str(REPO / "perfbench"), str(REPO)]))
    proc = subprocess.run(
        [sys.executable, "-c",
         "import tracing; tracing.install_layers(tracing.Tracer())"],
        cwd=REPO, env=env, capture_output=True, text=True, timeout=300)
    assert proc.returncode == 0, proc.stderr
