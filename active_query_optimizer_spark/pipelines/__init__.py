"""End-to-end optimizer pipelines (reference ``stable.py``,
``Lero/dynamic.py``, ``Lero/deployment.py``)."""

from .stable import run_stable  # noqa: F401
from .dynamic import run_deployment, run_dynamic  # noqa: F401
from .active import run_active_loop, select_next_batch  # noqa: F401
from .optimize import choose_plan, run_optimized  # noqa: F401
