"""Judge-facing operator inventory.

Importing this package populates ``registry.QUERIES`` / ``registry.ORACLES``
with every implemented operator (SURVEY.md §2 + the LLM-data-pipeline set).
"""

from . import relational  # noqa: F401
from .registry import ORACLES, QUERIES, register  # noqa: F401

for _mod in ("dedup", "similarity", "text", "multimodal", "statsops",
             "pipelineops", "streamops", "curation", "quality", "analytics",
             "embedvec", "cdcops", "decision", "lakeops"):
    try:  # noqa: SIM105
        __import__(f"{__name__}.{_mod}")
    except ModuleNotFoundError as e:  # pragma: no cover - partial checkout
        # tolerate only a genuinely missing operator module; a transitive
        # import error inside one must NOT silently drop a whole operator
        # family from the driver's correctness gate
        if e.name != f"{__name__}.{_mod}":
            raise
