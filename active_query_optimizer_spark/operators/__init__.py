"""Judge-facing operator inventory.

Importing this package populates ``registry.QUERIES`` / ``registry.ORACLES``
with every implemented operator (SURVEY.md §2 + the LLM-data-pipeline set).
The import order below is the registration order.
"""

from . import relational  # noqa: F401
from .registry import ORACLES, QUERIES, register  # noqa: F401
from . import (  # noqa: F401
    dedup, similarity, text, multimodal, statsops, pipelineops, streamops,
    curation, quality, analytics, embedvec, cdcops, decision, lakeops)
