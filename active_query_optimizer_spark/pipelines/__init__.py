"""End-to-end optimizer pipelines (reference ``stable.py``,
``Lero/dynamic.py``, ``Lero/deployment.py``)."""
