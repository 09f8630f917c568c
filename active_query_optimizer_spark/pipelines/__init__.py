"""End-to-end optimizer pipelines (reference ``stable.py``,
``Lero/deployment.py``, whose loop also covers ``Lero/dynamic.py``)."""
