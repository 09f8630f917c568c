"""Learned plan ranker (reference ``Lero/model.py`` +
``Lero/TreeConvolution`` re-implemented in numpy — torch is not available
in this environment)."""
