"""Physical-plan capture, featurization, and candidate exploration
(reference ``Lero/feature.py``, ``Lero/TreeConvolution/util.py``, and the
absent-from-repo Lero plan explorer rebuilt on Spark join hints)."""
