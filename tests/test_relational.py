"""Oracle-parity tests for the Layer-A relational inventory — the local
replica of the driver's t2 correctness gate."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from active_query_optimizer_spark.operators import ORACLES, QUERIES

from .conftest import SF_SMALL
from .oracle_util import compare, mismatch, run_oracle

RELATIONAL = sorted(n for n in QUERIES if n in ORACLES)


@pytest.mark.parametrize("name", RELATIONAL)
def test_oracle_parity(spark, name):
    df = QUERIES[name](spark, SF_SMALL)
    oracle = run_oracle(ORACLES[name], SF_SMALL)
    compare(df, oracle, name)


def test_mismatch_normalizes_inside_array_cells():
    """NaN and Timestamps inside array cells compare canonically, whether
    a cell is a list or an ndarray, and each kind of difference is named
    (``tools/driver_sim.py`` reports through this same function)."""
    ts = pd.Timestamp("2024-01-02 03:04:05")
    spark_pdf = pd.DataFrame({"k": [1, 2], "v": [[1.0, float("nan")],
                                                 [ts.to_pydatetime()]]})
    oracle_pdf = pd.DataFrame({"k": [2, 1], "v": [
        np.array([ts], dtype=object), np.array([1.0, np.nan])]})
    assert mismatch(spark_pdf, oracle_pdf) is None
    assert mismatch(spark_pdf, oracle_pdf.rename(columns={"v": "w"})
                    ).startswith("column mismatch")
    assert mismatch(spark_pdf, oracle_pdf.head(1)) == "row count 2 vs 1"
    assert mismatch(spark_pdf, oracle_pdf.assign(k=[2.0, 1.0])
                    ).startswith("dtype-kind mismatch in column k")
    assert mismatch(spark_pdf, oracle_pdf.assign(k=[3, 1])
                    ).startswith("value mismatch in column k")


ROWS_ONLY = sorted(n for n in QUERIES if n not in ORACLES)


@pytest.mark.parametrize("name", ROWS_ONLY)
def test_rows_only_output_is_driver_hashable(spark, name):
    """The driver canonicalizes even rows-only output with a plain pandas
    sort whose hash path rejects non-scalar cells (round-2 red row:
    ``multimodal_resize_grid`` returned ``array<float>`` → ``TypeError:
    unhashable type: 'list'``). Every registered query must therefore emit
    scalar-only cells; array-typed results belong in non-registered
    pipeline functions."""
    sp = QUERIES[name](spark, SF_SMALL).limit(50).toPandas()
    for col in sp.columns:
        for v in sp[col]:
            assert not isinstance(v, (list, tuple, dict)), (
                f"{name}.{col} holds non-scalar cells ({type(v).__name__})")
            assert not (hasattr(v, "tolist")
                        and not isinstance(v, (str, bytes, bytearray))
                        and getattr(v, "ndim", 0)), (
                f"{name}.{col} holds ndarray cells")


def test_entry_smoke(spark):
    import __spark_entry__ as entry_mod

    df = entry_mod.entry(spark)
    rows = df.collect()
    assert len(rows) >= 1
    assert rows[0]["cnt"] >= 0
    qs, os_ = entry_mod.queries(), entry_mod.oracle_sql()
    assert set(os_) <= set(qs)
