"""Grouped custom operators (``applyInPandas``)."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from feature_store_spark.operators.grouped import exact_quantiles


def test_grouped_apply_ops(spark):
    """exact_quantiles matches pandas per entity."""
    rng = np.random.default_rng(8)
    pdf = pd.DataFrame({
        "entity": [f"e{i % 4}" for i in range(400)],
        "v": rng.normal(10, 3, 400),
    })
    sdf = spark.createDataFrame(pdf)
    q = exact_quantiles(sdf, "entity", "v").toPandas().set_index("entity")
    for e, grp in pdf.groupby("entity"):
        assert q.loc[e, "q50"] == pytest.approx(grp["v"].quantile(0.5))
        assert q.loc[e, "n"] == len(grp)
