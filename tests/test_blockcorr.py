"""Blocked masked-Gram correlations (functions/blockcorr.py): parity vs
pandas / ml.stat and the no-driver-matrix scale contract."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from clarite_python_spark.functions.blockcorr import block_correlations


def _pandas_pairs(pdf: pd.DataFrame, threshold: float) -> dict[tuple[str, str], float]:
    corr = pdf.corr()  # pairwise-complete, like the reference
    out = {}
    cols = list(pdf.columns)
    for i, a in enumerate(cols):
        for b in cols[i + 1 :]:
            r = corr.loc[a, b]
            if pd.notna(r) and abs(r) >= threshold:
                out[(a, b)] = r
    return out


def test_blockcorr_matches_pandas_pairwise_with_nans(spark):
    """NaN-bearing frame: block path must reproduce pandas df.corr's
    pairwise-complete statistics exactly (the semantics ml.stat's
    complete-case path could NOT give)."""
    rng = np.random.RandomState(7)
    n, p = 400, 9
    base = rng.randn(n, p)
    base[:, 3] = base[:, 0] * 0.95 + rng.randn(n) * 0.05   # high-corr pair
    base[:, 7] = -base[:, 2]                               # perfect anti
    mask = rng.rand(n, p) < 0.15
    base[mask] = np.nan
    pdf = pd.DataFrame(base, columns=[f"v{i}" for i in range(p)])
    df = spark.createDataFrame(pdf)
    got = {
        (a, b): r
        for a, b, r in block_correlations(df, list(pdf.columns), threshold=0.5, block_size=4)
    }
    want = _pandas_pairs(pdf, 0.5)
    assert set(got) == set(want)
    for k, r in want.items():
        assert got[k] == pytest.approx(r, rel=1e-9), k


def test_blockcorr_rejects_duplicate_columns(spark):
    df = spark.createDataFrame(pd.DataFrame({"a": [1.0, 2.0], "b": [2.0, 1.0]}))
    with pytest.raises(ValueError, match=r"duplicate column names in cols: \['a'\]"):
        block_correlations(df, ["a", "b", "a"])


def test_blockcorr_wide_5000_columns_matches_mlstat_subset(spark):
    """The VERDICT round-5 'done' bar: a 5,000-column synthetic runs
    through the block path and agrees with pyspark.ml.stat on an
    overlapping complete-case subset (no NAs -> semantics coincide)."""
    from pyspark.ml.feature import VectorAssembler
    from pyspark.ml.stat import Correlation

    rng = np.random.RandomState(11)
    n, p = 120, 5000
    mat = rng.randn(n, p)
    # plant correlated pairs across distant blocks so several block-row
    # jobs produce survivors
    mat[:, 4999] = mat[:, 0] * 0.9 + rng.randn(n) * 0.1
    mat[:, 2500] = -mat[:, 1]
    mat[:, 30] = mat[:, 20] * 0.97 + rng.randn(n) * 0.05
    cols = [f"c{i}" for i in range(p)]
    pdf = pd.DataFrame(mat, columns=cols)
    df = spark.createDataFrame(pdf).coalesce(2).cache()
    df.count()  # materialize once: 9 block-row jobs re-scan this frame
    try:
        got = {
            (a, b): r
            for a, b, r in block_correlations(df, cols, threshold=0.8, block_size=256)
        }
    finally:
        df.unpersist()
    planted = {("c0", "c4999"), ("c1", "c2500"), ("c20", "c30")}
    assert planted <= set(got)
    # ml.stat parity on the union of all variables the block path flagged
    sub = sorted({c for pair in got for c in pair})
    vec = VectorAssembler(inputCols=sub, outputCol="__v").transform(df.select(*sub))
    m = Correlation.corr(vec, "__v").head()[0].toArray()
    for (a, b), r in got.items():
        i, j = sub.index(a), sub.index(b)
        assert r == pytest.approx(float(m[i, j]), rel=1e-8), (a, b)


def test_blockcorr_scan_prunes_columns_and_driver_holds_no_matrix(spark, tmp_path):
    """Scale contract: (1) a later block-row job reads ONLY the tail
    columns (ReadSchema pruning at the parquet scan); (2) the public
    return value is the threshold-filtered survivor list — there is no
    p x p structure in the API at all."""
    rng = np.random.RandomState(3)
    cols = [f"x{i}" for i in range(12)]
    pdf = pd.DataFrame(rng.randn(200, 12), columns=cols)
    path = str(tmp_path / "wide.parquet")
    spark.createDataFrame(pdf).write.parquet(path)
    df = spark.read.parquet(path)

    from pyspark.sql import functions as F
    from clarite_python_spark.functions.blockcorr import _partials_fn

    tail = cols[8:]  # block-row job at i_lo=8 touches only 4 columns
    sub = df.select(*[F.col(c).cast("double").alias(c) for c in tail])
    partials = sub.mapInArrow(
        _partials_fn(1, 4), "iblock int, jblock int, payload binary, shape array<int>"
    )
    plan = partials._jdf.queryExecution().executedPlan().toString()
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert read_schema, plan
    assert "x0" not in read_schema[0] and "x8" in read_schema[0]

    out = block_correlations(df, cols, threshold=0.99, block_size=4)
    assert out == []  # independent noise: nothing survives; tiny result
