"""Survey-weighted sufficient-statistics paths on seeded synthetic data.

Every weighted fast path (wolsagg, wbinomagg, wbinomirls) must reproduce
the row-level grouped kernel (``use_sufficient_stats=False``) at rtol
1e-9, and a spy on the engine entry point must see the route. The data
need no reference files: 2,000 rows, 5 strata x 6 PSUs nested, two
weight columns.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from clarite_python_spark.catalog import ClariteFrame, VariableCatalog
from clarite_python_spark.operators import analyze
from clarite_python_spark.survey import SurveyDesignSpec

N = 2000
TYPES = {
    "y": "continuous",
    "yb": "binary",
    "sex": "binary",
    "age": "continuous",
    "x1": "continuous",
    "x2": "continuous",
    "x3": "continuous",
    "b1": "binary",
    "c1": "categorical",
    "wide": "categorical",
    "snp": "genotypes",
}
ALLELES = {"snp": ["A", "T"]}
NUMERIC = ("Beta", "SE", "Beta_pvalue", "LRT_pvalue", "pvalue")


@pytest.fixture(scope="module")
def survey_pdf() -> pd.DataFrame:
    rng = np.random.RandomState(20261017)
    strat = rng.randint(0, 5, N)
    psu = rng.randint(0, 6, N)
    sex = rng.choice(["F", "M"], N)
    age = rng.uniform(20, 70, N)
    x1 = rng.randn(N)
    x2 = rng.randn(N)
    x2[rng.rand(N) < 0.1] = np.nan
    x3 = rng.randn(N)
    b1 = rng.choice(["no", "yes"], N)
    # level "c" only with sex "M": 5 of the 6 (c1, sex) cells occur
    c1 = np.where(sex == "M", rng.choice(["a", "b", "c"], N), rng.choice(["a", "b"], N))
    wide = rng.choice([f"L{i}" for i in range(8)], N)
    snp = rng.choice(["A/A", "A/T", "T/T"], N, p=[0.5, 0.4, 0.1])
    c_eff = np.where(c1 == "b", 0.6, np.where(c1 == "c", -0.4, 0.0))
    y = (
        1.0 + 0.5 * x1 + 0.3 * (b1 == "yes") + c_eff + 0.02 * age
        + 0.2 * strat + rng.randn(N)
    )
    eta = -0.3 + 0.8 * x1 + 0.4 * (sex == "M") + 0.5 * (snp == "T/T") + c_eff
    yb = np.where(rng.rand(N) < 1.0 / (1.0 + np.exp(-eta)), "Case", "Control")
    return pd.DataFrame(
        {
            "ID": np.arange(N),
            "y": y,
            "yb": yb,
            "sex": sex,
            "age": age,
            "x1": x1,
            "x2": x2,
            "x3": x3,
            "b1": b1,
            "c1": c1,
            "wide": wide,
            "snp": snp,
            "strat": strat.astype(str),
            "psu": psu.astype(str),
            "w1": rng.uniform(0.5, 3.0, N),
            "w2": rng.uniform(1.0, 2.0, N),
        }
    )


@pytest.fixture(scope="module")
def survey_df(spark, survey_pdf):
    return spark.createDataFrame(survey_pdf).cache()


def _frame(survey_df, variables) -> ClariteFrame:
    """A fresh frame: its catalog starts with an empty level cache."""
    cat = VariableCatalog(
        types={v: TYPES[v] for v in variables},
        alleles={v: list(a) for v, a in ALLELES.items() if v in variables},
    )
    return ClariteFrame(survey_df.select("ID", *variables), cat)


def _design(survey_df, **kw) -> SurveyDesignSpec:
    return SurveyDesignSpec(survey_df.select("ID", "strat", "psu", "w1", "w2"), **kw)


def _study(survey_df, variables, design_kw, fast, **kw) -> pd.DataFrame:
    res = analyze.association_study(
        _frame(survey_df, variables),
        survey_design_spec=_design(survey_df, **design_kw),
        use_sufficient_stats=fast,
        min_n=50,
        **kw,
    )
    return res.toPandas().set_index("Variable").sort_index()


def _assert_same(fast: pd.DataFrame, slow: pd.DataFrame) -> None:
    assert list(fast.index) == list(slow.index)
    for col in ("Variable_type", "Weight", "Converged"):
        assert list(fast[col]) == list(slow[col]), col
    n_fast, n_slow = ([None if pd.isna(n) else int(n) for n in r["N"]] for r in (fast, slow))
    assert n_fast == n_slow
    for col in NUMERIC:
        a = fast[col].astype(float).to_numpy()
        b = slow[col].astype(float).to_numpy()
        assert np.array_equal(np.isnan(a), np.isnan(b)), col
        ok = ~np.isnan(a)
        np.testing.assert_allclose(a[ok], b[ok], rtol=1e-9, err_msg=col)


def _spy(monkeypatch, module, name, calls, **override):
    orig = getattr(module, name)

    def spy(df, outcome, rvs, *a, **kw):
        kw.update(override)
        out = orig(df, outcome, rvs, *a, **kw)
        calls.append((list(rvs), out[1] if isinstance(out, tuple) else None))
        return out

    monkeypatch.setattr(module, name, spy)


CLUSTER = dict(strata="strat", cluster="psu", nest=True, weights="w1")
GAUSS_VARS = ["y", "sex", "age", "x1", "x2", "b1", "c1"]


@pytest.mark.parametrize("vcov_method", ["stata", "jackknife"])
def test_wolsagg_cluster_matches_kernel(survey_df, monkeypatch, vcov_method):
    import clarite_python_spark.functions.wolsagg as wo

    calls: list = []
    _spy(monkeypatch, wo, "weighted_gaussian_suffstats_rows", calls)
    kw = dict(outcomes="y", covariates=["sex", "age"], vcov_method=vcov_method)
    fast = _study(survey_df, GAUSS_VARS, CLUSTER, True, **kw)
    assert [sorted(c[0]) for c in calls] == [["x1", "x2"]]
    slow = _study(survey_df, GAUSS_VARS, CLUSTER, False, **kw)
    assert len(calls) == 1
    _assert_same(fast, slow)
    assert fast.loc[["x1", "x2", "b1", "c1"], "Converged"].all()


def test_wolsagg_strata_only_matches_kernel(survey_df, monkeypatch):
    import clarite_python_spark.functions.wolsagg as wo

    calls: list = []
    _spy(monkeypatch, wo, "weighted_gaussian_nocluster_rows", calls)
    design = dict(strata="strat", weights="w2")
    kw = dict(outcomes="y", covariates=["sex", "age"])
    fast = _study(survey_df, GAUSS_VARS, design, True, **kw)
    assert [sorted(c[0]) for c in calls] == [["x1", "x2"]]
    slow = _study(survey_df, GAUSS_VARS, design, False, **kw)
    _assert_same(fast, slow)


BINOM_VARS = ["yb", "sex", "x1", "x2", "b1", "c1", "wide", "snp"]


def test_wbinomagg_with_cell_blowup_matches_kernel(survey_df, monkeypatch):
    """A tightened budget of 300 cells per variable (cells are value x
    outcome x sex x PSU, 30 PSUs) keeps ``b1`` (240) and ``c1`` (300) on
    the cell path. ``wide`` (960) and the encoded genotype (360) blow it:
    the genotype is continuous, so it falls through to wbinomirls, and
    ``wide`` falls through to the grouped kernel."""
    import clarite_python_spark.functions.wbinomagg as wb
    import clarite_python_spark.functions.wbinomirls as wi

    cells: list = []
    irls: list = []
    _spy(monkeypatch, wb, "weighted_binomial_cells_rows", cells, max_cells=300)
    _spy(monkeypatch, wi, "weighted_binomial_irls_rows", irls)
    kw = dict(outcomes="yb", covariates=["sex"])
    fast = _study(survey_df, BINOM_VARS, CLUSTER, True, **kw)
    assert len(cells) == 1
    assert sorted(cells[0][0]) == ["b1", "c1", "snp", "wide"]
    assert sorted(cells[0][1]) == ["snp", "wide"]
    assert [sorted(c[0]) for c in irls] == [["snp", "x1", "x2"]]
    slow = _study(survey_df, BINOM_VARS, CLUSTER, False, **kw)
    _assert_same(fast, slow)
    assert fast.loc[["b1", "c1", "wide", "snp", "x1"], "Converged"].all()


@pytest.mark.parametrize(
    "design_kw",
    [CLUSTER, dict(strata="strat", weights="w1")],
    ids=["cluster", "strata_only"],
)
def test_wbinomirls_matches_kernel(survey_df, monkeypatch, design_kw):
    import clarite_python_spark.functions.wbinomirls as wi

    calls: list = []
    _spy(monkeypatch, wi, "weighted_binomial_irls_rows", calls)
    variables = ["yb", "sex", "x1", "x2", "x3"]
    kw = dict(outcomes="yb", covariates=["sex"])
    fast = _study(survey_df, variables, design_kw, True, **kw)
    assert [sorted(c[0]) for c in calls] == [["x1", "x2", "x3"]]
    slow = _study(survey_df, variables, design_kw, False, **kw)
    _assert_same(fast, slow)


MULTI = dict(
    strata="strat",
    cluster="psu",
    nest=True,
    weights={"x1": "w1", "x2": "w2", "b1": "w1", "c1": "w2"},
)


def test_unmapped_weight_gives_nan_row(survey_df, monkeypatch):
    """``x3`` has no weight in the design: an all-NaN row on both paths,
    never a fit. The mapped continuous variables run as two weight
    groups."""
    import clarite_python_spark.functions.wolsagg as wo

    calls: list = []
    _spy(monkeypatch, wo, "weighted_gaussian_suffstats_rows", calls)
    variables = ["y", "sex", "x1", "x2", "x3", "b1", "c1"]
    kw = dict(outcomes="y", covariates=["sex"])
    fast = _study(survey_df, variables, MULTI, True, **kw)
    assert sorted(sorted(c[0]) for c in calls) == [["x1"], ["x2"]]
    slow = _study(survey_df, variables, MULTI, False, **kw)
    _assert_same(fast, slow)
    for res in (fast, slow):
        row = res.loc["x3"]
        assert not row["Converged"] and pd.isna(row["N"])
        assert row[list(NUMERIC)].astype(float).isna().all()
        assert row["Weight"] is None and row["Variable_type"] is None
    assert fast.loc[["x1", "x2", "b1", "c1"], "Converged"].all()


def test_concurrent_weight_groups_with_cold_level_cache(survey_df):
    """Two wolsagg weight groups and the categorical kernel tail run
    from driver threads. With a cold level cache each time, every run
    must give the same rows as the first and match the row kernel."""
    variables = ["y", "sex", "x1", "x2", "b1", "c1"]
    kw = dict(outcomes="y", covariates=["sex"])

    def run():
        return analyze.association_study(
            _frame(survey_df, variables),
            survey_design_spec=_design(survey_df, **MULTI),
            min_n=50,
            **kw,
        ).collect()

    runs = [run() for _ in range(5)]
    # repr: exact for floats, and NaN equals NaN
    first = [tuple(map(repr, r)) for r in runs[0]]
    for rows in runs[1:]:
        assert [tuple(map(repr, r)) for r in rows] == first
    fast = pd.DataFrame([r.asDict() for r in runs[0]]).set_index("Variable")
    slow = _study(survey_df, variables, MULTI, False, **kw)
    _assert_same(fast.sort_index(), slow)
