"""Routing plan of association_study: which engine fits which variable,
and why. The planner is pure Python, so these tests need no Spark."""

from __future__ import annotations

import pytest

from clarite_python_spark.functions.glm import BINOMIAL, GAUSSIAN
from clarite_python_spark.operators import analyze as an
from clarite_python_spark.operators.analyze import (
    BINOMAGG,
    COLUMNAR,
    KERNEL,
    OLSAGG,
    WBINOMAGG,
    WBINOMIRLS,
    WOLSAGG,
    _Design,
    _plan_association,
)

TYPES = {
    "x1": "continuous",
    "b1": "binary",
    "x2": "continuous",
    "c1": "categorical",
    "k": "constant",
    "u": "unknown",
    "g": "continuous",  # an encoded genotype
}
DISCRETE_COVARS = {"sex": "binary", "grp": "categorical"}
MIXED_COVARS = {"sex": "binary", "age": "continuous"}


def _design(n_units=30, vcov_method="stata", weights="w", has_cluster=True):
    return _Design(has_cluster, n_units, vcov_method, weights)


def _plan(family, design=None, covar_types=DISCRETE_COVARS, **kw):
    args = dict(
        rv_types=TYPES,
        genotype_cols={"g"},
        covar_types=covar_types,
        design=design,
        use_sufficient_stats=True,
        strategy="grouped",
        custom_kernel=False,
    )
    args.update(kw)
    return _plan_association(family, **args)


def _routes(plan):
    return {s.engine: s.variables for s in plan.steps}


def test_skips_constant_and_unknown_variables():
    plan = _plan(GAUSSIAN)
    assert plan.skipped == ["k", "u"]
    assert _routes(plan) == {OLSAGG: ["x1", "b1", "x2", "c1", "g"]}


def test_unweighted_binomial_routes_by_covariate_types():
    assert _routes(_plan(BINOMIAL)) == {BINOMAGG: ["x1", "b1", "x2", "c1", "g"]}
    plan = _plan(BINOMIAL, covar_types=MIXED_COVARS)
    assert _routes(plan) == {KERNEL: ["x1", "b1", "x2", "c1", "g"]}
    assert "continuous covariate" in plan.steps[0].reason


def test_weighted_gaussian_takes_continuous_only():
    plan = _plan(GAUSSIAN, _design(), covar_types=MIXED_COVARS)
    assert _routes(plan) == {WOLSAGG: ["x1", "x2", "g"], KERNEL: ["b1", "c1"]}
    assert plan.steps[0].by_weight == {"w": ["x1", "x2", "g"]}


@pytest.mark.parametrize("has_cluster", [True, False], ids=["psus", "strata"])
def test_design_unit_gate(has_cluster):
    at_gate = _plan(GAUSSIAN, _design(an.MAX_DESIGN_UNITS, has_cluster=has_cluster))
    assert WOLSAGG in _routes(at_gate)
    over = _plan(GAUSSIAN, _design(an.MAX_DESIGN_UNITS + 1, has_cluster=has_cluster))
    assert _routes(over) == {KERNEL: ["x1", "b1", "x2", "c1", "g"]}
    assert over.steps[0].reason == f"16,385 {'PSUs' if has_cluster else 'strata'} > 16,384"


def test_weighted_binomial_splits_cells_and_irls():
    """Genotype-encoded continuous variables have a discrete domain, so
    they go to the cell engine with the binary/categorical ones."""
    plan = _plan(BINOMIAL, _design())
    assert _routes(plan) == {WBINOMAGG: ["b1", "c1", "g"], WBINOMIRLS: ["x1", "x2"]}


def test_weighted_binomial_with_continuous_covariate_uses_kernel():
    plan = _plan(BINOMIAL, _design(), covar_types=MIXED_COVARS)
    assert _routes(plan) == {KERNEL: ["x1", "b1", "x2", "c1", "g"]}
    assert "continuous covariate" in plan.steps[0].reason


def test_jackknife_irls_unit_budget(monkeypatch):
    """2 continuous variables x 30 PSUs = 60 replicate units."""
    jk = _design(vcov_method="jackknife")
    monkeypatch.setattr(an, "JK_IRLS_MAX_UNITS", 60)
    assert _routes(_plan(BINOMIAL, jk))[WBINOMIRLS] == ["x1", "x2"]
    monkeypatch.setattr(an, "JK_IRLS_MAX_UNITS", 59)
    plan = _plan(BINOMIAL, jk)
    assert _routes(plan) == {WBINOMAGG: ["b1", "c1", "g"], KERNEL: ["x1", "x2"]}
    assert "jackknife" in plan.steps[-1].reason
    # the stata sandwich has no replicate units
    assert WBINOMIRLS in _routes(_plan(BINOMIAL, _design()))


def test_handed_back_variables_flow_down_the_chain(monkeypatch):
    """A cell-budget fallback: continuous variables go on to IRLS, the
    rest to the kernel; a fallback that pushes the jackknife IRLS over
    its budget sends every continuous variable to the kernel."""
    pending = {"x1": "continuous", "x2": "continuous", "c1": "categorical", "g": "continuous"}
    plan = _plan(BINOMIAL, _design(), rv_types=pending, after=WBINOMAGG)
    assert _routes(plan) == {WBINOMIRLS: ["x1", "x2", "g"], KERNEL: ["c1"]}
    assert plan.steps[-1].reason == "handed back by wbinomagg"
    monkeypatch.setattr(an, "JK_IRLS_MAX_UNITS", 60)
    jk = _plan(BINOMIAL, _design(vcov_method="jackknife"), rv_types=pending, after=WBINOMAGG)
    assert _routes(jk) == {KERNEL: ["x1", "x2", "c1", "g"]}
    again = _plan(GAUSSIAN, rv_types=pending, after=OLSAGG)
    assert _routes(again) == {KERNEL: ["x1", "x2", "c1", "g"]}


def test_custom_kernel_routes_to_grouped_kernel():
    plan = _plan(GAUSSIAN, custom_kernel=True)
    assert _routes(plan) == {KERNEL: ["x1", "b1", "x2", "c1", "g"]}
    assert plan.steps[0].reason == "custom regression_kind"


def test_survey_design_wins_over_custom_kernel():
    plan = _plan(GAUSSIAN, _design(), custom_kernel=True)
    assert _routes(plan) == {WOLSAGG: ["x1", "x2", "g"], KERNEL: ["b1", "c1"]}


def test_no_sufficient_stats_routes_everything_to_kernel():
    plan = _plan(GAUSSIAN, _design(), use_sufficient_stats=False)
    assert _routes(plan) == {KERNEL: ["x1", "b1", "x2", "c1", "g"]}


def test_unmapped_weight_variables():
    weights = {"x1": "w1", "x2": "w2", "b1": "w1", "c1": "w2"}
    plan = _plan(BINOMIAL, _design(weights=weights))
    cells, irls = plan.steps
    assert cells.by_weight == {"w1": ["b1"], "w2": ["c1"]}
    assert irls.by_weight == {"w1": ["x1"], "w2": ["x2"]}
    assert plan.no_weight == ["g"]
    unweighted = _plan(GAUSSIAN, _design(weights=None))
    assert unweighted.steps[0].by_weight == {None: ["x1", "x2", "g"]}


def test_columnar_strategy():
    plan = _plan(GAUSSIAN, strategy="columnar")
    assert _routes(plan) == {COLUMNAR: ["x1", "b1", "x2", "c1", "g"]}
    with pytest.raises(ValueError, match="does not support survey designs"):
        # rejected before the frame or the design is touched
        an.association_study(None, "y", strategy="columnar", survey_design_spec=object())
    with pytest.raises(ValueError, match="unknown strategy"):
        _plan(GAUSSIAN, strategy="melted")
