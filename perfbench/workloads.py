"""The four workloads: inputs written at set-up, expected results
computed once, then one pass each.

A pass is what an analyst's session does with the inputs: load, QC,
describe, fit, check. Every library call goes through the harness
(``h.call`` / ``h.collect``), so the traced run sees each one as a
construct span plus an execute span. Expected results are computed once
at set-up, from the planted truth or from independent numpy code
(``oracle``) run on the generated frames, so a timed pass only compares.
"""

from __future__ import annotations

import math
import os
import shutil

import numpy as np
import pandas as pd

import gen
import oracle


PARTS = 4  # files per table, like a small Spark write on four cores


def _write(pdf: pd.DataFrame, path: str, types: dict[str, str] | None = None) -> None:
    """Write a generated frame as a parquet directory of ``PARTS`` files,
    plus a ``.dtypes`` catalog sidecar when ``types`` is given (which
    ``load.from_parquet`` applies). Written with pyarrow, not Spark, so
    set-up time is the harness's and the session stays untouched."""
    from clarite_python_spark.catalog import VariableCatalog

    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    bounds = np.linspace(0, len(pdf), PARTS + 1).astype(int)
    for i in range(PARTS):
        part = pdf.iloc[bounds[i] : bounds[i + 1]]
        part.to_parquet(os.path.join(path, f"part-{i:05d}.parquet"), index=False)
    sidecar = path + ".dtypes"
    if types is None:
        if os.path.exists(sidecar):
            os.remove(sidecar)
        return
    cat = VariableCatalog()
    for col, vtype in types.items():
        cat.set(col, vtype)
    with open(sidecar, "w") as fh:
        fh.write(cat.to_json())


def _expect_outcomes(frame, covariates, fit_vars, categorical, weights) -> dict:
    """numpy fits of the continuous ``y`` and the binary ``yb``, keyed by outcome."""
    return {
        "y": oracle.single_variable_fits(frame, "y", covariates, fit_vars, categorical, weights=weights),
        "yb": oracle.single_variable_fits(frame, "yb", covariates, fit_vars, categorical, weights=weights, family="binomial"),
    }


def _check_outcomes(h, rows, expected: dict, variables: list[str]) -> None:
    """Check each outcome's fits against numpy: Beta and N, and SE where
    numpy has one (unweighted Gaussian fits). Also counts the fit yield."""
    op = "analyze.association_study"
    for outcome, exp in expected.items():
        mine = {r["Variable"]: r for r in rows if r["Outcome"] == outcome}
        rtol = oracle.RTOL_LOGIT if outcome == "yb" else oracle.RTOL_OLS
        for var, want in exp.items():
            row = mine.get(var)
            if row is None:
                h.check(op, False, f"{outcome}~{var}: no result row")
                continue
            for f, v in want.items():
                ok = row[f] == v if f == "N" else oracle.close(row[f], v, rtol)
                h.check(op, ok, f"{outcome}~{var}.{f}: library {row[f]} vs numpy {v}")
        h.fits(sum(1 for r in mine.values() if r["Converged"] and _has_pvalue(r)), len(variables))


def _has_pvalue(row) -> bool:
    return row["pvalue"] is not None and not math.isnan(row["pvalue"])


def _check_corrected(h, rows) -> None:
    valid = [r for r in rows if _has_pvalue(r)]
    p = np.array([r["pvalue"] for r in valid])
    fdr = np.array([r["pvalue_fdr"] for r in valid])
    bonf = np.array([r["pvalue_bonferroni"] for r in valid])
    ok = np.allclose(fdr, oracle.bh_fdr(p), rtol=1e-12) and np.allclose(bonf, np.minimum(p * len(p), 1.0), rtol=1e-12)
    h.check("analyze.add_corrected_pvalues", bool(ok), "Bonferroni/BH columns differ from numpy")


class EwasWide:
    """22,624 observations x ``WIDTH`` candidate variables, typed by
    ``categorize``, QC'd and described; then the continuous outcome is
    fitted unweighted and survey-weighted (the NHANES-style design)."""

    WIDTH = 12
    MIN_PASSES = 1
    PAIR = ("v000", "v003")  # planted correlated pair

    def __init__(self, work: str):
        self.data_path = os.path.join(work, "ewas_wide.parquet")
        self.design_path = os.path.join(work, "ewas_wide_design.parquet")

    def setup(self, seed: int) -> None:
        self.truth = gen.ewas_wide(seed, self.WIDTH)
        _write(self.truth.data, self.data_path)
        _write(self.truth.design, self.design_path)

    def expect(self) -> None:
        """numpy fits on the generated table put through numpy QC: the
        planted column drops, complete rows only, Gaussian outliers."""
        t = self.truth
        kept = t.data.drop(columns=list(t.dropped))
        kept = kept.loc[kept.notna().all(axis=1)]
        post = oracle.gaussian_outliers(kept, [c for c in kept if t.types.get(c) == gen.CONT])
        frame = post.merge(t.design, on="ID")
        categorical = {v for v, k in t.types.items() if k in (gen.CAT, gen.BIN)}
        fit_vars = {v: t.types[v] for v in t.effects}
        w = {v: frame[t.weights[v]].to_numpy(dtype=float) for v in t.effects}
        self.expected = {
            weighted: {"y": oracle.single_variable_fits(frame, "y", t.covariates, fit_vars, categorical, weights)}
            for weighted, weights in ((False, None), (True, w))
        }

    def run(self, h, cs, spark) -> None:
        t = self.truth
        with h.stage("qc"):
            cf = h.call("io.from_parquet", cs.load.from_parquet, spark, self.data_path)
            design = h.call("io.from_parquet", cs.load.from_parquet, spark, self.design_path)
            cf = h.call("modify.categorize", cs.modify.categorize, cf)
            got = {c: cf.catalog.get(c) for c in cf.variables}
            h.check("modify.categorize", got == t.types, f"types {got} != planted {t.types}")
            h.check(
                "modify.categorize",
                cf.last_report["dropped_all_na"] == [c for c, s in t.dropped.items() if s == "categorize"],
                "all-NA columns",
            )
            for step in ("colfilter_min_n", "colfilter_min_cat_n"):
                cf = h.call(f"modify.{step}", getattr(cs.modify, step), cf)
                planted = [c for c, s in t.dropped.items() if s == step]
                h.check(f"modify.{step}", cf.last_report["dropped"] == planted, f"dropped {cf.last_report['dropped']}")
            cf = h.call("modify.rowfilter_incomplete_obs", cs.modify.rowfilter_incomplete_obs, cf)
            cf = h.call("modify.remove_outliers", cs.modify.remove_outliers, cf)
            _, na = h.collect("describe.percent_na", cs.describe.percent_na, cf)
            # rows with any NA are gone; only remove_outliers' NULLs remain
            h.check(
                "describe.percent_na",
                len(na) == len(cf.variables)
                and all(r["percent_na"] == 0.0 for r in na if t.types[r["variable"]] != gen.CONT),
                "NA left in a non-continuous variable",
            )
            _, sk = h.collect("describe.skewness", cs.describe.skewness, cf)
            h.check("describe.skewness", len(sk) == len(cf.catalog.of_type(gen.CONT)), "one row per continuous variable")
            _, co = h.collect("describe.correlations", cs.describe.correlations, cf)
            h.check("describe.correlations", self.PAIR in {(r["var1"], r["var2"]) for r in co}, "planted pair missing")
            spec = h.call(
                "survey.SurveyDesignSpec", cs.SurveyDesignSpec, design.df,
                strata="SDMVSTRA", cluster="SDMVPSU", nest=True, weights="WTMEC",
            )
        rvs = [v for v in cf.variables if v.startswith("v") or v.startswith("q_")]
        with h.stage("analysis"):
            res, rows = h.collect(
                "analyze.association_study", cs.analyze.association_study, cf,
                outcomes="y", regression_variables=rvs, covariates=t.covariates,
            )
            _check_outcomes(h, rows, self.expected[False], rvs)
            # the result is already on the driver: correct it from there
            # rather than recompute the fan-out a second time
            collected = spark.createDataFrame(rows, res.schema)
            _, corrected = h.collect("analyze.add_corrected_pvalues", cs.analyze.add_corrected_pvalues, collected)
            _check_corrected(h, corrected)
            _, rows = h.collect(
                "analyze.association_study", cs.analyze.association_study, cf,
                outcomes="y", regression_variables=rvs, covariates=t.covariates, survey_design_spec=spec,
            )
            _check_outcomes(h, rows, self.expected[True], rvs)


class EwasSurvey:
    """The same height, pre-typed (no ``categorize``), with an
    NHANES-style design; both outcomes are fitted survey-weighted."""

    WIDTH = 8
    MIN_PASSES = 1

    def __init__(self, work: str):
        self.data_path = os.path.join(work, "ewas_survey.parquet")
        self.design_path = os.path.join(work, "ewas_survey_design.parquet")

    def setup(self, seed: int) -> None:
        t = self.truth = gen.ewas_survey(seed, self.WIDTH)
        _write(t.data, self.data_path, t.types)
        _write(t.design, self.design_path)

    def expect(self) -> None:
        t = self.truth
        frame = t.data.merge(t.design, on="ID")
        categorical = {v for v, k in t.types.items() if k in (gen.CAT, gen.BIN)}
        fit_vars = {v: t.types[v] for v in t.effects}
        w = {v: frame[t.weights[v]].to_numpy(dtype=float) for v in t.effects}
        self.expected = _expect_outcomes(frame, t.covariates, fit_vars, categorical, w)

    def run(self, h, cs, spark) -> None:
        t = self.truth
        rvs = list(t.effects)
        with h.stage("qc"):
            cf = h.call("io.from_parquet", cs.load.from_parquet, spark, self.data_path)
            design = h.call("io.from_parquet", cs.load.from_parquet, spark, self.design_path)
            h.check("io.from_parquet", dict(cf.catalog.types) == t.types, "sidecar catalog not applied")
            cf = h.call("modify.colfilter_min_n", cs.modify.colfilter_min_n, cf)
            h.check("modify.colfilter_min_n", cf.last_report["dropped"] == [], "dropped a planted variable")
            _, na = h.collect("describe.percent_na", cs.describe.percent_na, cf)
            h.check("describe.percent_na", len(na) == len(cf.variables), "row count")
            spec = h.call(
                "survey.SurveyDesignSpec", cs.SurveyDesignSpec, design.df,
                strata="SDMVSTRA", cluster="SDMVPSU", nest=True, weights=t.weights,
            )
        with h.stage("analysis"):
            res, rows = h.collect(
                "analyze.association_study", cs.analyze.association_study, cf,
                outcomes=["y", "yb"], regression_variables=rvs, covariates=t.covariates, survey_design_spec=spec,
            )
            _check_outcomes(h, rows, self.expected, rvs)
            collected = spark.createDataFrame(rows, res.schema)
            _, corrected = h.collect("analyze.add_corrected_pvalues", cs.analyze.add_corrected_pvalues, collected)
            h.check("analyze.add_corrected_pvalues", len(corrected) == len(rows), "row count")


class TallNarrow:
    """``ROWS`` x 9: typing, outliers, correlations, fits of both
    outcomes with a categorical covariate (the binary one runs
    continuous variables through the library's Python-worker kernel) and
    an interaction study."""

    ROWS = 300_000
    MIN_PASSES = 1
    PAIRS = [("x1", "x2"), ("x3", "x4")]

    def __init__(self, work: str):
        self.data_path = os.path.join(work, "tall_narrow.parquet")

    def setup(self, seed: int) -> None:
        t = self.truth = gen.tall_narrow(seed, self.ROWS)
        _write(t.data, self.data_path)

    def expect(self) -> None:
        t = self.truth
        conts = [c for c, k in t.types.items() if k == gen.CONT]
        post = oracle.gaussian_outliers(t.data, conts)
        fit_vars = {v: t.types[v] for v in t.effects}
        self.expected = _expect_outcomes(post, t.covariates, fit_vars, {"grp"}, None)
        self.expected_pairs = {p: oracle.gaussian_interaction(post, "y", t.covariates, {"grp"}, *p) for p in self.PAIRS}

    def run(self, h, cs, spark) -> None:
        t = self.truth
        with h.stage("qc"):
            cf = h.call("io.from_parquet", cs.load.from_parquet, spark, self.data_path)
            cf = h.call("modify.categorize", cs.modify.categorize, cf)
            got = {c: cf.catalog.get(c) for c in cf.variables}
            h.check("modify.categorize", got == t.types, f"types {got}")
            cf = h.call("modify.remove_outliers", cs.modify.remove_outliers, cf)
            _, co = h.collect("describe.correlations", cs.describe.correlations, cf)
            h.check("describe.correlations", co == [], "no planted correlation above 0.75")
        with h.stage("analysis"):
            _, rows = h.collect(
                "analyze.association_study", cs.analyze.association_study, cf,
                outcomes=["y", "yb"], regression_variables=list(t.effects), covariates=t.covariates,
            )
            _check_outcomes(h, rows, self.expected, list(t.effects))
            _, irows = h.collect(
                "analyze.interaction_study", cs.analyze.interaction_study, cf,
                outcomes="y", interactions=self.PAIRS, covariates=t.covariates, report_betas=True,
            )
            got = {(r["Term1"], r["Term2"]): r for r in irows}
            for pair, exp in self.expected_pairs.items():
                r = got.get(pair)
                ok = (
                    r is not None
                    and r["N"] == exp["N"]
                    and oracle.close(r["Full_Var1_Var2_beta"], exp["beta"], oracle.RTOL_OLS)
                    and oracle.close(r["LRT_pvalue"], exp["LRT_pvalue"], oracle.RTOL_LRT)
                )
                h.check("analyze.interaction_study", ok, f"{pair}: {r} vs {exp}")


class Corpus:
    """Documents with planted exact and near-duplicate clusters, then a
    top-k cosine search over embeddings with planted clusters."""

    BASE_DOCS = 800
    # two timed passes fit in 10 s unless the first is slow; a run left
    # with that one slow pass read a third above the two-pass median
    MIN_PASSES = 2
    VECTORS = 16_000
    K = 10

    def __init__(self, work: str):
        self.paths = {n: os.path.join(work, f"corpus_{n}.parquet") for n in ("docs", "vectors", "queries")}

    def setup(self, seed: int) -> None:
        c = self.truth = gen.corpus(seed, self.BASE_DOCS, self.VECTORS)
        _write(c.docs, self.paths["docs"])
        _write(c.vectors, self.paths["vectors"])
        _write(c.queries, self.paths["queries"])

    def expect(self) -> None:
        c = self.truth
        self.expected_topk = oracle.cosine_topk(
            np.stack(c.vectors["embedding"].to_numpy()), c.vectors["vec_id"].to_numpy(),
            np.stack(c.queries["embedding"].to_numpy()), self.K,
        )
        self.doc_len = dict(zip(c.docs["doc_id"], c.docs["text"].str.len()))

    def run(self, h, cs, spark) -> None:
        c = self.truth
        with h.stage("qc"):
            docs = spark.read.parquet(self.paths["docs"])
            exact, rows = h.collect("dedup.exact_dedup", cs.dedup.exact_dedup, docs)
            h.check("dedup.exact_dedup", len(rows) == c.unique_texts, f"{len(rows)} survivors, planted {c.unique_texts}")
            near, rows = h.collect("dedup.minhash_dedup", cs.dedup.minhash_dedup, exact)
            h.check(
                "dedup.minhash_dedup", c.near_clusters <= len(rows) < c.unique_texts,
                f"{len(rows)} survivors outside [{c.near_clusters}, {c.unique_texts})",
            )
            _, stats = h.collect("text.text_stats", cs.text.text_stats, near)
            h.check(
                "text.text_stats",
                len(stats) == len(rows) and all(r["n_chars"] == self.doc_len[r["doc_id"]] for r in stats),
                "n_chars differs from the generated text",
            )
        with h.stage("analysis"):
            vectors = spark.read.parquet(self.paths["vectors"])
            queries = spark.read.parquet(self.paths["queries"])
            _, top = h.collect("similarity.cosine_topk", cs.similarity.cosine_topk, vectors, queries, k=self.K)
            got: dict[int, list] = {}
            for r in top:
                got.setdefault(r["query_id"], []).append((r["rank"], r["vec_id"], r["cosine"]))
            ok = len(got) == len(self.expected_topk)
            for q, exp in enumerate(self.expected_topk):
                mine = [(v, s) for _, v, s in sorted(got.get(q, []))]
                ok = ok and [v for v, _ in mine] == [v for v, _ in exp] and all(
                    oracle.close(s, e, oracle.RTOL_COSINE) for (_, s), (_, e) in zip(mine, exp)
                )
            h.check("similarity.cosine_topk", ok, "top-k differs from numpy brute force")


WORKLOADS = {"ewas_wide": EwasWide, "ewas_survey": EwasSurvey, "tall_narrow": TallNarrow, "corpus": Corpus}
