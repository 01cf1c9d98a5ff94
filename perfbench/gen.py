"""Seeded input generators with planted truth.

Every generator is a pure function of its seed: the same seed gives the
same frames and the same truth. The library only ever sees the parquet
the harness writes from these frames; the truth stays in the harness and
feeds the output checks.
"""

from __future__ import annotations

from dataclasses import dataclass, field

import numpy as np
import pandas as pd

# CLARITE type names, as the library's VariableCatalog spells them
CONT, BIN, CAT, CONST, UNK = "continuous", "binary", "categorical", "constant", "unknown"

EWAS_ROWS = 22_624  # the reference's canonical NHANES table height


@dataclass
class Ewas:
    data: pd.DataFrame
    types: dict[str, str]  # planted CLARITE type of every column that survives categorize
    dropped: dict[str, str]  # column -> QC step that must drop it
    effects: dict[str, float]  # planted Beta of each regression variable (0 = null)
    # both discrete by default, as the weighted-binomial engines need
    covariates: list[str] = field(default_factory=lambda: ["sex", "agecat"])
    design: pd.DataFrame | None = None
    weights: dict[str, str] = field(default_factory=dict)  # variable -> weight column


def _categorical(rng: np.random.Generator, n: int, levels: int) -> np.ndarray:
    # every level keeps well over the colfilter_min_cat_n floor (200 of 22,624)
    p = rng.dirichlet(np.full(levels, 8.0))
    return rng.choice(np.arange(1, levels + 1), size=n, p=p).astype(float)


def _with_na(rng: np.random.Generator, x: np.ndarray, frac: float) -> np.ndarray:
    x = x.astype(float)
    x[rng.random(x.size) < frac] = np.nan
    return x


def _design(rng: np.random.Generator, n: int, strata: int) -> tuple[pd.DataFrame, np.ndarray]:
    """NHANES-style design: strata with two or three PSUs each (PSU
    numbers repeat across strata, so the design is nested) and two
    sample-weight columns. Also returns a per-PSU random effect."""
    stratum = rng.integers(1, strata + 1, n)
    psus_per = rng.integers(2, 4, strata + 1)
    psu = (rng.random(n) * psus_per[stratum]).astype(int) + 1
    w_int = np.exp(rng.normal(9.5, 0.6, n)).round(2)
    w_mec = (w_int * np.exp(rng.normal(0.05, 0.2, n))).round(2)
    design = pd.DataFrame(
        {"ID": np.arange(n, dtype=np.int64), "SDMVSTRA": stratum, "SDMVPSU": psu, "WTINT": w_int, "WTMEC": w_mec}
    )
    return design, rng.normal(0, 0.2, (strata + 1, 4))[stratum, psu]


def ewas_wide(seed: int, width: int, n: int = EWAS_ROWS) -> Ewas:
    """A wide, short EWAS table for the full QC -> describe -> GLM pass.

    Beside the outcome and covariates it holds ``width`` candidate
    variables: five QC probes (all-NA, constant, sparse, a binary with a
    rare level, an integer column with too many levels for categorical
    and too few for continuous) and then continuous, binary and
    categorical variables in turn. Two continuous variables are planted
    as a correlated pair (r ~ 0.9) so ``correlations`` has a hit.
    Outcomes: continuous ``y`` and binary ``yb``; an NHANES-style design
    (see ``_design``) comes with the table for the survey-weighted fit,
    which uses its exam weight for every variable.
    """
    if width < 8:
        raise ValueError("width must leave room for the five QC probes and three variables")
    rng = np.random.default_rng(seed)
    age = rng.normal(50.0, 12.0, n)
    agecat = np.digitize(age, [40.0, 60.0]).astype(float)
    sex = rng.integers(1, 3, n).astype(float)
    cols: dict[str, np.ndarray] = {}
    types = {"agecat": CAT, "sex": BIN}
    dropped: dict[str, str] = {}
    effects: dict[str, float] = {}

    cols["q_allna"] = np.full(n, np.nan)
    dropped["q_allna"] = "categorize"
    cols["q_const"] = np.where(rng.random(n) < 0.02, np.nan, 7.0)
    types["q_const"] = CONST
    sparse = np.full(n, np.nan)
    sparse[rng.choice(n, 150, replace=False)] = rng.normal(size=150)
    cols["q_sparse"] = sparse
    types["q_sparse"] = CONT
    dropped["q_sparse"] = "colfilter_min_n"
    rare = np.zeros(n)
    rare[rng.choice(n, 120, replace=False)] = 1.0
    cols["q_rare"] = rare
    types["q_rare"] = BIN
    dropped["q_rare"] = "colfilter_min_cat_n"
    cols["q_unknown"] = rng.integers(0, 10, n).astype(float)
    types["q_unknown"] = UNK

    kinds = (CONT, BIN, CAT)
    signal = np.zeros(n)
    base = None
    for i in range(width - 5):
        kind = kinds[i % 3]
        name = f"v{i:03d}"
        if kind == CONT:
            if base is not None and i == 3:
                x = 0.9 * base + np.sqrt(1 - 0.81) * rng.normal(size=n)
            else:
                x = rng.normal(size=n)
                base = x if base is None else base
            x = _with_na(rng, x.round(4), 0.01)
        elif kind == BIN:
            x = _with_na(rng, (rng.random(n) < 0.4).astype(float), 0.005)
        else:
            x = _with_na(rng, _categorical(rng, n, 4), 0.005)
        beta = float(rng.choice([0.0, 0.0, 0.15, -0.25]))
        effects[name] = beta
        types[name] = kind
        cols[name] = x
        xs = np.nan_to_num(x - np.nanmean(x))
        signal += beta * xs
    design, psu_effect = _design(rng, n, strata=15)
    lin = 0.02 * (age - 50) + 0.3 * (sex == 2) + signal
    y = lin + rng.normal(size=n)
    yb = (rng.random(n) < 1 / (1 + np.exp(-(lin + psu_effect - 0.4)))).astype(float)
    types["y"] = CONT
    types["yb"] = BIN
    data = pd.DataFrame({"ID": np.arange(n, dtype=np.int64), "y": y.round(6), "yb": yb, "agecat": agecat, "sex": sex})
    for k, v in cols.items():
        data[k] = v
    weights = {k: "WTMEC" for k in cols}  # one exam weight for every variable
    return Ewas(
        data=data, types=types, dropped=dropped, effects=effects, design=design,
        weights=weights,
    )


def ewas_survey(seed: int, width: int, n: int = EWAS_ROWS, strata: int = 15) -> Ewas:
    """A pre-typed EWAS table plus an NHANES-style design.

    The design has ``strata`` strata with two or three PSUs each (PSU
    numbers repeat across strata, so the design must be nested) and two
    sample-weight columns; each regression variable is mapped to one of
    them, as NHANES maps interview and exam variables. Outcomes: one
    continuous (``y``) and one binary (``yb``).
    """
    rng = np.random.default_rng(seed)
    design, psu_effect = _design(rng, n, strata)
    age = rng.normal(50.0, 12.0, n)
    agecat = np.digitize(age, [40.0, 60.0]).astype(float)
    sex = rng.integers(1, 3, n).astype(float)
    types = {"agecat": CAT, "sex": BIN, "y": CONT, "yb": BIN}
    effects: dict[str, float] = {}
    weights: dict[str, str] = {}
    cols: dict[str, np.ndarray] = {}
    signal = np.zeros(n)
    kinds = (CONT, CONT, BIN, CAT)
    for i in range(width):
        kind = kinds[i % 4]
        name = f"s{i:03d}"
        if kind == CONT:
            x = rng.normal(size=n).round(4)
        elif kind == BIN:
            x = (rng.random(n) < 0.35).astype(float)
        else:
            x = _categorical(rng, n, 3)
        beta = float(rng.choice([0.0, 0.2, -0.3]))
        effects[name] = beta
        signal += beta * (x - x.mean())
        cols[name] = _with_na(rng, x, 0.01)
        types[name] = kind
        weights[name] = "WTMEC" if i % 2 else "WTINT"
    lin = 0.02 * (age - 50) + 0.3 * (sex == 2) + signal + psu_effect
    y = lin + rng.normal(size=n)
    yb = (rng.random(n) < 1 / (1 + np.exp(-(lin - 0.4)))).astype(float)
    data = pd.DataFrame({"ID": np.arange(n, dtype=np.int64), "y": y.round(6), "yb": yb, "agecat": agecat, "sex": sex})
    for k, v in cols.items():
        data[k] = v
    return Ewas(
        data=data, types=types, dropped={}, effects=effects, design=design,
        weights=weights,
    )


def tall_narrow(seed: int, n: int) -> Ewas:
    """Many rows, nine columns: the same statistics at the opposite
    rows/columns ratio. ``grp`` is a four-level categorical covariate;
    ``x1``/``x2`` carry a planted interaction. Outcomes: continuous ``y``
    and binary ``yb``."""
    rng = np.random.default_rng(seed)
    grp = _categorical(rng, n, 4)
    cov = rng.normal(size=n).round(4)
    x = {f"x{j}": rng.normal(size=n).round(4) for j in range(1, 5)}
    b1 = (rng.random(n) < 0.3).astype(float)
    effects = {"x1": 0.2, "x2": -0.1, "x3": 0.0, "x4": 0.05, "b1": 0.25}
    y = (
        0.1 * grp + 0.2 * cov + sum(effects[k] * x[k] for k in x) + effects["b1"] * b1
        + 0.15 * x["x1"] * x["x2"] + rng.normal(size=n)
    )
    yb = (rng.random(n) < 1 / (1 + np.exp(-(y - y.mean())))).astype(float)
    data = pd.DataFrame({"ID": np.arange(n, dtype=np.int64), "y": y.round(6), "yb": yb, "grp": grp, "cov": cov})
    for k, v in x.items():
        data[k] = _with_na(rng, v, 0.002)
    data["b1"] = b1
    types = {"y": CONT, "yb": BIN, "grp": CAT, "cov": CONT, "x1": CONT, "x2": CONT, "x3": CONT, "x4": CONT, "b1": BIN}
    return Ewas(data=data, types=types, dropped={}, effects=effects, covariates=["grp", "cov"])


@dataclass
class Corpus:
    docs: pd.DataFrame  # doc_id, text
    unique_texts: int  # distinct texts after exact-dedup normalisation
    near_clusters: int  # distinct texts once near-duplicates are merged
    vectors: pd.DataFrame  # vec_id, embedding
    queries: pd.DataFrame  # query_id, embedding


def corpus(seed: int, n_base: int, n_vec: int, n_query: int = 16, dim: int = 32) -> Corpus:
    """Documents with planted exact and near-duplicate clusters, plus
    embeddings drawn around planted cluster centres.

    Each of ``n_base`` base documents (60 words from a 5,000-word
    vocabulary) gets zero to two near-duplicates (one word replaced, so
    shingle Jaccard stays ~0.9) and zero to three exact copies that
    differ only in case and whitespace, which the dedup normaliser
    removes.
    """
    rng = np.random.default_rng(seed)
    vocab = np.array([f"w{i}" for i in range(5000)])
    texts: list[str] = []
    unique = 0
    for _ in range(n_base):
        words = list(rng.choice(vocab, 60))
        variants = [words]
        for _ in range(int(rng.integers(0, 3))):
            v = list(words)
            v[int(rng.integers(20, 40))] = f"z{int(rng.integers(0, 10**9))}"
            variants.append(v)
        unique += len(variants)
        for v in variants:
            t = " ".join(v)
            texts.append(t)
            for _ in range(int(rng.integers(0, 4))):
                texts.append("  " + t.upper().replace(" ", "   ") + " ")
    order = rng.permutation(len(texts))
    docs = pd.DataFrame(
        {"doc_id": np.arange(len(texts), dtype=np.int64), "text": [texts[i] for i in order]}
    )
    centers = max(n_vec // 200, 4)
    c = rng.normal(size=(centers, dim))
    lab = rng.integers(0, centers, n_vec)
    vec = c[lab] + 0.35 * rng.normal(size=(n_vec, dim))
    q = c[rng.integers(0, centers, n_query)] + 0.35 * rng.normal(size=(n_query, dim))
    vectors = pd.DataFrame({"vec_id": np.arange(n_vec, dtype=np.int64), "embedding": list(vec.round(6))})
    queries = pd.DataFrame({"query_id": np.arange(n_query, dtype=np.int64), "embedding": list(q.round(6))})
    return Corpus(
        docs=docs, unique_texts=unique, near_clusters=n_base, vectors=vectors, queries=queries,
    )
