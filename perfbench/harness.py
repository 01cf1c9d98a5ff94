"""The caller side of a pass, and the metrics computed from its spans.

A workload's pass calls the library only through ``Harness.call`` and
``Harness.collect``. Each records a ``construct`` span around the call
and an ``execute`` span around the action that materialises what the
call returned, and counts the call as one attempted operation. Output
checks mark the operation they check as failed. An exception that
escapes a pass (from a call, its action, or the checks) fails the
operation in flight, or ``pass`` when none is, and aborts the pass;
aborted passes count in ``failed`` but not in any timing.
"""

from __future__ import annotations

import importlib
import statistics
import sys
import traceback
from contextlib import contextmanager
from dataclasses import dataclass, field

from spans import Span, Tracer, attribute_jobs, self_times

# modules whose public functions are layers, by the name the metrics use
LAYERS = ("io", "modify", "describe", "survey", "analyze", "functions", "dedup", "text", "similarity")

# per-operator metrics are kept for these calls
OPERATORS = (
    "modify.categorize",
    "modify.remove_outliers",
    "describe.percent_na",
    "describe.skewness",
    "describe.correlations",
    "analyze.association_study",
    "analyze.interaction_study",
    "dedup.minhash_dedup",
    "similarity.cosine_topk",
)

# engine entry points association_study and interaction_study import at
# call time; the traced run wraps them so each call is an ``engine`` span
ENGINES = {
    "olsagg": ("gaussian_assoc_rows", "gaussian_interaction_rows"),
    "binomagg": ("binomial_contingency_rows",),
    "wolsagg": ("weighted_gaussian_nocluster_rows", "weighted_gaussian_suffstats_rows"),
    "wbinomagg": ("weighted_binomial_cells_rows",),
    "wbinomirls": ("weighted_binomial_irls_rows",),
}

LAYER_FIELDS = (
    ("calls", "count"),
    ("construct_s", "s"),
    ("construct_jobs", "count"),
    ("execute_s", "s"),
    ("execute_jobs", "count"),
    ("task_s", "s"),
    ("shuffle_write_bytes", "bytes"),
    ("spill_bytes", "bytes"),
)
OPERATOR_FIELDS = (("construct_s", "s"), ("construct_jobs", "count"), ("execute_s", "s"))
SPARK_FIELDS = (
    ("jobs", "count"),
    ("task_s", "s"),
    ("shuffle_write_bytes", "bytes"),
    ("spill_bytes", "bytes"),
    ("python_bytes_sent", "bytes"),
    ("python_run_s", "s"),
)


def per_layer_names() -> list[tuple[str, str]]:
    """Every per-layer metric, in report order, with its unit."""
    out = [(f"{layer}.{f}", u) for layer in LAYERS for f, u in LAYER_FIELDS]
    out += [(f"{op}.{f}", u) for op in OPERATORS for f, u in OPERATOR_FIELDS]
    for eng in ENGINES:
        out += [(f"functions.{eng}.s", "s"), (f"functions.{eng}.calls", "count")]
    out += [(f"spark.{f}", u) for f, u in SPARK_FIELDS]
    out += [("analyze.fit_yield", "ratio"), ("trace.pass_s", "s"), ("trace.overhead_s", "s")]
    return out


@dataclass
class PassRecord:
    pass_id: int
    traced: bool
    attempted: int = 0
    failed_ops: set = field(default_factory=set)
    aborted: bool = False  # an exception ended the pass early
    fits_ok: int = 0  # converged, non-null fits
    fits_tried: int = 0  # regression variables attempted


class Harness:
    def __init__(self, tracer: Tracer):
        self.tracer = tracer
        self.passes: list[PassRecord] = []
        self.cur: PassRecord | None = None
        self.in_flight: str | None = None  # the operation being called or materialised

    # -- structure ---------------------------------------------------------

    @contextmanager
    def run_pass(self, pass_id: int):
        self.cur = PassRecord(pass_id, self.tracer.enabled)
        self.tracer.pass_id = pass_id
        self.in_flight = None
        try:
            with self.tracer.span("pass", "harness", "pass", always=True):
                yield self.cur
        except Exception:  # a failure ends its pass; the run goes on
            traceback.print_exc(file=sys.stderr)
            self.cur.failed_ops.add(self.in_flight or "pass")
            self.cur.aborted = True
        finally:
            self.passes.append(self.cur)

    def stage(self, name: str):
        return self.tracer.span(f"stage.{name}", "harness", "stage", always=True)

    # -- calls into the library -------------------------------------------

    def _construct(self, op: str, fn, args, kwargs):
        self.cur.attempted += 1
        self.in_flight = op
        layer = op.split(".", 1)[0]
        with self.tracer.span(op, layer, "construct") as sp:
            out = fn(*args, **kwargs)
        return out, (sp.sid if sp is not None else None), layer

    def call(self, op: str, fn, *args, **kwargs):
        """Call ``fn``; materialise a returned frame with a no-op write."""
        from clarite_python_spark import ClariteFrame
        from pyspark.sql import DataFrame

        out, sid, layer = self._construct(op, fn, args, kwargs)
        df = out.df if isinstance(out, ClariteFrame) else out
        if isinstance(df, DataFrame):
            with self.tracer.span(f"{op}:execute", layer, "execute", parent=sid):
                df.write.format("noop").mode("overwrite").save()
        self.in_flight = None
        return out

    def collect(self, op: str, fn, *args, **kwargs):
        """Call ``fn`` and collect the returned frame; returns (frame, rows)."""
        out, sid, layer = self._construct(op, fn, args, kwargs)
        with self.tracer.span(f"{op}:execute", layer, "execute", parent=sid):
            rows = getattr(out, "df", out).collect()
        self.in_flight = None
        return out, rows

    def check(self, op: str, ok: bool, what: str) -> None:
        if not ok:
            self.cur.failed_ops.add(op)
            print(f"CHECK FAILED [{op}] {what}", file=sys.stderr)

    def fits(self, ok: int, tried: int) -> None:
        self.cur.fits_ok += ok
        self.cur.fits_tried += tried

    # -- engine wrapping (traced run only) --------------------------------

    @contextmanager
    def engine_spans(self):
        """Wrap every ENGINES entry point in an ``engine`` span."""
        saved = []
        for eng, names in ENGINES.items():
            mod = importlib.import_module(f"clarite_python_spark.functions.{eng}")
            for name in names:
                orig = getattr(mod, name)
                saved.append((mod, name, orig))
                setattr(mod, name, self._wrap(f"functions.{eng}", orig))
        try:
            yield
        finally:
            for mod, name, orig in saved:
                setattr(mod, name, orig)

    def _wrap(self, span_name: str, fn):
        tracer = self.tracer

        def wrapped(*args, **kwargs):
            with tracer.span(span_name, "functions", "engine"):
                return fn(*args, **kwargs)

        return wrapped


# ---------------------------------------------------------------------------
# metrics
# ---------------------------------------------------------------------------


def completed(passes: list[PassRecord]) -> list[PassRecord]:
    """The timed passes that ran to their end: not the warm-up, not aborted."""
    return [p for p in passes if p.pass_id >= 0 and not p.aborted]


def stage_times(spans: list[Span], pass_id: int) -> dict[str, float]:
    """pass_s, qc_s (every stage before the last) and analysis_s (the last)."""
    mine = [s for s in spans if s.pass_id == pass_id]
    whole = next(s for s in mine if s.kind == "pass")
    stages = sorted((s for s in mine if s.kind == "stage"), key=lambda s: s.start)
    last = stages[-1]
    return {
        "pass_s": whole.end - whole.start,
        "qc_s": sum(s.end - s.start for s in stages[:-1]),
        "analysis_s": last.end - last.start,
    }


def layer_metrics(spans: list[Span], jobs: dict, passes: list[PassRecord]) -> dict[str, float]:
    """Per-layer metrics: the median over traced passes of each pass's total.

    Layer times are self times (a layer's span minus the spans nested in
    it, such as engine calls inside ``association_study``); operator and
    engine times are inclusive. Jobs and their executor metrics go to the
    innermost span open when the job was submitted."""
    selft = self_times(spans)
    by_span = attribute_jobs(spans, jobs)
    kids: dict[int, list[int]] = {}
    for sp in spans:
        if sp.parent is not None:
            kids.setdefault(sp.parent, []).append(sp.sid)

    def subtree_jobs(sid: int) -> list:
        out = list(by_span.get(sid, []))
        for k in kids.get(sid, []):
            if spans[k].kind == "engine":
                out += subtree_jobs(k)
        return out

    traced = [p for p in passes if p.traced]
    per_pass: list[dict[str, float]] = []
    for rec in traced:
        m = {name: 0.0 for name, _ in per_layer_names()}
        mine = [s for s in spans if s.pass_id == rec.pass_id]
        for sp in mine:
            own = by_span.get(sp.sid, [])
            if sp.kind in ("construct", "execute", "engine"):
                layer = sp.layer
                phase = "execute" if sp.kind == "execute" else "construct"
                if sp.kind != "execute":
                    m[f"{layer}.calls"] += 1
                m[f"{layer}.{phase}_s"] += selft[sp.sid]
                m[f"{layer}.{phase}_jobs"] += len(own)
                for j in own:
                    m[f"{layer}.task_s"] += j.task_s
                    m[f"{layer}.shuffle_write_bytes"] += j.shuffle_write_bytes
                    m[f"{layer}.spill_bytes"] += j.spill_bytes
            op = sp.name.split(":", 1)[0]
            if op in OPERATORS:
                if sp.kind == "construct":
                    m[f"{op}.construct_s"] += sp.end - sp.start
                    m[f"{op}.construct_jobs"] += len(subtree_jobs(sp.sid))
                elif sp.kind == "execute":
                    m[f"{op}.execute_s"] += sp.end - sp.start
            if sp.kind == "engine":
                m[f"{sp.name}.s"] += sp.end - sp.start
                m[f"{sp.name}.calls"] += 1
            for j in own:
                m["spark.jobs"] += 1
                m["spark.task_s"] += j.task_s
                m["spark.shuffle_write_bytes"] += j.shuffle_write_bytes
                m["spark.spill_bytes"] += j.spill_bytes
                m["spark.python_bytes_sent"] += j.python_bytes_sent
                m["spark.python_run_s"] += j.python_run_s
        m["analyze.fit_yield"] = rec.fits_ok / rec.fits_tried if rec.fits_tried else 0.0
        per_pass.append(m)
    if not per_pass:
        return {}
    return {k: statistics.median(p[k] for p in per_pass) for k in per_pass[0]}
