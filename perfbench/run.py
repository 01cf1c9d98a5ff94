"""EWAS-pipeline benchmark for clarite_python_spark.

    python3 perfbench/run.py --workload ewas_wide --seed 1 --seconds 10 --trace 0

Run from the root of a source tree. One run is one analyst's session: a
closed loop with a single caller and one driver process on
``local[<cores>]``. It starts Spark, writes the workload's seeded inputs
as parquet (several times; the median counts), runs one untimed warm-up
pass, then runs passes back to back until ``--seconds`` have elapsed
(the pass under way is finished) and at least the workload's
``MIN_PASSES`` have run. Every pass checks its outputs against
planted truth or independent numpy code.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` turns on the
Spark event log (through the submit arguments, before the JVM starts),
wraps the engine entry points, runs passes in untraced-traced-traced-
untraced groups of four, and reports the per-layer metrics plus the
tracing overhead. The last
line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import warnings
from contextlib import nullcontext

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUPS = 3  # input generation + parquet write, repeated; the median counts
# The driver JVM's heap, fixed (-Xms = -Xmx) in place of get_spark's
# 8 GB maximum. With a heap free to grow, G1 resized it at different
# points in each run, and pass times and peak RSS swung by up to a third
# from run to run. Results collected into Python still show in full in
# peak_rss_mb; memory held only on the JVM driver shows only once it
# outgrows the heap's slack (README, "peak_rss_mb and the driver heap").
DRIVER_HEAP = "2g"


def _parse(argv):
    from workloads import WORKLOADS

    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for process {pid}")


def _session_env(work: str, trace: bool) -> None:
    """Everything the JVM and the Python workers must see before start:
    the package on the workers' import path, scratch space inside the
    work directory, and (traced run) the event log."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "local")
    events = os.path.join(work, "events")
    for d in (tmp, local, events):
        os.makedirs(d, exist_ok=True)
    old = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + old if old else "")
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_HEAP  # get_spark's -Xmx
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": local,
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Xms{DRIVER_HEAP} -Djava.io.tmpdir={tmp} -Dderby.system.home={work}",
    }
    if trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + events,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    args = [a for k, v in conf.items() for a in ("--conf", f"{k}={v}")]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(shlex.quote(a) for a in args) + " pyspark-shell"


def _stop(spark) -> None:
    """Stop Spark and wait for the driver JVM to exit (killing it if it
    has not exited within a minute of losing its stdin)."""
    gateway = spark.sparkContext._gateway
    proc = gateway.proc
    try:
        spark.stop()
        gateway.shutdown()
    finally:
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


def _report(name: str, value: float, unit: str, note: str = "") -> None:
    print(f"  {name:<44} {value:>16.6g} {unit:<6} {note}")


def main(argv=None) -> int:
    args = _parse(argv)
    sys.path.insert(0, ROOT)
    import clarite_python_spark as cs  # fails outside a source tree: exit non-zero

    from harness import Harness, completed, layer_metrics, per_layer_names, stage_times
    from spans import Tracer, read_event_log, tail
    from workloads import WORKLOADS

    warnings.filterwarnings("ignore")
    trace = bool(args.trace)
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    _session_env(work, trace)
    try:
        t0 = time.perf_counter()
        spark = cs.get_spark("perfbench", cpus=len(os.sched_getaffinity(0)))
        spark.sparkContext.setLogLevel("ERROR")
        session_s = time.perf_counter() - t0
        try:
            wl = WORKLOADS[args.workload](os.path.join(work, "data"))
            gen_s = []
            for _ in range(SETUPS):
                t = time.perf_counter()
                wl.setup(args.seed)
                gen_s.append(time.perf_counter() - t)
            wl.expect()
            tracer = Tracer(enabled=False)
            h = Harness(tracer)
            t = time.perf_counter()
            with h.run_pass(-1):
                wl.run(h, cs, spark)
            warm_s = time.perf_counter() - t
            setup_s = session_s + statistics.median(gen_s) + warm_s

            # the traced run goes untraced, traced, traced, untraced, ... so a
            # pass-to-pass trend (the JIT still warming) cancels out of the
            # overhead estimate
            with h.engine_spans() if trace else nullcontext():
                start = time.perf_counter()
                i = 0
                while True:
                    tracer.enabled = trace and i % 4 in (1, 2)
                    with h.run_pass(i):
                        wl.run(h, cs, spark)
                    i += 1
                    done = time.perf_counter() - start >= args.seconds and i >= wl.MIN_PASSES
                    if done and (not trace or i % 4 == 0):
                        break
            peak_rss_mb = _vm_hwm_mb("self") + _vm_hwm_mb(spark.sparkContext._gateway.proc.pid)
        finally:
            _stop(spark)
        print(f"session {session_s:.1f} s, set-ups {', '.join(f'{g:.1f}' for g in gen_s)} s, "
              f"warm-up {warm_s:.1f} s", file=sys.stderr)

        measured = completed(h.passes)
        attempted = sum(p.attempted for p in h.passes)
        failed = sum(len(p.failed_ops) for p in h.passes)
        if not measured or (trace and len({p.traced for p in measured}) < 2):
            print(f"no timed pass completed ({failed} failed operations)", file=sys.stderr)
            return 1
        times = {p.pass_id: stage_times(tracer.spans, p.pass_id) for p in measured}
        print(f"workload {args.workload}  seed {args.seed}  trace {args.trace}  "
              f"passes {len(measured)} of {len(h.passes) - 1}  attempted {attempted}  failed {failed}")
        if not trace:
            pass_s = [times[p.pass_id]["pass_s"] for p in measured]
            tail_v, tail_pct, beyond = tail(pass_s)
            metrics = {
                "setup_s": (setup_s, "s"),
                "pass_s": (statistics.median(pass_s), "s"),
                "pass_s.tail": (tail_v, "s"),
                "qc_s": (statistics.median(times[p.pass_id]["qc_s"] for p in measured), "s"),
                "analysis_s": (statistics.median(times[p.pass_id]["analysis_s"] for p in measured), "s"),
                "peak_rss_mb": (peak_rss_mb, "MB"),
            }
            print("  pass times (s): " + " ".join(f"{v:.3f}" for v in pass_s))
            notes = {"pass_s.tail": f"p{tail_pct:.0f}, {beyond} beyond, n={len(pass_s)}"}
            for k, (v, u) in metrics.items():
                _report(k, v, u, notes.get(k, ""))
            _report("failed_frac", failed / attempted, "ratio", f"{failed} of {attempted} operations")
        else:
            logs = os.listdir(os.path.join(work, "events"))
            jobs = read_event_log(os.path.join(work, "events", logs[0]))
            layer = layer_metrics(tracer.spans, jobs, measured)
            traced = [times[p.pass_id]["pass_s"] for p in measured if p.traced]
            plain = [times[p.pass_id]["pass_s"] for p in measured if not p.traced]
            layer["trace.pass_s"] = statistics.median(traced)
            layer["trace.overhead_s"] = statistics.median(traced) - statistics.median(plain)
            metrics = {k: (layer[k], u) for k, u in per_layer_names()}
            for k, (v, u) in metrics.items():
                _report(k, v, u)
            tracer.dump(os.path.join(out_dir, f"spans-{args.workload}-seed{args.seed}.jsonl"))
        result = {
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }
        print(json.dumps(result))
        return 0
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
