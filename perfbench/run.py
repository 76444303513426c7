"""Benchmark entry point.

    python3 perfbench/run.py --workload route --seed 1 --seconds 10 --trace 0

Runs one workload (``route`` or ``dataprep``) from the
root of a source checkout against the ``kafka_go_streamer_spark``
package found there, on ``local[<cores>]``. Inputs are generated from
``--seed``; every output is checked against an independent reference
(perfbench/reference.py). Human-readable lines go to stdout first; the
last line is one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end metrics of
BENCHMARK.json; with ``--trace 1`` the per-layer ones, from a run that
measures an untraced pass and then a traced pass of half the window
each, so the tracing overhead is their difference. All files go under
``.bench_work/`` in the checkout. perfbench/README.md says what each
metric means on each workload.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from common import (  # noqa: E402
    ROOT,
    WORK_ROOT,
    MemSampler,
    Tracer,
    batch_listener,
    cores,
    event_log_summary,
    isolate_env,
    start_session,
)
from metrics import E2E, NAMED, per_layer  # noqa: E402
from wl_data import DataPrep  # noqa: E402
from wl_route import Route  # noqa: E402

#: Session set-ups per run; ``setup_s`` is their median. The first one
#: also launches the JVM.
N_SETUPS = 3

WORKLOADS = {"route": Route, "dataprep": DataPrep}


def _import_package() -> None:
    """The package must come from this checkout, not from anywhere else
    on the path."""
    sys.path.insert(0, ROOT)
    try:
        import kafka_go_streamer_spark as pkg
    except ImportError as e:
        sys.exit(f"perfbench: package not found in {ROOT}: {e}")
    if not os.path.abspath(pkg.__file__).startswith(ROOT + os.sep):
        sys.exit(f"perfbench: package resolved outside {ROOT}: {pkg.__file__}")


def _stop_jvm(spark) -> None:
    """Stop the session and the JVM it runs in, and wait for the JVM."""
    from pyspark import SparkContext

    if spark is not None:
        spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    gw.shutdown()
    gw.proc.stdin.close()  # the gateway JVM exits when its stdin closes
    try:
        gw.proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        gw.proc.kill()
        gw.proc.wait()
    SparkContext._gateway = SparkContext._jvm = None


def _run(a, work: str, tracer: Tracer, wl) -> tuple[dict, dict, dict, float, float]:
    """Set up N_SETUPS times, then measure. Returns (result, layer
    metrics, facts, setup_s, peak PSS MB)."""
    facts = wl.generate()  # input generation is not part of set-up
    sampler = MemSampler().start()
    spark = None
    try:
        setups, layer = [], {}
        for i in range(N_SETUPS):
            if spark is not None:
                spark.stop()
            t0 = time.perf_counter()
            spark, start_s, warm_s = start_session(work, tracer)
            extra = wl.setup(spark)
            setups.append(time.perf_counter() - t0)
            if i > 0:  # the JVM launch stays out of the layer medians
                for k, v in {"session.start_s": start_s,
                             "session.worker_warm_s": warm_s, **extra}.items():
                    layer.setdefault(k, []).append(v)
        layer = {k: statistics.median(v) for k, v in layer.items()}

        if a.trace:
            plain = wl.measure(spark, a.seconds / 2)
            spark.stop()
            spark, _, _ = start_session(work, tracer, event_log=True)
            wl.setup(spark)
            t_from = time.time() * 1e3  # event-log window: the traced pass
            listener = batch_listener()
            spark.streams.addListener(listener)
            with tracer.span("workload.measure"):
                res = wl.measure(spark, a.seconds / 2, listener)
            layer.update(wl.layers(spark))
            spark.streams.removeListener(listener)
            t_to = time.time() * 1e3
            spark.stop()
            layer.update(event_log_summary(os.path.join(work, "eventlog"),
                                           t_from, t_to))
            # engine CPU per operation, traced over untraced, minus one
            ops = wl.E2E_FROM["ops_per_cpu_s"]
            layer["trace.overhead_share"] = plain[ops] / res[ops] - 1.0
            res["valid"] = plain.get("valid", True) and res.get("valid", True)
            res["attempted"] += plain["attempted"]
            res["failed"] += plain["failed"]
        else:
            res = wl.measure(spark, a.seconds)
    finally:
        _stop_jvm(spark)
        peak_mb = sampler.stop()
    return res, layer, facts, statistics.median(setups), peak_mb


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    work = os.path.join(WORK_ROOT, f"run-{os.getpid()}-{time.time_ns()}")
    os.makedirs(work)
    try:
        isolate_env(work)
        _import_package()
        run_id = f"{a.workload}-s{a.seed}-{os.getpid()}"
        tracer = Tracer(run_id, enabled=bool(a.trace))
        wl = WORKLOADS[a.workload](a.seed, work, tracer)
        res, layer, facts, setup_s, peak_mb = _run(a, work, tracer, wl)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    e2e = {k: res[src] for k, src in wl.E2E_FROM.items()}
    e2e.update(setup_s=setup_s, peak_pss_mb=peak_mb)
    correct = res["failed"] == 0 and res.get("valid", True)
    print(f"workload {a.workload} seed {a.seed} seconds {a.seconds} "
          f"trace {a.trace} local[{cores()}]")
    for k, v in facts.items():
        print(f"  input {k} = {v}")
    for k, (unit, _, _) in E2E.items():
        print(f"  {k} = {e2e[k]:.6g} {unit}")
    print(f"  failed_share = {res['failed'] / res['attempted']:.6g} ratio "
          f"({res['failed']} of {res['attempted']})")
    for k, (src, unit) in NAMED.items():
        if src in res:
            print(f"  {k} = {res[src]:.6g} {unit}")
    for k, v in sorted(res.items()):
        print(f"  result {k} = {v}")
    if not res.get("valid", True):
        print("  INVALID run: generator lateness or backlog over its bound")

    if a.trace:
        metrics = per_layer(layer, res, facts)
        tracer.write(os.path.join(WORK_ROOT, "traces", f"{run_id}.json"))
        for k, v in metrics.items():
            print(f"  layer {k} = {v['value']:.6g} {v['unit']}")
    else:
        metrics = {k: {"value": float(e2e[k]), "unit": unit}
                   for k, (unit, _, _) in E2E.items()}
    print(json.dumps({"correct": bool(correct),
                      "attempted": int(res["attempted"]),
                      "failed": int(res["failed"]),
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
