#!/usr/bin/env python3
"""Encode / scan / persist benchmark of the engine, with a per-layer ledger.

    python3 perfbench/run.py --workload repo_encode --seed 1 --seconds 8 --trace 0

Runs one workload (or ``all``) on one driver process at ``local[k]``,
``k = min(4, nproc)``, from the root of a checkout.  Prints each metric
of the workload with its unit, then as the last line one JSON object
``{"correct", "attempted", "failed", "metrics"}``.

``--trace 0`` measures the end-to-end metrics with tracing off: after
an untimed set-up and a warm-up, set-up is repeated and its median
reported, then passes repeat for ``--seconds`` and each metric is the
median over them.  ``--trace 1`` reports the per-layer metrics instead: half
the time untraced, then, on a fresh SparkContext with the event log
on and every span labelling its Spark jobs, the other half traced;
the event log is read afterwards and the chunk-level functions are
replayed outside Spark on a 64Ki-row sample.  ``--smoke`` shrinks the
inputs for the benchmark's own tests.

``--write-benchmark-json`` regenerates ``BENCHMARK.json`` from
``perfbench/metrics.py``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# set-up is timed this often, after the warm-up, and reports the median;
# the first set-up, on a cold JVM, is not timed
SETUP_REPEATS = 7
# Warm-up repeats set-up and a pass this long before anything is timed.
# After a single warm-up pass, set-up and pass times still fell by 20-40%
# over the next ten seconds (JIT of Spark's planner and generated code),
# so a run's median depended on how far into that fall it was measured.
# With the timed set-ups and the unmeasured pass after them, about ten
# seconds of warm work precede the first measured pass.
WARMUP_SECONDS = 6


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", default="all")
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=None)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--smoke", action="store_true", help="tiny inputs, for tests")
    p.add_argument("--write-benchmark-json", action="store_true")
    return p.parse_args(argv)


def engine_importable() -> bool:
    """The engine package must come from this checkout."""
    try:
        import cpp_parquet_spark
    except ImportError:
        return False
    return os.path.dirname(os.path.abspath(cpp_parquet_spark.__file__)).startswith(ROOT + os.sep)


def measure(b, wl, seconds: float, mem=None) -> list[dict]:
    """Passes until ``seconds`` have elapsed (at least one); failed
    passes are counted by ``b`` and left out.  ``mem`` (a MemPeak)
    settles the heap after each pass."""
    from perfbench.sparkenv import cpu_seconds, jit_cpu_seconds, python_cpu_seconds
    from perfbench.workloads import OpFailed

    pid = b.jvm
    passes = []
    deadline = time.time() + seconds
    while True:
        b.label = f"{wl.name}/p{b.passes_run}"
        b.passes_run += 1
        cpu0, jit0, py0 = cpu_seconds(pid), jit_cpu_seconds(pid), python_cpu_seconds(pid)
        with b.tracer.span("pass", b.label) as sp:
            try:
                rec = wl.run_pass(b)
            except OpFailed:
                rec = None
        if rec is not None:
            rec["span"] = sp
            rec["jit_s"] = jit_cpu_seconds(pid) - jit0
            rec["python_cpu_s"] = python_cpu_seconds(pid) - py0
            rec["cpu_s"] = cpu_seconds(pid) - cpu0 - rec["jit_s"]
            passes.append(rec)
        if mem is not None:
            mem.settle()
        if time.time() >= deadline:
            return passes


def warm_up(b, wl, seconds: float) -> None:
    """Set-up and a pass, repeated for ``seconds`` (at least once)."""
    from perfbench.workloads import OpFailed

    deadline = time.time() + seconds
    i = 0
    while True:
        b.label = f"{wl.name}/warmup{i}"
        try:
            wl.setup(b)
            wl.run_pass(b)
        except OpFailed:
            pass
        i += 1
        if time.time() >= deadline:
            return


def med(passes: list[dict], key: str) -> float:
    vals = [p[key] for p in passes if key in p]
    return float(statistics.median(vals)) if vals else 0.0


def run_untraced(wl, args, work: str, k: int):
    """End-to-end metrics of one workload: (table, metrics, attempted, failed)."""
    from perfbench import sparkenv
    from perfbench.metrics import END_TO_END, WORKLOAD_TABLE
    from perfbench.workloads import Bench

    phases = {}
    t = time.perf_counter()

    def phase(name: str) -> None:
        nonlocal t
        now = time.perf_counter()
        phases[name] = round(now - t, 2)
        t = now

    spark = sparkenv.make_session(work, k)
    b = Bench(spark, work, args.seed, args.smoke, label_jobs=False)
    phase("session")
    wl.materialize(b)
    phase("materialize")
    wl.setup(b)
    phase("cold_setup")
    warm_up(b, wl, args.warmup)
    phase("warm_up")
    with sparkenv.MemPeak(b.jvm) as mem:
        setups = []
        for _ in range(SETUP_REPEATS):
            t0 = time.perf_counter()
            wl.setup(b)
            setups.append(time.perf_counter() - t0)
        phase("setups")
        # the first pass after the timed set-ups ran 10-30% slower than
        # the passes after it (lineitem_persist: 11 CPU s against 8-9),
        # so it is run but not measured
        measure(b, wl, 0, mem)
        with sparkenv.HostSteal() as steal:
            passes = measure(b, wl, args.seconds, mem)
        phase("measure")
    spark.stop()
    values = {key: med(passes, key) for key, *_ in WORKLOAD_TABLE[wl.name]}
    values.update({key: med(passes, key) for key, *_ in END_TO_END})
    values["setup_s"] = statistics.median(setups)
    values["peak_rss_mb"] = mem.peak / 1e6
    values["ops_failed_frac"] = b.failed / max(b.attempted, 1)
    salted = sorted({p["salt_buckets"] for p in passes if "salt_buckets" in p})
    # host CPU steal, the phases of the run and every figure behind the
    # medians, to read a slow or odd run by
    print(f"[{wl.name}] seed={args.seed} steal={steal.frac:.3f} phases={phases} "
          f"passes={[round(p['pass_s'], 3) for p in passes]} "
          f"cpu={[round(p['cpu_s'], 2) for p in passes]} "
          f"jit={[round(p['jit_s'], 2) for p in passes]} "
          f"python_cpu={[round(p['python_cpu_s'], 2) for p in passes]} "
          f"setups={[round(s, 3) for s in setups]} "
          f"heap_mb={mem.heap_peak / 1e6:.0f} python_mb={mem.python_peak / 1e6:.0f} "
          f"workers={sorted(round(v / 1e6) for v in mem.workers.values())}"
          + (f" salt_buckets={salted}" if salted else ""))
    table = [(key, values[key], unit) for key, unit in WORKLOAD_TABLE[wl.name]]
    metrics = {n: {"value": values[n], "unit": u} for n, u, _b, _bound in END_TO_END}
    return table, metrics, b.attempted, b.failed


def run_traced(wl, args, work: str, k: int):
    """Per-layer metrics of one workload: (table, metrics, attempted, failed)."""
    from perfbench import sparkenv
    from perfbench.layers import ENCODE_OP, layer_metrics
    from perfbench.ledger import read_stages
    from perfbench.metrics import PER_LAYER
    from perfbench.replay import replay
    from perfbench.workloads import Bench

    half = args.seconds / 2
    spark = sparkenv.make_session(work, k)
    plain = Bench(spark, work, args.seed, args.smoke, label_jobs=False)
    wl.materialize(plain)
    wl.setup(plain)
    warm_up(plain, wl, args.warmup)
    measure(plain, wl, 0)  # unmeasured, as in run_untraced
    untraced = measure(plain, wl, half)
    spark.stop()

    eventlog = os.path.join(work, "eventlog")
    shutil.rmtree(eventlog, ignore_errors=True)
    spark = sparkenv.make_session(work, k, eventlog_dir=eventlog)
    b = Bench(spark, work, args.seed, args.smoke, label_jobs=True)
    if wl.name in ENCODE_OP:
        b.python_cpu_ops.add(ENCODE_OP[wl.name])
    wl.setup(b)
    warm_up(b, wl, args.warmup)
    measure(b, wl, 0)
    traced = measure(b, wl, half)
    kept = wl.kept_frac(b) if hasattr(wl, "kept_frac") else 0.0
    spark.stop()  # flushes the event log

    stages = read_stages(eventlog)
    replayed = replay(wl.input_dir(b), work)
    values = layer_metrics(wl, b, traced, stages, replayed)
    values["engine.prune.chunks_kept_frac"] = kept
    base = med(untraced, "pass_s")
    values["trace.overhead_frac"] = med(traced, "pass_s") / base - 1 if base else 0.0
    print(f"[{wl.name}] seed={args.seed} untraced={[round(p['pass_s'], 3) for p in untraced]} "
          f"traced={[round(p['pass_s'], 3) for p in traced]} stages={len(stages)}")
    table = [(n, values[n], u) for n, u, _b, _m in PER_LAYER if values[n]]
    metrics = {n: {"value": values[n], "unit": u} for n, u, _b, _m in PER_LAYER}
    return table, metrics, plain.attempted + b.attempted, plain.failed + b.failed


def main(argv=None) -> int:
    args = parse_args(sys.argv[1:] if argv is None else argv)
    sys.path.insert(0, ROOT)
    if not engine_importable():
        print("perfbench: cpp_parquet_spark not found in this checkout", file=sys.stderr)
        return 2
    from perfbench.metrics import RUN_SECONDS, benchmark_json

    if args.write_benchmark_json:
        with open(os.path.join(ROOT, "BENCHMARK.json"), "w") as f:
            f.write(benchmark_json())
        return 0

    from perfbench import sparkenv
    from perfbench.workloads import WORKLOADS

    names = list(WORKLOADS) if args.workload == "all" else [args.workload]
    if any(n not in WORKLOADS for n in names):
        print(f"perfbench: unknown workload {args.workload!r}; have {list(WORKLOADS)}", file=sys.stderr)
        return 2
    if args.seconds is None:
        args.seconds = 2.0 if args.smoke else float(RUN_SECONDS)
    args.warmup = 0.0 if args.smoke else WARMUP_SECONDS

    work = os.path.join(ROOT, ".perfbench")
    shutil.rmtree(work, ignore_errors=True)
    sparkenv.prepare_env(ROOT, work)
    k = sparkenv.cores()
    attempted = failed = 0
    metrics: dict = {}
    try:
        for name in names:
            wl = WORKLOADS[name]()
            run = run_traced if args.trace else run_untraced
            table, got, att, fail = run(wl, args, work, k)
            attempted += att
            failed += fail
            for key, value, unit in table:
                print(f"[{name}] {key} = {value:.6g} {unit}")
            prefix = f"{name}." if len(names) > 1 else ""
            metrics.update({prefix + key: v for key, v in got.items()})
    finally:
        sparkenv.shutdown()
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
