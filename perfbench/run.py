"""Run one benchmark workload from one seed in a fresh driver process.

    python3 perfbench/run.py --workload python_batch --seed 1 --seconds 4 --trace 0

Run from the root of a checkout. ``--trace 0`` prints every end-to-end metric
named in BENCHMARK.json; ``--trace 1`` runs the same workload with half of
the op cycles traced and prints every per-layer metric, each layer's self
time and the tracing overhead. The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.

All scratch state (inputs, SPARK_LOCAL_DIRS, warehouse, temp files) lives in
``.perfbench/run-<pid>`` under the checkout and is removed at exit; spans of a
traced run are written to ``.perfbench/out``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CPUS = min(4, os.cpu_count() or 1)
DRIVER_MEM = "2g"
SETUP_REPS = 3  # set-ups per run; setup_s takes their median
# The JVM keeps warming for several cycles after the warm-up one: an op's
# CPU time fell by a third to a half from the first measured cycle to the
# fifth. So every run measures at least MIN_CYCLES whole cycles, and the
# op cost figures (op_cpu_ms, op_p50_ms) take exactly the first MIN_CYCLES,
# whatever number of cycles the host's speed fits into --seconds.
MIN_CYCLES = 2

# per-layer metric prefix -> (end-to-end metric it should move, workload)
LAYER_MAP = {
    "session": ("setup_s", "all"),
    "images": ("setup_s", "python_batch, interactive"),
    "parquet_scan": ("op.cpu_ms", "python_batch (render)"),
    "image": ("op.cpu_ms", "python_batch (render)"),
    "cells": ("op.cpu_ms", "interactive (pip, where, read)"),
    "spatial_join": ("op.cpu_ms", "interactive (pip)"),
    "knn": ("op.cpu_ms", "interactive (knn, hot vs sparse queries)"),
    "density": ("op.cpu_ms", "interactive (density)"),
    "planner_rules": ("op.cpu_ms", "interactive (where)"),
    "storage": ("op.cpu_ms, setup_s, peak_pss_mb", "interactive (write, read)"),
    "similarity": ("op.cpu_ms, setup_s (index build)", "python_batch (ann)"),
    "spark.py_*": ("op.cpu_ms", "python_batch"),
    "spark.shuffle_*, agg_spill, codegen": ("op.cpu_ms", "interactive (density), python_batch (render)"),
    "spark.task_skew": ("op.wall_p50_ms", "interactive (knn)"),
    "op": ("op.cpu_ms", "all"),
}
# per-layer metric prefixes every traced run measures, whatever its workload
ALWAYS_MEASURED = {"session", "images", "spark", "trace"}
SELF_LAYERS = ("op", "cells", "parquet_scan", "spatial_join", "knn", "density",
               "planner_rules", "storage", "similarity", "spark")


def _setup_env(scratch: str) -> None:
    for sub in ("local", "tmp", "warehouse", "inputs"):
        os.makedirs(os.path.join(scratch, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(scratch, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(scratch, "local")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_GRAFT_CPUS"] = str(CPUS)
    # the Python worker daemon resolves geomesa_spark.worker_daemon from
    # PYTHONPATH, not from this process's sys.path
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    sys.path.insert(0, ROOT)


def _start_spark(scratch: str):
    from geomesa_spark.session import get_spark

    tmp = os.path.join(scratch, "tmp")
    # A heap that G1 grows on demand made peak memory swing with GC timing;
    # a fixed, pre-touched heap leaves only what the engine changes varying.
    # The JIT compiler threads are fixed at start so CpuClock can leave
    # them out.
    jvm = (f"-Djava.io.tmpdir={tmp} -Xms{DRIVER_MEM} -XX:+AlwaysPreTouch"
           " -XX:-UseDynamicNumberOfCompilerThreads")
    return get_spark(cpus=CPUS, app="perfbench", extra_conf={
        "spark.sql.warehouse.dir": os.path.join(scratch, "warehouse"),
        "spark.local.dir": os.path.join(scratch, "local"),
        "spark.driver.extraJavaOptions": jvm,
        "spark.ui.showConsoleProgress": "false",
    })


def _stop_spark(spark) -> None:
    """Stop the session and its JVM, then wait for every process this run
    started (JVM, Python daemon, workers) to end."""
    from perfbench.harness import descendants

    proc = getattr(spark.sparkContext._gateway, "proc", None)
    try:
        spark.stop()
    finally:
        if proc is not None:
            try:
                proc.stdin.close()
                proc.wait(timeout=30)
            except Exception:  # noqa: BLE001 - escalate to kill below
                proc.kill()
                proc.wait(timeout=10)
    deadline = time.monotonic() + 20
    while descendants(os.getpid()) and time.monotonic() < deadline:
        time.sleep(0.1)
    for pid in descendants(os.getpid()):
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    deadline = time.monotonic() + 10
    while descendants(os.getpid()) and time.monotonic() < deadline:
        try:
            os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            pass
        time.sleep(0.05)


def _cycle_median(records, cycle, key) -> float:
    """Each op type's median of ``key``, averaged over the cycle's slots."""
    from perfbench.harness import median

    return sum(median([r[key] for r in records if r["kind"] == k]) for k in cycle) / len(cycle)


def run(args) -> dict:
    from perfbench import harness as H
    from perfbench.workloads import WORKLOADS

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    scratch = os.path.join(ROOT, ".perfbench", f"run-{os.getpid()}")
    _setup_env(scratch)
    spark = None
    try:
        with H.MemSampler() as mem:
            t0 = time.perf_counter()
            spark = _start_spark(scratch)
            session_s = time.perf_counter() - t0
            tracer = H.Tracer()
            cpu = H.CpuClock(exclude_tid=mem.tid)
            wl = WORKLOADS[args.workload](spark, tracer, args.seed)
            cycle = wl.cycle

            # SETUP_REPS set-ups from nothing, each into a fresh directory;
            # the measured loop runs on the last one's inputs. The first
            # set-up and the warm-up cycle after it (one op of each type,
            # answers checked against the inputs they ran on) pay the
            # session's first Spark jobs, JIT compilation and Python-worker
            # start.
            prep_s, warm_ms = [], {}
            for r in range(SETUP_REPS):
                t0 = time.perf_counter()
                wl.prepare(os.path.join(scratch, "inputs", f"rep{r}"))
                prep_s.append(time.perf_counter() - t0)
                if r == 0:
                    warm = []
                    for j, kind in enumerate(cycle):
                        i = 1_000_000 + j
                        t0 = time.perf_counter()
                        warm.append({"kind": kind, "i": i, "answer": wl.op(kind, i)})
                        warm_ms[kind] = (time.perf_counter() - t0) * 1e3
                        wl.after_op(kind)
                    warm_errors = [e for e in wl.check_all(warm) if e]

            store = H.StatusStore(spark)
            records = []
            t_loop = time.perf_counter()
            i = 0
            # whole cycles, so every op type has the same number of samples.
            # A traced run traces cycles 1, 2, 5, 6, ... (untraced-traced-
            # traced-untraced), so from 4 cycles on both sides sit equally
            # late in the run.
            while (time.perf_counter() - t_loop < args.seconds or i % len(cycle)
                   or i < MIN_CYCLES * len(cycle)):
                kind = cycle[i % len(cycle)]
                traced = bool(args.trace) and (i // len(cycle)) % 4 in (1, 2)
                tracer.enabled, tracer.op_id = traced, i
                if traced:
                    store.mark()
                rec = {"i": i, "kind": kind, "traced": traced, "answer": None, "error": None}
                c0 = cpu.now()
                t0 = time.perf_counter()
                try:
                    with tracer.span(f"op.{kind}"):
                        rec["answer"] = wl.op(kind, i)
                except Exception:  # noqa: BLE001 - a failed op is counted, not fatal
                    rec["error"] = traceback.format_exc(limit=3)
                rec["ms"] = (time.perf_counter() - t0) * 1e3
                rec["cpu_ms"] = (cpu.now() - c0) * 1e3
                if traced and rec["error"] is None:
                    rec["execs"] = store.new_executions()
                    wl.probe(kind, i, rec["answer"])
                tracer.enabled = False
                wl.after_op(kind)
                records.append(rec)
                i += 1
            loop_s = time.perf_counter() - t_loop

        ok = [r for r in records if r["error"] is None]
        errors = [r["error"] for r in records if r["error"] is not None]
        errors += [e for e in wl.check_all(ok) if e]
        for e in (warm_errors + errors)[:1]:
            print(f"first mismatch: {e.strip()}", file=sys.stderr)

        plain = [r for r in records if not r["traced"]]
        head = [r for r in plain if r["i"] < MIN_CYCLES * len(cycle)]
        setup_s = session_s + H.median(prep_s)
        detail = {
            "workload": args.workload, "seed": args.seed, "cpus": CPUS,
            "jit_threads_excluded": cpu.jit_threads,
            "session_s": session_s, "warmup_ms": warm_ms,
            "prepare_s": prep_s, "loop_s": loop_s,
            "op_cpu_ms": _cycle_median(head, cycle, "cpu_ms"),
            "op_p50_ms": _cycle_median(head, cycle, "ms"),
            # untraced ops per second of their own wall time, so a traced
            # run's probes and status-store reads do not count
            "ops_per_s": len(plain) / sum(r["ms"] for r in plain) * 1e3,
            "ops": {
                k: {"n": len(rs),
                    "cpu_p50_ms": H.median([r["cpu_ms"] for r in rs]),
                    "p50_ms": H.median([r["ms"] for r in rs]),
                    "cpu_ms": [round(r["cpu_ms"]) for r in rs],
                    "ms": [round(r["ms"]) for r in rs]}
                for k in cycle
                for rs in [[r for r in plain if r["kind"] == k]]
            },
        }
        if not args.trace:
            metrics = {
                "setup_s": setup_s,
                "peak_pss_mb": mem.peak / 2 ** 20,
            }
            print(json.dumps({"detail": detail}))
            names = spec["end_to_end"]
        else:
            traced = [r for r in ok if r["traced"]]
            for r in traced:
                r["spans"] = [s for s in tracer.spans if s["op"] == r["i"]]
            metrics = {
                "session.start_s": session_s,
                "images.gen_rows_per_s": wl.gen_rows / wl.gen_s if wl.gen_s else 0.0,
                "op.cpu_ms": detail["op_cpu_ms"],
                "op.wall_p50_ms": detail["op_p50_ms"],
                "op.ops_per_s": detail["ops_per_s"],
                "trace.overhead_cpu_ms": _cycle_median(traced, cycle, "cpu_ms") - detail["op_cpu_ms"],
                "trace.overhead_ms": _cycle_median(traced, cycle, "ms") - detail["op_p50_ms"],
            }
            n = max(len(traced), 1)
            for name, (node, metric) in H.SPARK_LAYER_METRICS.items():
                metrics[name] = sum(H.node_sum(r["execs"], node, metric) for r in traced) / n
            metrics["spark.task_skew"] = H.median([H.task_skew(r["execs"]) for r in traced])
            metrics.update(wl.layers(traced))
            self_ms = tracer.self_times_ms(root_prefix="op.")
            for layer in SELF_LAYERS:
                metrics[f"{layer}.self_ms"] = sum(
                    v for k, v in self_ms.items() if k.split(".")[0] == layer) / n
            out_dir = os.path.join(ROOT, ".perfbench", "out")
            os.makedirs(out_dir, exist_ok=True)
            for r in traced:
                root = next(s for s in r["spans"] if s["name"].startswith("op."))
                root["attrs"]["sql"] = r["execs"]
            spans_file = os.path.join(out_dir, f"spans-{args.workload}-seed{args.seed}.json")
            with open(spans_file, "w") as fh:
                json.dump(tracer.spans, fh)
            names = spec["per_layer"]
            # every metric of a layer the workload loads must be measured;
            # those of layers it never calls read 0 and are listed as such
            loaded = set(wl.LAYERS) | ALWAYS_MEASURED
            not_loaded = [m["name"] for m in names if m["name"] not in metrics
                          and m["name"].split(".")[0] not in loaded]
            print(json.dumps({"report": {
                **detail,
                "traced_ops": len(traced),
                "tracing_overhead_cpu_ms": metrics["trace.overhead_cpu_ms"],
                "tracing_overhead_ms": metrics["trace.overhead_ms"],
                "self_ms_per_op": {f"{k}.self_ms": metrics[f"{k}.self_ms"] for k in SELF_LAYERS},
                "layer_to_metric": LAYER_MAP,
                "spans_file": os.path.relpath(spans_file, ROOT),
                "not_loaded": not_loaded,
            }}, default=str))
            metrics.update(dict.fromkeys(not_loaded, 0.0))
        missing = [m["name"] for m in names if m["name"] not in metrics]
        if missing:
            raise RuntimeError(f"metrics not measured: {missing}")
        return {
            "correct": not errors and not warm_errors,
            "attempted": len(records),
            "failed": len(errors),
            "metrics": {
                m["name"]: {"value": float(metrics[m["name"]]), "unit": m["unit"]}
                for m in names
            },
        }
    finally:
        if spark is not None:
            _stop_spark(spark)
        shutil.rmtree(scratch, ignore_errors=True)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "geomesa_spark", "__init__.py")):
        print("perfbench: geomesa_spark package not found beside perfbench/", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    result = run(args)
    print(json.dumps(result, allow_nan=False))
    return 0


if __name__ == "__main__":
    sys.exit(main())
