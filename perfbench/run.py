#!/usr/bin/env python3
"""Benchmark of the geomesa_spark engine on one local[4] Spark driver.

    python3 perfbench/run.py --workload tile_pipeline --seed 1 --seconds 5 --trace 0

Workloads (see perfbench/README.md): tile_pipeline, layout_mix.
Run from the repository root.  The last line of standard output is one JSON
object: {"correct", "attempted", "failed", "metrics"}; with --trace 0 the
metrics are BENCHMARK.json's end_to_end list, with --trace 1 its per_layer
list.  The line before it is a JSON detail record (environment, sample
counts, per-class latencies, steal, tracing overhead).  Scratch files go to
.perfbench_work/ under the repository root.  Exit status is 0 only when
every operation returned the oracle's answer.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import subprocess
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
CORES = 4
DRIVER_MEM = "2g"
SHUFFLE_PARTITIONS = 2 * CORES
WINDOW_CAP_S = 90.0


def prepare_environment() -> None:
    """Point every scratch location of Spark, the JVM and Python into WORK
    and make the engine importable by the Python workers.  Must run before
    pyspark starts its JVM."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    tempfile.tempdir = tmp
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ.update({
        "TMPDIR": tmp,
        "SPARK_LAUNCHER_OPTS": java_opts,
        "SPARK_LOCAL_DIRS": os.path.join(WORK, "spark-local"),
        "SPARK_GRAFT_CPUS": str(CORES),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_IP": "127.0.0.1",
        "PYTHONPATH": os.pathsep.join(
            [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]),
        "PYSPARK_SUBMIT_ARGS": " ".join([
            "--conf", "spark.ui.showConsoleProgress=false",
            "--conf", shlex.quote(f"spark.driver.extraJavaOptions={java_opts}"),
            "--conf", shlex.quote("spark.sql.warehouse.dir="
                                  + os.path.join(WORK, "warehouse")),
            "pyspark-shell"]),
    })
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _p90(xs: list[float]) -> float:
    import numpy as np
    return float(np.percentile(xs, 90)) if xs else 0.0


def session_layer_metrics(sm, tracer, records) -> dict:
    from meters import median
    setup_write = sum(tracer.durations("sources.layout.setup_write"))
    return {
        "session.get_spark_s": sum(tracer.durations("session.get_spark")),
        "session.warmup_s": sum(tracer.durations("session.setup")) - setup_write,
        "session.jobs_per_op": median(len(sm.op_jobs(r.op_id)) for r in records),
        "session.non_job_s": median(max(r.seconds - sm.job_union_s(r.op_id), 0.0)
                                    for r in records),
        "session.gc_s": median(r.extra.get("gc_s", 0.0) for r in records),
        "session.task_skew": median(sm.task_skew(r.op_id) for r in records),
    }


def run_benchmark(workload: str, seed: int, seconds: float, trace: bool,
                  sizes: dict | None = None, spark=None) -> dict:
    """Set up, run the closed loop for ``seconds``, check every result.

    Returns the result record; the caller prints it.  ``spark`` lets the
    self-tests reuse one session; the benchmark itself starts its own."""
    from meters import (RssSampler, SparkMetrics, StealMeter, Tracer,
                        environment, jvm_gc_s, median, tree_cpu_s)
    from workloads import FULL, WORKLOADS, OpRecord

    spec = load_spec()
    tracer = Tracer(trace)
    pid = os.getpid()
    with RssSampler(pid) as rss:
        tracer.op_id = "setup"
        t0 = time.perf_counter()
        with tracer.span("session.get_spark"):
            if spark is None:
                from geomesa_spark.session import get_spark
                spark = get_spark("perfbench", master=f"local[{CORES}]",
                                  shuffle_partitions=SHUFFLE_PARTITIONS)
                spark.sparkContext.setLogLevel("ERROR")
        get_spark_s = time.perf_counter() - t0
        sc = spark.sparkContext
        work_dir = os.path.join(WORK, "data", workload)
        os.makedirs(work_dir, exist_ok=True)
        # the oracle's own numpy work happens here, outside setup_s
        w = WORKLOADS[workload](spark, tracer, seed, sizes or FULL, work_dir)
        t1 = time.perf_counter()
        with tracer.span("session.setup"):
            w.setup()
        setup_s = get_spark_s + time.perf_counter() - t1

        steal = StealMeter()
        steal.start()
        records: list[OpRecord] = []
        window0 = time.perf_counter()
        for i, op in enumerate(w.ops()):
            elapsed = time.perf_counter() - window0
            # whole cycles only; the cap keeps a slow run inside its time limit
            if i % w.cycle == 0 and (elapsed >= WINDOW_CAP_S or (
                    elapsed >= seconds and i >= w.min_ops)):
                break
            rec = OpRecord(f"{workload}-{i}", op.cls, 0.0, w.rows_per_op(op))
            tracer.op_id = rec.op_id
            if trace:
                sc.setJobGroup(rec.op_id, op.cls)
                gc0 = jvm_gc_s(spark)
            cpu0 = tree_cpu_s(pid)
            start = time.perf_counter()
            try:
                with tracer.span("op." + op.cls):
                    result = w.execute(op)
                rec.seconds = time.perf_counter() - start
                rec.cpu_s = tree_cpu_s(pid) - cpu0
                rec.mismatches, rec.extra = w.check(op, result)
            except Exception:  # one failed operation must not end the run
                rec.seconds = time.perf_counter() - start
                rec.error = traceback.format_exc()
                print(f"[{rec.op_id}] {rec.error}", file=sys.stderr)
            if trace:
                rec.extra["gc_s"] = jvm_gc_s(spark) - gc0
            if rec.mismatches:
                print(f"[{rec.op_id}] {rec.mismatches} mismatches against the "
                      f"oracle: {op}", file=sys.stderr)
            records.append(rec)
        window_s = time.perf_counter() - window0
        steal_pct = steal.stop()

    ok = [r for r in records if r.error is None and r.mismatches == 0]
    failed = len(records) - len(ok)
    secs = [r.seconds for r in ok]
    cpu = [r.cpu_s for r in ok]
    values = {
        "setup_s": setup_s,
        "rows_per_s": sum(r.rows for r in ok) / sum(secs) if secs else 0.0,
        "op_p50_s": median(secs),
        "op_p90_s": _p90(secs),
        "rows_per_cpu_s": sum(r.rows for r in ok) / sum(cpu) if cpu else 0.0,
        "op_cpu_p50_s": median(cpu),
        "op_cpu_p90_s": _p90(cpu),
        "peak_rss_mb": rss.peak_mb,
    }
    by_cls: dict[str, list[float]] = {}
    for r in ok:
        by_cls.setdefault(r.cls, []).append(r.seconds)
    detail = {
        "workload": workload, "seed": seed, "trace": int(trace),
        "window_s": window_s, "samples": len(secs),
        "class_samples": {c: len(v) for c, v in by_cls.items()},
        "class_p50_s": {f"{c}_p50_s": median(v) for c, v in by_cls.items()},
        "ops_per_s": len(secs) / sum(secs) if secs else 0.0,
        "wall": {k: values[k] for k in ("rows_per_s", "op_p50_s", "op_p90_s")},
        "cpu": {k: values[k] for k in ("rows_per_cpu_s", "op_cpu_p50_s",
                                       "op_cpu_p90_s")},
        "error_rate": failed / max(len(records), 1),
        "steal_pct": steal_pct,
        "env": environment(ROOT, spark, CORES, DRIVER_MEM),
    }
    declared = spec["per_layer" if trace else "end_to_end"]
    names = [m["name"] for m in declared]
    if trace:
        t2 = time.perf_counter()
        sm = SparkMetrics(spark)
        layer = {**session_layer_metrics(sm, tracer, ok),
                 **w.layer_metrics(sm, ok)}
        detail["trace_fetch_s"] = time.perf_counter() - t2
        unknown = set(layer) - set(names)
        if unknown:
            raise KeyError(f"per-layer metrics missing from BENCHMARK.json: {unknown}")
        # a layer this workload does not exercise did no work: 0
        values = {n: float(layer.get(n, 0.0)) for n in names}
        detail["tracing_overhead"] = _overhead(workload, seed, ok, detail)
        detail["self_time_s"] = tracer.self_times()
    result = {"correct": failed == 0, "attempted": len(records), "failed": failed,
              "metrics": {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
                          for m in declared}}
    _save(workload, seed, trace, detail, result, tracer)
    return {"detail": detail, "result": result}


def _result_path(workload: str, seed: int, trace: bool) -> str:
    return os.path.join(WORK, "results", f"{workload}-seed{seed}-trace{int(trace)}.json")


def _overhead(workload, seed, ok, detail) -> dict:
    """Traced minus untraced op figures for the same workload and seed, when
    an untraced run of that seed exists in this checkout."""
    from meters import median
    path = _result_path(workload, seed, False)
    if not os.path.exists(path):
        return {"note": "no untraced run of this seed in .perfbench_work/results"}
    with open(path) as f:
        plain = json.load(f)["detail"]
    out = {"trace_fetch_s": detail.get("trace_fetch_s", 0.0)}
    for kind, key, traced in (("wall", "op_p50_s", median(r.seconds for r in ok)),
                              ("cpu", "op_cpu_p50_s", median(r.cpu_s for r in ok))):
        base = plain[kind][key]
        out[key] = traced - base
        out[key + "_share"] = traced / base - 1.0 if base else 0.0
    return out


def _save(workload, seed, trace, detail, result, tracer) -> None:
    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    with open(_result_path(workload, seed, trace), "w") as f:
        json.dump({"detail": detail, "result": result}, f, indent=1)
    if trace:
        base = tracer.spans[0]["start"] if tracer.spans else 0.0
        spans = [{**s, "start": s["start"] - base, "end": s["end"] - base}
                 for s in tracer.spans]
        os.makedirs(os.path.join(WORK, "trace"), exist_ok=True)
        with open(os.path.join(WORK, "trace", f"{workload}-seed{seed}.json"), "w") as f:
            json.dump({"spans": spans, "self_time_s": tracer.self_times(),
                       "per_layer": result["metrics"],
                       "tracing_overhead": detail["tracing_overhead"]}, f, indent=1)


def stop_spark(spark) -> None:
    """Stop the session, then end the driver JVM and wait for it: pyspark's
    gateway JVM exits when its stdin closes."""
    from pyspark import SparkContext
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "geomesa_spark")):
        print(f"geomesa_spark not found under {ROOT}: run from a checkout of "
              "the repository", file=sys.stderr)
        return 2
    names = [w["name"] for w in load_spec()["workloads"]]
    if args.workload not in names:
        print(f"unknown workload {args.workload!r}; choose from {names}",
              file=sys.stderr)
        return 2

    prepare_environment()
    try:
        out = run_benchmark(args.workload, args.seed, args.seconds, bool(args.trace))
    finally:
        from pyspark.sql import SparkSession
        active = SparkSession.getActiveSession()
        if active is not None:
            stop_spark(active)
    print(json.dumps(out["detail"]))
    print(json.dumps(out["result"]))
    return 0 if out["result"]["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
