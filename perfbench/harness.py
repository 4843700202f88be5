"""The measured process of one perfbench run (started by ``run.py``).

Usage: harness.py WORKLOAD SEED SECONDS TRACE INPUT_DIR WORK_DIR T0 OUT

``T0`` is the wall-clock time just before this process was started, so
``setup_s`` runs from process start until the session is up and the
generic warmup is done. Then:

1. the cold pass: the first pass over the job list in this process;
2. warm passes until ``SECONDS`` of warm-pass time have gone by since
   the cold pass ended, at least one. With TRACE=1, untraced and traced
   warm passes alternate (at least two untraced and one traced), and
   only per-layer metrics are reported;
3. the untimed verification pass.

A job that raises is recorded (name, exception class, first message
line) and the run continues. The result goes to OUT as JSON.
"""

from __future__ import annotations

import json
import os
import resource
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

import stats  # noqa: E402
import spans  # noqa: E402


def open_session(work: str):
    from meza_spark.session import get_spark

    spark = get_spark("perfbench", conf={
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
    })
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def warmup(spark) -> None:
    """JVM, codegen, the Python worker pool and both Arrow bridges, on
    synthetic data only (none of a workload's own jobs)."""
    from pyspark.sql import functions as F

    df = spark.range(20_000).select((F.col("id") % 97).alias("k"),
                                    (F.col("id") * 3).alias("v"))
    df.groupBy("k").agg(F.sum("v"), F.count("*")).write.format("noop") \
        .mode("overwrite").save()
    cores = spark.sparkContext.defaultParallelism
    spark.range(cores * 16).repartition(cores) \
        .mapInPandas(lambda it: it, "id long") \
        .write.format("noop").mode("overwrite").save()
    spark.createDataFrame(spark.range(64).toPandas()).count()


def run_pass(jobs, failures: list) -> tuple[float, list[tuple[str, float]]]:
    """One pass over the job list; returns its wall time and each job's
    ``(name, latency)``."""
    lat = []
    t0 = time.perf_counter()
    for name, fn in jobs:
        t = time.perf_counter()
        try:
            fn()
        except Exception as e:  # noqa: BLE001 - a failed job is recorded
            failures.append({"job": name, "error": type(e).__name__,
                             "message": (str(e).strip().splitlines()
                                         or [""])[0][:200]})
        lat.append((name, time.perf_counter() - t))
    return time.perf_counter() - t0, lat


def traced_metrics(spark, tracer, t0: float, t1: float) -> dict:
    closed = tracer.closed_spans()
    self_s = spans.layer_self_times(closed)
    totals, jobs = spans.spark_counters(spark, t0, t1, closed)
    udf = spans.udf_seconds(spark, tracer.code_index)
    m = {}
    for layer in spans.ALL_LAYERS:
        m[f"{layer}.self_s"] = self_s.get(layer, 0.0)
        m[f"{layer}.calls"] = tracer.calls.get(layer, 0)
        m[f"{layer}.py4j_calls"] = tracer.py4j.get(layer, 0)
        m[f"{layer}.jobs"] = jobs.get(layer, 0)
    for layer in spans.UDF_LAYERS:
        m[f"{layer}.udf_s"] = udf.get(layer, 0.0)
    cores = spark.sparkContext.defaultParallelism
    m.update({
        "spark.analysis_ms": tracer.phases.get("analysis", 0.0),
        "spark.optimization_ms": tracer.phases.get("optimization", 0.0),
        "spark.planning_ms": tracer.phases.get("planning", 0.0),
        "spark.rules_ms": tracer.rules_ms,
        "spark.exec_s": self_s.get(spans.EXEC, 0.0),
        "spark.persisted_rdds_end":
            spark.sparkContext._jsc.getPersistentRDDs().size(),
    })
    busy = totals.pop("spark.job_busy_s")
    m.update(totals)
    m["spark.slot_util"] = (totals["spark.executor_run_s"] / (cores * busy)
                            if busy else 0.0)
    # time inside any span; the rest of the pass is harness glue
    m["_covered_s"] = sum(self_s.values())
    return m


def main(argv) -> int:
    workload, seed, seconds, traced, inputs, work, t0, out = argv
    seed, seconds, traced, t0 = int(seed), int(seconds), int(traced), float(t0)
    from workloads import WORKLOADS

    tracer = spans.Tracer()
    if traced:
        import __spark_entry__  # noqa: F401 - so install() rebinds its names

        tracer.install()
        tracer.enabled = True
    with tracer.span("harness.setup"):
        spark = open_session(work)
        warmup(spark)
    setup_s = time.time() - t0
    setup_trace = None
    if traced:
        tracer.enabled = False
        setup_trace = (spans.layer_self_times(tracer.closed_spans()),
                       dict(tracer.calls), dict(tracer.py4j))
        tracer.reset()

    wl = WORKLOADS[workload](spark, inputs, seed, work, tracer)
    failures: list[dict] = []
    jobs = wl.jobs()
    cold_s, cold_lat = run_pass(jobs, failures)
    attempted = len(jobs)
    start = time.perf_counter()
    warm, lat, traced_runs, k = [], [], [], 0
    while True:
        k += 1
        do_trace = bool(traced) and k % 2 == 0
        if do_trace:
            tracer.reset()
            spark.conf.set("spark.sql.pyspark.udf.profiler", "perf")
            tracer.watch_catalyst(spark)
            tracer.enabled = True
            w0 = time.time()
        wall, l = run_pass(jobs, failures)
        attempted += len(jobs)
        if do_trace:
            tracer.enabled = False
            w1 = time.time()
            tracer.unwatch_catalyst(spark)
            spark.conf.unset("spark.sql.pyspark.udf.profiler")
            m = traced_metrics(spark, tracer, w0, w1)
            m["_wall"] = wall
            traced_runs.append(m)
        else:
            warm.append(wall)
            lat.extend(l)
        # traced runs bracket each traced pass with untraced ones, so the
        # overhead ratio is not skewed by the first warm pass
        if (time.perf_counter() - start >= seconds
                and len(warm) >= (2 if traced else 1)
                and (traced_runs or not traced)):
            break
    rss_mb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024

    t_verify = time.perf_counter()
    checked, bad = wl.verify()
    t_verify = time.perf_counter() - t_verify
    for job, why in bad:
        failures.append({"job": job, "error": "VerificationFailed",
                         "message": why})
    attempted += checked
    n_failed = len(failures)

    tail_s, p = stats.job_tail(lat)
    detail = {"workload": workload, "seed": seed, "trace": traced,
              "warm_passes": len(warm), "jobs_per_pass": len(jobs),
              "tail_percentile": p, "failures": failures,
              "job_median_s": {n: stats.median([t for m, t in lat if m == n])
                               for n, _ in lat},
              "cold_job_s": dict(cold_lat),
              "warm_pass_s_all": warm, "cold_pass_s": cold_s,
              "verify_s": t_verify}
    times = [t for _, t in lat]
    if not traced:
        values = {
            "setup_s": setup_s,
            "cold_pass_s": cold_s,
            "warm_pass_s": stats.median(warm),
            "job_p50_s": stats.median(times),
            "job_tail_s": tail_s,
            "ok_frac": 1 - n_failed / attempted,
            "driver_rss_mb": rss_mb,
        }
    else:
        values = {k: stats.median([r[k] for r in traced_runs])
                  for k in traced_runs[0] if not k.startswith("_")}
        # session work happens during setup, before the first pass
        self_s, calls, py4j = setup_trace
        values["session.self_s"] = self_s.get("session", 0.0)
        values["session.calls"] = calls.get("session", 0)
        values["session.py4j_calls"] = py4j.get("session", 0)
        t_wall = stats.median([r["_wall"] for r in traced_runs])
        values["trace.overhead_frac"] = t_wall / stats.median(warm) - 1
        detail["traced_warm_pass_s"] = t_wall
        detail["trace_coverage"] = stats.median(
            [r["_covered_s"] / r["_wall"] for r in traced_runs])
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        declared = json.load(f)["per_layer" if traced else "end_to_end"]
    result = {"correct": n_failed == 0, "attempted": attempted,
              "failed": n_failed,
              "metrics": {m["name"]: {"value": values[m["name"]],
                                      "unit": m["unit"]} for m in declared}}
    with open(out, "w") as f:
        json.dump({"result": result, "detail": detail}, f, indent=1)
    spark.stop()
    return 0


if __name__ == "__main__":
    try:
        sys.exit(main(sys.argv[1:]))
    except Exception:  # noqa: BLE001 - the parent reports the failure
        traceback.print_exc()
        sys.exit(1)
