"""Run one workload: size a session to the host, set up, warm up, time a
closed loop for a fixed wall time, check outputs, report.

End-to-end metrics come from untraced ops.  A traced run alternates
untraced and traced ops, so the tracing overhead is measured under the
same conditions, and reports the per-layer metrics instead.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK_DIR = os.path.join(ROOT, ".perfbench_work")
OUT_DIR = os.path.join(ROOT, ".perfbench_out")

SETUP_REPEATS = 3                    # input set-ups per run; median reported
# Ops before timing starts.  The first op pays code generation and JIT
# compilation (about 1.7x a later op); later ops still speed up a little,
# but more warm-up ops do not fit the time budget of the benchmark's runs.
WARMUP_OPS = 1
MIN_OPS = 2                          # timed ops per run, even past --seconds


def metric_units(kind: str) -> dict[str, str]:
    """name -> unit for the "end_to_end" or "per_layer" metrics that
    BENCHMARK.json declares."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[kind]}


# -------------------------------------------------------------- session

def session_confs(work: str) -> tuple[str, dict[str, str]]:
    """local[<usable cpus>] and a driver heap well below physical RAM (the
    engine default assumes a much larger host)."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        mem_mb = int(next(l for l in f if l.startswith("MemTotal")).split()[1]) // 1024
    return f"local[{cpus}]", {
        "spark.driver.memory": f"{min(4096, mem_mb // 4)}m",
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # no hsperfdata files under /tmp: the run writes only in its checkout
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work} -XX:-UsePerfData",
    }


def start_session(work: str):
    # Python workers are launched by the JVM and inherit its environment,
    # so `engine` must be on PYTHONPATH before the JVM starts.
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ["TMPDIR"] = work
    os.environ["SPARK_LAUNCHER_OPTS"] = " ".join(
        [os.environ.get("SPARK_LAUNCHER_OPTS", ""), "-XX:-UsePerfData"]).strip()
    from engine.session import get_spark
    master, extra = session_confs(work)
    spark = get_spark(app="perfbench", master=master, extra=extra)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def effective_confs(spark) -> dict:
    conf = dict(spark.sparkContext.getConf().getAll())
    out = {k: conf.get(k) for k in ("spark.master", "spark.driver.memory",
                                    "spark.local.dir")}
    out.update({k: spark.conf.get(k) for k in (
        "spark.sql.shuffle.partitions", "spark.sql.adaptive.enabled",
        "spark.sql.execution.arrow.pyspark.enabled")})
    out["defaultParallelism"] = spark.sparkContext.defaultParallelism
    out["jvm_max_heap_mb"] = spark._jvm.java.lang.Runtime.getRuntime().maxMemory() // 2**20
    out["PYTHONPATH"] = os.environ["PYTHONPATH"]
    return out


def jvm_peak_rss_mb(spark) -> float:
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        kb = next(l for l in f if l.startswith("VmHWM")).split()[1]
    return int(kb) / 1024.0


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM (and the Python workers it owns) to
    exit."""
    from pyspark import SparkContext
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


# ---------------------------------------------------------------- stats

def quartiles(xs: list[float]) -> tuple[float, float, float]:
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def tail(xs: list[float]) -> tuple[float | None, float | None]:
    """(percentile, value): the highest of p50..p99.9 with at least ten
    samples beyond it, or (None, None) when there are too few samples."""
    ps = [p for p in (50, 75, 90, 95, 99, 99.9) if len(xs) * (1 - p / 100) >= 10]
    if not ps:
        return None, None
    q = statistics.quantiles(xs, n=1000, method="inclusive")
    return ps[-1], q[int(ps[-1] * 10) - 1]


# ------------------------------------------------------------------ run

def _attempt(fn, failures: list) -> tuple[float, object] | None:
    try:
        return fn()
    except Exception:                    # an op that raises is a failed op
        failures.append(traceback.format_exc())
        traceback.print_exc(file=sys.stderr)
        return None


def run(name: str, seed: int, seconds: float, trace: bool) -> dict:
    from perfbench.trace import Tracer, instrument
    from perfbench.workloads import WORKLOADS

    os.makedirs(WORK_DIR, exist_ok=True)
    work = os.path.join(WORK_DIR, f"{name}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    t0 = time.perf_counter()
    spark = start_session(work)
    try:
        session_s = time.perf_counter() - t0
        W = WORKLOADS[name]
        wl = W(spark, seed, work, W.SIZES["full"])
        inputs_s = []
        for k in range(SETUP_REPEATS):
            t = time.perf_counter()
            wl.prepare(k)
            inputs_s.append(time.perf_counter() - t)

        t = time.perf_counter()
        warm = [wl.op(10**6 + k)[0] for k in range(WARMUP_OPS)]
        warmup_s = time.perf_counter() - t

        tracer = Tracer(spark.sparkContext)
        times, traced_times, outputs, failures = [], [], [], []
        t_start, i = time.perf_counter(), 0
        while True:
            if trace and i % 2 == 1:    # U T U ...: traced ops sit between
                                        # untraced ones, cancelling linear drift
                tracer.op = i
                with instrument(tracer):
                    res = _attempt(lambda: wl.traced_op(i, tracer), failures)
                tracer.collect_jobs()
                if res:
                    traced_times.append(res[0])
            else:
                res = _attempt(lambda: wl.op(i), failures)
                if res:
                    times.append(res[0])
            if res:
                outputs.append(res[1])
            i += 1
            if time.perf_counter() - t_start >= seconds and i >= MIN_OPS \
                    and (not trace or i % 2 == 1):
                break
        peak_rss = jvm_peak_rss_mb(spark)

        t = time.perf_counter()
        verdicts = wl.check(outputs)
        check_s = time.perf_counter() - t
        failed = len(failures) + verdicts.count(False)

        setup_s = session_s + statistics.median(inputs_s) + warmup_s
        q1, job_s, q3 = quartiles(times or [float("nan")])
        tail_p, tail_v = tail(times)
        e2e = {
            "setup_s": setup_s,
            "job_s": job_s,
            "rows_per_s": wl.rows_per_op / job_s,
        }
        detail = {
            "workload": name, "seed": seed, "seconds": seconds,
            "trace": trace, "attempted": i, "failed": failed,
            "failed_frac": failed / max(i, 1),
            "rows_per_op": wl.rows_per_op, "samples": len(times),
            "job_s_quartiles": [q1, job_s, q3],
            "latency_p50_ms": job_s * 1000.0,
            "latency_tail_ms": None if tail_v is None else tail_v * 1000.0,
            "latency_tail_percentile": tail_p,
            # reported, not gated: the JVM's high-water mark moves with GC
            # timing by tens of percent between identical runs
            "peak_rss_mb": peak_rss,
            "op_times_s": times, "traced_op_times_s": traced_times,
            "part_times_s": getattr(wl, "part_times", None),
            "setup_parts_s": {"session": session_s, "inputs": inputs_s,
                              "warmup": warmup_s, "warmup_ops": warm},
            "check_s": check_s, "errors": failures[:3],
            "confs": effective_confs(spark),
        }
        if trace:
            n = max(len(traced_times), 1)
            units = metric_units("per_layer")
            layer = dict.fromkeys(units, 0.0)
            layer.update(wl.layer_metrics(tracer, n) if traced_times else {})
            roots = [s for s in tracer.spans
                     if s["parent"] is None and not s["attrs"].get("probe")]
            layer["trace.job_s"] = statistics.median(traced_times) \
                if traced_times else 0.0
            layer["trace.overhead_s"] = layer["trace.job_s"] - job_s \
                if traced_times else 0.0
            layer["spark.jobs"] = sum(tracer.inclusive(s, "jobs") for s in roots) / n
            layer["spark.tasks"] = sum(tracer.inclusive(s, "tasks") for s in roots) / n
            metrics = {k: {"value": v, "unit": units[k]} for k, v in layer.items()}
            detail["spans"] = tracer.dump()
        else:
            units = metric_units("end_to_end")
            metrics = {k: {"value": e2e[k], "unit": u} for k, u in units.items()}
        detail["metrics"] = metrics
        detail["end_to_end"] = e2e
    finally:
        stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)

    os.makedirs(OUT_DIR, exist_ok=True)
    kind = "trace" if trace else "e2e"
    with open(os.path.join(OUT_DIR, f"{name}-seed{seed}-{kind}.json"), "w") as f:
        json.dump(detail, f, indent=1, default=str)
    return detail


def summary_lines(d: dict) -> list[str]:
    """Human-readable report: every end-to-end metric by name and unit."""
    e = d["end_to_end"]
    q1, _, q3 = d["job_s_quartiles"]
    tail = ("n/a (fewer than 20 samples)" if d["latency_tail_ms"] is None else
            f"{d['latency_tail_ms']:.1f} ms (p{d['latency_tail_percentile']})")
    lines = [
        f"workload {d['workload']}  seed {d['seed']}  closed loop, 1 client",
        f"  setup_s          {e['setup_s']:.3f} s",
        f"  job_s            {e['job_s']:.4f} s  (q1 {q1:.4f}, q3 {q3:.4f}, "
        f"n={d['samples']})",
        f"  rows_per_s       {e['rows_per_s']:.1f} 1/s  "
        f"({d['rows_per_op']} rows per op)",
        f"  latency_p50_ms   {d['latency_p50_ms']:.1f} ms",
        f"  latency_tail_ms  {tail}",
        f"  peak_rss_mb      {d['peak_rss_mb']:.1f} MB",
        f"  failed_frac      {d['failed_frac']:.4f}  "
        f"({d['failed']} of {d['attempted']} ops)",
        f"  confs            {json.dumps(d['confs'])}",
    ]
    if d["workload"] == "knn_serve":
        lines.insert(5, f"  queries_per_s    {e['rows_per_s']:.2f} 1/s")
    if d["part_times_s"]:
        # spatial_serve: medians of each component over the timed ops
        from perfbench.workloads import KnnServe
        scan, knn, render = (statistics.median(p) for p in
                             zip(*d["part_times_s"][-d["samples"]:]))
        lines.append(f"  parts            scan {scan:.3f} s, kNN request "
                     f"{knn * 1000:.1f} ms ({KnnServe.QUERIES / knn:.2f} queries/s), "
                     f"render {render:.3f} s")
    if d["trace"]:
        lines += [f"  {k:<32} {m['value']:.6g} {m['unit']}"
                  for k, m in d["metrics"].items()]
    return lines
