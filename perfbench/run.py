"""Benchmark entry point: one workload, one seed, one run.

    python3 perfbench/run.py --workload search_online --seed 1 --seconds 10 --trace 0

Run from the root of a checkout of the repository. The run starts one
Spark session (``local[N]``, N = min(4, available cores)), sets the
workload up three times (``setup_s`` is the session start plus the
median set-up), warms it up,
then runs whole blocks of operations for at least ``--seconds``
seconds, checking every result. It prints each metric as
``name value unit n=<samples>``, a contention record, and as the last
line one JSON object ``{"correct", "attempted", "failed", "metrics"}``.

With ``--trace 0`` the JSON carries the end-to-end metrics. With
``--trace 1`` the measured time is split: the first half runs
untraced, the second half under the tracer (``tracing.py``), and the
JSON carries the per-layer metrics, including the tracer's overhead.
Spans are written to ``.perfbench_out/`` in the checkout. All scratch
data lives under ``.perfbench_work/`` and is removed at exit.

``--smoke`` shrinks every input so that all checks run in seconds; it
is what ``test_perfbench.py`` drives.
"""

from __future__ import annotations

import argparse
import collections
import contextlib
import json
import os
import shutil
import signal
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUP_REPS = 3

# the per-operation-kind suffixes of the ``spark.*_per_op`` metrics
OP_KINDS = ("search", "multi_search", "store", "delete", "ivf_build",
            "ivf_search", "pq_build", "pq_search", "dedup")


def benchmark_units(key: str) -> dict[str, str]:
    """Metric name -> unit for ``end_to_end`` or ``per_layer``, as
    ``BENCHMARK.json`` declares them."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)[key]}


# span name -> per-layer metric reading the median span duration in ms
SPAN_MS = {
    "engine.search.build": "engine.search.build_ms",
    "engine.search.exec": "engine.search.exec_ms",
    "engine.multi_search.build": "engine.multi_search.build_ms",
    "engine.multi_search.exec": "engine.multi_search.exec_ms",
    "engine.store": "engine.store_ms",
    "engine.delete_collection": "engine.delete_collection_ms",
    "spark.createDataFrame": "spark.createDataFrame_ms",
    "spark.write_parquet": "spark.write_parquet_ms",
    "vector.normalize_query": "vector.normalize_query_ms",
    "vector.dot": "vector.dot_ms",
    "ann.build_ivf_index": "ann.build_ivf_index_ms",
    "pq.train_pq": "pq.train_pq_ms",
    "pq.encode_pq": "pq.encode_pq_ms",
    "op.pq_search": "pq.search_ms",
    "dedup.minhash_signatures": "dedup.minhash_signatures_ms",
    "op.dedup": "dedup.minhash_lsh_pairs_ms",
}
SPAN_PY4J = {
    "engine.search.build": "engine.search.py4j_calls",
    "engine.store": "engine.store.py4j_calls",
    "vector.dot": "vector.dot.py4j_calls",
}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--smoke", action="store_true")
    return p.parse_args(argv)


def configure_environment(work_dir: str) -> str:
    """Point every scratch location of Spark, the JVM and Python into
    the checkout, and pin the core count. Returns the scratch dir."""
    cores = min(4, len(os.sched_getaffinity(0)))
    tmp = os.path.join(work_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update({
        "SPARK_MASTER": f"local[{cores}]",
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_DRIVER_MEMORY": "1g",
        "SPARK_LOCAL_DIRS": tmp,
        "TMPDIR": tmp,
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
    })
    os.environ.pop("SPARK_CONNECT_MODE_ENABLED", None)
    return tmp


def spark_conf(work_dir: str, tmp: str) -> dict[str, str]:
    return {
        "spark.sql.warehouse.dir": os.path.join(work_dir, "spark-warehouse"),
        "spark.local.dir": tmp,
        # a fixed heap size keeps the JVM's resident set from
        # following the collector's resizing decisions
        "spark.driver.extraJavaOptions": f"-Xms1g -Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}",
        # keep every job of a run for the traced read-back
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
    }


def shutdown_spark(spark) -> None:
    """Stop Spark, close the JVM's stdin (it exits on EOF) and wait until
    the JVM and every Python worker it forked have ended."""
    import procmon
    from pyspark import SparkContext

    procs = set(procmon.process_tree(os.getpid())) - {os.getpid()}
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()
        try:
            gateway.proc.wait(timeout=60)
        except Exception:
            gateway.proc.kill()
            gateway.proc.wait()
    deadline = time.monotonic() + 30
    while any(procmon.alive(p) for p in procs) and time.monotonic() < deadline:
        time.sleep(0.1)
    for p in procs:
        if procmon.alive(p):
            os.kill(p, signal.SIGKILL)


def measure(wl, seconds: float) -> tuple[int, float]:
    """Whole blocks until ``seconds`` have passed, and at least the
    workload's ``MIN_BLOCKS``, so that a run on a busy host measures
    the same work as one on an idle host: (ops, elapsed s)."""
    ops0, t0 = wl.ops, time.perf_counter()
    blocks = 0
    while True:
        wl.block()
        blocks += 1
        elapsed = time.perf_counter() - t0
        if elapsed >= seconds and blocks >= wl.MIN_BLOCKS:
            return wl.ops - ops0, elapsed


def layer_metrics(wl, tracer, sampler, get_spark_s: float, overhead: float) -> dict:
    units = benchmark_units("per_layer")
    values = dict.fromkeys(units, 0.0)
    for span, metric in SPAN_MS.items():
        d = tracer.durations(span)
        if d:
            values[metric] = statistics.median(d) * 1e3
    for span, metric in SPAN_PY4J.items():
        # the first call of a session also resolves JVM classes
        c = tracer.py4j_counts(span)[1:] or tracer.py4j_counts(span)
        if c:
            values[metric] = statistics.median(c)
    ops = tracer.ops
    if ops:
        for key in ("jobs", "stages", "tasks"):
            values[f"spark.{key}_per_op"] = statistics.mean(o[key] for o in ops)
            for kind in OP_KINDS:
                sel = [o[key] for o in ops if o["kind"] == kind]
                if sel:
                    values[f"spark.{key}_per_op.{kind}"] = statistics.mean(sel)
        values["spark.failed_tasks"] = sum(o["failed_tasks"] for o in ops)
    ivf = [o["jobs"] for o in ops if o["kind"] == "ivf_build"]
    if ivf:
        values["ann.jobs_per_build"] = statistics.mean(ivf)
    values.update(wl.layer)
    values["session.get_spark_s"] = get_spark_s
    values["proc.driver_rss_peak_mb"] = sampler.peak_mb("driver")
    values["proc.jvm_rss_peak_mb"] = sampler.peak_mb("jvm")
    values["proc.worker_rss_peak_mb"] = sampler.peak_mb("workers")
    values["trace.overhead_frac"] = overhead
    # a name BENCHMARK.json does not declare fails here, loudly
    return {k: {"value": float(v), "unit": units[k]} for k, v in values.items()}


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, HERE)
    if not os.path.isfile(os.path.join(ROOT, "nebuia_vector_db_spark", "engine.py")):
        print("perfbench: run from a checkout holding nebuia_vector_db_spark/", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    import procmon
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    work_dir = os.path.join(os.getcwd(), ".perfbench_work", str(os.getpid()))
    out_dir = os.path.join(os.getcwd(), ".perfbench_out")
    tmp = configure_environment(work_dir)
    contention = procmon.ContentionMarker()
    contention.start()
    spark = None
    try:
        with procmon.RssSampler() as sampler:
            from nebuia_vector_db_spark import session

            t0 = time.perf_counter()
            spark = session.get_spark("perfbench", extra_conf=spark_conf(work_dir, tmp))
            spark.sparkContext.setLogLevel("ERROR")
            get_spark_s = time.perf_counter() - t0

            wl = workloads.WORKLOADS[args.workload](spark, work_dir, args.seed, args.smoke)
            wl.prepare()
            setup = []
            for rep in range(SETUP_REPS):
                t0 = time.perf_counter()
                session.get_spark("perfbench", extra_conf=spark_conf(work_dir, tmp))
                wl.setup(rep)
                setup.append(time.perf_counter() - t0)
            t0 = time.perf_counter()
            wl.warmup()
            warmup_s = time.perf_counter() - t0

            span = args.seconds / 2 if args.trace else args.seconds
            ops, elapsed = measure(wl, span)
            untraced_ops_per_s = ops / elapsed
            tracer = None
            if args.trace:
                import tracing

                tracer = tracing.Tracer()
                tracer.install()
                tracer.count_py4j(spark.sparkContext._gateway._gateway_client)
                # end-to-end figures come from the untraced half only
                untraced_lat, wl.lat = wl.lat, collections.defaultdict(list)
                wl.tracer = tracer
                try:
                    t_ops, t_elapsed = measure(wl, span)
                    if args.workload == "batch_build":
                        wl.signature_probe()
                finally:
                    wl.tracer = None
                    tracer.uninstall()
                    wl.lat = untraced_lat
                tracer.job_stats(spark)
            wl.final_checks()
            report = wl.report()
            sampler.sample()
    finally:
        if spark is not None:
            shutdown_spark(spark)
        shutil.rmtree(work_dir, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(os.path.dirname(work_dir))
    record = contention.stop()

    checker = wl.checker
    table = {
        # the session start is paid once per run, a set-up on every rep
        "setup_s": (get_spark_s + statistics.median(setup), "s", len(setup)),
        "ops_per_s": (untraced_ops_per_s, "ops/s", ops),
        "failed_frac": (checker.failed_frac, "ratio", checker.attempted),
        "peak_rss_mb": (sampler.peak_mb("total"), "MB", 1),
        **report,
    }
    if tracer is not None:
        os.makedirs(out_dir, exist_ok=True)
        tracer.write(os.path.join(out_dir, f"trace-{args.workload}-seed{args.seed}.json"))
        overhead = untraced_ops_per_s / (t_ops / t_elapsed) - 1
        metrics = layer_metrics(wl, tracer, sampler, get_spark_s, overhead)
    else:
        metrics = {
            k: {"value": float(table[k][0]), "unit": u}
            for k, u in benchmark_units("end_to_end").items()
        }

    for name, (value, unit, n) in table.items():
        print(f"{name} {value:.6g} {unit} n={n}")
    if tracer is not None:
        for name, m in metrics.items():
            print(f"{name} {m['value']:.6g} {m['unit']}")
    record["peak_rss_mb"] = {g: round(sampler.peak_mb(g), 1) for g in ("driver", "jvm", "workers")}
    record["get_spark_s"] = round(get_spark_s, 3)
    record["setup_reps_s"] = [round(t, 3) for t in setup]
    record["warmup_s"] = round(warmup_s, 3)
    print("contention " + json.dumps(record))
    for reason in checker.reasons:
        print(f"FAILED {reason}")
    print(json.dumps({
        "correct": checker.failed == 0,
        "attempted": checker.attempted,
        "failed": checker.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
