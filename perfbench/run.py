"""Benchmark of the engine's user-facing paths.

    python3 perfbench/run.py --workload serve|batch --seed N \
        --seconds S --trace 0|1

Run from the repository root. Workloads (see perfbench/README.md):

* ``serve``: closed loop, one client. Set-up seeds ivfpq, hyperplane
  and graph indexes with ``indexes.create_index``; the timed loop sends
  top-13 ``indexes.query_index(...).collect()`` probes round-robin over
  the three kinds.
* ``batch``: passes over eight registry stages, each written to a noop
  sink.

With ``--trace 0`` the last stdout line carries the end-to-end metrics;
with ``--trace 1`` it carries the per-layer metrics of one traced round
or pass, read from the run's own Spark event log. Every run works in a
fresh directory under ``.perfbench_work/`` that is removed on exit.
"""

from __future__ import annotations

import argparse
import gc
import glob
import json
import os
import shutil
import signal
import statistics
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "generative_ai_vector_db_spark"
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")
DRIVER_MEMORY = "2g"

END_TO_END_UNITS = {
    "setup_s": "s",
    "items_per_s": "1/s",
    "op_p50_s": "s",
    "op_tail_s": "s",
    "peak_rss_mb": "MB",
    "bytes_stored_per_input_byte": "ratio",
}
# The per-layer metrics: for each traced site, the (site, metric)
# pairs that can read non-zero there (spill never did at these sizes,
# nor Python-worker time on the graph probe or shuffle on a single
# mapInPandas stage). ``<site>.<metric>`` is the reported name.
_FRAME = (
    "construct_s", "plan_s", "execute_s", "py4j_calls", "eager_jobs", "jobs",
    "executor_cpu_s", "python_worker_s", "shuffle_bytes", "driver_gap_s",
    "task_max_over_median",
)
_CALL = (
    "call_s", "py4j_calls", "jobs", "executor_cpu_s", "python_worker_s",
    "shuffle_bytes", "driver_gap_s", "task_max_over_median",
)
_STAGED = tuple(m for m in _FRAME if m not in ("eager_jobs", "shuffle_bytes"))
LAYER_METRICS = {
    "serve.ivfpq": _FRAME,
    "serve.hyperplane": _FRAME,
    "serve.graph": tuple(m for m in _FRAME if m != "python_worker_s"),
    "serve.ivfpq.catalog": ("call_s", "py4j_calls", "jobs"),
    "serve.hyperplane.catalog": ("call_s", "py4j_calls", "jobs"),
    "serve.graph.catalog": ("call_s", "py4j_calls", "jobs"),
    "tables.load": ("construct_s", "py4j_calls", "eager_jobs"),
    "ingest.stream": _CALL,
    "ingest.absorb.ivfpq": _CALL,
    "ingest.absorb.hyperplane": _CALL,
    "ingest.absorb.graph": _CALL,
    "ingest.parse": _STAGED,
    "ingest.chunk": _STAGED,
    "ingest.embed": _STAGED,
    "ingest.append": tuple(
        m for m in _CALL if m not in ("python_worker_s", "shuffle_bytes")
    ),
}
EXTRA_LAYER_UNITS = {"trace_overhead_s": "s", "ingest.dedup_skipped_frac": "ratio"}


def layer_unit(metric: str) -> str:
    if metric.endswith("_s"):
        return "s"
    if metric in ("py4j_calls", "jobs", "eager_jobs"):
        return "count"
    return "B" if metric == "shuffle_bytes" else "ratio"


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=("serve", "ingest", "batch"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _pid_alive(pid: int) -> bool:
    return os.path.exists(f"/proc/{pid}")


def make_work_dir() -> str:
    """A fresh directory for this run. Directories left by runs whose
    process is gone (killed before cleanup) are removed first."""
    os.makedirs(WORK_ROOT, exist_ok=True)
    for old in glob.glob(os.path.join(WORK_ROOT, "run-*")):
        pid = os.path.basename(old).split("-")[1]
        if pid.isdigit() and not _pid_alive(int(pid)):
            shutil.rmtree(old, ignore_errors=True)
    return tempfile.mkdtemp(prefix=f"run-{os.getpid()}-", dir=WORK_ROOT)


def start_session(work: str, cores: int, trace: bool):
    from generative_ai_vector_db_spark.session import get_session

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp  # inherited by the JVM and Python workers
    tempfile.tempdir = tmp
    conf = {
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={tmp} -Dderby.system.home={work} -XX:-UsePerfData"
        ),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        events = os.path.join(work, "events")
        os.makedirs(events)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": events,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    spark = get_session(
        app_name="perfbench",
        master=f"local[{cores}]",
        shuffle_partitions=cores,
        driver_memory=DRIVER_MEMORY,
        extra_conf=conf,
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for its JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None


def _vm_hwm_kb(pid: int | str) -> int:
    with open(f"/proc/{pid}/status", encoding="ascii") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    raise RuntimeError(f"no VmHWM for pid {pid}")


def peak_rss_mb(spark) -> float:
    """Peak resident memory of the driver JVM plus this process."""
    jvm_pid = spark.sparkContext._jvm.ProcessHandle.current().pid()
    return (_vm_hwm_kb(jvm_pid) + _vm_hwm_kb("self")) / 1024


def tail(latencies: list[float]) -> tuple[float, float, int]:
    """(value, percentile, samples beyond it): the highest percentile
    with at least 10 samples beyond it; with fewer than 11 samples,
    the maximum."""
    xs = sorted(latencies)
    n = len(xs)
    if n < 11:
        return xs[-1], 100.0, 0
    return xs[n - 11], 100.0 * (n - 10) / n, 10


def end_to_end(loop, setup_s: float, rss_mb: float) -> dict:
    elapsed = sum(loop.unit_walls)
    return {
        "setup_s": setup_s,
        "items_per_s": loop.items / elapsed,
        "op_p50_s": statistics.median(loop.latencies),
        "op_tail_s": tail(loop.latencies)[0],
        "peak_rss_mb": rss_mb,
        # the batch stages write to a noop sink: nothing is stored
        "bytes_stored_per_input_byte": loop.notes.get("bytes_stored_per_input_byte", 0.0),
    }


def trace_overhead(loop) -> float:
    """Median traced unit wall minus median untraced unit wall."""
    traced = [w for w, t in zip(loop.unit_walls, loop.traced_units) if t]
    plain = [w for w, t in zip(loop.unit_walls, loop.traced_units) if not t]
    return statistics.median(traced) - statistics.median(plain)


def per_layer(loop, sites: dict, ing) -> dict:
    """The declared (site, metric) pairs, the traced-minus-untraced
    wall of one unit of the workload, and the share of files the
    ingest rounds skipped as already stored."""
    out = {
        f"{site}.{m}": sites.get(site, {}).get(m, 0.0)
        for site, metrics in LAYER_METRICS.items()
        for m in metrics
    }
    out["trace_overhead_s"] = trace_overhead(loop)
    out["ingest.dedup_skipped_frac"] = ing.files_skipped / max(ing.files_sent, 1)
    return out


def run(args) -> dict:
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        raise SystemExit(f"{PACKAGE}/ not found next to perfbench/")
    sys.path.insert(0, ROOT)
    import importlib.util

    import inputs
    import workloads
    from spans import Tracer

    cores = min(4, len(os.sched_getaffinity(0)))
    work = make_work_dir()
    spark = None
    loop = workloads.Loop()
    try:
        t0 = time.perf_counter()
        spark = start_session(work, cores, bool(args.trace))
        tracer = Tracer(spark, bool(args.trace))
        corpus = inputs.make_corpus(work, args.seed)
        root = os.path.join(work, "indexes")
        paths = ("serve", "ingest")  # share their set-up
        if args.workload in paths:
            serve = workloads.Serve(spark, tracer, corpus, root, args.seed)
            ing = None
            if args.workload == "ingest" or args.trace:
                ing = workloads.Ingest(spark, tracer, corpus, root, work, args.seed)
            main_path, other = (serve, ing) if args.workload == "serve" else (ing, serve)
            # warm each kind on the measured path (a serving or ingesting
            # process pays first-call cost once); a traced run warms
            # both paths, so its cross unit is warm too
            warmers = (main_path, other) if args.trace else (main_path,)

            def warm(kind):
                return "; ".join(filter(None, (w.warm(kind) for w in warmers))) or None

            with tracer.only(False):
                workloads.seed_indexes(
                    spark, corpus, root, loop, warm, also=ing and ing.setup
                )
            # start the timed units from a collected heap on both sides
            gc.collect()
            spark.sparkContext._jvm.System.gc()
        setup_s = time.perf_counter() - t0
        print(f"setup: local[{cores}], {corpus.n_docs} docs, "
              f"{len(corpus.vectors)} vectors, {setup_s:.2f} s", flush=True)

        if args.workload in paths:
            workloads.run_units(loop, args.seconds, tracer, main_path.round)
            main_path.finish(loop)
            if args.trace:
                # one traced unit of the other path, so every traced
                # run reports every site
                cross = workloads.Loop()
                other.round(cross, 0, True)
                loop.attempted += cross.attempted
                loop.failed += cross.failed
        else:
            spec = importlib.util.spec_from_file_location(
                "__spark_entry__", os.path.join(ROOT, "__spark_entry__.py")
            )
            entry = importlib.util.module_from_spec(spec)
            spec.loader.exec_module(entry)
            workloads.batch(
                spark, tracer, corpus, work, entry.queries(), entry.oracle_sql(),
                args.seconds, loop,
            )
        tracer.close()
        rss = peak_rss_mb(spark)
        stop_session(spark)
        spark = None

        metrics = end_to_end(loop, setup_s, rss)
        _, pct, beyond = tail(loop.latencies)
        report = dict(metrics)
        report["failed_frac"] = loop.failed / loop.attempted
        for name, v in loop.notes.items():
            report[name] = v
        print(f"workload {args.workload} seed {args.seed}: "
              f"{len(loop.latencies)} ops in {len(loop.unit_walls)} units, "
              f"digest {loop.digest.hexdigest()[:16]}")
        print("  op latencies s " + " ".join(f"{x:.3f}" for x in loop.latencies))
        for name, v in report.items():
            unit = END_TO_END_UNITS.get(name, "ratio")
            extra = f"  (p{pct:.0f} of n={len(loop.latencies)}, {beyond} beyond)" \
                if name == "op_tail_s" else ""
            print(f"  {name:<28} {v:.6g} {unit}{extra}")

        if args.trace:
            (log,) = glob.glob(os.path.join(work, "events", "*"))
            sites = tracer.site_metrics(log)
            for site, m in sites.items():
                print(f"  site {site} " + json.dumps({k: round(v, 6) for k, v in m.items()}))
            if args.workload == "batch":
                values = {
                    f"{site}.{k}": v for site, m in sites.items() for k, v in m.items()
                }
                values["trace_overhead_s"] = trace_overhead(loop)
            else:
                values = per_layer(loop, sites, ing)
            units = {
                k: EXTRA_LAYER_UNITS.get(k) or layer_unit(k.rsplit(".", 1)[1])
                for k in values
            }
        else:
            values, units = metrics, END_TO_END_UNITS
        return {
            "correct": loop.failed == 0,
            "attempted": loop.attempted,
            "failed": loop.failed,
            "metrics": {k: {"value": v, "unit": units[k]} for k, v in values.items()},
        }
    finally:
        try:
            if spark is not None:
                stop_session(spark)
        finally:
            shutil.rmtree(work, ignore_errors=True)


def main(argv=None) -> int:
    args = parse_args(argv)
    # a terminated run still removes its work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    result = run(args)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
