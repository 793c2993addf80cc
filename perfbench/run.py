#!/usr/bin/env python3
"""Memory-engine benchmark.

    python3 perfbench/run.py --workload agent_search --seed 1 --seconds 10 --trace 0

Run from the root of a checkout.  The last line of standard output is one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics`` -- the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``.  A detail file with every operation time, the CPU calibration
timings, the spans and their Spark job figures is written to
``.bench_out/``.  Each run works in a private temporary tree under
``.bench_run/``, removed at the end.  See perfbench/README.md.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
#: one local thread: a search keeps more than two cores busy even so (JIT,
#: GC, scheduler threads), and searches ran as fast as at two threads while
#: using less CPU, which leaves headroom against outside load on 4 cores
THREADS = 1
SHUFFLE_PARTITIONS = THREADS
DRIVER_MEMORY = "2g"


def calibrate() -> float:
    """Seconds for a fixed pure-Python loop; written to the detail file so a
    slow run can be matched to machine drift."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(1_000_000):
        acc = (acc + i * i) % 1_000_003
    return time.perf_counter() - t0


def private_dirs(workload: str) -> dict:
    base = os.path.join(ROOT, ".bench_run", f"{workload}-{os.getpid()}-{time.time_ns()}")
    dirs = {k: os.path.join(base, k)
            for k in ("tmp", "spark_local", "warehouse", "index")}
    for d in dirs.values():
        os.makedirs(d)
    dirs["base"] = base
    return dirs


def start_spark(dirs: dict):
    os.environ["TMPDIR"] = dirs["tmp"]
    os.environ["SPARK_LOCAL_DIRS"] = dirs["spark_local"]
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    import tempfile

    tempfile.tempdir = dirs["tmp"]
    from memory_opensource_spark.session import get_spark

    spark = get_spark(
        "perfbench", master=f"local[{THREADS}]", shuffle_partitions=SHUFFLE_PARTITIONS,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.memory": DRIVER_MEMORY,
            "spark.local.dir": dirs["spark_local"],
            "spark.sql.warehouse.dir": dirs["warehouse"],
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={dirs['tmp']} -Dderby.system.home={dirs['tmp']}",
            # keep every job and stage of a run in the status store
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        })
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the context, then the JVM it runs in, and wait for it to end."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    except Exception:  # noqa: BLE001 - the JVM may already be gone
        pass
    if proc is not None:
        try:
            proc.stdin.close()
        except Exception:  # noqa: BLE001
            pass
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001
            proc.kill()
            proc.wait()


def layer_metrics(spans: list[dict], stats: dict[int, dict], overhead_pct: float) -> dict:
    """Per-layer medians.  A layer called in the timed phase is summarized
    over its traced timed-phase calls; one only called in set-up (index
    build, session start) over its set-up calls."""
    by_name: dict[str, list[dict]] = {}
    for s in spans:
        by_name.setdefault(s["name"], []).append(s)
    children: dict[int, list[dict]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append(s)

    def pick(name):
        ss = by_name.get(name, [])
        timed = [s for s in ss if s["phase"] == "timed"]
        return timed or [s for s in ss if s["phase"] == "setup"]

    def med(vals):
        vals = list(vals)
        return statistics.median(vals) if vals else 0.0

    def dur(name, scale):
        return med((s["end"] - s["start"]) * scale for s in pick(name))

    def job(name, key, scale=1.0):
        return med(stats.get(s["id"], {}).get(key, 0) * scale for s in pick(name))

    def checkpoints(s):
        out, todo = [], list(children.get(s["id"], []))
        while todo:
            c = todo.pop()
            if c["name"] == "spark.localCheckpoint":
                out.append(c)
            else:
                todo.extend(children.get(c["id"], []))
        return out

    m = {}
    for label in ("api.search", "api.search_ann"):
        m[f"{label}.build_ms"] = dur(f"{label}.build", 1e3)
        m[f"{label}.exec_ms"] = dur(f"{label}.exec", 1e3)
        m[f"{label}.jobs"] = job(f"{label}.op", "jobs")
        m[f"{label}.tasks"] = job(f"{label}.op", "tasks")
        m[f"{label}.read_mb"] = job(f"{label}.op", "input_bytes", 1e-6)
    adds = pick("api.add_memory_batch")
    m["api.add_memory_batch.ms"] = dur("api.add_memory_batch", 1e3)
    m["api.add_memory_batch.jobs"] = job("api.add_memory_batch", "jobs")
    m["api.add_memory_batch.shuffle_mb"] = med(
        (stats.get(s["id"], {}).get("shuffle_read_bytes", 0)
         + stats.get(s["id"], {}).get("shuffle_write_bytes", 0)) / 1e6 for s in adds)
    m["api.add_memory_batch.checkpoints"] = med(len(checkpoints(s)) for s in adds)
    m["api.add_memory_batch.checkpoint_ms"] = med(
        sum(c["end"] - c["start"] for c in checkpoints(s)) * 1e3 for s in adds)
    m["api.append_to_search_index.ms"] = dur("api.append_to_search_index", 1e3)
    m["api.record_feedback.ms"] = dur("api.record_feedback", 1e3)
    m["api.build_search_index.s"] = dur("api.build_search_index", 1)
    for name in ("plans.search.search", "plans.ingest.chunk_text",
                 "plans.ingest.hash_embed_arrow", "operators.similarity.topk_search",
                 "operators.predicate.compile_filter", "operators.dedup.ingest_dedup_reuse",
                 "sources.ann_index.append_to_index", "sources.ann_index.probe_buckets"):
        m[f"{name}.ms"] = dur(name, 1e3)
    for name in ("sources.ann_index.train_centroids", "sources.ann_index.build_ivf_index",
                 "session.get_spark"):
        m[f"{name}.s"] = dur(name, 1)
    m["trace.overhead_pct"] = overhead_pct
    return m


def layer_unit(name: str) -> str:
    last = name.rsplit(".", 1)[1]
    if last.endswith("ms"):
        return "ms"
    if last == "s":
        return "s"
    if last.endswith("_mb"):
        return "MB"
    if last.endswith("_pct"):
        return "%"
    return "count"


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "memory_opensource_spark")):
        print(f"perfbench: no memory_opensource_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench import workloads
    from perfbench.trace import Tracer

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"one of {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2

    detail = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
              "trace": args.trace, "threads": THREADS, "nproc": os.cpu_count(),
              "shuffle_partitions": SHUFFLE_PARTITIONS, "driver_memory": DRIVER_MEMORY}
    detail["calibration_start_s"] = calibrate()
    t_gen = time.perf_counter()
    tracer = Tracer()
    run = workloads.Run(args.workload, args.seed,
                        workloads.rounds_for(args.workload, args.seconds), tracer)
    gen_s = time.perf_counter() - t_gen
    dirs = private_dirs(args.workload)
    spark = None
    try:
        if args.trace:
            tracer.install()
            tracer.active = True
        t_spark = time.perf_counter()
        with tracer.span("session.get_spark"):
            spark = start_spark(dirs)
        run.setup_phases["spark_s"] = time.perf_counter() - t_spark
        tracer.bind(spark)
        run.setup(spark, dirs["index"])
        tracer.active = False
        t_first = time.perf_counter()
        # calibration and input generation are not set-up work
        setup_s = t_first - T_PROCESS - gen_s - detail["calibration_start_s"]
        run.timed(trace_every=2 if args.trace else 0)
        t_end = time.perf_counter()
        check_errors = run.check()
        detail["check_s"] = time.perf_counter() - t_end
        index_mb = run.index_mb()
        stats = tracer.job_stats() if args.trace else {}
    finally:
        t_stop = time.perf_counter()
        if args.trace:
            tracer.uninstall()
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(dirs["base"], ignore_errors=True)
        detail["stop_s"] = time.perf_counter() - t_stop
    detail["calibration_end_s"] = calibrate()

    if args.trace:
        traced = [ms for t, ms in run.round_ms if t]
        plain = [ms for t, ms in run.round_ms if not t]
        overhead = (statistics.median(traced) / statistics.median(plain) - 1) * 100
        metrics = layer_metrics(tracer.spans, stats, overhead)
        units = {k: layer_unit(k) for k in metrics}
    else:
        metrics = {"setup_s": setup_s, **run.e2e(), "index_mb": index_mb}
        units = {"setup_s": "s", "search_p50_ms": "ms", "ann_p50_ms": "ms",
                 "round_p50_ms": "ms", "index_mb": "MB"}
    detail.update({
        "timed_phase_s": t_end - t_first, "rounds": run.rounds, "input_gen_s": gen_s,
        "setup_phases": run.setup_phases,
        "ops": run.ops, "round_ms": run.round_ms, "metrics": metrics,
        "check_errors": check_errors, "op_errors": run.errors,
        "spans": [{**s, "jobs": stats.get(s["id"], {})} for s in tracer.spans],
    })
    out_dir = os.path.join(ROOT, ".bench_out")
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}.json"),
              "w") as f:
        json.dump(detail, f, indent=1, default=str)
    for e in (check_errors + run.errors)[:20]:
        print(f"perfbench: {e}", file=sys.stderr)
    result = {
        "correct": not check_errors,
        "attempted": len(run.ops),
        "failed": run.failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
