"""Benchmark entry point.

    python3 cdcbench/run.py --workload backfill|corpus_dedup \
        --seed N --seconds S --trace 0|1

Run from the root of a checkout. Prints one JSON line last on stdout:
{"correct", "attempted", "failed", "metrics"} with the end-to-end metrics
(--trace 0) or the per-layer metrics (--trace 1). Exits nonzero when an
output differs from its oracle or an operation fails. All scratch files go
to .cdcbench_work/ in the checkout; traces are kept in .cdcbench_work/traces.
"""

from __future__ import annotations

import time

# setup_s counts from here: interpreter and import time are part of set-up.
T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CORES = 4

END_TO_END = [("setup_s", "s"), ("op_p50_s", "s"), ("worker_peak_rss_mb", "MB")]

_QUERY_LAYERS = (
    [(f"operators.dedup.{q}.{m}", u)
     for q in ("shingle_jaccard", "minhash_near_dups", "simhash", "simhash_near_dups",
               "dedup_corpus")
     for m, u in (("build_s", "s"), ("s", "s"), ("python_cpu_s", "s"),
                  ("jvm_cpu_s", "s"), ("spark_jobs", "count"))]
    + [(f"operators.similarity.{q}.{m}", "s")
       for q in ("embedding_near_dups", "semantic_dedup_corpus", "ann_topk")
       for m in ("s", "jvm_cpu_s", "python_cpu_s")]
)
PER_LAYER = [
    ("sources.changes.generate_s", "s"),
    ("sources.changes.log_bytes", "bytes"),
    ("operators.merge.precompute_epoch_stats_s", "s"),
    ("lake.table.merge_aligned_fused_s", "s"),
    ("lake.table.snapshot_s", "s"),
    ("lake.table.snapshot_calls", "count"),
    ("lake.table.commits", "count"),
    ("lake.table.files_added", "count"),
    ("lake.table.bytes_added", "bytes"),
    ("lake.table.buckets_rewritten", "count"),
    ("lake.table.write_amp", "ratio"),
    ("lake.table.live_files", "count"),
    ("operators.arrow_fold.python_cpu_s", "s"),
    ("operators.arrow_fold.jvm_cpu_s", "s"),
    *_QUERY_LAYERS,
    ("spark.jobs", "count"),
    ("spark.tasks", "count"),
    ("spark.failed_tasks", "count"),
    ("host.steal_pct", "%"),
    ("host.jvm_peak_rss_mb", "MB"),
    ("backfill.scaling_efficiency_1to4", "ratio"),
    ("trace.overhead_frac", "ratio"),
    ("trace.span_coverage", "ratio"),
]


def start_session(work: str, cores: int):
    from go_tfdata_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    spark = get_spark(
        "cdcbench", cores=cores, shuffle_partitions=cores,
        extra_conf={
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM (and with it the Python daemon)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def prepare_env(work: str) -> None:
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    # Spark's scratch stays in the checkout (this variable overrides
    # spark.local.dir), and the engine runs with its defaults whatever the
    # caller's environment sets.
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    for var in ("SPARK_GRAFT_DRIVER_MEM", "SPARK_GRAFT_ARROW_BATCH",
                "SPARK_GRAFT_OPEN_COST", "SPARK_GRAFT_TIMING"):
        os.environ.pop(var, None)


def local1_replay_s(log_dir: str, work: str) -> float:
    """Wall time of the same replay at local[1], in its own process."""
    out = subprocess.run(
        [sys.executable, os.path.join(ROOT, "cdcbench", "local1.py"), log_dir, work],
        capture_output=True, text=True, timeout=150, cwd=ROOT,
    )
    if out.returncode != 0:
        sys.stderr.write(out.stderr[-4000:])
        raise RuntimeError("local[1] baseline replay failed")
    return float(out.stdout.strip().splitlines()[-1])


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["backfill", "corpus_dedup"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    if not (os.path.isfile(os.path.join(ROOT, "go_tfdata_spark", "__init__.py"))
            and os.path.isfile(os.path.join(ROOT, "__spark_entry__.py"))):
        print(f"cdcbench: no go_tfdata_spark checkout at {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    work_root = os.path.join(ROOT, ".cdcbench_work")
    work = os.path.join(work_root, f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    prepare_env(work)

    from cdcbench.procstat import MemorySampler, ProcessTree, host_ticks
    from cdcbench.trace import Tracer, install_engine_wrappers
    from cdcbench.workloads import WORKLOADS, Run

    ticks0 = host_ticks()
    tree = ProcessTree()
    spark = start_session(work, CORES)
    t_session = time.perf_counter() - T_PROCESS
    tracer = Tracer(spark, tree)
    if args.trace:
        install_engine_wrappers(tracer)
    run = Run(spark=spark, tree=tree, tracer=tracer, work=work, seed=args.seed,
              seconds=args.seconds, traced=bool(args.trace), t_process=T_PROCESS)
    try:
        with MemorySampler(tree):
            values = WORKLOADS[args.workload](run)
            jvm_mb, python_mb = tree.peak_rss_mb()
    finally:
        tracer.unwrap_all()
        stop_session(spark)
    print(f"set-up: {run.setup_s:.2f} s = session start {t_session:.2f} s + inputs "
          f"{run.setup_s - t_session - run.warmup_s:.2f} s + warm-up {run.warmup_s:.2f} s",
          file=sys.stderr)
    print(f"peak RSS: JVM {jvm_mb:.0f} MB + Python workers {python_mb:.0f} MB",
          file=sys.stderr)

    if args.trace:
        L = run.layers
        if args.workload == "backfill" and run.cold_replay_s:
            one = run.guarded("local[1] baseline replay",
                              lambda: local1_replay_s(run.log_dir, work))
            if one:
                L["backfill.scaling_efficiency_1to4"] = one / run.cold_replay_s / CORES
        ticks1 = host_ticks()
        total = ticks1[0] - ticks0[0]
        L["host.steal_pct"] = 100.0 * (ticks1[1] - ticks0[1]) / total if total else 0.0
        L["host.jvm_peak_rss_mb"] = jvm_mb
        tracer.write(os.path.join(work_root, "traces", f"{args.workload}-{args.seed}.json"),
                     {"workload": args.workload, "seed": args.seed, "layers": L})
        metrics = {n: {"value": float(L.get(n, 0.0)), "unit": u} for n, u in PER_LAYER}
        top = sorted(tracer.self_times().items(), key=lambda kv: -kv[1])[:8]
        print("self time by span: " + ", ".join(f"{k} {v:.2f}s" for k, v in top),
              file=sys.stderr)
    else:
        vals = {"setup_s": run.setup_s,
                "op_p50_s": statistics.median(values) if values else 0.0,
                "worker_peak_rss_mb": python_mb}
        metrics = {n: {"value": vals[n], "unit": u} for n, u in END_TO_END}
    shutil.rmtree(work, ignore_errors=True)

    correct = run.failed == 0 and run.attempted > 0 and bool(values)
    print(json.dumps({"correct": correct, "attempted": max(run.attempted, 1),
                      "failed": run.failed, "metrics": metrics}), flush=True)
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
