"""Benchmark for the build → serve → refresh life cycle of the RAG engine.

Run from the repository root:

    python3 perfbench/run.py --workload serve --seed 1 --seconds 15 --trace 0

It generates its inputs from ``--seed`` as plain files, drives the
engine's public layer functions on a local Spark session, measures for
``--seconds``, checks every answer, prints a table of every metric with
its unit and sample count, and as its last line one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports
the end-to-end metrics; ``--trace 1`` runs traced and reports the
per-layer metrics. It exits non-zero when any check fails. See README.md.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

from rss import RssSampler  # noqa: E402
from spans import Tracer  # noqa: E402

PKG = "retrieval_augmented_generation__rag__chatbot_with_vector_database_spark"
OUT_DIR = os.path.join(ROOT, ".perfbench")
SPARK_THREADS = 4

#: every end-to-end metric (unit, better); each workload reports all
E2E = {
    "setup_s": ("s", "lower"),
    "throughput_per_s": ("1/s", "higher"),
    "recall_at_5": ("ratio", "higher"),
    "space_amp": ("ratio", "lower"),
    "driver_rss_mb": ("MB", "lower"),
}

#: layer calls the workloads wrap; each gets the six Spark accounting
#: metrics in a traced run (zero where a workload never calls it)
LAYER_CALLS = [
    "pii.scrub", "dedup.exact", "dedup.minhash", "dedup.groups",
    "textstats.gopher", "ingest.docs_to_records", "index_table.upsert",
    "pq.train", "pq.write", "pq.upsert", "search.search", "lexical.create",
    "lexical.bm25", "hybrid.rrf", "rag.answers",
]
ACCOUNTING = {
    "self_s": "s", "driver_s": "s", "tasks": "count", "busy_s": "s",
    "input_bytes": "bytes", "shuffle_bytes": "bytes",
}
LAYER_COUNTS = {
    "session.start_s": "s",
    "dedup.candidate_pairs": "count",
    "dedup.useful_pair_ratio": "ratio",
    "index_table.buckets_touched": "count",
    "index_table.bytes_rewritten": "bytes",
    "pq.partitions_touched": "count",
    "pq.bytes_rewritten": "bytes",
    "search.probed_fraction": "ratio",
    "layout.files_live": "count",
    "trace.bookkeeping_s": "s",
    "trace.spans": "count",
}


def per_layer_names() -> dict[str, str]:
    """Every per-layer metric name → unit, in report order."""
    out = {f"{c}.{m}": u for c in LAYER_CALLS for m, u in ACCOUNTING.items()}
    out.update(LAYER_COUNTS)
    return out


def _session(work: str):
    """Local Spark session whose scratch space lies inside ``work``."""
    for d in ("spark", "tmp", "wh"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # Python workers import the engine from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master(f"local[{SPARK_THREADS}]")
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", str(SPARK_THREADS))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", "1g")
        .config("spark.local.dir", os.path.join(work, "spark"))
        .config("spark.sql.warehouse.dir", os.path.join(work, "wh"))
        .config(
            "spark.driver.extraJavaOptions",
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData",
        )
        # the status store must still hold every job when a traced run
        # reads it back; set for both modes so they run alike
        .config("spark.ui.retainedJobs", "100000")
        .config("spark.ui.retainedStages", "100000")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop(spark) -> None:
    """Stop the session, then end the JVM and wait for it. ``stop()``
    alone leaves the JVM running until this process exits."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway server exits on EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _fmt(v) -> str:
    if isinstance(v, float):
        return f"{v:.6g}"
    return str(v)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["serve", "refresh"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)
    if args.seconds <= 0:
        ap.error("--seconds must be positive")

    t_start = time.perf_counter()
    # fails (non-zero exit, no result) when the engine is not beside us
    importlib.import_module(PKG)
    import workloads

    run_id = f"{args.workload}-s{args.seed}-t{args.trace}"
    work = os.path.join(OUT_DIR, f"work-{os.getpid()}")
    os.makedirs(work)
    rss = RssSampler()
    rss.start()
    spark = None
    try:
        spark = _session(work)
        session_s = time.perf_counter() - t_start
        tracer = Tracer(spark.sparkContext if args.trace else None)
        bench = workloads.Bench(spark, tracer, work, args.seed, args.seconds)
        res = workloads.WORKLOADS[args.workload](bench)
        if args.trace:
            tracer.account()
    finally:
        if spark is not None:
            _stop(spark)
        rss.stop()
        shutil.rmtree(work, ignore_errors=True)

    res.e2e["setup_s"] = (session_s + res.prepare_s + res.warmup_s,
                          len(res.prepare_samples))
    res.e2e["driver_rss_mb"] = (rss.core_peak_mb, rss.samples)
    res.extra["peak_rss_mb"] = (rss.peak_mb, "MB", rss.samples)
    print(f"# workload={args.workload} seed={args.seed} "
          f"seconds={args.seconds:g} trace={args.trace} "
          f"session_s={session_s:.3f} "
          f"prepare_s={[round(x, 3) for x in res.prepare_samples]} "
          f"warmup_s={res.warmup_s:.3f}")
    print(f"# {'metric':<28} {'value':>14} {'unit':<10} samples")
    for name, (unit, _) in E2E.items():
        v, n = res.e2e[name]
        print(f"  {name:<28} {_fmt(v):>14} {unit:<10} {n}")
    for name, (v, unit, n) in res.extra.items():
        print(f"  {name:<28} {_fmt(v) if v is not None else 'n/a':>14} "
              f"{unit:<10} {n}")
    for c in res.checks:
        print(f"# check {'ok  ' if c[1] else 'FAIL'} {c[0]}: {c[2]}")

    os.makedirs(OUT_DIR, exist_ok=True)
    if args.trace:
        tracer.dump(os.path.join(OUT_DIR, f"spans-{run_id}.jsonl"))
        layer = workloads.layer_report(bench, tracer, session_s)
        metrics = {
            n: {"value": float(layer.get(n, 0.0)), "unit": u}
            for n, u in per_layer_names().items()
        }
        base = os.path.join(OUT_DIR, f"result-{args.workload}-s{args.seed}-t0.json")
        if os.path.exists(base):
            with open(base) as f:
                untraced = json.load(f)["metrics"]["throughput_per_s"]["value"]
            traced = res.e2e["throughput_per_s"][0]
            print(f"# tracing overhead: throughput {traced:.4g} traced vs "
                  f"{untraced:.4g} untraced ({traced / untraced - 1:+.1%})")
        else:
            print("# tracing overhead: no untraced result for this workload "
                  "and seed yet; run with --trace 0 first")
    else:
        metrics = {
            n: {"value": float(res.e2e[n][0]), "unit": u}
            for n, (u, _) in E2E.items()
        }
    correct = res.failed == 0 and all(c[1] for c in res.checks)
    out = {"correct": correct, "attempted": res.attempted,
           "failed": res.failed, "metrics": metrics}
    with open(os.path.join(OUT_DIR, f"result-{run_id}.json"), "w") as f:
        json.dump(out, f)
    print(json.dumps(out))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
