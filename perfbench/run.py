"""Benchmark entry point: one workload, one seed, one closed-loop client.

    python3 perfbench/run.py --workload analytics_mix --seed 1 --seconds 5 --trace 0

Run it from the repository root.  It generates the workload's inputs from
the seed, starts the package's own Spark session (`session.get_spark`,
one Spark driver, `local[SPARK_GRAFT_CPUS]`, defaulting to `nproc`), runs
the workload's warm-up if it has one, computes reference answers, then
sends the workload's fixed sequence of
operations one at a time, checking every output.  The sequence is the
same for every seed and takes longer than any `--seconds` the benchmark
is run with, so `--seconds` is recorded but bounds nothing.

The last stdout line is the result object (`correct`, `attempted`,
`failed`, `metrics`): the end-to-end metrics with `--trace 0`, the
per-layer metrics with `--trace 1`.  The line before it carries the
run's provenance.  Each run works in a fresh directory under
`.perfbench/runs/` (TMPDIR, Spark local dirs, stores and sink state all
live there) and deletes it at the end; traced runs leave their spans and
counts in `.perfbench/trace-<workload>-<seed>.json`.  See README.md for
the metric definitions.
"""

from __future__ import annotations

import argparse
import hashlib
import importlib
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time
from statistics import median

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
PACKAGE = "vcf_pg_loader_spark"
WORKLOADS = {
    "analytics_mix": "analytics",
    "vcf_ingest": "ingest",
    "dedup_stream": "dedup",
}
SETUP_REPEATS = 3
def _source_digest() -> str:
    """Content hash of the package source: the checkout is not always a
    git repository, so this identifies the code that was measured."""
    h = hashlib.sha256()
    root = os.path.join(REPO, PACKAGE)
    for dirpath, dirnames, files in os.walk(root):
        dirnames.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                p = os.path.join(dirpath, f)
                h.update(os.path.relpath(p, REPO).encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()[:16]


def _git_commit() -> str | None:
    try:
        out = subprocess.run(
            ["git", "-C", REPO, "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=10,
        )
    except (OSError, subprocess.SubprocessError):
        return None
    return out.stdout.strip() or None


def _isolate(run_root: str) -> dict[str, str]:
    """Point every temporary location at this run's own directory and make
    the package importable by Python workers from any working directory."""
    dirs = {k: os.path.join(run_root, k) for k in ("tmp", "local", "warehouse")}
    for d in dirs.values():
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = dirs["tmp"]
    os.environ["SPARK_LOCAL_DIRS"] = dirs["local"]
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (REPO, os.environ.get("PYTHONPATH")) if p
    )
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(os.cpu_count() or 1))
    tempfile.tempdir = None  # re-read TMPDIR
    if REPO not in sys.path:
        sys.path.insert(0, REPO)
    return dirs


def _stop(spark) -> None:
    """Stop the session, then the JVM, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _declared() -> tuple[dict, dict]:
    """(end-to-end, per-layer) metric name -> unit, from BENCHMARK.json."""
    with open(os.path.join(REPO, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return (
        {m["name"]: m["unit"] for m in spec["end_to_end"]},
        {m["name"]: m["unit"] for m in spec["per_layer"]},
    )


def _reported(declared: dict, measured: dict) -> dict:
    """Every declared metric, in declared order; a per-layer metric of a
    layer the workload does not run reads 0."""
    unknown = set(measured) - set(declared)
    if unknown:
        raise KeyError(f"metrics not declared in BENCHMARK.json: {sorted(unknown)}")
    return {k: measured.get(k, (0, u)) for k, u in declared.items()}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(REPO, PACKAGE)):
        print(f"perfbench: no {PACKAGE}/ beside perfbench/ - nothing to measure",
              file=sys.stderr)
        return 2

    end_to_end, per_layer = _declared()
    out_dir = os.path.join(REPO, ".perfbench")
    os.makedirs(os.path.join(out_dir, "runs"), exist_ok=True)
    run_root = tempfile.mkdtemp(
        prefix=f"{args.workload}-{args.seed}-", dir=os.path.join(out_dir, "runs")
    )
    dirs = _isolate(run_root)
    os.chdir(run_root)
    sys.path.insert(0, HERE)
    workload = importlib.import_module(WORKLOADS[args.workload])
    from tracing import Tracer, parse_event_log

    spark = None
    try:
        t0 = time.time()
        from vcf_pg_loader_spark.session import get_spark

        conf = {
            "spark.local.dir": dirs["local"],
            "spark.sql.warehouse.dir": dirs["warehouse"],
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={dirs['tmp']}",
        }
        event_dir = os.path.join(run_root, "events")
        if args.trace:
            os.makedirs(event_dir)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": f"file://{event_dir}",
                "spark.eventLog.compress": "false",
            })
        spark = get_spark(extra_conf=conf)
        session_s = time.time() - t0

        warm_s = 0.0
        if hasattr(workload, "warm_up"):
            tw = time.time()
            workload.warm_up(spark, os.path.join(run_root, "warm"), args.seed)
            warm_s = time.time() - tw
        setup_times, state = [], None
        for i in range(SETUP_REPEATS):
            ts = time.time()
            state = workload.setup(spark, os.path.join(run_root, f"in{i}"), args.seed)
            setup_times.append(time.time() - ts)

        tr = Tracer(spark, bool(args.trace))
        res = workload.run(spark, tr, state, run_root)
        jvm_rss, driver_rss = tr.jvm_rss_mb(), tr.driver_rss_mb()
    except Exception:
        if spark is not None:
            _stop(spark)
        shutil.rmtree(run_root, ignore_errors=True)
        raise
    _stop(spark)

    ops = tr.ops
    attempted, failed = len(ops), sum(not o["ok"] for o in ops)
    e2e = {
        "setup_s": (session_s + warm_s + median(setup_times), "s"),
        "success_rate": ((attempted - failed) / attempted, "ratio"),
        **res["end_to_end"],
    }
    provenance = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "nproc": os.cpu_count(),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "commit": _git_commit(),
        "source_sha256": _source_digest(),
        "session_start_s": session_s,
        "warm_up_s": warm_s,
        # peak RSS is reported, not bounded: the JVM's share follows G1's
        # heap sizing and varied by a third between runs of the same code
        "peak_rss_mb": driver_rss + jvm_rss,
        "driver_rss_mb": driver_rss,
        "jvm_rss_mb": jvm_rss,
        "setup_repeats_s": setup_times,
        "error_rate": failed / attempted,
        "errors": [f"{o['kind']}:{o['name']}: {o.get('error', 'wrong output')[-300:]}"
                   for o in ops if not o["ok"]][:20],
        **res.get("provenance", {}),
    }
    if set(e2e) != set(end_to_end):
        raise KeyError(f"end-to-end metrics {sorted(e2e)} != {sorted(end_to_end)}")
    result_metrics = _reported(end_to_end, e2e)
    if args.trace:
        provenance["event_log"] = parse_event_log(event_dir, ops)
        layers = workload.per_layer(tr, res)
        measured = res["measured_ops"]
        for k in ("jobs", "stages", "tasks", "driver_gap_s", "task_time_s",
                  "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes"):
            layers[f"spark.{k}"] = (sum(o.get(k, 0) for o in measured), per_layer[f"spark.{k}"])
        layers["spark.persisted_rdds_left"] = (measured[-1]["persisted_rdds"], "count")
        layers["spark.rss_mb"] = (jvm_rss, "MB")
        result_metrics = _reported(per_layer, layers)
        last_path = os.path.join(out_dir, f"last-untraced-{args.workload}.json")
        overhead = None
        if os.path.exists(last_path):
            with open(last_path) as fh:
                untraced = json.load(fh)
            overhead = {k: e2e[k][0] - v for k, v in untraced.items() if k in e2e}
        provenance["tracing_overhead"] = overhead
        with open(os.path.join(out_dir, f"trace-{args.workload}-{args.seed}.json"), "w") as fh:
            json.dump({
                "provenance": provenance,
                "end_to_end_traced": {k: v[0] for k, v in e2e.items()},
                "per_layer": {k: v[0] for k, v in layers.items()},
                "ops": ops,
                "spans": tr.spans,
            }, fh, indent=1, default=str)
    else:
        with open(os.path.join(out_dir, f"last-untraced-{args.workload}.json"), "w") as fh:
            json.dump({k: v[0] for k, v in e2e.items()}, fh)
    shutil.rmtree(run_root, ignore_errors=True)

    print(json.dumps({"provenance": provenance}, default=str))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in result_metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
