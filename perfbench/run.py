#!/usr/bin/env python3
"""Repo benchmark: one workload, one closed-loop client, one Spark session.

    python3 perfbench/run.py --workload migrate|catalog_read|headline \
        --seed N --seconds S --trace 0|1

Run from the repo root.  The fixture tables are read from the parent of
``tables.default_sf_dir()``; everything the run writes goes under
``perfbench/.work/`` and is removed at exit.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics``.  With ``--trace 0`` the metrics are the
end-to-end ones; with ``--trace 1`` the run also sets one Spark job group
per span, writes Spark's event log, and reports the per-layer metrics (see
``layers.py``).  The line before it holds workload-specific figures (per
command times, read latencies, the machine stamp) that are recorded but not
gated.  The exit code is non-zero if any output was wrong.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import statistics
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent


def _parse() -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=("migrate", "catalog_read", "headline"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args()


def _vm_hwm_kb(pid: int | str) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def _env(work: Path, trace: bool) -> None:
    """Process environment for the session, set before the JVM starts."""
    nproc = len(os.sched_getaffinity(0))
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    os.environ.update({
        "TMPDIR": str(tmp),
        "SPARK_LOCAL_DIRS": str(work / "spark-local"),
        "SPARK_GRAFT_CPUS": str(nproc),
        # Python workers import the engine package from this checkout.
        "PYTHONPATH": os.pathsep.join(
            p for p in (str(ROOT), os.environ.get("PYTHONPATH", "")) if p
        ),
    })
    conf = [f"--driver-java-options=-Djava.io.tmpdir={tmp}",
            "--conf", f"spark.sql.warehouse.dir={work / 'warehouse'}"]
    if trace:
        (work / "eventlog").mkdir()
        conf += ["--conf", "spark.eventLog.enabled=true",
                 "--conf", f"spark.eventLog.dir=file://{work / 'eventlog'}",
                 "--conf", "spark.eventLog.compress=false",
                 "--conf", "spark.eventLog.rolling.enabled=false"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(conf + ["pyspark-shell"])


def _quantile(values: list[float], q: int) -> float:
    """q-th percentile (statistics.quantiles, n=100, inclusive)."""
    if len(values) == 1:
        return values[0]
    return statistics.quantiles(values, n=100, method="inclusive")[q - 1]


def main() -> int:
    args = _parse()
    sys.path[:0] = [str(ROOT), str(HERE)]
    try:
        import dp1_data_wrangling_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: the engine package is not importable from {ROOT}: {exc}",
              file=sys.stderr)
        return 2

    work = HERE / ".work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    work.mkdir(parents=True)
    try:
        _env(work, bool(args.trace))
        return _run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run(args: argparse.Namespace, work: Path) -> int:
    from bench import jvm_ref_probe
    from dp1_data_wrangling_spark.session import get_spark
    from dp1_data_wrangling_spark.tables import default_sf_dir

    import layers
    import spans
    import workloads

    sf_root = Path(default_sf_dir()).parent
    prepare, run = workloads.WORKLOADS[args.workload]
    # The benchmark's own work (inputs, expected answers) is not set-up time.
    prepared = prepare(work, sf_root, args.seed)
    t0 = time.perf_counter()
    spark = get_spark(f"perfbench-{args.workload}")
    session_s = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")
    gateway = spark.sparkContext._gateway
    jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()

    tr = spans.Tracer(spark, enabled=bool(args.trace))
    if args.trace:
        layers.instrument(tr)
    ctx = workloads.Ctx(spark, tr, work, args.seconds, session_s)
    try:
        res = run(ctx, prepared)
        tr.unwrap_all()
        with tr.span("bench.stamp"):
            stamp = jvm_ref_probe(spark)
        peak_rss_mb = (_vm_hwm_kb(jvm_pid) + _vm_hwm_kb("self")) / 1024
        app_id = spark.sparkContext.applicationId
    finally:
        spark.stop()
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=60)

    metrics = {
        "setup_s": (res.setup_s, "s"),
        "pass_s": (statistics.median(res.pass_s), "s"),
        "op_p50_ms": (statistics.median(res.op_ms), "ms"),
        "op_p90_ms": (_quantile(res.op_ms, 90), "ms"),
        "ops_ok_frac": (1.0 - res.failed / max(1, res.attempted), "frac"),
    } if res.pass_s else {}
    detail = {
        "workload": args.workload, "seed": args.seed, "pass_s": res.pass_s,
        "peak_rss_mb": peak_rss_mb,
        "machine": {"nproc": len(os.sched_getaffinity(0)), **stamp},
        **res.detail, "errors": res.errors,
    }
    if args.trace and res.pass_s:
        log = spans.find_event_log(work / "eventlog", app_id)
        counters = spans.fold_event_log(log)
        metrics = layers.metrics(tr, res, counters, stamp, session_s,
                                 len(os.sched_getaffinity(0)), peak_rss_mb)
        metrics["trace.pass_s"] = (statistics.median(res.pass_s), "s")
        metrics["trace.event_log_bytes"] = (log.stat().st_size, "bytes")
    correct = res.failed == 0 and bool(res.pass_s)
    print(json.dumps({"detail": detail}, default=float))
    print(json.dumps({
        "correct": correct,
        "attempted": max(1, res.attempted),
        "failed": res.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
