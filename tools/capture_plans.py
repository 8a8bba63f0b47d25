#!/usr/bin/env python
"""Capture `.explain("formatted")` + executed job/stage counts for named
registry queries (default: every bench headliner) into plans/<round>/ (SPARK_GRAFT_PLANS_ROUND, default r14).

For each query NAME this writes ``plans/<round>/NAME_<tag>.txt`` containing:

- the formatted physical plan of the returned DataFrame (for queries
  whose operators eagerly checkpoint, this is the final visible slice —
  the job/stage census below is the instrument that sees the whole
  query);
- the measured job / stage counts for ONE full materialization through
  the noop sink (statusTracker ids before/after — the plan-shape
  constant that, times the host's per-job scheduling floor, is the
  sf0.1 wall model from BASELINE.md round 13);
- the wall seconds of that single materialization (NOT a min-of-N —
  bench.py's min-of-3 is the citable timing).

Usage: python tools/capture_plans.py TAG [QUERY ...]
Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1).
"""
from __future__ import annotations

import os
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

from dp1_data_wrangling_spark.queries import REGISTRY, headline_queries  # noqa: E402
from dp1_data_wrangling_spark.session import get_spark  # noqa: E402


def main() -> None:
    if len(sys.argv) < 2:
        print("usage: capture_plans.py TAG [QUERY ...]", file=sys.stderr)
        raise SystemExit(2)
    tag = sys.argv[1]
    names = sys.argv[2:] or sorted(headline_queries())
    unknown = [n for n in names if n not in REGISTRY]
    if unknown:
        print(f"unknown queries: {unknown}", file=sys.stderr)
        raise SystemExit(2)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    out_dir = ROOT / "plans" / os.environ.get("SPARK_GRAFT_PLANS_ROUND", "r14")
    out_dir.mkdir(parents=True, exist_ok=True)

    spark = get_spark("dp1-capture-plans")
    spark.sparkContext.setLogLevel("ERROR")
    st = spark.sparkContext.statusTracker()

    # warm-up so codegen/footer caches don't inflate the first query's jobs
    REGISTRY[names[0]].fn(spark, sf_dir).write.format("noop").mode(
        "overwrite"
    ).save()

    for name in names:
        spark.sparkContext.setJobDescription(f"capture:{name}")
        j0 = set(st.getJobIdsForGroup(None))
        s0 = max([*st.getActiveStageIds(), -1])
        t0 = time.perf_counter()
        df = REGISTRY[name].fn(spark, sf_dir)
        t_build = time.perf_counter() - t0
        plan = df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
        t1 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        t_exec = time.perf_counter() - t1
        j1 = set(st.getJobIdsForGroup(None))
        new_jobs = sorted(j1 - j0)
        n_stages = 0
        for j in new_jobs:
            info = st.getJobInfo(j)
            if info is not None:
                n_stages += len(info.stageIds)
        header = (
            f"# query: {name}\n"
            f"# tag: {tag}\n"
            f"# sf_dir: {sf_dir}\n"
            f"# build_sec (fn() call, incl. eager checkpoints): "
            f"{t_build:.3f}\n"
            f"# exec_sec (one noop materialization, not min-of-N): "
            f"{t_exec:.3f}\n"
            f"# jobs: {len(new_jobs)}  stages: {n_stages}  "
            f"(statusTracker census over build+explain+exec)\n"
        )
        (out_dir / f"{name}_{tag}.txt").write_text(header + "\n" + plan)
        print(
            f"{name}: jobs={len(new_jobs)} stages={n_stages} "
            f"build={t_build:.2f}s exec={t_exec:.2f}s"
        )
        spark.sparkContext.setJobDescription(None)
    spark.stop()


if __name__ == "__main__":
    main()
