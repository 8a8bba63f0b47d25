#!/usr/bin/env python3
"""Self-test of the benchmark's input generator.

    python3 perfbench/selftest.py

Checks, at sf0.01 and sf0.1, that the CALIBRATION intervals the ``migrate``
workload generates pass the import's certify check (``check_no_overlaps``
keyed on collection + data ID), and that the raw fixture's intervals are
still rejected at sf0.1 — so the generator, not a changed check, is what
makes the inputs valid.  Exits non-zero on any failure.
"""

from __future__ import annotations

import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path[:0] = [str(HERE.parent), str(HERE)]

CERTIFY_KEYS = ["collection", "customer", "nation"]


def main() -> int:
    import shutil

    from pyspark.sql import functions as F

    from dp1_data_wrangling_spark import fixtures as fx
    from dp1_data_wrangling_spark.operators.intervals import check_no_overlaps
    from dp1_data_wrangling_spark.session import get_spark
    from dp1_data_wrangling_spark.tables import default_sf_dir

    import inputs

    sf_root = Path(default_sf_dir()).parent
    spark = get_spark("perfbench-selftest")
    spark.sparkContext.setLogLevel("ERROR")
    failures = []
    work = HERE / ".work" / "selftest"
    shutil.rmtree(work, ignore_errors=True)
    try:
        for sf in ("sf0.01", "sf0.1"):
            inputs.write_migrate_inputs(str(sf_root / sf), work / sf, seed=0)
            assoc = spark.read.parquet(str(work / sf / "associations"))
            try:
                check_no_overlaps(assoc.filter(F.col("collection") == "calib_a"),
                                  CERTIFY_KEYS)
                print(f"ok: generated {sf} calibration intervals pass certify")
            except ValueError as exc:
                failures.append(f"generated {sf} inputs rejected: {exc}")
            raw = fx.build_associations(spark, str(sf_root / sf))
            want_tagged = raw.filter(F.col("begin_nsec").isNull()).count()
            got_tagged = assoc.filter(F.col("begin_nsec").isNull()).count()
            if want_tagged != got_tagged:
                failures.append(f"{sf}: TAGGED rows {got_tagged} != {want_tagged}")
        raw = fx.build_associations(spark, str(sf_root / "sf0.1"))
        try:
            check_no_overlaps(raw.filter(F.col("collection") == "calib_a"), CERTIFY_KEYS)
            failures.append("raw sf0.1 fixture passed certify; expected an overlap")
        except ValueError as exc:
            if "overlapping validity intervals" not in str(exc):
                failures.append(f"raw sf0.1 fixture failed for another reason: {exc}")
            else:
                print("ok: raw sf0.1 fixture is still rejected by certify")
    finally:
        spark.stop()
        shutil.rmtree(work, ignore_errors=True)
    for f in failures:
        print(f"FAIL: {f}")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
