#!/usr/bin/env python
"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line with per-query wall seconds.

Methodology (round 5): one warm-up execution of the smallest headline query
to absorb JVM/codegen startup, then each headline query is planned fresh and
executed THREE times; the reported time is the min of the three (steady-state
throughput — first executions fold in one-off shuffle-file and codegen-cache
effects that have nothing to do with the plan; this machine shows up to ±2x
ambient noise on sub-second queries, which min-of-2 demonstrably could not
reject — see VERDICT round 3).  Each run materializes the FULL result through
a noop datasource write (every column evaluated and serialized), not
``df.count()``, which lets Spark skip projection-only column work.

The headline queries run in sorted-name order, so the run order does not
depend on ``queries.DRIVER_WINDOW`` (which reorders the registry)."""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

from dp1_data_wrangling_spark.queries import REGISTRY, headline_queries  # noqa: E402
from dp1_data_wrangling_spark.session import get_spark  # noqa: E402

# Best historical 32-thread JVM reference on this host (r11's cleanest
# run) and the clean-run gate (~15% over it) — see the machine_ref
# block below.  Update JVM_REF_BEST_SEC only downward (a new best).
JVM_REF_BEST_SEC = 0.059
JVM_REF_CLEAN_SEC = 0.07


def _cpu_ticks() -> int:
    """Total busy CPU ticks (user+nice+system) from /proc/stat."""
    with open("/proc/stat") as f:
        parts = f.readline().split()
    user, nice, system = int(parts[1]), int(parts[2]), int(parts[3])
    return user + nice + system


def jvm_ref_probe(spark) -> dict:
    """One machine-state sample: the fixed 32-thread JVM range-sum
    (min-of-3 wall) PLUS the guest-side effective-parallelism reading.

    eff_parallelism (r13) is busy-cpu-seconds / wall on the probe run,
    from /proc/stat tick deltas.  Context: this sandbox is a
    Firecracker microVM where hypervisor-side contention shows up as
    NEITHER guest processes NOR steal time (no paravirt steal clock —
    a 5s sampler DURING a starved 32-thread probe read steal=0 and
    idle=66%, with no in-VM process consuming the gap and no cgroup
    quota configured; measured r13).  The wall-clock jvm ref therefore
    remains the load-bearing gate; eff_parallelism is recorded as a
    trend diagnostic — on this host a starved probe burned ~3 cpu-sec
    at eff ~10 while a clean probe finished in ~0.6 cpu-sec at eff ~9,
    i.e. contention INFLATES total cpu burned (scheduler/JVM overhead),
    it does not just stretch wall.  Interpret jointly with wall, not
    alone.
    """
    best_wall, best_eff = float("inf"), 0.0
    for _ in range(3):
        t0_ticks = _cpu_ticks()
        t0 = time.perf_counter()
        spark.range(0, 50_000_000, 1, 32).selectExpr(
            "sum(id * 3 + 1) as s"
        ).collect()
        wall = time.perf_counter() - t0
        busy_sec = (_cpu_ticks() - t0_ticks) / os.sysconf("SC_CLK_TCK")
        if wall < best_wall:
            best_wall, best_eff = wall, busy_sec / wall
    noop = float("inf")
    for _ in range(10):
        t0 = time.perf_counter()
        spark.sql("select 1").collect()
        noop = min(noop, time.perf_counter() - t0)
    return {
        "jvm_range_sum_sec": round(best_wall, 3),
        "eff_parallelism": round(best_eff, 1),
        # Per-job scheduling-latency floor (r13): the dimension the
        # burst probe does NOT measure — iterative queries' small-sf
        # wall is jobs x this number.  Healthy ~10-20ms; this host has
        # read 49-56ms+ all round even when the burst probe was clean.
        "noop_sql_floor_ms": round(noop * 1000, 1),
        "ambient_vs_best": round(best_wall / JVM_REF_BEST_SEC, 2),
        "machine_clean": best_wall <= JVM_REF_CLEAN_SEC,
    }


def wait_for_clean_host(spark, budget_sec: float) -> dict:
    """Pre-flight admission gate (VERDICT r12 item 1): sample the JVM
    reference and hold the timed run until the host is in-band
    (jvm ref <= 0.07s) or the budget is exhausted.  The instrument
    stopped being a stamp in r12; this makes it an admission gate —
    a dirty start no longer silently burns the round's bench slot.

    Budget via $SPARK_GRAFT_BENCH_GATE_SEC (default 600; 0 disables).
    Returns the gate record for the machine_ref block: every sample
    taken, the wait, and whether the run was admitted clean.
    """
    samples = []
    t0 = time.perf_counter()
    probe = jvm_ref_probe(spark)
    samples.append(probe["jvm_range_sum_sec"])
    while not probe["machine_clean"]:
        waited = time.perf_counter() - t0
        if waited + 30.0 > budget_sec:
            break
        print(
            f"admission gate: jvm ref {probe['jvm_range_sum_sec']}s "
            f"({probe['ambient_vs_best']}x over best, eff_par "
            f"{probe['eff_parallelism']}) — holding {30}s "
            f"({waited:.0f}/{budget_sec:.0f}s used)",
            file=sys.stderr,
        )
        time.sleep(30.0)
        probe = jvm_ref_probe(spark)
        samples.append(probe["jvm_range_sum_sec"])
    return {
        "gate_budget_sec": budget_sec,
        "gate_waited_sec": round(time.perf_counter() - t0, 1),
        "gate_samples": samples,
        "admitted_clean": probe["machine_clean"],
        "admitted_eff_parallelism": probe["eff_parallelism"],
    }


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    # Queries-only mode (r12): skip the probe/streaming blocks so a run
    # costs ~1/3 the wall — the shape the cross-run MINS protocol wants
    # many samples of (the probes' scaling ratios do not feed mins).
    # The full run (default) stays the committed-record shape.
    queries_only = os.environ.get("SPARK_GRAFT_BENCH_QUERIES_ONLY") == "1"
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    try:
        sf_num = float(sf)
    except ValueError:
        sf_num = None

    spark = get_spark("dp1-bench")
    spark.sparkContext.setLogLevel("ERROR")

    def materialize(df) -> None:
        # Full materialization: the noop sink evaluates and serializes every
        # output column (count() can prune a projection down to nothing).
        df.write.format("noop").mode("overwrite").save()

    def min_of_3(fn) -> float:
        # The single min-of-3 timing loop every probe shares (the r8
        # review flagged four drifting copies): plan fresh, materialize
        # fully, keep the best of three — the methodology documented in
        # the module docstring.
        best = float("inf")
        for _ in range(3):
            t0 = time.perf_counter()
            materialize(fn())
            best = min(best, time.perf_counter() - t0)
        return best

    # warm-up: JVM, parquet footer caches, codegen
    try:
        materialize(REGISTRY["find_first"].fn(spark, sf_dir))
    except Exception as exc:  # noqa: BLE001 - warm-up failure is not fatal
        print(f"warm-up failed: {exc}", file=sys.stderr)

    # Pre-flight admission gate (r13, VERDICT r12 item 1): hold the
    # timed run for up to $SPARK_GRAFT_BENCH_GATE_SEC (default 600s)
    # until the host reads clean, so a contended start doesn't burn
    # the round's bench slot.  A still-dirty run proceeds (it feeds
    # the cross-run MINS protocol) but carries the gate record.
    gate_record = None
    try:
        gate_budget = float(
            os.environ.get("SPARK_GRAFT_BENCH_GATE_SEC", "600")
        )
        if gate_budget > 0:
            gate_record = wait_for_clean_host(spark, gate_budget)
            if not gate_record["admitted_clean"]:
                print(
                    "admission gate: budget exhausted, host still dirty "
                    f"(samples {gate_record['gate_samples']}) — running "
                    "anyway as a mins-protocol sample",
                    file=sys.stderr,
                )
    except Exception as exc:  # noqa: BLE001 - gate is best-effort
        print(f"admission gate failed: {exc}", file=sys.stderr)

    timings: dict[str, float] = {}
    errors: dict[str, str] = {}
    for name, spec in sorted(headline_queries().items()):
        best = float("inf")
        try:
            for _ in range(3):
                t0 = time.perf_counter()
                df = spec.fn(spark, sf_dir)
                materialize(df)
                best = min(best, time.perf_counter() - t0)
            timings[name] = round(best, 3)
        except Exception as exc:  # noqa: BLE001 - one bad query must not
            # lose the whole benchmark record
            errors[name] = str(exc)[:200]
            print(f"bench query {name} failed: {exc}", file=sys.stderr)

    # Empirical scale sweep: time the same plans one SF down and record the
    # 10x-rows timing ratio.  Fixed plan/launch overhead compresses the
    # ratio at these sizes (expect low single digits); a quadratic plan
    # (e.g. the O(n^2) self-join certify_probe's sort-neighbor window
    # replaces) would show ~100x growth in the data-dependent part.
    # priority_dedup joined the sweep in round 6 to adjudicate its r5
    # timing wobble: its claimed shape is one min_by shuffle, so the ratio
    # must stay in the same low-single-digit class.  doc_line_dedup joined
    # later in round 6 as the LLM-tier probe: census + anti-join + regroup
    # are all linear-class, so its ratio belongs in the same band (the
    # line census would betray a quadratic pair-expansion instantly).
    scaling: dict[str, dict] = {}

    # Machine-state reference probes (round 11): fixed pure-CPU and
    # fixed JVM workloads timed with the same min-of-3.  The headline
    # numbers on this host carry a time-varying ambient multiplier
    # (r10's four runs read the SAME untouched queries 1.95x/1.52x/
    # 1.49x/1.18x; r11 idle sessions read 1.43x/1.35x/1.30x hours
    # apart) — these references make "machine state vs plan
    # regression" a measurement instead of an adjudication: a plan
    # regression moves a query AGAINST the references, ambient drift
    # moves everything WITH them.
    try:
        import hashlib

        def _cpu_ref() -> float:
            h = hashlib.md5()
            blk = b"x" * (1 << 20)
            t0 = time.perf_counter()
            for _ in range(200):
                h.update(blk)
            return time.perf_counter() - t0

        probe = jvm_ref_probe(spark)
        jvm_ref = probe["jvm_range_sum_sec"]

        # Scheduling-latency floor (r13 — the instrument that finally
        # root-caused the graph-query inflation): per-JOB fixed latency,
        # NOT throughput.  The r13 clean-block isolated runs proved the
        # iterative headliners' sf0.1 wall is jobs x this floor
        # (doc_link_triangles: 32 jobs; x ~20ms r9-era floor = the
        # 0.66s record; x the ~100-130ms floor measured this round =
        # the 3.3-4.2s readings), while sustained throughput sat at the
        # hardware ceiling (1B-row range-sum in 0.35s) and the 50M
        # burst probe read CLEAN — the short probe measures burst
        # throughput, a different dimension from wakeup/dispatch
        # latency.  Recorded, not gated: the healthy floor (~10-20ms
        # noop) has never been observed since r11 on this host.
        def _floor(fn, n: int) -> float:
            best = float("inf")
            for _ in range(n):
                t0 = time.perf_counter()
                fn()
                best = min(best, time.perf_counter() - t0)
            return round(best * 1000, 1)

        scaling["sched_floor"] = {
            "noop_sql_ms": _floor(
                lambda: spark.sql("select 1").collect(), 10
            ),
            "tiny_1task_ms": _floor(lambda: spark.range(1).count(), 10),
            "tiny_shuffle_ms": _floor(
                lambda: spark.range(0, 3200, 1, 32)
                .selectExpr("id % 32 as k")
                .groupBy("k")
                .count()
                .collect(),
                6,
            ),
        }
        scaling["machine_ref"] = {
            "cpu_md5_200mb_sec": round(min(_cpu_ref() for _ in range(3)), 3),
            # Load-bearing since r12 (VERDICT r11 item 2): the best
            # historical 32-thread reference on this host is 0.059s
            # (r11's cleanest run).  ambient_vs_best is the run's
            # measured multi-core contention multiplier; machine_clean
            # marks the run as comparable under the mins protocol
            # (<= ~15% over the best ref).  A dirty run still prints —
            # it feeds cross-run MINS — but its totals must not be
            # read as a plan regression.  eff_parallelism (r13) is the
            # co-scheduled-vCPU reading — see jvm_ref_probe.
            **probe,
        }
        if gate_record is not None:
            scaling["machine_ref"].update(gate_record)
        if jvm_ref > JVM_REF_CLEAN_SEC:
            print(
                f"machine_ref: jvm {jvm_ref}s > clean gate "
                f"{JVM_REF_CLEAN_SEC}s ({scaling['machine_ref']['ambient_vs_best']}x "
                "over best) — contended host; totals are mins-protocol "
                "samples only, not a committable clean record",
                file=sys.stderr,
            )
    except Exception as exc:  # noqa: BLE001 - reference is informational
        print(f"machine ref probe failed: {exc}", file=sys.stderr)

    small_dir = sf_dir.replace("sf0.1", "sf0.01")
    if small_dir != sf_dir and os.path.isdir(small_dir) and not queries_only:
        for probe in ("certify_probe", "priority_dedup", "doc_line_dedup"):
            if probe not in timings:
                continue
            try:
                # Same min-of-3 methodology as the headline numbers: a
                # single un-warmed small-SF run carries cold parquet-footer
                # and codegen caches for that data, inflating small_sf_sec
                # and biasing the ratio downward (ADVICE r5).
                small_t = float("inf")
                for _ in range(3):
                    t0 = time.perf_counter()
                    materialize(REGISTRY[probe].fn(spark, small_dir))
                    small_t = min(small_t, time.perf_counter() - t0)
                scaling[probe] = {
                    "small_sf_sec": round(small_t, 3),
                    "sec": timings[probe],
                    "ratio_10x_rows": round(timings[probe] / small_t, 2),
                }
            except Exception as exc:  # noqa: BLE001 - sweep is informational
                print(f"scale sweep failed for {probe}: {exc}", file=sys.stderr)

    # certify_probe third scale point (round 7, VERDICT item 6): its
    # sf0.01->sf0.1 ratio (4.34x at 10x rows in r6) is the sweep's
    # outlier; a same-SF row-doubled run separates fixed overhead from
    # the n log n slope.  The doubled table unions a tie-shifted copy
    # (ties stay unique) over the SAME key space, so per-key group sizes
    # double — the axis the sort-neighbor window actually sorts on.
    if "certify_probe" in timings and not queries_only:
        try:
            from pyspark.sql import functions as F

            from dp1_data_wrangling_spark.operators.intervals import (
                overlapping_pairs,
            )
            from dp1_data_wrangling_spark.tables import load_table

            li = load_table(spark, sf_dir, "lineitem")

            def certify_intervals(src, tie_offset: int):
                return src.select(
                    (F.col("l_partkey") % 1024).alias("key"),
                    ((F.col("l_orderkey") % 100000) * 1_000_000)
                    .cast("long")
                    .alias("begin_nsec"),
                    (
                        (F.col("l_orderkey") % 100000) * 1_000_000
                        + F.col("l_quantity").cast("long") * 500_000
                    )
                    .cast("long")
                    .alias("end_nsec"),
                    (
                        F.col("l_orderkey") * 16
                        + F.col("l_linenumber") * 2
                        + tie_offset
                    ).alias("tie"),
                )

            def time_certify(iv) -> float:
                return min_of_3(
                    lambda: overlapping_pairs(
                        iv, ["key"], tie_breaker=F.col("tie")
                    )
                    .groupBy("key")
                    .agg(
                        F.count("*").alias("n_offenders"),
                        F.min("tie").alias("first_tie"),
                    )
                )

            base = time_certify(certify_intervals(li, 0))
            doubled = time_certify(
                certify_intervals(li, 0).union(certify_intervals(li, 1))
            )
            scaling["certify_probe_2x_same_sf"] = {
                "base_sec": round(base, 3),
                "doubled_sec": round(doubled, 3),
                "ratio_2x_rows": round(doubled / base, 2),
            }
        except Exception as exc:  # noqa: BLE001 - sweep is informational
            print(f"certify 2x probe failed: {exc}", file=sys.stderr)

    # Embedding-tier scale probe (round 7, VERDICT item 2): the embeddings
    # FIXTURE is <=2k vectors at every SF, so the headline numbers for the
    # semantic/ANN tier track orchestration overhead, not data volume.
    # Synthesize md5-deterministic 64-dim corpora at 1x/10x (2k / 20k
    # rows), persist to parquet (generation excluded from the timing), and
    # time semantic dedup + k-means IVF top-k with the documented scale
    # knobs applied (n_planes grows with log2(n) to hold SRP bucket
    # occupancy ~10; n_cells grows linearly to hold per-cell size): the
    # ratio then measures the scaling LAW of the plan under its own
    # deployment rule, which is the claim under test.
    if sf_num == 0.1 and not queries_only:
        try:
            import shutil
            import tempfile

            from pyspark.sql import functions as F

            from dp1_data_wrangling_spark.operators.semantic import semantic_dedup
            from dp1_data_wrangling_spark.operators.similarity import ivf_topk_trained

            def synth_vectors(n: int):
                return spark.range(n).select(
                    F.col("id").alias("vec_id"),
                    F.transform(
                        F.sequence(F.lit(0), F.lit(63)),
                        lambda j: (
                            F.conv(
                                F.substring(
                                    F.md5(F.concat_ws("_", F.col("id"), j)), 1, 15
                                ),
                                16,
                                10,
                            ).cast("long")
                            % 2001
                            - 1000
                        )
                        / 1000.0,
                    ).alias("embedding"),
                )

            tmp = tempfile.mkdtemp(prefix="bench_vecs_")
            try:
                paths = {}
                for n in (2_000, 20_000):
                    paths[n] = f"{tmp}/n{n}"
                    synth_vectors(n).write.parquet(paths[n])

                # per-bucket occupancy held ~8-10: 2k/2^8 vs 20k/2^11
                sem = {
                    n: min_of_3(
                        lambda n=n, p=p: semantic_dedup(
                            spark.read.parquet(paths[n]), dim=64, n_planes=p
                        )
                    )
                    for n, p in ((2_000, 8), (20_000, 11))
                }
                # FIXED 32 cells at both sizes (iso-config): the probe
                # tests that the plan carries no hidden all-pairs term —
                # at fixed cells, k-means assign is O(n*cells) and the
                # 200-probe re-rank is O(probes*nprobe*n/cells), both
                # linear in n.  (A deployment grows cells ~sqrt(n) for
                # recall, making BUILD O(n^1.5) by the documented assign
                # arithmetic — a stated knob cost, not a plan defect;
                # scaling cells WITH n here would measure that knob, not
                # the plan: an early probe with cells proportional to n
                # read 6.7x at 10x rows purely from the n*cells term.)
                ivf = {
                    n: min_of_3(
                        lambda n=n: ivf_topk_trained(
                            spark.read.parquet(paths[n]).limit(200),
                            spark.read.parquet(paths[n]),
                            5,
                            n_cells=32,
                            nprobe=4,
                            n_iters=2,
                        )
                    )
                    for n in (2_000, 20_000)
                }
                scaling["embedding_semantic_dedup_synth"] = {
                    "n_rows": [2_000, 20_000],
                    "small_sec": round(sem[2_000], 3),
                    "big_sec": round(sem[20_000], 3),
                    "ratio_10x_rows": round(sem[20_000] / sem[2_000], 2),
                }
                scaling["ivf_topk_synth"] = {
                    "n_rows": [2_000, 20_000],
                    "small_sec": round(ivf[2_000], 3),
                    "big_sec": round(ivf[20_000], 3),
                    "ratio_10x_rows": round(ivf[20_000] / ivf[2_000], 2),
                }
                # IVF-PQ composed index (round 8): same iso-config rule —
                # fixed 32 cells / nprobe 4 / m=16 codes / 200-row
                # shortlist at both sizes, so the ratio measures the
                # plan's law (assign O(n*cells) + ADC over the visited
                # nprobe/cells fraction, both linear in n), not the
                # deployment knob growth.
                from dp1_data_wrangling_spark.operators.similarity import (
                    ivf_pq_topk,
                )

                ivfpq = {
                    n: min_of_3(
                        lambda n=n: ivf_pq_topk(
                            spark.read.parquet(paths[n]).limit(200),
                            spark.read.parquet(paths[n]),
                            5,
                            dim=64,
                            n_cells=32,
                            nprobe=4,
                            m=16,
                            k_codes=16,
                            shortlist=200,
                        )
                    )
                    for n in (2_000, 20_000)
                }
                scaling["ivf_pq_topk_synth"] = {
                    "n_rows": [2_000, 20_000],
                    "small_sec": round(ivfpq[2_000], 3),
                    "big_sec": round(ivfpq[20_000], 3),
                    "ratio_10x_rows": round(ivfpq[20_000] / ivfpq[2_000], 2),
                }
                # persisted-index QUERY path: build the cell-partitioned
                # index outside the timing, then time only the
                # partition-pruned query (nprobe/n_cells of corpus bytes
                # touched — the claim under test for the catalog-backed
                # ANN tier)
                from dp1_data_wrangling_spark.plans import Catalog
                from dp1_data_wrangling_spark.plans.ann_index import (
                    build_ivf_index,
                    ivf_query_index,
                )

                iq = {}
                for n in (2_000, 20_000):
                    cat = Catalog(f"{tmp}/cat{n}")
                    build_ivf_index(
                        spark,
                        cat,
                        spark.read.parquet(paths[n]),
                        n_cells=32,
                        n_iters=2,
                    )
                    iq[n] = min_of_3(
                        lambda cat=cat, n=n: ivf_query_index(
                            spark,
                            cat,
                            spark.read.parquet(paths[n]).limit(200),
                            5,
                            nprobe=4,
                        )
                    )
                scaling["ivf_query_index_synth"] = {
                    "n_rows": [2_000, 20_000],
                    "small_sec": round(iq[2_000], 3),
                    "big_sec": round(iq[20_000], 3),
                    "ratio_10x_rows": round(iq[20_000] / iq[2_000], 2),
                }
            finally:
                shutil.rmtree(tmp, ignore_errors=True)
        except Exception as exc:  # noqa: BLE001 - sweep is informational
            print(f"embedding scale probe failed: {exc}", file=sys.stderr)

    # Text-dedup tier scale probes (round 8, VERDICT item 4): minhash_pairs
    # and simhash_pairs are the two heaviest text headliners, but the
    # documents FIXTURE is 5k docs at every SF, so their headline numbers
    # track fixed overhead.  Synthesize md5-deterministic corpora at
    # 5k/50k docs (60 six-hex words from a 500-word vocabulary; every 5th
    # doc is a near-dup of its predecessor, so the candidate-pair volume
    # scales linearly with n at both sizes), persist to parquet
    # (generation excluded), and time the candidate-pair operators.  Both
    # plans are linear-class by construction (row-local signatures + one
    # bucket groupBy + capped pair explosion); a hidden all-pairs term
    # would read ~100x here.
    if sf_num == 0.1 and not queries_only:
        try:
            import shutil
            import tempfile

            from pyspark.sql import functions as F

            from dp1_data_wrangling_spark.operators.dedup import (
                minhash_candidate_pairs,
                simhash_candidate_pairs,
            )

            def synth_docs(n: int):
                base = (
                    F.when(F.col("id") % 5 == 0, F.col("id") - 1)
                    .otherwise(F.col("id"))
                    .cast("string")
                )
                word = lambda j: F.substring(  # noqa: E731
                    F.md5(
                        F.concat_ws(
                            "w",
                            (
                                F.conv(
                                    F.substring(
                                        F.md5(F.concat_ws("s", base, j)), 1, 15
                                    ),
                                    16,
                                    10,
                                ).cast("long")
                                % 500
                            ).cast("string"),
                        )
                    ),
                    1,
                    6,
                )
                words = F.transform(F.sequence(F.lit(0), F.lit(59)), word)
                text = F.when(
                    F.col("id") % 5 == 0,
                    F.concat(
                        F.array_join(F.slice(words, 1, 59), " "),
                        F.lit(" zzmutant"),
                    ),
                ).otherwise(F.array_join(words, " "))
                return spark.range(n).select(
                    F.col("id").alias("doc_id"), text.alias("text")
                )

            tmp = tempfile.mkdtemp(prefix="bench_docs_")
            try:
                dpaths = {}
                for n in (5_000, 50_000):
                    dpaths[n] = f"{tmp}/d{n}"
                    synth_docs(n).write.parquet(dpaths[n])

                # The uncapped simhash probe is OUTPUT-bound on this
                # 500-word corpus: the r10 isolated adjudication measured
                # candidate pairs growing 86.9x (6,391 -> 555,551) for
                # 10x rows, so its wall ratio (~6-7x) tracks pair volume,
                # not a hidden all-pairs term.  Record the pair counts so
                # the ratio is self-explaining, and probe the capped
                # two-pass form alongside — the configuration a
                # template-heavy 100 TB corpus would actually run —
                # which is linear-class.
                for probe_name, op in (
                    ("minhash_pairs_synth", minhash_candidate_pairs),
                    ("simhash_pairs_synth", simhash_candidate_pairs),
                    (
                        "simhash_pairs_capped_synth",
                        # cap=8: the r10 first pass showed cap=64 does
                        # not bind on this corpus (537k of 555k pairs
                        # survived) — the valve probe must PRUNE to
                        # demonstrate the bounded-output regime
                        lambda d: simhash_candidate_pairs(
                            d, max_bucket_size=8, two_pass=True
                        ),
                    ),
                ):
                    t_small = min_of_3(
                        lambda op=op, p=dpaths[5_000]: op(spark.read.parquet(p))
                    )
                    t_big = min_of_3(
                        lambda op=op, p=dpaths[50_000]: op(spark.read.parquet(p))
                    )
                    scaling[probe_name] = {
                        "n_rows": [5_000, 50_000],
                        "small_sec": round(t_small, 3),
                        "big_sec": round(t_big, 3),
                        "ratio_10x_rows": round(t_big / t_small, 2),
                        "pairs": [
                            op(spark.read.parquet(dpaths[5_000])).count(),
                            op(spark.read.parquet(dpaths[50_000])).count(),
                        ],
                    }

                # BM25 retrieval probe (round 9): same synthetic corpora —
                # the vocabulary word for index i is md5(str(i))[:6], so
                # fixed query strings hit real terms at both sizes.  The
                # plan is linear-class (tokenize + postings groupBy linear
                # in tokens; the match join touches only query-term
                # postings, ~.1% of rows per term at this vocabulary).
                import hashlib

                from dp1_data_wrangling_spark.operators.retrieval import (
                    bm25_topk,
                )

                def vw(i: int) -> str:
                    return hashlib.md5(str(i).encode()).hexdigest()[:6]

                bm_queries = spark.createDataFrame(
                    [
                        (1, f"{vw(3)} {vw(77)}"),
                        (2, f"{vw(150)} {vw(222)} {vw(431)}"),
                        (3, f"{vw(499)}"),
                    ],
                    ["query_id", "query_text"],
                )
                t_small = min_of_3(
                    lambda: bm25_topk(
                        spark.read.parquet(dpaths[5_000]), bm_queries, k=10
                    )
                )
                t_big = min_of_3(
                    lambda: bm25_topk(
                        spark.read.parquet(dpaths[50_000]), bm_queries, k=10
                    )
                )
                scaling["bm25_topk_synth"] = {
                    "n_rows": [5_000, 50_000],
                    "small_sec": round(t_small, 3),
                    "big_sec": round(t_big, 3),
                    "ratio_10x_rows": round(t_big / t_small, 2),
                }

                # Jaccard-threshold join probe: vocabulary scales WITH
                # the corpus (4n words, df ~ 5) — the realistic Zipfian-
                # wide regime where prefix filtering is selective; the
                # 500-word minhash corpus above would be adversarial
                # (every prefix token is hot) and measure the wrong thing
                from dp1_data_wrangling_spark.operators.dedup import (
                    jaccard_threshold_join,
                )

                def synth_jdocs(n: int):
                    base = (
                        F.when(F.col("id") % 5 == 0, F.col("id") - 1)
                        .otherwise(F.col("id"))
                        .cast("string")
                    )
                    word = lambda j: F.substring(  # noqa: E731
                        F.md5(
                            F.concat_ws(
                                "jw",
                                (
                                    F.conv(
                                        F.substring(
                                            F.md5(
                                                F.concat_ws("js", base, j)
                                            ),
                                            1,
                                            15,
                                        ),
                                        16,
                                        10,
                                    ).cast("long")
                                    % (4 * n)
                                ).cast("string"),
                            )
                        ),
                        1,
                        8,
                    )
                    words = F.transform(F.sequence(F.lit(0), F.lit(19)), word)
                    text = F.when(
                        F.col("id") % 5 == 0,
                        F.concat(
                            F.array_join(F.slice(words, 1, 18), " "),
                            F.lit(" zzjmut1 zzjmut2"),
                        ),
                    ).otherwise(F.array_join(words, " "))
                    return spark.range(n).select(
                        F.col("id").alias("doc_id"), text.alias("text")
                    )

                jpaths = {}
                for n in (5_000, 50_000):
                    jpaths[n] = f"{tmp}/j{n}"
                    synth_jdocs(n).write.parquet(jpaths[n])
                jt = {
                    n: min_of_3(
                        lambda n=n: jaccard_threshold_join(
                            spark.read.parquet(jpaths[n]), t_milli=500
                        )
                    )
                    for n in (5_000, 50_000)
                }
                scaling["jaccard_join_synth"] = {
                    "n_rows": [5_000, 50_000],
                    "small_sec": round(jt[5_000], 3),
                    "big_sec": round(jt[50_000], 3),
                    "ratio_10x_rows": round(jt[50_000] / jt[5_000], 2),
                }

                # Worst-case regime WITH the r10 hot-prefix valve:
                # short stop-word-dominated records ({u_(i//2), s1, s2,
                # s3} — two corpus-wide stop words land in EVERY prefix
                # at t=0.5, the one shape rarity ordering cannot save),
                # so the uncapped candidate volume is ~n²/2 and is never
                # run at 50k here.  max_prefix_df=100 semi-prunes the
                # two degenerate keys at BOTH sizes while every planted
                # duplicate (paired via its rare u-token, prefix-df 2)
                # is still found; the recorded ratio is the capped
                # plan's scaling law on PPJoin's worst input.
                def synth_stopdocs(n: int):
                    u = F.concat(
                        F.lit("u"), (F.col("id") / 2).cast("long").cast("string")
                    )
                    return spark.range(n).select(
                        F.col("id").alias("doc_id"),
                        F.concat_ws(
                            " ", u, F.lit("sw1"), F.lit("sw2"), F.lit("sw3")
                        ).alias("text"),
                    )

                spaths = {}
                for n in (5_000, 50_000):
                    spaths[n] = f"{tmp}/s{n}"
                    synth_stopdocs(n).write.parquet(spaths[n])
                jc = {
                    n: min_of_3(
                        lambda n=n: jaccard_threshold_join(
                            spark.read.parquet(spaths[n]),
                            t_milli=500,
                            max_prefix_df=100,
                        )
                    )
                    for n in (5_000, 50_000)
                }
                scaling["jaccard_join_capped_worstcase_synth"] = {
                    "n_rows": [5_000, 50_000],
                    "small_sec": round(jc[5_000], 3),
                    "big_sec": round(jc[50_000], 3),
                    "ratio_10x_rows": round(jc[50_000] / jc[5_000], 2),
                }
            finally:
                shutil.rmtree(tmp, ignore_errors=True)
        except Exception as exc:  # noqa: BLE001 - sweep is informational
            print(f"text-dedup scale probe failed: {exc}", file=sys.stderr)

    # Blocked-join tier scale probes (round 8, mid-round 23): the fuzzy
    # edit-distance join and the spatial distance join are both
    # complete-blocking joins whose fixture numbers track tiny corpora.
    # Synthesize md5-deterministic inputs at 5k/50k (fuzzy: 12-hex keys
    # in near-dup families of 5 — pair volume linear in n; spatial:
    # points on an area that GROWS with n so density and per-point pair
    # counts stay constant).  Both plans are linear-class by
    # construction (constant-factor probe replication + one equi-join);
    # a hidden all-pairs term would read ~100x.
    if sf_num == 0.1 and not queries_only:
        try:
            import shutil
            import tempfile

            from pyspark.sql import functions as F

            from dp1_data_wrangling_spark.operators.fuzzy import fuzzy_pairs
            from dp1_data_wrangling_spark.operators.spatial import (
                point_in_polygon,
                within_distance_pairs,
            )

            def synth_keys(n: int):
                base = F.substring(
                    F.md5((F.col("id") / 5).cast("int").cast("string")), 1, 12
                )
                key = (
                    F.when(
                        F.col("id") % 5 == 1,
                        F.concat(F.lit("z"), F.substring(base, 2, 11)),
                    )
                    .when(F.col("id") % 5 == 2, F.substring(base, 1, 11))
                    .otherwise(base)
                )
                return spark.range(n).select(
                    F.col("id").alias("kid"), key.alias("key")
                )

            def synth_pts(n: int, side: int):
                def c(tag: str):
                    return F.conv(
                        F.substring(
                            F.md5(
                                F.concat(
                                    F.lit(tag), F.col("id").cast("string")
                                )
                            ),
                            1,
                            15,
                        ),
                        16,
                        10,
                    ).cast("bigint") % side

                return spark.range(n).select(
                    F.col("id").alias("pid"), c("bx|").alias("x"), c("by|").alias("y")
                )

            tmp = tempfile.mkdtemp(prefix="bench_blocked_")
            try:
                kpaths, ppaths = {}, {}
                for n in (5_000, 50_000):
                    kpaths[n] = f"{tmp}/k{n}"
                    synth_keys(n).write.parquet(kpaths[n])
                    # density-constant: area scales with n (side ~ sqrt n)
                    side = 700 if n == 5_000 else 2200
                    ppaths[n] = f"{tmp}/p{n}"
                    synth_pts(n, side).write.parquet(ppaths[n])

                fz = {
                    n: min_of_3(
                        lambda p=kpaths[n]: fuzzy_pairs(
                            spark.read.parquet(p),
                            key_col="key", id_col="kid", max_dist=2,
                        )
                    )
                    for n in (5_000, 50_000)
                }
                scaling["fuzzy_pairs_synth"] = {
                    "n_rows": [5_000, 50_000],
                    "small_sec": round(fz[5_000], 3),
                    "big_sec": round(fz[50_000], 3),
                    "ratio_10x_rows": round(fz[50_000] / fz[5_000], 2),
                }
                sp = {
                    n: min_of_3(
                        lambda p=ppaths[n]: within_distance_pairs(
                            spark.read.parquet(p),
                            x_col="x", y_col="y", id_col="pid", radius=10,
                        )
                    )
                    for n in (5_000, 50_000)
                }
                scaling["spatial_pairs_synth"] = {
                    "n_rows": [5_000, 50_000],
                    "small_sec": round(sp[5_000], 3),
                    "big_sec": round(sp[50_000], 3),
                    "ratio_10x_rows": round(sp[50_000] / sp[5_000], 2),
                }

                # geofence probe: density-constant on BOTH sides (points
                # AND fences scale with area), so candidate volume — and
                # the right plan's wall — should scale ~linearly
                def synth_fences(n_f: int, side: int):
                    def g(tag: str, mod: int, base: int):
                        return (
                            F.conv(
                                F.substring(
                                    F.md5(
                                        F.concat(
                                            F.lit(tag),
                                            F.col("id").cast("string"),
                                        )
                                    ),
                                    1,
                                    15,
                                ),
                                16,
                                10,
                            ).cast("bigint")
                            % mod
                            + base
                        )

                    cx, cy = g("fx|", side - 300, 150), g("fy|", side - 300, 150)
                    return spark.range(n_f).select(
                        F.col("id").alias("fid"),
                        F.array(
                            F.struct((cx + g("fe|", 100, 20)).alias("x"), cy.alias("y")),
                            F.struct(cx.alias("x"), (cy + g("fn|", 100, 20)).alias("y")),
                            F.struct((cx - g("fw|", 100, 20)).alias("x"), cy.alias("y")),
                            F.struct(cx.alias("x"), (cy - g("fs|", 100, 20)).alias("y")),
                        ).alias("verts"),
                    )

                fpaths = {}
                for n, side, n_f in ((5_000, 700, 25), (50_000, 2200, 250)):
                    fpaths[n] = f"{tmp}/f{n}"
                    synth_fences(n_f, side).write.parquet(fpaths[n])
                gf = {
                    n: min_of_3(
                        lambda n=n: point_in_polygon(
                            spark.read.parquet(ppaths[n]),
                            spark.read.parquet(fpaths[n]),
                            x_col="x", y_col="y", id_col="pid",
                            poly_id_col="fid", vertices_col="verts",
                            cell_size=64,
                        )
                    )
                    for n in (5_000, 50_000)
                }
                scaling["geofence_synth"] = {
                    "n_rows": [5_000, 50_000],
                    "small_sec": round(gf[5_000], 3),
                    "big_sec": round(gf[50_000], 3),
                    "ratio_10x_rows": round(gf[50_000] / gf[5_000], 2),
                }
            finally:
                shutil.rmtree(tmp, ignore_errors=True)
        except Exception as exc:  # noqa: BLE001 - sweep is informational
            print(f"blocked-join scale probe failed: {exc}", file=sys.stderr)

    # Graph-tier scale probe (round 8): doc_link_pagerank's fixture graph
    # is 5k docs at every SF, so its headline number tracks per-round
    # fixed overhead (5 checkpointed rounds).  Synthesize arithmetic-
    # deterministic graphs at 20k/200k nodes (~1.5 out-edges/node, same
    # degree law as the query), persist the edge list, and time the full
    # 5-iteration run: cost is rounds x O(|E|) joins+aggs, so the ratio
    # belongs in the linear class — a hidden all-pairs term (e.g. an
    # accidental re-derivation of the edge subtree per round) would read
    # ~10x worse.
    if sf_num == 0.1 and not queries_only:
        try:
            import shutil
            import tempfile

            from pyspark.sql import functions as F

            from dp1_data_wrangling_spark.operators.graph import pagerank

            def synth_graph(n: int):
                deg = (F.col("id") * 2654435761) % 4
                return (
                    spark.range(n)
                    .select(F.col("id").alias("src"), deg.alias("d"))
                    .filter("d > 0")
                    .select(
                        "src",
                        F.explode(
                            F.sequence(F.lit(1).cast("bigint"), F.col("d"))
                        ).alias("j"),
                    )
                    .select(
                        "src",
                        ((F.col("src") * 40503 + F.col("j") * 69069) % n).alias(
                            "dst"
                        ),
                    )
                )

            tmp = tempfile.mkdtemp(prefix="bench_graph_")
            try:
                gpaths = {}
                for n in (20_000, 200_000):
                    gpaths[n] = f"{tmp}/g{n}"
                    synth_graph(n).write.parquet(gpaths[n])
                pr = {
                    n: min_of_3(
                        lambda n=n: pagerank(
                            spark.range(n).select(F.col("id").alias("node")),
                            spark.read.parquet(gpaths[n]),
                            iterations=5,
                        )
                    )
                    for n in (20_000, 200_000)
                }
                scaling["pagerank_synth"] = {
                    "n_rows": [20_000, 200_000],
                    "small_sec": round(pr[20_000], 3),
                    "big_sec": round(pr[200_000], 3),
                    "ratio_10x_rows": round(pr[200_000] / pr[20_000], 2),
                }
            finally:
                shutil.rmtree(tmp, ignore_errors=True)
        except Exception as exc:  # noqa: BLE001 - sweep is informational
            print(f"pagerank scale probe failed: {exc}", file=sys.stderr)

    # Link-prediction scale probe (round 11): the wedge census emits
    # deg(w)^2/2 candidates per intermediate node, so on a bounded-
    # degree graph (the synth law: 0-3 out-edges/node) cost and OUTPUT
    # both grow linearly with nodes — a hidden all-pairs/cartesian term
    # would read ~10x worse.  Pair counts are recorded so the wall
    # ratio self-explains; the hub valve's behavior is covered by the
    # equivalence test (hub-stripped-graph equality), not re-probed.
    if sf_num == 0.1 and not queries_only:
        try:
            import shutil
            import tempfile

            from pyspark.sql import functions as F

            from dp1_data_wrangling_spark.operators.graph import (
                link_prediction,
            )

            def synth_lp_graph(n: int):
                deg = (F.col("id") * 2654435761) % 4
                return (
                    spark.range(n)
                    .select(F.col("id").alias("src"), deg.alias("d"))
                    .filter("d > 0")
                    .select(
                        "src",
                        F.explode(
                            F.sequence(F.lit(1).cast("bigint"), F.col("d"))
                        ).alias("j"),
                    )
                    .select(
                        "src",
                        (
                            (F.col("src") * 40503 + F.col("j") * 69069) % n
                        ).alias("dst"),
                    )
                )

            tmp = tempfile.mkdtemp(prefix="bench_linkpred_")
            try:
                lpaths = {}
                for n in (20_000, 200_000):
                    lpaths[n] = f"{tmp}/lp{n}"
                    synth_lp_graph(n).write.parquet(lpaths[n])
                lp = {
                    n: min_of_3(
                        lambda n=n: link_prediction(
                            spark.read.parquet(lpaths[n]),
                            min_common=1,
                            max_degree=64,
                        )
                    )
                    for n in (20_000, 200_000)
                }
                scaling["link_prediction_synth"] = {
                    "n_rows": [20_000, 200_000],
                    "small_sec": round(lp[20_000], 3),
                    "big_sec": round(lp[200_000], 3),
                    "ratio_10x_rows": round(lp[200_000] / lp[20_000], 2),
                    "pairs": [
                        link_prediction(
                            spark.read.parquet(lpaths[n]),
                            min_common=1,
                            max_degree=64,
                        ).count()
                        for n in (20_000, 200_000)
                    ],
                }
            finally:
                shutil.rmtree(tmp, ignore_errors=True)
        except Exception as exc:  # noqa: BLE001 - sweep is informational
            print(f"link-prediction scale probe failed: {exc}", file=sys.stderr)

    # Distributed-ntile scale probe (round 11, VERDICT item 1): the rank
    # decomposition replaces three single-partition windows in rfm/abc,
    # so its own scaling law needs a record.  The fixture is the
    # machinery's ADVERSARIAL regime: half the rows tie on ONE metric
    # value (a value-range bucket cannot split a tied value — the tie-
    # bucket level has to), the rest spread over ~n/2 distinct values
    # (census ~ input-sized).  Cost is one stats agg + one census
    # groupBy + one (value, tie-bucket) window+join — all linear; a
    # hidden single-partition sort would read ~10x worse at 10x rows.
    if sf_num == 0.1 and not queries_only:
        try:
            import shutil
            import tempfile

            from pyspark.sql import functions as F

            from dp1_data_wrangling_spark.operators.ranking import (
                distributed_ntile,
            )

            def synth_rank(n: int):
                return spark.range(n).select(
                    F.col("id").alias("k"),
                    F.when(F.col("id") % 2 == 0, F.lit(7))
                    .otherwise((F.col("id") * 2654435761) % (n // 2))
                    .cast("bigint")
                    .alias("m"),
                )

            tmp = tempfile.mkdtemp(prefix="bench_ntile_")
            try:
                rpaths = {}
                for n in (100_000, 1_000_000):
                    rpaths[n] = f"{tmp}/r{n}"
                    synth_rank(n).write.parquet(rpaths[n])
                nt = {
                    n: min_of_3(
                        lambda n=n: distributed_ntile(
                            spark.read.parquet(rpaths[n]),
                            metric_col="m",
                            tie_cols=["k"],
                            n_tiles=10,
                        )
                    )
                    for n in (100_000, 1_000_000)
                }
                scaling["distributed_ntile_synth"] = {
                    "n_rows": [100_000, 1_000_000],
                    "small_sec": round(nt[100_000], 3),
                    "big_sec": round(nt[1_000_000], 3),
                    "ratio_10x_rows": round(nt[1_000_000] / nt[100_000], 2),
                }
            finally:
                shutil.rmtree(tmp, ignore_errors=True)
        except Exception as exc:  # noqa: BLE001 - probe is informational
            print(f"ntile scale probe failed: {exc}", file=sys.stderr)

    # Catalog data-skipping probe (round 8): 16 range-disjoint commit
    # roots over lineitem with a zone map on l_orderkey; a one-root range
    # predicate through read(where=...) vs the same filter over a full
    # 16-root union scan.  At this SF the win is mostly plan/scan setup;
    # at 100 TB it is thousands of object-store listings + parquet
    # footers never fetched — roots_scanned is the metric that transfers.
    if sf_num == 0.1 and not queries_only:
        try:
            import shutil
            import tempfile

            from pyspark.sql import functions as F

            from dp1_data_wrangling_spark.plans import Catalog
            from dp1_data_wrangling_spark.tables import load_table

            li = load_table(spark, sf_dir, "lineitem").select(
                "l_orderkey", "l_partkey", "l_quantity", "l_extendedprice"
            )
            tmp = tempfile.mkdtemp(prefix="bench_zonemap_")
            try:
                cat = Catalog(f"{tmp}/cat")
                cat.set_zone_map("li", ["l_orderkey"])
                maxk = li.agg(F.max("l_orderkey")).collect()[0][0]
                step = maxk // 16 + 1
                for i in range(16):
                    tx = cat.begin()
                    tx.stage(
                        "li",
                        li.filter(
                            (F.col("l_orderkey") >= i * step)
                            & (F.col("l_orderkey") < (i + 1) * step)
                        ),
                    )
                    cat.commit(tx)
                pred = (
                    f"l_orderkey >= {3 * step} AND l_orderkey < {4 * step}"
                )
                kept = cat.prune_roots("li", pred)

                t_pruned = min_of_3(
                    lambda: cat.read(spark, "li", where=pred)
                )
                t_full = min_of_3(
                    lambda: cat.read(spark, "li").filter(pred)
                )
                scaling["catalog_zone_map_probe"] = {
                    "roots_total": 16,
                    "roots_scanned": len(kept),
                    "pruned_sec": round(t_pruned, 3),
                    "full_scan_sec": round(t_full, 3),
                    "speedup": round(t_full / t_pruned, 2),
                }
            finally:
                shutil.rmtree(tmp, ignore_errors=True)
        except Exception as exc:  # noqa: BLE001 - probe is informational
            print(f"zone-map probe failed: {exc}", file=sys.stderr)

    # Z-order layout probe (round 11, VERDICT r10 item 7): compact the
    # same table three ways — unclustered, range_by its lead column,
    # zorder_by both columns — and time a tight TWO-column predicate
    # scan on each (max_records_per_file splits the data into ~16 files
    # so parquet footer min/max stats have something to skip).  Range
    # clustering serves only its lead column; the Morton layout bounds
    # BOTH columns' per-file span, so the second predicate prunes files
    # instead of rows.  Results are asserted equal across layouts —
    # layout must never change answers.
    if sf_num == 0.1 and not queries_only:
        try:
            import shutil
            import tempfile

            from pyspark.sql import functions as F

            from dp1_data_wrangling_spark.plans import Catalog
            from dp1_data_wrangling_spark.tables import load_table

            ev = load_table(spark, sf_dir, "events").select(
                "user_id", "value", "event_type"
            ).withColumn("v_int", F.floor(F.col("value")).cast("bigint")).drop(
                "value"
            )
            n_ev = ev.count()
            tmp = tempfile.mkdtemp(prefix="bench_zorder_")
            try:
                layouts = {
                    "plain": {},
                    "range_lead": {"range_by": ["user_id"]},
                    "zorder_both": {"zorder_by": ["user_id", "v_int"]},
                }
                cats = {}
                for name, kw in layouts.items():
                    cat = Catalog(f"{tmp}/{name}")
                    tx = cat.begin()
                    tx.stage(
                        "ev", ev,
                        max_records_per_file=max(n_ev // 16, 1), **kw,
                    )
                    cat.commit(tx)
                    cats[name] = cat
                pred = "user_id >= 100 AND user_id < 140 AND v_int >= 200 AND v_int < 260"
                times = {
                    name: min_of_3(
                        lambda c=cat: c.read(spark, "ev").filter(pred)
                    )
                    for name, cat in cats.items()
                }
                counts = {
                    name: cat.read(spark, "ev").filter(pred).count()
                    for name, cat in cats.items()
                }
                assert len(set(counts.values())) == 1, counts
                scaling["zorder_layout_probe"] = {
                    "rows_matched": counts["plain"],
                    "plain_sec": round(times["plain"], 3),
                    "range_lead_sec": round(times["range_lead"], 3),
                    "zorder_both_sec": round(times["zorder_both"], 3),
                    "zorder_vs_plain": round(
                        times["plain"] / times["zorder_both"], 2
                    ),
                }
            finally:
                shutil.rmtree(tmp, ignore_errors=True)
        except Exception as exc:  # noqa: BLE001 - probe is informational
            print(f"zorder probe failed: {exc}", file=sys.stderr)

    # Streaming ingest bench (round 8, VERDICT item 5): the streaming tier
    # has exact batch-equivalence proofs but needed cost numbers — at
    # 100 TB the ingest path IS the product for half the LLM tier.  Three
    # representative streams run availableNow over a file source split
    # into 8 micro-batches (maxFilesPerTrigger=1): raw catalog ingest
    # (events, 100k rows), incremental curation (documents, 5k docs), and
    # incremental MinHash index maintenance (documents).  Per stream:
    # min-of-2 end-to-end wall (each timed run starts a FRESH catalog +
    # checkpoint — exactly-once dedup would no-op a reused one; the
    # per-batch medians inside one run already average ambient noise, so
    # min-of-3 buys little for its cost) plus per-micro-batch wall stats
    # from recentProgress and rows/sec.  The per-batch cost drivers are
    # the exactly-once commit (manifest flock + fsync'd swap) and the
    # anti-join against accumulated state — see SCALE.md.
    streaming_stats: dict[str, dict] = {}
    if sf_num == 0.1 and not queries_only:
        try:
            import shutil
            import tempfile

            from dp1_data_wrangling_spark.streaming.curation import stream_curation
            from dp1_data_wrangling_spark.streaming.dedup_llm import (
                stream_minhash_dedup,
            )
            from dp1_data_wrangling_spark.streaming.sinks import stream_into_catalog
            from dp1_data_wrangling_spark.tables import load_table

            def bench_stream(
                name, src_df, start_fn, n_files: int = 8, prepare_fn=None
            ):
                tmp = tempfile.mkdtemp(prefix=f"bench_stream_{name}_")
                try:
                    src = f"{tmp}/src"
                    src_df.repartition(n_files).write.parquet(src)
                    schema = spark.read.parquet(src).schema
                    n_rows = spark.read.parquet(src).count()
                    best = None
                    for run in range(2):
                        work = f"{tmp}/run{run}"
                        stream = (
                            spark.readStream.schema(schema)
                            .option("maxFilesPerTrigger", 1)
                            .parquet(src)
                        )
                        # one-time setup (e.g. the seed index build) runs
                        # OUTSIDE the timed window — the number is the
                        # stream's per-batch cost, not batch bootstrap
                        if prepare_fn is not None:
                            prepare_fn(work)
                        t0 = time.perf_counter()
                        q = start_fn(stream, work)
                        q.awaitTermination()
                        wall = time.perf_counter() - t0
                        batches = [
                            p["batchDuration"] / 1000.0
                            for p in (q.recentProgress or [])
                            if p.get("numInputRows", 0) > 0
                        ]
                        if best is None or wall < best["wall_sec"]:
                            bs = sorted(batches)
                            best = {
                                "wall_sec": round(wall, 3),
                                "n_batches": len(batches),
                                "batch_sec_median": round(
                                    bs[len(bs) // 2], 3
                                )
                                if bs
                                else None,
                                "batch_sec_max": round(bs[-1], 3) if bs else None,
                                "rows_per_sec": round(n_rows / wall),
                            }
                    streaming_stats[name] = best
                finally:
                    shutil.rmtree(tmp, ignore_errors=True)

            events = load_table(spark, sf_dir, "events")
            docs = load_table(spark, sf_dir, "documents")
            bench_stream(
                "stream_into_catalog",
                events,
                lambda s, w: stream_into_catalog(
                    s, f"{w}/cat", "events_stream", checkpoint_dir=f"{w}/ckpt"
                ),
            )
            bench_stream(
                "stream_curation",
                docs,
                lambda s, w: stream_curation(
                    s, f"{w}/cat", checkpoint_dir=f"{w}/ckpt"
                ),
            )
            bench_stream(
                "stream_minhash_dedup",
                docs,
                lambda s, w: stream_minhash_dedup(
                    s, f"{w}/cat", checkpoint_dir=f"{w}/ckpt", max_bucket_size=100
                ),
            )

            # BM25 text-index maintenance (round 9): per-batch cost =
            # tokenize + the indexed-id anti-join + the partitioned
            # append's exactly-once commit.  The index seeds from a
            # 1-in-10 slice; the stream appends the rest.
            from pyspark.sql import functions as F  # noqa: PLC0415

            from dp1_data_wrangling_spark.plans.catalog import Catalog
            from dp1_data_wrangling_spark.plans.text_index import (
                build_text_index,
            )
            from dp1_data_wrangling_spark.streaming.text_index import (
                stream_text_index_append,
            )

            seed = docs.filter(F.col("doc_id") % 10 == 0).select(
                "doc_id", "text"
            )

            def prep_text_index(w):
                build_text_index(spark, Catalog(f"{w}/cat"), seed)

            def start_text_index(s, w):
                return stream_text_index_append(
                    s.select("doc_id", "text"),
                    f"{w}/cat",
                    checkpoint_dir=f"{w}/ckpt",
                )

            bench_stream(
                "stream_text_index",
                docs.filter(F.col("doc_id") % 10 != 0).select(
                    "doc_id", "text"
                ),
                start_text_index,
                prepare_fn=prep_text_index,
            )
        except Exception as exc:  # noqa: BLE001 - bench is informational
            print(f"streaming bench failed: {exc}", file=sys.stderr)

    total = round(sum(timings.values()), 3)
    record = {
        "metric": "headline_queries_total_wall",
        # a partial total would read as a speedup — report null on failure
        "value": None if errors else total,
        "unit": "sec",
        "queries": timings,
        "sf": sf_num,
    }
    if scaling:
        record["scaling"] = scaling
        # Ambient-normalized secondary statistic (r13, VERDICT r12
        # item 1): total deflated by the run's measured contention
        # multiplier (x best_ref/run_ref).  An ESTIMATE — stated as
        # such — that keeps the round-over-round trend falsifiable
        # when the host never produces a clean window; on a clean run
        # it converges to the raw total.
        ref = scaling.get("machine_ref", {}).get("jvm_range_sum_sec")
        if ref and not errors:
            record["ambient_normalized_total_est_sec"] = round(
                total * JVM_REF_BEST_SEC / ref, 3
            )
    if streaming_stats:
        record["streaming"] = streaming_stats
    if errors:
        record["errors"] = errors
        record["partial_total"] = total

    # The driver captures only the LAST 2000 chars of output and parses the
    # final JSON line from that tail — round 8's full record outgrew it and
    # landed as parsed:null.  Write the full record to BENCH_DETAIL.json
    # (committed, judge-readable) and print a compact line: the contract
    # keys verbatim, plus one summary number per scaling probe / stream.
    detail_name = (
        "BENCH_DETAIL_QUERIES_ONLY.json" if queries_only else "BENCH_DETAIL.json"
    )
    Path(__file__).resolve().parent.joinpath(detail_name).write_text(
        json.dumps(record, indent=1) + "\n"
    )
    compact = {
        "metric": record["metric"],
        "value": record["value"],
        "unit": "sec",
        "queries": timings,
        "sf": sf_num,
    }
    if scaling:
        compact["scaling"] = {
            k: next(
                (v[r] for r in (
                    "ratio_10x_rows", "ratio_2x_rows", "speedup",
                    # layout probe: the headline scalar is its win over
                    # the unclustered layout; machine ref: the 32-thread
                    # JVM reference (the number that tracks ambient
                    # multi-core throughput)
                    "zorder_vs_plain", "jvm_range_sum_sec",
                ) if r in v),
                None,
            )
            for k, v in scaling.items()
        }
    if streaming_stats:
        compact["stream_rps"] = {
            k: v.get("rows_per_sec") for k, v in streaming_stats.items()
        }
    if errors:
        compact["errors"] = errors
        compact["partial_total"] = total
    line = json.dumps(compact, separators=(",", ":"))
    for drop in ("stream_rps", "scaling"):
        if len(line) > 1800 and drop in compact:
            del compact[drop]
            line = json.dumps(compact, separators=(",", ":"))
    print(line)
    spark.stop()


if __name__ == "__main__":
    main()
