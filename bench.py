#!/usr/bin/env python
"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line with per-query wall seconds.

Methodology: one warm-up execution of the smallest headline query to
absorb JVM/codegen startup, then each headline query is planned fresh and
executed THREE times; the reported time is the min of the three
(steady-state throughput — first executions fold in one-off shuffle-file
and codegen-cache effects that have nothing to do with the plan; this
machine shows up to ±2x ambient noise on sub-second queries, which
min-of-2 could not reject).  Each run materializes the FULL result
through a noop datasource write (every column evaluated and serialized),
not ``df.count()``, which lets Spark skip projection-only column work.

The headline queries run in sorted-name order, so the run order does not
depend on ``queries.DRIVER_WINDOW`` (which reorders the registry).

After the headliners come the machine reference blocks, every scaling
probe in ``PROBES`` (timed with the same min-of-3) and, at sf0.1, the
streaming block.  The full record goes to BENCH_DETAIL.json; stdout gets
``compact_line(record)``."""

from __future__ import annotations

import hashlib
import itertools
import json
import os
import shutil
import sys
import tempfile
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

from pyspark.sql import functions as F  # noqa: E402

from dp1_data_wrangling_spark.operators.dedup import (  # noqa: E402
    jaccard_threshold_join,
    minhash_candidate_pairs,
    simhash_candidate_pairs,
)
from dp1_data_wrangling_spark.operators.fuzzy import fuzzy_pairs  # noqa: E402
from dp1_data_wrangling_spark.operators.graph import (  # noqa: E402
    link_prediction,
    pagerank,
)
from dp1_data_wrangling_spark.operators.intervals import (  # noqa: E402
    overlapping_pairs,
)
from dp1_data_wrangling_spark.operators.ranking import (  # noqa: E402
    distributed_ntile,
)
from dp1_data_wrangling_spark.operators.retrieval import bm25_topk  # noqa: E402
from dp1_data_wrangling_spark.operators.semantic import semantic_dedup  # noqa: E402
from dp1_data_wrangling_spark.operators.similarity import (  # noqa: E402
    ivf_pq_topk,
    ivf_topk_trained,
)
from dp1_data_wrangling_spark.operators.spatial import (  # noqa: E402
    point_in_polygon,
    within_distance_pairs,
)
from dp1_data_wrangling_spark.plans.ann_index import (  # noqa: E402
    build_ivf_index,
    ivf_query_index,
)
from dp1_data_wrangling_spark.plans.catalog import Catalog  # noqa: E402
from dp1_data_wrangling_spark.plans.text_index import build_text_index  # noqa: E402
from dp1_data_wrangling_spark.queries import REGISTRY, headline_queries  # noqa: E402
from dp1_data_wrangling_spark.session import get_spark  # noqa: E402
from dp1_data_wrangling_spark.streaming.curation import stream_curation  # noqa: E402
from dp1_data_wrangling_spark.streaming.dedup_llm import (  # noqa: E402
    stream_minhash_dedup,
)
from dp1_data_wrangling_spark.streaming.sinks import stream_into_catalog  # noqa: E402
from dp1_data_wrangling_spark.streaming.text_index import (  # noqa: E402
    stream_text_index_append,
)
from dp1_data_wrangling_spark.tables import load_table  # noqa: E402

# Best historical 32-thread JVM reference on this host and the clean-run
# gate (~15% over it) — see the machine_ref block.  Update
# JVM_REF_BEST_SEC only downward (a new best).
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

    eff_parallelism is busy-cpu-seconds / wall on the probe run, from
    /proc/stat tick deltas.  Context: this sandbox is a Firecracker
    microVM where hypervisor-side contention shows up as NEITHER guest
    processes NOR steal time (no paravirt steal clock — a 5s sampler
    DURING a starved 32-thread probe read steal=0 and idle=66%, with no
    in-VM process consuming the gap and no cgroup quota configured).
    The wall-clock jvm ref therefore remains the load-bearing gate;
    eff_parallelism is recorded as a trend diagnostic — on this host a
    starved probe burned ~3 cpu-sec at eff ~10 while a clean probe
    finished in ~0.6 cpu-sec at eff ~9, i.e. contention INFLATES total
    cpu burned (scheduler/JVM overhead), it does not just stretch wall.
    Interpret jointly with wall, not alone.
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
        # Per-job scheduling-latency floor: the dimension the burst
        # probe does NOT measure — iterative queries' small-sf wall is
        # jobs x this number.  Healthy ~10-20ms.
        "noop_sql_floor_ms": round(noop * 1000, 1),
        "ambient_vs_best": round(best_wall / JVM_REF_BEST_SEC, 2),
        "machine_clean": best_wall <= JVM_REF_CLEAN_SEC,
    }


def wait_for_clean_host(spark, budget_sec: float) -> dict:
    """Pre-flight admission gate: sample the JVM reference and hold the
    timed run until the host is in-band (jvm ref <= 0.07s) or the budget
    is exhausted, so a dirty start does not silently burn a bench slot.

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


def materialize(df) -> None:
    # Full materialization: the noop sink evaluates and serializes every
    # output column (count() can prune a projection down to nothing).
    df.write.format("noop").mode("overwrite").save()


def ten_x(small: float, big: float, keys=("small_sec", "big_sec")) -> dict:
    """Both walls of a 10x-rows step and their ratio.  Fixed plan/launch
    overhead compresses the ratio at these sizes (expect low single
    digits for a linear plan); a hidden all-pairs term reads ~100x."""
    return {
        keys[0]: round(small, 3),
        keys[1]: round(big, 3),
        "ratio_10x_rows": round(big / small, 2),
    }


class Bench:
    """What every probe gets: the session, the fixture, the headline
    timings, and one temp dir for everything the probes write."""

    def __init__(self, spark, sf_dir: str, sf: float | None, tmp: str):
        self.spark, self.sf_dir, self.sf, self.tmp = spark, sf_dir, sf, tmp
        self.small_dir = sf_dir.replace("sf0.1", "sf0.01")
        self.timings: dict[str, float] = {}
        self._inputs: dict[tuple, str] = {}
        self._dirs = itertools.count()

    def min_of_3(self, fn) -> float:
        """Plan fresh with ``fn()``, materialize fully, keep the best of
        three — the methodology in the module docstring."""
        best = float("inf")
        for _ in range(3):
            t0 = time.perf_counter()
            materialize(fn())
            best = min(best, time.perf_counter() - t0)
        return best

    def table(self, name: str):
        return load_table(self.spark, self.sf_dir, name)

    def scratch(self) -> str:
        """A fresh path under the temp dir."""
        return f"{self.tmp}/{next(self._dirs)}"

    def _persist(self, gen, n: int) -> str:
        key = (gen.__name__, n)
        if key not in self._inputs:
            path = self.scratch()
            gen(self.spark, n).write.parquet(path)
            self._inputs[key] = path
        return self._inputs[key]

    def input(self, gen, n: int):
        """A fresh read of the synthetic input ``gen(spark, n)``, written
        to parquet once and shared by every probe that uses it."""
        return self.spark.read.parquet(self._persist(gen, n))

    def sweep(self, sizes, inputs, run, pairs: bool = False) -> dict:
        """Time ``run(n)`` at both ``sizes`` (1x and 10x rows).  The
        synthetic ``inputs`` are persisted first, so generation stays
        out of the timing; ``pairs`` records each size's output count,
        for probes whose cost tracks their output."""
        for n in sizes:
            for gen in inputs:
                self._persist(gen, n)
        small, big = (self.min_of_3(lambda n=n: run(n)) for n in sizes)
        entry = {"n_rows": list(sizes), **ten_x(small, big)}
        if pairs:
            entry["pairs"] = [run(n).count() for n in sizes]
        return entry

    def stream(self, src_df, start_fn, prepare_fn=None) -> dict:
        """Best of two availableNow runs of ``start_fn(stream, workdir)``
        over ``src_df`` split into 8 micro-batches (8 files,
        maxFilesPerTrigger=1).  Each timed run starts a FRESH catalog
        and checkpoint — exactly-once dedup would no-op a reused one; the
        per-batch medians inside one run already average ambient noise,
        so min-of-3 buys little for its cost."""
        tmp = self.scratch()
        src = f"{tmp}/src"
        src_df.repartition(8).write.parquet(src)
        schema = self.spark.read.parquet(src).schema
        n_rows = self.spark.read.parquet(src).count()
        best = None
        for run in range(2):
            work = f"{tmp}/run{run}"
            stream = (
                self.spark.readStream.schema(schema)
                .option("maxFilesPerTrigger", 1)
                .parquet(src)
            )
            # one-time setup (e.g. the seed index build) runs OUTSIDE the
            # timed window — the number is the stream's per-batch cost,
            # not batch bootstrap
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
                    "batch_sec_median": round(bs[len(bs) // 2], 3) if bs else None,
                    "batch_sec_max": round(bs[-1], 3) if bs else None,
                    "rows_per_sec": round(n_rows / wall),
                }
        return best


def guarded(label: str, fn):
    """``fn()``, or None after printing why it failed: an informational
    block must never lose the record."""
    try:
        return fn()
    except Exception as exc:  # noqa: BLE001
        print(f"{label} failed: {exc}", file=sys.stderr)
        return None


def run_table(b: Bench, table: dict) -> dict:
    """Every entry of a probe table that applies to this run."""
    out = {}
    for name, probe in table.items():
        entry = guarded(name, lambda probe=probe: probe(b))
        if entry is not None:
            out[name] = entry
    return out


def machine_blocks(spark, gate_record: dict | None) -> dict:
    """Machine-state references: fixed pure-CPU and fixed JVM workloads.
    The headline numbers on this host carry a time-varying ambient
    multiplier (the SAME untouched queries have read 1.18x-1.95x between
    runs); a plan regression moves a query AGAINST these references,
    ambient drift moves everything WITH them."""

    def cpu_ref() -> float:
        h = hashlib.md5()
        blk = b"x" * (1 << 20)
        t0 = time.perf_counter()
        for _ in range(200):
            h.update(blk)
        return time.perf_counter() - t0

    # Per-JOB scheduling latency, not throughput: the iterative
    # headliners' sf0.1 wall is jobs x this floor, while the 50M burst
    # probe measures burst throughput, a different dimension.  Recorded,
    # not gated.
    def floor_ms(fn, n: int) -> float:
        best = float("inf")
        for _ in range(n):
            t0 = time.perf_counter()
            fn()
            best = min(best, time.perf_counter() - t0)
        return round(best * 1000, 1)

    probe = jvm_ref_probe(spark)
    blocks = {
        "sched_floor": {
            "noop_sql_ms": floor_ms(lambda: spark.sql("select 1").collect(), 10),
            "tiny_1task_ms": floor_ms(lambda: spark.range(1).count(), 10),
            "tiny_shuffle_ms": floor_ms(
                lambda: spark.range(0, 3200, 1, 32)
                .selectExpr("id % 32 as k")
                .groupBy("k")
                .count()
                .collect(),
                6,
            ),
        },
        # ambient_vs_best is the run's multi-core contention multiplier;
        # machine_clean marks the run comparable under the mins protocol
        # (<= ~15% over the best ref).  A dirty run still prints — it
        # feeds cross-run MINS — but its totals must not be read as a
        # plan regression.
        "machine_ref": {
            "cpu_md5_200mb_sec": round(min(cpu_ref() for _ in range(3)), 3),
            **probe,
            **(gate_record or {}),
        },
    }
    if probe["jvm_range_sum_sec"] > JVM_REF_CLEAN_SEC:
        print(
            f"machine_ref: jvm {probe['jvm_range_sum_sec']}s > clean gate "
            f"{JVM_REF_CLEAN_SEC}s ({probe['ambient_vs_best']}x "
            "over best) — contended host; totals are mins-protocol "
            "samples only, not a committable clean record",
            file=sys.stderr,
        )
    return blocks


# ---- synthetic inputs: md5/Knuth-deterministic, ``gen(spark, n)`` ------


def synth_vectors(spark, n: int):
    return spark.range(n).select(
        F.col("id").alias("vec_id"),
        F.transform(
            F.sequence(F.lit(0), F.lit(63)),
            lambda j: (
                F.conv(
                    F.substring(F.md5(F.concat_ws("_", F.col("id"), j)), 1, 15),
                    16,
                    10,
                ).cast("long")
                % 2001
                - 1000
            )
            / 1000.0,
        ).alias("embedding"),
    )


def synth_docs(spark, n: int):
    """60 six-hex words from a 500-word vocabulary; every 5th doc is a
    near-dup of its predecessor, so the candidate-pair volume scales
    linearly with n."""
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
                        F.substring(F.md5(F.concat_ws("s", base, j)), 1, 15),
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
        F.concat(F.array_join(F.slice(words, 1, 59), " "), F.lit(" zzmutant")),
    ).otherwise(F.array_join(words, " "))
    return spark.range(n).select(F.col("id").alias("doc_id"), text.alias("text"))


def synth_jdocs(spark, n: int):
    """Vocabulary scales WITH the corpus (4n words, df ~ 5) — the
    Zipfian-wide regime where prefix filtering is selective; the
    500-word ``synth_docs`` corpus would be adversarial (every prefix
    token is hot) and measure the wrong thing."""
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
                        F.substring(F.md5(F.concat_ws("js", base, j)), 1, 15),
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
            F.array_join(F.slice(words, 1, 18), " "), F.lit(" zzjmut1 zzjmut2")
        ),
    ).otherwise(F.array_join(words, " "))
    return spark.range(n).select(F.col("id").alias("doc_id"), text.alias("text"))


def synth_stopdocs(spark, n: int):
    """Short stop-word-dominated records {u_(i//2), sw1, sw2, sw3}: two
    corpus-wide stop words land in EVERY prefix at t=0.5, the one shape
    rarity ordering cannot save."""
    u = F.concat(F.lit("u"), (F.col("id") / 2).cast("long").cast("string"))
    return spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(" ", u, F.lit("sw1"), F.lit("sw2"), F.lit("sw3")).alias("text"),
    )


def synth_keys(spark, n: int):
    """12-hex keys in near-dup families of 5: pair volume linear in n."""
    base = F.substring(F.md5((F.col("id") / 5).cast("int").cast("string")), 1, 12)
    key = (
        F.when(F.col("id") % 5 == 1, F.concat(F.lit("z"), F.substring(base, 2, 11)))
        .when(F.col("id") % 5 == 2, F.substring(base, 1, 11))
        .otherwise(base)
    )
    return spark.range(n).select(F.col("id").alias("kid"), key.alias("key"))


def _md5_mod(tag: str, mod: int):
    return (
        F.conv(
            F.substring(F.md5(F.concat(F.lit(tag), F.col("id").cast("string"))), 1, 15),
            16,
            10,
        ).cast("bigint")
        % mod
    )


def synth_points(spark, n: int):
    """Points on an area that GROWS with n (side ~ sqrt n), so density
    and per-point pair counts stay constant."""
    side = 700 if n == 5_000 else 2200
    return spark.range(n).select(
        F.col("id").alias("pid"),
        _md5_mod("bx|", side).alias("x"),
        _md5_mod("by|", side).alias("y"),
    )


def synth_fences(spark, n: int):
    """Diamond fences at the density of ``synth_points(n)`` on the same
    area: both sides scale with area, so candidate volume scales ~n."""
    n_f, side = (25, 700) if n == 5_000 else (250, 2200)
    cx = _md5_mod("fx|", side - 300) + 150
    cy = _md5_mod("fy|", side - 300) + 150
    return spark.range(n_f).select(
        F.col("id").alias("fid"),
        F.array(
            F.struct((cx + (_md5_mod("fe|", 100) + 20)).alias("x"), cy.alias("y")),
            F.struct(cx.alias("x"), (cy + (_md5_mod("fn|", 100) + 20)).alias("y")),
            F.struct((cx - (_md5_mod("fw|", 100) + 20)).alias("x"), cy.alias("y")),
            F.struct(cx.alias("x"), (cy - (_md5_mod("fs|", 100) + 20)).alias("y")),
        ).alias("verts"),
    )


def synth_graph(spark, n: int):
    """Bounded degree: 0-3 out-edges per node (~1.5 on average)."""
    deg = (F.col("id") * 2654435761) % 4
    return (
        spark.range(n)
        .select(F.col("id").alias("src"), deg.alias("d"))
        .filter("d > 0")
        .select(
            "src",
            F.explode(F.sequence(F.lit(1).cast("bigint"), F.col("d"))).alias("j"),
        )
        .select(
            "src",
            ((F.col("src") * 40503 + F.col("j") * 69069) % n).alias("dst"),
        )
    )


def synth_rank(spark, n: int):
    """The ntile machinery's ADVERSARIAL regime: half the rows tie on ONE
    metric value (a value-range bucket cannot split a tied value — the
    tie-bucket level has to), the rest spread over ~n/2 distinct
    values."""
    return spark.range(n).select(
        F.col("id").alias("k"),
        F.when(F.col("id") % 2 == 0, F.lit(7))
        .otherwise((F.col("id") * 2654435761) % (n // 2))
        .cast("bigint")
        .alias("m"),
    )


# ---- scaling probes: ``probe(b) -> entry``, or None when not applicable --


def sf_step(name: str):
    """The headliner one SF down: the same min-of-3 at sf0.01 against its
    sf0.1 headline time.  A quadratic plan (e.g. the O(n^2) self-join
    certify_probe's sort-neighbor window replaces) would show ~100x
    growth in the data-dependent part."""

    def probe(b: Bench):
        if name not in b.timings or b.small_dir == b.sf_dir:
            return None
        if not os.path.isdir(b.small_dir):
            return None
        small = b.min_of_3(lambda: REGISTRY[name].fn(b.spark, b.small_dir))
        return ten_x(small, b.timings[name], ("small_sf_sec", "sec"))

    return probe


def certify_probe_2x(b: Bench):
    """A same-SF row-doubled run separates fixed overhead from the
    n log n slope.  The doubled table unions a tie-shifted copy (ties
    stay unique) over the SAME key space, so per-key group sizes double
    — the axis the sort-neighbor window actually sorts on."""
    if "certify_probe" not in b.timings:
        return None
    li = b.table("lineitem")

    def certify_intervals(tie_offset: int):
        return li.select(
            (F.col("l_partkey") % 1024).alias("key"),
            ((F.col("l_orderkey") % 100000) * 1_000_000).cast("long").alias("begin_nsec"),
            (
                (F.col("l_orderkey") % 100000) * 1_000_000
                + F.col("l_quantity").cast("long") * 500_000
            )
            .cast("long")
            .alias("end_nsec"),
            (
                F.col("l_orderkey") * 16 + F.col("l_linenumber") * 2 + tie_offset
            ).alias("tie"),
        )

    def time_certify(iv) -> float:
        return b.min_of_3(
            lambda: overlapping_pairs(iv, ["key"], tie_breaker=F.col("tie"))
            .groupBy("key")
            .agg(F.count("*").alias("n_offenders"), F.min("tie").alias("first_tie"))
        )

    base = time_certify(certify_intervals(0))
    doubled = time_certify(certify_intervals(0).union(certify_intervals(1)))
    return {
        "base_sec": round(base, 3),
        "doubled_sec": round(doubled, 3),
        "ratio_2x_rows": round(doubled / base, 2),
    }


def at_sf01(probe):
    """Probes that build their own inputs run in the sf0.1 record only."""
    return lambda b: probe(b) if b.sf == 0.1 else None


# The embeddings FIXTURE is <=2k vectors at every SF, so the headline
# numbers for the semantic/ANN tier track orchestration overhead, not
# data volume; these corpora are 2k / 20k 64-dim vectors.
VEC_SIZES = (2_000, 20_000)
# The documents FIXTURE is 5k docs at every SF, likewise.
DOC_SIZES = (5_000, 50_000)
# doc_link_pagerank's fixture graph is 5k docs at every SF.
GRAPH_SIZES = (20_000, 200_000)


@at_sf01
def semantic_dedup_synth(b: Bench):
    # n_planes grows with log2(n) to hold SRP bucket occupancy ~8-10
    # (2k/2^8 vs 20k/2^11): the ratio measures the plan's scaling LAW
    # under its own deployment rule
    return b.sweep(
        VEC_SIZES,
        [synth_vectors],
        lambda n: semantic_dedup(
            b.input(synth_vectors, n), dim=64, n_planes=8 if n == 2_000 else 11
        ),
    )


@at_sf01
def ivf_topk_synth(b: Bench):
    # FIXED 32 cells at both sizes (iso-config): the probe tests that the
    # plan carries no hidden all-pairs term — at fixed cells, k-means
    # assign is O(n*cells) and the 200-probe re-rank is
    # O(probes*nprobe*n/cells), both linear in n.  (A deployment grows
    # cells ~sqrt(n) for recall, making BUILD O(n^1.5) — a stated knob
    # cost, not a plan defect; cells proportional to n read 6.7x at 10x
    # rows purely from the n*cells term.)
    return b.sweep(
        VEC_SIZES,
        [synth_vectors],
        lambda n: ivf_topk_trained(
            b.input(synth_vectors, n).limit(200),
            b.input(synth_vectors, n),
            5,
            n_cells=32,
            nprobe=4,
            n_iters=2,
        ),
    )


@at_sf01
def ivf_pq_topk_synth(b: Bench):
    # same iso-config rule: fixed 32 cells / nprobe 4 / m=16 codes /
    # 200-row shortlist, so the ratio measures the plan's law (assign
    # O(n*cells) + ADC over the visited nprobe/cells fraction)
    return b.sweep(
        VEC_SIZES,
        [synth_vectors],
        lambda n: ivf_pq_topk(
            b.input(synth_vectors, n).limit(200),
            b.input(synth_vectors, n),
            5,
            dim=64,
            n_cells=32,
            nprobe=4,
            m=16,
            k_codes=16,
            shortlist=200,
        ),
    )


@at_sf01
def ivf_query_index_synth(b: Bench):
    # persisted-index QUERY path: the cell-partitioned index is built
    # outside the timing, so only the partition-pruned query is timed
    # (nprobe/n_cells of corpus bytes touched)
    cats = {}
    for n in VEC_SIZES:
        cats[n] = Catalog(b.scratch())
        build_ivf_index(
            b.spark, cats[n], b.input(synth_vectors, n), n_cells=32, n_iters=2
        )
    return b.sweep(
        VEC_SIZES,
        [synth_vectors],
        lambda n: ivf_query_index(
            b.spark, cats[n], b.input(synth_vectors, n).limit(200), 5, nprobe=4
        ),
    )


def doc_pairs_synth(op):
    """Candidate-pair operators: row-local signatures + one bucket
    groupBy + capped pair explosion, linear-class by construction."""
    return at_sf01(
        lambda b: b.sweep(
            DOC_SIZES,
            [synth_docs],
            lambda n: op(b.input(synth_docs, n)),
            pairs=True,
        )
    )


@at_sf01
def bm25_topk_synth(b: Bench):
    # the vocabulary word for index i is md5(str(i))[:6], so fixed query
    # strings hit real terms at both sizes; the match join touches only
    # query-term postings
    def vw(i: int) -> str:
        return hashlib.md5(str(i).encode()).hexdigest()[:6]

    queries = b.spark.createDataFrame(
        [
            (1, f"{vw(3)} {vw(77)}"),
            (2, f"{vw(150)} {vw(222)} {vw(431)}"),
            (3, f"{vw(499)}"),
        ],
        ["query_id", "query_text"],
    )
    return b.sweep(
        DOC_SIZES,
        [synth_docs],
        lambda n: bm25_topk(b.input(synth_docs, n), queries, k=10),
    )


@at_sf01
def jaccard_join_synth(b: Bench):
    return b.sweep(
        DOC_SIZES,
        [synth_jdocs],
        lambda n: jaccard_threshold_join(b.input(synth_jdocs, n), t_milli=500),
    )


@at_sf01
def jaccard_join_capped_worstcase_synth(b: Bench):
    # PPJoin's worst input WITH the hot-prefix valve: uncapped, the
    # candidate volume is ~n²/2 and is never run at 50k.
    # max_prefix_df=100 semi-prunes the two degenerate keys at BOTH sizes
    # while every planted duplicate (paired via its rare u-token,
    # prefix-df 2) is still found
    return b.sweep(
        DOC_SIZES,
        [synth_stopdocs],
        lambda n: jaccard_threshold_join(
            b.input(synth_stopdocs, n), t_milli=500, max_prefix_df=100
        ),
    )


@at_sf01
def fuzzy_pairs_synth(b: Bench):
    # complete-blocking join: constant-factor probe replication + one
    # equi-join
    return b.sweep(
        DOC_SIZES,
        [synth_keys],
        lambda n: fuzzy_pairs(
            b.input(synth_keys, n), key_col="key", id_col="kid", max_dist=2
        ),
    )


@at_sf01
def spatial_pairs_synth(b: Bench):
    return b.sweep(
        DOC_SIZES,
        [synth_points],
        lambda n: within_distance_pairs(
            b.input(synth_points, n), x_col="x", y_col="y", id_col="pid", radius=10
        ),
    )


@at_sf01
def geofence_synth(b: Bench):
    return b.sweep(
        DOC_SIZES,
        [synth_points, synth_fences],
        lambda n: point_in_polygon(
            b.input(synth_points, n),
            b.input(synth_fences, n),
            x_col="x",
            y_col="y",
            id_col="pid",
            poly_id_col="fid",
            vertices_col="verts",
            cell_size=64,
        ),
    )


@at_sf01
def pagerank_synth(b: Bench):
    # 5 iterations: rounds x O(|E|) joins+aggs — an accidental
    # re-derivation of the edge subtree per round would read ~10x worse
    return b.sweep(
        GRAPH_SIZES,
        [synth_graph],
        lambda n: pagerank(
            b.spark.range(n).select(F.col("id").alias("node")),
            b.input(synth_graph, n),
            iterations=5,
        ),
    )


@at_sf01
def link_prediction_synth(b: Bench):
    # the wedge census emits deg(w)^2/2 candidates per intermediate node,
    # so on a bounded-degree graph cost and OUTPUT both grow linearly;
    # the hub valve is covered by the equivalence test, not re-probed
    return b.sweep(
        GRAPH_SIZES,
        [synth_graph],
        lambda n: link_prediction(
            b.input(synth_graph, n), min_common=1, max_degree=64
        ),
        pairs=True,
    )


@at_sf01
def distributed_ntile_synth(b: Bench):
    # one stats agg + one census groupBy + one (value, tie-bucket)
    # window+join — a hidden single-partition sort would read ~10x worse
    return b.sweep(
        (100_000, 1_000_000),
        [synth_rank],
        lambda n: distributed_ntile(
            b.input(synth_rank, n), metric_col="m", tie_cols=["k"], n_tiles=10
        ),
    )


@at_sf01
def catalog_zone_map_probe(b: Bench):
    """16 range-disjoint commit roots over lineitem with a zone map on
    l_orderkey; a one-root range predicate through read(where=...) vs the
    same filter over a full 16-root union scan.  At this SF the win is
    mostly plan/scan setup; at 100 TB it is object-store listings +
    parquet footers never fetched — roots_scanned is what transfers."""
    li = b.table("lineitem").select(
        "l_orderkey", "l_partkey", "l_quantity", "l_extendedprice"
    )
    cat = Catalog(b.scratch())
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
    pred = f"l_orderkey >= {3 * step} AND l_orderkey < {4 * step}"
    kept = cat.prune_roots("li", pred)
    t_pruned = b.min_of_3(lambda: cat.read(b.spark, "li", where=pred))
    t_full = b.min_of_3(lambda: cat.read(b.spark, "li").filter(pred))
    return {
        "roots_total": 16,
        "roots_scanned": len(kept),
        "pruned_sec": round(t_pruned, 3),
        "full_scan_sec": round(t_full, 3),
        "speedup": round(t_full / t_pruned, 2),
    }


@at_sf01
def zorder_layout_probe(b: Bench):
    """The same table compacted three ways — unclustered, range_by its
    lead column, zorder_by both columns — and a tight TWO-column
    predicate scan on each (max_records_per_file splits the data into
    ~16 files so parquet footer min/max stats have something to skip).
    Range clustering serves only its lead column; the Morton layout
    bounds BOTH columns' per-file span.  Layout must never change
    answers, so the counts are asserted equal."""
    ev = (
        b.table("events")
        .select("user_id", "value", "event_type")
        .withColumn("v_int", F.floor(F.col("value")).cast("bigint"))
        .drop("value")
    )
    n_ev = ev.count()
    layouts = {
        "plain": {},
        "range_lead": {"range_by": ["user_id"]},
        "zorder_both": {"zorder_by": ["user_id", "v_int"]},
    }
    cats = {}
    for name, kw in layouts.items():
        cat = Catalog(b.scratch())
        tx = cat.begin()
        tx.stage("ev", ev, max_records_per_file=max(n_ev // 16, 1), **kw)
        cat.commit(tx)
        cats[name] = cat
    pred = "user_id >= 100 AND user_id < 140 AND v_int >= 200 AND v_int < 260"
    times = {
        name: b.min_of_3(lambda c=cat: c.read(b.spark, "ev").filter(pred))
        for name, cat in cats.items()
    }
    counts = {
        name: cat.read(b.spark, "ev").filter(pred).count()
        for name, cat in cats.items()
    }
    assert len(set(counts.values())) == 1, counts
    return {
        "rows_matched": counts["plain"],
        "plain_sec": round(times["plain"], 3),
        "range_lead_sec": round(times["range_lead"], 3),
        "zorder_both_sec": round(times["zorder_both"], 3),
        "zorder_vs_plain": round(times["plain"] / times["zorder_both"], 2),
    }


# The scaling block, in run order.
PROBES = {
    "certify_probe": sf_step("certify_probe"),
    # its claimed shape is one min_by shuffle: low-single-digit class
    "priority_dedup": sf_step("priority_dedup"),
    # census + anti-join + regroup are all linear-class (the line census
    # would betray a quadratic pair-expansion instantly)
    "doc_line_dedup": sf_step("doc_line_dedup"),
    "certify_probe_2x_same_sf": certify_probe_2x,
    "embedding_semantic_dedup_synth": semantic_dedup_synth,
    "ivf_topk_synth": ivf_topk_synth,
    "ivf_pq_topk_synth": ivf_pq_topk_synth,
    "ivf_query_index_synth": ivf_query_index_synth,
    "minhash_pairs_synth": doc_pairs_synth(minhash_candidate_pairs),
    # Uncapped simhash is OUTPUT-bound on this 500-word corpus (pairs grow
    # ~87x for 10x rows), so its wall ratio tracks pair volume; the
    # capped two-pass form alongside is the configuration a
    # template-heavy corpus would run, and is linear-class.
    "simhash_pairs_synth": doc_pairs_synth(simhash_candidate_pairs),
    # cap=8: cap=64 does not bind on this corpus (537k of 555k pairs
    # survive) — the valve probe must PRUNE to show the bounded regime
    "simhash_pairs_capped_synth": doc_pairs_synth(
        lambda d: simhash_candidate_pairs(d, max_bucket_size=8, two_pass=True)
    ),
    "bm25_topk_synth": bm25_topk_synth,
    "jaccard_join_synth": jaccard_join_synth,
    "jaccard_join_capped_worstcase_synth": jaccard_join_capped_worstcase_synth,
    "fuzzy_pairs_synth": fuzzy_pairs_synth,
    "spatial_pairs_synth": spatial_pairs_synth,
    "geofence_synth": geofence_synth,
    "pagerank_synth": pagerank_synth,
    "link_prediction_synth": link_prediction_synth,
    "distributed_ntile_synth": distributed_ntile_synth,
    "catalog_zone_map_probe": catalog_zone_map_probe,
    "zorder_layout_probe": zorder_layout_probe,
}


def stream_text_index(b: Bench):
    # per-batch cost = tokenize + the indexed-id anti-join + the
    # partitioned append's exactly-once commit.  The index seeds from a
    # 1-in-10 slice; the stream appends the rest.
    docs = b.table("documents")
    seed = docs.filter(F.col("doc_id") % 10 == 0).select("doc_id", "text")
    return b.stream(
        docs.filter(F.col("doc_id") % 10 != 0).select("doc_id", "text"),
        lambda s, w: stream_text_index_append(
            s.select("doc_id", "text"), f"{w}/cat", checkpoint_dir=f"{w}/ckpt"
        ),
        prepare_fn=lambda w: build_text_index(b.spark, Catalog(f"{w}/cat"), seed),
    )


# Streaming ingest at sf0.1: raw catalog ingest (events), incremental
# curation (documents), incremental MinHash and BM25 index maintenance.
# The per-batch cost drivers are the exactly-once commit (manifest flock
# + fsync'd swap) and the anti-join against accumulated state — see
# SCALE.md.
STREAMS = {
    "stream_into_catalog": lambda b: b.stream(
        b.table("events"),
        lambda s, w: stream_into_catalog(
            s, f"{w}/cat", "events_stream", checkpoint_dir=f"{w}/ckpt"
        ),
    ),
    "stream_curation": lambda b: b.stream(
        b.table("documents"),
        lambda s, w: stream_curation(s, f"{w}/cat", checkpoint_dir=f"{w}/ckpt"),
    ),
    "stream_minhash_dedup": lambda b: b.stream(
        b.table("documents"),
        lambda s, w: stream_minhash_dedup(
            s, f"{w}/cat", checkpoint_dir=f"{w}/ckpt", max_bucket_size=100
        ),
    ),
    "stream_text_index": stream_text_index,
}

# The scalar each scaling entry contributes to the printed line.
_SUMMARY_KEYS = (
    "ratio_10x_rows",
    "ratio_2x_rows",
    "speedup",
    # layout probe: its win over the unclustered layout; machine ref: the
    # 32-thread JVM reference (tracks ambient multi-core throughput)
    "zorder_vs_plain",
    "jvm_range_sum_sec",
)


def compact_line(record: dict) -> str:
    """The one JSON line the driver parses.  The driver captures only the
    LAST 2000 chars of output and parses the final JSON line from that
    tail, so the line carries the contract keys verbatim plus one summary
    number per scaling probe and stream, and sheds ``stream_rps`` and
    then ``scaling`` while it is longer than 1800 chars."""
    compact = {k: record[k] for k in ("metric", "value", "unit", "queries", "sf")}
    if "scaling" in record:
        compact["scaling"] = {
            k: next((v[r] for r in _SUMMARY_KEYS if r in v), None)
            for k, v in record["scaling"].items()
        }
    if "streaming" in record:
        compact["stream_rps"] = {
            k: v.get("rows_per_sec") for k, v in record["streaming"].items()
        }
    if "errors" in record:
        compact["errors"] = record["errors"]
        compact["partial_total"] = record["partial_total"]
    line = json.dumps(compact, separators=(",", ":"))
    for drop in ("stream_rps", "scaling"):
        if len(line) > 1800 and drop in compact:
            del compact[drop]
            line = json.dumps(compact, separators=(",", ":"))
    return line


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    try:
        sf_num = float(sf)
    except ValueError:
        sf_num = None

    spark = get_spark("dp1-bench")
    spark.sparkContext.setLogLevel("ERROR")
    b = Bench(spark, sf_dir, sf_num, tempfile.mkdtemp(prefix="bench_"))

    # warm-up: JVM, parquet footer caches, codegen
    try:
        materialize(REGISTRY["find_first"].fn(spark, sf_dir))
    except Exception as exc:  # noqa: BLE001 - warm-up failure is not fatal
        print(f"warm-up failed: {exc}", file=sys.stderr)

    # Pre-flight admission gate: hold the timed run for up to
    # $SPARK_GRAFT_BENCH_GATE_SEC (default 600s) until the host reads
    # clean.  A still-dirty run proceeds (it feeds the cross-run MINS
    # protocol) but carries the gate record.
    gate_record = None
    try:
        gate_budget = float(os.environ.get("SPARK_GRAFT_BENCH_GATE_SEC", "600"))
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

    timings = b.timings
    errors: dict[str, str] = {}
    for name, spec in sorted(headline_queries().items()):
        try:
            timings[name] = round(b.min_of_3(lambda: spec.fn(spark, sf_dir)), 3)
        except Exception as exc:  # noqa: BLE001 - one bad query must not
            # lose the whole benchmark record
            errors[name] = str(exc)[:200]
            print(f"bench query {name} failed: {exc}", file=sys.stderr)

    try:
        scaling = guarded(
            "machine ref probe", lambda: machine_blocks(spark, gate_record)
        ) or {}
        scaling.update(run_table(b, PROBES))
        streaming = run_table(b, STREAMS) if sf_num == 0.1 else {}
    finally:
        shutil.rmtree(b.tmp, ignore_errors=True)

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
        # Ambient-normalized secondary statistic: total deflated by the
        # run's measured contention multiplier (x best_ref/run_ref).  An
        # ESTIMATE that keeps the trend falsifiable when the host never
        # produces a clean window; on a clean run it converges to the
        # raw total.
        ref = scaling.get("machine_ref", {}).get("jvm_range_sum_sec")
        if ref and not errors:
            record["ambient_normalized_total_est_sec"] = round(
                total * JVM_REF_BEST_SEC / ref, 3
            )
    if streaming:
        record["streaming"] = streaming
    if errors:
        record["errors"] = errors
        record["partial_total"] = total

    # The full record (committed, judge-readable); the printed line is
    # the compact form that fits the driver's tail.
    Path(__file__).resolve().parent.joinpath("BENCH_DETAIL.json").write_text(
        json.dumps(record, indent=1) + "\n"
    )
    print(compact_line(record))
    spark.stop()


if __name__ == "__main__":
    main()
