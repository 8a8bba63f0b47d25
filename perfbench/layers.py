"""Per-layer metrics of a traced run.

``instrument`` routes the engine's public layer entry points through spans
(no engine file changes: the benchmark patches the names the callers look
up).  ``metrics`` turns the spans plus the folded event log into the
per-layer figures.  Every figure is per pass of the workload, over the timed
passes only, except ``session.get_spark.self_s`` (once per run).

Span-owned counters (``jobs``, ``tasks``, bytes, ...) count the Spark jobs
submitted while that span was the innermost one, matching ``self_s``: the
layers partition the work instead of double-counting it.  A layer a
workload does not touch reports 0.
"""

from __future__ import annotations

from dp1_data_wrangling_spark.plans import catalog as catalog_mod
from dp1_data_wrangling_spark.plans import export as export_mod
from dp1_data_wrangling_spark.plans import file_tree as file_tree_mod
from dp1_data_wrangling_spark.plans import importer as importer_mod

from spans import GroupCounters, Span, Tracer, busy_seconds

HEADLINE_MODULES = (
    "queries_events", "queries_extended", "queries_dedup", "queries_experiments",
    "queries_graph", "queries_core", "queries_llm", "queries_curation",
    "queries_multimodal", "queries_analytics", "queries_retrieval", "queries_streaming",
)

_STAGE = ("calls", "self_s", "jobs", "tasks", "shuffle_write_bytes", "spill_bytes",
          "gc_s", "bytes_written", "files_written")
_MODULE = ("wall_s", "jobs", "shuffle_write_bytes", "spill_bytes", "python_worker_s")
_SPARK = ("jobs", "tasks", "executor_cpu_s", "gc_s", "shuffle_read_bytes",
          "shuffle_write_bytes", "spill_bytes", "python_worker_s", "python_bytes_sent",
          "python_bytes_returned", "peak_execution_memory_bytes")


def _unit(metric: str) -> str:
    leaf = metric.rsplit(".", 1)[-1]
    if leaf.endswith("per_s"):
        return "1/s"
    if leaf.endswith("_ms"):
        return "ms"
    if leaf.endswith("_mb"):
        return "MB"
    if leaf.endswith("_s"):
        return "s"
    if "bytes" in leaf:
        return "bytes"
    if leaf.endswith("_frac") or "_per_" in leaf:
        return "ratio"
    return "count"


def names() -> list[str]:
    """Every per-layer metric, in report order (BENCHMARK.json lists these)."""
    out = ["session.get_spark.self_s",
           "plans.export.run_export.self_s", "plans.export.run_export.jobs",
           "operators.find_first.plan_s", "operators.priority_dedup.plan_s",
           "operators.chains.plan_s",
           "operators.intervals.check_no_overlaps.self_s",
           "operators.intervals.check_no_overlaps.jobs"]
    out += [f"plans.catalog.stage.{k}" for k in _STAGE]
    out += ["plans.catalog.commit.calls", "plans.catalog.commit.self_s"]
    out += [f"plans.catalog.read.{k}" for k in (
        "calls", "plan_s", "plan_jobs", "action_s", "jobs", "roots_total", "roots_scanned",
        "roots_scanned_frac", "rows_returned", "records_read_per_row_returned")]
    out += ["plans.catalog.prune_roots.self_s",
            "plans.importer.run_import.self_s", "plans.importer.run_import.jobs",
            "plans.importer.run_import.reimport_records_written"]
    out += [f"plans.file_tree.generate_file_tree.{k}"
            for k in ("self_s", "jobs", "python_worker_s", "links", "links_per_s")]
    out += [f"spark.{k}" for k in (*_SPARK, "dispatch_floor_ms", "jobs_x_floor_s")]
    out += ["driver.no_job_s", "driver.peak_rss_mb", "machine.nproc",
            "machine.jvm_range_sum_s", "trace.pass_s", "trace.event_log_bytes"]
    for m in HEADLINE_MODULES:
        out += [f"{m}.{k}" for k in _MODULE]
    return out


def instrument(tr: Tracer) -> None:
    def record_roots(sp: Span, args, kwargs, out) -> None:
        cat, table = args[0], args[2]
        total = len(cat.manifest(kwargs.get("version"))["tables"][table])
        pruned = [tr.spans[i] for i in sp.children
                  if tr.spans[i].name == "plans.catalog.prune_roots"]
        # read() scans one root when pruning keeps none
        scanned = max(1, pruned[-1].attrs["kept"]) if pruned else total
        sp.attrs.update(roots_total=total, roots_scanned=scanned)

    def record_kept(sp: Span, args, kwargs, out) -> None:
        sp.attrs["kept"] = len(out)

    def record_files(sp: Span, args, kwargs, out) -> None:
        txn, table = args[0], args[1]
        rel = txn.writes[table][1]
        sp.attrs["files"] = sum(1 for _ in (txn.root / rel).rglob("*.parquet"))

    def record_links(sp: Span, args, kwargs, out) -> None:
        sp.attrs["links"] = out

    tr.wrap(export_mod, "run_export", "plans.export.run_export")
    tr.wrap(export_mod, "flatten_chains", "operators.chains.flatten_chains")
    tr.wrap(export_mod, "find_first", "operators.find_first.find_first")
    tr.wrap(export_mod, "priority_dedup", "operators.priority_dedup.priority_dedup")
    tr.wrap(importer_mod, "run_import", "plans.importer.run_import")
    tr.wrap(importer_mod, "check_no_overlaps", "operators.intervals.check_no_overlaps")
    tr.wrap(file_tree_mod, "generate_file_tree", "plans.file_tree.generate_file_tree",
            record_links)
    tr.wrap(catalog_mod.Transaction, "stage", "plans.catalog.stage", record_files)
    tr.wrap(catalog_mod.Catalog, "commit", "plans.catalog.commit")
    tr.wrap(catalog_mod.Catalog, "read", "plans.catalog.read", record_roots)
    tr.wrap(catalog_mod.Catalog, "prune_roots", "plans.catalog.prune_roots", record_kept)


def metrics(tr: Tracer, res, counters: dict[str, GroupCounters], stamp: dict,
            session_s: float, nproc: int, peak_rss_mb: float) -> dict[str, tuple[float, str]]:
    npass = max(1, len(res.timed_spans))
    passes = [tr.spans[i] for i in res.timed_spans]
    timed = [s for p in passes for s in tr.subtree(p)]

    def below(spans: list[Span]) -> list[Span]:
        return [d for s in spans for d in tr.subtree(s)]

    def stats(spans: list[Span]) -> dict:
        """Counters of the spans' own job groups, plus span totals."""
        c = GroupCounters()
        for s in spans:
            c.add(counters.get(s.group, GroupCounters()))
        return {**vars(c), "calls": len(spans),
                "wall_s": sum(s.wall_s for s in spans),
                "self_s": sum(s.self_s for s in spans),
                "files_written": sum(s.attrs.get("files", 0) for s in spans),
                "links": sum(s.attrs.get("links", 0) for s in spans),
                "rows": sum(s.attrs.get("rows", 0) for s in spans),
                "roots_total": sum(s.attrs.get("roots_total", 0) for s in spans),
                "roots_scanned": sum(s.attrs.get("roots_scanned", 0) for s in spans)}

    def named(name: str) -> dict:
        return stats([s for s in timed if s.name == name])

    v: dict[str, float] = {}  # totals over the timed passes

    def put(prefix: str, st: dict, keys) -> None:
        v.update({f"{prefix}.{k}": st[k] for k in keys})

    put("plans.export.run_export", named("plans.export.run_export"), ("self_s", "jobs"))
    for op in ("find_first.find_first", "priority_dedup.priority_dedup", "chains.flatten_chains"):
        v[f"operators.{op.split('.')[0]}.plan_s"] = named(f"operators.{op}")["self_s"]
    put("operators.intervals.check_no_overlaps",
        named("operators.intervals.check_no_overlaps"), ("self_s", "jobs"))
    put("plans.catalog.stage", named("plans.catalog.stage"), _STAGE)
    put("plans.catalog.commit", named("plans.catalog.commit"), ("calls", "self_s"))
    put("plans.catalog.prune_roots", named("plans.catalog.prune_roots"), ("self_s",))

    read_spans = [s for s in timed if s.name == "plans.catalog.read"]
    reads, act = stats(read_spans), named("plans.catalog.read.action")
    put("plans.catalog.read", reads, ("calls", "roots_total", "roots_scanned"))
    v.update({
        "plans.catalog.read.plan_s": reads["wall_s"],
        "plans.catalog.read.plan_jobs": stats(below(read_spans))["jobs"],
        "plans.catalog.read.action_s": act["wall_s"],
        "plans.catalog.read.jobs": act["jobs"],
        "plans.catalog.read.rows_returned": act["rows"],
    })
    put("plans.importer.run_import", named("plans.importer.run_import"), ("self_s", "jobs"))
    v["plans.importer.run_import.reimport_records_written"] = stats(
        below([s for s in timed if s.name == "bench.migrate.reimport"]))["records_written"]
    tree = named("plans.file_tree.generate_file_tree")
    put("plans.file_tree.generate_file_tree", tree,
        ("self_s", "jobs", "python_worker_s", "links"))
    for m in HEADLINE_MODULES:
        put(m, named(m), _MODULE)

    everything = stats(timed)
    put("spark", everything, _SPARK)
    floor_ms = stamp["noop_sql_floor_ms"]
    v["spark.jobs_x_floor_s"] = everything["jobs"] * floor_ms / 1e3
    v["driver.no_job_s"] = sum(
        p.wall_s - busy_seconds(everything["job_intervals"], p.start, p.end) for p in passes
    )
    per_pass = {k: x / npass for k, x in v.items()}
    # ratios, maxima and machine readings are not per pass
    per_pass.update({
        "session.get_spark.self_s": session_s,
        "plans.catalog.read.roots_scanned_frac":
            reads["roots_scanned"] / reads["roots_total"] if reads["roots_total"] else 0.0,
        "plans.catalog.read.records_read_per_row_returned":
            act["records_read"] / act["rows"] if act["rows"] else 0.0,
        "plans.file_tree.generate_file_tree.links_per_s":
            tree["links"] / tree["wall_s"] if tree["wall_s"] else 0.0,
        "spark.peak_execution_memory_bytes": everything["peak_execution_memory_bytes"],
        "spark.dispatch_floor_ms": floor_ms,
        "driver.peak_rss_mb": peak_rss_mb,
        "machine.nproc": nproc,
        "machine.jvm_range_sum_s": stamp["jvm_range_sum_sec"],
    })
    return {name: (per_pass.get(name, 0.0), _unit(name))
            for name in names() if not name.startswith("trace.")}
