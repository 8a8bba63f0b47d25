"""Transactional multi-table catalog: staging + atomic manifest swap.

The reference wraps its whole import in one Postgres transaction
(importer.py:50 in /root/reference).  On plain Parquet there is no database
to lean on, so atomicity comes from the lakehouse pattern (SURVEY.md §2.12
G3, §7.4.4):

- every transaction writes its table data under a fresh ``data/txn-N/``
  directory (never touching published files);
- the catalog root holds a tiny ``MANIFEST.json`` mapping each table name
  to the *list* of data directories that make it up;
- commit = write ``MANIFEST.json.tmp-N`` then ``os.replace`` — one atomic
  rename publishes every table of the transaction at once, or none.

Readers resolve tables through the manifest only, so a crashed transaction
leaves invisible orphan files, not partial tables.  This is the same
commit protocol Iceberg/Delta use, minus compaction — and unlike
directory-rename publishing it also works on object stores where rename
is copy+delete.

Appends list multiple directories per table; ``overwrite`` replaces the
list.  A read scans a snapshot's roots as one Parquet scan per root layout
(the flat roots sharing a merge-on-read delete scope together, each
hive-partitioned root on its own) and unions the scans with no shuffle, so
an N-commit read pays for one file index, not N.

The manifest also records each root's schema (``schemas``, keyed by rel:
the written types, as the table reads the root once ``stage``'s write
commits) and each hive-partitioned root's partition columns (``parts``),
so a read groups roots by layout without listing a directory.  A table's
schema is the rel-order, first-seen fold of its roots' schemas, and every
read reads each root with it: a read returns the written types (a hive
partition column included), a column a root lacks reads as NULL, an empty
root reads as empty, and no schema-inference job runs.

Because data directories are immutable (a txn only ever adds new ones) and
every commit also writes an immutable ``manifest-v{N}.json`` snapshot,
**time travel** is free: ``read(..., version=N)`` resolves the table
through that historical manifest — same mechanism as Iceberg snapshot
reads, minus expiry/compaction (a retention job would delete old manifests
plus any data dir no retained manifest references).
"""

from __future__ import annotations

import json
import os
import uuid
from collections.abc import Callable, Iterator
from concurrent.futures import Future, ThreadPoolExecutor, as_completed
from contextlib import contextmanager
from dataclasses import dataclass, field
from decimal import Decimal
from functools import reduce
from pathlib import Path

from pyspark.errors import AnalysisException, ParseException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType
from pyspark.util import inheritable_thread_target

MANIFEST = "MANIFEST.json"


class CommitConflict(RuntimeError):
    """Optimistic-concurrency failure: the tables a transaction depends on
    changed between its snapshot read and its commit.  The staged data is
    left as an orphan (invisible; reclaimed by ``vacuum``)."""


class ConstraintViolation(ValueError):
    """A staged DataFrame violates a table CHECK constraint.  The staged
    files are deleted and the table is never recorded in the transaction,
    so nothing can publish — the transaction stays clean."""


class SchemaMismatch(ValueError):
    """An append's schema is incompatible with the table (raised before
    any data is written).  Without write-time validation a mismatched
    append only fails at READ time — poisoning the table for every
    reader until someone repairs the roots by hand."""


@dataclass
class Transaction:
    """Accumulates table writes; nothing is visible until commit."""

    txn_id: str
    root: Path
    writes: dict[str, tuple[str, str]] = field(default_factory=dict)  # table -> (mode, relpath)
    # CHECK-constraint set seen at stage time, per staged table — commit
    # re-checks it against the live manifest (optimistic DDL conflict)
    seen_constraints: dict[str, dict[str, str]] = field(default_factory=dict)
    # per-root zone-map stats computed at stage time for declared columns:
    # table -> {col: [min, max]} (commit records them under the root's rel)
    zone_stats: dict[str, dict[str, list]] = field(default_factory=dict)
    # per-root bloom filters for declared equality-skipping columns:
    # table -> {col: {"h": hex bitmap, "t": "i"|"s" literal-type kind}}
    bloom_stats: dict[str, dict[str, dict]] = field(default_factory=dict)
    # the schema the table reads the staged root with:
    # table -> StructType JSON (commit records it under the root's rel)
    schemas: dict[str, dict] = field(default_factory=dict)
    # the hive partition columns of a partitioned staged root:
    # table -> partition_by (commit records it under the root's rel)
    parts: dict[str, list[str]] = field(default_factory=dict)

    def stage(
        self,
        table: str,
        df: DataFrame,
        *,
        mode: str = "append",
        sort_by: list[str] | None = None,
        partition_by: list[str] | None = None,
        range_by: list[str] | None = None,
        zorder_by: list[str] | None = None,
        max_records_per_file: int | None = None,
        evolve_schema: bool = False,
    ) -> DataFrame:
        """Write ``df`` into this transaction's staging area for ``table``
        and return the staged root read back.

        The returned DataFrame has ``df``'s columns and types, read with
        ``df``'s schema, so no schema-inference job runs and an empty write
        reads as empty.  A hive partition column keeps its written type.
        The manifest records for the root the schema the table reads it
        with once this write commits: for an append, the table's columns
        so far followed by the root's new ones, so a rewrite that moves a
        root to the end of the list cannot reorder the table's columns.
        Callers that use the rows again read this instead of caching
        ``df``.

        ``sort_by`` applies a partition-local sort before write (the
        reference's compressibility sorts, exporter.py:90-91 — no extra
        shuffle); ``partition_by`` writes hive-partitioned output (the
        analogue of the reference's chunk-by-run grouping, importer.py:79-97).

        ``range_by`` adds a ``repartitionByRange`` shuffle first, so each
        output file covers a *disjoint* key range — parquet row-group
        min/max stats then prune key-predicate scans file-by-file (the
        read-side payoff of the reference's global sort O3, worth the one
        shuffle for often-filtered tables).  ``max_records_per_file``
        bounds file size (the reference's 50k-row write batches, G1) so a
        100 TB table becomes many retry-sized files, not a few monsters.

        Safe to call from several threads at once for distinct tables (see
        ``stage_concurrently``); two concurrent calls for the same table
        are not.
        """
        rel = f"data/{self.txn_id}/{table}"
        out = self.root / rel
        spark = df.sparkSession
        schema = df.schema
        if zorder_by and range_by:
            raise ValueError("pass range_by or zorder_by, not both")
        cat = Catalog(self.root)
        # Write-time schema gate (appends only; a manifest lookup): shared
        # columns must keep their types, and adding/dropping columns
        # requires the explicit ``evolve_schema`` opt-in (Delta mergeSchema
        # semantics — the read side then fills absent columns with NULL).
        # ``commit`` repeats the type check under its lock.
        current = cat.table_schema(table) if mode == "append" else None
        if current is not None:
            bad_types = _type_changes(current, schema)
            if bad_types:
                raise SchemaMismatch(
                    f"table {table!r}: append changes column types "
                    f"{bad_types} — evolution never changes types; "
                    "cast explicitly or overwrite"
                )
            old, new = set(current.names), set(schema.names)
            added, dropped = new - old, old - new
            if (added or dropped) and not evolve_schema:
                raise SchemaMismatch(
                    f"table {table!r}: append adds {sorted(added)} / "
                    f"omits {sorted(dropped)}; pass evolve_schema=True "
                    "to evolve (absent columns read as NULL)"
                )
        # The constraint set current NOW is pinned on the txn; commit()
        # aborts if concurrent DDL changed it before publish.  Validation
        # itself happens on the WRITTEN staging files below — one
        # computation of the input instead of two (a validate-then-write
        # double evaluation would also let a nondeterministic upstream pass
        # the probe yet write violating rows).
        checks = cat.constraints(table)
        self.seen_constraints[table] = checks
        if zorder_by:
            # Multi-column clustering: range-partition + sort on the Morton
            # key so every file covers a small hyper-rectangle — parquet
            # min/max stats then prune scans filtered on ANY zorder column
            # (plans/layout.py).  The key is dropped before write.
            from .layout import with_zorder_key

            df = (
                with_zorder_key(df, zorder_by)
                .repartitionByRange("_zorder_key")
                .sortWithinPartitions("_zorder_key")
                .drop("_zorder_key")
            )
        if range_by:
            df = df.repartitionByRange(*range_by)
        if sort_by:
            df = df.sortWithinPartitions(*sort_by)
        elif range_by:
            df = df.sortWithinPartitions(*range_by)
        writer = df.write.mode("errorifexists")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        if max_records_per_file is not None:
            writer = writer.option("maxRecordsPerFile", str(max_records_per_file))
        writer.parquet(str(out))
        staged = _read_roots(spark, [out], schema)
        zone_cols = cat.zone_map(table)
        bloom_cols = cat.bloom_map(table)
        # The CHECK and stats passes read the root with the schema the
        # table has once this write commits, as every reader will: a
        # column an evolved append omits reads as NULL, and an overwrite
        # that drops a constrained column no longer carries it.
        as_table = (
            _read_roots(spark, [out], _fold([current, staged.schema]))
            if current is not None
            else staged
        )
        if checks:
            # CHECK constraints (Delta-style expectations), validated on
            # the staged parquet as written.  SQL CHECK semantics: a NULL
            # predicate passes (unknown != violation).  One combinable
            # aggregate job — per-constraint violation counts in a single
            # pass, no per-row Python.  On violation the staged files are
            # deleted and the table is never recorded in the transaction —
            # nothing can publish (staging was invisible throughout).
            import shutil

            from pyspark.sql import functions as F

            try:
                row = as_table.agg(
                    *[
                        F.sum(
                            F.when(
                                ~F.coalesce(
                                    F.expr(expr).cast("boolean"), F.lit(True)
                                ),
                                1,
                            ).otherwise(0)
                        ).alias(cname)
                        for cname, expr in sorted(checks.items())
                    ]
                ).collect()[0]
            except AnalysisException as exc:
                # A constraint referencing a column the table will not
                # carry is a real violation of the table contract — report
                # it as such and never leave staged files behind.  Only
                # ANALYSIS errors convert: a transient runtime failure
                # (executor loss, IO) must propagate as itself so the
                # caller retries instead of debugging constraints.
                shutil.rmtree(out, ignore_errors=True)
                raise ConstraintViolation(
                    f"table {table!r}: CHECK constraints {sorted(checks)} "
                    f"could not be evaluated against the staged data: {exc}"
                ) from exc
            bad = {c: int(row[c] or 0) for c in row.asDict() if row[c]}
            if bad:
                shutil.rmtree(out, ignore_errors=True)
                raise ConstraintViolation(
                    f"table {table!r}: staged data violates CHECK "
                    f"constraints (violating rows per constraint): {bad}; "
                    f"constraints: { {c: checks[c] for c in bad} }"
                )
        zs = _compute_zone_stats(as_table, zone_cols)
        if zs:
            self.zone_stats[table] = zs
        bs = _compute_bloom_stats(as_table, bloom_cols)
        if bs:
            self.bloom_stats[table] = bs
        self.schemas[table] = as_table.schema.jsonValue()
        if partition_by:
            self.parts[table] = list(partition_by)
        self.writes[table] = (mode, rel)
        return staged


@contextmanager
def stage_concurrently(
    spark: SparkSession, txn: Transaction
) -> Iterator[Callable[..., Future[DataFrame]]]:
    """Yield ``submit(table, df, **stage_kwargs)``, which runs
    ``txn.stage`` on a driver thread pool sized ``defaultParallelism`` and
    returns a future of the staged root, so independent tables plan, write
    and read back at once instead of one after another.

    Each task runs with the submitting thread's Spark local properties and
    tags (job group, description), so ``cancelJobGroup`` reaches the
    pooled writes.  The block ends when every submitted write has finished
    and re-raises the first one that failed.  On any error, the caller's
    or a write's, tasks not yet started are cancelled and running ones are
    waited for: no write outlives the block, and the error propagates
    before the caller can commit."""
    futures: list[Future[DataFrame]] = []
    with ThreadPoolExecutor(spark.sparkContext.defaultParallelism) as pool:

        def submit(table: str, df: DataFrame, **kwargs) -> Future[DataFrame]:
            task = inheritable_thread_target(spark)(txn.stage)
            futures.append(pool.submit(task, table, df, **kwargs))
            return futures[-1]

        try:
            yield submit
            for fut in as_completed(futures):
                fut.result()
        except BaseException:
            pool.shutdown(cancel_futures=True)
            raise


def _read_roots(
    spark: SparkSession, paths: list[Path], schema: StructType
) -> DataFrame:
    """Commit roots of one layout read with ``schema`` as one scan (one
    file index): no inference job, a column a root lacks reads as NULL, a
    hive partition column takes its type from ``schema`` and an empty
    root reads as empty.  The reader puts partition columns last; the
    select restores ``schema``'s order."""
    df = spark.read.schema(schema).parquet(*map(str, paths))
    return df.select(*[df[f"`{n}`"] for n in schema.names])


def _fold(schemas) -> StructType:
    """First-seen fold: every column of ``schemas``, in order of first
    appearance, with the type it first appears with."""
    fields: dict = {}
    for s in schemas:
        for f in s.fields:
            fields.setdefault(f.name, f)
    return StructType(list(fields.values()))


def _table_schema_m(m: dict, table: str) -> StructType:
    """``table``'s schema in the manifest snapshot ``m``: the rel-order,
    first-seen fold of its roots' recorded schemas."""
    recorded = m["schemas"][table]
    return _fold(StructType.fromJson(recorded[r]) for r in m["tables"][table])


# the manifest's per-root bags: table -> rel -> entry
_ROOT_BAGS = ("zones", "blooms", "schemas", "parts")


def _root_entries(m: dict, table: str, rels: list[str]) -> dict:
    """``table``'s per-root entries in ``m`` for ``rels`` (rel -> bag ->
    entry), the form ``commit``'s ``stats_patch`` grafts."""
    return {
        r: {
            bag: m[bag][table][r]
            for bag in _ROOT_BAGS
            if r in m.get(bag, {}).get(table, {})
        }
        for r in rels
    }


def _type_changes(old: StructType, new: StructType) -> dict:
    """Shared columns whose type differs, nullability aside (the Parquet
    reader returns every column nullable)."""
    was = {f.name: f.dataType.simpleString() for f in old.fields}
    now = {f.name: f.dataType.simpleString() for f in new.fields}
    return {n: (was[n], now[n]) for n in was.keys() & now.keys() if was[n] != now[n]}


def _compute_zone_stats(staged: DataFrame, zone_cols: list[str]) -> dict:
    """Per-root ``[min, max, n_nulls, n_rows]`` for the declared columns
    present in ``staged`` — one combinable aggregate (the same cheap
    pass shape as the CHECK scan).  The range stats ignore NULLs, which
    keeps range pruning sound: a NULL row can never satisfy a
    <,<=,>,>=,= predicate, so a root whose non-null range excludes the
    predicate truly has no matches.  The NULL counts are the
    ``IS NULL`` / ``IS NOT NULL`` complement: a root with zero NULLs
    has no ``IS NULL`` matches, an all-NULL root no ``IS NOT NULL``
    matches — so all-NULL and non-serializable-range columns record
    ``[None, None, n_nulls, n_rows]`` (the all-NULL root is exactly the
    best IS-NOT-NULL prune candidate).  Legacy 2-element entries
    (manifests written before the NULL counts) stay readable: the
    pruner treats a missing count pair as unknown and never prunes on
    it.  Shared by ``Transaction.stage`` and ``Catalog.backfill_stats``.
    """
    from pyspark.sql import functions as F

    present = [c for c in zone_cols if c in staged.columns]
    if not present:
        return {}
    row = staged.agg(
        F.count(F.lit(1)).alias("__n_rows"),
        *[
            f
            for c in present
            for f in (
                F.min(c).alias(f"__lo_{c}"),
                F.max(c).alias(f"__hi_{c}"),
                F.count(c).alias(f"__nn_{c}"),
            )
        ]
    ).collect()[0]
    n_rows = int(row["__n_rows"])
    stats: dict[str, list] = {}
    for c in present:
        lo, hi = row[f"__lo_{c}"], row[f"__hi_{c}"]
        n_nulls = n_rows - int(row[f"__nn_{c}"])
        try:  # manifest is JSON — non-serializable ranges keep counts only
            json.dumps([lo, hi])
        except TypeError:
            lo = hi = None
        stats[c] = [lo, hi, n_nulls, n_rows]
    return stats


def _compute_bloom_stats(staged: DataFrame, bloom_cols: list[str]) -> dict:
    """Per-root Bloom bitmaps for the declared string/integer columns —
    one distinct-collect of bit positions per column (≤ _BLOOM_NBITS rows
    by construction, so the driver only ever holds bitmap-sized state; a
    collect_set of positions inside one combined aggregate would instead
    scale with row count).  The hash MUST mirror ``_bloom_positions``:
    md5('seed:' || cast(col as string)).  Shared by ``Transaction.stage``
    and ``Catalog.backfill_stats``."""
    from pyspark.sql import functions as F

    blooms: dict[str, dict] = {}
    for c in bloom_cols:
        if c not in staged.columns:
            continue
        if staged.schema[c].dataType.simpleString() not in _BLOOM_TYPES:
            continue  # only types whose Spark cast-to-string == str()
        pos_arr = F.array(
            *[
                (
                    F.conv(
                        F.substring(
                            F.md5(
                                F.concat_ws(
                                    ":",
                                    F.lit(str(seed)),
                                    F.col(c).cast("string"),
                                ).cast("binary")
                            ),
                            1,
                            15,
                        ),
                        16,
                        10,
                    ).cast("long")
                    % _BLOOM_NBITS
                ).cast("int")
                for seed in range(_BLOOM_HASHES)
            ]
        )
        rows = (
            staged.filter(F.col(c).isNotNull())
            .select(F.explode(pos_arr).alias("p"))
            .distinct()
            .collect()
        )
        if not rows or len(rows) > _BLOOM_NBITS // 2:
            continue  # empty or saturated filter: useless either way
        kind = (
            "s"
            if staged.schema[c].dataType.simpleString() == "string"
            else "i"
        )
        blooms[c] = {"h": _bloom_hex([r["p"] for r in rows]), "t": kind}
    return blooms


# -- bloom-filter skipping (equality complement to min/max zones) ----------
# A root's min/max range says nothing useful about a high-cardinality
# column under an equality predicate (every root's [min, max] spans the
# probe).  A small per-root Bloom filter answers "definitely absent" for
# ``col = literal`` instead.  Hashing must agree between the Spark
# executor (stage time) and driver-side Python (prune time), so both
# sides use md5 over the value's CANONICAL STRING — which restricts
# bloom columns to string/integer types, where Spark's cast-to-string is
# byte-identical to Python's str().  8192 bits / 2 hashes ≈ 2% false
# positives at 1k distinct values per root; a filter more than half set
# is discarded as useless (and an all-NULL column stores nothing).
_BLOOM_NBITS = 8192
_BLOOM_HASHES = 2
_BLOOM_TYPES = ("string", "bigint", "int", "integer", "long", "smallint", "tinyint")


def _bloom_positions(value: object) -> list[int]:
    """Driver-side bit positions for a value — MUST mirror the Spark-side
    expression in ``Transaction.stage`` (md5 of 'seed:str(value)')."""
    import hashlib

    return [
        int(
            hashlib.md5(f"{seed}:{value}".encode()).hexdigest()[:15], 16
        )
        % _BLOOM_NBITS
        for seed in range(_BLOOM_HASHES)
    ]


def _bloom_hex(positions: list[int]) -> str:
    bits = bytearray(_BLOOM_NBITS // 8)
    for p in positions:
        bits[p // 8] |= 1 << (p % 8)
    return bits.hex()


def _bloom_maybe_contains(hex_filter: str, value: object) -> bool:
    bits = bytes.fromhex(hex_filter)
    return all(
        bits[p // 8] & (1 << (p % 8)) for p in _bloom_positions(value)
    )


# -- root pruning over Spark's own parse of the predicate ------------------
# ``where`` is parsed by the SQL parser ``filter`` itself uses, so quoting,
# precedence and literal types are Spark's.  ``_excludes`` walks that tree
# per root and is True only when no row of the root can satisfy it; any
# node it does not know excludes nothing — sound, because the filter
# itself still applies in full.
_CMP = {
    "EqualTo": "=",
    "LessThan": "<",
    "LessThanOrEqual": "<=",
    "GreaterThan": ">",
    "GreaterThanOrEqual": ">=",
}


def _cls(node: dict) -> str:
    return node["class"].rsplit(".", 1)[-1]


def _parse_where(parser, where: str, fold) -> dict | None:
    """Spark's parse tree of ``where`` as nested dicts (``children`` in
    Catalyst order), with ``fold`` applied to column names, or None if it
    does not parse."""
    try:
        flat = iter(json.loads(parser.parseExpression(where).toJSON()))
    except ParseException:
        return None

    def build() -> dict:  # toJSON lists the nodes in pre-order
        node = next(flat)
        if _cls(node) == "UnresolvedAttribute":
            node["nameParts"] = fold(node["nameParts"])
        node["children"] = [build() for _ in range(node["num-children"])]
        return node

    return build()


def _column(node: dict) -> str | None:
    """The name of a single-part column reference, else None."""
    if _cls(node) == "UnresolvedAttribute" and ", " not in node["nameParts"]:
        return node["nameParts"][1:-1]  # rendered as "[a, b]"
    return None


def _literal(node: dict) -> tuple[str | None, object]:
    """(kind, value) of a literal: kind "i" for the integer family, "d"
    decimal, "f" double, "s" string, None for anything else — NULL, and
    FLOAT, which compares in float32 when ANSI mode is off."""
    t, v = node["dataType"], node["value"]
    if v is None:
        return None, None
    if t in ("byte", "short", "integer", "long"):
        return "i", int(v)
    if t.startswith("decimal"):
        return "d", Decimal(v)
    if t == "double":
        return "f", float(v)
    return ("s", v) if t == "string" else (None, None)


def _excludes(node: dict, zones: dict, blooms: dict) -> bool:
    """True iff the parsed predicate provably matches no row of a root
    with per-column zone stats ``[min, max, n_nulls, n_rows]`` and Bloom
    filters ``{"h": hex bitmap, "t": "i" | "s"}``.  Missing stats
    (undeclared column, root written before the declaration) keep the
    root — absence of evidence never prunes."""
    cls, kids = _cls(node), node["children"]
    if cls == "And":
        return any(_excludes(k, zones, blooms) for k in kids)
    if cls == "Or":
        return all(_excludes(k, zones, blooms) for k in kids)
    if cls in _CMP:
        return _cmp_excludes(_CMP[cls], kids[0], kids[1], zones, blooms)
    if cls == "In":  # x IN (a, b): x = a OR x = b
        # Spark casts x and every element to ONE common type, so the
        # pairwise rules hold only when all elements are of one kind:
        # ``x IN (0e0, 9007199254740993)`` compares in double
        kinds = {_cls(k) == "Literal" and _literal(k)[0] for k in kids[1:]}
        return len(kinds) == 1 and all(
            _cmp_excludes("=", kids[0], k, zones, blooms) for k in kids[1:]
        )
    if cls == "UnresolvedFunction" and node["nameParts"] == "[between]":
        # Spark 4.1 parses BETWEEN as a function call
        return len(kids) == 3 and (
            _cmp_excludes(">=", kids[0], kids[1], zones, blooms)
            or _cmp_excludes("<=", kids[0], kids[2], zones, blooms)
        )
    if cls in ("IsNull", "IsNotNull"):
        rng = zones.get(_column(kids[0]))
        if not rng or len(rng) < 4:
            return False  # legacy [min, max] entry: no NULL evidence
        n_nulls, n_rows = rng[2], rng[3]
        return n_nulls == 0 if cls == "IsNull" else n_nulls == n_rows
    return False  # Not, functions, casts, ...


def _cmp_excludes(
    op: str, left: dict, right: dict, zones: dict, blooms: dict
) -> bool:
    """``column op literal``, compared in the type Spark compares them
    in; any other shape (``5 > ts``) excludes nothing."""
    col = _column(left)
    if col is None or _cls(right) != "Literal":
        return False
    kind, v = _literal(right)
    ent = blooms.get(col)
    # the bitmap hashes Spark's cast-to-string, which equals str() only
    # for an integer literal on an integer filter ("i") and a string
    # literal on a string filter ("s"): ``uid = 202.0`` matches uid 202
    # but hashes '202.0'
    if op == "=" and ent and ent["t"] == kind:
        if not _bloom_maybe_contains(ent["h"], v):
            return True  # definitely absent
    rng = zones.get(col)
    if not rng:
        return False
    lo, hi = rng[0], rng[1]
    if lo is None:
        # no range evidence — but an all-NULL (or empty) root has no
        # non-NULL value, and NULL never satisfies a comparison
        return len(rng) >= 4 and rng[2] == rng[3]
    stat = {str: "s", int: "i", float: "f"}.get(type(lo))  # bool: None
    if stat is None or kind is None or (stat == "s") != (kind == "s"):
        return False  # a pairing Spark resolves through a cast
    if "f" in (stat, kind):
        if kind == "i" and abs(v) > 2**24:
            return False  # a FLOAT column compares it in float32 (non-ANSI)
        lo, hi, v = float(lo), float(hi), float(v)
    # otherwise exact: integers, or an integer widened with a decimal
    return {
        "=": v < lo or v > hi,
        "<": lo >= v,
        "<=": lo > v,
        ">": hi <= v,
        ">=": hi < v,
    }[op]


class Catalog:
    """A directory-rooted, manifest-swap table catalog."""

    def __init__(self, root: str | os.PathLike):
        self.root = Path(root)

    # -- manifest ----------------------------------------------------------
    def _manifest_path(self) -> Path:
        return self.root / MANIFEST

    def manifest(self, version: int | None = None) -> dict:
        if version is not None:
            p = self.root / f"manifest-v{version}.json"
            if p.exists():
                return json.loads(p.read_text())
            # crash between pointer swap and snapshot write: the live
            # manifest IS that version's content
            live = self.manifest()
            if live["version"] == version:
                return live
            raise KeyError(f"catalog {self.root}: no snapshot version {version}")
        p = self._manifest_path()
        if not p.exists():
            return {"version": 0, "tables": {}, "meta": {}}
        return json.loads(p.read_text())

    def history(self) -> list[int]:
        """Committed snapshot versions, oldest first (always includes the
        live version, even if its snapshot file was lost to a crash)."""
        versions = {
            int(p.stem.removeprefix("manifest-v"))
            for p in self.root.glob("manifest-v*.json")
        }
        live = self.manifest()["version"]
        if live > 0:
            versions.add(live)
        return sorted(versions)

    def tables(self) -> list[str]:
        return sorted(self.manifest()["tables"])

    def describe_history(self) -> list[dict]:
        """Commit log, newest first (DESCRIBE HISTORY analogue): for each
        retained version, the tables whose root lists changed vs the
        previous retained version (added/removed/created/dropped) and the
        meta delta (new or changed keys — where operations like merge,
        compact, restore, constraint DDL and streaming watermarks record
        themselves).  Reads manifests only — O(versions), no data I/O.
        Versions expired by ``vacuum`` are simply absent."""
        out: list[dict] = []
        prev_tables: dict = {}
        prev_meta: dict = {}
        for v in self.history():
            m = self.manifest(v)
            tables = m.get("tables", {})
            changed = sorted(
                t
                for t in tables.keys() | prev_tables.keys()
                if tables.get(t) != prev_tables.get(t)
            )
            meta = m.get("meta", {})
            meta_delta = {
                k: meta[k] for k in meta if meta[k] != prev_meta.get(k)
            }
            out.append(
                {"version": v, "changed_tables": changed, "meta_delta": meta_delta}
            )
            prev_tables, prev_meta = tables, meta
        return list(reversed(out))

    def meta(self) -> dict:
        return self.manifest().get("meta", {})

    # -- CHECK constraints (Delta-style expectations) ----------------------
    def constraints(self, table: str) -> dict[str, str]:
        """Current CHECK constraints for ``table``: name -> SQL boolean
        expression over the table's columns."""
        return dict(self.manifest().get("constraints", {}).get(table, {}))

    def set_constraint(self, table: str, name: str, expr: str) -> int:
        """Register (or replace) a CHECK constraint — transactional DDL.

        Every subsequent ``Transaction.stage`` for ``table`` validates
        against it (one combinable aggregate pass; violating batches raise
        ``ConstraintViolation`` before any data is written).  Note: like
        Delta's ADD CONSTRAINT, this does NOT re-scan already-published
        data — run a validation read first if the table might already
        violate."""
        return self.commit(self.begin(), constraint_ddl={table: {name: expr}})

    def drop_constraint(self, table: str, name: str) -> int:
        return self.commit(self.begin(), constraint_ddl={table: {name: None}})

    # -- zone maps (manifest-level data skipping) --------------------------
    def zone_map(self, table: str) -> list[str]:
        """Columns declared for zone-map stats on ``table`` (empty if
        none)."""
        return list(self.manifest().get("zone_maps", {}).get(table, []))

    def set_zone_map(self, table: str, columns: list[str]) -> int:
        """Declare zone-map columns for ``table`` — transactional DDL.

        Every subsequent ``Transaction.stage`` computes per-root min/max
        for these columns (one combinable aggregate over the staged
        files) and records them in the manifest; ``read(where=...)`` then
        skips whole commit roots on which the predicate provably matches
        no row (comparisons, IN, BETWEEN, IS [NOT] NULL under AND/OR) —
        BEFORE any file is opened.  This is the manifest-level tier of
        data skipping the reference gets from Postgres indexes: parquet
        row-group stats only help after a file's footer is fetched, which
        at 100 TB (thousands of roots on an object store) is exactly the
        cost worth avoiding.  Like ADD CONSTRAINT, declaration does not
        backfill stats for already-published roots (they simply never
        prune); run ``backfill_stats`` for a manifest-only stat graft,
        or ``compact`` to also rewrite the data."""
        return self.commit(self.begin(), zone_map_ddl={table: list(columns)})

    def drop_zone_map(self, table: str) -> int:
        return self.commit(self.begin(), zone_map_ddl={table: None})

    def bloom_map(self, table: str) -> list[str]:
        """Columns declared for per-root Bloom-filter skipping on
        ``table`` (empty if none)."""
        return list(self.manifest().get("bloom_maps", {}).get(table, []))

    def set_bloom_filter(self, table: str, columns: list[str]) -> int:
        """Declare Bloom-filter columns for ``table`` — transactional DDL.

        The equality complement to ``set_zone_map``: min/max ranges are
        useless for ``col = literal`` on a high-cardinality column
        (every root's range spans the probe), but an 8192-bit per-root
        Bloom filter answers "definitely absent" with ~2% false
        positives at 1k distinct values.  Stage time computes the bitmap
        with one distinct-collect of bit positions per column (bounded
        by the bitmap size); ``read(where=...)`` prunes roots whose
        filter rules the literal out.  Restricted to string/integer
        columns: the md5 hash is over the value's canonical string,
        which must agree between Spark's cast-to-string (executor, stage
        time) and Python's str() (driver, prune time)."""
        return self.commit(self.begin(), bloom_ddl={table: list(columns)})

    def drop_bloom_filter(self, table: str) -> int:
        return self.commit(self.begin(), bloom_ddl={table: None})

    def backfill_stats(self, spark: SparkSession, table: str) -> int:
        """Compute zone/bloom stats for this table's roots that lack them
        — WITHOUT rewriting any data (the cheap alternative to the
        ``compact`` rewrite the declaration docstrings point at).  Roots
        are immutable, so stats computed outside the commit lock stay
        valid; the manifest-only update publishes them atomically (one
        version bump, snapshot-consistent).  Returns the number of roots
        that gained stats.  Typical flow: declare skipping columns on an
        existing table, then ``backfill_stats`` once — every pre-existing
        root becomes prunable for the cost of one scan each."""
        m = self.manifest()
        if table not in m["tables"]:
            raise KeyError(f"catalog {self.root}: no table {table!r}")
        zone_cols = self.zone_map(table)
        bloom_cols = self.bloom_map(table)
        if not zone_cols and not bloom_cols:
            return 0
        zones = m.get("zones", {}).get(table, {})
        blooms = m.get("blooms", {}).get(table, {})
        schema = _table_schema_m(m, table)
        patch: dict[str, dict] = {}
        for rel in m["tables"][table]:
            # per-COLUMN granularity: a later set_zone_map/set_bloom_filter
            # re-declaration adds columns, so a root statted under the old
            # declaration still needs the new columns — "root present in
            # the bag" is not "root covered"
            need_z = bool(zone_cols) and any(
                # missing column, or a legacy [min,max] entry without
                # the NULL counts — backfill upgrades both
                len(zones.get(rel, {}).get(c) or []) < 4
                for c in zone_cols
            )
            need_b = bool(bloom_cols) and any(
                c not in blooms.get(rel, {}) for c in bloom_cols
            )
            if not (need_z or need_b):
                continue
            df = _read_roots(spark, [self.root / rel], schema)
            entry: dict[str, dict] = {}
            if need_z:
                zs = _compute_zone_stats(df, zone_cols)
                # unchanged result -> no patch, so repeat calls converge
                # to 0 instead of re-committing forever
                if zs and zs != zones.get(rel):
                    entry["zones"] = zs
            if need_b:
                bs = _compute_bloom_stats(df, bloom_cols)
                if bs and bs != blooms.get(rel):
                    entry["blooms"] = bs
            if entry:
                patch[rel] = entry
        if not patch:
            return 0
        self.commit(self.begin(), stats_patch={table: patch})
        return len(patch)

    def describe_stats(self, table: str) -> list[dict]:
        """Observability (DESCRIBE DETAIL analogue): one dict per commit
        root with its recorded zone ranges and bloom'd columns — what the
        pruner will actually use, straight from the live manifest."""
        m = self.manifest()
        if table not in m["tables"]:
            raise KeyError(f"catalog {self.root}: no table {table!r}")
        zones = m.get("zones", {}).get(table, {})
        blooms = m.get("blooms", {}).get(table, {})
        return [
            {
                "root": rel,
                "zones": zones.get(rel, {}),
                "bloom_cols": sorted(blooms.get(rel, {})),
            }
            for rel in m["tables"][table]
        ]

    # -- read path ---------------------------------------------------------
    def read(
        self,
        spark: SparkSession,
        table: str,
        *,
        version: int | None = None,
        where: str | None = None,
    ) -> DataFrame:
        """Read a table as of the latest commit, or a historical snapshot
        (``version`` from ``history()`` — time travel).

        Every root is read with the table's recorded schema: the result
        has the written column types, a column a root lacks reads as
        NULL, and no schema-inference job runs before the action.

        ``where`` applies a SQL predicate AND, when the table has
        declared zone-map or Bloom columns, skips whole commit roots on
        which Spark's parse of the predicate provably matches no row
        (``prune_roots``); a predicate it cannot reason about scans every
        root — always sound, because the filter is applied in full
        either way.  A pruned read keeps every column of the table; with
        every root pruned it is an empty relation of the table's schema.

        The manifest is loaded once: pruning runs against the version
        that load returned (an immutable snapshot), so a commit landing
        mid-call cannot put a newer version's roots into this read."""
        m = self.manifest(version)
        if table not in m["tables"]:
            raise KeyError(f"catalog {self.root}: no table {table!r}")
        if where is None:
            return self.read_snapshot(spark, m, table)
        kept = self.prune_roots(table, where, version=m["version"])
        return self.read_snapshot(spark, m, table, kept).filter(where)

    def read_snapshot(
        self,
        spark: SparkSession,
        m: dict,
        table: str,
        rels: list[str] | None = None,
    ) -> DataFrame:
        """``table`` as of the manifest snapshot ``m`` that the caller
        holds (e.g. to commit against it with ``require_roots``), or only
        its roots ``rels``: one scan per root layout (``_read_rels``),
        every root read with the snapshot's table schema, pending
        merge-on-read deletes applied."""
        if rels is None:
            rels = m["tables"][table]
        return self._read_rels(spark, m, table, rels, _table_schema_m(m, table))

    def _read_rels(
        self,
        spark: SparkSession,
        m: dict,
        table: str,
        rels: list[str],
        schema: StructType,
    ) -> DataFrame:
        """Read commit roots with ``schema`` and the snapshot ``m``'s
        pending merge-on-read deletes applied: one Parquet scan per root
        layout, the scans unioned.

        A root's layout is its partition base and the delete entries
        scoped to it.  Spark discovers hive partitions under one base path
        only, so a partitioned root (``parts`` in the manifest) scans
        alone, while flat roots under the same delete entries share a
        scan of at most ``spark.sql.sources.parallelPartitionDiscovery.
        threshold`` roots (above it Spark lists the paths in a job before
        the action).  Each delete predicate filters ONLY the roots it was
        scoped to (appends after the delete are untouched), with DELETE's
        three-valued semantics (NULL predicate keeps the row).  Every scan
        reads with the same schema, so a predicate naming a column a root
        lacks sees NULL there and the union needs no alignment.  No
        roots: an empty relation of ``schema`` (the zero limit lets the
        optimizer see it is empty, so no job runs)."""
        from pyspark.sql import functions as F

        if not rels:
            return spark.createDataFrame([], schema).limit(0)
        entries = m.get("deletes", {}).get(table, [])
        parts = m.get("parts", {}).get(table, {})
        layouts: dict[tuple, list[str]] = {}
        for rel in rels:
            base = rel if rel in parts else None  # flat roots share None
            scope = tuple(
                i for i, e in enumerate(entries) if rel in e.get("roots", [])
            )
            layouts.setdefault((base, scope), []).append(rel)
        cap = max(1, int(spark.conf.get(
            "spark.sql.sources.parallelPartitionDiscovery.threshold")))
        scans = []
        for (_, scope), group in layouts.items():
            for i in range(0, len(group), cap):
                df = _read_roots(
                    spark, [self.root / r for r in group[i : i + cap]], schema
                )
                for j in scope:
                    df = df.filter(~F.coalesce(
                        F.expr(entries[j]["p"]).cast("boolean"), F.lit(False)
                    ))
                scans.append(df)
        return reduce(DataFrame.union, scans)

    def pending_deletes(
        self, table: str, *, version: int | None = None
    ) -> list[dict]:
        """The table's un-materialized merge-on-read delete entries at a
        version (each ``{"p": predicate, "roots": [...]}`` — the roots
        the predicate was scoped to at delete time)."""
        return [
            dict(e)
            for e in self.manifest(version).get("deletes", {}).get(table, [])
        ]

    def prune_roots(
        self, table: str, where: str, *, version: int | None = None
    ) -> list[str]:
        """The subset of ``table``'s commit roots that survive zone-map
        and Bloom pruning for ``where`` (the list ``read(where=...)`` will
        scan).  ``where`` is parsed by the active session's SQL parser and
        its column names match the stats the way the session resolves
        them (``spark.sql.caseSensitive``); a predicate that does not
        parse keeps every root.
        Exposed for tests and for capacity planning (pruned-root counts
        are the skipping metric at 100 TB)."""
        return self._prune_roots_m(self.manifest(version), table, where)

    def _prune_roots_m(self, m: dict, table: str, where: str) -> list[str]:
        """prune_roots against an explicit manifest snapshot — the form
        the OCC loops (update/delete) need, where the snapshot must stay
        pinned across read, rewrite, and conflict-checked commit."""
        rels = m["tables"][table]
        zones = m.get("zones", {}).get(table, {})
        blooms = m.get("blooms", {}).get(table, {})
        if not (zones or blooms):
            return list(rels)
        # match column names the way the session resolves them
        state = SparkSession.active()._jsparkSession.sessionState()
        fold = str if state.conf().caseSensitiveAnalysis() else str.lower
        tree = _parse_where(state.sqlParser(), where, fold)
        if tree is None:
            return list(rels)

        def stats(per_root: dict, r: str) -> dict:
            return {fold(c): v for c, v in (per_root.get(r) or {}).items()}

        return [
            r
            for r in rels
            if not _excludes(tree, stats(zones, r), stats(blooms, r))
        ]

    def table_schema(self, table: str) -> StructType | None:
        """The table's current schema (None if the table doesn't exist),
        from the manifest alone — no data file is opened."""
        m = self.manifest()
        return _table_schema_m(m, table) if table in m["tables"] else None

    def exists(self, table: str) -> bool:
        return table in self.manifest()["tables"]

    # -- write path --------------------------------------------------------
    def begin(self) -> Transaction:
        txn_id = f"txn-{uuid.uuid4().hex[:12]}"
        (self.root / "data" / txn_id).mkdir(parents=True, exist_ok=True)
        return Transaction(txn_id=txn_id, root=self.root)

    def compact(
        self,
        spark: SparkSession,
        table: str,
        *,
        sort_by: list[str] | None = None,
        partition_by: list[str] | None = None,
        range_by: list[str] | None = None,
        zorder_by: list[str] | None = None,
        max_records_per_file: int | None = None,
        max_retries: int = 3,
    ) -> int:
        """Rewrite a multi-commit (appended) table into one txn root.

        Every append adds a root, and at 100 TB hundreds of roots mean
        hundreds of files to list and plan per query.
        Compaction reads the current state and republishes it as a single
        overwrite commit — the old roots stop being referenced and a later
        ``vacuum`` reclaims them.  Time travel is preserved: pre-compaction
        versions still resolve through their snapshots until vacuumed.
        ``sort_by``/``partition_by`` re-apply the table's physical layout
        (the manifest records only each root's partition columns).
        ``range_by`` goes further and CLUSTERS the rewrite: one ``repartitionByRange`` shuffle gives
        every output file a disjoint key range, so after compaction
        key-predicate scans prune file-by-file on parquet footer stats —
        appends arrive unclustered, periodic compaction restores the
        sorted layout (the OPTIMIZE ... ZORDER/CLUSTER BY maintenance
        pattern).  ``zorder_by`` clusters on the Morton interleave of
        SEVERAL columns instead (plans/layout.py), bounding every listed
        column's per-file span at once — multi-predicate pruning, where
        ``range_by`` only serves its lead column.  ``max_records_per_file``
        keeps rewritten files retry-sized.

        Concurrency: the read-rewrite happens OUTSIDE the commit lock (it
        can take hours at scale), so an append that commits in between
        would be silently erased by the overwrite.  Compaction therefore
        records the root list it read and commits with an optimistic
        conflict check — if the table's roots changed, the commit aborts
        (staging becomes an invisible orphan for ``vacuum``) and the
        read-rewrite retries against the new state, exactly the
        Delta/Iceberg OCC loop."""
        last_exc: CommitConflict | None = None
        for _ in range(max_retries):
            snapshot = self.manifest()
            if table not in snapshot["tables"]:
                raise KeyError(f"catalog {self.root}: no table {table!r}")
            roots = list(snapshot["tables"][table])
            pending = snapshot.get("deletes", {}).get(table, [])
            # merge-on-read deletes materialize here: the rewrite reads
            # the DELETE-APPLIED state and the overwrite commit clears
            # the entries (require_deletes catches a racing MOR delete).
            df = self.read_snapshot(spark, snapshot, table)
            txn = self.begin()
            txn.stage(
                table,
                df,
                mode="overwrite",
                sort_by=sort_by,
                partition_by=partition_by,
                range_by=range_by,
                zorder_by=zorder_by,
                max_records_per_file=max_records_per_file,
            )
            try:
                return self.commit(
                    txn, meta={"compacted": table},
                    require_roots={table: roots},
                    require_deletes={table: [dict(e) for e in pending]},
                )
            except CommitConflict as exc:
                last_exc = exc
                continue
        raise CommitConflict(
            f"compact({table!r}): concurrent appends kept winning after "
            f"{max_retries} attempts"
        ) from last_exc

    def merge(
        self,
        spark: SparkSession,
        table: str,
        updates: DataFrame,
        key_cols: list[str],
        *,
        sort_by: list[str] | None = None,
        partition_by: list[str] | None = None,
        validate_unique: bool = True,
        max_retries: int = 3,
        meta: dict | None = None,
    ) -> int:
        """Upsert: rows of ``updates`` replace current rows with the same
        key; new keys insert.  The catalog analogue of ``MERGE INTO``
        (matched -> update whole row, not matched -> insert).

        Copy-on-write: read the current table, anti-join out the matched
        keys, union the updates, republish as one overwrite commit.  Like
        ``compact``, the (potentially long) read-rewrite runs OUTSIDE the
        commit lock with an optimistic conflict check on the table's root
        list — a concurrent append/merge aborts this commit (staging
        becomes a vacuum-able orphan) and the rewrite retries against the
        new state.  A missing table degrades to plain insert, with the
        same conflict check against concurrent creation.

        Scale: the anti-join shuffles on the key unless the updates side
        is broadcast-small (Catalyst/AQE decide — a typical CDC batch
        against a 100 TB table broadcasts its distinct keys, so the big
        side is scan -> probe -> write with NO table-sized shuffle).  A
        full rewrite is still a full rewrite of data files; engines
        bound that with file-level pruning / merge-on-read deletes, which
        this catalog trades away for manifest simplicity.

        ``validate_unique`` rejects duplicate keys within ``updates``
        (an ambiguous MERGE source — the same check Delta enforces);
        the probe is one combinable count capped at the first offender.
        """
        if not key_cols:
            raise ValueError("merge requires at least one key column")
        if validate_unique:
            from pyspark.sql import functions as F

            dup = (
                updates.groupBy(*key_cols)
                .agg(F.count(F.lit(1)).alias("n"))
                .where("n > 1")
                .limit(1)
                .collect()
            )
            if dup:
                raise ValueError(
                    f"merge({table!r}): updates contain duplicate key "
                    f"{[dup[0][k] for k in key_cols]!r} — an ambiguous "
                    "MERGE source; dedup the updates first"
                )
        last_exc: CommitConflict | None = None
        for _ in range(max_retries):
            snapshot = self.manifest()
            roots = list(snapshot["tables"].get(table, []))
            pending = snapshot.get("deletes", {}).get(table, [])
            if roots:
                current = self.read_snapshot(spark, snapshot, table)
                keys = updates.select(*key_cols).distinct()
                merged = current.join(keys, on=key_cols, how="left_anti").unionByName(
                    updates.select(*current.columns)
                )
            else:
                merged = updates
            txn = self.begin()
            txn.stage(
                table,
                merged,
                mode="overwrite",
                sort_by=sort_by,
                partition_by=partition_by,
            )
            try:
                # Caller meta (e.g. a streaming batch-id watermark) rides the
                # SAME atomic commit as the merged data — exactly-once hinges
                # on the two being inseparable.
                return self.commit(
                    txn,
                    meta={"merged": table, **(meta or {})},
                    require_roots={table: roots},
                    require_deletes={table: [dict(e) for e in pending]},
                )
            except CommitConflict as exc:
                last_exc = exc
                continue
        raise CommitConflict(
            f"merge({table!r}): concurrent commits kept winning after "
            f"{max_retries} attempts"
        ) from last_exc

    def delete(
        self,
        spark: SparkSession,
        table: str,
        predicate: str,
        *,
        sort_by: list[str] | None = None,
        partition_by: list[str] | None = None,
        max_retries: int = 3,
        meta: dict | None = None,
    ) -> int:
        """``DELETE FROM table WHERE predicate`` — copy-on-write republish
        of the rows the predicate does NOT match.

        SQL DELETE semantics: a row is deleted iff the predicate is TRUE;
        a NULL (unknown) predicate KEEPS the row.  Same OCC loop as
        ``merge``/``compact``: the read-rewrite runs outside the commit
        lock, commits with a root-list conflict check, and retries against
        concurrent appends/merges.  Time travel preserves pre-delete
        versions; ``diff`` shows the deletion as removed rows (GDPR-style
        erasure therefore also needs ``vacuum`` to reclaim old snapshots).

        Scale (root-scoped): the rewrite touches ONLY the commit
        roots the predicate can match — the manifest's zone-map/Bloom
        stats prune the rest, which ride into the new version by
        reference (the RESTORE/CLONE zero-copy mechanism), so a one-row
        DELETE on a 100 TB table rewrites one root, not 100 TB.  Roots
        the predicate cannot be ruled out on (no stats, or no prunable
        part) conservatively count as touched — worst case is the old
        full rewrite.  A predicate no
        root can match commits a pure-manifest no-op version.  The
        rewrite itself streams scan -> filter -> write with no shuffle
        (unless re-laying-out via ``sort_by``/``partition_by``)."""
        from pyspark.sql import functions as F

        last_exc: CommitConflict | None = None
        for _ in range(max_retries):
            snapshot = self.manifest()
            if table not in snapshot["tables"]:
                raise KeyError(f"catalog {self.root}: no table {table!r}")
            roots = list(snapshot["tables"][table])
            pending = snapshot.get("deletes", {}).get(table, [])
            touched = self._prune_roots_m(snapshot, table, predicate)
            base_meta = {
                "deleted_from": table,
                "predicate": predicate,
                "rewritten_roots": len(touched),
                "carried_roots": len(roots) - len(touched),
                **(meta or {}),
            }
            keep = ~F.coalesce(F.expr(predicate).cast("boolean"), F.lit(False))
            scoped = 0 < len(touched) < len(roots)
            if len(touched) == 0:
                # no root can hold a matching row: a pure manifest commit
                # records the (0-row) DELETE without reading anything
                txn = self.begin()
            else:
                # the touched roots read with the table schema, so the
                # predicate resolves even on a column they lack
                remaining = self.read_snapshot(
                    spark, snapshot, table, touched
                ).filter(keep)
                txn = self.begin()
                txn.stage(
                    table,
                    remaining,
                    # scoped: the staged root REPLACES the touched roots
                    # (commit's replace_roots drops them); evolve_schema
                    # because the carried roots may lack columns the
                    # rewrite (read with the table schema) carries
                    mode="append" if scoped else "overwrite",
                    sort_by=sort_by,
                    partition_by=partition_by,
                    evolve_schema=scoped,
                )
            try:
                return self.commit(
                    txn,
                    meta=base_meta,
                    require_roots={table: roots},
                    require_deletes={table: [dict(e) for e in pending]},
                    replace_roots={table: touched} if scoped else None,
                )
            except CommitConflict as exc:
                last_exc = exc
                continue
        raise CommitConflict(
            f"delete({table!r}): concurrent commits kept winning after "
            f"{max_retries} attempts"
        ) from last_exc

    def delete_merge_on_read(
        self,
        table: str,
        predicate: str,
        *,
        max_retries: int = 3,
        meta: dict | None = None,
    ) -> int:
        """``DELETE FROM table WHERE predicate`` as a MANIFEST-ONLY commit
        — the merge-on-read form of :meth:`delete` (Delta deletion-vector
        / Iceberg positional-delete class, predicate-scoped): no data is
        read or written; the predicate is recorded against the table's
        CURRENT roots, every reader applies it as a filter on exactly
        those roots, and a later rewrite (``compact``/``merge``/
        ``update``/``delete``) materializes and clears it.

        Semantics match :meth:`delete` exactly (a row is deleted iff the
        predicate is TRUE; NULL keeps it), and appends AFTER this commit
        are untouched — the root scoping is what pins "rows present at
        delete time" without reading them.  The trade: reads pay the
        filter until the next rewrite (the standard MOR read tax), and
        physical erasure (GDPR) still requires the rewrite + ``vacuum``.

        Scale: O(manifest) instead of O(table) — THE lever for frequent
        small deletes on a 100 TB table, where copy-on-write would
        rewrite everything per delete."""
        last_exc: CommitConflict | None = None
        for _ in range(max_retries):
            snapshot = self.manifest()
            if table not in snapshot["tables"]:
                raise KeyError(f"catalog {self.root}: no table {table!r}")
            roots = list(snapshot["tables"][table])
            entries = snapshot.get("deletes", {}).get(table, [])
            new_entries = [dict(e) for e in entries] + [
                {"p": predicate, "roots": roots}
            ]
            txn = self.begin()  # no staged writes: a pure manifest commit
            try:
                return self.commit(
                    txn,
                    meta={
                        "deleted_from": table,
                        "predicate": predicate,
                        "mode": "merge_on_read",
                        **(meta or {}),
                    },
                    require_roots={table: roots},
                    require_deletes={table: [dict(e) for e in entries]},
                    deletes_ddl={table: new_entries},
                )
            except CommitConflict as exc:
                last_exc = exc
                continue
        raise CommitConflict(
            f"delete_merge_on_read({table!r}): concurrent commits kept "
            f"winning after {max_retries} attempts"
        ) from last_exc

    def register_views(
        self,
        spark: SparkSession,
        *,
        prefix: str = "",
        version: int | None = None,
        where: dict[str, str] | None = None,
    ) -> dict[str, str]:
        """Expose every catalog table as a Spark temp view so users can
        run plain ``spark.sql`` over the catalog (slashes in table names
        become underscores).  ``version`` registers a time-traveled
        snapshot of the whole catalog — a consistent-as-of-one-commit SQL
        session.  Returns {table -> view name}.

        ``where`` maps table names to SQL predicates: those tables are
        registered as pre-filtered views whose commit roots were zone-map
        pruned (``read(where=...)``) — a SQL session over a 100 TB
        catalog declares its slice once, and every query on the view
        scans only the surviving roots.

        Every view reads the same commit: without ``version``, the live
        version is pinned once, so a commit landing mid-call reaches no
        view.  Views resolve lazily through the SAME reader (one scan per
        root layout, every root read with the manifest's recorded table
        schema, so a view has the written column types), so predicate
        pushdown, partition pruning, and column pruning all apply to SQL
        exactly as to the DataFrame API."""
        out: dict[str, str] = {}
        taken: dict[str, str] = {}
        m = self.manifest(version)
        for t in sorted(m["tables"]):
            view = prefix + t.replace("/", "_").replace(".", "_")
            if view in taken:
                # 'a/b' and 'a.b' both sanitize to 'a_b' — registering the
                # second would silently shadow the first's view and SQL
                # would read the wrong table's data
                raise ValueError(
                    f"tables {taken[view]!r} and {t!r} both sanitize to "
                    f"view name {view!r}; disambiguate with prefixes"
                )
            taken[view] = t
            pred = (where or {}).get(t)
            self.read(
                spark, t, version=m["version"], where=pred
            ).createOrReplaceTempView(view)
            out[t] = view
        return out

    def _existing_roots(self, table: str, rels: list[str]) -> list[str]:
        missing = [r for r in rels if not (self.root / r).exists()]
        if missing:
            raise FileNotFoundError(
                f"table {table!r}: data roots {missing} no longer exist "
                "(vacuumed?) — cannot re-point at them"
            )
        return list(rels)

    def restore(self, table: str, version: int, *, meta: dict | None = None) -> int:
        """``RESTORE table TO VERSION`` — re-point the table at an old
        snapshot's root list as a NEW commit (Delta RESTORE semantics).

        Zero-copy and history-preserving: no data is rewritten, the
        restore itself is a version you can diff or restore away from, and
        the bad intermediate versions stay readable until vacuumed.  Fails
        if retention already deleted any of the old version's data."""
        m_v = self.manifest(version)
        roots = m_v["tables"].get(table)
        if roots is None:
            raise KeyError(
                f"catalog {self.root}: table {table!r} not in version {version}"
            )
        # Restore the target version's LOGICAL state: pending merge-on-read
        # deletes are part of it — re-pointing roots without them would
        # resurrect MOR-deleted rows (or keep a later delete applied to the
        # restored snapshot).
        restored_deletes = m_v.get("deletes", {}).get(table, [])
        return self.commit(
            self.begin(),
            meta={"restored": table, "to_version": version, **(meta or {})},
            root_overrides={table: self._existing_roots(table, roots)},
            deletes_ddl={table: [dict(e) for e in restored_deletes]},
            stats_patch={table: _root_entries(m_v, table, roots)},
        )

    def clone(
        self,
        src: str,
        dst: str,
        *,
        version: int | None = None,
        meta: dict | None = None,
    ) -> int:
        """Shallow (zero-copy) clone: ``dst`` points at ``src``'s current
        (or time-traveled) data roots — the Delta SHALLOW CLONE / Iceberg
        snapshot-ref pattern for dev/test forks of production tables.

        Data dirs are immutable, so the clone is safe under either table's
        later appends/overwrites (they add NEW roots; the shared ones stay
        referenced and vacuum keeps them while any retained manifest uses
        them).  CHECK constraints do NOT copy — the clone is a new table
        with its own (empty) constraint set."""
        m = self.manifest(version)
        roots = m["tables"].get(src)
        if roots is None:
            raise KeyError(f"catalog {self.root}: no table {src!r}")
        if dst in self.manifest()["tables"]:
            raise ValueError(f"clone target {dst!r} already exists")
        # The clone carries the source's LOGICAL state: pending
        # merge-on-read deletes copy with it (Delta shallow clones carry
        # deletion vectors the same way).  Entries reference the shared
        # immutable root rels, so they scope correctly as-is.
        src_deletes = m.get("deletes", {}).get(src, [])
        return self.commit(
            self.begin(),
            meta={"cloned": dst, "from": src, **(meta or {})},
            root_overrides={dst: self._existing_roots(src, roots)},
            require_absent=[dst],
            deletes_ddl={dst: [dict(e) for e in src_deletes]},
            stats_patch={dst: _root_entries(m, src, roots)},
        )

    def update(
        self,
        spark: SparkSession,
        table: str,
        predicate: str,
        assignments: dict[str, str],
        *,
        sort_by: list[str] | None = None,
        partition_by: list[str] | None = None,
        max_retries: int = 3,
        meta: dict | None = None,
    ) -> int:
        """``UPDATE table SET col = expr, ... WHERE predicate`` —
        copy-on-write republish with per-row conditional assignment.

        A row is updated iff the predicate is TRUE (NULL keeps the old
        values, matching ``delete``'s three-valued semantics).  All
        assignment expressions evaluate against the OLD row (standard SQL
        UPDATE: ``SET a = b, b = a`` swaps), then each assigned column is
        replaced under one ``when(pred, new).otherwise(old)`` — a single
        scan -> project -> write pass, no join, no shuffle.  Same OCC
        retry loop as merge/delete/compact.  Assigned expressions are cast
        back to the column's existing type so an UPDATE cannot silently
        change the table schema.

        Scale (root-scoped): like :meth:`delete`, only the roots
        the predicate can match (zone-map/Bloom pruning) are rewritten;
        untouched roots carry into the new version by reference — a
        one-row UPDATE on a 100 TB table rewrites one root.  Roots the
        predicate cannot be ruled out on (no stats, or no prunable part)
        are rewritten; a predicate no root can match commits a
        pure-manifest no-op version."""
        from pyspark.sql import functions as F

        if not assignments:
            raise ValueError("update requires at least one assignment")
        last_exc: CommitConflict | None = None
        for _ in range(max_retries):
            snapshot = self.manifest()
            if table not in snapshot["tables"]:
                raise KeyError(f"catalog {self.root}: no table {table!r}")
            roots = list(snapshot["tables"][table])
            pending = snapshot.get("deletes", {}).get(table, [])
            touched = self._prune_roots_m(snapshot, table, predicate)
            scoped = 0 < len(touched) < len(roots)
            base_meta = {
                "updated": table,
                "predicate": predicate,
                "rewritten_roots": len(touched),
                "carried_roots": len(roots) - len(touched),
                **(meta or {}),
            }
            if len(touched) == 0:
                # validate assignments against the table schema even when
                # nothing can match — a typo'd column must not silently
                # "succeed" as a no-op
                cols = _table_schema_m(snapshot, table).names
                missing = [c for c in assignments if c not in cols]
                if missing:
                    raise ValueError(
                        f"update({table!r}): no such columns {missing}"
                    )
                txn = self.begin()
            else:
                df = self.read_snapshot(spark, snapshot, table, touched)
                missing = [c for c in assignments if c not in df.columns]
                if missing:
                    raise ValueError(
                        f"update({table!r}): no such columns {missing}"
                    )
                pred = F.coalesce(
                    F.expr(predicate).cast("boolean"), F.lit(False)
                )
                types = {f.name: f.dataType for f in df.schema.fields}
                updated = df.withColumns(
                    {
                        col: F.when(
                            pred, F.expr(expr).cast(types[col])
                        ).otherwise(F.col(col))
                        for col, expr in assignments.items()
                    }
                )
                txn = self.begin()
                txn.stage(
                    table,
                    updated,
                    mode="append" if scoped else "overwrite",
                    sort_by=sort_by,
                    partition_by=partition_by,
                    evolve_schema=scoped,
                )
            try:
                return self.commit(
                    txn,
                    meta=base_meta,
                    require_roots={table: roots},
                    require_deletes={table: [dict(e) for e in pending]},
                    replace_roots={table: touched} if scoped else None,
                )
            except CommitConflict as exc:
                last_exc = exc
                continue
        raise CommitConflict(
            f"update({table!r}): concurrent commits kept winning after "
            f"{max_retries} attempts"
        ) from last_exc

    def diff(
        self,
        spark: SparkSession,
        table: str,
        v_from: int,
        v_to: int | None = None,
        *,
        change_col: str = "_change",
    ) -> DataFrame:
        """Row-level changes to ``table`` between two committed versions —
        the change-data-feed read (Delta CDF-lite): inserted rows tagged
        ``insert``, removed rows ``delete`` (an upsert is one of each).

        Scale: versions are compared at the MANIFEST level first — commit
        roots present in both versions hold identical immutable files and
        are excluded before any data is read, so an append-only history
        diffs by scanning ONLY the new commits' files (no row comparison
        at all when one side is empty).  Only rewritten portions
        (overwrite/merge/compact commits) fall back to the row-level
        ``exceptAll`` — multiset semantics, so duplicate rows diff by
        count, and a pure re-clustering compaction correctly diffs empty.
        """
        m_from = self.manifest(v_from)
        roots_from = list(m_from["tables"].get(table, []))
        m_to = self.manifest(v_to)
        if table not in m_to["tables"] and not roots_from:
            raise KeyError(f"catalog {self.root}: no table {table!r}")
        roots_to = list(m_to["tables"].get(table, []))
        only_from = [r for r in roots_from if r not in roots_to]
        only_to = [r for r in roots_to if r not in roots_from]
        # Merge-on-read deletes change LIVE rows without changing roots:
        # a shared root whose applicable-predicate set differs between
        # the versions must re-enter the row-level comparison (with each
        # version's own delete filters applied) — the manifest-level
        # exclusion is only sound for roots with identical delete sets.
        ents_from = m_from.get("deletes", {}).get(table, [])
        ents_to = m_to.get("deletes", {}).get(table, [])

        def preds_for(r: str, ents: list[dict]) -> tuple:
            return tuple(e["p"] for e in ents if r in e.get("roots", []))

        changed_shared = [
            r
            for r in roots_from
            if r in roots_to and preds_for(r, ents_from) != preds_for(r, ents_to)
        ]
        only_from += changed_shared
        only_to += changed_shared

        # both sides read with one schema, the fold of both versions' roots
        # (the later version's columns first), so they compare column by
        # column even across schema evolution; an empty side is an empty
        # relation of that schema
        recorded = {
            **m_from.get("schemas", {}).get(table, {}),
            **m_to.get("schemas", {}).get(table, {}),
        }
        schema = _fold(
            StructType.fromJson(recorded[r]) for r in roots_to + roots_from
        )
        old = self._read_rels(spark, m_from, table, only_from, schema)
        new = self._read_rels(spark, m_to, table, only_to, schema)
        from pyspark.sql import functions as F

        return new.exceptAll(old).withColumn(
            change_col, F.lit("insert")
        ).unionByName(
            old.exceptAll(new).withColumn(change_col, F.lit("delete"))
        )

    def fsck(self) -> dict:
        """Integrity report: ``missing_roots`` (manifest entries whose data
        directory is gone — readers WILL fail; a vacuum bug or manual
        deletion) and ``orphan_dirs`` (data dirs no retained snapshot
        references — aborted/raced transactions awaiting ``vacuum``;
        harmless).  Read-only; O(directory listing), no data scanned."""
        referenced: dict[str, str] = {}  # full rel path -> first referencer
        for v in self.history():
            for tname, rels in self.manifest(v)["tables"].items():
                for rel in rels:
                    referenced.setdefault(rel, f"v{v}:{tname}")
        for tname, rels in self.manifest()["tables"].items():
            for rel in rels:
                referenced.setdefault(rel, f"live:{tname}")
        referenced_txns = {rel.split("/")[1] for rel in referenced}
        data_root = self.root / "data"
        on_disk = (
            {d.name for d in data_root.iterdir() if d.is_dir()}
            if data_root.exists()
            else set()
        )
        return {
            "missing_roots": sorted(
                f"{where} -> {rel}"
                for rel, where in referenced.items()
                if not (self.root / rel).is_dir()
            ),
            "orphan_dirs": sorted(on_disk - referenced_txns),
        }

    def vacuum(self, *, keep_last: int = 1, min_age_seconds: float = 86_400.0) -> list[str]:
        """Retention: expire old snapshots and delete unreferenced data.

        Keeps the newest ``keep_last`` manifest snapshots; any ``data/``
        transaction directory referenced by NO retained snapshot — expired
        versions and aborted (never-committed) staging alike — is deleted.
        Returns the deleted directory names.  Safe order: manifests are
        removed first, so a crash mid-vacuum only ever leaves orphan data
        (invisible), never a manifest pointing at deleted files.

        ``min_age_seconds`` protects IN-FLIGHT transactions: a begun-but-
        not-yet-committed txn's staging dir is unreferenced by any manifest
        and would otherwise be deleted out from under its later commit
        (which would then publish dangling paths).  Only unreferenced dirs
        older than the threshold are removed — pick it comfortably above
        the longest transaction you run (Iceberg/Delta make the identical
        orphan-file-age assumption)."""
        import shutil
        import time as _time

        versions = self.history()
        keep_versions = versions[-keep_last:] if keep_last > 0 else []
        current = self.manifest()
        referenced: set[str] = set()
        for v in keep_versions:
            for rels in self.manifest(v)["tables"].values():
                referenced.update(rel.split("/")[1] for rel in rels)
        # the live manifest always stays readable, whatever keep_last says
        for rels in current["tables"].values():
            referenced.update(rel.split("/")[1] for rel in rels)
        for v in versions:
            if v not in keep_versions:
                (self.root / f"manifest-v{v}.json").unlink(missing_ok=True)
        deleted = []
        cutoff = _time.time() - min_age_seconds
        data_root = self.root / "data"
        if data_root.exists():
            for d in sorted(data_root.iterdir()):
                if (
                    d.is_dir()
                    and d.name not in referenced
                    and d.stat().st_mtime <= cutoff
                ):
                    shutil.rmtree(d)
                    deleted.append(d.name)
        return deleted

    def commit(
        self,
        txn: Transaction,
        *,
        meta: dict | None = None,
        require_roots: dict[str, list[str]] | None = None,
        constraint_ddl: dict[str, dict[str, str | None]] | None = None,
        zone_map_ddl: dict[str, list[str] | None] | None = None,
        bloom_ddl: dict[str, list[str] | None] | None = None,
        stats_patch: dict[str, dict[str, dict]] | None = None,
        root_overrides: dict[str, list[str]] | None = None,
        require_absent: list[str] | None = None,
        deletes_ddl: dict[str, list | None] | None = None,
        require_deletes: dict[str, list] | None = None,
        replace_roots: dict[str, list[str]] | None = None,
    ) -> int:
        """Atomically publish every table staged in ``txn``.

        The manifest swap is the commit point: a crash before ``os.replace``
        publishes nothing; after it, everything.

        Concurrency: the read-modify-write of the manifest runs under an
        exclusive flock on ``catalog.lock``, so two committers serialize
        instead of the second silently erasing the first's tables (the
        lost-update race).  On object stores without advisory locks, swap
        this for the store's conditional-put / a coordination service —
        the same requirement Delta's LogStore has on S3.

        Ordering: the pointer swap happens FIRST; the immutable
        ``manifest-v{N}.json`` time-travel snapshot is derived from it
        afterwards.  A crash between the two leaves a committed version
        whose snapshot file is missing — ``manifest(version=N)`` falls
        back to the live manifest for the current version, and vacuum's
        referenced-set already includes the live manifest — never the
        reverse (a phantom snapshot of an uncommitted txn that time travel
        could read and retention could keep)."""
        import fcntl

        lock_path = self.root / "catalog.lock"
        lock_path.parent.mkdir(parents=True, exist_ok=True)
        with open(lock_path, "w") as lock:
            fcntl.flock(lock, fcntl.LOCK_EX)
            m = self.manifest()  # re-read under the lock
            tables = m["tables"]
            if require_roots:
                # Optimistic conflict check (compact): the caller staged an
                # overwrite derived from a snapshot of these roots; if they
                # changed since, committing would erase the interleaved
                # writes — abort instead and let the caller retry.
                for tname, expected in require_roots.items():
                    if tables.get(tname, []) != expected:
                        raise CommitConflict(
                            f"table {tname!r} changed since snapshot: "
                            f"expected roots {expected}, found "
                            f"{tables.get(tname, [])}"
                        )
            # DDL conflict check: stage() validated each table against the
            # constraint set current THEN; if concurrent DDL changed it, the
            # staged data was never checked against the new rules — abort.
            live_constraints = m.get("constraints", {})
            for tname in txn.writes:
                seen = txn.seen_constraints.get(tname, {})
                now = live_constraints.get(tname, {})
                if seen != now:
                    raise CommitConflict(
                        f"table {tname!r}: CHECK constraints changed since "
                        f"stage (validated against {seen}, live is {now}); "
                        "re-stage to re-validate"
                    )
            if require_deletes:
                # merge-on-read conflict check: a rewrite that read the
                # delete-applied state (or a new MOR delete appending to
                # the entry list) must abort if the entries changed since
                # its snapshot — otherwise it would clear (or double-
                # apply) a delete it never saw.
                live_deletes = m.get("deletes", {})
                for tname, expected in require_deletes.items():
                    if live_deletes.get(tname, []) != expected:
                        raise CommitConflict(
                            f"table {tname!r}: merge-on-read deletes "
                            f"changed since snapshot"
                        )
            for tname, (mode, _) in txn.writes.items():
                # type conflict check: stage() gated an append against the
                # table schema current THEN; a concurrent append may have
                # since given a new column another type
                if mode == "append" and tname in tables:
                    clash = _type_changes(
                        _table_schema_m(m, tname),
                        StructType.fromJson(txn.schemas[tname]),
                    )
                    if clash:
                        raise CommitConflict(
                            f"table {tname!r}: column types changed since "
                            f"stage {clash}; re-stage against the new schema"
                        )
            if require_absent:
                # creation conflict check (clone): the pre-lock existence
                # probe can race another creator — re-check under the lock
                # so the second clone aborts instead of silently replacing
                # the first's table.
                taken = [t for t in require_absent if t in tables]
                if taken:
                    raise CommitConflict(
                        f"tables {taken} were created concurrently"
                    )
            if constraint_ddl:
                bag = m.setdefault("constraints", {})
                for tname, changes in constraint_ddl.items():
                    tbag = bag.setdefault(tname, {})
                    for cname, expr in changes.items():
                        if expr is None:
                            tbag.pop(cname, None)
                        else:
                            tbag[cname] = expr
                    if not tbag:
                        bag.pop(tname, None)
                if not bag:
                    m.pop("constraints", None)
            if zone_map_ddl:
                zbag = m.setdefault("zone_maps", {})
                for tname, cols in zone_map_ddl.items():
                    if cols is None:
                        zbag.pop(tname, None)
                        m.get("zones", {}).pop(tname, None)
                    else:
                        zbag[tname] = cols
                if not zbag:
                    m.pop("zone_maps", None)
            if bloom_ddl:
                bbag = m.setdefault("bloom_maps", {})
                for tname, cols in bloom_ddl.items():
                    if cols is None:
                        bbag.pop(tname, None)
                        m.get("blooms", {}).pop(tname, None)
                    else:
                        bbag[tname] = cols
                if not bbag:
                    m.pop("bloom_maps", None)
            if deletes_ddl:
                dbag = m.setdefault("deletes", {})
                for tname, entries in deletes_ddl.items():
                    if entries is None or not entries:
                        dbag.pop(tname, None)
                    else:
                        dbag[tname] = entries
                if not dbag:
                    m.pop("deletes", None)
            for table, (mode, rel) in sorted(txn.writes.items()):
                if mode == "overwrite" or table not in tables:
                    tables[table] = [rel]
                    # an overwrite replaces every root a pending
                    # merge-on-read delete was scoped to — the entries
                    # are either materialized (rewrite ops read the
                    # delete-applied state) or moot; clear them so stale
                    # predicates never linger in the manifest
                    if m.get("deletes", {}).pop(table, None) is not None:
                        if not m["deletes"]:
                            m.pop("deletes", None)
                elif mode == "append":
                    tables[table] = tables[table] + [rel]
                else:
                    raise ValueError(f"unknown write mode {mode!r}")
                m.setdefault("schemas", {}).setdefault(table, {})[
                    rel
                ] = txn.schemas[table]
                if table in txn.parts:
                    m.setdefault("parts", {}).setdefault(table, {})[
                        rel
                    ] = txn.parts[table]
                if table in txn.zone_stats:
                    m.setdefault("zones", {}).setdefault(table, {})[
                        rel
                    ] = txn.zone_stats[table]
                if table in txn.bloom_stats:
                    m.setdefault("blooms", {}).setdefault(table, {})[
                        rel
                    ] = txn.bloom_stats[table]
            if replace_roots:
                # Root-scoped copy-on-write (update/delete): the staged
                # APPEND root holds the rewritten form of exactly these
                # prior roots — drop them from the live list (the append
                # above already added the replacement; untouched roots
                # ride along by reference, never re-read or re-written).
                # Pending merge-on-read deletes were materialized INTO the
                # rewrite for the replaced roots only, so each entry is
                # re-scoped to its surviving roots; entries left scoping
                # nothing are dropped.
                for tname, replaced in replace_roots.items():
                    if (
                        tname not in txn.writes
                        or txn.writes[tname][0] != "append"
                    ):
                        raise ValueError(
                            f"replace_roots for {tname!r} requires a staged "
                            "append holding the rewritten rows"
                        )
                    repl = set(replaced)
                    tables[tname] = [r for r in tables[tname] if r not in repl]
                    dbag = m.get("deletes", {})
                    if tname in dbag:
                        kept = []
                        for e in dbag[tname]:
                            rs = [
                                r
                                for r in e.get("roots", [])
                                if r not in repl
                            ]
                            if rs:
                                kept.append({"p": e["p"], "roots": rs})
                        if kept:
                            dbag[tname] = kept
                        else:
                            dbag.pop(tname)
                            if not dbag:
                                m.pop("deletes", None)
            if root_overrides:
                # zero-copy re-pointing (restore/clone): set a table's root
                # list directly to already-existing immutable data dirs.
                # Data dirs are never mutated, so sharing them across tables
                # is safe; vacuum's referenced-set spans every table of
                # every retained manifest, so shared roots survive either
                # owner's retention.
                for table, rels in root_overrides.items():
                    if table in txn.writes:
                        raise ValueError(
                            f"table {table!r} both staged and root-overridden "
                            "in one commit"
                        )
                    tables[table] = list(rels)
            if stats_patch:
                # Manifest-only grafts of per-root entries onto live roots:
                # backfill_stats' zone/bloom stats, and the entries (stats
                # and schema) restore/clone carry from the version they
                # re-point at.  A root replaced since the entries were
                # read is skipped silently — the cleanup below would drop
                # it anyway, and the caller can re-run.
                for tname, per_rel in stats_patch.items():
                    live = set(tables.get(tname, []))
                    for rel, entry in per_rel.items():
                        if rel not in live:
                            continue
                        for bag_name, st in entry.items():
                            m.setdefault(bag_name, {}).setdefault(tname, {})[
                                rel
                            ] = st
            for bag_name in _ROOT_BAGS:
                if bag_name not in m:
                    continue
                # Drop entries for roots no longer referenced by the LIVE
                # table lists (overwrite/compact/delete replaced them).
                # Snapshot manifests keep their own version-consistent
                # entries, so time travel still prunes and reads correctly.
                for tname in list(m[bag_name]):
                    live = set(tables.get(tname, []))
                    tbag = {
                        r: st
                        for r, st in m[bag_name][tname].items()
                        if r in live
                    }
                    if tbag:
                        m[bag_name][tname] = tbag
                    else:
                        del m[bag_name][tname]
                if not m[bag_name]:
                    del m[bag_name]
            m["version"] += 1
            if meta:
                bag = m.setdefault("meta", {})
                for k, v in meta.items():
                    if v is None:  # None = delete the key (one-shot migrations)
                        bag.pop(k, None)
                    else:
                        bag[k] = v
            body = json.dumps(m, indent=2, sort_keys=True)
            tmp = self._manifest_path().with_suffix(f".tmp-{txn.txn_id}")
            tmp.write_text(body)
            os.replace(tmp, self._manifest_path())  # the atomic commit point
            (self.root / f"manifest-v{m['version']}.json").write_text(body)
            return m["version"]
