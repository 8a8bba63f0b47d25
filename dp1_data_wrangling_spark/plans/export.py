"""Export pipeline (reference export_dp1.py / exporter.py → SURVEY.md §3.1).

The reference's export is: per dataset type, query the registry with
find-first resolution over a flattened collection chain, expand data IDs
into dimension records, dedup + sort everything, and stream it into a tree
of Parquet files plus JSON sidecars.  Here the whole thing is a handful of
declarative Spark plans published through one atomic catalog transaction:

- find-first = one window shuffle per dataset type (operators.find_first);
  the chain-position map is broadcast (exporter.py:75-87 → J4/W1);
- dimension expansion = semi-joins of each dimension's records against the
  exported data-ID columns, walking the dependency closure so FK targets
  are always exported too (exporter.py:87, 95-99 → J1);
- association export = inner-join-free semi-filter against exported ids +
  (collection, data-ID) sort (exporter.py:108-141 → P5/O2);
- datastore export = priority first-wins dedup then semi-filter
  (datastore_parquet.py:66-76 → J5/W2);
- every table is sortWithinPartitions'd before write — the reference's
  compressibility sorts (exporter.py:90-91, dimension_record_parquet.py:54-57
  → O1/O3) without adding a global shuffle;
- sidecar manifests (index/dataset_types/collections, reference index.py,
  dataset_types.py, exporter.py:150-167) land in the catalog manifest's
  ``meta`` — swapped into place by the same atomic commit (G3).

Scale posture: per dataset type the plan is scan → broadcast join → one
window shuffle → write; nothing collects fact data to the driver.  Nothing
is cached either: each resolved table is written, then read back from its
staged root, and the exported ids and referenced dimension keys used by
the semi-filters are scans of those staged roots (SURVEY.md §7.4.7).

The per-table plans are independent Spark jobs, so they are staged
concurrently from one driver thread pool (``stage_concurrently``) instead
of one root at a time.  Dependency order:

1. ``collections``, ``collection_chains`` and every dataset type's
   find-first resolve are submitted at once;
2. ``associations`` and ``datastore_records`` are submitted once the
   dataset roots they semi-filter on are staged;
3. meanwhile the dimension closure (customer → nation, the one true chain:
   each step reads the keys the previous staged root references) runs on
   the calling thread.

The commit waits for every write; a failed write cancels the ones not yet
started and re-raises before anything publishes.
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.chains import flatten_chains
from ..operators.find_first import find_first
from ..operators.priority_dedup import priority_dedup, priority_map
from ..schema import Universe
from .catalog import Catalog, stage_concurrently


def _validate_schema(label: str, df: DataFrame, expected) -> None:
    actual = {f.name: f.dataType.simpleString() for f in df.schema}
    problems = [
        f"{f.name}: want {f.dataType.simpleString()}, got {actual.get(f.name, 'MISSING')}"
        for f in expected.fields
        if actual.get(f.name) != f.dataType.simpleString()
    ]
    if problems:
        raise ValueError(f"schema drift in {label}: {problems}")


def run_export(
    spark: SparkSession,
    out_root: str,
    universe: Universe,
    *,
    datasets: Mapping[str, DataFrame],
    dimension_records: Mapping[str, DataFrame],
    associations: DataFrame,
    datastore_records: DataFrame,
    collections: DataFrame,
    collection_chains: DataFrame,
    root_collection: str,
    datastore_priority: Sequence[str] = (),
    dataset_types: Sequence[str] | None = None,
) -> Catalog:
    """Export the Butler-model tables into a fresh catalog at ``out_root``.

    ``datasets`` maps dataset type name → its rows (dataset_id, run,
    *data-ID columns); unknown names raise, mirroring the reference's
    write-once/unknown-type guards (exporter.py:42-45, importer.py:36-39).
    """
    names = list(dataset_types) if dataset_types is not None else sorted(datasets)
    unknown = [n for n in names if n not in universe.dataset_types]
    if unknown:
        raise ValueError(f"unknown dataset types: {unknown}")

    # Fail-fast schema validation against the registry's runtime-built
    # StructTypes (reference datasets_parquet.py:92-116; SURVEY.md §7.4.5) —
    # a 100 TB export must reject drifted inputs before writing anything.
    for name in names:
        _validate_schema(
            f"datasets/{name}", datasets[name], universe.dataset_struct_type(name)
        )
    for dim_name, records in dimension_records.items():
        dim = universe.dimensions[dim_name]
        if dim.types:
            _validate_schema(f"dimensions/{dim_name}", records, dim.struct_type())

    cat = Catalog(out_root)
    txn = cat.begin()
    chain = flatten_chains(spark, collection_chains, collections, root_collection)
    order = universe.sorted_dimensions(list(dimension_records))
    # Plans that need no staged root are built before the first write is
    # submitted, so the independent writes start together.
    # -- datasets: find-first resolve per type (J4, calibration bypass) --------
    resolved = {
        name: find_first(
            datasets[name],
            chain,
            universe.data_id_columns(name),
            is_calibration=universe.dataset_types[name].is_calibration,
        )
        for name in names
    }
    # -- datastore records: priority dedup (J5) --------------------------------
    store_records = datastore_records
    if datastore_priority:
        store_records = priority_dedup(
            store_records, priority_map(spark, list(datastore_priority))
        )

    with stage_concurrently(spark, txn) as submit:
        # -- collection catalog (K6; two tiny tables, not YAML) ----------------
        submit("collections", collections)
        submit("collection_chains", collection_chains)
        resolving = {
            name: submit(f"datasets/{name}", plan, sort_by=universe.data_id_columns(name))
            for name, plan in resolved.items()
        }
        # id/key extraction reads the staged roots, not the resolve plans
        exported_ids: DataFrame | None = None
        exported_keys: dict[str, DataFrame] = {}  # data-ID col -> distinct values
        for name, fut in resolving.items():
            staged = fut.result()
            ids = staged.select("dataset_id")
            exported_ids = ids if exported_ids is None else exported_ids.unionByName(ids)
            for c in universe.data_id_columns(name):
                vals = staged.select(F.col(c).alias("__k")).distinct()
                exported_keys[c] = (
                    vals
                    if c not in exported_keys
                    else exported_keys[c].unionByName(vals).distinct()
                )
        if exported_ids is None:
            raise ValueError("nothing to export")
        exported_ids = exported_ids.distinct()

        # -- associations: semi-filter + (collection, data ID) sort (P5/O2) ----
        assoc = associations.join(exported_ids, "dataset_id", "left_semi")
        submit("associations", assoc, sort_by=["collection"])

        # -- datastore records: semi-filter (P6) -------------------------------
        store_records = store_records.join(exported_ids, "dataset_id", "left_semi")
        submit("datastore_records", store_records, sort_by=["datastore_name", "path"])

        # -- dimension records: dependency-closure expansion (J1) --------------
        # Walk dimensions in toposort order; a dimension referenced by
        # exported datasets exports only the referenced records (semi-join),
        # and its own payload contributes referenced keys for its
        # dependencies (e.g. the nations of exported customers), mirroring
        # with_dimension_records().
        for dim_name in reversed(order):  # high→low so dependents extend key sets
            dim = universe.dimensions[dim_name]
            if not dim.has_own_table or dim_name not in dimension_records:
                continue
            records = dimension_records[dim_name]
            key = dim.keys[0] if len(dim.keys) == 1 else None
            if key is not None and key in exported_keys:
                records = records.join(
                    exported_keys[key].withColumnRenamed("__k", key), key, "left_semi"
                )
            records = txn.stage(
                f"dimensions/{dim_name}",
                records.dropDuplicates(list(dim.keys)),
                sort_by=list(dim.keys),
            )
            # Payload columns that are key columns of a dependency become
            # referenced keys (customer.nation -> dimension nation).
            for dep in dim.depends_on:
                for k in universe.dimensions[dep].keys:
                    if k in dim.payload or k in dim.keys:
                        vals = records.select(F.col(k).alias("__k")).distinct()
                        exported_keys[k] = (
                            vals
                            if k not in exported_keys
                            else exported_keys[k].unionByName(vals).distinct()
                        )

    # -- sidecar manifests (K5/K6 → catalog meta; same atomic swap) ------------
    commit_meta = {
        "index": {
            "root_collection": root_collection,
            "dataset_types": names,
            "dimensions": [
                d for d in order if universe.dimensions[d].has_own_table
            ],
        },
        "universe": universe.to_manifest(),
        "datastore_priority": list(datastore_priority),
    }
    cat.commit(txn, meta=commit_meta)
    return cat
