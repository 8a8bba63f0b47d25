"""File-tree pipeline: symlink-farm sink (reference
generate_dp1_file_tree.py → SURVEY.md §3.3, K12).

The reference streams the exported datastore records, rewrites each path
(absolutize, RSP remap, strip '#fragment'), and fans symlink creation out
over a 16-thread pool, tolerating ``FileExistsError`` because many records
share one file.  The Spark shape:

- path rewriting and the (source, link) dedup are column expressions
  (C3/C6/C7) — JVM-side, whole-stage-codegen'd;
- the side-effecting sink streams the distinct pairs through the driver
  (``toLocalIterator``, one partition in memory at a time) and creates the
  links in one loop — the reference's single-process shape, with no Python
  worker to start;
- idempotent on re-runs: an existing correct link is success, a
  conflicting one is an error (SURVEY.md §7.4.6).
"""

from __future__ import annotations

import os
from collections.abc import Iterable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.paths import absolutize, prefix_replace, strip_fragment
from .importer import RSP_PREFIX, RSP_TARGET


def mapped_paths(
    records: DataFrame,
    datastore_root: str,
    *,
    path_col: str = "path",
) -> DataFrame:
    """(source, link) pairs for the symlink farm.

    ``source`` = the physical file (absolute, fragment stripped, reference
    generate_dp1_file_tree.py:58-72); ``link`` = the target-layout relative
    path (RSP remap of absolute URIs, else the path as-is)."""
    p = F.col(path_col)
    source = strip_fragment(absolutize(p, datastore_root))
    link = strip_fragment(
        F.when(
            p.startswith("file://"), prefix_replace(p, RSP_PREFIX, RSP_TARGET)
        ).otherwise(p)
    )
    return records.select(source.alias("source"), link.alias("link")).distinct()


def _create_links(tree_root: str, rows: Iterable) -> int:
    """Create one symlink per (source, link) row; returns the rows seen.
    Each distinct parent directory is made once, not once per row."""
    n = 0
    made: set[str] = set()
    for row in rows:
        n += 1
        dest = os.path.join(tree_root, row["link"])
        parent = os.path.dirname(dest)
        if parent not in made:
            os.makedirs(parent, exist_ok=True)
            made.add(parent)
        try:
            os.symlink(row["source"], dest)
        except FileExistsError:
            # A re-run over an existing tree lands here; a link to the same
            # source is success, anything else is corruption.
            if os.readlink(dest) != row["source"]:
                raise FileExistsError(
                    f"{dest} exists and points elsewhere: "
                    f"{os.readlink(dest)} != {row['source']}"
                )
    return n


def generate_file_tree(
    records: DataFrame,
    tree_root: str,
    datastore_root: str,
    *,
    path_col: str = "path",
) -> int:
    """Materialize the symlink farm; returns the number of distinct links.

    The distinct (source, link) pairs stream to the driver one partition at
    a time and the driver creates the links, so ``tree_root`` need only be
    visible to the driver."""
    pairs = mapped_paths(records, datastore_root, path_col=path_col)
    return _create_links(tree_root, pairs.toLocalIterator())
