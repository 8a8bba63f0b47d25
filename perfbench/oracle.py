"""Answer fingerprints for the headline queries.

A fingerprint is the sorted column names, the row count and a SHA-256 over
the sorted, normalized rows (normalized as the repo's DuckDB oracle harness
compares them: bytes as hex, timestamps as ISO strings, -0.0 as 0.0).

``headline_oracle.json`` holds the DuckDB oracle's fingerprint of every
headliner at sf0.01.  Regenerate it (DuckDB only, no Spark) with::

    python3 perfbench/oracle.py <dir holding the sf0.01 fixture parquet>
"""

from __future__ import annotations

import datetime
import hashlib
import json
import math
import sys
from pathlib import Path

ORACLE_FILE = Path(__file__).resolve().parent / "headline_oracle.json"


def _norm(v):
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return 0.0 if v == 0.0 else v
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        return v.isoformat()
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return [_norm(x) for x in v]
    if isinstance(v, dict):
        return sorted((k, _norm(x)) for k, x in v.items())
    return v


def fingerprint(table) -> list:
    """[sorted column names, row count, sha256] of a pyarrow table."""
    cols = sorted(table.column_names)
    rows = sorted(json.dumps([_norm(r[c]) for c in cols]) for r in table.to_pylist())
    h = hashlib.sha256()
    for r in rows:
        h.update(r.encode())
        h.update(b"\n")
    return [cols, len(rows), h.hexdigest()]


def headline_specs(names) -> dict:
    from dp1_data_wrangling_spark.queries import headline_queries

    hq = headline_queries()
    missing = sorted(set(names) - set(hq))
    if missing:
        raise KeyError(f"not headline queries: {missing}")
    return {n: hq[n] for n in sorted(names)}


def load_fingerprints() -> dict:
    return json.loads(ORACLE_FILE.read_text())


def main(sf_dir: str) -> None:
    import duckdb

    sys.path.insert(0, str(Path(__file__).resolve().parent.parent))
    from dp1_data_wrangling_spark.queries import headline_queries
    from dp1_data_wrangling_spark.tables import TABLE_NAMES

    con = duckdb.connect()
    for name in TABLE_NAMES:
        con.sql(f"CREATE VIEW {name} AS SELECT * FROM '{sf_dir}/{name}.parquet'")
    out = {}
    for name, spec in sorted(headline_queries().items()):
        if spec.oracle is not None:
            out[name] = fingerprint(con.sql(spec.oracle).arrow())
    ORACLE_FILE.write_text(json.dumps(out, indent=1, sort_keys=True) + "\n")
    print(f"wrote {len(out)} fingerprints to {ORACLE_FILE}")


if __name__ == "__main__":
    main(sys.argv[1])
