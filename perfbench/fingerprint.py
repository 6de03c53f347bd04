"""Order-independent output fingerprints and the stored reference set.

A fingerprint is ``[row_count, digest, sorted_column_names]``. The digest
and the value canonicalisation are those of ``tools/check_oracle.py``
(``digest``, ``canon_value``), imported from it, and DuckDB cells are
normalised with its ``_is_pd_na`` / ``_from_pd`` as it does, so a
fingerprint match here is the same comparison that tool makes: row
count, column names, and the value digest.

``reference.json`` holds one fingerprint per (scale factor, query),
computed by DuckDB from the registry's ``ORACLE`` SQL over the generated
tables. Rebuild it after changing ``datagen.py``:

    python3 perfbench/fingerprint.py
"""

from __future__ import annotations

import functools
import importlib.util
import json
import os
import sys

import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
REFERENCE_PATH = os.path.join(HERE, "reference.json")


@functools.cache
def check_oracle():
    """``tools/check_oracle.py`` as a module. Loading it runs its imports
    (DuckDB and the engine's session module, no JVM); the tool also puts
    its own fixed checkout path first on ``sys.path``, so the engine
    package is imported from this checkout before it, and the path is
    restored after."""
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    import min_flink_spark  # noqa: F401

    spec = importlib.util.spec_from_file_location(
        "check_oracle", os.path.join(ROOT, "tools", "check_oracle.py"))
    mod = importlib.util.module_from_spec(spec)
    saved = list(sys.path)
    try:
        spec.loader.exec_module(mod)
    finally:
        sys.path[:] = saved
    return mod


def fingerprint(columns: list[str], rows: list[tuple]) -> list:
    return [len(rows), check_oracle().digest(list(columns), rows), sorted(columns)]


def parquet_fingerprint(path: str) -> list:
    """Fingerprint of a parquet directory written by the sink."""
    table = pq.read_table(path)
    return fingerprint(table.column_names, list(zip(*(c.to_pylist() for c in table.columns))))


def oracle_fingerprints(data_dir: str, names: list[str]) -> dict[str, list]:
    import duckdb

    from min_flink_spark.queries import ORACLE

    co = check_oracle()
    con = duckdb.connect()
    tables = {t.split(".")[0] for t in os.listdir(data_dir) if t.endswith(".parquet")}
    for t in sorted(tables):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet/*.parquet')"
        )
    out = {}
    for name in names:
        df = con.execute(ORACLE[name]).fetchdf()
        rows = [tuple(None if co._is_pd_na(v) else co._from_pd(v) for v in r)
                for r in df.itertuples(index=False, name=None)]
        out[name] = fingerprint(list(df.columns), rows)
    return out


def main() -> None:
    sys.path.insert(0, ROOT)
    from perfbench import datagen
    from perfbench.run import DATA_ROOT, WORKLOADS

    ref: dict[str, dict[str, list]] = {}
    for wl in WORKLOADS.values():
        if not wl.queries:
            continue
        data_dir = os.path.join(DATA_ROOT, f"sf{wl.sf}")
        datagen.write(data_dir, wl.sf)
        ref.setdefault(f"sf{wl.sf}", {}).update(oracle_fingerprints(data_dir, list(wl.queries)))
    with open(REFERENCE_PATH, "w") as f:
        json.dump(ref, f, indent=1, sort_keys=True)
        f.write("\n")


if __name__ == "__main__":
    main()
