"""DuckDB oracle digests for the batch workload.

Results are canonicalised with ``tools/check_correctness.py``'s own
``canon_type``, ``normalize`` and ``table_repr`` (imported, not copied),
so the benchmark and the correctness gate agree on what "equal" means.
Digests are cached under ``.perfbench/cache`` keyed by the data files'
content hash and each query's oracle SQL.
"""

from __future__ import annotations

import functools
import hashlib
import json
import os
import sys

from perfbench import harness


@functools.lru_cache(maxsize=1)
def gate():
    """The correctness gate module (tools/check_correctness.py)."""
    saved = list(sys.path)
    sys.path.insert(0, os.path.join(harness.ROOT, "tools"))
    try:
        import check_correctness
    finally:
        sys.path[:] = saved
    return check_correctness


def digest(cols: list[str], rows: list[tuple], types: dict[str, str]) -> str:
    sorted_cols, canon_rows = gate().table_repr(list(cols), rows)
    blob = json.dumps([sorted_cols, [types[c] for c in sorted_cols], canon_rows])
    return hashlib.sha256(blob.encode()).hexdigest()


def spark_digest(df_schema, cols: list[str], rows: list[tuple]) -> str:
    g = gate()
    types = {f.name: g.canon_type(f.type) for f in g.to_arrow_schema(df_schema)}
    return digest(cols, rows, types)


def _data_hash(data_dir: str, tables: tuple[str, ...]) -> str:
    h = hashlib.sha256()
    for name in tables:
        with open(os.path.join(data_dir, f"{name}.parquet"), "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()[:16]


def oracle_digests(data_dir: str, names: list[str]) -> dict[str, str]:
    """name -> digest of the DuckDB oracle result, cached on disk."""
    from flink_essentials_spark.queries.catalog import ALL_QUERIES
    from flink_essentials_spark.tables import TABLE_NAMES, table_path

    cache_path = os.path.join(
        harness.WORK, "cache", f"oracle-{_data_hash(data_dir, TABLE_NAMES)}.json"
    )
    try:
        with open(cache_path) as f:
            cache = json.load(f)
    except (OSError, ValueError):
        cache = {}
    out: dict[str, str] = {}
    con = None
    for name in names:
        sql = ALL_QUERIES[name].oracle
        sql_hash = hashlib.sha256(sql.encode()).hexdigest()[:16]
        hit = cache.get(name)
        if hit and hit["sql"] == sql_hash:
            out[name] = hit["digest"]
            continue
        if con is None:
            import duckdb

            con = duckdb.connect()
            for t in TABLE_NAMES:
                con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{table_path(data_dir, t)}'")
        tbl = con.sql(sql).fetch_arrow_table()
        rows = list(zip(*[c.to_pylist() for c in tbl.columns])) if tbl.num_columns else []
        types = {f.name: gate().canon_type(f.type) for f in tbl.schema}
        out[name] = digest(tbl.column_names, rows, types)
        cache[name] = {"sql": sql_hash, "digest": out[name], "rows": len(rows)}
    if con is not None:
        con.close()
        os.makedirs(os.path.dirname(cache_path), exist_ok=True)
        tmp = f"{cache_path}.{os.getpid()}.tmp"
        with open(tmp, "w") as f:
            json.dump(cache, f, indent=1, sort_keys=True)
        os.replace(tmp, cache_path)
    return out
