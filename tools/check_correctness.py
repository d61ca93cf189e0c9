"""Local mimic of the driver's DuckDB-oracle correctness gate.

Runs every __spark_entry__.queries() entry at sf0.01 (or --sf-dir) and
compares against oracle_sql() on DuckDB: row count, sorted column
names, TYPES (Arrow-level — the driver hashes typed values, so a
DuckDB HUGEINT/decimal128 against a Spark bigint is a driver FAIL even
when the stringified values agree), and order-insensitive value
comparison. Stricter than a hash: on mismatch it prints WHERE the
results diverge.
"""

from __future__ import annotations

import argparse
import math
import os
import re
import sys
import time

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql.pandas.types import to_arrow_schema  # noqa: E402

from flink_essentials_spark.session import get_spark  # noqa: E402
from flink_essentials_spark.tables import TABLE_NAMES, table_path  # noqa: E402

import __spark_entry__ as entrymod  # noqa: E402

# A 0-row oracle passes trivially (empty == empty) and verifies NOTHING
# — this bit three queries before it was mechanized (r4: length_outliers,
# as_of_join_forward, contamination). Any query whose oracle legitimately
# returns 0 rows at sf0.01 must be listed here explicitly; otherwise a
# 0-row PASS is a FAIL.
ZERO_ROW_ALLOWED: frozenset[str] = frozenset()


def canon_type(t) -> str:
    """Canonical comparable form of an Arrow type.

    Width-preserving for integers and decimals (the driver's typed hash
    distinguishes them); forgiving only where the two engines encode the
    SAME logical type differently (large_string vs string, timestamp
    unit/tz spelling — timestamp parity is separately guaranteed by the
    epoch-ms output convention)."""
    s = str(t)
    s = s.replace("large_string", "string").replace("large_binary", "binary")
    s = re.sub(r"timestamp\[[^\]]*\]", "timestamp", s)
    # Driver-observed: int32-vs-int64 rows hash green (r3), so integer
    # width is collapsed; decimal128-vs-int64 hashed RED, so decimals
    # stay distinct.  Floats stay width-strict (no evidence either way).
    s = re.sub(r"\bint(8|16|32|64)\b", "int", s)
    # list<element: T not null> (Spark) vs list<l: T> (DuckDB): same
    # logical list type — engines differ only in the inner FIELD NAME
    # and nullability flag, neither of which exists in the values
    s = re.sub(r"list<\w+: ", "list<", s).replace(" not null", "")
    return s


def normalize(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(v)  # full precision — we demand bitwise parity
    if v is None:
        return "NULL"
    return str(v)


def table_repr(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for row in rows:
        out.append(tuple(normalize(row[i]) for i in order))
    out.sort()
    return [cols[i] for i in order], out


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    ap.add_argument("--only", nargs="*", default=None)
    ap.add_argument(
        "--distributed",
        action="store_true",
        help="set FES_FORCE_DISTRIBUTED=1: every twin-gated family runs "
        "its distributed ladder",
    )
    args = ap.parse_args()
    if args.distributed:
        os.environ["FES_FORCE_DISTRIBUTED"] = "1"

    spark = get_spark("correctness")
    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM '{table_path(args.sf_dir, t)}'"
        )

    queries = entrymod.queries()
    oracles = entrymod.oracle_sql()
    names = args.only or list(queries)
    n_pass = n_fail = 0
    for name in names:
        t0 = time.time()
        try:
            sdf = queries[name](spark, args.sf_dir)
            s_cols = sdf.columns
            s_rows = [tuple(r) for r in sdf.collect()]
            s_arrow = to_arrow_schema(sdf.schema)
        except Exception as e:
            print(f"FAIL {name}: spark error: {e}")
            n_fail += 1
            continue
        if name not in oracles:
            print(f"ok   {name}: rows-only ({len(s_rows)} rows, no oracle) "
                  f"[{time.time()-t0:.1f}s]")
            n_pass += 1
            continue
        try:
            d_tbl = con.sql(oracles[name]).fetch_arrow_table()
            d_cols = d_tbl.column_names
            d_rows = list(zip(*[c.to_pylist() for c in d_tbl.columns])) \
                if d_tbl.num_columns else []
        except Exception as e:
            print(f"FAIL {name}: duckdb error: {e}")
            n_fail += 1
            continue
        sc, sr = table_repr(s_cols, s_rows)
        dc, dr = table_repr(d_cols, d_rows)
        if sc != dc:
            print(f"FAIL {name}: columns differ spark={sc} duckdb={dc}")
            n_fail += 1
            continue
        s_types = {f.name: canon_type(f.type) for f in s_arrow}
        d_types = {f.name: canon_type(f.type) for f in d_tbl.schema}
        type_mismatch = {
            c: (s_types[c], d_types[c]) for c in sc if s_types[c] != d_types[c]
        }
        if type_mismatch:
            print(f"FAIL {name}: types differ (spark, duckdb): {type_mismatch}")
            n_fail += 1
            continue
        if len(sr) != len(dr):
            print(f"FAIL {name}: row count spark={len(sr)} duckdb={len(dr)}")
            _show_diff(sr, dr, sc)
            n_fail += 1
            continue
        if sr != dr:
            print(f"FAIL {name}: values differ ({len(sr)} rows)")
            _show_diff(sr, dr, sc)
            n_fail += 1
            continue
        if len(dr) == 0 and name not in ZERO_ROW_ALLOWED:
            print(f"FAIL {name}: VACUOUS — oracle returned 0 rows "
                  f"(empty==empty verifies nothing; allowlist in "
                  f"ZERO_ROW_ALLOWED if genuinely intended)")
            n_fail += 1
            continue
        print(f"PASS {name}: {len(sr)} rows [{time.time()-t0:.1f}s]")
        n_pass += 1

    print(f"\n{n_pass} passed, {n_fail} failed")
    spark.stop()
    return 1 if n_fail else 0


def _show_diff(sr, dr, cols, limit=5):
    s_set, d_set = set(sr), set(dr)
    only_s = list(s_set - d_set)[:limit]
    only_d = list(d_set - s_set)[:limit]
    print(f"  cols: {cols}")
    for r in only_s:
        print(f"  spark-only: {r}")
    for r in only_d:
        print(f"  duckdb-only: {r}")


if __name__ == "__main__":
    raise SystemExit(main())
