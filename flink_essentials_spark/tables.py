"""Load and register the driver's testdata tables.

``load_tables(spark, sf_dir)`` returns a dict of DataFrames;
``register_views`` additionally registers each as a temp view so
queries can be written in SQL. Reads are plain parquet scans —
Catalyst pushes filters/column pruning into them, which is the entire
I/O story at 100 TB (plus partitioned layouts, handled by the same
reader).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flink_essentials_spark.session import ensure_engine_conf

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Dimension tables small enough to broadcast at ANY scale factor
# (region=5, nation=25 rows always; TPC-H scales only the fact side).
BROADCAST_TABLES = frozenset({"region", "nation"})

# Per-row compute (shingle/hash/vector exprs) dominates scan for these;
# see the respread branch in load_tables.
COMPUTE_HEAVY_TABLES = frozenset({"documents", "embeddings"})

# --- Schema contract -------------------------------------------------
# The driver regenerates the testdata between rounds and the PHYSICAL
# types have drifted before (events.ts was int64 TIMESTAMP(NANOS) in one
# generation, timestamp[us] in the next). A silent mismatch surfaces as
# confusing AnalysisExceptions deep inside every query, so validate the
# logical schema at load and fail with one actionable message instead.
#
# Each column maps to a tuple of acceptable Spark simpleString PREFIXES
# (coarse on purpose: int vs bigint or double vs decimal drift is fine —
# downstream code casts; a wrong KIND of column is not).
_NUM = ("tinyint", "smallint", "int", "bigint", "float", "double", "decimal")
_STR = ("string", "varchar", "char")
# Physical timestamp variants seen across driver data generations:
# bigint = int64 nanos read via nanosAsLong; timestamp_ntz = parquet
# timestamp[us] without UTC adjustment; timestamp = tz-adjusted.
_TS = ("timestamp", "timestamp_ntz", "date", "bigint")
_ARR = ("array",)

EXPECTED_SCHEMAS: dict[str, dict[str, tuple[str, ...]]] = {
    "region": {"r_regionkey": _NUM, "r_name": _STR},
    "nation": {"n_nationkey": _NUM, "n_name": _STR, "n_regionkey": _NUM},
    "customer": {
        "c_custkey": _NUM, "c_name": _STR, "c_nationkey": _NUM,
        "c_acctbal": _NUM, "c_mktsegment": _STR,
    },
    "supplier": {
        "s_suppkey": _NUM, "s_name": _STR, "s_nationkey": _NUM,
        "s_acctbal": _NUM,
    },
    "part": {
        "p_partkey": _NUM, "p_name": _STR, "p_brand": _STR,
        "p_type": _STR, "p_size": _NUM, "p_retailprice": _NUM,
    },
    "orders": {
        "o_orderkey": _NUM, "o_custkey": _NUM, "o_orderstatus": _STR,
        "o_totalprice": _NUM, "o_orderdate": _TS, "o_orderpriority": _STR,
    },
    "lineitem": {
        "l_orderkey": _NUM, "l_partkey": _NUM, "l_suppkey": _NUM,
        "l_linenumber": _NUM, "l_quantity": _NUM, "l_extendedprice": _NUM,
        "l_discount": _NUM, "l_tax": _NUM, "l_returnflag": _STR,
        "l_linestatus": _STR, "l_shipdate": _TS,
    },
    "events": {
        "event_id": _NUM, "ts": _TS, "user_id": _NUM,
        "event_type": _STR, "value": _NUM, "props": _STR,
    },
    "documents": {
        "doc_id": _NUM, "text": _STR, "lang": _STR, "source": _STR,
        "n_chars": _NUM,
    },
    "embeddings": {"vec_id": _NUM, "embedding": _ARR, "label": _NUM},
}


class TableSchemaError(RuntimeError):
    """Raised when a testdata table does not match the expected contract."""


def _check_schema(name: str, df: DataFrame) -> None:
    expected = EXPECTED_SCHEMAS.get(name)
    if expected is None:
        return
    actual = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    for col, ok_prefixes in expected.items():
        if col not in actual:
            raise TableSchemaError(
                f"testdata drift: table '{name}' is missing column '{col}' "
                f"(has: {sorted(actual)})"
            )
        if not actual[col].startswith(ok_prefixes):
            raise TableSchemaError(
                f"testdata drift: table '{name}' column '{col}' has type "
                f"'{actual[col]}', expected one of {list(ok_prefixes)} — "
                f"update tables.py normalization for the new physical type"
            )


def _normalize_event_ts(df: DataFrame) -> DataFrame:
    """Normalize events.ts to TIMESTAMP regardless of physical encoding.

    The driver's generator has emitted (at least) two physical types across
    data generations: int64 TIMESTAMP(NANOS) — which Spark's reader only
    accepts as BIGINT nanos via ``nanosAsLong`` — and plain
    ``timestamp[us]`` without UTC adjustment, which Spark reads as
    TIMESTAMP_NTZ. Both reduce to the same epoch-micros instants under the
    pinned UTC session timezone, so DuckDB oracle parity holds either way
    (DuckDB's ns→us cast truncates exactly like ``DIV 1000``).
    """
    ts_type = df.schema["ts"].dataType.simpleString()
    if ts_type == "bigint":  # int64 nanos via nanosAsLong
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
    if ts_type.startswith("timestamp_ntz"):
        # identity re-tag under UTC session TZ; gives downstream
        # withWatermark/window the TIMESTAMP type they require
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    if ts_type.startswith("timestamp"):
        return df  # already TIMESTAMP (tz-adjusted parquet)
    raise TableSchemaError(
        f"testdata drift: events.ts has unsupported type '{ts_type}' "
        f"(expected bigint nanos, timestamp_ntz, or timestamp) — "
        f"add a normalization branch in tables._normalize_event_ts"
    )


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def _parquet_files(path: str, max_files: int | None = None) -> list[str]:
    """The parquet files of a table path (a single file, or a directory
    listed in name order), at most ``max_files`` of them."""
    if not os.path.isdir(path):
        return [path]
    return sorted(
        os.path.join(path, f) for f in os.listdir(path) if f.endswith(".parquet")
    )[:max_files]


def _parquet_layout(path: str, max_files: int | None) -> tuple[int, int]:
    """(num_rows, num_row_groups) from parquet footers via pyarrow —
    driver-side metadata reads (~ms), replacing the Spark jobs the
    respread sizing used to cost (an ``.rdd`` conversion + a ``count()``
    are ~0.8 s EACH on a cold session, paid per table-cache miss).
    Directory layouts stop enumerating after ``max_files`` footers:
    that many files already means the scan has enough native splits
    that no respread is needed, so the exact totals stop mattering.
    """
    import pyarrow.parquet as pq

    rows = groups = 0
    for f in _parquet_files(path, max_files):
        md = pq.ParquetFile(f).metadata
        rows += md.num_rows
        groups += md.num_row_groups
    return rows, groups


def parquet_rows(path: str, max_files: int | None = None) -> int:
    """Footer-derived row count of a parquet file or directory (a
    testdata table or a materialized store; every file unless capped
    at ``max_files``) — driver-side pyarrow metadata (~ms), never a
    Spark job."""
    return _parquet_layout(path, max_files=max_files)[0]


def table_rows(sf_dir: str, name: str, max_files: int = 4096) -> int:
    """Footer-derived row count of a testdata table. For sizing
    decisions (e.g. similarity.auto_blocks) that must not materialize
    a plan."""
    return parquet_rows(table_path(sf_dir, name), max_files=max_files)


def ts_bounds_ms(
    sf_dir: str, name: str = "events", ts_col: str = "ts"
) -> tuple[int, int] | None:
    """EXACT (min, max) epoch-milliseconds of a timestamp column from
    parquet FOOTER STATISTICS — driver-side pyarrow metadata (~ms),
    replacing the per-call Spark bounds job the streaming replay
    harnesses used to pay (optimization guide §1.2/§5: metadata work
    belongs on the driver, data jobs don't). unix_millis() floors
    micros to millis and flooring is monotone, so footer min/max
    convert to exactly the values ``agg(min(unix_millis(ts)),
    max(unix_millis(ts)))`` returns. Handles both physical encodings
    the driver's generator has produced (timestamp[us] → datetime
    stats; int64 nanos → integer stats). Returns ``None`` when any
    row group lacks exact min/max stats — ``events_ts_bounds_ms`` then
    falls back to the Spark aggregate."""
    import datetime as _dt

    import pyarrow.parquet as pq

    epoch = _dt.datetime(1970, 1, 1, tzinfo=_dt.timezone.utc)

    def _ms(v) -> int:
        if isinstance(v, _dt.datetime):
            if v.tzinfo is None:
                v = v.replace(tzinfo=_dt.timezone.utc)
            us = (v - epoch) // _dt.timedelta(microseconds=1)
            return us // 1000
        # int64 nanos generation (nanosAsLong): ns -> us (DIV 1000,
        # matching _normalize_event_ts) -> ms
        return (int(v) // 1000) // 1000

    lo = hi = None
    for f in _parquet_files(table_path(sf_dir, name)):
        md = pq.ParquetFile(f).metadata
        try:
            idx = next(
                i
                for i in range(md.num_columns)
                if md.schema.column(i).name == ts_col
            )
        except StopIteration:
            return None
        for g in range(md.num_row_groups):
            st = md.row_group(g).column(idx).statistics
            if st is None or not st.has_min_max:
                return None
            gl, gh = _ms(st.min), _ms(st.max)
            lo = gl if lo is None else min(lo, gl)
            hi = gh if hi is None else max(hi, gh)
    if lo is None:
        return None
    return lo, hi


# DataFrames are immutable lazy plans — loading the same sf_dir twice
# yields identical plans, so memoize per (session, dir). Re-reading 10
# parquet footers per query call costs ~1 s each; a 20-query bench run
# spends more time in footer reads than in half its queries without this.
_TABLE_CACHE: dict[tuple[int, str], dict[str, DataFrame]] = {}


def load_tables(
    spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR
) -> dict[str, DataFrame]:
    key = (id(spark._jsparkSession), sf_dir)
    cached = _TABLE_CACHE.get(key)
    if cached is not None:
        return cached
    ensure_engine_conf(spark)
    # The physical type of events.ts has varied across driver data
    # generations (int64 TIMESTAMP(NANOS) in one, timestamp[us] in the
    # next). nanosAsLong makes the nanos variant readable at all (Spark's
    # reader rejects it otherwise) — it surfaces as BIGINT, which
    # _normalize_event_ts converts; the conf is a no-op for non-nanos data.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    parallelism = spark.sparkContext.defaultParallelism
    tables = {}
    for name in TABLE_NAMES:
        df = spark.read.parquet(table_path(sf_dir, name))
        # The driver's tables are single-row-group parquet files: the
        # scan yields ONE non-empty partition and every downstream
        # operator runs on one core. For the compute-per-row-heavy
        # tables (shingling, hashing, vector math) re-spread the scan
        # to cluster parallelism — the tiny shuffle buys back 32× on
        # every expression. Scan-bound relational tables stay as-read:
        # their aggs shuffle anyway and an extra exchange only hurts.
        # A properly laid-out big table (many files/row groups — the
        # 100 TB case) skips this branch. Sizing comes from parquet
        # footers (driver-side pyarrow, ~ms), not Spark jobs.
        if name in COMPUTE_HEAVY_TABLES:
            n_rows, n_groups = _parquet_layout(
                table_path(sf_dir, name), max_files=parallelism
            )
            if n_groups < parallelism:
                if name == "embeddings":
                    # vector ops are Arrow/BLAS batched mapInPandas:
                    # each task pays a fixed Arrow+worker round trip,
                    # so fuller batches beat raw fan-out on small
                    # corpora — spread to ~256 rows/partition, capped
                    # at cluster parallelism
                    df = df.repartition(min(parallelism, max(4, n_rows // 256)))
                else:
                    df = df.repartition(parallelism)
        _check_schema(name, df)
        if name == "events":
            df = _normalize_event_ts(df)
        tables[name] = df
    _TABLE_CACHE[key] = tables
    return tables


def events_ts_bounds_ms(spark: SparkSession, sf_dir: str) -> tuple[int, int]:
    """EXACT (min, max) epoch-milliseconds of ``events.ts``: the footer
    statistics (``ts_bounds_ms``), else one Spark aggregate over the
    loaded table when a row group lacks them. Both give the values
    ``agg(min(unix_millis(ts)), max(unix_millis(ts)))`` returns."""
    b = ts_bounds_ms(sf_dir)
    if b is not None:
        return b
    ms = F.unix_millis("ts")
    row = load_tables(spark, sf_dir)["events"].agg(F.min(ms), F.max(ms)).first()
    return row[0], row[1]


def register_views(
    spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR
) -> dict[str, DataFrame]:
    tables = load_tables(spark, sf_dir)
    for name, df in tables.items():
        df.createOrReplaceTempView(name)
    return tables
