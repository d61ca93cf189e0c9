"""Focused tests for the r15 OPTIMIZATION-round internal changes.

The r15 round's headline measurement fix is the FES_FORCE_DISTRIBUTED
routing override (flink_essentials_spark/routing.py): every bounded
single-task twin gate goes through routing.single_task_ok, and setting
the env var re-routes every gated family to its distributed member so
the 100 TB code paths are measurable again. These tests pin:

- the override actually flips routing (unit + an end-to-end query
  whose results must be IDENTICAL under both routes);
- capped_sessions' bucket count is data-derived (r14 verdict item 2:
  the fixed 64 was a per-task-memory hazard at scale);
- the dense-allocation guards from the r14 advice (item-cardinality
  cap in the association/SON/slope-one twins, the greedy_coverage
  materialized-size re-check, the IntegralType guard on the
  pagerank/hits/ppr twin routes).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

SF_DIR = "/root/testdata/sf0.001"


def _rows(df):
    return sorted(map(tuple, df.collect()))


def test_single_task_ok_unit(monkeypatch):
    from flink_essentials_spark import routing

    monkeypatch.delenv("FES_FORCE_DISTRIBUTED", raising=False)
    assert routing.single_task_ok(10, 100)
    assert not routing.single_task_ok(101, 100)
    assert not routing.single_task_ok(None, 100)
    assert not routing.single_task_ok(0, 100)
    monkeypatch.setenv("FES_FORCE_DISTRIBUTED", "1")
    assert routing.force_distributed()
    assert not routing.single_task_ok(10, 100)
    monkeypatch.setenv("FES_FORCE_DISTRIBUTED", "0")
    assert not routing.force_distributed()
    assert routing.single_task_ok(10, 100)


def test_single_task_map_one_call_over_every_batch(spark):
    """single_task_map calls its kernel exactly once, on one frame that
    holds every row of 4 input partitions split into many small Arrow
    batches; an empty input never calls it, and a kernel returning None
    or an empty frame yields no rows."""
    import pandas as pd

    from flink_essentials_spark.routing import single_task_map

    df = spark.range(0, 100, numPartitions=4).select(F.col("id").alias("v"))
    assert df.rdd.getNumPartitions() == 4

    def summary(pdf):
        return pd.DataFrame({"n": [len(pdf)], "s": [int(pdf["v"].sum())]})

    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "7")
    try:
        assert _rows(single_task_map(df, summary, "n long, s long")) == [
            (100, 4950)
        ]
        # summary answers one row even for zero rows, so no row here
        # means it was never called
        empty = df.filter("v < 0")
        assert not _rows(single_task_map(empty, summary, "n long, s long"))
        assert not _rows(single_task_map(df, lambda p: None, "v long"))
        assert not _rows(single_task_map(df, lambda p: p.iloc[:0], "v long"))
    finally:
        spark.conf.set(key, old)


def test_force_distributed_identical_results(spark, monkeypatch):
    """End-to-end: a twin-gated query must produce IDENTICAL rows with
    the override on and off (on = distributed ladder, off = single-task
    twin at this SF). peak_concurrency is the cheapest gated family."""
    import flink_essentials_spark.queries.llmdata as llm

    monkeypatch.delenv("FES_FORCE_DISTRIBUTED", raising=False)
    fast = _rows(llm.q_peak_concurrency(spark, SF_DIR))
    monkeypatch.setenv("FES_FORCE_DISTRIBUTED", "1")
    slow = _rows(llm.q_peak_concurrency(spark, SF_DIR))
    assert fast == slow and len(fast) > 0


def test_capped_session_buckets_data_derived():
    from flink_essentials_spark.operators.windows import (
        CAPPED_SESSION_ROWS_PER_BUCKET,
        capped_session_buckets,
    )

    # no hint → the 64 floor (local default, keeps partitions even)
    assert capped_session_buckets(None) == 64
    assert capped_session_buckets(0) == 64
    # under the floor's capacity → still the floor
    assert capped_session_buckets(63 * CAPPED_SESSION_ROWS_PER_BUCKET) == 64
    # at scale the count grows so one bucket never exceeds the per-task
    # row cap (the r14 hazard: fixed 64 ⇒ n/64 rows per task)
    n = 100 * CAPPED_SESSION_ROWS_PER_BUCKET + 1
    b = capped_session_buckets(n)
    assert b == 101 and -(-n // b) <= CAPPED_SESSION_ROWS_PER_BUCKET


def test_capped_sessions_explicit_buckets_still_win(spark):
    """An explicit num_buckets bypasses the derivation (API compat)."""
    import pandas as pd

    from flink_essentials_spark.operators.windows import capped_sessions

    df = spark.createDataFrame(
        pd.DataFrame(
            {
                "user_id": [1, 1, 2],
                "ts": pd.to_datetime([0, 10_000, 5_000], unit="ms", utc=True),
            }
        )
    )
    a = _rows(capped_sessions(df, "user_id", "ts", 60_000, 120_000,
                              num_buckets=3))
    b = _rows(capped_sessions(df, "user_id", "ts", 60_000, 120_000,
                              n_rows_hint=3))
    assert a == b and len(a) == 2


def test_item_cardinality_cap_raises():
    from flink_essentials_spark.functions.analytics import (
        ASSOC_SINGLE_TASK_ITEMS,
        _check_item_cap,
    )

    _check_item_cap(ASSOC_SINGLE_TASK_ITEMS, "ok")  # at cap: fine
    with pytest.raises(ValueError, match="distributed plan"):
        _check_item_cap(ASSOC_SINGLE_TASK_ITEMS + 1, "over")


def test_pagerank_string_ids_twin_equals_distributed(spark, monkeypatch):
    """String node ids route to the (r15 string-capable) twin and must
    equal the distributed ladder; float ids must NOT route (silent
    truncation — the r14 advice); hits still guards on IntegralType."""
    import flink_essentials_spark.functions.graph as g

    e = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a")], ["src", "dst"]
    )
    fast = _rows(
        g.pagerank(e, iterations=2, n_edges_hint=3)
        .select("node", F.round("rank", 6).alias("rank"))
    )
    monkeypatch.setenv("FES_FORCE_DISTRIBUTED", "1")
    slow = _rows(
        g.pagerank(e, iterations=2, n_edges_hint=3)
        .select("node", F.round("rank", 6).alias("rank"))
    )
    monkeypatch.delenv("FES_FORCE_DISTRIBUTED")
    assert fast == slow and {r[0] for r in fast} == {"a", "b", "c"}
    h = g.hits(e, iterations=1, n_edges_hint=3)
    assert h.count() == 3
    ef = spark.createDataFrame(
        [(1.5, 2.5), (2.5, 3.5)], ["src", "dst"]
    )
    out = g.pagerank(ef, iterations=1, n_edges_hint=2)
    assert "MapInPandas" not in out._jdf.queryExecution().logical().toString()


def _events_sample(spark):
    from flink_essentials_spark.tables import load_tables
    from flink_essentials_spark.queries.util import cents

    ev = load_tables(spark, SF_DIR)["events"]
    return ev.select(
        "event_type",
        F.unix_millis(F.col("ts")).alias("ts_ms"),
        "event_id",
        cents("value").alias("v"),
    )


def test_spearman_single_task_equals_banded(spark):
    """The one-Arrow-task Spearman twin must equal the banded-rank
    ladder bit for bit: identical exact BIGINT moments, identical
    cast-to-double normal-equation tail."""
    from flink_essentials_spark.functions import timeseries as ts

    ev = _events_sample(spark)
    fast = _rows(
        ts._spearman_rho_single_task(
            ev, "event_type", ["ts_ms", "event_id"], "v"
        )
    )
    slow = _rows(
        ts.spearman_rho(ev, "event_type", ["ts_ms", "event_id"], "v")
    )
    assert fast == slow and len(fast) > 0


def test_kendall_single_task_equals_banded(spark):
    """The mergesort-inversion Kendall twin must equal the banded
    inclusion-exclusion decomposition exactly (every count BIGINT,
    tau one division against a pinned sqrt)."""
    from flink_essentials_spark.functions import timeseries as ts

    ev = _events_sample(spark)
    fast = _rows(
        ts._kendall_tau_single_task(
            ev, "event_type", ["ts_ms", "event_id"], "v"
        )
    )
    slow = _rows(
        ts.kendall_tau(ev, "event_type", ["ts_ms", "event_id"], "v")
    )
    assert fast == slow and len(fast) > 0


def test_strict_inversions_matches_bruteforce():
    import numpy as np

    from flink_essentials_spark.functions.timeseries import (
        _count_inversions,
        _strict_inversions_np,
    )

    rng = np.random.RandomState(7)
    for n in (0, 1, 2, 3, 5, 17, 64, 100, 257):
        v = rng.randint(0, 8, size=n).astype(np.int64)  # heavy ties
        assert _strict_inversions_np(v) == _count_inversions(v.tolist())
        w = rng.randint(-(10**12), 10**12, size=n).astype(np.int64)
        assert _strict_inversions_np(w) == _count_inversions(w.tolist())


def test_banded_rank_single_task_equals_ladder(spark):
    """The one-lexsort banded_rank twin must assign the IDENTICAL
    1-based per-key row ranks as the banded ladder on a deterministic
    ordering (value + unique tiebreak), per-key and global forms."""
    from flink_essentials_spark.functions import timeseries as ts
    from flink_essentials_spark.tables import load_tables

    docs = load_tables(spark, SF_DIR)["documents"].select(
        "source", "doc_id", "n_chars"
    )
    for keys in (["source"], []):
        fast = _rows(
            ts._banded_rank_single_task(
                docs, keys, "n_chars", ["doc_id"], "rk"
            )
        )
        slow = _rows(
            ts.banded_rank(docs, keys, "n_chars", ["doc_id"], rank_col="rk")
        )
        assert fast == slow and len(fast) > 0


def test_banded_rank_hint_routes_and_respects_override(spark, monkeypatch):
    """A numeric-sort hint under the bound routes to the twin (single
    mapInArrow plan, no window); FES_FORCE_DISTRIBUTED restores the
    ladder. A non-numeric tiebreak must never route."""
    from flink_essentials_spark.functions import timeseries as ts
    from flink_essentials_spark.tables import load_tables

    docs = load_tables(spark, SF_DIR)["documents"].select(
        "source", "doc_id", "n_chars"
    )
    monkeypatch.delenv("FES_FORCE_DISTRIBUTED", raising=False)
    fast = ts.banded_rank(
        docs, ["source"], "n_chars", ["doc_id"], rank_col="rk",
        n_rows_hint=100,
    )
    assert "MapInArrow" in fast._jdf.queryExecution().logical().toString()
    monkeypatch.setenv("FES_FORCE_DISTRIBUTED", "1")
    slow = ts.banded_rank(
        docs, ["source"], "n_chars", ["doc_id"], rank_col="rk",
        n_rows_hint=100,
    )
    assert "MapInArrow" not in slow._jdf.queryExecution().logical().toString()
    monkeypatch.delenv("FES_FORCE_DISTRIBUTED", raising=False)
    txt = docs.withColumn("sid", F.col("doc_id").cast("string"))
    nonnum = ts.banded_rank(
        txt, ["source"], "n_chars", ["sid"], rank_col="rk", n_rows_hint=100
    )
    assert "MapInArrow" not in nonnum._jdf.queryExecution().logical().toString()


def test_grouped_topk_equals_banded_rank_filter(spark):
    """grouped_topk (a bounded top-K: WindowGroupLimit with keys,
    TakeOrderedAndProject without) must equal banded_rank +
    filter(rk<=k), per key and global, with a null, a NaN and a tie in
    the sort column — ascending, so nulls first and NaN last, ties
    broken by doc_id."""
    from flink_essentials_spark.functions import timeseries as ts
    from flink_essentials_spark.tables import load_tables

    docs = load_tables(spark, SF_DIR)["documents"].select(
        "source",
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("n_chars").cast("double").alias("v"),
    )
    edge = spark.createDataFrame(
        [("edge", -1, None), ("edge", -2, float("nan")),
         ("edge", -3, 7.0), ("edge", -4, 7.0)],
        "source string, doc_id long, v double",
    )
    df = docs.unionByName(edge)

    def rows(frame):
        return {
            (r["source"], r["doc_id"]): (repr(r["v"]), r["rk"])
            for r in frame.collect()
        }

    order = [F.col("v").asc(), F.col("doc_id").asc()]
    for frame, keys in ((df, ["source"]), (df, []), (edge, [])):
        fast = rows(ts.grouped_topk(frame, keys, order, k=7, rank_col="rk"))
        slow = rows(
            ts.banded_rank(frame, keys, "v", ["doc_id"], rank_col="rk")
            .filter(F.col("rk") <= 7)
        )
        assert fast == slow and len(fast) > 0, keys


def test_grouped_topk_rejects_undirected_order_and_k_above_limit(spark):
    """An order column without a stated direction, or a keyed k above
    spark.sql.optimizer.windowGroupLimitThreshold (where Spark plans no
    partial limit before the shuffle), raises ValueError."""
    from flink_essentials_spark.functions import timeseries as ts

    df = spark.range(10).select((F.col("id") % 2).alias("k"), "id")
    with pytest.raises(ValueError, match="direction"):
        ts.grouped_topk(df, ["k"], [F.col("id")], k=3)
    limit = int(
        spark.conf.get("spark.sql.optimizer.windowGroupLimitThreshold")
    )
    with pytest.raises(ValueError, match="windowGroupLimitThreshold"):
        ts.grouped_topk(df, ["k"], [F.col("id").asc()], k=limit + 1)
    assert ts.grouped_topk(df, [], [F.col("id").asc()], k=limit + 1).count() == 10


def test_ecdf_cums_single_task_equals_ladder(spark):
    """The one-task ECDF twin must reproduce the banded ladder's full
    column set exactly: per-(key, value) ca/cb, inclusive cumulative
    counts, key totals, bands and band offsets — a null key included,
    as its own group."""
    import collections

    from flink_essentials_spark.functions import timeseries as ts
    from flink_essentials_spark.queries.util import cents
    from flink_essentials_spark.tables import load_tables

    ev = load_tables(spark, SF_DIR)["events"].select(
        "event_type",
        (F.col("user_id") % 2 == 0).alias("is_a"),
        cents("value").alias("v"),
    )
    ev = ev.union(
        spark.createDataFrame(
            [(None, True, 5), (None, False, 5), (None, True, -3)], ev.schema
        )
    )
    cols = [
        "__k", "__v", "__ca", "__cb", "__lo", "__hi", "__na", "__nb",
        "__band", "__oa", "__ob", "__cuma", "__cumb",
    ]

    def rows(df):  # a null key does not sort against strings
        return collections.Counter(map(tuple, df.select(*cols).collect()))

    fast = rows(ts._ecdf_cums_single_task(ev, "event_type", "is_a", "v", 64))
    slow = rows(ts._ecdf_cums(ev, "event_type", "is_a", "v", 64))
    assert fast == slow and len(fast) > 0
    assert sum(n for r, n in fast.items() if r[0] is None) == 2


def test_exact_quantiles_single_task_equals_ladder(spark):
    """The one-np.sort quantile twin must equal the multi-pass
    histogram-refinement ladder exactly (both pick the true
    ceil(q*n)-th smallest integer)."""
    from flink_essentials_spark.functions import approx
    from flink_essentials_spark.queries.util import cents
    from flink_essentials_spark.tables import load_tables

    ev = load_tables(spark, SF_DIR)["events"].select(
        cents("value").alias("v")
    )
    qs = [(1, 2), (19, 20), (99, 100)]
    fast = _rows(approx._exact_quantiles_single_task(ev, "v", qs))
    slow = _rows(approx.exact_quantiles(ev, "v", qs))
    assert fast == slow and len(fast) == 3
