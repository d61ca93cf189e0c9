"""Focused tests for the r14 OPTIMIZATION-round internal changes.

Each optimization keeps a query's declared results identical (the
oracle gate pins that end to end); these tests pin the changed
INTERNALS so a future edit can't silently break an equivalence the
optimization relies on:

- incremental_duplicate_spans(screen=False) writes the same store
  rows as the screening path and returns None;
- the Mondrian bounded single-task cell ladder equals the original
  distributed row-level rounds;
- tables.events_ts_bounds_ms (parquet footer stats, else the Spark
  fallback) equals the Spark bounds aggregate, per scale factor and
  with the stats stripped;
- source_overlap(gs_df=...) equals the self-computed path.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

SF_DIR = "/root/testdata/sf0.001"


def _rows(df):
    return sorted(map(tuple, df.collect()))


def test_incremental_spans_build_only_store_parity(spark, tmp_path):
    """screen=False must write byte-identical store state (same
    distinct (doc_id, whash) rows in the same epoch dir) and return
    None — it exists purely to skip the span computation the
    store-build caller discards."""
    from flink_essentials_spark.functions import dedup

    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta eta theta " * 4),
            (2, "alpha beta gamma delta epsilon zeta eta theta " * 4),
            (3, "unrelated words only here nothing shared at all " * 4),
        ],
        "doc_id long, text string",
    )
    s_screen = str(tmp_path / "screen")
    s_build = str(tmp_path / "build")
    out = dedup.incremental_duplicate_spans(
        docs, s_screen, window=40, epoch_id=0
    )
    assert out is not None  # default path still screens
    ret = dedup.incremental_duplicate_spans(
        docs, s_build, window=40, epoch_id=0, screen=False
    )
    assert ret is None
    a = spark.read.parquet(os.path.join(s_screen, "window_hashes", "epoch=0"))
    b = spark.read.parquet(os.path.join(s_build, "window_hashes", "epoch=0"))
    assert _rows(a) == _rows(b)
    # and a later screening batch sees identical prior state
    late = docs.filter(F.col("doc_id") == 2)
    sa = dedup.incremental_duplicate_spans(late, s_screen, window=40, epoch_id=1)
    sb = dedup.incremental_duplicate_spans(late, s_build, window=40, epoch_id=1)
    assert _rows(sa) == _rows(sb)


def test_mondrian_cell_ladder_equals_distributed_rounds(spark):
    """The bounded single-task cell ladder must reproduce the original
    distributed row-level rounds EXACTLY (same regions, counts and
    released ranges) — cell counts are sufficient statistics for every
    split decision and for the output."""
    from flink_essentials_spark.queries import llmdata
    from flink_essentials_spark.queries.util import cents
    from flink_essentials_spark.tables import load_tables

    k, rounds = llmdata.MONDRIAN_K, llmdata.MONDRIAN_ROUNDS
    fast = llmdata.q_mondrian_anon(spark, SF_DIR)

    # original distributed recurrence, verbatim (the fallback path)
    cust = load_tables(spark, SF_DIR)["customer"]
    rows = cust.select(
        F.col("c_custkey").alias("id"),
        F.col("c_nationkey").cast("long").alias("d1"),
        F.floor(cents("c_acctbal") / F.lit(10000)).cast("long").alias("d2"),
        F.lit(0).cast("long").alias("region"),
    ).localCheckpoint()
    for _ in range(rounds):
        long = rows.select(
            "region",
            F.explode(
                F.array(
                    F.struct(
                        F.lit(1).cast("long").alias("dim"),
                        F.col("d1").alias("v"),
                    ),
                    F.struct(
                        F.lit(2).cast("long").alias("dim"),
                        F.col("d2").alias("v"),
                    ),
                )
            ).alias("e"),
        ).select("region", F.col("e.dim").alias("dim"), F.col("e.v").alias("v"))
        cnts = long.groupBy("region", "dim", "v").agg(
            F.count(F.lit(1)).alias("c")
        )
        stats = cnts.groupBy("region", "dim").agg(
            F.min("v").alias("lo"),
            F.max("v").alias("hi"),
            F.sum("c").alias("n"),
            F.sort_array(F.collect_list(F.struct("v", "c"))).alias("vc"),
        )
        med = F.aggregate(
            "vc",
            F.struct(
                F.lit(0).cast("long").alias("cum"),
                F.lit(None).cast("long").alias("med"),
            ),
            lambda acc, x: F.struct(
                (acc["cum"] + x["c"]).alias("cum"),
                F.when(
                    acc["med"].isNull()
                    & (acc["cum"] + x["c"] >= F.expr("(n + 1) div 2")),
                    x["v"],
                )
                .otherwise(acc["med"])
                .alias("med"),
            ),
        )["med"]
        choice = (
            stats.select(
                "region",
                "dim",
                (F.col("hi") - F.col("lo")).alias("rng"),
                med.alias("med"),
            )
            .groupBy("region")
            .agg(
                F.max(
                    F.struct(
                        F.col("rng"),
                        (-F.col("dim")).alias("nd"),
                        F.col("dim"),
                        F.col("med"),
                    )
                ).alias("ch")
            )
            .select(
                "region",
                F.col("ch.dim").alias("cdim"),
                F.col("ch.med").alias("cmed"),
            )
        )
        tagged = rows.join(F.broadcast(choice), "region").withColumn(
            "side",
            (
                F.when(F.col("cdim") == 1, F.col("d1")).otherwise(F.col("d2"))
                > F.col("cmed")
            ).cast("long"),
        )
        sc_ = tagged.groupBy("region").agg(
            F.sum("side").alias("nr"), F.count(F.lit(1)).alias("nt")
        )
        ok = (F.col("nt") - F.col("nr") >= k) & (F.col("nr") >= k)
        rows = (
            tagged.join(F.broadcast(sc_), "region")
            .select(
                "id",
                "d1",
                "d2",
                F.when(ok, 2 * F.col("region") + F.col("side"))
                .otherwise(2 * F.col("region"))
                .alias("region"),
            )
            .localCheckpoint()
        )
    ref = rows.groupBy("region").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("d1").alias("d1_lo"),
        F.max("d1").alias("d1_hi"),
        F.min("d2").alias("d2_lo"),
        F.max("d2").alias("d2_hi"),
    )
    assert _rows(fast) == _rows(ref)


@pytest.mark.parametrize(
    "sf_dir",
    ["/root/testdata/sf0.001", "/root/testdata/sf0.01", "stats stripped"],
)
def test_ts_bounds_ms_equals_spark_agg(spark, sf_dir, request):
    """events_ts_bounds_ms equals the Spark bounds aggregate: from the
    footer stats the driver testdata carries, and through the Spark
    fallback on a copy written without statistics."""
    from flink_essentials_spark.tables import (
        events_ts_bounds_ms,
        load_tables,
        ts_bounds_ms,
    )

    stripped = sf_dir == "stats stripped"
    if stripped:
        sf_dir = request.getfixturevalue("stripped_sf")
    assert (ts_bounds_ms(sf_dir) is None) == stripped
    ev = load_tables(spark, sf_dir)["events"]
    ref = ev.agg(
        F.min(F.unix_millis("ts")).alias("lo"),
        F.max(F.unix_millis("ts")).alias("hi"),
    ).first()
    assert events_ts_bounds_ms(spark, sf_dir) == (ref["lo"], ref["hi"])


def test_ts_bounds_ms_missing_stats_returns_none(tmp_path):
    """A parquet file without ts statistics must fall back (None), not
    produce wrong bounds."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from flink_essentials_spark.tables import ts_bounds_ms

    tbl = pa.table(
        {"ts": pa.array([1, 2, 3], pa.int64()), "v": pa.array([1, 2, 3])}
    )
    d = tmp_path / "sfx"
    d.mkdir()
    pq.write_table(
        tbl, str(d / "events.parquet"), write_statistics=False
    )
    assert ts_bounds_ms(str(d)) is None


def test_kmeans_pp_single_task_equals_distributed(spark):
    """The bounded single-task k-means++/Lloyd pass (n_rows_hint under
    the bound) must emit row-for-row identical stats to the multi-job
    distributed path — same seeding argmax, same guarded int64
    distances, same exact update sums."""
    import numpy as np

    from flink_essentials_spark.functions.similarity import kmeans_pp_stats

    rng = np.random.default_rng(77)
    n, dim = 80, 8
    X = rng.normal(size=(n, dim)).astype(np.float32)
    df = spark.createDataFrame(
        [(i + 1, [float(x) for x in X[i]]) for i in range(n)],
        "vec_id long, embedding array<float>",
    )
    slow = kmeans_pp_stats(df, k=4, iters=3, dim_hint=dim)
    fast = kmeans_pp_stats(df, k=4, iters=3, dim_hint=dim, n_rows_hint=n)
    assert _rows(fast) == _rows(slow)


def test_eps_pair_generators_single_task_equal_distributed(spark):
    """Both eps-pair generators' bounded single-task twins must emit
    the identical pair SET with identical exact d2 — same
    quantization, same sign matrix / block arithmetic (float64
    matmuls over exact integers below 2^53 are bit-identical to the
    int64 path)."""
    from flink_essentials_spark.functions.similarity import (
        auto_blocks,
        euclid_eps_pairs,
        simhash_eps_pairs,
    )
    from flink_essentials_spark.queries.llmdata import HDBSCAN_EMBED_EPS2
    from flink_essentials_spark.tables import load_tables, table_rows

    emb = load_tables(spark, SF_DIR)["embeddings"]
    n = table_rows(SF_DIR, "embeddings")
    ex_fast = euclid_eps_pairs(
        emb, HDBSCAN_EMBED_EPS2, num_blocks=auto_blocks(n), n_rows_hint=n
    )
    ex_slow = euclid_eps_pairs(
        emb, HDBSCAN_EMBED_EPS2, num_blocks=auto_blocks(n)
    )
    assert _rows(ex_fast) == _rows(ex_slow)
    # fewer tables keeps the distributed reference cheap in CI
    kw = dict(num_tables=40, bits=6)
    ann_fast = simhash_eps_pairs(
        emb, HDBSCAN_EMBED_EPS2, n_rows_hint=n, **kw
    )
    ann_slow = simhash_eps_pairs(emb, HDBSCAN_EMBED_EPS2, **kw)
    rf = _rows(ann_fast)
    assert rf == _rows(ann_slow) and len(rf) > 0


def test_chrf_single_task_equals_relational(spark):
    """The bounded single-task chrF pass must emit row-for-row
    identical results to the relational explode+join path — same
    java-\\s strip, same md5 sample, same exact-int clipped matches,
    same single-division ratios and fixed IEEE chrf2 chain."""
    import flink_essentials_spark.queries.llmdata as llm
    from flink_essentials_spark.tables import load_tables, table_rows

    assert table_rows(SF_DIR, "documents") <= llm.CHRF_SINGLE_TASK_ROWS
    fast = llm.q_chrf_pairs(spark, SF_DIR)  # dispatches to single-task
    orig = llm.CHRF_SINGLE_TASK_ROWS
    llm.CHRF_SINGLE_TASK_ROWS = 0  # force the relational path
    try:
        slow = llm.q_chrf_pairs(spark, SF_DIR)
        assert _rows(fast) == _rows(slow)
    finally:
        llm.CHRF_SINGLE_TASK_ROWS = orig


def test_lpa_single_task_equals_distributed(spark):
    """The bounded single-task LPA twin must equal the per-round
    shuffle ladder exactly — including drop-out semantics on
    asymmetric inputs (a node receiving no labeled incident weight
    leaves the label frame)."""
    from flink_essentials_spark.functions.graph import label_propagation

    # asymmetric, weighted, with a pure-sink node (4) and ties
    edges = spark.createDataFrame(
        [
            (1, 2, 3),
            (2, 1, 3),
            (2, 3, 1),
            (3, 2, 1),
            (1, 3, 2),
            (3, 1, 2),
            (5, 4, 7),
            (1, 4, 7),
        ],
        "src long, dst long, w long",
    )
    for iters in (0, 1, 3):
        fast = label_propagation(
            edges, iterations=iters, weight_col="w", n_edges_hint=8
        )
        slow = label_propagation(edges, iterations=iters, weight_col="w")
        assert _rows(fast) == _rows(slow), f"iterations={iters}"


def test_ppr_single_task_equals_distributed(spark):
    """The bounded single-task personalized-PageRank twin must equal
    the distributed ladder after the declared round(·, 6) (the
    contribution-sum ulp contract), including an off-graph seed."""
    from flink_essentials_spark.functions.graph import personalized_pagerank

    edges = spark.createDataFrame(
        [
            (1, 2, 2),
            (2, 3, 1),
            (3, 1, 4),
            (1, 3, 1),
            (3, 2, 2),
            (4, 1, 1),
        ],
        "src long, dst long, cnt long",
    )

    def rounded(df):
        return _rows(
            df.select("seed", "node", F.round("rank", 6).alias("r"))
        )

    seeds = [1, 4, 99]  # 99 is not in the graph
    fast = personalized_pagerank(
        edges, seeds, iterations=3, weight_col="cnt", n_edges_hint=6
    )
    slow = personalized_pagerank(edges, seeds, iterations=3, weight_col="cnt")
    assert rounded(fast) == rounded(slow)


def test_bleu_single_task_equals_relational(spark):
    """The bounded single-task BLEU-2 pass must emit row-for-row
    identical results to the relational path — same ASCII tokenizer,
    same exact-int clipped matches, same rounded score."""
    import flink_essentials_spark.queries.llmdata as llm
    from flink_essentials_spark.tables import table_rows

    assert table_rows(SF_DIR, "documents") <= llm.CHRF_SINGLE_TASK_ROWS
    fast = llm.q_bleu_pairs(spark, SF_DIR)
    orig = llm.CHRF_SINGLE_TASK_ROWS
    llm.CHRF_SINGLE_TASK_ROWS = 0
    try:
        slow = llm.q_bleu_pairs(spark, SF_DIR)
        assert _rows(fast) == _rows(slow)
    finally:
        llm.CHRF_SINGLE_TASK_ROWS = orig


def test_hll_pair_algebra_single_task_equals_relational(spark):
    """The bounded single-task pair-algebra pass (register table under
    the bound) must emit row-for-row identical estimates to the
    relational path — same exact-int register merges, same repr'd
    alpha/LUT literals, same HALF_UP rounding as Spark's Round."""
    from flink_essentials_spark.functions import approx
    from flink_essentials_spark.functions.dedup import _shingles
    from flink_essentials_spark.tables import load_tables

    docs = load_tables(spark, SF_DIR)["documents"]
    sh = docs.select(
        F.col("source").alias("g"),
        F.explode(_shingles(F.col("text"), 3)).alias("sh"),
    )
    regs = approx.hll_registers(sh, ["g"], "sh", p=8).localCheckpoint()
    fast = approx.hll_pair_algebra(regs, p=8)
    slow = approx.hll_pair_algebra(regs, p=8, single_task_bound=0)
    assert _rows(fast) == _rows(slow)


def test_source_overlap_gs_df_param_equivalent(spark):
    from flink_essentials_spark.functions.dedup import _shingles, source_overlap
    from flink_essentials_spark.tables import load_tables

    docs = load_tables(spark, SF_DIR)["documents"]
    default = source_overlap(docs, n=3)
    gs = (
        docs.select(
            F.col("source").alias("g"),
            F.explode(_shingles(F.col("text"), 3)).alias("shingle"),
        )
        .distinct()
        .localCheckpoint()
    )
    shared = source_overlap(docs, n=3, gs_df=gs)
    assert _rows(default) == _rows(shared)


def test_capped_sessions_vectorized_equals_naive_recurrence(spark):
    """The bucketed/vectorized capped_sessions must emit exactly the
    sessions of the textbook per-event recurrence (new session iff
    t - prev > gap OR t - anchor > cap), including boundary ties,
    duplicate timestamps, and single-event keys."""
    import random

    from flink_essentials_spark.operators.windows import capped_sessions

    rng = random.Random(14)
    gap, cap = 50, 170
    rows = []
    for k in range(1, 24):
        t = rng.randrange(0, 100)
        for _ in range(rng.randrange(1, 60)):
            rows.append((k, t))
            # mix of: ties, exactly-gap steps (continue), gap+1 breaks,
            # and long runs that must trip the duration cap
            t += rng.choice([0, 1, 7, gap, gap, gap + 1, 160])
    rng.shuffle(rows)

    def naive(rows):
        from collections import defaultdict

        by_k = defaultdict(list)
        for k, t in rows:
            by_k[k].append(t)
        out = []
        for k, ts in by_k.items():
            ts.sort()
            anchor = prev = None
            n = 0
            for t in ts:
                if anchor is None or t - prev > gap or t - anchor > cap:
                    if anchor is not None:
                        out.append((k, anchor, prev, n))
                    anchor, n = t, 0
                prev = t
                n += 1
            out.append((k, anchor, prev, n))
        return sorted(out)

    df = spark.createDataFrame(
        [(k, t) for k, t in rows], "user_id long, ms long"
    ).select("user_id", F.timestamp_millis(F.col("ms")).alias("ts"))
    got = sorted(
        (r.key, r.session_start_ms, r.session_end_ms, r.n_events)
        for r in capped_sessions(df, "user_id", "ts", gap, cap).collect()
    )
    assert got == naive(rows)


def test_slope_one_single_task_equals_relational(spark):
    """The bincount single-task slope-one twin must equal the
    relational self-join + banded-rank path row for row (same top-20
    under the (−|dev_num|, supp_a, supp_b) order)."""
    import flink_essentials_spark.queries.llmdata as llm

    sf = "/root/testdata/sf0.01"
    tp = llm._trade_pairs(spark, sf)
    fast = _rows(llm._slope_one_devs_single_task(tp))
    # force the distributed path by lying about the bound
    orig = llm.SLOPE_ONE_SINGLE_TASK_ROWS
    llm.SLOPE_ONE_SINGLE_TASK_ROWS = 0
    try:
        slow = _rows(llm.q_slope_one_devs(spark, sf))
    finally:
        llm.SLOPE_ONE_SINGLE_TASK_ROWS = orig
    assert fast == slow


def test_dbscan_single_task_equals_distributed(spark):
    """The dense single-task DBSCAN twin must equal the cell-bucketed
    distributed member row for row (roles, min-id cluster labels,
    border min-adjacent assignment)."""
    import flink_essentials_spark.functions.graph as g
    from flink_essentials_spark.queries.util import cents
    from flink_essentials_spark.tables import load_tables

    t = load_tables(spark, "/root/testdata/sf0.01")
    f = (
        t["events"]
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("x"),
            F.floor(F.sum(cents("value")) / F.lit(10000)).alias("y"),
        )
    )
    fast = _rows(g.dbscan_2d(f, "user_id", "x", "y", eps=4, min_samples=5))
    orig = g.DBSCAN_SINGLE_TASK_POINTS
    g.DBSCAN_SINGLE_TASK_POINTS = 0
    try:
        slow = _rows(
            g.dbscan_2d(f, "user_id", "x", "y", eps=4, min_samples=5)
        )
    finally:
        g.DBSCAN_SINGLE_TASK_POINTS = orig
    assert fast == slow


def test_hdbscan_mst_single_task_equals_boruvka(spark):
    """The single-task 2-D HDBSCAN forest twin must equal
    boruvka_mst(hdbscan_mr_edges_2d(...)) edge for edge (the forest is
    unique under the lexicographic (w, a, b) order), including the
    min-id component labels."""
    import flink_essentials_spark.functions.graph as g
    from flink_essentials_spark.queries.util import cents
    from flink_essentials_spark.tables import load_tables

    t = load_tables(spark, "/root/testdata/sf0.01")
    pts = (
        t["events"]
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("x"),
            F.floor(F.sum(cents("value")) / F.lit(10000)).alias("y"),
        )
    )
    fast = _rows(
        g.hdbscan_mst_2d_single_task(pts, "user_id", "x", "y", eps=4, k=5)
    )
    slow = _rows(
        g.boruvka_mst(
            g.hdbscan_mr_edges_2d(pts, "user_id", "x", "y", eps=4, k=5)
        )
    )
    assert fast == slow


def test_association_rules_single_task_equals_distributed(spark):
    """The bincount single-task Apriori twin must equal the
    distributed prune/explode member row for row (rules, counts, and
    the exact-division confidence/lift doubles)."""
    import flink_essentials_spark.functions.analytics as an
    from flink_essentials_spark.tables import load_tables

    t = load_tables(spark, "/root/testdata/sf0.01")
    baskets = (
        t["lineitem"]
        .select("l_orderkey", "l_partkey")
        .join(
            t["part"].select("p_partkey", "p_brand"),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .select(F.col("l_orderkey").alias("order_id"), "p_brand")
    )
    fast = _rows(
        an._association_rules_single_task(
            baskets, "order_id", "p_brand", 11, 500, 0.0
        )
    )
    slow = _rows(
        an.association_rules(baskets, "order_id", "p_brand", 0.022)
    )
    assert fast == slow


def test_son_single_task_equals_two_pass(spark):
    """The single-task SON twin (exact pair counts + HAVING) must
    equal the two-pass partition-Apriori member row for row."""
    import flink_essentials_spark.functions.analytics as an
    from flink_essentials_spark.tables import load_tables

    t = load_tables(spark, "/root/testdata/sf0.01")
    baskets = (
        t["lineitem"]
        .select("l_orderkey", "l_partkey")
        .join(
            t["part"].select("p_partkey", "p_brand"),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .select(F.col("l_orderkey").alias("order_id"), "p_brand")
    )
    fast = _rows(
        an._son_frequent_pairs_single_task(
            baskets, "order_id", "p_brand", 11, 500
        )
    )
    slow = _rows(
        an.son_frequent_pairs(baskets, "order_id", "p_brand", 11, 500)
    )
    assert fast == slow


def _trade_edges(spark, symmetric=True):
    import flink_essentials_spark.queries.llmdata as llm

    pairs = llm._trade_pairs(spark, "/root/testdata/sf0.01")
    c = F.col("cust")
    s = F.col("supp") + 1000000000
    e = pairs.select(c.alias("src"), s.alias("dst"), "cnt")
    if symmetric:
        e = e.unionByName(pairs.select(s.alias("src"), c.alias("dst"), "cnt"))
    return e


def test_pagerank_single_task_equals_distributed(spark):
    """The bincount single-task PageRank twin must equal the
    iterate-join ladder after the declared round(…,6) (the same
    last-ulp tolerance the oracle absorbs)."""
    import flink_essentials_spark.functions.graph as g

    e = _trade_edges(spark)
    fast = _rows(
        g._pagerank_single_task(e, 3, 0.85, "src", "dst", "cnt")
        .select("node", F.round("rank", 6).alias("rank"))
    )
    slow = _rows(
        g.pagerank(e, iterations=3, damping=0.85, weight_col="cnt")
        .select("node", F.round("rank", 6).alias("rank"))
    )
    assert fast == slow


def test_hits_single_task_equals_distributed(spark):
    """The int64 scatter-add single-task HITS twin must equal the
    half-step join ladder bit for bit (exact BIGINT scores)."""
    import flink_essentials_spark.functions.graph as g

    e = _trade_edges(spark, symmetric=False).select("src", "dst")
    fast = _rows(g._hits_single_task(e, 2, "src", "dst"))
    slow = _rows(g.hits(e, iterations=2))
    assert fast == slow


def test_kmv_set_ops_single_task_equals_relational(spark):
    """The single-task KMV pair-algebra twin must equal the
    relational sketch + pair_estimates path row for row, including
    the single-division estimate doubles."""
    import flink_essentials_spark.queries.llmdata as llm

    sf = "/root/testdata/sf0.01"
    orig = llm.KMV_SINGLE_TASK_DOCS
    llm.KMV_SINGLE_TASK_DOCS = 0
    try:
        slow = _rows(llm.q_kmv_set_ops(spark, sf))
    finally:
        llm.KMV_SINGLE_TASK_DOCS = orig
    fast = _rows(llm.q_kmv_set_ops(spark, sf))
    assert fast == slow


def test_knn_hubness_single_task_equals_blocked(spark):
    """The single-task hubness twin must equal the blocked member on
    both the exact and the md5-sampled form (same codebook, same
    composite-key k-NN sets, same pinned moment arithmetic)."""
    import flink_essentials_spark.functions.similarity as sim
    from flink_essentials_spark.tables import load_tables

    emb = load_tables(spark, "/root/testdata/sf0.01")["embeddings"]
    for hx in (None, 8):
        fast = _rows(
            sim._knn_hubness_single_task(emb, 5, "vec_id", "embedding", 255, hx)
        )
        slow = _rows(sim.knn_hubness(emb, k=5, num_blocks=3, sample_hex=hx))
        assert fast == slow, hx


def test_greedy_coverage_single_task_equals_driver_loop(spark):
    """The single-task greedy-coverage twin must equal the driver-loop
    member row for row, including the gain>0 candidate rule."""
    import flink_essentials_spark.functions.analytics as an
    from flink_essentials_spark.functions.text import ngrams_col
    from flink_essentials_spark.operators.transform import tokenize
    from flink_essentials_spark.tables import load_tables

    t = load_tables(spark, "/root/testdata/sf0.01")
    pairs = t["documents"].select(
        "source",
        F.explode(ngrams_col(tokenize(F.col("text")), 3)).alias("t"),
    )
    fast = _rows(
        an._greedy_coverage_single_task(
            pairs.select(
                F.col("source").alias("g"), F.col("t").alias("it")
            ).distinct(),
            3,
        )
    )
    slow = _rows(an.greedy_coverage(pairs, "source", "t", k=3))
    assert fast == slow


def test_peak_concurrency_single_task_equals_banded(spark):
    """The sweep-line single-task twin must equal the banded-ECDF
    member row for row (peak, first instant, counts) — the banded
    body is invoked directly here since the query routes by a table
    bound."""
    import flink_essentials_spark.queries.llmdata as llm
    from flink_essentials_spark.tables import load_tables

    sf = "/root/testdata/sf0.01"
    fast = _rows(llm.q_peak_concurrency(spark, sf))
    from pyspark.sql import functions as F2
    from flink_essentials_spark.functions.timeseries import _ecdf_cums

    ev = load_tables(spark, sf)["events"].select(
        "event_type", F2.unix_millis(F2.col("ts")).alias("t")
    )
    pts = ev.select(
        "event_type", F2.lit(True).alias("is_start"), F2.col("t").alias("v")
    ).unionByName(
        ev.select(
            "event_type",
            F2.lit(False).alias("is_start"),
            (F2.col("t") + F2.lit(3600000)).alias("v"),
        )
    )
    cum = _ecdf_cums(pts, "event_type", "is_start", "v", 64)
    act = F2.col("__cuma") - F2.col("__cumb")
    best = cum.groupBy("__k").agg(
        F2.max("__na").alias("n_events"),
        F2.min(
            F2.struct((-act).alias("na"), F2.col("__v").alias("v"))
        ).alias("b"),
    )
    slow = _rows(
        best.select(
            F2.col("__k").alias("event_type"),
            "n_events",
            (-F2.col("b.na")).cast("long").alias("peak"),
            F2.col("b.v").cast("long").alias("first_peak_ms"),
        )
    )
    assert fast == slow


def test_mst_from_canon_single_task_equals_boruvka(spark):
    """The canon-pair-table MST twin (core2 + mutual reachability +
    Kruskal in one task) must equal the pairs/core/Borůvka pipeline
    edge for edge on the embed-family eps-graph."""
    import flink_essentials_spark.functions.graph as g
    import flink_essentials_spark.queries.llmdata as llm
    from flink_essentials_spark.functions.similarity import (
        auto_blocks,
        euclid_eps_pairs,
    )
    from flink_essentials_spark.tables import load_tables, table_rows

    sf = "/root/testdata/sf0.01"
    emb = load_tables(spark, sf)["embeddings"]
    n = table_rows(sf, "embeddings")
    canon = euclid_eps_pairs(
        emb, llm.HDBSCAN_EMBED_EPS2, num_blocks=auto_blocks(n), n_rows_hint=n
    ).localCheckpoint()
    fast = _rows(
        g.hdbscan_mst_from_canon_single_task(canon, llm.HDBSCAN_EMBED_K)
    )
    pairs = (
        canon.select(
            F.col("vec_a").alias("pid"), F.col("vec_b").alias("qid"), "d2"
        )
        .unionByName(
            canon.select(
                F.col("vec_b").alias("pid"),
                F.col("vec_a").alias("qid"),
                "d2",
            )
        )
        .localCheckpoint()
    )
    core = (
        pairs.groupBy("pid")
        .agg(
            F.count(F.lit(1)).alias("n_eps"),
            F.sort_array(F.collect_list("d2")).alias("__ds"),
        )
        .filter(F.col("n_eps") >= llm.HDBSCAN_EMBED_K - 1)
        .select(
            "pid",
            F.element_at("__ds", llm.HDBSCAN_EMBED_K - 1)
            .cast("long")
            .alias("core2"),
        )
    )
    slow = _rows(g.boruvka_mst(g.mr_edges_from_pairs(pairs, core)))
    assert fast == slow
