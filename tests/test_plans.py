"""Plan-quality audits: the scale properties the engine promises must
be visible in the physical plan, not just hoped for. These pin them
against regressions (SURVEY §4 — what Catalyst gives us must STAY)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from flink_essentials_spark.queries.catalog import ALL_QUERIES

SF_DIR = "/root/testdata/sf0.001"


def plan_of(spark, name: str) -> str:
    import contextlib
    import io

    df = ALL_QUERIES[name].fn(spark, SF_DIR)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_filter_and_projection_reach_the_scan(spark):
    plan = plan_of(spark, "pricing_summary")
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
    # column pruning: only the 7 needed columns, not all 16
    read_schema = next(l for l in plan.splitlines() if "ReadSchema" in l)
    assert read_schema.count(":") <= 8
    assert "l_orderkey" not in read_schema


def test_dimension_joins_broadcast(spark):
    plan = plan_of(spark, "top_customers")
    tree = plan.split("\n(1)")[0]  # the tree section lists each node once
    assert tree.count("BroadcastHashJoin") == 2
    assert "SortMergeJoin" not in plan


def test_topk_is_take_ordered_not_global_sort(spark):
    plan = plan_of(spark, "top_customers")
    assert "TakeOrderedAndProject" in plan


def test_aggregates_are_partial_plus_final(spark):
    plan = plan_of(spark, "tumbling_windows")
    assert "partial_" in plan  # map-side combine before the exchange
    tree = plan.split("\n(1)")[0]
    assert tree.count("Exchange") == 1  # exactly one shuffle


def test_window_join_is_single_equi_join(spark):
    """The window join must plan as ONE equi-join on (key, bucket) —
    never a theta-join (BroadcastNestedLoop) that cross-products."""
    plan = plan_of(spark, "window_join")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_as_of_join_is_linear_not_quadratic(spark):
    """The as-of join is the union+window plan: no join node at all,
    one exchange for the window partitioning."""
    plan = plan_of(spark, "as_of_join")
    assert "Window" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_scan_only_aggregate_has_no_join_no_extra_exchange(spark):
    """Q6 shape must collapse to pushed-filter scan + partial/final agg."""
    plan = plan_of(spark, "forecast_revenue")
    assert "Join" not in plan
    assert "PushedFilters" in plan and "GreaterThanOrEqual(l_shipdate" in plan
    tree = plan.split("\n(1)")[0]
    assert tree.count("Exchange") == 1


def test_aqe_enabled_everywhere(spark):
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    plan = plan_of(spark, "pricing_summary")
    assert "AdaptiveSparkPlan" in plan


def test_text_ops_stay_jvm_side(spark):
    """Text analysis must not fall into Python UDF eval — it's pure
    Column expressions inside codegen."""
    for name in ("token_stats", "quality_score", "language_id", "bpe_token_stats"):
        plan = plan_of(spark, name)
        assert "BatchEvalPython" not in plan, name
        assert "ArrowEvalPython" not in plan, name


def test_nonkeyed_global_count_windows_no_single_task_sort(spark):
    """The non-keyed total order must be a distributed range sort +
    per-partition rank — never a partition-less row_number() (which
    plans Exchange SinglePartition over the DATA). Only the tiny
    partition-offsets aggregate may single-partition."""
    plan = plan_of(spark, "global_count_windows_all")
    assert "rangepartitioning" in plan.lower()
    assert plan.count("Exchange SinglePartition") <= 1


def test_bucketed_tables_join_without_shuffle(spark, tmp_path):
    """Co-located join: two tables bucketed+sorted the same way on the
    join key must plan a SortMergeJoin with NO Exchange on either side
    — the layout-driven strategy that makes repeated big-table joins
    shuffle-free at 100 TB."""
    import contextlib
    import io

    from flink_essentials_spark.sinks.sinks import write_bucketed

    a = spark.range(1000).select(F.col("id").alias("k"), (F.col("id") * 2).alias("va"))
    b = spark.range(1000).select(F.col("id").alias("k"), (F.col("id") * 3).alias("vb"))
    ta = write_bucketed(a, "t_buck_a", 8, "k", path=str(tmp_path / "a"))
    tb = write_bucketed(b, "t_buck_b", 8, "k", path=str(tmp_path / "b"))
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = ta.join(tb, "k").select("k", "va", "vb")
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            j.explain("formatted")
        plan = buf.getvalue()
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan
        assert j.count() == 1000
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS t_buck_a")
        spark.sql("DROP TABLE IF EXISTS t_buck_b")


def test_pack_sequences_distributed_running_sum(spark):
    """Sequence packing's global running sum must be the range-partition
    + per-partition-cumsum + tiny-offsets scheme, not a partition-less
    window over the data."""
    plan = plan_of(spark, "pack_sequences")
    assert "rangepartitioning" in plan.lower()
    assert plan.count("Exchange SinglePartition") <= 1


def test_partitioned_layout_prunes_scan(spark, tmp_path):
    """Hive-partitioned layout: a filter on the partition key must be
    satisfied by directory pruning at planning time — the plan's scan
    shows it as a PartitionFilter and reads ONLY the matching
    partition's files. Scan elimination, not scan-then-filter: the
    difference between reading one day and reading 100 TB."""
    import contextlib
    import io

    from flink_essentials_spark.sinks.sinks import write_partitioned

    df = spark.range(900).select(
        (F.col("id") % 3).cast("string").alias("source"), F.col("id").alias("v")
    )
    t = write_partitioned(df, str(tmp_path / "part"), "source")
    q = t.filter(F.col("source") == "1").select("v")
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        q.explain("formatted")
    plan = buf.getvalue()
    assert "PartitionFilters" in plan and "isnotnull(source" in plan
    # the data filter must NOT appear as a post-scan Filter node: the
    # directory layout already answered it (the plan is Scan → Project,
    # nothing else)
    assert "* Filter" not in plan and "PushedFilters: [IsNotNull" not in plan
    assert q.count() == 300
    # physical proof: corrupt every OTHER partition's files — the
    # pruned query must still succeed because those directories are
    # never opened, while a full scan over the same table fails
    import os

    import pytest as _pytest

    for root, _, files in os.walk(str(tmp_path / "part")):
        if "source=1" in root:
            continue
        for f in files:
            if f.endswith(".parquet"):
                with open(os.path.join(root, f), "wb") as fh:
                    fh.write(b"corrupted -- reading this file is a pruning bug")
    # explicit schema: footer-based schema inference would itself open
    # the corrupted files; execution is what must prove the pruning
    t2 = spark.read.schema("v long, source string").parquet(str(tmp_path / "part"))
    assert t2.filter(F.col("source") == "1").count() == 300
    with _pytest.raises(Exception):
        t2.count()


def test_no_scale_killers_in_any_registry_plan(spark):
    """Global red-flag sweep over EVERY batch registry query's physical
    plan — not a hand-picked sample: no CartesianProduct /
    BroadcastNestedLoopJoin (quadratic in inputs), no BatchEvalPython
    (row-at-a-time Python UDF; Python is allowed only through Arrow:
    MapInPandas / FlatMapGroupsInPandas). Streaming queries are skipped
    (their fn() executes the stream; their operators are covered by the
    batch twins and tests/test_streaming.py)."""
    banned = ("CartesianProduct", "BroadcastNestedLoopJoin", "BatchEvalPython")
    # BroadcastNestedLoopJoin is allowed ONLY where the broadcast side
    # is bounded-small by construction, making the NLJ linear in the
    # big side: corpus_mixture broadcasts a ONE-row totals aggregate;
    # similarity_topk / ivf_topk broadcast the documented-small query
    # set against the corpus — brute-force top-k is by definition
    # all-pairs over (queries × corpus), and broadcast-NLJ is the
    # correct physical plan for that semantics (the sub-quadratic
    # alternatives are the LSH/IVF candidate paths).
    allowed = {
        "corpus_mixture": {"BroadcastNestedLoopJoin"},
        "idle_customers": {"BroadcastNestedLoopJoin"},  # one-row avg threshold
        "length_outliers": {"BroadcastNestedLoopJoin"},  # one-row moments
        "tfidf_terms": {"BroadcastNestedLoopJoin"},  # one-row n_docs total
        "k_anonymity": {"BroadcastNestedLoopJoin"},  # one-row risky total
        "psi_drift": {"BroadcastNestedLoopJoin"},  # one-row midpoint scalar
        "funnel_conversion": {"BroadcastNestedLoopJoin"},  # one-row stage counts
        "window_anomaly": {"BroadcastNestedLoopJoin"},  # one-row moments
        "similarity_topk": {"BroadcastNestedLoopJoin"},
        "ivf_topk": {"BroadcastNestedLoopJoin"},
        "rfm_segments": {"BroadcastNestedLoopJoin"},  # one-row medians
        "skew_report": {"BroadcastNestedLoopJoin"},  # one-row totals
        "fk_audit": {"BroadcastNestedLoopJoin"},  # one-row orphan counts
        "pmi_pairs": {"BroadcastNestedLoopJoin"},  # one-row doc total
        "revenue_concentration": {"BroadcastNestedLoopJoin"},  # one-row cuts
        "lsh_recall": {"BroadcastNestedLoopJoin"},  # three one-row counts
        "important_parts": {"BroadcastNestedLoopJoin"},  # one-row global sum
        "idle_rich_customers": {"BroadcastNestedLoopJoin"},  # one-row avg
        "zorder_keys": {"BroadcastNestedLoopJoin"},  # one-row bounds
        "triangle_stats": {"BroadcastNestedLoopJoin"},  # three one-row counts
        # same documented-small-query-set broadcast as similarity_topk
        "hard_negatives": {"BroadcastNestedLoopJoin"},
        # one-row totals broadcast (the corpus_mixture pattern)
        "dsir_weights": {"BroadcastNestedLoopJoin"},
        # group-pair expansion: broadcast cross join of the DISTINCT
        # source list with itself (sources are bounded, never
        # data-sized; the sketches the pairs join against are k rows
        # per group)
        "kmv_set_ops": {"BroadcastNestedLoopJoin"},
        # one-row corpus-stats broadcast (N/avgdl/df — the
        # idle_customers pattern)
        "bm25_scores": {"BroadcastNestedLoopJoin"},
        # one-row x-bounds broadcast for banding (idle_customers
        # pattern); dominance itself is keyed windows, never a join
        "pareto_suppliers": {"BroadcastNestedLoopJoin"},
        # one-row coordinate-bounds broadcast (the zorder_keys scalar
        # pattern); the curve lookup itself is a broadcast EQUI-join
        "hilbert_keys": {"BroadcastNestedLoopJoin"},
        # one-row bigram-type-count broadcast (corpus_mixture pattern)
        "kneser_ney_lm": {"BroadcastNestedLoopJoin"},
        # one-row sign-matrix broadcast (k*d bytes by construction)
        "random_projection": {"BroadcastNestedLoopJoin"},
        # one-row vocabulary-array broadcast (vocab-bounded, the
        # wordpiece/BPE dictionary pattern)
        "unigram_segments": {"BroadcastNestedLoopJoin"},
        # one-row total-token broadcast (corpus_mixture pattern)
        "pmi_collocations": {"BroadcastNestedLoopJoin"},
        # points x bounded centroid table (the similarity_topk pattern)
        "silhouette_audit": {"BroadcastNestedLoopJoin"},
        # one-row sketch-estimate broadcast (corpus_mixture pattern)
        "ams_f2": {"BroadcastNestedLoopJoin"},
        # one-row total-token broadcast (corpus_mixture pattern)
        "mink_surprisal": {"BroadcastNestedLoopJoin"},
        # two one-row stats broadcasts (corpus_mixture pattern)
        "langid_agreement": {"BroadcastNestedLoopJoin"},
        # one-row stream-midpoint scalar broadcast (psi_drift pattern)
        "chi2_independence": {"BroadcastNestedLoopJoin"},
        # one-row corpus-count broadcast onto the bounded 2080-row
        # Gram triangle (corpus_mixture pattern)
        "gram_matrix": {"BroadcastNestedLoopJoin"},
        # one-row total-count broadcast onto the bounded candidate
        # counts (corpus_mixture pattern)
        "mg_heavy_hitters": {"BroadcastNestedLoopJoin"},
        # same one-row total broadcast as mg_heavy_hitters (the
        # space-saving top-k twin)
        "spacesaving_topk": {"BroadcastNestedLoopJoin"},
        # one-row global time-bounds broadcast for bucketing
        # (zorder_keys scalar-bounds pattern)
        "wavelet_synopsis": {"BroadcastNestedLoopJoin"},
        # one-row exact-join-size broadcast beside the one-row sketch
        # estimate (corpus_mixture pattern)
        "cm_join_size": {"BroadcastNestedLoopJoin"},
        # one-row corpus-stats broadcasts inherited from the BM25 /
        # LM-prior machinery (the bm25_scores/rrf pattern)
        "ndcg_eval": {"BroadcastNestedLoopJoin"},
        # one-row basket-total broadcast for the relative-support
        # threshold (the association_rules pattern)
        "son_frequent_pairs": {"BroadcastNestedLoopJoin"},
        # one-row corpus-total broadcast (corpus_mixture pattern)
        "chi2_terms": {"BroadcastNestedLoopJoin"},
        # three one-row count broadcasts (the lsh_recall pattern)
        "er_eval": {"BroadcastNestedLoopJoin"},
        # one-row V-checkpoint x one-row n-checkpoint cross join
        # (corpus_mixture pattern; both sides single-row aggregates)
        "heaps_fit": {"BroadcastNestedLoopJoin"},
        # one-row m2-total + one-row pair-sums scalar broadcasts
        # (corpus_mixture pattern); degrees/argmax/mutual-check are
        # equi-joins and struct-MAX aggregates
        "louvain_merge": {"BroadcastNestedLoopJoin"},
        # one-row n_train aggregate broadcast-crossJoined onto the
        # one-row test-error aggregate (idle_customers pattern)
        "als_rmse": {"BroadcastNestedLoopJoin"},
        # one-row global length-span broadcast for the fixed-width
        # binning (psi_drift pattern)
        "isotonic_calibration": {"BroadcastNestedLoopJoin"},
        # one-row source-count broadcast for the successor-id pairing
        "bleu_pairs": {"BroadcastNestedLoopJoin"},
        # same one-row source-count broadcast (bleu_pairs' successor
        # mapping reused); the pair join itself is an EQUI-join
        "rouge_l": {"BroadcastNestedLoopJoin"},
        # one-row stream-midpoint scalar broadcast (psi_drift pattern)
        "welch_drift": {"BroadcastNestedLoopJoin"},
        "wordpiece_encode": {"BroadcastNestedLoopJoin"},
        # two one-row u-probability broadcasts (exact integer ratios);
        # the candidate pairs themselves come from a blocked EQUI-join
        "record_linkage": {"BroadcastNestedLoopJoin"},
        # one-row basket-count broadcasts for the relative-support
        # thresholds; items/pairs join via broadcast EQUI/semi-joins
        "association_rules": {"BroadcastNestedLoopJoin"},
        # composes wordpiece_encode + unigram_segments, inheriting
        # both one-row vocabulary broadcasts; the compare is equi-join
        "tokenizer_compare": {"BroadcastNestedLoopJoin"},
        # inherits bm25_scores' one-row corpus-stats broadcast x3;
        # the fusion itself is keyed windows + an equi-join on doc_id
        "rrf_fusion": {"BroadcastNestedLoopJoin"},
        # two one-row count aggregates crossJoined (the lsh_recall
        # pattern); the pair generation on both sides is equi-joins
        "ann_eps_recall": {"BroadcastNestedLoopJoin"},
        # same one-row source-count broadcast as bleu_pairs (the
        # successor mapping); clipping is a (doc, o, g) EQUI-join
        "chrf_pairs": {"BroadcastNestedLoopJoin"},
    }
    offenders = {}
    for name in ALL_QUERIES:
        if name.startswith("streaming_"):
            continue
        plan = plan_of(spark, name)
        hits = [b for b in banned if b in plan and b not in allowed.get(name, ())]
        if hits:
            offenders[name] = hits
    assert not offenders, offenders


def test_no_partitionless_window_over_unbounded_data(spark):
    """Mechanized guard for the 'No Partition Defined for Window'
    hazard (r7 verdict #3-minor): sweep EVERY batch registry plan for
    windowspecdefinition specs with no partition column (all spec
    columns carry a sort direction, or the spec is empty) — a global
    window forces Exchange SinglePartition over its input, which is a
    scale-killer unless that input is bounded by construction. The
    allowlist is the audited bounded-series forms; anything new must
    either partition its window or justify a row here."""
    import re

    allowed = {
        # window over the per-task partition-offsets aggregate (one row
        # per task, bounded by parallelism — the documented distributed
        # total-order pattern, see test_nonkeyed_global_count_windows_*)
        "pack_sequences",
        "global_count_windows_all",
        # windows over one-row scalar aggregates (broadcast threshold)
        "psi_drift",
        # window over the 9-row leading-digit aggregate (bounded)
        "benford_audit",
        # window over the per-event-type aggregate (bounded by type
        # cardinality — a handful of rows)
        "chi2_independence",
        # window over the 256-row bottom-k sample (bounded by k)
        "sample_quantiles",
        # window over the <= k-1 provably-recalled heavy items (at
        # most k-1 counts can exceed n/k — bounded by construction)
        "spacesaving_topk",
        # window over histogram bins (bounded by bin count)
        "histogram_quantiles",
        # window over the per-week aggregate (bounded series)
        "weekly_growth",
        # suffix max over the n_bands-row band aggregate (bounded by
        # construction; the data-sized windows are band-keyed)
        "pareto_suppliers",
        # grouped_topk(keys=[]): the rank window rides the <= 20-row
        # TakeOrderedAndProject output (bounded by k)
        "slope_one_devs",
    }
    offenders = {}
    for name in ALL_QUERIES:
        if name.startswith("streaming_") or name in allowed:
            continue
        plan = plan_of(spark, name)
        for m in re.finditer(
            r"windowspecdefinition\((.*?)specifiedwindowframe", plan
        ):
            cols = [
                c.strip()
                for c in m.group(1).rstrip(", ").split(", ")
                if c.strip()
            ]
            if all((" ASC" in c or " DESC" in c) for c in cols):
                offenders.setdefault(name, []).append(m.group(1)[:80])
    assert not offenders, offenders


def test_no_lowcard_partition_window_over_unbanded_data(spark):
    """Mechanized guard for the r10-verdict weak family: a
    ``row_number()/rank/sum over (partition by <low-cardinality
    categorical>)`` sorts each key's ENTIRE series in one task — fine
    at sf0.1, a single-task straggler at 100 TB. Sweep every batch
    registry plan's windowspecdefinitions: a spec whose partition side
    consists ONLY of known low-cardinality categorical columns must be
    BANDED (its order side leads with a band/bucket column, i.e. the
    banded two-phase prefix machinery of _ecdf_cums / banded_rank,
    whose per-key window rides the tiny key x band totals table) or
    carry an audited bounded-input row here."""
    import re

    # categorical STRING columns of the testdata (and their query
    # aliases) whose cardinality does not grow with data size; a
    # partition column with a type-suffixed exprId (event_id#37L — a
    # long) is an id-like key, not one of these, even under an alias
    # like __k
    low_card = {
        "event_type", "lang", "source", "query_id", "l_returnflag",
        "l_linestatus", "o_orderstatus", "o_orderpriority", "p_brand",
        "p_type", "p_container", "p_mfgr", "r_name", "n_name",
        "c_mktsegment", "half", "rel", "__k", "k", "g", "grp",
        "bucket_label",
    }
    # order-side names that mark the banded two-phase machinery: such
    # windows ride the bounded band/bucket-totals table, not the data
    band_order = re.compile(r"^(__)?(br_)?(band|bucket|tb|vb)#")
    # every other low-card-partition rank goes through banded_rank /
    # static band machinery; new entries need an audited bounded-input
    # reason
    allowed = {
        # grouped_topk top-k per key: a WindowGroupLimit Partial keeps
        # <= k rows per key per input partition before the shuffle, so
        # the window sees <= k x partitions rows per key (pinned by
        # test_grouped_topk_plans_partial_limit_before_shuffle)
        "topk_per_group",
        "chi2_terms",
        "rrf_fusion",
    }
    offenders = {}
    for name in ALL_QUERIES:
        if name.startswith("streaming_") or name in allowed:
            continue
        plan = plan_of(spark, name)
        for m in re.finditer(
            r"windowspecdefinition\((.*?)specifiedwindowframe", plan
        ):
            cols = [
                c.strip()
                for c in m.group(1).rstrip(", ").split(", ")
                if c.strip()
            ]
            part = [c for c in cols if " ASC" not in c and " DESC" not in c]
            order = [c for c in cols if " ASC" in c or " DESC" in c]
            if not part or not order:
                continue  # partitionless specs are the other sweep's job
            bases = {
                c.split("#")[0].lower()
                for c in part
                if not re.search(r"#\d+[A-Za-z]", c)  # typed = id-like
            }
            if len(bases) == len(part) and bases <= low_card and not (
                band_order.match(order[0])
            ):
                offenders.setdefault(name, []).append(m.group(1)[:90])
    assert not offenders, offenders


def test_grouped_topk_plans_partial_limit_before_shuffle(spark):
    """The low-card-window allowlist rows rank through grouped_topk:
    each plan must carry a WindowGroupLimit Partial below its Exchange,
    i.e. at most k rows per key per input partition reach the shuffle
    (the bounded-state claim the allowlist reason rests on)."""
    import re

    for name in ("topk_per_group", "chi2_terms", "rrf_fusion"):
        plan = plan_of(spark, name)
        tree = plan.split("\n(1)")[0]
        below = tree[tree.index("Exchange"):]
        modes = [
            re.search(
                rf"\n\({i}\) WindowGroupLimit\n.*\nArguments: .*, (\w+)\n", plan
            ).group(1)
            for i in re.findall(r"WindowGroupLimit \((\d+)\)", below)
        ]
        assert "Partial" in modes, (name, tree)


def test_ivf_cells_as_partition_column_prune(spark, tmp_path):
    """The IVF scale layout, executed end to end: assign cells
    (similarity.ivf_assign), write the corpus partitioned BY CELL, and
    probe two cells — the scan must prune to those two directories at
    planning time (PartitionFilters; corrupted other-cell files never
    opened). This is the claim 'at 100 TB store cell as a partition
    column' as a working pipeline instead of a docstring."""
    import contextlib
    import io
    import os

    import numpy as np

    from flink_essentials_spark.functions.similarity import ivf_assign
    from flink_essentials_spark.sinks.sinks import write_partitioned
    from flink_essentials_spark.tables import load_tables

    emb = load_tables(spark, SF_DIR)["embeddings"]
    assigned, centers = ivf_assign(emb, n_cells=4)
    write_partitioned(assigned, str(tmp_path / "ivf"), "cell")
    t = spark.read.schema("neighbor_id long, cv array<double>, cell int").parquet(
        str(tmp_path / "ivf")
    )

    # pick the 2 cells nearest an arbitrary query vector, driver-side
    qv = np.asarray(
        emb.orderBy("vec_id").first()["embedding"], dtype=np.float64
    )
    probe_cells = [
        int(c) for c in np.argsort(np.linalg.norm(centers - qv, axis=1))[:2]
    ]
    q = t.filter(F.col("cell").isin(probe_cells))
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        q.explain("formatted")
    assert "PartitionFilters" in buf.getvalue()

    # corrupt every non-probed cell directory: the probe must not care
    for root, _, files in os.walk(str(tmp_path / "ivf")):
        if any(f"cell={c}" in root for c in probe_cells):
            continue
        for f in files:
            if f.endswith(".parquet"):
                with open(os.path.join(root, f), "wb") as fh:
                    fh.write(b"never opened by a pruned probe")
    per_cell = {r["cell"]: r["cnt"] for r in
                assigned.groupBy("cell").agg(F.count(F.lit(1)).alias("cnt")).collect()}
    assert q.count() == sum(per_cell.get(c, 0) for c in probe_cells)


def test_ivfpq_codes_partitioned_store_prunes_and_searches(spark, tmp_path):
    """The full billion-scale ANN layout e2e: ivfpq_index's CODES
    (cell + m_sub ints per vector — no raw vectors) written partitioned
    BY CELL, then ivfpq_search against the STORED codes: results must
    equal searching the in-flight index, and the probe must prune to
    the probed cells' directories (corrupted other-cell files never
    opened)."""
    import os

    import numpy as np

    from flink_essentials_spark.functions.similarity import (
        ivfpq_index,
        ivfpq_search,
    )
    from flink_essentials_spark.sinks.sinks import write_partitioned
    from flink_essentials_spark.tables import load_tables

    emb = load_tables(spark, SF_DIR)["embeddings"]
    queries = emb.orderBy("vec_id").limit(3)
    codes_df, centers, books = ivfpq_index(emb, n_cells=4, m_sub=8, n_codes=16)
    want = sorted(
        map(tuple, ivfpq_search(codes_df, centers, books, queries,
                                k=5, n_probe=2).collect())
    )

    write_partitioned(codes_df, str(tmp_path / "pq"), "cell")
    stored = spark.read.schema(
        "neighbor_id long, codes array<int>, cell int"
    ).parquet(str(tmp_path / "pq"))

    # corrupt every NON-probed cell dir; probed cells = union over the
    # 3 queries of their 2 nearest centers (driver-side, same argsort)
    probed = set()
    for r in queries.collect():
        qv = np.asarray(list(r["embedding"]), dtype=np.float64)
        d2 = ((centers - qv) ** 2).sum(axis=1)
        probed.update(int(c) for c in np.argsort(d2, kind="stable")[:2])
    assert len(probed) < 4, "fixture must leave at least one cell unprobed"
    for root, _, files in os.walk(str(tmp_path / "pq")):
        if any(f"cell={c}" in root for c in probed):
            continue
        for f in files:
            if f.endswith(".parquet"):
                with open(os.path.join(root, f), "wb") as fh:
                    fh.write(b"never opened by a pruned ADC probe")

    got = sorted(
        map(tuple, ivfpq_search(stored, centers, books, queries,
                                k=5, n_probe=2).collect())
    )
    assert got == want


def test_zorder_layout_prunes_2d_boxes(spark, tmp_path):
    """The Z-order payoff, measured with parquet footer stats (the
    exact mechanism a 100 TB scan uses for file skipping): the same
    events frame written (a) 1-D sorted by user_id and (b) Z-ordered
    on (user_id, value-cents) into the same file count; a 2-D box
    predicate selective in BOTH dimensions must admit strictly fewer
    candidate files under Z-order — and the pruned files provably
    contain no matches (candidate sets re-checked against actual
    row membership)."""
    import pyarrow.parquet as pq

    from flink_essentials_spark.functions.layout import morton_key, write_zordered

    # uniform 256x256 grid: repartitionByRange's sampled quantiles then
    # tile (a,b) space evenly, making the candidate counts exact and
    # deterministic (engine parity of the key on REAL data is the
    # zorder_keys oracle's job; this test pins the layout MECHANISM)
    grid = spark.range(65536).select(
        F.col("id").alias("event_id"),
        (F.col("id") % 256).alias("user_id"),
        (F.col("id") / 256).cast("long").alias("v_c"),
    )
    key = morton_key("user_id", (0, 255), "v_c", (0, 255))
    n_files = 16

    zdir, sdir = str(tmp_path / "z"), str(tmp_path / "s")
    write_zordered(grid, zdir, key, n_files)
    write_zordered(  # 1-D baseline: same machinery, key = user_id
        grid, sdir, F.col("user_id"), n_files
    )

    # box: half the user range x one eighth of the value range — the
    # workload a 1-D user sort cannot prune in the value dimension
    ua, ub = 0, 127
    va, vb = 32, 63

    def candidates(d):
        import glob
        import os

        hits = []
        for f in sorted(glob.glob(os.path.join(d, "*.parquet"))):
            md = pq.ParquetFile(f).metadata
            names = {
                md.schema.column(i).name: i for i in range(md.num_columns)
            }
            lo_u = min(md.row_group(g).column(names["user_id"]).statistics.min
                       for g in range(md.num_row_groups))
            hi_u = max(md.row_group(g).column(names["user_id"]).statistics.max
                       for g in range(md.num_row_groups))
            lo_v = min(md.row_group(g).column(names["v_c"]).statistics.min
                       for g in range(md.num_row_groups))
            hi_v = max(md.row_group(g).column(names["v_c"]).statistics.max
                       for g in range(md.num_row_groups))
            if not (hi_u < ua or lo_u > ub or hi_v < va or lo_v > vb):
                hits.append(f)
        return hits

    z_files, s_files = candidates(zdir), candidates(sdir)
    assert len(z_files) < len(s_files), (len(z_files), len(s_files))
    # soundness: rows matching the box live ONLY in candidate files
    matches = spark.read.parquet(zdir).filter(
        (F.col("user_id") >= ua) & (F.col("user_id") <= ub)
        & (F.col("v_c") >= va) & (F.col("v_c") <= vb)
    )
    assert matches.count() > 0  # the box is non-vacuous
    only_candidates = spark.read.parquet(*z_files).filter(
        (F.col("user_id") >= ua) & (F.col("user_id") <= ub)
        & (F.col("v_c") >= va) & (F.col("v_c") <= vb)
    )
    assert matches.count() == only_candidates.count()


def test_aqe_skew_join_splits_hot_partitions(spark):
    """The skew posture must be REAL, not just a conf line: a join
    whose left side is dominated by one hot key must show AQE's
    skew-split in the executed plan (``skew=true`` on the sort-merge
    join) once the skew thresholds are scaled to the fixture. This is
    the runtime half of the salting story: AQE handles skewed JOINS
    automatically; skewed AGGREGATIONS still need the explicit
    salting operator (partitioning.salted_sum)."""
    import contextlib
    import io

    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "32KB",
        "spark.sql.adaptive.coalescePartitions.minPartitionSize": "8KB",
    }
    prev = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        # 200k rows, 90% on one hot key; dim side 100 keys. A PURE
        # join frame, executed via collect ON THE SAME DataFrame: a
        # .write wraps a fresh (unexecuted) query execution whose
        # explain shows the initial plan, and a downstream aggregate
        # can suppress the split (OptimizeSkewedJoin bails when the
        # skewed exchange must satisfy the agg's distribution).
        fact = spark.range(200_000).select(
            F.when(F.col("id") % 10 != 0, F.lit(7))
            .otherwise(F.col("id") % 100)
            .alias("k"),
            F.col("id").alias("v"),
        )
        dim = spark.range(100).select(
            F.col("id").alias("k"), (F.col("id") * 10).alias("w")
        )
        j = fact.join(dim, "k").select(
            "k", (F.col("v") + F.col("w")).alias("s")
        )
        assert len(j.collect()) == 200_000
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            j.explain("formatted")
        plan = buf.getvalue()
        assert "isFinalPlan=true" in plan
        assert "skew=true" in plan, plan[:2000]
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_heavy_row_exchange_budgets(spark):
    """Pinned exchange/join budgets for the most expensive bench rows
    (r8 verdict #5): silent plan fat on a 2-3 s row hides behind bench
    noise, but an exchange-count regression is deterministic at
    explain time. Budgets are the r9 measured tail-plan counts (the
    iterative/checkpointed prefixes execute eagerly and do not appear
    in the final plan — their round counts are pinned by their own
    tests). A failure here means a reuse lost its checkpoint or a
    broadcast fell back to shuffle."""
    budgets = {
        # (max_exchanges, max_joins)
        "dbscan_users": (16, 10),
        "kmv_set_ops": (20, 9),  # 42 before the r9 ranked-table reuse
        "dsir_weights": (15, 2),
        # 10 since the r11b trade-pairs store: the store SCAN replaces
        # the lineitem-orders join whose groupBy partitioning the old
        # plan reused as one exchange; wall time unchanged at the
        # 3-iteration shuffle floor (isolated ~3.9 s) and one join
        # fewer in the tree
        "lpa_communities": (10, 3),
        "kneser_ney_lm": (17, 4),
        # r10 (r9 verdict #5): the new 1-3 s rows where plan fat would
        # hide behind steal noise. hits: 2 iterations x (2 joins + 2
        # partial-aggregated groupBys) + the final sparse left-joins;
        # silhouette: the audit alone over the MATERIALIZED assignment
        # (centroid agg + broadcast cross join + 2 keyed aggs);
        # sw_alignment's DP runs in one mapInPandas over the eagerly
        # pre-blocked pairs — its tail plan must stay join-light;
        # weighted_jaccard: per-source word vectors + ONE word-keyed
        # inner join covering the union.
        "hits_authority": (17, 9),
        "silhouette_audit": (4, 1),
        "sw_alignment": (2, 2),
        "weighted_jaccard": (14, 3),
        # r10 rows: ks_drift's ECDF support table is localCheckpointed
        # (one aggregate, three consumers — was 20 exchanges unchecked);
        # mg's two passes are one python summary + one broadcast-semi
        # rescan; cdc is a scan-stage explode + ONE chunk-hash window
        "ks_drift": (9, 3),
        "mg_heavy_hitters": (8, 2),
        "cdc_chunks": (2, 0),
        # shares _ecdf_cums with ks_drift — identical budget; a
        # divergence between the two signals a one-sided plan change
        "mann_whitney": (9, 3),
        # r11: both read the materialized retrieval store (single-scan
        # multi-query BM25 + LM prior + banded per-query ranks built
        # ONCE per session/corpus — the dbscan-assignment-store
        # precedent); the per-run tail is the eval arithmetic plus one
        # banded rank — was 22 exchanges with per-query BM25 scans +
        # full-corpus windows
        "ndcg_eval": (9, 3),
        "rrf_fusion": (8, 3),
        # two CM sketches (bounded) + sketch equi-join + exact join
        "cm_join_size": (10, 3),
        # r11: rides the shared banded ECDF support (_ecdf_cums) like
        # ks_drift/mann_whitney — identical budget by construction
        "trimmed_mean": (9, 3),
        # basket build join + grouped baskets + candidate semi-join +
        # exact recount (pass 1's python summary is scan-stage)
        "son_frequent_pairs": (11, 5),
    }
    for name, (max_x, max_j) in budgets.items():
        plan = plan_of(spark, name)
        tree = plan.split("\n(1)")[0]
        assert tree.count("Exchange") <= max_x, (
            name, tree.count("Exchange"), max_x)
        assert tree.count("Join") <= max_j, (name, tree.count("Join"), max_j)


def test_greedy_coverage_round_plan_budget(spark):
    """greedy_coverage's cost lives in the PER-ROUND candidate scoring
    (the returned frame is a bounded createDataFrame), so the budget
    pins _coverage_round directly: round 1 is ONE map-side-combined
    aggregate (1 exchange, 0 joins); later rounds add exactly one
    left-anti join against the covered set (2 exchanges, 1 join)."""
    import contextlib
    import io

    from pyspark.sql import functions as F

    from flink_essentials_spark.functions.analytics import _coverage_round

    sw = (
        spark.range(100)
        .select((F.col("id") % 7).alias("g"), (F.col("id") % 31).alias("it"))
        .distinct()
        .localCheckpoint()
    )
    cov = sw.filter(F.col("g") == 0).select("it").localCheckpoint()

    def counts(df):
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        tree = buf.getvalue().split("\n(1)")[0]
        return tree.count("Exchange"), tree.count("Join")

    assert counts(_coverage_round(sw, [], None)) == (1, 0)
    x, j = counts(_coverage_round(sw, [0], cov))
    assert x <= 2 and j == 1, (x, j)


def test_cusum_single_keyed_exchange(spark):
    """cusum_shifts inherits the ewma contract: reference mean, both
    cumulative chains, the running minima and the final aggregate all
    ride ONE hashpartitioning exchange on user_id — no join, no
    second scan (the claim in functions/timeseries.cusum_control)."""
    plan = plan_of(spark, "cusum_shifts")
    tree = plan.split("\n(1)")[0]
    assert tree.count("Exchange") == 1
    assert "hashpartitioning(user_id" in plan
    assert "Join" not in plan


def test_ewma_single_keyed_exchange(spark):
    """ewma_anomaly's contract: the lag terms AND the per-key moments
    ride ONE hashpartitioning exchange on user_id — no join, no second
    scan, no extra shuffle (the claim in functions/timeseries.py)."""
    plan = plan_of(spark, "ewma_anomaly")
    tree = plan.split("\n(1)")[0]
    assert tree.count("Exchange") == 1
    assert "hashpartitioning(user_id" in plan
    assert "Join" not in plan


def test_every_head50_row_is_benched():
    """Every driver-visible (head-50) registry row must have a bench
    HEADLINE row: the driver grades exactly these queries, so a
    rotation that forgets the bench row ships a driver row with no
    per-round perf signal (r12 found seven such rows). The head-50
    names still come from parsing catalog.py source (the driver parses
    the same way), but the path derives from __file__ and HEADLINE is
    imported as plain data (r12-ADVICE: the old first-']' slice would
    silently truncate on a comment containing ']')."""
    import os
    import re
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(
        os.path.join(repo, "flink_essentials_spark", "queries", "catalog.py")
    ) as f:
        src = f.read()
    head = src.split("# TAIL:")[0]
    head50 = re.findall(
        r'Query\(\s*\n?\s*"([a-z0-9_]+)"', head[head.index("_REGISTRY"):]
    )
    assert len(head50) == 50
    sys.path.insert(0, repo)
    try:
        import bench
    finally:
        sys.path.remove(repo)
    hl = set(bench.HEADLINE)
    missing = [n for n in head50 if n not in hl]
    assert not missing, missing


def test_distributed_form_exchange_budgets(spark, monkeypatch):
    """Pinned exchange/join budgets for the DISTRIBUTED members of the
    twin-gated families (r15, VERDICT r14 item 1): at every test SF
    these queries route to bounded single-task twins, so without this
    sweep a distributed-path regression (a new Exchange, a lost
    broadcast) would be invisible to bench AND plans. Budgets are the
    r15 measured counts under FES_FORCE_DISTRIBUTED at sf0.001
    (mondrian/lpa/kmeans run their iterative prefixes eagerly — the
    pinned tail is the final plan, same convention as the heavy-row
    budgets above). Results under the override are twin-identical
    (tests/test_optimizations_r14.py runs both forms)."""
    monkeypatch.setenv("FES_FORCE_DISTRIBUTED", "1")
    budgets = {
        # (max_exchanges, max_joins)
        "chrf_pairs": (3, 2),
        "slope_one_devs": (2, 1),
        "kmeans_pp": (4, 1),
        "mondrian_anon": (1, 0),
        "hdbscan_embed": (5, 2),
        "kmv_set_ops": (20, 9),
        "knn_hubness": (21, 6),
        "association_rules": (23, 9),
        "peak_concurrency": (9, 3),
        "lpa_communities": (10, 3),
    }
    for name, (max_x, max_j) in budgets.items():
        plan = plan_of(spark, name)
        tree = plan.split("\n(1)")[0]
        assert tree.count("Exchange") <= max_x, (
            name, tree.count("Exchange"), max_x)
        assert tree.count("Join") <= max_j, (name, tree.count("Join"), max_j)
