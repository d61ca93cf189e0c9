"""Distributed connected components — the clustering step of a dedup
pipeline: near-dup PAIRS (from LSH/SimHash/embedding candidates) become
CLUSTERS, and each cluster keeps one canonical document.

Reference parity: the reference repo (flink-essentials) has no graph
or dedup layer; this backs the LLM-training-data extension surface
(SURVEY.md §2.11), built from the public literature cited below.

Three algorithms, one contract (verified against each other and a
union-find reference):

- ``propagation`` — iterative min-label propagation: each round every
  node takes the minimum label among itself and its neighbors. Rounds
  = graph diameter; near-dup clusters are dense and shallow, so this
  settles in a few rounds and does the least work per round.
- ``two-phase`` — alternating large-star/small-star (Kiveris et al.,
  "Connected Components in MapReduce and Beyond", SoCC 2014): the edge
  set itself is rewritten toward a star per component, converging in
  O(log n) rounds regardless of diameter — the choice for adversarial
  long-chain graphs at scale (measured on a 30-path: 5 rounds vs 30).
- ``hybrid`` — one distributed min-neighbor contraction pass (rep =
  min(self, neighbors); edges rewritten between reps) then a bounded
  single-task union-find on the contracted graph, falling back to
  two-phase when the contraction leaves more than ``uf_bound`` edges.
  The choice for LOCALLY-DENSE graphs (DBSCAN core eps-graphs), where
  near-clique neighborhoods collapse to ~1 node each and the full edge
  set is touched exactly once.
- ``auto`` (default) — propagation for up to ``switch_after`` rounds;
  if unconverged, CONTRACT the graph by current labels (quotient on
  the partial clustering) and finish with two-phase on the contracted
  edges. Shallow graphs (the common near-dup case) pay nothing extra;
  an adversarial chain degrades gracefully to O(log n) on a graph the
  propagation prefix already shrank. Crossover measurement (sf0.1
  LSH near-dup pairs, 475 nodes, diameter ≤ 2, warm session):
  propagation 1.18 s / two-phase 1.88 s — both 2 rounds, two-phase
  simply does two star passes per round; on a 30-node path the round
  counts invert (30 vs 5). ``auto`` therefore matches propagation
  until the round budget proves the graph is deep.

Each round is one shuffle (edge-label join + min-aggregate). Lineage is
cut every round with localCheckpoint so the plan does not grow with
iterations (at cluster scale, use a reliable checkpoint dir instead).
The convergence test piggybacks on the propagation aggregate (a
max(changed) over the same round's result) — one job per round, no
second pass.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from flink_essentials_spark.routing import single_task_map, single_task_ok


# Edge bound for the direct single-task union-find route in
# connected_components: the python path-compressed UF walks edges one
# by one, so the bound keeps one task under ~1 s (r15 measured ~0.7 s
# at 2^19 edges); above it the propagation/contraction ladders run.
CC_SINGLE_TASK_EDGES = 1 << 19


def _cc_single_task_uf(e: DataFrame) -> DataFrame:
    """Bounded single-task union-find over a symmetrized (a, b) edge
    frame: min-root merges make every root the component-min node —
    the identical (node, cluster_id) contract as the distributed
    forms (all verified against the same reference)."""
    from pyspark.sql import types as T

    node_t = e.schema["a"].dataType
    out_schema = T.StructType(
        [T.StructField("node", node_t), T.StructField("cluster_id", node_t)]
    )

    def _uf(pdf):
        import pandas as pd

        parent: dict = {}

        def find(x):
            r = x
            while parent.get(r, r) != r:
                r = parent[r]
            while parent.get(x, x) != x:  # path compression
                parent[x], x = r, parent[x]
            return r

        for u, v in zip(pdf["a"], pdf["b"]):
            ru, rv = find(u), find(v)
            if ru != rv:
                lo, hi = (ru, rv) if ru < rv else (rv, ru)
                parent[hi] = lo
        nodes = sorted(set(pdf["a"]).union(pdf["b"]))
        return pd.DataFrame(
            {"node": nodes, "cluster_id": [find(x) for x in nodes]}
        )

    return single_task_map(e, _uf, out_schema)


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 50,
    algorithm: str = "auto",
    stats: dict | None = None,
    switch_after: int = 4,
) -> DataFrame:
    """(src, dst) edge list -> (node, cluster_id), cluster_id = min
    node id in the component. Nodes are whatever appears in the edge
    list (isolated documents never enter the pair stream).

    ``algorithm="auto"`` (default, scale-safe): min-label propagation
    for up to ``switch_after`` rounds; if the labels are still moving,
    contract the graph by the partial labels and finish with two-phase
    — correct for ANY graph shape without paying two-phase's two star
    passes per round on the shallow graphs dedup actually produces
    (see module docstring for the crossover measurement).
    ``algorithm="propagation"``: pure min-label propagation, rounds =
    diameter — opt-in when the caller KNOWS the graph is shallow.
    ``algorithm="two-phase"``: alternating large-star/small-star
    (Kiveris et al., SoCC 2014), O(log n) rounds on any graph shape.
    ``algorithm="hybrid"``: one min-neighbor contraction pass + bounded
    single-task union-find finisher (two-phase fallback) — opt-in for
    locally-dense graphs like DBSCAN core eps-graphs.
    All verified against a union-find reference; ``stats["rounds"]``
    reports the rounds a call took (``stats["switched"]`` marks an
    auto-escalation)."""
    if algorithm == "two-phase":
        return _cc_two_phase(edges, src, dst, max_iter, stats)
    if algorithm == "hybrid":
        return _cc_hybrid(edges, src, dst, max_iter, stats)
    if algorithm == "auto":
        prop_budget = switch_after
    elif algorithm == "propagation":
        prop_budget = max_iter
    else:
        raise ValueError(f"unknown algorithm {algorithm!r}")
    e = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .union(edges.select(F.col(dst).alias("a"), F.col(src).alias("b")))
        .distinct()
        .localCheckpoint()
    )
    # count on the checkpointed frame is ~ms; under the bound the
    # whole clustering is one Arrow union-find task (r15: the 2-4
    # propagation rounds + convergence checks cost 6-8 scheduling
    # jobs — 1.5 s for 255 LSH pair edges at sf0.1). Min-root merges
    # give cluster_id = component-min, the identical contract.
    n_e = e.count()
    if stats is not None:
        stats["edges"] = n_e
    # only "auto" may take the bounded route: "propagation" is an
    # explicit opt-in to the round-per-diameter behavior
    if algorithm == "auto" and single_task_ok(n_e, CC_SINGLE_TASK_EDGES):
        if stats is not None:
            stats["rounds"] = 1
            stats["single_task"] = True
        return _cc_single_task_uf(e)
    labels = (
        e.select(F.col("a").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
        .localCheckpoint()
    )
    converged = False
    for rounds in range(1, prop_budget + 1):
        nbr_min = (
            e.join(
                labels.select(
                    F.col("node").alias("b"), F.col("label").alias("nbr_label")
                ),
                "b",
            )
            .groupBy("a")
            .agg(F.min("nbr_label").alias("nbr_min"))
        )
        stepped = (
            labels.join(nbr_min, labels["node"] == nbr_min["a"], "left")
            .select(
                "node",
                F.least(
                    F.col("label"), F.coalesce(F.col("nbr_min"), F.col("label"))
                ).alias("label"),
                (F.coalesce(F.col("nbr_min"), F.col("label")) < F.col("label")).alias(
                    "changed"
                ),
            )
            .localCheckpoint()  # materializes this round once; reused below
        )
        labels = stepped.select("node", "label")
        if stepped.agg(F.max("changed")).first()[0] is not True:
            converged = True
            break
    if stats is not None:
        stats["rounds"] = rounds
        stats["switched"] = False
    if converged or algorithm == "propagation":
        return labels.select("node", F.col("label").alias("cluster_id"))
    # auto-escalation: the graph is deeper than switch_after — contract
    # by the partial labels (a valid quotient: every label class is
    # already connected) and let two-phase finish in O(log n) rounds on
    # the shrunken edge set. Components fully merged by the prefix have
    # only self-loop quotient edges, which drop out here and resolve
    # through the left join's coalesce below.
    la = labels.select(F.col("node").alias("a"), F.col("label").alias("la"))
    lb = labels.select(F.col("node").alias("b"), F.col("label").alias("lb"))
    ce = (
        e.join(la, "a")
        .join(lb, "b")
        .filter(F.col("la") != F.col("lb"))
        .select(F.col("la").alias("qa"), F.col("lb").alias("qb"))
        .distinct()
        .localCheckpoint()
    )
    qstats: dict = {}
    qcc = _cc_two_phase(ce, "qa", "qb", max_iter, qstats).select(
        F.col("node").alias("label"), F.col("cluster_id").alias("qcid")
    )
    if stats is not None:
        stats["rounds"] = rounds + qstats.get("rounds", 0)
        stats["switched"] = True
    return labels.join(qcc, "label", "left").select(
        "node", F.coalesce(F.col("qcid"), F.col("label")).alias("cluster_id")
    )


def _cc_hybrid(edges, src, dst, max_iter, stats, uf_bound: int = 4_000_000):
    """Contract-then-finish components for LOCALLY-DENSE graphs (the
    DBSCAN core-core eps-graph: every dense neighborhood is near-clique,
    so edge count is quadratic in local density while the number of
    distinct neighborhoods is tiny).

    One distributed min-neighbor contraction pass — every node maps to
    min(self, neighbors), edges are rewritten between representatives —
    collapses each near-clique to ~1 node (measured on the sf0.1 DBSCAN
    graph: 250,448 edges -> 628). The contracted graph is then counted
    (~0.2 s on a checkpointed frame) and finished either by a
    single-task union-find (when it fits ``uf_bound`` edges — the
    bounded-small-side pattern also used for codebook training) or by
    :func:`_cc_two_phase` (O(log n) rounds) when it does not. The
    iterative finisher therefore runs on blob-representatives, never on
    raw edges — at 100 TB the contraction is the only pass that touches
    the full edge set, and it is a single join+groupBy.

    Not the default: on already-shallow SPARSE graphs (LSH near-dup
    pairs) the contraction pass costs as much as a propagation round
    and wins nothing; ``auto`` remains the general choice."""
    e = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .union(edges.select(F.col(dst).alias("a"), F.col(src).alias("b")))
        .distinct()
        .localCheckpoint()
    )
    # rep(node) = min(self, neighbors): the component-min node is a
    # fixpoint (rep(g) = g), so min-of-reps per component = min node id
    # and the finisher's min-root contract composes exactly.
    m = (
        e.groupBy("a")
        .agg(F.least(F.min("b"), F.first("a")).alias("rep"))
        .localCheckpoint()
    )
    re_ = (
        e.join(m.select(F.col("a").alias("a0"), F.col("rep").alias("ra")),
               F.col("a") == F.col("a0"))
        .join(m.select(F.col("a").alias("b0"), F.col("rep").alias("rb")),
              F.col("b") == F.col("b0"))
        .filter(F.col("ra") != F.col("rb"))
        .select(
            F.least("ra", "rb").alias("a"), F.greatest("ra", "rb").alias("b")
        )
        .distinct()
        .localCheckpoint()
    )
    n_edges = re_.count()
    if stats is not None:
        stats["contracted_edges"] = n_edges
    if n_edges > uf_bound:
        if stats is not None:
            stats["hybrid"] = "two-phase"
        roots = _cc_two_phase(re_, "a", "b", max_iter, stats)
    else:
        if stats is not None:
            stats["hybrid"] = "union-find"
            stats["rounds"] = 1
        roots = _cc_single_task_uf(re_)
    roots = roots.select(
        F.col("node").alias("rep"), F.col("cluster_id").alias("root")
    )
    # blobs fully collapsed by contraction have no representative edge
    # and resolve through the coalesce (their rep IS the component min)
    return m.join(roots, "rep", "left").select(
        F.col("a").alias("node"),
        F.coalesce(F.col("root"), F.col("rep")).alias("cluster_id"),
    )


def _edge_signature(e: DataFrame):
    """Order-insensitive signature of an edge set for fixpoint tests:
    (count, sum of per-edge hashes). One tiny aggregate per round."""
    row = e.agg(
        F.count(F.lit(1)).alias("n"),
        # bound each term so the ANSI-mode sum cannot overflow long
        F.sum(F.pmod(F.xxhash64("a", "b"), F.lit(2**31))).alias("h"),
    ).first()
    return (row["n"], row["h"])


def _cc_two_phase(edges, src, dst, max_iter, stats):
    """Alternating large-star / small-star (Kiveris et al., "Connected
    Components in MapReduce and Beyond", SoCC 2014). Each phase is one
    groupBy-min + join; the edge set converges in O(log n) rounds to a
    star per component centered at its min node, independent of graph
    diameter."""
    raw = edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    # nodes whose ONLY edges are self-loops must still come out as
    # singleton clusters (same contract as the propagation path, which
    # keeps (x, x) through symmetrize+distinct)
    self_only = (
        raw.filter(F.col("a") == F.col("b"))
        .select(F.col("a").alias("node"))
        .distinct()
    )
    e = (
        raw.filter(F.col("a") != F.col("b"))
        .distinct()
        .localCheckpoint()
    )

    def large_star(e):
        # undirected neighborhoods: u as center sees every neighbor
        sym = e.union(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
        m = (
            sym.groupBy("a")
            .agg(F.min("b").alias("mb"))
            .select("a", F.least("mb", "a").alias("m"))
        )
        # connect strictly-larger neighbors to the neighborhood min
        return (
            sym.join(m, "a")
            .filter(F.col("b") > F.col("a"))
            .select(F.col("b").alias("a"), F.col("m").alias("b"))
            .filter(F.col("a") != F.col("b"))
            .distinct()
        )

    def small_star(e):
        # orient each edge large -> small so u's neighbors are all <= u
        d = e.select(
            F.greatest("a", "b").alias("a"), F.least("a", "b").alias("b")
        )
        m = d.groupBy("a").agg(F.min("b").alias("m"))  # all b < a, so min(Γ∪{u}) = min(b)
        nbrs = d.join(m, "a").filter(F.col("b") != F.col("m")).select(
            F.col("b").alias("a"), F.col("m").alias("b")
        )
        centers = m.select(F.col("a"), F.col("m").alias("b"))
        return nbrs.union(centers).filter(F.col("a") != F.col("b")).distinct()

    sig = _edge_signature(e)
    for rounds in range(1, max_iter + 1):
        e = small_star(large_star(e)).localCheckpoint()
        new_sig = _edge_signature(e)
        if new_sig == sig:
            break
        sig = new_sig
    if stats is not None:
        stats["rounds"] = rounds
    # fixpoint is a star per component: (leaf, center) edges + centers
    leaves = e.select(F.col("a").alias("node"), F.col("b").alias("cluster_id"))
    centers = e.select(F.col("b").alias("node"), F.col("b").alias("cluster_id"))
    stars = leaves.union(centers).distinct()
    singletons = self_only.join(
        stars.select("node"), "node", "left_anti"
    ).select("node", F.col("node").alias("cluster_id"))
    return stars.union(singletons)


def triangle_count(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """Global triangle count — the clustering-density statistic of a
    near-dup graph (how clique-like are the duplicate clusters?).

    Scale shape: DEGREE-ORIENTED join (the classic MapReduce
    formulation): orient each undirected edge from the lower-degree
    endpoint to the higher (ties by id), so every triangle is counted
    exactly once and the wedge join fans out from each node by its
    ORIENTED out-degree, which is O(sqrt(|E|)) even for power-law hubs
    — the naive all-wedges join explodes on hubs, this one cannot.
    Two shuffle joins total: wedges = oriented ⋈ oriented on source,
    then wedges ⋈ oriented on the closing pair. Returns one row
    (n_nodes, n_edges, n_triangles); the DuckDB oracle recomputes by
    the naive a<b<c three-way join, so the orientation trick is
    verified against the definition."""
    raw = edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    e = (
        raw.filter(F.col("a") != F.col("b"))
        .select(
            F.least("a", "b").alias("u"), F.greatest("a", "b").alias("v")
        )
        .distinct()
        .localCheckpoint()
    )
    deg = (
        e.select(F.col("u").alias("n"))
        .unionAll(e.select(F.col("v").alias("n")))
        .groupBy("n")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    du = deg.select(F.col("n").alias("u"), F.col("d").alias("du"))
    dv = deg.select(F.col("n").alias("v"), F.col("d").alias("dv"))
    ordered = e.join(du, "u").join(dv, "v")
    # orient low → high by (degree, id); (s, t) is the oriented edge
    low_first = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    o = ordered.select(
        F.when(low_first, F.col("u")).otherwise(F.col("v")).alias("s"),
        F.when(low_first, F.col("v")).otherwise(F.col("u")).alias("t"),
    ).localCheckpoint()
    o1 = o.select(F.col("s"), F.col("t").alias("x"))
    o2 = o.select(F.col("s"), F.col("t").alias("y"))
    wedges = o1.join(o2, "s").filter(F.col("x") < F.col("y"))
    # the closing edge may be oriented either way between x and y
    closing = o.select(F.col("s").alias("x"), F.col("t").alias("y")).unionAll(
        o.select(F.col("t").alias("x"), F.col("s").alias("y"))
    )
    tri = wedges.join(closing, ["x", "y"]).agg(
        F.count(F.lit(1)).alias("n_triangles")
    )
    stats = e.agg(
        F.count(F.lit(1)).alias("n_edges"),
    ).crossJoin(deg.agg(F.count(F.lit(1)).alias("n_nodes")))
    return stats.crossJoin(tri).select("n_nodes", "n_edges", "n_triangles")


def _pagerank_single_task(
    edges: DataFrame,
    iterations: int,
    damping: float,
    src: str,
    dst: str,
    weight_col: str | None,
    symmetrize: bool = False,
) -> DataFrame:
    """Bounded single-task twin of :func:`pagerank` for INTEGER or
    STRING node ids: the identical unnormalized recurrence — node set
    = distinct sources, out-weights and per-iteration contribution
    sums as bincounts (weights are integer-valued doubles at every
    caller, so out-weights are exact; per-node rank sums carry the
    same round(…,6)-absorbed last-ulp tolerance as the distributed
    aggregate), contributions to nodes outside the source set dropped
    exactly as the node-set join does (node identity is EQUALITY —
    the np ordering is only an index, so any sortable dtype works).
    Pinned equal by test."""
    from pyspark.sql.types import StringType

    d = float(damping)
    is_str = isinstance(edges.schema[src].dataType, StringType)

    def work(pdf):
        import numpy as np
        import pandas as pd

        if is_str:
            s = pdf["src"].to_numpy()
            t = pdf["dst"].to_numpy()
        else:
            s = pdf["src"].to_numpy(np.int64)
            t = pdf["dst"].to_numpy(np.int64)
        w = pdf["w"].to_numpy(np.float64)
        if symmetrize:
            s, t = np.r_[s, t], np.r_[t, s]
            w = np.r_[w, w]
        nodes = np.unique(s)
        n = len(nodes)
        si = np.searchsorted(nodes, s)
        ti = np.searchsorted(nodes, t)
        oob = ti >= n
        ti = np.where(oob, 0, ti)
        valid = (~oob) & (nodes[ti] == t)
        outw = np.bincount(si, weights=w, minlength=n)
        r = np.ones(n, dtype=np.float64)
        for _ in range(int(iterations)):
            c = np.bincount(
                ti[valid],
                weights=(r[si] * w / outw[si])[valid],
                minlength=n,
            )
            r = (1.0 - d) + d * c
        return pd.DataFrame({"node": nodes, "rank": r})

    w = (F.col(weight_col) if weight_col else F.lit(1)).cast("double")
    node_cast = (lambda c: c) if is_str else (lambda c: c.cast("long"))
    e = edges.select(
        node_cast(F.col(src)).alias("src"),
        node_cast(F.col(dst)).alias("dst"),
        w.alias("w"),
    )
    return single_task_map(
        e, work, f"node {'string' if is_str else 'long'}, rank double"
    )


def pagerank(
    edges: DataFrame,
    iterations: int = 3,
    damping: float = 0.85,
    src: str = "src",
    dst: str = "dst",
    weight_col: str | None = None,
    n_edges_hint: int | None = None,
    symmetrize: bool = False,
) -> DataFrame:
    """Fixed-iteration weighted PageRank over an edge DataFrame —
    crawl-frontier / link-authority scoring for a web-corpus pipeline
    (which domains to trust, which to crawl next).

    Uses the unnormalized formulation (ranks start at 1.0 and sum to
    N): ``r'(v) = (1-d) + d * Σ_{u→v} r(u) * w(u,v) / W(u)`` where
    ``W(u)`` is u's total out-weight. Node set = distinct edge
    sources; feed a symmetrized edge list if the graph has dangling
    nodes (a node with no out-edges silently leaks its rank mass —
    the caller chooses whether that is the intended semantics).

    Scale shape: the weighted edge table (edge ⋈ out-weight) is
    materialized ONCE with localCheckpoint (it is re-read every
    iteration; at cluster scale use a reliable checkpoint dir) —
    measured at sf0.1: 2.9 s with the checkpoint vs 3.6 s without
    (Catalyst does NOT plan ReusedExchange across iterations: each
    loop pass allocates fresh expression ids, so the identical edge
    subtree re-executes without materialization), then
    each iteration is one shuffle join (ranks ⋈ edges on src) plus one
    groupBy(dst) partial-aggregated sum — the textbook iterate-join
    plan, linear per iteration in |E|. Fixed iteration count keeps the
    plan finite; convergence-tested variants belong in a driver loop
    with a rank-delta aggregate per round.

    Cost breakdown (sf0.1 trade graph, 1.17 M edges / 16 k nodes, warm
    local[32], zero steal): 3.5 s total = 1.6 s edge-build+checkpoint
    + 1.9 s for the 3 iterations — this IS the floor of the correct
    plan at this scale. A broadcast-ranks variant (ranks ≪ edges, so
    broadcast-join each iteration instead of shuffling the edge table)
    measured SLOWER locally (2.4 s vs 1.9 s for the iterations): each
    broadcast forces an eager driver materialization of the ranks
    frame per iteration, which outweighs the saved in-memory shuffle.
    On a real cluster with network-bound shuffles and a node table
    that fits executor memory (domain-level web graphs), the broadcast
    trade flips — revisit there, not here.

    ``n_edges_hint`` (footer-derived, driver-side) under
    ``GRAPH_SINGLE_TASK_EDGES`` routes to the bounded single-task
    twin (r14); the iterate-join ladder below is the above-bound
    shape.
    """
    from pyspark.sql.types import IntegralType, StringType

    st_, dt_ = edges.schema[src].dataType, edges.schema[dst].dataType
    # integer ids cast exactly; string ids are handled natively (r15)
    # — float ids would silently truncate, so no route; mixed types
    # would not unify in the worker
    twin_types = (
        isinstance(st_, IntegralType) and isinstance(dt_, IntegralType)
    ) or (isinstance(st_, StringType) and isinstance(dt_, StringType))
    if single_task_ok(n_edges_hint, GRAPH_SINGLE_TASK_EDGES) and twin_types:
        return _pagerank_single_task(
            edges, iterations, damping, src, dst, weight_col, symmetrize
        )
    w = (F.col(weight_col) if weight_col else F.lit(1)).cast("double")
    e = edges.select(
        F.col(src).alias("src"), F.col(dst).alias("dst"), w.alias("w")
    )
    if symmetrize:
        e = e.unionByName(
            e.select(
                F.col("dst").alias("src"), F.col("src").alias("dst"), "w"
            )
        )
    outw = e.groupBy("src").agg(F.sum("w").alias("out_w"))
    we = e.join(outw, "src").localCheckpoint()
    ranks = we.select("src").distinct().select(
        F.col("src").alias("node"), F.lit(1.0).alias("rank")
    )
    for _ in range(iterations):
        contrib = (
            ranks.join(we, ranks["node"] == we["src"])
            .select(
                F.col("dst").alias("node"),
                (F.col("rank") * F.col("w") / F.col("out_w")).alias("c"),
            )
            .groupBy("node")
            .agg(F.sum("c").alias("s"))
        )
        ranks = ranks.select("node").join(contrib, "node", "left").select(
            "node",
            (
                F.lit(1.0 - damping)
                + F.lit(damping) * F.coalesce(F.col("s"), F.lit(0.0))
            ).alias("rank"),
        )
    return ranks


# Edge-count bound under which the fixed-iteration graph ladders
# (label propagation, personalized PageRank) run as ONE Arrow task
# (the q-digest / kmeans_pp bounded-single-task discipline): a few
# million (src, dst, w) rows are ~100 MB of int64 arrays and each
# round is a handful of vectorized np passes, where the distributed
# ladder pays one shuffle join + keyed aggregate PER ROUND — pure
# scheduling overhead at bench scale (r14: the sf0.1 trade graph is
# 1.17 M edges). Above the bound the distributed rounds run
# unchanged — the 100 TB shape.
GRAPH_SINGLE_TASK_EDGES = 4_000_000


def _personalized_pagerank_single_task(
    edges: DataFrame,
    seeds: list[int],
    iterations: int,
    damping: float,
    src: str,
    dst: str,
    weight_col: str | None,
    symmetrize: bool = False,
) -> DataFrame:
    """Bounded single-task twin of :func:`personalized_pagerank`:
    the identical sparse recurrence replayed densely over the node
    index (zero mass ⇔ unreached, and every contribution is
    positive, so the nonzero support equals the sparse frame's row
    set). Per-(seed, node) contribution sums are multi-operand double
    adds in both paths — order drift lands in the last ulp, absorbed
    by the caller's declared round(·, 6) exactly as the distributed
    docstring states. Pinned equal (rounded) by test."""
    w = (F.col(weight_col) if weight_col else F.lit(1)).cast("double")
    e = edges.select(
        F.col(src).alias("src"), F.col(dst).alias("dst"), w.alias("w")
    )
    d = float(damping)
    seed_list = [int(s) for s in seeds]

    def work(pdf):
        import numpy as np
        import pandas as pd

        es = pdf["src"].to_numpy(np.int64)
        ed = pdf["dst"].to_numpy(np.int64)
        ew = pdf["w"].to_numpy(np.float64)
        if symmetrize:
            es, ed = np.r_[es, ed], np.r_[ed, es]
            ew = np.r_[ew, ew]
        nodes = np.unique(np.concatenate([es, ed]))
        si = np.searchsorted(nodes, es)
        di = np.searchsorted(nodes, ed)
        out_w = np.bincount(si, weights=ew, minlength=len(nodes))
        out = []
        for s in seed_list:
            spos = np.searchsorted(nodes, s)
            if spos >= len(nodes) or nodes[spos] != s:
                # seed outside the graph: the sparse recurrence fixes
                # at {seed: 1-d} after the first restart fold (1.0 at
                # iteration 0)
                out.append(
                    pd.DataFrame(
                        {
                            "seed": [s],
                            "node": [s],
                            "rank": [1.0 - d if iterations else 1.0],
                        }
                    )
                )
                continue
            r = np.zeros(len(nodes), dtype=np.float64)
            r[spos] = 1.0
            for _ in range(iterations):
                mass = r[si] * ew / out_w[si]
                r = d * np.bincount(
                    di, weights=mass, minlength=len(nodes)
                )
                r[spos] += 1.0 - d
            nz = np.nonzero(r)[0]
            out.append(
                pd.DataFrame(
                    {
                        "seed": np.full(len(nz), s, dtype=np.int64),
                        "node": nodes[nz],
                        "rank": r[nz],
                    }
                )
            )
        if out:
            return pd.concat(out, ignore_index=True)

    return single_task_map(e, work, "seed long, node long, rank double")


def personalized_pagerank(
    edges: DataFrame,
    seeds: list[int],
    iterations: int = 3,
    damping: float = 0.85,
    src: str = "src",
    dst: str = "dst",
    weight_col: str | None = None,
    n_edges_hint: int | None = None,
    symmetrize: bool = False,
) -> DataFrame:
    """Fixed-iteration PERSONALIZED PageRank (Page et al. 1999 §6 /
    Haveliwala WWW 2002, topic-sensitive PageRank): the restart
    vector is concentrated on ``seeds`` instead of uniform, giving a
    per-seed proximity score — the "more like this source" crawl
    expansion / seed-conditioned trust propagation a corpus pipeline
    runs beside the global :func:`pagerank`.

    Sparse per-seed formulation: state is (seed, node, rank) rows for
    REACHED nodes only — r₀ = 1 at the seed, and
    r'(s, v) = (1−d)·[v = s] + d·Σ_{u→v} r(s, u)·w(u,v)/W(u); after k
    iterations only nodes within k hops of a seed carry mass, so the
    frame stays |seeds|·frontier-sized, never |seeds|·|V|. The seed
    list is a bounded driver-side literal (the broadcast restart
    vector); each iteration is ONE shuffle join (state ⋈ edges on
    src, the pagerank plan) + a groupBy — the restart is a
    |seeds|-row UNION folded into the same aggregation, and the sum
    per (seed, node) collapses at most two operands (d·contrib and
    (1−d)·restart), whose addition is order-invariant IEEE. The
    weighted edge table is localCheckpointed once (the
    no-ReusedExchange-across-iterations lesson).

    ``n_edges_hint`` (footer-derived, driver-side) under
    ``GRAPH_SINGLE_TASK_EDGES`` routes to the bounded single-task
    twin (r14); the per-round shuffle ladder below is the above-bound
    shape."""
    from pyspark.sql.types import IntegralType

    if (
        single_task_ok(n_edges_hint, GRAPH_SINGLE_TASK_EDGES)
        # integer ids only — the twin casts node ids to long
        and isinstance(edges.schema[src].dataType, IntegralType)
        and isinstance(edges.schema[dst].dataType, IntegralType)
    ):
        return _personalized_pagerank_single_task(
            edges, seeds, iterations, damping, src, dst, weight_col,
            symmetrize,
        )
    spark = edges.sparkSession
    w = (F.col(weight_col) if weight_col else F.lit(1)).cast("double")
    e = edges.select(
        F.col(src).alias("src"), F.col(dst).alias("dst"), w.alias("w")
    )
    if symmetrize:
        e = e.unionByName(
            e.select(
                F.col("dst").alias("src"), F.col("src").alias("dst"), "w"
            )
        )
    outw = e.groupBy("src").agg(F.sum("w").alias("out_w"))
    we = e.join(outw, "src").localCheckpoint()
    restart = spark.createDataFrame(
        [(int(s), int(s)) for s in seeds], "seed long, node long"
    )
    p = restart.select("seed", "node", F.lit(1.0).alias("rank"))
    for _ in range(iterations):
        contrib = (
            p.join(we, p["node"] == we["src"])
            .select(
                "seed",
                F.col("dst").alias("node"),
                (F.col("rank") * F.col("w") / F.col("out_w")).alias("c"),
            )
            .groupBy("seed", "node")
            .agg((F.lit(damping) * F.sum("c")).alias("rank"))
        )
        p = (
            contrib.unionByName(
                restart.select(
                    "seed", "node", F.lit(1.0 - damping).alias("rank")
                )
            )
            .groupBy("seed", "node")
            .agg(F.sum("rank").alias("rank"))
        )
    return p


def _hits_single_task(
    edges: DataFrame, iterations: int, src: str, dst: str
) -> DataFrame:
    """Bounded single-task twin of :func:`hits` for INTEGER node ids:
    the identical unnormalized integer half-steps (exact BIGINT
    bincounts over the deduplicated edge list), the same enforced
    maxdeg^(2·it) < 2^63 overflow guard, zeros for sinks/sources.
    Pinned equal by test."""
    it = int(iterations)

    def work(pdf):
        import numpy as np
        import pandas as pd

        s = pdf["src"].to_numpy(np.int64)
        t = pdf["dst"].to_numpy(np.int64)
        nodes = np.unique(np.r_[s, t])
        n = len(nodes)
        si = np.searchsorted(nodes, s)
        ti = np.searchsorted(nodes, t)
        # dedup directed edges
        code = np.unique(si * np.int64(n) + ti)
        si, ti = code // n, code % n
        deg = np.bincount(si, minlength=n) + np.bincount(ti, minlength=n)
        maxdeg = int(deg.max()) if n else 1
        if maxdeg ** (2 * it) >= 1 << 63:
            raise ValueError(
                f"hits: max degree {maxdeg} at {it} iterations "
                f"overflows int64 (bound maxdeg^(2*it) >= 2^63); lower "
                f"iterations or use a normalized double-score variant"
            )
        h = np.ones(n, dtype=np.int64)
        a = np.zeros(n, dtype=np.int64)
        for _ in range(it):
            # np.add.at keeps the sums in int64 — bincount's float64
            # weights would lose exactness past 2^53, and the guard
            # admits scores up to 2^63
            a = np.zeros(n, dtype=np.int64)
            np.add.at(a, ti, h[si])
            h = np.zeros(n, dtype=np.int64)
            np.add.at(h, si, a[ti])
        return pd.DataFrame({"node": nodes, "hub": h, "authority": a})

    e = edges.select(
        F.col(src).cast("long").alias("src"),
        F.col(dst).cast("long").alias("dst"),
    )
    return single_task_map(e, work, "node long, hub long, authority long")


def hits(
    edges: DataFrame,
    iterations: int = 2,
    src: str = "src",
    dst: str = "dst",
    n_edges_hint: int | None = None,
) -> DataFrame:
    """Fixed-iteration HITS hubs & authorities (Kleinberg 1999,
    "Authoritative sources in a hyperlinked environment") — the
    directional complement of :func:`pagerank`: a node is a good HUB
    when it points at good authorities and a good AUTHORITY when good
    hubs point at it (curated-list vs. trusted-source scoring for a
    crawl corpus; on a bipartite interaction graph: active curators
    vs. canonical items).

    Uses the UNNORMALIZED integer formulation: ``h_0 = 1``;
    ``a_k(v) = Σ_{u→v} h_{k-1}(u)``; ``h_k(v) = Σ_{v→w} a_k(w)``.
    Kleinberg's per-round L2 normalization only rescales — the ranking
    is invariant — so dropping it keeps every score an exact BIGINT
    and the whole operator under bit-exact cross-engine oracle. Scores
    grow like (max degree)^(2·iterations); with the default 2
    iterations that is deg⁴, safe in int64 for degrees to ~50k. The
    bound is ENFORCED (r9 ADVICE): one cheap degree aggregate over the
    already-checkpointed edge list raises ValueError with the measured
    max degree BEFORE iterating, instead of an opaque ANSI overflow
    mid-query. At larger depth/degree, switch to the standard
    normalized double form — ranking-identical, oracle then needs
    round().

    Scale shape: the deduplicated edge list is localCheckpointed (re-
    read 2× per iteration — the pagerank lesson); each half-step is
    one shuffle join + one partial-aggregated groupBy, linear in |E|.
    Returns (node, hub, authority) over all nodes (either endpoint);
    sinks keep hub 0, sources authority 0.

    ``n_edges_hint`` (footer-derived, driver-side) under
    ``GRAPH_SINGLE_TASK_EDGES`` routes to the bounded single-task
    twin (r14); the half-step join ladder below is the above-bound
    shape.
    """
    from pyspark.sql.types import IntegralType

    if (
        single_task_ok(n_edges_hint, GRAPH_SINGLE_TASK_EDGES)
        # integer ids only — the twin casts node ids to long
        and isinstance(edges.schema[src].dataType, IntegralType)
        and isinstance(edges.schema[dst].dataType, IntegralType)
    ):
        return _hits_single_task(edges, iterations, src, dst)
    e = (
        edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
        .distinct()
        .localCheckpoint()
    )
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint()
    )
    # Overflow guard: exact-BIGINT scores are bounded by
    # maxdeg^(2·iterations) (each half-step multiplies by at most one
    # node's degree). ONE aggregate over the checkpointed edge list —
    # a bounded one-row driver read, the documented argmax pattern;
    # total degree (in+out) is a conservative stand-in for max(in, out).
    maxdeg = (
        e.select(F.col("src").alias("n"))
        .union(e.select(F.col("dst").alias("n")))
        .groupBy("n")
        .agg(F.count(F.lit(1)).alias("d"))
        .agg(F.max("d"))
        .first()[0]
        or 1
    )
    if int(maxdeg) ** (2 * int(iterations)) >= 1 << 63:
        raise ValueError(
            f"hits: max degree {maxdeg} at {iterations} iterations "
            f"overflows int64 (bound maxdeg^(2*it) >= 2^63); lower "
            f"iterations or use a normalized double-score variant"
        )
    # SPARSE intermediates: a node absent from a half-step table has
    # score 0, and a zero contributes nothing to the next sum — so the
    # per-iteration zero-fill joins against the node list are pure
    # plan fat; only the FINAL output left-joins + coalesces
    h = nodes.select("node", F.lit(1).cast("long").alias("hub"))
    a = None
    for _ in range(iterations):
        a = (
            e.join(h.select(F.col("node").alias("src"), "hub"), "src")
            .groupBy("dst")
            .agg(F.sum("hub").cast("long").alias("auth"))
            .select(F.col("dst").alias("node"), "auth")
        )
        h = (
            e.join(a.select(F.col("node").alias("dst"), "auth"), "dst")
            .groupBy("src")
            .agg(F.sum("auth").cast("long").alias("hub"))
            .select(F.col("src").alias("node"), "hub")
        )
    return (
        nodes.join(h, "node", "left")
        .join(a, "node", "left")
        .select(
            "node",
            F.coalesce("hub", F.lit(0)).cast("long").alias("hub"),
            F.coalesce("auth", F.lit(0)).cast("long").alias("authority"),
        )
    )


def _label_propagation_single_task(
    edges: DataFrame,
    iterations: int,
    src: str,
    dst: str,
    weight_col: str | None,
    symmetrize: bool = False,
) -> DataFrame:
    """Bounded single-task twin of :func:`label_propagation` for
    INTEGER node ids: the identical synchronous recurrence — per
    round, group incident weight by (dst, label), adopt the max-sum
    label with ties to the MINIMUM label — replayed with np.unique /
    bincount over the node index. Labels are always node ids, the
    node index is sorted, so min-label ties equal min-label-index
    ties; weight sums are exact (integer-valued doubles far below
    2^53). Pinned equal by test."""
    w = (F.col(weight_col) if weight_col else F.lit(1)).cast("long")
    e = edges.select(
        F.col(src).alias("src"), F.col(dst).alias("dst"), w.alias("w")
    )

    def work(pdf):
        import numpy as np
        import pandas as pd

        es = pdf["src"].to_numpy(np.int64)
        ed = pdf["dst"].to_numpy(np.int64)
        ew = pdf["w"].to_numpy(np.int64).astype(np.float64)
        # factorize BEFORE symmetrizing (half the unique/searchsorted
        # work; the symmetric index pair is the same arrays swapped)
        nodes = np.union1d(np.unique(es), np.unique(ed))
        n = len(nodes)
        si = np.searchsorted(nodes, es)
        di = np.searchsorted(nodes, ed)
        if symmetrize:
            # duplicate directions in the worker — halves the Arrow
            # transfer vs a Spark-side union of two store scans (r14)
            si, di = np.r_[si, di], np.r_[di, si]
            ew = np.r_[ew, ew]
        # the node index covers every endpoint; labels START on
        # distinct src (the distributed initialization), and a node
        # that receives no labeled incident weight in a round DROPS
        # from the label frame (inner join semantics) — replayed with
        # the `labeled` mask
        lab = np.arange(n, dtype=np.int64)  # label index == node index
        labeled = np.zeros(n, dtype=bool)
        labeled[np.unique(si)] = True
        # composite (dst, label) keys fit int32 when n^2 < 2^31 —
        # numpy's stable integer sort is a radix sort, so 32-bit keys
        # sort in half the passes (r15: ~15% off the 3-round total)
        use32 = n * n < 2**31
        din = di * n
        if use32:
            din = din.astype(np.int32)
        for _ in range(iterations):
            sel = labeled[si]
            if not sel.any():
                labeled[:] = False
                break
            # incident (dst, label) weight sums over labeled srcs —
            # one stable sort + reduceat (r14: np.unique with
            # return_inverse + a lexsort argmax cost ~1.7 s/round at
            # 1.2M edges; this form is ~0.8 s). Sums are exact in any
            # order (integer-valued doubles), equality below is exact
            # for the same reason.
            if use32:
                key = din[sel] + lab[si[sel]].astype(np.int32)
            else:
                key = din[sel] + lab[si[sel]]
            order = np.argsort(key, kind="stable")
            ks = key[order]
            starts = np.flatnonzero(np.r_[True, ks[1:] != ks[:-1]])
            ws_sum = np.add.reduceat(ew[sel][order], starts)
            ks64 = ks[starts].astype(np.int64)
            kd = ks64 // n
            kl = ks64 % n
            # argmax per dst: max ws, ties -> min label. ks ascending
            # means (kd, kl) segments are label-ascending, so the
            # FIRST index attaining the segment max is the min label.
            dstarts = np.flatnonzero(np.r_[True, kd[1:] != kd[:-1]])
            seg_id = np.cumsum(np.r_[False, kd[1:] != kd[:-1]])
            segmax = np.maximum.reduceat(ws_sum, dstarts)
            cand = ws_sum == segmax[seg_id]
            masked = np.where(cand, np.arange(len(ws_sum)), len(ws_sum))
            first = np.minimum.reduceat(masked, dstarts)
            lab = np.arange(n, dtype=np.int64)
            labeled = np.zeros(n, dtype=bool)
            lab[kd[first]] = kl[first]
            labeled[kd[first]] = True
        out = np.flatnonzero(labeled)
        return pd.DataFrame({"node": nodes[out], "label": nodes[lab[out]]})

    return single_task_map(e, work, "node long, label long")


def label_propagation(
    edges: DataFrame,
    iterations: int = 3,
    src: str = "src",
    dst: str = "dst",
    weight_col: str | None = None,
    n_edges_hint: int | None = None,
    symmetrize: bool = False,
) -> DataFrame:
    """Synchronous weighted label propagation (Raghavan, Albert &
    Kumara 2007, "Near linear time algorithm to detect community
    structures in large-scale networks") — community detection, the
    step past connected components: where CC merges everything
    reachable, LPA lets edge WEIGHT decide, so weakly-bridged
    clusters keep distinct labels.

    Every node starts as its own label; each round every node adopts
    the label with the maximum incident weight sum among its
    neighbors, ties broken by MINIMUM label — fully deterministic
    (the paper's random asynchronous order is replaced by the
    synchronous variant + total tie order, the only form an oracle
    can replay). Integer weights keep the argmax exact cross-engine.

    Feed a symmetrized edge list (same contract as :func:`pagerank`).
    Fixed iteration count; each round is one shuffle join + one
    keyed aggregate + one struct-max argmax — linear in |E|. Only the
    edge table is localCheckpointed (it is re-read every round — the
    pagerank lesson); the label lineage is used once per round, so a
    fixed iteration count keeps the plan finite without eager cuts.

    The argmax is ``min(struct(-ws, label))`` rather than a
    row_number window: the second groupBy lands on the key the first
    one already partitioned (no new exchange) and skips the window
    SORT entirely — measured 2.4 s vs 4.6 s warm for 3 rounds on the
    sf0.1 trade graph (1.17 M edges). Exact integer WEIGHTS keep the
    struct comparison a total order, and only the weight sum is
    negated — node ids / labels may be any orderable type (strings
    included, e.g. word graphs).

    ``n_edges_hint`` (footer-derived, driver-side) under
    ``GRAPH_SINGLE_TASK_EDGES`` routes INTEGER-id graphs to the
    bounded single-task twin (r14); the per-round shuffle ladder
    below is the above-bound (and non-integer-id) shape."""
    from pyspark.sql.types import IntegralType

    if (
        single_task_ok(n_edges_hint, GRAPH_SINGLE_TASK_EDGES)
        and isinstance(edges.schema[src].dataType, IntegralType)
        and isinstance(edges.schema[dst].dataType, IntegralType)
    ):
        return _label_propagation_single_task(
            edges, iterations, src, dst, weight_col, symmetrize
        )
    w = (F.col(weight_col) if weight_col else F.lit(1)).cast("long")
    e0 = edges.select(
        F.col(src).alias("src"), F.col(dst).alias("dst"), w.alias("w")
    )
    if symmetrize:
        e0 = e0.unionByName(
            e0.select(
                F.col("dst").alias("src"), F.col("src").alias("dst"), "w"
            )
        )
    e = e0.localCheckpoint()
    labels = e.select("src").distinct().select(
        F.col("src").alias("node"), F.col("src").alias("label")
    )
    for _ in range(iterations):
        labels = (
            labels.join(e, labels["node"] == e["src"])
            .groupBy(F.col("dst").alias("node"), "label")
            .agg(F.sum("w").alias("ws"))
            .groupBy("node")
            .agg(
                # min over (-ws, label): max weight sum, ties -> MIN
                # label. The negation rides on ws (always numeric), so
                # string labels order correctly too (r8 advice).
                F.min(
                    F.struct((-F.col("ws")).alias("nws"), F.col("label"))
                ).alias("m")
            )
            .select("node", F.col("m.label").alias("label"))
        )
    return labels


# Point-count bound under which the 2-D density operators (dbscan_2d,
# hdbscan_mst_2d) run as ONE Arrow task: 4096 points keep the dense
# neighbor/d² matrices ≤ ~134 MB and every pass vectorized; above it
# the cell-bucketed distributed machinery runs unchanged — the 100 TB
# shape. r14 motivation: at sf0.1 (1500 users) the cell self-join +
# checkpoint ladder + hybrid-CC spent ~3 s of job scheduling on data
# that fits one task.
DBSCAN_SINGLE_TASK_POINTS = 4096


def _dbscan_2d_single_task(
    f: DataFrame, eps: int, min_samples: int
) -> DataFrame:
    """Bounded single-task twin of :func:`dbscan_2d` over the
    checkpointed (pid, x, y) frame: dense eps-neighbor matrix in row
    chunks (exact int64 arithmetic), core mask by degree, core-core
    components via vectorized hash-to-min label propagation with
    pointer jumping (labels are min pids — identical to
    connected_components' convention), border = min adjacent core
    cluster, noise = −1. Pinned equal to the distributed member by
    test."""
    e2, ms = int(eps) * int(eps), int(min_samples)

    def work(pdf):
        import numpy as np
        import pandas as pd

        pid = pdf["pid"].to_numpy(np.int64)
        x = pdf["x"].to_numpy(np.int64)
        y = pdf["y"].to_numpy(np.int64)
        n = len(pid)
        N = np.zeros((n, n), dtype=bool)
        for s in range(0, n, 1024):
            t = min(s + 1024, n)
            dx = x[s:t, None] - x[None, :]
            dy = y[s:t, None] - y[None, :]
            N[s:t] = dx * dx + dy * dy <= e2
        np.fill_diagonal(N, False)
        deg = N.sum(axis=1)
        is_core = deg + 1 >= ms
        ci = np.flatnonzero(is_core)
        big = np.int64(1) << 62
        role = np.where(is_core, "core", "noise").astype(object)
        cluster = np.full(n, -1, dtype=np.int64)
        if len(ci):
            sub = N[np.ix_(ci, ci)]
            ids_c = pid[ci]
            order = np.argsort(ids_c)
            sorted_ids = ids_c[order]
            lab = ids_c.copy()
            while True:
                m = np.where(sub, lab[None, :], big).min(axis=1)
                new = np.minimum(lab, m)
                # pointer jump: a label is a core pid — chase it once
                pos = np.searchsorted(sorted_ids, new)
                new = np.minimum(new, lab[order[pos]])
                if np.array_equal(new, lab):
                    break
                lab = new
            cluster[ci] = lab
            # border: non-core points take the MIN adjacent core's
            # cluster id
            nc = np.flatnonzero(~is_core)
            if len(nc):
                bm = np.where(
                    N[np.ix_(nc, ci)], lab[None, :], big
                ).min(axis=1)
                hit = bm < big
                cluster[nc[hit]] = bm[hit]
                role[nc[hit]] = "border"
        return pd.DataFrame(
            {
                "pid": pid,
                "x": x,
                "y": y,
                "role": role,
                "cluster_id": cluster,
            }
        )

    return single_task_map(
        f, work, "pid long, x long, y long, role string, cluster_id long"
    )


def dbscan_2d(
    points: DataFrame,
    id_col: str,
    x_col: str,
    y_col: str,
    eps: int = 4,
    min_samples: int = 5,
) -> DataFrame:
    """DBSCAN density clustering (Ester, Kriegel, Sander & Xu 1996)
    over 2-D INTEGER features — the density member of the clustering
    family (k-means cells: similarity.semantic_dedup; connectivity:
    :func:`connected_components`): cores are points with at least
    ``min_samples`` points (self included, the sklearn convention)
    within euclidean ``eps``; clusters are connected components of the
    core-core eps-graph (cluster id = min core id); non-core points
    within eps of a core become border points of their MINIMUM
    adjacent cluster (a deterministic stand-in for the paper's
    first-found assignment); the rest is noise (cluster_id -1).

    Scale shape: the eps-graph is built with the textbook cell
    bucketing — each point lands in one (x div eps, y div eps) cell
    and probes its 3x3 cell neighborhood, so candidate pairs are a
    cell-local equi-join (linear in points x local density), never an
    all-pairs product. Distances are exact integer arithmetic; for
    high-dimensional inputs build the eps-graph with the blocked
    all-pairs / ANN machinery in functions/similarity.py instead of
    cells.

    Returns (id, x, y, role, cluster_id) with role in
    core/border/noise."""
    f = points.select(
        F.col(id_col).alias("pid"),
        F.col(x_col).cast("long").alias("x"),
        F.col(y_col).cast("long").alias("y"),
    ).localCheckpoint()  # read 3x (probe, build, pts); cut the re-scan
    # count on the checkpointed frame is ~ms; under the bound the
    # whole clustering is one Arrow task (r14)
    if single_task_ok(f.count(), DBSCAN_SINGLE_TASK_POINTS):
        return _dbscan_2d_single_task(f, eps, min_samples).withColumnRenamed(
            "pid", id_col
        )
    e = F.lit(int(eps))
    probe = f.select(
        "pid",
        "x",
        "y",
        F.explode(
            F.flatten(
                F.transform(
                    F.sequence(F.lit(-1), F.lit(1)),
                    lambda dx: F.transform(
                        F.sequence(F.lit(-1), F.lit(1)),
                        lambda dy: F.struct(
                            (F.floor(F.col("x") / e) + dx).alias("cx"),
                            (F.floor(F.col("y") / e) + dy).alias("cy"),
                        ),
                    ),
                )
            )
        ).alias("cell"),
    )
    build = f.select(
        F.col("pid").alias("qid"),
        F.col("x").alias("qx"),
        F.col("y").alias("qy"),
        F.struct(
            F.floor(F.col("x") / e).alias("cx"),
            F.floor(F.col("y") / e).alias("cy"),
        ).alias("cell"),
    )
    d2 = (F.col("x") - F.col("qx")) * (F.col("x") - F.col("qx")) + (
        F.col("y") - F.col("qy")
    ) * (F.col("y") - F.col("qy"))
    pairs = (
        probe.join(build, "cell")
        .filter((F.col("pid") != F.col("qid")) & (d2 <= F.lit(int(eps * eps))))
        .select("pid", "qid")
        # the eps-graph feeds deg, core_edges AND border: without a cut
        # the 3x3-cell self-join would replan/re-run 3-4x (the
        # association_rules 17->9-exchange lesson, analytics.py)
        .localCheckpoint()
    )
    deg = pairs.groupBy("pid").agg(F.count(F.lit(1)).alias("deg"))
    pts = f.join(deg, "pid", "left").select(
        "pid", "x", "y",
        (F.coalesce("deg", F.lit(0)) + 1 >= min_samples).alias("is_core"),
    )
    cores = pts.filter("is_core").select(F.col("pid").alias("cid"))
    core_edges = (
        pairs.join(cores, pairs["pid"] == cores["cid"]).drop("cid")
        .join(cores, pairs["qid"] == cores["cid"]).drop("cid")
    )
    # the core-core eps-graph is locally dense (near-cliques inside each
    # dense region): hybrid contracts it to blob-representatives in one
    # pass before any iteration (r9 measurement at sf0.1: auto = 6
    # rounds / 5.8 s on 250k edges; hybrid = contraction to 628 edges +
    # single-task union-find, ~2 s)
    comp = connected_components(
        core_edges, "pid", "qid", algorithm="hybrid"
    ).select(
        F.col("node").alias("pid"), F.col("cluster_id").alias("core_cluster")
    )
    # isolated cores (no core neighbor) form singleton clusters
    core_cluster = (
        cores.join(comp, cores["cid"] == comp["pid"], "left")
        .select(
            F.col("cid").alias("pid"),
            F.coalesce("core_cluster", F.col("cid")).alias("cluster_id"),
        )
    )
    border = (
        pairs.join(
            core_cluster.withColumnRenamed("pid", "qid"), "qid"
        )
        .groupBy("pid")
        .agg(F.min("cluster_id").alias("border_cluster"))
    )
    return (
        pts.join(core_cluster.withColumnRenamed("cluster_id", "cc"), "pid", "left")
        .join(border, "pid", "left")
        .select(
            F.col("pid").alias(id_col),
            "x",
            "y",
            F.when(F.col("is_core"), F.lit("core"))
            .when(F.col("border_cluster").isNotNull(), F.lit("border"))
            .otherwise(F.lit("noise"))
            .alias("role"),
            F.when(F.col("is_core"), F.col("cc"))
            .otherwise(F.coalesce("border_cluster", F.lit(-1)))
            .alias("cluster_id"),
        )
    )


def kcenter_seeds(
    points: DataFrame,
    id_col: str,
    x_col: str,
    y_col: str,
    k: int = 4,
) -> DataFrame:
    """Farthest-first traversal (Gonzalez 1985, "Clustering to
    minimize the maximum intercluster distance" — the 2-approximation
    for k-center, and the deterministic seeding k-means++ randomizes):
    seed 1 = the MINIMUM id (a fixed deterministic start); each
    further seed is the point with the maximum distance to its
    nearest chosen seed, ties to the minimum id. The coreset /
    diverse-sample selector: k points that provably spread over the
    data.

    All distances are exact integer squares; each round updates the
    per-point min-distance column against ONE new broadcast seed
    (localCheckpointed — the iterative-plan lesson) and collects only
    the single argmax row (bounded driver argmax, the greedy_coverage
    pattern). Returns (rank, id, x, y, d2) with d2 = squared distance
    to the nearest EARLIER seed (0 for the first)."""
    f = points.select(
        F.col(id_col).alias("pid"),
        F.col(x_col).cast("long").alias("x"),
        F.col(y_col).cast("long").alias("y"),
    ).localCheckpoint()
    first = f.orderBy("pid").first()
    seeds = [(1, first["pid"], first["x"], first["y"], 0)]
    d = f.filter(F.col("pid") != F.lit(first["pid"])).select(
        "pid", "x", "y",
        (
            (F.col("x") - F.lit(first["x"])) * (F.col("x") - F.lit(first["x"]))
            + (F.col("y") - F.lit(first["y"]))
            * (F.col("y") - F.lit(first["y"]))
        ).alias("dmin"),
    ).localCheckpoint()
    for r in range(2, int(k) + 1):
        best = d.orderBy(F.desc("dmin"), F.asc("pid")).first()
        if best is None:
            break
        seeds.append((r, best["pid"], best["x"], best["y"], best["dmin"]))
        nd = (
            (F.col("x") - F.lit(best["x"])) * (F.col("x") - F.lit(best["x"]))
            + (F.col("y") - F.lit(best["y"]))
            * (F.col("y") - F.lit(best["y"]))
        )
        d = d.filter(F.col("pid") != F.lit(best["pid"])).select(
            "pid", "x", "y", F.least(F.col("dmin"), nd).alias("dmin")
        ).localCheckpoint()
    from pyspark.sql import types as T

    id_t = f.schema["pid"].dataType
    schema = T.StructType(
        [
            T.StructField("rank", T.LongType()),
            T.StructField("id", id_t),
            T.StructField("x", T.LongType()),
            T.StructField("y", T.LongType()),
            T.StructField("d2", T.LongType()),
        ]
    )
    return f.sparkSession.createDataFrame(
        [(r, p, x, y, int(dd)) for r, p, x, y, dd in seeds], schema
    )


def degree_assortativity(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """Degree assortativity coefficient (Newman 2002, "Assortative
    mixing in networks") of the DIRECTED graph: the Pearson
    correlation between out-degree(src) and in-degree(dst) across
    edges — positive means hubs trade with hubs (assortative),
    negative means hubs serve the periphery (the usual shape of
    interaction graphs). The structural one-number audit beside the
    per-node HITS/pagerank scores.

    Exactness (the trend_lines/pca discipline): degrees are exact
    integer counts; all five edge-wise moments (Σx, Σy, Σxy, Σx²,
    Σy²) are exact BIGINT sums; num = m·Σxy − Σx·Σy and
    denx = m·Σx² − (Σx)² stay exact while m·deg² < 2^63, and r =
    num / sqrt(denx·deny) is computed from identical doubles with
    pinned association (sqrt of one exact-derived double product).
    Plan: two degree aggregates + two broadcast-joined lookups + ONE
    moment aggregate — linear in |E|, no iteration. Returns one row
    (m, num, denx, deny, assortativity)."""
    # e feeds THREE differing consumers (both degree aggregates and
    # the moment join) — no ReusedExchange; one materialization cuts
    # the distinct pass from 3 runs to 1 (r15)
    e = (
        edges.select(F.col(src).alias("s"), F.col(dst).alias("d"))
        .distinct()
        .localCheckpoint()
    )
    outd = e.groupBy("s").agg(F.count(F.lit(1)).alias("x"))
    ind = e.groupBy("d").agg(F.count(F.lit(1)).alias("y"))
    j = e.join(F.broadcast(outd), "s").join(F.broadcast(ind), "d")
    a = j.agg(
        F.count(F.lit(1)).alias("m"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    num = F.col("m") * F.col("sxy") - F.col("sx") * F.col("sy")
    denx = F.col("m") * F.col("sxx") - F.col("sx") * F.col("sx")
    deny = F.col("m") * F.col("syy") - F.col("sy") * F.col("sy")
    return a.select(
        "m",
        num.alias("num"),
        denx.alias("denx"),
        deny.alias("deny"),
        (
            num.cast("double")
            / F.sqrt(denx.cast("double") * deny.cast("double"))
        ).alias("assortativity"),
    )


def louvain_merge_level(edges: DataFrame, weight_col: str = "cnt") -> DataFrame:
    """One synchronous MUTUAL-BEST-MERGE sweep of Louvain phase 1
    (Blondel, Guillaume, Lambiotte & Lefebvre 2008, "Fast unfolding of
    communities in large networks"): from the singleton partition,
    every node computes the modularity gain of joining each neighbor's
    (still-singleton) community — ΔQ·(2m)² = 2m·w_uv − k_u·k_v, an
    exact BIGINT — picks its best positive-gain neighbor (ties to the
    smaller id), and a merge happens IFF the choice is MUTUAL. The
    matching discipline is how deterministic parallel Louvain breaks
    the sequential sweep's order dependence (Lu, Halappanavar &
    Kalyanaraman, ParCo 2015 use exactly this mutual-pointer rule to
    avoid community swaps); mutual-best pairs are disjoint by
    construction, so the new partition needs NO connected-components
    pass and the whole level is two bounded aggregates + one
    self-equi-join — bounded rounds, CTE-oracle-expressible (the
    property k-core's unbounded peeling lacks).

    ``edges`` must be the SYMMETRIZED weighted edge list (src, dst,
    weight_col), each undirected edge present in both directions, no
    self-loops. Returns ONE row: (n_nodes, m2, n_pairs, dq_num,
    q0_num, q1_num, q1) where m2 = 2m, q*_num are modularities scaled
    by (2m)² (singleton baseline q0_num = −Σk², after-merge q1_num =
    q0_num + dq_num, dq_num = 2·Σ pair gains — all exact BIGINTs),
    and q1 is the ONE double division q1_num / m2². Exactness bounds
    (documented, the dd_sketch family discipline): m2·w and k_u·k_v
    must stay < 2^63 and m2² < 2^53 for the lossless double — at
    2m ~ 10⁶ (sf0.1) every term is ≤ ~10¹², far inside both.

    Scale shape: degree/total aggregates are partial+final; the
    argmax is a struct-MAX groupBy (never a rank window); the
    mutual check is an equi-self-join on (src, dst); the only
    BroadcastNestedLoopJoins are one-row scalar broadcasts (m2, pair
    sums — the corpus_mixture pattern). The edge list feeds three
    consumers (degrees, total, scoring) — localCheckpointed once."""
    e = edges.select(
        F.col("src"), F.col("dst"), F.col(weight_col).alias("__w")
    ).localCheckpoint()
    deg = e.groupBy("src").agg(F.sum("__w").alias("__k"))
    m2 = e.agg(F.sum("__w").alias("__m2"))
    scored = (
        e.join(
            deg.withColumnRenamed("src", "__s").withColumnRenamed("__k", "__ks"),
            F.col("src") == F.col("__s"),
        )
        .join(
            deg.withColumnRenamed("src", "__d").withColumnRenamed("__k", "__kd"),
            F.col("dst") == F.col("__d"),
        )
        .crossJoin(F.broadcast(m2))
        .select(
            "src",
            "dst",
            "__w",
            (F.col("__m2") * F.col("__w") - F.col("__ks") * F.col("__kd")).alias(
                "__gain"
            ),
        )
    )
    best = (
        scored.groupBy("src")
        .agg(
            F.max(
                F.struct(
                    F.col("__gain"),
                    (-F.col("dst")).alias("__nd"),
                    F.col("dst"),
                    F.col("__w"),
                )
            ).alias("b")
        )
        .select(
            "src",
            F.col("b.dst").alias("best_dst"),
            F.col("b.__gain").alias("gain"),
            F.col("b.__w").alias("w"),
        )
        .filter(F.col("gain") > 0)
        .localCheckpoint()
    )
    b2 = best.select(
        F.col("src").alias("__r_src"), F.col("best_dst").alias("__r_dst")
    )
    mutual = best.join(
        b2,
        (F.col("src") == F.col("__r_dst"))
        & (F.col("best_dst") == F.col("__r_src")),
    ).filter(F.col("src") < F.col("best_dst"))
    sums = mutual.agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.coalesce(F.sum("gain"), F.lit(0)).alias("sum_gain"),
    )
    base = deg.agg(
        F.count(F.lit(1)).alias("n_nodes"),
        F.sum(F.col("__k") * F.col("__k")).alias("sumk2"),
    )
    return (
        base.crossJoin(F.broadcast(m2))
        .crossJoin(F.broadcast(sums))
        .select(
            "n_nodes",
            F.col("__m2").alias("m2"),
            "n_pairs",
            (2 * F.col("sum_gain")).alias("dq_num"),
            (-F.col("sumk2")).alias("q0_num"),
            (2 * F.col("sum_gain") - F.col("sumk2")).alias("q1_num"),
            (
                (2 * F.col("sum_gain") - F.col("sumk2")).cast("double")
                / (F.col("__m2") * F.col("__m2")).cast("double")
            ).alias("q1"),
        )
    )


def hdbscan_core_2d(
    points: DataFrame,
    id_col: str,
    x_col: str,
    y_col: str,
    eps: int = 4,
    k: int = 5,
) -> DataFrame:
    """HDBSCAN's density substrate (Campello, Moulavi & Sander, PAKDD
    2013, "Density-based clustering based on hierarchical density
    estimates") restricted to the eps-bounded neighborhood graph —
    the hierarchical member beside :func:`dbscan_2d`'s flat cut:
    per point the squared CORE DISTANCE core2 = d² to its k-th
    nearest neighbor (self included, so the (k−1)-th smallest
    neighbor d² — the value at a rank, tie-insensitive), and per
    eps-edge the squared MUTUAL REACHABILITY
    mr2 = max(core2_a, core2_b, d²) — the edge weight HDBSCAN's MST
    runs on. Both are EXACT integer arithmetic on 2-D integer
    features. A point's core distance exists iff it has ≥ k−1
    eps-neighbors (at this eps bound a sparser point cannot be core
    at scale k — the standard eps-truncated hierarchy); output keeps
    points with a core distance and ≥ 1 mutually-defined edge.

    Scale shape: the dbscan_2d cell discipline — one (x div eps,
    y div eps) bucketing, 3×3-cell equi-join (never all-pairs), the
    checkpointed pair table feeding degree, k-NN selection (a
    sort_array over each point's eps-ball — bounded by local
    density, the same bound DBSCAN itself rides) and the two
    edge-endpoint joins. Returns (id, n_eps, core2, n_mr, min_mr2,
    max_mr2), all BIGINT."""
    pairs, core = _eps_pairs_core(points, id_col, x_col, y_col, eps, k)
    ca = core.select(F.col("pid"), F.col("core2").alias("__ca"))
    cb = core.select(
        F.col("pid").alias("qid"), F.col("core2").alias("__cb")
    )
    mr = (
        pairs.join(ca, "pid")
        .join(cb, "qid")
        .select(
            "pid",
            F.greatest(F.col("__ca"), F.col("__cb"), F.col("d2")).alias(
                "mr2"
            ),
        )
        .groupBy("pid")
        .agg(
            F.count(F.lit(1)).alias("n_mr"),
            F.min("mr2").alias("min_mr2"),
            F.max("mr2").alias("max_mr2"),
        )
    )
    return core.join(mr, "pid").select(
        F.col("pid").alias(id_col),
        "n_eps",
        "core2",
        "n_mr",
        "min_mr2",
        "max_mr2",
    )


def _eps_pairs_core(
    points: DataFrame,
    id_col: str,
    x_col: str,
    y_col: str,
    eps: int,
    k: int,
) -> tuple[DataFrame, DataFrame]:
    """Shared HDBSCAN density substrate (factored out of
    hdbscan_core_2d so the MST/condense stage rides the identical
    cell-bucketed geometry): returns (pairs, core) where pairs =
    (pid, qid, d2) — BOTH directions of every eps-edge, exact integer
    d², localCheckpointed (it feeds degree, the k-NN selection and
    both mutual-reachability endpoint joins) — and core = (pid,
    n_eps, core2) for points with ≥ k−1 eps-neighbors."""
    f = points.select(
        F.col(id_col).alias("pid"),
        F.col(x_col).cast("long").alias("x"),
        F.col(y_col).cast("long").alias("y"),
    ).localCheckpoint()  # probe + build sides
    e = F.lit(int(eps))
    probe = f.select(
        "pid",
        "x",
        "y",
        F.explode(
            F.flatten(
                F.transform(
                    F.sequence(F.lit(-1), F.lit(1)),
                    lambda dx: F.transform(
                        F.sequence(F.lit(-1), F.lit(1)),
                        lambda dy: F.struct(
                            (F.floor(F.col("x") / e) + dx).alias("cx"),
                            (F.floor(F.col("y") / e) + dy).alias("cy"),
                        ),
                    ),
                )
            )
        ).alias("cell"),
    )
    build = f.select(
        F.col("pid").alias("qid"),
        F.col("x").alias("qx"),
        F.col("y").alias("qy"),
        F.struct(
            F.floor(F.col("x") / e).alias("cx"),
            F.floor(F.col("y") / e).alias("cy"),
        ).alias("cell"),
    )
    d2 = (F.col("x") - F.col("qx")) * (F.col("x") - F.col("qx")) + (
        F.col("y") - F.col("qy")
    ) * (F.col("y") - F.col("qy"))
    pairs = (
        probe.join(build, "cell")
        .filter(
            (F.col("pid") != F.col("qid")) & (d2 <= F.lit(int(eps * eps)))
        )
        .select("pid", "qid", d2.alias("d2"))
        # feeds degree, the k-NN selection AND both mr endpoints
        .localCheckpoint()
    )
    core = (
        pairs.groupBy("pid")
        .agg(
            F.count(F.lit(1)).alias("n_eps"),
            F.sort_array(F.collect_list("d2")).alias("__ds"),
        )
        .filter(F.col("n_eps") >= int(k) - 1)
        .select(
            "pid",
            "n_eps",
            F.element_at("__ds", int(k) - 1).cast("long").alias("core2"),
        )
    )
    return pairs, core


def hdbscan_mr_edges_2d(
    points: DataFrame,
    id_col: str,
    x_col: str,
    y_col: str,
    eps: int = 4,
    k: int = 5,
) -> DataFrame:
    """UNDIRECTED mutual-reachability edge list over the same
    eps-bounded density substrate as :func:`hdbscan_core_2d` — the
    input HDBSCAN's minimum spanning tree runs on: per core-core
    eps-pair one edge (a, b, w) with a < b and
    w = mr2 = max(core2_a, core2_b, d²), exact BIGINTs. The two
    directions of a pair carry the identical w, so the
    least/greatest normalization + distinct is a pure dedup."""
    pairs, core = _eps_pairs_core(points, id_col, x_col, y_col, eps, k)
    return mr_edges_from_pairs(pairs, core)


def _kruskal_forest(ea, eb, w):
    """Kruskal over int64 edge arrays (a, b, w) under the lexicographic
    (w, a, b) total order — the forest is unique, so it equals the
    distributed Borůvka forest edge for edge. Min-root union-find makes
    every root its component's min node id, which is ``comp``. Returns
    the accepted edges as an (a, b, w, comp) frame in Kruskal order."""
    import numpy as np
    import pandas as pd

    order = np.lexsort((eb, ea, w))
    ea, eb, w = ea[order], eb[order], w[order]
    parent: dict = {}

    def find(v):
        parent.setdefault(v, v)
        r = v
        while parent[r] != r:
            r = parent[r]
        while parent[v] != r:
            parent[v], v = r, parent[v]
        return r

    acc = np.zeros(len(ea), dtype=bool)
    for i in range(len(ea)):
        ra, rb = find(int(ea[i])), find(int(eb[i]))
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
            acc[i] = True
    comp = np.array([find(int(a)) for a in ea[acc]], dtype=np.int64)
    return pd.DataFrame(
        {"a": ea[acc], "b": eb[acc], "w": w[acc], "comp": comp}
    )


def hdbscan_mst_2d_single_task(
    points: DataFrame,
    id_col: str,
    x_col: str,
    y_col: str,
    eps: int = 4,
    k: int = 5,
) -> DataFrame:
    """Bounded single-task twin of
    ``boruvka_mst(hdbscan_mr_edges_2d(...))`` — the whole 2-D HDBSCAN
    forest (eps-graph, core2 = (k−1)-th smallest neighbor d², mutual-
    reachability weights, Kruskal under the lexicographic (w, a, b)
    order, comp = min node id) in ONE Arrow task over a
    ``DBSCAN_SINGLE_TASK_POINTS``-bounded point set. The forest is
    UNIQUE under the total order, so this equals the distributed
    Borůvka member edge for edge (pinned by test). Same contract as
    boruvka_mst: (a, b, w, comp), all BIGINT."""
    e2, kk = int(eps) * int(eps), int(k)

    def work(pdf):
        import numpy as np

        pid = pdf["pid"].to_numpy(np.int64)
        x = pdf["x"].to_numpy(np.int64)
        y = pdf["y"].to_numpy(np.int64)
        n = len(pid)
        big = np.int64(1) << 62
        d2 = np.empty((n, n), dtype=np.int64)
        for s in range(0, n, 1024):
            t = min(s + 1024, n)
            dx = x[s:t, None] - x[None, :]
            dy = y[s:t, None] - y[None, :]
            d2[s:t] = dx * dx + dy * dy
        nb = d2 <= e2
        np.fill_diagonal(nb, False)
        deg = nb.sum(axis=1)
        is_core = deg >= kk - 1
        ci = np.flatnonzero(is_core)
        if not len(ci):
            return None
        # core2 = (k-1)-th smallest eps-neighbor distance (1-based)
        nd = np.where(nb[ci], d2[ci], big)
        nd.sort(axis=1)
        core2 = nd[:, kk - 2]
        # mutual-reachability edges between core pairs (canonical by id)
        sub = nb[np.ix_(ci, ci)]
        ri, cj = np.nonzero(sub)
        keep = pid[ci[ri]] < pid[ci[cj]]
        ri, cj = ri[keep], cj[keep]
        ea = pid[ci[ri]]
        eb = pid[ci[cj]]
        w = np.maximum(
            np.maximum(core2[ri], core2[cj]), d2[ci[ri], ci[cj]]
        )
        return _kruskal_forest(ea, eb, w)

    f = points.select(
        F.col(id_col).alias("pid"),
        F.col(x_col).cast("long").alias("x"),
        F.col(y_col).cast("long").alias("y"),
    )
    return single_task_map(f, work, "a long, b long, w long, comp long")


def mr_edges_from_pairs(pairs: DataFrame, core: DataFrame) -> DataFrame:
    """Undirected mutual-reachability edges from any eps-pair table
    (pid, qid, d2 — both directions) and core table (pid, core2):
    w = mr2 = max(core2_a, core2_b, d²), normalized a < b, distinct.
    Geometry-agnostic — the 2-D cell join and the embedding-space
    blocked BLAS (similarity.euclid_eps_pairs) both feed it."""
    ca = core.select(F.col("pid"), F.col("core2").alias("__ca"))
    cb = core.select(F.col("pid").alias("qid"), F.col("core2").alias("__cb"))
    return (
        pairs.join(ca, "pid")
        .join(cb, "qid")
        .select(
            F.least("pid", "qid").alias("a"),
            F.greatest("pid", "qid").alias("b"),
            F.greatest(F.col("__ca"), F.col("__cb"), F.col("d2")).alias("w"),
        )
        .distinct()
    )


def hdbscan_mst_from_canon_single_task(
    canon: DataFrame, k: int
) -> DataFrame:
    """Bounded single-task twin of the embed-family HDBSCAN forest
    pipeline downstream of a CANONICAL eps-pair table (vec_a < vec_b,
    exact d2): symmetrized degrees, core2 = (k−1)-th smallest incident
    d², mutual-reachability weights on core-core pairs, Kruskal under
    the lexicographic (w, a, b) total order (forest unique ⇒ equals
    distributed Borůvka edge for edge; same (a, b, w, comp) contract).
    Replaces the pairs-checkpoint + core aggregate + mr joins +
    Borůvka orchestration (~2.5 s of eager checkpoints at sf0.1) with
    one Arrow pass. Pinned equal by test."""
    kk = int(k)

    def work(pdf):
        import numpy as np

        ea0 = pdf["vec_a"].to_numpy(np.int64)
        eb0 = pdf["vec_b"].to_numpy(np.int64)
        d2 = pdf["d2"].to_numpy(np.int64)
        nodes = np.unique(np.r_[ea0, eb0])
        n = len(nodes)
        ai = np.searchsorted(nodes, ea0)
        bi = np.searchsorted(nodes, eb0)
        deg = np.bincount(ai, minlength=n) + np.bincount(bi, minlength=n)
        is_core = deg >= kk - 1
        # core2 per node: (k-1)-th smallest incident d2 (1-based)
        inc = np.r_[ai, bi]
        dd = np.r_[d2, d2]
        order = np.lexsort((dd, inc))
        inc_s, dd_s = inc[order], dd[order]
        starts = np.flatnonzero(np.r_[True, inc_s[1:] != inc_s[:-1]])
        core2 = np.zeros(n, dtype=np.int64)
        run_nodes = inc_s[starts]
        sel = is_core[run_nodes]  # core runs have >= k-1 incident rows
        core2[run_nodes[sel]] = dd_s[(starts + kk - 2)[sel]]
        keep = is_core[ai] & is_core[bi]
        ea, eb = ea0[keep], eb0[keep]
        w = np.maximum(
            np.maximum(core2[ai[keep]], core2[bi[keep]]), d2[keep]
        )
        return _kruskal_forest(ea, eb, w)

    return single_task_map(
        canon.select("vec_a", "vec_b", "d2"),
        work,
        "a long, b long, w long, comp long",
    )


def hdbscan_condense(
    mst: DataFrame, min_cluster_size: int = 3
) -> DataFrame:
    """HDBSCAN condensed-tree LEAF extraction (Campello, Moulavi &
    Sander 2013 §4; the `leaf` cluster-selection method) over a
    mutual-reachability minimum spanning forest — the deliverable on
    top of :func:`boruvka_mst`: flat cluster labels plus the
    condensed-tree stability mass of every leaf cluster.

    Formulation (the ascending single-linkage sweep — processing the
    forest's edges in the SAME lexicographic (w, a, b) order Kruskal
    accepts them is exactly a bottom-up walk of the dendrogram):
    union-find over the component set with three merge cases, m =
    ``min_cluster_size``:

    - both sides < m, result ≥ m → a LEAF cluster is born (descending
      reading: a cluster shrinking below m DIES here), and every
      current member "falls out" at this level — they are the
      cluster's last survivors;
    - one side in a cluster, other side < m → FALSE split: the small
      side's members fall out of the continuing cluster at this w;
    - both sides in clusters → TRUE split (descending: both children
      are BORN here): both clusters finalize with λ_birth = 1/√w, and
      the merged component continues as a new INTERNAL cluster (a
      cluster created at a true split has a true split below it, so
      it can never be a leaf; a false-split small side is < m and can
      contain no cluster — leaf-ness is therefore fixed at creation).

    A component that never true-splits finalizes at the top with
    λ_birth = 0 (the w = ∞ root convention). Per leaf cluster C:
    stability σ(C) = Σ_{p ∈ C} (λ_p − λ_birth(C)) with
    λ = 1/√(1 + mr2) — Campello et al. use λ = 1/d; the +1 shift
    (documented variant, still strictly monotone in distance) keeps λ
    finite on EXACT-DUPLICATE geometry, where mr2 = 0 merges would
    otherwise make a leaf's density infinite (hit at sf0.1: ≥ k
    coincident points give core2 = 0),
    accumulated as a LEFT FOLD over members ordered by (w_fall, pid)
    — math.sqrt/div/add are correctly-rounded IEEE in both engines,
    so the DuckDB oracle's list_reduce over the same order is
    bit-exact (the jackknife_variance discipline). Points whose
    fall-out attaches to an internal cluster are noise and emit
    nothing.

    Scale shape: one Arrow task per FOREST COMPONENT (groupBy the
    comp label boruvka_mst already carries) — the MSF is O(n) edges,
    its components partition it, and the sequential sweep is linear
    in the component's edge count (the q-digest one-task-per-group
    discipline); the E → n reduction happened distributed in
    boruvka_mst. Returns (pid, label, w_fall, n_members, stability);
    label = the MIN pid among the leaf cluster's members (computed at
    readout over the cluster's fall-out events — unique across leaf
    clusters since members partition)."""
    import math

    import pandas as pd

    m = int(min_cluster_size)
    if m < 2:
        raise ValueError("min_cluster_size must be >= 2")

    def condense(pdf):
        events, finals = _condensed_sweep(pdf, m)
        by_cid: dict = {}
        for p, w, cid in events:
            by_cid.setdefault(cid, []).append((w, p))
        out = []
        for cid, (wsplit, leaf, _minw) in finals.items():
            if not leaf:
                continue
            evs = sorted(by_cid.get(cid, []))
            label = min(p for _w, p in evs)
            lb = 0.0 if wsplit == 0 else 1.0 / math.sqrt(1.0 + wsplit)
            s = 0.0
            for w, _p in evs:
                s += 1.0 / math.sqrt(1.0 + w) - lb
            for w, p in evs:
                out.append((p, label, w, len(evs), s))
        cols = ["pid", "label", "w_fall", "n_members", "stability"]
        if not out:
            return pd.DataFrame(
                {
                    c: pd.Series([], dtype="float64" if c == "stability" else "int64")
                    for c in cols
                }
            )
        return pd.DataFrame(out, columns=cols)

    return mst.groupBy("comp").applyInPandas(
        condense,
        "pid long, label long, w_fall long, n_members long, stability double",
    )


def _condensed_sweep(pdf, m: int):
    """The ascending condensed-tree sweep shared by
    :func:`hdbscan_condense` and :func:`hdbscan_glosh`: union-find
    over one forest component's edges in (w, a, b) order, returning
    (events, finals) where events = [(pid, w_fall, cid)] and finals =
    {cid: (wsplit, leaf, minw)} with minw = the SMALLEST fall-out w
    anywhere in the cluster's condensed SUBTREE (tracked per
    component through merges — ascending order means a subtree's
    first fall event sets it; the min is kept for safety). minw is
    exactly the λ_max(C) level GLOSH scores against."""
    pdf = pdf.sort_values(["w", "a", "b"])
    rep: dict = {}
    members: dict = {}
    cluster: dict = {}  # rep -> (cid, leaf, minw)
    events: list = []  # (pid, w_fall, cid)
    finals: dict = {}  # cid -> (wsplit, leaf, minw)

    def find(x):
        root = x
        while rep[root] != root:
            root = rep[root]
        while rep[x] != root:
            rep[x], x = root, rep[x]
        return root

    for a, b, w in zip(pdf["a"], pdf["b"], pdf["w"]):
        a, b, w = int(a), int(b), int(w)
        for node in (a, b):
            if node not in rep:
                rep[node] = node
                members[node] = [node]
        ra, rb = find(a), find(b)
        r, g = (ra, rb) if ra < rb else (rb, ra)
        ca = cluster.pop(ra, None)
        cb = cluster.pop(rb, None)
        mem_small = members[rb] if ca is not None else members[ra]
        mem = members.pop(ra) + members.pop(rb)
        rep[g] = r
        members[r] = mem
        if ca is None and cb is None:
            if len(mem) >= m:
                cid = (a, b)
                cluster[r] = (cid, True, w)
                events.extend((p, w, cid) for p in mem)
        elif ca is not None and cb is not None:
            # wsplit = 0 is reserved as the open-cluster sentinel (see
            # below), so a TRUE split at w = 0 must be impossible. It
            # is: w = 0 needs core2 = d2 = 0 on both endpoints, and
            # the set of such nodes forms complete zero-weight
            # subgraphs whose (w, a, b)-ordered Kruskal acceptance
            # yields a star — both sides of any later merge that
            # reaches ≥ m at w = 0 were built inside ONE component, so
            # two already-born clusters can never meet at w = 0. Keep
            # the invariant loud rather than implicit (r13 advice).
            if w == 0:
                raise AssertionError(
                    "hdbscan condensed sweep: true split at w=0 would "
                    "collide with the open-cluster sentinel"
                )
            finals[ca[0]] = (w, ca[1], ca[2])
            finals[cb[0]] = (w, cb[1], cb[2])
            cluster[r] = ((a, b), False, min(ca[2], cb[2]))
        else:
            keep = ca if ca is not None else cb
            events.extend((p, w, keep[0]) for p in mem_small)
            cluster[r] = (keep[0], keep[1], min(keep[2], w))
    for cid, leaf, minw in cluster.values():
        # wsplit = 0 is the OPEN-cluster sentinel (λ_birth = 0, the
        # root convention); collision with a genuine w = 0 true split
        # is impossible — asserted in the two-cluster branch above —
        # and the oracle's CASE mirrors the same convention.
        finals[cid] = (0, leaf, minw)
    return events, finals


def hdbscan_glosh(mst: DataFrame, min_cluster_size: int = 3) -> DataFrame:
    """GLOSH outlier scores (Campello, Moulavi, Zimek & Sander, TKDD
    2015 §8 — the Global-Local Outlier Score from Hierarchies that
    ships with every HDBSCAN implementation) over the same ascending
    condensed sweep as :func:`hdbscan_condense`: EVERY point p that
    ever entered a cluster gets
    score(p) = 1 − λ_max(C_p)/λ_p, where C_p is the condensed cluster
    p fell out of, λ_p = 1/√(1 + w_fall(p)), and λ_max(C) =
    1/√(1 + minw(C)) is the highest density the cluster OR ITS
    CONDENSED DESCENDANTS ever reach (minw = the subtree's smallest
    fall-out level, carried through merges by the sweep). Dense-core
    members score ≈ 0, points shed early from a cluster whose core
    gets much denser score → 1 — unlike hdbscan_condense's
    leaf-members-only view, noise points attached to internal
    clusters are first-class here (that is GLOSH's point). The two
    sqrt/div/subtract steps are correctly-rounded IEEE in both
    engines, so the oracle's scores hash bit-exact. Returns
    (pid, label, w_fall, w_peak, leaf, score); label = min member
    pid of C_p, w_peak = minw(C_p), leaf ∈ {0, 1}."""
    import math

    import pandas as pd

    m = int(min_cluster_size)
    if m < 2:
        raise ValueError("min_cluster_size must be >= 2")

    def glosh(pdf):
        events, finals = _condensed_sweep(pdf, m)
        label: dict = {}
        for p, _w, cid in events:
            label[cid] = p if cid not in label else min(label[cid], p)
        out = []
        for p, w, cid in events:
            _wsplit, leaf, minw = finals[cid]
            lam_max = 1.0 / math.sqrt(1.0 + minw)
            lam_p = 1.0 / math.sqrt(1.0 + w)
            out.append(
                (p, label[cid], w, minw, int(leaf), 1.0 - lam_max / lam_p)
            )
        cols = ["pid", "label", "w_fall", "w_peak", "leaf", "score"]
        if not out:
            return pd.DataFrame(
                {
                    c: pd.Series([], dtype="float64" if c == "score" else "int64")
                    for c in cols
                }
            )
        return pd.DataFrame(out, columns=cols)

    return mst.groupBy("comp").applyInPandas(
        glosh,
        "pid long, label long, w_fall long, w_peak long, leaf long,"
        " score double",
    )


def _kruskal_finish(ce: DataFrame) -> DataFrame:
    """Single-task Kruskal finisher for the component-level edge
    table once it fits ``uf_bound`` (the _cc_hybrid / q-digest
    bounded-single-task discipline — a ladder of driver-loop rounds
    over an already-small table is pure job overhead; measured
    8.7 s → ~2 s for the sf0.1 HDBSCAN forest). One Arrow task sorts
    the remaining edges by (ew, ea, eb) and union-finds over the
    component labels. Emits a union frame: kind 0 rows are accepted
    forest edges (x1, x2, x3 = ew, ea, eb); kind 1 rows map old
    component label x1 → final root x2."""

    def kr(pdf):
        import pandas as pd

        rows = sorted(
            zip(
                (int(v) for v in pdf["ew"]),
                (int(v) for v in pdf["ea"]),
                (int(v) for v in pdf["eb"]),
                (int(v) for v in pdf["ca"]),
                (int(v) for v in pdf["cb"]),
            )
        )
        parent: dict = {}

        def find(x):
            parent.setdefault(x, x)
            root = x
            while parent[root] != root:
                root = parent[root]
            while parent[x] != root:
                parent[x], x = root, parent[x]
            return root

        out = []
        for ew, ea, eb, ca, cb in rows:
            ra, rb = find(ca), find(cb)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
                out.append((0, ew, ea, eb))
        out.extend((1, c, find(c), 0) for c in list(parent))
        return pd.DataFrame(out, columns=["kind", "x1", "x2", "x3"])

    return single_task_map(ce, kr, "kind int, x1 long, x2 long, x3 long")


def boruvka_mst(
    edges: DataFrame,
    src: str = "a",
    dst: str = "b",
    weight: str = "w",
    max_iter: int = 40,
    stats: dict | None = None,
    uf_bound: int = 4_000_000,
) -> DataFrame:
    """Distributed Borůvka minimum spanning forest (Borůvka 1926; the
    parallel formulation in Chung & Condon, IPPS 1996) under the
    LEXICOGRAPHIC edge order (w, a, b): because (a, b) pairs are
    unique the tuple order is total, so by the classic
    distinct-weights theorem the MSF is UNIQUE — an independent
    sequential Kruskal replay must produce the identical edge set,
    which is exactly how the DuckDB oracle checks this function (two
    published formulations of the same theorem, the isotonic /
    jaro_winkler oracle discipline).

    Each round: (1) every component picks its minimum incident edge
    via ONE struct-MIN aggregate over the relabeled edge list (never
    a rank window; a separate per-(ca, cb) parallel-edge contraction
    would be a second E-sized shuffle that the per-comp min already
    subsumes — measured 25 s → 9 s at sf0.1 dropping it); (2) the
    picked edges join the forest — by the cut property under a total
    order each is the unique lightest edge leaving its component,
    hence in the MSF; (3) the pointer graph the picks induce on
    components is collapsed with the existing
    :func:`connected_components` (``hybrid``: one contraction pass +
    bounded single-task union-find — the pointer graph has exactly
    one edge per component, far under the uf_bound, and hybrid costs
    ~3 small jobs where auto's propagation rounds cost ~2 each).
    Components at least halve per round → ≤ log2(n) rounds; the
    per-round frames are localCheckpointed so the plan does not grow
    with iterations and the accumulated forest hangs only off
    checkpointed picks (the pagerank/q-digest loop lessons). Once
    the component-level edge table fits ``uf_bound`` (checked with
    the per-round count that doubles as the termination test) the
    remainder finishes in ONE single-task Kruskal pass
    (:func:`_kruskal_finish` — the _cc_hybrid discipline; at 100 TB
    the distributed rounds do the E → n reduction and the finisher
    sees only the bounded component graph). ``uf_bound=0`` forces
    pure distributed rounds (tests exercise both paths).

    Input: undirected edge list (direction-insensitive; normalized to
    a < b and de-duplicated here). Returns (a, b, w, comp) — the
    forest edges plus each edge's final component label (comp = min
    node id in its component, the connected_components convention),
    all BIGINT. ``stats["rounds"]`` reports the outer round count."""
    e0 = (
        edges.select(
            F.least(F.col(src), F.col(dst)).cast("long").alias("ea"),
            F.greatest(F.col(src), F.col(dst)).cast("long").alias("eb"),
            F.col(weight).cast("long").alias("ew"),
        )
        .filter(F.col("ea") != F.col("eb"))
        .distinct()
    )
    labels = (
        e0.select(F.col("ea").alias("node"))
        .union(e0.select("eb"))
        .distinct()
        .withColumn("comp", F.col("node"))
        .localCheckpoint()
    )
    # component-level edge table (ca < cb) carrying the original edge
    ce = e0.select(
        F.col("ea").alias("ca"), F.col("eb").alias("cb"), "ew", "ea", "eb"
    ).localCheckpoint()
    mst_parts: list[DataFrame] = []
    rounds = 0
    while rounds < max_iter:
        rounds += 1
        n_edges = ce.count()
        if n_edges == 0:
            rounds -= 1
            break
        if n_edges <= uf_bound:
            fin = _kruskal_finish(ce).localCheckpoint()
            mst_parts.append(
                fin.filter(F.col("kind") == 0).select(
                    F.col("x1").alias("ew"),
                    F.col("x2").alias("ea"),
                    F.col("x3").alias("eb"),
                )
            )
            merged = fin.filter(F.col("kind") == 1).select(
                F.col("x1").alias("comp"), F.col("x2").alias("nc")
            )
            labels = labels.join(merged, "comp", "left").select(
                "node", F.coalesce("nc", "comp").alias("comp")
            )
            if stats is not None:
                stats["single_task_finish"] = True
            break
        # minimum incident edge per component (both directions)
        incident = ce.select(
            F.col("ca").alias("c"), "ew", "ea", "eb", F.col("cb").alias("o")
        ).union(
            ce.select(
                F.col("cb").alias("c"), "ew", "ea", "eb", F.col("ca").alias("o")
            )
        )
        picks = (
            incident.groupBy("c")
            .agg(F.min(F.struct("ew", "ea", "eb", "o")).alias("m"))
            .select(
                "c",
                F.col("m.ew").alias("ew"),
                F.col("m.ea").alias("ea"),
                F.col("m.eb").alias("eb"),
                F.col("m.o").alias("o"),
            )
            .localCheckpoint()
        )
        mst_parts.append(picks.select("ew", "ea", "eb").distinct())
        # collapse the pointer graph on components; comps without a
        # cross edge are finished and keep their label via coalesce
        merged = (
            connected_components(
                picks.select("c", "o"), "c", "o", algorithm="hybrid"
            )
            .select(
                F.col("node").alias("comp"), F.col("cluster_id").alias("nc")
            )
            .localCheckpoint()  # three consumers: labels + both ce sides
        )
        labels = (
            labels.join(merged, "comp", "left")
            .select("node", F.coalesce("nc", "comp").alias("comp"))
            .localCheckpoint()
        )
        ce = (
            ce.join(
                merged.select(F.col("comp").alias("ca"), F.col("nc").alias("na")),
                "ca",
                "left",
            )
            .join(
                merged.select(F.col("comp").alias("cb"), F.col("nc").alias("nb")),
                "cb",
                "left",
            )
            .select(
                F.coalesce("na", "ca").alias("qa"),
                F.coalesce("nb", "cb").alias("qb"),
                "ew",
                "ea",
                "eb",
            )
            .filter(F.col("qa") != F.col("qb"))
            .select(
                F.least("qa", "qb").alias("ca"),
                F.greatest("qa", "qb").alias("cb"),
                "ew",
                "ea",
                "eb",
            )
            .localCheckpoint()  # feeds next round's isEmpty + incident
        )
    if stats is not None:
        stats["rounds"] = rounds
    spark = edges.sparkSession
    if not mst_parts:
        return spark.createDataFrame(
            [], "a long, b long, w long, comp long"
        )
    mst = mst_parts[0]
    for part in mst_parts[1:]:
        mst = mst.union(part)
    return mst.join(
        labels.select(F.col("node").alias("ea"), "comp"), "ea"
    ).select(
        F.col("ea").alias("a"), F.col("eb").alias("b"),
        F.col("ew").alias("w"), "comp",
    )


def optics_order(mst: DataFrame) -> DataFrame:
    """OPTICS reachability ordering (Ankerst, Breunig, Kriegel &
    Sander, SIGMOD 1999) read directly off the mutual-reachability
    minimum spanning forest — the THIRD readout of the shared MSF
    store beside the condensed-tree leaves and GLOSH: with eps = ∞,
    the OPTICS walk of a component is exactly PRIM's algorithm on its
    mutual-reachability graph, and on the MST the admitting edge of
    each point IS its reachability value — so the reachability plot
    is a traversal of the forest, no distance computation at all
    (the standard MST→reachability derivation single-node HDBSCAN
    implementations use).

    Deterministic rule, mirrored bit-for-bit by the SQL oracle: every
    component starts at its root (= comp label = min node id, visited
    up front); each step admits the lexicographically smallest
    (w, a, b) edge with exactly one visited endpoint. Components
    evolve independently (their frontiers never interact), so the
    per-component admission sequence equals the solo Prim run.

    Output per node: (pid, comp, ord, reach) — ord = admission rank
    within the component (root = 0), reach = admitting edge weight
    (root = -1, the undefined-reachability sentinel of the plot).
    One bounded Arrow task per forest component, the condensed-sweep
    discipline; the forest is E = n−c edges, never the eps-graph."""
    import pandas as pd

    def walk(pdf: pd.DataFrame) -> pd.DataFrame:
        comp = int(pdf["comp"].iloc[0])
        edges = sorted(
            (int(w), int(a), int(b))
            for a, b, w in zip(pdf["a"], pdf["b"], pdf["w"])
        )
        visited = {comp}
        out = [(comp, comp, 0, -1)]
        remaining = list(edges)
        ordn = 0
        while remaining:
            pick = None
            for idx, (w, a, b) in enumerate(remaining):
                if (a in visited) != (b in visited):
                    pick = idx
                    break
            if pick is None:  # disconnected within a comp: impossible
                raise AssertionError(
                    f"optics_order: no frontier edge in comp {comp}"
                )
            w, a, b = remaining.pop(pick)
            new = b if a in visited else a
            visited.add(new)
            ordn += 1
            out.append((new, comp, ordn, w))
        return pd.DataFrame(
            out, columns=["pid", "comp", "ord", "reach"]
        )

    return mst.groupBy("comp").applyInPandas(
        walk, "pid long, comp long, ord long, reach long"
    )
