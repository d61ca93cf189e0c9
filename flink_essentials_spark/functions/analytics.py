"""Order-statistics analytics over unbounded tables.

First member: the 2-D skyline / Pareto front (Börzsönyi, Kossmann &
Stocker 2001, "The Skyline Operator" — ICDE) under MAX/MAX dominance.
The naive formulation is a dominance self-join (quadratic, and a
BroadcastNestedLoopJoin in any engine); the scale-safe form used here
is the repo's banded two-phase prefix pattern (token_budget_select):
band by x, resolve strictly-greater-x maxima with a KEYED range-frame
window inside each band plus a suffix-max over the ~bands-sized band
aggregate — every data-sized window keyed, the only partitionless
window runs over the bounded band table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F

from flink_essentials_spark.routing import single_task_map, single_task_ok

# Distinct-item-cardinality cap for the dense I*I pair-count bincount
# the single-task twins allocate: the row-count gate bounds ROWS, not
# item cardinality, and a row-bounded but high-cardinality input would
# attempt an arbitrarily large worker allocation (r14 advice). 4096²
# int64 = 128 MiB — comfortably one task; beyond it the caller must
# take the distributed plan (drop n_rows_hint).
ASSOC_SINGLE_TASK_ITEMS = 4096


def _check_item_cap(n_items: int, what: str) -> None:
    if n_items > ASSOC_SINGLE_TASK_ITEMS:
        raise ValueError(
            f"{what}: distinct item cardinality {n_items} exceeds the "
            f"single-task pair-count cap ({ASSOC_SINGLE_TASK_ITEMS}); "
            "the dense I*I bincount would allocate "
            f"{n_items * n_items * 8 / 2**30:.1f} GiB in one worker — "
            "run the distributed plan instead (call without n_rows_hint)"
        )


def pareto_front(
    points: DataFrame,
    id_col: str,
    x_col: str,
    y_col: str,
    n_bands: int = 32,
) -> DataFrame:
    """Skyline under MAX/MAX dominance over integer coordinates:
    a point is dominated iff some other point is >= in both dims and
    > in at least one; the front is everything not dominated. Exact
    tie semantics: coincident duplicates do not dominate each other
    (both stay on the front).

    Decomposition (all exact integer arithmetic):
      dominated(p) = [max y among x' > p.x] >= p.y
                  OR [max y among x' = p.x] > p.y
    The first max splits into within-band (keyed window, RANGE frame
    starting 1 following on x) and higher-bands (suffix max over the
    n_bands-row aggregate, broadcast back); the second is a keyed
    (band, x) window. Returns the front rows (id, x, y).
    """
    p = points.select(
        F.col(id_col).alias("pid"),
        F.col(x_col).cast("long").alias("x"),
        F.col(y_col).cast("long").alias("y"),
    )
    bounds = p.agg(F.max("x").alias("mx"))
    banded = p.crossJoin(F.broadcast(bounds)).select(
        "pid",
        "x",
        "y",
        F.floor((F.col("x") * n_bands) / (F.col("mx") + 1)).alias("band"),
    )
    in_band = (
        W.partitionBy("band")
        .orderBy("x")
        .rangeBetween(1, W.unboundedFollowing)
    )
    same_x = W.partitionBy("band", "x")
    staged = banded.select(
        "pid",
        "x",
        "y",
        "band",
        F.max("y").over(in_band).alias("maxy_in_band_gt"),
        F.max("y").over(same_x).alias("maxy_same_x"),
    )
    # suffix max over the bounded band aggregate (allowlisted
    # partitionless window: <= n_bands rows by construction)
    band_stats = banded.groupBy("band").agg(F.max("y").alias("band_max"))
    suffix = band_stats.select(
        "band",
        F.max("band_max")
        .over(W.orderBy("band").rowsBetween(1, W.unboundedFollowing))
        .alias("maxy_higher_bands"),
    )
    joined = staged.join(F.broadcast(suffix), "band")
    maxy_gt = F.greatest(
        F.coalesce("maxy_in_band_gt", F.lit(-(1 << 62))),
        F.coalesce("maxy_higher_bands", F.lit(-(1 << 62))),
    )
    return (
        joined.filter(
            ~((maxy_gt >= F.col("y")) | (F.col("maxy_same_x") > F.col("y")))
        )
        .select(F.col("pid").alias(id_col), "x", "y")
    )


# Input-row bound under which association_rules runs as ONE Arrow
# task (the slope_one bincount discipline): pair enumeration is
# run-length triu + a bincount over an item²-bounded code space.
ASSOC_SINGLE_TASK_ROWS = 1 << 20


def _association_rules_single_task(
    baskets: DataFrame,
    basket_col: str,
    item_col: str,
    num: int,
    den: int,
    min_confidence: float,
) -> DataFrame:
    """Bounded single-task twin of :func:`association_rules`: the
    identical Apriori semantics (distinct baskets, frequent-item
    prune, a<b string-ordered pair combinations, support/confidence/
    lift as the same exact-integer divisions) in numpy — np.unique
    factorization (code order == Spark string order for these ASCII
    items), run-length triu enumeration, bincounts. Pinned equal to
    the distributed member by test."""

    def work(pdf):
        import numpy as np
        import pandas as pd

        bk = pdf["bk"].to_numpy()
        it = pdf["it"].to_numpy()
        ubk, bcode = np.unique(bk, return_inverse=True)
        uit, icode = np.unique(it, return_inverse=True)
        I = len(uit)
        _check_item_cap(I, "association_rules single-task twin")
        u = np.unique(bcode.astype(np.int64) * I + icode)
        b_bk, b_it = u // I, u % I
        n_b = len(np.unique(b_bk))
        n_i = np.bincount(b_it, minlength=I)
        keep = (n_i * den >= num * n_b)[b_it]
        kb, ki = b_bk[keep], b_it[keep]
        order = np.lexsort((ki, kb))
        kb, ki = kb[order], ki[order]
        n = len(kb)
        n_ab = np.zeros(I * I, dtype=np.int64)
        if n:
            starts = np.flatnonzero(np.r_[True, kb[1:] != kb[:-1]])
            sizes = np.diff(np.r_[starts, n])
            for L in np.unique(sizes):
                if L < 2:
                    continue
                sel = starts[sizes == L]
                li, lj = np.triu_indices(int(L), 1)
                pa = (sel[:, None] + li[None, :]).ravel()
                pb = (sel[:, None] + lj[None, :]).ravel()
                n_ab += np.bincount(
                    ki[pa] * I + ki[pb], minlength=I * I
                )
        nz = np.flatnonzero(n_ab * den >= num * n_b)
        nz = nz[n_ab[nz] > 0]
        if not len(nz):
            return None
        a_i, b_i = nz // I, nz % I
        cnt = n_ab[nz]
        # both directed rules
        da = np.r_[a_i, b_i]
        db = np.r_[b_i, a_i]
        dn = np.r_[cnt, cnt]
        conf = dn.astype(np.float64) / n_i[da].astype(np.float64)
        lift = (dn * np.int64(n_b)).astype(np.float64) / (
            n_i[da] * n_i[db]
        ).astype(np.float64)
        out = pd.DataFrame(
            {
                "antecedent": uit[da],
                "consequent": uit[db],
                "n_pair": dn,
                "n_ante": n_i[da],
                "confidence": conf,
                "lift": lift,
            }
        )
        if min_confidence > 0:
            out = out[out["confidence"] >= float(min_confidence)]
        return out

    it_t = baskets.schema[item_col].dataType.simpleString()
    return single_task_map(
        baskets.select(
            F.col(basket_col).alias("bk"), F.col(item_col).alias("it")
        ),
        work,
        f"antecedent {it_t}, consequent {it_t}, n_pair long,"
        " n_ante long, confidence double, lift double",
    )


def association_rules(
    baskets: DataFrame,
    basket_col: str,
    item_col: str,
    min_support: float = 0.022,
    min_confidence: float = 0.0,
    n_rows_hint: int | None = None,
) -> DataFrame:
    """Apriori association rules over 2-itemsets (Agrawal & Srikant
    1994, "Fast Algorithms for Mining Association Rules"): frequent
    items, frequent PAIRS from the pruned baskets, and both directed
    rules per pair with support count, confidence and lift — the
    market-basket staple.

    Scale shape: the Apriori prune is real — baskets are first
    filtered to frequent items by a broadcast semi-join, then pairs
    are generated INSIDE the scan stage (collect the basket's item
    array per key, explode the a<b combinations) so there is no
    basket self-join; pair counts shuffle on the (a, b) key only.
    Every measure is exact-integer derived: confidence = n_ab/n_a and
    lift = n_ab·N/(n_a·n_b) are each ONE division of exact BIGINTs,
    so any engine reproduces them bit-for-bit.

    ``min_support`` is the RELATIVE support fraction (converted to
    an exact rational, so the threshold n·den >= num·N is pure
    integer comparison on every engine). Returns (antecedent,
    consequent, n_pair, n_ante, confidence, lift) for pairs at or
    above support, filtered to ``confidence >= min_confidence``."""
    from fractions import Fraction

    fr = Fraction(str(min_support))
    num, den = fr.numerator, fr.denominator
    if single_task_ok(n_rows_hint, ASSOC_SINGLE_TASK_ROWS):
        return _association_rules_single_task(
            baskets, basket_col, item_col, num, den, min_confidence
        )
    # the distinct basket table feeds FIVE consumers (N, item counts,
    # the prune, pair generation) and Catalyst does not share
    # uncached subtrees — materialize it once (the pagerank/LPA
    # localCheckpoint discipline; at cluster scale use a reliable
    # checkpoint dir). item_counts is vocabulary-sized and reused
    # three times, so it gets the same treatment.
    b = (
        baskets.select(
            F.col(basket_col).alias("bk"), F.col(item_col).alias("it")
        )
        .distinct()
        .localCheckpoint()
    )
    n_baskets = b.agg(F.countDistinct("bk").alias("n_b"))
    item_counts = (
        b.groupBy("it").agg(F.count(F.lit(1)).alias("n_i")).localCheckpoint()
    )
    frequent = (
        item_counts.crossJoin(F.broadcast(n_baskets))
        .filter(F.col("n_i") * den >= num * F.col("n_b"))
        .select("it")
    )
    pruned = b.join(F.broadcast(frequent), "it", "left_semi")
    arrs = pruned.groupBy("bk").agg(
        F.sort_array(F.collect_set("it")).alias("items")
    )
    idx = F.sequence(F.lit(1), F.size("items"))
    pairs = arrs.filter(F.size("items") >= 2).select(
        F.explode(
            F.flatten(
                F.transform(
                    idx,
                    # guard: F.sequence(n+1, n) DESCENDS — the last
                    # index must contribute an empty combination list
                    lambda i: F.when(
                        i < F.size(F.col("items")),
                        F.transform(
                            F.sequence(i + 1, F.size(F.col("items"))),
                            lambda j: F.struct(
                                F.element_at(F.col("items"), i).alias("a"),
                                F.element_at(F.col("items"), j).alias("b"),
                            ),
                        ),
                    ).otherwise(
                        F.array().cast("array<struct<a:string,b:string>>")
                    ),
                )
            )
        ).alias("p")
    ).select(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
    pair_counts = (
        pairs.groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("n_ab"))
        .crossJoin(F.broadcast(n_baskets.withColumnRenamed("n_b", "n_b0")))
        .filter(F.col("n_ab") * den >= num * F.col("n_b0"))
        .drop("n_b0")
    )
    both = pair_counts.select("a", "b", "n_ab").unionAll(
        pair_counts.select(
            F.col("b").alias("a"), F.col("a").alias("b"), "n_ab"
        )
    )
    ia = item_counts.select(F.col("it").alias("a"), F.col("n_i").alias("n_a"))
    ib = item_counts.select(F.col("it").alias("b"), F.col("n_i").alias("n_b2"))
    out = (
        both.join(F.broadcast(ia), "a")
        .join(F.broadcast(ib), "b")
        .crossJoin(F.broadcast(n_baskets))
        .select(
            F.col("a").alias("antecedent"),
            F.col("b").alias("consequent"),
            F.col("n_ab").alias("n_pair"),
            F.col("n_a").alias("n_ante"),
            (F.col("n_ab").cast("double") / F.col("n_a")).alias("confidence"),
            (
                (F.col("n_ab") * F.col("n_b")).cast("double")
                / (F.col("n_a") * F.col("n_b2"))
            ).alias("lift"),
        )
    )
    if min_confidence > 0:
        out = out.filter(F.col("confidence") >= float(min_confidence))
    return out


def trend_lines(
    df: DataFrame,
    key_col: str,
    x_col: str,
    y_col: str,
    min_points: int = 3,
) -> DataFrame:
    """Per-key ordinary-least-squares trend (the exact normal
    equations for one regressor) over INTEGER (x, y) — the
    trend-detection member of the time-series family beside
    ewma_control's level-shift flags: slope of y over x per key, with
    intercept and R². The monitoring read: is this user's spend /
    this source's quality drifting up or down, and how linear is it.

        num   = n·Σxy − Σx·Σy          (exact BIGINT)
        den   = n·Σx² − (Σx)²          (exact BIGINT, 0 iff x constant)
        slope = num / den              (ONE division → bit-exact)
        intercept = (Σy − slope·Σx)/n  (doubles on exact operands)
        R²    = num² / (den·den_y)     (den_y = n·Σy² − (Σy)² in DOUBLE)

    x is CENTERED per key (x − min x) before the sums so the BIGINT
    products in num/den stay bounded by n·Δx·y — int64-safe for
    millions of points per key at day-granularity x and
    cent-granularity y. den_y is NOT centered-x-bounded (it grows as
    n²·y², past int64 near ~3k cent-scale rows per key), so it is
    computed in DOUBLE from the BIGINT sums — both engines cast the
    identical exact operands and run the identical IEEE ops, so
    parity holds at any scale and ANSI mode can never overflow; R²
    itself is a double either way.
    Centering shifts the intercept to the key's own time origin
    (x = min x), the natural per-key reading. The centering min rides
    the SAME keyed hashpartitioning the aggregate needs (window +
    groupBy on one exchange — the ewma_control plan shape). Keys with
    fewer than ``min_points`` rows or constant x are dropped; R² is
    NULL when y is constant. Returns (key, n, slope, intercept, r2)."""
    w = W.partitionBy(key_col)
    d = df.select(
        key_col,
        F.col(x_col).cast("long").alias("__x0"),
        F.col(y_col).cast("long").alias("__y"),
    ).withColumn("__x", F.col("__x0") - F.min("__x0").over(w))
    a = d.groupBy(key_col).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("__x").alias("sx"),
        F.sum("__y").alias("sy"),
        F.sum(F.col("__x") * F.col("__x")).alias("sxx"),
        F.sum(F.col("__x") * F.col("__y")).alias("sxy"),
        F.sum(F.col("__y") * F.col("__y")).alias("syy"),
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    deny = F.col("n").cast("double") * F.col("syy").cast("double") - F.col(
        "sy"
    ).cast("double") * F.col("sy").cast("double")
    staged = a.select(
        key_col, "n", "sx", "sy",
        num.alias("__num"), den.alias("__den"), deny.alias("__deny"),
    ).filter((F.col("n") >= int(min_points)) & (F.col("__den") > 0))
    slope = F.col("__num").cast("double") / F.col("__den")
    return staged.select(
        key_col,
        "n",
        slope.alias("slope"),
        (
            (F.col("sy").cast("double") - slope * F.col("sx")) / F.col("n")
        ).alias("intercept"),
        F.when(
            F.col("__deny") > 0,
            (F.col("__num").cast("double") * F.col("__num"))
            / (F.col("__den").cast("double") * F.col("__deny")),
        ).alias("r2"),
    )


def _coverage_round(sw: DataFrame, chosen: list, covered) -> DataFrame:
    """ONE greedy-coverage round's candidate-scoring plan, extracted so
    the plan-budget sweep can pin its exchange/join counts (the final
    greedy_coverage output is a bounded createDataFrame — the cost
    lives here): anti-join against the covered items, then one
    map-side-combined count per candidate set."""
    cand = sw.filter(~F.col("g").isin(chosen)) if chosen else sw
    if covered is not None:
        cand = cand.join(covered, "it", "left_anti")
    return cand.groupBy("g").agg(F.count(F.lit(1)).alias("gain"))


def _greedy_coverage_single_task(
    sw: DataFrame, k: int
) -> DataFrame:
    """Bounded single-task twin of :func:`greedy_coverage` downstream
    of the distinct (g, it) table: the identical greedy rounds
    (marginal gain = |items \\ covered|, ties to the smallest set id)
    in one Arrow pass over factorized item codes. Pinned equal by
    test."""

    def work(pdf):
        import numpy as np
        import pandas as pd

        g = pdf["g"].to_numpy()
        it = pdf["it"].to_numpy()
        # the ROUTING hint is a proxy (callers pass the pre-explode
        # row count; the distinct (set, item) table here can be
        # larger) — bound the actual materialized size explicitly
        # (r14 advice): 2^23 (set, item) rows is a few hundred MB of
        # string arrays, comfortably one task.
        if len(g) > (1 << 23):
            raise ValueError(
                f"greedy_coverage single-task twin: distinct (set, item) "
                f"table has {len(g)} rows (> {1 << 23}); the n_rows_hint "
                "proxy undercounted — run the distributed plan instead "
                "(call without n_rows_hint)"
            )
        uit, icode = np.unique(it, return_inverse=True)
        ug, gcode = np.unique(g, return_inverse=True)
        order = np.argsort(gcode, kind="stable")
        gc, ic = gcode[order], icode[order]
        starts = np.flatnonzero(np.r_[True, gc[1:] != gc[:-1]])
        ends = np.r_[starts[1:], len(gc)]
        items = {
            int(gc[s]): ic[s:e] for s, e in zip(starts, ends)
        }
        covered = np.zeros(len(uit), dtype=bool)
        chosen: set = set()
        total, rows = 0, []
        for r in range(1, int(k) + 1):
            # a fully-covered set emits NO candidate row in the
            # distributed round (anti-join drops it) — require gain > 0
            best_g, best_gain = None, 0
            for gi in range(len(ug)):  # ug is sorted: ties → smallest g
                if gi in chosen or gi not in items:
                    continue
                gain = int((~covered[items[gi]]).sum())
                if gain > best_gain:
                    best_g, best_gain = gi, gain
            if best_g is None:
                break
            chosen.add(best_g)
            covered[items[best_g]] = True
            total += best_gain
            rows.append((r, ug[best_g], best_gain, total))
        return pd.DataFrame(
            rows,
            columns=["rank", "set_id", "marginal_gain", "covered_total"],
        )

    set_t = sw.schema["g"].dataType.simpleString()
    return single_task_map(
        sw,
        work,
        f"rank long, set_id {set_t}, marginal_gain long,"
        " covered_total long",
    )


def greedy_coverage(
    pairs: DataFrame,
    set_col: str,
    item_col: str,
    k: int = 3,
    n_rows_hint: int | None = None,
) -> DataFrame:
    """Greedy maximum-coverage selection (the classic greedy for
    submodular maximization — Nemhauser, Wolsey & Fisher 1978 prove
    it reaches (1 − 1/e) of the optimal coverage): pick ``k`` sets,
    each round the one covering the most NOT-yet-covered items, ties
    to the smallest set id. The corpus-assembly read: which k sources
    together cover the most vocabulary — the marginal-gain curve is
    the diminishing-returns evidence for stopping the crawl.

    Scale shape: the distinct (set, item) table is localCheckpointed
    (re-read every round); each round is one anti-join against the
    covered items + one map-side-combined count per candidate set;
    only the ONE-ROW argmax is collected per round (the bounded
    driver-side argmax pattern, same as codebook training) and the
    covered-item set stays distributed. Returns (rank, set_id,
    marginal_gain, covered_total)."""
    if single_task_ok(n_rows_hint, ASSOC_SINGLE_TASK_ROWS):
        return _greedy_coverage_single_task(
            pairs.select(
                F.col(set_col).alias("g"), F.col(item_col).alias("it")
            ).distinct(),
            k,
        )
    sw = (
        pairs.select(
            F.col(set_col).alias("g"), F.col(item_col).alias("it")
        )
        .distinct()
        .localCheckpoint()
    )
    chosen: list = []
    covered = None
    out_rows = []
    total = 0
    for r in range(1, int(k) + 1):
        best = (
            _coverage_round(sw, chosen, covered)
            .orderBy(F.desc("gain"), F.asc("g"))
            .first()
        )
        if best is None:
            break
        chosen.append(best["g"])
        total += best["gain"]
        out_rows.append((r, best["g"], int(best["gain"]), int(total)))
        picked = sw.filter(F.col("g") == F.lit(best["g"])).select("it")
        covered = (
            picked if covered is None else covered.union(picked).distinct()
        ).localCheckpoint()
    from pyspark.sql import types as T

    set_t = sw.schema["g"].dataType
    schema = T.StructType(
        [
            T.StructField("rank", T.LongType()),
            T.StructField("set_id", set_t),
            T.StructField("marginal_gain", T.LongType()),
            T.StructField("covered_total", T.LongType()),
        ]
    )
    return sw.sparkSession.createDataFrame(out_rows, schema)


def silhouette_audit(
    clustered: DataFrame,
    id_col: str,
    cluster_col: str,
    x_col: str,
    y_col: str,
) -> DataFrame:
    """Simplified (centroid-based) silhouette audit (Rousseeuw 1987,
    "Silhouettes: a graphical aid to the interpretation and validation
    of cluster analysis"; the centroid variant is the standard
    large-data form) over integer 2-D features: per point
    a = dist(point, own centroid), b = min dist to any OTHER
    centroid, sil = (b − a)/max(a, b) — negative sil means the point
    sits closer to a foreign cluster than its own, the
    mis-assignment signal.

    Parity discipline: centroids are exact rationals (Σx/n), so
    dist = sqrt((n·x − Σx)² + (n·y − Σy)²)/n has an exact-BIGINT
    radicand — both engines sqrt the identical value. Per-cluster
    output aggregates ONLY order-independent stats (count, count of
    negatives, MIN/MAX sil) — never a float SUM, whose accumulation
    order would differ between engines. Guard sil = 0 when a = b = 0.

    Scale shape: one groupBy for centroids (cluster-bounded), a
    broadcast cross join of points × the centroid table (BNLJ with a
    bounded side — allowlisted), one keyed aggregate back. Returns
    (cluster_id, n, n_neg, min_sil, max_sil)."""
    pts = clustered.select(
        F.col(id_col).alias("pid"),
        F.col(cluster_col).alias("cid"),
        F.col(x_col).cast("long").alias("x"),
        F.col(y_col).cast("long").alias("y"),
    ).localCheckpoint()  # read 2x (centroids + the distance cross join);
    # the upstream is typically a full clustering plan (dbscan) — never
    # re-run it per consumer
    cents = pts.groupBy("cid").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
    )
    d = pts.crossJoin(
        F.broadcast(
            cents.select(
                F.col("cid").alias("ccid"), "n", "sx", "sy"
            )
        )
    ).select(
        "pid",
        "cid",
        "ccid",
        (
            F.sqrt(
                (
                    (F.col("n") * F.col("x") - F.col("sx"))
                    * (F.col("n") * F.col("x") - F.col("sx"))
                    + (F.col("n") * F.col("y") - F.col("sy"))
                    * (F.col("n") * F.col("y") - F.col("sy"))
                ).cast("double")
            )
            / F.col("n")
        ).alias("dist"),
    )
    ab = d.groupBy("pid", "cid").agg(
        F.max(F.when(F.col("ccid") == F.col("cid"), F.col("dist"))).alias(
            "a"
        ),
        F.min(F.when(F.col("ccid") != F.col("cid"), F.col("dist"))).alias(
            "b"
        ),
    )
    sil = F.when(
        F.greatest("a", "b") > 0,
        (F.col("b") - F.col("a")) / F.greatest("a", "b"),
    ).otherwise(F.lit(0.0))
    return ab.groupBy(F.col("cid").alias("cluster_id")).agg(
        F.count(F.lit(1)).alias("n"),
        F.count_if(F.col("b") < F.col("a")).cast("long").alias("n_neg"),
        F.min(sil).alias("min_sil"),
        F.max(sil).alias("max_sil"),
    )


def pca_2d(
    df: DataFrame, x_col: str, y_col: str, group_cols: list[str] | None = None
) -> DataFrame:
    """Exact 2-D principal component analysis (Pearson 1901, "On
    lines and planes of closest fit to systems of points in space")
    over integer features — the covariance eigenstructure in CLOSED
    FORM, so none of the iterative-SVD nondeterminism applies:

      cxx = n·Σx² − (Σx)²   cyy = n·Σy² − (Σy)²   cxy = n·Σxy − Σx·Σy
      λ± = ((cxx+cyy) ± sqrt((cxx−cyy)² + 4·cxy²)) / 2

    All c terms are exact BIGINTs (the n²-scaled central moments);
    squaring them would overflow int64, so the discriminant is
    computed in DOUBLES with pinned association (d1·d1 + 4·(d2·d2)
    over exactly-cast operands — IEEE products of identical inputs
    are identical, so both engines sqrt the same value); λ, the
    explained-variance ratio λ₁/(λ₁+λ₂) and Pearson
    r = cxy/(sqrt(cxx)·sqrt(cyy)) follow the same discipline —
    bit-identical cross-engine, zero rounding. One aggregate pass.
    Returns (group..., n, cxx, cyy, cxy, lam1, lam2, var_ratio,
    pearson_r)."""
    gc = list(group_cols or [])
    d = df.select(
        *gc,
        F.col(x_col).cast("long").alias("x"),
        F.col(y_col).cast("long").alias("y"),
    )
    a = d.groupBy(*gc).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    cxx = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    cyy = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    cxy = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    s = a.select(
        *gc,
        "n",
        cxx.alias("cxx"),
        cyy.alias("cyy"),
        cxy.alias("cxy"),
    )
    d1 = (F.col("cxx") - F.col("cyy")).cast("double")
    d2 = F.col("cxy").cast("double")
    disc = F.sqrt(d1 * d1 + 4 * (d2 * d2))
    lam1 = ((F.col("cxx") + F.col("cyy")).cast("double") + disc) / 2
    lam2 = ((F.col("cxx") + F.col("cyy")).cast("double") - disc) / 2
    return s.select(
        *gc,
        "n",
        "cxx",
        "cyy",
        "cxy",
        lam1.alias("lam1"),
        lam2.alias("lam2"),
        F.when(lam1 + lam2 > 0, lam1 / (lam1 + lam2)).alias("var_ratio"),
        F.when(
            (F.col("cxx") > 0) & (F.col("cyy") > 0),
            F.col("cxy").cast("double")
            / (
                F.sqrt(F.col("cxx").cast("double"))
                * F.sqrt(F.col("cyy").cast("double"))
            ),
        ).alias("pearson_r"),
    )


def _son_frequent_pairs_single_task(
    baskets: DataFrame,
    basket_col: str,
    item_col: str,
    num: int,
    den: int,
) -> DataFrame:
    """Bounded single-task twin of :func:`son_frequent_pairs`: by the
    SON recall/precision guarantee the output IS the set of globally
    frequent pairs with exact counts, so under the bound we compute
    exact pair counts directly (np.unique factorization, run-length
    triu, one bincount — the association_rules twin's machinery) and
    apply the HAVING threshold. Pinned equal by test."""

    def work(pdf):
        import numpy as np
        import pandas as pd

        bk = pdf["bk"].to_numpy()
        it = pdf["it"].to_numpy()
        _, bcode = np.unique(bk, return_inverse=True)
        uit, icode = np.unique(it, return_inverse=True)
        I = len(uit)
        _check_item_cap(I, "son_frequent_pairs single-task twin")
        u = np.unique(bcode.astype(np.int64) * I + icode)
        b_bk, b_it = u // I, u % I
        n_b = len(np.unique(b_bk))
        order = np.lexsort((b_it, b_bk))
        kb, ki = b_bk[order], b_it[order]
        n = len(kb)
        n_ab = np.zeros(I * I, dtype=np.int64)
        starts = np.flatnonzero(np.r_[True, kb[1:] != kb[:-1]])
        sizes = np.diff(np.r_[starts, n])
        for L in np.unique(sizes):
            if L < 2:
                continue
            sel = starts[sizes == L]
            li, lj = np.triu_indices(int(L), 1)
            pa = (sel[:, None] + li[None, :]).ravel()
            pb = (sel[:, None] + lj[None, :]).ravel()
            n_ab += np.bincount(ki[pa] * I + ki[pb], minlength=I * I)
        nz = np.flatnonzero(n_ab * den >= num * n_b)
        nz = nz[n_ab[nz] > 0]
        if not len(nz):
            return None
        return pd.DataFrame(
            {
                "item_a": uit[nz // I],
                "item_b": uit[nz % I],
                "n_pair": n_ab[nz],
                "n_baskets": np.int64(n_b),
            }
        )

    it_t = baskets.schema[item_col].dataType.simpleString()
    return single_task_map(
        baskets.select(
            F.col(basket_col).alias("bk"), F.col(item_col).alias("it")
        ),
        work,
        f"item_a {it_t}, item_b {it_t}, n_pair long, n_baskets long",
    )


def son_frequent_pairs(
    baskets: DataFrame,
    basket_col: str,
    item_col: str,
    num: int = 11,
    den: int = 500,
    n_rows_hint: int | None = None,
) -> DataFrame:
    """SON two-pass distributed frequent-pair mining (Savasere,
    Omiecinski & Navathe, "An efficient algorithm for mining
    association rules in large databases", VLDB 1995 — the
    partition-based Apriori; a.k.a. the SON algorithm of Mining of
    Massive Datasets ch. 6): pass 1 runs an in-memory pair counter
    per PARTITION and keeps pairs locally frequent at the SAME
    relative threshold; pass 2 exactly counts the candidate union.

    Guarantee (monotonicity over a partition of the baskets): a pair
    with global support ≥ (num/den)·n must reach the relative
    threshold in at least one partition — if support_p < (num/den)·n_p
    for all p, summing gives support < (num/den)·n. So the candidate
    union has perfect recall, the exact pass has perfect precision,
    and the OUTPUT is partition-layout independent (the Misra-Gries
    two-pass contract, applied to itemsets) — a plain pair-count
    GROUP BY/HAVING oracle checks it.

    Scale shape: pass 1 groups each basket's items locally (Arrow
    batches through one python pass; candidates ≤ partitions ×
    locally-frequent pairs — bytes); pass 2 re-derives pair
    occurrences ONLY for broadcast candidates. Returns
    (item_a, item_b, n_pair, n_baskets) with item_a < item_b."""
    if single_task_ok(n_rows_hint, ASSOC_SINGLE_TASK_ROWS):
        return _son_frequent_pairs_single_task(
            baskets, basket_col, item_col, num, den
        )
    import itertools

    import pandas as pd

    b = baskets.select(
        F.col(basket_col).alias("__b"), F.col(item_col).alias("__it")
    ).distinct()
    grouped = b.groupBy("__b").agg(
        F.sort_array(F.collect_set("__it")).alias("__items")
    )

    def local_pairs(batches):
        counts: dict = {}
        n_baskets = 0
        for pdf in batches:
            for items in pdf["__items"]:
                n_baskets += 1
                for pair in itertools.combinations(list(items), 2):
                    counts[pair] = counts.get(pair, 0) + 1
        keep = [
            p for p, c in counts.items() if c * den >= num * n_baskets
        ]
        yield pd.DataFrame(
            {
                "__a": [p[0] for p in keep],
                "__z": [p[1] for p in keep],
            }
        )

    cands = grouped.mapInPandas(
        local_pairs, "__a string, __z string"
    ).distinct()
    pairs = (
        grouped.select(
            "__b", F.explode(F.expr(
                "flatten(transform(__items, (x, i) -> "
                "transform(slice(__items, i + 2, size(__items)), "
                "y -> struct(x AS a, y AS z))))"
            )).alias("p")
        )
        .select("__b", F.col("p.a").alias("__a"), F.col("p.z").alias("__z"))
        .join(F.broadcast(cands), ["__a", "__z"], "left_semi")
    )
    totals = grouped.agg(F.count(F.lit(1)).alias("n_baskets"))
    return (
        pairs.groupBy("__a", "__z")
        .agg(F.count(F.lit(1)).alias("n_pair"))
        .crossJoin(F.broadcast(totals))
        .filter(
            F.col("n_pair") * F.lit(int(den))
            >= F.col("n_baskets") * F.lit(int(num))
        )
        .select(
            F.col("__a").alias("item_a"),
            F.col("__z").alias("item_b"),
            "n_pair",
            "n_baskets",
        )
    )
