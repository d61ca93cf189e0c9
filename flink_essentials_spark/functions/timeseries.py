"""Time-series monitoring operators.

EWMA control chart (Roberts 1959, "Control Chart Tests Based on
Geometric Moving Averages"; Hunter 1986): the streaming-friendly
anomaly detector every ingest pipeline runs on its volume/value
telemetry. The reference repo's windowed aggregations (SURVEY §2 W1-W6)
cover tumbling statistics; this adds the exponentially-weighted member
whose state is one number per key.

Scale notes: everything happens inside ONE keyed window exchange — the
lag terms, the per-key moments (unbounded frame over the same
partitioning), and the flag predicate are all computed per-row with no
second scan and no join. The EWMA is TRUNCATED at ``depth`` lags with
lambda = 1/2, which makes the weighted sum exact integer arithmetic
(values in cents x powers of two), so the DuckDB oracle reproduces the
flags bit-for-bit with no rounding: numerator and denominator are
integers, one division each for the smoothed value and the sigma, and
both engines then compare identical doubles (the media_features
exact-arithmetic contract).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def ewma_control(
    df: DataFrame,
    key_col: str,
    order_cols: list[str],
    value_col: str,
    depth: int = 16,
    threshold: float = 2.5,
) -> DataFrame:
    """Flag rows whose integer ``value_col`` deviates from the
    truncated EWMA of the key's PRIOR values by more than
    ``threshold`` x the key's standard deviation.

    ``value_col`` must already be integer-valued (use
    ``util.cents``); ``order_cols`` must be a deterministic total
    order within each key (e.g. ``[ts_ms, event_id]``).

    EWMA weights are lambda=1/2 over the last ``depth`` observations:
    ewma_t = sum_{i=1..m} x_{t-i} 2^{-i} / sum_{i=1..m} 2^{-i} with
    m = min(t-1, depth) — numerator and denominator scaled by
    2^depth are exact BIGINTs. Rows with no prior observation are
    never flagged (the chart has no baseline yet).

    Returns the flagged rows: key, order columns, value, the EWMA
    baseline, and the z-score vs the key's sigma.
    """
    w = Window.partitionBy(key_col).orderBy(*order_cols)
    wk = Window.partitionBy(key_col)
    v = F.col(value_col)

    num = None
    den = None
    for i in range(1, depth + 1):
        weight = 1 << (depth - i)
        lag = F.lag(v, i).over(w)
        term = F.coalesce(lag, F.lit(0)) * F.lit(weight)
        hit = F.when(lag.isNotNull(), F.lit(weight)).otherwise(F.lit(0))
        num = term if num is None else num + term
        den = hit if den is None else den + hit

    n = F.count(F.lit(1)).over(wk)
    sm = F.sum(v).over(wk)
    ss = F.sum(v * v).over(wk)
    # explicit numbered repartition by key: the window stage walks
    # depth+3 window frames per row (compute-bound, tiny bytes), and
    # AQE's byte-targeted coalescing serializes it to 1-2 tasks
    # (measured r15: 1.27 s -> 4 tasks at sf0.1). A numbered
    # repartition is exempt from coalescing and already satisfies the
    # window's clustering, so no second exchange appears (the
    # sw_alignment §2.5 lesson applied to windows).
    df = df.repartition(
        df.sparkSession.sparkContext.defaultParallelism, F.col(key_col)
    )
    staged = df.select(
        key_col,
        *order_cols,
        v.alias("value_c"),
        num.alias("__num"),
        den.alias("__den"),
        n.alias("__n"),
        sm.alias("__sm"),
        ss.alias("__ss"),
    )
    # sigma = sqrt(n*ss - sm^2) / n: the radicand is one exact BIGINT,
    # so sqrt sees the identical double on every engine.
    sigma = (
        F.sqrt((F.col("__n") * F.col("__ss") - F.col("__sm") * F.col("__sm")).cast("double"))
        / F.col("__n")
    )
    ewma = F.col("__num").cast("double") / F.col("__den")
    return (
        staged.filter(F.col("__den") > 0)
        .filter(
            F.abs(F.col("value_c") - ewma) > F.lit(threshold) * sigma
        )
        .select(
            key_col,
            *order_cols,
            "value_c",
            ewma.alias("ewma"),
            ((F.col("value_c") - ewma) / sigma).alias("z"),
        )
    )


def burst_detect(
    df: DataFrame,
    key_col: str,
    ts_ms_col: str,
    id_col: str,
    switch_cost: int = 2,
) -> DataFrame:
    """Two-state burst detection (Kleinberg 2002, "Bursty and
    Hierarchical Structure in Streams" — the discrete two-state
    member): per key, label every inter-arrival gap base (q0) or
    burst (q1) by the minimum-cost state sequence, where a state pays
    1 per gap that contradicts it (q0 penalized by SHORT gaps, q1 by
    long ones; short = below half the key's mean gap, an exact
    integer threshold) and entering the burst state pays
    ``switch_cost`` — the smoothing that separates a genuine burst
    run from isolated short gaps.

    The optimal path is a 2-state Viterbi carried as ONE F.aggregate
    fold per key over the 0/1 short-gap indicators, accumulator =
    both states' (cost, burst_gaps) tuples — all integers, ties to
    fewer burst gaps, fully deterministic. One groupBy per key feeds
    the fold; sequences are per-key bounded, nothing data-sized sits
    in a single partition. Returns (key, n_gaps, burst_gaps, dp_cost).
    """
    lam = int(switch_cost)
    ordered = (
        df.groupBy(F.col(key_col).alias("k"))
        .agg(
            F.sort_array(
                F.collect_list(F.struct(F.col(ts_ms_col).alias("t"), F.col(id_col)))
            ).alias("seq")
        )
        .filter(F.size("seq") >= 2)
    )
    ts = F.transform(F.col("seq"), lambda s: s["t"])
    gaps = F.zip_with(
        F.slice(ts, 2, F.size(ts) - 1),
        F.slice(ts, 1, F.size(ts) - 1),
        lambda a, b: a - b,
    )
    staged = ordered.select(
        "k",
        gaps.alias("g"),
    ).select(
        "k",
        "g",
        F.size("g").alias("n_gaps"),
        # threshold: half the key's mean gap, exact integer division
        F.expr("aggregate(g, 0L, (a, x) -> a + x) div (2 * size(g))").alias(
            "thr"
        ),
    )
    bits = F.transform(
        F.col("g"), lambda x: F.when(x < F.col("thr"), F.lit(1)).otherwise(F.lit(0))
    )

    def tmin(c_a, b_a, c_b, b_b):
        take_a = (c_a < c_b) | ((c_a == c_b) & (b_a <= b_b))
        return F.when(take_a, F.struct(c_a.alias("c"), b_a.alias("b"))).otherwise(
            F.struct(c_b.alias("c"), b_b.alias("b"))
        )

    def step(acc, bit):
        m0 = tmin(acc["c0"], acc["b0"], acc["c1"], acc["b1"])
        m1 = tmin(acc["c0"] + F.lit(lam), acc["b0"], acc["c1"], acc["b1"])
        return F.struct(
            (m0["c"] + bit).alias("c0"),
            m0["b"].alias("b0"),
            (m1["c"] + (1 - bit)).alias("c1"),
            (m1["b"] + 1).alias("b1"),
        )

    init = F.struct(
        F.lit(0).cast("long").alias("c0"),
        F.lit(0).cast("long").alias("b0"),
        # the path cannot START in q1 without paying the switch
        F.lit(lam).cast("long").alias("c1"),
        F.lit(0).cast("long").alias("b1"),
    )
    dp = F.aggregate(bits, init, step)
    best = tmin(dp["c0"], dp["b0"], dp["c1"], dp["b1"])
    return staged.select(
        F.col("k").alias(key_col),
        "n_gaps",
        best["b"].alias("burst_gaps"),
        best["c"].alias("dp_cost"),
    )


def mad_outliers(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    k: int = 3,
) -> DataFrame:
    """Robust MAD outlier screen (the Hampel identifier — Hampel 1974;
    Leys et al. 2013 recommend it over z-scores, whose mean AND spread
    a single spike corrupts) per bounded group: med = median(v),
    mad = median(|v − med|), a row is an outlier when
    |v − med| > k·mad. Integer k on the raw MAD keeps every quantity
    either an exact integer or an interpolated midpoint ((a+b)/2 — a
    dyadic-exact double in both engines), so the flags are
    bit-deterministic with no consistency-constant float literal.

    Plan shape: both medians ride windows on the SAME group key the
    final aggregate uses — one keyed hashpartitioning exchange total
    (the ewma_control lesson). Exact per-group medians buffer the
    group's values, so groups must be BOUNDED (type×day here); the
    unbounded-group scale path is approx.dd_sketch's p50. Returns
    (group..., n, med, mad, n_outliers)."""
    gc = list(group_cols)
    w = Window.partitionBy(*gc)
    staged = (
        df.select(*gc, F.col(value_col).cast("long").alias("__v"))
        .withColumn("__med", F.expr("percentile(__v, 0.5)").over(w))
        .withColumn("__dev", F.abs(F.col("__v") - F.col("__med")))
        .withColumn("__mad", F.expr("percentile(__dev, 0.5)").over(w))
    )
    return staged.groupBy(*gc).agg(
        F.count(F.lit(1)).alias("n"),
        F.max("__med").alias("med"),
        F.max("__mad").alias("mad"),
        F.count_if(F.col("__dev") > F.lit(int(k)) * F.col("__mad"))
        .cast("long")
        .alias("n_outliers"),
    )


def _ecdf_cums_single_task(
    df: DataFrame,
    key_col: str,
    split_col: str,
    value_col: str,
    bands: int,
) -> DataFrame:
    """Bounded single-task twin of :func:`_ecdf_cums`: the identical
    per-key ECDF support — (v, ca, cb) per distinct value, inclusive
    cumulative counts in value order, key totals, and the same band /
    band-offset columns — from one lexsort + segmented cumsum.
    Counts are exact int64 (<= the row bound); null split flags
    contribute to neither side (the Spark sum-skips-null semantics)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    ktype = df.schema[key_col].dataType

    staged = df.select(
        F.col(key_col).alias("__k"),
        F.col(split_col).cast("boolean").alias("__a"),
        F.col(value_col).cast("long").alias("__v"),
    )
    schema = T.StructType(
        [T.StructField("__k", ktype)]
        + [
            T.StructField(c, T.LongType())
            for c in (
                "__v", "__ca", "__cb", "__lo", "__hi", "__na", "__nb",
                "__band", "__oa", "__ob", "__cuma", "__cumb",
            )
        ]
    )

    def work(batches):
        frames = [p for p in batches if len(p)]
        if not frames:
            return
        pdf = pd.concat(frames, ignore_index=True)
        outs = []
        for k, grp in pdf.groupby("__k", sort=False, dropna=False):
            v = grp["__v"].to_numpy(np.int64)
            a = grp["__a"].eq(True).to_numpy()
            b = grp["__a"].eq(False).to_numpy()
            order = np.argsort(v, kind="stable")
            vs = v[order]
            starts = np.flatnonzero(np.r_[True, vs[1:] != vs[:-1]])
            uv = vs[starts]
            ca = np.add.reduceat(a[order].astype(np.int64), starts)
            cb = np.add.reduceat(b[order].astype(np.int64), starts)
            lo, hi = int(uv[0]), int(uv[-1])
            na, nb = int(ca.sum()), int(cb.sum())
            span = hi - lo + 1
            if span >= bands:
                band = (uv - lo) // (span // bands)
            else:
                band = uv - lo
            cuma = np.cumsum(ca)
            cumb = np.cumsum(cb)
            bstarts = np.flatnonzero(np.r_[True, band[1:] != band[:-1]])
            bsizes = np.diff(np.r_[bstarts, len(uv)])
            # offset of band j = inclusive cum at the row BEFORE the
            # band starts (0 for the first band)
            oa = np.repeat(np.r_[0, cuma[bstarts[1:] - 1]], bsizes)
            ob = np.repeat(np.r_[0, cumb[bstarts[1:] - 1]], bsizes)
            outs.append(
                pd.DataFrame(
                    {
                        "__k": k,
                        "__v": uv,
                        "__ca": ca,
                        "__cb": cb,
                        "__lo": lo,
                        "__hi": hi,
                        "__na": na,
                        "__nb": nb,
                        "__band": band,
                        "__oa": oa,
                        "__ob": ob,
                        "__cuma": cuma,
                        "__cumb": cumb,
                    }
                )
            )
        yield pd.concat(outs, ignore_index=True)

    return staged.coalesce(1).mapInPandas(work, schema)


def _ecdf_cums(
    df: DataFrame,
    key_col: str,
    split_col: str,
    value_col: str,
    bands: int,
    n_rows_hint: int | None = None,
) -> DataFrame:
    """Shared two-sample ECDF machinery (ks_two_sample /
    mann_whitney_u): per-key (value, ca, cb) support table with exact
    banded two-phase cumulative counts __cuma/__cumb and key totals
    __na/__nb — every window keyed by (key, band), support
    localCheckpointed once for its three consumers.

    ``n_rows_hint`` under ``BANDED_RANK_SINGLE_TASK_ROWS`` routes to
    the bounded single-task twin (r15: the banded ladder's ~12-14
    serialized jobs dominate the ks/mann-whitney/stump family at
    bench SFs); the ladder below is the above-bound shape."""
    from flink_essentials_spark.routing import single_task_ok

    if single_task_ok(n_rows_hint, BANDED_RANK_SINGLE_TASK_ROWS):
        return _ecdf_cums_single_task(
            df, key_col, split_col, value_col, bands
        )
    k = F.col(key_col)
    g = (
        df.select(
            k.alias("__k"),
            F.col(split_col).cast("boolean").alias("__a"),
            F.col(value_col).cast("long").alias("__v"),
        )
        .groupBy("__k", "__v")
        .agg(
            F.sum(F.col("__a").cast("long")).alias("__ca"),
            F.sum((~F.col("__a")).cast("long")).alias("__cb"),
        )
        # the ECDF support table feeds THREE consumers (key bounds,
        # banding, band totals) — materialize once instead of
        # re-aggregating the raw data per consumer
        .localCheckpoint()
    )
    # dyadic banding on the per-key value span: equal v => equal band,
    # band-major order == value order, so the two-phase cumsum equals
    # the naive per-key ordered cumsum (floor-div on both engines).
    # Divide-first form when span >= bands — the multiply form
    # (v-lo)*bands overflows int64 under ANSI once span*bands >= 2^63
    # (the dd_sketch/exact_quantiles overflow family); dividing first
    # never multiplies, at the cost of up to ~2*bands bands (banding
    # granularity only shapes the plan, never the exact results).
    # Residual domain edge: __hi - __lo itself errors under ANSI if a
    # key's span exceeds int64 — pre-bucket such values upstream.
    bounds = g.groupBy("__k").agg(
        F.min("__v").alias("__lo"),
        F.max("__v").alias("__hi"),
        F.sum("__ca").alias("__na"),
        F.sum("__cb").alias("__nb"),
    )
    banded = g.join(F.broadcast(bounds), "__k").withColumn(
        "__band",
        F.expr(
            f"CASE WHEN (__hi - __lo + 1) >= {int(bands)} "
            f"THEN (__v - __lo) div ((__hi - __lo + 1) div {int(bands)}) "
            f"ELSE (__v - __lo) END"
        ),
    )
    totals = banded.groupBy("__k", "__band").agg(
        F.sum("__ca").alias("__ba"), F.sum("__cb").alias("__bb")
    )
    w_bands = (
        Window.partitionBy("__k")
        .orderBy("__band")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = totals.select(
        "__k",
        "__band",
        F.coalesce(F.sum("__ba").over(w_bands), F.lit(0)).alias("__oa"),
        F.coalesce(F.sum("__bb").over(w_bands), F.lit(0)).alias("__ob"),
    )
    w_in = (
        Window.partitionBy("__k", "__band")
        .orderBy("__v")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = (
        banded.join(F.broadcast(offsets), ["__k", "__band"])
        .withColumn("__cuma", F.col("__oa") + F.sum("__ca").over(w_in))
        .withColumn("__cumb", F.col("__ob") + F.sum("__cb").over(w_in))
    )
    return cum


def grouped_topk(
    df: DataFrame,
    keys: list[str],
    order: list,
    k: int,
    rank_col: str = "rk",
) -> DataFrame:
    """Top-``k`` rows per key, or overall when ``keys`` is empty, by
    ``order``: sort Columns whose direction the caller states
    (``F.col("v").desc()``), a total order within each key. Returns
    df's columns plus a 1-based long ``rank_col``.

    Both forms keep bounded state: with keys, ``row_number() <= k``
    over the key partition plans ``WindowGroupLimit … Partial`` before
    the shuffle (at most k rows per key per input partition move); with
    no keys, ``orderBy(...).limit(k)`` plans ``TakeOrderedAndProject``
    and the rank rides its <= k rows. Above the session's
    ``spark.sql.optimizer.windowGroupLimitThreshold`` Spark inserts no
    partial limit, so a keyed ``k`` above it raises ValueError."""
    directed = ("NULLS FIRST'>", "NULLS LAST'>")
    if not all(str(c).endswith(directed) for c in order):
        raise ValueError(
            "grouped_topk: state each order column's direction, e.g. "
            f"F.col('v').desc(); got {order}"
        )
    if keys:
        conf = "spark.sql.optimizer.windowGroupLimitThreshold"
        limit = int(df.sparkSession.conf.get(conf))
        if k > limit:
            raise ValueError(
                f"grouped_topk: k={k} is above {conf}={limit}, under "
                "which Spark limits each key before the shuffle"
            )
        w = Window.partitionBy(*keys).orderBy(*order)
        ranked = df.withColumn(rank_col, F.row_number().over(w)).filter(
            F.col(rank_col) <= k
        )
    else:
        ranked = df.orderBy(*order).limit(k).withColumn(
            rank_col, F.row_number().over(Window.orderBy(*order))
        )
    return ranked.withColumn(rank_col, F.col(rank_col).cast("long"))


# Row bound under which banded_rank runs as ONE Arrow task: the
# banded ladder (bounds, band totals, final window — ~3 input reads +
# a checkpoint) exists to avoid per-key single-task sorts AT SCALE;
# under the bound one lexsort computes the identical ranks with zero
# scheduling (r15: heaps_fit/ccnet/gini-tier rows spent 6-20 jobs
# ranking doc-count-bounded tables). 2^20 rows x a few sort columns
# is tens of MB in the worker.
BANDED_RANK_SINGLE_TASK_ROWS = 1 << 20


def _banded_rank_single_task(
    df: DataFrame,
    key_cols: list[str],
    value_col: str,
    tiebreak_cols: list[str],
    rank_col: str,
) -> DataFrame:
    """Bounded single-task twin of :func:`banded_rank`: one lexsort by
    (key, value, tiebreaks...) and a per-key position subtraction —
    the identical 1-based per-key row rank. Rows stay Arrow record
    batches (mapInArrow), so int64 values keep every bit and a null
    stays distinct from NaN; each sort column sorts as (not-null,
    null-filled value), i.e. nulls first and NaN last, which is Spark's
    ascending order (the routing gate keeps sort columns numeric). Ties
    beyond the tiebreaks order arbitrarily in BOTH forms (same
    contract). Pinned equal by test."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc
    from pyspark.sql.types import LongType, StructField, StructType

    # fresh StructType — .add would MUTATE the frame's cached schema
    schema = StructType(
        list(df.schema.fields) + [StructField(rank_col, LongType(), False)]
    )
    kc = list(key_cols)
    sort_cols = [value_col, *tiebreak_cols]

    def work(batches):
        parts = [b for b in batches if b.num_rows]
        if not parts:
            return
        tbl = pa.Table.from_batches(parts)
        n = tbl.num_rows
        codes = [
            pc.fill_null(
                tbl.column(c).combine_chunks().dictionary_encode().indices,
                -1,
            ).to_numpy()
            for c in kc
        ]
        sort_keys = []
        for c in sort_cols:
            a = tbl.column(c).combine_chunks()
            sort_keys.append(a.is_valid().to_numpy(zero_copy_only=False))
            sort_keys.append(
                pc.fill_null(a, 0).to_numpy(zero_copy_only=False)
            )
        order = np.lexsort(tuple(reversed([*codes, *sort_keys])))
        if kc:
            ks = np.stack([c[order] for c in codes])
            starts = np.flatnonzero(
                np.r_[True, (ks[:, 1:] != ks[:, :-1]).any(axis=0)]
            )
        else:
            starts = np.array([0], dtype=np.int64)
        sizes = np.diff(np.r_[starts, n])
        rank_sorted = (
            np.arange(n, dtype=np.int64) - np.repeat(starts, sizes) + 1
        )
        # emit in (key, value, tiebreaks) order — the physical order
        # the window ladder produces (row order is not a declared
        # result, but downstream collect()-order assumptions keep
        # holding; r15: an rrf reference test relied on it)
        out = tbl.take(pa.array(order)).append_column(
            rank_col, pa.array(rank_sorted, pa.int64())
        )
        yield from out.to_batches()

    return df.coalesce(1).mapInArrow(work, schema)


def banded_rank(
    df: DataFrame,
    key_cols: list[str],
    value_col: str,
    tiebreak_cols: list[str],
    bands: int = 64,
    rank_col: str = "__rank",
    n_rows_hint: int | None = None,
) -> DataFrame:
    """Exact per-key dense ROW rank (row_number over (value,
    tiebreaks...) ascending) with NO single-task per-key sort — the
    scale-safe replacement for ``row_number() over (partition by
    <low-cardinality key>)`` when EVERY row needs its rank: per-key
    value span splits into ~``bands`` monotone bands (the _ecdf_cums
    two-phase shape), band totals prefix over the tiny key×band series,
    and every data-sized window is keyed by (key, band). Equal values
    always land in the same band (the band is a function of the value),
    so offset + within-band row_number == the global per-key row_number
    for ANY banding — band granularity shapes the plan, never the
    ranks. A rank filtered to ``<= k`` is a top-K: use
    :func:`grouped_topk`, whose state stays bounded.

    ``value_col`` must be numeric. Bands come from double arithmetic on
    the value's offset within the key's [lo, hi] span, taken over
    non-NaN values; every step is monotone, so int64 extremes band
    without overflow. Ordering is Spark's (value ASC NULLS FIRST,
    tiebreaks ASC NULLS FIRST): nulls get their own band before band 0
    and NaN its own band after the last one. For a DESC rank pass the
    negated value. Returns df's columns plus ``rank_col`` (long,
    1-based).

    ``n_rows_hint`` (footer-derived or otherwise known driver-side)
    under ``BANDED_RANK_SINGLE_TASK_ROWS`` routes to the bounded
    single-task twin when every sort column is NUMERIC (numpy and Spark
    then sort identically); the banded ladder below is the above-bound
    shape (r15)."""
    from pyspark.sql.types import NumericType

    from flink_essentials_spark.routing import single_task_ok

    if single_task_ok(n_rows_hint, BANDED_RANK_SINGLE_TASK_ROWS) and all(
        isinstance(df.schema[c].dataType, NumericType)
        for c in [value_col, *tiebreak_cols]
    ):
        return _banded_rank_single_task(
            df, key_cols, value_col, tiebreak_cols, rank_col
        )
    kc = list(key_cols)
    v = F.col(value_col)
    x = v.cast("double")
    bounds = df.groupBy(*kc).agg(
        F.min(F.when(~F.isnan(x), x)).alias("__br_lo"),
        F.max(F.when(~F.isnan(x), x)).alias("__br_hi"),
    )
    # empty key list = one global rank (still banded: the only
    # unbounded-input window is keyed by band; the offsets window rides
    # the tiny band-totals table)
    j = (
        df.join(F.broadcast(bounds), kc)
        if kc
        else df.crossJoin(F.broadcast(bounds))
    )
    lo, hi = F.col("__br_lo"), F.col("__br_hi")
    # halved operands never overflow; the ratio is in [0, 1], or NaN
    # when a bound is infinite — least() sends NaN to the last band
    frac = (x / 2 - lo / 2) / (hi / 2 - lo / 2)
    band = (
        F.when(v.isNull(), F.lit(-1))
        .when(F.isnan(x), F.lit(int(bands)))
        .when(x <= lo, F.lit(0))
        .when(x >= hi, F.lit(int(bands) - 1))
        .otherwise(
            F.floor(F.least(frac * int(bands), F.lit(float(bands - 1))))
        )
        .cast("long")
    )
    banded = j.withColumn("__br_band", band)
    btot = banded.groupBy(*kc, "__br_band").agg(
        F.count(F.lit(1)).alias("__br_n")
    )
    w_b = (
        Window.partitionBy(*kc)
        .orderBy("__br_band")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offs = btot.select(
        *kc,
        "__br_band",
        F.coalesce(F.sum("__br_n").over(w_b), F.lit(0)).alias("__br_off"),
    )
    w_in = Window.partitionBy(*kc, "__br_band").orderBy(
        v, *[F.col(c) for c in tiebreak_cols]
    )
    return (
        banded.join(F.broadcast(offs), kc + ["__br_band"])
        .withColumn(
            rank_col,
            (F.col("__br_off") + F.row_number().over(w_in)).cast("long"),
        )
        .drop("__br_lo", "__br_hi", "__br_band", "__br_off")
    )


# Row bound under which the rank-correlation operators (spearman_rho /
# kendall_tau) run as ONE Arrow task instead of the banded ladder: the
# ladders exist to avoid per-key single-task sorts AT SCALE, but at
# bench SFs their ~12-17 scheduling round-trips dominate (r15 measured
# 1.4-1.9 s vs ~0.4 s single-task). 2^20 keeps the twin's int64 rank
# moments exact (syy <= 4n^3 = 2^62 at the bound — the same overflow
# boundary the distributed BIGINT sums have). The distributed ladder
# stays the code path above the bound (the r14 twin discipline);
# equality pinned by test.
RANKCORR_SINGLE_TASK_ROWS = 1 << 20


def _spearman_rho_single_task(
    df: DataFrame, key_col: str, order_cols: list[str], value_col: str
) -> DataFrame:
    """Bounded single-task twin of :func:`spearman_rho`: identical
    definition — x = arrival rank by ``order_cols`` per key, y2 =
    doubled value midrank, exact BIGINT moments, the SAME
    cast-to-double normal-equation tail — replayed with one lexsort +
    np.unique per key. Sums stay within int64 exactly where the
    distributed BIGINT sums do; the final doubles are built from the
    identical exact operands (IEEE-identical)."""
    import numpy as np
    import pandas as pd

    ktype = df.schema[key_col].dataType.simpleString()
    ocols = [f"__o{i}" for i in range(len(order_cols))]
    staged = df.select(
        F.col(key_col).alias("__k"),
        *[F.col(c).alias(a) for c, a in zip(order_cols, ocols)],
        F.col(value_col).cast("long").alias("__v"),
    )

    def work(batches):
        frames = [p for p in batches if len(p)]
        if not frames:
            return
        pdf = pd.concat(frames, ignore_index=True)
        out = {
            "k": [], "n": [], "num": [], "denx": [], "deny": [], "rho": []
        }
        for k, g in pdf.groupby("__k", sort=False):
            v = g["__v"].to_numpy(np.int64)
            order = np.lexsort(
                tuple(
                    g[c].to_numpy() for c in reversed(ocols)
                )
            )
            n = len(v)
            x = np.empty(n, dtype=np.int64)
            x[order] = np.arange(1, n + 1)
            # doubled midrank per distinct value: 2*below + ties + 1
            uv, inv, cnt = np.unique(
                v, return_inverse=True, return_counts=True
            )
            below = np.concatenate(([0], np.cumsum(cnt)[:-1]))
            y2 = (2 * below + cnt + 1)[inv]
            sx = int(x.sum())
            sy = int(y2.sum())
            sxy = int((x * y2).sum())
            sxx = int((x * x).sum())
            syy = int((y2 * y2).sum())
            nd = float(n)
            num = nd * float(sxy) - float(sx) * float(sy)
            denx = nd * float(sxx) - float(sx) * float(sx)
            deny = nd * float(syy) - float(sy) * float(sy)
            out["k"].append(k)
            out["n"].append(n)
            out["num"].append(num)
            out["denx"].append(denx)
            out["deny"].append(deny)
            out["rho"].append(num / np.sqrt(denx * deny))
        yield pd.DataFrame(out)

    return staged.coalesce(1).mapInPandas(
        work,
        f"k {ktype}, n long, num double, denx double, deny double, "
        "rho double",
    ).select(
        F.col("k").alias(key_col), "n", "num", "denx", "deny", "rho"
    )


def spearman_rho(
    df: DataFrame,
    key_col: str,
    order_cols: list[str],
    value_col: str,
    bands: int = 64,
    n_rows_hint: int | None = None,
) -> DataFrame:
    """Spearman rank correlation (Spearman 1904) between arrival order
    and an integer value per key — the rank-robust association member:
    x = arrival rank (unique via ``order_cols``; banded_rank over the
    first order column, so no per-key single-task sort), y = DOUBLED
    value midrank (exact average rank over ties; doubling keeps it an
    integer) straight off the banded ECDF support — y2(v) = 2·(count
    below) + ties + 1 per DISTINCT value, joined back by (key, value).
    rho = Pearson on the (x, y2) pairs from exact BIGINT moments; the
    three normal-equation terms are built in DOUBLE from the exact
    sums (the trend_lines deny lesson — rank moments grow as n^4).

    ``order_cols[0]`` must be numeric (the banding axis; ties broken by
    the remaining order columns). Returns (key, n, num, denx, deny,
    rho). ``n_rows_hint`` (footer-derived) under
    ``RANKCORR_SINGLE_TASK_ROWS`` routes to the bounded single-task
    twin (r15); the banded ladder below is the above-bound shape."""
    from flink_essentials_spark.routing import single_task_ok

    if single_task_ok(n_rows_hint, RANKCORR_SINGLE_TASK_ROWS):
        return _spearman_rho_single_task(df, key_col, order_cols, value_col)
    staged = df.select(
        F.col(key_col).alias("__k"),
        *[F.col(c).alias(f"__o{i}") for i, c in enumerate(order_cols)],
        F.col(value_col).cast("long").alias("__v"),
    )
    ranked = banded_rank(
        staged,
        ["__k"],
        "__o0",
        [f"__o{i}" for i in range(1, len(order_cols))],
        bands=bands,
        rank_col="__x",
    )
    cum = _ecdf_cums(
        staged.withColumn("__one", F.lit(True)), "__k", "__one", "__v", bands
    )
    y2tab = cum.select(
        "__k",
        "__v",
        (
            2 * (F.col("__cuma") - F.col("__ca")) + F.col("__ca") + 1
        ).alias("__y2"),
    )
    rows = ranked.join(y2tab, ["__k", "__v"])
    a = rows.groupBy("__k").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("__x").alias("sx"),
        F.sum("__y2").alias("sy"),
        F.sum(F.col("__x") * F.col("__y2")).alias("sxy"),
        F.sum(F.col("__x") * F.col("__x")).alias("sxx"),
        F.sum(F.col("__y2") * F.col("__y2")).alias("syy"),
    )
    nd = F.col("n").cast("double")
    sxd, syd = F.col("sx").cast("double"), F.col("sy").cast("double")
    num = nd * F.col("sxy").cast("double") - sxd * syd
    denx = nd * F.col("sxx").cast("double") - sxd * sxd
    deny = nd * F.col("syy").cast("double") - syd * syd
    return a.select(
        F.col("__k").alias(key_col),
        "n",
        num.alias("num"),
        denx.alias("denx"),
        deny.alias("deny"),
        (num / F.sqrt(denx * deny)).alias("rho"),
    )


def ks_two_sample(
    df: DataFrame,
    key_col: str,
    split_col: str,
    value_col: str,
    bands: int = 64,
    crit_sq: float = 1.8496,
    n_rows_hint: int | None = None,
) -> DataFrame:
    """Two-sample Kolmogorov–Smirnov drift test per key (Kolmogorov
    1933; Smirnov 1948 two-sample form) — the NONPARAMETRIC member of
    the drift family beside psi_drift's binned divergence and
    ewma_control's level shifts: D = sup_v |F_a(v) − F_b(v)| between
    the two samples tagged by boolean ``split_col`` (a = true), with
    the large-sample rejection rule D > c(α)·sqrt((n_a+n_b)/(n_a·n_b)),
    c(0.05) = 1.36 (``crit_sq`` = c², compared in squares so no sqrt
    enters the parity path).

    Exactness: the sup runs over the pooled distinct values; at each,
    |cum_a·n_b − cum_b·n_a| is an exact BIGINT (≤ n_a·n_b), so
    d = d_num/(n_a·n_b) is ONE division of exact operands and the
    reject flag compares d_num² against crit_sq·(n_a+n_b)·n_a·n_b in
    doubles built from the same exact BIGINTs — both engines divide
    and multiply identical operands (the cross-engine ratio rule).

    Scale shape: counts pre-aggregate to one row per (key, value) —
    the ECDF support, not the data — and the per-key cumulative is the
    BANDED two-phase prefix sum (token_budget_select pattern): value
    range splits into ``bands`` dyadic bands via per-key min/max, band
    totals prefix over the tiny key×band series, and each distinct
    value's cumulative is its band offset plus a (key, band)-keyed
    window cumsum. No per-key single-task sort; every window is keyed
    by (key, band). Exact while n_a·n_b < 2^63 (the cross-product
    d_num bound — ~3e9 rows per side per key; beyond that, ANSI mode
    errors rather than wraps — pre-bucket values or sample a side).
    Returns (key, n_a, n_b, d_num, d, reject)."""
    cum = _ecdf_cums(
        df, key_col, split_col, value_col, bands, n_rows_hint=n_rows_hint
    )
    stats = cum.groupBy("__k").agg(
        F.max("__na").alias("n_a"),
        F.max("__nb").alias("n_b"),
        F.max(
            F.abs(F.col("__cuma") * F.col("__nb") - F.col("__cumb") * F.col("__na"))
        ).alias("d_num"),
    )
    d = F.col("d_num").cast("double") / (F.col("n_a") * F.col("n_b"))
    lhs = F.col("d_num").cast("double") * F.col("d_num")
    rhs = (
        F.lit(float(crit_sq))
        * (F.col("n_a") + F.col("n_b"))
        * F.col("n_a")
        * F.col("n_b")
    )
    return stats.filter((F.col("n_a") > 0) & (F.col("n_b") > 0)).select(
        F.col("__k").alias(key_col),
        "n_a",
        "n_b",
        "d_num",
        d.alias("d"),
        (lhs > rhs).alias("reject"),
    )


def cusum_control(
    df: DataFrame,
    key_col: str,
    order_cols: list[str],
    value_col: str,
    kappa_div: int = 20,
    h_mult: int = 8,
) -> DataFrame:
    """Per-key CUSUM control chart (Page 1954, "Continuous inspection
    schemes") — the CHANGEPOINT member of the drift family beside
    ewma_control's level tracker and ks_two_sample's distribution
    test: one-sided cumulative sums S⁺/S⁻ detect sustained mean
    shifts of either sign, alarm when either exceeds h.

    The textbook recursion S⁺_t = max(0, S⁺_{t-1} + x_t − μ − κ) is
    NOT a plain window sum, but its closed form is: with cum_t the
    running sum of deviations, S⁺_t = cum_t − min(0, min_{j≤t} cum_j)
    — a cumulative sum minus a running minimum, two expressions over
    the SAME keyed ordered window. Everything is integer: the
    reference μ = Σx div n (positive values ⇒ truncating div ==
    floor-div in both engines), slack κ = max(1, μ div kappa_div),
    threshold h = h_mult·κ — so flags and maxima are bit-exact
    cross-engine with zero rounding.

    Plan shape: the per-key reference, both cumulative chains and the
    final aggregate ride ONE hashpartitioning exchange on the key
    (the ewma_control contract). Exact while n_key·max|x−μ| < 2^63.
    Returns (key, n, mu, kappa, s_plus_max, s_minus_max, n_alarms)."""
    w_k = Window.partitionBy(key_col)
    w_o = Window.partitionBy(key_col).orderBy(*order_cols)
    w_run = w_o.rowsBetween(Window.unboundedPreceding, 0)
    x = F.col(value_col).cast("long")
    staged = (
        df.select(key_col, *order_cols, x.alias("__x"))
        .withColumn("__n", F.count(F.lit(1)).over(w_k))
        .withColumn("__sx", F.sum("__x").over(w_k))
        .withColumn("__mu", F.expr("__sx div __n"))
        .withColumn(
            "__kap", F.greatest(F.lit(1), F.expr(f"__mu div {int(kappa_div)}"))
        )
        .withColumn(
            "__cp", F.sum(F.col("__x") - F.col("__mu") - F.col("__kap")).over(w_run)
        )
        .withColumn(
            "__cm",
            F.sum(F.col("__mu") - F.col("__kap") - F.col("__x")).over(w_run),
        )
        .withColumn(
            "__sp", F.col("__cp") - F.least(F.lit(0), F.min("__cp").over(w_run))
        )
        .withColumn(
            "__sm", F.col("__cm") - F.least(F.lit(0), F.min("__cm").over(w_run))
        )
    )
    h = F.lit(int(h_mult)) * F.col("__kap")
    return staged.groupBy(key_col).agg(
        F.max("__n").alias("n"),
        F.max("__mu").alias("mu"),
        F.max("__kap").alias("kappa"),
        F.max("__sp").alias("s_plus_max"),
        F.max("__sm").alias("s_minus_max"),
        F.count_if((F.col("__sp") > h) | (F.col("__sm") > h))
        .cast("long")
        .alias("n_alarms"),
    )


def mann_whitney_u(
    df: DataFrame,
    key_col: str,
    split_col: str,
    value_col: str,
    bands: int = 64,
    n_rows_hint: int | None = None,
) -> DataFrame:
    """Per-key Mann–Whitney U / Wilcoxon rank-sum (Mann & Whitney
    1947; Wilcoxon 1945) with midrank tie handling — the rank-based
    two-sample sibling of :func:`ks_two_sample` (KS tests sup-distance;
    U tests stochastic dominance), and its normalization U/(n_a·n_b)
    is the AUC: the probability a random sample-a value ranks above a
    random sample-b value — THE threshold-free eval statistic.

    All exact: from the same banded ECDF cumulative, each distinct
    value's doubled pooled MIDRANK is 2·(pooled count before) + count
    + 1 (an integer — doubling absorbs the tie half), R1·2 = Σ ca ·
    midrank2, u2 = 2·U = R1·2 − 2·(Σ_{j≤i} handled by the closed form)
    ... specifically u2 = r1_2 − n_a·(n_a + 1), and auc = u2 /
    (2·n_a·n_b) is ONE division of exact BIGINTs. Same plan shape and
    cost as the KS pass (shared _ecdf_cums; every window keyed); same
    exactness domain too (r1_2 ≤ 2n², so keys up to ~2e9 rows — ANSI
    errors, never wraps, past it). Returns (key, n_a, n_b, u2, auc)."""
    cum = _ecdf_cums(
        df, key_col, split_col, value_col, bands, n_rows_hint=n_rows_hint
    )
    midrank2 = (
        2 * (F.col("__cuma") + F.col("__cumb") - F.col("__ca") - F.col("__cb"))
        + (F.col("__ca") + F.col("__cb"))
        + 1
    )
    stats = cum.groupBy("__k").agg(
        F.max("__na").alias("n_a"),
        F.max("__nb").alias("n_b"),
        F.sum(F.col("__ca") * midrank2).alias("r1_2"),
    )
    u2 = F.col("r1_2") - F.col("n_a") * (F.col("n_a") + 1)
    return stats.filter((F.col("n_a") > 0) & (F.col("n_b") > 0)).select(
        F.col("__k").alias(key_col),
        "n_a",
        "n_b",
        u2.alias("u2"),
        (
            u2.cast("double") / (F.lit(2) * F.col("n_a") * F.col("n_b"))
        ).alias("auc"),
    )


def _count_inversions(vals: list) -> int:
    """Mergesort inversion count (strict: equal elements are NOT
    inversions) — O(n log n), the asymptotic win over the O(n²) pair
    scan the oracle uses as its independent formulation."""

    def rec(a):
        n = len(a)
        if n < 2:
            return a, 0
        left, il = rec(a[: n // 2])
        right, ir = rec(a[n // 2 :])
        merged = []
        inv = il + ir
        i = j = 0
        while i < len(left) and j < len(right):
            if left[i] <= right[j]:
                merged.append(left[i])
                i += 1
            else:
                merged.append(right[j])
                j += 1
                inv += len(left) - i
        merged.extend(left[i:])
        merged.extend(right[j:])
        return merged, inv

    return rec(list(vals))[1]


def _band_expr(value: str, lo: str, hi: str, bands: int) -> "F.Column":
    """Overflow-free monotone banding (divide-first; the _ecdf_cums
    form): equal values share a band, band order == value order."""
    return F.expr(
        f"CASE WHEN ({hi} - {lo} + 1) >= {int(bands)} "
        f"THEN ({value} - {lo}) div (({hi} - {lo} + 1) div {int(bands)}) "
        f"ELSE ({value} - {lo}) END"
    )


def _strict_inversions_np(v) -> int:
    """Exact strict-inversion count (#pairs i<j with v[i] > v[j]) via
    a fully-vectorized bottom-up mergesort: per level, one stable
    argsort along axis=1 merges adjacent sorted halves, and the cross
    count is the number of (right element, left element after it)
    adjacencies — stable sort keeps tied left elements first, so ties
    are never counted (strict). All int64; the pad sentinel is int64
    max (equal sentinels compare non-strict)."""
    import numpy as np

    v = np.asarray(v, dtype=np.int64)
    n = len(v)
    if n < 2:
        return 0
    sent = np.iinfo(np.int64).max
    if v.max() == sent:
        raise ValueError("kendall twin: int64-max value collides with pad")
    size = 1 << (n - 1).bit_length()
    a = np.full(size, sent, dtype=np.int64)
    a[:n] = v
    inv = 0
    w = 1
    while w < size:
        rows = a.reshape(-1, 2 * w)
        idx = np.argsort(rows, axis=1, kind="stable")
        is_left = (idx < w).astype(np.int64)
        left_after = is_left[:, ::-1].cumsum(axis=1)[:, ::-1] - is_left
        inv += int(left_after[is_left == 0].sum())
        a = np.take_along_axis(rows, idx, axis=1).ravel()
        w *= 2
    return inv


def _kendall_tau_single_task(
    df: DataFrame, key_col: str, order_cols: list[str], value_col: str
) -> DataFrame:
    """Bounded single-task twin of :func:`kendall_tau`: same statistic
    — D counted directly by one exact mergesort inversion pass per key
    (no banding needed inside one worker), t2/n0 from value counts,
    the identical final BIGINT/double tail. Pinned equal by test."""
    import numpy as np
    import pandas as pd

    ktype = df.schema[key_col].dataType.simpleString()
    ocols = [f"__o{i}" for i in range(len(order_cols))]
    staged = df.select(
        F.col(key_col).alias("__k"),
        *[F.col(c).alias(a) for c, a in zip(order_cols, ocols)],
        F.col(value_col).cast("long").alias("__v"),
    )

    def work(batches):
        frames = [p for p in batches if len(p)]
        if not frames:
            return
        pdf = pd.concat(frames, ignore_index=True)
        out = {
            "k": [], "n": [], "n0": [], "t2": [], "d": [], "s": [],
            "tau_b": [],
        }
        for k, g in pdf.groupby("__k", sort=False):
            v = g["__v"].to_numpy(np.int64)
            order = np.lexsort(
                tuple(g[c].to_numpy() for c in reversed(ocols))
            )
            v = v[order]
            n = len(v)
            n0 = n * (n - 1) // 2
            _, cnt = np.unique(v, return_counts=True)
            t2 = int((cnt * (cnt - 1) // 2).sum())
            d = _strict_inversions_np(v)
            s = n0 - t2 - 2 * d
            denom = float(n0) * float(n0 - t2)
            tau = float(s) / np.sqrt(denom) if denom > 0 else None
            out["k"].append(k)
            out["n"].append(n)
            out["n0"].append(n0)
            out["t2"].append(t2)
            out["d"].append(d)
            out["s"].append(s)
            out["tau_b"].append(tau)
        f = pd.DataFrame(out)
        # object dtype keeps None a SQL NULL (NaN would survive as a
        # non-null double and diverge from the F.when(...) tail)
        f["tau_b"] = f["tau_b"].astype(object)
        yield f

    return staged.coalesce(1).mapInPandas(
        work,
        f"k {ktype}, n long, n0 long, t2 long, d long, s long, "
        "tau_b double",
    ).select(
        F.col("k").alias(key_col), "n", "n0", "t2", "d", "s", "tau_b"
    )


def kendall_tau(
    df: DataFrame,
    key_col: str,
    order_cols: list[str],
    value_col: str,
    bands: int = 16,
    n_rows_hint: int | None = None,
) -> DataFrame:
    """Per-key Kendall rank correlation τ-b (Kendall 1938, "A new
    measure of rank correlation"; the tie-corrected τ-b form) between
    the arrival order (unique x by ``order_cols``) and the integer
    value: with D the discordant-pair count, t2 the tied-y pair count,
    n0 = n(n−1)/2:  S = n0 − t2 − 2D and τ_b = S/√(n0·(n0−t2)).
    Every count is an exact BIGINT; τ divides doubles built from them
    (pinned sqrt). The DuckDB oracle recounts D with the textbook O(n²)
    strict pair join — an independent formulation.

    Scale shape — BANDED inversion count, no single-task per-key sort
    (the banded-ECDF discipline of ks_two_sample/mann_whitney_u applied
    to the 2-D dominance count): both axes band monotonically (time
    bands T on ``order_cols[0]``, value bands B on the value, ~``bands``
    each, divide-first so no overflow), and D decomposes exactly as

        D = D_cross + Σ(D_within_t − D_within_t∩b) + D_within_v

    where D_cross covers pairs in DIFFERENT time AND value bands —
    computable from the tiny per-key (T×B) count cube alone, since
    band order resolves both comparisons — and the within-band terms
    are exact mergesort inversion counts (O(m log m)) over BOUNDED
    (key, band) Arrow groups; pairs sharing both bands appear in both
    within-passes, hence the inclusion–exclusion subtraction, fused
    into the time-band pass. ``order_cols[0]`` must be numeric (the
    time-banding axis). Returns (key, n, n0, t2, d, s, tau_b).
    ``n_rows_hint`` (footer-derived) under
    ``RANKCORR_SINGLE_TASK_ROWS`` routes to the bounded single-task
    twin (r15); the banded ladder below is the above-bound shape."""
    import numpy as np
    import pandas as pd

    from flink_essentials_spark.routing import single_task_ok

    if single_task_ok(n_rows_hint, RANKCORR_SINGLE_TASK_ROWS):
        return _kendall_tau_single_task(df, key_col, order_cols, value_col)

    ktype = df.schema[key_col].dataType.simpleString()
    ocols = [f"__o{i}" for i in range(len(order_cols))]
    staged = df.select(
        F.col(key_col).alias("__k"),
        *[F.col(c).alias(a) for c, a in zip(order_cols, ocols)],
        F.col(value_col).cast("long").alias("__v"),
    ).withColumn("__t", F.col("__o0").cast("long"))
    bounds = staged.groupBy("__k").agg(
        F.min("__t").alias("__tlo"),
        F.max("__t").alias("__thi"),
        F.min("__v").alias("__vlo"),
        F.max("__v").alias("__vhi"),
    )
    banded = (
        staged.join(F.broadcast(bounds), "__k")
        .withColumn("__tb", _band_expr("__t", "__tlo", "__thi", bands))
        .withColumn("__vb", _band_expr("__v", "__vlo", "__vhi", bands))
        .drop("__tlo", "__thi", "__vlo", "__vhi")
        # feeds FOUR consumers (cube, two inversion passes, tie/count
        # aggregates) — materialize once
        .localCheckpoint()
    )

    def cross_from_cube(pdf: pd.DataFrame) -> pd.DataFrame:
        # D_cross = sum over t1<t2, b1>b2 of cnt[t1][b1]*cnt[t2][b2]:
        # prefix over time bands, suffix over value bands — O(T*B)
        ts = np.unique(pdf["__tb"].to_numpy())
        bs = np.unique(pdf["__vb"].to_numpy())
        m = np.zeros((len(ts), len(bs)), dtype=np.int64)
        ti = np.searchsorted(ts, pdf["__tb"].to_numpy())
        bi = np.searchsorted(bs, pdf["__vb"].to_numpy())
        np.add.at(m, (ti, bi), pdf["__n"].to_numpy())
        earlier = np.cumsum(m, axis=0) - m  # sum over t1 < t2, per b
        # for each (t2, b2): sum over b1 > b2 of earlier[t2][b1]
        higher = earlier[:, ::-1].cumsum(axis=1)[:, ::-1] - earlier
        d = int((m * higher).sum())
        return pd.DataFrame({"k": [pdf["__k"].iloc[0]], "d": [d]})

    cube = banded.groupBy("__k", "__tb", "__vb").agg(
        F.count(F.lit(1)).alias("__n")
    )
    d_cross = cube.groupBy("__k").applyInPandas(
        cross_from_cube, f"k {ktype}, d long"
    )

    def inv_time_band(pdf: pd.DataFrame) -> pd.DataFrame:
        # within one (key, time-band) group: ALL-pair inversions minus
        # the same-value-band pairs (those are pass 2's, subtracted
        # here so inclusion-exclusion closes)
        pdf = pdf.sort_values(ocols)
        vals = pdf["__v"].tolist()
        d = _count_inversions(vals)
        for _, sub in pdf.groupby("__vb", sort=False):
            d -= _count_inversions(sub["__v"].tolist())
        return pd.DataFrame({"k": [pdf["__k"].iloc[0]], "d": [d]})

    def inv_value_band(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(ocols)
        return pd.DataFrame(
            {
                "k": [pdf["__k"].iloc[0]],
                "d": [_count_inversions(pdf["__v"].tolist())],
            }
        )

    d_t = banded.groupBy("__k", "__tb").applyInPandas(
        inv_time_band, f"k {ktype}, d long"
    )
    d_v = banded.groupBy("__k", "__vb").applyInPandas(
        inv_value_band, f"k {ktype}, d long"
    )
    d_all = (
        d_cross.unionAll(d_t)
        .unionAll(d_v)
        .groupBy("k")
        .agg(F.sum("d").alias("d"))
    )
    base = banded.groupBy("__k", "__v").agg(F.count(F.lit(1)).alias("__c"))
    stats = base.groupBy("__k").agg(
        F.sum("__c").alias("n"),
        F.sum(F.expr("__c * (__c - 1) div 2")).alias("t2"),
    )
    joined = stats.withColumn(
        "n0", F.expr("n * (n - 1) div 2")
    ).join(d_all, F.col("__k") == F.col("k"))
    s = F.col("n0") - F.col("t2") - 2 * F.col("d")
    denom = F.col("n0").cast("double") * (F.col("n0") - F.col("t2")).cast(
        "double"
    )
    return joined.select(
        F.col("__k").alias(key_col),
        "n",
        "n0",
        "t2",
        "d",
        s.alias("s"),
        F.when(denom > 0, s.cast("double") / F.sqrt(denom)).alias("tau_b"),
    )


def gini_stump(
    df: DataFrame,
    key_col: str,
    class_col: str,
    value_col: str,
    bands: int = 64,
    n_rows_hint: int | None = None,
) -> DataFrame:
    """CART decision-stump Gini split search per key (Breiman et al.
    1984; Holte 1993's one-rule baseline): the <=-threshold on
    ``value_col`` minimizing weighted Gini impurity against the
    boolean ``class_col``, per ``key_col``. The split-search
    sufficient statistics — cumulative class counts at every candidate
    threshold — ARE the banded ECDF support (_ecdf_cums: every window
    keyed by (key, band), no per-key sort); the argmin-impurity is a
    struct-MAX aggregate, never a rank window. All counts BIGINT; each
    side purity (la²+lb²)/nl is ONE division of exactly-representable
    integers (exact while per-key class counts < 2^26), the score sum
    and final gini elementwise IEEE — bit-identical cross-engine.
    Ties break to the smallest threshold; the max-value row (empty
    right side) is excluded. Keys with a single distinct value emit
    no row. Output: (key_col, n, thr, la, lb, ra, rb, split_score,
    gini)."""
    cum = _ecdf_cums(
        df.select(
            F.col(key_col), F.col(class_col).alias("__cls"), F.col(value_col)
        ),
        key_col,
        "__cls",
        value_col,
        bands,
        n_rows_hint=n_rows_hint,
    )
    la, lb = F.col("__cuma"), F.col("__cumb")
    ra, rb = F.col("__na") - la, F.col("__nb") - lb
    nl, nr = la + lb, ra + rb
    score = (la * la + lb * lb).cast("double") / nl.cast("double") + (
        ra * ra + rb * rb
    ).cast("double") / nr.cast("double")
    cand = cum.filter(nr > 0).select(
        F.col("__k").alias(key_col),
        (F.col("__na") + F.col("__nb")).alias("n"),
        F.col("__v").alias("thr"),
        la.alias("la"),
        lb.alias("lb"),
        ra.alias("ra"),
        rb.alias("rb"),
        score.alias("split_score"),
    )
    best = cand.groupBy(key_col).agg(
        F.max(
            F.struct(
                F.col("split_score"),
                (-F.col("thr")).alias("__nthr"),
                F.col("thr"),
                F.col("la"),
                F.col("lb"),
                F.col("ra"),
                F.col("rb"),
                F.col("n"),
            )
        ).alias("b")
    )
    return best.select(
        key_col,
        F.col("b.n").alias("n"),
        F.col("b.thr").alias("thr"),
        F.col("b.la").alias("la"),
        F.col("b.lb").alias("lb"),
        F.col("b.ra").alias("ra"),
        F.col("b.rb").alias("rb"),
        F.col("b.split_score").alias("split_score"),
        (
            (F.col("b.n").cast("double") - F.col("b.split_score"))
            / F.col("b.n").cast("double")
        ).alias("gini"),
    )


def welch_t_from_stats(stats: DataFrame, key_col: str = "event_type") -> DataFrame:
    """Welch's t readout (Welch 1947) from the SUM-mergeable
    sufficient-statistics table (key, n_a, n_b, s_a, s_b, ss_a, ss_b)
    — the maintained-monitor contract: the one-shot query and the
    streaming-maintained rollup both end in THIS readout, so the two
    paths are bit-identical by construction (the ks_drift/
    decision_stump matrix discipline). Means are single divisions of
    exact operands; variances/t/df build in DOUBLE from the exact
    BIGINTs with the fixed tree the oracle mirrors. Keys with
    n_a <= 1 or n_b <= 1 are dropped (variance undefined)."""
    a = stats.filter((F.col("n_a") > 1) & (F.col("n_b") > 1))

    def d(c):
        return F.col(c).cast("double")

    mean_a = d("s_a") / d("n_a")
    mean_b = d("s_b") / d("n_b")
    var_a = (d("n_a") * d("ss_a") - d("s_a") * d("s_a")) / (
        d("n_a") * (d("n_a") - F.lit(1.0))
    )
    var_b = (d("n_b") * d("ss_b") - d("s_b") * d("s_b")) / (
        d("n_b") * (d("n_b") - F.lit(1.0))
    )
    se2_a = var_a / d("n_a")
    se2_b = var_b / d("n_b")
    t = (mean_a - mean_b) / F.sqrt(se2_a + se2_b)
    df = (se2_a + se2_b) * (se2_a + se2_b) / (
        se2_a * se2_a / (d("n_a") - F.lit(1.0))
        + se2_b * se2_b / (d("n_b") - F.lit(1.0))
    )
    return a.select(
        key_col,
        "n_a",
        "n_b",
        mean_a.alias("mean_a"),
        mean_b.alias("mean_b"),
        t.alias("t"),
        df.alias("df"),
    )


def welch_t(
    df: DataFrame, key_col: str, flag_col: str, value_col: str
) -> DataFrame:
    """One-shot Welch's t per key between the flag=true (a) and
    flag=false (b) populations of ``value_col``: ONE scan-stage
    conditional aggregate to the exact-BIGINT sufficient statistics
    (n, Σv, Σv² per side — SUM-mergeable, the streaming-maintained
    twin folds exactly these), then welch_t_from_stats. ``value_col``
    MUST be integral: a double-typed value column would make the SUMs
    order-nondeterministic and break cross-engine hashing — pass
    integer values (util.cents() for money). Enforced here (r13
    advice): a fractional dtype raises instead of being silently
    truncated by the long cast."""
    from pyspark.sql.types import ByteType, IntegerType, LongType, ShortType

    vt = df.schema[value_col].dataType
    if not isinstance(vt, (ByteType, ShortType, IntegerType, LongType)):
        raise TypeError(
            f"welch_t: value_col {value_col!r} must be integral "
            f"(got {vt.simpleString()}); fractional values would be "
            "silently truncated — pre-convert with util.cents()/an "
            "explicit exact quantization instead"
        )
    fl = F.col(flag_col)
    v = F.col(value_col).cast("long")
    stats = df.groupBy(key_col).agg(
        F.sum(fl.cast("long")).alias("n_a"),
        F.sum((~fl).cast("long")).alias("n_b"),
        F.sum(F.when(fl, v).otherwise(0)).alias("s_a"),
        F.sum(F.when(~fl, v).otherwise(0)).alias("s_b"),
        F.sum(F.when(fl, v * v).otherwise(0)).alias("ss_a"),
        F.sum(F.when(~fl, v * v).otherwise(0)).alias("ss_b"),
    )
    return welch_t_from_stats(stats, key_col)


def mcnemar_from_cells(cells: DataFrame, key_col: str = "lang") -> DataFrame:
    """McNemar χ² readout (McNemar 1947) from the SUM-mergeable
    discordant-cell table (key, n, n10, n01) — the maintained-monitor
    contract (see welch_t_from_stats). χ² = (n10 − n01)²/(n10 + n01)
    is one division of exact-operand doubles; keys with no
    discordance are dropped (the statistic is undefined)."""
    a = cells.filter(F.col("n10") + F.col("n01") > 0)
    diff = (F.col("n10") - F.col("n01")).cast("double")
    tot = (F.col("n10") + F.col("n01")).cast("double")
    return a.select(
        key_col, "n", "n10", "n01", (diff * diff / tot).alias("chi2")
    )


def mcnemar(
    df: DataFrame, key_col: str, a_col: str, b_col: str
) -> DataFrame:
    """One-shot McNemar's paired test per key between boolean rule
    columns ``a_col``/``b_col`` evaluated on the same rows: one
    scan-stage aggregate to the exact-BIGINT cells (n, n10, n01 —
    SUM-mergeable), then mcnemar_from_cells."""
    ra, rb = F.col(a_col), F.col(b_col)
    cells = df.groupBy(key_col).agg(
        F.count(F.lit(1)).alias("n"),
        F.count_if(ra & ~rb).alias("n10"),
        F.count_if(~ra & rb).alias("n01"),
    )
    return mcnemar_from_cells(cells, key_col)


def isotonic_fit(
    stats: DataFrame,
    key_col: str,
    bin_col: str,
    w_col: str,
    s_col: str,
) -> DataFrame:
    """Isotonic regression by POOL-ADJACENT-VIOLATORS (Ayer et al.
    1955; Barlow & Brunk 1972 — THE monotone-calibration algorithm,
    Zadrozny & Elkan KDD 2002 for classifiers) over pre-binned
    sufficient statistics (key, bin, w = count, s = Σy): per key the
    nondecreasing fit minimizing weighted squared error, computed by
    the exact-integer PAVA stack — pool while the previous block's
    mean ≥ the next's, compared by CROSS-MULTIPLICATION
    S_prev·W_next ≥ S_next·W_prev (no doubles anywhere in the
    algorithm; pooling equal means is fit-invariant, and the fitted
    value depends only on the pooled block's exact rational S/W, so
    the emitted double — one correctly-rounded division — is
    representation-independent and bit-identical cross-engine).

    The DuckDB oracle replays NONE of this: it evaluates the
    independent MINIMAX characterization f_j = max_{i≤j} min_{k≥j}
    mean(i..k) with exact-fraction NOT-EXISTS selection over the
    bounded bin³ lattice — two unrelated formulations of the theorem
    agreeing on every value (the jaro_winkler oracle form).

    Scale shape: bins are a CONSTANT per key (the caller pre-bins),
    so one Arrow task per key over ≤bins rows — the q-digest ladder
    discipline. Returns (key, bin, w, s, fit)."""
    import pandas as pd

    kname, bname = key_col, bin_col

    def pava(pdf):
        pdf = pdf.sort_values(bname)
        key = pdf[kname].iloc[0]
        blocks: list = []  # [n_bins, W, S]
        for w, s in zip(pdf[w_col], pdf[s_col]):
            blocks.append([1, int(w), int(s)])
            while (
                len(blocks) >= 2
                and blocks[-2][2] * blocks[-1][1]
                >= blocks[-1][2] * blocks[-2][1]
            ):
                b = blocks.pop()
                blocks[-1][0] += b[0]
                blocks[-1][1] += b[1]
                blocks[-1][2] += b[2]
        fits: list = []
        for nb, wb, sb in blocks:
            fits.extend([sb / wb] * nb)
        out = pdf.copy()
        out["fit"] = fits
        return pd.DataFrame(
            {
                kname: [key] * len(out),
                bname: out[bname].tolist(),
                "w": out[w_col].tolist(),
                "s": out[s_col].tolist(),
                "fit": out["fit"].tolist(),
            }
        )

    ktype = dict(stats.dtypes)[kname]
    btype = dict(stats.dtypes)[bname]
    return stats.groupBy(kname).applyInPandas(
        pava, f"{kname} {ktype}, {bname} {btype}, w long, s long, fit double"
    )
