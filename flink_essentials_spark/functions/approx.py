"""Approximate aggregates for interactive analytics at scale.

``approx_count_distinct`` (HyperLogLog++) and ``percentile_approx``
(KLL-ish sketch) are Spark built-ins — mergeable sketches, one shuffle,
bounded memory regardless of cardinality. Engine-specific sketch bits
differ across engines, so DuckDB oracles use the EXACT counterparts;
the approx forms are exposed for bench/production use and their error
bound is unit-tested instead.

``hll_registers``/``hll_estimate`` add a PORTABLE HyperLogLog
(Flajolet et al. 2007): the register table is plain rows
(group, bucket, max rho) built from the md5-prefix hash both engines
share, so (a) a DuckDB oracle reproduces the ENTIRE sketch — the rare
case of an approximate metric under exact cross-engine parity — and
(b) the registers are max-mergeable by construction, which is what an
incremental rollup needs for distinct counts at 100 TB:
``functions.incremental.refresh_rollup`` with keys+bucket and a
``("max","rho")`` aggregate maintains the sketch in O(batch) per
refresh, and the estimate is derived at read time (the same shape as
its avg-from-sum/count rule).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from flink_essentials_spark.routing import single_task_map, single_task_ok


def cardinality_stats(df: DataFrame, *cols: str, rsd: float = 0.05) -> DataFrame:
    return df.agg(
        *[F.approx_count_distinct(c, rsd).alias(f"approx_{c}") for c in cols],
        *[F.countDistinct(c).alias(f"exact_{c}") for c in cols],
    )


def hll_registers(
    df: DataFrame, group_cols: list[str], value_col: str, p: int = 8
) -> DataFrame:
    """HLL register table: (group..., bucket, rho) with rho maxed per
    bucket. Hash = md5-prefix 60-bit int (cross-engine identical, the
    sampling.py idiom); bucket = low ``p`` bits; rho = leading-zero
    count of the remaining ``60-p`` bits + 1, computed with pure
    integer ops (``length(bin(w))`` — no float log2 whose floor could
    disagree at powers of two). Mergeable: max per (group, bucket)."""
    m = 1 << p
    width = 60 - p
    hv = F.conv(
        F.substring(F.md5(F.col(value_col).cast("string")), 1, 15), 16, 10
    ).cast("long")
    w = F.shiftright(hv, p)
    rho = F.when(w == 0, F.lit(width + 1)).otherwise(
        F.lit(width + 1) - F.length(F.bin(w))
    )
    return (
        df.select(
            *group_cols,
            hv.bitwiseAND(F.lit(m - 1)).alias("bucket"),
            rho.cast("int").alias("rho"),
        )
        .groupBy(*group_cols, "bucket")
        .agg(F.max("rho").alias("rho"))
    )


import math as _math


def _lc_lut(p: int) -> list[str]:
    """repr'd ln(m/V) for V = 1..m: the linear-counting log values.
    There are only m possible arguments, so the logs are computed ONCE
    driver-side and injected as identical literals into BOTH engines —
    the correction becomes libm-independent (ln() is the one function
    whose last ulp differs between JVM Math.log and C libm; a literal
    table removes it from the query entirely). p is capped so the
    lookup literal stays small."""
    if p > 12:
        raise ValueError("p > 12: linear-counting LUT literal too large")
    m = 1 << p
    return [repr(_math.log(m / v)) for v in range(1, m + 1)]


def hll_estimate(
    registers: DataFrame, group_cols: list[str], p: int = 8
) -> DataFrame:
    """HLL estimate per group from a register table, WITH the standard
    small-range linear-counting correction — deterministic across
    engines end to end.

    Exact-parity arithmetic: the harmonic-mean denominator is computed
    as ``zeros + s_num / 2^rmax`` where ``s_num = Σ 2^(rmax-rho)`` is
    an EXACT int64 sum (each term ≤ 2^52, ≤ 2^p terms), the division
    by a power of two is exact, and constant·m²/S is one division of
    identical doubles. The small-range branch (raw ≤ 2.5m and some
    register empty) uses m·ln(m/zeros) with the ln values injected
    from a driver-side literal table (``_lc_lut``) rather than the
    engine's libm. Emits the integer sketch state (n_set, rmax,
    s_num) alongside the estimate so the oracle pins the registers
    too."""
    m = 1 << p
    alpha_mm = float(repr((0.7213 / (1.0 + 1.079 / m)) * m * m))
    lut = _lc_lut(p)
    g = registers.groupBy(*group_cols).agg(
        F.count(F.lit(1)).alias("n_set"), F.max("rho").alias("rmax")
    )
    joined = registers.join(g.select(*group_cols, "rmax"), group_cols)
    # python-API shiftleft takes only a literal shift — the SQL form
    # accepts a column expression
    s = joined.groupBy(*group_cols).agg(
        F.sum(F.expr("shiftleft(CAST(1 AS BIGINT), rmax - rho)")).alias("s_num")
    )
    out = g.join(s, group_cols)
    zeros = F.lit(m) - F.col("n_set")
    denom = zeros.cast("double") + F.col("s_num").cast(
        "double"
    ) / F.expr("shiftleft(CAST(1 AS BIGINT), rmax)").cast("double")
    raw = F.lit(alpha_mm) / denom
    lc = F.lit(float(m)) * F.element_at(
        F.array(*[F.lit(float(v)) for v in lut]), zeros.cast("int")
    )
    est = F.when((zeros == 0) | (raw > 2.5 * m), raw).otherwise(lc)
    return out.select(
        *group_cols,
        "n_set",
        "rmax",
        "s_num",
        F.round(est, 4).alias("est"),
    )


def cm_sketch(
    df: DataFrame,
    value_col: str,
    depth: int = 4,
    width_bits: int = 10,
) -> DataFrame:
    """Portable Count-Min sketch (Cormode & Muthukrishnan 2005):
    ``depth`` independent hash rows × ``2^width_bits`` counters,
    emitted as plain rows (d, bucket, cnt) — SUM-mergeable (batch
    sketches union + groupBy-sum ≡ one-shot; the heavy-hitter story
    for the incremental rollup loop). Row hashes are disjoint 12-bit
    slices of the same cross-engine md5-prefix int (depth ≤ 5 at
    width ≤ 12 bits), so a DuckDB oracle reproduces every counter —
    integer arithmetic end-to-end, no parity caveats at all."""
    if depth * width_bits > 60:
        raise ValueError("depth*width_bits must fit the 60-bit md5 prefix")
    m = 1 << width_bits
    hv = F.conv(
        F.substring(F.md5(F.col(value_col).cast("string")), 1, 15), 16, 10
    ).cast("long")
    # ONE scan: a union of per-row selects would re-evaluate the
    # upstream (tokenize/explode in the heavy-hitter case) depth times;
    # posexplode over the slice array hashes each value once
    slices = F.posexplode(
        F.array(
            *[
                F.shiftright(hv, d * width_bits).bitwiseAND(F.lit(m - 1))
                for d in range(depth)
            ]
        )
    )
    return (
        df.select(slices.alias("d", "bucket"))
        .groupBy("d", "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def cm_estimate(
    sketch: DataFrame,
    items: DataFrame,
    value_col: str,
    depth: int = 4,
    width_bits: int = 10,
) -> DataFrame:
    """Point-query the sketch for each item: min over the ``depth``
    counters the item hashes to — an upper bound on the true count
    (collisions only ever inflate). The sketch is depth × 2^width_bits
    rows REGARDLESS of stream size, so each per-row counter slice is
    broadcast and the probes never shuffle."""
    m = 1 << width_bits
    hv = F.conv(
        F.substring(F.md5(F.col(value_col).cast("string")), 1, 15), 16, 10
    ).cast("long")
    keep = list(items.columns)
    probes = items.select(
        "*",
        *[
            F.shiftright(hv, d * width_bits)
            .bitwiseAND(F.lit(m - 1))
            .alias(f"b{d}")
            for d in range(depth)
        ],
    )
    est = None
    for d in range(depth):
        side = sketch.filter(F.col("d") == d).select(
            F.col("bucket").alias(f"b{d}"), F.col("cnt").alias(f"c{d}")
        )
        # LEFT join + coalesce(0): an item whose (d, bucket) counter is
        # absent from the sketch (never seen) must deterministically
        # estimate 0, not silently drop the probe row (r6 advice — the
        # inner join diverged from the oracle's NULL-ignoring least()).
        probes = probes.join(F.broadcast(side), f"b{d}", "left")
        c = F.coalesce(F.col(f"c{d}"), F.lit(0))
        est = c if est is None else F.least(est, c)
    return probes.select(*keep, est.alias("est_cnt"))


def sql_cm(
    table_expr: str,
    value_expr: str,
    items_sql: str,
    item_col: str = "item",
    depth: int = 4,
    width_bits: int = 10,
) -> str:
    """DuckDB mirror of cm_sketch→cm_estimate for oracle SQL.
    ``items_sql`` selects the probe rows (must include ``item_col``);
    its other columns pass through, so exact counts can ride along
    for self-evaluation."""
    m = 1 << width_bits
    hv = f"(('0x' || substring(md5(CAST({value_expr} AS VARCHAR)), 1, 15))::BIGINT)"
    sketch_rows = "\nUNION ALL\n".join(
        f"SELECT {d} AS d, ({hv} >> {d * width_bits}) & {m - 1} AS bucket "
        f"FROM {table_expr}"
        for d in range(depth)
    )
    ihv = (
        f"(('0x' || substring(md5(CAST({item_col} AS VARCHAR)), 1, 15))::BIGINT)"
    )
    # COALESCE(..., 0): an unseen item's counter is absent from sk;
    # both engines must then return est_cnt = 0 (least() over scalar
    # subqueries would silently IGNORE the NULL otherwise — r6 advice)
    mins = ", ".join(
        f"COALESCE((SELECT cnt FROM sk WHERE d = {d} "
        f"AND bucket = ({ihv} >> {d * width_bits}) & {m - 1}), 0)"
        for d in range(depth)
    )
    return f"""
WITH sk AS (
  SELECT d, bucket, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM ({sketch_rows}) GROUP BY 1, 2
), it AS ({items_sql})
SELECT it.*, least({mins}) AS est_cnt FROM it
"""


def histogram_bins(
    df: DataFrame, value_col, lo: int, hi: int, bins: int
) -> DataFrame:
    """The fixed-bin integer histogram itself, as (bin, cnt) rows —
    the SUM-mergeable state behind :func:`histogram_quantiles`,
    exposed so the incremental/streaming maintenance loop
    (foreachBatch → refresh_rollup with a ('sum','cnt') spec) can
    store and fold it per micro-batch; quantiles recompute from the
    merged counts at read time."""
    value_col = F.col(value_col) if isinstance(value_col, str) else value_col
    width_num = hi - lo + 1
    # integer division throughout ('div'): double '/'+floor can misbin
    # exactly-on-boundary values after rounding
    num = ((value_col - lo) * bins).cast("long")
    return (
        df.select(num.alias("__num"))
        .select(
            F.least(
                F.lit(bins - 1),
                F.greatest(F.lit(0).cast("long"), F.expr(f"__num div {width_num}")),
            ).alias("bin")
        )
        .groupBy("bin")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def histogram_quantiles(
    df: DataFrame,
    value_col,
    lo: int,
    hi: int,
    bins: int,
    qs: list[float],
) -> DataFrame:
    """Mergeable quantiles from a fixed-bin integer histogram — the
    monitoring-percentile scale path: the histogram is SUM-mergeable
    (incremental refresh, cross-partition combine is exact), and the
    q-quantile is simply the first bin whose cumulative count reaches
    ``ceil(q·N)`` — pure integer arithmetic, so unlike t-digest/KLL
    the answer is deterministic, engine-portable, and ORACLE-exact.
    Error is bounded by the bin width (the caller picks resolution);
    the exact-anchor comparison lives in the oracle row itself.
    ``value_col`` must already be integer-valued (cents, ms, counts —
    the repo's parity discipline). Returns (q, bin_idx, bin_lo,
    bin_hi, cum_cnt, n_rows) per requested quantile."""
    histo = histogram_bins(df, value_col, lo, hi, bins)
    width_num = hi - lo + 1
    # bins ≤ a few thousand: the cumulative walk is a tiny single-
    # partition window over the HISTOGRAM, never over the data
    from pyspark.sql import Window as W

    cum = histo.withColumn(
        "cum", F.sum("cnt").over(W.orderBy("bin").rowsBetween(W.unboundedPreceding, 0))
    ).withColumn("n_rows", F.sum("cnt").over(W.partitionBy()))
    out = None
    for q in qs:
        need = F.ceil(F.lit(q) * F.col("n_rows")).cast("long")
        hit = (
            cum.filter(F.col("cum") >= need)
            .orderBy("bin")
            .limit(1)
            .select(
                F.lit(float(q)).alias("q"),
                F.col("bin").alias("bin_idx"),
                F.expr(f"{lo} + (bin * {width_num}) div {bins}").alias(
                    "bin_lo"
                ),
                F.expr(f"{lo} + ((bin + 1) * {width_num}) div {bins}").alias(
                    "bin_hi"
                ),
                F.col("cum").alias("cum_cnt"),
                "n_rows",
            )
        )
        out = hit if out is None else out.unionByName(hit)
    return out


def dd_sketch(
    df: DataFrame,
    value_col,
    group_cols: list[str] | None = None,
    sub_bits: int = 3,
) -> DataFrame:
    """Base-2 DDSketch-style mergeable quantile sketch (Masson, Rim &
    Lee, "DDSketch: a fast and fully-mergeable quantile sketch with
    relative-error guarantees", VLDB 2019) — the RELATIVE-error,
    unbounded-range member of the quantile matrix
    (:func:`histogram_quantiles` = fixed-range absolute error;
    ``sample_quantiles`` = bottom-k hash sample). The paper's
    log-gamma buckets are replaced by base-2 octaves with ``2^s``
    LINEAR sub-bins per octave, which keeps every bucket boundary an
    exact integer (cross-engine bit parity; IEEE log() would drift):

      bl     = bit-length(v)            (v >= 1, integer-valued)
      p      = 2^(bl-1)                 (the octave floor)
      sub    = ((v - p) * 2^s) div p    (0 .. 2^s - 1)
      bucket = (bl - 1) * 2^s + sub
      lb     = p + (sub * p) div 2^s    (bucket lower bound)

    Relative error of reading lb for any v in the bucket is < 2^-s
    (bucket width p/2^s over a value >= p); 63*2^s buckets cover all
    of int64 with NO [lo, hi) range parameter. The sketch is a plain
    (group, bucket) count — mergeable by cnt SUM (cross-partition,
    cross-batch, cross-day), deterministic, and oracle-exact. Returns
    (group..., bucket, lb, cnt)."""
    gc = list(group_cols or [])
    two_s = 1 << sub_bits
    base = df.select(
        *gc, F.col(value_col).cast("long").alias("__v")
    ).filter(F.col("__v") >= 1)
    bl = F.length(F.conv(F.col("__v"), 10, 2))
    staged = base.select(
        *gc, "__v", bl.alias("__bl")
    ).select(
        *gc,
        "__v",
        "__bl",
        F.expr("shiftleft(CAST(1 AS BIGINT), __bl - 1)").alias("__p"),
    )
    # INTEGER division throughout (r9 ADVICE): the double form
    # ((v-p)*2^s)/p then floor() is exact only while (v-p)*2^s < 2^53,
    # and the naive integer multiply overflows int64 for top-octave v
    # (p = 2^62, (v-p)*8 = 2^65). When p >= 2^s the divisor p div 2^s
    # is exact (p a power of two), so (v-p) div (p div 2^s) equals
    # ((v-p)*2^s) div p with every intermediate <= v — exact over the
    # FULL int64 domain in both engines; the multiply form only runs
    # for v < 2^s, where it is trivially small.
    sub = F.expr(
        f"CASE WHEN __p < {two_s} THEN ((__v - __p) * {two_s}) div __p "
        f"ELSE (__v - __p) div (__p div {two_s}) END"
    ).alias("__sub")
    return (
        staged.select(*gc, "__bl", "__p", sub)
        .select(
            *gc,
            (
                (F.col("__bl") - 1).cast("long") * F.lit(two_s)
                + F.col("__sub")
            ).alias("bucket"),
            F.expr(
                f"CASE WHEN __p < {two_s} THEN __p + (__sub * __p) div {two_s} "
                f"ELSE __p + __sub * (__p div {two_s}) END"
            ).alias("lb"),
        )
        .groupBy(*gc, "bucket", "lb")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def dd_merge(sketches: DataFrame, group_cols: list[str] | None = None) -> DataFrame:
    """Merge partial DD sketches (any union of per-partition /
    per-batch / per-shard sketch rows): bucket-wise count sum — the
    whole point of the representation; ≡ one-shot build is pinned in
    tests."""
    gc = list(group_cols or [])
    return sketches.groupBy(*gc, "bucket", "lb").agg(
        F.sum("cnt").alias("cnt")
    )


def dd_quantiles(
    sketch: DataFrame,
    qs: list[tuple[int, int]],
    group_cols: list[str] | None = None,
) -> DataFrame:
    """Quantile read-out from a DD sketch: per group the q-quantile
    estimate is the lower bound of the first bucket whose cumulative
    count reaches ceil(q·n) — pure integer arithmetic (``qs`` are
    exact rationals (num, den), e.g. (1, 2) for p50). The cumulative
    walk is a keyed window over the SKETCH (≤ 63·2^s rows per group),
    never over the data. Returns (group..., q_num, q_den, n, est)."""
    from pyspark.sql import Window as W

    gc = list(group_cols or [])
    w = W.partitionBy(*gc).orderBy("bucket") if gc else W.orderBy("bucket")
    wg = W.partitionBy(*gc) if gc else W.partitionBy()
    cum = sketch.withColumn(
        "__cum", F.sum("cnt").over(w.rowsBetween(W.unboundedPreceding, 0))
    ).withColumn("__n", F.sum("cnt").over(wg))
    out = None
    for num, den in qs:
        need = F.expr(f"(__n * {int(num)} + {int(den)} - 1) div {int(den)}")
        hit = (
            cum.filter(F.col("__cum") >= need)
            .groupBy(*gc)
            .agg(
                F.lit(int(num)).alias("q_num"),
                F.lit(int(den)).alias("q_den"),
                F.max("__n").alias("n"),
                F.min_by("lb", "bucket").alias("est"),
            )
        )
        out = hit if out is None else out.unionByName(hit)
    return out


def bloom_build(
    df: DataFrame,
    value_col: str,
    m_bits: int = 4096,
    k: int = 3,
) -> DataFrame:
    """Portable Bloom filter as rows (word, bits): k bit positions per
    value from disjoint 12-bit slices of the shared md5-prefix hash
    (m_bits ≤ 4096 ⇒ 12 bits each; k ≤ 5 slices fit the 60-bit
    prefix), packed into 32-bit-indexed words and merged with BIT_OR —
    the associative aggregate that makes the filter build one shuffle
    of at most m_bits/32 rows and incremental maintenance a groupBy-OR.
    The classic 100 TB use: build on the small join side, broadcast,
    pre-filter the big side before the real join (bloom_might_contain)
    — rows the filter rejects are DEFINITELY absent (no false
    negatives); false positives only cost a little extra join input.
    Cross-engine exact: every word is integer arithmetic over md5."""
    if k * 12 > 60 or m_bits > 4096 or m_bits & (m_bits - 1):
        raise ValueError("need k*12 <= 60 and m_bits a power of two <= 4096")
    hv = F.conv(
        F.substring(F.md5(F.col(value_col).cast("string")), 1, 15), 16, 10
    ).cast("long")
    # one scan (see cm_sketch): explode the k slice positions per value
    union = df.select(
        F.explode(
            F.array(
                *[
                    F.shiftright(hv, 12 * i).bitwiseAND(F.lit(m_bits - 1))
                    for i in range(k)
                ]
            )
        ).alias("pos")
    )
    return (
        union.select(
            # 32-bit words: shift stays < 32 (DuckDB raises on a 63-bit
            # shift into the sign; Spark wraps silently — neither is a
            # portable word encoding)
            F.expr("pos div 32").alias("word"),
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(pos % 32 AS INT))").alias(
                "bit"
            ),
        )
        .groupBy("word")
        .agg(F.bit_or("bit").alias("bits"))
    )


def bloom_might_contain(
    probe: DataFrame,
    bloom: DataFrame,
    value_col: str,
    m_bits: int = 4096,
    k: int = 3,
) -> DataFrame:
    """Filter ``probe`` to rows the Bloom filter MIGHT contain (all k
    bits set). The filter is ≤ m_bits/32 rows → broadcast; each of the
    k probes is a broadcast join on the word index — the probe side
    never shuffles, and a rejected row is DEFINITELY not in the built
    set (no false negatives; verified against the exact semi join in
    tests)."""
    hv = F.conv(
        F.substring(F.md5(F.col(value_col).cast("string")), 1, 15), 16, 10
    ).cast("long")
    out = probe
    for i in range(k):
        pos = F.shiftright(hv, 12 * i).bitwiseAND(F.lit(m_bits - 1))
        out = out.withColumn(f"__p{i}", pos)
        out = out.withColumn(f"__w{i}", F.expr(f"__p{i} div 32")).withColumn(
            f"__b{i}",
            F.expr(
                f"shiftleft(CAST(1 AS BIGINT), CAST(__p{i} % 32 AS INT))"
            ),
        )
    for i in range(k):
        side = bloom.select(
            F.col("word").alias(f"__w{i}"), F.col("bits").alias(f"__s{i}")
        )
        out = out.join(F.broadcast(side), f"__w{i}").filter(
            F.col(f"__s{i}").bitwiseAND(F.col(f"__b{i}")) == F.col(f"__b{i}")
        )
    return out.drop(
        *[
            c
            for i in range(k)
            for c in (f"__p{i}", f"__w{i}", f"__b{i}", f"__s{i}")
        ]
    )


def sql_hll_registers(table_expr: str, group_cols: str, value_expr: str, p: int = 8) -> str:
    """DuckDB register-table subquery mirroring hll_registers:
    emits ({group_cols}, bucket, rho). Factored out so sketch ALGEBRA
    (pair unions for the intersection audit) can max-merge register
    CTEs before estimating."""
    m = 1 << p
    width = 60 - p
    return f"""(
  SELECT {group_cols}, hv & {m - 1} AS bucket,
         MAX(CASE WHEN hv >> {p} = 0 THEN {width + 1}
                  ELSE {width + 1} - length(bin(hv >> {p})) END) AS rho
  FROM (
    SELECT {group_cols},
           ('0x' || substring(md5(CAST({value_expr} AS VARCHAR)), 1, 15))::BIGINT
             AS hv
    FROM {table_expr}
  ) GROUP BY {group_cols}, bucket
)"""


def sql_hll_estimate(regs: str, cols: list[str], p: int = 8) -> str:
    """DuckDB estimate subquery from a register relation ``regs``
    with key columns ``cols`` — the exact hll_estimate formula
    (integer-exact harmonic denominator + literal-table linear
    counting), factored from the one-shot sql_hll so any
    register-algebra consumer derives the IDENTICAL estimate."""
    m = 1 << p
    alpha_mm = repr((0.7213 / (1.0 + 1.079 / m)) * m * m)
    lut = ", ".join(_lc_lut(p))
    raw = (
        f"({alpha_mm} / (({m} - gg.n_set) + s.s_num / (1::BIGINT << gg.rmax)))"
    )
    lc = f"({repr(float(m))} * list_extract([{lut}], {m} - gg.n_set))"
    cl = ", ".join(cols)
    gg_cols = ", ".join(f"gg.{c}" for c in cols)
    on_r = " AND ".join(f"r.{c} = gg.{c}" for c in cols)
    on_s = " AND ".join(f"s.{c} = gg.{c}" for c in cols)
    return f"""(
  WITH gg AS (
    SELECT {cl}, CAST(COUNT(*) AS BIGINT) AS n_set, MAX(rho) AS rmax
    FROM {regs} GROUP BY {cl}
  ), s AS (
    SELECT {gg_cols},
           CAST(SUM(1::BIGINT << (gg.rmax - r.rho)) AS BIGINT) AS s_num
    FROM {regs} r JOIN gg ON {on_r} GROUP BY {gg_cols}
  )
  SELECT {gg_cols}, gg.n_set, CAST(gg.rmax AS INTEGER) AS rmax, s.s_num,
         round(CASE WHEN gg.n_set = {m} OR {raw} > {repr(2.5 * m)}
                    THEN {raw} ELSE {lc} END, 4) AS est
  FROM gg JOIN s ON {on_s}
)"""


def sql_hll(
    table_expr: str, group_col: str, value_expr: str, p: int = 8
) -> str:
    """DuckDB mirror of hll_registers→hll_estimate for oracle SQL
    (composed from sql_hll_registers + sql_hll_estimate so every
    consumer shares one formula)."""
    regs = sql_hll_registers(
        f"(SELECT {group_col} AS g, * FROM {table_expr})", "g", value_expr, p
    )
    est = sql_hll_estimate(regs, ["g"], p)
    return f"SELECT g AS {group_col}, n_set, rmax, s_num, est FROM {est}"


def quantiles(df: DataFrame, col: str, probs: list[float], accuracy: int = 10000) -> DataFrame:
    return df.agg(
        F.percentile_approx(col, probs, accuracy).alias("quantiles"),
        F.min(col).alias("min_v"),
        F.max(col).alias("max_v"),
    )


def bottomk_sample(
    df: DataFrame,
    id_col: str,
    k: int = 256,
    salt: str = "bk1:",
) -> DataFrame:
    """Deterministic bottom-k uniform sample — the MERGEABLE,
    unbounded-domain member of the quantile family (the fixed-range
    histogram's complement): keep the k rows whose md5-prefix hash of
    the UNIQUE ``id_col`` is smallest. Merging partial sketches is
    union + re-trim to the k smallest hashes (same operator — pinned
    ≡ one-shot by test), so per-batch samples maintain a live sample
    of the whole stream with k rows of state. Engine-neutral hash, so
    a DuckDB oracle reproduces the exact member set. The plan is
    TakeOrderedAndProject (distributed partial top-k), never a global
    sort."""
    hv = F.conv(
        F.substring(
            F.md5(F.concat(F.lit(salt), F.col(id_col).cast("string"))), 1, 15
        ),
        16,
        10,
    ).cast("long")
    return df.withColumn("__h", hv).orderBy("__h").limit(k)


def bottomk_quantiles(
    sample: DataFrame, value_col: str, qs: list[float]
) -> DataFrame:
    """Quantile estimates off a :func:`bottomk_sample` (k rows — the
    rank window is over the SKETCH, never the data): the q-quantile is
    the ceil(q·n)-th smallest sampled value, ties broken by the sample
    hash for full determinism. Returns (q, est_value, n_sample)."""
    from pyspark.sql import Window as W

    w = W.orderBy(F.col(value_col), F.col("__h"))
    ranked = sample.select(
        F.col(value_col).alias("__v"),
        F.col("__h"),
        F.row_number().over(w).alias("__rk"),
        F.count(F.lit(1)).over(W.partitionBy()).alias("__n"),
    )
    out = None
    for q in qs:
        hit = (
            ranked.filter(
                F.col("__rk") == F.ceil(F.lit(q) * F.col("__n")).cast("int")
            )
            .select(
                F.lit(float(q)).alias("q"),
                F.col("__v").alias("est_value"),
                F.col("__n").cast("long").alias("n_sample"),
            )
        )
        out = hit if out is None else out.unionByName(hit)
    return out


# ---------------------------------------------------------------------------
# KMV (k-minimum-values / bottom-k) distinct sketches with SET ALGEBRA
# (Beyer et al. 2007, "On synopses for distinct-value estimation under
# multiset operations"): per group keep the k smallest engine-neutral
# hashes of the DISTINCT values. Unlike HLL registers (union-only),
# KMV sketches support INTERSECTION estimates: the k smallest hashes
# of A∪B are exactly the k smallest of (bottomk(A) ∪ bottomk(B)), and
# the fraction of them present in BOTH sketches estimates Jaccard.
# Distinct estimate: (k-1)·M / h_k with M = hash space (2^60 here —
# the md5-15-hex-prefix hash every portable sketch in this repo uses),
# exact below k. Everything is deterministic integer/hash arithmetic,
# so a DuckDB oracle reproduces the full sketch AND the estimates
# bit-for-bit; accuracy vs the exact sets is a separate pytest bracket.
# ---------------------------------------------------------------------------

KMV_SPACE = 1 << 60  # md5 15-hex-prefix hash range


def kmv_retrim(df: DataFrame, k: int, bands: int = 64) -> DataFrame:
    """Trim a (g, h) hash table to the per-group bottom-k — both the
    sketch BUILD step and the MERGE step (merging partial sketches is
    union + re-trim; ≡ one-shot is pinned in tests). Scale shape: the
    build path ranks the full per-group DISTINCT hash table, so the
    rank is BANDED — hashes are uniform in the known space
    [0, 2^60), so bands are STATIC (h div space/bands, no bounds
    pass), the rank window is keyed by (g, band), and bands whose
    prefix offset already reaches k are PRUNED before the window
    (they cannot contain a bottom-k row) — at large inputs that drops
    ~(bands-1)/bands of the table before any sort."""
    from pyspark.sql import Window as W

    d = (
        df.select("g", "h")
        .distinct()
        .withColumn("__band", F.expr(f"h div {KMV_SPACE // int(bands)}"))
    )
    btot = d.groupBy("g", "__band").agg(F.count(F.lit(1)).alias("__n"))
    w_b = (
        W.partitionBy("g")
        .orderBy("__band")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    offs = btot.select(
        "g",
        "__band",
        F.coalesce(F.sum("__n").over(w_b), F.lit(0)).alias("__off"),
    ).filter(F.col("__off") < k)
    w_in = W.partitionBy("g", "__band").orderBy("h")
    return (
        d.join(F.broadcast(offs), ["g", "__band"])
        .withColumn("rk", (F.col("__off") + F.row_number().over(w_in)).cast("int"))
        .filter(F.col("rk") <= k)
        .drop("__band", "__off")
    )


def kmv_sketch(
    df: DataFrame,
    group_col: str,
    value_col: str,
    k: int = 128,
    salt: str = "kmv1:",
) -> DataFrame:
    """Per-group KMV sketch: (g, h, rk), rk ≤ k over distinct-value
    hashes. k rows of state per group regardless of input size."""
    hv = F.conv(
        F.substring(
            F.md5(F.concat(F.lit(salt), F.col(value_col).cast("string"))),
            1,
            15,
        ),
        16,
        10,
    ).cast("long")
    return kmv_retrim(
        df.select(F.col(group_col).alias("g"), hv.alias("h")), k
    )


def kmv_pair_estimates(sketch: DataFrame, k: int) -> DataFrame:
    """Union / intersection / Jaccard estimates for EVERY unordered
    group pair, from the sketches alone (≤ 2k rows per pair — the data
    is never revisited). For each pair the k smallest hashes of the
    two sketches' union form a valid KMV sketch of A∪B; m = how many
    of those live in both sketches.

      est_union        = (k-1)·M / h_k   (exact count when < k seen)
      est_jaccard      = m / n_sk
      est_intersection = est_jaccard · est_union

    The estimate arithmetic is single-division IEEE on exact integer
    operands, identically parenthesized in the DuckDB oracle — no
    rounding needed for parity. Passing a huge k (> any group's
    cardinality) on the UNTRIMMED hash table degrades every estimate
    to the exact value — the query layer uses that as a self-eval.

    Group-pair expansion is a broadcast cross join of the DISTINCT
    group list with itself (groups are bounded — sources, languages,
    shards — never data-sized); per-pair dedup and ranking are keyed
    by (a, b)."""
    groups = sketch.select("g").distinct()
    pairs = (
        F.broadcast(groups.select(F.col("g").alias("ga")))
        .crossJoin(groups.select(F.col("g").alias("gb")))
        .filter(F.col("ga") < F.col("gb"))
    )
    ra = sketch.join(F.broadcast(pairs), F.col("g") == F.col("ga")).select(
        "ga", "gb", "h", F.lit(1).alias("ia"), F.lit(0).alias("ib")
    )
    rb = sketch.join(F.broadcast(pairs), F.col("g") == F.col("gb")).select(
        "ga", "gb", "h", F.lit(0).alias("ia"), F.lit(1).alias("ib")
    )
    from pyspark.sql import Window as W

    u = (
        ra.unionByName(rb)
        .groupBy("ga", "gb", "h")
        .agg(F.max("ia").alias("ia"), F.max("ib").alias("ib"))
    )
    w = W.partitionBy("ga", "gb").orderBy("h")
    trimmed = u.withColumn("rk", F.row_number().over(w)).filter(
        F.col("rk") <= k
    )
    agg = trimmed.groupBy("ga", "gb").agg(
        F.count(F.lit(1)).alias("n_sk"),
        F.max("h").alias("h_k"),
        F.sum(F.col("ia") * F.col("ib")).cast("long").alias("m"),
    )
    est_union = F.when(
        F.col("n_sk") == k,
        F.lit(float(k - 1)) * F.lit(KMV_SPACE) / F.col("h_k"),
    ).otherwise(F.col("n_sk").cast("double"))
    est_j = F.col("m").cast("double") / F.col("n_sk")
    return agg.select(
        "ga",
        "gb",
        "n_sk",
        "m",
        est_union.alias("est_union"),
        est_j.alias("est_jaccard"),
        (est_j * est_union).alias("est_intersection"),
    )


def cs_sketch(
    df: DataFrame,
    value_col: str,
    depth: int = 3,
    width_bits: int = 10,
) -> DataFrame:
    """Portable Count-Sketch (Charikar, Chen & Farach-Colton 2002,
    "Finding frequent items in data streams"): like the Count-Min rows
    above but each update carries a pairwise-independent SIGN, making
    the per-row estimate s(x)·C[h(x)] UNBIASED — collisions cancel in
    expectation instead of only ever inflating. Counters emitted as
    plain (d, bucket, cnt) rows, SUM-mergeable like cm_sketch.
    Buckets are disjoint width_bits slices of the cross-engine
    md5-prefix int; the sign for row d is bit depth*width_bits+d —
    integer arithmetic end-to-end, zero parity caveats."""
    if depth * width_bits + depth > 60:
        raise ValueError("bucket+sign bits must fit the 60-bit md5 prefix")
    m = 1 << width_bits
    hv = F.conv(
        F.substring(F.md5(F.col(value_col).cast("string")), 1, 15), 16, 10
    ).cast("long")
    slices = F.posexplode(
        F.array(
            *[
                F.struct(
                    F.shiftright(hv, d * width_bits)
                    .bitwiseAND(F.lit(m - 1))
                    .alias("bucket"),
                    (
                        1
                        - 2
                        * F.shiftright(hv, depth * width_bits + d).bitwiseAND(
                            F.lit(1)
                        )
                    ).alias("sign"),
                )
                for d in range(depth)
            ]
        )
    )
    return (
        df.select(slices.alias("d", "bs"))
        .groupBy("d", F.col("bs.bucket").alias("bucket"))
        .agg(F.sum("bs.sign").alias("cnt"))
    )


def cs_estimate(
    sketch: DataFrame,
    items: DataFrame,
    value_col: str,
    depth: int = 3,
    width_bits: int = 10,
) -> DataFrame:
    """Point-query: median over the depth signed counters — for
    depth 3 the median is the exact integer a+b+c-max-min, so the
    estimate is reproducible on any engine with no percentile
    semantics in play. Sketch slices broadcast; probes never
    shuffle (the cm_estimate layout)."""
    if depth != 3:
        raise ValueError("the arithmetic median form is depth=3 only")
    m = 1 << width_bits
    hv = F.conv(
        F.substring(F.md5(F.col(value_col).cast("string")), 1, 15), 16, 10
    ).cast("long")
    keep = list(items.columns)
    probes = items.select(
        "*",
        *[
            F.shiftright(hv, d * width_bits)
            .bitwiseAND(F.lit(m - 1))
            .alias(f"b{d}")
            for d in range(depth)
        ],
        *[
            (
                1
                - 2
                * F.shiftright(hv, depth * width_bits + d).bitwiseAND(F.lit(1))
            ).alias(f"s{d}")
            for d in range(depth)
        ],
    )
    for d in range(depth):
        side = sketch.filter(F.col("d") == d).select(
            F.col("bucket").alias(f"b{d}"), F.col("cnt").alias(f"c{d}")
        )
        probes = probes.join(F.broadcast(side), f"b{d}", "left")
    ests = [
        (F.col(f"s{d}") * F.coalesce(F.col(f"c{d}"), F.lit(0))).alias(f"e{d}")
        for d in range(depth)
    ]
    staged = probes.select(*keep, *ests)
    e = [F.col(f"e{d}") for d in range(depth)]
    med = e[0] + e[1] + e[2] - F.greatest(*e) - F.least(*e)
    return staged.select(*keep, med.alias("est"))


def sql_cs(
    table_expr: str,
    value_expr: str,
    items_sql: str,
    item_col: str = "item",
    depth: int = 3,
    width_bits: int = 10,
) -> str:
    """DuckDB mirror of cs_sketch→cs_estimate for oracle SQL (the
    sql_cm layout with signed updates and the arithmetic 3-median)."""
    if depth != 3:
        raise ValueError("the arithmetic median form is depth=3 only")
    m = 1 << width_bits
    hv = f"(('0x' || substring(md5(CAST({value_expr} AS VARCHAR)), 1, 15))::BIGINT)"
    sketch_rows = "\nUNION ALL\n".join(
        f"SELECT {d} AS d, ({hv} >> {d * width_bits}) & {m - 1} AS bucket, "
        f"1 - 2 * (({hv} >> {depth * width_bits + d}) & 1) AS sign "
        f"FROM {table_expr}"
        for d in range(depth)
    )
    ihv = (
        f"(('0x' || substring(md5(CAST({item_col} AS VARCHAR)), 1, 15))::BIGINT)"
    )
    ests = ", ".join(
        f"(1 - 2 * (({ihv} >> {depth * width_bits + d}) & 1))"
        f" * COALESCE((SELECT cnt FROM sk WHERE d = {d} "
        f"AND bucket = ({ihv} >> {d * width_bits}) & {m - 1}), 0) AS e{d}"
        for d in range(depth)
    )
    return f"""
WITH sk AS (
  SELECT d, bucket, CAST(SUM(sign) AS BIGINT) AS cnt
  FROM ({sketch_rows}) GROUP BY 1, 2
), it AS ({items_sql}),
probed AS (SELECT it.*, {ests} FROM it)
SELECT * EXCLUDE (e0, e1, e2),
       e0 + e1 + e2 - greatest(e0, e1, e2) - least(e0, e1, e2) AS est_cnt
FROM probed
"""


def ams_f2(
    df: DataFrame, key_col: str, depth: int = 5, salt: str = "ams"
) -> DataFrame:
    """AMS second-frequency-moment sketch (Alon, Matias & Szegedy
    1996, "The space complexity of approximating the frequency
    moments" — the Gödel-prize F2 estimator): F2 = Σ_k f_k² is the
    self-join size, the quantity a planner needs to predict skew and
    shuffle cost without materializing per-key counts. Each of
    ``depth`` rows keeps ONE counter Z_j = Σ rows sign_j(key) (±1
    md5-derived four-wise-independent-in-spirit signs); E[Z²] = F2.

    Everything is exact integer arithmetic: the signs are ±1, each
    Z_j is an exact BIGINT accumulated row-by-row in the scan (NO
    per-key groupBy — the sketch never touches per-key state, which
    is the whole point), Z² < n² stays in int64 to ~3B rows per
    sketch, and the estimate is ONE division of the Z² sum by
    ``depth``. Z_j counters are SUM-mergeable across partitions and
    batches. The exact F2 (groupBy + sum of squared counts) rides
    along as self-eval. Returns one row
    (n_rows, n_keys, exact_f2, est_f2)."""
    js = F.explode(
        F.array(*[F.lit(j) for j in range(depth)])
    ).alias("j")
    signed = df.select(F.col(key_col).cast("string").alias("k")).select(
        "k", js
    ).select(
        "j",
        F.when(
            F.pmod(
                F.conv(
                    F.substring(
                        F.md5(
                            F.concat(
                                F.lit(salt),
                                F.col("j").cast("string"),
                                F.lit(":"),
                                F.col("k"),
                            )
                        ),
                        1,
                        15,
                    ),
                    16,
                    10,
                ).cast("long"),
                F.lit(2),
            )
            == 0,
            F.lit(1),
        )
        .otherwise(F.lit(-1))
        .alias("s"),
    )
    z = signed.groupBy("j").agg(F.sum("s").cast("long").alias("z"))
    est = z.agg(
        (
            F.sum(F.col("z") * F.col("z")).cast("double") / F.lit(int(depth))
        ).alias("est_f2")
    )
    exact = (
        df.groupBy(F.col(key_col).alias("k"))
        .agg(F.count(F.lit(1)).alias("c"))
        .agg(
            F.sum("c").cast("long").alias("n_rows"),
            F.count(F.lit(1)).alias("n_keys"),
            F.sum(F.col("c") * F.col("c")).cast("long").alias("exact_f2"),
        )
    )
    return exact.crossJoin(F.broadcast(est)).select(
        "n_rows", "n_keys", "exact_f2", "est_f2"
    )


def _exact_quantiles_single_task(
    df: DataFrame, value_col: str, qs: list[tuple[int, int]]
) -> DataFrame:
    """Bounded single-task twin of :func:`exact_quantiles`: one
    np.sort of the (bounded) value column picks every ceil(q·n)-th
    smallest directly — the identical exact selection, zero
    refinement rounds. Pinned equal by test."""
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("q_num", T.LongType()),
            T.StructField("q_den", T.LongType()),
            T.StructField("n", T.LongType()),
            T.StructField("value", T.LongType()),
        ]
    )
    qlist = [(int(a), int(b)) for a, b in qs]

    def work(pdf):
        import numpy as np
        import pandas as pd

        v = np.sort(pdf["__v"].to_numpy(np.int64))
        n = len(v)
        rows = [
            (a, b, n, int(v[(n * a + b - 1) // b - 1]))
            for a, b in qlist
        ]
        return pd.DataFrame(rows, columns=["q_num", "q_den", "n", "value"])

    return single_task_map(
        df.select(F.col(value_col).cast("long").alias("__v")).filter(
            F.col("__v").isNotNull()
        ),
        work,
        schema,
    )


def exact_quantiles(
    df: DataFrame,
    value_col: str,
    qs: list[tuple[int, int]],
    buckets: int = 4096,
    n_rows_hint: int | None = None,
) -> DataFrame:
    """EXACT distributed quantiles in O(log_B(domain)) bounded passes —
    the histogram-refinement descendant of Munro & Paterson 1980
    ("Selection and sorting with limited storage": selection over a
    stream needs multiple passes under bounded memory), and the EXACT
    member of the quantile matrix beside dd_sketch (relative error),
    histogram_quantiles (fixed-range absolute) and sample_quantiles
    (bottom-k): no sort, no error bound — the true ceil(q·n)-th
    smallest element.

    Each quantile keeps a candidate interval [lo, hi] and the exact
    count of values below lo. Per round ONE job buckets every active
    interval's values into ``buckets`` integer cells (step =
    ceil(width/B), a python int — pure integer div, no overflow at any
    domain width) and the driver walks the ≤ |qs|·B cumulative to pick
    the cell holding the target rank; when step reaches 1 the cell IS
    the value. log_4096 of a 2^63 domain is 6 rounds; value domains
    like cents (~1e8) finish in 3. Every driver read is a bounded
    (quantile, bucket) count table — the codebook-training argmax
    pattern, never the data.

    The value column is localCheckpointed once (iterative plans get no
    ReusedExchange across rounds); on a parquet source at cluster
    scale the alternative is re-scanning with the BETWEEN filter
    pushed to row-group stats — later rounds then touch a vanishing
    fraction of the files. Returns (q_num, q_den, n, value).

    ``n_rows_hint`` under 2^20 routes to the bounded single-task twin
    (one np.sort — the refinement rounds are scheduling overhead at
    bench SFs; r15); the multi-pass ladder below is the above-bound
    shape."""
    from pyspark.sql import types as T

    if single_task_ok(n_rows_hint, 1 << 20):
        return _exact_quantiles_single_task(df, value_col, qs)

    v = (
        df.select(F.col(value_col).cast("long").alias("__v"))
        .filter(F.col("__v").isNotNull())
        .localCheckpoint()
    )
    head = v.agg(
        F.count(F.lit(1)).alias("n"),
        F.min("__v").alias("lo"),
        F.max("__v").alias("hi"),
    ).first()
    n, glo, ghi = head["n"], head["lo"], head["hi"]
    if n and (int(ghi) - int(glo)) >= (1 << 63) - 1:
        # (v - lo) must stay in int64: a span >= 2^63 (data touching
        # BOTH extremes of the long line) would overflow the bucketing
        # subtraction under ANSI mode — fail actionably up front
        raise ValueError(
            f"exact_quantiles: value span [{glo}, {ghi}] >= 2^63; "
            f"shift/scale the column below a full-int64 span first"
        )
    schema = T.StructType(
        [
            T.StructField("q_num", T.LongType()),
            T.StructField("q_den", T.LongType()),
            T.StructField("n", T.LongType()),
            T.StructField("value", T.LongType()),
        ]
    )
    if not n:
        return df.sparkSession.createDataFrame([], schema)
    # state per quantile: (rank r in 1..n, lo, hi, count below lo)
    state = {
        i: [(n * num + den - 1) // den, glo, ghi, 0]
        for i, (num, den) in enumerate(qs)
    }
    while True:
        active = {i: s for i, s in state.items() if s[1] < s[2]}
        if not active:
            break
        # ONE job for all active quantiles: tag rows with (qi, bucket)
        parts = []
        steps = {}
        for i, (r, lo, hi, below) in active.items():
            step = (hi - lo + buckets) // buckets  # ceil(width/B) >= 1
            steps[i] = step
            parts.append(
                v.filter(F.col("__v").between(lo, hi)).select(
                    F.lit(i).alias("qi"),
                    # integer div, not double-divide-then-cast: doubles
                    # misplace values past 2^53 (the dd_sketch lesson)
                    F.expr(
                        f"(__v - CAST({int(lo)} AS BIGINT)) "
                        f"div CAST({int(step)} AS BIGINT)"
                    ).alias("b"),
                )
            )
        u = parts[0]
        for p in parts[1:]:
            u = u.unionByName(p)
        counts = {
            (row["qi"], row["b"]): row["c"]
            for row in u.groupBy("qi", "b")
            .agg(F.count(F.lit(1)).alias("c"))
            .collect()
        }
        for i, (r, lo, hi, below) in active.items():
            step = steps[i]
            cum = below
            for b in range((hi - lo) // step + 1):
                c = counts.get((i, b), 0)
                if cum + c >= r:
                    state[i] = [
                        r,
                        lo + b * step,
                        min(hi, lo + (b + 1) * step - 1),
                        cum,
                    ]
                    break
                cum += c
    rows = [
        (int(qs[i][0]), int(qs[i][1]), int(n), int(s[1]))
        for i, s in state.items()
    ]
    return df.sparkSession.createDataFrame(rows, schema)


def mg_candidates(df: DataFrame, item_col: str, k: int) -> DataFrame:
    """Phase 1 of :func:`mg_exact_heavy_hitters`, exposed for the
    streaming-maintained monitor: per-partition Misra–Gries summaries
    (k python counters streamed over Arrow batches), candidate items
    only. The union of candidate sets over ANY partition of the stream
    — partitions of one batch or micro-batches over time — contains
    every item with global count > n/(k+1) (pigeonhole over the
    per-segment guarantee), so maintaining the candidate set by plain
    rollup union keeps the exact-rescan read-out layout- and
    path-independent. Returns one ``__it`` string column, distinct."""
    import pandas as pd

    kk = int(k)

    def mg(batches):
        acc: dict = {}
        for pdf in batches:
            for it, c in pdf["__it"].value_counts().items():
                acc[it] = acc.get(it, 0) + int(c)
            if len(acc) > kk:
                cut = sorted(acc.values(), reverse=True)[kk]
                acc = {i: c - cut for i, c in acc.items() if c > cut}
        yield pd.DataFrame({"__it": list(acc.keys())})

    items = df.select(F.col(item_col).cast("string").alias("__it"))
    return items.mapInPandas(mg, "__it string").distinct()


def mg_exact_heavy_hitters(
    df: DataFrame,
    item_col: str,
    num: int = 1,
    den: int = 50,
    k: int | None = None,
) -> DataFrame:
    """DETERMINISTIC exact heavy hitters in two passes: Misra–Gries
    1982 ("Finding repeated elements") per-partition summaries for
    guaranteed-recall candidates, then one exact rescan for perfect
    precision — the deterministic sibling of cm_sketch's Count-Min
    estimates (upper bounds) and the classic answer to "which items
    exceed share num/den of a 100 TB stream" without ever shuffling
    the full item domain.

    Guarantee: an MG summary with ``k`` counters over a partition of
    n_p items undercounts any item by at most n_p/(k+1) (Agarwal et
    al. 2012, "Mergeable summaries", give the batched merge used
    here: add counts, then subtract the (k+1)-th largest from all and
    drop non-positives). An item absent from EVERY partition summary
    therefore has global count ≤ Σ n_p/(k+1) = n/(k+1) ≤ n·num/den
    when k ≥ den/num − 1 (default k = den). The candidate union is a
    superset of the true hitters; the exact pass restores precision.

    Determinism: candidate SETS vary with partition layout, but the
    output — every item whose EXACT count satisfies cnt·den > n·num —
    does not (recall is guaranteed regardless of layout, and the
    integer filter is layout-free), so the operator sits under a plain
    GROUP BY/HAVING oracle.

    Scale shape: phase 1 streams Arrow batches through one python
    pass holding k counters (candidates ≤ partitions·k rows — bytes);
    phase 2 is a broadcast semi-join + count on candidates only plus
    one scalar total. Returns (item, cnt, n)."""
    kk = int(k if k is not None else den)
    if kk * num < den - num:
        raise ValueError(
            f"k={kk} too small for threshold {num}/{den}: need "
            f"k >= den/num - 1 for guaranteed recall"
        )

    items = df.select(F.col(item_col).cast("string").alias("__it"))
    cands = mg_candidates(df, item_col, kk)
    total = items.agg(F.count(F.lit(1)).alias("n"))
    return (
        items.join(F.broadcast(cands), "__it", "left_semi")
        .groupBy("__it")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .crossJoin(F.broadcast(total))
        .filter(F.col("cnt") * F.lit(int(den)) > F.col("n") * F.lit(int(num)))
        .select(F.col("__it").alias(item_col), "cnt", "n")
    )


# ---------------------------------------------------------------------------
# q-digest (Shrivastava et al. SenSys 2004, "Medians and beyond") — the
# MERGEABLE RANK-ERROR member completing the quantile matrix beside
# dd_sketch (relative error), exact_quantiles (bounded-pass exact),
# histogram_quantiles (fixed range) and sample_quantiles (bottom-k):
# counts live on dyadic intervals of a bounded integer universe
# [0, 2^levels); compression pushes any interval whose mass is <= t =
# max(1, n div k) up to its parent, so the summary holds O(k) nodes
# per level and any rank query errs by < levels*t. Everything is
# integer arithmetic on counts — a DuckDB oracle replicates the
# whole digest with `levels` chained CTEs, and the node table is
# SUM-mergeable (merge = per-node count sum + one recompression).
# ---------------------------------------------------------------------------


def qdigest_compress(
    rows: DataFrame,
    group_cols: list[str],
    k: int = 512,
    levels: int = 18,
) -> DataFrame:
    """Canonical bottom-up q-digest compression of a node-count table
    ``(group..., level, node, cnt)``: at each level, mass that has
    accumulated to more than t = max(1, n div k) is KEPT at that
    level; lighter mass moves to the parent node (node div 2) and is
    re-tested one level up, with any input counts already sitting at
    that level merged in first. The level-``levels`` residue is kept
    unconditionally (the root band). Mass is conserved, so per-group
    n is always the digest's own count sum and re-compression after a
    merge needs no side channel.

    Scale shape: the input is BOUNDED per group by the q-digest
    premise itself — at most 2^levels distinct level-0 nodes (the
    universe) plus ~k·levels digest nodes — so the whole ladder runs
    in ONE Arrow-grouped python task per group over the pre-aggregated
    node table (the kendall cube discipline: bounded-input per-key
    tasks are the fast plan; a Spark-side ladder of `levels` chained
    aggregates measured 13.7 s vs ~1 s for the same digest at sf0.01).
    The output node SET is a pure function of the node-count multiset
    — layout- and dict-order-independent, which is what the chained-
    CTE DuckDB oracle pins."""
    import pandas as pd

    gc = list(group_cols)
    kk, ll = int(k), int(levels)
    gtypes = ", ".join(
        f"{c} {rows.schema[c].dataType.simpleString()}" for c in gc
    )

    def ladder(pdf: pd.DataFrame) -> pd.DataFrame:
        by_level: dict = {}
        for lvl, node, cnt in zip(pdf["level"], pdf["node"], pdf["cnt"]):
            d = by_level.setdefault(int(lvl), {})
            d[int(node)] = d.get(int(node), 0) + int(cnt)
        t = max(1, int(pdf["cnt"].sum()) // kk)
        pending = by_level.get(0, {})
        out_l, out_n, out_c = [], [], []
        for lvl in range(ll):
            if lvl > 0:
                for node, cnt in by_level.get(lvl, {}).items():
                    pending[node] = pending.get(node, 0) + cnt
            nxt: dict = {}
            for node, cnt in pending.items():
                if cnt > t:
                    out_l.append(lvl)
                    out_n.append(node)
                    out_c.append(cnt)
                else:
                    nxt[node // 2] = nxt.get(node // 2, 0) + cnt
            pending = nxt
        # input rows already AT the root band (a merged digest's
        # level-`levels` residue) join the final pending mass
        for node, cnt in by_level.get(ll, {}).items():
            pending[node] = pending.get(node, 0) + cnt
        for node, cnt in pending.items():
            out_l.append(ll)
            out_n.append(node)
            out_c.append(cnt)
        res = pd.DataFrame({"level": out_l, "node": out_n, "cnt": out_c})
        for c in gc:
            res[c] = pdf[c].iloc[0]
        return res[gc + ["level", "node", "cnt"]]

    return rows.groupBy(*gc).applyInPandas(
        ladder, f"{gtypes}, level int, node long, cnt long"
    )


def qdigest_build(
    df: DataFrame,
    value_col: str,
    group_cols: list[str],
    k: int = 512,
    levels: int = 18,
) -> DataFrame:
    """Build a per-group q-digest over integer ``value_col`` ∈
    [0, 2^levels): level-0 support counts (one keyed aggregate over
    the data — everything after runs on shrinking count tables), then
    the canonical compression. Raises an actionable ValueError when a
    value falls outside the universe (the exact_quantiles guard
    pattern — ANSI would otherwise surface it as an opaque overflow
    levels deeper). Returns (group..., level, node, cnt)."""
    gc = list(group_cols)
    staged = df.select(*gc, F.col(value_col).cast("long").alias("__v"))
    lo, hi = staged.agg(F.min("__v"), F.max("__v")).first()
    if lo is None:
        return qdigest_compress(
            staged.select(
                *gc,
                F.lit(0).alias("level"),
                F.col("__v").alias("node"),
                F.lit(1).cast("long").alias("cnt"),
            ),
            gc,
            k=k,
            levels=levels,
        )
    if lo < 0 or hi >= (1 << int(levels)):
        raise ValueError(
            f"qdigest_build: values [{lo}, {hi}] outside the dyadic "
            f"universe [0, 2^{levels}); shift/scale the values or "
            f"raise `levels`"
        )
    support = staged.groupBy(*gc, F.col("__v").alias("node")).agg(
        F.count(F.lit(1)).alias("cnt")
    )
    return qdigest_compress(
        support.select(*gc, F.lit(0).alias("level"), "node", "cnt"),
        gc,
        k=k,
        levels=levels,
    )


def qdigest_quantiles(
    digest: DataFrame,
    group_cols: list[str],
    qs: list[tuple[int, int]],
    levels: int = 18,
) -> DataFrame:
    """Quantile read-out: nodes sort by right endpoint
    ``bucket = (node+1)·2^level − 1`` (ties: smaller span first — the
    canonical q-digest order), counts prefix-cumulate in that order,
    and the q-estimate is the first bucket whose cumulative reaches
    ceil(q·n) — guaranteed within ``levels · max(1, n div k)`` ranks
    of exact (the q-digest contract, property-pinned in tests). The
    window rides the BOUNDED digest (≤ ~k rows per level per group),
    never the data; n is the digest's own count sum (mass
    conservation). Returns (group..., q_num, q_den, n, est)."""
    from pyspark.sql import Window as W

    gc = list(group_cols)
    staged = digest.select(
        *gc,
        "level",
        "cnt",
        F.expr(f"(node + 1) * shiftleft(CAST(1 AS BIGINT), level) - 1").alias(
            "bucket"
        ),
    )
    w = (
        W.partitionBy(*gc)
        .orderBy("bucket", "level")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    wg = W.partitionBy(*gc) if gc else W.partitionBy()
    cum = staged.withColumn("__cum", F.sum("cnt").over(w)).withColumn(
        "__n", F.sum("cnt").over(wg)
    )
    out = None
    for num, den in qs:
        need = F.expr(f"(__n * {int(num)} + {int(den)} - 1) div {int(den)}")
        hit = (
            cum.filter(F.col("__cum") >= need)
            .groupBy(*gc)
            .agg(
                F.lit(int(num)).alias("q_num"),
                F.lit(int(den)).alias("q_den"),
                F.max("__n").alias("n"),
                F.min("bucket").alias("est"),
            )
        )
        out = hit if out is None else out.unionByName(hit)
    return out


def ss_summaries(df: DataFrame, item_col: str, k: int) -> DataFrame:
    """Per-partition SPACE-SAVING stream summaries (Metwally, Agrawal
    & El Abbadi, ICDT 2005 "Efficient computation of frequent and
    top-k elements in data streams") — the replacement-policy sibling
    of Misra–Gries: k counters; an untracked item EVICTS the minimum
    counter and inherits its value (count = min + c, error = min), so
    counters OVERESTIMATE (true ≤ count ≤ true + error) where MG
    undercounts. Batched over Arrow value_counts in deterministic
    (count DESC, item) order; the batched replacement is net +c, so
    Σ counters = n_p exactly — hence min ≤ n_p/k and any item absent
    from a partition's summary has in-partition count ≤ n_p/k (the
    same pigeonhole MG gives, via the dual mechanics; invariants
    property-pinned in tests). Emits (``__it``, est, err) per
    partition — ≤ partitions·k rows of bytes."""
    import pandas as pd

    kk = int(k)

    def ss(batches):
        counts: dict = {}
        errs: dict = {}
        for pdf in batches:
            vc = pdf["__it"].value_counts()
            for it, c in sorted(
                vc.items(), key=lambda kv: (-int(kv[1]), kv[0])
            ):
                c = int(c)
                if it in counts:
                    counts[it] += c
                elif len(counts) < kk:
                    counts[it] = c
                    errs[it] = 0
                else:
                    victim = min(counts.items(), key=lambda kv: (kv[1], kv[0]))
                    m = victim[1]
                    del counts[victim[0]]
                    errs.pop(victim[0], None)
                    counts[it] = m + c
                    errs[it] = m
        yield pd.DataFrame(
            {
                "__it": list(counts.keys()),
                "est": [int(counts[i]) for i in counts],
                "err": [int(errs.get(i, 0)) for i in counts],
            }
        )

    items = df.select(F.col(item_col).cast("string").alias("__it"))
    return items.mapInPandas(ss, "__it string, est long, err long")


def ss_exact_topk(
    df: DataFrame, item_col: str, k: int = 64, m: int = 10
) -> DataFrame:
    """DETERMINISTIC exact top-m heavy hitters ABOVE n/k via
    space-saving candidates. SEMANTIC RESTRICTION: this is "top-m
    among items with count > n/k", NOT an unconditional top-m — on a
    corpus where the m-th most frequent item has share ≤ 1/k it
    returns fewer than m rows (the recall guarantee only covers the
    > n/k region; below it the summary may have evicted the item).
    Raise ``k`` if you need a deeper exact top-m on a flatter
    distribution. Same two-pass discipline as
    mg_exact_heavy_hitters' threshold form, different summary
    mechanics and TOP-K semantics: phase 1 unions per-partition
    space-saving
    summaries (guaranteed recall of every item with global count >
    n/k — see ss_summaries); phase 2 exact-recounts candidates via a
    broadcast semi-join, keeps only the PROVABLY-recalled region
    (cnt·k > n — layout-independence: a non-candidate can never
    qualify), and ranks the ≤ k−1 surviving rows by (cnt DESC, item).
    The final window rides a bounded aggregate (at most k−1 items can
    exceed n/k), the documented sample_quantiles shape. Returns
    (item, cnt, n, rk ≤ m)."""
    items = df.select(F.col(item_col).cast("string").alias("__it"))
    cands = ss_summaries(df, item_col, k).select("__it").distinct()
    total = items.agg(F.count(F.lit(1)).alias("n"))
    exact = (
        items.join(F.broadcast(cands), "__it", "left_semi")
        .groupBy("__it")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .crossJoin(F.broadcast(total))
        .filter(F.col("cnt") * F.lit(int(k)) > F.col("n"))
    )
    from pyspark.sql import Window as W

    rk = F.row_number().over(
        W.orderBy(F.col("cnt").desc(), F.col("__it"))
    )
    return (
        exact.withColumn("rk", rk.cast("long"))
        .filter(F.col("rk") <= int(m))
        .select(F.col("__it").alias(item_col), "cnt", "n", "rk")
    )


TDIGEST_DELTA = 32
# embedded via repr on BOTH engines (the link_rank float-literal
# lesson): delta / (2*pi) as the one shared double constant
TDIGEST_COEF = TDIGEST_DELTA / (2.0 * 3.141592653589793)


def tdigest_sorted(
    df: DataFrame, key_col: str, value_col: str, delta: int = TDIGEST_DELTA
) -> DataFrame:
    """DETERMINISTIC t-digest (Dunning & Ertl 2019, "Computing
    extremely accurate quantiles using t-digests") — the
    centroid-merge member completing the quantile matrix (q-digest:
    dyadic rank error; DDSketch: relative error; Munro-Paterson:
    exact; bottom-k/histogram: sampling/fixed-range). The general
    streaming MergingDigest is MERGE-ORDER-DEPENDENT (the reason the
    repo skips HLL++-style empirical variants); this is the paper's
    most accurate construction instead: ONE greedy left-to-right
    clustering of the fully SORTED (value, count) stream under the
    k1 scale function k(q) = (δ/2π)·asin(2q−1) — cluster accepts the
    next value while k(q_right) − k(q_left) ≤ 1 — which pins the
    merge order to the total order of the data and nothing else.

    Cross-engine determinism: cluster weights/sums are exact BIGINTs;
    every boundary test evaluates coef·asin(2·(W/n)−1) with W/n a
    correctly-rounded double of exact integers, coef a repr-pinned
    literal and asin the shared libm (the jaro parity contract) — so
    a DuckDB list_reduce fold replays the construction bit-for-bit.

    Scale shape: one scan-stage (key, value) count groupBy, then ONE
    Arrow task per key over its bounded distinct-value support (the
    q-digest ladder discipline — sequential greedy per group, never
    a driver loop). Returns (key, idx, w, s, mean) — idx 1-based in
    value order, mean = s/w as exact-operand double; Σw = n and
    cluster means are non-decreasing by construction."""
    import math

    import pandas as pd

    coef = float(TDIGEST_COEF) * (float(delta) / float(TDIGEST_DELTA))
    kname = key_col

    counts = df.groupBy(
        F.col(key_col), F.col(value_col).cast("long").alias("__v")
    ).agg(F.count(F.lit(1)).alias("__c"))

    def build(pdf):
        pdf = pdf.sort_values("__v")
        vals = pdf["__v"].tolist()
        cnts = pdf["__c"].tolist()
        n = int(sum(cnts))
        key = pdf[kname].iloc[0]
        W0, w, s = 0, 0, 0
        out = []
        for v, c in zip(vals, cnts):
            v, c = int(v), int(c)
            if w == 0 or (
                coef * math.asin(2.0 * ((W0 + w + c) / n) - 1.0)
                - coef * math.asin(2.0 * (W0 / n) - 1.0)
                <= 1.0
            ):
                w += c
                s += v * c
            else:
                out.append((w, s))
                W0 += w
                w, s = c, v * c
        out.append((w, s))
        return pd.DataFrame(
            {
                kname: [key] * len(out),
                "idx": range(1, len(out) + 1),
                "w": [o[0] for o in out],
                "s": [o[1] for o in out],
            }
        )

    ktype = dict(counts.dtypes)[kname]
    cents = counts.groupBy(kname).applyInPandas(
        build, f"{kname} {ktype}, idx long, w long, s long"
    )
    return cents.select(
        kname,
        "idx",
        "w",
        "s",
        (F.col("s").cast("double") / F.col("w").cast("double")).alias("mean"),
    )


def _hll_pair_algebra_single_task(regs: DataFrame, p: int) -> DataFrame:
    """Bounded single-task replay of hll_pair_algebra — see its
    docstring. Every operand mirrors the relational path bit for bit:
    registers are exact ints; alpha_mm and the linear-counting LUT are
    the same repr'd literals; rounding replicates Spark's Round
    (exact-binary BigDecimal, HALF_UP)."""
    m = 1 << p
    alpha_mm = float(repr((0.7213 / (1.0 + 1.079 / m)) * m * m))
    lut = [float(v) for v in _lc_lut(p)]

    def algebra(pdf):
        from decimal import ROUND_HALF_UP, Decimal

        import pandas as pd

        def rnd(x: float, digits: int) -> float:
            # Spark Round(double, d): new BigDecimal(double) — the
            # EXACT binary value — setScale(d, HALF_UP), back to double
            return float(
                Decimal(x).quantize(
                    Decimal(1).scaleb(-digits), rounding=ROUND_HALF_UP
                )
            )

        by_g: dict[str, dict[int, int]] = {}
        for g, b, r in zip(pdf["g"], pdf["bucket"], pdf["rho"]):
            d = by_g.setdefault(g, {})
            b, r = int(b), int(r)
            if r > d.get(b, -1):
                d[b] = r

        def est(d: dict[int, int]) -> float:
            n_set = len(d)
            rmax = max(d.values())
            s_num = sum(1 << (rmax - r) for r in d.values())
            zeros = m - n_set
            denom = float(zeros) + float(s_num) / float(1 << rmax)
            raw = alpha_mm / denom
            if zeros == 0 or raw > 2.5 * m:
                e = raw
            else:
                e = float(m) * lut[zeros - 1]
            return rnd(e, 4)

        e1 = {g: est(d) for g, d in by_g.items()}
        out = []
        # pair order == the relational a < b on binary UTF-8 strings
        gs = sorted(by_g, key=lambda s: s.encode())
        for i, a in enumerate(gs):
            for b in gs[i + 1 :]:
                du = dict(by_g[a])
                for bk, r in by_g[b].items():
                    if r > du.get(bk, -1):
                        du[bk] = r
                eu = est(du)
                inter = rnd(e1[a] + e1[b] - eu, 4)
                out.append(
                    (a, b, e1[a], e1[b], eu, inter, rnd(inter / eu, 6))
                )
        return pd.DataFrame(
            out,
            columns=[
                "a",
                "b",
                "est_a",
                "est_b",
                "est_union",
                "est_inter",
                "est_jaccard",
            ],
        )

    return single_task_map(
        regs,
        algebra,
        "a string, b string, est_a double, est_b double, "
        "est_union double, est_inter double, est_jaccard double",
    )


def hll_pair_algebra(
    regs: DataFrame, p: int = 8, single_task_bound: int = 262_144
) -> DataFrame:
    """HLL set-algebra over a per-group register table (g, bucket,
    rho) — the estimate path of the hll_set_ops query, factored out
    (the ks_drift readout discipline) so the streaming-maintained
    register store drives the IDENTICAL production pipeline: per
    group pair (a < b) the union sketch is a register max-merge
    (≤ 2^p rows per side — sketch algebra, never a corpus scan), and
    inclusion–exclusion gives est_inter = est_a + est_b − est_union
    with est_jaccard = est_inter/est_union. All arithmetic operates
    on the round(·,4) estimates both engines derive identically.
    Registers are MAX-mergeable, so any union of partial register
    tables (micro-batches, shards, epochs) yields the same output —
    the maintained twin is exact, not approximate.

    r14 optimization: a register table is SKETCH state — ≤ groups·2^p
    rows by construction — yet the relational pair-algebra plan costs
    ~15 tiny exchanges (two hll_estimate subplans, the pair explode,
    the union merge, three joins), each a full scheduling round trip.
    When the table fits ``single_task_bound`` rows (and groups are
    strings), the whole algebra runs in ONE Arrow task replaying the
    IDENTICAL arithmetic: exact int64 s_num sums, the same repr'd
    alpha/LUT literals, the same fixed IEEE op chain, and Spark's
    HALF_UP double rounding replicated via exact-binary Decimal
    (java BigDecimal(double) semantics). Measured 2.0 s → 0.2 s at
    sf0.1; the relational path remains for unbounded group counts
    (pinned equal by test)."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import StringType

    if (
        single_task_bound > 0
        and isinstance(regs.schema["g"].dataType, StringType)
        and single_task_ok(regs.count(), single_task_bound)
    ):
        return _hll_pair_algebra_single_task(regs, p)

    pairs = (
        regs.select("g")
        .distinct()
        .agg(F.collect_set("g").alias("gs"))
        .select(F.explode("gs").alias("a"), "gs")
        .select("a", F.explode("gs").alias("b"))
        .filter(F.col("a") < F.col("b"))
    )
    est1 = hll_estimate(regs, ["g"], p=p).select("g", "est")
    ru = (
        pairs.join(regs.withColumnRenamed("g", "a"), "a")
        .select("a", "b", "bucket", "rho")
        .unionByName(
            pairs.join(regs.withColumnRenamed("g", "b"), "b").select(
                "a", "b", "bucket", "rho"
            )
        )
        .groupBy("a", "b", "bucket")
        .agg(F.max("rho").alias("rho"))
    )
    estu = hll_estimate(ru, ["a", "b"], p=p).select(
        "a", "b", F.col("est").alias("est_union")
    )
    ea = est1.select(F.col("g").alias("a"), F.col("est").alias("est_a"))
    eb = est1.select(F.col("g").alias("b"), F.col("est").alias("est_b"))
    inter = F.round(F.col("est_a") + F.col("est_b") - F.col("est_union"), 4)
    return (
        estu.join(ea, "a")
        .join(eb, "b")
        .select(
            "a",
            "b",
            "est_a",
            "est_b",
            "est_union",
            inter.alias("est_inter"),
            F.round(inter / F.col("est_union"), 6).alias("est_jaccard"),
        )
    )
