"""Dataflow-parity queries: every SURVEY §2 operator, oracle-checkable.

Each query runs a reference-repo operator semantic over the driver's
``events``/``documents`` tables through the engine's operator layer,
with an exact ANSI-SQL oracle. Batch frames are used so DuckDB can
oracle the same computation; the streaming forms of the same operators
are exercised in tests/ via file replay (SURVEY §5 strategy) and one
representative streaming query lives in catalog.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flink_essentials_spark.operators import joins, transform, triggers, windows
from flink_essentials_spark.operators.aggregate import rolling_agg, word_count
from flink_essentials_spark.queries.util import dec, ms
from flink_essentials_spark.tables import load_tables

# --- T1/T2/T3: map → flatMap → filter (BuiltIn.scala:53-75 shape) ----------


def q_map_flatmap_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x→3x, duplicate each, keep evens — the reference's first pipeline
    (fromElements→map→flatMap→filter, BuiltIn.scala:53-75) over event ids."""
    t = load_tables(spark, sf_dir)
    tripled = t["events"].select((F.col("event_id") * 3).alias("v"))
    duped = transform.flat_map_array(
        tripled, F.array(F.col("v"), F.col("v")), "v"
    )
    return transform.filter_rows(duped, (F.col("v") % 2) == 0)


Q_MAP_FLATMAP_FILTER_SQL = """
SELECT v FROM (
  SELECT unnest([event_id * 3, event_id * 3]) AS v FROM events
) WHERE v % 2 = 0
"""


def q_fizzbuzz(spark: SparkSession, sf_dir: str) -> DataFrame:
    """fizzbuzz map+filter (BuiltIn.scala:128-177) over event ids."""
    t = load_tables(spark, sf_dir)
    fb = transform.fizzbuzz(t["events"].select(F.col("event_id").alias("n")))
    return fb.filter(F.col("output") == "FizzBuzz")


Q_FIZZBUZZ_SQL = """
SELECT n, 'FizzBuzz' AS output
FROM (SELECT event_id AS n FROM events)
WHERE n % 15 = 0
"""


def q_explode_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1→N flatMap (RichFunctions.scala:182-194 quantity→sku expansion):
    emit one row per linenumber unit, with its 1-based position."""
    t = load_tables(spark, sf_dir)
    li = t["lineitem"].select("l_orderkey", "l_partkey", "l_linenumber")
    return li.select(
        "l_orderkey",
        "l_partkey",
        F.posexplode(F.array_repeat(F.lit(1), F.col("l_linenumber"))).alias(
            "pos", "one"
        ),
    ).select(
        "l_orderkey", "l_partkey", (F.col("pos") + 1).alias("unit_idx")
    )


Q_EXPLODE_QUANTITY_SQL = """
SELECT l_orderkey, l_partkey,
       unnest(generate_series(1, l_linenumber)) AS unit_idx
FROM lineitem
"""


def q_wordcount(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EP2 word count over documents.text (tokenize → groupBy → count)."""
    t = load_tables(spark, sf_dir)
    return word_count(t["documents"], "text")


Q_WORDCOUNT_SQL = r"""
SELECT word, COUNT(*) AS cnt
FROM (
  SELECT unnest(string_split_regex(lower(text), '\W+')) AS word FROM documents
)
WHERE word <> ''
GROUP BY word
"""

# --- W1-W5: windows over events ---------------------------------------------


def q_tumbling_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Non-keyed tumbling windows (W1): 10-minute event count + exact
    value sum. windowAll ≠ parallelism 1 here: partial aggs fan in."""
    t = load_tables(spark, sf_dir)
    out = windows.window_agg(
        t["events"],
        windows.tumbling("ts", "10 minutes"),
        [],
        F.count(F.lit(1)).alias("cnt"),
        F.sum(dec("value")).cast("double").alias("sum_value"),
    )
    return out.select(
        ms("window_start").alias("window_start_ms"), "cnt", "sum_value"
    )


Q_TUMBLING_WINDOWS_SQL = """
SELECT (epoch_ms(ts) // 600000) * 600000 AS window_start_ms,
       COUNT(*) AS cnt,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
FROM events
GROUP BY 1
"""


def q_keyed_tumbling_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyed tumbling windows (W2): per event_type per hour."""
    t = load_tables(spark, sf_dir)
    out = windows.window_agg(
        t["events"],
        windows.tumbling("ts", "1 hour"),
        ["event_type"],
        F.count(F.lit(1)).alias("cnt"),
    )
    return out.select(
        ms("window_start").alias("window_start_ms"), "event_type", "cnt"
    )


Q_KEYED_TUMBLING_WINDOWS_SQL = """
SELECT (epoch_ms(ts) // 3600000) * 3600000 AS window_start_ms,
       event_type, COUNT(*) AS cnt
FROM events
GROUP BY 1, 2
"""


def q_sliding_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding windows (W3): 2-hour windows sliding 1 hour; every event
    lands in exactly 2 windows."""
    t = load_tables(spark, sf_dir)
    out = windows.window_agg(
        t["events"],
        windows.sliding("ts", "2 hours", "1 hour"),
        [],
        F.count(F.lit(1)).alias("cnt"),
    )
    return out.select(ms("window_start").alias("window_start_ms"), "cnt")


Q_SLIDING_WINDOWS_SQL = """
SELECT ws AS window_start_ms, COUNT(*) AS cnt
FROM (
  SELECT unnest(generate_series(
           ((epoch_ms(ts) - 7200000) // 3600000 + 1) * 3600000,
           (epoch_ms(ts) // 3600000) * 3600000,
           3600000)) AS ws
  FROM events
)
GROUP BY ws
"""


def q_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows (W4): per-user sessions with 30-minute gap.

    Spark session bounds: [min(ts), max(ts)+gap); merge while
    next_ts < prev_ts + gap.
    """
    t = load_tables(spark, sf_dir)
    out = windows.window_agg(
        t["events"],
        windows.session("ts", "30 minutes"),
        ["user_id"],
        F.count(F.lit(1)).alias("cnt"),
    )
    return out.select(
        "user_id",
        ms("window_start").alias("session_start_ms"),
        ms("window_end").alias("session_end_ms"),
        "cnt",
    )


Q_SESSION_WINDOWS_SQL = """
WITH marked AS (
  SELECT user_id, ts,
         CASE WHEN ts >= COALESCE(
                 lag(ts) OVER (PARTITION BY user_id ORDER BY ts),
                 TIMESTAMP '1970-01-01') + INTERVAL 30 MINUTE
              THEN 1 ELSE 0 END AS brk
  FROM events
), numbered AS (
  SELECT user_id, ts,
         SUM(brk) OVER (PARTITION BY user_id ORDER BY ts
                        ROWS UNBOUNDED PRECEDING) AS sid
  FROM marked
)
SELECT user_id,
       epoch_ms(MIN(ts)) AS session_start_ms,
       epoch_ms(MAX(ts)) + 1800000 AS session_end_ms,
       COUNT(*) AS cnt
FROM numbered
GROUP BY user_id, sid
"""


def q_global_count_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GlobalWindows + CountTrigger (W5) batch form: per event_type,
    consecutive 25-element buckets in event_id order."""
    t = load_tables(spark, sf_dir)
    return windows.global_count_windows(
        t["events"], "event_id", 25, keys=["event_type"]
    )


Q_GLOBAL_COUNT_WINDOWS_SQL = """
SELECT event_type, (rn - 1) // 25 AS window_seq, COUNT(*) AS cnt
FROM (
  SELECT event_type,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY event_id) AS rn
  FROM events
)
GROUP BY event_type, window_seq
"""

def q_global_count_windows_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Non-keyed GlobalWindows + CountTrigger (W5): one total order over
    ALL events — exercises the distributed range-partitioned ranking
    path (no Exchange SinglePartition on the data; plan-audited in
    tests/test_plans.py)."""
    t = load_tables(spark, sf_dir)
    return windows.global_count_windows(t["events"], "event_id", 1000)


Q_GLOBAL_COUNT_WINDOWS_ALL_SQL = """
SELECT (rn - 1) // 1000 AS window_seq, COUNT(*) AS cnt
FROM (SELECT ROW_NUMBER() OVER (ORDER BY event_id) AS rn FROM events)
GROUP BY window_seq
"""


# --- A2/A3: rolling keyed aggregation ---------------------------------------


def q_rolling_user_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling per-key reduce emission history (BuiltIn.scala:296-304,
    word-count sum :62-63): running count+sum per user in event order."""
    t = load_tables(spark, sf_dir)
    out = rolling_agg(
        t["events"],
        keys=["user_id"],
        order_by=["event_id"],
        running_cnt=F.count(F.lit(1)),
        running_sum_dec=F.sum(dec("value")),
    )
    return out.select(
        "event_id",
        "user_id",
        "running_cnt",
        F.col("running_sum_dec").cast("double").alias("running_sum"),
    )


Q_ROLLING_USER_COUNTS_SQL = """
SELECT event_id, user_id,
       COUNT(*) OVER w AS running_cnt,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE) AS running_sum
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY event_id ROWS UNBOUNDED PRECEDING)
"""

# --- J1-J5: multi-stream -----------------------------------------------------


def q_union_streams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """union (J1): split by predicate, transform each side, re-union.

    Also covers CoMap (J5): per-branch map into a common type.
    """
    t = load_tables(spark, sf_dir)
    ev = t["events"]
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", F.lit("c").alias("tag"), (dec("value") * 2).cast("double").alias("v")
    )
    errors = ev.filter(F.col("event_type") == "error").select(
        "event_id", F.lit("e").alias("tag"), (-dec("value")).cast("double").alias("v")
    )
    return joins.union_streams(clicks, errors)


Q_UNION_STREAMS_SQL = """
SELECT event_id, 'c' AS tag,
       CAST(CAST(value AS DECIMAL(18,2)) * 2 AS DOUBLE) AS v
FROM events WHERE event_type = 'click'
UNION ALL
SELECT event_id, 'e' AS tag,
       CAST(-CAST(value AS DECIMAL(18,2)) AS DOUBLE) AS v
FROM events WHERE event_type = 'error'
"""


def q_window_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window join (J2): clicks ⋈ purchases, same user, same 1-hour
    tumbling window — equi-join on (user, window bucket), one shuffle
    per side, no θ-predicate blow-up."""
    t = load_tables(spark, sf_dir)
    ev = t["events"]
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"), F.col("user_id").alias("cu"), "ts"
    )
    buys = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"), F.col("user_id").alias("user_id"), "ts"
    )
    out = joins.window_join(clicks, buys, "cu", "user_id", "ts", "ts", "1 hour")
    return out.select(
        ms("window_start").alias("window_start_ms"),
        "user_id",
        "click_id",
        "purchase_id",
    )


Q_WINDOW_JOIN_SQL = """
SELECT (epoch_ms(a.ts) // 3600000) * 3600000 AS window_start_ms,
       b.user_id AS user_id,
       a.event_id AS click_id,
       b.event_id AS purchase_id
FROM events a JOIN events b
  ON a.user_id = b.user_id
 AND (epoch_ms(a.ts) // 3600000) = (epoch_ms(b.ts) // 3600000)
WHERE a.event_type = 'click' AND b.event_type = 'purchase'
"""


def q_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval join (J3): purchases within (−10 min, +10 min) of a
    signup by the same user, bounds exclusive (the reference's
    exclusivity toggles, HandlingMultipleStreams.scala:178-180)."""
    t = load_tables(spark, sf_dir)
    ev = t["events"]
    signups = ev.filter(F.col("event_type") == "signup").select(
        F.col("event_id").alias("signup_id"), F.col("user_id").alias("su"),
        F.col("ts").alias("signup_ts"),
    )
    buys = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"), "user_id",
        F.col("ts").alias("purchase_ts"),
    )
    out = joins.interval_join(
        buys, signups, "user_id", "su", "purchase_ts", "signup_ts",
        "10 minutes", "10 minutes",
        lower_exclusive=True, upper_exclusive=True,
    )
    return out.select(
        "user_id", "signup_id", "purchase_id",
        ms("signup_ts").alias("signup_ts_ms"),
        ms("purchase_ts").alias("purchase_ts_ms"),
    )


Q_INTERVAL_JOIN_SQL = """
SELECT b.user_id AS user_id, a.event_id AS signup_id, b.event_id AS purchase_id,
       epoch_ms(a.ts) AS signup_ts_ms, epoch_ms(b.ts) AS purchase_ts_ms
FROM events a JOIN events b
  ON a.user_id = b.user_id
 AND b.ts > a.ts - INTERVAL 10 MINUTE
 AND b.ts < a.ts + INTERVAL 10 MINUTE
WHERE a.event_type = 'signup' AND b.event_type = 'purchase'
"""


def q_connect_tagged(spark: SparkSession, sf_dir: str) -> DataFrame:
    """connect (J4): heterogeneous schemas tagged+unified into one frame
    (the columnar sum-type encoding); per-tag counts as the shared-state
    CoProcess counter analog (HandlingMultipleStreams.scala:249-286)."""
    t = load_tables(spark, sf_dir)
    ev = t["events"]
    views = ev.filter(F.col("event_type") == "view").select(
        "event_id", "user_id", "value"
    )
    signups = ev.filter(F.col("event_type") == "signup").select(
        "event_id", "user_id", "props"
    )
    tagged = joins.connect(views, signups, left_tag="view", right_tag="signup")
    return tagged.groupBy("src").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.count("value").alias("n_value"),
        F.count("props").alias("n_props"),
    )


Q_CONNECT_TAGGED_SQL = """
SELECT src, COUNT(*) AS cnt, COUNT(value) AS n_value, COUNT(props) AS n_props
FROM (
  SELECT 'view' AS src, value, NULL AS props FROM events WHERE event_type = 'view'
  UNION ALL
  SELECT 'signup' AS src, NULL AS value, props FROM events WHERE event_type = 'signup'
)
GROUP BY src
"""

# --- ST1-ST6: keyed state analogs -------------------------------------------


def q_map_state_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MapState per-key dict of counters (KeyedState.scala:225-312 and
    the :386-470 exercise): count per (event_type, user)."""
    t = load_tables(spark, sf_dir)
    return t["events"].groupBy("event_type", "user_id").agg(
        F.count(F.lit(1)).alias("cnt")
    )


Q_MAP_STATE_COUNTS_SQL = """
SELECT event_type, user_id, COUNT(*) AS cnt FROM events GROUP BY 1, 2
"""


def q_first_window_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time timer semantics (KeyedState.scala:472-528): per user,
    count events within 1 hour of their FIRST event, emitted 'when the
    timer fires'. Batch analog: join against min(ts)."""
    t = load_tables(spark, sf_dir)
    ev = t["events"]
    firsts = ev.groupBy("user_id").agg(F.min("ts").alias("first_ts"))
    return (
        ev.join(firsts, "user_id")
        .filter(F.col("ts") < F.col("first_ts") + F.expr("INTERVAL 1 HOUR"))
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            ms(F.min("first_ts")).alias("first_ts_ms"),
        )
    )


Q_FIRST_WINDOW_COUNTS_SQL = """
WITH firsts AS (
  SELECT user_id, MIN(ts) AS first_ts FROM events GROUP BY user_id
)
SELECT e.user_id AS user_id, COUNT(*) AS cnt, epoch_ms(MIN(f.first_ts)) AS first_ts_ms
FROM events e JOIN firsts f ON e.user_id = f.user_id
WHERE e.ts < f.first_ts + INTERVAL 1 HOUR
GROUP BY e.user_id
"""

# --- W-T1/W-T2/W-E1: trigger & evictor firing histories ----------------------


def q_count_trigger_fires(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CountTrigger.of(50) cumulative firing history per event_type
    (W-T1): fires at 50,100,... with the cumulative buffer size —
    computed by the actual stateful operator in batch-replay mode."""
    t = load_tables(spark, sf_dir)
    ev = t["events"].select("event_type", "event_id")
    return triggers.count_trigger(ev, ["event_type"], 50, order_by="event_id")


Q_COUNT_TRIGGER_FIRES_SQL = """
SELECT event_type AS key,
       unnest(generate_series(1, n // 50)) AS fire_seq,
       unnest(generate_series(1, n // 50)) * 50 AS cnt_in_fire,
       unnest(generate_series(1, n // 50)) * 50 AS total_seen
FROM (SELECT event_type, COUNT(*) AS n FROM events GROUP BY event_type)
"""


def q_purging_trigger_fires(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PurgingTrigger(CountTrigger(50)) (W-T2): fire-and-purge — every
    firing sees exactly 50 fresh elements."""
    t = load_tables(spark, sf_dir)
    ev = t["events"].select("event_type", "event_id")
    return triggers.count_trigger(
        ev, ["event_type"], 50, purge=True, order_by="event_id"
    )


Q_PURGING_TRIGGER_FIRES_SQL = """
SELECT event_type AS key,
       unnest(generate_series(1, n // 50)) AS fire_seq,
       50 AS cnt_in_fire,
       unnest(generate_series(1, n // 50)) * 50 AS total_seen
FROM (SELECT event_type, COUNT(*) AS n FROM events GROUP BY event_type)
"""


def q_count_evictor_fires(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CountTrigger(50) + CountEvictor(20) (W-E1): on each firing keep
    only the last 20 buffered elements."""
    t = load_tables(spark, sf_dir)
    ev = t["events"].select("event_type", "event_id")
    return triggers.count_evictor(ev, ["event_type"], 50, 20, order_by="event_id")


Q_COUNT_EVICTOR_FIRES_SQL = """
SELECT event_type AS key,
       unnest(generate_series(1, n // 50)) AS fire_seq,
       20 AS cnt_in_fire,
       unnest(generate_series(1, n // 50)) * 50 AS total_seen
FROM (SELECT event_type, COUNT(*) AS n FROM events GROUP BY event_type)
"""


def q_count_evictor_after_fires(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CountTrigger(50) + CountEvictor(20) in the evictAfter placement
    (W-E1 variant, TriggersAndEvictors.scala:242-290): the window
    function sees the FULL buffer — min(70, k·50) elements — and
    eviction trims state only for the next firing."""
    t = load_tables(spark, sf_dir)
    ev = t["events"].select("event_type", "event_id")
    return triggers.count_evictor(
        ev, ["event_type"], 50, 20, order_by="event_id", run_before=False
    )


Q_COUNT_EVICTOR_AFTER_FIRES_SQL = """
SELECT event_type AS key,
       fire_seq,
       least(70, fire_seq * 50) AS cnt_in_fire,
       fire_seq * 50 AS total_seen
FROM (SELECT event_type,
             unnest(generate_series(1, COUNT(*) // 50)) AS fire_seq
      FROM events GROUP BY event_type)
"""


def q_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 events by value per event_type — the reference's driver-side
    maxBy (Windows.scala:389-391) done IN-ENGINE (deterministic
    tiebreak), ordered as the oracle states it (value DESC: NaN first,
    nulls last). timeseries.grouped_topk keeps at most 3 rows per type
    per input partition before the shuffle, so no task sorts a whole
    low-cardinality type's history."""
    from flink_essentials_spark.functions.timeseries import grouped_topk

    t = load_tables(spark, sf_dir)
    order = [F.col("value").desc(), F.col("event_id").asc_nulls_last()]
    return grouped_topk(
        t["events"].select("event_type", "event_id", "value"),
        ["event_type"],
        order,
        k=3,
        rank_col="rk",
    )


Q_TOPK_PER_GROUP_SQL = """
SELECT event_type, event_id, value, rk
FROM (
  SELECT event_type, event_id, value,
         ROW_NUMBER() OVER (PARTITION BY event_type
                            ORDER BY value DESC, event_id) AS rk
  FROM events
)
WHERE rk <= 3
"""


def q_pivot_user_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot: per-user event-type counts as columns (fixed pivot values
    → no extra pass; single shuffle)."""
    t = load_tables(spark, sf_dir)
    types = ["click", "view", "purchase", "signup", "error"]
    return (
        t["events"]
        .groupBy("user_id")
        .pivot("event_type", types)
        .agg(F.count(F.lit(1)))
        .na.fill(0, types)
    )


Q_PIVOT_USER_ACTIVITY_SQL = """
SELECT user_id,
       COUNT(*) FILTER (event_type = 'click')    AS click,
       COUNT(*) FILTER (event_type = 'view')     AS view,
       COUNT(*) FILTER (event_type = 'purchase') AS purchase,
       COUNT(*) FILTER (event_type = 'signup')   AS signup,
       COUNT(*) FILTER (event_type = 'error')    AS error
FROM events
GROUP BY user_id
"""


def q_as_of_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (training-data staple Spark lacks natively): each
    event joined to the latest order snapshot of the same customer at
    or before the event time. Implemented as tag+union+window-carry
    (operators/joins.as_of_join) — one shuffle, no inequality-join
    blow-up; the oracle is DuckDB's native ASOF JOIN."""
    t = load_tables(spark, sf_dir)
    # unique (custkey, ts) snapshots so the as-of match is deterministic
    snap = (
        t["orders"]
        .groupBy(
            F.col("o_custkey"),
            # parquet stores the date as TIMESTAMP_NTZ; normalize so the
            # carried payload column is a plain session-TZ timestamp
            F.col("o_orderdate").cast("timestamp").alias("asof_order_ts"),
        )
        .agg(F.max("o_totalprice").alias("asof_totalprice"))
    )
    joined = joins.as_of_join(
        t["events"].select("event_id", "user_id", "ts"),
        snap,
        "user_id", "o_custkey", "ts", "asof_order_ts",
        ["asof_order_ts", "asof_totalprice"],
    )
    return joined.select(
        "event_id",
        "user_id",
        ms("ts").alias("ts_ms"),
        ms("asof_order_ts").alias("asof_order_ts_ms"),
        "asof_totalprice",
    )


Q_AS_OF_JOIN_SQL = """
WITH snap AS (
  SELECT o_custkey, o_orderdate AS asof_order_ts,
         max(o_totalprice) AS asof_totalprice
  FROM orders GROUP BY 1, 2
)
SELECT e.event_id, e.user_id,
       epoch_ms(e.ts) AS ts_ms,
       epoch_ms(s.asof_order_ts) AS asof_order_ts_ms,
       s.asof_totalprice
FROM events e ASOF JOIN snap s
  ON e.user_id = s.o_custkey AND s.asof_order_ts <= e.ts
"""


def q_as_of_join_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FORWARD as-of join: each order joined to the customer's NEXT
    activity event at or after the order date (lead-time attribution:
    "when did this customer next show up"). Same union+window-carry
    plan over a descending time order (operators/joins.as_of_join
    direction="forward"); the oracle is DuckDB's native forward ASOF
    (ON left.ts <= right.ts).

    Orders are the LEFT side because the testdata's events (2024) all
    postdate its orders (1995-2001): events→next-order matched nothing
    and the r4 oracle passed vacuously on 0 rows (r4 verdict #1). This
    orientation guarantees a match for every order whose customer has
    events, exercising the forward carry on ~10% of orders."""
    t = load_tables(spark, sf_dir)
    snap = (
        t["events"]
        .groupBy("user_id", F.col("ts").alias("next_event_ts"))
        .agg(F.max("value").alias("next_value"))
    )
    joined = joins.as_of_join(
        t["orders"].select(
            "o_orderkey",
            "o_custkey",
            F.col("o_orderdate").cast("timestamp").alias("o_ts"),
        ),
        snap,
        "o_custkey", "user_id", "o_ts", "next_event_ts",
        ["next_event_ts", "next_value"],
        direction="forward",
    )
    return joined.select(
        "o_orderkey",
        "o_custkey",
        ms("o_ts").alias("o_ts_ms"),
        ms("next_event_ts").alias("next_event_ts_ms"),
        "next_value",
    )


Q_AS_OF_JOIN_FORWARD_SQL = """
WITH snap AS (
  SELECT user_id, ts AS next_event_ts, max(value) AS next_value
  FROM events GROUP BY 1, 2
)
SELECT o.o_orderkey, o.o_custkey,
       epoch_ms(o.o_orderdate) AS o_ts_ms,
       epoch_ms(s.next_event_ts) AS next_event_ts_ms,
       s.next_value
FROM orders o ASOF JOIN snap s
  ON o.o_custkey = s.user_id AND o.o_orderdate <= s.next_event_ts
"""


def q_value_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated quantiles per event type (Spark `percentile`
    ≡ DuckDB `quantile_cont`, both type-7). The approximate scale path
    (`percentile_approx` / KLL) has no cross-engine oracle; this exact
    form is the correctness anchor for it."""
    t = load_tables(spark, sf_dir)
    pct = F.percentile("value", F.array(F.lit(0.25), F.lit(0.5), F.lit(0.75)))
    return (
        t["events"]
        .groupBy("event_type")
        .agg(
            F.round(pct[0], 6).alias("p25"),
            F.round(pct[1], 6).alias("p50"),
            F.round(pct[2], 6).alias("p75"),
        )
    )


Q_VALUE_QUANTILES_SQL = """
SELECT event_type,
       round(quantile_cont(value, 0.25), 6) AS p25,
       round(quantile_cont(value, 0.50), 6) AS p50,
       round(quantile_cont(value, 0.75), 6) AS p75
FROM events
GROUP BY event_type
"""


def q_time_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style hierarchical time rollup: one pass producing
    day, (day, hour), and grand-total aggregates via ROLLUP — the
    continuous-aggregate ladder of a time-series store, computed with
    Spark's native grouping sets (single shuffle, partial aggs)."""
    t = load_tables(spark, sf_dir)
    ev = t["events"].select(
        F.date_trunc("day", F.col("ts")).alias("d"),
        F.date_trunc("hour", F.col("ts")).alias("h"),
        dec("value").alias("v"),
    )
    return (
        ev.rollup("d", "h")
        .agg(F.count(F.lit(1)).alias("cnt"), F.sum("v").cast("double").alias("sum_value"))
        .select(ms("d").alias("day_ms"), ms("h").alias("hour_ms"), "cnt", "sum_value")
    )


Q_TIME_ROLLUP_SQL = """
SELECT epoch_ms(date_trunc('day', ts)) AS day_ms,
       epoch_ms(date_trunc('hour', ts)) AS hour_ms,
       COUNT(*) AS cnt,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
FROM events
GROUP BY ROLLUP(date_trunc('day', ts), date_trunc('hour', ts))
"""


def q_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured metadata columns: parse the JSON ``props`` field
    JVM-side (from_json with an explicit schema — schema-on-read like
    every training-data metadata column) and aggregate on the extracted
    value. Stays in codegen; the JSON parse pushes no worse than a
    string scan."""
    t = load_tables(spark, sf_dir)
    parsed = t["events"].select(
        "event_type",
        F.from_json(F.col("props"), "k bigint").getField("k").alias("k"),
    )
    return (
        parsed.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("k").alias("sum_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
        )
    )


# DuckDB SUM(BIGINT) yields HUGEINT (int128); cast back to BIGINT so the
# driver's value hash sees the same physical type Spark emits.
Q_JSON_PROPS_SQL = """
SELECT event_type, COUNT(*) AS n,
       CAST(SUM(json_extract(props, '$.k')::BIGINT) AS BIGINT) AS sum_k,
       MIN(json_extract(props, '$.k')::BIGINT) AS min_k,
       MAX(json_extract(props, '$.k')::BIGINT) AS max_k
FROM events
GROUP BY event_type
"""


def q_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set operations beyond union: users who viewed AND clicked
    (INTERSECT) minus users who ever errored (EXCEPT) — both are
    hash-shuffle distincts in Spark, same as a groupBy."""
    t = load_tables(spark, sf_dir)
    ev = t["events"]
    users = lambda et: ev.filter(
        (F.col("event_type") == et) & (F.col("value") > 97)
    ).select("user_id")
    both = users("view").intersect(users("click"))
    return both.exceptAll(users("error")).distinct()


Q_SET_OPS_SQL = """
SELECT DISTINCT user_id FROM (
  (SELECT user_id FROM events WHERE event_type = 'view' AND value > 97
   INTERSECT
   SELECT user_id FROM events WHERE event_type = 'click' AND value > 97)
  EXCEPT
  SELECT user_id FROM events WHERE event_type = 'error' AND value > 97
)
"""


def q_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Signup→purchase conversion funnel — the canonical product-
    analytics op: per user, the FIRST signup instant, the FIRST
    purchase at-or-after it, and the conversion latency. One aggregate
    per side (min over filtered events — map-side partials), then the
    tiny per-user tables join on the key. Timestamps leave as epoch-ms
    (util.py parity convention)."""
    from flink_essentials_spark.queries.util import ms

    t = load_tables(spark, sf_dir)
    ev = t["events"]
    first_signup = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("signup_ts"))
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("p_ts")
    )
    first_conv = (
        first_signup.join(purchases, "user_id")
        .filter(F.col("p_ts") >= F.col("signup_ts"))
        .groupBy("user_id", "signup_ts")
        .agg(F.min("p_ts").alias("purchase_ts"))
    )
    return (
        first_signup.join(first_conv.select("user_id", "purchase_ts"), "user_id", "left")
        .select(
            "user_id",
            ms("signup_ts").alias("signup_ms"),
            ms("purchase_ts").alias("purchase_ms"),
            (ms("purchase_ts") - ms("signup_ts")).alias("latency_ms"),
            F.col("purchase_ts").isNotNull().alias("converted"),
        )
    )


Q_FUNNEL_SQL = """
WITH first_signup AS (
  SELECT user_id, MIN(ts) AS signup_ts
  FROM events WHERE event_type = 'signup' GROUP BY user_id
), first_conv AS (
  SELECT s.user_id, s.signup_ts, MIN(e.ts) AS purchase_ts
  FROM first_signup s JOIN events e ON e.user_id = s.user_id
  WHERE e.event_type = 'purchase' AND e.ts >= s.signup_ts
  GROUP BY s.user_id, s.signup_ts
)
SELECT s.user_id,
       epoch_ms(s.signup_ts) AS signup_ms,
       epoch_ms(c.purchase_ts) AS purchase_ms,
       epoch_ms(c.purchase_ts) - epoch_ms(s.signup_ts) AS latency_ms,
       c.purchase_ts IS NOT NULL AS converted
FROM first_signup s LEFT JOIN first_conv c ON s.user_id = c.user_id
"""


def q_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Behavior-sequence mining: per-user event-type transition counts
    (the Markov matrix funnels and recommender features start from).
    One lag() window per user over time order — ties broken by
    event_id so the sequence is total-ordered and engine-identical."""
    t = load_tables(spark, sf_dir)
    from pyspark.sql import Window as W

    w = W.partitionBy("user_id").orderBy(
        F.unix_millis("ts"), "event_id"
    )
    seq = t["events"].select(
        "user_id",
        "event_id",
        "ts",
        F.lag("event_type").over(w).alias("prev_type"),
        F.col("event_type").alias("next_type"),
    )
    return (
        seq.filter(F.col("prev_type").isNotNull())
        .groupBy("prev_type", "next_type")
        .agg(F.count(F.lit(1)).alias("n_transitions"))
    )


Q_EVENT_TRANSITIONS_SQL = """
WITH seq AS (
  SELECT user_id,
         lag(event_type) OVER (
           PARTITION BY user_id ORDER BY epoch_ms(ts), event_id
         ) AS prev_type,
         event_type AS next_type
  FROM events
)
SELECT prev_type, next_type, CAST(COUNT(*) AS BIGINT) AS n_transitions
FROM seq WHERE prev_type IS NOT NULL
GROUP BY prev_type, next_type
"""


def q_interarrival_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user interarrival-gap statistics (engagement cadence): gaps
    from one lag() pass (integer ms), then count / exact mean (integer
    sum ÷ count, one division) / exact median (type-7) / max per user
    — aggregated once more into a per-event-type cadence profile? No:
    per-user rows keep the window partitioned and the oracle direct."""
    t = load_tables(spark, sf_dir)
    from pyspark.sql import Window as W

    w = W.partitionBy("user_id").orderBy(F.unix_millis("ts"), "event_id")
    gaps = t["events"].select(
        "user_id",
        (
            F.unix_millis("ts")
            - F.lag(F.unix_millis("ts")).over(w)
        ).alias("gap_ms"),
    )
    return (
        gaps.filter(F.col("gap_ms").isNotNull())
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_gaps"),
            (F.sum("gap_ms").cast("double") / F.count(F.lit(1))).alias(
                "mean_gap_ms"
            ),
            F.percentile("gap_ms", F.lit(0.5)).alias("median_gap_ms"),
            F.max("gap_ms").alias("max_gap_ms"),
        )
    )


Q_INTERARRIVAL_STATS_SQL = """
WITH gaps AS (
  SELECT user_id,
         epoch_ms(ts) - lag(epoch_ms(ts)) OVER (
           PARTITION BY user_id ORDER BY epoch_ms(ts), event_id
         ) AS gap_ms
  FROM events
)
SELECT user_id,
       CAST(COUNT(*) AS BIGINT) AS n_gaps,
       CAST(SUM(gap_ms) AS DOUBLE) / COUNT(*) AS mean_gap_ms,
       quantile_cont(gap_ms, 0.5) AS median_gap_ms,
       MAX(gap_ms) AS max_gap_ms
FROM gaps WHERE gap_ms IS NOT NULL
GROUP BY user_id
"""


def q_null_safe_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-key join semantics end-to-end: a nullable bucket key
    (every 97th event's key is NULL — dirty-dimension reality) joined
    to a dimension that includes a NULL row, with Spark's eqNullSafe
    (<=>) so NULL matches NULL instead of dropping — then counts per
    dimension label. The oracle uses DuckDB's IS NOT DISTINCT FROM,
    the ANSI spelling of the same operator; a plain equi-join would
    silently lose the 103 NULL-key events, which the 'unknown' row
    makes visible."""
    t = load_tables(spark, sf_dir)
    ev = t["events"].select(
        F.when(F.col("event_id") % 97 == 0, None)
        .otherwise(F.col("user_id") % 20)
        .cast("long")
        .alias("k")
    )
    dim_rows = [(i, f"bucket-{i}") for i in range(20)] + [(None, "unknown")]
    dim = spark.createDataFrame(dim_rows, "k long, label string")
    return (
        ev.join(F.broadcast(dim), ev["k"].eqNullSafe(dim["k"]))
        .groupBy("label")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )


Q_NULL_SAFE_JOIN_SQL = """
WITH ev AS (
  SELECT CASE WHEN event_id % 97 = 0 THEN NULL
              ELSE user_id % 20 END AS k
  FROM events
), dim AS (
  SELECT unnest(range(20)) AS k, 'bucket-' || unnest(range(20)) AS label
  UNION ALL SELECT NULL, 'unknown'
)
SELECT d.label, CAST(COUNT(*) AS BIGINT) AS n_events
FROM ev e JOIN dim d ON e.k IS NOT DISTINCT FROM d.k
GROUP BY d.label
"""


def q_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS beyond ROLLUP/CUBE: the (event_type),
    (user bucket), and grand-total aggregates in ONE pass — disjoint
    dimension slices a rollup cannot express — with grouping_id
    disambiguating NULL-as-slice from NULL-as-value. Single shuffle,
    Catalyst expands the sets."""
    t = load_tables(spark, sf_dir)
    ev = t["events"].select(
        "event_type", (F.col("user_id") % 10).alias("user_bucket"), "event_id"
    )
    return (
        ev.groupingSets(
            [["event_type"], ["user_bucket"], []],
            "event_type",
            "user_bucket",
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.grouping_id().alias("gid"),
        )
    )


Q_GROUPING_SETS_SQL = """
SELECT event_type, user_bucket, CAST(COUNT(*) AS BIGINT) AS n,
       CAST(GROUPING(event_type, user_bucket) AS BIGINT) AS gid
FROM (SELECT event_type, user_id % 10 AS user_bucket FROM events)
GROUP BY GROUPING SETS ((event_type), (user_bucket), ())
"""


def q_weekly_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Week-over-week order-volume growth: integer 7-day epoch buckets
    (calendar-free), then lag() over the AGGREGATED series — the
    unpartitioned window is over weeks, not rows, so it is a few dozen
    rows at any SF (the scale-safe place for a global window). Growth
    divides two exact integers."""
    t = load_tables(spark, sf_dir)
    from pyspark.sql import Window as W

    wk = (F.unix_millis(F.col("o_orderdate").cast("timestamp")) / F.lit(604800000)).cast("long")
    weekly = t["orders"].groupBy(wk.alias("wk")).agg(
        F.count(F.lit(1)).alias("n_orders")
    )
    w = W.orderBy("wk")
    out = weekly.select(
        "wk",
        "n_orders",
        F.lag("n_orders").over(w).alias("prev_orders"),
    )
    return out.select(
        "wk",
        "n_orders",
        "prev_orders",
        (
            (F.col("n_orders") - F.col("prev_orders")).cast("double")
            / F.col("prev_orders")
        ).alias("wow_growth"),
    )


Q_WEEKLY_GROWTH_SQL = """
WITH weekly AS (
  SELECT epoch_ms(o_orderdate) // 604800000 AS wk,
         CAST(COUNT(*) AS BIGINT) AS n_orders
  FROM orders GROUP BY 1
)
SELECT wk, n_orders,
       lag(n_orders) OVER (ORDER BY wk) AS prev_orders,
       CAST(n_orders - lag(n_orders) OVER (ORDER BY wk) AS DOUBLE)
         / lag(n_orders) OVER (ORDER BY wk) AS wow_growth
FROM weekly
"""


def q_type_day_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (event_type, integer epoch-day): all four aggregation
    granularities — per (type, day), per type, per day, grand total —
    in one pass with grouping_id disambiguation; completes the
    grouping-variant set (ROLLUP in time_rollup/parts_rollup, explicit
    GROUPING SETS in grouping_sets)."""
    t = load_tables(spark, sf_dir)
    ev = t["events"].select(
        "event_type",
        (F.unix_millis("ts") / F.lit(86400000)).cast("long").alias("day_bucket"),
    )
    return ev.cube("event_type", "day_bucket").agg(
        F.count(F.lit(1)).alias("n"),
        F.grouping_id().alias("gid"),
    )


Q_TYPE_DAY_CUBE_SQL = """
SELECT event_type, day_bucket, CAST(COUNT(*) AS BIGINT) AS n,
       CAST(GROUPING(event_type, day_bucket) AS BIGINT) AS gid
FROM (SELECT event_type, epoch_ms(ts) // 86400000 AS day_bucket FROM events)
GROUP BY CUBE (event_type, day_bucket)
"""
