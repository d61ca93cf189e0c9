"""The time-ordered file replay (catalog._ordered_replay) behind the
interval-join, join-rollup, session-window and capped-session rows:
its micro-batch shape; and the same results, there and in the rows
that split the event stream in halves, when the events table carries
no footer statistics (the Spark bounds fallback)."""

from __future__ import annotations

import time

import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest

from flink_essentials_spark.queries.catalog import ALL_QUERIES

SF_DIR = "/root/testdata/sf0.001"
BASE_MS = 1704067200000  # capped_sessions' compression origin


def _rows(df):
    return sorted(map(tuple, df.collect()))


def _input_batches(rec, n: int, timeout: float = 60.0) -> list[int]:
    """numInputRows of the batches that read input (no-data batches
    dropped), waiting for the asynchronous progress events."""
    deadline = time.time() + timeout
    while time.time() < deadline:
        got = [b["numInputRows"] for b in rec.batches() if b["numInputRows"] > 0]
        if len(got) >= n:
            break
        time.sleep(0.1)
    return got


def _bucket_sizes(sf_dir: str, capped: bool) -> tuple[int, int]:
    """Rows per range bucket, from the events file: the first bucket is
    the first half of [lo, hi + 1) in epoch ms (capped_sessions: its
    user_id % 4 == 0 sample on the 60x-compressed clock)."""
    ev = pq.read_table(f"{sf_dir}/events.parquet", columns=["ts", "user_id"])
    ms = [v // 1000 for v in pc.cast(ev["ts"], "int64").to_pylist()]
    lo, hi = min(ms), max(ms)
    if capped:
        lo, hi = (BASE_MS + (m - BASE_MS) // 60 for m in (lo, hi))
        users = ev["user_id"].to_pylist()
        ms = [BASE_MS + (m - BASE_MS) // 60 for m, u in zip(ms, users) if u % 4 == 0]
    first = sum((m - lo) * 2 < hi - lo + 1 for m in ms)
    return first, len(ms) - first


# row -> (file_replay sources, sentinel rows per file)
REPLAY_ROWS = {
    "streaming_outer_join": (2, 2),
    "streaming_full_outer_join": (2, 2),
    "streaming_join_rollup": (2, 2),
    "streaming_session_windows": (1, 1),
    "streaming_capped_sessions": (1, 1),
}


@pytest.mark.parametrize("name", sorted(REPLAY_ROWS))
def test_replay_reads_two_buckets_then_two_sentinels(spark, recorder, name):
    """The batches that read input are the two range buckets in time
    order, then the two sentinel files; every source reads each file
    once (the join rows' sentinel file holds one row per side). No
    input-free batch follows (``run_to_memory(no_data_batches=False)``),
    and the session's own setting is left as it was."""
    sources, sentinel_rows = REPLAY_ROWS[name]
    ALL_QUERIES[name].fn(spark, SF_DIR).collect()
    b0, b1 = _bucket_sizes(SF_DIR, capped=name == "streaming_capped_sessions")
    assert b0 > 0 and b1 > 0
    expected = [sources * b0, sources * b1] + [sources * sentinel_rows] * 2
    assert _input_batches(recorder, 4) == expected
    time.sleep(1)  # room for a late fifth batch's progress event
    assert len(recorder.batches()) == 4
    assert spark.conf.get("spark.sql.streaming.noDataMicroBatches.enabled") == "true"


# every row that takes the events ts bounds: the replay rows and the
# stream-half splits
BOUNDS_ROWS = [
    "streaming_session_windows",
    "streaming_capped_sessions",
    "psi_drift",
    "welch_drift",
    "ks_drift",
    "chi2_independence",
    "wavelet_synopsis",
    "mann_whitney",
    "cm_join_size",
]


@pytest.mark.parametrize("name", BOUNDS_ROWS)
def test_rows_without_footer_stats_are_unchanged(spark, stripped_sf, name):
    """With the events footer statistics stripped the bounds come from
    the Spark aggregate and every row emits the same row set."""
    from flink_essentials_spark.tables import ts_bounds_ms

    assert ts_bounds_ms(stripped_sf) is None
    fn = ALL_QUERIES[name].fn
    assert _rows(fn(spark, stripped_sf)) == _rows(fn(spark, SF_DIR))
