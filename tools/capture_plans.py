"""Capture .explain("formatted") output for named registry queries.

Usage:
    python tools/capture_plans.py <tag> name1 [name2 ...]

Writes plans/<tag>/<name>.txt for each query (tag names the change and
side, e.g. r16_before / r16_after).
The query function is CALLED to build the DataFrame (some functions run
driver-side setup jobs — bounds scans, replay-file writes — that is part
of their real cost but does not affect the final plan dump). Streaming
queries (run_to_memory-based) execute fully just to build their sink
readout; their interesting cost is the micro-batch replay, not the final
batch plan, so prefer capturing batch queries here.
"""
from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from flink_essentials_spark.queries.catalog import ALL_QUERIES
from flink_essentials_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
PLANS_DIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "plans"
)


def main() -> None:
    if len(sys.argv) < 3:
        sys.exit(__doc__)
    tag = sys.argv[1]
    names = sys.argv[2:]
    unknown = [n for n in names if n not in ALL_QUERIES]
    if unknown:
        sys.exit(f"unknown queries: {unknown}")
    out_dir = os.path.join(PLANS_DIR, tag)
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark("capture_plans")
    jvm = spark._jvm
    mode = jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    for name in names:
        df = ALL_QUERIES[name].fn(spark, SF_DIR)
        txt = df._jdf.queryExecution().explainString(mode)
        path = os.path.join(out_dir, f"{name}.txt")
        with open(path, "w") as f:
            f.write(txt)
        n_ex = txt.count("Exchange")
        print(f"{name}: {len(txt)} chars, {n_ex} Exchange -> {path}")
    spark.stop()


if __name__ == "__main__":
    main()
