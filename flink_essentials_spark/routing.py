"""Routing gate, override and runner for bounded single-task twins.

~25 query families (28 ``single_task_ok`` gates in 6 modules) route
small inputs to bounded single-task Arrow twins (the r14 optimization
discipline: a data-derived bound gates the twin, the distributed
member stays the code path above the bound, and a twin-equality test
runs both forms). At the test SFs every such
family takes the twin, so the DISTRIBUTED ladders — the 100 TB code
paths — are only exercised by the equality tests on synthetic inputs
and their plans drop out of the bench entirely (r14 verdict: 8-core
total == 32-core total).

``FES_FORCE_DISTRIBUTED=1`` re-routes EVERY gated family to its
distributed member regardless of input size. It exists for
measurement only:

- ``FES_FORCE_DISTRIBUTED=1 python bench.py --only <subset>`` times the
  distributed ladders at bench scale (recorded per round in
  OPTIMIZATION_r*.md);
- the plan sweep captures the distributed plans under the override and
  pins their exchange budgets (tests/test_plans.py), so a distributed-
  path regression (a new Exchange, a lost broadcast) is visible again.

Results are identical either way — that is exactly what the
twin-equality tests prove — so the override can never change what a
query computes, only which physical form computes it.

A twin is its kernel run by ``single_task_map(df, kernel, schema)``:
the helper pins the input to one task, drains the Arrow batches and
hands the kernel one pandas frame, so no twin handles batches itself.
The one exception, the ``banded_rank`` mapInArrow twin, is named in the
helper's docstring; tests/test_correctness_guard.py fails any other
single-task Arrow map.
"""

from __future__ import annotations

import os
from typing import Callable

from pyspark.sql import DataFrame


def force_distributed() -> bool:
    """True when FES_FORCE_DISTRIBUTED is set (non-empty, not "0")."""
    return os.environ.get("FES_FORCE_DISTRIBUTED", "") not in ("", "0")


def single_task_ok(n: int | None, bound: int) -> bool:
    """Central gate for bounded single-task twins: the input size ``n``
    (rows / edges / points / docs — footer-derived or counted on an
    already-materialized frame) must be a known positive number within
    ``bound``, and the FES_FORCE_DISTRIBUTED override must be off."""
    return (
        not force_distributed()
        and n is not None
        and 0 < n <= bound
    )


def single_task_map(df: DataFrame, fn: Callable, schema) -> DataFrame:
    """Run ``fn`` ONCE over all of ``df`` in one task: ``df.coalesce(1)
    .mapInPandas`` drains every Arrow batch, concatenates the non-empty
    ones into one pandas frame and calls ``fn(frame)``; its frame is the
    output (``schema``). An empty input never calls ``fn``, and ``fn``
    returning None or an empty frame yields no rows.

    mapInPandas hands nullable integers to pandas as float64, so a kernel
    that must keep nullable int64 exact cannot use this helper: the
    ``banded_rank`` twin (timeseries._banded_rank_single_task) stays a
    mapInArrow for that reason."""

    def run(batches):
        import pandas as pd

        parts = [p for p in batches if len(p)]
        if not parts:
            return
        out = fn(pd.concat(parts, ignore_index=True))
        if out is not None and len(out):
            yield out

    return df.coalesce(1).mapInPandas(run, schema)
