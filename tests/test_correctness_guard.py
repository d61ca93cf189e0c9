"""The vacuous-oracle guard in tools/check_correctness.py must RED-FLAG
a query whose oracle returns 0 rows — empty-equals-empty hashes green on
the driver, so the local gate is the only place the bug class can be
caught mechanically (r4 verdict #1)."""

from __future__ import annotations

import sys

import pytest
from pyspark.sql import functions as F

sys.path.insert(0, "/root/repo/tools")

import check_correctness as cc  # noqa: E402


class _FakeEntry:
    """Minimal __spark_entry__ stand-in: one query whose Spark result
    and DuckDB oracle are both EMPTY with identical schema — the exact
    shape that used to pass silently."""

    @staticmethod
    def queries():
        return {
            "empty_q": lambda spark, sf_dir: spark.range(0).select(
                F.col("id").alias("x")
            )
        }

    @staticmethod
    def oracle_sql():
        return {"empty_q": "SELECT CAST(1 AS BIGINT) AS x WHERE 1 = 0"}


def test_guard_flags_synthetic_zero_row_oracle(spark, monkeypatch, capsys):
    monkeypatch.setattr(cc, "entrymod", _FakeEntry)
    monkeypatch.setattr(cc, "get_spark", lambda *a, **k: spark)
    monkeypatch.setattr(spark, "stop", lambda: None)
    monkeypatch.setattr(
        sys, "argv", ["check_correctness.py", "--only", "empty_q"]
    )
    rc = cc.main()
    out = capsys.readouterr().out
    assert rc == 1
    assert "VACUOUS" in out


def test_guard_allowlist_lets_intended_empties_pass(
    spark, monkeypatch, capsys
):
    monkeypatch.setattr(cc, "entrymod", _FakeEntry)
    monkeypatch.setattr(cc, "get_spark", lambda *a, **k: spark)
    monkeypatch.setattr(spark, "stop", lambda: None)
    monkeypatch.setattr(cc, "ZERO_ROW_ALLOWED", frozenset({"empty_q"}))
    monkeypatch.setattr(
        sys, "argv", ["check_correctness.py", "--only", "empty_q"]
    )
    rc = cc.main()
    out = capsys.readouterr().out
    assert rc == 0
    assert "PASS empty_q" in out


def test_registry_has_no_duplicate_names():
    """A duplicate registry name silently SHADOWS the earlier entry in
    ALL_QUERIES (dict by name — latest wins), so the earlier row stops
    being checked while still looking registered (the r12 textrank
    near-miss: a re-implementation landed beside the r6 row and only
    the per-gate count mismatch exposed it). Mechanized: _REGISTRY
    names must be unique."""
    import collections

    from flink_essentials_spark.queries.catalog import ALL_QUERIES, _REGISTRY

    dupes = [
        n
        for n, c in collections.Counter(q.name for q in _REGISTRY).items()
        if c > 1
    ]
    assert not dupes, dupes
    assert len(ALL_QUERIES) == len(_REGISTRY)


# Single-task Arrow maps outside routing.single_task_map, by (file,
# enclosing function) -> reason. mapInPandas hands a nullable bigint to
# pandas as float64, so the one kernel that must keep nullable int64
# exact stays a mapInArrow.
SINGLE_TASK_MAP_ALLOWED = {
    ("functions/timeseries.py", "_banded_rank_single_task"):
        "ranks nullable int64 sort columns exactly (mapInArrow)",
}


def _single_task_arrow_maps(src: str):
    """(line, enclosing function) of every coalesce(1)/repartition(1)
    followed by mapInPandas/mapInArrow in ``src``, across line breaks."""
    import ast
    import re

    pat = re.compile(
        r"\.(?:coalesce|repartition)\(\s*1\s*\)\s*\.\s*mapIn(?:Pandas|Arrow)\b"
    )
    defs = [
        n for n in ast.walk(ast.parse(src))
        if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))
    ]
    out = []
    for m in pat.finditer(src):
        line = src.count("\n", 0, m.start()) + 1
        inner = min(
            (d for d in defs if d.lineno <= line <= d.end_lineno),
            key=lambda d: d.end_lineno - d.lineno,
            default=None,
        )
        out.append((line, inner.name if inner else None))
    return out


def test_single_task_maps_go_through_the_helper():
    """Every bounded single-task twin is ``routing.single_task_map(df,
    kernel, schema)`` — 28 twins once hand-copied the same Arrow drain
    (drop empty batches, return if none are left, concatenate). A
    ``coalesce(1)``/``repartition(1)`` followed by ``mapInPandas`` or
    ``mapInArrow`` anywhere in the package outside routing.py fails,
    except the allowlisted kernels."""
    from pathlib import Path

    assert _single_task_arrow_maps(
        "def f(df):\n    return (df.coalesce(1)\n        .mapInPandas(g, s))\n"
    ) == [(2, "f")]
    assert not _single_task_arrow_maps("y = df.coalesce(2).mapInPandas(g, s)\n")

    pkg = Path(__file__).resolve().parents[1] / "flink_essentials_spark"
    found = set()
    for path in sorted(pkg.rglob("*.py")):
        rel = path.relative_to(pkg).as_posix()
        if rel == "routing.py":
            continue
        for line, fn in _single_task_arrow_maps(path.read_text()):
            found.add((rel, fn))
            assert (rel, fn) in SINGLE_TASK_MAP_ALLOWED, (
                f"{rel}:{line} ({fn}) hand-rolls a single-task Arrow map; "
                "use routing.single_task_map(df, kernel, schema)"
            )
    # a stale allowlist row would hide nothing and rot silently
    assert found == set(SINGLE_TASK_MAP_ALLOWED), found
