"""Measure every graded row and every ladder, and choose the batch items.

    python3 perfbench/survey.py            # about five minutes on 4 cores

Runs the first 50 ``ALL_QUERIES`` rows (the graded head set, routed as
the engine decides) and every family of ``bench.py``'s
``DISTRIBUTED_SUBSET`` under ``FES_FORCE_DISTRIBUTED=1`` in one session
over the benchmark's tables, one cold pass then ``WARM_PASSES`` warm ones,
with the wrappers of ``trace.py`` installed so each item's calls into
the engine's layers are recorded. It writes every item's times and
layers to ``.perfbench/survey.json`` and prints the items ``batch.py``
should run under ``select``'s rule, with the share of head-50 and
ladder time they cover.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time
from collections import Counter

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import batch, datagen, harness, run, trace  # noqa: E402

# Replay-streaming rows (the ``catalog`` query module) are left out of
# the choice: either one alone takes longer than the whole cover of the
# other layers, and the ``stream`` workload measures the state layer
# they run on.
EXCLUDED_QUERY_MODULES = ("catalog",)
WARM_PASSES = 3


def layers(label: str, calls: dict, query_module: str) -> set[str]:
    """The layers an item reaches: traced modules, the twin (a routing
    call that chose the single-task form), its query module or, for a
    ladder, the distributed form."""
    out = {k for k in calls if k.startswith(("functions.", "operators.")) or k == "checkpoint"}
    if calls.get("routing.true"):
        out.add("twin")
    out.add("ladder" if label.endswith("@ladder") else f"queries.{query_module}")
    return out


def select(survey: dict) -> list[str]:
    """Greedy weighted set cover: repeatedly take the item that reaches
    the most not-yet-covered layers per second of warm time, then drop
    any item whose layers the others already cover (dearest first)."""
    cands = {k: v for k, v in survey.items()
             if v["query_module"] not in EXCLUDED_QUERY_MODULES and not v["error"]}
    cost = {k: v["warm_s"] for k, v in cands.items()}
    reach = {k: set(v["layers"]) for k, v in cands.items()}
    need = set().union(*reach.values())
    chosen: list[str] = []
    covered: set[str] = set()
    while covered != need:
        k = max((k for k in cands if k not in chosen),
                key=lambda k: len(reach[k] - covered) / cost[k])
        chosen.append(k)
        covered |= reach[k]
    for k in sorted(chosen, key=cost.get, reverse=True):
        others = set().union(*(reach[o] for o in chosen if o != k))
        if reach[k] <= others:
            chosen.remove(k)
    return chosen


def shares(survey: dict, chosen: list[str]) -> dict[str, float]:
    def warm(keys):
        return sum(survey[k]["warm_s"] for k in keys)

    head = [k for k in survey if not k.endswith("@ladder")]
    ladders = [k for k in survey if k.endswith("@ladder")]
    return {
        "head50_warm_s": warm(head),
        "ladders_warm_s": warm(ladders),
        "chosen_warm_s": warm(chosen),
        "head50_share": warm(k for k in chosen if k in head) / warm(head),
        "ladders_share": warm(k for k in chosen if k in ladders) / warm(ladders),
        "uncovered_layers": sorted(
            set().union(*(survey[k]["layers"] for k in survey))
            - set().union(*(survey[k]["layers"] for k in chosen))
        ),
    }


def measure() -> dict:
    from flink_essentials_spark import session, tables
    from flink_essentials_spark.queries.catalog import ALL_QUERIES

    from bench import DISTRIBUTED_SUBSET

    rd = harness.RunDir()
    try:
        harness.configure_env(rd)
        data_dir = datagen.ensure_tables(os.path.join(harness.WORK, "data"), run.SF)
        tracer = trace.Tracer()
        tracer.install()
        spark = session.get_spark("perfbench-survey",
                                  extra_conf=harness.spark_conf(rd, event_log=False))
        tables.load_tables(spark, data_dir)
        tracer.attach(spark)
        items = ([batch.Item(n, False) for n in list(ALL_QUERIES)[:50]]
                 + [batch.Item(n, True) for n in DISTRIBUTED_SUBSET])
        times: dict[str, list[float]] = {it.label: [] for it in items}
        calls: dict[str, Counter] = {}
        errors: dict[str, str | None] = {}
        for p in range(WARM_PASSES + 1):
            t0 = time.perf_counter()
            for it in items:
                before = Counter(tracer.calls)
                r = batch.run_item(spark, it, data_dir, collect=False, tracer=tracer, group=f"s{p}")
                times[it.label].append(r.wall_s)
                calls[it.label] = tracer.calls - before
                errors[it.label] = r.error
            print(f"pass {p}: {time.perf_counter() - t0:.1f} s", file=sys.stderr, flush=True)
        tracer.detach()
    finally:
        run._stop_jvm()
        rd.close()
    out = {}
    for it in items:
        module = ALL_QUERIES[it.name].fn.__module__.rsplit(".", 1)[1]
        out[it.label] = {
            "cold_s": times[it.label][0],
            "warm_s": statistics.median(times[it.label][1:]),
            "query_module": module,
            "layers": sorted(layers(it.label, calls[it.label], module)),
            "error": errors[it.label],
        }
    return out


def main() -> int:
    steal0 = harness.steal_seconds()
    survey = measure()
    chosen = select(survey)
    out = {"environment": harness.environment_record(steal0), "items": survey,
           "chosen": chosen, **shares(survey, chosen)}
    os.makedirs(harness.WORK, exist_ok=True)
    with open(os.path.join(harness.WORK, "survey.json"), "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
    for k, v in sorted(survey.items(), key=lambda kv: -kv[1]["warm_s"]):
        mark = "*" if k in chosen else " "
        print(f"{mark} {k:32s} cold {v['cold_s']:6.2f} s  warm {v['warm_s']:6.2f} s  "
              f"{' '.join(v['layers'])}{'  ERROR ' + v['error'] if v['error'] else ''}")
    print(json.dumps({k: out[k] for k in out if k not in ("items", "environment")}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
