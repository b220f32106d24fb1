#!/usr/bin/env python3
"""Measure registry queries as query_mix runs them and write its pool.

    python3 perfbench/costs.py

Run from the repository root.  The queries are split into fixed lists of
16 and each list runs as one query_mix benchmark process: a fresh session,
the warm-up pass at sf0.01, then one forced run at sf0.1.  That sf0.1 time
is the reference cost the sampler balances its samples with, so it is
measured in the conditions the samples run in.  The
pool leaves out queries that raised or failed their oracle check, queries
over COST_CAP_S, all but one of each memo group, and the fixed queries that
join every sample (workloads.QUERY_FIXED); query_costs.json lists every
dropped query with its reason.

The table is a fixed input of the benchmark: it decides which queries a
seed samples, so regenerate it only together with a new baseline.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(HERE, "query_costs.json")

# A costlier query would let one draw dominate a run's wall time: the
# spread of a sample's total across seeds grows with its members' spread.
COST_CAP_S = 2.5
# Queries sharing a module-level result memo: a sample holds at most one of
# each group, so the memo never serves timed work.  _EXACT_TOPK_CACHE in
# plans/similarity_queries.py is keyed by (applicationId, sf_dir).
MEMO_GROUPS = [["eval_ann_recall_vs_exact", "eval_ann_recall_vs_exact_md5"]]
CHUNK = 16
SECONDS = 20


def measure_chunk(names: list[str]) -> dict[str, float | None]:
    """sf0.1 seconds per query of one query_mix run over ``names``; None
    for a query that raised or failed its oracle check."""
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", "query_mix", "--seed", "0",
         "--seconds", str(SECONDS), "--queries", ",".join(names)],
        cwd=ROOT, capture_output=True, text=True, timeout=900,
    )
    lines = proc.stdout.splitlines()
    lat = next((json.loads(line.split(": ", 1)[1]) for line in lines if line.startswith("op latencies s: ")), {})
    failed = {line.split(": ", 1)[1].split(":", 1)[0] for line in lines if line.startswith("CHECK FAILED: ")}
    return {n: (None if n in failed else lat.get(str(i))) for i, n in enumerate(names)}


def main() -> None:
    sys.path[:0] = [HERE, ROOT]
    from knowledge_model_spark.plans import load_registry
    from workloads import QUERY_FIXED

    registry = load_registry()
    memo_dups = {n for group in MEMO_GROUPS for n in group[1:]}
    dropped = {n: "shares a result memo with another query" for n in memo_dups}
    dropped.update({n: "a fixed query of every sample (workloads.QUERY_FIXED)" for n in QUERY_FIXED})
    names = sorted(set(registry) - set(dropped))
    costs: dict[str, float | None] = {}
    for start in range(0, len(names), CHUNK):
        costs.update(measure_chunk(names[start : start + CHUNK]))
        print(f"{len(costs)}/{len(names)} measured", flush=True)
    pool = {}
    for name, cost in sorted(costs.items()):
        if cost is None:
            dropped[name] = "raised or failed its oracle check"
        elif cost > COST_CAP_S:
            dropped[name] = f"over {COST_CAP_S} s at sf0.1"
        else:
            module = registry[name].fn.__module__.rsplit(".", 1)[-1].removesuffix("_queries")
            pool[name] = {"module": module, "cost": round(cost, 3)}
    with open(OUT, "w") as fh:
        json.dump(
            {"cost_cap_s": COST_CAP_S, "memo_groups": MEMO_GROUPS, "dropped": dropped, "pool": pool},
            fh, indent=1, sort_keys=True,
        )
    print(f"{len(pool)} queries in the pool, {len(dropped)} dropped -> {OUT}")


if __name__ == "__main__":
    main()
