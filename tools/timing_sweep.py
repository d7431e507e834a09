#!/usr/bin/env python
"""Full-registry timing sweep at a given SF (default sf0.1).

Runs every registered query once (after a small-SF warmup pass for that
query) through the noop sink and prints one JSON line per query plus a
sorted summary. This is the tool that caught the d12 per-exploded-row
recomputation and the q38 Expand-plan blowup (SCALE.md "Plan-pathology
log") — run it after any round that adds or rewrites plans.

Usage:
    python tools/timing_sweep.py                  # all queries, sf0.1
    python tools/timing_sweep.py t11 e07 d04      # prefix-filtered
    SPARK_GRAFT_SF_DIR=/root/testdata/sf0.01 python tools/timing_sweep.py
    SPARK_GRAFT_SF_DIR=/tmp/spark_graft_10x python tools/timing_sweep.py d04

The last line times the 10x fixture that tools/scale_probe.py builds.
Run a prefix set once with SPARK_GRAFT_CPUS=1 and once with
SPARK_GRAFT_CPUS=4 for a row's 1-core vs 4-core ratio. Warm-up runs
read SPARK_GRAFT_WARM_DIR (default sf0.001).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from serverless_datalake_aws_spark.plans import all_queries  # noqa: E402
from serverless_datalake_aws_spark.session import get_session  # noqa: E402


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    warm_dir = os.environ.get("SPARK_GRAFT_WARM_DIR", "/root/testdata/sf0.001")
    prefixes = tuple(sys.argv[1:])
    spark = get_session(app_name="timing_sweep")
    qmap = all_queries()
    names = [
        n
        for n in sorted(qmap)
        if not prefixes or any(n.startswith(p) for p in prefixes)
    ]
    results: dict[str, float] = {}
    failures: dict[str, str] = {}
    for name in names:
        try:
            qmap[name](spark, warm_dir).write.format("noop").mode(
                "overwrite"
            ).save()
            t0 = time.time()
            qmap[name](spark, sf_dir).write.format("noop").mode(
                "overwrite"
            ).save()
            results[name] = round(time.time() - t0, 3)
            print(json.dumps({"query": name, "sec": results[name]}), flush=True)
        except Exception as exc:  # noqa: BLE001
            failures[name] = f"{type(exc).__name__}: {exc}"[:160]
            print(json.dumps({"query": name, "error": failures[name]}), flush=True)
    ranked = sorted(results.items(), key=lambda kv: -kv[1])
    print(
        json.dumps(
            {
                "sf_dir": sf_dir,
                "n": len(results),
                "total_sec": round(sum(results.values()), 2),
                "slowest": ranked[:15],
                "failures": failures,
            }
        ),
        flush=True,
    )


if __name__ == "__main__":
    main()
