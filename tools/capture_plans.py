#!/usr/bin/env python
"""Capture explain("formatted") for named declared queries to files.

    python tools/capture_plans.py OUTDIR SUFFIX [SF_DIR] name [name ...]

Writes OUTDIR/<name>_<SUFFIX>.txt containing the returned DataFrame's
formatted physical plan, then the final formatted plan of every SQL
execution that building the query ran (a WorkWindow around the call).
Queries that materialize internally (the registration-wall family, the
st15/st20 ingest maintainers) return a driver-local relation, so those
executed legs are the plans that actually cost time.

To capture another checkout (the `_before.txt` files), run that
checkout's copy of this script.
"""

from __future__ import annotations

import os
import sys

repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, repo)

from serverless_datalake_aws_spark.operators.metrics import WorkWindow  # noqa: E402
from serverless_datalake_aws_spark.plans import all_queries  # noqa: E402
from serverless_datalake_aws_spark.session import get_session  # noqa: E402


def query_plans(spark, query, sf_dir: str) -> tuple[str, list[str]]:
    """Build `query` at sf_dir: its returned DataFrame's formatted plan
    and the final plan of every SQL execution the build ran."""
    with WorkWindow(spark) as window:
        df = query(spark, sf_dir)
    returned = spark._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    return returned, window.plans()


def main() -> int:
    outdir, suffix = sys.argv[1], sys.argv[2]
    rest = sys.argv[3:]
    if rest and os.path.isdir(rest[0]):
        sf_dir, names = rest[0], rest[1:]
    else:
        sf_dir, names = "/root/testdata/sf0.1", rest
    os.makedirs(outdir, exist_ok=True)
    spark = get_session(app_name="capture_plans")
    qmap = all_queries()
    for name in names:
        returned, legs = query_plans(spark, qmap[name], sf_dir)
        parts = [f"# {name} @ {sf_dir} ({suffix}, repo={repo})"]
        parts += ["## declared query's returned DataFrame", returned]
        for i, plan in enumerate(legs, 1):
            parts += [f"## internal leg {i}: executed plan", plan]
        path = os.path.join(outdir, f"{name}_{suffix}.txt")
        with open(path, "w") as fh:
            fh.write("\n".join(parts))
        print(f"wrote {path}", flush=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
