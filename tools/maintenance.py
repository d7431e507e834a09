#!/usr/bin/env python
"""Nightly lake maintenance entrypoint — the operational counterpart of
the reference's deploy/cleanup shell scripts (deploy-script.sh /
cleanup-script.sh), composing the engine's upkeep ops into one run:

    python tools/maintenance.py /path/to/lake \
        [--crawl] [--dedup] [--compact MB] [--expire DAYS] [--report]

Each selected step prints one JSON line; the exit code is non-zero if
any step raises. Order matters and is fixed: crawl (register foreign
drops) → dedup (drop exact duplicate payloads) → compact (rewrite
small files) → expire (retention) → report (health summary last, so it
reflects the maintained state).
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("lake_root")
    ap.add_argument("--crawl", action="store_true")
    ap.add_argument("--dedup", action="store_true")
    ap.add_argument("--compact", type=int, metavar="MB", default=None)
    ap.add_argument("--expire", type=int, metavar="DAYS", default=None)
    ap.add_argument("--report", action="store_true")
    args = ap.parse_args(argv)

    from serverless_datalake_aws_spark.engine import DataLakeEngine
    from serverless_datalake_aws_spark.session import get_session

    spark = get_session(app_name="lake-maintenance")
    engine = DataLakeEngine(spark, args.lake_root)
    if args.crawl:
        found = engine.crawl()
        print(json.dumps({"step": "crawl", "datasets": [d.name for d in found]}))
    if args.dedup:
        dropped = engine.dedup_zone("raw")
        print(json.dumps({"step": "dedup", "rows_dropped": dropped}))
    if args.compact is not None:
        # the engine's zone rewrite keeps the hive partitions index_cdc
        # reads and publishes under the zone lock through a staged swap
        out = engine.optimize_zone("raw", target_file_mb=args.compact)
        print(json.dumps({"step": "compact", "files_after": out["files_after"]}))
    if args.expire is not None:
        gone = engine.expire("raw", keep_days=args.expire)
        print(json.dumps({"step": "expire", "partitions_dropped": gone}))
    if args.report:
        rows = [r.asDict() for r in engine.lake_report().collect()]
        print(json.dumps({"step": "report", "rows": rows}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
