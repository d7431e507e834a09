#!/usr/bin/env python
"""Red-flag audit over every declared query's physical plan.

    python tools/plan_audit.py [SF_DIR] [prefix ...]

Builds each registered query at SF_DIR (default sf0.001 — construction
executes any in-query registration work, so the smallest SF keeps the
sweep cheap) and counts plan nodes that matter at 100 TB:

  EX   = Exchange nodes (shuffles)
  SMJ  = SortMergeJoin, SHJ = ShuffledHashJoin, BHJ = BroadcastHashJoin
  NLJ  = BroadcastNestedLoopJoin, CART = CartesianProduct
  PYROW = BatchEvalPython (row-at-a-time Python UDF — the boundary §4
          says must not exist on query paths)
  PYVEC = ArrowEvalPython / MapInPandas / FlatMapGroupsInPandas /
          MapInArrow (vectorized Python; expected on the declared
          pandas-UDF seams only)
  PUSH = 1 when any scan carries PushedFilters beyond []

The final plan of every SQL execution that building the query ran
(its `legs`: registration-wall builds and serves, ingest history
fetches, writes; tools/capture_plans.query_plans) is audited too. One
line per query + a tail summary of every query tripping a red flag.
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from capture_plans import query_plans  # noqa: E402
from serverless_datalake_aws_spark.plans import all_queries  # noqa: E402
from serverless_datalake_aws_spark.session import get_session  # noqa: E402

# Matched against the numbered detail section only ("(3) Exchange"),
# so each physical node counts exactly once (the tree rendering above
# the details would double every count).
COUNTERS = (
    ("EX", r"^\(\d+\) Exchange\b"),
    ("SMJ", r"^\(\d+\) SortMergeJoin\b"),
    ("SHJ", r"^\(\d+\) ShuffledHashJoin\b"),
    ("BHJ", r"^\(\d+\) BroadcastHashJoin\b"),
    ("NLJ", r"^\(\d+\) BroadcastNestedLoopJoin\b"),
    ("CART", r"^\(\d+\) CartesianProduct\b"),
    ("PYROW", r"^\(\d+\) BatchEvalPython\b"),
    (
        "PYVEC",
        r"^\(\d+\) (?:ArrowEvalPython|MapInPandas|FlatMapGroupsInPandas"
        r"|MapInArrow|FlatMapGroupsInPandasWithState|PythonMapInArrow)\b",
    ),
)

def final_only(plan: str) -> str:
    """`plan` without the details of nodes only Initial Plan trees show (an
    executed adaptive plan prints its Final, then its Initial plan)."""
    initial, final = set(), set()
    trees: list[tuple[int, set]] = []  # open trees: (marker column, ids)
    for line in plan.splitlines():
        marker = re.search(r"\+- == (Initial|Final) Plan ==", line)
        col = marker.start() if marker else len(line) - len(line.lstrip(" :|+-"))
        while trees and (not line.strip() or col <= trees[-1][0]):
            trees.pop()
        if marker:
            trees.append((col, initial if marker.group(1) == "Initial" else final))
        elif trees and (node := re.search(r"\((\d+)\)", line)):
            trees[-1][1].add(node.group(1))

    def keep(m: re.Match) -> str:
        return "" if m.group(1) in initial - final else m.group(0)

    return re.sub(r"^\((\d+)\) .*?\n\n", keep, plan, flags=re.M | re.S)


def main() -> int:
    rest = sys.argv[1:]
    if rest and os.path.isdir(rest[0]):
        sf_dir, prefixes = rest[0], tuple(rest[1:])
    else:
        sf_dir, prefixes = "/root/testdata/sf0.001", tuple(rest)
    spark = get_session(app_name="plan_audit")
    qmap = all_queries()
    names = [
        n
        for n in sorted(qmap)
        if not prefixes or any(n.startswith(p) for p in prefixes)
    ]
    flagged: list[str] = []
    hdr = "name\t" + "\t".join(k for k, _ in COUNTERS) + "\tPUSH\tlegs"
    print(hdr, flush=True)
    for name in names:
        try:
            returned, legs = query_plans(spark, qmap[name], sf_dir)
            texts = [returned] + [final_only(p) for p in legs]
        except Exception as exc:  # noqa: BLE001 — audit must finish
            print(f"{name}\tERR {type(exc).__name__}: {exc}"[:160], flush=True)
            flagged.append(f"{name} ERR")
            continue
        text = "\n".join(texts)
        counts = {
            k: len(re.findall(rx, text, flags=re.MULTILINE))
            for k, rx in COUNTERS
        }
        push = int(
            any(
                m.group(1).strip() not in ("[]", "")
                for m in re.finditer(r"PushedFilters: (\[.*?\])", text)
            )
        )
        row = (
            name
            + "\t"
            + "\t".join(str(counts[k]) for k, _ in COUNTERS)
            + f"\t{push}\t{len(legs)}"
        )
        print(row, flush=True)
        if counts["CART"] or counts["PYROW"]:
            flagged.append(
                f"{name} CART={counts['CART']} PYROW={counts['PYROW']}"
            )
    print("FLAGGED:", flagged if flagged else "none", flush=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
