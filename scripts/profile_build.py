"""Profile DRIVER-SIDE DataFrame construction time per query (round 12).

Builds (but does not execute) every registered query twice in one warmed
session and reports the second pass's build seconds — pass 1 pays module
imports (which the bench's untimed warm pass also absorbs), pass 2 is the
steady-state py4j/analysis cost the timed bench pays on every run.

Usage: python scripts/profile_build.py [--sf /root/testdata/sf0.1] [names...]
"""

from __future__ import annotations

import argparse
import json
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="*")
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("-k", type=int, default=2)
    args = ap.parse_args()

    from datapump_spark.queries import ALL_QUERIES
    from datapump_spark.session import get_session

    names = args.queries or list(ALL_QUERIES)
    spark = get_session("datapump-profile-build")
    spark.sparkContext.setLogLevel("ERROR")

    out: dict[str, float] = {}
    for pass_no in range(args.k):
        for name in names:
            t0 = time.perf_counter()
            ALL_QUERIES[name](spark, args.sf)
            dt = time.perf_counter() - t0
            out[name] = round(dt, 3)  # keep the LAST (warm) pass
    ranked = sorted(out.items(), key=lambda kv: -kv[1])
    print(json.dumps({"total_build_sec": round(sum(out.values()), 2),
                      "build": dict(ranked)}, indent=1))


if __name__ == "__main__":
    main()
