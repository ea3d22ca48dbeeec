"""Dump .explain('formatted') for named queries to a directory.

Usage: python scripts/dump_plans.py --out plans/r13 --suffix after q_a q_b
"""

from __future__ import annotations

import argparse
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="+")
    ap.add_argument("--out", default="plans/r13")
    ap.add_argument("--suffix", default="after")
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    args = ap.parse_args()

    from datapump_spark.queries import ALL_QUERIES
    from datapump_spark.session import get_session

    spark = get_session("dump-plans", master="local[8]")
    spark.sparkContext.setLogLevel("ERROR")
    out = Path(__file__).resolve().parents[1] / args.out
    out.mkdir(parents=True, exist_ok=True)
    for name in args.queries:
        df = ALL_QUERIES[name](spark, args.sf)
        txt = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted")
        (out / f"{name}_{args.suffix}.txt").write_text(txt)
        print(name, "->", out / f"{name}_{args.suffix}.txt",
              f"({txt.count('Exchange')} Exchange lines)")


if __name__ == "__main__":
    main()
