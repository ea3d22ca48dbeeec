"""Repeat-timing harness for optimization work (round 12).

The box shows intermittent multi-second stalls that land on whichever
query is running (documented band: single-run per-query swings up to
15x on identical code). bench.py's single-pass numbers are therefore
unusable for per-query optimization decisions. This harness times each
named query K times, round-robin interleaved (so a stall window hits
different queries on different passes), inside one warmed session, and
reports min / median / max. Use MIN for plan comparisons (additive
noise only inflates), MEDIAN for reporting.

Usage:
  python scripts/measure.py q_a q_b [-k 3] [--sf /root/testdata/sf0.1]
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
    ap.add_argument("queries", nargs="+")
    ap.add_argument("-k", type=int, default=3)
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    args = ap.parse_args()

    from bench import _warm_python_workers
    from datapump_spark.queries import ALL_QUERIES
    from datapump_spark.session import get_session

    spark = get_session("datapump-measure")
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1_000_000).selectExpr("sum(id)").write.format("noop") \
        .mode("overwrite").save()
    _warm_python_workers(spark)

    times: dict[str, list[float]] = {q: [] for q in args.queries}
    for pass_no in range(args.k):
        for name in args.queries:
            fn = ALL_QUERIES[name]
            spark.sparkContext.setJobDescription(f"{name} pass{pass_no}")
            t0 = time.perf_counter()
            fn(spark, args.sf).write.format("noop").mode("overwrite").save()
            times[name].append(round(time.perf_counter() - t0, 3))
    out = {}
    for q, ts in times.items():
        s = sorted(ts)
        out[q] = {"min": s[0], "med": s[len(s) // 2], "max": s[-1],
                  "all": ts}
    print(json.dumps(out, indent=1))


if __name__ == "__main__":
    main()
