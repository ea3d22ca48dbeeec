"""One runner for the registered queries: time them, time their build,
or audit their physical plans, in one warmed session — and write the
scaled copies of the input that the same queries are timed on.

  python scripts/run_queries.py time q_a q_b [-k 3]
      k round-robin passes (a stall window hits different queries on
      different passes), each query built and forced with the noop
      writer; prints {name: {min, med, max, all}} seconds. Use MIN for
      plan comparisons (additive noise only inflates), MEDIAN to report.
  python scripts/run_queries.py build [names...] [-k 2]
      builds (does not execute) every named query k times and prints the
      LAST pass's DataFrame construction seconds — pass 1 pays module
      imports, later passes the steady py4j/analysis cost the bench pays.
  python scripts/run_queries.py plan [names...] [--out DIR] > PLANS.md
      static physical-plan audit table; --out also writes each query's
      explain('formatted') text to DIR/{name}.txt.
  python scripts/run_queries.py replicate --mult N --out DIR [--sf SRC]
      writes a xN copy of the scale-factor directory (see ``replicate``);
      then ``time --sf DIR q_a -k 1`` times the registered query on it, so
      the scaled workload is the bench query by construction. At large N
      run one query per process: shuffle files are reclaimed only when
      the application exits.

Names default to every registered query (sorted) for build and plan.
Every subcommand takes --sf (default $SPARK_GRAFT_SF_DIR, else sf0.1, as
in bench.py). The session master is local[$SPARK_GRAFT_CPUS], so
``SPARK_GRAFT_CPUS=8`` reproduces the 8-core records.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from bench import _warm_python_workers  # noqa: E402
from datapump_spark.queries import ALL_QUERIES  # noqa: E402
from datapump_spark.session import get_session  # noqa: E402


def start(app: str):
    """The session every subcommand shares, warmed like bench.py's: one
    trivial noop job (JVM + writer classloading) and the Python worker
    pool, so neither lands on the first query measured."""
    spark = get_session(app)
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1_000_000).selectExpr("sum(id)").write.format("noop") \
        .mode("overwrite").save()
    _warm_python_workers(spark)
    return spark


def passes(spark, names, sf, k, run):
    """k round-robin passes over ``names``. Returns (build, wall): per
    name the k build seconds, and — when ``run`` — the k build + noop
    write seconds (``wall`` is None otherwise)."""
    build = {n: [] for n in names}
    wall = {n: [] for n in names} if run else None
    for i in range(k):
        for name in names:
            spark.sparkContext.setJobDescription(f"{name} pass{i}")
            t0 = time.perf_counter()
            df = ALL_QUERIES[name](spark, sf)
            build[name].append(round(time.perf_counter() - t0, 3))
            if run:
                df.write.format("noop").mode("overwrite").save()
                wall[name].append(round(time.perf_counter() - t0, 3))
    spark.sparkContext.setJobDescription(None)
    return build, wall


def time_report(wall) -> dict:
    out = {}
    for name, ts in wall.items():
        s = sorted(ts)
        out[name] = {"min": s[0], "med": s[len(s) // 2], "max": s[-1],
                     "all": ts}
    return out


def build_report(build) -> dict:
    last = {name: ts[-1] for name, ts in build.items()}
    ranked = sorted(last.items(), key=lambda kv: -kv[1])
    return {"total_build_sec": round(sum(last.values()), 2),
            "build": dict(ranked)}


def plan(spark, names, sf, out=None) -> list[str]:
    """The PLANS.md table: one row per query counting the operators that
    matter at scale in its physical plan, built but NOT executed (AQE's
    runtime re-plans do not show; the static shape the docstrings claim
    does). With ``out``, each plan's formatted explain goes to
    ``out/{name}.txt``."""
    if out is not None:
        out = Path(out)
        out.mkdir(parents=True, exist_ok=True)
    lines = [
        f"# PLANS — static physical-plan audit ({len(names)} queries, "
        f"{Path(sf).name})", "",
        "Generated by `python scripts/run_queries.py plan`. Exch = Exchange "
        "operators (shuffles/broadcast-exchanges), BHJ/SMJ = join "
        "strategies, WGL = WindowGroupLimit (partial top-k), Push = "
        "parquet scans carrying PushedFilters. (Codegen spans appear only "
        "in executed AQE plans, so they are not auditable statically — "
        "see PERF.md for executed-plan inspections.)", "",
        "| query | Exch | BHJ | SMJ | WGL | Push | note |",
        "|---|---|---|---|---|---|---|",
    ]
    for name in names:
        try:
            df = ALL_QUERIES[name](spark, sf)
            qe = df._jdf.queryExecution()
            text = qe.executedPlan().toString()
            if out is not None:
                (out / f"{name}.txt").write_text(
                    df._sc._jvm.PythonSQLUtils.explainString(qe, "formatted"))
        except Exception as exc:  # noqa: BLE001 — audit must not abort
            lines.append(f"| {name} | — | — | — | — | — | "
                         f"error: {type(exc).__name__} |")
            continue
        counts = [text.count(op) for op in (
            "Exchange", "BroadcastHashJoin", "SortMergeJoin",
            "WindowGroupLimit", "PushedFilters: [")]
        note = ""
        if "CartesianProduct" in text:
            note = "CARTESIAN"
        elif "BroadcastNestedLoopJoin" in text:
            note = "BNLJ (broadcast side bounded)"
        lines.append(f"| {name} | " + " | ".join(map(str, counts))
                     + f" | {note} |")
    return lines


KEY_SHIFT = 10**10      # multiple of 20 and 64: sample classes survive
FIXED_TABLES = ("nation", "region")
FILES_PER_REPLICA = 4


def replica(table: pa.Table, r: int) -> pa.Table:
    """Replica ``r`` of one table. Replica 0 is the source itself. For
    r >= 1, every int64 ``*key`` / ``*_id`` column is shifted by
    r * KEY_SHIFT, so joins stay inside a replica and ids below the shift
    (the ``query_max_id`` query sets) stay in replica 0; every ``text``
    token is prefixed ``r{r}_``, so shingle and term spaces are disjoint
    across replicas (``n_chars`` follows the new text); and every
    ``embedding`` element x_i becomes x_i + cos((r+1)(i+1)), so replicas
    are not cosine duplicates of each other."""
    if r == 0:
        return table
    cols = {}
    for field, col in zip(table.schema, table.columns):
        name = field.name
        if pa.types.is_int64(field.type) and name.endswith(("key", "_id")):
            col = pc.add(col, r * KEY_SHIFT)
        elif name == "text":
            col = pc.replace_substring_regex(col, r"(\S+)", f"r{r}_\\1")
        elif name == "n_chars":
            col = pc.utf8_length(cols["text"]).cast(field.type)
        elif name == "embedding":
            arr = col.combine_chunks()
            x = arr.values.to_numpy(zero_copy_only=False)
            row = np.asarray(pc.list_parent_indices(arr))
            i = np.arange(len(x)) - np.asarray(arr.offsets)[row]
            x = (x + np.cos((r + 1) * (i + 1))).astype(x.dtype)
            col = pa.ListArray.from_arrays(arr.offsets, x, type=field.type)
        cols[name] = col
    return pa.table(cols, schema=table.schema)


def replicate(src, out, mult: int) -> None:
    """Write a xmult copy of the scale-factor directory ``src`` to ``out``.
    ``nation`` and ``region`` are copied as they are; every other table
    becomes a directory of ``replica(table, r)`` for r = 0..mult-1, each
    in FILES_PER_REPLICA files, so a scan is not bound by input
    parallelism (the source tables are one row group each)."""
    out = Path(out)
    out.mkdir(parents=True, exist_ok=True)
    for path in sorted(Path(src).glob("*.parquet")):
        dest = out / path.name
        if path.stem in FIXED_TABLES:
            (shutil.copytree if path.is_dir() else shutil.copy2)(path, dest)
            continue
        table = pq.read_table(path)
        dest.mkdir()
        step = -(-table.num_rows // FILES_PER_REPLICA)
        for r in range(mult):
            rep = replica(table, r)
            for j in range(FILES_PER_REPLICA):
                pq.write_table(rep.slice(j * step, step),
                               dest / f"part-{r:05d}-{j}.parquet")


def main() -> None:
    common = argparse.ArgumentParser(add_help=False)
    common.add_argument("--sf", default=os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    sub = ap.add_subparsers(dest="cmd", required=True)
    p = sub.add_parser("time", parents=[common])
    p.add_argument("names", nargs="+")
    p.add_argument("-k", type=int, default=3)
    p = sub.add_parser("build", parents=[common])
    p.add_argument("names", nargs="*")
    p.add_argument("-k", type=int, default=2)
    p = sub.add_parser("plan", parents=[common])
    p.add_argument("names", nargs="*")
    p.add_argument("--out")
    p = sub.add_parser("replicate", parents=[common])
    p.add_argument("--mult", type=int, required=True)
    p.add_argument("--out", required=True)
    args = ap.parse_args()
    if args.cmd == "replicate":
        replicate(args.sf, args.out, args.mult)
        return
    names = args.names or sorted(ALL_QUERIES)

    spark = start(f"run-queries-{args.cmd}")
    if args.cmd == "plan":
        print("\n".join(plan(spark, names, args.sf, args.out)))
        return
    build, wall = passes(spark, names, args.sf, args.k, args.cmd == "time")
    report = time_report(wall) if wall else build_report(build)
    print(json.dumps(report, indent=1))


if __name__ == "__main__":
    main()
