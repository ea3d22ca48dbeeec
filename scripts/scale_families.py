"""Scaling evidence for the heavy operator families (r13, VERDICT #4).

Replicates the sf0.1 inputs in-memory with shifted keys to an
sf1-equivalent (or larger) workload and times each family end-to-end
(noop sink), honoring $SPARK_GRAFT_CPUS — run it at 8 and at 32 cores
to get the low/high-core scaling ratio the sf0.1 bench cannot show
(per-query fixed overhead dominates there; PERF_r12 scaling block).

Replication design (weak scaling — workload density per replica is
constant, so t(mult)/t(1) ≈ mult on fixed cores and t(8c)/t(32c)
approaches the core ratio once compute-bound):

- documents: every token is prefixed with a replica tag
  (regexp_replace), so shingle/term spaces of different replicas are
  DISJOINT — near-dup and similarity structure is preserved exactly
  within a replica and never leaks across replicas (naive replication
  would make every doc an exact near-dup of its mult-1 twins and blow
  the pair volume quadratically, measuring a different workload).
- bm25 keeps the original text (query terms must keep matching) and
  shifts doc ids: posting lists grow linearly — the intended load.
- embeddings / lineitem-graph: ids shifted per replica (disjoint
  graph/corpus replicas; vectors are reused as-is — timing is
  insensitive to their values).

Usage:
  SPARK_GRAFT_CPUS=8  python scripts/scale_families.py --mult 10
  SPARK_GRAFT_CPUS=32 python scripts/scale_families.py --mult 10
  python scripts/scale_families.py --mult 10 --families minhash,bm25
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))


def _noop(df) -> float:
    t0 = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    return round(time.perf_counter() - t0, 3)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--mult", type=int, default=10)
    ap.add_argument("--families", default=None,
                    help="comma list: minhash,sparse_sim,ivfpq,pagerank,"
                         "incremental,bm25")
    args = ap.parse_args()
    fams = set(args.families.split(",")) if args.families else {
        "minhash", "sparse_sim", "ivfpq", "pagerank", "incremental",
        "bm25"}

    from pyspark.sql import functions as F

    from datapump_spark.queries import _t
    from run_queries import start

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    spark = start("scale-families")

    sf_dir, mult = args.sf, args.mult
    reps = F.explode(F.sequence(F.lit(0), F.lit(mult - 1))).alias("__rep")

    docs = _t(spark, sf_dir, "documents")
    n_docs = docs.count()
    # per-replica token tag => disjoint shingle/term spaces
    docs_tagged = (
        docs.select("doc_id", "text", "lang", "source").select(reps, "*")
        .select(
            (F.col("doc_id") + F.col("__rep") * F.lit(n_docs))
            .alias("doc_id"),
            F.regexp_replace(
                "text", r"(\S+)",
                F.concat(F.lit("r"), F.col("__rep"), F.lit("_$1"))
            ).alias("text"),
            "lang", "source")
        # spread the replicated corpus: the source parquet is one row
        # group (1-2 scan splits), so without this the scaled input and
        # every narrow stage over it would run on <=2 cores at ANY core
        # count - measured: minhash 21.6 s at 32c vs 20.6 s at 8c, both
        # input-parallelism-bound. A 100 TB corpus arrives in thousands
        # of splits; 4*mult partitions models that (untimed, part of
        # fixture prep).
        .repartition(4 * mult)
        .localCheckpoint(eager=True)  # scale input OUTSIDE the timed op
    )
    docs_shift = (
        docs.select("doc_id", "text").select(reps, "*")
        .select((F.col("doc_id") + F.col("__rep") * F.lit(n_docs))
                .alias("doc_id"), "text")
        .repartition(4 * mult)
        .localCheckpoint(eager=True)
    )

    out: dict[str, float] = {}
    sc = spark.sparkContext
    from datapump_spark.cachescope import release_scope

    if "minhash" in fams:
        from datapump_spark.operators.dedup_fuzzy import \
            minhash_near_dup_pairs
        sc.setJobDescription(f"scale x{mult}: minhash")
        out["minhash"] = _noop(minhash_near_dup_pairs(
            docs_tagged, threshold=0.5))
        release_scope(spark)

    if "sparse_sim" in fams:
        from datapump_spark.operators.sparse_sim import sparse_cosine_pairs
        sc.setJobDescription(f"scale x{mult}: sparse_sim")
        # same operating point as q_sparse_sim: block on source
        out["sparse_sim"] = _noop(sparse_cosine_pairs(
            docs_tagged, block_cols=["source"], threshold=0.2,
            max_df_frac=0.5))
        release_scope(spark)

    if "incremental" in fams:
        from datapump_spark.operators.incremental import (
            incremental_near_dup, signature_index)
        sc.setJobDescription(f"scale x{mult}: incremental")
        half = n_docs * mult // 2
        index = docs_tagged.where(F.col("doc_id") < half)
        batch = docs_tagged.where(F.col("doc_id") >= half)
        index_sigs = signature_index(index)
        out["incremental"] = _noop(
            incremental_near_dup(batch, index_sigs))
        release_scope(spark)

    if "bm25" in fams:
        from datapump_spark.operators.retrieval import bm25_topk
        sc.setJobDescription(f"scale x{mult}: bm25")
        from datapump_spark.queries import BM25_QUERY
        out["bm25"] = _noop(bm25_topk(docs_shift, BM25_QUERY, k=10))
        release_scope(spark)

    if "ivfpq" in fams:
        from datapump_spark.operators.pq import ivfpq_topk
        emb = _t(spark, sf_dir, "embeddings")
        n_emb = emb.count()
        emb_big = (
            emb.select("vec_id", "embedding").select(reps, "*")
            .select((F.col("vec_id") + F.col("__rep") * F.lit(n_emb))
                    .alias("vec_id"), "embedding")
            .repartition(4 * mult)
            .localCheckpoint(eager=True))
        sc.setJobDescription(f"scale x{mult}: ivfpq")
        out["ivfpq"] = _noop(ivfpq_topk(
            emb_big, k=5, query_max_id=10, n_cells=16, n_probe=8,
            rerank_factor=8, lloyd_iters=1))
        release_scope(spark)

    if "pagerank" in fams:
        from datapump_spark.operators.graph import pagerank
        li = _t(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_partkey")
        mx_o = 10_000_000_000
        e1 = (li.select(reps, "*")
              .select((F.col("l_orderkey") + F.col("__rep") * F.lit(mx_o))
                      .alias("src"),
                      (F.col("l_partkey") + F.col("__rep") * F.lit(mx_o)
                       + F.lit(5_000_000_000)).alias("dst"))
              .distinct())
        edges = e1.unionByName(
            e1.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        edges = edges.repartition(4 * mult).localCheckpoint(eager=True)
        sc.setJobDescription(f"scale x{mult}: pagerank")
        out["pagerank"] = _noop(pagerank(
            edges, n_iter=3, assume_distinct=True, assume_symmetric=True))
        release_scope(spark)

    sc.setJobDescription(None)
    print(json.dumps({"mult": mult, "cpus": cpus, "sec": out}))


if __name__ == "__main__":
    main()
