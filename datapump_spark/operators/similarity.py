"""Similarity search over embedding columns (array<float>).

Two paths, per the scale doctrine:
- ``cosine_topk``  — brute-force exact top-k: broadcast the (small) query
  set against the full corpus; one pass, no shuffle of the corpus, ranking
  via per-query window on the (tiny) query-partitioned score stream. The
  verifiable baseline.
- ``lsh_topk``     — random-hyperplane LSH: deterministic pseudo-random
  planes (seeded), sign-bit bucket key, candidates restricted to the query's
  bucket (+ optional multi-probe), exact re-rank inside the bucket. At
  100 TB the bucket join replaces the corpus-wide cross product; recall is
  tunable by planes/probes. Buckets are also the natural partition key for
  a pre-bucketed (bucketBy) corpus table, making repeated queries shuffle-
  free.

Dot products use built-in higher-order functions (zip_with + aggregate) —
JVM codegen over the array, no Python, no UDF. Ranking uses the *rounded*
cosine plus id tie-break so results are reproducible across engines and
runs (see queries.py float policy).
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _as_double(col) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.transform(c, lambda x: x.cast("double"))


def _norm(v: Column) -> Column:
    return F.sqrt(F.aggregate(F.transform(v, lambda x: x * x), F.lit(0.0),
                              lambda acc, x: acc + x))


def _dot(a, b) -> Column:
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0),
                       lambda acc, x: acc + x)


def cosine_topk(
    df: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding",
    k: int = 5, query_max_id: int = 10,
) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector (id < query_max_id).

    (query_id, neighbor_id, cos) — k rows per query; self excluded; rank by
    rounded cos desc then neighbor_id asc (deterministic)."""
    base = df.select(
        F.col(id_col).alias("id"), _as_double(vec_col).alias("v"),
    ).withColumn("nrm", _norm(F.col("v")))
    q = base.where(F.col("id") < query_max_id).select(
        F.col("id").alias("query_id"), F.col("v").alias("qv"), F.col("nrm").alias("qn"))
    c = base.select(
        F.col("id").alias("neighbor_id"), F.col("v").alias("cv"), F.col("nrm").alias("cn"))
    return _score_and_rank(c, q, k)


def cosine_topk_frame(
    df: DataFrame, queries: DataFrame, id_col: str = "vec_id",
    vec_col: str = "embedding", k: int = 5,
) -> DataFrame:
    """Exact top-k cosine for an EXPLICIT query frame (same id/vec
    columns as ``df``) — :func:`cosine_topk` without the id<max
    convention. The query side broadcasts (mining/eval query sets are
    small by contract); candidates never shuffle. Self-matches by id are
    excluded."""
    def prep(frame):
        return frame.select(
            F.col(id_col).alias("id"), _as_double(vec_col).alias("v"),
        ).withColumn("nrm", _norm(F.col("v")))

    q = prep(queries).select(F.col("id").alias("query_id"),
                             F.col("v").alias("qv"),
                             F.col("nrm").alias("qn"))
    c = prep(df).select(F.col("id").alias("neighbor_id"),
                        F.col("v").alias("cv"), F.col("nrm").alias("cn"))
    return _score_and_rank(c, q, k)


def _score_and_rank(c: DataFrame, q: DataFrame, k: int, on=None) -> DataFrame:
    """Shared candidate-scoring + per-query top-k: ONE rounding / tie-break
    policy (cos desc, neighbor_id asc) for the exact, LSH, and IVF paths."""
    joined = c.crossJoin(F.broadcast(q)) if on is None else c.join(F.broadcast(q), on)
    scored = (
        joined.where(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("cos", F.round(_dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn")), 6))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("neighbor_id").asc())
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") <= k)
        .select("query_id", "neighbor_id", "cos")
    )


def hyperplanes(dim: int, n_planes: int, seed: int = 42) -> list[list[float]]:
    """Deterministic pseudo-random unit hyperplanes (pure python, seeded)."""
    import random

    rng = random.Random(seed)
    planes = []
    for _ in range(n_planes):
        v = [rng.gauss(0.0, 1.0) for _ in range(dim)]
        n = math.sqrt(sum(x * x for x in v)) or 1.0
        planes.append([x / n for x in v])
    return planes


def lsh_bucket(vec: Column, planes: list[list[float]]) -> Column:
    """Sign-bit bucket id from dot products with the fixed planes."""
    bucket = F.lit(0)
    for i, p in enumerate(planes):
        plane = F.lit([float(x) for x in p])
        d = _dot(vec, plane)
        bucket = bucket + F.when(d >= 0, F.lit(2 ** i)).otherwise(F.lit(0))
    return bucket.cast("bigint")


def _kmeans_centroids(
    base: DataFrame, n_cells: int, lloyd_iters: int,
):
    """Deterministic mini k-means over (id, v): seed cells as ``id %
    n_cells``, then ``lloyd_iters`` rounds of assign/average. The average
    is a distributed posexplode+groupBy aggregation (only n_cells×dim
    partial states cross the wire); only the tiny centroid matrix is ever
    collected to the driver. Returns a row-normalized numpy (n_cells, dim)
    matrix."""
    import numpy as np

    assigned = base.withColumn("cell", (F.col("id") % n_cells).cast("int"))
    C = None
    iters = max(1, lloyd_iters)
    for it in range(iters):
        rows = (
            assigned.select("cell", F.posexplode("v").alias("pos", "val"))
            .groupBy("cell", "pos").agg(F.avg("val").alias("m"))
            .collect()
        )
        if not rows:
            return None     # empty corpus — caller returns an empty result
        dim = max(r["pos"] for r in rows) + 1
        C = np.zeros((n_cells, dim))
        for r in rows:
            C[r["cell"], r["pos"]] = r["m"]
        nrm = np.linalg.norm(C, axis=1, keepdims=True)
        nrm[nrm == 0] = 1.0
        C = C / nrm
        if it + 1 < iters:
            # with_v: the kernel passes v through, so the next round's
            # aggregate hangs directly off the assignment — the former
            # .join(base, "id") re-shuffle per Lloyd round is gone
            # (r12, guide §2: remove shuffles outright)
            assigned = _assign_cells(base, C, n_probe=1, with_v=True) \
                .select("id", F.col("cells")[0].alias("cell"), "v")
    return C


def _assign_cells(base: DataFrame, centroids, n_probe: int,
                  with_v: bool = False) -> DataFrame:
    """(id, cells[n_probe]): nearest cells by cosine, best first. One
    numpy GEMM per Arrow batch against the broadcast centroid matrix.
    ``with_v=True`` additionally passes the vector column through the
    kernel — callers that need (cell, v) then skip a corpus-wide id
    join (Arrow copies a few extra MB per batch instead of shuffling)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    fields = [
        T.StructField("id", T.LongType()),
        T.StructField("cells", T.ArrayType(T.IntegerType())),
    ]
    if with_v:
        fields.append(T.StructField("v", T.ArrayType(T.DoubleType())))
    schema = T.StructType(fields)

    def kernel(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            M = np.vstack(pdf["v"].map(np.asarray).to_numpy())
            nrm = np.linalg.norm(M, axis=1, keepdims=True)
            nrm[nrm == 0] = 1.0
            S = (M / nrm) @ centroids.T
            order = np.argsort(-S, kind="stable", axis=1)[:, :n_probe]
            out = {
                "id": pdf["id"],
                "cells": [row.astype("int32").tolist() for row in order],
            }
            if with_v:
                out["v"] = pdf["v"]
            yield pd.DataFrame(out)

    return base.select("id", "v").mapInPandas(kernel, schema)


def ivf_topk(
    df: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding",
    k: int = 5, query_max_id: int = 10, n_cells: int = 16, n_probe: int = 4,
    lloyd_iters: int = 2,
) -> DataFrame:
    """Approximate top-k via an IVF (inverted-file) index: k-means cells,
    corpus vectors live in their nearest cell, queries probe their
    ``n_probe`` nearest cells, exact re-rank inside the probed cells.

    Same output shape as :func:`cosine_topk`; recall graded in tests
    against the exact baseline. At scale: the cell id is the partition /
    bucket key — candidate generation is a key-equi join (no corpus-wide
    cross product), and a corpus table pre-bucketed by cell makes repeated
    query batches shuffle-free. Centroid training touches only
    n_cells×dim aggregate state; assignment is one GEMM pass."""
    base = df.select(
        F.col(id_col).alias("id"), _as_double(vec_col).alias("v"),
    )
    C = _kmeans_centroids(base, n_cells, lloyd_iters)
    if C is None:   # empty corpus: same contract as the exact path
        return df.sparkSession.createDataFrame(
            [], "query_id bigint, neighbor_id bigint, cos double")
    # with_v assignment: (cell, v) come out of the kernel together, so
    # neither side pays the former corpus-wide id join; nrm is the same
    # expression recomputed on the passed-through v (identical doubles —
    # Arrow round-trips float64 exactly) (r12, guide §2)
    c = (_assign_cells(base, C, n_probe=1, with_v=True)
         .select(F.col("id").alias("neighbor_id"),
                 F.col("cells")[0].alias("cb"), "v")
         .withColumn("nrm", _norm(F.col("v")))
         .select("neighbor_id", F.col("v").alias("cv"),
                 F.col("nrm").alias("cn"), "cb"))
    qbase = base.where(F.col("id") < query_max_id)
    q = (
        _assign_cells(qbase, C, n_probe=n_probe, with_v=True)
        .select("id", F.explode("cells").alias("qb"), "v")
        .withColumn("nrm", _norm(F.col("v")))
        .select(F.col("id").alias("query_id"), F.col("v").alias("qv"),
                F.col("nrm").alias("qn"), "qb")
    )
    return _score_and_rank(c, q, k, on=F.col("cb") == F.col("qb"))


def vec_dim(df: DataFrame, vec_col: str, dim: int | None = None) -> int:
    """Vector dimensionality: the caller-supplied value when known (free),
    else one single-row job. Spark's ArrayType carries no length, so a
    schema-only answer is impossible — pass ``dim`` in hot paths."""
    if dim is not None:
        return dim
    first = df.select(vec_col).first()
    if first is None or first[0] is None:
        raise ValueError(f"cannot infer dim of empty column {vec_col!r}")
    return len(first[0])


def _probe_masks(n_flip: int, n_probe: int) -> list[tuple[int, ...]]:
    """Perturbation sets over margin-RANKS (0 = plane the query is closest
    to), ordered by the rank-sum proxy for the margin-sum score — the
    plan-time approximation of Lv et al. 2007's query-directed probe
    sequence. First entry is the empty set (the home bucket)."""
    from itertools import combinations

    subsets = [c for r in range(n_flip + 1)
               for c in combinations(range(n_flip), r)]
    subsets.sort(key=lambda s: (sum(i + 1 for i in s), len(s), s))
    return subsets[:n_probe]


def lsh_topk(
    df: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding",
    k: int = 5, query_max_id: int = 10, n_planes: int = 4, seed: int = 42,
    dim: int | None = None, n_probe: int = 1, n_tables: int = 1,
) -> DataFrame:
    """Approximate top-k: exact re-rank restricted to the query's LSH
    bucket(s).

    Two orthogonal recall knobs on one corpus pass:

    - ``n_probe > 1`` — multi-probe (Lv et al., VLDB 2007): each query also
      probes the buckets reached by flipping its lowest-|margin| sign bits
      (the planes it sits closest to, where its true neighbors most likely
      landed on the other side). Probe buckets are generated query-side
      (tiny) by XOR-ing rank-ordered perturbation masks onto the home
      bucket.
    - ``n_tables > 1`` — OR-ed independent hash tables (classic LSH
      amplification): a candidate matches if it shares a bucket in ANY
      table. The corpus is scanned ONCE, emitting (table, bucket) via a
      single explode; the match stays one equi-join on (table, bucket)
      against the broadcast query probe set, and cross-table duplicate
      candidates are deduped BEFORE ranking.

    Expected scanned fraction ≈ 1 − (1 − n_probe/2^n_planes)^n_tables;
    at 100 TB the corpus-side cost is one scan + n_tables hash
    evaluations + the candidate stream — never tables × corpus-rescans.

    Same output shape as cosine_topk; recall < 1 by design (graded in
    scripts/ann_recall.py against the exact baseline, not the
    oracle)."""
    dim = vec_dim(df, vec_col, dim)
    tables = [hyperplanes(dim, n_planes, seed + 7919 * t)
              for t in range(n_tables)]
    base = df.select(F.col(id_col).alias("id"), _as_double(vec_col).alias("v"))
    base = base.withColumn("nrm", _norm(F.col("v")))
    # Evaluate every plane dot product ONCE into an array column and
    # derive buckets/margins from element_at reads: without this each
    # bucket (and each query-side margin) re-embeds its own copy of the
    # dot-product subtree, and the n_tables x n_planes expression forest
    # dominates planning + per-row eval time.
    # Build cost (r12, guide S1/S4 - the Python boundary includes plan
    # construction): every Column node is a py4j round trip, and at the
    # bench operating point (6 planes x 4 tables x dim 64) the
    # per-plane/per-dim F.lit + per-probe Column forest cost ~4.8 s of
    # DRIVER time per call vs ~1.9 s of execution. The same expressions
    # are therefore built server-side: the plane matrix as ONE
    # nested-array Literal, buckets/margins/probes as f-string F.expr -
    # keeping the flat IF-sum / struct-array SHAPE of the original (NOT
    # higher-order-function lambdas: element_at(__dots) references
    # inside a lambda defeat codegen subexpression elimination and
    # re-evaluate the full dot-product transform per access - measured
    # 5x slower end to end).
    mat = F.lit([[float(x) for x in p] for t in tables for p in t])
    base = base.withColumn(
        "__dots", F.transform(mat, lambda p: _dot(F.col("v"), p)))

    def bucket_sql(t: int) -> str:
        # sum of 2^i * [dot_i >= 0] - flat IF sum, codegen + CSE friendly
        return "(" + " + ".join(
            f"IF(element_at(__dots, {t * n_planes + i + 1}) >= 0, {2 ** i}, 0)"
            for i in range(n_planes)) + ")"

    # corpus: one (table, bucket) pair per table, single pass
    c = base.withColumn("tb", F.explode(F.expr(
        "array(" + ", ".join(
            f"struct({t} AS t, CAST({bucket_sql(t)} AS BIGINT) AS b)"
            for t in range(n_tables)) + ")")))
    c = c.select(F.col("id").alias("neighbor_id"), F.col("v").alias("cv"),
                 F.col("nrm").alias("cn"), F.col("tb.t").alias("ct"),
                 F.col("tb.b").alias("cb"))
    # queries: n_tables x n_probe probe targets each (still tiny)
    q = base.where(F.col("id") < query_max_id)
    n_flip = 1
    while 2 ** n_flip < n_probe and n_flip < n_planes:
        n_flip += 1
    pow2 = "array(" + ", ".join(str(2 ** i) for i in range(n_planes)) + ")"
    probe_terms = []
    for t in range(n_tables):
        if n_probe <= 1:
            probe_terms.append(
                f"struct({t} AS t, CAST({bucket_sql(t)} AS BIGINT) AS b)")
            continue
        margins = ("array_sort(array(" + ", ".join(
            f"struct(abs(element_at(__dots, {t * n_planes + i + 1})) AS m, "
            f"{i} AS i)" for i in range(n_planes)) + "))")
        for mask in _probe_masks(n_flip, n_probe):
            b = bucket_sql(t)
            for rank in mask:
                b = (f"({b} ^ element_at({pow2}, "
                     f"element_at({margins}, {rank + 1}).i + 1))")
            probe_terms.append(f"struct({t} AS t, CAST({b} AS BIGINT) AS b)")
    q = (q.withColumn(
            "tb", F.explode(F.expr("array(" + ", ".join(probe_terms) + ")")))
          .select(F.col("id").alias("query_id"), F.col("v").alias("qv"),
                  F.col("nrm").alias("qn"), F.col("tb.t").alias("qt"),
                  F.col("tb.b").alias("qb")))
    joined = c.join(F.broadcast(q), on=[F.col("ct") == F.col("qt"),
                                        F.col("cb") == F.col("qb")])
    if n_tables > 1:
        # the same (query, neighbor) pair can match in several tables
        joined = joined.dropDuplicates(["query_id", "neighbor_id"])
    scored = (
        joined.where(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("cos", F.round(
            _dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn")), 6))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(),
                                               F.col("neighbor_id").asc())
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") <= k)
        .select("query_id", "neighbor_id", "cos")
    )
