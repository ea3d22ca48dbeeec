"""SQ8 scalar quantization for embedding search — the middle compression
point of the ANN family.

Per-dimension affine 8-bit quantization (FAISS ``ScalarQuantizer``
QT_8bit layout): codes are ``dim`` bytes per vector (8× smaller than
float64 arrays) with near-exact recall, sitting between the
full-precision scan (exact, dim×8 bytes) and PQ (m bytes, coarser).
When PQ's codebook distortion costs too much recall and floats cost too
much memory/IO, SQ8 is the standard answer.

Spark-first shape, same doctrine as ``operators/pq.py``:

- **train**: per-dim min/max in ONE distributed aggregation over the
  posexploded corpus (state: 2×dim doubles — bounded model, like PQ
  codebooks).
- **encode**: pure codegen ``zip_with`` against broadcast min/step
  literal arrays — a scan, no shuffle, no Python.
- **search**: the affine structure folds into one dot product:
  score = ⟨q, min⟩ (per-query scalar) + Σᵢ (qᵢ·stepᵢ)·codeᵢ — the
  second term a codegen zip_with/aggregate over the int codes with the
  per-query weighted vector broadcast, exactly pq_topk's LUT pattern
  with the LUT replaced by a weight array. Optional exact re-rank of the
  shortlist reuses pq's broadcast-semi-join helper.

The driver only ever holds the 2×dim model and the query set (few by
contract, same as every other ANN path here).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from datapump_spark.operators.pq import (
    _exact_rerank,
    _l2_normalized,
    _top,
)


def train_sq8(df: DataFrame, id_col: str = "vec_id",
              vec_col: str = "embedding", normalize: bool = True,
              dim: int | None = None) -> dict:
    """Per-dimension (min, step) over the corpus. step = (max-min)/255;
    a constant dimension gets step 0 and always encodes to code 0.

    One 2×dim-buffer aggregate over the array column (``min(v[i])`` /
    ``max(v[i])`` per dimension) instead of the former posexplode →
    groupBy(pos): the explode multiplied the corpus by dim before the
    aggregation and was HALF of q_sq8_topk's wall (measured r12
    optimization round: train 1.65 s of a 3.7 s query; guide §1.2 —
    same values, min/max over v[i] sees exactly the elements the
    explode saw). Pass ``dim`` when known (free); else one first-row
    peek.

    Assumes a UNIFORM vector width (every row's array has the same
    length — the contract of every embedding table here): ``dim`` is
    inferred from the first row when not passed, so a ragged corpus
    would be truncated to the first vector's width (the old posexplode
    formulation would instead have widened to the longest). Emptiness
    is detected from count(1) in the same aggregate, not from lo0's
    nullness (dimension 0 being all-null is not emptiness) — r12
    ADVICE. A dimension that is null in every row (ragged or
    null-padded vectors) raises ValueError naming it."""
    from datapump_spark.operators.similarity import vec_dim

    base = _l2_normalized(df, id_col, vec_col, normalize)
    dim = vec_dim(base, "v", dim)
    row = base.selectExpr(
        "count(1) AS n",
        *[f"min(v[{i}]) AS lo{i}" for i in range(dim)],
        *[f"max(v[{i}]) AS hi{i}" for i in range(dim)],
    ).first()
    if row is None or row["n"] == 0:
        raise ValueError("train_sq8: empty corpus")
    null_dims = [i for i in range(dim) if row[f"lo{i}"] is None]
    if null_dims:
        raise ValueError(
            f"train_sq8: dimension {null_dims[0]} is null in every vector "
            f"({len(null_dims)} all-null dimension(s) of {dim}); ragged or "
            "null-padded vectors break the uniform-width contract")
    mins = [float(row[f"lo{i}"]) for i in range(dim)]
    steps = [(float(row[f"hi{i}"]) - float(row[f"lo{i}"])) / 255.0
             for i in range(dim)]
    return {"mins": mins, "steps": steps}


def _lits(xs: list[float]):
    return F.lit([float(x) for x in xs])


def sq8_encode(df: DataFrame, model: dict, id_col: str = "vec_id",
               vec_col: str = "embedding", normalize: bool = True) -> DataFrame:
    """(id, codes array<int> in 0..255) — dim bytes of information per
    vector; store/bucket THIS. Pure codegen: zip the vector against the
    broadcast min/step arrays, round, clamp."""
    base = _l2_normalized(df, id_col, vec_col, normalize)
    steps = _lits(model["steps"])
    mins = _lits(model["mins"])
    codes = F.zip_with(
        F.zip_with("v", mins, lambda x, lo: x - lo),
        steps,
        lambda d, s: F.when(s > 0.0, F.least(
            F.lit(255), F.greatest(F.lit(0), F.round(d / s).cast("int"))))
        .otherwise(F.lit(0)))
    return base.select("id", codes.alias("codes"))


def sq8_topk(
    df: DataFrame, model: dict, id_col: str = "vec_id",
    vec_col: str = "embedding", k: int = 5, query_max_id: int = 10,
    codes: DataFrame | None = None, rerank_factor: int = 0,
    queries: DataFrame | None = None, strategy: str = "expr",
) -> DataFrame:
    """Approximate top-k over the SQ8-compressed corpus.

    (query_id, neighbor_id, score): score = ⟨q, dequant(codes)⟩ ≈ cosine
    (both sides normalized). ``rerank_factor > 0`` re-scores the
    k·factor shortlist with exact cosine via a broadcast semi-join
    (pq_topk's two-stage layout).

    Two scan strategies, identical results (equivalence tested), the
    same dual-path doctrine as ``operators.decontam``:

    - ``'expr'``: one codegen-side zip_with/aggregate per (row, query)
      with a per-query weight array broadcast — zero Python, the
      oracle-friendly plan. Spark evaluates higher-order lambdas
      interpreted, so cost is ~dim lambda evals per scored pair.
    - ``'pandas'``: Arrow-batched GEMM — every batch's code matrix
      multiplies the whole query weight matrix at once (numpy BLAS,
      ~dim·n·q flops with no interpreter in the loop). The production
      path when queries are many; still no shuffle, nothing on the
      driver beyond the 2×dim model and the query set."""
    import numpy as np

    if codes is None:
        codes = sq8_encode(df, model, id_col, vec_col)
    qsrc = queries if queries is not None \
        else df.where(F.col(id_col) < query_max_id)
    qrows = _l2_normalized(qsrc, id_col, vec_col).collect()
    spark = df.sparkSession
    if not qrows:
        return spark.createDataFrame(
            [], "query_id bigint, neighbor_id bigint, score double")
    mins = np.asarray(model["mins"])
    steps = np.asarray(model["steps"])
    qids = [int(r["id"]) for r in qrows]
    Q = np.asarray([r["v"] for r in qrows], dtype="float64")
    qmins = Q @ mins                       # per-query scalar term
    W = Q * steps                          # per-query folded weights
    q = spark.createDataFrame(
        [(qids[i], float(qmins[i]), [float(x) for x in W[i]],
          [float(x) for x in Q[i]]) for i in range(len(qids))],
        "query_id bigint, qmin double, w array<double>, qv array<double>")

    if strategy == "expr":
        scored = (
            codes.select(F.col("id").alias("neighbor_id"), "codes")
            .crossJoin(F.broadcast(q.select("query_id", "qmin", "w")))
            .where(F.col("neighbor_id") != F.col("query_id"))
            .withColumn(
                "score",
                F.round(
                    F.col("qmin") + F.aggregate(
                        F.zip_with("codes", "w", lambda c, wi: c * wi),
                        F.lit(0.0), lambda acc, x: acc + x),
                    6))
        )
    elif strategy == "pandas":
        import pandas as pd

        qid_arr = np.asarray(qids)

        def kernel(batches):
            for pdf in batches:
                if not len(pdf):
                    continue
                C = np.asarray([np.asarray(c, dtype="float64")
                                for c in pdf["codes"]])
                S = C @ W.T + qmins        # (batch, n_queries)
                nid = pdf["id"].to_numpy()
                n, nq = S.shape
                yield pd.DataFrame({
                    "neighbor_id": np.repeat(nid, nq),
                    "query_id": np.tile(qid_arr, n),
                    "score": np.round(S.reshape(-1), 6),
                })

        scored = codes.mapInPandas(
            kernel,
            "neighbor_id bigint, query_id bigint, score double",
        ).where(F.col("neighbor_id") != F.col("query_id"))
    else:
        raise ValueError(f"strategy must be 'expr' or 'pandas': {strategy!r}")

    shortlist_k = k * rerank_factor if rerank_factor > 0 else k
    approx = _top(scored, shortlist_k)
    if rerank_factor <= 0:
        return approx
    corpus = _l2_normalized(df, id_col, vec_col).select(
        F.col("id").alias("neighbor_id"), F.col("v").alias("cv"))
    return _exact_rerank(approx, corpus, q.select("query_id", "qv"), k)


def sq8_reconstruction_mse(df: DataFrame, model: dict,
                           id_col: str = "vec_id",
                           vec_col: str = "embedding") -> float:
    """Mean squared dequantization error over the corpus — one scalar to
    the driver; bounds the score error of the compressed scan."""
    base = _l2_normalized(df, id_col, vec_col)
    enc = sq8_encode(df, model, id_col, vec_col).join(base, "id")
    mins, steps = _lits(model["mins"]), _lits(model["steps"])
    deq = F.zip_with(
        F.zip_with("codes", steps, lambda c, s: c * s),
        mins, lambda x, lo: x + lo)
    err = F.aggregate(
        F.zip_with("v", deq, lambda a, b: F.pow(a - b, F.lit(2.0))),
        F.lit(0.0), lambda acc, x: acc + x)
    row = enc.select(F.avg(err).alias("mse")).first()
    return float(row["mse"]) if row and row["mse"] is not None else float("nan")
