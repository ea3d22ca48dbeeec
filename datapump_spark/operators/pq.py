"""Product Quantization (PQ) for embedding columns — compressed-domain ANN.

The missing piece between brute-force cosine (exact, O(N·d) floats touched
per query) and IVF/LSH candidate pruning (``operators.similarity``): PQ
compresses each d-dim vector to ``m`` small integer codes (one per
subspace, codebook of ``k`` centroids each), a 16-64× memory reduction, and
scores queries against the *codes* via per-query lookup tables (ADC —
asymmetric distance computation, Jegou et al. 2011, "Product Quantization
for Nearest Neighbor Search"). At 100 TB this is what makes an embedding
corpus scannable at all: the compressed corpus fits in a fraction of the
executors' page cache, the scan is sequential, and nothing shuffles.

Spark-first mapping:

- **Train** (:func:`train_pq`): joint mini-k-means over all ``m`` subspaces
  at once — assignment is one Arrow-batched numpy argmin pass; the centroid
  update is ONE distributed aggregation per Lloyd round (posexplode →
  groupBy (subspace, code, pos) avg), so only ``m·k·sub_dim`` aggregate
  states cross the wire and only the tiny codebook tensor reaches the
  driver. Deterministic: codes seeded as ``id % k``, no RNG.
- **Encode** (:func:`pq_encode`): broadcast codebooks, one numpy
  distance+argmin GEMM per Arrow batch → ``codes array<int>``; store this,
  not the floats.
- **Search** (:func:`pq_topk`): queries stay exact; each query's LUT of
  ``m·k`` partial inner products is precomputed driver-side (queries are
  few) and broadcast; corpus scoring is PURE CODEGEN — ``zip_with`` the
  code array with subspace indexes into ``element_at`` LUT lookups and
  ``aggregate``-sum them. No Python touches the corpus at query time.

Composes with IVF: assign cells with ``similarity._assign_cells`` and PQ-
encode the *residuals* per cell for the classic IVF-PQ layout; here the
plain PQ scan is kept standalone so its accuracy is separately gradable.
Recall vs the exact baseline is measured in tests and surfaced by
``scripts/ann_recall.py`` (PERF.md).

Reference parity: the reference (datapump.py) has no vector search at all;
this extends SURVEY §7's similarity-search requirement along its stated
scale path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from datapump_spark.operators.similarity import _as_double, _norm, vec_dim

_CODES_SCHEMA = T.StructType([
    T.StructField("id", T.LongType()),
    T.StructField("codes", T.ArrayType(T.IntegerType())),
])


def _l2_normalized(df: DataFrame, id_col: str, vec_col: str,
                   normalize: bool = True,
                   extra: tuple[str, ...] = ()) -> DataFrame:
    """(id, v): L2-normalized double vectors — PQ for cosine similarity
    quantizes the unit sphere, so normalization happens once, up front.
    ``normalize=False`` skips it (residual quantization in IVF-PQ, where
    the input is already a difference of unit-scale vectors)."""
    if not normalize:
        return df.select(F.col(id_col).alias("id"),
                         _as_double(vec_col).alias("v"),
                         *[F.col(c) for c in extra])
    # Null or zero-norm vectors have no direction — cosine against them is
    # undefined. Drop them here (documented contract) instead of letting
    # nullif() turn them into all-null arrays that crash the numpy encode
    # kernel and fail the whole job on one degenerate row.
    # PERF (the round-5 1.5× q_pq_topk regression): the guard must (a)
    # filter on the RAW column BEFORE the cast projection — a predicate on
    # the derived `v` gets substituted through and re-runs the cast
    # transform inside the Filter — using cheap codegen collection
    # functions (any nonzero element ⇔ array_min≠0 ∨ array_max≠0 ⇔
    # norm > 0), and (b) keep the division's nullif() even though zero
    # norms are already filtered: nullif's conditional is what makes
    # Catalyst hoist the O(dim) norm fold into a once-per-row
    # _common_expr — a bare `x / nrm` re-evaluates the fold per ELEMENT
    # (O(dim²) per row; both measured on q_pq_topk, PERF.md round 6).
    # forall(isNotNull): array_min/array_max IGNORE null elements, so a
    # vector like [null, 3.0] would pass the min/max test, get a null
    # norm, and emerge all-null — the exact degenerate input this filter
    # exists to drop. Keep the predicate on the raw column (see PERF note
    # above).
    base = (df
            .where(F.col(vec_col).isNotNull()
                   & F.forall(vec_col, lambda x: x.isNotNull())
                   & ((F.array_min(vec_col) != 0.0)
                      | (F.array_max(vec_col) != 0.0)))
            .select(F.col(id_col).alias("id"), _as_double(vec_col).alias("v"),
                    *[F.col(c) for c in extra]))
    nrm = _norm(F.col("v"))
    return base.withColumn(
        "v", F.transform("v", lambda x: x / F.nullif(nrm, F.lit(0.0))))


def _encode_kernel(codebooks, extra: tuple[str, ...] = ()):
    """mapInPandas kernel: argmin L2 distance per subspace, all subspaces
    per batch in numpy. ``codebooks`` is an (m, k, sub_d) ndarray captured
    in the closure (tiny — broadcast with the task). ``extra`` columns of
    the input batch are passed through unchanged — callers that need them
    alongside the codes then skip a corpus-wide id join (r12, guide §2)."""
    import numpy as np
    import pandas as pd

    m, k, sub_d = codebooks.shape

    def kernel(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            M = np.vstack(pdf["v"].map(np.asarray).to_numpy())
            n = len(M)
            codes = np.empty((n, m), dtype="int32")
            for j in range(m):
                X = M[:, j * sub_d:(j + 1) * sub_d]          # (n, sub_d)
                C = codebooks[j]                              # (k, sub_d)
                # ||x-c||² = ||x||² - 2x·c + ||c||²; ||x||² constant per row
                d2 = -2.0 * (X @ C.T) + (C * C).sum(axis=1)[None, :]
                codes[:, j] = np.argmin(d2, axis=1)
            out = {"id": pdf["id"],
                   "codes": [r.tolist() for r in codes]}
            for c in extra:
                out[c] = pdf[c]
            yield pd.DataFrame(out)

    return kernel


def train_pq(
    df: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding",
    m: int = 8, k: int = 16, lloyd_iters: int = 3,
    dim: int | None = None, train_fraction: float = 1.0,
    normalize: bool = True,
):
    """Train PQ codebooks: returns an (m, k, sub_dim) numpy tensor.

    One distributed aggregation per Lloyd round covers ALL subspaces
    (state: m·k·sub_dim cells). ``train_fraction`` hash-samples the
    training set — at corpus scale codebooks converge on a few hundred
    thousand vectors, so training never needs the full data. Deterministic
    end to end (hash sample, id%k init, stable argmin).
    """
    import numpy as np

    dim = vec_dim(df, vec_col, dim)
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    sub_d = dim // m

    base = _l2_normalized(df, id_col, vec_col, normalize)
    if train_fraction < 1.0:
        base = base.where(
            F.pmod(F.xxhash64(F.col("id"), F.lit(42)), 1_000_000)
            < int(train_fraction * 1_000_000))
    base = base.persist()
    try:
        # round 0 assignment needs no codebook: code = id % k
        assigned = base.select(
            "id", "v", F.array_repeat((F.col("id") % k).cast("int"), m)
            .alias("codes"))
        C = None
        iters = max(1, lloyd_iters)
        codes_v_schema = T.StructType(
            list(_CODES_SCHEMA.fields)
            + [T.StructField("v", T.ArrayType(T.DoubleType()))])
        for it in range(iters):
            rows = (
                assigned.select(F.posexplode("v").alias("pos", "val"), "codes")
                .select(
                    (F.col("pos") / sub_d).cast("int").alias("j"),
                    (F.col("pos") % sub_d).alias("p"),
                    F.element_at("codes", (F.col("pos") / sub_d).cast("int") + 1)
                    .alias("code"),
                    "val")
                .groupBy("j", "code", "p").agg(F.avg("val").alias("c"))
                .collect()
            )
            if not rows:
                return None
            C = np.zeros((m, k, sub_d))
            for r in rows:
                C[r["j"], r["code"], r["p"]] = r["c"]
            if it + 1 < iters:
                # the kernel passes v through, so next round's aggregate
                # hangs directly off the encode — the former
                # .join(base, "id") re-shuffle per Lloyd round is gone;
                # the final round's re-assignment (dead: C is already
                # final) is skipped outright (r12, guide §2)
                assigned = base.mapInPandas(
                    _encode_kernel(C, extra=("v",)), codes_v_schema)
        return C
    finally:
        base.unpersist()


def pq_encode(
    df: DataFrame, codebooks, id_col: str = "vec_id",
    vec_col: str = "embedding", normalize: bool = True,
    extra: tuple[str, ...] = (),
) -> DataFrame:
    """(id, codes array<int>[, *extra]) — the compressed corpus. ``m``
    small ints per vector instead of ``dim`` floats; store/bucket THIS
    table. ``extra`` columns of ``df`` ride through the kernel unchanged
    (e.g. the IVF cell id), sparing the caller an id join."""
    base = _l2_normalized(df, id_col, vec_col, normalize, extra)
    schema = _CODES_SCHEMA
    if extra:
        by_name = {f.name: f for f in df.schema.fields}
        schema = T.StructType(list(_CODES_SCHEMA.fields)
                              + [by_name[c] for c in extra])
    return base.mapInPandas(_encode_kernel(codebooks, extra), schema)


def _adc_sum(mm: int, kk: int):
    """Codegen ADC score: ``codes[j]`` indexes the j-th stripe of the
    broadcast flat ``lut`` column — shared by the flat-PQ and IVF-PQ
    scans so the indexing arithmetic has exactly one home."""
    return F.aggregate(
        F.zip_with(
            "codes", F.sequence(F.lit(0), F.lit(mm - 1)),
            lambda c, j: F.element_at(F.col("lut"),
                                      (j * kk + c + 1).cast("int"))),
        F.lit(0.0), lambda acc, x: acc + x)


def _rank_window():
    """The engine-wide ANN rank policy: rounded score desc, id asc."""
    return Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("neighbor_id").asc())


def _top(scored: DataFrame, k: int) -> DataFrame:
    return (
        scored.withColumn("__rn", F.row_number().over(_rank_window()))
        .where(F.col("__rn") <= k)
        .select("query_id", "neighbor_id", "score")
    )


def _exact_rerank(short: DataFrame, corpus_vecs: DataFrame,
                  qv_df: DataFrame, k: int) -> DataFrame:
    """Exact-cosine re-rank of shortlist ids only: the full-precision
    corpus is probed by a broadcast id join, never scanned. ``corpus_vecs``
    = (neighbor_id, cv normalized), ``qv_df`` = (query_id, qv)."""
    from datapump_spark.operators.similarity import _dot

    rescored = (
        corpus_vecs.join(
            F.broadcast(short.select("query_id", "neighbor_id")),
            "neighbor_id")
        .join(F.broadcast(qv_df), "query_id")
        .withColumn("score", F.round(_dot(F.col("qv"), F.col("cv")), 6))
    )
    return _top(rescored, k)


def pq_topk(
    df: DataFrame, codebooks, id_col: str = "vec_id",
    vec_col: str = "embedding", k: int = 5, query_max_id: int = 10,
    codes: DataFrame | None = None, rerank_factor: int = 0,
    queries: DataFrame | None = None,
) -> DataFrame:
    """Approximate top-k by ADC scan of the compressed corpus.

    (query_id, neighbor_id, score): ``score`` = sum of per-subspace inner
    products between the exact query subvector and the neighbor's assigned
    centroid ≈ cosine (both sides normalized). Per query only the m·k LUT
    is materialized (driver-side, queries are few by contract, same as the
    exact path's broadcast); the corpus-side scan is PURE CODEGEN:
    LUT lookups via ``element_at`` + ``aggregate`` sum — no Python, no
    shuffle of the corpus, ranking on the same window policy as the exact/
    LSH/IVF paths (rounded score desc, neighbor_id asc).

    ``rerank_factor > 0`` enables the production two-stage layout: the ADC
    scan retrieves a ``k·rerank_factor`` shortlist per query, then ONLY
    those rows' float vectors are fetched (broadcast semi-join against the
    corpus — the full-precision table is touched for a few hundred ids,
    not scanned) and re-scored with exact cosine. Quantization error then
    only costs recall where a true neighbor fell outside the shortlist —
    the standard accuracy/memory trade (Jegou et al. §5.2, "IVFADC with
    re-ranking").

    Pass a precomputed ``codes`` frame (from :func:`pq_encode`, persisted)
    to skip re-encoding — the production layout, where the float vectors
    for the corpus are never read during the scan at all.
    """
    import numpy as np

    mm, kk, sub_d = codebooks.shape
    if codes is None:
        codes = pq_encode(df, codebooks, id_col, vec_col)

    # queries: an explicit (id_col, vec_col) frame (external query set —
    # ids must not collide with corpus ids, since query==neighbor rows are
    # dropped as self-matches), or by default the corpus rows below
    # query_max_id (the driver-contract convention the other ANN paths use)
    qsrc = queries if queries is not None \
        else df.where(F.col(id_col) < query_max_id)
    qrows = _l2_normalized(qsrc, id_col, vec_col).collect()
    spark = df.sparkSession
    if not qrows:
        return spark.createDataFrame(
            [], "query_id bigint, neighbor_id bigint, score double")
    luts = []
    for r in qrows:
        qv = np.asarray(r["v"], dtype="float64")
        # LUT[j*k + c] = <q_j, codebook[j][c]> — flat for element_at
        lut = np.concatenate(
            [codebooks[j] @ qv[j * sub_d:(j + 1) * sub_d]
             for j in range(mm)])
        luts.append((int(r["id"]), [float(x) for x in lut]))
    q = spark.createDataFrame(luts, "query_id bigint, lut array<double>")

    scored = (
        codes.select(F.col("id").alias("neighbor_id"), "codes")
        .crossJoin(F.broadcast(q))
        .where(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("score", F.round(_adc_sum(mm, kk), 6))
    )
    shortlist_k = k * rerank_factor if rerank_factor > 0 else k
    adc = _top(scored, shortlist_k)
    if rerank_factor <= 0:
        return adc

    # exact re-rank: fetch ONLY the shortlist rows' float vectors
    qv = spark.createDataFrame(
        [(int(r["id"]), [float(x) for x in r["v"]]) for r in qrows],
        "query_id bigint, qv array<double>")
    corpus = _l2_normalized(df, id_col, vec_col).select(
        F.col("id").alias("neighbor_id"), F.col("v").alias("cv"))
    return _exact_rerank(adc, corpus, qv, k)


def ivfpq_topk(
    df: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding",
    k: int = 5, query_max_id: int = 10, n_cells: int = 16, n_probe: int = 4,
    m: int = 8, kc: int = 64, lloyd_iters: int = 2, rerank_factor: int = 8,
    dim: int | None = None, queries: DataFrame | None = None,
) -> DataFrame:
    """The full FAISS-style IVF-PQ layout: coarse k-means cells prune the
    candidate set (equi-join on cell id, never a corpus-wide cross
    product), PQ codes of the per-cell RESIDUALS score the candidates in
    compressed form, and an exact re-rank touches only the shortlist.

    score(q, x) ≈ ⟨q, C[cell(x)]⟩ + Σⱼ ⟨qⱼ, cbⱼ[codeⱼ(x)]⟩ — the first
    term is per (query, probed cell) scalar (driver-computed, queries are
    few), the second the same shared-LUT codegen sum as :func:`pq_topk`
    (residual codebooks are cell-independent, so ONE LUT per query serves
    every probed cell).

    Composition of existing verified pieces: coarse cells =
    ``similarity._kmeans_centroids`` (the IVF trainer), codebooks =
    :func:`train_pq` with ``normalize=False`` over the residual frame,
    shortlist re-rank = the same broadcast semi-join as :func:`pq_topk`.
    At scale the corpus-side state is (cell:int, codes:m bytes) per
    vector, bucketed by cell — probe-time reads touch only n_probe/n_cells
    of it, and what they read is 8 bytes/vector, the multiplicative
    combination of IVF's candidate pruning and PQ's memory pruning.
    """
    import numpy as np

    from datapump_spark.operators.similarity import (
        _assign_cells,
        _kmeans_centroids,
    )

    spark = df.sparkSession
    base = _l2_normalized(df, id_col, vec_col)

    # Overlap the ONLY training-independent job (guide §2.6, VERDICT r12
    # #5): the query-side collect depends on df alone, so submit it from
    # a driver thread at the start — its tasks back-fill executors during
    # the kmeans/mean/train collects' stage tails instead of adding a
    # sequential job at the end. Job descriptions are thread-local;
    # inheritable_thread_target propagates the JVM-local properties.
    # qrows' VALUES are identical either way (same frame, same collect) —
    # the trained model and result cannot change. The collect runs under
    # a job tag: if training raises, the job is cancelled and the thread
    # drained before the error propagates, so no orphan job outlives it.
    import uuid
    from concurrent.futures import ThreadPoolExecutor, wait

    from pyspark import inheritable_thread_target

    qsrc = queries if queries is not None \
        else df.where(F.col(id_col) < query_max_id)
    sc = spark.sparkContext
    tag = f"ivfpq-query-collect-{uuid.uuid4().hex}"

    def _collect_queries():
        sc.setJobDescription("ivfpq: query-side collect")
        sc.addJobTag(tag)
        try:
            return _l2_normalized(qsrc, id_col, vec_col).collect()
        finally:
            sc.removeJobTag(tag)

    pool = ThreadPoolExecutor(max_workers=1)
    q_future = pool.submit(inheritable_thread_target(spark)(_collect_queries))
    pool.shutdown(wait=False)
    try:
        C = _kmeans_centroids(base.select("id", "v"), n_cells, lloyd_iters)
        if C is None:
            q_future.result()   # drain before returning (empty corpus path)
            return spark.createDataFrame(
                [], "query_id bigint, neighbor_id bigint, score double")

        # corpus: cell assignment (cosine, vs the trainer's normalized
        # centroids), then residual vs the cell MEAN — not the normalized
        # centroid. The decomposition ⟨q,x⟩ = ⟨q,c⟩ + ⟨q,x−c⟩ holds for
        # any c, but quantization error scales with ‖x−c‖, which the mean
        # minimizes; measured on this corpus the normalized-centroid
        # residual costs ~0.3 recall@10 (0.52 vs 0.81).
        # persist: the assignment kernel feeds FOUR downstream actions
        # (cell means, PQ training, encoding, and — transitively — search);
        # without it each one replays the whole mapInPandas chain. State
        # is (id, cell, v): rows × (dim+2) doubles, the already-bounded
        # corpus projection. with_v passes v through the kernel, so the
        # former cells0.join(base, "id") corpus re-shuffle is gone (r12,
        # guide §2).
        with_cell = (_assign_cells(base, C, n_probe=1, with_v=True)
                     .select("id", F.col("cells")[0].alias("cell"), "v")
                     .persist())
        mean_rows = (
            with_cell.select("cell", F.posexplode("v").alias("pos", "val"))
            .groupBy("cell", "pos").agg(F.avg("val").alias("m"))
            .collect()
        )
        dim_full = len(C[0])
        M = np.zeros((len(C), dim_full))
        for r in mean_rows:
            M[r["cell"], r["pos"]] = r["m"]
        cent_df = spark.createDataFrame(
            [(i, [float(x) for x in M[i]]) for i in range(len(M))],
            "cell int, cent array<double>")
        assigned = (
            with_cell
            .join(F.broadcast(cent_df), "cell")
            .withColumn("v_res", F.zip_with("v", "cent", lambda a, b: a - b))
            .persist()
        )
        cb = train_pq(assigned, id_col="id", vec_col="v_res", m=m, k=kc,
                      lloyd_iters=lloyd_iters, dim=dim or len(C[0]),
                      normalize=False)
        # cell rides through the encode kernel — no id join back onto the
        # corpus to re-attach it (r12, guide §2)
        from datapump_spark.cachescope import scoped_persist
        codes = scoped_persist(pq_encode(assigned, cb, id_col="id",
                                         vec_col="v_res",
                                         normalize=False, extra=("cell",)))
        # materialize the (small: id, codes, cell) index, then release the
        # corpus-sized upstream caches — leaving them pinned for the
        # session would crowd out the very scan caching the layout
        # depends on
        codes.count()
        assigned.unpersist()
        with_cell.unpersist()

        # queries: exact vectors, n_probe best cells, one LUT each. External
        # (id, vec) query frames are first-class (same contract as pq_topk:
        # ids must not collide with corpus ids); default is the
        # corpus-rows-below-query_max_id driver convention. Collected by the
        # thread submitted at the top of this function (guide §2.6).
        qrows = q_future.result()
    except BaseException:
        # cancel until the thread is done: a job submitted after one
        # cancel call would otherwise run to completion
        while not wait([q_future], timeout=0.2).done:
            sc.cancelJobsWithTag(tag)
        raise
    if not qrows:
        return spark.createDataFrame(
            [], "query_id bigint, neighbor_id bigint, score double")
    mm, kk, sub_d = cb.shape
    probes, luts = [], []
    for r in qrows:
        qv = np.asarray(r["v"], dtype="float64")
        # probe selection mirrors corpus assignment (cosine vs normalized
        # centroids); the additive score term uses the mean (matching the
        # residual decomposition)
        order = np.argsort(-(C @ qv), kind="stable")[:n_probe]
        qdots = M @ qv
        for cell in order:
            probes.append((int(r["id"]), int(cell), float(qdots[cell])))
        lut = np.concatenate(
            [cb[j] @ qv[j * sub_d:(j + 1) * sub_d] for j in range(mm)])
        luts.append((int(r["id"]), [float(x) for x in lut],
                     [float(x) for x in qv]))
    probe_df = spark.createDataFrame(
        probes, "query_id bigint, cell int, qdot double")
    lut_df = spark.createDataFrame(
        luts, "query_id bigint, lut array<double>, qv array<double>")

    scored = (
        codes.join(F.broadcast(probe_df), "cell")            # equi-join prune
        .join(F.broadcast(lut_df.select("query_id", "lut")), "query_id")
        .where(F.col("id") != F.col("query_id"))
        .select(F.col("id").alias("neighbor_id"), "query_id",
                F.round(F.col("qdot") + _adc_sum(mm, kk), 6).alias("score"))
    )
    shortlist_k = k * rerank_factor if rerank_factor > 0 else k
    short = _top(scored, shortlist_k)
    if rerank_factor <= 0:
        return short
    corpus = base.select(F.col("id").alias("neighbor_id"),
                         F.col("v").alias("cv"))
    return _exact_rerank(
        short, corpus,
        lut_df.select("query_id", "qv"), k)


def pq_reconstruction_mse(df: DataFrame, codebooks, id_col: str = "vec_id",
                          vec_col: str = "embedding") -> float:
    """Mean squared reconstruction error of the codebooks over the corpus
    (distributed; one scalar to the driver) — the trainer's loss, used to
    verify training actually reduces distortion vs untrained codebooks."""
    import numpy as np

    mm, kk, sub_d = codebooks.shape
    base = _l2_normalized(df, id_col, vec_col)
    enc = base.mapInPandas(_encode_kernel(codebooks), _CODES_SCHEMA) \
        .join(base, "id")
    flat = [float(x) for x in codebooks.reshape(-1)]
    cb = F.lit(flat)
    err = F.aggregate(
        F.zip_with(
            "v", F.sequence(F.lit(0), F.lit(mm * sub_d - 1)),
            lambda x, pos: F.pow(
                x - F.element_at(
                    cb,
                    ((pos / sub_d).cast("int") * kk
                     + F.element_at("codes", (pos / sub_d).cast("int") + 1))
                    * sub_d + pos % sub_d + 1),
                F.lit(2.0))),
        F.lit(0.0), lambda acc, x: acc + x)
    row = enc.select(F.avg(err).alias("mse")).first()
    return float(row["mse"]) if row and row["mse"] is not None else float("nan")
