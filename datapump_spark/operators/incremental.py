"""Incremental corpus deduplication — admit only novel documents from an
incoming batch into an existing corpus.

A growing pre-training corpus is never deduplicated from scratch: each
crawl/ingest batch is checked against the fingerprints of everything
already admitted, and only first-seen content enters. The reference has
the per-file flavor of this (`datapump.py:545-566` dedupes a file against
itself, then PK-upserts), this operator is the corpus-content flavor a
100 TB pipeline needs.

Scale design:

- The comparison key is a 16-byte md5 fingerprint of normalized text
  (:func:`~datapump_spark.operators.dedup_fuzzy.normalize_text`), never
  the text itself — the anti-join shuffles ids+hashes only.
- Within-batch winners come from one ``row_number`` over the fingerprint
  (batch-sized, cheap); novelty is a ``left_anti`` join against the
  corpus fingerprint *index*, not the corpus rows.
- At 100 TB the fingerprint index is a persisted table bucketed by
  fingerprint (``writeTo(...).partitionedBy(bucket(N, 'fp'))`` or
  ``DISTRIBUTE BY``): the daily batch (GBs) shuffles to meet it; the
  index (TBs) never moves. ``fingerprints()`` exposes exactly the frame
  to persist for that. AQE turns the anti-join into a broadcast when a
  small corpus makes that cheaper.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from datapump_spark.cachescope import scoped_persist
from datapump_spark.functions.sqltext import sql_ident
from datapump_spark.operators.dedup_fuzzy import normalize_text


def fingerprints(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Distinct content fingerprints of a corpus — the index an
    incremental pipeline persists (bucketed by ``fp``) between batches."""
    return df.select(
        F.md5(normalize_text(F.col(sql_ident(text_col)))).alias("fp")
    ).distinct()


def incremental_dedup(
    batch: DataFrame,
    corpus_fps: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Rows of ``batch`` that are novel: not content-duplicates of the
    existing corpus and the first (lowest ``id_col``) occurrence of their
    content within the batch.

    ``corpus_fps`` is a one-column ``fp`` frame (from :func:`fingerprints`
    or the persisted index). Returns the surviving batch rows with their
    ``fp`` appended, so callers can append them straight onto the index.
    """
    fp = F.md5(normalize_text(F.col(sql_ident(text_col))))
    w = Window.partitionBy("fp").orderBy(F.col(sql_ident(id_col)).asc())
    firsts = (
        batch.withColumn("fp", fp)
        .withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__rn")
    )
    return firsts.join(corpus_fps.select("fp"), "fp", "left_anti")


# ---------------------------------------------------------------------------
# Incremental NEAR-dup: MinHash-signature index persisted across batches
# ---------------------------------------------------------------------------

def signature_index(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
    bands: int = 4, rows_per_band: int = 4, shingle_n: int = 3,
    hash_fn: str = "md5",
) -> DataFrame:
    """(id, mh0..mh{k-1}) MinHash signatures of a corpus — the near-dup
    index an incremental pipeline persists between batches (k = bands ×
    rows_per_band). At 100 TB this is k×8 bytes per admitted doc,
    bucketed by any band key for shuffle-free probing; the corpus text
    never re-enters the loop."""
    from datapump_spark.operators.dedup_fuzzy import minhash_signatures

    return minhash_signatures(df, id_col, text_col,
                              k=bands * rows_per_band,
                              shingle_n=shingle_n, hash_fn=hash_fn)


def _banded(sigs: DataFrame, id_col: str, bands: int,
            rows_per_band: int) -> DataFrame:
    from datapump_spark.operators.dedup_fuzzy import lsh_candidate_pairs  # noqa: F401  (shared banding doctrine)
    band_structs = F.array(*[
        F.struct(
            F.lit(b).alias("band"),
            F.struct(*[
                F.col(f"mh{b * rows_per_band + r}").alias(f"r{r}")
                for r in range(rows_per_band)
            ]).alias("key"))
        for b in range(bands)])
    return (sigs.select(F.col(id_col), F.explode(band_structs).alias("bk"))
            .select(id_col, "bk.band", "bk.key"))


def incremental_near_dup(
    batch: DataFrame,
    index_sigs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
    bands: int = 4,
    rows_per_band: int = 4,
    shingle_n: int = 3,
    hash_fn: str = "md5",
) -> DataFrame:
    """Rows of ``batch`` that are near-novel: not a MinHash near-duplicate
    (estimated Jaccard ≥ ``threshold``) of any already-admitted doc in
    ``index_sigs``, nor of a lower-id batch doc. The incremental twin of
    :func:`~datapump_spark.operators.dedup_fuzzy.minhash_near_dup_pairs`,
    for the streaming-corpus case where admitted TEXT is gone and only
    the signature index survives.

    Jaccard is estimated as the fraction of agreeing minhashes — the
    unbiased MinHash estimator; with k = bands×rows_per_band components
    its resolution is 1/k, so pick k to match the threshold granularity
    (k=16 ⇒ ±0.0625 steps). Candidates come from band equi-joins against
    the index (the batch, GBs, shuffles to meet the bucketed index, TBs,
    which never moves); only band-colliding pairs pay the k-way
    agreement check. Returns surviving batch rows with their signature
    columns appended, ready to union onto the persisted index.
    """
    k = bands * rows_per_band
    # Persist both signature frames (r12, guide §1.2/§5): each is k×8
    # bytes/doc but their LINEAGE is a full tokenize+shingle+minhash
    # pass, and the plan consumes the batch signatures four times
    # (banding, cross-index agreement, within-batch survivors, final
    # append) and the index twice (banding, agreement) — unpersisted,
    # the measured plan held 106 Exchanges from re-executed subtrees.
    # At production scale ``index_sigs`` is a materialized bucketed
    # table, so its persist caches a plain scan (or is dropped by the
    # caller passing an already-cached frame) — it never re-runs the
    # corpus signature computation, which is exactly the property this
    # persist gives the in-bench computed frame.
    sigs_b = scoped_persist(signature_index(
        batch, id_col, text_col, bands, rows_per_band, shingle_n, hash_fn))
    index_sigs = scoped_persist(index_sigs)

    def est(a_pref: str, b_pref: str):
        # one parsed expression instead of ~6 py4j Column calls per term
        # for the k-term agreement sum (r13, guide §7.3; identical expression)
        agree = " + ".join(
            f"CAST(({a_pref}.mh{i} = {b_pref}.mh{i}) AS INT)"
            for i in range(k))
        return F.expr(f"({agree}) / CAST({k} AS DOUBLE)")

    # cross-index near-dups: band collision → signature agreement
    bb = _banded(sigs_b, id_col, bands, rows_per_band)
    bi = _banded(index_sigs, id_col, bands, rows_per_band) \
        .withColumnRenamed(id_col, "__idx_id")
    hit_ids = (
        bb.join(bi, ["band", "key"])
        .select(id_col, "__idx_id").distinct()
        .join(sigs_b.alias("a"), id_col)
        .join(index_sigs.withColumnRenamed(id_col, "__idx_id").alias("x"),
              "__idx_id")
        .where(est("a", "x") >= threshold)
        .select(id_col).distinct()
    )
    hit_ids = scoped_persist(hit_ids)  # tiny id list; both survivor consumers
    survivors = batch.join(hit_ids, id_col, "left_anti")

    # within-batch near-dups: lowest id wins (same banding + estimator);
    # persisted — consumed by the banding self-join AND both sides of
    # the agreement check
    surv_sigs = scoped_persist(
        sigs_b.join(survivors.select(id_col), id_col, "semi"))
    sb = _banded(surv_sigs, id_col, bands, rows_per_band)
    pair_hits = (
        sb.alias("p").join(
            sb.withColumnRenamed(id_col, "__peer").alias("q"),
            ["band", "key"])
        .where(F.col(id_col) > F.col("__peer"))
        .select(id_col, "__peer").distinct()
        .join(surv_sigs.alias("a"), id_col)
        .join(surv_sigs.withColumnRenamed(id_col, "__peer").alias("x"),
              "__peer")
        .where(est("a", "x") >= threshold)
        .select(id_col).distinct()
    )
    # LEFT join: a batch doc with fewer than shingle_n tokens has no
    # shingles → no signature row, but it is trivially novel (it can
    # collide with nothing) and must be ADMITTED, not silently dropped —
    # it surfaces with null mh columns; callers persisting the index
    # should filter those out (nothing to probe against)
    return (survivors.join(pair_hits, id_col, "left_anti")
            .join(sigs_b, id_col, "left"))


def gram_index(df: DataFrame, id_col: str = "doc_id",
               text_col: str = "text", n: int = 15,
               hash_fn: str = "md5") -> DataFrame:
    """Distinct token ``n``-gram hashes of a corpus — the index an
    incremental SPAN dedup persists (bucketed by ``gram``) between
    batches. Recompute over admitted ``clean_text`` after each
    :func:`incremental_span_dedup` pass and append."""
    from datapump_spark.operators.line_dedup import (
        doc_gram_positions,
        tokenized_docs,
    )

    d = tokenized_docs(df, id_col, text_col)
    return doc_gram_positions(d, id_col, n, hash_fn).select("gram").distinct()


def incremental_span_dedup(
    batch: DataFrame,
    corpus_grams: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 15,
    hash_fn: str = "md5",
) -> DataFrame:
    """Span-level incremental dedup: cut every ``n``-token span of the
    incoming batch whose gram already exists in the persisted corpus
    gram index (EVERY occurrence — the content is already admitted), and
    every in-batch repeat beyond the first occurrence of a novel gram
    (the ``remove_duplicate_spans`` rule applied batch-internally).

    Returns ``(id, n_tokens, n_removed, clean_text)`` for every batch
    doc. Append ``gram_index`` of the non-empty clean texts to the
    persisted index afterwards — recomputing over the CLEANED text keeps
    the index exactly equal to admitted content (a gram whose span was
    partially cut by an overlapping indexed gram is NOT falsely
    admitted).

    Scale shape: the batch grams shuffle to meet the bucketed index
    (semi + anti joins on the 8-byte gram key — the index never moves);
    the in-batch winner search is one batch-sized aggregation.
    """
    from datapump_spark.operators.line_dedup import (
        cut_spans,
        doc_gram_positions,
        tokenized_docs,
    )

    d = tokenized_docs(batch, id_col, text_col)
    grams = doc_gram_positions(d, id_col, n, hash_fn)
    indexed = grams.join(corpus_grams, "gram", "semi").select(id_col, "pos")
    novel = grams.join(corpus_grams, "gram", "anti")
    dup = (novel.groupBy("gram")
           .agg(F.count("*").alias("__c"),
                F.min(F.struct(F.col(id_col), F.col("pos"))).alias("__w"))
           .where(F.col("__c") >= 2)
           .select("gram", "__w"))
    batch_dups = (
        novel.join(dup, "gram")
        .where(~((F.col(id_col) == F.col(f"__w.{id_col}"))
                 & (F.col("pos") == F.col("__w.pos"))))
        .select(id_col, "pos")
    )
    return cut_spans(d, indexed.unionByName(batch_dups), id_col, n)
