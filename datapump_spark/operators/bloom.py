"""Bloom-filter membership pruning — pure Catalyst, no Python in the scan.

Spark's own ``bloom_filter_agg``/``might_contain`` expressions exist but
are not registered for SQL/PySpark use (they serve the optimizer's
runtime-filter injection), so this module builds the same structure from
public primitives, both sides whole-stage-codegen:

- **build**: k probe positions per key from ``xxhash64(key, seed_i)``,
  exploded, reduced with ``bit_or(shiftleft(1, pos % 64))`` grouped by
  word index — a distributed bitmap build whose shuffle is at most
  ``m/64`` rows regardless of input size. The dense word array (m bits
  total) is the ONLY thing collected: 1.2 MB per million indexed keys at
  1% fpp — bounded model state, same doctrine as PQ codebooks.
- **probe**: the bitmap rides along as a one-row broadcast array column;
  each key tests its k positions with ``element_at`` + bit masking inside
  ``forall`` — no Python, no shuffle, no join.

What it is for: :func:`bloom_incremental_dedup` is an answer-identical
variant of the incremental exact-dedup gate (operators/incremental), used
by the ``q_bloom_dedup`` query; the streaming corpus ingest runs the plain
gate. The plain gate anti-joins every batch against the fingerprint
index, which shuffles the whole batch even when 99% of it is novel. A
Bloom pre-filter built FROM the index routes definite-novel rows (no
false negatives, by construction) straight through with zero shuffle;
only the ``might``-members (true dups + fpp false positives) pay the
exact anti-join, so on a mostly-novel batch the gate is scan-bound
instead of join-bound.

Reference parity: the reference has no membership index at all (its
upsert re-reads the whole table, datapump.py:375-376); this is part of
the incremental-pipeline extension surface. xxhash64 is engine-internal
(never compared cross-engine); the composed dedup output is EXACTLY the
plain anti-join's, which is what the DuckDB oracle checks.
"""

from __future__ import annotations

import math

from datapump_spark.cachescope import persist_shared, scoped_persist

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: cap on collected bitmap words (2^26 longs = 512 MB) — past this the
#: index should be sharded by fingerprint prefix, not densified
MAX_WORDS = 1 << 26


def optimal_params(n_items: int, fpp: float = 0.01) -> tuple[int, int]:
    """(m_bits, k_hashes) minimizing memory at the target false-positive
    rate — the standard Bloom sizing: m = -n·ln p / ln²2, k = m/n·ln 2."""
    n_items = max(1, n_items)
    m = max(64, int(-n_items * math.log(fpp) / (math.log(2) ** 2)))
    m = (m + 63) & ~63                      # whole 64-bit words
    # cap k: when the 64-bit floor makes m/n huge (near-empty index), the
    # formula asks for dozens of probes that buy nothing — 24 bit tests
    # already reaches fpp 2^-24 territory
    k = max(1, min(24, round(m / n_items * math.log(2))))
    return m, k


def _position(key: Column, m: int, seed: int) -> Column:
    """Probe bit-position ``seed`` for ``key`` — the ONE place the hash
    family lives, shared verbatim by build and probe (a build/probe
    mismatch would silently break the no-false-negative guarantee, so
    there must be exactly one definition)."""
    return F.pmod(F.xxhash64(key, F.lit(seed)), F.lit(m))


def _positions(key: Column, m: int, k: int) -> Column:
    """array<bigint> of all k probe positions (build side, for explode)."""
    return F.array(*[_position(key, m, s) for s in range(1, k + 1)])


def build_bloom(df: DataFrame, key_col: str, n_items: int | None = None,
                fpp: float = 0.01) -> dict:
    """Build a Bloom filter over ``df[key_col]`` (any hashable type).

    Returns ``{"words": list[int], "m": int, "k": int}`` — JSON-able,
    persistable via functions.model_io alongside the index it summarizes.
    ``n_items`` sizes the filter (default: counted with one agg).
    """
    if n_items is None:
        n_items = df.select(F.count(F.lit(1))).first()[0]
    m, k = optimal_params(n_items, fpp)
    if m // 64 > MAX_WORDS:
        raise ValueError(
            f"bloom bitmap would need {m // 64} words (> {MAX_WORDS}); "
            "shard the index by key prefix instead of one dense filter")
    key = F.col(key_col)
    words = (
        df.where(key.isNotNull())
        .select(F.explode(_positions(key, m, k)).alias("pos"))
        .select((F.col("pos") / 64).cast("long").alias("w"),
                # the SQL shiftleft takes a column shift amount; the
                # python wrapper F.shiftleft insists on a literal int
                F.expr("shiftleft(CAST(1 AS BIGINT), "
                       "CAST(pmod(pos, 64) AS INT))").alias("bit"))
        .groupBy("w").agg(F.bit_or("bit").alias("bits"))
        .collect()
    )
    dense = [0] * (m // 64)
    for r in words:
        dense[r["w"]] = r["bits"]
    return {"words": dense, "m": m, "k": k}


def with_bloom_contains(df: DataFrame, bloom: dict, key_col: str,
                        out_col: str = "bloom_maybe") -> DataFrame:
    """Append ``out_col``: false ⇒ key DEFINITELY not in the indexed set;
    true ⇒ maybe (true member or false positive, rate ≈ fpp).

    The bitmap joins in as a single broadcast row; the probe is
    ``forall`` over k ``element_at`` bit tests — whole-stage codegen,
    null keys probe as null (three-valued, like SQL ``IN``)."""
    m, k = bloom["m"], bloom["k"]
    spark = df.sparkSession
    bits = spark.createDataFrame([(bloom["words"],)],
                                 "__bloom_words array<bigint>")
    def bit_test(pos: Column) -> Column:
        return F.bit_get(
            F.element_at(F.col("__bloom_words"), (pos / 64).cast("int") + 1),
            F.pmod(pos, F.lit(64))) == 1

    # k unrolled conjuncts, NOT forall over a position array: a lambda
    # whose body mixes lambda-bound variables with the broadcast side's
    # array column trips attribute resolution inside the broadcast join
    # (INTERNAL_ERROR_ATTRIBUTE_NOT_FOUND, Spark 4.1); k is a small
    # literal so the flat expression is also the faster codegen
    probe = bit_test(_position(F.col(key_col), m, 1))
    for s in range(2, k + 1):
        probe = probe & bit_test(_position(F.col(key_col), m, s))
    # xxhash64(NULL, seed) hashes to a real value (it folds nulls into the
    # seed), so three-valued semantics need an explicit guard
    probe = F.when(F.col(key_col).isNull(), F.lit(None)).otherwise(probe)
    return (df.crossJoin(F.broadcast(bits))
            .select(*df.columns, probe.alias(out_col)))


def bloom_incremental_dedup(
    batch: DataFrame,
    corpus_fps: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    fpp: float = 0.01,
    n_index: int | None = None,
) -> DataFrame:
    """Exact incremental dedup with a Bloom fast path: identical output
    to :func:`operators.incremental.incremental_dedup` (the filter has no
    false negatives, so it only PRUNES the anti-join input — never
    changes the answer), but rows whose fingerprint is definitely novel
    skip the index join entirely.

    Plan shape: one scan of the batch computes fp + bloom_maybe; the
    maybe-stream (dup rate + fpp of the batch) anti-joins the persisted
    index; the definite-novel stream is a pure filter. Within-batch
    first-occurrence dedupe is the same min_by groupBy as the exact path.
    """
    from datapump_spark.operators.dedup_fuzzy import normalize_text

    # persisted (r12, guide §1.2/§5): the index fingerprints feed both
    # the bitmap build and the maybe-side anti-join; at production scale
    # this frame is the persisted bucketed index (a scan, not a
    # recompute — see incremental.py), in-bench it is a computed md5
    # distinct that would otherwise run twice.
    corpus_fps = persist_shared(corpus_fps)  # Distinct lineage -> persists
    bloom = build_bloom(corpus_fps, "fp", n_items=n_index, fpp=fpp)
    fp = F.md5(normalize_text(F.col(text_col)))
    stamped = with_bloom_contains(
        batch.withColumn("fp", fp), bloom, "fp")
    # within-batch winner per fp first (same semantics as the exact path:
    # lowest id wins), then route by the bloom verdict
    firsts = (
        stamped.groupBy("fp")
        .agg(F.min_by(F.struct(*[c for c in stamped.columns
                                 if c not in ("fp", "bloom_maybe")]),
                      F.col(id_col)).alias("__row"),
             F.first("bloom_maybe").alias("bloom_maybe"))
        .select("fp", "bloom_maybe", "__row.*")
    )
    # persisted: the novel filter and the maybe anti-join both consume
    # the winner frame (one md5+probe+groupBy pass instead of two)
    firsts = persist_shared(firsts)  # Aggregate lineage -> persists
    # Null-text rows have a null fp, so bloom_maybe is null (three-valued
    # probe above) and would fail BOTH filters — silently dropping rows
    # the exact path keeps. Route null verdicts through the anti-join
    # side: a null fp never equi-matches the index, so the left_anti
    # keeps it, exactly like incremental_dedup.
    verdict = F.coalesce(F.col("bloom_maybe"), F.lit(True))
    novel = firsts.where(~verdict).drop("bloom_maybe")
    maybe = (firsts.where(verdict).drop("bloom_maybe")
             .join(corpus_fps.select("fp"), "fp", "left_anti"))
    return novel.unionByName(maybe)
