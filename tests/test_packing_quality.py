"""Sequence packing + quality/PII operator invariants (the oracle-gated
halves live in test_extra_oracles; these cover the non-SQL-expressible
greedy packer and operator-level properties)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from datapump_spark.operators.packing import pack_concat_chunks, pack_greedy_bins
from datapump_spark.operators.pii import PII_PATTERNS, pii_redact
from datapump_spark.operators.quality import gopher_filter, with_gopher_keep

BUDGET = 1024


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")


def test_concat_chunks_bucket_width_invariant(spark, docs):
    """The two-phase prefix sum is an implementation detail: any bucket
    width must yield identical packing."""
    a = pack_concat_chunks(docs, BUDGET, bucket_width=10_000)
    b = pack_concat_chunks(docs, BUDGET, bucket_width=7)
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_concat_chunks_full_sequences(docs):
    sums = (pack_concat_chunks(docs, BUDGET)
            .groupBy("seq_id").agg(F.sum("n_tok_in_seq").alias("s")))
    max_seq = sums.agg(F.max("seq_id")).first()[0]
    short = sums.where((F.col("s") != BUDGET) & (F.col("seq_id") != max_seq))
    assert short.count() == 0          # only the tail may be partial


def test_greedy_bins_invariants(docs):
    out = pack_greedy_bins(docs, BUDGET, n_shards=8)
    n_docs = docs.count()
    # every doc packed exactly once
    assert out.count() == n_docs
    assert out.select("doc_id").distinct().count() == n_docs
    # no bin over budget unless it is a single overflow doc
    over = (out.groupBy("shard", "bin_id")
            .agg(F.sum("n_tok").alias("s"), F.count("*").alias("n"),
                 F.max(F.col("overflow").cast("int")).alias("ovf"))
            .where(F.col("s") > BUDGET))
    bad = over.where((F.col("n") > 1) | (F.col("ovf") == 0))
    assert bad.count() == 0


def test_greedy_bins_deterministic_under_partitioning(docs):
    a = pack_greedy_bins(docs, BUDGET).orderBy("doc_id").collect()
    b = (pack_greedy_bins(docs.repartition(13), BUDGET)
         .orderBy("doc_id").collect())
    assert a == b


def test_greedy_bins_overflow_flagged(spark):
    df = spark.createDataFrame(
        [(1, "w " * 50), (2, "x " * 5)], "doc_id bigint, text string")
    out = {r["doc_id"]: r for r in pack_greedy_bins(df, 10).collect()}
    assert out[1]["overflow"] and not out[2]["overflow"]
    assert out[1]["n_tok"] == 50       # never truncated here; caller decides


def test_gopher_thresholds_drive_keep(docs):
    strict = gopher_filter(docs, min_words=10**9)
    assert strict.where("keep").count() == 0
    lax = gopher_filter(docs, min_words=0, min_mean_word_len=0,
                        max_mean_word_len=1e9, min_alpha_frac=0,
                        min_stop_hits=0, max_dup_word_frac=1.0,
                        max_dup_2gram_frac=1.0)
    assert lax.where(~F.col("keep")).count() == 0


@pytest.mark.parametrize("thresholds", [{}, {"min_words": 10,
                                             "min_stop_hits": 5}])
def test_row_verdict_is_gopher_filter_keep(docs, thresholds):
    """with_gopher_keep (the streaming corpus's gate on raw rows) and
    gopher_filter take one verdict: the same keep for every doc, and the
    row keeps its own columns only."""
    rows = with_gopher_keep(docs, "text", "__keep", **thresholds)
    assert rows.columns == docs.columns + ["__keep"]
    got = sorted(map(tuple, rows.select("doc_id", "__keep").collect()))
    want = sorted(map(tuple, gopher_filter(docs, **thresholds)
                      .select("doc_id", "keep").collect()))
    assert got == want
    assert {k for _, k in got} == {True, False}


def test_pii_redact_leaves_no_matches(spark, sf_dir):
    from datapump_spark.queries import _pii_input

    clean = pii_redact(_pii_input(spark, sf_dir), id_col="c_custkey")
    for cat, (pat, _) in PII_PATTERNS.items():
        residue = clean.where(F.regexp_count("clean_text", F.lit(pat)) > 0)
        assert residue.count() == 0, f"unredacted {cat}"
