"""Incremental corpus dedup (operators/incremental.py)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from datapump_spark.operators.incremental import fingerprints, incremental_dedup


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id bigint, text string")


def test_incremental_dedup_drops_corpus_and_batch_dups(spark):
    corpus = _docs(spark, [(1, "the cat sat"), (2, "dogs bark loudly")])
    batch = _docs(spark, [
        (10, "an entirely new document"),
        (11, "The CAT sat!"),            # corpus dup (normalization)
        (12, "an entirely new document"),  # in-batch dup of 10
        (13, "another novel text"),
    ])
    out = incremental_dedup(batch, fingerprints(corpus))
    kept = {r.doc_id for r in out.collect()}
    assert kept == {10, 13}
    assert set(out.columns) == {"fp", "doc_id", "text"}


def test_incremental_dedup_in_batch_keeps_lowest_id(spark):
    corpus = _docs(spark, [])
    batch = _docs(spark, [(5, "same text"), (3, "same text"), (9, "same text")])
    out = incremental_dedup(batch, fingerprints(corpus)).collect()
    assert [r.doc_id for r in out] == [3]


def test_fingerprints_distinct(spark):
    df = _docs(spark, [(1, "a b"), (2, "A, b"), (3, "c")])
    assert fingerprints(df).count() == 2


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


BASE = ("the quick brown fox jumps over the lazy dog while the small bird "
        "watches from a tall tree and sings a very long morning song")
OTHER = ("completely unrelated material about harbors lighthouses and the "
         "slow tides that carry the evening ships home to port at night")


# slow: the operator's full semantics pass the identical DuckDB gate via
# q_incremental_near_dup in scripts/check_oracle.py every round, and the
# cross-batch streaming composition stays in the default set
# (test_streaming_corpus.test_cross_batch_near_dup_index).
@pytest.mark.slow
def test_incremental_near_dup_vs_persisted_index(spark):
    """Batch docs near-identical to already-admitted content are dropped
    using ONLY the persisted signature index (no corpus text); unrelated
    docs survive with their signatures appended."""
    from datapump_spark.operators.incremental import (
        incremental_near_dup,
        signature_index,
    )

    # bands=2 (k=8): half the hash/codegen cost of the default profile;
    # estimator resolution 0.125 is ample for the ~0.9-vs-0.0 contrasts here
    corpus = _docs(spark, [(1, BASE), (2, OTHER)])
    idx = signature_index(corpus, bands=2)

    batch = _docs(spark, [
        (10, BASE + " tweak"),               # near-dup of admitted doc 1
        (11, OTHER),                         # exact re-send of doc 2
        (12, "fresh words about deserts canyons and the dry wind that "
             "carves stone arches over ten thousand patient years"),
    ])
    got = incremental_near_dup(batch, idx, threshold=0.5, bands=2)
    rows = got.collect()
    assert sorted(r["doc_id"] for r in rows) == [12]
    # survivors carry mh0..mh15 ready to union onto the index
    assert {f"mh{i}" for i in range(8)} <= set(got.columns)

    # appending the survivors' signatures makes a re-sent batch all-dup
    idx2 = idx.unionByName(got.select(idx.columns))
    again = incremental_near_dup(batch, idx2, threshold=0.5, bands=2)
    assert again.count() == 0


def test_incremental_near_dup_within_batch_lowest_id_wins(spark):
    from datapump_spark.operators.incremental import (
        incremental_near_dup,
        signature_index,
    )

    empty_idx = signature_index(_docs(spark, []), bands=2)
    batch = _docs(spark, [
        (21, BASE), (20, BASE + " extra"), (30, OTHER),
    ])
    got = sorted(r["doc_id"] for r in
                 incremental_near_dup(batch, empty_idx, bands=2).collect())
    assert got == [20, 30]                    # 21 loses to lower-id 20


def test_incremental_near_dup_sub_shingle_docs_admitted(spark):
    """A batch doc with fewer than shingle_n tokens produces no shingles
    and hence no signature — but it can collide with nothing, so it is
    trivially novel and must be ADMITTED (null mh columns), not silently
    dropped by an inner signature join."""
    from datapump_spark.operators.incremental import (
        incremental_near_dup,
        signature_index,
    )

    idx = signature_index(_docs(spark, [(1, BASE)]), bands=2)
    batch = _docs(spark, [(40, "hi"), (41, OTHER)])   # "hi" < 3 tokens
    rows = {r["doc_id"]: r for r in
            incremental_near_dup(batch, idx, bands=2).collect()}
    assert sorted(rows) == [40, 41]
    assert rows[40]["mh0"] is None            # nothing to index
    assert rows[41]["mh0"] is not None


def test_incremental_span_dedup_two_batches(spark):
    """Batch 1 against an empty index behaves like in-batch ExactSubstr;
    batch 2 loses EVERY occurrence of passages already admitted (no
    winner kept) while novel prose survives; the refreshed index equals
    admitted content."""
    from datapump_spark.operators.incremental import (
        gram_index,
        incremental_span_dedup,
    )

    passage = " ".join(f"p{j}" for j in range(6))
    b1 = spark.createDataFrame(
        [(1, passage + " tail1a tail1b tail1c"),
         (2, " ".join(f"own{j}" for j in range(9)))],
        "doc_id bigint, text string")
    empty = spark.createDataFrame([], "gram bigint")
    out1 = incremental_span_dedup(b1, empty, n=6)
    c1 = {r.doc_id: (r.n_removed, r.clean_text) for r in out1.collect()}
    assert c1[1][0] == 0 and c1[2][0] == 0          # nothing repeated yet

    idx = gram_index(
        out1.where("clean_text != ''")
            .select("doc_id", F.col("clean_text").alias("text")), n=6)

    # batch 2: doc 10 re-sends the admitted passage + fresh tail;
    # doc 11 contains an in-batch duplicate of doc 10's fresh tail... too
    # short to gram — instead repeat a novel 6-gram across both docs
    fresh = " ".join(f"f{j}" for j in range(6))
    b2 = spark.createDataFrame(
        [(10, passage + " " + fresh),
         (11, fresh + " " + " ".join(f"z{j}" for j in range(7)))],
        "doc_id bigint, text string")
    out2 = {r.doc_id: (r.n_removed, r.clean_text)
            for r in incremental_span_dedup(b2, idx, n=6).collect()}
    # doc 10: the admitted passage is cut (every occurrence), fresh kept
    assert out2[10] == (6, fresh)
    # doc 11: 'fresh' was novel and doc 10 holds its first occurrence ->
    # doc 11's copy is an in-batch dup and is cut; its own tail survives
    assert out2[11] == (6, " ".join(f"z{j}" for j in range(7)))


def test_hostile_names_give_the_plain_results(spark):
    """Caller-supplied id and text names reach F.col quoted: a dotted id
    and a text name with a backtick and a space give the verdicts and
    the admitted rows of the plain names."""
    from datapump_spark.operators.quality import gopher_filter

    id_col, text_col = "a.b", "t`x Join"

    good = ("the quick brown fox jumps over the lazy dog while the "
            "small bird sings")
    rows = [(1, good), (2, "too short"), (3, good.upper()),
            (4, "the cat sat"), (5, good + " and more")]
    plain = _docs(spark, rows)
    hostile = plain.toDF(id_col, text_col)
    corpus = _docs(spark, [(9, "The cat sat.")])

    def verdicts(df, i, t):
        return sorted(map(tuple, gopher_filter(df, i, t, min_words=10)
                          .collect()))

    assert verdicts(hostile, id_col, text_col) == \
        verdicts(plain, "doc_id", "text")

    def admitted(df, i, t):
        fps = fingerprints(corpus.toDF("doc_id", t), t)
        return sorted(map(tuple, incremental_dedup(df, fps, i, t)
                          .collect()))

    assert admitted(hostile, id_col, text_col) == \
        admitted(plain, "doc_id", "text")
