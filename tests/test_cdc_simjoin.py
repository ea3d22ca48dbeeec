"""operators/cdc.py, operators/sparse_sim.py, rolling_active.

Registry-query hash gates live in test_extra_oracles.py; these pin the
operator semantics directly: CDC delete/reinsert ordering, sparse-cosine
exactness on hand vectors + blocking losslessness, and the rolling
window's explode formulation vs a brute-force recount.
"""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F


# ---------------------------------------------------------------- CDC

def test_apply_changes_latest_wins_and_tombstones(spark):
    from datapump_spark.operators.cdc import apply_changes

    rows = [
        # key 1: insert, update — survives with latest payload
        (1, 1, "U", "a"), (1, 2, "U", "b"),
        # key 2: insert then delete — gone
        (2, 1, "U", "x"), (2, 2, "D", None),
        # key 3: delete then re-insert — survives (order matters)
        (3, 1, "D", None), (3, 2, "U", "back"),
        # key 4: only a delete — gone
        (4, 9, "D", None),
    ]
    df = spark.createDataFrame(rows, "k long, seq long, op string, v string")
    got = {r["k"]: (r["seq"], r["v"])
           for r in apply_changes(df, ["k"], ["seq"]).collect()}
    assert got == {1: (2, "b"), 3: (2, "back")}


def test_apply_changes_multi_seq_and_payload_inference(spark):
    from datapump_spark.operators.cdc import apply_changes

    rows = [(1, 10, 1, "U", 5.0), (1, 10, 2, "U", 7.0),
            (1, 9, 99, "D", 0.0)]
    df = spark.createDataFrame(
        rows, "k long, ts long, sub long, op string, v double")
    out = apply_changes(df, ["k"], ["ts", "sub"]).collect()
    assert len(out) == 1 and out[0]["v"] == 7.0 and out[0]["sub"] == 2


# --------------------------------------------------------- sparse cosine

def test_sparse_cosine_matches_numpy(spark):
    """Hand corpus small enough to verify against a dense numpy TF-IDF."""
    import numpy as np

    from datapump_spark.operators.sparse_sim import sparse_cosine_pairs

    texts = {1: "a b c d", 2: "a b c e", 3: "x y z w"}
    df = spark.createDataFrame(
        [(k, v) for k, v in texts.items()], "doc_id long, text string")
    got = {(r["id_l"], r["id_r"]): r["cos"]
           for r in sparse_cosine_pairs(df, threshold=-1.0).collect()}

    def grams(s):
        t = s.split()
        return [f"{a}_{b}" for a, b in zip(t, t[1:])]

    vocab = sorted({g for s in texts.values() for g in grams(s)})
    n = len(texts)
    dfreq = {g: sum(g in grams(s) for s in texts.values()) for g in vocab}
    mat = np.zeros((n, len(vocab)))
    for i, (_, s) in enumerate(sorted(texts.items())):
        for g in grams(s):
            mat[i, vocab.index(g)] += np.log((1 + n) / (1 + dfreq[g])) + 1
    mat /= np.linalg.norm(mat, axis=1, keepdims=True)
    ids = sorted(texts)
    for i in range(n):
        for j in range(i + 1, n):
            want = float(mat[i] @ mat[j])
            key = (ids[i], ids[j])
            if key in got:
                assert abs(got[key] - want) < 1e-5, key
            else:
                assert abs(want) < 1e-9, key  # absent ⇔ no shared bigram


def test_sparse_cosine_blocking_lossless_within_blocks(spark, sf_dir):
    """Blocked run ≡ unblocked run restricted to co-blocked pairs."""
    from datapump_spark.operators.sparse_sim import sparse_cosine_pairs

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet") \
        .limit(120).cache()
    blocked = {(r["id_l"], r["id_r"]): r["cos"] for r in sparse_cosine_pairs(
        docs, block_cols=["lang"], threshold=0.1).collect()}
    full = sparse_cosine_pairs(docs, threshold=0.1)
    langs = docs.select("doc_id", "lang")
    co = (
        full.join(langs.select(F.col("doc_id").alias("id_l"),
                               F.col("lang").alias("_ll")), "id_l")
        .join(langs.select(F.col("doc_id").alias("id_r"),
                           F.col("lang").alias("_lr")), "id_r")
        .where(F.col("_ll") == F.col("_lr"))
    )
    want = {(r["id_l"], r["id_r"]): r["cos"] for r in co.collect()}
    assert blocked == want and want
    docs.unpersist()


def test_sparse_cosine_max_df_prunes(spark):
    from datapump_spark.operators.sparse_sim import sparse_cosine_pairs

    # "a_b" occurs in every doc; with max_df_frac=0.5 it is dropped and
    # docs 1/2 share nothing → pair disappears.
    df = spark.createDataFrame(
        [(1, "a b q"), (2, "a b r"), (3, "a b s")],
        "doc_id long, text string")
    with_stop = sparse_cosine_pairs(df, threshold=0.01).count()
    pruned = sparse_cosine_pairs(df, threshold=0.01,
                                 max_df_frac=0.5).count()
    assert with_stop == 3 and pruned == 0


# -------------------------------------------------------- rolling active

def test_rolling_active_vs_bruteforce(spark):
    from datapump_spark.operators.events_analytics import rolling_active

    base = dt.datetime(2024, 1, 1)
    rows = []
    for day in range(20):
        for u in range(day % 5 + 1):          # varying daily actives
            rows.append((u * 31 + day % 3, base + dt.timedelta(days=day)))
    df = spark.createDataFrame(rows, "uid long, ts timestamp")
    got = {r["day"]: r["n_active"]
           for r in rolling_active(df, "ts", "uid", 7).collect()}
    days = sorted({ts.date() for _, ts in rows})
    for d in days:
        lo = d - dt.timedelta(days=6)
        want = len({u for u, ts in rows if lo <= ts.date() <= d})
        assert got[d] == want, d
    assert set(got) == set(days)              # only observed days reported


# ------------------------------------------------- sink CDC merge (MERGE)

def _cdc_rows():
    # (k, seq, op, v) — includes cross-key updates, a delete, a
    # delete-then-late-stale-update, and a re-insert after delete
    return [
        (1, 1, "U", "a1"), (2, 1, "U", "b1"), (3, 1, "U", "c1"),
        (1, 2, "U", "a2"), (2, 3, "D", None),
        (4, 1, "U", "d1"), (3, 2, "D", None), (3, 3, "U", "c3"),
        (5, 2, "D", None), (5, 1, "U", "late-stale"),  # stale after delete
    ]


def _expected_state():
    return {1: (2, "a2"), 3: (3, "c3"), 4: (1, "d1")}


def test_apply_cdc_micro_batches_match_batch(spark, tmp_path):
    from datapump_spark.sinks.upsert import ParquetMergeSink

    sink = ParquetMergeSink(tmp_path / "sink", n_buckets=4)
    rows = _cdc_rows()
    # three micro-batches, INCLUDING out-of-order delivery across batches
    for lo, hi in [(0, 4), (4, 8), (8, 10)]:
        b = spark.createDataFrame(rows[lo:hi],
                                  "k long, seq long, op string, v string")
        sink.apply_cdc(spark, b, "t", ["k"], ["seq"])
    got = {r["k"]: (r["seq"], r["v"])
           for r in sink.read_state(spark, "t").collect()}
    assert got == _expected_state()


def test_apply_cdc_replay_idempotent(spark, tmp_path):
    from datapump_spark.sinks.upsert import ParquetMergeSink

    sink = ParquetMergeSink(tmp_path / "sink", n_buckets=4)
    b = spark.createDataFrame(_cdc_rows(),
                              "k long, seq long, op string, v string")
    sink.apply_cdc(spark, b, "t", ["k"], ["seq"])
    once = {(r["k"], r["seq"], r["v"])
            for r in sink.read_state(spark, "t").collect()}
    sink.apply_cdc(spark, b, "t", ["k"], ["seq"])   # foreachBatch retry
    twice = {(r["k"], r["seq"], r["v"])
             for r in sink.read_state(spark, "t").collect()}
    assert once == twice
    assert {k: (s, v) for k, s, v in once} == _expected_state()


def test_apply_cdc_migrates_overwrite_layout(spark, tmp_path):
    """A table last written by overwrite() has no pk_bucket directories;
    apply_cdc migrates it into buckets on the way, exactly as upsert
    does (one merge write path)."""
    from datapump_spark.sinks.upsert import BUCKET_COL, ParquetMergeSink

    sink = ParquetMergeSink(tmp_path / "sink", n_buckets=4)
    sink.overwrite(spark.createDataFrame(
        [(1, 1, "a"), (2, 1, "b")], "k long, seq long, v string"), "t")
    changes = spark.createDataFrame(
        [(2, 2, "U", "B"), (3, 1, "I", "c"), (1, 2, "D", None)],
        "k long, seq long, op string, v string")
    sink.apply_cdc(spark, changes, "t", ["k"], ["seq"])
    got = {(r["k"], r["seq"], r["v"])
           for r in sink.read_state(spark, "t").collect()}
    assert got == {(2, 2, "B"), (3, 1, "c")}
    assert any(sink.current_version("t").glob(f"{BUCKET_COL}=*"))


@pytest.mark.slow  # semantics gated in-default by
# test_apply_cdc_micro_batches_match_batch (same operator, same log)
def test_apply_cdc_streaming_foreachbatch(spark, tmp_path):
    """Real Structured Streaming drive: file source → foreachBatch →
    apply_cdc; final state equals the batch operator over the full log."""
    from datapump_spark.operators.cdc import apply_changes
    from datapump_spark.sinks.upsert import ParquetMergeSink

    src = tmp_path / "feed"
    src.mkdir()
    rows = _cdc_rows()
    full = spark.createDataFrame(rows, "k long, seq long, op string, v string")
    for i, (lo, hi) in enumerate([(0, 4), (4, 8), (8, 10)]):
        spark.createDataFrame(rows[lo:hi],
                              "k long, seq long, op string, v string") \
            .coalesce(1).write.parquet(str(src / f"b{i}"))
    sink = ParquetMergeSink(tmp_path / "sink", n_buckets=4)
    stream = (
        spark.readStream.schema("k long, seq long, op string, v string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "*"))
    )
    q = (
        stream.writeStream
        .foreachBatch(lambda b, _id: sink.apply_cdc(
            spark, b, "t", ["k"], ["seq"]))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {(r["k"], r["seq"], r["v"])
           for r in sink.read_state(spark, "t").collect()}
    want = {(r["k"], r["seq"], r["v"])
            for r in apply_changes(full, ["k"], ["seq"]).collect()}
    assert got == want and got
