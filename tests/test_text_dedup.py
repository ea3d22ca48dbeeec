"""Extended operators: text analysis, fuzzy dedup, similarity search."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from datapump_spark.operators.dedup_fuzzy import (
    exact_dedup,
    lsh_candidate_pairs,
    minhash_near_dup_pairs,
    ngram_jaccard_pairs,
    simhash,
)
from datapump_spark.operators.similarity import cosine_topk, lsh_topk
from datapump_spark.operators.text import lang_id, quality_score, text_stats

DOCS = [
    (1, "the quick brown fox jumps over the lazy dog again and again", "s1"),
    (2, "the quick brown fox jumps over the lazy dog again and again!", "s1"),  # near-dup of 1
    (3, "completely different content about spark query engines at scale", "s1"),
    (4, "der hund und die katze und das pferd sind tiere", "s2"),
    (5, "THE QUICK BROWN FOX JUMPS OVER THE LAZY DOG AGAIN AND AGAIN", "s2"),  # exact dup of 1 (normalized)
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(DOCS, "doc_id bigint, text string, source string")


def test_text_stats_counts(docs):
    row = {r["doc_id"]: r for r in text_stats(docs).collect()}
    assert row[1]["n_tokens_ws"] == 12
    assert row[2]["n_punct"] == 1
    assert row[1]["n_chars"] == len(DOCS[0][1])


def test_quality_score_range(docs):
    scores = [r["quality"] for r in quality_score(docs).collect()]
    assert all(0.0 <= s <= 1.0 for s in scores)


def test_lang_id_picks_german_markers(docs):
    got = {r["doc_id"]: r["pred_lang"] for r in lang_id(docs).collect()}
    assert got[1] == "en"
    assert got[4] == "de"


def test_exact_dedup_normalized(docs):
    kept = sorted(r["doc_id"] for r in exact_dedup(docs).collect())
    # doc 5 (uppercased) and doc 2 (only punctuation differs) both collapse
    # onto doc 1's normalized fingerprint → lowest id wins
    assert kept == [1, 3, 4]


def test_minhash_finds_planted_near_dup(docs):
    pairs = minhash_near_dup_pairs(docs, threshold=0.5).collect()
    assert any((r["id_a"], r["id_b"]) == (1, 2) for r in pairs)
    # the unrelated doc must not pair with anything above threshold
    assert not any(3 in (r["id_a"], r["id_b"]) for r in pairs)


def test_ngram_jaccard_blocked_by_source(docs):
    pairs = ngram_jaccard_pairs(docs, threshold=0.5).collect()
    ids = {(r["id_a"], r["id_b"]) for r in pairs}
    assert (1, 2) in ids          # same source, near-identical
    assert (1, 5) not in ids      # doc 5 is in another source block


def test_lsh_odd_scope_column_gives_same_pairs(spark):
    """A backtick in the scope column name cannot break the band-key SQL
    text; rows 1 and 2 share every band and the scope, row 3 only the
    bands."""
    rows = [(1, 5, 7, "en"), (2, 5, 7, "en"), (3, 5, 7, "fr")]

    def pairs(scope_col):
        sigs = spark.createDataFrame(rows, ["doc_id", "mh0", "mh1",
                                            scope_col])
        out = lsh_candidate_pairs(sigs, "doc_id", bands=2, rows_per_band=1,
                                  scope_col=scope_col)
        return sorted(map(tuple, out.collect()))

    assert pairs("lang") == [(1, 2)]
    assert pairs("l`g") == pairs("lang")


def test_simhash_close_for_near_dups(docs):
    h = {r["doc_id"]: r["simhash"] for r in simhash(docs).collect()}
    def hamming(a, b):
        return bin(a ^ b).count("1")
    assert hamming(h[1], h[2]) <= 4          # near-dups: tiny distance
    assert hamming(h[1], h[5]) == 0          # same token set → same hash
    assert hamming(h[1], h[3]) > 8           # unrelated: far apart


def test_lsh_topk_recall_vs_exact(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    exact = cosine_topk(emb, k=5, query_max_id=10).collect()
    approx = lsh_topk(emb, k=5, query_max_id=10, n_planes=2).collect()
    exact_set = {(r["query_id"], r["neighbor_id"]) for r in exact}
    approx_set = {(r["query_id"], r["neighbor_id"]) for r in approx}
    # 2 hyperplanes → 4 buckets → ~1/4 of corpus scanned; require that the
    # buckets still recover a nontrivial share of true neighbors
    recall = len(exact_set & approx_set) / len(exact_set)
    assert recall >= 0.2, recall
    # approximate results must still be valid (cos computed, k per query)
    assert all(len([r for r in approx if r["query_id"] == q]) <= 5
               for q in {r["query_id"] for r in approx})


@pytest.mark.slow
# slow: the default-knob recall floor stays in-default
# (test_lsh_topk_recall_vs_exact); the multi-probe/table operating points
# this sweeps are re-measured every round by scripts/ann_recall.py and
# documented in PERF.md.
def test_lsh_multiprobe_tables_lift_recall(spark, sf_dir):
    """Multi-probe + OR-ed tables must lift recall well past the plain
    single-bucket probe at the same plane count, stay deterministic, and
    never emit duplicate (query, neighbor) pairs across tables."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    exact = cosine_topk(emb, k=5, query_max_id=10).collect()
    exact_set = {(r["query_id"], r["neighbor_id"]) for r in exact}

    plain = lsh_topk(emb, k=5, query_max_id=10, n_planes=6).collect()
    boosted = lsh_topk(emb, k=5, query_max_id=10, n_planes=6,
                       n_probe=8, n_tables=4).collect()

    def recall(rows):
        s = {(r["query_id"], r["neighbor_id"]) for r in rows}
        return len(exact_set & s) / len(exact_set)

    assert recall(boosted) >= 0.6
    assert recall(boosted) > recall(plain)
    pairs = [(r["query_id"], r["neighbor_id"]) for r in boosted]
    assert len(pairs) == len(set(pairs))      # cross-table dedupe holds
    # run-to-run determinism: re-execute the same frame (codegen cache
    # makes this cheap) — catches layout/scheduling-dependent ranking,
    # the realistic hazard; plane identity is pinned by the seed
    boosted_df = lsh_topk(emb.repartition(7), k=5, query_max_id=10,
                          n_planes=6, n_probe=8, n_tables=4)
    assert sorted(map(tuple, boosted_df.collect())) == \
        sorted(map(tuple, boosted))

@pytest.mark.slow  # redundancy: q_ivf_topk is a recall-gated bench
# variant measured every round; this pytest twin re-checks the same
# bound and is full-tier-only (r12 tier move)
def test_ivf_topk_recall_vs_exact(spark, sf_dir):
    from datapump_spark.operators.similarity import ivf_topk
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    exact = cosine_topk(emb, k=5, query_max_id=10).collect()
    approx = ivf_topk(emb, k=5, query_max_id=10, n_cells=16, n_probe=4).collect()
    exact_set = {(r["query_id"], r["neighbor_id"]) for r in exact}
    approx_set = {(r["query_id"], r["neighbor_id"]) for r in approx}
    # 16 cells, 4 probed → ~1/4 of corpus scanned
    recall = len(exact_set & approx_set) / len(exact_set)
    assert recall >= 0.25, recall
    assert all(len([r for r in approx if r["query_id"] == q]) <= 5
               for q in {r["query_id"] for r in approx})
    # probing every cell degenerates to brute force → must equal the exact
    # baseline bit-for-bit (same re-rank code path, same tie-breaks)
    full = ivf_topk(emb, k=5, query_max_id=10, n_cells=16, n_probe=16).collect()
    full_set = {(r["query_id"], r["neighbor_id"]) for r in full}
    assert full_set == exact_set


def test_ivf_topk_empty_corpus(spark, sf_dir):
    from datapump_spark.operators.similarity import ivf_topk
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").where("vec_id < 0")
    assert ivf_topk(emb, k=5, query_max_id=10).count() == 0


def _emb(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def test_embedding_blocked_equals_global(spark, sf_dir):
    """Default (blocked distributed GEMM, no driver collect) must be
    EXACTLY the round-1 broadcast-GEMM baseline — same pairs, same cos."""
    from datapump_spark.operators.dedup_fuzzy import embedding_near_dup

    emb = _emb(spark, sf_dir)
    blocked = embedding_near_dup(emb, threshold=0.3, n_blocks=4)
    global_ = embedding_near_dup(emb, threshold=0.3, strategy="gemm_global")
    b = {(r.id_a, r.id_b): r.cos for r in blocked.collect()}
    g = {(r.id_a, r.id_b): r.cos for r in global_.collect()}
    assert b == g and len(b) > 0


def test_embedding_blocked_no_pair_duplicates(spark, sf_dir):
    from datapump_spark.operators.dedup_fuzzy import embedding_near_dup

    out = embedding_near_dup(_emb(spark, sf_dir), threshold=0.3, n_blocks=3)
    assert out.count() == out.select("id_a", "id_b").distinct().count()


def test_embedding_lsh_gemm_recall(spark, sf_dir):
    """gemm_lsh (per-bucket GEMM, the 100 TB path) is a strict subset of
    the exact pairs with identical cos values, at usable recall."""
    from datapump_spark.operators.dedup_fuzzy import embedding_near_dup

    emb = _emb(spark, sf_dir)
    exact = {(r.id_a, r.id_b): r.cos for r in
             embedding_near_dup(emb, threshold=0.3).collect()}
    approx = {(r.id_a, r.id_b): r.cos for r in
              embedding_near_dup(emb, threshold=0.3, strategy="gemm_lsh",
                                 n_planes=2).collect()}
    assert set(approx) <= set(exact)
    for k, v in approx.items():
        assert v == exact[k]
    recall = len(approx) / len(exact)
    assert recall >= 0.3, f"recall {recall:.2f} too low for 2 planes"


def test_simhash_pigeonhole_equals_brute_force(spark):
    """The Manku block index is lossless: pair set ≡ the O(n²) xor scan
    (also hash-gated vs DuckDB in check_oracle/test_extra_oracles); and
    the plan must contain no cartesian product."""
    from pyspark.sql import functions as F

    from datapump_spark.operators.dedup_fuzzy import (
        simhash,
        simhash_near_dup,
    )

    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet").limit(120)
    got = simhash_near_dup(docs, max_hamming=2)
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan

    sigs = simhash(docs)
    a = sigs.select(F.col("doc_id").alias("id_a"),
                    F.col("simhash").alias("sa"))
    b = sigs.select(F.col("doc_id").alias("id_b"),
                    F.col("simhash").alias("sb"))
    brute = (
        a.crossJoin(b).where(F.col("id_a") < F.col("id_b"))
        .withColumn("hamming",
                    F.bit_count(F.col("sa").bitwiseXOR(F.col("sb"))))
        .where(F.col("hamming") <= 2)
        .select("id_a", "id_b", "hamming")
    )
    key = lambda r: (r["id_a"], r["id_b"], r["hamming"])
    assert sorted(map(key, got.collect())) == \
        sorted(map(key, brute.collect()))


def test_simhash_degree_cap_bounds_dense_blocks(spark):
    """A clique of B identical docs emits ~B²/2 pairs uncapped; with
    max_block_size the output is bounded at ~cap²/2 while every retained
    member still pairs with the clique's minimum id (so downstream
    connected components keep grouping it)."""
    from datapump_spark.operators.dedup_fuzzy import simhash_near_dup

    clique = [(i, "the exact same document text repeated verbatim")
              for i in range(200)]
    other = [(1000 + i, f"unrelated text number {i} with words {i * 7}")
             for i in range(20)]
    df = spark.createDataFrame(clique + other, "doc_id long, text string")

    uncapped = simhash_near_dup(df, max_hamming=2).count()
    assert uncapped >= 200 * 199 / 2          # the quadratic blow-up

    capped = simhash_near_dup(df, max_hamming=2, max_block_size=16)
    rows = capped.collect()
    assert len(rows) < 16 * 16 * 3            # bounded per block
    # the retained sub-clique still stars around the minimum id
    assert {r["id_b"] for r in rows if r["id_a"] == 0}
    import pytest as _pytest
    with _pytest.raises(ValueError, match="max_block_size"):
        simhash_near_dup(df, max_block_size=1)


def test_simhash_block_widths_cover_all_bits(spark):
    """Edge widths: bits not divisible by (d+1) still cover every bit —
    identical docs always pair at hamming 0."""
    from datapump_spark.operators.dedup_fuzzy import simhash_near_dup

    df = spark.createDataFrame(
        [(1, "same words here exactly"), (2, "same words here exactly"),
         (3, "entirely other content")],
        "doc_id long, text string")
    got = {(r["id_a"], r["id_b"]): r["hamming"]
           for r in simhash_near_dup(df, bits=30, max_hamming=3).collect()}
    assert got[(1, 2)] == 0


def test_hamming_probe_matches_brute_force(spark):
    """The asymmetric pigeonhole probe returns exactly the probe ids
    within max_hamming of ANY index signature (python brute force as
    truth), including negative int64 signatures (sign-safe blocks)."""
    import random

    from datapump_spark.operators.dedup_fuzzy import hamming_probe

    rng = random.Random(11)
    idx_sigs = [rng.getrandbits(64) - (1 << 63) for _ in range(40)]
    probe_sigs = {}
    for i in range(60):
        if i % 3 == 0:  # a corrupted copy of an index signature
            base = idx_sigs[i % len(idx_sigs)]
            flip = 0
            for b in rng.sample(range(64), rng.randint(0, 5)):
                flip |= 1 << b
            v = (base ^ flip)
        else:
            v = rng.getrandbits(64) - (1 << 63)
        probe_sigs[i] = v if v < (1 << 63) else v - (1 << 64)

    def ham(a, b):
        return bin((a ^ b) & ((1 << 64) - 1)).count("1")

    k = 3
    want = {i for i, v in probe_sigs.items()
            if any(ham(v, s) <= k for s in idx_sigs)}
    probe = spark.createDataFrame(list(probe_sigs.items()),
                                  "doc_id bigint, sig bigint")
    index = spark.createDataFrame([(s,) for s in idx_sigs], "sig bigint")
    got = {r.id for r in hamming_probe(probe, index, "doc_id", "sig",
                                       max_hamming=k).collect()}
    assert got == want and want, "probe disagrees with brute force"


@pytest.mark.slow  # the scope_col band-key fold extends the gated
# minhash path; recipe-level scoping is pinned by
# test_dedup_scope_col_in_recipe in this tier
def test_scoped_near_dup_pairs(spark):
    """scope_col='lang': byte-identical texts in DIFFERENT languages
    never pair (cross-scope collisions are free), same-language near-dups
    still do, and clustering inherits the scope through **minhash_kwargs."""
    from datapump_spark.operators.dedup_fuzzy import (
        minhash_near_dup_pairs,
        near_dup_clusters,
    )

    body = ("the quick brown fox jumps over the lazy dog while the small "
            "bird watches from a tall tree")
    docs = spark.createDataFrame(
        [(1, body + " ending one", "en"),
         (2, body + " ending two", "en"),      # near-dup of 1, same lang
         (3, body + " ending one", "fr"),      # identical to 1, other lang
         (4, "entirely different content about rivers and mountains "
             "and weather patterns shaping them", "en")],
        "doc_id bigint, text string, lang string")

    unscoped = {(r.id_a, r.id_b)
                for r in minhash_near_dup_pairs(docs, threshold=0.5)
                .collect()}
    assert (1, 3) in unscoped
    scoped = {(r.id_a, r.id_b)
              for r in minhash_near_dup_pairs(docs, threshold=0.5,
                                              scope_col="lang").collect()}
    assert (1, 2) in scoped and (1, 3) not in scoped and (2, 3) not in scoped

    cl = {r.doc_id: r.cluster_id
          for r in near_dup_clusters(docs, threshold=0.5,
                                     scope_col="lang").collect()}
    assert cl[1] == cl[2] and cl[3] != cl[1] and cl[4] not in (cl[1],)


def test_np_connected_components_matches_union_find():
    """The vectorized driver CC (round 9: Arrow collect + numpy
    scatter-min/pointer-jumping) must produce exactly the dict
    union-find's min-id labels — random graphs and the long-chain
    worst case (pointer jumping handles diameter, not just cliques)."""
    import numpy as np

    from datapump_spark.operators.dedup_fuzzy import _np_connected_components

    rng = np.random.default_rng(5)
    a = rng.integers(0, 3000, 5000)
    b = rng.integers(0, 3000, 5000)
    nodes, labels = _np_connected_components(a, b)
    parent: dict = {}

    def find(x):
        r = x
        while parent.get(r, r) != r:
            r = parent[r]
        while parent.get(x, x) != r:
            parent[x], x = r, parent[x]
        return r

    for u, v in zip(a.tolist(), b.tolist()):
        parent.setdefault(u, u)
        parent.setdefault(v, v)
        ru, rv = find(u), find(v)
        if ru != rv:
            if rv < ru:
                ru, rv = rv, ru
            parent[rv] = ru
    assert dict(zip(nodes.tolist(), labels.tolist())) == \
        {n: find(n) for n in parent}
    # chain worst case: one component labeled by its min id
    n = 10_000
    nodes, labels = _np_connected_components(
        np.arange(n - 1) + 7, np.arange(1, n) + 7)
    assert (labels == 7).all() and len(nodes) == n
    # self-loops and duplicate edges are harmless
    nodes, labels = _np_connected_components(
        np.array([1, 1, 2]), np.array([1, 2, 1]))
    assert labels.tolist() == [1, 1]


@pytest.mark.slow  # redundancy: the n_sweeps=1 default path is
# driver-gated per round (q_minhash_near_dup); the sweep-equality
# property is structural and re-checked in the per-round slow pass
@pytest.mark.slow  # redundancy: the n_sweeps=1 default path is
# driver-gated per round (q_minhash_near_dup); the sweep-equality
# property is structural and re-checked in the per-round slow pass
def test_minhash_sweep_mode_exact_equality(docs):
    """r12 (VERDICT r11 #4): the staged band-sweep mode — bands
    processed in n_sweeps subsets with eager per-sweep checkpoints —
    must return EXACTLY the single-sweep pairs (bands are independent;
    the union over a partition of bands is the full candidate set)."""
    from datapump_spark.operators.dedup_fuzzy import minhash_near_dup_pairs

    def key(rows):
        return sorted((r["id_a"], r["id_b"], round(r["jaccard"], 9))
                      for r in rows)

    base = key(minhash_near_dup_pairs(docs, threshold=0.3).collect())
    assert base, "fixture should produce pairs"
    for n in (2, 3, 4, 7):
        got = key(minhash_near_dup_pairs(docs, threshold=0.3,
                                         n_sweeps=n).collect())
        assert got == base, n
