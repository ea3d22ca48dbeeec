"""operators/drift.py + operators/robust.py + the new sampling/sketch ops.

The SQL-hash gate for their registry queries lives in
test_extra_oracles.py; these tests pin the operator-level semantics the
hash can't see: drift metric behavior under known shifts, winsorize
invariants, the nested-sample property, and that Misra-Gries actually
prunes (capacity ≪ vocabulary) while staying exact.
"""

from __future__ import annotations

import math
import random

import pytest
from pyspark.sql import functions as F


# ------------------------------------------------------------------ drift

@pytest.fixture(scope="module")
def two_snapshots(spark):
    rng = random.Random(7)
    base = [(i, "a", rng.gauss(0.0, 1.0)) for i in range(4000)]
    same = [(i, "a", rng.gauss(0.0, 1.0)) for i in range(4000)]
    shifted = [(i, "a", rng.gauss(2.0, 1.0)) for i in range(4000)]
    mk = lambda rows: spark.createDataFrame(  # noqa: E731
        rows, "id long, grp string, v double")
    return mk(base), mk(same), mk(shifted)


def test_drift_identity_near_zero(two_snapshots):
    from datapump_spark.operators.drift import distribution_drift

    base, same, _ = two_snapshots
    row = distribution_drift(base, same, "v", ["grp"]).collect()[0]
    assert row["n_base"] == row["n_cur"] == 4000
    assert row["psi"] < 0.02          # same distribution → PSI ≈ 0
    assert row["tvd"] < 0.05


def test_drift_detects_shift(two_snapshots):
    from datapump_spark.operators.drift import distribution_drift

    base, _, shifted = two_snapshots
    row = distribution_drift(base, shifted, "v", ["grp"]).collect()[0]
    assert row["psi"] > 0.5           # 2σ mean shift → PSI ≫ alert (0.25)
    assert row["kl"] > 0.2
    assert 0.2 < row["tvd"] <= 1.0


def test_drift_pinned_edges_single_pass(two_snapshots):
    """Pinned lo/hi skips the bounds pass and clamps outliers instead of
    dropping them: totals must still count every row."""
    from datapump_spark.operators.drift import distribution_drift

    base, same, _ = two_snapshots
    row = distribution_drift(base, same, "v", ["grp"], lo=-1.0, hi=1.0) \
        .collect()[0]
    assert row["n_base"] == row["n_cur"] == 4000


# --------------------------------------------------------------- winsorize

def test_winsorize_bounds_and_robust(spark):
    from datapump_spark.operators.robust import winsorize

    rows = [(i, "g", float(i)) for i in range(1, 101)]
    df = spark.createDataFrame(rows, "id long, grp string, v double")
    out = winsorize(df, "v", ["grp"], lower=0.10, upper=0.90).collect()
    # exact interpolated percentiles of 1..100: p10 = 10.9, p90 = 90.1
    assert min(r["v_w"] for r in out) == pytest.approx(10.9)
    assert max(r["v_w"] for r in out) == pytest.approx(90.1)
    # interior values untouched
    mid = next(r for r in out if r["id"] == 50)
    assert mid["v_w"] == 50.0
    # robust scale: median 50.5, IQR = 75.25 − 25.75 = 49.5
    assert mid["v_robust"] == pytest.approx((50.0 - 50.5) / 49.5, abs=1e-6)


def test_winsorize_zero_iqr(spark):
    from datapump_spark.operators.robust import winsorize

    df = spark.createDataFrame([(i, "g", 5.0) for i in range(10)],
                               "id long, grp string, v double")
    out = winsorize(df, "v", ["grp"]).collect()
    assert all(r["v_robust"] == 0.0 and r["v_w"] == 5.0 for r in out)


# ------------------------------------------------------ uniform_sample_k

def test_uniform_sample_k_nested_and_deterministic(spark, sf_dir):
    from datapump_spark.operators.sampling import uniform_sample_k

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    s10 = {r["doc_id"] for r in
           uniform_sample_k(docs, "doc_id", 10).collect()}
    s30 = {r["doc_id"] for r in
           uniform_sample_k(docs, "doc_id", 30).collect()}
    s10b = {r["doc_id"] for r in
            uniform_sample_k(docs.repartition(7), "doc_id", 10).collect()}
    assert len(s10) == 10 and len(s30) == 30
    assert s10 < s30                      # nested across k
    assert s10 == s10b                    # layout-independent


# --------------------------------------------------------- heavy hitters

def test_heavy_hitters_exact_under_pruning(spark):
    """Zipf stream with vocabulary ≫ capacity: MG summaries must prune
    hard, yet the two-pass result equals the exact GROUP BY/HAVING."""
    from datapump_spark.operators.sketches import heavy_hitters

    rng = random.Random(13)
    vocab = 5000
    rows = [(f"w{int(vocab ** rng.random())}",) for _ in range(60_000)]
    df = spark.createDataFrame(rows, "tok string").repartition(8)

    phi, cap = 0.005, 400                  # capacity ≪ vocab, ≥ 2/phi
    got = {(r["item"], r["cnt"])
           for r in heavy_hitters(df, "tok", phi=phi, capacity=cap).collect()}
    exact = {(r["tok"], r["n"]) for r in
             df.groupBy("tok").agg(F.count("*").cast("bigint").alias("n"))
             .where(F.col("n") > phi * len(rows)).collect()}
    assert got == exact and got            # non-trivial and exact


def test_heavy_hitters_lower_bound_mode(spark):
    from datapump_spark.operators.sketches import heavy_hitters

    n = 10_000
    rows = [("hot",)] * (n // 2) + [(f"cold{i}",) for i in range(n // 2)]
    df = spark.createDataFrame(rows, "tok string").repartition(4)
    cand = {r["item"]: r["w_lower"] for r in
            heavy_hitters(df, "tok", phi=0.01, capacity=100,
                          exact_counts=False).collect()}
    # MG guarantee: w_lower ∈ [true − n/(cap+1), true]
    assert "hot" in cand
    assert n // 2 - math.ceil(n / 101) <= cand["hot"] <= n // 2


# ------------------------------------------------------------- media dir

def test_media_dir_source(spark, tmp_path):
    from datapump_spark.operators.multimodal import extract_features
    from datapump_spark.sources.mediadir import media_table, read_media_dir

    d = tmp_path / "media" / "sub"
    d.mkdir(parents=True)
    (d / "a.png").write_bytes(b"\x89PNG fake" * 10)
    (d / "b.wav").write_bytes(b"RIFF fake" * 5)
    (d / "c.mp4").write_bytes(b"\x00\x00ftyp" * 7)
    (d / "notes.txt").write_bytes(b"not media")

    raw = read_media_dir(spark, str(tmp_path / "media"), glob="*.{png,wav,mp4}")
    media = media_table(raw)
    rows = {r["meta"]["format"]: r for r in media.collect()}
    assert set(rows) == {"png", "wav", "mp4"}
    assert rows["png"]["meta"]["kind"] == "image"
    assert rows["wav"]["meta"]["kind"] == "audio"
    assert rows["mp4"]["meta"]["kind"] == "video"
    assert rows["png"]["n_bytes"] == 90
    assert rows["png"]["payload"] == b"\x89PNG fake" * 10
    # ids stable across re-ingestion/layout
    again = {r["media_id"] for r in
             media_table(read_media_dir(
                 spark, str(tmp_path / "media"),
                 glob="*.{png,wav,mp4}").repartition(3)).collect()}
    assert again == {r["media_id"] for r in rows.values()}
    # composes with the multimodal kernels (deterministic fake features)
    feats = extract_features(media, fake=True).collect()
    assert len(feats) == 3 and all(len(r["features"]) == 8 for r in feats)


def test_media_dir_mtime_filter(spark, tmp_path):
    from datapump_spark.sources.mediadir import read_media_dir

    d = tmp_path / "m"
    d.mkdir()
    (d / "x.png").write_bytes(b"abc")
    assert read_media_dir(spark, str(d),
                          modified_after="2100-01-01 00:00:00").count() == 0
    assert read_media_dir(spark, str(d)).count() == 1


def test_weighted_sample_k_properties(spark):
    """Determinism/layout-independence + weight bias: heavy items must
    be sampled far more often than light ones across salts."""
    from datapump_spark.operators.sampling import weighted_sample_k
    from pyspark.sql import functions as F

    rows = [(i, 100.0 if i < 50 else 1.0) for i in range(1000)]
    df = spark.createDataFrame(rows, "k long, w double").cache()
    s1 = {r["k"] for r in weighted_sample_k(df, "k", "w", 100).collect()}
    s2 = {r["k"] for r in
          weighted_sample_k(df.repartition(7), "k", "w", 100).collect()}
    assert s1 == s2 and len(s1) == 100           # deterministic, exact k
    heavy = sum(1 for k in s1 if k < 50)
    # 50 heavy items at weight 100 vs 950 light at weight 1: heavy mass
    # ≈ 84% of total → expect nearly all 50 heavy items in a 100-sample
    assert heavy >= 40
    # zero/negative weights never win
    df2 = spark.createDataFrame(
        [(1, 0.0), (2, -5.0), (3, 1.0), (4, 1.0)], "k long, w double")
    got = {r["k"] for r in weighted_sample_k(df2, "k", "w", 2).collect()}
    assert got == {3, 4}
    df.unpersist()


def test_leakage_safe_split_invariants(spark):
    from datapump_spark.operators.splits import leakage_safe_split

    # 3 clusters, one spanning 3 docs
    rows = [(1, 1), (2, 1), (3, 1), (4, 4), (5, 5)]
    cl = spark.createDataFrame(rows, "doc_id long, cluster_id long")
    out = leakage_safe_split(cl, {"train": 0.5, "val": 0.25,
                                  "test": 0.25}).collect()
    by_cluster = {}
    for r in out:
        by_cluster.setdefault(r["cluster_id"], set()).add(r["split"])
    # every member of a cluster shares its split — the leakage guarantee
    assert all(len(s) == 1 for s in by_cluster.values())
    assert {r["split"] for r in out} <= {"train", "val", "test"}
    # deterministic across layouts
    again = {(r["doc_id"], r["split"]) for r in
             leakage_safe_split(cl.repartition(3),
                                {"train": 0.5, "val": 0.25,
                                 "test": 0.25}).collect()}
    assert again == {(r["doc_id"], r["split"]) for r in out}
    # fractions roughly honored over many clusters
    big = spark.createDataFrame([(i, i) for i in range(4000)],
                                "doc_id long, cluster_id long")
    frac = {r["split"]: r["n"] for r in
            leakage_safe_split(big).groupBy("split")
            .agg(F.count("*").alias("n")).collect()}
    assert abs(frac["train"] / 4000 - 0.9) < 0.03
    import pytest as _pytest
    with _pytest.raises(ValueError):
        leakage_safe_split(cl, {"train": 0.5, "val": 0.2})


def test_cusum_detects_mean_shift(spark):
    from datapump_spark.operators.drift import cusum_changepoints

    # 100 points around 0, then 60 points around +3σ: alarm must fire
    # shortly after the shift and not before
    rows = [("a", i, i, 0.5 * ((i * 7 % 5) - 2)) for i in range(100)]
    rows += [("a", 100 + i, 100 + i, 3.0 + 0.5 * ((i * 7 % 5) - 2))
             for i in range(60)]
    rows += [("clean", i, i, 0.5 * ((i * 11 % 7) - 3)) for i in range(160)]
    df = spark.createDataFrame(
        rows, "k string, ts long, event_id long, value double")
    # production form: standardize against the PRE-SHIFT reference period
    base = df.where((F.col("ts") < 100) | (F.col("k") == "clean")) \
        .groupBy("k").agg(F.avg("value").alias("mu"),
                          F.stddev_pop("value").alias("sd"))
    got = {r["k"]: r for r in cusum_changepoints(
        df, ["k"], ["ts", "event_id"], "value", baseline=base).collect()}
    a = got["a"]
    assert a["n_alarms"] > 0
    assert 100 < a["first_alarm_pos"] < 120   # fires soon after the shift
    assert got["clean"]["n_alarms"] == 0
    assert got["clean"]["first_alarm_pos"] is None
    # layout-independent
    again = {r["k"]: r for r in cusum_changepoints(
        df.repartition(7), ["k"], ["ts", "event_id"], "value",
        baseline=base).collect()}
    assert again == got
    # self-baseline form: a level shift deviates from the POOLED mean in
    # both directions, so it still alarms (earlier, by design)
    self_got = {r["k"]: r for r in cusum_changepoints(
        df, ["k"], ["ts", "event_id"], "value").collect()}
    assert self_got["a"]["n_alarms"] > 0
    assert self_got["clean"]["n_alarms"] == 0


def test_cusum_degenerate_series_flagged_not_dropped(spark):
    """A series flat in the reference period (sd=0) that then drifts, or
    absent from the baseline entirely, must emit a FLAGGED row — the old
    inner-join + sd>0 filter silently dropped exactly these alert cases."""
    from datapump_spark.operators.drift import cusum_changepoints

    rows = [("flat", i, i, 1.0) for i in range(50)]          # flat reference
    rows += [("flat", 50 + i, 50 + i, 9.0) for i in range(10)]  # then drifts
    rows += [("new", i, i, float(i)) for i in range(20)]     # not in baseline
    rows += [("norm", i, i, float(i % 5)) for i in range(40)]
    df = spark.createDataFrame(
        rows, "k string, ts long, event_id long, value double")
    base = spark.createDataFrame(
        [("flat", 1.0, 0.0), ("norm", 2.0, 1.414214)],
        "k string, mu double, sd double")
    got = {r["k"]: r for r in cusum_changepoints(
        df, ["k"], ["ts", "event_id"], "value", baseline=base).collect()}

    assert set(got) == {"flat", "new", "norm"}
    flat = got["flat"]
    assert flat["status"] == "zero_sd"
    assert flat["n_points"] == 60
    assert flat["n_alarms"] == 10            # the 10 post-drift points
    assert flat["first_alarm_pos"] == 51     # first departure from mu
    assert flat["max_sp"] is None and flat["max_sn"] is None
    new = got["new"]
    assert new["status"] == "no_baseline"
    assert new["n_alarms"] == new["n_points"] == 20
    assert new["first_alarm_pos"] == 1
    assert got["norm"]["status"] == "ok"
    # a flat series that NEVER drifts reports zero alarms (flagged status,
    # clean statistics)
    clean = spark.createDataFrame(
        [("flat", i, i, 1.0) for i in range(30)],
        "k string, ts long, event_id long, value double")
    c = cusum_changepoints(clean, ["k"], ["ts", "event_id"],
                           "value").collect()[0]
    assert c["status"] == "zero_sd" and c["n_alarms"] == 0
    assert c["first_alarm_pos"] is None
    # non-null mu with NULL sd (user-supplied baseline): the old
    # ~(__sd > 0) predicate evaluated to SQL NULL there, so the series
    # failed BOTH branch filters and vanished from the output entirely
    base_null_sd = spark.createDataFrame(
        [("flat", 1.0, None)], "k string, mu double, sd double")
    flatdf = spark.createDataFrame(
        [("flat", i, i, 1.0) for i in range(20)]
        + [("flat", 20 + i, 20 + i, 3.0) for i in range(5)],
        "k string, ts long, event_id long, value double")
    n = cusum_changepoints(flatdf, ["k"], ["ts", "event_id"], "value",
                           baseline=base_null_sd).collect()
    assert len(n) == 1
    assert n[0]["status"] == "zero_sd"
    assert n[0]["n_points"] == 25 and n[0]["n_alarms"] == 5
    assert n[0]["first_alarm_pos"] == 21


def test_cusum_statistics_never_negative(spark):
    """Page's statistic is floored at 0 — a strictly-decreasing series
    must report max_sp == 0, not a negative value."""
    from datapump_spark.operators.drift import cusum_changepoints

    rows = [("down", i, i, float(-i)) for i in range(50)]
    df = spark.createDataFrame(
        rows, "k string, ts long, event_id long, value double")
    got = cusum_changepoints(df, ["k"], ["ts", "event_id"], "value").collect()[0]
    assert got["max_sp"] >= 0.0 and got["max_sn"] >= 0.0
