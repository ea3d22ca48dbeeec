"""Streaming corpus ingestion: cross-batch dedup against the corpus's
own fingerprints, quality routing, idempotent replay-by-partition."""

from __future__ import annotations

import json
import os
import re

import pytest
from pyspark.sql import functions as F

from datapump_spark.streaming.corpus import StreamingCorpusIngest

GOOD = ("the quick brown fox jumps over the lazy dog while the small "
        "bird watches from a tall tree and sings a long song")


def _write(d, name, mtime, rows):
    p = d / name
    with open(p, "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")
    os.utime(p, (mtime, mtime))


def _doc(i, text=None):
    return {"doc_id": i, "text": text or f"{GOOD} extra{i}",
            "lang": "en", "source": "crawl"}


@pytest.fixture()
def ingest(spark, tmp_path):
    inp = tmp_path / "in"
    inp.mkdir()
    # batch 0: two good docs + one too-short doc
    _write(inp, "b0.json", 1_000_000_000,
           [_doc(1), _doc(2), _doc(3, "too short")])
    # batch 1: one new doc, one exact duplicate of doc 1's content
    # (different id), and doc 2 re-sent verbatim
    _write(inp, "b1.json", 1_000_001_000,
           [_doc(10), _doc(11, f"{GOOD} extra1"), _doc(2)])
    return StreamingCorpusIngest(spark, str(inp), str(tmp_path / "out"))


def _audit(spark, ing):
    return sorted((r["__batch_id"], r["n_in"], r["n_low_quality"],
                   r["n_dup"], r["n_admitted"])
                  for r in spark.read.parquet(ing.audit_dir).collect())


def test_cross_batch_dedup_and_audit(spark, ingest, tmp_path):
    ingest.drain(tmp_path / "cp")
    corpus = spark.read.parquet(ingest.corpus_dir)
    assert sorted(r["doc_id"] for r in corpus.collect()) == [1, 2, 10]
    # content is unique corpus-wide
    assert corpus.select("text").distinct().count() == corpus.count()
    # the corpus is its own index: one distinct fingerprint per doc, and
    # no separate index store
    fps = spark.read.parquet(ingest.index_dir)
    assert fps.select("fp").distinct().count() == 3
    assert sorted(os.listdir(tmp_path / "out")) == ["audit", "corpus"]
    audit = {r["__batch_id"]: r for r in
             spark.read.parquet(ingest.audit_dir).collect()}
    assert audit[0]["n_in"] == 3 and audit[0]["n_low_quality"] == 1
    assert audit[0]["n_admitted"] == 2
    assert audit[1]["n_dup"] == 2 and audit[1]["n_admitted"] == 1


def test_replay_is_idempotent(spark, ingest, tmp_path):
    ingest.drain(tmp_path / "cp")
    before = sorted(map(tuple, spark.read.parquet(ingest.corpus_dir)
                        .select("doc_id", "text").collect()))
    audit = _audit(spark, ingest)
    assert audit == [(0, 3, 1, 0, 2), (1, 3, 0, 2, 1)]
    # same checkpoint: nothing new to process
    ingest.drain(tmp_path / "cp")
    after = sorted(map(tuple, spark.read.parquet(ingest.corpus_dir)
                       .select("doc_id", "text").collect()))
    assert before == after
    # FRESH checkpoint (worst-case replay of every batch): each batch
    # dedups against earlier batches only, so the rerun repeats every
    # decision and overwrites its own partitions — no duplicates, and the
    # audit keeps one row per batch with the first run's values
    ingest.drain(tmp_path / "cp2")
    replay = sorted(map(tuple, spark.read.parquet(ingest.corpus_dir)
                        .select("doc_id", "text").collect()))
    assert replay == before
    assert _audit(spark, ingest) == audit


def test_replay_over_a_spark_written_audit(spark, ingest, tmp_path):
    """An audit store whose rows Spark wrote (``write_batch`` of a
    literal row, one part file per batch under Spark's own name) takes
    driver-written rows: a replay of its batches leaves one row each,
    and a new batch's row reads with the Spark-written ones, in the same
    column types."""
    from datapump_spark.streaming.batches import write_batch

    cols = ("n_in", "n_low_quality", "n_dup", "n_admitted")
    for bid, counts in enumerate([(3, 1, 0, 2), (3, 0, 2, 1)]):
        write_batch(spark.range(1).select(
            *[F.lit(n).cast("bigint").alias(c) for n, c in zip(counts, cols)]),
            bid, ingest.audit_dir)
    spark_files = sorted(p.name for p in
                         (tmp_path / "out" / "audit").rglob("*.parquet"))
    assert len(spark_files) == 2 and "part-0.parquet" not in spark_files
    # a fresh checkpoint replays batches 0 and 1 over those rows
    ingest.drain(tmp_path / "cp")
    _write(tmp_path / "in", "b2.json", 1_000_002_000, [_doc(20)])
    ingest.drain(tmp_path / "cp")
    assert _audit(spark, ingest) == [(0, 3, 1, 0, 2), (1, 3, 0, 2, 1),
                                     (2, 1, 0, 0, 1)]
    # Spark's part files and their checksums are gone
    assert [p.name for p in (tmp_path / "out" / "audit").glob(
        "__batch_id=*/*")] == ["part-0.parquet"] * 3
    assert spark.read.parquet(ingest.audit_dir).dtypes == [
        *[(c, "bigint") for c in cols], ("__batch_id", "int")]


def test_empty_first_batch_reads_as_empty_store(spark, tmp_path):
    """A first batch that admits nothing leaves a corpus directory with
    no parquet files; the next batch dedups against it as an empty
    store."""
    inp = tmp_path / "in"
    inp.mkdir()
    _write(inp, "b0.json", 1_000_000_000,
           [_doc(1, "too short"), _doc(2, "also too short")])
    ingest = StreamingCorpusIngest(spark, str(inp), str(tmp_path / "out"))
    ingest.drain(tmp_path / "cp")
    assert os.path.isdir(ingest.corpus_dir)
    assert not [f for _, _, fs in os.walk(ingest.corpus_dir) for f in fs
                if f.endswith(".parquet")]
    # batch 1: a new doc and an in-batch copy of it under a higher id
    _write(inp, "b1.json", 1_000_001_000,
           [_doc(10), _doc(11, f"{GOOD} extra10")])
    ingest.drain(tmp_path / "cp")
    corpus = spark.read.parquet(ingest.corpus_dir)
    assert [r["doc_id"] for r in corpus.collect()] == [10]
    assert _audit(spark, ingest) == [(0, 2, 2, 0, 0), (1, 2, 0, 1, 1)]


def test_failed_batch_releases_its_persists(spark, ingest, tmp_path,
                                             monkeypatch):
    """A corpus write that raises fails the drain and leaves no persisted
    frame of the batch behind."""
    from pyspark.sql.readwriter import DataFrameWriter

    parquet = DataFrameWriter.parquet

    def failing(self, path, *args, **kwargs):
        if path == ingest.corpus_dir:
            raise RuntimeError("corpus write failed")
        return parquet(self, path, *args, **kwargs)

    monkeypatch.setattr(DataFrameWriter, "parquet", failing)
    persistent = spark.sparkContext._jsc.getPersistentRDDs
    baseline = persistent().size()
    with pytest.raises(Exception, match="corpus write failed"):
        ingest.drain(tmp_path / "cp")
    assert persistent().size() <= baseline


@pytest.mark.slow  # every stage is oracle-/unit-gated in-default;
# this adds only the per-batch composition (round-7 wall budget)
def test_full_recipe_composition_per_batch(spark, tmp_path):
    """VERDICT r3 #10: the pretrain_corpus recipe composed through the
    streaming ingest — each micro-batch runs the full cleaning chain
    (quality gate, PII redaction, exact/near in-batch dedup), then the
    cross-batch incremental index; the accounting invariant
    ``n_in == n_admitted + n_rejected_by_recipe + n_cross_batch_dup``
    must hold for EVERY micro-batch."""
    from datapump_spark.recipes import CorpusRecipe

    inp = tmp_path / "in"
    inp.mkdir()
    uniq = ("entirely different content about rivers mountains valleys "
            "and the weather patterns that shape them across seasons")
    _write(inp, "b0.json", 1_000_000_000, [
        _doc(1), _doc(2, f"{uniq} two"), _doc(3, "too short"),
        _doc(4, f"{GOOD} extra1"),            # exact dup of doc 1, in-batch
    ])
    fresh = ("completely new material describing harbors lighthouses "
             "and the slow tides that carry ships home at night safely")
    _write(inp, "b1.json", 1_000_001_000, [
        _doc(10, fresh),                      # new, unrelated to batch peers
        _doc(11, f"{GOOD} extra1"),           # cross-batch dup of doc 1
        _doc(2, f"{uniq} two"),               # doc 2 re-sent verbatim
    ])
    ing = StreamingCorpusIngest(
        spark, str(inp), str(tmp_path / "out"),
        recipe=CorpusRecipe(min_words=10))
    ing.drain(tmp_path / "cp")

    corpus = spark.read.parquet(ing.corpus_dir)
    assert sorted(r["doc_id"] for r in corpus.collect()) == [1, 2, 10]
    audit = {r["__batch_id"]: r for r in
             spark.read.parquet(ing.audit_dir).collect()}
    assert len(audit) == 2
    for b, row in audit.items():
        assert row["n_in"] == (row["n_admitted"] + row["n_low_quality"]
                               + row["n_dup"]), b
    assert audit[0]["n_in"] == 4
    assert audit[0]["n_low_quality"] == 2     # quality + in-batch exact dup
    assert audit[0]["n_dup"] == 0 and audit[0]["n_admitted"] == 2
    assert audit[1]["n_dup"] == 2 and audit[1]["n_admitted"] == 1
    # the cross-batch index keeps exactly one fingerprint per admitted doc
    fps = spark.read.parquet(ing.index_dir)
    assert fps.select("fp").distinct().count() == 3


# slow: the incremental near-dup semantics are driver-oracle-gated
# every round (q_incremental_near_dup) and the streaming index
# mechanics run in-default via the exact-path and span-gate tests
@pytest.mark.slow
def test_cross_batch_near_dup_index(spark, tmp_path):
    """With near_dup_threshold set, a batch doc near-identical (but NOT
    byte-identical) to content admitted in an EARLIER batch is rejected
    using only the persisted signature index."""
    inp = tmp_path / "in"
    inp.mkdir()
    _write(inp, "b0.json", 1_000_000_000, [_doc(1)])
    _write(inp, "b1.json", 1_000_001_000, [
        _doc(20, f"{GOOD} extra1 tweaked"),    # near-dup of doc 1's text
        _doc(21, "entirely different content about rivers mountains "
                 "valleys and the weather patterns that shape them"),
    ])
    ing = StreamingCorpusIngest(spark, str(inp), str(tmp_path / "out"),
                                near_dup_threshold=0.5)
    ing.drain(tmp_path / "cp")

    corpus = spark.read.parquet(ing.corpus_dir)
    assert sorted(r["doc_id"] for r in corpus.collect()) == [1, 21]
    audit = {r["__batch_id"]: r for r in
             spark.read.parquet(ing.audit_dir).collect()}
    assert audit[1]["n_dup"] == 1 and audit[1]["n_admitted"] == 1
    # signature index holds one row per admitted doc
    sig = spark.read.parquet(ing.sig_index_dir)
    assert sorted(r["doc_id"] for r in sig.collect()) == [1, 21]


def _wet_bytes(records):
    """Minimal WET shard: (uri, text) pairs as conversion records."""
    out = b""
    for uri, text in records:
        payload = text.encode("utf-8")
        out += (b"WARC/1.0\r\n"
                b"WARC-Type: conversion\r\n"
                + f"WARC-Target-URI: {uri}\r\n".encode()
                + b"WARC-Date: 2024-03-01T00:00:00Z\r\n"
                + f"Content-Length: {len(payload)}\r\n".encode()
                + b"\r\n" + payload + b"\r\n\r\n")
    return out


@pytest.mark.slow  # redundancy: WET ingestion is oracle-gated
# (q_wet_text) and cross-batch dedup is gated in-default by
# test_cross_batch_dedup_and_audit (r12 tier move)
def test_wet_dropbox_feeds_corpus_with_cross_batch_dedup(spark, tmp_path):
    """Common Crawl shape end-to-end: WET shards land in a drop-box, each
    becomes a micro-batch, a page re-crawled under a different URI in a
    later shard is rejected by the persisted fingerprint index."""
    inp = tmp_path / "crawl"
    inp.mkdir()
    p0 = inp / "shard-00000.warc.wet"
    p0.write_bytes(_wet_bytes([
        ("https://a.example/page1", f"{GOOD} page1"),
        ("https://a.example/page2", f"{GOOD} page2"),
    ]))
    os.utime(p0, (1_000_000_000, 1_000_000_000))
    p1 = inp / "shard-00001.warc.wet"
    p1.write_bytes(_wet_bytes([
        ("https://b.example/fresh", f"{GOOD} fresh"),
        ("https://mirror.example/page1", f"{GOOD} page1"),  # re-crawl
    ]))
    os.utime(p1, (1_000_001_000, 1_000_001_000))

    ingest = StreamingCorpusIngest(spark, str(inp), str(tmp_path / "out"),
                                   input_format="wet")
    ingest.drain(tmp_path / "cp")

    corpus = spark.read.parquet(ingest.corpus_dir)
    srcs = {r["source"] for r in corpus.select("source").collect()}
    assert srcs == {"a.example", "b.example"}      # the mirror was a dup
    assert corpus.count() == 3
    assert corpus.select("text").distinct().count() == 3
    audit = {r["__batch_id"]: r for r in
             spark.read.parquet(ingest.audit_dir).collect()}
    assert audit[0]["n_admitted"] == 2
    assert audit[1]["n_dup"] == 1 and audit[1]["n_admitted"] == 1


@pytest.mark.slow  # redundancy: span dedup is driver-gated
# (q_span_dedup) and the incremental cross-batch path is gated
# in-default by test_incremental (r12 tier move)
def test_cross_batch_span_gate(spark, tmp_path):
    """span_dedup_n: a later batch's doc that embeds an already-admitted
    passage is admitted with ONLY the passage cut out (not dropped);
    the gram index refreshes from cleaned text per batch."""
    inp = tmp_path / "in"
    inp.mkdir()
    passage = " ".join(f"pass{j}" for j in range(8))
    _write(inp, "b0.json", 1_000_000_000,
           [{"doc_id": 1, "text": f"{GOOD} {passage}",
             "lang": "en", "source": "crawl"}])
    # doc 10 needs stopwords to clear the quality gate — reusing GOOD
    # also makes it a re-sent passage that must be cut along with
    # `passage`; only `fresh` is novel content
    fresh = " ".join(f"new{j}" for j in range(12))
    _write(inp, "b1.json", 1_000_001_000,
           [{"doc_id": 10, "text": f"{GOOD} {fresh} {passage}",
             "lang": "en", "source": "crawl"}])
    ingest = StreamingCorpusIngest(spark, str(inp), str(tmp_path / "out"),
                                   span_dedup_n=8)
    ingest.drain(tmp_path / "cp")
    corpus = {r["doc_id"]: r["text"]
              for r in spark.read.parquet(ingest.corpus_dir).collect()}
    assert set(corpus) == {1, 10}
    assert passage in corpus[1]                   # first occurrence kept
    # both re-sent passages (the GOOD prefix and `passage`) are cut;
    # only the novel middle survives
    assert corpus[10] == fresh
    audit = {r["__batch_id"]: r for r in
             spark.read.parquet(ingest.audit_dir).collect()}
    assert audit[1]["n_admitted"] == 1            # doc kept, span cut
    grams = spark.read.parquet(ingest.gram_index_dir)
    assert grams.select("gram").distinct().count() > 0


def test_duplicate_doc_id_within_batch_collapses(spark, tmp_path):
    """Two rows with the SAME doc_id in one batch (re-sent row) collapse
    to one deterministically before the gates; the corpus never holds a
    duplicated id."""
    inp = tmp_path / "in"
    inp.mkdir()
    _write(inp, "b0.json", 1_000_000_000,
           [_doc(1, f"{GOOD} version aaa"),
            _doc(1, f"{GOOD} version zzz"),     # same id, max text wins
            _doc(2)])
    ingest = StreamingCorpusIngest(spark, str(inp), str(tmp_path / "out"))
    ingest.drain(tmp_path / "cp")
    rows = spark.read.parquet(ingest.corpus_dir).collect()
    by_id = {}
    for r in rows:
        assert r["doc_id"] not in by_id, "duplicated doc_id admitted"
        by_id[r["doc_id"]] = r["text"]
    assert set(by_id) == {1, 2}
    assert by_id[1].endswith("version zzz")


@pytest.mark.slow  # redundancy: the decode stage is exact-hash
# oracle-gated every round via q_jsonl_scan (same decode_jsonl_files
# kernel), and the drain/dedup/audit semantics are pinned in-default
# by test_cross_batch_dedup_and_audit; only the binaryFile-stream
# composition is deferred to the full tier.
def test_compressed_jsonl_dropbox(spark, tmp_path):
    """r12: a drop-box of per-file-compressed JSONL shards
    (.jsonl.zst / .jsonl.gz — foreign libzstd bytes through the
    pure-Python decoder) streams through the same quality and
    cross-batch dedup gates as plain JSONL."""
    import gzip

    import pyarrow as pa

    inp = tmp_path / "drop"
    inp.mkdir()

    def _lines(rows):
        return ("\n".join(json.dumps(r) for r in rows) + "\n").encode()

    p0 = inp / "b0.jsonl.zst"
    p0.write_bytes(pa.Codec("zstd").compress(_lines(
        [_doc(1), _doc(2)]), asbytes=True))
    os.utime(p0, (1_000_000_000, 1_000_000_000))
    p1 = inp / "b1.jsonl.gz"
    # doc 11 duplicates doc 1's text under a new id; doc 12 is fresh
    p1.write_bytes(gzip.compress(_lines(
        [_doc(11, f"{GOOD} extra1"), _doc(12)])))
    os.utime(p1, (1_000_001_000, 1_000_001_000))

    ingest = StreamingCorpusIngest(spark, str(inp), str(tmp_path / "out"),
                                   input_format="jsonl-compressed")
    ingest.drain(tmp_path / "cp")

    corpus = spark.read.parquet(ingest.corpus_dir)
    assert sorted(r["doc_id"] for r in corpus.collect()) == [1, 2, 12]
    audit = {r["__batch_id"]: r for r in
             spark.read.parquet(ingest.audit_dir).collect()}
    assert audit[0]["n_admitted"] == 2
    assert audit[1]["n_dup"] == 1 and audit[1]["n_admitted"] == 1


def test_resent_id_verdict_is_the_winners(spark, tmp_path):
    """A doc_id re-sent in one batch with a good text and a short
    low-quality text that sorts above it is low quality and not
    admitted, in either row order: the verdict is the one of the row the
    collapse keeps (max text), not of any row of the id."""
    short = "zz short"                      # sorts above GOOD, fails the gate
    top = f"zebras and {GOOD}"              # sorts above "too short", passes
    inp = tmp_path / "in"
    inp.mkdir()
    _write(inp, "b0.json", 1_000_000_000, [
        _doc(1), _doc(1, short),            # good row first
        _doc(2, short), _doc(2),            # order reversed
        _doc(3, "too short"), _doc(3, top),  # the good text wins
    ])
    ingest = StreamingCorpusIngest(spark, str(inp), str(tmp_path / "out"))
    ingest.drain(tmp_path / "cp")
    corpus = spark.read.parquet(ingest.corpus_dir)
    assert [(r["doc_id"], r["text"]) for r in corpus.collect()] == [(3, top)]
    assert "__keep" not in corpus.columns
    assert _audit(spark, ingest) == [(0, 3, 2, 0, 1)]


CACHED_COALESCE = "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning"


@pytest.fixture()
def shuffle32(spark):
    """The session at the static 32 shuffle partitions of tuned_builder
    (the suite runs at 4). A direct ``_handle_batch`` call runs on the
    caller's session, so its cached-plan flag is restored too."""
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "32")
    yield spark
    spark.conf.set("spark.sql.shuffle.partitions", old)
    spark.conf.unset(CACHED_COALESCE)


def test_batch_runs_in_a_handful_of_tasks(shuffle32, tmp_path):
    """A 400-doc batch runs in at most 40 tasks and 4 jobs at 32
    shuffle partitions: the gate runs in the scan's split, the audit
    counts are observed by the corpus write (three count passes made 10
    jobs), the driver writes the audit row without a job of its own
    (a Spark-written row made 5), and the batch leaves no persisted
    frame behind."""
    from datapump_spark.cachescope import release_scope
    from datapump_spark.streaming.corpus import DOC_SCHEMA

    spark = shuffle32
    inp = tmp_path / "in"
    inp.mkdir()
    _write(inp, "b0.json", 1_000_000_000,
           [_doc(i, "too short" if i % 10 == 0 else
                 f"{GOOD} extra{i % 350}") for i in range(400)])
    batch = spark.read.schema(DOC_SCHEMA).json(str(inp))
    ingest = StreamingCorpusIngest(spark, str(inp), str(tmp_path / "out"))
    sc = spark.sparkContext
    # the batch releases the session's whole cache scope: release what
    # earlier callers left in it first, so the count is the batch's own
    release_scope(spark)
    # ids, not a count: Spark's context cleaner may unpersist an earlier
    # test's garbage-collected checkpoint during the batch
    persisted = lambda: set(sc._jsc.getPersistentRDDs().keySet())  # noqa: E731
    baseline = persisted()
    sc.setJobGroup("corpus-batch-tasks", "one corpus micro-batch")
    try:
        ingest._handle_batch(batch, 0)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup("corpus-batch-tasks")
    tasks = sum(tracker.getStageInfo(s).numCompletedTasks
                for j in jobs for s in tracker.getJobInfo(j).stageIds
                if tracker.getStageInfo(s) is not None)
    assert 0 < tasks <= 40
    assert 0 < len(jobs) <= 4
    assert persisted() <= baseline
    assert _audit(spark, ingest) == [(0, 400, 40, 45, 315)]


def test_drain_leaves_the_callers_cached_plans_alone(shuffle32, ingest,
                                                      tmp_path):
    """The coalescing flag is set on the streaming query's own session:
    after a drain the caller's session still reads Spark's default."""
    ingest.drain(tmp_path / "cp")
    assert _audit(shuffle32, ingest) == [(0, 3, 1, 0, 2), (1, 3, 0, 2, 1)]
    assert shuffle32.conf.get(CACHED_COALESCE) == "false"


@pytest.mark.parametrize("kind", ["low_quality", "duplicate", "empty"])
def test_batch_audit_counts_when_nothing_is_admitted(spark, tmp_path, kind):
    """A batch that admits nothing still writes its audit row, and its
    drain finishes in time: every doc low quality, every doc a
    duplicate of an earlier batch, or an empty input file."""
    inp = tmp_path / "in"
    inp.mkdir()
    _write(inp, "b0.json", 1_000_000_000, [_doc(1), _doc(2)])
    rows = {"low_quality": [_doc(10, "too short"), _doc(11, "short too")],
            "duplicate": [_doc(10, f"{GOOD} extra1"),
                          _doc(11, f"{GOOD} extra2"), _doc(2)],
            "empty": []}[kind]
    _write(inp, "b1.json", 1_000_001_000, rows)
    ingest = StreamingCorpusIngest(spark, str(inp), str(tmp_path / "out"))
    ingest.drain(tmp_path / "cp", timeout=120)
    expected = {"low_quality": (1, 2, 2, 0, 0), "duplicate": (1, 3, 0, 3, 0),
                "empty": (1, 0, 0, 0, 0)}[kind]
    assert _audit(spark, ingest) == [(0, 2, 0, 0, 2), expected]
    corpus = spark.read.parquet(ingest.corpus_dir)
    assert sorted(r["doc_id"] for r in corpus.collect()) == [1, 2]


@pytest.mark.parametrize("ingest_cls", ["corpus", "media"])
def test_drain_past_its_timeout_stops_the_query(spark, tmp_path,
                                                monkeypatch, ingest_cls):
    """A drain still running at its timeout stops its query and raises
    TimeoutError naming the checkpoint, instead of returning with the
    query left running."""
    import time

    from datapump_spark.streaming.media import StreamingMediaIngest

    cls = {"corpus": StreamingCorpusIngest,
           "media": StreamingMediaIngest}[ingest_cls]
    inp = tmp_path / "in"
    inp.mkdir()
    _write(inp, "b0.json", 1_000_000_000, [_doc(1)])
    monkeypatch.setattr(cls, "_handle_batch",
                        lambda self, df, batch_id: time.sleep(4))
    ingest = cls(spark, str(inp), str(tmp_path / "out"))
    try:
        with pytest.raises(TimeoutError,
                           match=re.escape(str(tmp_path / "cp"))):
            ingest.drain(tmp_path / "cp", timeout=1)
        assert spark.streams.active == []
    finally:
        for q in spark.streams.active:
            q.stop()
