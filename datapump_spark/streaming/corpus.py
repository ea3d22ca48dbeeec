"""Streaming corpus ingestion: the training-data twin of the job
pipeline — new documents arrive as files, each micro-batch is quality-
gated and deduplicated against everything already admitted, and the
survivors append to the corpus.

    doc files ──readStream──▶ gopher keep verdict per raw row (scan splits)
        ─▶ doc_id collapse (max text wins, its verdict rides along) ◀ n_in
        ─▶ keep filter                                              ◀ n_good
        ─▶ incremental_dedup vs the corpus's fp column (operators/incremental)
        ─▶ corpus append (partitioned by batch id)                  ◀ n_adm
        ─▶ audit row (n_in / n_low_quality / n_dup / n_admitted)

The three counts (◀) are ``Observation`` metrics, filled by the first
action over each frame (the corpus write, or an eager checkpoint before
it: the recipe's input, the near-dup and span gates) and read only after
the corpus write returns; the driver then writes the audit row itself
(streaming/batches.write_batch_row), with no Spark job. On the
exact-only path the corpus write is the batch's one pass over the data.

Exactly-once without MERGE: every store uses the batch layout of
streaming/batches.py, so a replayed batch (after a crash between writes,
or a fresh checkpoint) overwrites its own partitions and repeats its
first run's decisions. The corpus keeps each doc's ``fp`` and is its own
exact-dup index; only the optional signature and gram indexes, whose
rows do not fit the corpus row, are separate stores.

At 100 TB: the quality gate is a per-row projection in the scan's
splits, before the collapse, so its regex work spreads over every input
split and never sits in a shuffle stage; the collapse then moves one
boolean more per row and the gate adds no join. The corpus's ``fp``
column is the only cross-batch state of the exact gate and it shuffles
nothing on read here (the anti-join ships the daily batch to the
index's buckets; see operators/incremental docstring); the corpus write
is an append of already-filtered data. State never lives in the
streaming state store, so checkpoints stay tiny.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from pathlib import Path

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from datapump_spark.cachescope import release_scope
from datapump_spark.operators.incremental import incremental_dedup
from datapump_spark.operators.quality import with_gopher_keep
from datapump_spark.streaming.batches import (
    await_drain,
    read_before,
    write_batch,
    write_batch_row,
)

DOC_SCHEMA = ("doc_id bigint, text string, lang string, source string")
# the near-dup gate's persisted MinHash signature index
MH_COLS = [f"mh{i}" for i in range(16)]
SIG_SCHEMA = "doc_id bigint, " + ", ".join(f"{c} bigint" for c in MH_COLS)


def _observe_rows(df: DataFrame, obs: Observation) -> DataFrame:
    """``df`` with its row count observed as ``obs.get["n"]``."""
    return df.observe(obs, F.count(F.lit(1)).alias("n"))


@dataclass
class StreamingCorpusIngest:
    """File-stream → quality gate → incremental dedup → corpus/index/audit."""

    spark: SparkSession
    input_dir: str
    out_dir: str
    min_words: int = 10
    gopher_kwargs: dict = field(default_factory=dict)
    max_files_per_trigger: int | None = 1
    # Optional full-recipe mode: run recipes.pretrain_corpus (quality +
    # repetition/ppl gates + PII redaction + exact/near in-batch dedup)
    # on EACH micro-batch before the cross-batch incremental dedup. The
    # recipe's ``sequences`` packing is intentionally not streamed — pack
    # over the final corpus, where sequence boundaries are stable.
    recipe: object | None = None
    # Optional cross-batch NEAR-dup gate: maintain a persisted MinHash
    # signature index (operators/incremental.incremental_near_dup) so a
    # batch doc near-identical to PAST admitted content is rejected even
    # though that content's text is gone. None = exact-only (fp index).
    near_dup_threshold: float | None = None
    # Input format of the drop-box: 'jsonl' (DOC_SCHEMA files),
    # 'jsonl-compressed' (r12: the same files in any per-file
    # compression the corpus dispatch decodes) or 'wet'
    # (Common Crawl WET archives via sources/warc.read_wet_stream — the
    # codegen record split; doc_id is the 63-bit hash of the target URI,
    # source its host, so one crawl shard drop feeds the same gates).
    input_format: str = "jsonl"
    # Optional cross-batch SPAN gate (operators/incremental
    # incremental_span_dedup): passages already admitted in ANY earlier
    # batch are cut out of this batch's surviving docs (every occurrence;
    # the content exists in the corpus), in-batch repeats keep their
    # first occurrence; docs emptied by the cuts count as dups. NB the
    # stage rewrites text as the normalized token stream. None = off.
    span_dedup_n: int | None = None

    @property
    def corpus_dir(self) -> str:
        return str(Path(self.out_dir) / "corpus")

    @property
    def index_dir(self) -> str:
        """The exact-dup index: the corpus itself (one ``fp`` per doc)."""
        return self.corpus_dir

    @property
    def audit_dir(self) -> str:
        return str(Path(self.out_dir) / "audit")

    @property
    def sig_index_dir(self) -> str:
        return str(Path(self.out_dir) / "sig_index")

    @property
    def gram_index_dir(self) -> str:
        return str(Path(self.out_dir) / "gram_index")

    def _handle_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        # Let AQE coalesce the shuffles of the frames the operators cache
        # (the near-dup and span gates persist inside): with the static
        # shuffle.partitions every action over them runs one task per
        # partition on a few hundred docs. batch_df's session is the
        # clone Spark makes for the streaming query, so the caller's
        # session and every cache outside the stream keep Spark's
        # default (PERF.md ledger: coalescing cached plans globally
        # slows compute-dense queries).
        batch_df.sparkSession.conf.set(
            "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
            "true")
        if self.recipe is None:
            # the gopher verdict on the raw rows, in the scan's splits;
            # it reads only text, so the collapse's winner carries its
            # own verdict as __keep
            batch_df = with_gopher_keep(batch_df, "text", "__keep",
                                        min_words=self.min_words,
                                        **self.gopher_kwargs)
        # one row per doc id per batch: every downstream gate (and the
        # append-only corpus sink) assumes unique ids; a duplicated id in
        # one batch (re-crawled URI in a WET shard, a re-sent jsonl row)
        # collapses deterministically (max text wins)
        others = [c for c in batch_df.columns if c != "doc_id"]
        batch_df = (batch_df.groupBy("doc_id")
                    .agg(F.max_by(F.struct(*others), F.col("text"))
                         .alias("__r"))
                    .select("doc_id", "__r.*"))
        # the audit counts, observed by the first action over each frame
        # (module docstring); none of them runs a job of its own
        in_obs, good_obs, adm_obs = Observation(), Observation(), Observation()
        batch_df = _observe_rows(batch_df, in_obs)
        try:
            if self.recipe is not None:
                from datapump_spark.recipes import pretrain_corpus

                # the recipe reads the batch many times, some of them in
                # its own eager actions over frames it persists: cut the
                # lineage here (the checkpoint fills the n_in
                # observation), so no observation sits under its caches
                good = pretrain_corpus(batch_df.localCheckpoint(eager=True),
                                       recipe=self.recipe)["clean"]
            else:
                good = batch_df.where("__keep").drop("__keep")
            admitted = incremental_dedup(
                _observe_rows(good, good_obs),
                read_before(self.spark, self.corpus_dir, "fp string",
                            batch_id))
            if (self.near_dup_threshold is not None
                    or self.span_dedup_n is not None):
                # the near-dup and span gates read the batch several
                # times, some of them under caches of their own: cut the
                # lineage once (the checkpoint fills the n_in and n_good
                # observations), so no observation sits under a cache
                admitted = admitted.localCheckpoint(eager=True)
            sigs = None
            if self.near_dup_threshold is not None:
                from datapump_spark.operators.incremental import (
                    incremental_near_dup,
                )

                # localCheckpoint (NOT persist): the corpus and signature
                # writes both read it, and the signature write refreshes
                # the index path this plan read, which drops a cache
                # built on it. Cutting lineage keeps one MinHash pass.
                admitted2 = incremental_near_dup(
                    admitted, read_before(self.spark, self.sig_index_dir,
                                          SIG_SCHEMA, batch_id),
                    threshold=self.near_dup_threshold) \
                    .localCheckpoint(eager=True)
                # sub-shingle docs are admitted with null signatures —
                # they carry nothing to probe against, keep them out of
                # the persisted index
                sigs = admitted2.select("doc_id", *MH_COLS) \
                    .where(F.col("mh0").isNotNull())
                admitted = admitted2.drop(*MH_COLS)
            grams_out = None
            if self.span_dedup_n is not None:
                from datapump_spark.operators.incremental import (
                    gram_index,
                    incremental_span_dedup,
                )

                # localCheckpoint for the same reason as the signatures:
                # the gram write below runs after the corpus write
                spans = incremental_span_dedup(
                    admitted, read_before(self.spark, self.gram_index_dir,
                                          "gram bigint", batch_id),
                    n=self.span_dedup_n).localCheckpoint(eager=True)
                survivors = spans.where(F.col("clean_text") != "")
                admitted = admitted.drop("text").join(
                    survivors.select(
                        "doc_id", F.col("clean_text").alias("text")),
                    "doc_id")
                grams_out = gram_index(
                    survivors.select(
                        "doc_id", F.col("clean_text").alias("text")),
                    n=self.span_dedup_n)
            # one query reads the corpus (read_before: partitions below
            # batch_id, listed at planning) and overwrites this batch's
            # partition (staged under .spark-staging-*), and its job
            # fills the observations read below
            write_batch(_observe_rows(admitted, adm_obs), batch_id,
                        self.corpus_dir)
            if sigs is not None:
                write_batch(sigs, batch_id, self.sig_index_dir)
            if grams_out is not None:
                write_batch(grams_out, batch_id, self.gram_index_dir)
            n_in, n_good, n_adm = (o.get["n"]
                                   for o in (in_obs, good_obs, adm_obs))
            write_batch_row([(n_in, "bigint", "n_in"),
                             (n_in - n_good, "bigint", "n_low_quality"),
                             (n_good - n_adm, "bigint", "n_dup"),
                             (n_adm, "bigint", "n_admitted")],
                            batch_id, self.audit_dir)
        finally:
            # the operators' internal persists (near-dup signatures,
            # quality, fingerprints) share the session cache scope —
            # release them, on success or failure, so a long-running
            # stream holds at most one batch's caches
            release_scope(batch_df.sparkSession)

    def stream(self, checkpoint_dir: str | Path):
        """Build the writer; caller starts it (``.trigger(availableNow=
        True).start()`` for a drain, no trigger for continuous)."""
        if self.input_format == "wet":
            from datapump_spark.functions.hashing import hash63
            from datapump_spark.sources.warc import read_wet_stream

            wet = read_wet_stream(self.spark, self.input_dir,
                                  self.max_files_per_trigger)
            stream_df = wet.select(
                hash63(F.col("target_uri")).alias("doc_id"),
                "text",
                F.lit(None).cast("string").alias("lang"),
                F.regexp_extract("target_uri", r"^[a-z]+://([^/]+)", 1)
                .alias("source"),
            )
        elif self.input_format == "jsonl":
            reader = self.spark.readStream.schema(DOC_SCHEMA)
            if self.max_files_per_trigger:
                reader = reader.option("maxFilesPerTrigger",
                                       self.max_files_per_trigger)
            stream_df = reader.json(self.input_dir)
        elif self.input_format == "jsonl-compressed":
            # r12: drop-boxes full of .jsonl.{gz,bz2,xz,lzma,zst,lz4,
            # br,Z} — binaryFile stream through the same per-file magic
            # dispatch as the batch reader (sources/jsonl.py); the
            # decode kernel is stateless, so micro-batch replay
            # semantics are unchanged.
            from datapump_spark.sources.jsonl import decode_jsonl_files

            reader = self.spark.readStream.format("binaryFile").schema(
                "path string, modificationTime timestamp, "
                "length long, content binary")
            if self.max_files_per_trigger:
                reader = reader.option("maxFilesPerTrigger",
                                       self.max_files_per_trigger)
            stream_df = decode_jsonl_files(
                reader.load(self.input_dir), DOC_SCHEMA)
        else:
            raise ValueError("input_format must be 'jsonl', "
                             f"'jsonl-compressed' or 'wet': "
                             f"{self.input_format!r}")
        return (stream_df.writeStream
                .foreachBatch(self._handle_batch)
                .option("checkpointLocation", str(checkpoint_dir)))

    def drain(self, checkpoint_dir: str | Path, timeout: int = 300) -> None:
        """AvailableNow drain (the cron-equivalent single pass)."""
        await_drain(self.stream(checkpoint_dir)
                    .trigger(availableNow=True).start(),
                    timeout, checkpoint_dir)
