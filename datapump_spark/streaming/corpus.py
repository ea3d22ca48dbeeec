"""Streaming corpus ingestion: the training-data twin of the job
pipeline — new documents arrive as files, each micro-batch is quality-
gated and deduplicated against everything already admitted, survivors
append to the corpus and their fingerprints to the persisted index.

    doc files ──readStream──▶ gopher quality gate
        ─▶ incremental_dedup vs fingerprint index (operators/incremental)
        ─▶ corpus append (partitioned by batch id)
        ─▶ index append  (same partitioning)
        ─▶ audit row (n_in / n_low_quality / n_dup / n_admitted)

Exactly-once without MERGE: every sink write is partitioned by
``__batch_id`` with dynamic partition overwrite, so a replayed batch
(after a crash between writes) OVERWRITES its own partition instead of
appending twice — idempotent by layout, the same trick as the shard
sink. The fingerprint index is additionally rebuildable from the corpus
itself (it is derived state).

At 100 TB: the index is the only cross-batch state and it shuffles
nothing on read here (the anti-join ships the daily batch to the index's
buckets; see operators/incremental docstring); the corpus write is an
append of already-filtered data. State never lives in the streaming
state store, so checkpoints stay tiny.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from datapump_spark.operators.incremental import incremental_dedup
from datapump_spark.operators.quality import gopher_filter

DOC_SCHEMA = ("doc_id bigint, text string, lang string, source string")
# the near-dup gate's persisted MinHash signature index
MH_COLS = [f"mh{i}" for i in range(16)]
SIG_SCHEMA = "doc_id bigint, " + ", ".join(f"{c} bigint" for c in MH_COLS)


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
        return str(Path(self.out_dir) / "fp_index")

    @property
    def audit_dir(self) -> str:
        return str(Path(self.out_dir) / "audit")

    @property
    def sig_index_dir(self) -> str:
        return str(Path(self.out_dir) / "sig_index")

    @property
    def gram_index_dir(self) -> str:
        return str(Path(self.out_dir) / "gram_index")

    def _read_index(self, path: str, schema: str,
                    cols: list[str]) -> DataFrame:
        """A persisted index's ``cols``, or an empty ``schema`` frame
        before its first batch lands."""
        if any(f.endswith(".parquet") for _, _, fs in os.walk(path)
               for f in fs):
            return self.spark.read.parquet(path).select(*cols)
        return self.spark.createDataFrame([], schema)

    def _write_batch(self, df: DataFrame, batch_id: int, path: str) -> None:
        """Overwrite this batch's ``__batch_id`` partition of ``path``."""
        (df.withColumn("__batch_id", F.lit(batch_id))
         .write.partitionBy("__batch_id")
         .option("partitionOverwriteMode", "dynamic")
         .mode("overwrite").parquet(path))

    def _handle_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        # one row per doc id per batch: every downstream gate (and the
        # append-only corpus sink) assumes unique ids; a duplicated id in
        # one batch (re-crawled URI in a WET shard, a re-sent jsonl row)
        # collapses deterministically (max text wins)
        others = [c for c in batch_df.columns if c != "doc_id"]
        batch_df = (batch_df.groupBy("doc_id")
                    .agg(F.max_by(F.struct(*others),
                                  F.col("text")).alias("__r"))
                    .select("doc_id", "__r.*"))
        batch_df = batch_df.persist()
        try:
            n_in = batch_df.count()
            if self.recipe is not None:
                from datapump_spark.recipes import pretrain_corpus

                streams = pretrain_corpus(batch_df, recipe=self.recipe)
                good = streams["clean"].persist()
            else:
                q = gopher_filter(batch_df, "doc_id", "text",
                                  min_words=self.min_words,
                                  **self.gopher_kwargs)
                good = (batch_df.join(
                    q.where(F.col("keep")).select("doc_id"), "doc_id", "semi")
                    .persist())
            n_good = good.count()
            admitted = incremental_dedup(
                good, self._read_index(self.index_dir, "fp string", ["fp"])
            ).persist()
            sigs = None
            if self.near_dup_threshold is not None:
                from datapump_spark.operators.incremental import (
                    incremental_near_dup,
                )

                # localCheckpoint (NOT persist): the fp-index write below
                # refreshes that path and would invalidate a cache whose
                # lineage read it — the recompute would then see the
                # batch's own fingerprints already in the index and emit
                # ZERO rows for the signature write. Cutting lineage
                # freezes the pre-write state.
                admitted2 = incremental_near_dup(
                    admitted, self._read_index(
                        self.sig_index_dir, SIG_SCHEMA, ["doc_id", *MH_COLS]),
                    threshold=self.near_dup_threshold) \
                    .localCheckpoint(eager=True)
                # sub-shingle docs are admitted with null signatures —
                # they carry nothing to probe against, keep them out of
                # the persisted index
                sigs = admitted2.select("doc_id", *MH_COLS) \
                    .where(F.col("mh0").isNotNull())
                admitted.unpersist()
                admitted = admitted2.drop(*MH_COLS)
            grams_out = None
            if self.span_dedup_n is not None:
                from datapump_spark.operators.incremental import (
                    gram_index,
                    incremental_span_dedup,
                )

                # same lineage hazard as the signature index: the
                # gram-index write below refreshes a path this plan read,
                # so freeze the pre-write state
                spans = incremental_span_dedup(
                    admitted, self._read_index(
                        self.gram_index_dir, "gram bigint", ["gram"]),
                    n=self.span_dedup_n).localCheckpoint(eager=True)
                survivors = spans.where(F.col("clean_text") != "")
                admitted = (
                    admitted.drop("text")
                    .join(survivors.select(
                        "doc_id", F.col("clean_text").alias("text")),
                        "doc_id")
                    .localCheckpoint(eager=True))
                grams_out = gram_index(
                    survivors.select(
                        "doc_id", F.col("clean_text").alias("text")),
                    n=self.span_dedup_n)
            n_adm = admitted.count()

            self._write_batch(admitted.drop("fp"), batch_id, self.corpus_dir)
            self._write_batch(admitted.select("fp"), batch_id, self.index_dir)
            if sigs is not None:
                self._write_batch(sigs, batch_id, self.sig_index_dir)
            if grams_out is not None:
                self._write_batch(grams_out, batch_id, self.gram_index_dir)
            audit = self.spark.createDataFrame(
                [(n_in, n_in - n_good, n_good - n_adm, n_adm)],
                "n_in bigint, n_low_quality bigint, n_dup bigint, "
                "n_admitted bigint")
            self._write_batch(audit, batch_id, self.audit_dir)
            good.unpersist()
            admitted.unpersist()
        finally:
            batch_df.unpersist()
            # operators called in this batch (incremental dedup, quality,
            # fingerprints) register their internal persists in the
            # session cache scope — release them so a long-running stream
            # holds at most one batch's caches (r13, guide §5)
            from datapump_spark.cachescope import release_scope
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
        q = self.stream(checkpoint_dir).trigger(availableNow=True).start()
        q.awaitTermination(timeout)
