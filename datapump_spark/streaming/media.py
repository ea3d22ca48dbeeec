"""Streaming media ingestion: binaryFile stream → sniff → real decode →
feature store + quarantine.

The multimodal twin of :class:`streaming.corpus.StreamingCorpusIngest`:
watch a directory for arriving media files and, per micro-batch,

1. shape them into the media model (``sources.mediadir.media_table`` —
   stable path-hash ids, extension-claimed metadata);
2. header-sniff the payload bytes (``operators.mediasniff``, pure
   codegen) and flag files whose bytes disagree with their extension —
   the mislabel gate that catches renamed files before a decoder chokes;
3. run the REAL decode feature kernel (``operators.multimodal.
   extract_features`` with ``on_error='null'`` — stdlib PNG/BMP/WAV
   decode; JPEG/video and corrupt payloads yield null features instead
   of failing the batch);
4. append decodable rows to a ``features`` store and route everything
   undecodable (nulled features OR extension/bytes mismatch) to a
   ``quarantine`` store with the reason — nothing is dropped silently,
   the same no-silent-loss contract as the corpus ingest's audit.

Both stores use the batch layout of streaming/batches.py, so a
replayed batch overwrites its own partitions and repeats its first
run's routing — idempotent under checkpoint loss. With the perceptual
gate on, ``features`` rows carry their ``dHash`` and the store is its own
near-dup index.

At scale: payload bytes never shuffle (every stage is a scan-side
projection or Arrow kernel over the batch); the feature store carries
only FEATURE_DIM doubles + metadata per file; quarantine carries the
path, not the payload.
"""

from __future__ import annotations

from dataclasses import dataclass
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from datapump_spark.cachescope import release_scope
from datapump_spark.streaming.batches import read_before, write_batch


@dataclass
class StreamingMediaIngest:
    """File-stream of raw media → per-batch sniff/decode → features +
    quarantine stores."""

    spark: SparkSession
    input_dir: str
    out_dir: str
    glob: str | None = None
    max_files_per_trigger: int | None = 8
    # Optional cross-batch perceptual image dedup: features rows keep
    # their dHash, and a batch image within this hamming distance of ANY
    # admitted one (or of a lower-id image in its own batch) routes to
    # quarantine as 'near_dup'. None = off.
    image_dedup_hamming: int | None = None

    @property
    def features_dir(self) -> str:
        return str(Path(self.out_dir) / "features")

    @property
    def quarantine_dir(self) -> str:
        return str(Path(self.out_dir) / "quarantine")

    def _handle_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        from datapump_spark.operators.mediasniff import sniff_media
        from datapump_spark.operators.multimodal import extract_features
        from datapump_spark.sources.mediadir import media_table

        media = media_table(batch_df).persist()
        try:
            sniffed = sniff_media(media, strategy="expr").select(
                "media_id", F.col("format").alias("sniffed_format"))
            feats = extract_features(media, fake=False, on_error="null")
            claimed = F.when(F.col("meta.format") == "jpg", "jpeg") \
                .otherwise(F.col("meta.format"))
            joined = (
                media.select("media_id", "path", "meta",
                             claimed.alias("claimed_format"))
                .join(sniffed, "media_id")
                .join(feats.select("media_id", "n_bytes", "features"),
                      "media_id")
                .withColumn(
                    "reason",
                    F.when(F.col("features").isNotNull()
                           & ~F.col("claimed_format")
                           .eqNullSafe(F.col("sniffed_format")),
                           F.lit("mislabeled"))
                    .when(F.col("features").isNull(), F.lit("undecodable")))
                .localCheckpoint(eager=True)
            )
            if self.image_dedup_hamming is not None:
                from datapump_spark.operators.dedup_fuzzy import (
                    hamming_pairs,
                    hamming_probe,
                )
                from datapump_spark.operators.multimodal import image_dhash

                ok_imgs = (media.join(
                    joined.where(F.col("reason").isNull())
                    .select("media_id"), "media_id", "semi")
                    .where(F.col("meta.kind") == "image"))
                # freeze: the probe, the in-batch pairs and the features
                # rows all read the signatures
                sigs = image_dhash(ok_imgs).where(
                    F.col("dhash").isNotNull()).localCheckpoint(eager=True)
                k = self.image_dedup_hamming
                index = read_before(self.spark, self.features_dir,
                                    "dhash bigint", batch_id) \
                    .where(F.col("dhash").isNotNull())
                cross = hamming_probe(sigs, index, "media_id", "dhash",
                                      max_hamming=k)
                in_batch = hamming_pairs(sigs, "media_id", "dhash",
                                         max_hamming=k) \
                    .select(F.col("id_b").alias("id"))
                dup_ids = cross.unionByName(in_batch).distinct() \
                    .withColumnRenamed("id", "media_id") \
                    .localCheckpoint(eager=True)
                # set near_dup via join (no driver collect)
                joined = (joined.join(
                    dup_ids.withColumn("__dup", F.lit(True)),
                    "media_id", "left")
                    .withColumn(
                        "reason",
                        F.coalesce("reason",
                                   F.when(F.col("__dup"),
                                          F.lit("near_dup"))))
                    .drop("__dup")
                    .join(sigs.select("media_id", "dhash"), "media_id",
                          "left"))
            write_batch(joined.where(F.col("reason").isNull())
                        .drop("meta", "claimed_format", "reason"),
                        batch_id, self.features_dir)
            write_batch(joined.where(F.col("reason").isNotNull())
                        .select("media_id", "path", "claimed_format",
                                "sniffed_format", "n_bytes", "reason"),
                        batch_id, self.quarantine_dir)
        finally:
            media.unpersist()
            # release operator-internal scoped caches per batch (r13)
            release_scope(media.sparkSession)

    def stream(self, checkpoint_dir: str | Path):
        # binaryFile's schema is fixed by the source, but streaming
        # sources still demand it explicitly
        reader = (
            self.spark.readStream.format("binaryFile")
            .schema("path string, modificationTime timestamp, "
                    "length long, content binary")
            .option("recursiveFileLookup", "true")
        )
        if self.glob:
            reader = reader.option("pathGlobFilter", self.glob)
        if self.max_files_per_trigger:
            reader = reader.option("maxFilesPerTrigger",
                                   self.max_files_per_trigger)
        src = reader.load(self.input_dir)
        return (
            src.writeStream.foreachBatch(self._handle_batch)
            .option("checkpointLocation", str(checkpoint_dir))
            .trigger(availableNow=True)
        )

    def drain(self, checkpoint_dir: str | Path, timeout: int = 300) -> None:
        q = self.stream(checkpoint_dir).start()
        q.awaitTermination(timeout)
