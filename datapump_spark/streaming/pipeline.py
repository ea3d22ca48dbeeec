"""The job pipeline engine — reference runjob/computestats re-expressed on
Structured Streaming (SURVEY §3, §7 Phase 2).

Per job (datapump.py:419-675):
  file source (glob) → typed ingestion (multi-format ts, inferred schema) →
  per-file dedupe by PK (keep first/last in file row order) →
  foreachBatch: [truncate] → MERGE upsert by PK → audit append →
  stats recompute ({resource}-stats/-mode/-{kind} tables) →
  archive to processed/ | quarantine to problems/.

Streaming mapping (SURVEY §2.10):
- ``Trigger.AvailableNow`` drains the queue once = the reference's cron
  invocation; leaving the same code running continuous = the upgrade path.
- Files process oldest-first (we sort the batch by (mtime, name, row)); the
  reference's newest-first order makes the OLDEST file win PK collisions —
  an acknowledged bug we diverge from (SURVEY §1.3 quirk).
- Checkpointing + idempotent MERGE upgrades at-least-once to exactly-once.
- Failure quarantine: the file source has no dead-letter, so the batch is
  driven per-file inside foreachBatch with try/except routing to problems/
  (SURVEY §7 "What's hard #5").

Scale: dedupe and MERGE shuffle on the same PK hash — one exchange layout
reused; stats recompute reads the sink table back (columnar, pruned) instead
of re-shipping the batch; ``maxFilesPerTrigger`` bounds batch memory at
production volumes. No collect() of data rows anywhere — only file paths
(O(files), driver-side queue bookkeeping) are materialized.
"""

from __future__ import annotations

import shutil
import time
from dataclasses import dataclass, field
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from datapump_spark.jobspec import JobSpec, StatSpec
from datapump_spark.operators.dedupe import dedupe_by_key, with_file_order
from datapump_spark.operators.describe import describe_table
from datapump_spark.operators.mode import column_modes
from datapump_spark.operators.resample import freq_resample
from datapump_spark.sinks.upsert import ParquetMergeSink
from datapump_spark.sources.csv_ingest import (
    CSV_OPTIONS,
    DEFAULT_DATE_FORMATS,
    DEFAULT_INFER_SAMPLE_ROWS,
    infer_ckan_fields,
    project_typed,
    read_csv_raw,
)

AUDIT_TABLE = "_audit"


@dataclass
class PipelineResult:
    processed: list[str] = field(default_factory=list)
    quarantined: list[str] = field(default_factory=list)
    rows_upserted: int = 0


class Pipeline:
    """One job's ingestion pipeline against a ParquetMergeSink."""

    def __init__(
        self,
        spark: SparkSession,
        job: JobSpec,
        sink: ParquetMergeSink,
        processed_dir: str | Path,
        problems_dir: str | Path,
        date_column: str = "DateTime",
        date_formats: list[str] = DEFAULT_DATE_FORMATS,
        catalog=None,
    ):
        self.spark = spark
        self.job = job
        self.sink = sink
        self.processed_dir = Path(processed_dir)
        self.problems_dir = Path(problems_dir)
        self.date_column = date_column
        self.date_formats = date_formats
        # K5: optional SparkCatalogNamespace — org gate + view registration
        self.catalog = catalog
        self.processed_dir.mkdir(parents=True, exist_ok=True)
        self.problems_dir.mkdir(parents=True, exist_ok=True)

    # ------------------------------------------------------------ ingestion

    def _load_file(self, path: Path) -> tuple[DataFrame, int, int]:
        """Read + type + dedupe ONE queue file (the reference's per-file
        loop, datapump.py:427-456). Returns (df, n_rows, n_dupes)."""
        raw = read_csv_raw(self.spark, str(path))
        fields = infer_ckan_fields(raw, self.date_formats,
                                   DEFAULT_INFER_SAMPLE_ROWS)
        typed = project_typed(with_file_order(raw), fields, self.date_formats)
        pk = self.job.primary_key
        # rows and distinct PK groups from one aggregation over per-key
        # counts (a null key is one group, like pandas' duplicated)
        n_rows, n_keys = (
            typed.groupBy(*pk).agg(F.count(F.lit(1)).alias("cnt"))
            .agg(F.sum("cnt"), F.count(F.lit(1))).first())
        n_rows = n_rows or 0
        if self.job.dedupe:
            typed = dedupe_by_key(typed, pk, "__file_order", self.job.dedupe)
        return typed.drop("__file_order"), n_rows, n_rows - n_keys

    # ------------------------------------------------------------ stats (Entry 3)

    def _compute_stat(self, data: DataFrame, stat: StatSpec) -> DataFrame:
        """computestats dispatch (datapump.py:378-396), on the PRISTINE
        sink table per stat (divergence from the cumulative-drop bug)."""
        df = data.drop(*stat.drop_columns) if stat.drop_columns else data
        if stat.kind == "descriptive":
            return describe_table(df)
        if stat.kind == "mode":
            return column_modes(df, list(df.columns))
        return freq_resample(
            df, stat.group_by, self.date_column, stat.kind,
            bucket_alias=self.date_column,
        )

    def _recompute_stats(self) -> None:
        if not self.job.stats:
            return
        data = self.sink.read(self.spark, self.job.target_resource)
        for stat in self.job.stats:
            out = self._compute_stat(data, stat)
            self.sink.overwrite(out, self.job.stat_table_name(stat))

    # ------------------------------------------------------------ audit (S2.10)

    def _audit(self, file: str, started: float, n_rows: int, n_dupes: int,
               ok: bool, error: str | None = None) -> None:
        row = self.spark.createDataFrame(
            [(self.job.qualified_name, file, n_rows, n_dupes,
              round(time.perf_counter() - started, 3), ok, error)],
            "job string, file string, processed bigint, dupes bigint, "
            "elapsed_sec double, ok boolean, error string",
        ).withColumn("at", F.current_timestamp())
        # append-only: O(1) parquet files added per event, O(N) total for N
        # files processed (the audit table is never read-union-rewritten)
        self.sink.append(row, AUDIT_TABLE)

    # ------------------------------------------------------------ queue drain

    def queue_files(self) -> list[Path]:
        """Glob + OLDEST-first (documented divergence from the reference's
        newest-first, which made old data win PK collisions)."""
        import glob as _glob

        files = [Path(p) for p in _glob.glob(self.job.input_file)]
        return sorted(files, key=lambda p: (p.stat().st_mtime, p.name))

    def run_available(self) -> PipelineResult:
        """Drain the queue once (Trigger.AvailableNow semantics = the
        reference's per-cron invocation, datapump.py:694-707)."""
        result = PipelineResult()
        if self.catalog is not None:
            # K5 namespace gate: unknown TargetOrg fails the job before any
            # file is touched (reference exit, datapump.py:504-507);
            # package is created on demand (datapump.py:509-523)
            self.catalog.ensure_package(self.job.target_org,
                                        self.job.target_package)
        truncated = False
        for path in self.queue_files():
            started = time.perf_counter()
            try:
                df, n_rows, n_dupes = self._load_file(path)
                if self.job.truncate and not truncated:
                    self.sink.truncate(self.job.target_resource)
                    truncated = True
                self.sink.upsert(self.spark, df, self.job.target_resource,
                                 self.job.primary_key)
                # K4 metadata stamp + K1 alias (datapump.py:616-630,224-225).
                # Non-fatal like stats: the data already committed, so a
                # metadata failure must not quarantine the file or
                # contradict the audit.
                try:
                    self.sink.stamp_updated(self.job.target_resource)
                    self.sink.set_alias(self.job.target_resource,
                                        self.job.qualified_name)
                except Exception as meta_err:   # noqa: BLE001
                    self._audit(str(path), started, n_rows, n_dupes,
                                ok=True, error=f"metadata: {meta_err}")
                result.rows_upserted += n_rows
                self._audit(str(path), started, n_rows, n_dupes, ok=True)
                # stats failures are NON-fatal and the file still archives
                # (reference behavior, SURVEY §2.13.9)
                try:
                    self._recompute_stats()
                except Exception as stat_err:   # noqa: BLE001
                    self._audit(str(path), started, n_rows, n_dupes,
                                ok=True, error=f"stats: {stat_err}")
                # K5 view refresh AFTER stats so derived tables exist; its
                # own non-fatal block so a catalog failure neither blocks
                # archiving nor masks a stats failure
                try:
                    if self.catalog is not None:
                        self.catalog.sync_job(self.job, self.sink)
                except Exception as cat_err:    # noqa: BLE001
                    self._audit(str(path), started, n_rows, n_dupes,
                                ok=True, error=f"catalog: {cat_err}")
                dest = self.processed_dir / path.name
                shutil.move(str(path), dest)
                result.processed.append(str(dest))
            except Exception as err:            # noqa: BLE001
                self._audit(str(path), started, 0, 0, ok=False, error=str(err))
                dest = self.problems_dir / path.name
                if path.exists():
                    shutil.move(str(path), dest)
                result.quarantined.append(str(dest))
        return result

    # ------------------------------------------------------------ structured streaming

    def stream(self, checkpoint_dir: str | Path, max_files_per_trigger: int | None = None):
        """Continuous variant: Structured Streaming file source feeding the
        same MERGE-upsert in foreachBatch. ``start()`` is left to the
        caller; AvailableNow drains once, no trigger = run forever."""
        sample = self.queue_files()
        if not sample:
            raise FileNotFoundError(f"no files match {self.job.input_file}")
        raw = read_csv_raw(self.spark, str(sample[0]))
        fields = infer_ckan_fields(raw, self.date_formats,
                                   DEFAULT_INFER_SAMPLE_ROWS)
        reader = self.spark.readStream.schema(raw.schema).options(**CSV_OPTIONS)
        if max_files_per_trigger:
            reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
        # carry source-file identity so a multi-file trigger reproduces the
        # batch path's per-file-dedupe + oldest-first-upsert semantics
        stream_df = (
            reader.csv(self.job.input_file)
            .withColumn("__src_mtime", F.col("_metadata.file_modification_time"))
            .withColumn("__src_path", F.col("_metadata.file_path"))
        )

        def handle_batch(batch_df: DataFrame, batch_id: int) -> None:
            typed = project_typed(
                batch_df.withColumn("__row", F.monotonically_increasing_id()),
                fields, self.date_formats)
            pk = list(self.job.primary_key)
            if self.job.dedupe:
                # 1) reference per-FILE dedupe (keep first/last in file row
                #    order), 2) the newest file wins the cross-file PK
                #    collision — exactly run_available's sorted per-file
                #    dedupe + sequential-upsert outcome, deterministic no
                #    matter how many files share one trigger
                typed = dedupe_by_key(typed, pk + ["__src_path"], "__row",
                                      self.job.dedupe)
                typed = dedupe_by_key(typed, pk,
                                      F.struct("__src_mtime", "__src_path"),
                                      "last")
            typed = typed.drop("__row", "__src_mtime", "__src_path")
            self.sink.upsert(self.spark, typed, self.job.target_resource, pk)
            self._recompute_stats()

        return (
            stream_df.writeStream
            .foreachBatch(handle_batch)
            .option("checkpointLocation", str(checkpoint_dir))
            .trigger(availableNow=True)
        )
