"""The job pipeline engine — reference runjob/computestats re-expressed on
Structured Streaming (SURVEY §3, §7 Phase 2).

Per queue file (datapump.py:419-675), in one step both drains share:
  typed ingestion (multi-format ts, inferred schema) →
  per-file dedupe by PK (keep first/last in file row order) →
  MERGE upsert by PK (a Truncate job's first file replaces the table in
  the same publish) → metadata stamp → audit append →
  stats recompute ({resource}-stats/-mode/-{kind} tables, written
  concurrently; the last stat of a table name wins; a failing stat is
  audited after the others are written) → catalog sync →
  archive to processed/ | quarantine to problems/.

Streaming mapping (SURVEY §2.10):
- ``run_available`` drains the queue once = the reference's cron
  invocation; ``stream()`` is its continuous twin, a ``binaryFile``
  listing of ``InputFile`` (no content read) whose micro-batches run the
  same per-file step. Both go oldest-first by (mtime, name); the
  reference's newest-first order makes the OLDEST file win PK collisions
  — an acknowledged bug we diverge from (SURVEY §1.3 quirk).
- A failing file is audited and quarantined; the batch goes on.
- A batch replayed from the checkpoint finds its files archived and the
  source drops them (``ignoreMissingFiles`` drops one that goes between
  listing and read), so the replay changes nothing.
- No Truncate on a stream: it has no drain boundary to truncate at, and
  a replayed first batch would truncate again; ``stream()`` raises.

Scale: dedupe and MERGE shuffle on the same PK hash — one exchange layout
reused; stats recompute reads the sink table back (columnar, pruned) instead
of re-shipping the batch, and writes its stats tables concurrently, one
driver thread per table, since each is an independent read of the same
table version; ``maxFilesPerTrigger`` bounds a micro-batch's files. No
collect() of data rows anywhere — only file paths (O(files), driver-side
queue bookkeeping) are materialized.
"""

from __future__ import annotations

import shutil
import time
from collections.abc import Callable
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field
from pathlib import Path

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter

from datapump_spark.functions.sqltext import sql_ident
from datapump_spark.jobspec import JobSpec, StatSpec
from datapump_spark.operators.dedupe import dedupe_by_key, with_file_order
from datapump_spark.operators.describe import describe_table
from datapump_spark.operators.mode import column_modes
from datapump_spark.operators.resample import freq_resample
from datapump_spark.sinks.upsert import ParquetMergeSink
from datapump_spark.sources.csv_ingest import (
    DEFAULT_DATE_FORMATS,
    DEFAULT_INFER_SAMPLE_ROWS,
    infer_ckan_fields,
    project_typed,
    read_csv_raw,
)
from datapump_spark.streaming.batches import literal_row

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

    def _load_file(self, path: Path) -> tuple[DataFrame,
                                              Callable[[], tuple[int, int]]]:
        """Read + type + dedupe ONE queue file (the reference's per-file
        loop, datapump.py:427-456). Returns the frame and a thunk giving
        (n_rows, n_dupes). With a ``Dedupe`` the counts are observed on
        the first action over the frame (the sink's merge), so call the
        thunk only after that action has run."""
        raw = read_csv_raw(self.spark, str(path))
        fields = infer_ckan_fields(raw, self.date_formats,
                                   DEFAULT_INFER_SAMPLE_ROWS)
        typed = project_typed(with_file_order(raw), fields, self.date_formats)
        pk = self.job.primary_key
        if not self.job.dedupe:
            # rows and distinct PK groups from one aggregation over per-key
            # counts (a null key is one group, like pandas' duplicated)
            n_rows, n_keys = (
                typed.groupBy(*[F.col(sql_ident(k)) for k in pk])
                .agg(F.count(F.lit(1)).alias("cnt"))
                .agg(F.sum("cnt"), F.count(F.lit(1))).first())
            n_rows = n_rows or 0
            return typed.drop("__file_order"), lambda: (n_rows, n_rows - n_keys)
        # rows before the dedupe and rows after it (one per PK group, a
        # null key included) are observed on the first action, no own job
        before, after = Observation(), Observation()
        typed = dedupe_by_key(typed.observe(before, F.count(F.lit(1)).alias("n")),
                              pk, "__file_order", self.job.dedupe)
        typed = typed.observe(after, F.count(F.lit(1)).alias("n"))

        def counts() -> tuple[int, int]:
            n_rows = before.get["n"]
            return n_rows, n_rows - after.get["n"]

        return typed.drop("__file_order"), counts

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
        """Rewrite every stats table from one read of the sink table.

        Stats of one table name (two ``H`` stats with different
        ``GroupBy``, say) are one write: only the last in ``Stats`` is
        computed. The tables are written concurrently, one driver thread
        each: every table is its own directory, so the sink's single
        writer per table holds, and each thread inherits the caller's job
        group, description and tags. All writes finish before the first
        failure in ``Stats`` order is raised, so a failing stat does not
        stop the others.
        """
        if not self.job.stats:
            return
        data = self.sink.read(self.spark, self.job.target_resource)
        last = {self.job.stat_table_name(s): i
                for i, s in enumerate(self.job.stats)}
        stats = [self.job.stats[i] for i in sorted(last.values())]

        def write(stat: StatSpec) -> None:
            self.sink.overwrite(self._compute_stat(data, stat),
                                self.job.stat_table_name(stat))

        # one wrapper per task: each holds its own copy of the local
        # properties, in which every SQL query sets its execution id
        with ThreadPoolExecutor(max_workers=len(stats)) as pool:
            futures = [pool.submit(
                inheritable_thread_target(self.spark)(write), stat)
                for stat in stats]
        for future in futures:
            future.result()

    # ------------------------------------------------------------ audit (S2.10)

    def _audit(self, file: str, started: float, n_rows: int, n_dupes: int,
               ok: bool, error: str | None = None) -> None:
        values = [(self.job.qualified_name, "string", "job"),
                  (file, "string", "file"),
                  (n_rows, "bigint", "processed"),
                  (n_dupes, "bigint", "dupes"),
                  (round(time.perf_counter() - started, 3), "double",
                   "elapsed_sec"),
                  (ok, "boolean", "ok"),
                  (error, "string", "error")]
        row = literal_row(self.spark, values).withColumn(
            "at", F.current_timestamp())
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
        # a Truncate job's first file to commit replaces the table
        replace = self.job.truncate
        for path in self.queue_files():
            if self._process_file(path, result, replace):
                replace = False
        return result

    def _process_file(self, path: Path, result: PipelineResult,
                      replace: bool = False) -> bool:
        """ONE queue file through the reference's per-file loop
        (datapump.py:427-675), with ``replace`` for a Truncate job's first
        file. Records it in ``result``; returns whether its rows committed."""
        started = time.perf_counter()
        committed = False
        try:
            df, counts = self._load_file(path)
            merge = self.sink.replace if replace else self.sink.upsert
            merge(self.spark, df, self.job.target_resource,
                  self.job.primary_key)
            committed = True
            n_rows, n_dupes = counts()
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
        return committed

    # ------------------------------------------------------------ structured streaming

    def stream(self, checkpoint_dir: str | Path,
               max_files_per_trigger: int | None = None) -> DataStreamWriter:
        """Continuous variant: a file stream over ``InputFile`` whose
        micro-batches take their files oldest-first through
        :meth:`run_available`'s per-file step. The writer comes back with
        ``trigger(availableNow=True)`` set, so ``start()`` drains what is
        there and stops; a caller that wants it to run continuously calls
        ``.trigger(processingTime=…)`` on it before ``start()``."""
        if self.job.truncate:
            raise ValueError(f"{self.job.qualified_name}: Truncate needs a "
                             "drain boundary; use run_available, not stream")
        if self.catalog is not None:
            self.catalog.ensure_package(self.job.target_org,
                                        self.job.target_package)
        # the binaryFile source's fixed schema, which a file stream needs
        reader = self.spark.readStream.format("binaryFile").schema(
            "path STRING NOT NULL, modificationTime TIMESTAMP NOT NULL, "
            "length BIGINT NOT NULL, content BINARY").option(
            "ignoreMissingFiles", True)
        if max_files_per_trigger:
            reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
        # projected before the sink, so the scan never reads file content
        listing = reader.load(self.job.input_file).select(
            "path", "modificationTime")

        def handle_batch(batch_df: DataFrame, batch_id: int) -> None:
            result = PipelineResult()
            for r in sorted(batch_df.collect(), key=lambda r: (
                    r.modificationTime, Path(r.path).name)):
                # the source reports paths as unencoded ``file:/…`` strings
                self._process_file(Path(r.path.removeprefix("file:")), result)

        return (
            listing.writeStream
            .foreachBatch(handle_batch)
            .option("checkpointLocation", str(checkpoint_dir))
            .trigger(availableNow=True)
        )
