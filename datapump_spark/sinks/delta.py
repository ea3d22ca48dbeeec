"""Delta Lake profile for the merge sink — the documented seam, as SQL.

``ParquetMergeSink`` (sinks/upsert.py) implements PK-upsert / CDC-merge /
time-travel / compaction / vacuum on plain parquet with zero extra
dependencies, and its docstrings claim each operation "maps to Delta" at
production scale (SURVEY §1.3, §7 Phase 2). This module makes that claim
concrete and testable: :class:`DeltaMergeProfile` renders the EXACT Delta
SQL each sink operation corresponds to, with the same semantics
(batch-wins upsert, sequence-guarded tombstone CDC, OPTIMIZE/VACUUM),
and executes it when a Delta-enabled session is available.

delta-spark is not in this container, so the render path is the contract
surface (shape-pinned in tests/test_delta_sql.py — the same pattern as
``JdbcUpsertSink.upsert_sql``); ``execute=True`` requires a session built
with::

    pip install delta-spark
    builder = tuned_builder("app") \\
        .config("spark.sql.extensions",
                "io.delta.sql.DeltaSparkSessionExtension") \\
        .config("spark.sql.catalog.spark_catalog",
                "org.apache.spark.sql.delta.catalog.DeltaCatalog")

Mapping (sink method → Delta SQL):

====================  =====================================================
ParquetMergeSink      DeltaMergeProfile
====================  =====================================================
overwrite()           CREATE OR REPLACE TABLE … USING DELTA AS SELECT
upsert()              MERGE INTO … WHEN MATCHED UPDATE SET * /
                      WHEN NOT MATCHED INSERT *
apply_cdc()           MERGE INTO … with sequence guard + tombstone DELETE
read(version=…)       SELECT * FROM … VERSION AS OF n
versions()            DESCRIBE HISTORY …
merge's ``c`` side    auto compaction (``delta.autoOptimize.autoCompact``),
                      which rewrites small files into larger ones
compact()             OPTIMIZE … ZORDER BY (leading key); unkeyed:
                      OPTIMIZE …
vacuum()              VACUUM … RETAIN n HOURS
replace()             DELETE FROM … then MERGE INTO … (truncate_sql +
                      upsert_sql: two Delta commits, one publish here)
set_properties()      ALTER TABLE … SET TBLPROPERTIES (…)
stamp_updated()       ALTER TABLE … SET TBLPROPERTIES ('updated_at'=…)
v-<ns>/_manifest.json every publish's ``_delta_log`` commit: ``files``
                      [min, max] of the leading PK = each ``add``'s
                      ``stats.minValues/maxValues`` (data skipping);
                      ``schema`` = the ``metaData`` schemaString;
                      ``keys`` = the MERGE ``ON`` columns (null: unkeyed)
====================  =====================================================

The manifest is the piece of Delta's log this sink keeps: MERGE reads
only the files whose key range overlaps the batch's (Delta's data
skipping on the MERGE source's key range), and reads take the schema
from it instead of merging footers. At 100 TB the Delta profile still
improves the hand-built sink where it is weakest: the transaction log
replaces the single-writer pointer file (multi-writer optimistic
concurrency), its stats cover every column, not just the leading key,
and OPTIMIZE/VACUUM run incrementally instead of rewriting versions.
Neither profile hash-partitions by key: file-level min/max stats are the
only MERGE pruning, and ``compact()``'s range clustering on the leading
key is ``compact_sql(table, zorder_by=[leading key])``, which keeps a
time-ordered feed's MERGE to the files of its window. A merge that finds
more than ``COLD_FILES`` small files below its batch compacts them the
same way as a third side of its own write, where Delta's auto
compaction rewrites small files in a job after the commit.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame

from datapump_spark.functions.sqltext import sql_ident


def _on_clause(keys: Sequence[str]) -> str:
    return " AND ".join(f"t.{sql_ident(k)} = s.{sql_ident(k)}" for k in keys)


class DeltaMergeProfile:
    """Render (and optionally run) the Delta SQL twin of each
    ParquetMergeSink operation. ``database`` qualifies table names;
    ``source_view`` names the temp view MERGE batches are staged as."""

    def __init__(self, database: str = "default",
                 source_view: str = "__merge_batch"):
        self.database = database
        self.source_view = source_view

    def _table(self, table: str) -> str:
        return f"{sql_ident(self.database)}.{sql_ident(table)}"

    # -- DDL -------------------------------------------------------------

    def create_sql(self, table: str, partition_by: Sequence[str] = ()) -> str:
        """overwrite()/first-write twin. ``partition_by`` suits a
        low-cardinality column; MERGE pruning by key needs none, it
        comes from the file stats (module docstring)."""
        part = ""
        if partition_by:
            cols = ", ".join(sql_ident(c) for c in partition_by)
            part = f" PARTITIONED BY ({cols})"
        return (f"CREATE OR REPLACE TABLE {self._table(table)} USING DELTA"
                f"{part} AS SELECT * FROM {self.source_view}")

    # -- MERGE -----------------------------------------------------------

    def upsert_sql(self, table: str, keys: Sequence[str]) -> str:
        """K2 upsert: batch rows win on PK collision — the Delta twin of
        ParquetMergeSink.upsert's anti-join ∪ batch."""
        return (f"MERGE INTO {self._table(table)} t "
                f"USING {self.source_view} s ON {_on_clause(keys)} "
                "WHEN MATCHED THEN UPDATE SET * "
                "WHEN NOT MATCHED THEN INSERT *")

    def cdc_merge_sql(self, table: str, keys: Sequence[str],
                      seq_cols: Sequence[str], payload: Sequence[str],
                      tombstone_col: str = "__tombstone") -> str:
        """apply_cdc twin: one winner per key is staged in the source
        view (the sortless max_by collapse happens DataFrame-side in both
        profiles); the MERGE applies it sequence-guarded. Deletes are
        physical here — Delta's log retains the history the parquet
        sink's marker rows exist to preserve, so `RESTORE`/CDF replaces
        tombstone retention; a stale update older than an applied delete
        is rejected by reading the pre-delete sequence from the CDF
        (enable ``delta.enableChangeDataFeed`` via table_properties_sql).

        Explicit column lists, NOT ``UPDATE SET *``/``INSERT *``: the
        staged view carries the ``tombstone_col`` marker that the target
        table must never receive — ``*`` would fail on the schema
        mismatch (or, with schema.autoMerge, silently add the marker
        column to the production table). ``payload`` is the target's
        non-key non-seq data columns."""
        seq = [(f"s.{sql_ident(c)}", f"t.{sql_ident(c)}") for c in seq_cols]
        s_tuple = "(" + ", ".join(a for a, _ in seq) + ")"
        t_tuple = "(" + ", ".join(b for _, b in seq) + ")"
        guard = f"{s_tuple} >= {t_tuple}"
        ts = f"s.{sql_ident(tombstone_col)}"
        data_cols = [*keys, *seq_cols, *payload]
        sets = ", ".join(f"t.{sql_ident(c)} = s.{sql_ident(c)}"
                         for c in data_cols if c not in keys)
        ins_cols = ", ".join(sql_ident(c) for c in data_cols)
        ins_vals = ", ".join(f"s.{sql_ident(c)}" for c in data_cols)
        return (f"MERGE INTO {self._table(table)} t "
                f"USING {self.source_view} s ON {_on_clause(keys)} "
                f"WHEN MATCHED AND {ts} AND {guard} THEN DELETE "
                f"WHEN MATCHED AND NOT {ts} AND {guard} "
                f"THEN UPDATE SET {sets} "
                f"WHEN NOT MATCHED AND NOT {ts} "
                f"THEN INSERT ({ins_cols}) VALUES ({ins_vals})")

    # -- maintenance / metadata -------------------------------------------

    def time_travel_sql(self, table: str, version: int) -> str:
        return f"SELECT * FROM {self._table(table)} VERSION AS OF {int(version)}"

    def history_sql(self, table: str) -> str:
        return f"DESCRIBE HISTORY {self._table(table)}"

    def compact_sql(self, table: str, zorder_by: Sequence[str] = ()) -> str:
        if zorder_by:
            cols = ", ".join(sql_ident(c) for c in zorder_by)
            return f"OPTIMIZE {self._table(table)} ZORDER BY ({cols})"
        return f"OPTIMIZE {self._table(table)}"

    def vacuum_sql(self, table: str, retain_hours: float = 168.0) -> str:
        return (f"VACUUM {self._table(table)} "
                f"RETAIN {float(retain_hours)} HOURS")

    def truncate_sql(self, table: str) -> str:
        return f"DELETE FROM {self._table(table)}"

    def table_properties_sql(self, table: str, **props: str) -> str:
        kv = ", ".join(f"'{k}' = '{v}'" for k, v in sorted(props.items()))
        return f"ALTER TABLE {self._table(table)} SET TBLPROPERTIES ({kv})"

    def stamp_updated_sql(self, table: str, when: str) -> str:
        """UPDATED-stamp twin (reference datapump.py:616-630): the stamp
        lives in table properties instead of a description suffix."""
        return self.table_properties_sql(table, updated_at=when)

    # -- execution --------------------------------------------------------

    @staticmethod
    def is_available(spark) -> bool:
        """True when the session can parse Delta DDL (delta-spark
        installed and the session extensions configured)."""
        try:
            spark.sql("SELECT 1").collect()
            jvm = spark.sparkContext._jvm
            jvm.java.lang.Class.forName("org.apache.spark.sql.delta.DeltaLog")
            return True
        except Exception:
            return False

    def upsert(self, df: DataFrame, table: str, keys: Sequence[str]) -> None:
        """Stage the batch as the source view and run the MERGE. Requires
        a Delta-enabled session (see module docstring); raises otherwise
        rather than silently degrading."""
        spark = df.sparkSession
        if not self.is_available(spark):
            raise RuntimeError(
                "Delta is not available in this session; install "
                "delta-spark and configure the session extensions, or use "
                "ParquetMergeSink (same semantics, parquet-backed)")
        df.createOrReplaceTempView(self.source_view)
        if not spark.catalog.tableExists(f"{self.database}.{table}"):
            spark.sql(self.create_sql(table))
        else:
            spark.sql(self.upsert_sql(table, keys))
