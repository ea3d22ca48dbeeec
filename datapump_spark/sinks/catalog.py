"""K5 namespace management — CKAN org / package / resource on the Spark
catalog (SURVEY §2 K5).

The reference manages a 3-level CKAN namespace: per run it fetches
``organization_list`` (datapump.py:691); per job, if the target resource is
missing it checks the package (``package_show``) and creates it
(``package_create(name, private=False, owner_org)``) — but hard-fails when
``TargetOrg`` does not exist (datapump.py:493-523, exit at 504-507). Orgs
are admin-created out of band; packages are created on demand; a resource
is a table inside the package.

Spark-first mapping (the SURVEY §1.1 table):

- **org** → an admin-registered namespace. Modeled as a marker database
  ``_dp_org__{org}`` so the registry lives in the same catalog the tables
  do (survives as far as the metastore does: forever under Hive/Unity,
  session-long under the in-memory catalog used in tests).
- **package** → a database named ``{org}__{package}``, created on demand
  with ``CREATE DATABASE IF NOT EXISTS`` — but only when the org marker
  exists, reproducing the reference's hard org gate.
- **resource** → a view inside the package database over the
  :class:`~datapump_spark.sinks.upsert.ParquetMergeSink` table's *current
  version* directory. Views rather than external tables because the sink
  publishes versioned directories behind a pointer — each publish re-points
  the view (a catalog-only operation, no data movement).
- **alias** (K1, ``{org}-{package}-{resource}``, datapump.py:224-225) → a
  view in the ``default`` database selecting from the resource view.

Identifiers: CKAN names are lowercase alnum plus ``-_``; Spark/HMS
identifiers forbid ``-``, so names are *mangled* (``-`` → ``_``) after a
strict charset check (anything else raises — job-file strings never reach
SQL text unvalidated). Existence checks compare mangled names; ``my-org``
and ``my_org`` therefore collide, same as CKAN's own name munging.

Scale: every operation here is a catalog/metastore RPC — O(1) per publish,
no data scanned. On a cluster the same calls target a shared metastore, so
registered views are visible to every reader immediately after the sink's
atomic pointer flip.
"""

from __future__ import annotations

import re

from pyspark.sql import SparkSession

from datapump_spark.jobspec import JobSpec
from datapump_spark.sinks.upsert import ParquetMergeSink

_NAME_RE = re.compile(r"^[A-Za-z0-9_-]+$")
_ORG_MARKER_PREFIX = "_dp_org__"


class NamespaceError(ValueError):
    """Unknown org / invalid identifier (the reference's sys.exit path,
    datapump.py:504-507)."""


def _ident(name: str) -> str:
    """Validate a CKAN-style name and mangle it into a Spark identifier."""
    if not _NAME_RE.match(name or ""):
        raise NamespaceError(
            f"invalid identifier {name!r}: only [A-Za-z0-9_-] allowed")
    return name.replace("-", "_")


class SparkCatalogNamespace:
    """org/package/resource namespace over ``spark.catalog``."""

    def __init__(self, spark: SparkSession, orgs: list[str] | None = None):
        self.spark = spark
        for org in orgs or []:
            self.create_org(org)

    # ------------------------------------------------------------ orgs (admin)

    def create_org(self, org: str) -> None:
        """Admin bootstrap — CKAN orgs pre-exist; the pump never creates
        them mid-run (it only *checks*, datapump.py:691,504)."""
        self.spark.sql(
            f"CREATE DATABASE IF NOT EXISTS `{_ORG_MARKER_PREFIX}{_ident(org)}`")

    def org_list(self) -> list[str]:
        """organization_list (datapump.py:691), mangled names."""
        return sorted(
            db.name[len(_ORG_MARKER_PREFIX):]
            for db in self.spark.catalog.listDatabases()
            if db.name.startswith(_ORG_MARKER_PREFIX)
        )

    def org_exists(self, org: str) -> bool:
        return _ident(org) in self.org_list()

    # ------------------------------------------------------------ packages

    def database_name(self, org: str, package: str) -> str:
        return f"{_ident(org)}__{_ident(package)}"

    def package_exists(self, org: str, package: str) -> bool:
        return self.spark.catalog.databaseExists(self.database_name(org, package))

    def ensure_package(self, org: str, package: str) -> str:
        """package_show-or-create under the org gate (datapump.py:493-523).
        Returns the database name; raises :class:`NamespaceError` when the
        org was never registered (reference exit, datapump.py:504-507)."""
        if not self.org_exists(org):
            raise NamespaceError(f'TargetOrg "{org}" does not exist!')
        db = self.database_name(org, package)
        self.spark.sql(f"CREATE DATABASE IF NOT EXISTS `{db}`")
        return db

    # ------------------------------------------------------------ resources

    def register_resource(self, org: str, package: str, resource: str,
                          sink: ParquetMergeSink, table: str) -> str:
        """(Re-)point the resource view at the sink table's current
        version. Called after every publish — catalog-only cost. Spark
        takes the view's schema from the version's ``_common_metadata``
        summary (every sink version has one: its manifest's schema), so a
        column only the newest files carry is in the view."""
        db = self.ensure_package(org, package)
        loc = sink.current_version(table)
        if loc is None:
            raise NamespaceError(f"sink table {table!r} does not exist")
        name = f"`{db}`.`{_ident(resource)}`"
        self.spark.sql(
            f"CREATE OR REPLACE VIEW {name} AS SELECT * FROM parquet.`{loc}`")
        return name

    def register_alias(self, alias: str, org: str, package: str,
                       resource: str) -> str:
        """K1 global alias view (datapump.py:224-225)."""
        target = f"`{self.database_name(org, package)}`.`{_ident(resource)}`"
        name = f"`default`.`{_ident(alias)}`"
        self.spark.sql(f"CREATE OR REPLACE VIEW {name} AS SELECT * FROM {target}")
        return name

    # ------------------------------------------------------------ job sync

    def sync_job(self, job: JobSpec, sink: ParquetMergeSink) -> list[str]:
        """Register/refresh every view a job publishes: the resource table,
        its derived stat tables, and the qualified alias."""
        registered = []
        tables = [job.target_resource] + [
            job.stat_table_name(s) for s in job.stats]
        for table in tables:
            if sink.exists(table):
                registered.append(self.register_resource(
                    job.target_org, job.target_package, table, sink, table))
        if sink.exists(job.target_resource):
            registered.append(self.register_alias(
                job.qualified_name, job.target_org, job.target_package,
                job.target_resource))
        return registered
