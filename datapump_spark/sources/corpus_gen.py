"""Synthetic-corpus generator as a custom Python Data Source (Spark 4).

``spark.read.format("corpus_gen").option("rows", ...)`` produces a
deterministic documents-shaped frame (doc_id, text, lang, source,
n_chars) with a controllable duplicate/near-duplicate rate — WITHOUT
writing files first. That makes arbitrary-SF scale curves and dedup
benchmarks one option away (``scripts/run_queries.py replicate`` copies
the scale-factor parquet instead, so the registered queries run on it
unchanged; this source is the seam for a pipeline with no files).

Why a Data Source and not ``spark.range().select(udf...)``:

- generation happens INSIDE the scan, one partition per task, so a
  1-billion-row corpus never exists anywhere but the pipeline — the
  generator is the leaf of the plan and composes with every operator,
  pushdown and AQE included;
- partition boundaries and the per-partition RNG seed are derived only
  from (seed, partition index), so the SAME rows come back regardless
  of cluster size or task retries — deterministic at any parallelism,
  which is what makes generated-corpus benchmarks comparable across
  machines;
- it demonstrates the extension seam a real deployment would use for a
  custom store (the reference's CKAN HTTP source would be rebuilt on
  exactly this API: one InputPartition per page range, reads inside
  executors — never a driver download loop).

Register once per session via :func:`register` (idempotent).
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Iterator

from pyspark.sql import SparkSession
from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition

SCHEMA = ("doc_id bigint, text string, lang string, source string,"
          " n_chars int")

_WORDS = ("the a value key table row scan batch merge sort hash join part "
          "fast slow spark line window data file byte code node task "
          "shuffle block page cache disk core").split()
_LANGS = ["en", "de", "fr", "es"]


@dataclass
class _Slice(InputPartition):
    start: int
    end: int
    seed: int


class CorpusGenDataSource(DataSource):
    """Options: rows (int), partitions (int), seed (int),
    doc_words (mean words/doc), dup_frac (share of docs that are copies
    of an earlier doc with small perturbations)."""

    @classmethod
    def name(cls) -> str:
        return "corpus_gen"

    def schema(self) -> str:
        return SCHEMA

    def reader(self, schema) -> "CorpusGenReader":
        return CorpusGenReader(self.options)


class CorpusGenReader(DataSourceReader):
    def __init__(self, options):
        self.rows = int(options.get("rows", 1000))
        self.n_parts = int(options.get("partitions", 8))
        self.seed = int(options.get("seed", 42))
        self.doc_words = int(options.get("doc_words", 40))
        self.dup_frac = float(options.get("dup_frac", 0.1))

    def partitions(self):
        per = -(-self.rows // self.n_parts)  # ceil
        return [
            _Slice(i * per, min((i + 1) * per, self.rows), self.seed + i)
            for i in range(self.n_parts) if i * per < self.rows
        ]

    def _rng(self, np, tag: int, i: int):
        return np.random.RandomState(
            (self.seed * 1_000_003 + tag * 7_919 + i) % 2**31)

    def read(self, partition: _Slice) -> Iterator[tuple]:
        # numpy is imported INSIDE read: executes on executors only
        import numpy as np

        for i in range(partition.start, partition.end):
            # every row is a pure function of (seed, doc_id): the dup
            # decision, referenced doc, perturbation, and metadata all
            # come from per-row seeded rngs — identical output for any
            # partition count, task placement, or retry
            drng = self._rng(np, 1, i)
            if i > 0 and drng.rand() < self.dup_frac:
                src_id = int(drng.randint(0, i))
                words = self._doc_words(np, src_id)
                for j in range(len(words)):  # ~5% perturbed -> near-dup
                    if drng.rand() < 0.05:
                        words[j] = _WORDS[drng.randint(0, len(_WORDS))]
            else:
                words = self._doc_words(np, i)
            text = " ".join(words)
            mrng = self._rng(np, 2, i)
            yield (i, text, _LANGS[mrng.randint(0, len(_LANGS))],
                   f"src{mrng.randint(0, 20)}", len(text))

    def _doc_words(self, np, doc_id: int) -> list:
        rng = self._rng(np, 3, doc_id)
        n = max(5, int(rng.poisson(self.doc_words)))
        return [_WORDS[k] for k in rng.randint(0, len(_WORDS), size=n)]


def register(spark: SparkSession) -> None:
    """Idempotent registration of the corpus_gen format on a session."""
    try:
        spark.dataSource.register(CorpusGenDataSource)
    except Exception:  # already registered
        pass
