"""Streaming drift monitor: per-micro-batch PSI against a pinned baseline.

The production deployment of :mod:`datapump_spark.operators.drift`: a
feed's value distribution is snapshotted ONCE into a baseline profile
(bucket edges + per-bucket probabilities), then every micro-batch is
scored against it in a single bounded aggregate inside ``foreachBatch``
and appended to an audit table with its batch id and an alert flag.

Why pinned edges: recomputing min/max per batch would make scores
incomparable across batches and cost an extra pass; with the baseline
frozen, each batch is ONE map-side-combined count aggregate over the
batch (output ≤ n_buckets rows) plus driver-side arithmetic on those
few rows — no state store, no watermark, O(n_buckets) memory. That is
the cheapest possible streaming monitor shape; restarts are free
because the baseline lives in a file, not in stream state.
"""

from __future__ import annotations

import json
import math
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from datapump_spark.sinks.upsert import write_row


class DriftMonitor:
    """Score micro-batches of ``col`` against a baseline distribution.

    Build the baseline once from a reference frame
    (:meth:`fit_baseline`), persist it (:meth:`save` / :meth:`load`),
    then hand :meth:`score_batch` to ``foreachBatch`` (or call it from
    any batch loop). Alerts when PSI > ``alert_psi`` (0.25 is the
    conventional "significant shift" line)."""

    def __init__(self, col: str, n_buckets: int = 10, eps: float = 0.5,
                 alert_psi: float = 0.25):
        self.col = col
        self.n_buckets = n_buckets
        self.eps = eps
        self.alert_psi = alert_psi
        self.lo: float | None = None
        self.width: float | None = None
        self.base_p: list[float] | None = None

    # ------------------------------------------------------------ baseline

    def fit_baseline(self, ref: DataFrame) -> "DriftMonitor":
        """One aggregate over the reference frame: bucket edges from its
        min/max, smoothed per-bucket probabilities stored driver-side
        (n_buckets floats — config-sized, not data-sized)."""
        b = ref.agg(F.min(self.col).alias("lo"),
                    F.max(self.col).alias("hi")).first()
        self.lo = float(b["lo"])
        self.width = (float(b["hi"]) - self.lo) / self.n_buckets or 1.0
        counts = {r["b"]: r["n"] for r in
                  ref.groupBy(self._bucket(ref).alias("b"))
                  .agg(F.count("*").alias("n")).collect()}
        total = sum(counts.values()) + self.n_buckets * self.eps
        self.base_p = [(counts.get(i, 0) + self.eps) / total
                       for i in range(self.n_buckets)]
        return self

    def _bucket(self, df: DataFrame):
        return F.least(
            F.lit(self.n_buckets - 1),
            F.greatest(F.lit(0), F.floor(
                (F.col(self.col) - F.lit(self.lo)) / F.lit(self.width))),
        ).cast("int")

    def save(self, path: str | Path) -> None:
        Path(path).write_text(json.dumps({
            "col": self.col, "n_buckets": self.n_buckets, "eps": self.eps,
            "alert_psi": self.alert_psi, "lo": self.lo,
            "width": self.width, "base_p": self.base_p}))

    @classmethod
    def load(cls, path: str | Path) -> "DriftMonitor":
        d = json.loads(Path(path).read_text())
        m = cls(d["col"], d["n_buckets"], d["eps"], d["alert_psi"])
        m.lo, m.width, m.base_p = d["lo"], d["width"], d["base_p"]
        return m

    # ------------------------------------------------------------- scoring

    def score_batch(self, batch: DataFrame, batch_id: int = -1) -> dict:
        """One bounded aggregate over the batch → drift record:
        ``{batch_id, n, psi, tvd, alert}``. Empty batches score 0."""
        if self.base_p is None:
            raise ValueError("fit_baseline()/load() first")
        counts = {r["b"]: r["n"] for r in
                  batch.groupBy(self._bucket(batch).alias("b"))
                  .agg(F.count("*").alias("n")).collect()}
        n = sum(counts.values())
        total = n + self.n_buckets * self.eps
        psi = tvd = 0.0
        for i, p in enumerate(self.base_p):
            q = (counts.get(i, 0) + self.eps) / total
            psi += (q - p) * math.log(q / p)
            tvd += abs(q - p) / 2
        return {"batch_id": batch_id, "n": n, "psi": round(psi, 6),
                "tvd": round(tvd, 6), "alert": psi > self.alert_psi}

    def audit_sink(self, spark: SparkSession, audit_dir: str | Path):
        """A ready-made foreachBatch function: scores each micro-batch
        and appends the record to a parquet audit table (idempotent per
        batch_id: the file name embeds it, so a replayed batch
        overwrites its own record instead of duplicating). The driver
        writes each record atomically (sinks/upsert.write_row), so a
        failed write leaves no torn file for later reads to trip on."""
        audit = Path(audit_dir)
        audit.mkdir(parents=True, exist_ok=True)

        def handle(batch: DataFrame, batch_id: int) -> None:
            rec = self.score_batch(batch, batch_id)
            write_row(audit / f"batch-{batch_id:012d}.parquet", [
                (rec["batch_id"], "bigint", "batch_id"),
                (rec["n"], "bigint", "n"),
                (rec["psi"], "double", "psi"),
                (rec["tvd"], "double", "tvd"),
                (rec["alert"], "boolean", "alert")])

        return handle
