"""Query registry: every operator as (spark, sf_dir) -> DataFrame, with a
DuckDB oracle twin in :mod:`datapump_spark.oracles` (bench variants have
none).

Each query is registered once, where it is defined, by :func:`query`;
registering a name twice raises. Its tier is declared once, in the
``DRIVER_GATED`` and ``BENCH_VARIANTS_NAMES`` tuples; everything else is
extra. ``QUERIES``, ``EXTRA_QUERIES``, ``BENCH_VARIANTS`` and
``ALL_QUERIES`` are views derived from the two at the end of the module.

Float-determinism policy (the driver hash-compares values):
- Money-style SUM/AVG over many rows: per-row double expression (IEEE-
  deterministic) → CAST to DECIMAL(18,6) (exact; scale-6 ties are impossible
  for dyadic doubles, so HALF_UP vs HALF_EVEN can't disagree) → exact decimal
  SUM → CAST back to DOUBLE. Engine-independent regardless of partial-agg
  summation order.
- Small-magnitude statistics (avg/stddev/percentile): plain double math
  rounded to 6 decimals — summation-order error is ~1e-12 relative, far
  below the rounding quantum.
- EXCEPTION — means of PRE-ROUNDED 6-dp columns (quality, frac_*): the
  input quantum equals the output quantum, so real data can sit exactly
  on a round-to-6 tie (regression case: group ('fr','src11'), mean
  quality 0.7116225 — Spark's partial-agg order landed below the tie,
  DuckDB above). Route these through :func:`_exact_mean6`: scale to
  bigint (exact, input already 6-dp), sum exactly, ONE identical IEEE
  division on both engines, and NO final engine-specific round.
"""

from __future__ import annotations

import os
import weakref
from collections.abc import Callable
from functools import lru_cache, wraps
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from datapump_spark.operators.dedupe import dedupe_by_key, dupe_count
from datapump_spark.operators.describe import describe_numeric, describe_string
from datapump_spark.operators.mode import column_modes
from datapump_spark.operators.resample import freq_resample
from datapump_spark.session import ensure_utc
from datapump_spark.sources.csv_ingest import infer_ckan_fields, ingest_csv, multi_format_ts, read_csv_raw

REPO_ROOT = Path(__file__).resolve().parents[1]
IOT_GLOB = str(REPO_ROOT / "tests" / "data" / "iot" / "zone1_airquality_*.csv")
JSONL_GLOB = str(REPO_ROOT / "tests" / "data" / "jsonl" / "docs_part_*.jsonl")
WARC_GLOB = str(REPO_ROOT / "tests" / "data" / "warc" / "sample_0*.warc")


# Plan-handle memo for _t (r12 optimization round, guide §1/§7.3): every
# call paid ~0.1-0.15 s of driver work (DataFrameReader.parquet footer/
# schema resolution over py4j + the dtypes walk) and the bench's 174
# queries issue ~260 such calls — ~25 s of per-run driver tax for plans
# that are identical within a session. The memo stores the lazy, immutable
# DataFrame (an unexecuted plan — NO data, nothing persisted; every query
# still scans parquet end-to-end when it runs) keyed by session object +
# path + file mtime/size, so a regenerated fixture or a new session can
# never see a stale handle. WeakKeyDictionary: a GC'd session drops its
# entries, and keying by the live object makes id-reuse impossible.
_T_MEMO: "weakref.WeakKeyDictionary[SparkSession, dict]" = (
    weakref.WeakKeyDictionary())


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    ensure_utc(spark)
    # The testdata's physical timestamp encoding has drifted across driver
    # regenerations (TIMESTAMP(NANOS) → int64 nanos → TIMESTAMP(MICROS)/NTZ),
    # so normalize every temporal column to session-TZ TIMESTAMP here — one
    # choke point instead of per-query shims. Session TZ is pinned UTC by
    # ensure_utc, so NTZ wall-clock values map to identical epoch instants
    # (what DuckDB does when it reads the same file as TIMESTAMP).
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    path = f"{sf_dir}/{name}.parquet"
    st = os.stat(path)
    key = (path, st.st_mtime_ns, st.st_size)
    per_session = _T_MEMO.setdefault(spark, {})
    hit = per_session.get(key)
    if hit is not None:
        return hit
    df = spark.read.parquet(path)
    for col, dtype in df.dtypes:
        if dtype == "timestamp_ntz":
            df = df.withColumn(col, F.col(col).cast("timestamp"))
        elif name == "events" and col == "ts" and dtype == "bigint":
            # int64 epoch-nanos: integer division (not double) keeps exact µs;
            # truncation matches DuckDB's ns→µs behavior.
            df = df.withColumn(col, F.timestamp_micros(F.expr(f"{col} div 1000")))
    per_session[key] = df
    return df


_EMB_DIM: dict[str, int] = {}


def _emb_dim(sf_dir: str) -> int:
    """Embedding dimensionality, peeked driver-side from the first row
    (one tiny local read, memoized) — avoids a per-call Spark job in the
    ANN/projection operators just to learn the vector width. The table
    may be one file or a directory of part files."""
    if sf_dir not in _EMB_DIM:
        import pyarrow.dataset as ds

        table = ds.dataset(f"{sf_dir}/embeddings.parquet")
        # a directory without part files has no columns to select
        head = table.head(1, columns=["embedding"]) if table.files else None
        if head is None or head.num_rows == 0:
            raise ValueError(
                f"{sf_dir}/embeddings.parquet is empty — "
                "cannot infer embedding dim")
        _EMB_DIM[sf_dir] = len(head.column(0)[0])
    return _EMB_DIM[sf_dir]


def _dec_sum(col_expr, alias: str):
    """Exact, order-independent double aggregation (see module docstring)."""
    return F.sum(col_expr.cast("decimal(18,6)")).cast("double").alias(alias)


def _exact_mean6(col_expr, alias: str):
    """Order-independent mean of a PRE-ROUNDED 6-dp double column.

    round(col*1e6) is an exact integer (input has 6-dp quantum), the
    bigint sum is exact, and sum/count/1e6 is the same IEEE double on
    every engine and partition layout — no final round() whose HALF_UP
    tie behavior could diverge (see module docstring EXCEPTION).
    DuckDB oracle twin: CAST(sum(CAST(round(x*1e6) AS BIGINT)) AS
    DOUBLE) / count(*) / 1000000.0.
    """
    scaled = F.round(col_expr * F.lit(1e6)).cast("bigint")
    return (F.sum(scaled).cast("double") / F.count(F.lit(1))
            / F.lit(1e6)).alias(alias)


# ---------------------------------------------------------------- registry

# name -> cache-scoped query; filled only by @query (see module docstring)
_REGISTRY: dict[str, Callable[[SparkSession, str], DataFrame]] = {}


# Cache-scope query boundary (r13, guide §5): operators persist shared
# subtrees for the duration of ONE query; the registry in cachescope.py
# records them, and this wrapper releases the PREVIOUS query's
# registrations when the next query build begins. In a long session (the
# 174-query bench, a notebook) storage then holds at most one query's
# caches instead of accumulating all of them — the r12 defect where
# late-bench-order queries regressed ~2x at 32 cores under ~10^2 pinned
# stale entries. Results are unaffected: an unpersisted frame recomputes
# from lineage; each query still computes end-to-end from its parquet
# inputs with its own caches warm while it runs.
def _with_cache_scope(fn):
    from datapump_spark.cachescope import release_scope

    @wraps(fn)
    def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
        release_scope(spark)
        return fn(spark, sf_dir)

    return wrapped


def query(fn):
    """Register ``fn`` under ``fn.__name__``, wrapped in the cache-scope
    boundary; raise ValueError if the name is already registered.

    Returns ``fn`` unwrapped: a query whose build calls another query's
    function directly must not release its own scoped caches part-way
    through that build."""
    name = fn.__name__
    if name in _REGISTRY:
        raise ValueError(f"query {name!r} is already registered")
    _REGISTRY[name] = _with_cache_scope(fn)
    return fn


# The driver's correctness gate records at most 50 entries per round, so
# exactly 50 queries are driver-gated, in this order (the order
# __spark_entry__.queries() and oracle_sql() hand the driver). Every
# SURVEY §2 key — what the reference itself computes — is always one of
# them; the other slots go to the strongest evidence for the rest of the
# surface. Every other registered query that is not a bench variant is
# in the extra tier and goes through the SAME DuckDB oracle gate via
# tests/test_extra_oracles.py and scripts/check_oracle.py.
DRIVER_GATED = (
    "q_csv_scan", "q_multiformat_ts", "q_type_infer", "q_drop_columns",
    "q_dedupe_first", "q_resample_hourly", "q_describe_numeric",
    "q_describe_string", "q_mode", "q_pricing_summary", "q_star_revenue",
    "q_json_extract", "q_ts_format", "q_rollup", "q_window_topn",
    "q_text_stats", "q_quality_score", "q_lang_id", "q_fingerprint",
    "q_exact_dedup", "q_minhash_near_dup", "q_embedding_near_dup",
    "q_cosine_topk", "q_resample_daily", "q_dup_clusters", "q_asof_join",
    "q_assoc_rules", "q_dsir_sample", "q_token_budget_mix",
    "q_script_profile", "q_corpus_card", "q_image_decode", "q_span_dedup",
    "q_main_content", "q_dedupe_last", "q_dupe_count", "q_jpeg_decode",
    "q_pdf_text", "q_gif_decode", "q_audio_tone", "q_webp_decode",
    "q_exif", "q_sniff_av", "q_vp8_decode", "q_video_frames",
    "q_doc_text", "q_tiff_decode", "q_xlsx_scan", "q_avro_scan",
    "q_subtitle_cues",
)

SURVEY_S2_TENURED = frozenset({
    "q_csv_scan", "q_multiformat_ts", "q_drop_columns", "q_ts_format",
    "q_type_infer", "q_dedupe_first", "q_dedupe_last", "q_dupe_count",
    "q_resample_hourly", "q_resample_daily", "q_describe_numeric",
    "q_describe_string", "q_mode",
})

assert len(DRIVER_GATED) == 50, f"driver cap: {len(DRIVER_GATED)}"
assert SURVEY_S2_TENURED <= set(DRIVER_GATED), (
    "SURVEY §2 keys must stay in the driver-gated set: missing "
    f"{sorted(SURVEY_S2_TENURED - set(DRIVER_GATED))}")

# Production-path strategy variants of oracle-gated queries: approximate or
# order-sequential algorithms with NO exact SQL twin (that is what makes a
# query a variant). They are pytest-graded (recall / packing invariants)
# and included in bench.py so the strategies a 100 TB deployment would
# actually run carry timings every round.
BENCH_VARIANTS_NAMES = (
    # Approximate ANN — recall-gated in tests/test_pq.py and
    # scripts/ann_recall.py, timed in bench.py.
    "q_lsh_topk", "q_ivf_topk", "q_simhash_pairs_capped",
    "q_tokenizer_fertility", "q_ccnet_buckets",
    "q_embedding_near_dup_gemm_lsh", "q_pack_greedy_bins",
    "q_semantic_dedup", "q_bpe_encode", "q_approx_profile",
    "q_compression_ratio", "q_hll_rollup", "q_pq_topk", "q_unigram_encode",
    "q_ivfpq_topk", "q_sq8_topk",
    # xxhash64 production profiles of the md5-oracle-keyed dedup pair
    # queries — the verifiability-cost quantifiers (PERF 'Known costs')
    "q_minhash_near_dup_fast", "q_dup_clusters_fast",
    # Perceptual image dedup — Python-side decode; pair semantics pinned
    # in test_multimodal.
    "q_image_dedup",
    # contrastive training-data bootstrap (composition, pytest-pinned)
    "q_contrastive_triples",
)


# ---------------------------------------------------------------- reference parity

# The ingestion queries read a CSV serialization of the sf-scaled events
# table so their row counts (and bench timings) scale with sf instead of
# measuring a fixed 1,200-row fixture. The serialization mixes the
# reference's timestamp formats per row (2-digit-year only where both
# engines' reduced-year windows agree, 2000-2068) and rounds value to 6
# decimals so the string⇄double round trip is exact on both engines.
SCALED_TS_SQL = (
    "CASE WHEN event_id % 3 = 2 AND year(ts) BETWEEN 2000 AND 2068 "
    "THEN strftime(ts, '%y-%m-%d %H:%M:%S') "
    "WHEN event_id % 3 = 1 THEN strftime(ts, '%Y/%m/%d %H:%M:%S') "
    "ELSE strftime(ts, '%Y-%m-%d %H:%M:%S') END"
)


def scaled_events_csv(sf_dir: str, n_shards: int = 32) -> str:
    """Materialize (once, atomically) the sf-scaled events CSV as a sharded
    file set; returns the glob. Sharding matters: these files are far below
    maxPartitionBytes, so Spark assigns roughly one task per FILE — 8
    shards capped the whole ingest at 8 of the 32 cores (measured: the
    shard bump is worth ~2× on q_csv_scan). 32 mirrors the bench core
    count; the reference's directory-of-files job model is the same shape.
    Driver-side DuckDB COPY — a one-time fixture build, not plan cost
    (bench.py warms it before timing)."""
    import os
    import shutil

    # shard count in the cache key: a stale 8-shard cache must not serve
    # a 32-shard request
    out_dir = (REPO_ROOT / ".csvcache" / Path(sf_dir).name
               / f"events_csv_{n_shards}")
    if not out_dir.exists():
        import duckdb

        tmp = out_dir.parent / f".events.{os.getpid()}.tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        tmp.mkdir(parents=True)
        for i in range(n_shards):
            duckdb.sql(
                f"""COPY (SELECT event_id, {SCALED_TS_SQL} AS "DateTime",
                                 user_id, event_type, round(value, 6) AS value
                          FROM '{sf_dir}/events.parquet'
                          WHERE event_id % {n_shards} = {i}
                          ORDER BY event_id)
                    TO '{tmp / f"events_{i:02d}.csv"}' (HEADER, DELIMITER ',')"""
            )
        try:
            os.replace(tmp, out_dir)
        except OSError:       # lost the race to a concurrent builder — fine
            shutil.rmtree(tmp, ignore_errors=True)
    return str(out_dir / "events_*.csv")


@query
def q_csv_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S4+S5+P5: typed ingestion — raw all-string scan, one-pass type
    inference, codegen'd multi-format timestamp parse — of the sf-scaled
    events CSV (datapump.py:442-473)."""
    ensure_utc(spark)
    return ingest_csv(spark, scaled_events_csv(sf_dir))


@query
def q_multiformat_ts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S5 standalone: raw string + parsed timestamp (datapump.py:439-443),
    over the sf-scaled CSV's per-row format mix."""
    ensure_utc(spark)
    raw = read_csv_raw(spark, scaled_events_csv(sf_dir))
    return raw.select(
        F.col("DateTime").alias("raw_ts"),
        multi_format_ts("DateTime").alias("parsed_ts"),
    )


@query
def q_type_infer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P5: inferred CKAN type per column of the scaled CSV, exhaustive pass
    (datapump.py:149-166)."""
    ensure_utc(spark)
    fields = infer_ckan_fields(
        read_csv_raw(spark, scaled_events_csv(sf_dir)), sample_rows=None)
    return spark.createDataFrame(
        [(f.name, f.ckan_type) for f in fields], "col_name string, ckan_type string"
    )


@query
def q_iot_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference-parity twin of q_csv_scan on the verbatim IoT fixture —
    keeps the whitespace/empty-string quirks (datapump.py:442-444) gated."""
    ensure_utc(spark)
    return ingest_csv(spark, IOT_GLOB)


@query
def q_iot_multiformat_ts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference-parity multi-format parse on the IoT fixture."""
    ensure_utc(spark)
    raw = read_csv_raw(spark, IOT_GLOB)
    return raw.select(
        F.col("DateTime").alias("raw_ts"),
        multi_format_ts("DateTime").alias("parsed_ts"),
    )


@query
def q_iot_type_infer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference-parity exhaustive type inference on the IoT fixture."""
    ensure_utc(spark)
    fields = infer_ckan_fields(read_csv_raw(spark, IOT_GLOB))
    return spark.createDataFrame(
        [(f.name, f.ckan_type) for f in fields], "col_name string, ckan_type string"
    )


@query
def q_drop_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1: drop-columns projection (datapump.py:291-293). Catalyst prunes the
    parquet scan to the surviving columns (ReadSchema excludes props)."""
    return _t(spark, sf_dir, "events").drop("props")


@query
def q_dupe_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F3 DUPES diagnostic on events (user_id, event_type) (datapump.py:449)."""
    return dupe_count(_t(spark, sf_dir, "events"), ["user_id", "event_type"])


@query
def q_dedupe_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F4 keep-first by explicit order (event_id ≈ file row order)."""
    return dedupe_by_key(
        _t(spark, sf_dir, "events"), ["user_id", "event_type"], "event_id", "first"
    )


@query
def q_dedupe_last(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F4 keep-last — the variant plain dropDuplicates cannot express."""
    return dedupe_by_key(
        _t(spark, sf_dir, "events"), ["user_id", "event_type"], "event_id", "last"
    )


@query
def q_resample_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1 hourly resample: the sample jobs' {"Kind":"H","GroupBy":"Sensor_id"}
    (datapump.py:294) on events(user_id, ts, value)."""
    df = freq_resample(
        _t(spark, sf_dir, "events"), ["user_id"], "ts", "H",
        value_cols=["value"], bucket_alias="bucket_ts",
    )
    return df.select("user_id", "bucket_ts", F.round("value", 6).alias("avg_value"))


@query
def q_resample_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1 daily resample (Kind='D')."""
    df = freq_resample(
        _t(spark, sf_dir, "events"), ["user_id"], "ts", "D",
        value_cols=["value"], bucket_alias="bucket_ts",
    )
    return df.select("user_id", "bucket_ts", F.round("value", 6).alias("avg_value"))


@query
def q_resample_15min(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1 fixed-interval resample (Kind='15T') via epoch-aligned window()."""
    df = freq_resample(
        _t(spark, sf_dir, "events"), ["user_id"], "ts", "15T",
        value_cols=["value"], bucket_alias="bucket_ts",
    )
    return df.select("user_id", "bucket_ts", F.round("value", 6).alias("avg_value"))


@query
def q_describe_numeric(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2 numeric describe over events.value (datapump.py:329-336)."""
    d = describe_numeric(_t(spark, sf_dir, "events"), ["value"])
    return d.select("column", "stat", F.round("value", 6).alias("value"))


@query
def q_describe_string(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2 string describe (count/unique/top/freq) over events.event_type."""
    return describe_string(_t(spark, sf_dir, "events"), ["event_type"])


@query
def q_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3 mode-with-ties over (event_type, user_id) (datapump.py:337-344)."""
    return column_modes(_t(spark, sf_dir, "events"), ["event_type", "user_id"])


# ---------------------------------------------------------------- star-schema joins

@query
def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-shaped pricing summary. Single shuffle on the two grouping
    columns; the shipdate filter pushes to the parquet scan."""
    li = _t(spark, sf_dir, "lineitem").where(F.col("l_shipdate") <= F.lit("1998-09-02"))
    disc_price = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            _dec_sum(F.col("l_quantity"), "sum_qty"),
            _dec_sum(F.col("l_extendedprice"), "sum_base_price"),
            _dec_sum(disc_price, "sum_disc_price"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


@query
def q_star_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue by nation: lineitem⋈orders⋈customer⋈nation⋈region.

    Scale: fact-fact join (lineitem⋈orders) is the only big shuffle;
    customer/nation/region are explicit broadcasts so the probe side never
    shuffles for them. At 100 TB, orders/lineitem co-bucketed on orderkey
    would eliminate the remaining shuffle."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    revenue = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("r_name", "n_name")
        .agg(_dec_sum(revenue, "revenue"), F.count(F.lit(1)).alias("n_items"))
    )


@query
def q_top_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 customers by order revenue — deterministic tie-break on key.
    Aggregate first (shuffle on custkey), then a single top-k sort of the
    small aggregate (TakeOrderedAndProject, no full sort at scale)."""
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    per_cust = orders.groupBy("o_custkey").agg(
        _dec_sum(F.col("o_totalprice"), "revenue"),
        F.count(F.lit(1)).alias("n_orders"),
    )
    return (
        per_cust.join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .select("c_custkey", "c_name", "revenue", "n_orders")
        .orderBy(F.col("revenue").desc(), F.col("c_custkey").asc())
        .limit(10)
    )


@query
def q_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events.props JSON string → typed field (from_json → MapType per
    SURVEY §1.2; here a direct path extract, codegen'd)."""
    ev = _t(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.get_json_object("props", "$.k").cast("bigint").alias("k"),
    )


@query
def q_resample_dense(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1 dense variant: gap buckets emitted as null rows (pandas resample
    gap-fill parity, SURVEY §2.13.3) via sequence+explode spine."""
    df = freq_resample(
        _t(spark, sf_dir, "events"), ["user_id"], "ts", "H",
        value_cols=["value"], dense=True, bucket_alias="bucket_ts",
    )
    return df.select("user_id", "bucket_ts", F.round("value", 6).alias("avg_value"))


@query
def q_resample_weekly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1 calendar-unit resample (Kind='W', Monday-start weeks)."""
    df = freq_resample(
        _t(spark, sf_dir, "events"), ["user_id"], "ts", "W",
        value_cols=["value"], bucket_alias="bucket_ts",
    )
    return df.select("user_id", "bucket_ts", F.round("value", 6).alias("avg_value"))


@query
def q_ts_format(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P4: timestamp→string cast at the sink boundary (datapump.py:470-471)."""
    return _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.date_format("o_orderdate", "yyyy-MM-dd HH:mm:ss").alias("ts_str"),
    )


@query
def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization: a >30-min gap starts a new session (lag + running
    sum — the batch formulation of a session window; the streaming twin is
    ``F.session_window`` in streaming/). Output per user: session count,
    event count, total in-session duration (µs, exact ints — no float).

    Scale: both windows partition by user_id — one shuffle, one sort reused
    by lag and the running sum; the aggregation rides the same partitioning."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag("ts").over(w)
    gap_us = F.unix_micros(F.col("ts")) - F.unix_micros(prev)  # exact µs int
    with_gap = ev.withColumn(
        "new_session",
        F.when(prev.isNull(), 1)
         .when(gap_us > 30 * 60 * 1_000_000, 1)
         .otherwise(0),
    )
    with_sid = with_gap.withColumn(
        "session_id",
        F.sum("new_session").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    per_session = with_sid.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n"),
        (F.unix_micros(F.max("ts")) - F.unix_micros(F.min("ts"))).alias("dur_us"),
    )
    return per_session.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_sessions"),
        F.sum("n").alias("n_events"),
        F.sum("dur_us").alias("total_session_us"),
    )


@query
def q_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouping-sets surface (absent in the reference, SURVEY §2.4):
    ROLLUP(returnflag, linestatus) with exact decimal sums."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(_dec_sum(F.col("l_quantity"), "sum_qty"),
             F.count(F.lit(1)).alias("n"))
    )


@query
def q_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE(returnflag, linestatus): all 4 grouping sets in one pass —
    completes the grouping-sets surface next to q_rollup (SURVEY §2.4
    lists both as absent in the reference). Spark expands the sets
    map-side; still ONE exchange."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(_dec_sum(F.col("l_quantity"), "sum_qty"),
             F.count(F.lit(1)).alias("n"))
    )


@query
def q_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers with no URGENT order (left anti ≡ NOT EXISTS).

    The filter on the right side is pushed below the join, so the anti
    join's build side is the small filtered set (broadcastable)."""
    cust = _t(spark, sf_dir, "customer")
    urgent = _t(spark, sf_dir, "orders").where(
        F.col("o_orderpriority") == "1-URGENT")
    return cust.join(urgent, cust["c_custkey"] == urgent["o_custkey"],
                     "left_anti")


@query
def q_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Large parts that ship at least once (left semi ≡ EXISTS)."""
    part = _t(spark, sf_dir, "part").where(F.col("p_size") > 40)
    li = _t(spark, sf_dir, "lineitem")
    return part.join(li, part["p_partkey"] == li["l_partkey"], "left_semi")


@query
def q_window_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 orders by value per customer (ranking window, deterministic
    tie-break on orderkey)."""
    orders = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
    return (
        orders.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rank")
    )


# ---------------------------------------------------------------- text analysis

@query
def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting + char-class stats over documents (operators/text.py)."""
    from datapump_spark.operators.text import text_stats
    return text_stats(_t(spark, sf_dir, "documents"))


@query
def q_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite document quality score."""
    from datapump_spark.operators.text import quality_score
    return quality_score(_t(spark, sf_dir, "documents"))


@query
def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-word language ID."""
    from datapump_spark.operators.text import lang_id
    return lang_id(_t(spark, sf_dir, "documents"))


@query
def q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """md5 + rolling 8-gram min-hash document fingerprints."""
    from datapump_spark.operators.text import fingerprint
    return fingerprint(_t(spark, sf_dir, "documents"))


# ---------------------------------------------------------------- dedup family

@query
def q_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup on normalized-text fingerprint (keep lowest doc_id)."""
    from datapump_spark.operators.dedup_fuzzy import exact_dedup
    return exact_dedup(_t(spark, sf_dir, "documents"))


@query
def q_minhash_signature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k=4 MinHash signatures over word-3-gram shingles."""
    from datapump_spark.operators.dedup_fuzzy import minhash_signatures
    return minhash_signatures(_t(spark, sf_dir, "documents"), k=4)


@query
def q_minhash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full MinHash-LSH near-dup pipeline (4 bands × 4 rows, verify ≥ 0.5)."""
    from datapump_spark.operators.dedup_fuzzy import minhash_near_dup_pairs
    out = minhash_near_dup_pairs(_t(spark, sf_dir, "documents"), threshold=0.5)
    return out.select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))


@query
def q_minhash_near_dup_fast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The q_minhash_near_dup pipeline on the xxhash64 production profile
    — bench variant quantifying the md5-for-oracle-verifiability cost the
    PERF 'Known costs' section documents (identical pair semantics, the
    hash family is engine-internal)."""
    from datapump_spark.operators.dedup_fuzzy import minhash_near_dup_pairs
    out = minhash_near_dup_pairs(_t(spark, sf_dir, "documents"),
                                 threshold=0.5, hash_fn="xxhash64")
    return out.select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))


@query
def q_dup_clusters_fast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q_dup_clusters on the xxhash64 production profile (bench variant;
    same clustering semantics, fast engine-internal hashes)."""
    from datapump_spark.operators.dedup_fuzzy import near_dup_clusters
    return near_dup_clusters(_t(spark, sf_dir, "documents"),
                             threshold=0.5, hash_fn="xxhash64")


@query
def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact word-3-gram Jaccard pairs within source blocks (≥ 0.5)."""
    from datapump_spark.operators.dedup_fuzzy import ngram_jaccard_pairs
    return ngram_jaccard_pairs(_t(spark, sf_dir, "documents"), threshold=0.5)


@query
def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """32-bit SimHash per document."""
    from datapump_spark.operators.dedup_fuzzy import simhash
    return simhash(_t(spark, sf_dir, "documents"))


@query
def q_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs (hamming ≤ 3) via the Manku pigeonhole
    block index — equi-join candidates, never all-pairs; LOSSLESS, so the
    oracle is the O(n²) brute force and must agree exactly
    (operators/dedup_fuzzy.py simhash_near_dup)."""
    from datapump_spark.operators.dedup_fuzzy import simhash_near_dup
    return simhash_near_dup(_t(spark, sf_dir, "documents"), max_hamming=3)


@query
def q_corpus_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset card: one row per (lang, source) summarizing volume
    (docs/tokens), mean quality score, script composition (latin/digit
    fractions), and the exact-duplicate rate — the report a data owner
    publishes with a corpus release, composed from the oracled per-doc
    operators (quality_score, script_profile, exact fingerprints) in ONE
    aggregation pass."""
    from datapump_spark.functions.hashing import tokens
    from datapump_spark.operators.dedup_fuzzy import normalize_text
    from datapump_spark.operators.text import quality_score, script_profile

    docs = _t(spark, sf_dir, "documents")
    per_doc = (docs
               .join(quality_score(docs).select("doc_id", "quality"),
                     "doc_id")
               .join(script_profile(docs).select(
                   "doc_id", "frac_latin", "frac_digit"), "doc_id")
               .withColumn("__tok", F.size(tokens(F.col("text")))
                           .cast("bigint"))
               .withColumn("__fp", F.md5(normalize_text(F.col("text")))))
    return (per_doc.groupBy("lang", "source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("__tok").alias("total_tokens"),
        (F.sum("__tok").cast("double")
         / F.count(F.lit(1))).alias("avg_tokens"),
        _exact_mean6(F.col("quality"), "avg_quality"),
        _exact_mean6(F.col("frac_latin"), "avg_frac_latin"),
        _exact_mean6(F.col("frac_digit"), "avg_frac_digit"),
        ((F.count(F.lit(1)) - F.countDistinct("__fp")).cast("double")
         / F.count(F.lit(1))).alias("dup_rate")))


@query
def q_ccnet_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet head/middle/tail perplexity routing per language
    (operators/lm.py ccnet_buckets). Bench variant: depends on the
    trained bigram LM, so graded by invariant tests, not a SQL oracle."""
    from datapump_spark.operators.lm import ccnet_buckets
    docs = _t(spark, sf_dir, "documents")
    return ccnet_buckets(docs, group_cols=["lang"])


@query
def q_script_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document Unicode-script composition report (operators/text.py
    script_profile) — the language-ID complement for mixed-script /
    mislabeled content."""
    from datapump_spark.operators.text import script_profile
    return script_profile(_t(spark, sf_dir, "documents"))


@query
def q_unicode_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NFC unicode canonicalization + zero-width strip over the corpus
    (operators/cleaning.py unicode_normalize) — the pass multilingual
    dedup needs before any fingerprint; DuckDB twins it via
    nfc_normalize."""
    from datapump_spark.operators.cleaning import unicode_normalize
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return unicode_normalize(docs, out_col="text_nfc")


@query
def q_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language tokenizer fertility / unk-rate report over the BPE
    encode (operators/vocab.py tokenizer_fertility) — the acceptance
    metric for a tokenizer on a language mix. Bench variant: depends on
    trained BPE state, so graded by invariant tests, not a SQL oracle."""
    from datapump_spark.operators.bpe import bpe_encode, train_bpe
    from datapump_spark.operators.vocab import tokenizer_fertility
    docs = _t(spark, sf_dir, "documents")
    enc = bpe_encode(docs, train_bpe(docs, n_merges=200))
    return tokenizer_fertility(enc, docs, group_cols=["lang"])


@query
def q_token_budget_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget corpus mixing (operators/sampling.py
    token_budget_mix): per-source hash-ordered prefixes whose cumulative
    token counts fit a 60/30/10 recipe over a 50k-token budget —
    document-count mixing's token-accurate replacement."""
    from datapump_spark.operators.sampling import token_budget_mix
    docs = _t(spark, sf_dir, "documents")
    srcs = [r["source"] for r in
            docs.select("source").distinct().orderBy("source").limit(3)
            .collect()]
    weights = dict(zip(srcs, [0.6, 0.3, 0.1]))
    out = token_budget_mix(docs, "source", weights, 50_000, "doc_id")
    return out.select("doc_id", "source", "n_tok", "cum_tok")


@query
def q_semantic_decontam(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space benchmark decontamination (operators/decontam.py
    semantic_decontaminate): flag corpus vectors whose max cosine vs the
    benchmark slice (vec_id % 20 == 0, same split as q_decontam's n-gram
    check) reaches 0.3 — the paraphrase-leakage complement of the
    13-gram overlap gate."""
    from datapump_spark.operators.decontam import semantic_decontaminate
    emb = _t(spark, sf_dir, "embeddings")
    return semantic_decontaminate(
        emb.where(F.col("vec_id") % 20 != 0),
        emb.where(F.col("vec_id") % 20 == 0), threshold=0.3)


@query
def q_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR model state: per-bucket log(p_target/p_raw) under hashed
    unigram+bigram multinomials (operators/importance.py
    hashed_ngram_logratio). Target = every 10th document (a stand-in
    domain slice); raw = the full corpus."""
    from datapump_spark.operators.importance import hashed_ngram_logratio
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return hashed_ngram_logratio(
        docs.where(F.col("doc_id") % 10 == 0), docs, n_buckets=1024)


@query
def q_dsir_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance resampling (operators/importance.py dsir_sample):
    Gumbel top-100 of the corpus toward the target slice's n-gram
    distribution, fully deterministic under the md5 hash profile."""
    from datapump_spark.operators.importance import dsir_sample
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    out = dsir_sample(docs, docs.where(F.col("doc_id") % 10 == 0),
                      k=100, n_buckets=1024)
    return out.select("doc_id", "n_feats", "score", "rank")


@query
def q_incremental_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental near-dup admission against a persisted MinHash
    signature index (operators/incremental.py incremental_near_dup):
    even-id documents are the already-admitted corpus (only their
    signatures survive), odd-id documents are the incoming batch; the
    survivors are batch docs that are near-novel vs index AND lower-id
    batch peers. Output carries the signatures (mh0..mh15) the caller
    would append to the index — both deterministic under the md5 hash
    profile, so DuckDB twins the whole computation."""
    from datapump_spark.operators.incremental import (
        incremental_near_dup,
        signature_index,
    )
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    idx = signature_index(docs.where(F.col("doc_id") % 2 == 0))
    out = incremental_near_dup(docs.where(F.col("doc_id") % 2 == 1), idx)
    return out.select("doc_id", *[f"mh{i}" for i in range(16)])


@query
def q_simhash_pairs_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Production-profile SimHash pair index: per-block degree cap bounds
    the dense-graph worst case (~B² pairs from B near-identical docs) so
    the query is benchable at any corpus shape; approximate on over-cap
    blocks by design (operators/dedup_fuzzy.py simhash_near_dup)."""
    from datapump_spark.operators.dedup_fuzzy import simhash_near_dup
    return simhash_near_dup(_t(spark, sf_dir, "documents"), max_hamming=3,
                            max_block_size=256)


@query
def q_embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All-pairs cosine near-dup baseline over embeddings (cos ≥ 0.3)."""
    from datapump_spark.operators.dedup_fuzzy import embedding_near_dup
    return embedding_near_dup(_t(spark, sf_dir, "embeddings"), threshold=0.3)


# ---------------------------------------------------------------- similarity search

@query
def q_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact brute-force top-5 cosine neighbors for query ids < 10."""
    from datapump_spark.operators.similarity import cosine_topk
    return cosine_topk(_t(spark, sf_dir, "embeddings"), k=5, query_max_id=10)


@query
def q_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe OR-ed-table LSH approximate top-5 (rows-only check;
    recall graded in scripts/ann_recall.py against the exact
    baseline). Operating point: 6 planes × 4 tables, 8 probes/table ⇒
    recall@10 ≈ 0.72 at ~0.41 expected corpus fraction (sf0.01)."""
    from datapump_spark.operators.similarity import lsh_topk
    return lsh_topk(_t(spark, sf_dir, "embeddings"), k=5, query_max_id=10,
                    dim=_emb_dim(sf_dir), n_planes=6, n_probe=8, n_tables=4)


@query
def q_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization compressed-corpus top-5 with ADC shortlist +
    exact re-rank (operators/pq.py). Bench-only: measures train + encode +
    two-stage search end-to-end; recall graded in test_pq against the
    exact baseline; no SQL oracle (k-means state)."""
    from datapump_spark.operators.pq import pq_topk, train_pq
    emb = _t(spark, sf_dir, "embeddings")
    cb = train_pq(emb, m=8, k=64, lloyd_iters=2, dim=_emb_dim(sf_dir))
    return pq_topk(emb, cb, k=5, query_max_id=10, rerank_factor=8)


@query
def q_sq8_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQ8 scalar-quantized top-5 (operators/sq.py): per-dim affine 8-bit
    codes (dim bytes/vector, near-exact recall — the compression point
    between float scan and PQ) scored by one codegen zip_with/aggregate
    with a per-query folded weight vector; exact re-rank of the
    shortlist. Bench-only; recall + expr≡pandas equivalence graded in
    test_sq. Benches the production GEMM scan (the expr twin costs ~dim
    interpreted lambda evals per scored pair — both measured, PERF.md)."""
    from datapump_spark.operators.sq import sq8_topk, train_sq8
    emb = _t(spark, sf_dir, "embeddings")
    model = train_sq8(emb, dim=_emb_dim(sf_dir))
    return sq8_topk(emb, model, k=5, query_max_id=10, rerank_factor=4,
                    strategy="pandas")


@query
def q_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF (k-means cells + n_probe) approximate top-5 (rows-only check;
    recall graded in tests against the exact baseline)."""
    from datapump_spark.operators.similarity import ivf_topk
    return ivf_topk(_t(spark, sf_dir, "embeddings"), k=5, query_max_id=10,
                    n_cells=16, n_probe=4)


def _clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """near_dup_clusters over the documents — the upstream of
    q_dup_clusters, q_canonical_docs and q_leakage_split."""
    from datapump_spark.operators.dedup_fuzzy import near_dup_clusters

    return near_dup_clusters(_t(spark, sf_dir, "documents"), threshold=0.5)


@query
def q_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clustering: MinHash pairs → connected components (min-label
    propagation). Every doc gets a cluster_id = min id of its component;
    the DuckDB twin is a recursive CTE over the same pair graph."""
    return _clusters(spark, sf_dir)


@query
def q_group_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cap-per-group sampling: at most 10 docs per source, lowest doc_id
    first (the "cap documents per domain" training-data op)."""
    from datapump_spark.operators.sampling import group_cap
    return group_cap(
        _t(spark, sf_dir, "documents"), "source", "doc_id", 10
    ).select("doc_id", "source")


@query
def q_shard_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 8-way shard assignment by doc_id hash (write-side
    sharding for training-data output)."""
    from datapump_spark.operators.sampling import shard_assign
    return shard_assign(
        _t(spark, sf_dir, "documents"), "doc_id", 8
    ).select("doc_id", "shard")


@query
def q_weighted_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted dataset mixing: keep 100% of src0, 50% of src1, 25% of
    src2, drop everything else — one hash predicate, no shuffle."""
    from datapump_spark.operators.sampling import weighted_mix
    return weighted_mix(
        _t(spark, sf_dir, "documents"), "source",
        {"src0": 1.0, "src1": 0.5, "src2": 0.25}, key_col="doc_id",
    ).select("doc_id", "source")


# ---------------------------------------------------------------- relational extensions

@query
def q_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set-operation surface (absent in the reference, SURVEY §2.8):
    (BUILDING ∪ AUTOMOBILE segments) ∩ customers-with-orders ∖
    customers-with-urgent-orders — UNION / INTERSECT / EXCEPT, all with
    DISTINCT semantics.

    Scale: each leg prunes to the single key column before the set op, so
    only custkeys shuffle; Catalyst plans these as aggregates/joins on the
    key."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    a = cust.where(F.col("c_mktsegment") == "BUILDING").select(
        F.col("c_custkey").alias("custkey"))
    b = cust.where(F.col("c_mktsegment") == "AUTOMOBILE").select(
        F.col("c_custkey").alias("custkey"))
    with_order = orders.select(F.col("o_custkey").alias("custkey"))
    urgent = orders.where(F.col("o_orderpriority") == "1-URGENT").select(
        F.col("o_custkey").alias("custkey"))
    return a.union(b).intersect(with_order).subtract(urgent)


@query
def q_hash_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 5% Bernoulli sample: hash(event_id) % 20 == 0.

    ``df.sample``/``sampleBy`` are partition-seeded and not reproducible
    across engines or partition layouts; a key-hash predicate is — the
    standard trick for a resumable, cluster-size-independent sample of a
    100 TB table. Pure scan + filter, no shuffle."""
    from datapump_spark.functions.hashing import hash63
    ev = _t(spark, sf_dir, "events")
    h = hash63(F.concat(F.lit("smp:"), F.col("event_id").cast("string")))
    return ev.where(h % 20 == 0).select("event_id", "user_id", "event_type", "value")


@query
def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each event picks the customer's latest order at-or-before
    the event time (Spark has no ASOF JOIN; DuckDB does — oracle uses the
    same union+window formulation for deterministic ties).

    Implemented as the scalable merge formulation: union both tables on
    (key, ts), one window sorted by (ts, side, orderkey) carrying the last
    non-null orderkey forward. ONE shuffle on user_id, no per-row range
    probe, no join explosion — at 100 TB this beats a range join by orders
    of magnitude because each row is touched once. Ties: orders at the
    same ts sort before events (inclusive as-of) and among themselves by
    orderkey, so the max orderkey wins — deterministic."""
    ev = _t(spark, sf_dir, "events").select(
        "user_id", F.col("ts").cast("timestamp").alias("ts"),
        "event_id", F.lit(None).cast("bigint").alias("o_orderkey"),
        F.lit(1).alias("is_event"))
    orders = _t(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("user_id"),
        F.col("o_orderdate").cast("timestamp").alias("ts"),
        F.lit(None).cast("bigint").alias("event_id"),
        "o_orderkey", F.lit(0).alias("is_event"))
    u = ev.unionByName(orders)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "is_event", F.coalesce("o_orderkey", F.lit(-1)))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        u.withColumn("asof_orderkey", F.last("o_orderkey", ignorenulls=True).over(w))
        .where(F.col("is_event") == 1)
        .select("event_id", "user_id", "ts", "asof_orderkey")
    )


@query
def q_moving_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window-frame surface: 4-row trailing moving average of value per
    user (ROWS BETWEEN 3 PRECEDING AND CURRENT ROW), deterministic order.
    One shuffle + one sort on user_id, frame evaluated in a single pass."""
    ev = _t(spark, sf_dir, "events")
    w = (Window.partitionBy("user_id").orderBy("ts", "event_id")
         .rowsBetween(-3, Window.currentRow))
    return ev.select(
        "event_id", "user_id",
        F.round(F.avg("value").over(w), 6).alias("mavg4"),
    )


@query
def q_latest_event(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Argmax surface: each user's latest event via max_by on the ordering
    struct — a hash aggregation (map-side partials, no sort), the same
    sortless pattern as dedupe keep-last."""
    ev = _t(spark, sf_dir, "events")
    ord_ = F.struct(F.col("ts"), F.col("event_id"))
    return ev.groupBy("user_id").agg(
        F.max_by("event_id", ord_).alias("last_event_id"),
        F.max_by("event_type", ord_).alias("last_event_type"),
        F.max("ts").alias("last_ts"),
    )


@query
def q_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIVOT surface: events per (user, event_type) as columns. Explicit
    pivot values = one pass (no extra distinct scan) and a fixed schema."""
    types = ["click", "error", "purchase", "signup", "view"]
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id")
        .pivot("event_type", types)
        .agg(F.count(F.lit(1)))
        .na.fill(0, types)
    )


@query
def q_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram of events.value (50 buckets of 10 over
    [0, 500)): one groupBy on the computed bucket — the profiling op for
    numeric columns; scan + single shuffle of bucket partials."""
    ev = _t(spark, sf_dir, "events")
    bucket = F.floor(F.col("value") / 10).cast("bigint")
    return (
        ev.where(F.col("value").isNotNull())
        .groupBy(bucket.alias("bucket"))
        .agg(F.count(F.lit(1)).alias("n"))
        .withColumn("lo", (F.col("bucket") * 10).cast("double"))
        .withColumn("hi", ((F.col("bucket") + 1) * 10).cast("double"))
        .select("bucket", "lo", "hi", "n")
    )


@query
def q_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlation / covariance surface: per returnflag Pearson corr and
    sample covariance of quantity vs extendedprice."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.round(F.corr("l_quantity", "l_extendedprice"), 6).alias("corr_qty_price"),
            F.round(F.covar_samp("l_quantity", "l_extendedprice"), 4).alias("covar_qty_price"),
            F.count(F.lit(1)).alias("n"),
        )
    )


@query
def q_explode_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Generator (explode/UNNEST) surface: top-20 corpus tokens by
    frequency, deterministic tie-break. Shuffles only (token, count)
    partials — the wordcount shape with map-side combine."""
    from datapump_spark.functions.hashing import tokens
    d = _t(spark, sf_dir, "documents")
    return (
        d.select(F.explode(tokens(F.col("text"))).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("token").asc())
        .limit(20)
    )


# ---------------------------------------------------------------- multimodal

def _media(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic media table synthesized from documents (no media libs
    in this container): payload = utf-8 text bytes, kind/format/dimensions
    derived from doc_id, duration only for audio/video. Schema =
    operators.multimodal.MEDIA_SCHEMA."""
    d = _t(spark, sf_dir, "documents")
    kind_idx = (F.col("doc_id") % 3).cast("int")
    return d.select(
        F.col("doc_id").alias("media_id"),
        F.encode("text", "utf-8").alias("payload"),
        F.struct(
            F.element_at(F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
                         kind_idx + 1).alias("kind"),
            F.element_at(F.array(F.lit("png"), F.lit("wav"), F.lit("mp4")),
                         kind_idx + 1).alias("format"),
            F.when(kind_idx == 0, F.lit(640)).cast("int").alias("width"),
            F.when(kind_idx == 0, F.lit(480)).cast("int").alias("height"),
            F.when(kind_idx != 0, F.col("n_chars") * 10).cast("bigint")
             .alias("duration_ms"),
        ).alias("meta"),
    )


def _media_real_headers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Media table whose payloads carry REAL container headers (GIF / WAV /
    MP4-ftyp), built entirely codegen-side: dimension bytes are computed
    from doc_id with hex/unhex little-endian assembly, then concat'd with
    the magic and the document text as body bytes. Exercises the header
    sniffer on payloads whose ground truth is derivable from doc_id."""
    d = _t(spark, sf_dir, "documents")
    # One server-side selectExpr instead of ~60 per-Column py4j calls
    # (r12 optimization round, guide §7.3): identical hex/unhex assembly,
    # binary literals as X'..' from the same byte strings, CASE for the
    # when-chain. SQL '/' on integers is double division exactly like the
    # Column operator, so the CAST truncations match.
    xlit = lambda bs: f"X'{bs.hex()}'"  # noqa: E731

    def le16(col_sql):  # two little-endian bytes as binary
        return (f"unhex(concat(lpad(hex(({col_sql}) % 256), 2, '0'), "
                f"lpad(hex(CAST(({col_sql}) / 256 AS INT) % 256), 2, '0')))")

    w = "CAST(doc_id % 1024 + 1 AS INT)"
    h = "CAST(doc_id % 768 + 1 AS INT)"
    gif = (f"concat({xlit(b'GIF89a')}, {le16(w)}, {le16(h)}, "
           f"{xlit(bytes(3))}, encode(text, 'utf-8'), {xlit(b';')})")
    # canonical 16-bit mono 16 kHz WAV: fixed fmt chunk, text as data bytes
    wav_hdr = (b"RIFF\x00\x00\x00\x00WAVEfmt \x10\x00\x00\x00"
               b"\x01\x00\x01\x00\x80\x3e\x00\x00\x00\x7d\x00\x00\x02\x00\x10\x00"
               b"data")
    size_le = ", ".join(
        f"lpad(hex(CAST(n_chars / {256 ** i} AS BIGINT) % 256), 2, '0')"
        for i in range(4))
    wav = (f"concat({xlit(wav_hdr)}, unhex(concat({size_le})), "
           "encode(text, 'utf-8'))")
    mp4 = f"concat({xlit(bytes.fromhex('00000018') + b'ftypisom')}, encode(text, 'utf-8'))"
    return d.selectExpr(
        "doc_id AS media_id",
        "CASE WHEN CAST(doc_id % 3 AS INT) = 0 THEN " + gif +
        " WHEN CAST(doc_id % 3 AS INT) = 1 THEN " + wav +
        " ELSE " + mp4 + " END AS payload")


@query
def q_sniff_media(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Header sniff over real container bytes, pure-codegen strategy —
    per-format count, avg dimensions, avg sample rate (operators/
    mediasniff.py). The 100 TB first-pass media validation stage. The
    oracle never parses a byte: it derives the expected stats from the
    doc_id arithmetic the payload builder used — so the whole byte path
    (hex/unhex assembly → substring/conv parsing) must round-trip exactly
    for the hash to match. test_mediasniff adds the expr≡pandas≡
    hand-built-file pins."""
    from datapump_spark.operators.mediasniff import sniff_media
    s = sniff_media(_media_real_headers(spark, sf_dir), strategy="expr")
    return (
        s.groupBy("format", "kind")
        .agg(F.count(F.lit(1)).alias("n"),
             F.round(F.avg("width"), 6).alias("avg_w"),
             F.round(F.avg("height"), 6).alias("avg_h"),
             F.round(F.avg("sample_rate"), 6).alias("avg_sr"),
             F.round(F.avg("duration_ms"), 6).alias("avg_dur_ms"),
             F.sum("n_bytes").alias("total_bytes"))
    )


@query
def q_media_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relational metadata stats over the media table (no decode): per
    (kind, format) count, payload bytes, avg duration."""
    from datapump_spark.operators.multimodal import media_stats
    return media_stats(_media(spark, sf_dir))


@query
def q_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame sampling plan (one row per second of duration) — the
    explode/sequence side of the multimodal decode pipeline; the codec
    kernel itself is stubbed (not in this container)."""
    from datapump_spark.operators.multimodal import sample_frames
    media = _media(spark, sf_dir).where(F.col("meta.kind") == "video")
    return sample_frames(media, every_ms=1000)


@query
def q_image_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL pixel decode gate. One solid-RGB PNG per sampled document is
    built by the pure-stdlib encoder (operators/codecs.py: zlib deflate,
    scanline filters), then decoded back through the real (fake=False)
    feature kernel — inflate, unfilter, numpy pixel stats — entirely
    inside Arrow-batched mapInPandas. The DuckDB oracle never parses a
    byte: it recomputes width/height/channel means from the same doc_id
    arithmetic the builder used, so the whole encode→decode→stats path
    must round-trip exactly for the value hash to match. This closes the
    round-5 'width×height from pixels, not just headers' item; JPEG and
    video stay honestly stubbed."""
    import pandas as pd

    from datapump_spark.operators.multimodal import extract_features

    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") % 5 == 0) \
        .select(F.col("doc_id").alias("media_id"))

    def build(batches):
        import numpy as np

        from datapump_spark.operators import codecs
        for pdf in batches:
            ids = pdf["media_id"]

            def png(doc_id: int) -> bytes:
                w, h = 8 + doc_id % 9, 8 + doc_id % 7
                rgb = np.empty((h, w, 3), np.uint8)
                rgb[:, :, 0] = doc_id % 256
                rgb[:, :, 1] = (doc_id * 7) % 256
                rgb[:, :, 2] = (doc_id * 13) % 256
                return codecs.encode_png(rgb)

            yield pd.DataFrame({"media_id": ids, "payload": ids.map(png)})

    media = docs.mapInPandas(
        build, "media_id long, payload binary")
    feats = extract_features(media, fake=False)
    f = F.col("features")
    return feats.select(
        "media_id",
        f[0].cast("long").alias("width"),
        f[1].cast("long").alias("height"),
        f[2].cast("long").alias("channels"),
        F.round(f[3], 6).alias("mean_px"),
        f[5].cast("long").alias("mean_r"),
        f[6].cast("long").alias("mean_g"),
        f[7].cast("long").alias("mean_b"),
    )


@query
def q_jpeg_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL JPEG decode gate — the q_image_decode pattern over the
    Huffman+IDCT path (operators/jpeg.py). One solid GRAYSCALE JPEG per
    sampled document, encoded at quality 95 in a THREE-WAY rotating
    coding ((doc_id // 7) % 3): BASELINE (SOF0), PROGRESSIVE (SOF2,
    round 8: multi-scan spectral selection + successive
    approximation), or ARITHMETIC (SOF9, round 10: the QM-coder path
    in operators/jpeg_arith) — and decoded back through the real
    feature kernel. Solid grayscale at q95 round-trips EXACTLY (all AC
    coefficients are zero and the DC quantizer is 2, so the
    reconstruction error is < 0.5 for every level — pinned for all 256
    values in test_jpeg; the progression and the arithmetic entropy
    coding are both coefficient-lossless so SOF2/SOF9 reconstruct
    identically), which is what lets a lossy codec face an exact SQL
    oracle: DuckDB recomputes dims and means from the doc_id
    arithmetic alone and the value hash must match."""
    import pandas as pd

    from datapump_spark.operators.multimodal import extract_features

    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") % 7 == 0) \
        .select(F.col("doc_id").alias("media_id"))

    def build(batches):
        import numpy as np

        from datapump_spark.operators.jpeg import (encode_jpeg,
                                                    encode_jpeg_progressive)
        from datapump_spark.operators.jpeg_arith import encode_jpeg_arith
        for pdf in batches:
            ids = pdf["media_id"]

            def jpg(doc_id: int) -> bytes:
                w, h = 8 + doc_id % 11, 8 + doc_id % 5
                img = np.full((h, w), doc_id % 256, np.uint8)
                enc = (encode_jpeg, encode_jpeg_progressive,
                       encode_jpeg_arith)[(doc_id // 7) % 3]
                return enc(img, quality=95)

            yield pd.DataFrame({"media_id": ids, "payload": ids.map(jpg)})

    media = docs.mapInPandas(build, "media_id long, payload binary")
    feats = extract_features(media, fake=False)
    f = F.col("features")
    return feats.select(
        "media_id",
        f[0].cast("long").alias("width"),
        f[1].cast("long").alias("height"),
        f[2].cast("long").alias("channels"),
        F.round(f[3], 6).alias("mean_px"),
    )


@query
def q_gif_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL GIF decode gate (operators/gif.py: LZW + palette). GIF is
    palette-exact, so unlike JPEG no quantization argument is needed:
    a two-color checkerboard per sampled document must decode to
    byte-identical pixels, and the oracle recomputes the channel means
    from the checker arithmetic (ceil/floor of the pixel split) alone."""
    import pandas as pd

    from datapump_spark.operators.multimodal import extract_features

    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") % 9 == 0) \
        .select(F.col("doc_id").alias("media_id"))

    def build(batches):
        import numpy as np

        from datapump_spark.operators.gif import encode_gif
        for pdf in batches:
            ids = pdf["media_id"]

            def gif(doc_id: int) -> bytes:
                w, h = 2 + doc_id % 7, 2 + doc_id % 4
                yy, xx = np.mgrid[0:h, 0:w]
                checker = ((yy + xx) % 2).astype(np.uint8)
                a = doc_id % 256
                b = (doc_id * 11) % 256
                img = np.where(checker[..., None] == 0,
                               np.uint8(a), np.uint8(b))
                return encode_gif(np.broadcast_to(img, (h, w, 3)).copy())

            yield pd.DataFrame({"media_id": ids, "payload": ids.map(gif)})

    media = docs.mapInPandas(build, "media_id long, payload binary")
    feats = extract_features(media, fake=False)
    f = F.col("features")
    return feats.select(
        "media_id",
        f[0].cast("long").alias("width"),
        f[1].cast("long").alias("height"),
        f[2].cast("long").alias("channels"),
        F.round(f[3], 6).alias("mean_px"),
    )


@query
def q_pdf_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL PDF text-extraction gate (operators/pdftext.py). Each
    sampled document's printable-ASCII projection is written into a
    genuine Flate-compressed one-page PDF (escape rules and all) and
    extracted back through the full parser — zlib inflate, object scan,
    content-stream walk, string unescaping. doc_id rotates the writer
    through SEVEN layouts (round 9), so the one hash gate witnesses
    each read path: simple font / Type0-CID via ToUnicode CMap
    (latin-1 passthrough of the 2-byte codes would NOT reproduce the
    text) / LZWDecode content / dicts packed in a compressed object
    stream / RC4 empty-user-password encryption (key derived from /O
    /P /ID, verified against /U, streams decrypted) / AES-128 V4
    AESV2 encryption (r9: IV-prefixed CBC streams, in-place
    re-lengthing) / AES-256 V5 R6 AESV3 (r9: PDF 2.0 Algorithm-2.B
    hash, file key unwrapped from /UE, keyed directly).
    The oracle recomputes the ASCII projection directly in SQL, so
    extraction must be EXACT for the value hash to match."""
    import pandas as pd

    from datapump_spark.operators.pdftext import pdf_text

    docs = (_t(spark, sf_dir, "documents").where(F.col("doc_id") % 6 == 0)
            .select(F.col("doc_id").alias("media_id"),
                    F.regexp_replace("text", r"[^ -~]", "").alias("__t"))
            # spread the heavy per-doc Python (AES-256 2.B / RC4 arms)
            # across workers — the sampled scan is 1-2 input splits, so
            # without this the whole build+parse loop ran near-serial
            # (guide §4/§2.6; the r11 xlsx shard precedent)
            .repartition(16))

    def build(batches):
        from datapump_spark.operators import pdftext as P
        writers = [
            P.encode_simple_pdf,
            P.encode_cid_pdf,
            lambda t: P.encode_simple_pdf(t, method="lzw"),
            P.encode_objstm_pdf,
            P.encode_encrypted_pdf,
            lambda t: P.encode_encrypted_pdf(t, r=4),   # AESV2 (r9)
            lambda t: P.encode_encrypted_pdf(t, r=6),   # AESV3 (r9)
        ]
        for pdf_b in batches:
            yield pd.DataFrame({
                "media_id": pdf_b["media_id"],
                "payload": [
                    writers[(mid // 6) % 7](t)
                    for mid, t in zip(pdf_b["media_id"], pdf_b["__t"])],
            })

    media = docs.mapInPandas(build, "media_id long, payload binary")
    return (pdf_text(media, on_error="raise")
            .select("media_id", "text",
                    F.col("n_chars").cast("long").alias("n_chars"),
                    F.col("n_pages").cast("long").alias("n_pages")))


@query
def q_webp_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL lossless-WebP (VP8L) decode gate (operators/webp.py, r8).
    Same checkerboard arithmetic twin as q_gif_decode — VP8L is
    lossless, so decode must be byte-identical regardless of which
    bitstream features the encoder picked. doc_id rotates the feature
    set (plain literals / SUBTRACT_GREEN / 2-color palette with
    sub-byte bundling / color-cache + LZ77 runs), so the one hash gate
    witnesses four decoder paths."""
    import pandas as pd

    from datapump_spark.operators.multimodal import extract_features

    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") % 8 == 0) \
        .select(F.col("doc_id").alias("media_id"))

    def build(batches):
        import numpy as np

        from datapump_spark.operators.webp import encode_webp_vp8l
        for pdf in batches:
            ids = pdf["media_id"]

            def webp(doc_id: int) -> bytes:
                w, h = 2 + doc_id % 7, 2 + doc_id % 4
                yy, xx = np.mgrid[0:h, 0:w]
                checker = ((yy + xx) % 2).astype(np.uint8)
                a = doc_id % 256
                b = (doc_id * 13) % 256
                img = np.where(checker[..., None] == 0,
                               np.uint8(a), np.uint8(b))
                img = np.broadcast_to(img, (h, w, 3)).copy()
                variant = (doc_id // 8) % 4
                if variant == 1:
                    return encode_webp_vp8l(img, subtract_green=True)
                if variant == 2:
                    return encode_webp_vp8l(img, palette=True)
                if variant == 3:
                    return encode_webp_vp8l(img, cache_bits=4, lz77=True)
                return encode_webp_vp8l(img)

            yield pd.DataFrame({"media_id": ids, "payload": ids.map(webp)})

    media = docs.mapInPandas(build, "media_id long, payload binary")
    feats = extract_features(media, fake=False)
    f = F.col("features")
    return feats.select(
        "media_id",
        f[0].cast("long").alias("width"),
        f[1].cast("long").alias("height"),
        f[2].cast("long").alias("channels"),
        F.round(f[3], 6).alias("mean_px"),
    )


@query
def q_exif(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL EXIF extraction gate (mediasniff.parse_exif via the
    multimodal.extract_exif kernel, r8). Each sampled document becomes
    a real JPEG with an injected APP1 TIFF/IFD segment whose tags are
    pure doc_id arithmetic — alternating byte orders per row — and the
    oracle recomputes every tag in SQL, so the IFD walk must be
    EXACT."""
    import pandas as pd

    from datapump_spark.operators.multimodal import extract_exif

    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") % 11 == 0) \
        .select(F.col("doc_id").alias("media_id"))

    def build(batches):
        import numpy as np

        from datapump_spark.operators.jpeg import encode_jpeg
        from datapump_spark.operators.mediasniff import (encode_exif_app1,
                                                         inject_exif)
        base = encode_jpeg(np.full((8, 8), 9, np.uint8))
        for pdf in batches:
            ids = pdf["media_id"]

            def jpg(doc_id: int) -> bytes:
                tags = {
                    "make": f"Cam{doc_id % 7}",
                    "model": f"M-{doc_id % 100}",
                    "orientation": 1 + doc_id % 8,
                    "datetime": f"2024:01:{1 + doc_id % 28:02d} 12:00:00",
                    "datetime_original":
                        f"2023:12:{1 + doc_id % 28:02d} 08:30:00",
                    "pixel_x": 16 + doc_id % 64,
                    "pixel_y": 16 + doc_id % 32,
                }
                bo = "little" if doc_id % 22 == 0 else "big"
                return inject_exif(base, encode_exif_app1(tags, bo))

            yield pd.DataFrame({"media_id": ids, "payload": ids.map(jpg)})

    media = docs.mapInPandas(build, "media_id long, payload binary")
    return (extract_exif(media)
            .select("media_id",
                    F.col("orientation").cast("long").alias("orientation"),
                    "make", "model", "datetime", "datetime_original",
                    F.col("pixel_x").cast("long").alias("pixel_x"),
                    F.col("pixel_y").cast("long").alias("pixel_y")))


@query
def q_sniff_av(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio/video container-sniff gate (r8): each sampled doc
    becomes one of five hand-assembled containers — CBR MP3, MP4 moov,
    Matroska EBML, Ogg Vorbis, lossless-WebP VP8L — whose headers are
    pure doc_id arithmetic; the pandas sniff kernel walks them and the
    oracle recomputes every field in SQL, so the frame/box/EBML/page
    walks must be EXACT."""
    import pandas as pd

    from datapump_spark.operators.mediasniff import sniff_media

    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") % 10 == 0) \
        .select(F.col("doc_id").alias("media_id"))

    def build(batches):
        import struct

        import numpy as np

        from datapump_spark.operators.webp import encode_webp_vp8l

        def mp4_box(typ, payload):
            return struct.pack(">I", 8 + len(payload)) + typ + payload

        def ebml(eid, payload):
            nb = (eid.bit_length() + 7) // 8
            out = eid.to_bytes(nb, "big")
            for ln in range(1, 9):
                if len(payload) < (1 << (7 * ln)) - 1:
                    out += (((1 << (8 - ln)) << (8 * (ln - 1)))
                            | len(payload)).to_bytes(ln, "big")
                    break
            return out + payload

        def ogg_page(htype, granule, serial, seq, segments):
            return (b"OggS\x00" + bytes([htype])
                    + struct.pack("<q", granule)
                    + struct.pack("<II", serial, seq) + b"\x00" * 4
                    + bytes([len(segments)])
                    + bytes(len(s) for s in segments) + b"".join(segments))

        def payload(doc_id: int) -> bytes:
            v = (doc_id // 10) % 5
            if v == 0:                  # CBR MP3: V1 L3 128k 44.1 stereo
                frame = bytes([0xFF, 0xFB, 0x90, 0x00]) + b"\x00" * 413
                return frame * (2 + doc_id % 5)
            if v == 1:                  # MP4: mvhd + one video tkhd
                dur = 1000 + doc_id % 9000
                mvhd = mp4_box(b"mvhd", b"\x00" * 12
                               + struct.pack(">II", 1000, dur)
                               + b"\x00" * 80)
                tkhd = (b"\x00\x00\x00\x07" + b"\x00" * 68
                        + struct.pack(">HHHH", 16 + doc_id % 640, 0,
                                      16 + doc_id % 360, 0))
                moov = mp4_box(b"moov", mvhd
                               + mp4_box(b"trak", mp4_box(b"tkhd", tkhd)))
                return mp4_box(b"ftyp", b"isom") + moov
            if v == 2:                  # Matroska
                ticks = 500 + doc_id % 5000
                info = ebml(0x1549A966,
                            ebml(0x2AD7B1, (1_000_000).to_bytes(3, "big"))
                            + ebml(0x4489, struct.pack(">d", float(ticks))))
                video = ebml(0xE0,
                             ebml(0xB0, (16 + doc_id % 1264)
                                  .to_bytes(2, "big"))
                             + ebml(0xBA, (16 + doc_id % 704)
                                    .to_bytes(2, "big")))
                tracks = ebml(0x1654AE6B, ebml(0xAE, video))
                return (ebml(0x1A45DFA3, ebml(0x4282, b"matroska"))
                        + ebml(0x18538067, info + tracks))
            if v == 3:                  # Ogg Vorbis
                secs = 1 + doc_id % 30
                vid = (b"\x01vorbis" + struct.pack("<I", 0)
                       + bytes([1 + doc_id % 2])
                       + struct.pack("<I", 44100) + b"\x00" * 9)
                return (ogg_page(2, 0, 7, 0, [vid])
                        + ogg_page(4, 44100 * secs, 7, 1, [b"\x00" * 8]))
            img = np.full((2 + doc_id % 30, 2 + doc_id % 40, 3),
                          doc_id % 256, np.uint8)
            return encode_webp_vp8l(img)

        for pdf in batches:
            ids = pdf["media_id"]
            yield pd.DataFrame({"media_id": ids,
                                "payload": ids.map(payload)})

    media = docs.mapInPandas(build, "media_id long, payload binary")
    out = sniff_media(media, strategy="pandas")
    return out.select(
        "media_id", "format", "kind",
        F.col("width").cast("long").alias("width"),
        F.col("height").cast("long").alias("height"),
        F.col("sample_rate").cast("long").alias("sample_rate"),
        F.col("channels").cast("long").alias("channels"),
        F.col("duration_ms").cast("long").alias("duration_ms"))


@query
def q_curriculum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum ordering (operators/sampling.py curriculum_order,
    exact profile): length-quantile stages over documents (short = easy)
    with a deterministic hash shuffle within each stage — the
    easy-to-hard training layout. NTILE + the cross-engine md5
    row_number make the whole (stage, ord) assignment exactly
    SQL-twinned."""
    from datapump_spark.operators.sampling import curriculum_order
    docs = _t(spark, sf_dir, "documents").select("doc_id", "n_chars")
    return curriculum_order(docs, "n_chars", n_stages=4)


@lru_cache(maxsize=16)
def _opus_tone_payload(f: int) -> bytes:
    """q_opus_tone: 8 distinct frequencies, cached per worker process
    (the r11 bench-stall rule); the gate's subject is the decode."""
    import numpy as np

    from datapump_spark.operators.opus import encode_opus
    t8 = np.arange(4000) / 8000.0
    return encode_opus(0.5 * np.sin(2 * np.pi * f * t8), 8000)


@lru_cache(maxsize=16)
def _mp3_tone_payload(f: int) -> bytes:
    """q_audio_tone MP3 arm: only 8 distinct frequencies — cache the
    encode PER WORKER PROCESS (module level, r11); the gate's subject
    is the decode path."""
    import numpy as np

    from datapump_spark.operators.mp3 import encode_mp3
    t32 = np.arange(8000) / 32000.0
    return encode_mp3(0.5 * np.sin(2 * np.pi * f * t32), 32000)


@lru_cache(maxsize=64)
def _ogg_tone_payload(f: int) -> bytes:
    """q_audio_tone Vorbis arm (r11): 0.5 s at 8 kHz, cached per
    worker process per distinct frequency (the bench-stall rule)."""
    import numpy as np

    from datapump_spark.operators.vorbis import encode_vorbis
    t = np.arange(4000) / 8000.0
    return encode_vorbis(0.5 * np.sin(2 * np.pi * f * t), 8000)


@query
def q_audio_tone(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio analysis gate (operators/audiofeat.py). Each sampled
    document becomes a one-second PCM WAV carrying a pure sine at a
    doc-derived frequency; the full decode → Hann window → rfft →
    argmax path must land on EXACTLY that frequency. With n = sample
    rate the FFT bins are 1 Hz apart, so the dominant bin is integral
    after 0-dp rounding and the oracle recomputes it from doc_id
    arithmetic alone — a lossy-looking DSP pipeline facing an exact
    value hash (the q_jpeg_decode trick, in the frequency domain).
    Round 11 rotation (mod 80 over the doc_id % 16 == 0 sample):
      0 → IMA-ADPCM WAV, 0.5 s (block_align=16 → 25 samples/block
          divides 4000 exactly; 4-bit noise is broadband, tens of dB
          below the tone; 2 Hz bins, every tone frequency even);
     16 → FLAC, 0.25 s (LOSSLESS: n = 2000, 4 Hz bins, every tone
          frequency is a multiple of 4 so the bin stays exact);
     32 → MP3, 0.25 s at 32 kHz (operators/mp3.py — decoded length is
          a fixed 7 frames = 8064 samples, bin width 250/63 Hz, and
          the MP3-arm frequency grid is multiples of 250, so the
          dominant bin is STILL exactly integral despite lossy
          coding and codec delay);
     48 → PCM WAV, 1 s;
     64 → Ogg Vorbis, 0.5 s (r11, operators/vorbis.py — the granule
          position end-trims the stream to exactly 4000 samples, so
          bins are 2 Hz, every tone frequency is even, and the
          ~31 dB scalar-quantizer noise floor never moves the argmax
          off a bin-aligned tone).
    One hash gate, five codecs. The per-frequency payload caches are
    MODULE level (not per kernel invocation), so a warm worker pays
    each distinct encode once per process — the bench-stall rule."""
    import pandas as pd

    from datapump_spark.operators.audiofeat import audio_spectral_features

    # Repartition by (codec arm, frequency) — the worker-side payload
    # caches key on exactly that pair, so grouping equal keys into the
    # same task means each task pays each distinct encode ONCE instead
    # of a round-robin layout re-encoding the same (arm, freq) payload
    # in up to every task (guide §4.5: amortize heavyweight init).
    # ~108 distinct keys over 16 partitions; row placement never
    # affects results.
    rot = F.col("doc_id") % 80
    freq = F.when(rot == 32,
                  250 * (1 + F.floor(F.col("doc_id") / 64) % 8)) \
        .otherwise(100 + (F.col("doc_id") % 50) * 20)
    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") % 16 == 0) \
        .select(F.col("doc_id").alias("media_id"), rot.alias("__rot"),
                freq.alias("__freq")) \
        .repartition(16, "__rot", "__freq") \
        .select("media_id")

    def build(batches):
        import numpy as np

        from datapump_spark.operators import codecs
        sr = 8000
        t = np.arange(sr) / sr

        mp3_payload = _mp3_tone_payload
        ogg_payload = _ogg_tone_payload

        for pdf in batches:
            ids = pdf["media_id"]

            def wav(doc_id: int) -> bytes:
                rot = doc_id % 80
                if rot == 32:                         # MP3 (r10)
                    return mp3_payload(250 * (1 + (doc_id // 64) % 8))
                f = 100 + (doc_id % 50) * 20          # bin-aligned
                if rot == 64:                         # Ogg Vorbis (r11)
                    return ogg_payload(f)
                sig = 0.5 * np.sin(2 * np.pi * f * t)
                if rot == 0:
                    return codecs.encode_wav_adpcm(sig[:4000], sr,
                                                   block_align=16)
                if rot == 16:                         # FLAC (r9)
                    from datapump_spark.operators.flac import encode_flac
                    return encode_flac(
                        (sig[:2000] * 32767).astype(np.int16), sr)
                return codecs.encode_wav(sig, sr)

            yield pd.DataFrame({"media_id": ids, "payload": ids.map(wav)})

    media = docs.mapInPandas(build, "media_id long, payload binary")
    feats = audio_spectral_features(media, on_error="raise")
    return feats.select(
        "media_id", "n_frames", "sample_rate",
        F.round("dominant_hz", 0).cast("long").alias("dominant_hz"))


@query
def q_image_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual image near-dedup (operators/multimodal.py
    image_near_dup): one textured PNG per sampled document, built so
    consecutive doc_id pairs share content up to seeded noise — the
    dHash pigeonhole index must pair exactly those. BENCH VARIANT: the
    decode runs in Python, so there is no SQL twin; pair semantics are
    pinned in test_multimodal against hand-built images."""
    import pandas as pd

    from datapump_spark.operators.multimodal import image_near_dup

    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") % 5 == 0) \
        .select(F.col("doc_id").alias("media_id")) \
        .repartition(16)

    def build(batches):
        import numpy as np

        from datapump_spark.operators import codecs
        for pdf in batches:
            ids = pdf["media_id"]

            def png(doc_id: int) -> bytes:
                # content keyed by doc_id//10: the 2 sampled ids per
                # decade (d, d+5) share a base image; noise keyed by
                # doc_id keeps them near- but not exact-dups
                base_rng = np.random.default_rng(doc_id // 10)
                rgb = base_rng.integers(0, 256, (24, 32, 3)).astype(np.uint8)
                noise = np.random.default_rng(doc_id) \
                    .integers(-2, 3, rgb.shape)
                rgb = np.clip(rgb.astype(np.int16) + noise, 0, 255) \
                    .astype(np.uint8)
                return codecs.encode_png(rgb)

            yield pd.DataFrame({"media_id": ids, "payload": ids.map(png)})

    media = docs.mapInPandas(build, "media_id long, payload binary")
    return image_near_dup(media, max_hamming=6)


@query
def q_contrastive_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive-triples bootstrap over the documents corpus
    (recipes.contrastive_triples): near-dup paraphrase positives + ANN
    hard negatives. BENCH VARIANT — composition of oracled stages, no
    single SQL twin; semantics pinned in test_recipes."""
    from datapump_spark.recipes import contrastive_triples

    return contrastive_triples(
        _t(spark, sf_dir, "documents").select("doc_id", "text"))


@query
def q_gopher_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher/C4-style rule filter: repetition + naturalness signals and a
    keep verdict per document."""
    from datapump_spark.operators.quality import gopher_filter

    return gopher_filter(_t(spark, sf_dir, "documents"))


def _pii_input(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII demo corpus: phone/email/ip/ssn strings derived deterministically
    from c_custkey (the synthetic customer table carries no contact columns;
    the oracle builds the identical corpus — see oracles._PII_TEXT)."""
    k = F.col("c_custkey")

    def s(e):
        return e.cast("string")

    phone = F.concat_ws("-", s(k % 90 + 10), s(k % 900 + 100),
                        s((k * 7) % 900 + 100), s((k * 13) % 9000 + 1000))
    email = F.concat(F.lit("user"), s(k), F.lit("@example.com"))
    ip = F.concat(F.lit("10.0."), s(k % 256), F.lit("."), s(k % 100))
    ssn = F.when(
        k % 3 == 0,
        F.concat(s(k % 900 + 100), F.lit("-"), s(k % 90 + 10),
                 F.lit("-"), s((k * 3) % 9000 + 1000)),
    )  # otherwise NULL — concat_ws skips it in both engines
    text = F.concat_ws(" ", F.col("c_name"), F.lit("call"), phone,
                       F.lit("mail"), email, F.lit("ip"), ip, ssn)
    return _t(spark, sf_dir, "customer").select("c_custkey",
                                                text.alias("text"))


@query
def q_pii_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-row PII match counts (email/ssn/phone/ipv4)."""
    from datapump_spark.operators.pii import pii_stats

    return pii_stats(_pii_input(spark, sf_dir), id_col="c_custkey")


@query
def q_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Category-token redaction of the same corpus."""
    from datapump_spark.operators.pii import pii_redact

    return pii_redact(_pii_input(spark, sf_dir), id_col="c_custkey")


@query
def q_decontam(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag corpus docs sharing a distinct
    13-gram with the held-out benchmark slice (doc_id % 20 == 0)."""
    from datapump_spark.operators.decontam import decontaminate

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    bench = docs.where(F.col("doc_id") % 20 == 0)
    corpus = docs.where(F.col("doc_id") % 20 != 0)
    return decontaminate(corpus, bench)


@query
def q_decontam_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURGICAL decontamination (operators/decontam.py
    remove_contaminated_spans): instead of dropping flagged docs, cut
    ONLY the 13-gram spans overlapping the held-out benchmark slice
    (doc_id % 20 == 0) out of each corpus doc and keep the rest."""
    from datapump_spark.operators.decontam import remove_contaminated_spans

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    bench = docs.where(F.col("doc_id") % 20 == 0)
    corpus = docs.where(F.col("doc_id") % 20 != 0)
    return remove_contaminated_spans(corpus, bench)


@query
def q_pii_cards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Luhn-gated payment-card redaction (operators/pii.py redact_cards):
    every doc gets one VALID test card and one checksum-failing 16-digit
    order id appended; only the valid one may become [CARD]. The corpus
    holds no natural card-shaped digit runs (checked), so the oracle is
    the exact string transform."""
    from datapump_spark.operators.pii import redact_cards

    d = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(F.col("text"),
                 F.lit(" pay 4111111111111111 or order "
                       "4111111111111112 now")).alias("text"))
    return redact_cards(d)


@query
def q_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch reading-ease per document (operators/text.py readability):
    vowel-group syllables, [.!?]-run sentences, normalized-token words —
    three codegen regexp counts, shuffle-free."""
    from datapump_spark.operators.text import readability

    return readability(_t(spark, sf_dir, "documents").select("doc_id",
                                                             "text"))


@query
def q_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-50 PMI collocations over the documents corpus
    (operators/lm.py collocations): word-count aggs + broadcast join +
    TakeOrderedAndProject top-k, pairs below count 5 pruned."""
    from datapump_spark.operators.lm import collocations

    return collocations(_t(spark, sf_dir, "documents")
                        .select("doc_id", "text"))


@query
def q_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition signals: duplicate-line fraction/chars,
    most-frequent-2-gram char coverage, duplicated-5-gram char coverage
    (operators/repetition.py)."""
    from datapump_spark.operators.repetition import repetition_signals

    return repetition_signals(_t(spark, sf_dir, "documents"))


@query
def q_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style LM filtering: add-1 bigram model trained on the
    doc_id % 5 != 0 slice scores the held-out slice (operators/lm.py)."""
    from datapump_spark.operators.lm import train_and_score

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    corpus = docs.where(F.col("doc_id") % 5 != 0)
    return train_and_score(corpus, docs.where(F.col("doc_id") % 5 == 0))


@query
def q_lm_score_kn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated Kneser–Ney bigram scoring (operators/lm.py
    lm_score_kn — the KenLM smoothing, vs q_lm_score's add-1 baseline):
    same train/held-out split, D = 0.75."""
    from datapump_spark.operators.lm import lm_score_kn, train_bigram_lm

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    uni, bi = train_bigram_lm(docs.where(F.col("doc_id") % 5 != 0))
    return lm_score_kn(docs.where(F.col("doc_id") % 5 == 0), uni, bi)


@query
def q_chunk_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window chunking: 64-token windows, 16-token overlap
    (operators/chunking.py)."""
    from datapump_spark.operators.chunking import chunk_documents

    return chunk_documents(_t(spark, sf_dir, "documents"))


@query
def q_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 TF-IDF keywords per document (operators/tfidf.py)."""
    from datapump_spark.operators.tfidf import tfidf_topk

    return tfidf_topk(_t(spark, sf_dir, "documents"), k=5)


@query
def q_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-window EWMA smoothing per user series
    (operators/timeseries.py). α = 0.5 so the weights are exact powers
    of two in both engines — no cross-engine pow() drift."""
    from datapump_spark.operators.timeseries import ewma

    ev = _t(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts", "value")
    return ewma(ev, ["user_id"], "ts", "value", alpha=0.5, window=20,
                order_cols=["event_id"])


@query
def q_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear gap interpolation over the dense hourly resample (null gap
    buckets become interpolated values; series edges stay null)."""
    from datapump_spark.operators.resample import freq_resample
    from datapump_spark.operators.timeseries import interpolate_linear

    dense = freq_resample(
        _t(spark, sf_dir, "events"), ["user_id"], "ts", "H",
        value_cols=["value"], dense=True, bucket_alias="bucket_ts",
    ).select("user_id", "bucket_ts", F.round("value", 6).alias("avg_value"))
    return interpolate_linear(dense, ["user_id"], "bucket_ts", "avg_value")


@query
def q_locf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward-fill (LOCF, limit=3) over the dense hourly resample —
    the staleness-bounded imputation twin of q_interpolate
    (operators/timeseries.py fill_forward); gaps older than 3 buckets
    stay null."""
    from datapump_spark.operators.resample import freq_resample
    from datapump_spark.operators.timeseries import fill_forward

    dense = freq_resample(
        _t(spark, sf_dir, "events"), ["user_id"], "ts", "H",
        value_cols=["value"], dense=True, bucket_alias="bucket_ts",
    ).select("user_id", "bucket_ts", F.round("value", 6).alias("avg_value"))
    return fill_forward(dense, ["user_id"], "bucket_ts", "avg_value",
                        limit=3)


@query
def q_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type least-squares trend of value over time
    (regr_slope/regr_intercept/corr aggregates, one pass)."""
    from datapump_spark.operators.timeseries import group_trend

    ev = _t(spark, sf_dir, "events")
    # days since 2024-01-01: keeps the x magnitude ~30, so the one-pass
    # variance/covariance math agrees with the oracle to well past 6 dp
    # (raw epoch seconds ~1.7e9 would put engine-specific accumulation
    # error inside the rounded digits)
    x = (F.unix_timestamp("ts") - F.lit(1_704_067_200)) / F.lit(86_400.0)
    return group_trend(ev, ["event_type"], x, "value")


BM25_QUERY = "data model training pipeline"


@query
def q_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted index over documents: sorted posting list per term with
    df ≥ 5 (operators/retrieval.py)."""
    from datapump_spark.operators.retrieval import inverted_index

    return inverted_index(_t(spark, sf_dir, "documents"), min_df=5)


@query
def q_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 top-10 documents for a fixed query
    (operators/retrieval.py; term-sorted score fold, Lucene idf)."""
    from datapump_spark.operators.retrieval import bm25_topk

    return bm25_topk(_t(spark, sf_dir, "documents"), BM25_QUERY, k=10)


@query
def q_hybrid_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval: BM25 top-10 ⊕ hashing-vectorizer cosine top-10,
    fused by reciprocal-rank fusion (operators/retrieval.py rrf_fuse;
    Cormack 2009, c=60) — ranks only, so the incomparable score scales
    never meet. The vector score is computed INTEGER-EXACTLY (integer
    dot and squared norms from the hash-slot counts, one final double
    division) so its 6-dp rounding is engine-identical — summing
    pre-normalized doubles would be association-order-dependent. Oracle
    recomputes both lists and the same 1/(c+rank) sum in SQL, the
    vector side as an independent sparse slot-join."""
    import hashlib
    import re
    from collections import Counter

    from datapump_spark.functions.hashing import hash63, tokens
    from datapump_spark.operators.retrieval import bm25_topk, rrf_fuse

    docs = _t(spark, sf_dir, "documents")
    bm = bm25_topk(docs, BM25_QUERY, k=10).select("doc_id", "rank")

    dim = 64
    # query slot counts are plan-time constants (tiny): derive them
    # driver-side with the same md5 profile as hash63
    qc = Counter(
        int(hashlib.md5(f"emb42:{t}".encode()).hexdigest()[:15], 16) % dim
        for t in re.split(r"[^a-z0-9]+", BM25_QUERY.lower()) if t)
    nq2 = sum(c * c for c in qc.values())
    qmap = F.create_map(*[F.lit(x) for kv in qc.items() for x in kv])

    slots = (
        docs.select("doc_id", F.explode(tokens(F.col("text"))).alias("tok"))
        .select("doc_id",
                F.pmod(hash63(F.concat(F.lit("emb42:"), F.col("tok"))),
                       F.lit(dim)).cast("int").alias("slot"))
        .groupBy("doc_id", "slot").agg(F.count(F.lit(1)).alias("c"))
    )
    per_doc = slots.groupBy("doc_id").agg(
        F.sum(F.col("c") * F.coalesce(qmap[F.col("slot")], F.lit(0)))
        .alias("dot"),
        F.sum(F.col("c") * F.col("c")).alias("nd2"))
    w = Window.orderBy(F.col("cos").desc(), F.col("doc_id").asc())
    vec = (
        per_doc.where(F.col("dot") > 0)
        .withColumn("cos", F.round(
            F.col("dot") / F.sqrt((F.col("nd2") * nq2).cast("double")), 6))
        .orderBy(F.col("cos").desc(), F.col("doc_id").asc()).limit(10)
        .withColumn("rank", F.row_number().over(w))
        .select("doc_id", "rank")
    )
    return rrf_fuse({"bm25": bm, "vec": vec}, k=10)


@query
def q_benford(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-digit screen over lineitem extended prices
    (operators/expectations.py benford_deviation): per-digit observed vs
    expected frequency + χ² contribution — the numeric-forensics
    data-quality check."""
    from datapump_spark.operators.expectations import benford_deviation
    return benford_deviation(
        _t(spark, sf_dir, "lineitem"), "l_extendedprice")


@query
def q_user_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user behavioral profile (operators/events_analytics.py
    user_activity_profile): inter-arrival mean/CV, Goh-Barabási
    burstiness, and type-mix Shannon entropy — the bot-screening pass
    over the events stream."""
    from datapump_spark.operators.events_analytics import (
        user_activity_profile,
    )
    return user_activity_profile(_t(spark, sf_dir, "events"))


@query
def q_acf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation of event values per event type at lags 1..5
    (operators/timeseries.py autocorrelation): one window sort serves
    all lags, one aggregation; (ts, event_id) tie-broken ordering."""
    from datapump_spark.operators.timeseries import autocorrelation
    return autocorrelation(
        _t(spark, sf_dir, "events"), ["event_type"], ["ts", "event_id"],
        "value", max_lag=5)


@query
def q_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus concentration report: Gini coefficient of character mass
    across document sources (operators/describe.py gini_concentration)
    — the one-number input to a per-domain-cap decision."""
    from datapump_spark.operators.describe import gini_concentration
    return gini_concentration(
        _t(spark, sf_dir, "documents"), "source", "n_chars")


@query
def q_assoc_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise association rules over order baskets of parts
    (operators/assoc.py pair_rules): support/confidence/lift for part
    pairs co-ordered ≥ 3 times — the market-basket classic; all
    statistics are ratios of exact integer counts."""
    from datapump_spark.operators.assoc import pair_rules

    li = _t(spark, sf_dir, "lineitem")
    return pair_rules(li, "l_orderkey", "l_partkey", min_support_count=3)


@query
def q_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle counts + local clustering coefficients (operators/
    graph.py triangle_stats) over the supplier co-purchase kNN graph:
    suppliers sharing orders, SPARSIFIED to each node's 10 strongest
    co-occurrence edges — the raw projection of uniform synthetic data
    is near-complete (90% density at sf0.1 → ~10⁸ triangles), and top-k
    sparsification is the standard co-occurrence-graph fix that also
    keeps the query's cost stable across scale factors. Deterministic
    ranking (support desc, neighbor asc); oriented two-join enumeration,
    never an all-pairs product."""
    from datapump_spark.operators.graph import triangle_stats

    li = _t(spark, sf_dir, "lineitem")
    support = (
        li.alias("x").join(li.alias("y"), "l_orderkey")
        .where(F.col("x.l_suppkey") < F.col("y.l_suppkey"))
        .groupBy(F.col("x.l_suppkey").alias("lo"),
                 F.col("y.l_suppkey").alias("hi"))
        .agg(F.count(F.lit(1)).alias("sup"))
    )
    both = support.select("lo", "hi", "sup").union(
        support.select(F.col("hi").alias("lo"), F.col("lo").alias("hi"),
                       "sup"))
    w = Window.partitionBy("lo").orderBy(F.col("sup").desc(),
                                         F.col("hi").asc())
    knn = (
        both.withColumn("__rk", F.row_number().over(w))
        .where(F.col("__rk") <= 10)
        .select(F.col("lo").alias("src"), F.col("hi").alias("dst"))
    )
    return triangle_stats(knn)


@query
def q_rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-24-row exact rolling median of value per event type
    (operators/timeseries.py rolling_quantile) — the robust smoother; a
    selection statistic, so no float-summation drift and DuckDB's
    quantile_cont twins it exactly."""
    from datapump_spark.operators.timeseries import rolling_quantile

    ev = _t(spark, sf_dir, "events").select(
        "event_type", "ts", "event_id", "value")
    out = rolling_quantile(ev, ["event_type"], ["ts", "event_id"],
                           "value", q=0.5, window=24, out_col="med")
    return out.withColumn("med", F.round("med", 6))


@query
def q_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type CUSUM change-point report over the events value
    series (operators/drift.py cusum_changepoints): window-only prefix
    closed form, (ts, event_id) ordering so duplicate timestamps can't
    make the running sums layout-dependent."""
    from datapump_spark.operators.drift import cusum_changepoints
    return cusum_changepoints(
        _t(spark, sf_dir, "events"), ["event_type"], ["ts", "event_id"],
        "value", kappa=0.5, h=5.0)


@query
def q_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for retriever training (operators/raneval.py
    hard_negatives): per query, the 3 top-ranked exact-cosine hits that
    do NOT share the query's label (the qrels), skipping the single
    highest non-relevant hit (the unlabeled-positive guard)."""
    from datapump_spark.operators.raneval import hard_negatives
    from datapump_spark.operators.similarity import cosine_topk

    emb = _t(spark, sf_dir, "embeddings")
    res = cosine_topk(emb, k=10, query_max_id=10)
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id").asc())
    res = res.withColumn("rank", F.row_number().over(w))
    labels = emb.select("vec_id", "label")
    qrels = (
        labels.where(F.col("vec_id") < 10)
        .select(F.col("vec_id").alias("query_id"),
                F.col("label").alias("__ql"))
        .join(labels.select(F.col("vec_id").alias("neighbor_id"),
                            F.col("label").alias("__dl")),
              F.col("__ql") == F.col("__dl"))
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id"))
    return hard_negatives(res, qrels, m=3, skip_top=1)


@query
def q_retrieval_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking-quality metrics (operators/raneval.py) of the exact cosine
    top-10 against label-match relevance (same embedding label ⇒
    relevant): per-query precision/recall/MRR/nDCG@10. The qrels, the
    ranking, and every float constant are reproduced independently in
    the SQL oracle."""
    from datapump_spark.operators.raneval import retrieval_metrics
    from datapump_spark.operators.similarity import cosine_topk

    emb = _t(spark, sf_dir, "embeddings")
    res = cosine_topk(emb, k=10, query_max_id=10)
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id").asc())
    res = res.withColumn("rank", F.row_number().over(w))
    labels = emb.select("vec_id", "label")
    rel = (
        labels.where(F.col("vec_id") < 10)
        .select(F.col("vec_id").alias("query_id"),
                F.col("label").alias("__ql"))
        .join(labels.select(F.col("vec_id").alias("neighbor_id"),
                            F.col("label").alias("__nl")),
              F.col("__ql") == F.col("__nl"))
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id")
    )
    return retrieval_metrics(res, rel, k=10)


FUNNEL_STEPS = ["signup", "view", "purchase"]


@query
def q_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered-step conversion funnel signup → view → purchase
    (operators/events_analytics.py)."""
    from datapump_spark.operators.events_analytics import funnel

    return funnel(_t(spark, sf_dir, "events"), FUNNEL_STEPS)


@query
def q_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention over events
    (operators/events_analytics.py)."""
    from datapump_spark.operators.events_analytics import retention

    return retention(_t(spark, sf_dir, "events"))


@query
def q_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type z-score outliers, |z| > 2
    (operators/events_analytics.py)."""
    from datapump_spark.operators.events_analytics import outliers

    return outliers(_t(spark, sf_dir, "events"), ["event_type"],
                    z_threshold=2.0)


CORRELATED_SQL = """
SELECT o_orderkey, o_custkey, o_totalprice
FROM orders o
WHERE o_totalprice = (SELECT max(o2.o_totalprice)
                      FROM orders o2
                      WHERE o2.o_custkey = o.o_custkey)
"""


@query
def q_correlated_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar subquery THROUGH the SQL surface
    (sql_surface.run_sql): each customer's priciest order(s). Catalyst
    decorrelates the subquery into an aggregate + join — the rewrite the
    reference could never do (no SQL surface, SURVEY §2); the oracle
    runs the same text in DuckDB."""
    from datapump_spark.sql_surface import run_sql

    return run_sql(spark, sf_dir, CORRELATED_SQL)


@query
def q_table_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot diff (operators/diff.py): events slice A vs slice B with
    value edits — added/removed/changed rows with the changed columns."""
    from datapump_spark.operators.diff import table_diff

    ev = _t(spark, sf_dir, "events")
    left = ev.where(F.col("event_id") % 3 != 0)
    right = ev.where(F.col("event_id") % 5 != 0).withColumn(
        "value",
        F.when(F.col("event_id") % 7 == 0, F.col("value") * 2)
        .otherwise(F.col("value")))
    return table_diff(left, right, ["event_id"])


@query
def q_equidepth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth histogram of event values: exact percentile cutpoints
    + scan-speed bucket assignment, no global sort
    (operators/sketches.py)."""
    from datapump_spark.operators.sketches import equidepth_histogram

    return equidepth_histogram(_t(spark, sf_dir, "events"), "value")


@query
def q_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style corpus-wide duplicate-line removal. The synthetic docs are
    single-line, so the query first rechunks each document into pseudo-lines
    of 10 tokens, then drops every occurrence-but-the-first of each line
    across the corpus and reassembles the survivors."""
    from datapump_spark.functions.hashing import tokens
    from datapump_spark.operators.line_dedup import dedup_lines

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    d = (docs.withColumn("__t", tokens(F.col("text")))
         .withColumn("__n", F.greatest(
             F.ceil(F.size("__t") / F.lit(10)), F.lit(1)).cast("int")))
    lined = d.select(
        "doc_id",
        F.array_join(
            F.transform(
                F.sequence(F.lit(1), F.col("__n")),
                lambda i: F.array_join(
                    F.slice("__t", (i - 1) * 10 + 1, 10), " "),
            ),
            "\n",
        ).alias("text"),
    )
    return dedup_lines(lined)


@query
def q_span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact repeated-substring REMOVAL (Lee et al. 2022 ExactSubstr,
    distributed): every 10-token gram occurring ≥2× corpus-wide keeps only
    its first occurrence; all other occurrences' spans are cut out
    (overlaps merged) and documents reassembled from surviving tokens
    (operators/line_dedup.py remove_duplicate_spans). Complements
    q_dup_passages, which only FLAGS the shared fraction."""
    from datapump_spark.operators.line_dedup import remove_duplicate_spans

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return remove_duplicate_spans(docs, n=10)


@query
def q_canonical_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup pipeline composition: near-dup clusters → per-cluster
    representative by quality score (ties → lowest doc_id). Computes
    its own clustering (see _clusters), read once by canonical_docs."""
    from datapump_spark.operators.dedup_fuzzy import canonical_docs
    from datapump_spark.operators.text import quality_score

    docs = _t(spark, sf_dir, "documents")
    return canonical_docs(_clusters(spark, sf_dir), quality_score(docs))


@query
def q_corpus_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus report card: per (lang, source) doc counts, token/char
    volume, and exact median length — the profiling pass that sizes a
    training mix before sampling weights are chosen."""
    from datapump_spark.functions.hashing import tokens

    d = (_t(spark, sf_dir, "documents")
         .withColumn("__tok", F.size(tokens(F.col("text")))))
    return (d.groupBy("lang", "source").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        F.sum("__tok").cast("bigint").alias("total_tokens"),
        (F.sum("__tok").cast("double")
         / F.count(F.lit(1))).alias("avg_tokens"),
        F.percentile("n_chars", F.lit(0.5)).alias("median_chars"),
    ))


@query
def q_dup_passages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicated-passage detection: share of each doc's rolling 10-token
    windows that also occur in another document."""
    from datapump_spark.operators.line_dedup import dup_passages

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return dup_passages(docs, n=10, threshold=0.2)


@query
def q_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled language rebalancing (alpha=0.5): rare langs
    kept whole, dominant langs down-sampled to sqrt-proportional share."""
    from datapump_spark.operators.sampling import temperature_mix

    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang", "source")
    return temperature_mix(docs, group_col="lang", key_col="doc_id")


@query
def q_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ingest dedup: an incoming batch (fresh docs + re-crawls
    of corpus content + an in-batch duplicate slice) is admitted against
    the existing corpus's fingerprint index; only novel content survives."""
    from datapump_spark.operators.incremental import fingerprints, incremental_dedup

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "source")
    corpus = docs.where(F.col("doc_id") % 10 != 0)
    fresh = docs.where(F.col("doc_id") % 10 == 0)
    batch = (
        fresh
        .unionByName(corpus.where(F.col("doc_id") % 7 == 0)
                     .withColumn("doc_id", F.col("doc_id") + 1000000))
        .unionByName(fresh.where(F.col("doc_id") % 20 == 0)
                     .withColumn("doc_id", F.col("doc_id") + 2000000))
    )
    return incremental_dedup(batch, fingerprints(corpus))


@query
def q_seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Additive seasonal decomposition (operators/timeseries.py) of the
    hourly per-event-type series: centered-MA trend (±12 h), period-24
    position means on decimal-exact detrended values (the q_corpus_card
    float-determinism profile — unordered partition means must not be
    summation-order-dependent), residual. One exchange + one sort; the
    DuckDB oracle runs the identical window algebra."""
    from datapump_spark.operators.timeseries import seasonal_decompose

    ev = _t(spark, sf_dir, "events")
    series = (ev.groupBy("event_type",
                         F.date_trunc("hour", "ts").alias("bucket"))
              .agg(F.round(F.avg("value"), 6).alias("v")))
    return seasonal_decompose(series, ["event_type"], "bucket", "v",
                              period=24)


@query
def q_seasonal_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonally-adjusted anomaly flags: the decomposition residual
    z-scored per event_type (stddev_samp precedent: q_outliers), rows
    with |z| > 2.5 — the monitoring query that catches a sensor spike
    WITHOUT false-alarming on the daily cycle a raw z-score would flag.
    Composes q_seasonal_decompose's plan; one extra broadcast join of a
    per-type stats row."""
    from datapump_spark.operators.timeseries import seasonal_decompose

    ev = _t(spark, sf_dir, "events")
    series = (ev.groupBy("event_type",
                         F.date_trunc("hour", "ts").alias("bucket"))
              .agg(F.round(F.avg("value"), 6).alias("v")))
    dec = seasonal_decompose(series, ["event_type"], "bucket", "v",
                             period=24).where(F.col("resid").isNotNull())
    stats = dec.groupBy("event_type").agg(
        F.avg("resid").alias("__mu"), F.stddev_samp("resid").alias("__sd"))
    z = F.round((F.col("resid") - F.col("__mu")) / F.col("__sd"), 6)
    return (dec.join(F.broadcast(stats), "event_type")
            .where(F.col("__sd") > 0)
            .withColumn("z", z)
            .where(F.abs(F.col("z")) > 2.5)
            .select("event_type", "bucket", "value", "resid", "z"))


@query
def q_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law fit per language: token frequencies ranked (freq desc,
    token asc — a total, engine-agnostic order), top 200 ranks with
    n ≥ 5, then the log-log least-squares slope/intercept/r via the
    regr_* aggregates (one pass; ln magnitudes are O(10), the same
    bounded-x precaution as q_trend). A healthy natural-language corpus
    sits near slope −1; the corpus-card-style diagnostic for synthetic
    or template-heavy sources."""
    from datapump_spark.functions.hashing import tokens

    d = _t(spark, sf_dir, "documents").select(
        "lang", F.explode(tokens(F.col("text"))).alias("tok"))
    counts = d.groupBy("lang", "tok").agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("lang").orderBy(F.col("n").desc(),
                                           F.col("tok").asc())
    ranked = (counts.withColumn("rank", F.row_number().over(w))
              .where((F.col("rank") <= 200) & (F.col("n") >= 5)))
    return (
        ranked.withColumn("ln_n", F.log(F.col("n").cast("double")))
        .withColumn("ln_rank", F.log(F.col("rank").cast("double")))
        .groupBy("lang")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_ranks"),
             F.round(F.regr_slope("ln_n", "ln_rank"), 6).alias("slope"),
             F.round(F.regr_intercept("ln_n", "ln_rank"), 6)
             .alias("intercept"),
             F.round(F.corr("ln_n", "ln_rank"), 6).alias("r_loglog")))


@query
def q_bloom_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The q_incremental_dedup scenario through the Bloom fast path
    (operators/bloom.py): a filter built from the corpus index routes
    definite-novel batch rows around the anti-join with zero shuffle; the
    filter has no false negatives, so the output — and the DuckDB oracle,
    which is the identical plain anti-join SQL — is exactly the exact
    path's. What the oracle therefore proves: the codegen bitmap build
    (xxhash64 positions → bit_or words) and the broadcast forall probe
    agree bit-for-bit, on top of the dedup semantics."""
    from datapump_spark.operators.bloom import bloom_incremental_dedup
    from datapump_spark.operators.incremental import fingerprints

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "source")
    corpus = docs.where(F.col("doc_id") % 10 != 0)
    fresh = docs.where(F.col("doc_id") % 10 == 0)
    batch = (
        fresh
        .unionByName(corpus.where(F.col("doc_id") % 7 == 0)
                     .withColumn("doc_id", F.col("doc_id") + 1000000))
        .unionByName(fresh.where(F.col("doc_id") % 20 == 0)
                     .withColumn("doc_id", F.col("doc_id") + 2000000))
    )
    return bloom_incremental_dedup(batch, fingerprints(corpus))


@query
def q_pack_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GPT-style concat-and-chunk sequence packing at a 1024-token budget:
    one row per (sequence, document) overlap."""
    from datapump_spark.operators.packing import pack_concat_chunks

    return pack_concat_chunks(_t(spark, sf_dir, "documents"), budget=1024)


@query
def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language deterministic sampling: 50% en, 25% fr/de, 12.5% es,
    6.25% default — pure hash predicate, zero shuffle, reproducible
    across cluster sizes (unlike partition-seeded sampleBy)."""
    from datapump_spark.operators.sampling import stratified_sample

    d = _t(spark, sf_dir, "documents")
    return stratified_sample(
        d, "lang",
        {"en": 0.5, "fr": 0.25, "de": 0.25, "es": 0.125},
        key_col="doc_id", default_fraction=0.0625,
    ).select("doc_id", "lang", "source")


@query
def q_quality_logreg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Learned quality filter: σ(w·x+b) over 5 native text features with
    pinned weights (train_logreg learns them; pytest-verified)."""
    from datapump_spark.operators.classifier import score_logreg

    return score_logreg(_t(spark, sf_dir, "documents"))


@query
def q_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary: top-200 tokens by frequency (min_count 2), ids
    dense in (count DESC, token ASC) order — TakeOrderedAndProject cut,
    token-keyed shuffle bounded by distinct-token count."""
    from datapump_spark.operators.vocab import build_vocab

    return build_vocab(_t(spark, sf_dir, "documents"), top_k=200, min_count=2)


@query
def q_token_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Encode every document as token ids against the top-100 vocab
    (OOV → 0): posexplode → broadcast vocab join → ordered reassembly."""
    from datapump_spark.operators.vocab import build_vocab, encode_tokens

    docs = _t(spark, sf_dir, "documents")
    vocab = build_vocab(docs, top_k=100, min_count=2)
    return encode_tokens(docs, vocab)


@query
def q_ship_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: segment-filtered customer ⋈ orders ⋈ lineitem,
    revenue per order, top-10. Filters reach the scans (predicate
    pushdown on c_mktsegment / o_orderdate / l_shipdate); the top-10 is
    TakeOrderedAndProject — only 10 rows leave the executors."""
    cut = "1998-06-01"
    c = _t(spark, sf_dir, "customer").where(F.col("c_mktsegment") == "BUILDING")
    o = _t(spark, sf_dir, "orders").where(F.col("o_orderdate") < cut)
    li = _t(spark, sf_dir, "lineitem").where(F.col("l_shipdate") > cut)
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(_dec_sum(F.col("l_extendedprice") * (1 - F.col("l_discount")),
                      "revenue"))
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(F.desc("revenue"), F.asc("o_orderdate"), F.asc("l_orderkey"))
        .limit(10)
    )


@query
def q_region_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: local-supplier volume per nation in ASIA, 1996.
    nation/region are explicitly broadcast (25/5 rows at any SF);
    customer–supplier co-nationality is an extra equi-key on the join."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= "1996-01-01")
        & (F.col("o_orderdate") < "1997-01-01"))
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(s, (li.l_suppkey == s.s_suppkey)
              & (c.c_nationkey == s.s_nationkey))
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(_dec_sum(F.col("l_extendedprice") * (1 - F.col("l_discount")),
                      "revenue"))
    )


@query
def q_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: PROMO share of revenue for one ship month —
    lineitem ⋈ part with a conditional aggregate; month filter pushed to
    the lineitem scan."""
    li = _t(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= "1997-09-01")
        & (F.col("l_shipdate") < "1997-10-01"))
    p = _t(spark, sf_dir, "part")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    j = li.join(p, li.l_partkey == p.p_partkey)
    return j.agg(
        F.round(
            F.lit(100.0)
            * F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(0.0)
                    .cast("decimal(18,6)"))
            .cast("double")
            / F.sum(rev.cast("decimal(18,6)")).cast("double"),
            6,
        ).alias("promo_pct"),
    )


# TPC-H-shape relational pack (Q2/Q4/Q6-Q13/Q15-Q19/Q21/Q22 adapted to the
# driver schema) — see datapump_spark/tpch.py; same DuckDB oracle gate.
from datapump_spark.tpch import TPCH_QUERIES  # noqa: E402

for fn in TPCH_QUERIES.values():
    query(fn)


@query
def q_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality expectation suite over the star schema: row-level
    checks compile to ONE aggregate pass per table; referential-integrity
    checks are key-only broadcast anti joins (operators/expectations.py).
    Output is the tall audit frame a pipeline gate would persist."""
    from datapump_spark.operators.expectations import (
        ExpectationSuite, in_range, in_set, not_null, run_suites)

    ev = _t(spark, sf_dir, "events")
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    p = _t(spark, sf_dir, "part")
    # RI checks ride inside each suite's single aggregate pass (broadcast
    # key probes), so every fact table is scanned exactly once.
    suites = [
        (ExpectationSuite("events", [
            not_null("event_id"), not_null("ts"), not_null("user_id"),
            in_set("event_type", ["click", "error", "purchase", "signup", "view"]),
            in_range("value", 0.0, 500.0),
        ], unique_keys=["event_id"]), ev),
        (ExpectationSuite("lineitem", [
            in_range("l_discount", 0.0, 0.1),
            in_range("l_quantity", 1.0, 50.0),
            not_null("l_orderkey"),
        ], ri=[("l_orderkey", o, "o_orderkey", "orders"),
               ("l_partkey", p, "p_partkey", "part")]), li),
        (ExpectationSuite("orders", [
            in_set("o_orderstatus", ["P", "O", "F"]),
            not_null("o_orderdate"),
        ], unique_keys=["o_orderkey"],
            ri=[("o_custkey", c, "c_custkey", "customer")]), o),
    ]
    return run_suites(suites).orderBy("table_name", "check")


@query
def q_band_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded range join: events.value against an inline tier table of
    [lo, hi) bands — broadcast nested-loop probe, zero shuffle of the
    fact side (operators/rangejoin.py) — then revenue-ish rollup per
    band so the output is a compact audit of the assignment."""
    from datapump_spark.operators.rangejoin import band_join

    ev = _t(spark, sf_dir, "events")
    bands = spark.createDataFrame(
        [("nano", 0.0, 1.0), ("micro", 1.0, 10.0), ("small", 10.0, 50.0),
         ("mid", 50.0, 150.0), ("large", 150.0, 500.0)],
        "band string, lo double, hi double")
    j = band_join(ev, bands, "value", how="left_outer")
    return (
        j.groupBy("band", "lo", "hi")
        .agg(F.count(F.lit(1)).alias("n_events"),
             _dec_sum(F.col("value"), "sum_value"))
        .orderBy(F.asc_nulls_last("lo"))
    )


@query
def q_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot (melt): lineitem's four measure columns to tall
    (measure, value) rows via the native UNPIVOT — a zero-shuffle
    narrow transform (each row expands in place; no exchange in the
    plan), the inverse of q_pivot."""
    li = _t(spark, sf_dir, "lineitem")
    return li.unpivot(
        ["l_orderkey", "l_linenumber"],
        ["l_quantity", "l_extendedprice", "l_discount", "l_tax"],
        "measure", "value")


@query
def q_state_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands → SCD2 intervals: collapse each user's contiguous
    runs of the same event_type into [effective_from, effective_to)
    validity rows (operators/intervals.py). The lag, running-sum, island
    aggregation and lead all share the user_id partitioning — one
    shuffle for the whole operator."""
    from datapump_spark.operators.intervals import state_intervals

    ev = _t(spark, sf_dir, "events")
    return state_intervals(ev, "user_id", "ts", "event_type",
                           tiebreak_col="event_id")


@query
def q_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix of event types per user
    sequence (operators/events_analytics.py): one window shuffle to form
    lag pairs, then a |states|²-sized aggregate."""
    from datapump_spark.operators.events_analytics import event_transitions

    return event_transitions(_t(spark, sf_dir, "events"))


@query
def q_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-point integer PageRank (operators/graph.py) over the
    customer↔supplier co-purchase graph, 3 iterations. Integer
    arithmetic makes the iterative result bit-exact against the DuckDB
    unrolled-CTE oracle — a correctness gate iterative float PageRank
    could never pass."""
    from datapump_spark.operators.graph import pagerank

    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    # integer node ids (customer = 2k, supplier = 2k+1): the join/distinct
    # and every per-iteration shuffle key 8 bytes instead of a string —
    # labels are applied once at the output boundary, never shuffled
    cp = (
        # broadcast the key-projected orders side: the fact-fact
        # sort-merge shuffled all of lineitem for a ~2 MB build side
        # (r12 optimization round, guide §3.1)
        li.join(F.broadcast(o.select("o_orderkey", "o_custkey")),
                li.l_orderkey == F.col("o_orderkey"))
        .select(
            (F.col("o_custkey") * 2).alias("cnode"),
            (F.col("l_suppkey") * 2 + 1).alias("snode"),
        )
        .distinct()
    )
    edges = cp.select(F.col("cnode").alias("src"), F.col("snode").alias("dst")) \
        .union(cp.select(F.col("snode").alias("src"), F.col("cnode").alias("dst")))
    # cp is distinct and the two directions are parity-disjoint, so the
    # union is distinct by construction — skip pagerank's defensive dedup
    # (saves a full shuffle of the edge list); both directions present —
    # the node set is the src set (assume_symmetric).
    pr = pagerank(edges, n_iter=3, assume_distinct=True,
                  assume_symmetric=True)
    label = F.when(
        F.col("node") % 2 == 0,
        F.concat(F.lit("c:"), (F.col("node") / 2).cast("long").cast("string")),
    ).otherwise(
        F.concat(F.lit("s:"), ((F.col("node") - 1) / 2).cast("long").cast("string")))
    return pr.select(label.alias("node"), "rank")


@query
def q_incremental_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental aggregate maintenance (operators/incremental_agg.py):
    three disjoint batches of events are partial-aggregated separately,
    merged (union + re-aggregate of the monoid state), and finalized.
    The oracle is a FROM-SCRATCH aggregate over the full table — the
    hash match proves state merging is exactly lossless, the property a
    materialized-view pipeline depends on."""
    from datapump_spark.operators.incremental_agg import (
        agg_state, finalize_agg, merge_agg_state)

    ev = _t(spark, sf_dir, "events")
    batches = [ev.where(F.col("event_id") % 3 == i) for i in range(3)]
    states = [agg_state(b, ["event_type"], ["value"]) for b in batches]
    merged = merge_agg_state(states, ["event_type"], ["value"])
    return finalize_agg(merged, ["event_type"], ["value"])


@query
def q_yoy_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Year-over-year revenue growth per supplier nation: decimal-exact
    yearly rollup, then a lag window over the (tiny) aggregate — the
    window runs on |nations|×|years| rows, never on the fact table."""
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    yearly = (
        li.join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name", F.year("l_shipdate").cast("int").alias("l_year"))
        .agg(_dec_sum(F.col("l_extendedprice") * (1 - F.col("l_discount")),
                      "revenue"))
    )
    w = Window.partitionBy("n_name").orderBy("l_year")
    prev = F.lag("revenue").over(w)
    return yearly.withColumn(
        "yoy_pct", F.round((F.col("revenue") - prev) / prev, 6))


def _asof_inputs(spark: SparkSession, sf_dir: str):
    ev = _t(spark, sf_dir, "events").select(
        "event_id", "user_id", F.col("ts").cast("timestamp").alias("ts"))
    orders = _t(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("user_id"), "o_orderdate", "o_orderkey")
    return ev, orders


@query
def q_asof_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """merge_asof parity, backward + tolerance: each event matches the
    customer's latest order within the preceding 30 days, else null.
    Union-merge formulation (operators/asof.py) — one shuffle; the
    oracle is an INDEPENDENT LATERAL-join formulation, so the hash match
    cross-checks two different algorithms."""
    from datapump_spark.operators.asof import asof_join

    ev, orders = _asof_inputs(spark, sf_dir)
    return asof_join(
        ev, orders, on="user_id", left_ts="ts", right_ts="o_orderdate",
        payload_cols=["o_orderkey"], direction="backward",
        tolerance="INTERVAL 30 DAY",
    ).select("event_id", "user_id", "ts", "matched_ts", "o_orderkey")


@query
def q_asof_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """merge_asof parity, forward: each event matches the customer's
    EARLIEST order at-or-after the event (same union-merge pass run on a
    descending window)."""
    from datapump_spark.operators.asof import asof_join

    ev, orders = _asof_inputs(spark, sf_dir)
    return asof_join(
        ev, orders, on="user_id", left_ts="ts", right_ts="o_orderdate",
        payload_cols=["o_orderkey"], direction="forward",
    ).select("event_id", "user_id", "ts", "matched_ts", "o_orderkey")


@query
def q_embedding_near_dup_gemm_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Production-path variant of q_embedding_near_dup: LSH-bucketed GEMM
    (linear shuffle, pruned pair space) — the 100 TB strategy. Approximate
    by design, so no SQL oracle; recall vs the exact path is graded in
    tests/test_text_dedup.py. Benched so the scale path carries timings."""
    from datapump_spark.operators.dedup_fuzzy import embedding_near_dup

    return embedding_near_dup(
        _t(spark, sf_dir, "embeddings"), threshold=0.3,
        strategy="gemm_lsh", dim=_emb_dim(sf_dir))


@query
def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style pruning: k-means clusters + within-cluster
    union-find over cos ≥ t (operators/semantic_dedup.py). k-means +
    per-cluster kernels have no SQL twin; correctness is pinned in
    tests/test_semantic_dedup.py (n_clusters=1 ≡ exact global grouping,
    keep-policy invariants) — benched so the scale path carries timings."""
    from datapump_spark.operators.semantic_dedup import semantic_dedup

    return semantic_dedup(
        _t(spark, sf_dir, "embeddings"), n_clusters=16, threshold=0.5)


@query
def q_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer: distributed word count → driver merge loop on
    counts → broadcast-dict encode scan (operators/bpe.py). Iterative
    merges have no SQL twin; pinned in tests/test_bpe.py against an
    independent reference trainer — benched so train+encode carry
    timings."""
    from datapump_spark.operators.bpe import bpe_encode, train_bpe

    docs = _t(spark, sf_dir, "documents")
    return bpe_encode(docs, train_bpe(docs, n_merges=200))


@query
def q_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full IVF-PQ index (operators/pq.py ivfpq_topk): coarse-cell
    equi-join candidate pruning × residual-PQ compressed scoring × exact
    shortlist re-rank — trained, encoded, and searched end-to-end.
    Recall/plan/determinism graded in test_pq; no SQL oracle (k-means)."""
    from datapump_spark.operators.pq import ivfpq_topk
    # lloyd_iters=1: the bench measures the index-build+search plan shape;
    # iteration count only multiplies identical training jobs (quality at
    # higher iters is what test_pq grades)
    return ivfpq_topk(_t(spark, sf_dir, "embeddings"), k=5, query_max_id=10,
                      n_cells=16, n_probe=8, rerank_factor=8,
                      lloyd_iters=1, dim=_emb_dim(sf_dir))


@query
def q_unigram_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM tokenizer (SentencePiece-style): distributed word count
    → driver EM+prune on counts → broadcast Viterbi encode scan
    (operators/unigram.py). Iterative EM has no SQL twin; gated in
    tests/test_unigram.py (Viterbi ≡ brute force, EM monotone, round-trip)
    — benched so train+encode carry timings."""
    from datapump_spark.operators.unigram import train_unigram, unigram_encode

    docs = _t(spark, sf_dir, "documents")
    # EM cost is driver-side in the word-TYPE count, not the corpus: cap
    # the types at the Zipf head (the tail carries negligible mass) so the
    # bench number tracks the distributed encode scan, not driver Python.
    model = train_unigram(docs, vocab_size=400, seed_size=3000,
                          max_piece_len=5, em_iters=2,
                          max_word_types=8_000)
    return unigram_encode(docs, model)


@query
def q_approx_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch profiling: HLL++ distinct + quantile-sketch percentiles per
    return flag in ONE aggregation pass (operators/sketches.py). Sketch
    estimates can't hash-match DuckDB; error bounds vs the exact twin are
    graded in tests/test_sketches.py — benched as the 100 TB profiling
    path."""
    from datapump_spark.operators.sketches import approx_profile

    return approx_profile(
        _t(spark, sf_dir, "lineitem"), ["l_returnflag"],
        ["l_orderkey", "l_extendedprice", "l_quantity"])


@query
def q_pack_greedy_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Production-path variant of q_pack_chunks: boundary-respecting FFD
    bin packing (no document split across sequences). The greedy loop is
    inherently sequential per shard, so it is invariant-graded in
    tests/test_packing_quality.py rather than SQL-oracled."""
    from datapump_spark.operators.packing import pack_greedy_bins

    return pack_greedy_bins(_t(spark, sf_dir, "documents"), budget=1024)


@query
def q_strip_html(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTML → visible text (operators/cleaning.py strip_html): documents
    wrapped codegen-side in realistic markup (script+style payloads,
    comments, attributes, entities), then stripped — the oracle applies
    the IDENTICAL regex chain in DuckDB (patterns kept inside the RE2 ∩
    Java dialect for exactly this)."""
    from datapump_spark.operators.cleaning import strip_html

    d = _t(spark, sf_dir, "documents")
    messy = F.concat(
        F.lit('<html><head><title>T</title><script type="text/javascript">'
              'var x = 1; if (x < 2) { x++; }</script>'
              '<style>p { color: red; }</style></head>'
              '<body><!-- hidden note --><p id="a" class="b c">'),
        F.col("text"),
        F.lit('</p><br/><div>&amp;&nbsp;&lt;end&gt;&quot;&#39;</div>'
              "</body></html>"))
    return strip_html(d.select("doc_id", messy.alias("text")))


@query
def q_main_content(spark: SparkSession, sf_dir: str) -> DataFrame:
    """jusText/Arc90-style main-content extraction (operators/cleaning.py
    extract_main_content): documents wrapped codegen-side in a full page
    with a link-dense nav bar, a share block and a footer; block scoring
    (min words + max link density) must drop exactly the boilerplate
    blocks and keep the prose. Oracle runs the identical regex chain in
    DuckDB over unnested blocks."""
    from datapump_spark.operators.cleaning import extract_main_content

    d = _t(spark, sf_dir, "documents")
    page = F.concat(
        F.lit('<html><head><script>var n=1;</script>'
              '<style>.m:red;</style></head><body>'
              '<div class="nav"><a href="/">Home</a> <a href="/a">About</a> '
              '<a href="/c">Contact</a> <a href="/s">Search</a></div><p>'),
        F.col("text"),
        F.lit('</p><p>Share this: <a href="/tw">Tweet</a> '
              '<a href="/fb">Like</a></p>'
              '<div class="footer"><a href="/p">Privacy</a> '
              '<a href="/t">Terms</a> &copy; 2024</div></body></html>'))
    out = extract_main_content(d.select("doc_id", page.alias("text")),
                               out_col="main_text")
    return out.select("doc_id", "n_blocks", "n_kept", "main_text")


@query
def q_normalize_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text normalization (operators/cleaning.py): control-char strip,
    whitespace-run collapse, trim. The synthetic docs are already clean,
    so the query first roughs them up deterministically (doubled spaces,
    tab runs, padding) and normalization must restore the original —
    self-checking by construction, and the oracle applies the identical
    mess + regexes. Pure codegen'd expressions, zero shuffle."""
    from datapump_spark.operators.cleaning import normalize_text

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    messy = docs.select(
        "doc_id",
        F.concat(F.lit(" \t "),
                 F.regexp_replace("text", " ", "  \t"),
                 F.lit("\t  ")).alias("text"),
        F.length("text").alias("n_chars_raw"),
    )
    return (normalize_text(messy, "text", out_col="text_norm")
            .select("doc_id", "n_chars_raw",
                    F.length("text_norm").alias("n_chars_norm"),
                    "text_norm"))


@query
def q_strip_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source boilerplate-line removal, CCNet/RefinedWeb style
    (operators/cleaning.py): lines appearing in ≥5% (and ≥2) of a
    source's documents are dropped everywhere, documents reassembled.
    Single-line synthetic docs are first rechunked into 10-token
    pseudo-lines, same as q_line_dedup."""
    from datapump_spark.functions.hashing import tokens
    from datapump_spark.operators.cleaning import strip_boilerplate

    docs = _t(spark, sf_dir, "documents").select("doc_id", "source", "text")
    d = (docs.withColumn("__t", tokens(F.col("text")))
         .withColumn("__n", F.greatest(
             F.ceil(F.size("__t") / F.lit(10)), F.lit(1)).cast("int")))
    lined = d.select(
        "doc_id", "source",
        F.array_join(
            F.transform(
                F.sequence(F.lit(1), F.col("__n")),
                lambda i: F.array_join(
                    F.slice("__t", (i - 1) * 10 + 1, 10), " "),
            ),
            "\n",
        ).alias("text"),
    )
    return strip_boilerplate(lined, min_docs_frac=0.05, min_docs=2)


@query
def q_fuzzy_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked edit-distance similarity join (operators/fuzzy_join.py):
    document pairs whose 10-token prefix keys are within levenshtein
    distance 5, found via lossless 3-D banding (length/vowels/consonants)
    + lossless class-count filter + threshold'd levenshtein. The oracle
    is an INDEPENDENT all-pairs formulation (length prefilter only), so
    the hash match also proves the blocking loses no pairs."""
    from datapump_spark.functions.hashing import tokens
    from datapump_spark.operators.fuzzy_join import edit_distance_pairs

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.array_join(F.slice(tokens(F.col("text")), 1, 10), " ").alias("key"),
    )
    return edit_distance_pairs(docs, "doc_id", "key", max_dist=5)


@query
def q_zorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) key computation (operators/zorder.py): min/max
    scale l_partkey and l_suppkey to 16 bits each and interleave — the
    multi-column data-skipping layout key. One tiny stats broadcast +
    pure bit arithmetic; PERF.md records the row-group pruning this
    layout buys."""
    from datapump_spark.operators.zorder import with_zvalue

    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_partkey", "l_suppkey")
    return with_zvalue(li, ["l_partkey", "l_suppkey"], bits=16) \
        .select("l_orderkey", "l_linenumber", "zval")


@query
def q_compression_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """zlib compressibility quality signal (operators/cleaning.py):
    Arrow-batched mapInPandas, deterministic for a fixed level. No SQL
    twin (DuckDB has no zlib expression) — pinned in tests/test_cleaning.py
    against driver-side zlib; benched as a production scan-side signal."""
    from datapump_spark.operators.cleaning import compression_ratio

    return compression_ratio(_t(spark, sf_dir, "documents"))


@query
def q_token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram token entropy per document (operators/text.py) — the
    gibberish/word-salad quality signal: one explode + two skew-safe
    hash aggregations, no windows."""
    from datapump_spark.operators.text import token_entropy

    return token_entropy(_t(spark, sf_dir, "documents"))


@query
def q_hll_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable HLL sketch-cube rollup (operators/sketches.py): distinct
    users sketched once per (event_type, day) cell, then rolled up to
    per-type NDV from sketch STATES only — the pattern that makes
    repeated distinct-count reporting affordable at 100 TB. Approximate
    (DataSketches HLL), so no SQL twin; merge-exactness and error bounds
    are pinned in tests/test_sketches.py."""
    from datapump_spark.operators.sketches import (
        hll_rollup_estimate, hll_rollup_sketches)

    ev = _t(spark, sf_dir, "events").withColumn(
        "day", F.to_date(F.col("ts").cast("timestamp")))
    sk = hll_rollup_sketches(ev, ["event_type", "day"], "user_id")
    return (hll_rollup_estimate(sk, ["event_type"])
            .orderBy("event_type"))


@query
def q_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution drift (operators/drift.py): PSI / KL / TVD of the
    `value` distribution per event_type between the first and second
    half of the events time range. The snapshot-monitoring primitive —
    one bounded count aggregate regardless of input size."""
    from datapump_spark.operators.drift import time_split_drift

    return time_split_drift(
        _t(spark, sf_dir, "events"), "ts", "value", ["event_type"])


@query
def q_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust numeric conditioning (operators/robust.py): per-event_type
    winsorized + median/IQR-scaled `value`. One exact-percentile pass +
    broadcast bounds join — the fact table never shuffles."""
    from datapump_spark.operators.robust import winsorize

    ev = _t(spark, sf_dir, "events")
    return winsorize(ev, "value", ["event_type"]).select(
        "event_id", "event_type", "value", "value_w", "value_robust")


@query
def q_reservoir_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-k deterministic uniform sample (operators/sampling.py):
    k smallest salted-md5 keys via TakeOrderedAndProject — reservoir-
    sampling semantics without sequential state; nested across k."""
    from datapump_spark.operators.sampling import uniform_sample_k

    docs = _t(spark, sf_dir, "documents")
    return uniform_sample_k(docs, "doc_id", 100).select(
        "doc_id", "lang", "source")


@query
def q_variant_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured analytics through Spark 4's VARIANT type:
    try_parse_json once into the binary variant encoding, then typed
    path extraction (`variant_get`) feeding a per-user aggregate. The
    shredded-at-scan model for ragged JSON at 100 TB — no per-query
    string re-parsing, no UDFs."""
    ev = _t(spark, sf_dir, "events")
    k = F.try_variant_get(F.try_parse_json(F.col("props")), "$.k", "bigint")
    return (
        ev.select("user_id", k.alias("_k"))
        .groupBy("user_id")
        .agg(F.sum("_k").alias("k_sum"),
             F.count("_k").cast("bigint").alias("n_props"))
    )


@query
def q_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact phi-heavy hitters over the token stream via two-pass
    distributed Misra-Gries (operators/sketches.py): bounded-memory
    candidate summaries per partition, then a broadcast-semi-join exact
    count — equal to GROUP BY…HAVING but without shuffling the full
    token domain."""
    from datapump_spark.functions.hashing import tokens
    from datapump_spark.operators.sketches import heavy_hitters

    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(F.explode(tokens(F.col("text"))).alias("tok"))
    return heavy_hitters(toks, "tok", phi=0.001).withColumnRenamed(
        "item", "tok")


@query
def q_sparse_sim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sparse TF-IDF cosine all-pairs similarity join
    (operators/sparse_sim.py): bigram inverted index, co-blocked by
    (lang, source), global smoothed idf — the weighted-cosine
    complement of MinHash set similarity."""
    from datapump_spark.operators.sparse_sim import sparse_cosine_pairs

    return sparse_cosine_pairs(
        _t(spark, sf_dir, "documents"),
        block_cols=["lang", "source"], threshold=0.2)


@query
def q_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC changelog apply (operators/cdc.py): events as an upsert/
    delete feed keyed by user (error = tombstone), collapsed to current
    state with one sortless max_by aggregate."""
    from datapump_spark.operators.cdc import apply_changes

    ev = _t(spark, sf_dir, "events")
    changes = ev.select(
        "user_id", "ts", "event_id", "value", "event_type",
        F.when(F.col("event_type") == "error", F.lit("D"))
        .otherwise(F.lit("U")).alias("op"),
    )
    return apply_changes(
        changes, keys=["user_id"], seq_cols=["ts", "event_id"],
        payload_cols=["value", "event_type"])


@query
def q_leakage_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe train/val/test split (operators/splits.py): split
    assignment hashed on the near-dup CLUSTER id, so paraphrase pairs
    can never straddle train/test (Lee et al. 2021). Scan-speed on top
    of the clustering, which it computes itself (see _clusters)."""
    from datapump_spark.operators.splits import leakage_safe_split

    return leakage_safe_split(_clusters(spark, sf_dir))


@query
def q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sample without replacement, Efraimidis-Spirakis
    (operators/sampling.py): 100 docs drawn ∝ n_chars via deterministic
    exponential keys — TakeOrderedAndProject, no global sort."""
    from datapump_spark.operators.sampling import weighted_sample_k

    docs = _t(spark, sf_dir, "documents")
    return weighted_sample_k(docs, "doc_id", "n_chars", 100).select(
        "doc_id", "source", "n_chars")


@query
def q_quality_binned_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum mix: per-source quality quartiles kept at rates
    [0.1, 0.3, 0.6, 1.0] — worst decimated, best kept whole
    (operators/sampling.py quality_binned_mix; deterministic
    hash-Bernoulli keep, exact percent_rank bins)."""
    from datapump_spark.operators.sampling import quality_binned_mix
    from datapump_spark.operators.text import quality_score

    docs = _t(spark, sf_dir, "documents")
    scored = quality_score(docs).join(
        docs.select("doc_id", "source"), "doc_id")
    return quality_binned_mix(
        scored, "quality", rates=[0.1, 0.3, 0.6, 1.0], by="source",
    ).select("doc_id", "source", "quality", "bin")


@query
def q_score_pctrank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source percentile rank of the quality score — calibrates
    scores ACROSS sources so one threshold means the same thing
    everywhere (cross-source curation). percent_rank is the exact
    rational (rank−1)/(n−1) with doc_id tie-break: fully deterministic,
    one window per source partition."""
    from datapump_spark.operators.text import quality_score

    docs = _t(spark, sf_dir, "documents")
    scored = quality_score(docs).join(
        docs.select("doc_id", "source"), "doc_id")
    w = Window.partitionBy("source").orderBy(
        F.col("quality").asc(), F.col("doc_id").asc())
    return scored.select(
        "doc_id", "source", "quality",
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"))


@query
def q_rolling_active(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-day distinct active users per observed day
    (operators/events_analytics.py): exact windowed count-distinct via
    contribution explode — no self-join, raw table scanned once."""
    from datapump_spark.operators.events_analytics import rolling_active

    return rolling_active(_t(spark, sf_dir, "events"), "ts", "user_id", 7)


def _doc_urls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic synthetic URLs over documents (the testdata carries no
    URL column): four variants per doc_id % 4 exercising www/port/tracking-
    param/fragment/trailing-slash noise. Built with plain concat so the
    DuckDB oracle synthesizes the identical strings, then canonicalizes
    them with an INDEPENDENT regex formulation."""
    d = _t(spark, sf_dir, "documents").select("doc_id", "lang", "source")
    i = F.col("doc_id") % 4
    sid = F.col("doc_id").cast("string")
    url = (
        F.when(i == 0, F.concat(
            F.lit("https://WWW."), F.col("source"),
            F.lit(".example.com:443/"), F.col("lang"), F.lit("/page/"), sid,
            F.lit("/?utm_source=feed&ref="), F.col("lang"), F.lit("#top")))
        .when(i == 1, F.concat(
            F.lit("http://"), F.col("source"), F.lit(".example.com:80/a/"),
            sid))
        .when(i == 2, F.concat(
            F.lit("https://"), F.col("source"), F.lit(".news.example.co/p"),
            sid, F.lit("?id="), sid, F.lit("&utm_campaign=x")))
        .otherwise(F.concat(
            F.lit("https://cdn."), F.col("source"), F.lit(".example.com/")))
    )
    return d.select("doc_id", url.alias("url"))


@query
def q_url_canon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization + host/registered-domain extraction
    (operators/urls.py): tracking params, fragments, default ports, www
    prefixes, and trailing slashes all normalize away. The Spark side uses
    parse_url (JVM java.net.URI semantics); the oracle re-derives every
    column with DuckDB regexes — an independent formulation, so agreement
    is evidence, not tautology."""
    from datapump_spark.operators.urls import with_url_parts
    return with_url_parts(_doc_urls(spark, sf_dir))


@query
def q_domain_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain raw vs canonical-distinct URL volume (operators/urls.py
    domain_volume) — the table per-domain caps and crawl budgets read;
    the n_urls/n_canon_urls gap measures tracking-parameter noise."""
    from datapump_spark.operators.urls import domain_volume
    return domain_volume(_doc_urls(spark, sf_dir))


@query
def q_blocklist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wordlist-gate stats (operators/urls.py blocklist_hit_stats): per-doc
    blocklisted-token count and fraction — the C4-style adult/spam filter
    shape, with the threshold left to the caller's WHERE."""
    from datapump_spark.operators.urls import blocklist_hit_stats
    return blocklist_hit_stats(
        _t(spark, sf_dir, "documents"), words=["slow", "dup", "spam"])


@query
def q_warc_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WARC exact scan (sources/warc.py read_warc): Content-Length-framed
    record inventory with payload digests — the Common Crawl ingest edge.
    Oracle re-parses the same bytes independently in DuckDB."""
    from datapump_spark.sources.warc import read_warc

    return read_warc(spark, WARC_GLOB).select(
        "target_uri", "warc_type", "record_id", "warc_date",
        "content_type", "content_length",
        F.sha2(F.col("payload"), 256).alias("payload_sha"))


@query
def q_wet_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WET text extraction on the splittable zero-Python fast path
    (sources/warc.py read_wet): record split at scan via lineSep, codegen
    header extraction, byte-exact Content-Length payload slice."""
    from datapump_spark.sources.warc import read_wet

    t = read_wet(spark, WARC_GLOB)
    return t.select("target_uri", "warc_date", "content_length",
                    F.length("text").alias("n_chars"), "text")


@query
def q_video_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL video frame extraction gate (operators/avi.py +
    operators/mp4video.py, round 9 — the path that cleared the
    package's single NotImplementedError). Each sampled document
    becomes 2-5 solid gray frames at 2 fps in a ROTATING container —
    doc_id//16 mod 4 picks MJPEG AVI / photo-JPEG MP4 / animated WebP
    (lossless VP8L frames) / INTER-coded VP8 WebM (r11,
    operators/vp8inter: key frame 0 + version-3 P-frames, so the gate
    drives motion compensation and the reference-buffer walk; solid
    qi=0 frames reconstruct bit-exactly through inter prediction just
    as they do intra, leaving the oracle unchanged) — so one hash gate
    witnesses the RIFF walk, the ISO-BMFF stsd/stts/stsc/stsz/stco
    sample-table walk, the ANMF canvas-composite walk, AND the EBML
    Cluster/SimpleBlock walk. sample_frames(fake=False) must
    dispatch on magic bytes, decode the frames, hold the frame on
    display at each 1-second tick and re-encode it as PNG. Solid gray
    at q95 reconstructs exactly (the q_jpeg_decode trick; VP8L is
    lossless outright), so the decoded frame mean IS the doc_id
    arithmetic the oracle recomputes."""
    import pandas as pd

    from datapump_spark.operators.multimodal import sample_frames

    # the id list is tiny (KBs) but each id becomes an expensive
    # Python build+decode: spread it across the executors BEFORE the
    # kernel or AQE coalesces the whole job onto one worker
    # stride 27 (odd, not a multiple of 4): frame counts alternate 2/3
    # so the tick walk exercises BOTH k=0 and k=1 (a multiple-of-4
    # stride pins nf=2, where only frame 0 ever displays), //16 %4
    # cycles all four containers, and the doc count keeps this — the
    # most expensive per-doc Python build+decode in the bench — from
    # dominating the headline (q_audio_tone's round-8 lesson).
    # 16 partitions, not defaultParallelism (r11): this query chains
    # THREE Python nodes, so 32 partitions demands ~96 workers and a
    # cold run pays ~90 fork+import costs for ~90 ms of task work —
    # at 16 the per-task work is still only ~350 ms (186 docs x
    # ~15 ms/doc measured per arm) and worker demand halves
    # (q_audio_tone's fewer-partitions lesson, PERF.md)
    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") % 27 == 0) \
        .select(F.col("doc_id").alias("media_id")) \
        .repartition(16)

    def build(batches):
        import numpy as np

        from datapump_spark.operators.avi import encode_avi_mjpeg
        from datapump_spark.operators.mp4video import encode_mp4_mjpeg
        from datapump_spark.operators.webm import encode_webm_vp8
        from datapump_spark.operators.webp import encode_webp_anim
        for pdf in batches:
            ids = pdf["media_id"]

            def video(doc_id: int) -> bytes:
                nf = 2 + doc_id % 2
                frames = [np.full((32, 48, 3),
                                  (doc_id * 7 + i * 50) % 200 + 20,
                                  np.uint8) for i in range(nf)]
                k = (doc_id // 16) % 4
                if k == 2:                       # 2 fps animation
                    return encode_webp_anim(frames, [500] * nf)
                if k == 3:                       # solid qi=0 is exact,
                    # intra AND inter (r11: P-frames + MC, search
                    # tiny since the content is co-located; every
                    # third inter MB is SPLITMV so per-4x4 motion is
                    # driver-witnessed too)
                    return encode_webm_vp8(frames, fps=2, qi=0,
                                           inter=True, search=2,
                                           split_every=3)
                enc = encode_avi_mjpeg if k == 0 else encode_mp4_mjpeg
                return enc(frames, fps=2, quality=95)

            yield pd.DataFrame({"media_id": ids, "payload": ids.map(video)})

    media = docs.mapInPandas(build, "media_id long, payload binary")
    frames = sample_frames(media, every_ms=1000, fake=False)

    def gray(batches):
        from datapump_spark.operators.codecs import decode_png
        for pdf in batches:
            yield pd.DataFrame({
                "media_id": pdf["media_id"],
                "frame_idx": pdf["frame_idx"],
                "frame_ts_ms": pdf["frame_ts_ms"],
                "width": pdf["width"],
                "height": pdf["height"],
                "gray": [float(decode_png(bytes(p))[..., :3].mean())
                         for p in pdf["frame_png"]],
            })

    return frames.mapInPandas(
        gray, "media_id long, frame_idx int, frame_ts_ms long, "
              "width int, height int, gray double")



@query
def q_vp8_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL lossy-WebP (VP8 key-frame) decode gate (operators/vp8.py,
    round 9): one solid-gray VP8 WebP per sampled document at qi=0 —
    the boolean decoder, header parse, token decode, dequant, inverse
    DCT/WHT, DC prediction, YUV reconstruction and the non-MB-multiple
    crop must together reproduce EXACTLY the doc-derived gray level
    and dimensions (the q_jpeg_decode trick: DC-only residuals whose
    quantization error is zero). doc_id varies the dims across
    MB-multiple and cropped shapes."""
    import pandas as pd

    from datapump_spark.operators.multimodal import extract_features

    # tiny id list, expensive per-id Python codec work: spread before
    # the kernel (see q_video_frames)
    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") % 8 == 0) \
        .select(F.col("doc_id").alias("media_id")) \
        .repartition(spark.sparkContext.defaultParallelism)

    def build(batches):
        import numpy as np

        from datapump_spark.operators.vp8 import encode_webp_vp8
        for pdf in batches:
            ids = pdf["media_id"]

            def webp(doc_id: int) -> bytes:
                v = 20 + (doc_id * 7) % 200
                w = 16 + (doc_id // 8) % 4 * 12
                h = 16 + (doc_id // 16) % 3 * 10
                return encode_webp_vp8(
                    np.full((h, w, 3), v, np.uint8), qi=0)

            yield pd.DataFrame({"media_id": ids, "payload": ids.map(webp)})

    media = docs.mapInPandas(build, "media_id long, payload binary")
    feats = extract_features(media, fake=False)
    f = F.col("features")
    return feats.select(
        "media_id",
        f[0].cast("long").alias("width"),
        f[1].cast("long").alias("height"),
        f[2].cast("long").alias("channels"),
        F.round(f[3], 6).alias("mean_px"),
    )



@query
def q_doc_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL document text-extraction gate (operators/docx.py +
    operators/rtf.py + operators/doc.py, round 9; rotation widened
    r11). Each sampled document's printable-ASCII projection — with
    '.' translated to newlines so multi-paragraph splitting is
    witnessed — is written into a genuine document and extracted back
    through the MIXED dispatcher. (doc_id // 7) %% 4 rotates the
    writer: DOCX (OOXML w: ns), ODT (OpenDocument text: ns with
    text:s runs), RTF (control words + escapes + skipped
    destinations), and legacy Word 97 .doc (CFB mini streams + CLX
    piece table) — one DRIVER hash gate witnessing four read paths.
    All four agree on the line-count paragraph semantics for the
    nonempty projections this sample produces (checked at every
    fixture scale). The oracle recomputes the projection in SQL;
    extraction must be EXACT to hash-match."""
    import pandas as pd

    from datapump_spark.operators.docx import document_text

    docs = (_t(spark, sf_dir, "documents").where(F.col("doc_id") % 7 == 0)
            .select(F.col("doc_id").alias("media_id"),
                    F.translate(
                        F.regexp_replace("text", r"[^ -~]", ""),
                        ".", "\n").alias("__t"))
            .repartition(spark.sparkContext.defaultParallelism))

    def build(batches):
        from datapump_spark.operators.doc import encode_doc
        from datapump_spark.operators.docx import encode_docx, encode_odt
        from datapump_spark.operators.rtf import encode_rtf
        writers = (encode_docx, encode_odt, encode_rtf, encode_doc)
        for pdf_b in batches:
            yield pd.DataFrame({
                "media_id": pdf_b["media_id"],
                "payload": [
                    writers[(mid // 7) % 4](t)
                    for mid, t in zip(pdf_b["media_id"], pdf_b["__t"])],
            })

    media = docs.mapInPandas(build, "media_id long, payload binary")
    return (document_text(media, on_error="raise")
            .select("media_id", "text",
                    F.col("n_chars").cast("long").alias("n_chars"),
                    F.col("n_units").cast("long")
                     .alias("n_paragraphs")))



@query
def q_epub_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL EPUB text-extraction gate (operators/docx.py, r11 —
    VERDICT r10 #7). Each sampled document's printable-ASCII
    projection ('.' -> newline, the q_doc_text trick) is written into
    a genuine EPUB — OCF zip with a STORED mimetype entry,
    container.xml -> OPF rootfile, manifest + spine, XHTML chapters
    of 3 lines each — and extracted back through the MIXED
    document_text dispatcher, witnessing container detection, spine
    ordering across multiple chapters, the per-chapter XHTML block
    walk and XML escaping. The oracle recomputes text and the
    ceil(lines/3) chapter count from SQL; extraction must be EXACT."""
    import pandas as pd

    from datapump_spark.operators.docx import document_text

    docs = (_t(spark, sf_dir, "documents").where(F.col("doc_id") % 11 == 0)
            .select(F.col("doc_id").alias("media_id"),
                    F.translate(
                        F.regexp_replace("text", r"[^ -~]", ""),
                        ".", "\n").alias("__t"))
            .repartition(16))

    def build(batches):
        from datapump_spark.operators.docx import encode_epub
        for pdf_b in batches:
            yield pd.DataFrame({
                "media_id": pdf_b["media_id"],
                "payload": [encode_epub(t) for t in pdf_b["__t"]],
            })

    media = docs.mapInPandas(build, "media_id long, payload binary")
    return (document_text(media, on_error="raise")
            .select("media_id", "text",
                    F.col("n_chars").cast("long").alias("n_chars"),
                    F.col("n_units").cast("long").alias("n_chapters"),
                    "kind"))



@query
def q_rtf_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL RTF text-extraction gate (operators/rtf.py, r11 — the
    legacy rich-text third of VERDICT r10 missing #5). The printable-
    ASCII projection ('.' -> newline) is written into a genuine RTF
    document — header, fonttbl/colortbl destinations the reader must
    skip, escapes, \\par paragraphs — and extracted back through the
    mixed document_text dispatcher (kind='rtf'). The oracle recomputes
    text and the line count in SQL; extraction must be EXACT."""
    import pandas as pd

    from datapump_spark.operators.docx import document_text

    docs = (_t(spark, sf_dir, "documents").where(F.col("doc_id") % 13 == 0)
            .select(F.col("doc_id").alias("media_id"),
                    F.translate(
                        F.regexp_replace("text", r"[^ -~]", ""),
                        ".", "\n").alias("__t"))
            .repartition(16))

    def build(batches):
        from datapump_spark.operators.rtf import encode_rtf
        for pdf_b in batches:
            yield pd.DataFrame({
                "media_id": pdf_b["media_id"],
                "payload": [encode_rtf(t) for t in pdf_b["__t"]],
            })

    media = docs.mapInPandas(build, "media_id long, payload binary")
    return (document_text(media, on_error="raise")
            .select("media_id", "text",
                    F.col("n_chars").cast("long").alias("n_chars"),
                    F.col("n_units").cast("long").alias("n_paragraphs"),
                    "kind"))



@query
def q_pptx_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL PPTX text-extraction gate (operators/docx.py, r11 — the
    slide third of VERDICT r10 missing #5). The ASCII projection is
    grouped 3 lines per slide into a genuine presentationml package —
    [Content_Types], root rels, presentation.xml sldIdLst resolved
    through presentation.xml.rels, a:p runs per slide — and extracted
    back through the mixed dispatcher (kind='pptx'), witnessing the
    relationship-ordered slide walk. The oracle recomputes text and
    the ceil(lines/3) slide count in SQL."""
    import pandas as pd

    from datapump_spark.operators.docx import document_text

    docs = (_t(spark, sf_dir, "documents").where(F.col("doc_id") % 17 == 0)
            .select(F.col("doc_id").alias("media_id"),
                    F.translate(
                        F.regexp_replace("text", r"[^ -~]", ""),
                        ".", "\n").alias("__t"))
            .repartition(16))

    def build(batches):
        from datapump_spark.operators.docx import encode_pptx
        for pdf_b in batches:
            yield pd.DataFrame({
                "media_id": pdf_b["media_id"],
                "payload": [encode_pptx(t) for t in pdf_b["__t"]],
            })

    media = docs.mapInPandas(build, "media_id long, payload binary")
    return (document_text(media, on_error="raise")
            .select("media_id", "text",
                    F.col("n_chars").cast("long").alias("n_chars"),
                    F.col("n_units").cast("long").alias("n_slides"),
                    "kind"))



@query
def q_word_doc_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL legacy .doc text-extraction gate (operators/doc.py +
    operators/cfb.py, r11 — the binary Word format was previously a
    'legacy_doc' quarantine). The ASCII projection is written into a
    genuine Word 97 compound file — CFB mini stream for the 1Table,
    FIB, a CLX piece table splitting the text into TWO pieces — and
    extracted back through the mixed dispatcher (kind='doc'). The
    oracle recomputes text and line count in SQL."""
    import pandas as pd

    from datapump_spark.operators.docx import document_text

    docs = (_t(spark, sf_dir, "documents").where(F.col("doc_id") % 19 == 0)
            .select(F.col("doc_id").alias("media_id"),
                    F.translate(
                        F.regexp_replace("text", r"[^ -~]", ""),
                        ".", "\n").alias("__t"))
            .repartition(16))

    def build(batches):
        from datapump_spark.operators.doc import encode_doc
        for pdf_b in batches:
            yield pd.DataFrame({
                "media_id": pdf_b["media_id"],
                "payload": [encode_doc(t) for t in pdf_b["__t"]],
            })

    media = docs.mapInPandas(build, "media_id long, payload binary")
    return (document_text(media, on_error="raise")
            .select("media_id", "text",
                    F.col("n_chars").cast("long").alias("n_chars"),
                    F.col("n_units").cast("long").alias("n_paragraphs"),
                    "kind"))



def scaled_events_xls(sf_dir: str, n_rows: int = 20000,
                      n_shards: int = 8) -> str:
    """Materialize (once, atomically) the first ``n_rows`` events as
    ``n_shards`` legacy BIFF8 .xls workbooks (row i -> shard i %%
    n_shards) — the binary twin of scaled_events_xlsx, over the CFB
    writer's REAL mini-stream layout."""
    import os
    import shutil

    out_dir = (REPO_ROOT / ".csvcache" / Path(sf_dir).name
               / f"events_xls_{n_rows}x{n_shards}v2")
    if not out_dir.exists():
        import duckdb

        from datapump_spark.sources.xls import encode_xls
        rows = duckdb.sql(
            f"""SELECT event_id,
                       strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts,
                       user_id, event_type, round(value, 6) AS value
                FROM '{sf_dir}/events.parquet'
                ORDER BY event_id LIMIT {n_rows}""").fetchall()
        hdr = ["event_id", "ts", "user_id", "event_type", "value"]
        tmp = out_dir.parent / f".events_xls.{os.getpid()}.tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        tmp.mkdir(parents=True)
        for s in range(n_shards):
            b = encode_xls([hdr] + [[str(c) for c in r]
                                    for r in rows[s::n_shards]])
            (tmp / f"events_{s:02d}.xls").write_bytes(b)
        try:
            tmp.rename(out_dir)
        except OSError:
            shutil.rmtree(tmp, ignore_errors=True)
    return str(out_dir / "events_*.xls")


@query
def q_xls_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Legacy BIFF8 .xls ingestion gate (sources/xls.py, r11): CFB
    container walk, SST shared strings, LABELSST cells — the same
    all-string contract and the same events slice as q_xlsx_scan, so
    the binary record walk must be EXACT to hash-match."""
    from datapump_spark.sources.xls import read_xls

    raw = read_xls(spark, scaled_events_xls(sf_dir))
    return raw.select(
        F.col("event_id").cast("long").alias("event_id"),
        F.col("ts"),
        F.col("user_id").cast("long").alias("user_id"),
        F.col("event_type"),
        F.col("value").cast("double").alias("value"),
    )



@query
def q_audio_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio tag-extraction gate (operators/audiometa.py, r11 —
    the audio sibling of q_exif): each sampled document becomes a
    tagged audio payload in a FOUR-way rotation (doc_id//21 mod 4):
    ID3v2.3-tagged MP3 (UTF-16 text frames), ID3v2.4 (UTF-8,
    syncsafe frame sizes), FLAC with a spliced VORBIS_COMMENT block,
    and Ogg Vorbis with real comment-header items. Tags are pure
    doc_id arithmetic, so the oracle recomputes every field in SQL
    while the kernel walks four different binary tag layouts."""
    import pandas as pd

    from datapump_spark.operators.audiometa import extract_audio_tags

    docs = (_t(spark, sf_dir, "documents").where(F.col("doc_id") % 21 == 0)
            .select(F.col("doc_id").alias("media_id"))
            .repartition(16))

    def build(batches):
        import numpy as np

        from datapump_spark.operators.audiometa import (add_flac_comments,
                                                        encode_id3v2)

        @lru_cache(maxsize=1)
        def mp3_base() -> bytes:
            from datapump_spark.operators.mp3 import encode_mp3
            return encode_mp3(np.zeros(600), 32000)

        @lru_cache(maxsize=1)
        def flac_base() -> bytes:
            from datapump_spark.operators.flac import encode_flac
            return encode_flac(np.zeros(600, np.int16), 8000)

        for pdf_b in batches:
            ids = pdf_b["media_id"]

            def payload(doc_id: int) -> bytes:
                tags = {"title": f"Title {doc_id % 100}",
                        "artist": f"Artist {doc_id % 9}",
                        "album": f"Album {doc_id % 5}",
                        "date": str(2000 + doc_id % 25),
                        "track": str(1 + doc_id % 12),
                        "genre": f"genre{doc_id % 4}"}
                arm = (doc_id // 21) % 4
                if arm == 0:
                    return encode_id3v2(tags, version=3) + mp3_base()
                if arm == 1:
                    return encode_id3v2(tags, version=4) + mp3_base()
                if arm == 2:
                    return add_flac_comments(flac_base(), tags)
                from datapump_spark.operators.vorbis import encode_vorbis
                return encode_vorbis(np.zeros(2048), 8000,
                                     comments=tags)

            yield pd.DataFrame({"media_id": ids,
                                "payload": ids.map(payload)})

    media = docs.mapInPandas(build, "media_id long, payload binary")
    return (extract_audio_tags(media, on_error="raise")
            .select("media_id", "format", "title", "artist", "album",
                    "date", "track", "genre"))



@query
def q_ppt_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Legacy binary PowerPoint text gate (operators/doc.py, r11 —
    completes the OLE2 trio): the ASCII projection becomes a real
    .ppt record tree (Document container + one TextBytesAtom per
    line) and comes back through the mixed dispatcher (kind='ppt');
    text and atom count are SQL-recomputable."""
    import pandas as pd

    from datapump_spark.operators.docx import document_text

    docs = (_t(spark, sf_dir, "documents").where(F.col("doc_id") % 23 == 0)
            .select(F.col("doc_id").alias("media_id"),
                    F.translate(
                        F.regexp_replace("text", r"[^ -~]", ""),
                        ".", "\n").alias("__t"))
            .repartition(16))

    def build(batches):
        from datapump_spark.operators.doc import encode_ppt
        for pdf_b in batches:
            yield pd.DataFrame({
                "media_id": pdf_b["media_id"],
                "payload": [encode_ppt(t) for t in pdf_b["__t"]],
            })

    media = docs.mapInPandas(build, "media_id long, payload binary")
    return (document_text(media, on_error="raise")
            .select("media_id", "text",
                    F.col("n_chars").cast("long").alias("n_chars"),
                    F.col("n_units").cast("long").alias("n_atoms"),
                    "kind"))



@query
def q_tiff_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL baseline-TIFF decode gate (operators/tiff.py, round 9).
    Each sampled document becomes a solid-color TIFF whose compression
    rotates through none / LZW / Deflate / PackBits /
    predictor-2+Deflate and whose byte order alternates II/MM — the
    decoder must walk the IFD, reassemble strips, undo the filter and
    reproduce EXACTLY the doc-derived pixel value and dims (TIFF is
    lossless, so mean_px IS the doc_id arithmetic)."""
    import pandas as pd

    from datapump_spark.operators.multimodal import extract_features

    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") % 8 == 4) \
        .select(F.col("doc_id").alias("media_id")) \
        .repartition(spark.sparkContext.defaultParallelism)

    def build(batches):
        import numpy as np

        from datapump_spark.operators.tiff import encode_tiff
        comps = [("none", False), ("lzw", False), ("deflate", False),
                 ("packbits", False), ("deflate", True)]
        for pdf_b in batches:
            ids = pdf_b["media_id"]

            def tif(doc_id: int) -> bytes:
                v = 20 + (doc_id * 7) % 200
                w = 16 + (doc_id // 8) % 4 * 12
                h = 16 + (doc_id // 16) % 3 * 10
                comp, pred = comps[(doc_id // 8) % 5]
                return encode_tiff(
                    np.full((h, w, 3), v, np.uint8), comp,
                    big_endian=bool((doc_id // 4) % 2), predictor=pred)

            yield pd.DataFrame({"media_id": ids, "payload": ids.map(tif)})

    media = docs.mapInPandas(build, "media_id long, payload binary")
    feats = extract_features(media, fake=False)
    f = F.col("features")
    return feats.select(
        "media_id",
        f[0].cast("long").alias("width"),
        f[1].cast("long").alias("height"),
        f[2].cast("long").alias("channels"),
        F.round(f[3], 6).alias("mean_px"),
    )



def scaled_events_xlsx(sf_dir: str, n_rows: int = 20000,
                       n_shards: int = 8) -> str:
    """Materialize (once, atomically) the first ``n_rows`` events as
    ``n_shards`` XLSX workbooks (row i -> shard i %% n_shards) — the
    Excel twin of scaled_events_csv (SURVEY S8 made real, r9).
    Sharded in r11 (VERDICT r10 #1): one workbook = ONE binaryFile
    task, so the whole 20 k-row ElementTree parse rode a single
    Python worker and its bench cost swung 2.9-6.9 s with
    worker/box state; eight files make parallelism = file count
    (the real-corpus shape — production xlsx trees are many-file)
    and cut the gate's serial exposure 8x. Driver-side DuckDB + the
    pure-stdlib writer; a one-time fixture build, not plan cost."""
    import os
    import shutil

    out_dir = (REPO_ROOT / ".csvcache" / Path(sf_dir).name
               / f"events_xlsx_{n_rows}x{n_shards}")
    if not out_dir.exists():
        import duckdb

        from datapump_spark.sources.xlsx import encode_xlsx
        rows = duckdb.sql(
            f"""SELECT event_id,
                       strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts,
                       user_id, event_type, round(value, 6) AS value
                FROM '{sf_dir}/events.parquet'
                ORDER BY event_id LIMIT {n_rows}""").fetchall()
        hdr = ["event_id", "ts", "user_id", "event_type", "value"]
        tmp = out_dir.parent / f".events_xlsx.{os.getpid()}.tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        tmp.mkdir(parents=True)
        for s in range(n_shards):
            b = encode_xlsx([hdr] + [list(r) for r in rows[s::n_shards]])
            (tmp / f"events_{s:02d}.xlsx").write_bytes(b)
        try:
            tmp.rename(out_dir)
        except OSError:
            shutil.rmtree(tmp, ignore_errors=True)  # concurrent build won
    return str(out_dir / "events_*.xlsx")


@query
def q_xlsx_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY S8 made real (round 9): typed ingestion of an XLSX
    workbook — ZIP + SpreadsheetML parse (shared strings, numbers) via
    the stdlib reader in sources/xlsx.py, all-string contract like the
    raw CSV scan, then the same native casts. The oracle recomputes
    the identical slice from the events parquet, so the cell walk must
    be EXACT."""
    from datapump_spark.sources.xlsx import read_xlsx

    raw = read_xlsx(spark, scaled_events_xlsx(sf_dir))
    return raw.select(
        F.col("event_id").cast("long").alias("event_id"),
        F.col("ts"),
        F.col("user_id").cast("long").alias("user_id"),
        F.col("event_type"),
        F.col("value").cast("double").alias("value"),
    )



@query
def q_subtitle_cues(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Codegen SRT/WebVTT cue parsing gate (operators/subtitles.py,
    round 9). Each sampled document becomes a genuine subtitle file —
    SRT (counters, comma millis) for even doc_id//9, WebVTT (header
    block, dot millis, cue settings) for odd — whose cue timings and
    multi-line bodies are pure doc_id arithmetic; the zero-Python
    parser must split blocks, decode the timing arrow and reassemble
    cue text EXACTLY as the oracle recomputes them."""
    import pandas as pd

    from datapump_spark.operators.subtitles import parse_subtitles

    docs = (_t(spark, sf_dir, "documents").where(F.col("doc_id") % 9 == 0)
            .select("doc_id"))

    def build(batches):
        from datapump_spark.operators.subtitles import format_srt, format_vtt
        for pdf_b in batches:
            ids = pdf_b["doc_id"]

            def sub(doc_id: int) -> str:
                cues = []
                for i in range(2 + doc_id % 3):
                    start = (doc_id % 1000) * 40 + i * 1500
                    text = f"line one {doc_id} {i}"
                    if i % 2 == 1:
                        text += f"\nsecond {i}"
                    cues.append((start, start + 900 + i * 100, text))
                fmt = format_srt if (doc_id // 9) % 2 == 0 else format_vtt
                return fmt(cues)

            yield pd.DataFrame({"doc_id": ids, "text": ids.map(sub)})

    subs = docs.mapInPandas(build, "doc_id long, text string")
    out = parse_subtitles(subs)
    return out.select("doc_id",
                      F.col("cue_idx").cast("long").alias("cue_idx"),
                      "start_ms", "end_ms", "cue_text")



def scaled_events_ods(sf_dir: str, n_rows: int = 20000,
                      n_shards: int = 8) -> str:
    """Materialize (once, atomically) the first ``n_rows`` events as
    ``n_shards`` OpenDocument .ods spreadsheets (row i -> shard i %%
    n_shards) — the ODF sibling of scaled_events_xls (r12)."""
    import os
    import shutil

    out_dir = (REPO_ROOT / ".csvcache" / Path(sf_dir).name
               / f"events_ods_{n_rows}x{n_shards}")
    if not out_dir.exists():
        import duckdb

        from datapump_spark.sources.ods import encode_ods
        rows = duckdb.sql(
            f"""SELECT event_id,
                       strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts,
                       user_id, event_type, round(value, 6) AS value
                FROM '{sf_dir}/events.parquet'
                ORDER BY event_id LIMIT {n_rows}""").fetchall()
        hdr = ["event_id", "ts", "user_id", "event_type", "value"]
        tmp = out_dir.parent / f".events_ods.{os.getpid()}.tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        tmp.mkdir(parents=True)
        for sh in range(n_shards):
            b = encode_ods([hdr] + [[str(c) for c in r]
                                    for r in rows[sh::n_shards]])
            (tmp / f"events_{sh:02d}.ods").write_bytes(b)
        try:
            tmp.rename(out_dir)
        except OSError:
            shutil.rmtree(tmp, ignore_errors=True)
    return str(out_dir / "events_*.ods")


@query
def q_ods_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OpenDocument .ods ingestion gate (sources/ods.py, r12 — the
    third spreadsheet family member): content.xml table walk with the
    ODF repeat-compaction attributes, same all-string contract and
    the same events slice as q_xlsx_scan/q_xls_scan, so the XML walk
    must be EXACT to hash-match."""
    from datapump_spark.sources.ods import read_ods

    raw = read_ods(spark, scaled_events_ods(sf_dir))
    return raw.select(
        F.col("event_id").cast("long").alias("event_id"),
        F.col("ts"),
        F.col("user_id").cast("long").alias("user_id"),
        F.col("event_type"),
        F.col("value").cast("double").alias("value"),
    )



@query
def q_ass_cues(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Codegen ASS/SSA cue parsing gate (operators/subtitles.py, r12
    — the third subtitle wire format): each sampled document becomes
    a SubStation script — ASS v4.00+ for even doc_id//11, legacy SSA
    v4.00 (Marked=0 first field) for odd — with centisecond stamps,
    comma-bearing text riding the limit-10 split, \\N multi-line
    bodies, and a Comment: line the parser must drop. Timings and
    text are pure doc_id arithmetic for the oracle."""
    import pandas as pd

    from datapump_spark.operators.subtitles import parse_ass

    docs = (_t(spark, sf_dir, "documents")
            .where(F.col("doc_id") % 11 == 0).select("doc_id"))

    def build(batches):
        from datapump_spark.operators.subtitles import format_ass
        for pdf_b in batches:
            ids = pdf_b["doc_id"]

            def sub(doc_id: int) -> str:
                cues = []
                for i in range(2 + doc_id % 3):
                    start = (doc_id % 1000) * 40 + i * 1500
                    text = f"styled,{doc_id} {i}"
                    if i % 2 == 1:
                        text += f"\nagain {i}"
                    cues.append((start, start + 900 + i * 100, text))
                return format_ass(cues, ssa=(doc_id // 11) % 2 == 1)

            yield pd.DataFrame({"doc_id": ids, "text": ids.map(sub)})

    subs = docs.mapInPandas(build, "doc_id long, text string")
    out = parse_ass(subs)
    return out.select("doc_id",
                      F.col("cue_idx").cast("long").alias("cue_idx"),
                      "start_ms", "end_ms", "cue_text")



@query
def q_opus_tone(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ogg Opus audio gate (operators/opus.py, r12 — SILK-NB mono per
    the stand-in doctrine, twin-marked): each sampled document becomes
    a 0.5 s Opus tone at one of 8 doc-derived frequencies; the range
    decode -> shell excitation -> LSF/LPC synthesis -> Hann/rfft/argmax
    path must land EXACTLY on the tone bin (2 Hz bins over 4000
    samples; every grid frequency is even, and the twin's worst-case
    ~9 dB quantizer floor is tens of dB below a bin-aligned tone)."""
    import pandas as pd

    from datapump_spark.operators.audiofeat import audio_spectral_features

    # partition by a 16-value key that refines the 8-value frequency
    # key (equal key ⇒ equal frequency): each task pays at most one
    # Opus encode (guide §4.5) while decode parallelism stays ~16
    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") % 64 == 0) \
        .select(F.col("doc_id").alias("media_id"),
                (F.floor(F.col("doc_id") / 64) % 16).alias("__k")) \
        .repartition(16, "__k") \
        .select("media_id")

    def build(batches):
        for pdf in batches:
            ids = pdf["media_id"]

            def payload(doc_id: int) -> bytes:
                return _opus_tone_payload(200 + ((doc_id // 64) % 8) * 100)

            yield pd.DataFrame({"media_id": ids,
                                "payload": ids.map(payload)})

    media = docs.mapInPandas(build, "media_id long, payload binary")
    feats = audio_spectral_features(media, on_error="raise")
    return feats.select(
        "media_id", "n_frames", "sample_rate",
        F.round("dominant_hz", 0).cast("long").alias("dominant_hz"))



def scaled_events_avro(sf_dir: str, n_rows: int = 20000) -> str:
    """Materialize (once) the first ``n_rows`` events as FOUR Avro
    container files — quarters in codec null, deflate, snappy (r10)
    and zstd (r11) — so one scan witnesses every block decoder."""
    import os
    import shutil

    out_dir = (REPO_ROOT / ".csvcache" / Path(sf_dir).name
               / f"events_avro4_{n_rows}")
    if not out_dir.exists():
        import duckdb

        from datapump_spark.sources.avro import encode_avro
        rows = duckdb.sql(
            f"""SELECT event_id,
                       strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts,
                       user_id, event_type, round(value, 6) AS value
                FROM '{sf_dir}/events.parquet'
                ORDER BY event_id LIMIT {n_rows}""").fetchall()
        schema = {"type": "record", "name": "Event", "fields": [
            {"name": "event_id", "type": "long"},
            {"name": "ts", "type": "string"},
            {"name": "user_id", "type": "long"},
            {"name": "event_type", "type": ["null", "string"]},
            {"name": "value", "type": "double"},
        ]}
        recs = [dict(zip(("event_id", "ts", "user_id", "event_type",
                          "value"), r)) for r in rows]
        quarter = len(recs) // 4
        tmp = out_dir.parent / f".events_avro.{os.getpid()}.tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        tmp.mkdir(parents=True)
        for k, codec in enumerate(("null", "deflate", "snappy", "zstd")):
            hi = (k + 1) * quarter if k < 3 else len(recs)
            (tmp / f"part{k}.avro").write_bytes(
                encode_avro(schema, recs[k * quarter:hi], codec=codec))
        try:
            tmp.rename(out_dir)
        except OSError:
            shutil.rmtree(tmp, ignore_errors=True)
    return str(out_dir)


@query
def q_avro_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Avro object-container read gate (sources/avro.py, round 9):
    container magic + metadata map, zigzag varints, sync-framed
    blocks, null, deflate, snappy AND zstd codecs (the fixture splits
    the slice across all four; snappy and zstd decode through pyarrow's
    bundled libsnappy / libzstd), nullable-union fields — decoded records must
    reproduce EXACTLY the events slice the oracle re-selects. Native
    types ride through (no string coercion), unlike the XLSX twin."""
    from datapump_spark.sources.avro import read_avro

    return read_avro(spark, scaled_events_avro(sf_dir)).select(
        "event_id", "ts", "user_id", "event_type",
        F.round("value", 6).alias("value"))



def scaled_events_jsonl(sf_dir: str, n_rows: int = 21000) -> str:
    """Materialize (once) the first ``n_rows`` events as EIGHT JSONL
    part-files — eighths in plain text, gzip, bz2, xz, lzma-alone
    (stdlib reference compressors) and zstd, LZ4 frame, brotli
    (pyarrow's bundled reference codecs, which also decode them) — so
    one scan witnesses the whole compressed-corpus dispatch
    (sources/jsonl.py:decompress_auto)."""
    import json
    import os
    import shutil

    out_dir = (REPO_ROOT / ".csvcache" / Path(sf_dir).name
               / f"events_jsonl8_{n_rows}")
    if not out_dir.exists():
        import bz2
        import gzip
        import lzma

        import duckdb
        import pyarrow as pa

        rows = duckdb.sql(
            f"""SELECT event_id,
                       strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts,
                       user_id, event_type, round(value, 6) AS value
                FROM '{sf_dir}/events.parquet'
                ORDER BY event_id LIMIT {n_rows}""").fetchall()
        lines = [json.dumps(dict(zip(
            ("event_id", "ts", "user_id", "event_type", "value"), r)),
            separators=(",", ":")) for r in rows]
        codecs = (
            ("jsonl", lambda b: b),
            ("jsonl.gz", lambda b: gzip.compress(b, mtime=0)),
            ("jsonl.bz2", bz2.compress),
            ("jsonl.xz", lzma.compress),
            ("jsonl.lzma", lambda b: lzma.compress(
                b, format=lzma.FORMAT_ALONE)),
            ("jsonl.zst", lambda b: pa.Codec("zstd").compress(
                b, asbytes=True)),
            ("jsonl.lz4", lambda b: pa.Codec("lz4").compress(
                b, asbytes=True)),
            ("jsonl.br", lambda b: pa.Codec("brotli").compress(
                b, asbytes=True)),
        )
        eighth = len(lines) // 8
        tmp = out_dir.parent / f".events_jsonl.{os.getpid()}.tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        tmp.mkdir(parents=True)
        for k, (ext, comp) in enumerate(codecs):
            hi = (k + 1) * eighth if k < 7 else len(lines)
            chunk = "\n".join(lines[k * eighth:hi]) + "\n"
            (tmp / f"part{k}.{ext}").write_bytes(comp(chunk.encode()))
        try:
            tmp.rename(out_dir)
        except OSError:
            shutil.rmtree(tmp, ignore_errors=True)
    return str(out_dir)


@query
def q_jsonl_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compressed-JSONL corpus read gate (sources/jsonl.py, round 12):
    per-file magic dispatch over plain / gzip / bz2 / xz / lzma-alone
    / zstd / LZ4 frame / brotli — zstd, lz4 and brotli compressed and
    decoded by pyarrow's bundled libzstd / liblz4 / libbrotli —
    Arrow-batched decode, then JVM-side from_json with an
    explicit schema (no inference pass). Decoded rows must reproduce
    EXACTLY the events slice the oracle re-selects."""
    from datapump_spark.sources.jsonl import read_jsonl_compressed

    return read_jsonl_compressed(
        spark, scaled_events_jsonl(sf_dir),
        "event_id long, ts string, user_id long, event_type string, "
        "value double")



def scaled_events_orc(spark: SparkSession, sf_dir: str,
                      n_rows: int = 22000) -> str:
    """Materialize (once) the first ``n_rows`` events as FIVE ORC
    files — fifths in none / zlib / snappy / zstd / lz4 — so one scan
    witnesses every ORC compression kind Spark ships. Unlike the
    Avro/XLSX twins this fixture is written BY Spark's own ORC sink
    (the engine's at-rest alternative to parquet), so the gate
    round-trips writer AND reader against the DuckDB re-select."""
    import os
    import shutil

    out_dir = (REPO_ROOT / ".csvcache" / Path(sf_dir).name
               / f"events_orc5_{n_rows}")
    if not out_dir.exists():
        base = (_t(spark, sf_dir, "events")
                .select("event_id",
                        F.date_format("ts", "yyyy-MM-dd HH:mm:ss")
                        .alias("ts"),
                        "user_id", "event_type",
                        F.round("value", 6).alias("value"))
                .orderBy("event_id").limit(n_rows)
                .withColumn("_rn", F.row_number().over(
                    Window.orderBy("event_id"))))
        base = base.cache()
        total = base.count()
        fifth = total // 5
        tmp = out_dir.parent / f".events_orc.{os.getpid()}.tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        tmp.mkdir(parents=True)
        for k, comp in enumerate(("none", "zlib", "snappy", "zstd",
                                  "lz4")):
            hi = (k + 1) * fifth if k < 4 else total
            (base.where((F.col("_rn") > k * fifth)
                        & (F.col("_rn") <= hi)).drop("_rn")
             .coalesce(1).write.option("compression", comp)
             .orc(str(tmp / f"w{k}")))
            src = next((tmp / f"w{k}").glob("part-*.orc"))
            src.rename(tmp / f"part{k}.orc")
            shutil.rmtree(tmp / f"w{k}")
        base.unpersist()
        try:
            tmp.rename(out_dir)
        except OSError:
            shutil.rmtree(tmp, ignore_errors=True)
    return str(out_dir)


@query
def q_orc_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC at-rest format gate (round 12): Spark-native columnar
    read over five compression kinds (none/zlib/snappy/zstd/lz4, one
    fixture fifth each — JVM-side decode, zero Python), written by
    Spark's own ORC sink from the events slice the oracle re-selects.
    Predicate pushdown and column pruning work on ORC exactly as on
    parquet, so the 100 TB story carries over unchanged."""
    return spark.read.orc(scaled_events_orc(spark, sf_dir))



def scaled_events_7z(sf_dir: str, n_rows: int = 23000) -> str:
    """Materialize (once) the first ``n_rows`` events as THREE 7z
    archives — thirds compressed lzma1 / lzma2 / zstd, each holding
    two JSONL members — authored by libarchive (``bsdtar --format
    7zip``) when present, i.e. FOREIGN reference bytes for the
    pure-Python 7z container walk (sources/sevenzip.py). Without
    bsdtar (the r12 optimization sandbox dropped it) the writer twin
    ``write_7z`` authors the container; its codec streams are still
    real liblzma/libzstd bytes, so only the container framing is
    self-authored on that path (noted in sevenzip.py)."""
    import json
    import os
    import shutil
    import subprocess

    out_dir = (REPO_ROOT / ".csvcache" / Path(sf_dir).name
               / f"events_7z3_{n_rows}")
    if not out_dir.exists():
        bsdtar = shutil.which("bsdtar")
        import duckdb

        rows = duckdb.sql(
            f"""SELECT event_id,
                       strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts,
                       user_id, event_type, round(value, 6) AS value
                FROM '{sf_dir}/events.parquet'
                ORDER BY event_id LIMIT {n_rows}""").fetchall()
        lines = [json.dumps(dict(zip(
            ("event_id", "ts", "user_id", "event_type", "value"), r)),
            separators=(",", ":")) for r in rows]
        sixth = len(lines) // 6
        tmp = out_dir.parent / f".events_7z.{os.getpid()}.tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        tmp.mkdir(parents=True)
        for k, comp in enumerate(("lzma1", "lzma2", "zstd")):
            parts = []
            for j in range(2):
                m = 2 * k + j
                hi = (m + 1) * sixth if m < 5 else len(lines)
                parts.append(("\n".join(lines[m * sixth:hi]) + "\n")
                             .encode("utf-8"))
            if bsdtar is not None:
                src = tmp / f"src{k}"
                src.mkdir()
                for j, payload in enumerate(parts):
                    (src / f"part{j}.jsonl").write_bytes(payload)
                subprocess.run(
                    [bsdtar, "-cf", str(tmp / f"arch{k}.7z"), "--format",
                     "7zip", "--options", f"7zip:compression={comp}",
                     "-C", str(src), "part0.jsonl", "part1.jsonl"],
                    check=True,
                    env={**os.environ, "LANG": "C.UTF-8",
                         "LC_ALL": "C.UTF-8"})
                shutil.rmtree(src)
            else:
                from datapump_spark.sources.sevenzip import write_7z

                (tmp / f"arch{k}.7z").write_bytes(write_7z(
                    [(f"part{j}.jsonl", p) for j, p in enumerate(parts)],
                    compression=comp))
        try:
            tmp.rename(out_dir)
        except OSError:
            shutil.rmtree(tmp, ignore_errors=True)
    return str(out_dir)


@query
def q_7z_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """7z corpus read gate (sources/sevenzip.py, round 12): libarchive-
    authored archives (lzma1 / lzma2 / zstd folders — foreign bytes
    for the container walk AND the codec chain) explode through the
    Arrow archive kernel, then the member JSONL parses JVM-side
    (decode → split → from_json, zero per-row Python). Decoded rows
    must reproduce EXACTLY the events slice the oracle re-selects."""
    from datapump_spark.sources.archives import read_archive_members

    members = read_archive_members(
        spark, scaled_events_7z(sf_dir), member_glob="*.jsonl",
        on_error="raise")
    lines = members.select(F.explode(F.split(
        F.decode("member_bytes", "UTF-8"), "\n")).alias("value"))
    lines = lines.where(F.length(F.trim("value")) > 0)
    st = ("event_id long, ts string, user_id long, event_type string, "
          "value double")
    return lines.select(F.from_json("value", st).alias("_r")).select("_r.*")


# ---------------------------------------------------------------- derived views

ALL_QUERIES = dict(_REGISTRY)
QUERIES = {n: _REGISTRY[n] for n in DRIVER_GATED}
BENCH_VARIANTS = {n: _REGISTRY[n] for n in BENCH_VARIANTS_NAMES}
EXTRA_QUERIES = {n: fn for n, fn in _REGISTRY.items()
                 if n not in QUERIES and n not in BENCH_VARIANTS}
