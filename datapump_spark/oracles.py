"""DuckDB oracle SQL twins for :mod:`datapump_spark.queries`.

Each string is ANSI-ish SQL runnable by DuckDB with the testdata tables
pre-registered as views. Column aliases match the Spark queries exactly
(the driver sorts columns by name before value-hashing). Float policy
mirrors queries.py: decimal-exact sums, round(…,6) statistics.

Every twin goes into the one ``ORACLE_SQL`` dict, keyed by query name;
bench variants (no exact SQL twin) have none. This module knows nothing
about tiers: ``ORACLES`` (driver-gated, in ``queries.DRIVER_GATED``
order) and ``EXTRA_ORACLES`` are views derived at the end of the module
from the tiers declared in queries.py.
"""

from __future__ import annotations

from datapump_spark.queries import (DRIVER_GATED, EXTRA_QUERIES, IOT_GLOB,
                                    WARC_GLOB)
from datapump_spark.sources.csv_ingest import DUCKDB_DATE_FORMATS


def _dd_ts(col: str) -> str:
    tries = ", ".join(f"try_strptime({col}, '{f}')" for f in DUCKDB_DATE_FORMATS)
    return f"coalesce({tries})"


_IOT_CLEAN = f"""
  SELECT nullif(ltrim("DateTime"), '') AS dt,
         nullif(ltrim("Sensor_id"), '') AS "Sensor_id",
         nullif(ltrim("PM25"), '') AS "PM25",
         nullif(ltrim("PM10"), '') AS "PM10",
         nullif(ltrim("AQI"), '') AS "AQI",
         nullif(ltrim("LAT"), '') AS "LAT",
         nullif(ltrim("LONG"), '') AS "LONG",
         nullif(ltrim("Remarks"), '') AS "Remarks"
  FROM read_csv('{IOT_GLOB}', header=true, all_varchar=true)
"""

_DEC_SUM = "CAST(SUM(CAST({expr} AS DECIMAL(18,6))) AS DOUBLE)"


def _dec_sum(expr: str, alias: str) -> str:
    return _DEC_SUM.format(expr=expr) + f" AS {alias}"


ORACLE_SQL: dict[str, str] = {}

# Scaled ingestion oracles: the CSV the Spark side reads is a deterministic
# DuckDB serialization of the events view (queries.scaled_events_csv), so
# the oracle recomputes the expected typed result straight from events —
# seconds truncation mirrors the strftime second-precision round trip,
# round(value, 6) mirrors the generation-time rounding (shortest-roundtrip
# CSV floats parse back to the identical double on both engines).
from datapump_spark.queries import SCALED_TS_SQL  # noqa: E402

ORACLE_SQL["q_csv_scan"] = """
SELECT event_id, date_trunc('second', ts) AS "DateTime",
       user_id, event_type, round(value, 6) AS value
FROM events
"""

ORACLE_SQL["q_multiformat_ts"] = f"""
SELECT {SCALED_TS_SQL} AS raw_ts,
       date_trunc('second', ts) AS parsed_ts
FROM events
"""

ORACLE_SQL["q_type_infer"] = """
SELECT * FROM (VALUES
  ('event_id', 'int'),
  ('DateTime', 'timestamp'),
  ('user_id', 'int'),
  ('event_type', 'text'),
  ('value', 'float')
) AS t(col_name, ckan_type)
"""

ORACLE_SQL["q_iot_ingest"] = f"""
WITH clean AS ({_IOT_CLEAN})
SELECT {_dd_ts('dt')} AS "DateTime",
       "Sensor_id",
       CAST("PM25" AS DOUBLE) AS "PM25",
       CAST("PM10" AS DOUBLE) AS "PM10",
       CAST("AQI" AS BIGINT) AS "AQI",
       CAST("LAT" AS DOUBLE) AS "LAT",
       CAST("LONG" AS DOUBLE) AS "LONG",
       "Remarks"
FROM clean
"""

ORACLE_SQL["q_iot_multiformat_ts"] = f"""
WITH clean AS ({_IOT_CLEAN})
SELECT dt AS raw_ts, {_dd_ts('dt')} AS parsed_ts FROM clean
"""

ORACLE_SQL["q_iot_type_infer"] = """
SELECT * FROM (VALUES
  ('DateTime', 'timestamp'),
  ('Sensor_id', 'text'),
  ('PM25', 'float'),
  ('PM10', 'float'),
  ('AQI', 'int'),
  ('LAT', 'float'),
  ('LONG', 'float'),
  ('Remarks', 'text')
) AS t(col_name, ckan_type)
"""

ORACLE_SQL["q_drop_columns"] = """
SELECT event_id, ts, user_id, event_type, value FROM events
"""

ORACLE_SQL["q_dupe_count"] = """
SELECT CAST((SELECT count(*) FROM events)
     - (SELECT count(*) FROM (SELECT DISTINCT user_id, event_type FROM events))
     AS BIGINT) AS dupe_count
"""

_DEDUPE = """
SELECT event_id, ts, user_id, event_type, value, props FROM (
  SELECT e.*, row_number() OVER (
    PARTITION BY user_id, event_type ORDER BY event_id {dir}) AS rn
  FROM events e
) WHERE rn = 1
"""
ORACLE_SQL["q_dedupe_first"] = _DEDUPE.format(dir="ASC")
ORACLE_SQL["q_dedupe_last"] = _DEDUPE.format(dir="DESC")

ORACLE_SQL["q_resample_hourly"] = """
SELECT user_id, date_trunc('hour', ts) AS bucket_ts,
       round(avg(value), 6) AS avg_value
FROM events GROUP BY 1, 2
"""

ORACLE_SQL["q_resample_daily"] = """
SELECT user_id, CAST(date_trunc('day', ts) AS TIMESTAMP) AS bucket_ts,
       round(avg(value), 6) AS avg_value
FROM events GROUP BY 1, 2
"""

ORACLE_SQL["q_resample_15min"] = """
SELECT user_id, time_bucket(INTERVAL '15 minutes', ts) AS bucket_ts,
       round(avg(value), 6) AS avg_value
FROM events GROUP BY 1, 2
"""

ORACLE_SQL["q_describe_numeric"] = """
SELECT 'value' AS "column", s.stat, round(s.v, 6) AS value FROM (
            SELECT 'count' AS stat, CAST(count(value) AS DOUBLE) AS v FROM events
  UNION ALL SELECT 'mean', avg(value) FROM events
  UNION ALL SELECT 'std', stddev_samp(value) FROM events
  UNION ALL SELECT 'min', CAST(min(value) AS DOUBLE) FROM events
  UNION ALL SELECT '25%', quantile_cont(value, 0.25) FROM events
  UNION ALL SELECT '50%', quantile_cont(value, 0.5) FROM events
  UNION ALL SELECT '75%', quantile_cont(value, 0.75) FROM events
  UNION ALL SELECT 'max', CAST(max(value) AS DOUBLE) FROM events
) s
"""

ORACLE_SQL["q_describe_string"] = """
WITH counts AS (
  SELECT event_type AS v, count(*) AS cnt FROM events
  WHERE event_type IS NOT NULL GROUP BY 1
)
SELECT 'event_type' AS "column", s.stat, s.value FROM (
            SELECT 'count' AS stat, CAST(coalesce(sum(cnt), 0) AS VARCHAR) AS value FROM counts
  UNION ALL SELECT 'unique', CAST(count(*) AS VARCHAR) FROM counts
  UNION ALL SELECT 'top', (SELECT v FROM counts ORDER BY cnt DESC, v ASC LIMIT 1)
  UNION ALL SELECT 'freq', CAST(max(cnt) AS VARCHAR) FROM counts
) s
"""

ORACLE_SQL["q_mode"] = """
WITH c1 AS (SELECT event_type AS v, count(*) AS cnt FROM events
            WHERE event_type IS NOT NULL GROUP BY 1),
r1 AS (SELECT CAST(row_number() OVER (ORDER BY v ASC) - 1 AS BIGINT) AS stat,
              v AS event_type
       FROM c1 WHERE cnt = (SELECT max(cnt) FROM c1)),
c2 AS (SELECT user_id AS v, count(*) AS cnt FROM events
       WHERE user_id IS NOT NULL GROUP BY 1),
r2 AS (SELECT CAST(row_number() OVER (ORDER BY v ASC) - 1 AS BIGINT) AS stat,
              v AS user_id
       FROM c2 WHERE cnt = (SELECT max(cnt) FROM c2))
SELECT stat, event_type, user_id FROM r1 FULL JOIN r2 USING (stat)
"""

ORACLE_SQL["q_pricing_summary"] = f"""
SELECT l_returnflag, l_linestatus,
       {_dec_sum('l_quantity', 'sum_qty')},
       {_dec_sum('l_extendedprice', 'sum_base_price')},
       {_dec_sum('l_extendedprice * (1.0 - l_discount)', 'sum_disc_price')},
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""

ORACLE_SQL["q_star_revenue"] = f"""
SELECT r_name, n_name,
       {_dec_sum('l_extendedprice * (1.0 - l_discount)', 'revenue')},
       count(*) AS n_items
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
GROUP BY r_name, n_name
"""

ORACLE_SQL["q_top_customers"] = f"""
SELECT c_custkey, c_name,
       {_dec_sum('o_totalprice', 'revenue')},
       count(*) AS n_orders
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_custkey, c_name
ORDER BY revenue DESC, c_custkey ASC
LIMIT 10
"""

ORACLE_SQL["q_json_extract"] = """
SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
FROM events
"""

ORACLE_SQL["q_resample_dense"] = """
WITH agg AS (
  SELECT user_id, date_trunc('hour', ts) AS bucket_ts,
         round(avg(value), 6) AS avg_value
  FROM events GROUP BY 1, 2),
lim AS (SELECT user_id, min(bucket_ts) AS lo, max(bucket_ts) AS hi
        FROM agg GROUP BY 1),
spine AS (SELECT user_id,
                 unnest(generate_series(lo, hi, INTERVAL '1 hour')) AS bucket_ts
          FROM lim)
SELECT s.user_id, s.bucket_ts, a.avg_value
FROM spine s LEFT JOIN agg a USING (user_id, bucket_ts)
"""

ORACLE_SQL["q_resample_weekly"] = """
SELECT user_id, CAST(date_trunc('week', ts) AS TIMESTAMP) AS bucket_ts,
       round(avg(value), 6) AS avg_value
FROM events GROUP BY 1, 2
"""

ORACLE_SQL["q_ts_format"] = """
SELECT o_orderkey, strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') AS ts_str
FROM orders
"""

ORACLE_SQL["q_sessionize"] = """
WITH g AS (
  SELECT user_id, ts,
         lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev,
         event_id
  FROM events),
s AS (
  SELECT user_id, ts,
         sum(CASE WHEN prev IS NULL
                    OR epoch_us(ts) - epoch_us(prev) > 1800000000
                  THEN 1 ELSE 0 END)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS UNBOUNDED PRECEDING) AS session_id
  FROM g),
ps AS (
  SELECT user_id, session_id, count(*) AS n,
         epoch_us(max(ts)) - epoch_us(min(ts)) AS dur_us
  FROM s GROUP BY 1, 2)
SELECT user_id, CAST(count(*) AS BIGINT) AS n_sessions,
       CAST(sum(n) AS BIGINT) AS n_events,
       CAST(sum(dur_us) AS BIGINT) AS total_session_us
FROM ps GROUP BY user_id
"""

ORACLE_SQL["q_rollup"] = f"""
SELECT l_returnflag, l_linestatus,
       {_dec_sum('l_quantity', 'sum_qty')},
       count(*) AS n
FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
"""

ORACLE_SQL["q_anti_join"] = """
SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
                  AND o.o_orderpriority = '1-URGENT')
"""

ORACLE_SQL["q_semi_join"] = """
SELECT p_partkey, p_name, p_brand, p_type, p_size, p_retailprice
FROM part p
WHERE p_size > 40
  AND EXISTS (SELECT 1 FROM lineitem l WHERE l.l_partkey = p.p_partkey)
"""

ORACLE_SQL["q_window_topn"] = """
SELECT o_custkey, o_orderkey, o_totalprice, "rank" FROM (
  SELECT o_custkey, o_orderkey, o_totalprice,
         CAST(row_number() OVER (
           PARTITION BY o_custkey
           ORDER BY o_totalprice DESC, o_orderkey ASC) AS INTEGER) AS "rank"
  FROM orders) t
WHERE "rank" <= 3
"""

# ---------------------------------------------------------------- text analysis

_TOKS = "list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x != '')"


def _h63(expr: str) -> str:
    return f"(('0x' || substr(md5({expr}), 1, 15))::BIGINT)"


_BPE_RE = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"

ORACLE_SQL["q_text_stats"] = f"""
SELECT doc_id,
  CAST(length(text) AS BIGINT) AS n_chars,
  CAST(len(list_filter(string_split_regex(text, '\\s+'), x -> x != '')) AS BIGINT) AS n_tokens_ws,
  CAST(len(regexp_extract_all(text, '{_BPE_RE}')) AS BIGINT) AS n_tokens_bpe,
  CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS BIGINT) AS n_alpha,
  CAST(length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS BIGINT) AS n_punct
FROM documents
"""

_STOPLIST = "['the','a','an','and','or','of','to','in','is','it']"

ORACLE_SQL["q_quality_score"] = f"""
WITH t AS (SELECT doc_id, text, {_TOKS} AS toks FROM documents)
SELECT doc_id, round(
    0.4 * least(1.0, len(toks) / 64.0)
  + 0.3 * (CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE)
           / greatest(length(text), 1))
  + 0.3 * least(1.0, 4.0 * len(list_filter(toks, x -> list_contains({_STOPLIST}, x)))
                     / greatest(len(toks), 1))
, 6) AS quality
FROM t
"""

_MARKERS = {
    "en": "['the','and','of','to','is']",
    "de": "['der','die','und','das','ist']",
    "es": "['el','los','las','que','es']",
    "fr": "['le','la','les','et','est']",
    "zh": "['的','是','了','在','我']",
}
_mk_scores = ",\n  ".join(
    f"len(list_filter(toks, x -> list_contains({lst}, x))) AS s_{lang}"
    for lang, lst in _MARKERS.items()
)
_mk_case = " ".join(
    f"WHEN s_{lang} = g THEN '{lang}'" for lang in list(_MARKERS)[:-1]
)
ORACLE_SQL["q_lang_id"] = f"""
WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
s AS (SELECT doc_id,
  {_mk_scores}
FROM t)
SELECT doc_id,
  CASE {_mk_case} ELSE 'zh' END AS pred_lang
FROM (SELECT *, greatest(s_en, s_de, s_es, s_fr, s_zh) AS g FROM s)
"""

_NORM = "regexp_replace(lower(text), '[^a-z0-9]', '', 'g')"

ORACLE_SQL["q_fingerprint"] = f"""
WITH n AS (SELECT doc_id, {_NORM} AS nm FROM documents)
SELECT doc_id, md5(nm) AS fp_md5,
  list_min(list_transform(range(1, greatest(length(nm) - 7, 1) + 1),
                          i -> {_h63('substr(nm, i, 8)')})) AS fp_roll
FROM n
"""

# ---------------------------------------------------------------- dedup family

ORACLE_SQL["q_exact_dedup"] = f"""
SELECT doc_id, text, lang, source, n_chars FROM (
  SELECT d.*, row_number() OVER (
    PARTITION BY md5({_NORM}) ORDER BY doc_id ASC) AS rn
  FROM documents d
) WHERE rn = 1
"""

_SHINGLES_CTE = f"""
t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
s AS (SELECT doc_id,
        unnest(list_distinct(list_transform(range(1, len(toks) - 1),
          i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))) AS shingle
      FROM t WHERE len(toks) >= 3)
"""

from datapump_spark.functions.hashing import hash63_sql, mixed_hash_sql  # noqa: E402

_BASE_H = "(('0x' || substr(md5(shingle), 1, 15))::BIGINT)"
_mh4 = ", ".join(
    f"min({mixed_hash_sql(_BASE_H, i)}) AS mh{i}" for i in range(4)
)

ORACLE_SQL["q_minhash_signature"] = f"""
WITH {_SHINGLES_CTE}
SELECT doc_id, {_mh4}
FROM s GROUP BY doc_id
"""

_mh16 = ", ".join(
    f"min({mixed_hash_sql(_BASE_H, i)}) AS mh{i}" for i in range(16)
)
_band_conds = " OR ".join(
    "(" + " AND ".join(f"a.mh{b*4+r} = b.mh{b*4+r}" for r in range(4)) + ")"
    for b in range(4)
)
ORACLE_SQL["q_minhash_near_dup"] = f"""
WITH {_SHINGLES_CTE},
sig AS (SELECT doc_id, {_mh16} FROM s GROUP BY doc_id),
cands AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b
  FROM sig a JOIN sig b ON a.doc_id < b.doc_id AND ({_band_conds})),
sz AS (SELECT doc_id, count(*) AS n FROM s GROUP BY doc_id),
inter AS (
  SELECT p.id_a, p.id_b, count(*) AS i
  FROM cands p
  JOIN s sa ON sa.doc_id = p.id_a
  JOIN s sb ON sb.doc_id = p.id_b AND sb.shingle = sa.shingle
  GROUP BY p.id_a, p.id_b)
SELECT id_a, id_b, round(i / (na.n + nb.n - i), 6) AS jaccard
FROM inter JOIN sz na ON na.doc_id = id_a JOIN sz nb ON nb.doc_id = id_b
WHERE i / (na.n + nb.n - i) >= 0.5
"""

ORACLE_SQL["q_ngram_jaccard"] = f"""
WITH t AS (SELECT doc_id, source, {_TOKS} AS toks FROM documents),
s AS (SELECT doc_id, source,
        unnest(list_distinct(list_transform(range(1, len(toks) - 1),
          i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))) AS shingle
      FROM t WHERE len(toks) >= 3),
sz AS (SELECT doc_id, count(*) AS n FROM s GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
  FROM s a JOIN s b ON a.source = b.source AND a.shingle = b.shingle
                    AND a.doc_id < b.doc_id
  GROUP BY 1, 2)
SELECT id_a, id_b, round(i / (na.n + nb.n - i), 6) AS jaccard
FROM inter JOIN sz na ON na.doc_id = id_a JOIN sz nb ON nb.doc_id = id_b
WHERE round(i / (na.n + nb.n - i), 6) >= 0.5
"""

_sim_sums = ", ".join(
    f"sum(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS b{b}"
    for b in range(32)
)
_sim_bits = " + ".join(
    f"(CASE WHEN b{b} > 0 THEN {2**b} ELSE 0 END)" for b in range(32)
)
ORACLE_SQL["q_simhash"] = f"""
WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
tok AS (SELECT doc_id, unnest(list_distinct(toks)) AS tok FROM t),
h AS (SELECT doc_id, {_h63('tok')} AS h FROM tok),
b AS (SELECT doc_id, {_sim_sums} FROM h GROUP BY doc_id)
SELECT doc_id, CAST({_sim_bits} AS BIGINT) AS simhash FROM b
"""

ORACLE_SQL["q_embedding_near_dup"] = """
WITH m AS (SELECT vec_id, embedding::DOUBLE[] AS v,
                  sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
           FROM embeddings)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       round(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 6) AS cos
FROM m a JOIN m b ON a.vec_id < b.vec_id
WHERE list_dot_product(a.v, b.v) / (a.nrm * b.nrm) >= 0.3
"""

# ---------------------------------------------------------------- similarity search

ORACLE_SQL["q_cosine_topk"] = """
WITH m AS (SELECT vec_id, embedding::DOUBLE[] AS v,
                  sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
           FROM embeddings),
q AS (SELECT vec_id AS query_id, v AS qv, nrm AS qn FROM m WHERE vec_id < 10),
scored AS (
  SELECT q.query_id, m.vec_id AS neighbor_id,
         round(list_dot_product(q.qv, m.v) / (q.qn * m.nrm), 6) AS cos
  FROM m, q WHERE m.vec_id != q.query_id)
SELECT query_id, neighbor_id, cos FROM scored
QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) <= 5
"""

# q_lsh_topk intentionally has NO oracle: approximate recall is a property
# of the bucketing, graded in tests against the exact baseline instead.
# q_ivf_topk likewise has NO oracle (approximate; recall graded in tests).

# ---------------------------------------------------------------- relational extensions

ORACLE_SQL["q_set_ops"] = """
(SELECT c_custkey AS custkey FROM customer WHERE c_mktsegment = 'BUILDING'
 UNION
 SELECT c_custkey FROM customer WHERE c_mktsegment = 'AUTOMOBILE')
INTERSECT
SELECT o_custkey FROM orders
EXCEPT
SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
"""

ORACLE_SQL["q_hash_sample"] = f"""
SELECT event_id, user_id, event_type, value
FROM events
WHERE {hash63_sql("'smp:' || CAST(event_id AS VARCHAR)")} % 20 = 0
"""

ORACLE_SQL["q_asof_join"] = """
WITH u AS (
  SELECT user_id, ts, event_id,
         CAST(NULL AS BIGINT) AS o_orderkey, 1 AS is_event
  FROM events
  UNION ALL BY NAME
  SELECT o_custkey AS user_id, CAST(o_orderdate AS TIMESTAMP) AS ts,
         CAST(NULL AS BIGINT) AS event_id, o_orderkey, 0 AS is_event
  FROM orders)
SELECT event_id, user_id, ts, asof_orderkey FROM (
  SELECT *, last_value(o_orderkey IGNORE NULLS) OVER (
      PARTITION BY user_id
      ORDER BY ts, is_event, coalesce(o_orderkey, -1)
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS asof_orderkey
  FROM u)
WHERE is_event = 1
"""

# ---------------------------------------------------------------- multimodal

_MEDIA_CTE = """
m AS (
  SELECT doc_id AS media_id, encode(text) AS payload,
         ['image','audio','video'][CAST(doc_id % 3 AS INT) + 1] AS kind,
         ['png','wav','mp4'][CAST(doc_id % 3 AS INT) + 1] AS format,
         CASE WHEN doc_id % 3 = 0 THEN 640 END AS width,
         CASE WHEN doc_id % 3 = 0 THEN 480 END AS height,
         CASE WHEN doc_id % 3 != 0 THEN n_chars * 10 END AS duration_ms
  FROM documents)
"""

ORACLE_SQL["q_media_stats"] = f"""
WITH {_MEDIA_CTE}
SELECT kind, format, count(*) AS n,
       CAST(sum(octet_length(payload)) AS BIGINT) AS total_bytes,
       round(avg(octet_length(payload)), 6) AS avg_bytes,
       round(avg(duration_ms), 6) AS avg_duration_ms
FROM m GROUP BY kind, format
"""

ORACLE_SQL["q_frame_sample"] = f"""
WITH {_MEDIA_CTE}
SELECT media_id,
       CAST(unnest(generate_series(0, greatest(duration_ms // 1000 - 1, 0)))
            AS BIGINT) AS frame_idx,
       CAST(unnest(generate_series(0, greatest(duration_ms // 1000 - 1, 0)))
            * 1000 AS BIGINT) AS frame_ts_ms
FROM m WHERE kind = 'video'
"""

# ------------------------------------------------------- dedup clustering / sampling

ORACLE_SQL["q_dup_clusters"] = f"""
WITH RECURSIVE pairs AS ({ORACLE_SQL["q_minhash_near_dup"]}),
edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
          UNION ALL
          SELECT id_b, id_a FROM pairs),
reach(node, r) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT e.dst, r.r FROM reach r JOIN edges e ON e.src = r.node)
SELECT node AS doc_id, CAST(min(r) AS BIGINT) AS cluster_id
FROM reach GROUP BY node
"""

ORACLE_SQL["q_group_cap"] = """
SELECT doc_id, source FROM (
  SELECT doc_id, source,
         row_number() OVER (PARTITION BY source ORDER BY doc_id ASC) AS rn
  FROM documents) WHERE rn <= 10
"""

ORACLE_SQL["q_shard_assign"] = f"""
SELECT doc_id,
       CAST({hash63_sql("'shard:' || CAST(doc_id AS VARCHAR)")} % 8 AS INT) AS shard
FROM documents
"""

ORACLE_SQL["q_weighted_mix"] = f"""
SELECT doc_id, source FROM documents
WHERE {hash63_sql("'mix:' || CAST(doc_id AS VARCHAR)")} % 10000 <
      CASE source WHEN 'src0' THEN 10000 WHEN 'src1' THEN 5000
                  WHEN 'src2' THEN 2500 ELSE 0 END
"""

# ------------------------------------------------------- profiling / pivot / generators

ORACLE_SQL["q_pivot"] = """
SELECT user_id,
       CAST(count(*) FILTER (event_type = 'click') AS BIGINT) AS click,
       CAST(count(*) FILTER (event_type = 'error') AS BIGINT) AS error,
       CAST(count(*) FILTER (event_type = 'purchase') AS BIGINT) AS purchase,
       CAST(count(*) FILTER (event_type = 'signup') AS BIGINT) AS signup,
       CAST(count(*) FILTER (event_type = 'view') AS BIGINT) AS view
FROM events GROUP BY user_id
"""

ORACLE_SQL["q_histogram"] = """
SELECT CAST(floor(value / 10) AS BIGINT) AS bucket,
       CAST(floor(value / 10) * 10 AS DOUBLE) AS lo,
       CAST((floor(value / 10) + 1) * 10 AS DOUBLE) AS hi,
       count(*) AS n
FROM events WHERE value IS NOT NULL
GROUP BY 1, 2, 3
"""

ORACLE_SQL["q_corr"] = """
SELECT l_returnflag,
       round(corr(l_quantity, l_extendedprice), 6) AS corr_qty_price,
       round(covar_samp(l_quantity, l_extendedprice), 4) AS covar_qty_price,
       count(*) AS n
FROM lineitem GROUP BY l_returnflag
"""

ORACLE_SQL["q_explode_tokens"] = f"""
SELECT token, CAST(count(*) AS BIGINT) AS n
FROM (SELECT unnest({_TOKS}) AS token FROM documents) t
GROUP BY token
ORDER BY n DESC, token ASC
LIMIT 20
"""

ORACLE_SQL["q_moving_avg"] = """
SELECT event_id, user_id,
       round(avg(value) OVER (
         PARTITION BY user_id ORDER BY ts, event_id
         ROWS BETWEEN 3 PRECEDING AND CURRENT ROW), 6) AS mavg4
FROM events
"""

ORACLE_SQL["q_latest_event"] = """
SELECT user_id, event_id AS last_event_id, event_type AS last_event_type,
       ts AS last_ts
FROM (SELECT *, row_number() OVER (
        PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
      FROM events)
WHERE rn = 1
"""

from datapump_spark.operators.pii import pii_redact_sql, pii_stats_sql  # noqa: E402

# DuckDB twin of queries._pii_input's derived corpus
_PII_TEXT = """concat_ws(' ', c_name, 'call',
  concat(CAST(c_custkey % 90 + 10 AS VARCHAR), '-',
         CAST(c_custkey % 900 + 100 AS VARCHAR), '-',
         CAST((c_custkey * 7) % 900 + 100 AS VARCHAR), '-',
         CAST((c_custkey * 13) % 9000 + 1000 AS VARCHAR)),
  'mail', concat('user', CAST(c_custkey AS VARCHAR), '@example.com'),
  'ip', concat('10.0.', CAST(c_custkey % 256 AS VARCHAR), '.',
               CAST(c_custkey % 100 AS VARCHAR)),
  CASE WHEN c_custkey % 3 = 0 THEN
    concat(CAST(c_custkey % 900 + 100 AS VARCHAR), '-',
           CAST(c_custkey % 90 + 10 AS VARCHAR), '-',
           CAST((c_custkey * 3) % 9000 + 1000 AS VARCHAR))
  ELSE NULL END)"""
ORACLE_SQL["q_pii_stats"] = pii_stats_sql("c_custkey", _PII_TEXT, "customer")
ORACLE_SQL["q_pii_redact"] = pii_redact_sql("c_custkey", _PII_TEXT, "customer")

ORACLE_SQL["q_gopher_quality"] = """
WITH tk AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                     x -> x != '') AS t
  FROM documents),
sig AS (
  SELECT doc_id,
         CAST(len(t) AS BIGINT) AS n_words,
         round(COALESCE(list_sum(list_transform(t, x -> length(x))), 0)
               / greatest(len(t), 1), 6) AS mean_word_len,
         round(len(list_filter(t, x -> regexp_matches(x, '[a-z]')))
               / greatest(len(t), 1), 6) AS frac_alpha_words,
         CAST(len(list_filter(t, x -> list_contains(
              ['the','a','an','and','or','of','to','in','is','it'], x)))
              AS BIGINT) AS stop_hits,
         round(1.0 - len(list_distinct(t)) / greatest(len(t), 1), 6)
              AS dup_word_frac,
         CASE WHEN len(t) >= 2 THEN
           round(1.0 - len(list_distinct(list_transform(
                 generate_series(1, len(t) - 1),
                 i -> t[i] || ' ' || t[i + 1]))) / (len(t) - 1), 6)
         ELSE 0.0 END AS dup_2gram_frac
  FROM tk)
SELECT *,
       (n_words BETWEEN 50 AND 100000
        AND mean_word_len BETWEEN 3.0 AND 10.0
        AND frac_alpha_words >= 0.8
        AND stop_hits >= 2
        AND dup_word_frac <= 0.95
        AND dup_2gram_frac <= 0.75) AS keep
FROM sig
"""

ORACLE_SQL["q_pack_chunks"] = """
WITH toks AS (
  SELECT doc_id,
         CAST(len(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                              x -> x != '')) AS BIGINT) AS n_tok
  FROM documents),
pos AS (
  SELECT doc_id, n_tok,
         CAST(COALESCE(SUM(n_tok) OVER (ORDER BY doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              AS BIGINT) AS start
  FROM toks WHERE n_tok > 0),
x AS (
  SELECT doc_id, n_tok, start,
         UNNEST(generate_series(start // 1024,
                                (start + n_tok - 1) // 1024)) AS seq_id
  FROM pos)
SELECT CAST(seq_id AS BIGINT) AS seq_id, doc_id,
       CAST(least(start + n_tok, (seq_id + 1) * 1024)
            - greatest(start, seq_id * 1024) AS BIGINT) AS n_tok_in_seq
FROM x
"""

# q_repetition twin — mirrors operators/repetition.py formula-for-formula
# (same tagged union, same (cnt,len) BIGINT packing for tie-breaks, same
# rounding order) so the value hash matches bit-for-bit.
ORACLE_SQL["q_repetition"] = """
WITH base AS (
  SELECT doc_id,
         CAST(greatest(length(text), 1) AS DOUBLE) AS chars,
         list_filter(list_transform(string_split(text, chr(10)),
                                    x -> trim(x)), x -> x != '') AS lines,
         list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                     x -> x != '') AS t
  FROM documents),
lcnt AS (
  SELECT doc_id, item, count(*) AS cnt, CAST(length(item) AS BIGINT) AS ilen
  FROM (SELECT doc_id, UNNEST(lines) AS item FROM base)
  GROUP BY doc_id, item),
ldup AS (
  SELECT doc_id,
         SUM(CASE WHEN cnt >= 2 THEN cnt * ilen ELSE 0 END) AS dup_line_chars
  FROM lcnt GROUP BY doc_id),
line_stats AS (
  SELECT b.doc_id, b.chars, b.t,
    round(CASE WHEN len(b.lines) > 0 THEN
        (len(b.lines) - len(list_distinct(b.lines)))
        / CAST(len(b.lines) AS DOUBLE) ELSE 0.0 END, 6) AS dup_line_frac,
    round(COALESCE(d.dup_line_chars, 0) / b.chars, 6) AS dup_line_char_frac
  FROM base b LEFT JOIN ldup d USING (doc_id)),
tagged AS (
  SELECT doc_id, chars, 'top' AS kind,
         UNNEST(CASE WHEN len(t) >= 2 THEN
             list_transform(generate_series(1, len(t) - 1),
                            i -> array_to_string(list_slice(t, i, i + 1), ' '))
           ELSE CAST([] AS VARCHAR[]) END) AS item
  FROM line_stats
  UNION ALL
  SELECT doc_id, chars, 'dup',
         UNNEST(CASE WHEN len(t) >= 5 THEN
             list_transform(generate_series(1, len(t) - 4),
                            i -> array_to_string(list_slice(t, i, i + 4), ' '))
           ELSE CAST([] AS VARCHAR[]) END)
  FROM line_stats),
counted AS (
  SELECT doc_id, kind, item, any_value(chars) AS chars,
         count(*) AS cnt, CAST(length(item) AS BIGINT) AS ilen
  FROM tagged GROUP BY doc_id, kind, item),
per_doc AS (
  SELECT doc_id, any_value(chars) AS chars,
    MAX(CASE WHEN kind = 'top' THEN cnt * 1000000000 + ilen END) AS top_pack,
    SUM(CASE WHEN kind = 'dup' AND cnt >= 2 THEN cnt * ilen ELSE 0 END)
        AS dup_gram_chars
  FROM counted GROUP BY doc_id)
SELECT l.doc_id,
  COALESCE(l.dup_line_frac, 0.0) AS dup_line_frac,
  COALESCE(l.dup_line_char_frac, 0.0) AS dup_line_char_frac,
  COALESCE(round(COALESCE(
        floor(top_pack / 1000000000) * (top_pack % 1000000000) / p.chars,
        0.0), 6), 0.0) AS top_ngram_char_frac,
  COALESCE(round(least(1.0, dup_gram_chars / p.chars), 6), 0.0)
      AS dup_ngram_char_frac
FROM line_stats l
LEFT JOIN per_doc p USING (doc_id)
"""

# q_lm_score twin — same add-1 bigram model, same slice split, same
# round-then-exp order as operators/lm.py
ORACLE_SQL["q_lm_score"] = """
WITH tk AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                     x -> x != '') AS t
  FROM documents),
bg AS (
  SELECT doc_id, t,
         UNNEST(CASE WHEN len(t) >= 2 THEN generate_series(1, len(t) - 1)
                ELSE CAST([] AS BIGINT[]) END) AS i
  FROM tk),
pairs AS (SELECT doc_id, t[i] AS w1, t[i + 1] AS w2 FROM bg),
train AS (SELECT w1, w2 FROM pairs WHERE doc_id % 5 != 0),
bigrams AS (SELECT w1, w2, count(*) AS c2 FROM train GROUP BY w1, w2),
unigrams AS (SELECT w1, count(*) AS c1 FROM train GROUP BY w1),
v AS (SELECT CAST(count(*) AS DOUBLE) AS v FROM
        (SELECT w1 FROM bigrams UNION SELECT w2 FROM bigrams)),
scored AS (
  SELECT c.doc_id, count(*) AS n_bigrams,
         round(avg(ln((COALESCE(b.c2, 0) + 1.0)
                      / (COALESCE(u.c1, 0) + 1.0 * v.v))), 6) AS avg_logprob
  FROM pairs c
  LEFT JOIN bigrams b ON c.w1 = b.w1 AND c.w2 = b.w2
  LEFT JOIN unigrams u ON c.w1 = u.w1
  CROSS JOIN v
  WHERE c.doc_id % 5 = 0
  GROUP BY c.doc_id)
SELECT d.doc_id,
       CAST(COALESCE(s.n_bigrams, 0) AS BIGINT) AS n_bigrams,
       s.avg_logprob,
       round(exp(-s.avg_logprob), 3) AS ppl
FROM (SELECT doc_id FROM documents WHERE doc_id % 5 = 0) d
LEFT JOIN scored s USING (doc_id)
"""

# q_lm_score_kn: identical split/count tables as q_lm_score, KN math —
#   P(w2|w1) = max(c12−D,0)/c1 + D·N1+(w1,·)/c1 · Pcont(w2),
#   Pcont floored at 1 type for never-seen words, full backoff on
#   unseen contexts (lm.py lm_score_kn's exact expression, D = 0.75).
ORACLE_SQL["q_lm_score_kn"] = """
WITH tk AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                     x -> x != '') AS t
  FROM documents),
bg AS (
  SELECT doc_id, t,
         UNNEST(CASE WHEN len(t) >= 2 THEN generate_series(1, len(t) - 1)
                ELSE CAST([] AS BIGINT[]) END) AS i
  FROM tk),
pairs AS (SELECT doc_id, t[i] AS w1, t[i + 1] AS w2 FROM bg),
train AS (SELECT w1, w2 FROM pairs WHERE doc_id % 5 != 0),
bigrams AS (SELECT w1, w2, count(*) AS c2 FROM train GROUP BY w1, w2),
unigrams AS (SELECT w1, count(*) AS c1 FROM train GROUP BY w1),
followers AS (SELECT w1, CAST(count(*) AS DOUBLE) AS nf
              FROM bigrams GROUP BY w1),
preceders AS (SELECT w2, CAST(count(*) AS DOUBLE) AS np
              FROM bigrams GROUP BY w2),
tot AS (SELECT CAST(count(*) AS DOUBLE) AS nb FROM bigrams),
scored AS (
  SELECT c.doc_id, count(*) AS n_bigrams,
         round(avg(ln(CASE WHEN COALESCE(u.c1, 0) > 0 THEN
             greatest(COALESCE(b.c2, 0) - 0.75, 0) / u.c1
             + 0.75 * COALESCE(f.nf, 0) / u.c1
               * (greatest(COALESCE(p.np, 0), 1.0) / tot.nb)
           ELSE greatest(COALESCE(p.np, 0), 1.0) / tot.nb END)), 6)
           AS avg_logprob
  FROM pairs c
  LEFT JOIN bigrams b ON c.w1 = b.w1 AND c.w2 = b.w2
  LEFT JOIN unigrams u ON c.w1 = u.w1
  LEFT JOIN followers f ON c.w1 = f.w1
  LEFT JOIN preceders p ON c.w2 = p.w2
  CROSS JOIN tot
  WHERE c.doc_id % 5 = 0
  GROUP BY c.doc_id)
SELECT d.doc_id,
       CAST(COALESCE(s.n_bigrams, 0) AS BIGINT) AS n_bigrams,
       s.avg_logprob,
       round(exp(-s.avg_logprob), 3) AS ppl
FROM (SELECT doc_id FROM documents WHERE doc_id % 5 = 0) d
LEFT JOIN scored s USING (doc_id)
"""

# q_chunk_docs twin — same start grid (stride 48 = 64 − 16), same
# 1-based slice semantics as operators/chunking.py
ORACLE_SQL["q_chunk_docs"] = """
WITH tk AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                     x -> x != '') AS t
  FROM documents),
g AS (
  SELECT doc_id, t, len(t) AS n,
         CASE WHEN len(t) <= 0 THEN 0
              ELSE 1 + greatest(0,
                   CAST(floor((len(t) - 64 + 47) / 48.0) AS INT))
         END AS n_chunks
  FROM tk),
e AS (
  SELECT doc_id, t,
         UNNEST(CASE WHEN n_chunks > 0
                THEN generate_series(0, n_chunks - 1)
                ELSE CAST([] AS BIGINT[]) END) AS chunk_id
  FROM g)
SELECT doc_id,
       CAST(chunk_id AS BIGINT) AS chunk_id,
       CAST(chunk_id * 48 + 1 AS BIGINT) AS start_tok,
       CAST(len(list_slice(t, chunk_id * 48 + 1, chunk_id * 48 + 64))
            AS BIGINT) AS n_tokens,
       array_to_string(list_slice(t, chunk_id * 48 + 1, chunk_id * 48 + 64),
                       ' ') AS chunk_text
FROM e
"""

# q_tfidf twin — sklearn-style smoothed idf, rank on the ROUNDED score
# with term ASC tie-break, exactly as operators/tfidf.py
ORACLE_SQL["q_tfidf"] = """
WITH terms AS (
  SELECT doc_id,
         UNNEST(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                            x -> x != '')) AS term
  FROM documents),
tf AS (
  SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
  FROM terms GROUP BY doc_id, term),
docfreq AS (
  SELECT term, CAST(count(DISTINCT doc_id) AS BIGINT) AS df
  FROM terms GROUP BY term),
n AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM documents),
scored AS (
  SELECT tf.doc_id, tf.term, tf.tf, d.df,
         round(tf.tf * (ln((1.0 + n.n) / (1.0 + d.df)) + 1.0), 6) AS tfidf
  FROM tf JOIN docfreq d USING (term) CROSS JOIN n),
ranked AS (
  SELECT *, CAST(row_number() OVER (
      PARTITION BY doc_id ORDER BY tfidf DESC, term ASC) AS INT) AS rank
  FROM scored)
SELECT doc_id, term, tf, df, tfidf, rank
FROM ranked WHERE rank <= 5
"""

# q_ewma twin — α = 0.5 ⇒ weights are exact powers of two; same 1-based
# index lambda, same sequential list fold as operators/timeseries.ewma
ORACLE_SQL["q_ewma"] = """
WITH w AS (
  SELECT event_id, user_id, ts, value,
         list(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS BETWEEN 19 PRECEDING AND CURRENT ROW) AS vals
  FROM events)
SELECT event_id, user_id, ts, value,
       round(
         list_sum(list_transform(vals,
             (v, i) -> v * pow(0.5, len(vals) - i)))
         / list_sum(list_transform(vals,
             (v, i) -> pow(0.5, len(vals) - i))), 6) AS ewma
FROM w
"""

# q_interpolate twin — dense spine from the q_resample_dense oracle,
# then the same prev/next observed-row-index + join-back formulation
ORACLE_SQL["q_interpolate"] = """
WITH agg AS (
  SELECT user_id, date_trunc('hour', ts) AS bucket_ts,
         round(avg(value), 6) AS avg_value
  FROM events GROUP BY 1, 2),
lim AS (SELECT user_id, min(bucket_ts) AS lo, max(bucket_ts) AS hi
        FROM agg GROUP BY 1),
spine AS (SELECT user_id,
                 unnest(generate_series(lo, hi, INTERVAL '1 hour')) AS bucket_ts
          FROM lim),
dense AS (
  SELECT s.user_id, s.bucket_ts, a.avg_value
  FROM spine s LEFT JOIN agg a USING (user_id, bucket_ts)),
rn AS (
  SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY bucket_ts) AS r
  FROM dense),
nbr AS (
  SELECT *,
    max(CASE WHEN avg_value IS NOT NULL THEN r END) OVER (
      PARTITION BY user_id ORDER BY r
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_rn,
    min(CASE WHEN avg_value IS NOT NULL THEN r END) OVER (
      PARTITION BY user_id ORDER BY r
      ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS next_rn,
    last_value(avg_value IGNORE NULLS) OVER (
      PARTITION BY user_id ORDER BY r
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_val,
    first_value(avg_value IGNORE NULLS) OVER (
      PARTITION BY user_id ORDER BY r
      ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS next_val
  FROM rn)
SELECT user_id, bucket_ts, avg_value,
  CASE WHEN avg_value IS NOT NULL THEN avg_value
       ELSE prev_val + (next_val - prev_val)
                  * (CAST(r - prev_rn AS DOUBLE)
                     / CAST(next_rn - prev_rn AS DOUBLE))
  END AS interpolated,
  avg_value IS NULL AS was_gap
FROM nbr
"""

# q_trend twin — identical day-scaled x, same aggregate definitions
ORACLE_SQL["q_trend"] = """
WITH b AS (
  SELECT event_type, value,
         (CAST(floor(epoch(ts)) AS DOUBLE) - 1704067200) / 86400.0 AS x
  FROM events)
SELECT event_type,
       CAST(count(CASE WHEN x IS NOT NULL AND value IS NOT NULL
                       THEN 1 END) AS BIGINT) AS n,
       round(regr_slope(value, x), 6) AS slope,
       round(regr_intercept(value, x), 6) AS intercept,
       round(corr(value, x), 6) AS r
FROM b GROUP BY event_type
"""

# q_correlated_subquery twin — the SAME SQL text (ANSI) both engines
ORACLE_SQL["q_correlated_subquery"] = """
SELECT o_orderkey, o_custkey, o_totalprice
FROM orders o
WHERE o_totalprice = (SELECT max(o2.o_totalprice)
                      FROM orders o2
                      WHERE o2.o_custkey = o.o_custkey)
"""

ORACLE_SQL["q_cube"] = f"""
SELECT l_returnflag, l_linestatus,
       {_dec_sum('l_quantity', 'sum_qty')},
       count(*) AS n
FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
"""

# q_table_diff twin — same full-outer join + null-safe comparisons;
# changed_cols sorted so per-engine evaluation order is irrelevant
ORACLE_SQL["q_table_diff"] = """
WITH l AS (SELECT * FROM events WHERE event_id % 3 != 0),
r AS (SELECT event_id, ts, user_id, event_type,
             CASE WHEN event_id % 7 = 0 THEN value * 2 ELSE value END AS value,
             props
      FROM events WHERE event_id % 5 != 0),
j AS (
  SELECT COALESCE(l.event_id, r.event_id) AS event_id,
         l.event_id IS NOT NULL AS in_l, r.event_id IS NOT NULL AS in_r,
         list_sort(list_filter([
           CASE WHEN NOT (l.ts IS NOT DISTINCT FROM r.ts)
                THEN 'ts' END,
           CASE WHEN NOT (l.user_id IS NOT DISTINCT FROM r.user_id)
                THEN 'user_id' END,
           CASE WHEN NOT (l.event_type IS NOT DISTINCT FROM r.event_type)
                THEN 'event_type' END,
           CASE WHEN NOT (l.value IS NOT DISTINCT FROM r.value)
                THEN 'value' END,
           CASE WHEN NOT (l.props IS NOT DISTINCT FROM r.props)
                THEN 'props' END
         ], x -> x IS NOT NULL)) AS diffs
  FROM l FULL OUTER JOIN r ON l.event_id = r.event_id)
SELECT event_id,
  CASE WHEN NOT in_l THEN 'added'
       WHEN NOT in_r THEN 'removed'
       WHEN len(diffs) > 0 THEN 'changed' END AS change_type,
  CASE WHEN in_l AND in_r AND len(diffs) > 0
       THEN array_to_string(diffs, ',') ELSE '' END AS changed_cols
FROM j
WHERE (NOT in_l) OR (NOT in_r) OR len(diffs) > 0
"""

# q_equidepth twin — quantile_cont ≡ Spark's exact linear-interpolation
# percentile; bucket = cutpoints strictly below the value
ORACLE_SQL["q_equidepth"] = """
WITH cuts AS (
  SELECT quantile_cont(value,
      [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS c
  FROM events)
SELECT CAST(len(list_filter(cuts.c, x -> value > x)) AS INT) AS bucket,
       CAST(count(*) AS BIGINT) AS n, min(value) AS lo, max(value) AS hi
FROM events CROSS JOIN cuts
WHERE value IS NOT NULL
GROUP BY 1
"""

# q_inverted_index twin — sorted postings, df >= 5
ORACLE_SQL["q_inverted_index"] = """
WITH terms AS (
  SELECT DISTINCT doc_id,
         UNNEST(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                            x -> x != '')) AS term
  FROM documents)
SELECT term, CAST(count(*) AS BIGINT) AS df,
       list(doc_id ORDER BY doc_id) AS postings
FROM terms GROUP BY term HAVING count(*) >= 5
"""

# q_bm25_topk twin — same Lucene idf, same term-sorted score fold as
# operators/retrieval.py (list(.. ORDER BY term) ≡ sort_array fold)
ORACLE_SQL["q_bm25_topk"] = """
WITH tok AS (
  SELECT doc_id,
         UNNEST(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                            x -> x != '')) AS term
  FROM documents),
dl AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS dl FROM tok GROUP BY doc_id),
tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
       FROM tok GROUP BY doc_id, term),
q AS (SELECT UNNEST(['data', 'model', 'pipeline', 'training']) AS term),
docfreq AS (SELECT term, CAST(count(*) AS BIGINT) AS df
            FROM tf GROUP BY term),
n AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM documents),
ad AS (SELECT avg(dl) AS avgdl FROM dl),
hits AS (
  SELECT tf.doc_id, tf.term,
         ln(1.0 + (n.n - d.df + 0.5) / (d.df + 0.5))
         * ((tf.tf * (1.2 + 1)) / (tf.tf + 1.2 * ((1.0 - 0.75)
              + 0.75 * l.dl / ad.avgdl))) AS ts
  FROM tf
  JOIN q USING (term)
  JOIN docfreq d USING (term)
  JOIN dl l USING (doc_id)
  CROSS JOIN n CROSS JOIN ad),
scored AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_hit_terms,
         round(list_sum(list(ts ORDER BY term)), 6) AS score
  FROM hits GROUP BY doc_id),
ranked AS (
  SELECT *, CAST(row_number() OVER (ORDER BY score DESC, doc_id ASC) AS INT)
         AS rank
  FROM scored)
SELECT doc_id, n_hit_terms, score, rank FROM ranked WHERE rank <= 10
"""

# q_funnel twin — same strictly-after chaining of first-step timestamps
ORACLE_SQL["q_funnel"] = """
WITH s0 AS (
  SELECT user_id, min(ts) AS t FROM events
  WHERE event_type = 'signup' GROUP BY user_id),
s1 AS (
  SELECT e.user_id, min(e.ts) AS t
  FROM events e JOIN s0 ON e.user_id = s0.user_id
  WHERE e.event_type = 'view' AND e.ts > s0.t GROUP BY e.user_id),
s2 AS (
  SELECT e.user_id, min(e.ts) AS t
  FROM events e JOIN s1 ON e.user_id = s1.user_id
  WHERE e.event_type = 'purchase' AND e.ts > s1.t GROUP BY e.user_id),
c AS (
  SELECT 0 AS step_idx, 'signup' AS step,
         CAST(count(*) AS BIGINT) AS n_users FROM s0
  UNION ALL
  SELECT 1, 'view', CAST(count(*) AS BIGINT) FROM s1
  UNION ALL
  SELECT 2, 'purchase', CAST(count(*) AS BIGINT) FROM s2),
n1 AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM s0)
SELECT CAST(step_idx AS INT) AS step_idx, step, n_users,
       CASE WHEN n1.n > 0 THEN round(n_users / n1.n, 6)
            ELSE 0.0 END AS pct_of_first
FROM c CROSS JOIN n1
"""

# q_retention twin — Monday-start weeks (date_trunc parity with Spark)
ORACLE_SQL["q_retention"] = """
WITH weeks AS (
  SELECT DISTINCT user_id,
         CAST(date_trunc('week', ts) AS TIMESTAMP) AS w
  FROM events),
cohort AS (SELECT user_id, min(w) AS cohort_week FROM weeks GROUP BY user_id),
active AS (
  SELECT c.cohort_week,
         CAST(date_diff('day', c.cohort_week, w.w) / 7 AS INT)
             AS week_offset,
         CAST(count(*) AS BIGINT) AS n_users
  FROM weeks w JOIN cohort c ON w.user_id = c.user_id
  GROUP BY 1, 2),
sizes AS (SELECT cohort_week, CAST(count(*) AS BIGINT) AS sz
          FROM cohort GROUP BY cohort_week)
SELECT a.cohort_week, a.week_offset, a.n_users,
       round(a.n_users / CAST(s.sz AS DOUBLE), 6) AS pct
FROM active a JOIN sizes s USING (cohort_week)
"""

# q_outliers twin — same z formula, same sample stddev
ORACLE_SQL["q_outliers"] = """
WITH stats AS (
  SELECT event_type, avg(value) AS mu, stddev_samp(value) AS sd
  FROM events GROUP BY event_type)
SELECT e.event_id, e.event_type, e.value,
       round((e.value - s.mu) / s.sd, 6) AS z
FROM events e JOIN stats s USING (event_type)
WHERE s.sd > 0 AND abs(round((e.value - s.mu) / s.sd, 6)) > 2.0
"""

_DECONTAM_GRAM = hash63_sql("array_to_string(list_slice(t, i, i + 12), ' ')")
ORACLE_SQL["q_decontam"] = f"""
WITH tk AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                     x -> x != '') AS t
  FROM documents),
grams AS (
  SELECT doc_id,
         UNNEST(list_distinct(CASE WHEN len(t) >= 13 THEN
             list_transform(generate_series(1, len(t) - 12),
                            i -> {_DECONTAM_GRAM})
           ELSE CAST([] AS BIGINT[]) END)) AS g
  FROM tk),
bench AS (SELECT DISTINCT g FROM grams WHERE doc_id % 20 = 0),
hits AS (
  SELECT c.doc_id, CAST(count(*) AS BIGINT) AS n_hit_grams
  FROM grams c JOIN bench USING (g)
  WHERE c.doc_id % 20 != 0
  GROUP BY c.doc_id)
SELECT d.doc_id,
       COALESCE(h.n_hit_grams, 0) AS n_hit_grams,
       COALESCE(h.n_hit_grams, 0) >= 1 AS contaminated
FROM (SELECT doc_id FROM documents WHERE doc_id % 20 != 0) d
LEFT JOIN hits h USING (doc_id)
"""

# q_decontam_spans: the same 13-gram definition as q_decontam, but the
# output is the SURGICAL cut — every corpus occurrence of a benchmark
# gram marks its 13-token span, spans are removed by position anti-join
# (the set-equivalent of the operator's merged-interval fold).
_DSPAN_GRAM = hash63_sql("array_to_string(list_slice(t, pos, pos + 12), ' ')")
# q_collocations: textbook PMI over the same tokenization; ties and the
# top-k cut are deterministic under (pmi desc, w1, w2).
ORACLE_SQL["q_collocations"] = """
WITH tk AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                     x -> x != '') AS t
  FROM documents),
toks AS (SELECT unnest(t) AS w FROM tk),
uni AS (SELECT w, count(*) AS c FROM toks GROUP BY w),
tot AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM toks),
bg AS (
  SELECT doc_id, t,
         UNNEST(CASE WHEN len(t) >= 2 THEN generate_series(1, len(t) - 1)
                ELSE CAST([] AS BIGINT[]) END) AS i
  FROM tk),
pairs AS (SELECT t[i] AS w1, t[i + 1] AS w2 FROM bg),
big AS (SELECT w1, w2, count(*) AS c12 FROM pairs
        GROUP BY w1, w2 HAVING count(*) >= 5)
SELECT b.w1, b.w2, CAST(b.c12 AS BIGINT) AS n_pair,
       round(ln(b.c12 * tot.n / (u1.c * u2.c)), 6) AS pmi
FROM big b
JOIN uni u1 ON b.w1 = u1.w
JOIN uni u2 ON b.w2 = u2.w
CROSS JOIN tot
ORDER BY pmi DESC, b.w1, b.w2
LIMIT 50
"""

# q_pii_cards: the appended literals are the ONLY card-shaped runs in
# the corpus (verified: zero natural matches at sf0.01), so the oracle
# is the exact transform — the Luhn gate itself is pinned in pytest.
ORACLE_SQL["q_pii_cards"] = """
SELECT doc_id,
       text || ' pay [CARD] or order 4111111111111112 now' AS clean_text,
       CAST(1 AS BIGINT) AS n_cards
FROM documents
"""

# q_readability: identical regex counts — tokens for words, [.!?]+ runs
# for sentences (floored at 1), [aeiouy]+ runs for syllables.
ORACLE_SQL["q_readability"] = """
WITH c AS (
  SELECT doc_id,
         len(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                         x -> x != '')) AS w,
         greatest(len(regexp_extract_all(text, '[.!?]+')), 1) AS s,
         len(regexp_extract_all(lower(text), '[aeiouy]+')) AS y
  FROM documents)
SELECT doc_id,
       CAST(w AS BIGINT) AS n_words,
       CAST(s AS BIGINT) AS n_sentences,
       CAST(y AS BIGINT) AS n_syllables,
       CASE WHEN w > 0 THEN
         round(206.835 - 1.015 * (w / CAST(s AS DOUBLE))
               - 84.6 * (y / CAST(w AS DOUBLE)), 6)
       END AS flesch
FROM c
"""

ORACLE_SQL["q_decontam_spans"] = f"""
WITH tk AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                     x -> x != '') AS t
  FROM documents),
docs AS (SELECT doc_id, t, len(t) AS nt FROM tk WHERE doc_id % 20 != 0),
gpos AS (
  SELECT doc_id, t, unnest(generate_series(1, nt - 12)) AS pos
  FROM docs WHERE nt >= 13),
grams AS (SELECT doc_id, pos, {_DSPAN_GRAM} AS gram FROM gpos),
bpos AS (
  SELECT t, unnest(generate_series(1, len(t) - 12)) AS pos
  FROM tk WHERE doc_id % 20 = 0 AND len(t) >= 13),
bench AS (SELECT DISTINCT {_DSPAN_GRAM} AS gram FROM bpos),
del AS (
  SELECT DISTINCT doc_id, i FROM (
    SELECT g.doc_id, unnest(generate_series(g.pos, g.pos + 12)) AS i
    FROM grams g SEMI JOIN bench USING (gram))),
idx AS (
  SELECT doc_id, t, unnest(generate_series(1, nt)) AS i
  FROM docs WHERE nt >= 1),
tok AS (SELECT doc_id, i, t[i] AS x FROM idx),
surv AS (SELECT tok.* FROM tok ANTI JOIN del USING (doc_id, i)),
reb AS (
  SELECT doc_id, count(*) AS n_kept,
         string_agg(x, ' ' ORDER BY i) AS clean_text
  FROM surv GROUP BY doc_id)
SELECT d.doc_id,
       CAST(d.nt AS BIGINT) AS n_tokens,
       CAST(d.nt - COALESCE(r.n_kept, 0) AS BIGINT) AS n_removed,
       COALESCE(r.clean_text, '') AS clean_text
FROM docs d LEFT JOIN reb r USING (doc_id)
"""

ORACLE_SQL["q_line_dedup"] = """
WITH tk AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                     x -> x != '') AS t
  FROM documents),
idx AS (
  SELECT doc_id, t,
         unnest(generate_series(1,
           greatest(CAST(ceil(len(t) / 10.0) AS BIGINT), 1))) AS i
  FROM tk),
ln AS (
  SELECT doc_id, i - 1 AS line_no,
         array_to_string(list_slice(t, (i - 1) * 10 + 1, i * 10), ' ') AS line
  FROM idx),
kept AS (
  SELECT * FROM (
    SELECT doc_id, line_no, line,
           row_number() OVER (PARTITION BY line
                              ORDER BY doc_id, line_no) AS rn
    FROM ln) WHERE rn = 1),
reb AS (
  SELECT doc_id, string_agg(line, chr(10) ORDER BY line_no) AS text,
         CAST(count(*) AS BIGINT) AS n_lines_kept
  FROM kept GROUP BY doc_id),
tot AS (SELECT doc_id, count(*) AS n FROM ln GROUP BY doc_id)
SELECT t.doc_id, COALESCE(r.text, '') AS text,
       COALESCE(r.n_lines_kept, 0) AS n_lines_kept,
       CAST(t.n - COALESCE(r.n_lines_kept, 0) AS BIGINT) AS n_lines_removed
FROM tot t LEFT JOIN reb r USING (doc_id)
"""

ORACLE_SQL["q_canonical_docs"] = f"""
WITH cl AS ({ORACLE_SQL["q_dup_clusters"]}),
q AS ({ORACLE_SQL["q_quality_score"]}),
j AS (SELECT cl.doc_id, cl.cluster_id, q.quality
      FROM cl JOIN q USING (doc_id)),
r AS (SELECT *,
        row_number() OVER (PARTITION BY cluster_id
                           ORDER BY quality DESC, doc_id ASC) AS rn,
        count(*) OVER (PARTITION BY cluster_id) AS n
      FROM j)
SELECT cluster_id, doc_id, quality, CAST(n AS BIGINT) AS cluster_size
FROM r WHERE rn = 1
"""

_PASSAGE_GRAM = hash63_sql("array_to_string(list_slice(t, i, i + 9), ' ')")
ORACLE_SQL["q_dup_passages"] = f"""
WITH tk AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                     x -> x != '') AS t
  FROM documents),
grams AS (
  SELECT doc_id,
         UNNEST(list_distinct(CASE WHEN len(t) >= 10 THEN
             list_transform(generate_series(1, len(t) - 9),
                            i -> {_PASSAGE_GRAM})
           ELSE CAST([] AS BIGINT[]) END)) AS g
  FROM tk),
shared AS (SELECT g FROM grams GROUP BY g HAVING count(*) >= 2),
hits AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_shared
         FROM grams JOIN shared USING (g) GROUP BY doc_id),
tot AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM grams
        GROUP BY doc_id)
SELECT d.doc_id,
       COALESCE(t.n, 0) AS n_grams,
       COALESCE(h.n_shared, 0) AS n_shared_grams,
       round(COALESCE(h.n_shared, 0) / greatest(COALESCE(t.n, 0), 1), 6)
           AS shared_frac,
       round(COALESCE(h.n_shared, 0) / greatest(COALESCE(t.n, 0), 1), 6)
           >= 0.2 AS near_dup
FROM (SELECT doc_id FROM documents) d
LEFT JOIN tot t USING (doc_id)
LEFT JOIN hits h USING (doc_id)
"""

# q_span_dedup: same tokenization + gram hash as the Spark operator; the
# winner per duplicated gram is rn=1 over (doc_id, pos) — the exact twin of
# Spark's min(struct(id, pos)) — and removal is a position anti-join, the
# set-equivalent of the operator's merged-interval slice-between.
_SPAN_GRAM = hash63_sql("array_to_string(list_slice(t, pos, pos + 9), ' ')")
ORACLE_SQL["q_span_dedup"] = f"""
WITH tk AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                     x -> x != '') AS t
  FROM documents),
docs AS (SELECT doc_id, t, len(t) AS nt FROM tk),
gpos AS (
  SELECT doc_id, t, unnest(generate_series(1, nt - 9)) AS pos
  FROM docs WHERE nt >= 10),
grams AS (
  SELECT doc_id, pos, {_SPAN_GRAM} AS gram FROM gpos),
ranked AS (
  SELECT doc_id, pos,
         row_number() OVER (PARTITION BY gram ORDER BY doc_id, pos) AS rn,
         count(*) OVER (PARTITION BY gram) AS c
  FROM grams),
del AS (
  SELECT DISTINCT doc_id, i FROM (
    SELECT doc_id, unnest(generate_series(pos, pos + 9)) AS i
    FROM ranked WHERE c >= 2 AND rn > 1)),
idx AS (
  SELECT doc_id, t, unnest(generate_series(1, nt)) AS i
  FROM docs WHERE nt >= 1),
tok AS (SELECT doc_id, i, t[i] AS x FROM idx),
surv AS (SELECT tok.* FROM tok ANTI JOIN del USING (doc_id, i)),
reb AS (
  SELECT doc_id, count(*) AS n_kept,
         string_agg(x, ' ' ORDER BY i) AS clean_text
  FROM surv GROUP BY doc_id)
SELECT d.doc_id,
       CAST(d.nt AS BIGINT) AS n_tokens,
       CAST(d.nt - COALESCE(r.n_kept, 0) AS BIGINT) AS n_removed,
       COALESCE(r.clean_text, '') AS clean_text
FROM docs d LEFT JOIN reb r USING (doc_id)
"""

ORACLE_SQL["q_temperature_mix"] = f"""
WITH c AS (SELECT lang, count(*) AS n FROM documents GROUP BY lang),
m AS (SELECT min(n) AS n_min FROM c),
t AS (SELECT lang, CAST(round(sqrt(n_min / n) * 10000) AS BIGINT) AS th
      FROM c, m)
SELECT d.doc_id, d.lang, d.source
FROM documents d JOIN t USING (lang)
WHERE {hash63_sql("'temp:' || CAST(d.doc_id AS VARCHAR)")} % 10000 < t.th
"""

_FP = "md5(regexp_replace(lower(text), '[^a-z0-9]', '', 'g'))"
ORACLE_SQL["q_incremental_dedup"] = f"""
WITH corpus AS (
  SELECT doc_id, text, lang, source FROM documents WHERE doc_id % 10 != 0),
fresh AS (
  SELECT doc_id, text, lang, source FROM documents WHERE doc_id % 10 = 0),
batch AS (
  SELECT * FROM fresh
  UNION ALL
  SELECT doc_id + 1000000, text, lang, source FROM corpus WHERE doc_id % 7 = 0
  UNION ALL
  SELECT doc_id + 2000000, text, lang, source FROM fresh WHERE doc_id % 20 = 0),
fp AS (SELECT {_FP} AS fp, doc_id, text, lang, source FROM batch),
firsts AS (
  SELECT fp, doc_id, text, lang, source FROM (
    SELECT *, row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
    FROM fp) WHERE rn = 1),
cfp AS (SELECT DISTINCT {_FP} AS fp FROM corpus)
SELECT f.fp, f.doc_id, f.text, f.lang, f.source
FROM firsts f ANTI JOIN cfp c ON f.fp = c.fp
"""

ORACLE_SQL["q_corpus_stats"] = f"""
WITH t AS (SELECT lang, source, n_chars, len({_TOKS}) AS tok FROM documents)
SELECT lang, source,
       count(*) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS total_chars,
       CAST(sum(tok) AS BIGINT) AS total_tokens,
       CAST(sum(tok) AS DOUBLE) / count(*) AS avg_tokens,
       quantile_cont(n_chars, 0.5) AS median_chars
FROM t GROUP BY lang, source
"""


ORACLE_SQL["q_stratified_sample"] = f"""
SELECT doc_id, lang, source FROM documents
WHERE {hash63_sql("'strat:' || CAST(doc_id AS VARCHAR)")} % 10000 <
  CASE lang WHEN 'en' THEN 5000 WHEN 'fr' THEN 2500 WHEN 'de' THEN 2500
            WHEN 'es' THEN 1250 ELSE 625 END
"""

# Mirrors classifier.DEFAULT_WEIGHTS/DEFAULT_BIAS and the featurize()
# expression order (margin is a left fold: b + w0·f0 + … + w4·f4).
ORACLE_SQL["q_quality_logreg"] = f"""
WITH t AS (SELECT doc_id, text, {_TOKS} AS toks FROM documents),
f AS (SELECT doc_id,
        ln(1 + len(toks)) AS log1p_tokens,
        CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE)
          / greatest(length(text), 1) AS alpha_ratio,
        CAST(len(list_filter(toks, x -> list_contains({_STOPLIST}, x))) AS DOUBLE)
          / greatest(len(toks), 1) AS stop_ratio,
        CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE)
          / greatest(length(text), 1) AS digit_ratio,
        CAST(coalesce(list_sum(list_transform(toks, x -> length(x))), 0) AS DOUBLE)
          / greatest(len(toks), 1) AS mean_word_len
      FROM t),
p AS (SELECT doc_id,
        round(1.0 / (1.0 + exp(-(-3.5 + 0.55 * log1p_tokens + 2.0 * alpha_ratio
                                 + 3.0 * stop_ratio + (-4.0) * digit_ratio
                                 + (-0.12) * mean_word_len))), 6) AS prob
      FROM f)
SELECT doc_id, prob, prob >= 0.5 AS keep FROM p
"""


_VOCAB_CTE = f"""
tk AS (SELECT doc_id, {_TOKS} AS t FROM documents),
cnt AS (
  SELECT token, CAST(count(*) AS BIGINT) AS n_occurrences
  FROM (SELECT UNNEST(t) AS token FROM tk)
  GROUP BY token HAVING count(*) >= 2),
vocab AS (
  SELECT token,
         CAST(row_number() OVER (ORDER BY n_occurrences DESC, token ASC) AS INT)
           AS token_id,
         n_occurrences
  FROM (SELECT * FROM cnt
        ORDER BY n_occurrences DESC, token ASC LIMIT {{top_k}}))
"""

ORACLE_SQL["q_vocab"] = f"""
WITH {_VOCAB_CTE.format(top_k=200)}
SELECT token, token_id, n_occurrences FROM vocab
"""

ORACLE_SQL["q_token_ids"] = f"""
WITH {_VOCAB_CTE.format(top_k=100)},
pos AS (SELECT doc_id, UNNEST(generate_series(1, len(t))) AS i, t FROM tk),
tok AS (SELECT doc_id, i, t[i] AS token FROM pos),
enc AS (SELECT e.doc_id, e.i,
               CAST(COALESCE(v.token_id, 0) AS INT) AS tid
        FROM tok e LEFT JOIN vocab v USING (token)),
agg AS (SELECT doc_id,
               list(tid ORDER BY i) AS token_ids,
               CAST(count(*) AS BIGINT) AS n_tokens,
               CAST(sum(CASE WHEN tid = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_oov
        FROM enc GROUP BY doc_id)
SELECT d.doc_id,
       COALESCE(a.token_ids, CAST([] AS INT[])) AS token_ids,
       COALESCE(a.n_tokens, 0) AS n_tokens,
       COALESCE(a.n_oov, 0) AS n_oov
FROM documents d LEFT JOIN agg a USING (doc_id)
"""


ORACLE_SQL["q_ship_priority"] = f"""
SELECT l_orderkey,
       {_dec_sum('l_extendedprice * (1.0 - l_discount)', 'revenue')},
       o_orderdate, o_orderpriority
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-06-01 00:00:00'
  AND l_shipdate > TIMESTAMP '1998-06-01 00:00:00'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, o_orderdate ASC, l_orderkey ASC
LIMIT 10
"""

ORACLE_SQL["q_region_volume"] = f"""
SELECT n_name,
       {_dec_sum('l_extendedprice * (1.0 - l_discount)', 'revenue')}
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
GROUP BY n_name
"""

ORACLE_SQL["q_promo_revenue"] = """
SELECT round(
  100.0 * CAST(SUM(CAST(CASE WHEN p_type = 'PROMO'
                  THEN l_extendedprice * (1.0 - l_discount)
                  ELSE 0.0 END AS DECIMAL(18,6))) AS DOUBLE)
        / CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount)
                  AS DECIMAL(18,6))) AS DOUBLE), 6) AS promo_pct
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1997-09-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1997-10-01 00:00:00'
"""

from datapump_spark.tpch import TPCH_ORACLES  # noqa: E402

ORACLE_SQL.update(TPCH_ORACLES)

# One SELECT per expectation check, UNION ALL'd into the tall audit frame
# (operators/expectations.py); each line restates the check's violation
# semantics independently of the Spark implementation.
_EXPECT_CHECK = """
SELECT '{table}' AS table_name, '{check}' AS check,
       CAST(({violated}) AS BIGINT) AS violated,
       CAST((SELECT count(*) FROM {table}) AS BIGINT) AS total,
       ({violated}) = 0 AS ok
FROM {table}
"""


def _expect(table: str, check: str, violated: str) -> str:
    return _EXPECT_CHECK.format(table=table, check=check, violated=violated)


ORACLE_SQL["q_expectations"] = " UNION ALL ".join([
    _expect("events", "not_null:event_id",
            "sum(CASE WHEN event_id IS NULL THEN 1 ELSE 0 END)"),
    _expect("events", "not_null:ts",
            "sum(CASE WHEN ts IS NULL THEN 1 ELSE 0 END)"),
    _expect("events", "not_null:user_id",
            "sum(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END)"),
    _expect("events", "in_set:event_type",
            "sum(CASE WHEN event_type IN "
            "('click','error','purchase','signup','view') THEN 0 ELSE 1 END)"),
    _expect("events", "in_range:value",
            "sum(CASE WHEN value >= 0.0 AND value <= 500.0 THEN 0 ELSE 1 END)"),
    _expect("events", "unique:event_id",
            "count(event_id) - count(DISTINCT event_id)"),
    _expect("lineitem", "in_range:l_discount",
            "sum(CASE WHEN l_discount >= 0.0 AND l_discount <= 0.1 "
            "THEN 0 ELSE 1 END)"),
    _expect("lineitem", "in_range:l_quantity",
            "sum(CASE WHEN l_quantity >= 1.0 AND l_quantity <= 50.0 "
            "THEN 0 ELSE 1 END)"),
    _expect("lineitem", "not_null:l_orderkey",
            "sum(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END)"),
    _expect("orders", "in_set:o_orderstatus",
            "sum(CASE WHEN o_orderstatus IN ('P','O','F') THEN 0 ELSE 1 END)"),
    _expect("orders", "not_null:o_orderdate",
            "sum(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END)"),
    _expect("orders", "unique:o_orderkey",
            "count(o_orderkey) - count(DISTINCT o_orderkey)"),
    _expect("lineitem", "ri:lineitem.l_orderkey->orders.o_orderkey",
            "sum(CASE WHEN NOT EXISTS (SELECT 1 FROM orders "
            "WHERE o_orderkey = l_orderkey) THEN 1 ELSE 0 END)"),
    _expect("lineitem", "ri:lineitem.l_partkey->part.p_partkey",
            "sum(CASE WHEN NOT EXISTS (SELECT 1 FROM part "
            "WHERE p_partkey = l_partkey) THEN 1 ELSE 0 END)"),
    _expect("orders", "ri:orders.o_custkey->customer.c_custkey",
            "sum(CASE WHEN NOT EXISTS (SELECT 1 FROM customer "
            "WHERE c_custkey = o_custkey) THEN 1 ELSE 0 END)"),
])

ORACLE_SQL["q_band_join"] = f"""
WITH bands(band, lo, hi) AS (VALUES
  -- CAST: bare decimal literals type as DECIMAL(4,1) in DuckDB, which the
  -- driver's normalizer may render unlike Python float (the HUGEINT
  -- lesson, VERDICT r6) — keep oracle outputs in the standard type set.
  ('nano', CAST(0.0 AS DOUBLE), CAST(1.0 AS DOUBLE)),
  ('micro', CAST(1.0 AS DOUBLE), CAST(10.0 AS DOUBLE)),
  ('small', CAST(10.0 AS DOUBLE), CAST(50.0 AS DOUBLE)),
  ('mid', CAST(50.0 AS DOUBLE), CAST(150.0 AS DOUBLE)),
  ('large', CAST(150.0 AS DOUBLE), CAST(500.0 AS DOUBLE)))
SELECT band, lo, hi, CAST(count(*) AS BIGINT) AS n_events,
       {_DEC_SUM.format(expr='value')} AS sum_value
FROM events LEFT JOIN bands ON value >= lo AND value < hi
GROUP BY band, lo, hi
ORDER BY lo ASC NULLS LAST
"""

ORACLE_SQL["q_unpivot"] = """
SELECT l_orderkey, l_linenumber, 'l_quantity' AS measure,
       l_quantity AS value FROM lineitem
UNION ALL
SELECT l_orderkey, l_linenumber, 'l_extendedprice', l_extendedprice
FROM lineitem
UNION ALL
SELECT l_orderkey, l_linenumber, 'l_discount', l_discount FROM lineitem
UNION ALL
SELECT l_orderkey, l_linenumber, 'l_tax', l_tax FROM lineitem
"""

ORACLE_SQL["q_state_intervals"] = """
WITH flagged AS (
  SELECT user_id, ts, event_type, event_id,
         CASE WHEN lag(event_type) OVER w IS NULL
                OR lag(event_type) OVER w <> event_type THEN 1 ELSE 0 END AS chg
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)),
runs AS (
  SELECT *, SUM(chg) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
                           ROWS UNBOUNDED PRECEDING) AS island
  FROM flagged),
islands AS (
  SELECT user_id, island,
         min(event_type) AS event_type,  -- constant within an island
         min(ts) AS effective_from, max(ts) AS last_ts,
         CAST(count(*) AS BIGINT) AS n_events
  FROM runs GROUP BY user_id, island)
SELECT user_id, event_type, effective_from,
       lead(effective_from) OVER w2 AS effective_to,
       last_ts, n_events,
       lead(effective_from) OVER w2 IS NULL AS is_current
FROM islands
WINDOW w2 AS (PARTITION BY user_id ORDER BY island ASC)
"""

ORACLE_SQL["q_event_transitions"] = """
WITH seq AS (
  SELECT user_id, event_type,
         lag(event_type) OVER (PARTITION BY user_id
                               ORDER BY ts ASC, event_id ASC) AS prev
  FROM events)
SELECT prev AS from_state, event_type AS to_state,
       CAST(count(*) AS BIGINT) AS n_transitions,
       round(count(*) / SUM(count(*)) OVER (PARTITION BY prev), 6) AS p
FROM seq WHERE prev IS NOT NULL
GROUP BY from_state, to_state
"""

from datapump_spark.operators.graph import pagerank_oracle_sql  # noqa: E402

_PAGERANK_EDGES = """
SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
UNION ALL
SELECT DISTINCT l_suppkey * 2 + 1 AS src, o_custkey * 2 AS dst
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
"""

# labels applied at the output boundary only, mirroring the Spark query
ORACLE_SQL["q_pagerank"] = f"""
SELECT CASE WHEN node % 2 = 0 THEN 'c:' || CAST(node // 2 AS VARCHAR)
            ELSE 's:' || CAST((node - 1) // 2 AS VARCHAR) END AS node,
       rank
FROM ({pagerank_oracle_sql(_PAGERANK_EDGES, n_iter=3)})
"""

# From-scratch twin of the incrementally-merged state (the hash match is
# the losslessness proof for merge_agg_state).
ORACLE_SQL["q_incremental_agg"] = """
SELECT event_type, CAST(count(*) AS BIGINT) AS n,
       CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS value_sum,
       round(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
             / count(value), 6) AS value_avg,
       min(value) AS value_min, max(value) AS value_max
FROM events GROUP BY event_type
"""

ORACLE_SQL["q_yoy_growth"] = """
WITH yearly AS (
  SELECT n_name, CAST(year(l_shipdate) AS INT) AS l_year,
         CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount)
                       AS DECIMAL(18,6))) AS DOUBLE) AS revenue
  FROM lineitem
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation   ON s_nationkey = n_nationkey
  GROUP BY n_name, l_year)
SELECT n_name, l_year, revenue,
       round((revenue - lag(revenue) OVER w) / lag(revenue) OVER w, 6)
         AS yoy_pct
FROM yearly
WINDOW w AS (PARTITION BY n_name ORDER BY l_year ASC)
"""

# Independent formulation of the as-of variants: a LATERAL probe per event
# (nearest order date, max orderkey on ties) — cross-checks the Spark
# union-merge algorithm with a structurally different one.
ORACLE_SQL["q_asof_tolerance"] = """
SELECT e.event_id, e.user_id, e.ts, m.matched_ts, m.o_orderkey
FROM events e
LEFT JOIN LATERAL (
  SELECT o_orderdate AS matched_ts, max(o_orderkey) AS o_orderkey
  FROM orders
  WHERE o_custkey = e.user_id
    AND o_orderdate <= e.ts
    AND e.ts - o_orderdate <= INTERVAL 30 DAY
  GROUP BY o_orderdate
  ORDER BY o_orderdate DESC LIMIT 1) m ON TRUE
"""

ORACLE_SQL["q_asof_forward"] = """
SELECT e.event_id, e.user_id, e.ts, m.matched_ts, m.o_orderkey
FROM events e
LEFT JOIN LATERAL (
  SELECT o_orderdate AS matched_ts, max(o_orderkey) AS o_orderkey
  FROM orders
  WHERE o_custkey = e.user_id AND o_orderdate >= e.ts
  GROUP BY o_orderdate
  ORDER BY o_orderdate ASC LIMIT 1) m ON TRUE
"""


# ---- round-3 cleaning / fuzzy-join / zorder twins --------------------------

from datapump_spark.operators.cleaning import CONTROL_RE, WS_RUN_RE  # noqa: E402
from datapump_spark.operators.zorder import scale_sql, zvalue_sql  # noqa: E402

ORACLE_SQL["q_normalize_text"] = f"""
WITH m AS (
  SELECT doc_id, length(text) AS n_chars_raw,
         ' ' || chr(9) || ' '
           || regexp_replace(text, ' ', '  ' || chr(9), 'g')
           || chr(9) || '  ' AS messy
  FROM documents),
n AS (
  SELECT doc_id, n_chars_raw,
         trim(regexp_replace(
                regexp_replace(messy, '{CONTROL_RE}', '', 'g'),
                '{WS_RUN_RE}', ' ', 'g')) AS text_norm
  FROM m)
SELECT doc_id, n_chars_raw, length(text_norm) AS n_chars_norm, text_norm
FROM n
"""

# Same pseudo-line rechunk as q_line_dedup's oracle; the frequency table is
# scoped per source and an anti join removes boilerplate everywhere.
_LINED = """
tk AS (
  SELECT d.doc_id, d.source,
         list_filter(string_split_regex(lower(d.text), '[^a-z0-9]+'),
                     x -> x != '') AS t
  FROM documents d),
idx AS (
  SELECT doc_id, source, t,
         unnest(generate_series(1,
           greatest(CAST(ceil(len(t) / 10.0) AS BIGINT), 1))) AS i
  FROM tk),
ln AS (
  SELECT doc_id, source, i - 1 AS line_no,
         array_to_string(list_slice(t, (i - 1) * 10 + 1, i * 10), ' ') AS line
  FROM idx)
"""

ORACLE_SQL["q_strip_boilerplate"] = f"""
WITH {_LINED},
per_doc AS (SELECT DISTINCT source, doc_id, line FROM ln),
counts AS (
  SELECT source, line, count(*) AS n_docs
  FROM per_doc GROUP BY source, line),
tot AS (
  SELECT source, count(DISTINCT doc_id) AS t
  FROM per_doc GROUP BY source),
bp AS (
  SELECT c.source, c.line
  FROM counts c JOIN tot USING (source)
  WHERE c.n_docs >= 2 AND c.n_docs >= tot.t * 0.05),
kept AS (
  SELECT l.doc_id, l.line_no, l.line
  FROM ln l ANTI JOIN bp ON l.source = bp.source AND l.line = bp.line),
reb AS (
  SELECT doc_id, string_agg(line, chr(10) ORDER BY line_no) AS text,
         CAST(count(*) AS BIGINT) AS n_lines_kept
  FROM kept GROUP BY doc_id),
tot2 AS (SELECT doc_id, source, count(*) AS n FROM ln GROUP BY doc_id, source)
SELECT t.doc_id, t.source, COALESCE(r.text, '') AS text,
       COALESCE(r.n_lines_kept, 0) AS n_lines_kept,
       CAST(t.n - COALESCE(r.n_lines_kept, 0) AS BIGINT) AS n_lines_removed
FROM tot2 t LEFT JOIN reb r USING (doc_id)
"""

# Independent all-pairs formulation (length prefilter only): a hash match
# against the banded Spark plan also proves the blocking lost no pairs.
ORACLE_SQL["q_fuzzy_pairs"] = """
WITH tk AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                     x -> x != '') AS t
  FROM documents),
p AS (
  SELECT doc_id, array_to_string(list_slice(t, 1, 10), ' ') AS k
  FROM tk)
SELECT a.doc_id AS id_l, b.doc_id AS id_r,
       CAST(levenshtein(a.k, b.k) AS INT) AS dist
FROM p a JOIN p b
  ON a.doc_id < b.doc_id
 AND abs(length(a.k) - length(b.k)) <= 5
WHERE levenshtein(a.k, b.k) <= 5
"""

_ZX = scale_sql("l_partkey", "mn1", "mx1", 16)
_ZY = scale_sql("l_suppkey", "mn2", "mx2", 16)
ORACLE_SQL["q_zorder"] = f"""
WITH s AS (
  SELECT min(l_partkey) AS mn1, max(l_partkey) AS mx1,
         min(l_suppkey) AS mn2, max(l_suppkey) AS mx2
  FROM lineitem),
sc AS (
  SELECT l_orderkey, l_linenumber,
         {_ZX} AS zx, {_ZY} AS zy
  FROM lineitem, s)
SELECT l_orderkey, l_linenumber,
       CAST({zvalue_sql(["zx", "zy"], 16)} AS BIGINT) AS zval
FROM sc
"""

ORACLE_SQL["q_token_entropy"] = """
WITH tk AS (
  SELECT doc_id,
         unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                            x -> x != '')) AS tok
  FROM documents),
c AS (SELECT doc_id, tok, count(*) AS c FROM tk GROUP BY doc_id, tok),
e AS (
  SELECT doc_id, sum(c) AS n, count(*) AS nd,
         sum(c * ln(c)) AS clc
  FROM c GROUP BY doc_id)
SELECT d.doc_id,
       CAST(COALESCE(e.n, 0) AS BIGINT) AS n_tokens,
       CAST(COALESCE(e.nd, 0) AS BIGINT) AS n_distinct_tokens,
       COALESCE(round(ln(e.n) - e.clc / e.n, 6), 0.0) AS entropy,
       COALESCE(round((ln(e.n) - e.clc / e.n)
                      / ln(greatest(CAST(e.nd AS DOUBLE), 2.0)), 6), 0.0)
         AS entropy_ratio
FROM documents d LEFT JOIN e USING (doc_id)
"""

# Mirrors operators/drift.py:time_split_drift exactly: same bucket floor
# arithmetic (IEEE doubles), same integer-µs midpoint, same Laplace
# smoothing (eps=0.5, 10 buckets → +5.0 totals); the full (group × bucket)
# grid reproduces the Spark fold's missing-cell terms.
ORACLE_SQL["q_psi_drift"] = """
WITH span AS (
  SELECT min(epoch_us(ts)) AS lo_us, max(epoch_us(ts)) AS hi_us,
         CAST(min(value) AS DOUBLE) AS lo, CAST(max(value) AS DOUBLE) AS hi
  FROM events),
tagged AS (
  SELECT event_type,
         CAST(least(9, greatest(0,
              CAST(floor((value - s.lo) / ((s.hi - s.lo) / 10)) AS BIGINT)))
              AS INT) AS bucket,
         CASE WHEN epoch_us(ts) < s.lo_us + (s.hi_us - s.lo_us) // 2
              THEN 0 ELSE 1 END AS side
  FROM events, span s),
counts AS (
  SELECT event_type, bucket,
         count(*) FILTER (side = 0) AS nb,
         count(*) FILTER (side = 1) AS nc
  FROM tagged GROUP BY event_type, bucket),
tots AS (SELECT event_type, sum(nb) AS n_base, sum(nc) AS n_cur
         FROM counts GROUP BY event_type),
grid AS (
  SELECT t.event_type, g.bucket,
         COALESCE(c.nb, 0) AS nb, COALESCE(c.nc, 0) AS nc,
         t.n_base, t.n_cur
  FROM tots t
  CROSS JOIN (SELECT unnest(range(10)) AS bucket) g
  LEFT JOIN counts c ON c.event_type = t.event_type AND c.bucket = g.bucket),
terms AS (
  SELECT event_type, n_base, n_cur,
         (nb + 0.5) / (n_base + 5.0) AS p,
         (nc + 0.5) / (n_cur + 5.0) AS q
  FROM grid)
SELECT event_type,
       CAST(any_value(n_base) AS BIGINT) AS n_base,
       CAST(any_value(n_cur) AS BIGINT) AS n_cur,
       round(sum((p - q) * ln(p / q)), 6) AS psi,
       round(sum(q * ln(q / p)), 6) AS kl,
       round(sum(abs(p - q) / 2), 6) AS tvd
FROM terms GROUP BY event_type
"""

# quantile_cont matches Spark's exact interpolated percentile bit-for-bit
# (verified: identical doubles on this data); derived columns round at 6.
ORACLE_SQL["q_winsorize"] = """
WITH b AS (
  SELECT event_type,
         quantile_cont(value, 0.01) AS lo,
         quantile_cont(value, 0.25) AS p25,
         quantile_cont(value, 0.50) AS med,
         quantile_cont(value, 0.75) AS p75,
         quantile_cont(value, 0.99) AS hi
  FROM events GROUP BY event_type)
SELECT e.event_id, e.event_type, e.value,
       round(least(greatest(e.value, b.lo), b.hi), 6) AS value_w,
       round(CASE WHEN b.p75 - b.p25 > 0
                  THEN (e.value - b.med) / (b.p75 - b.p25)
                  ELSE 0.0 END, 6) AS value_robust
FROM events e JOIN b USING (event_type)
"""

ORACLE_SQL["q_reservoir_sample"] = """
SELECT doc_id, lang, source
FROM documents
ORDER BY md5('topk:' || CAST(doc_id AS VARCHAR)) ASC, doc_id ASC
LIMIT 100
"""

ORACLE_SQL["q_variant_extract"] = """
SELECT user_id,
       CAST(sum(CAST(props ->> '$.k' AS BIGINT)) AS BIGINT) AS k_sum,
       CAST(count(props ->> '$.k') AS BIGINT) AS n_props
FROM events GROUP BY user_id
"""

# The two-pass Misra-Gries result is EXACT (candidate superset + exact
# recount), so the oracle is the plain GROUP BY … HAVING it replaces.
from datapump_spark.functions.hashing import tokens_sql  # noqa: E402

ORACLE_SQL["q_heavy_hitters"] = f"""
WITH tk AS (
  SELECT unnest({tokens_sql('text')}) AS tok FROM documents),
c AS (SELECT tok, count(*) AS cnt FROM tk GROUP BY tok),
n AS (SELECT sum(cnt) AS n FROM c)
SELECT tok, CAST(cnt AS BIGINT) AS cnt
FROM c, n WHERE cnt > 0.001 * n
"""

# Mirrors operators/sparse_sim.py term-for-term: 1-based adjacent bigrams,
# sklearn-smoothed global idf, per-doc L2 norm, co-blocked pairs, cosine
# rounded to 6 dp before thresholding on both engines.
ORACLE_SQL["q_sparse_sim"] = """
WITH d AS (
  SELECT doc_id, lang, source,
         list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                     x -> x != '') AS t
  FROM documents),
bg AS (
  SELECT doc_id, lang, source, t[i] || '_' || t[i+1] AS term
  FROM d CROSS JOIN unnest(range(1, len(t))) AS s(i)),
tf AS (
  SELECT doc_id, any_value(lang) AS lang, any_value(source) AS source,
         term, CAST(count(*) AS DOUBLE) AS tf
  FROM bg GROUP BY doc_id, term),
n AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM d),
dfq AS (SELECT term, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY term),
w AS (
  SELECT tf.doc_id, lang, source, tf.term,
         tf.tf * (ln((1.0 + n.n) / (1.0 + dfq.df)) + 1.0) AS w
  FROM tf, dfq, n WHERE tf.term = dfq.term),
nrm AS (SELECT doc_id, sqrt(sum(w * w)) AS nrm FROM w GROUP BY doc_id),
u AS (SELECT w.doc_id, lang, source, term, w / nrm AS u
      FROM w JOIN nrm USING (doc_id))
SELECT a.doc_id AS id_l, b.doc_id AS id_r,
       round(sum(a.u * b.u), 6) AS cos
FROM u a JOIN u b
  ON a.term = b.term AND a.lang = b.lang AND a.source = b.source
 AND a.doc_id < b.doc_id
GROUP BY 1, 2
HAVING round(sum(a.u * b.u), 6) >= 0.2
"""

ORACLE_SQL["q_cdc_apply"] = """
WITH c AS (
  SELECT user_id, ts, event_id, value, event_type,
         CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op
  FROM events),
r AS (
  SELECT *, row_number() OVER (PARTITION BY user_id
                               ORDER BY ts DESC, event_id DESC) AS rn
  FROM c)
SELECT user_id, ts, event_id, value, event_type
FROM r WHERE rn = 1 AND op <> 'D'
"""

ORACLE_SQL["q_rolling_active"] = """
WITH days AS (SELECT DISTINCT CAST(ts AS DATE) AS day FROM events)
SELECT d.day,
       CAST(count(DISTINCT e.user_id) AS BIGINT) AS n_active
FROM days d
JOIN events e
  ON CAST(e.ts AS DATE) BETWEEN d.day - INTERVAL 6 DAY AND d.day
GROUP BY d.day
"""

# Efraimidis–Spirakis twin: identical hash63-derived uniform, identical
# exponential key −ln(u)/w, same doc_id tie-break. Key floats differ by
# ≤1 ulp across libm implementations — ordering flips would need two keys
# within 1 ulp, impossible for distinct md5-derived uniforms in practice.
ORACLE_SQL["q_weighted_sample"] = f"""
SELECT doc_id, source, n_chars
FROM documents
ORDER BY CASE WHEN n_chars > 0 THEN
         -ln(({hash63_sql("'wsample:' || CAST(doc_id AS VARCHAR)")} + 1.0)
             / 1152921504606846977.0) / n_chars
         ELSE 1e308 END ASC, doc_id ASC
LIMIT 100
"""

ORACLE_SQL["q_score_pctrank"] = f"""
WITH q AS ({ORACLE_SQL["q_quality_score"]})
SELECT q.doc_id, d.source, q.quality,
       round(percent_rank() OVER (PARTITION BY d.source
                                  ORDER BY q.quality ASC, q.doc_id ASC), 6)
         AS pct_rank
FROM q JOIN documents d ON q.doc_id = d.doc_id
"""

# Same recursive-CTE clustering as q_dup_clusters, then the identical
# hash-threshold CASE on the cluster id (0.9/0.05/0.05 boundaries).
ORACLE_SQL["q_leakage_split"] = f"""
WITH cl AS ({ORACLE_SQL["q_dup_clusters"]})
SELECT doc_id, cluster_id,
       CASE WHEN {hash63_sql("'split:' || CAST(cluster_id AS VARCHAR)")}
                 % 10000 < 9000 THEN 'train'
            WHEN {hash63_sql("'split:' || CAST(cluster_id AS VARCHAR)")}
                 % 10000 < 9500 THEN 'val'
            ELSE 'test' END AS split
FROM cl
"""


# --- URL hygiene (operators/urls.py) -----------------------------------
# The Spark side canonicalizes with parse_url (java.net.URI semantics);
# these twins re-derive scheme/host/port/path/query with DuckDB regexes —
# an independent formulation, so agreement is evidence, not tautology.

_URL_SYNTH = """
  SELECT doc_id,
    CASE CAST(doc_id % 4 AS INT)
      WHEN 0 THEN 'https://WWW.' || source || '.example.com:443/' || lang
                  || '/page/' || CAST(doc_id AS VARCHAR)
                  || '/?utm_source=feed&ref=' || lang || '#top'
      WHEN 1 THEN 'http://' || source || '.example.com:80/a/'
                  || CAST(doc_id AS VARCHAR)
      WHEN 2 THEN 'https://' || source || '.news.example.co/p'
                  || CAST(doc_id AS VARCHAR) || '?id='
                  || CAST(doc_id AS VARCHAR) || '&utm_campaign=x'
      ELSE 'https://cdn.' || source || '.example.com/'
    END AS url
  FROM documents
"""

_URL_CANON = r"""
  SELECT doc_id, url,
    scheme || '://' || host
      || CASE WHEN port <> '' AND NOT (scheme = 'http' AND port = '80')
                            AND NOT (scheme = 'https' AND port = '443')
              THEN ':' || port ELSE '' END
      || CASE WHEN length(rawpath) > 1 AND rawpath LIKE '%/'
              THEN substr(rawpath, 1, length(rawpath) - 1) ELSE rawpath END
      || CASE WHEN cleanq <> '' THEN '?' || cleanq ELSE '' END AS canon_url,
    host,
    CASE WHEN length(host) - length(replace(host, '.', '')) <= 1 THEN host
         ELSE regexp_extract(host, '([^.]+\.[^.]+)$', 1) END AS domain
  FROM (
    SELECT doc_id, url,
      lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*):', 1)) AS scheme,
      regexp_replace(
        lower(regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#:]+)', 1)),
        '^www\.', '') AS host,
      regexp_extract(
        regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1),
        ':([0-9]+)$', 1) AS port,
      regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]+([^?#]*)', 1)
        AS rawpath,
      regexp_replace(
        regexp_replace(regexp_extract(url, '\?([^#]*)', 1),
                       '(^|&)utm_[a-z]+=[^&]*', '', 'g'),
        '^&', '') AS cleanq
    FROM u)
"""

ORACLE_SQL["q_url_canon"] = f"""
WITH u AS ({_URL_SYNTH})
{_URL_CANON}
"""

ORACLE_SQL["q_domain_volume"] = f"""
WITH u AS ({_URL_SYNTH}),
c AS ({_URL_CANON})
SELECT domain, COUNT(*) AS n_urls,
       COUNT(DISTINCT canon_url) AS n_canon_urls
FROM c GROUP BY domain
"""

ORACLE_SQL["q_blocklist"] = f"""
WITH t AS (
  SELECT doc_id, {tokens_sql('text')} AS toks FROM documents)
SELECT doc_id,
       CAST(len(toks) AS BIGINT) AS n_tokens,
       CAST(len(list_filter(toks,
            x -> x IN ('slow', 'dup', 'spam'))) AS BIGINT) AS n_hits,
       round(CASE WHEN len(toks) > 0
                  THEN CAST(len(list_filter(toks,
                       x -> x IN ('slow', 'dup', 'spam'))) AS DOUBLE)
                       / len(toks)
                  ELSE 0.0 END, 6) AS hit_frac
FROM t
"""


# q_sniff_media: the oracle never parses a byte — it derives the expected
# per-format stats from the SAME doc_id arithmetic the payload builder
# used, so the entire Spark byte path (hex/unhex little-endian assembly →
# substring/conv header parsing) must round-trip exactly to hash-match.
ORACLE_SQL["q_sniff_media"] = """
WITH m AS (
  SELECT doc_id, strlen(text) AS nb, n_chars,
         CAST(doc_id % 3 AS INT) AS k
  FROM documents)
SELECT CASE k WHEN 0 THEN 'gif' WHEN 1 THEN 'wav' ELSE 'mp4' END AS format,
       CASE k WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
       COUNT(*) AS n,
       round(avg(CASE WHEN k = 0
                      THEN CAST(doc_id % 1024 + 1 AS DOUBLE) END), 6) AS avg_w,
       round(avg(CASE WHEN k = 0
                      THEN CAST(doc_id % 768 + 1 AS DOUBLE) END), 6) AS avg_h,
       round(avg(CASE WHEN k = 1 THEN 16000.0 END), 6) AS avg_sr,
       round(avg(CASE WHEN k = 1
                      THEN floor(n_chars * 1000.0 / 32000) END), 6)
         AS avg_dur_ms,
       CAST(SUM(CASE k WHEN 0 THEN 14 + nb
                       WHEN 1 THEN 44 + nb
                       ELSE 12 + nb END) AS BIGINT) AS total_bytes
FROM m GROUP BY k
"""


# q_locf twin — same dense spine as q_interpolate, then IGNORE NULLS
# last_value + observed-row distance for the limit guard
ORACLE_SQL["q_locf"] = """
WITH agg AS (
  SELECT user_id, date_trunc('hour', ts) AS bucket_ts,
         round(avg(value), 6) AS avg_value
  FROM events GROUP BY 1, 2),
lim AS (SELECT user_id, min(bucket_ts) AS lo, max(bucket_ts) AS hi
        FROM agg GROUP BY 1),
spine AS (SELECT user_id,
                 unnest(generate_series(lo, hi, INTERVAL '1 hour')) AS bucket_ts
          FROM lim),
dense AS (
  SELECT s.user_id, s.bucket_ts, a.avg_value
  FROM spine s LEFT JOIN agg a USING (user_id, bucket_ts)),
rn AS (
  SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY bucket_ts) AS r
  FROM dense),
nbr AS (
  SELECT *,
    max(CASE WHEN avg_value IS NOT NULL THEN r END) OVER (
      PARTITION BY user_id ORDER BY r
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_rn,
    last_value(avg_value IGNORE NULLS) OVER (
      PARTITION BY user_id ORDER BY r
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_val
  FROM rn)
SELECT user_id, bucket_ts, avg_value,
  CASE WHEN avg_value IS NOT NULL THEN avg_value
       WHEN r - prev_rn <= 3 THEN prev_val
  END AS filled,
  avg_value IS NULL AS was_gap
FROM nbr
"""


# q_simhash_pairs: the Spark side prunes with the Manku pigeonhole block
# index; the oracle is the O(n²) brute force over the same signatures —
# the blocked index is lossless, so the row sets must match EXACTLY.
ORACLE_SQL["q_simhash_pairs"] = f"""
WITH s AS ({ORACLE_SQL["q_simhash"]})
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
FROM s a JOIN s b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
"""


# q_incremental_near_dup: same md5+universal-mix MinHash signatures,
# band-collision candidates, and agreeing-minhash Jaccard estimator as
# the operator — index = even doc_ids, batch = odd; survivors drop
# cross-index hits first, then higher-id within-batch hits.
_agree16 = "(" + " + ".join(
    f"CASE WHEN a.mh{i} = b.mh{i} THEN 1 ELSE 0 END" for i in range(16)
) + ") / 16.0"
ORACLE_SQL["q_incremental_near_dup"] = f"""
WITH {_SHINGLES_CTE},
sig AS (SELECT doc_id, {_mh16} FROM s GROUP BY doc_id),
bsig AS (SELECT * FROM sig WHERE doc_id % 2 = 1),
isig AS (SELECT * FROM sig WHERE doc_id % 2 = 0),
cross_hit AS (
  SELECT DISTINCT a.doc_id
  FROM bsig a JOIN isig b ON ({_band_conds})
  WHERE {_agree16} >= 0.5),
surv AS (
  SELECT * FROM bsig
  WHERE doc_id NOT IN (SELECT doc_id FROM cross_hit)),
batch_hit AS (
  SELECT DISTINCT a.doc_id
  FROM surv a JOIN surv b ON a.doc_id > b.doc_id AND ({_band_conds})
  WHERE {_agree16} >= 0.5)
SELECT * FROM surv
WHERE doc_id NOT IN (SELECT doc_id FROM batch_hit)
UNION ALL
-- sub-shingle batch docs (< shingle_n tokens → no signature) are
-- trivially novel: admitted with NULL mh columns, mirroring the
-- operator's left signature join
SELECT d.doc_id, {", ".join(f"CAST(NULL AS BIGINT) AS mh{i}"
                            for i in range(16))}
FROM documents d
WHERE d.doc_id % 2 = 1
  AND d.doc_id NOT IN (SELECT doc_id FROM sig)
"""


# q_importance_weights / q_dsir_sample: the DSIR estimator mirrored —
# hashed unigram+bigram bag features (md5 profile), Laplace-smoothed
# bucket multinomials, per-doc mean log-ratio, Gumbel top-k from the
# seeded doc-id hash. Shared feature CTE (bag semantics: duplicates kept).
_DSIR_FEATS = f"""
tk AS (SELECT doc_id, {tokens_sql('text')} AS t FROM documents),
gr AS (
  SELECT doc_id, g FROM tk, UNNEST(
    list_concat(t, list_transform(range(1, greatest(len(t), 1)),
                                  i -> t[i] || ' ' || t[i+1]))) AS u(g)
  WHERE len(t) > 0),
fb AS (SELECT doc_id, {hash63_sql('g')} % 1024 AS bucket FROM gr)
"""

_DSIR_W = """
tc AS (SELECT bucket, CAST(count(*) AS DOUBLE) AS n_t
       FROM fb WHERE doc_id % 10 = 0 GROUP BY bucket),
rc AS (SELECT bucket, CAST(count(*) AS DOUBLE) AS n_r FROM fb GROUP BY bucket),
spine AS (SELECT CAST(range AS BIGINT) AS bucket FROM range(1024)),
w AS (
  SELECT spine.bucket,
         round(ln((coalesce(n_t, 0) + 1)
                  / ((SELECT sum(n_t) FROM tc) + 1024))
               - ln((coalesce(n_r, 0) + 1)
                    / ((SELECT sum(n_r) FROM rc) + 1024)), 6) AS logw
  FROM spine LEFT JOIN tc ON spine.bucket = tc.bucket
             LEFT JOIN rc ON spine.bucket = rc.bucket)
"""

# q_script_profile: identical counting-by-deletion over RE2's script
# classes (built from the same SCRIPT_CLASSES table as the operator).
from datapump_spark.operators.text import SCRIPT_CLASSES  # noqa: E402

_sp_counts = ",\n         ".join(
    f"length(regexp_replace(__t, '[^\\p{{{re2}}}]', '', 'g')) AS n_{name}"
    for name, _, re2 in SCRIPT_CLASSES)
_sp_fracs = ",\n       ".join(
    f"round(n_{name} / greatest(n_chars, 1), 6) AS frac_{name}"
    for name, _, _ in SCRIPT_CLASSES)
_sp_known = " + ".join(f"n_{name}" for name, _, _ in SCRIPT_CLASSES) \
    + " + n_digit"
ORACLE_SQL["q_script_profile"] = f"""
WITH s AS (
  SELECT doc_id, regexp_replace(text, '\\s', '', 'g') AS __t
  FROM documents),
c AS (
  SELECT doc_id, length(__t) AS n_chars,
         {_sp_counts},
         length(regexp_replace(__t, '[^0-9]', '', 'g')) AS n_digit
  FROM s)
SELECT doc_id, CAST(n_chars AS INT) AS n_chars,
       {", ".join(f"CAST(n_{n} AS INT) AS n_{n}" for n, _, _ in SCRIPT_CLASSES)},
       CAST(n_digit AS INT) AS n_digit,
       {_sp_fracs},
       round(n_digit / greatest(n_chars, 1), 6) AS frac_digit,
       round((n_chars - ({_sp_known})) / greatest(n_chars, 1), 6)
         AS frac_other
FROM c
"""


# q_corpus_card: the dataset-card rollup composed from the SAME per-doc
# oracle fragments (quality score, script profile, tokens, fingerprint).
ORACLE_SQL["q_corpus_card"] = f"""
WITH q AS ({ORACLE_SQL["q_quality_score"]}),
sp AS ({ORACLE_SQL["q_script_profile"]}),
base AS (
  SELECT d.doc_id, d.lang, d.source,
         CAST(len({_TOKS}) AS BIGINT) AS n_tok,
         md5({_NORM}) AS fp
  FROM documents d)
SELECT b.lang, b.source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(b.n_tok) AS BIGINT) AS total_tokens,
       CAST(sum(b.n_tok) AS DOUBLE) / count(*) AS avg_tokens,
       CAST(sum(CAST(round(q.quality * 1000000.0) AS BIGINT)) AS DOUBLE)
         / count(*) / 1000000.0 AS avg_quality,
       CAST(sum(CAST(round(sp.frac_latin * 1000000.0) AS BIGINT)) AS DOUBLE)
         / count(*) / 1000000.0 AS avg_frac_latin,
       CAST(sum(CAST(round(sp.frac_digit * 1000000.0) AS BIGINT)) AS DOUBLE)
         / count(*) / 1000000.0 AS avg_frac_digit,
       CAST(count(*) - count(DISTINCT b.fp) AS DOUBLE) / count(*)
         AS dup_rate
FROM base b JOIN q USING (doc_id) JOIN sp USING (doc_id)
GROUP BY b.lang, b.source
"""


# q_unicode_normalize: DuckDB's nfc_normalize over the identically
# zero-width-stripped text (same literal character class).
from datapump_spark.operators.cleaning import ZERO_WIDTH_RE  # noqa: E402

ORACLE_SQL["q_unicode_normalize"] = f"""
SELECT doc_id, text,
       nfc_normalize(regexp_replace(text, '{ZERO_WIDTH_RE}', '', 'g'))
         AS text_nfc
FROM documents
"""


# q_token_budget_mix: same salted-hash order, per-source token cum-sum,
# strict prefix-within-budget rule (60/30/10 over 50k tokens on the
# first three sources alphabetically).
ORACLE_SQL["q_token_budget_mix"] = f"""
WITH s3 AS (
  SELECT source, row_number() OVER (ORDER BY source) AS rn
  FROM (SELECT DISTINCT source FROM documents)
  QUALIFY rn <= 3),
bud AS (
  SELECT source, CASE rn WHEN 1 THEN 30000 WHEN 2 THEN 15000
                 ELSE 5000 END AS b
  FROM s3),
d AS (
  SELECT doc_id, source,
         CAST(len({tokens_sql('text')}) AS BIGINT) AS n_tok,
         {hash63_sql("'tokmix:' || doc_id::VARCHAR")} AS h
  FROM documents),
c AS (
  -- CAST: DuckDB's windowed sum(BIGINT) yields HUGEINT (int128), the only
  -- nonstandard output type among the gated oracles; the driver's value
  -- normalizer renders int128 differently from Python int, so the hash
  -- gate fails even on identical row sets (VERDICT r6 root cause). Keep
  -- every oracle output in BIGINT/VARCHAR/DOUBLE/BOOLEAN/TIMESTAMP.
  SELECT doc_id, source, n_tok,
         CAST(sum(n_tok) OVER (PARTITION BY source ORDER BY h, doc_id
                               ROWS BETWEEN UNBOUNDED PRECEDING
                               AND CURRENT ROW) AS BIGINT)
           AS cum_tok
  FROM d)
SELECT c.doc_id, c.source, c.n_tok, c.cum_tok
FROM c JOIN bud ON c.source = bud.source
WHERE c.cum_tok <= bud.b
"""


# q_semantic_decontam: exact max-cosine of each corpus vector vs the
# benchmark slice — the same split as q_decontam, in embedding space.
ORACLE_SQL["q_semantic_decontam"] = """
WITH m AS (SELECT vec_id, embedding::DOUBLE[] AS v,
                  sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
           FROM embeddings),
b AS (SELECT * FROM m WHERE vec_id % 20 = 0),
c AS (SELECT * FROM m WHERE vec_id % 20 != 0)
SELECT c.vec_id,
       max(round(list_dot_product(c.v, b.v) / (c.nrm * b.nrm), 6)) AS max_cos,
       max(round(list_dot_product(c.v, b.v) / (c.nrm * b.nrm), 6)) >= 0.3
         AS contaminated
FROM c, b GROUP BY c.vec_id
"""

ORACLE_SQL["q_importance_weights"] = f"""
WITH {_DSIR_FEATS}, {_DSIR_W}
SELECT bucket, logw FROM w
"""

ORACLE_SQL["q_dsir_sample"] = f"""
WITH {_DSIR_FEATS}, {_DSIR_W},
sc AS (
  SELECT fb.doc_id, CAST(count(*) AS BIGINT) AS n_feats,
         round(avg(w.logw), 6) AS score
  FROM fb JOIN w ON fb.bucket = w.bucket
  GROUP BY fb.doc_id),
keyed AS (
  SELECT doc_id, n_feats, score,
         round(score + (-ln(-ln(
           (({hash63_sql("doc_id::VARCHAR || ':42'")} % 4294967296) + 1.0)
           / 4294967298.0))), 6) AS gkey
  FROM sc)
SELECT doc_id, n_feats, score,
       CAST(row_number() OVER (ORDER BY gkey DESC, doc_id) AS BIGINT)
         AS rank
FROM keyed
ORDER BY gkey DESC, doc_id
LIMIT 100
"""


# q_quality_binned_mix: same per-source percent_rank as q_score_pctrank,
# floored into quartile bins, kept by the engine-shared hash threshold
# (list literal is 1-indexed in DuckDB).
ORACLE_SQL["q_quality_binned_mix"] = f"""
WITH q AS ({ORACLE_SQL["q_quality_score"]}),
j AS (SELECT q.doc_id, d.source, q.quality
      FROM q JOIN documents d ON q.doc_id = d.doc_id),
b AS (SELECT *,
        CAST(least(floor(percent_rank() OVER (
               PARTITION BY source
               ORDER BY quality ASC, doc_id ASC) * 4), 3) AS INT) AS bin
      FROM j)
SELECT doc_id, source, quality, bin FROM b
WHERE {hash63_sql("'qbin:' || CAST(doc_id AS VARCHAR)")} % 1000000 <
      CAST(round(list_extract([0.1, 0.3, 0.6, 1.0], bin + 1) * 1000000, 0)
           AS BIGINT)
"""


# q_strip_html: the identical regex chain, imported from the operator
# module so the two engines can never drift (patterns are RE2 ∩ Java).
from datapump_spark.operators.cleaning import (  # noqa: E402
    HTML_COMMENT_RE,
    HTML_SCRIPT_RE,
    HTML_STYLE_RE,
    HTML_TAG_RE,
)

_HTML_WRAP = (
    "'<html><head><title>T</title><script type=\"text/javascript\">"
    "var x = 1; if (x < 2) { x++; }</script>"
    "<style>p { color: red; }</style></head>"
    "<body><!-- hidden note --><p id=\"a\" class=\"b c\">' || text || "
    "'</p><br/><div>&amp;&nbsp;&lt;end&gt;&quot;&#39;</div>"
    "</body></html>'"
)

ORACLE_SQL["q_strip_html"] = f"""
WITH m AS (SELECT doc_id, {_HTML_WRAP} AS t FROM documents),
s AS (SELECT doc_id,
        regexp_replace(
          regexp_replace(
            regexp_replace(
              regexp_replace(t, '{HTML_SCRIPT_RE}', ' ', 'g'),
              '{HTML_STYLE_RE}', ' ', 'g'),
            '{HTML_COMMENT_RE}', ' ', 'g'),
          '{HTML_TAG_RE}', ' ', 'g') AS t
      FROM m),
e AS (SELECT doc_id,
        replace(replace(replace(replace(replace(replace(t,
          '&nbsp;', ' '), '&lt;', '<'), '&gt;', '>'),
          '&quot;', '"'), '&#39;', chr(39)), '&amp;', '&') AS t
      FROM s)
SELECT doc_id, trim(regexp_replace(t, '\\s+', ' ', 'g')) AS text FROM e
"""


# q_main_content: the identical block segmentation + per-block visible/
# anchor-text regex chain (patterns imported from the operator module),
# keep rule = min 5 words AND anchor chars ≤ 0.5 × visible chars.
from datapump_spark.operators.cleaning import (  # noqa: E402
    HTML_ANCHOR_TEXT_RE,
    HTML_BLOCK_SPLIT_RE,
)

_MC_WRAP = (
    "'<html><head><script>var n=1;</script>"
    "<style>.m:red;</style></head><body>"
    '<div class="nav"><a href="/">Home</a> <a href="/a">About</a> '
    '<a href="/c">Contact</a> <a href="/s">Search</a></div><p>\' || text || '
    "'</p><p>Share this: <a href=\"/tw\">Tweet</a> "
    '<a href="/fb">Like</a></p>'
    '<div class="footer"><a href="/p">Privacy</a> '
    "<a href=\"/t\">Terms</a> &copy; 2024</div></body></html>'"
)


def _mc_vis(expr: str) -> str:
    """Visible text of an HTML fragment: tag strip → entity decode (&amp;
    last) → whitespace collapse — the SQL twin of the operator's
    ``visible()`` closure."""
    v = f"regexp_replace({expr}, '{HTML_TAG_RE}', ' ', 'g')"
    v = (f"replace(replace(replace(replace(replace(replace({v}, "
         f"'&nbsp;', ' '), '&lt;', '<'), '&gt;', '>'), '&quot;', '\"'), "
         f"'&#39;', chr(39)), '&amp;', '&')")
    return f"trim(regexp_replace({v}, '\\s+', ' ', 'g'))"


# NB coalesce: DuckDB's array_to_string([]) is NULL, Spark's
# array_join(empty) is '' — an anchor-free block must score lv = ''
_MC_LINK = (f"coalesce(array_to_string(regexp_extract_all(t[i], "
            f"'{HTML_ANCHOR_TEXT_RE}', 1), ' '), '')")
ORACLE_SQL["q_main_content"] = f"""
WITH m AS (SELECT doc_id, {_MC_WRAP} AS h FROM documents),
pre AS (SELECT doc_id,
          regexp_replace(regexp_replace(regexp_replace(h,
            '{HTML_SCRIPT_RE}', ' ', 'g'),
            '{HTML_STYLE_RE}', ' ', 'g'),
            '{HTML_COMMENT_RE}', ' ', 'g') AS h
        FROM m),
bl AS (SELECT doc_id, string_split_regex(h, '{HTML_BLOCK_SPLIT_RE}') AS t
       FROM pre),
idx AS (SELECT doc_id, t, unnest(generate_series(1, len(t))) AS i FROM bl),
seg AS (SELECT doc_id, i, {_mc_vis('t[i]')} AS v, {_mc_vis(_MC_LINK)} AS lv
        FROM idx),
blocks AS (SELECT * FROM seg WHERE v != ''),
kept AS (SELECT * FROM blocks
         WHERE len(string_split_regex(v, '\\s+')) >= 5
           AND length(lv) <= 0.5 * greatest(length(v), 1)),
agg AS (SELECT doc_id, count(*) AS n_kept,
               string_agg(v, chr(10) ORDER BY i) AS main_text
        FROM kept GROUP BY doc_id),
nb AS (SELECT doc_id, count(*) AS n_blocks FROM blocks GROUP BY doc_id)
SELECT d.doc_id,
       CAST(COALESCE(nb.n_blocks, 0) AS BIGINT) AS n_blocks,
       CAST(COALESCE(a.n_kept, 0) AS BIGINT) AS n_kept,
       COALESCE(a.main_text, '') AS main_text
FROM (SELECT doc_id FROM documents) d
LEFT JOIN nb USING (doc_id) LEFT JOIN agg a USING (doc_id)
"""


# q_hybrid_search: BM25 list from its existing oracle; vector list as an
# independent sparse slot-join with INTEGER dot/norms (one final double
# division, so 6-dp rounding is engine-identical); same 1/(60+rank) RRF.
ORACLE_SQL["q_hybrid_search"] = f"""
WITH b AS ({ORACLE_SQL["q_bm25_topk"]}),
dt AS (SELECT doc_id, unnest({tokens_sql('text')}) AS tok FROM documents),
ds AS (SELECT doc_id,
              CAST(({hash63_sql("'emb42:' || tok")}) % 64 AS INT) AS slot,
              COUNT(*) AS c
       FROM dt GROUP BY 1, 2),
qt AS (SELECT unnest({tokens_sql("'data model training pipeline'")}) AS tok),
qs AS (SELECT CAST(({hash63_sql("'emb42:' || tok")}) % 64 AS INT) AS slot,
              COUNT(*) AS qc
       FROM qt GROUP BY 1),
pd AS (SELECT ds.doc_id,
              SUM(ds.c * COALESCE(qs.qc, 0)) AS dot,
              SUM(ds.c * ds.c) AS nd2
       FROM ds LEFT JOIN qs USING (slot) GROUP BY 1),
v AS (SELECT doc_id,
             round(dot / sqrt(CAST(nd2 * (SELECT SUM(qc * qc) FROM qs)
                                   AS DOUBLE)), 6) AS cos
      FROM pd WHERE dot > 0),
vtop AS (SELECT * FROM v ORDER BY cos DESC, doc_id ASC LIMIT 10),
vr AS (SELECT doc_id,
              CAST(row_number() OVER (ORDER BY cos DESC, doc_id ASC) AS INT)
                AS rank
       FROM vtop),
f AS (SELECT COALESCE(bb.doc_id, vr.doc_id) AS doc_id,
             bb.rank AS bm25_rank, vr.rank AS vec_rank
      FROM (SELECT doc_id, rank FROM b) bb
      FULL OUTER JOIN vr ON bb.doc_id = vr.doc_id),
g AS (SELECT doc_id, bm25_rank, vec_rank,
             round(COALESCE(1.0 / (60 + bm25_rank), 0)
                   + COALESCE(1.0 / (60 + vec_rank), 0), 6) AS rrf
      FROM f)
SELECT doc_id, bm25_rank, vec_rank, rrf,
       CAST(row_number() OVER (ORDER BY rrf DESC, doc_id ASC) AS INT) AS rank
FROM g
QUALIFY rank <= 10
"""


# q_hard_negatives: same ranking + label-match qrels CTEs as
# q_retrieval_eval; negatives = ranked hits anti-joined against the
# qrels, re-ranked per query, window [skip_top+1, skip_top+m] = [2, 4].
ORACLE_SQL["q_hard_negatives"] = """
WITH m AS (SELECT vec_id, embedding::DOUBLE[] AS v,
                  sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
           FROM embeddings),
qv AS (SELECT vec_id AS query_id, v AS qvec, nrm AS qn
       FROM m WHERE vec_id < 10),
c AS (
  SELECT qv.query_id, m.vec_id AS neighbor_id,
         round(list_dot_product(qv.qvec, m.v) / (qv.qn * m.nrm), 6) AS cos
  FROM m, qv WHERE m.vec_id != qv.query_id
  QUALIFY row_number() OVER (PARTITION BY qv.query_id
                             ORDER BY cos DESC, m.vec_id ASC) <= 10),
r AS (SELECT query_id, neighbor_id,
             CAST(row_number() OVER (PARTITION BY query_id
                    ORDER BY cos DESC, neighbor_id ASC) AS INT) AS rank
      FROM c),
lab AS (SELECT vec_id, label FROM embeddings),
rel AS (SELECT q.vec_id AS query_id, d.vec_id AS neighbor_id
        FROM lab q JOIN lab d ON q.label = d.label AND q.vec_id != d.vec_id
        WHERE q.vec_id < 10),
neg AS (SELECT r.* FROM r ANTI JOIN rel USING (query_id, neighbor_id)),
nr AS (SELECT query_id, neighbor_id, rank,
              CAST(row_number() OVER (PARTITION BY query_id
                     ORDER BY rank ASC) AS INT) AS neg_rank
       FROM neg)
SELECT query_id, neighbor_id, rank, neg_rank
FROM nr WHERE neg_rank > 1 AND neg_rank <= 4
"""

# q_retrieval_eval: metrics of the exact-cosine top-10 vs label-match
# qrels. The log2 discount constants are python-computed floats embedded
# verbatim in BOTH plans (engine libm differences never enter); DCG folds
# them in rank order via the list_sum(list(... ORDER BY ...)) precedent.
from datapump_spark.operators.raneval import dcg_discounts  # noqa: E402

_DISC10, _CUM10 = dcg_discounts(10)
_DISC10_SQL = "[" + ", ".join(repr(d) for d in _DISC10) + "]"
_CUM10_SQL = "[" + ", ".join(repr(c) for c in _CUM10) + "]"

ORACLE_SQL["q_retrieval_eval"] = f"""
WITH m AS (SELECT vec_id, embedding::DOUBLE[] AS v,
                  sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
           FROM embeddings),
qv AS (SELECT vec_id AS query_id, v AS qvec, nrm AS qn
       FROM m WHERE vec_id < 10),
c AS (
  SELECT qv.query_id, m.vec_id AS neighbor_id,
         round(list_dot_product(qv.qvec, m.v) / (qv.qn * m.nrm), 6) AS cos
  FROM m, qv WHERE m.vec_id != qv.query_id
  QUALIFY row_number() OVER (PARTITION BY qv.query_id
                             ORDER BY cos DESC, m.vec_id ASC) <= 10),
r AS (SELECT query_id, neighbor_id,
             CAST(row_number() OVER (PARTITION BY query_id
                    ORDER BY cos DESC, neighbor_id ASC) AS INT) AS rank
      FROM c),
lab AS (SELECT vec_id, label FROM embeddings),
rel AS (SELECT q.vec_id AS query_id, d.vec_id AS neighbor_id
        FROM lab q JOIN lab d ON q.label = d.label AND q.vec_id != d.vec_id
        WHERE q.vec_id < 10),
nr AS (SELECT query_id, CAST(count(*) AS BIGINT) AS n_rel
       FROM rel GROUP BY query_id),
j AS (SELECT r.query_id, r.rank,
             CASE WHEN rel.neighbor_id IS NOT NULL THEN 1 ELSE 0 END AS is_rel
      FROM r LEFT JOIN rel
        ON r.query_id = rel.query_id AND r.neighbor_id = rel.neighbor_id),
pq AS (SELECT query_id,
              CAST(sum(CASE WHEN rank <= 10 THEN is_rel ELSE 0 END)
                   AS BIGINT) AS hits,
              min(CASE WHEN is_rel = 1 AND rank <= 10 THEN rank END)
                AS first_hit,
              list_sum(list(CASE WHEN is_rel = 1 AND rank <= 10
                                 THEN list_extract({_DISC10_SQL}, rank)
                                 ELSE 0.0 END ORDER BY rank)) AS dcg
       FROM j GROUP BY query_id)
SELECT pq.query_id,
       COALESCE(nr.n_rel, 0) AS n_rel,
       pq.hits,
       round(pq.hits / 10.0, 6) AS precision,
       round(CASE WHEN COALESCE(nr.n_rel, 0) > 0
                  THEN CAST(pq.hits AS DOUBLE) / nr.n_rel
                  ELSE 0.0 END, 6) AS recall,
       round(COALESCE(1.0 / pq.first_hit, 0.0), 6) AS mrr,
       round(COALESCE(pq.dcg / list_extract({_CUM10_SQL},
                CAST(least(nr.n_rel, 10) AS INT)), 0.0), 6) AS ndcg
FROM pq LEFT JOIN nr ON pq.query_id = nr.query_id
"""


# q_cusum: the same prefix closed form as the operator — running sum +
# running extremum windows over the identically-ordered series (ts,
# event_id tie-break), mean/std rounded to 6 dp before standardizing so
# the constants are engine-identical.
ORACLE_SQL["q_cusum"] = """
WITH st AS (
  SELECT event_type, round(avg(value), 6) AS mu,
         round(stddev_pop(value), 6) AS sd
  FROM events GROUP BY event_type),
r AS (
  SELECT e.event_type, e.ts, e.event_id,
         (e.value - st.mu) / st.sd AS r
  FROM events e JOIN st USING (event_type) WHERE st.sd > 0),
b AS (
  SELECT event_type, ts, event_id, r,
         sum(r - 0.5) OVER w AS bp,
         sum(r + 0.5) OVER w AS bn,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY ts, event_id) AS pos
  FROM r
  WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
s AS (
  SELECT event_type, pos,
         bp - least(0.0, min(bp) OVER wp) AS sp,
         greatest(0.0, max(bn) OVER wp) - bn AS sn
  FROM b
  WINDOW wp AS (PARTITION BY event_type ORDER BY pos
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_points,
       CAST(sum(CASE WHEN sp > 5.0 OR sn > 5.0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_alarms,
       min(CASE WHEN sp > 5.0 OR sn > 5.0 THEN pos END) AS first_alarm_pos,
       round(max(sp), 6) AS max_sp,
       round(max(sn), 6) AS max_sn,
       'ok' AS status
FROM s GROUP BY event_type
UNION ALL
-- degenerate (flat-reference) series: reported flagged, never dropped —
-- mirrors cusum_changepoints' zero_sd path (self-baseline ⇒ mu never null)
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_points,
       CAST(sum(alarm) AS BIGINT) AS n_alarms,
       min(CASE WHEN alarm = 1 THEN pos END) AS first_alarm_pos,
       CAST(NULL AS DOUBLE) AS max_sp,
       CAST(NULL AS DOUBLE) AS max_sn,
       'zero_sd' AS status
FROM (
  SELECT e.event_type,
         row_number() OVER (PARTITION BY e.event_type
                            ORDER BY e.ts, e.event_id) AS pos,
         CASE WHEN e.value <> st.mu THEN 1 ELSE 0 END AS alarm
  FROM events e JOIN st USING (event_type)
  WHERE st.sd IS NULL OR st.sd <= 0) flat
GROUP BY event_type
"""


# q_rolling_median: DuckDB's quantile_cont over the identical frame —
# both engines do selection + linear interpolation, no summation floats.
ORACLE_SQL["q_rolling_median"] = """
SELECT event_type, ts, event_id, value,
       round(quantile_cont(value, 0.5) OVER (
         PARTITION BY event_type ORDER BY ts, event_id
         ROWS BETWEEN 23 PRECEDING AND CURRENT ROW), 6) AS med
FROM events
"""


# q_triangles: identical a<b<c two-join enumeration in SQL over the same
# supplier co-purchase projection.
ORACLE_SQL["q_triangles"] = """
WITH sup AS (
  SELECT x.l_suppkey AS lo, y.l_suppkey AS hi, count(*) AS sup
  FROM lineitem x JOIN lineitem y ON x.l_orderkey = y.l_orderkey
  WHERE x.l_suppkey < y.l_suppkey GROUP BY 1, 2),
b2 AS (
  SELECT lo, hi, sup FROM sup
  UNION ALL SELECT hi, lo, sup FROM sup),
knn AS (
  SELECT lo AS src, hi AS dst FROM (
    SELECT *, row_number() OVER (PARTITION BY lo
                                 ORDER BY sup DESC, hi ASC) AS rk
    FROM b2)
  WHERE rk <= 10),
pairs AS (
  SELECT DISTINCT least(src, dst) AS lo, greatest(src, dst) AS hi
  FROM knn WHERE src != dst),
deg AS (
  SELECT node, CAST(count(*) AS BIGINT) AS degree
  FROM (SELECT lo AS node FROM pairs UNION ALL SELECT hi FROM pairs)
  GROUP BY node),
tri AS (
  SELECT e1.lo AS a, e1.hi AS b, e2.hi AS c
  FROM pairs e1
  JOIN pairs e2 ON e1.hi = e2.lo
  JOIN pairs e3 ON e3.lo = e1.lo AND e3.hi = e2.hi),
pn AS (
  SELECT node, CAST(count(*) AS BIGINT) AS n_triangles
  FROM (SELECT a AS node FROM tri UNION ALL SELECT b FROM tri
        UNION ALL SELECT c FROM tri)
  GROUP BY node)
SELECT deg.node, deg.degree,
       COALESCE(pn.n_triangles, 0) AS n_triangles,
       round(CASE WHEN deg.degree >= 2
                  THEN 2.0 * COALESCE(pn.n_triangles, 0)
                       / (deg.degree * (deg.degree - 1))
                  ELSE 0.0 END, 6) AS clustering_coeff
FROM deg LEFT JOIN pn ON deg.node = pn.node
"""


# q_assoc_rules: the textbook pair support/confidence/lift in SQL over
# the same (distinct) order→part baskets; ratios of exact integer counts.
# Driver-gated (promoted to the 50 alongside q_resample_daily).
ORACLE_SQL["q_assoc_rules"] = """
WITH b AS (SELECT DISTINCT l_orderkey AS bk, l_partkey AS item FROM lineitem),
n AS (SELECT CAST(count(DISTINCT bk) AS DOUBLE) AS n_baskets FROM b),
it AS (SELECT item, CAST(count(*) AS BIGINT) AS n_item FROM b GROUP BY item),
p AS (
  SELECT x.item AS a, y.item AS c, CAST(count(*) AS BIGINT) AS n_both
  FROM b x JOIN b y ON x.bk = y.bk AND x.item < y.item
  GROUP BY 1, 2 HAVING count(*) >= 3),
d AS (
  SELECT a AS antecedent, c AS consequent, n_both FROM p
  UNION ALL
  SELECT c, a, n_both FROM p)
SELECT d.antecedent, d.consequent, d.n_both,
       round(d.n_both / n.n_baskets, 6) AS support,
       round(CAST(d.n_both AS DOUBLE) / ia.n_item, 6) AS confidence,
       round((CAST(d.n_both AS DOUBLE) / ia.n_item)
             / (ic.n_item / n.n_baskets), 6) AS lift
FROM d
JOIN it ia ON d.antecedent = ia.item
JOIN it ic ON d.consequent = ic.item
CROSS JOIN n
"""


# q_acf: same lag alignment + pairwise-complete corr in SQL (corr is the
# one aggregate both engines define identically; round-6 per the repo
# float policy, the group_trend precedent).
ORACLE_SQL["q_acf"] = """
WITH lag_tbl AS (
  SELECT event_type, value,
         lag(value, 1) OVER w AS l1, lag(value, 2) OVER w AS l2,
         lag(value, 3) OVER w AS l3, lag(value, 4) OVER w AS l4,
         lag(value, 5) OVER w AS l5
  FROM events
  WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id)),
stacked AS (
  SELECT event_type, value AS v, 1 AS lag, l1 AS prev FROM lag_tbl
  UNION ALL SELECT event_type, value, 2, l2 FROM lag_tbl
  UNION ALL SELECT event_type, value, 3, l3 FROM lag_tbl
  UNION ALL SELECT event_type, value, 4, l4 FROM lag_tbl
  UNION ALL SELECT event_type, value, 5, l5 FROM lag_tbl)
SELECT event_type, CAST(lag AS INT) AS lag,
       CAST(count(*) AS BIGINT) AS n,
       round(corr(v, prev), 6) AS acf
FROM stacked WHERE prev IS NOT NULL AND v IS NOT NULL
GROUP BY event_type, lag
"""

# q_gini: identical sorted-cumulative formula over the per-source totals.
ORACLE_SQL["q_gini"] = """
WITH per AS (
  SELECT source, CAST(sum(n_chars) AS DOUBLE) AS x
  FROM documents GROUP BY source),
ranked AS (
  SELECT x, row_number() OVER (ORDER BY x ASC, source ASC) AS i FROM per)
SELECT CAST(count(*) AS BIGINT) AS n_groups,
       round(sum(x), 6) AS total,
       round((2.0 * sum(i * x)) / (count(*) * sum(x))
             - (count(*) + 1.0) / count(*), 6) AS gini
FROM ranked
"""


# q_user_profile: same (ts, event_id)-ordered gaps and type-sorted
# entropy fold (list_sum ORDER BY precedent) in SQL.
ORACLE_SQL["q_user_profile"] = """
WITH g AS (
  SELECT user_id,
         (epoch_us(ts) - epoch_us(lag(ts) OVER (
            PARTITION BY user_id ORDER BY ts, event_id))) / 1000000.0 AS gap
  FROM events),
gs AS (
  SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
         avg(gap) AS mu, stddev_samp(gap) AS sd
  FROM g GROUP BY user_id),
tc AS (
  SELECT user_id, event_type, CAST(count(*) AS DOUBLE) AS c
  FROM events GROUP BY user_id, event_type),
tt AS (SELECT user_id, sum(c) AS tot FROM tc GROUP BY user_id),
ent AS (
  SELECT tc.user_id, CAST(count(*) AS BIGINT) AS n_types,
         round(list_sum(list(-(c / tot) * ln(c / tot)
                             ORDER BY event_type)), 6) AS type_entropy
  FROM tc JOIN tt ON tc.user_id = tt.user_id
  GROUP BY tc.user_id)
SELECT gs.user_id, gs.n_events, ent.n_types,
       round(gs.mu, 6) AS mean_gap_s,
       round(CASE WHEN gs.mu > 0 THEN gs.sd / gs.mu END, 6) AS cv_gap,
       round(CASE WHEN (gs.sd + gs.mu) > 0
                  THEN (gs.sd - gs.mu) / (gs.sd + gs.mu) END, 6)
         AS burstiness,
       ent.type_entropy
FROM gs JOIN ent ON gs.user_id = ent.user_id
"""


# q_benford: identical first-nonzero-digit extraction and python-literal
# expected frequencies in SQL.
ORACLE_SQL["q_benford"] = """
WITH base AS (
  SELECT CAST(regexp_extract(CAST(CAST(abs(l_extendedprice)
                AS DECIMAL(38,6)) AS VARCHAR), '[1-9]', 0) AS INT) AS d
  FROM lineitem
  WHERE l_extendedprice IS NOT NULL AND l_extendedprice != 0),
c AS (SELECT d, CAST(count(*) AS BIGINT) AS n FROM base
      WHERE d BETWEEN 1 AND 9 GROUP BY d),
t AS (SELECT CAST(sum(n) AS DOUBLE) AS tot FROM c),
-- CAST: the bare literals would type the list DECIMAL, and round(DECIMAL,6)
-- stays DECIMAL(18,6) — a nonstandard oracle output type (VERDICT r6).
e AS (SELECT unnest(generate_series(1, 9)) AS d,
             unnest(CAST([0.3010299956639812, 0.17609125905568124, 0.12493873660829992, 0.09691001300805642, 0.07918124604762482, 0.06694678963061322, 0.05799194697768673, 0.05115252244738129, 0.04575749056067514] AS DOUBLE[])) AS ef)
SELECT c.d AS digit, c.n,
       round(c.n / t.tot, 6) AS obs_freq,
       round(e.ef, 6) AS exp_freq,
       round(pow(c.n - e.ef * t.tot, 2) / (e.ef * t.tot), 6) AS chi2_part
FROM c JOIN e ON c.d = e.d CROSS JOIN t
"""


# q_image_decode: the oracle recomputes from the doc_id arithmetic the
# PNG builder used — solid-color channels, so every channel mean equals
# its fill value and the pixel mean is (r+g+b)/3 (exact-integer sums on
# both engines; one IEEE division of identical integers → identical
# doubles). The Spark side must get there through a REAL zlib-inflate +
# unfilter + numpy decode of bytes it encoded itself.
ORACLE_SQL["q_image_decode"] = """
SELECT doc_id AS media_id,
       8 + doc_id % 9 AS width,
       8 + doc_id % 7 AS height,
       3 AS channels,
       round((doc_id % 256 + (doc_id * 7) % 256 + (doc_id * 13) % 256) / 3.0,
             6) AS mean_px,
       doc_id % 256 AS mean_r,
       (doc_id * 7) % 256 AS mean_g,
       (doc_id * 13) % 256 AS mean_b
FROM documents
WHERE doc_id % 5 = 0
"""


# q_jpeg_decode: the same recompute-from-arithmetic oracle over the
# baseline-JPEG path. The Spark side must Huffman-decode + IDCT bytes it
# encoded itself; solid grayscale at quality 95 round-trips exactly
# (DC quantizer 2 → reconstruction error < 0.5; pinned in test_jpeg),
# so the lossy codec still faces an exact value hash. CASTs keep the
# output in the standard oracle type set.
ORACLE_SQL["q_jpeg_decode"] = """
SELECT doc_id AS media_id,
       CAST(8 + doc_id % 11 AS BIGINT) AS width,
       CAST(8 + doc_id % 5 AS BIGINT) AS height,
       CAST(1 AS BIGINT) AS channels,
       CAST(doc_id % 256 AS DOUBLE) AS mean_px
FROM documents
WHERE doc_id % 7 = 0
"""


# q_gif_decode: checkerboard arithmetic twin — GIF is palette-exact, so
# the decode must be byte-identical and the mean is a pure integer-ratio
# recompute: n_even = ceil(w/2)*ceil(h/2) + floor(w/2)*floor(h/2) cells
# carry value a, the rest b.
ORACLE_SQL["q_gif_decode"] = """
WITH g AS (
  SELECT doc_id,
         2 + doc_id % 7 AS w,
         2 + doc_id % 4 AS h,
         CAST(doc_id % 256 AS DOUBLE) AS a,
         CAST((doc_id * 11) % 256 AS DOUBLE) AS b
  FROM documents WHERE doc_id % 9 = 0),
c AS (
  SELECT doc_id, w, h, a, b,
         ((w + 1) // 2) * ((h + 1) // 2) + (w // 2) * (h // 2) AS n0,
         w * h AS n
  FROM g)
SELECT doc_id AS media_id,
       CAST(w AS BIGINT) AS width,
       CAST(h AS BIGINT) AS height,
       CAST(3 AS BIGINT) AS channels,
       round((n0 * a + (n - n0) * b) / n, 6) AS mean_px
FROM c
"""


# q_webp_decode: same checkerboard arithmetic twin as q_gif_decode —
# VP8L is lossless, so every encoder feature variant must reconstruct
# the exact pixels and the mean is a pure integer-ratio recompute.
ORACLE_SQL["q_webp_decode"] = """
WITH g AS (
  SELECT doc_id,
         2 + doc_id % 7 AS w,
         2 + doc_id % 4 AS h,
         CAST(doc_id % 256 AS DOUBLE) AS a,
         CAST((doc_id * 13) % 256 AS DOUBLE) AS b
  FROM documents WHERE doc_id % 8 = 0),
c AS (
  SELECT doc_id, w, h, a, b,
         ((w + 1) // 2) * ((h + 1) // 2) + (w // 2) * (h // 2) AS n0,
         w * h AS n
  FROM g)
SELECT doc_id AS media_id,
       CAST(w AS BIGINT) AS width,
       CAST(h AS BIGINT) AS height,
       CAST(3 AS BIGINT) AS channels,
       round((n0 * a + (n - n0) * b) / n, 6) AS mean_px
FROM c
"""


# q_exif: the APP1 IFD walk must return EXACTLY the tags the writer
# computed from doc_id arithmetic — recomputed here in SQL.
ORACLE_SQL["q_exif"] = """
SELECT doc_id AS media_id,
       CAST(1 + doc_id % 8 AS BIGINT) AS orientation,
       'Cam' || CAST(doc_id % 7 AS VARCHAR) AS make,
       'M-' || CAST(doc_id % 100 AS VARCHAR) AS model,
       '2024:01:' || lpad(CAST(1 + doc_id % 28 AS VARCHAR), 2, '0')
           || ' 12:00:00' AS datetime,
       '2023:12:' || lpad(CAST(1 + doc_id % 28 AS VARCHAR), 2, '0')
           || ' 08:30:00' AS datetime_original,
       CAST(16 + doc_id % 64 AS BIGINT) AS pixel_x,
       CAST(16 + doc_id % 32 AS BIGINT) AS pixel_y
FROM documents WHERE doc_id % 11 = 0
"""


# q_sniff_av: every field of the five hand-assembled containers is
# doc_id arithmetic — the MP3 frame walk, MP4 box walk, EBML walk,
# Ogg granule math, and VP8L header bits must all reproduce it.
ORACLE_SQL["q_sniff_av"] = """
WITH d AS (
  SELECT doc_id, (doc_id // 10) % 5 AS v
  FROM documents WHERE doc_id % 10 = 0)
SELECT doc_id AS media_id,
  CASE v WHEN 0 THEN 'mp3' WHEN 1 THEN 'mp4' WHEN 2 THEN 'mkv'
         WHEN 3 THEN 'ogg' ELSE 'webp' END AS format,
  CASE WHEN v IN (0, 3) THEN 'audio' WHEN v = 4 THEN 'image'
       ELSE 'video' END AS kind,
  CAST(CASE v WHEN 1 THEN 16 + doc_id % 640
              WHEN 2 THEN 16 + doc_id % 1264
              WHEN 4 THEN 2 + doc_id % 40 END AS BIGINT) AS width,
  CAST(CASE v WHEN 1 THEN 16 + doc_id % 360
              WHEN 2 THEN 16 + doc_id % 704
              WHEN 4 THEN 2 + doc_id % 30 END AS BIGINT) AS height,
  CAST(CASE WHEN v IN (0, 3) THEN 44100 END AS BIGINT) AS sample_rate,
  CAST(CASE v WHEN 0 THEN 2
              WHEN 3 THEN 1 + doc_id % 2 END AS BIGINT) AS channels,
  CAST(CASE v WHEN 0 THEN (417 * (2 + doc_id % 5) * 8000) // 128000
              WHEN 1 THEN 1000 + doc_id % 9000
              WHEN 2 THEN 500 + doc_id % 5000
              WHEN 3 THEN (1 + doc_id % 30) * 1000
              END AS BIGINT) AS duration_ms
FROM d
"""


# q_pdf_text: the extractor must return EXACTLY the printable-ASCII
# projection the Spark side wrote into a real Flate-compressed PDF —
# the oracle recomputes that projection without parsing a byte.
ORACLE_SQL["q_pdf_text"] = """
SELECT doc_id AS media_id,
       regexp_replace(text, '[^ -~]', '', 'g') AS text,
       CAST(length(regexp_replace(text, '[^ -~]', '', 'g')) AS BIGINT)
         AS n_chars,
       CAST(1 AS BIGINT) AS n_pages
FROM documents
WHERE doc_id % 6 = 0
"""


# q_audio_tone: the decode -> window -> rfft -> argmax path must land
# exactly on the doc-derived bin-aligned tone frequency; the oracle
# recomputes it from the id arithmetic without touching a sample.
ORACLE_SQL["q_audio_tone"] = """
SELECT doc_id AS media_id,
       CAST(CASE doc_id % 80
            WHEN 0 THEN 4000            -- ADPCM arm: 0.5 s
            WHEN 16 THEN 2000           -- FLAC arm: 0.25 s
            WHEN 32 THEN 8064           -- MP3 arm: 7 decoded frames
            WHEN 64 THEN 4000           -- Vorbis arm: 0.5 s (r11)
            ELSE 8000 END AS BIGINT) AS n_frames,
       CAST(CASE WHEN doc_id % 80 = 32 THEN 32000
            ELSE 8000 END AS BIGINT) AS sample_rate,
       CAST(CASE WHEN doc_id % 80 = 32
            THEN 250 * (1 + (doc_id // 64) % 8)
            ELSE 100 + (doc_id % 50) * 20 END AS BIGINT) AS dominant_hz
FROM documents
WHERE doc_id % 16 = 0
"""


# q_curriculum: NTILE staging + md5 within-stage shuffle, both engines
# computing the identical total order (signal, id) and hash order.
ORACLE_SQL["q_curriculum"] = f"""
WITH staged AS (
  SELECT doc_id, n_chars,
         CAST(ntile(4) OVER (ORDER BY n_chars ASC, doc_id ASC) AS BIGINT)
           AS stage
  FROM documents)
SELECT doc_id, n_chars, stage,
       CAST(row_number() OVER (
         PARTITION BY stage
         ORDER BY {hash63_sql("'curr:' || CAST(doc_id AS VARCHAR)")} ASC,
                  doc_id ASC) AS BIGINT) AS ord
FROM staged
"""


# q_bloom_dedup: IDENTICAL SQL to q_incremental_dedup — the Bloom filter
# is a pruning structure with no false negatives, so the engine output
# must equal the plain anti-join's exactly. A build/probe hash mismatch
# in bloom.py would drop novel rows and fail this hash gate.
ORACLE_SQL["q_bloom_dedup"] = ORACLE_SQL["q_incremental_dedup"]


# q_seasonal_decompose: identical window algebra. The position/grand
# means run on 6-dp detrended values scaled to exact bigints (both
# engines sum integers → order-independent); the trend frame is
# row-deterministic, same as the q_moving_avg precedent.
ORACLE_SQL["q_seasonal_decompose"] = """
WITH series AS (
  SELECT event_type, date_trunc('hour', ts) AS bucket,
         round(avg(value), 6) AS v
  FROM events GROUP BY 1, 2),
w AS (
  SELECT event_type, bucket, v,
         CASE WHEN count(v) OVER fr = 25 THEN avg(v) OVER fr END AS trend,
         (row_number() OVER (PARTITION BY event_type ORDER BY bucket) - 1)
           % 24 AS pos
  FROM series
  WINDOW fr AS (PARTITION BY event_type ORDER BY bucket
                ROWS BETWEEN 12 PRECEDING AND 12 FOLLOWING)),
d AS (
  SELECT *, CAST(round((v - trend) * 1e6, 0) AS BIGINT) AS detr6 FROM w),
s AS (
  SELECT *,
    (CAST(sum(detr6) OVER (PARTITION BY event_type, pos) AS DOUBLE)
       / count(detr6) OVER (PARTITION BY event_type, pos)
     - CAST(sum(detr6) OVER (PARTITION BY event_type) AS DOUBLE)
       / count(detr6) OVER (PARTITION BY event_type)) / 1e6 AS seasonal
  FROM d)
SELECT event_type, bucket, round(v, 6) AS value, round(trend, 6) AS trend,
       round(seasonal, 6) AS seasonal,
       round(v - trend - seasonal, 6) AS resid
FROM s
"""


# q_seasonal_anomaly: the decomposition CTEs verbatim, then the
# q_outliers z-score pattern over the residual.
ORACLE_SQL["q_seasonal_anomaly"] = """
WITH series AS (
  SELECT event_type, date_trunc('hour', ts) AS bucket,
         round(avg(value), 6) AS v
  FROM events GROUP BY 1, 2),
w AS (
  SELECT event_type, bucket, v,
         CASE WHEN count(v) OVER fr = 25 THEN avg(v) OVER fr END AS trend,
         (row_number() OVER (PARTITION BY event_type ORDER BY bucket) - 1)
           % 24 AS pos
  FROM series
  WINDOW fr AS (PARTITION BY event_type ORDER BY bucket
                ROWS BETWEEN 12 PRECEDING AND 12 FOLLOWING)),
d AS (
  SELECT *, CAST(round((v - trend) * 1e6, 0) AS BIGINT) AS detr6 FROM w),
s AS (
  SELECT *,
    (CAST(sum(detr6) OVER (PARTITION BY event_type, pos) AS DOUBLE)
       / count(detr6) OVER (PARTITION BY event_type, pos)
     - CAST(sum(detr6) OVER (PARTITION BY event_type) AS DOUBLE)
       / count(detr6) OVER (PARTITION BY event_type)) / 1e6 AS seasonal
  FROM d),
dec AS (
  SELECT event_type, bucket, round(v, 6) AS value,
         round(v - trend - seasonal, 6) AS resid
  FROM s WHERE trend IS NOT NULL),
st AS (
  SELECT event_type, avg(resid) AS mu, stddev_samp(resid) AS sd
  FROM dec GROUP BY event_type)
SELECT dec.event_type, bucket, value, resid,
       round((resid - st.mu) / st.sd, 6) AS z
FROM dec JOIN st USING (event_type)
WHERE st.sd > 0 AND abs(round((resid - st.mu) / st.sd, 6)) > 2.5
"""


# q_zipf_fit: same tokenizer fragment as the corpus stats, total rank
# order (n desc, token asc), regr_* aggregates over O(10)-magnitude logs.
ORACLE_SQL["q_zipf_fit"] = f"""
WITH toks AS (
  SELECT lang, UNNEST({_TOKS}) AS tok FROM documents),
counts AS (
  SELECT lang, tok, count(*) AS n FROM toks GROUP BY 1, 2),
ranked AS (
  SELECT lang, n,
         row_number() OVER (PARTITION BY lang ORDER BY n DESC, tok ASC)
           AS rank
  FROM counts
  QUALIFY rank <= 200 AND n >= 5)
SELECT lang, CAST(count(*) AS BIGINT) AS n_ranks,
       round(regr_slope(ln(n), ln(rank)), 6) AS slope,
       round(regr_intercept(ln(n), ln(rank)), 6) AS intercept,
       round(corr(ln(n), ln(rank)), 6) AS r_loglog
FROM ranked GROUP BY lang
"""


# WARC/WET record parse, written against the raw fixture bytes so the
# gate is a genuinely independent second parser (read_text + string ops;
# sources/warc.py is binaryFile + Content-Length framing / lineSep
# splitting). Payload recovery here is char-sliced after the header with
# the file-final record separator stripped — byte-exact on these
# archives because no payload ends in CRLF CRLF (the Spark side is
# byte-exact always; the digest equality proves it end-to-end).
_WARC_RECORDS = f"""
  SELECT regexp_replace(chunk, '^WARC/1\\.0\\r\\n', '') AS rec
  FROM (SELECT unnest(string_split(content, e'\\r\\n\\r\\nWARC/1.0\\r\\n'))
               AS chunk
        FROM read_text('{WARC_GLOB}'))
"""

_WARC_FIELDS = """
  SELECT nullif(regexp_extract(rec, 'WARC-Target-URI: ([^\\r\\n]+)', 1),
                '') AS target_uri,
         regexp_extract(rec, 'WARC-Type: ([^\\r\\n]+)', 1) AS warc_type,
         regexp_extract(rec, 'WARC-Record-ID: ([^\\r\\n]+)', 1)
             AS record_id,
         strptime(regexp_extract(rec, 'WARC-Date: ([^\\r\\n]+)', 1),
                  '%Y-%m-%dT%H:%M:%SZ') AS warc_date,
         regexp_extract(rec, 'Content-Type: ([^\\r\\n]+)', 1)
             AS content_type,
         CAST(regexp_extract(rec, 'Content-Length: ([0-9]+)', 1)
              AS BIGINT) AS content_length,
         regexp_replace(substr(rec, strpos(rec, e'\\r\\n\\r\\n') + 4),
                        e'\\r\\n\\r\\n$', '') AS payload_text
"""

ORACLE_SQL["q_warc_scan"] = f"""
WITH n AS ({_WARC_RECORDS}),
p AS ({_WARC_FIELDS} FROM n)
SELECT target_uri, warc_type, record_id, warc_date, content_type,
       content_length, sha256(payload_text) AS payload_sha
FROM p
"""

ORACLE_SQL["q_wet_text"] = f"""
WITH n AS ({_WARC_RECORDS}),
p AS ({_WARC_FIELDS} FROM n)
SELECT target_uri, warc_date, content_length,
       CAST(length(payload_text) AS BIGINT) AS n_chars,
       payload_text AS text
FROM p WHERE warc_type = 'conversion'
"""


# Real video frame extraction (round 9): ticks at 1000 ms over
# (2 + doc_id % 4) frames spaced 500 ms; the frame on display at tick
# k is source frame 2k, whose solid gray level is pure doc_id
# arithmetic (exact through JPEG q95 + PNG; VP8L lossless outright).
# Container rotates per doc_id//16 mod 4 (MJPEG AVI / photo-JPEG MP4 /
# animated WebP / all-intra VP8 WebM) — timing and pixels are
# container-independent, so one oracle covers all four walks.
ORACLE_SQL["q_video_frames"] = """
WITH docs AS (SELECT doc_id FROM documents WHERE doc_id % 27 = 0),
ticks AS (
    SELECT doc_id,
           CAST(k AS INT) AS frame_idx,
           CAST(k * 1000 AS BIGINT) AS frame_ts_ms,
           2 * k AS src_frame
    FROM docs,
         UNNEST(generate_series(0, ((2 + doc_id % 2) - 1) // 2)) AS t(k))
SELECT doc_id AS media_id, frame_idx, frame_ts_ms,
       CAST(48 AS INT) AS width, CAST(32 AS INT) AS height,
       CAST((doc_id * 7 + src_frame * 50) % 200 + 20 AS DOUBLE) AS gray
FROM ticks
"""

# Lossy-VP8 decode (round 9): solid gray at qi=0 reconstructs exactly,
# so every column is doc_id arithmetic.
ORACLE_SQL["q_vp8_decode"] = """
SELECT doc_id AS media_id,
       CAST(16 + (doc_id // 8) % 4 * 12 AS BIGINT) AS width,
       CAST(16 + (doc_id // 16) % 3 * 10 AS BIGINT) AS height,
       CAST(3 AS BIGINT) AS channels,
       round(CAST(20 + (doc_id * 7) % 200 AS DOUBLE), 6) AS mean_px
FROM documents WHERE doc_id % 8 = 0
"""


# q_doc_text (round 9): DOCX/ODT round trip must reproduce EXACTLY the
# ASCII projection with '.' -> newline (each newline = one paragraph
# boundary the XML walk has to reassemble).
ORACLE_SQL["q_doc_text"] = """
WITH t AS (
    SELECT doc_id,
           replace(regexp_replace(text, '[^ -~]', '', 'g'),
                   '.', chr(10)) AS txt
    FROM documents WHERE doc_id % 7 = 0)
SELECT doc_id AS media_id, txt AS text,
       CAST(length(txt) AS BIGINT) AS n_chars,
       CAST(length(txt) - length(replace(txt, chr(10), '')) + 1 AS BIGINT)
         AS n_paragraphs
FROM t
"""


# q_epub_text (r11): EPUB round trip must reproduce EXACTLY the ASCII
# projection; chapters hold 3 lines each, so n_chapters is
# ceil(lines / 3) — lines = newline count + 1 (text '' is one empty
# line -> one chapter, matching encode_epub's [['']] group).
ORACLE_SQL["q_epub_text"] = """
WITH t AS (
    SELECT doc_id,
           replace(regexp_replace(text, '[^ -~]', '', 'g'),
                   '.', chr(10)) AS txt
    FROM documents WHERE doc_id % 11 = 0)
SELECT doc_id AS media_id, txt AS text,
       CAST(length(txt) AS BIGINT) AS n_chars,
       CAST(ceil((length(txt) - length(replace(txt, chr(10), ''))
                  + 1) / 3.0) AS BIGINT) AS n_chapters,
       'epub' AS kind
FROM t
"""


# q_rtf_text (r11): RTF round trip must reproduce EXACTLY the ASCII
# projection; n_paragraphs counts newline-separated lines (0 for an
# empty document, matching extract_rtf_text).
ORACLE_SQL["q_rtf_text"] = """
WITH t AS (
    SELECT doc_id,
           replace(regexp_replace(text, '[^ -~]', '', 'g'),
                   '.', chr(10)) AS txt
    FROM documents WHERE doc_id % 13 = 0)
SELECT doc_id AS media_id, txt AS text,
       CAST(length(txt) AS BIGINT) AS n_chars,
       CAST(CASE WHEN length(txt) = 0 THEN 0
            ELSE length(txt) - length(replace(txt, chr(10), '')) + 1
            END AS BIGINT) AS n_paragraphs,
       'rtf' AS kind
FROM t
"""


# q_pptx_text (r11): slides hold 3 lines each — n_slides is
# ceil(lines / 3), the q_epub_text arithmetic.
ORACLE_SQL["q_pptx_text"] = """
WITH t AS (
    SELECT doc_id,
           replace(regexp_replace(text, '[^ -~]', '', 'g'),
                   '.', chr(10)) AS txt
    FROM documents WHERE doc_id % 17 = 0)
SELECT doc_id AS media_id, txt AS text,
       CAST(length(txt) AS BIGINT) AS n_chars,
       CAST(ceil((length(txt) - length(replace(txt, chr(10), ''))
                  + 1) / 3.0) AS BIGINT) AS n_slides,
       'pptx' AS kind
FROM t
"""


# q_word_doc_text (r11): the Word 97 piece-table round trip must
# reproduce EXACTLY the ASCII projection (the q_rtf_text arithmetic).
ORACLE_SQL["q_word_doc_text"] = """
WITH t AS (
    SELECT doc_id,
           replace(regexp_replace(text, '[^ -~]', '', 'g'),
                   '.', chr(10)) AS txt
    FROM documents WHERE doc_id % 19 = 0)
SELECT doc_id AS media_id, txt AS text,
       CAST(length(txt) AS BIGINT) AS n_chars,
       CAST(CASE WHEN length(txt) = 0 THEN 0
            ELSE length(txt) - length(replace(txt, chr(10), '')) + 1
            END AS BIGINT) AS n_paragraphs,
       'doc' AS kind
FROM t
"""


# q_xls_scan (r11): the same events slice as q_xlsx_scan, through the
# BIFF8 binary walk.
ORACLE_SQL["q_xls_scan"] = """
SELECT event_id,
       strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts,
       user_id, event_type,
       CAST(round(value, 6) AS DOUBLE) AS value
FROM events
ORDER BY event_id LIMIT 20000
"""


# q_ods_scan (r12): the same events slice as q_xls_scan, through the
# ODF content.xml walk.
ORACLE_SQL["q_ods_scan"] = """
SELECT event_id,
       strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts,
       user_id, event_type,
       CAST(round(value, 6) AS DOUBLE) AS value
FROM events
ORDER BY event_id LIMIT 20000
"""


# q_ass_cues (r12): the q_subtitle_cues pattern over the SubStation
# formats — centisecond stamps, comma-bearing text, \N line breaks.
ORACLE_SQL["q_ass_cues"] = """
WITH docs AS (SELECT doc_id FROM documents WHERE doc_id % 11 = 0),
cues AS (
    SELECT doc_id, CAST(k AS BIGINT) AS cue_idx
    FROM docs,
         UNNEST(generate_series(0, (2 + doc_id % 3) - 1)) AS t(k))
SELECT doc_id, cue_idx,
       CAST((doc_id % 1000) * 40 + cue_idx * 1500 AS BIGINT) AS start_ms,
       CAST((doc_id % 1000) * 40 + cue_idx * 1500 + 900 + cue_idx * 100
            AS BIGINT) AS end_ms,
       'styled,' || doc_id || ' ' || cue_idx ||
         CASE WHEN cue_idx % 2 = 1
              THEN chr(10) || 'again ' || cue_idx ELSE '' END AS cue_text
FROM cues
"""


# q_opus_tone (r12): 0.5 s twin-marked SILK-NB Opus tones; decode
# returns whole 20 ms frames (4000 samples exactly), 2 Hz bins, the
# dominant bin is pure doc_id arithmetic.
ORACLE_SQL["q_opus_tone"] = """
SELECT doc_id AS media_id,
       CAST(4000 AS BIGINT) AS n_frames,
       CAST(8000 AS BIGINT) AS sample_rate,
       CAST(200 + ((doc_id // 64) % 8) * 100 AS BIGINT) AS dominant_hz
FROM documents WHERE doc_id % 64 = 0
"""


# q_audio_meta (r11): every tag field is doc_id arithmetic; format
# follows the four-way container rotation.
ORACLE_SQL["q_audio_meta"] = """
SELECT doc_id AS media_id,
       CASE (doc_id // 21) % 4
            WHEN 0 THEN 'id3v2.3' WHEN 1 THEN 'id3v2.4'
            WHEN 2 THEN 'flac' ELSE 'vorbis' END AS format,
       'Title ' || CAST(doc_id % 100 AS VARCHAR) AS title,
       'Artist ' || CAST(doc_id % 9 AS VARCHAR) AS artist,
       'Album ' || CAST(doc_id % 5 AS VARCHAR) AS album,
       CAST(2000 + doc_id % 25 AS VARCHAR) AS date,
       CAST(1 + doc_id % 12 AS VARCHAR) AS track,
       'genre' || CAST(doc_id % 4 AS VARCHAR) AS genre
FROM documents WHERE doc_id % 21 = 0
"""


# q_ppt_text (r11): one text atom per line — n_atoms = line count
# (one empty atom for an empty deck, matching encode_ppt).
ORACLE_SQL["q_ppt_text"] = """
WITH t AS (
    SELECT doc_id,
           replace(regexp_replace(text, '[^ -~]', '', 'g'),
                   '.', chr(10)) AS txt
    FROM documents WHERE doc_id % 23 = 0)
SELECT doc_id AS media_id, txt AS text,
       CAST(length(txt) AS BIGINT) AS n_chars,
       CAST(length(txt) - length(replace(txt, chr(10), '')) + 1
            AS BIGINT) AS n_atoms,
       'ppt' AS kind
FROM t
"""


# Baseline-TIFF decode (round 9): lossless, so every column is doc_id
# arithmetic regardless of which compression/endianness the writer
# rotation picked.
ORACLE_SQL["q_tiff_decode"] = """
SELECT doc_id AS media_id,
       CAST(16 + (doc_id // 8) % 4 * 12 AS BIGINT) AS width,
       CAST(16 + (doc_id // 16) % 3 * 10 AS BIGINT) AS height,
       CAST(3 AS BIGINT) AS channels,
       round(CAST(20 + (doc_id * 7) % 200 AS DOUBLE), 6) AS mean_px
FROM documents WHERE doc_id % 8 = 4
"""


# q_xlsx_scan (round 9, SURVEY S8 made real): the workbook was built
# from this exact slice, so re-selecting it IS the oracle.
ORACLE_SQL["q_xlsx_scan"] = """
SELECT event_id,
       strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts,
       user_id, event_type,
       CAST(round(value, 6) AS DOUBLE) AS value
FROM events
ORDER BY event_id LIMIT 20000
"""


# q_subtitle_cues (round 9): cue timing and multi-line bodies are pure
# doc_id arithmetic; format (SRT vs WebVTT) rotates Spark-side and is
# invisible to the recomputation.
ORACLE_SQL["q_subtitle_cues"] = """
WITH docs AS (SELECT doc_id FROM documents WHERE doc_id % 9 = 0),
cues AS (
    SELECT doc_id, CAST(k AS BIGINT) AS cue_idx
    FROM docs,
         UNNEST(generate_series(0, (2 + doc_id % 3) - 1)) AS t(k))
SELECT doc_id, cue_idx,
       CAST((doc_id % 1000) * 40 + cue_idx * 1500 AS BIGINT) AS start_ms,
       CAST((doc_id % 1000) * 40 + cue_idx * 1500 + 900 + cue_idx * 100
            AS BIGINT) AS end_ms,
       'line one ' || doc_id || ' ' || cue_idx ||
         CASE WHEN cue_idx % 2 = 1
              THEN chr(10) || 'second ' || cue_idx ELSE '' END AS cue_text
FROM cues
"""


# q_avro_scan (r9, three codecs since r10 incl. snappy): the fixture
# was built from this
# exact slice with native types, so re-selecting it IS the oracle.
ORACLE_SQL["q_avro_scan"] = """
SELECT event_id,
       strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts,
       user_id, event_type,
       CAST(round(value, 6) AS DOUBLE) AS value
FROM events
ORDER BY event_id LIMIT 20000
"""


# q_jsonl_scan (r12, seven compressions incl. foreign libzstd /
# liblz4 / libbrotli bytes): the fixture was built from this exact
# slice, so re-selecting it IS the oracle.
ORACLE_SQL["q_jsonl_scan"] = """
SELECT event_id,
       strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts,
       user_id, event_type,
       CAST(round(value, 6) AS DOUBLE) AS value
FROM events
ORDER BY event_id LIMIT 21000
"""


# q_orc_scan (r12, five ORC compression kinds): the fixture was
# written by Spark's ORC sink from this exact slice, so re-selecting
# it IS the oracle.
ORACLE_SQL["q_orc_scan"] = """
SELECT event_id,
       strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts,
       user_id, event_type,
       CAST(round(value, 6) AS DOUBLE) AS value
FROM events
ORDER BY event_id LIMIT 22000
"""


# q_7z_scan (r12, libarchive-authored lzma1/lzma2/zstd archives): the
# fixture was built from this exact slice, so re-selecting it IS the
# oracle.
ORACLE_SQL["q_7z_scan"] = """
SELECT event_id,
       strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts,
       user_id, event_type,
       CAST(round(value, 6) AS DOUBLE) AS value
FROM events
ORDER BY event_id LIMIT 23000
"""


ORACLES = {n: ORACLE_SQL[n] for n in DRIVER_GATED}
EXTRA_ORACLES = {n: ORACLE_SQL[n] for n in EXTRA_QUERIES}
