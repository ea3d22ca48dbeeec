"""Cache-scope lifecycle (r13): operator-internal persists are registered
per session and released at the next query boundary, so a long-lived
session (the 174-query bench, streaming loops, notebooks) holds at most
one query's caches instead of accumulating every operator's.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from datapump_spark.cachescope import _SCOPES, release_scope, scoped_persist


def _n_cached(spark) -> int:
    """Count persisted RDDs the JVM still tracks (storage bookkeeping)."""
    return spark.sparkContext._jsc.sc().getPersistentRDDs().size()


def test_scoped_persist_registers_and_release_unpersists(spark):
    df = scoped_persist(spark.range(100).withColumn("x", F.col("id") * 2))
    assert df.count() == 100                      # materialize the cache
    assert df.storageLevel.useMemory
    assert len(_SCOPES.get(spark, [])) >= 1
    n = release_scope(spark)
    assert n >= 1
    assert not df.storageLevel.useMemory          # unpersisted
    assert _SCOPES.get(spark) is None             # scope emptied
    assert df.count() == 100                      # recompute still correct


def test_release_scope_idempotent_and_safe_on_empty(spark):
    assert release_scope(spark) == 0
    assert release_scope(spark) == 0


def test_query_boundary_releases_previous_query_caches(spark, sf_dir):
    """Running query B releases the operator caches query A registered;
    results are unaffected (the bench-session accumulation defect)."""
    from datapump_spark.queries import ALL_QUERIES

    release_scope(spark)
    # q_sparse_sim's operator persists its normalized tf frame
    a = ALL_QUERIES["q_sparse_sim"](spark, sf_dir)
    rows_first = a.count()
    assert len(_SCOPES.get(spark, [])) >= 1, \
        "sparse_sim should register its persist in the scope"
    held = list(_SCOPES.get(spark, []))
    # building the NEXT query must release A's registrations
    b = ALL_QUERIES["q_pagerank"](spark, sf_dir)
    for f in held:
        assert not f.storageLevel.useMemory, \
            "previous query's scoped cache must be unpersisted"
    assert b.count() > 0
    # and A still recomputes to the same result without its cache
    rows_again = ALL_QUERIES["q_sparse_sim"](spark, sf_dir).count()
    assert rows_again == rows_first
    release_scope(spark)


def test_session_storage_does_not_accumulate_across_queries(spark, sf_dir):
    """After k queries + one boundary, the JVM's persistent-RDD table is
    back to (at most) its baseline — no unbounded growth with query
    count."""
    from datapump_spark.queries import ALL_QUERIES

    release_scope(spark)
    spark.catalog.clearCache()
    baseline = _n_cached(spark)
    for name in ("q_sparse_sim", "q_triangles", "q_lm_score"):
        ALL_QUERIES[name](spark, sf_dir).write.format("noop") \
            .mode("overwrite").save()
    release_scope(spark)
    # asynchronous unpersist: bounded wait for the block manager
    import time
    for _ in range(50):
        if _n_cached(spark) <= baseline:
            break
        time.sleep(0.1)
    assert _n_cached(spark) <= baseline


def test_persist_shared_policy(spark):
    """persist_shared persists only frames whose lineage carries a wide
    step or Python kernel, and never frames declared larger than input."""
    from pyspark.sql import functions as F

    from datapump_spark.cachescope import persist_shared, release_scope

    release_scope(spark)
    narrow = spark.range(100).select((F.col("id") * 2).alias("x"))
    out = persist_shared(narrow)
    assert out.storageLevel.useMemory is False      # narrow -> recompute

    wide = spark.range(100).groupBy((F.col("id") % 3).alias("g")) \
        .agg(F.count("*").alias("n"))
    out2 = persist_shared(wide)
    assert out2.storageLevel.useMemory is True      # Aggregate -> persist

    grown = persist_shared(wide, grows=True)
    assert grown.storageLevel.useMemory is True or grown is wide
    # grows=True must return the input unchanged (no new persist)
    assert grown is wide
    release_scope(spark)


def test_persist_shared_matches_node_names_not_aliases(spark):
    """The policy reads plan NODE names: a narrow projection whose alias
    spells node names stays unpersisted, an aggregate still persists."""
    from pyspark.sql import functions as F

    from datapump_spark.cachescope import persist_shared, release_scope

    release_scope(spark)
    aliased = spark.range(100).select(F.col("id").alias("Join_Sort"))
    assert persist_shared(aliased).storageLevel.useMemory is False

    agg = spark.range(100).groupBy((F.col("id") % 3).alias("Join_Sort")) \
        .agg(F.count("*").alias("n"))
    assert persist_shared(agg).storageLevel.useMemory is True
    release_scope(spark)
