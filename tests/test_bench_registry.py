"""Bench-harness safety net: every query bench.py times must BUILD and RUN
at sf0.001, and the bench list must only name registered queries. Also
pins the registry's shape: one registration per name, the tier views
derived from the two tier tuples, and one oracle per non-variant query.

Round-2 post-mortem: one query crashing erased the whole round's bench
evidence because nothing exercised the bench registry end-to-end between
testdata regenerations. bench.py is now per-query fault-tolerant AND this
gate fails CI the moment any benched query stops running.
"""

from __future__ import annotations

import sys

import pytest

from datapump_spark import queries
from datapump_spark.oracles import ORACLE_SQL, ORACLES
from datapump_spark.queries import (ALL_QUERIES, BENCH_VARIANTS, DRIVER_GATED,
                                    EXTRA_QUERIES, QUERIES)

SF_DIR = "/root/testdata/sf0.001"


def bench_names() -> list[str]:
    import bench

    return list(bench.BENCH_QUERIES)


def test_bench_list_is_registered():
    missing = [n for n in bench_names() if n not in ALL_QUERIES]
    assert not missing, f"bench.py names unregistered queries: {missing}"


def test_driver_tier_follows_declared_order():
    assert list(QUERIES) == list(DRIVER_GATED)


def test_tiers_partition_the_registry():
    tiers = [set(QUERIES), set(EXTRA_QUERIES), set(BENCH_VARIANTS)]
    assert not tiers[0] & tiers[1]
    assert not tiers[0] & tiers[2]
    assert not tiers[1] & tiers[2]
    assert set().union(*tiers) == set(ALL_QUERIES)
    assert len(ALL_QUERIES) == 221


def test_every_non_variant_has_one_oracle():
    assert set(ORACLES) == set(QUERIES)
    assert not set(BENCH_VARIANTS) & set(ORACLE_SQL)
    assert set(ORACLE_SQL) == set(QUERIES) | set(EXTRA_QUERIES)


def test_registry_wraps_while_module_names_stay_plain():
    for name, fn in ALL_QUERIES.items():
        assert hasattr(fn, "__wrapped__"), name
        defined = getattr(sys.modules[fn.__module__], name)
        assert not hasattr(defined, "__wrapped__"), name


def test_registering_a_name_twice_raises():
    def q_csv_scan(spark, sf_dir):
        raise AssertionError("never registered")

    before = dict(queries._REGISTRY)
    with pytest.raises(ValueError, match="q_csv_scan"):
        queries.query(q_csv_scan)
    assert queries._REGISTRY == before


# The two heaviest variants (multi-second ANN index builds) run behind
# All variant smokes are `slow` (round 7): the driver executes every
# BENCH_QUERIES entry per round with errors recorded (bench.py n_errors),
# and their recall/value semantics are pinned in test_pq /
# test_text_dedup — this parametrization adds only registry wiring,
# which test_bench_list_is_registered still covers in-default.
@pytest.mark.parametrize("name", [
    pytest.param(n, marks=pytest.mark.slow) for n in sorted(BENCH_VARIANTS)])
def test_bench_variant_runs(spark, name):
    """BENCH_VARIANTS are outside the driver's 50-query correctness gate
    and outside EXTRA_ORACLES — this smoke is their only registry-wide
    net. Row counts/values are pinned in each operator's own test file;
    here: analyzes, executes, returns a stable non-empty schema."""
    df = BENCH_VARIANTS[name](spark, SF_DIR)
    assert df.schema.fields
    assert df.count() >= 0
