"""Bench-harness safety net: every query bench.py times must BUILD and RUN
at sf0.001, and the bench list must only name registered queries. Also
pins the registry's shape: one registration per name, the tier views
derived from the two tier tuples, and one oracle per non-variant query.

Round-2 post-mortem: one query crashing erased the whole round's bench
evidence because nothing exercised the bench registry end-to-end between
testdata regenerations. bench.py is now per-query fault-tolerant AND this
gate fails CI the moment any benched query stops running. The query
runner (scripts/run_queries.py) is driven here on two queries without
its warm-up, so a registry change that breaks a subcommand fails here.
"""

from __future__ import annotations

import importlib.util
import sys
from pathlib import Path

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


def test_bench_imports_resolve():
    """Every ``datapump_spark`` module and name bench.py imports, at any
    depth, exists. The warm-up kernel imports its codec modules inside a
    function no other default-tier test runs, and bench.py is frozen, so
    a renamed or deleted engine name must fail here first."""
    import ast

    tree = ast.parse((Path(__file__).resolve().parents[1] / "bench.py")
                     .read_text())
    seen, missing = set(), []
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            pairs = [(a.name, None) for a in node.names]
        elif isinstance(node, ast.ImportFrom):
            pairs = [(node.module or "", a.name) for a in node.names]
        else:
            continue
        for mod, name in pairs:
            if not mod.startswith("datapump_spark"):
                continue
            seen.add(mod)
            try:
                module = importlib.import_module(mod)
            except ImportError:
                missing.append(mod)
                continue
            if name and not hasattr(module, name) and \
                    importlib.util.find_spec(f"{mod}.{name}") is None:
                missing.append(f"{mod}.{name}")
    assert {"datapump_spark.operators.brotli", "datapump_spark.operators.lz4",
            "datapump_spark.operators"} <= seen
    assert not missing, f"bench.py imports missing names: {missing}"


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


def _load_runner():
    path = Path(__file__).resolve().parents[1] / "scripts" / "run_queries.py"
    spec = importlib.util.spec_from_file_location("run_queries", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


RUNNER_NAMES = ["q_mode", "q_pricing_summary"]


def test_runner_passes_report_old_json_shapes(spark, sf_dir):
    runner = _load_runner()
    build, wall = runner.passes(spark, RUNNER_NAMES, sf_dir, 1, run=False)
    assert wall is None
    report = runner.build_report(build)
    assert set(report) == {"total_build_sec", "build"}
    assert set(report["build"]) == set(RUNNER_NAMES)

    build, wall = runner.passes(spark, RUNNER_NAMES, sf_dir, 1, run=True)
    assert set(build) == set(RUNNER_NAMES)
    for name, row in runner.time_report(wall).items():
        assert set(row) == {"min", "med", "max", "all"}, name
        assert len(row["all"]) == 1
        assert row["all"][0] >= build[name][0]


def test_runner_plan_table_and_dumps(spark, sf_dir, tmp_path):
    runner = _load_runner()
    lines = runner.plan(spark, RUNNER_NAMES, sf_dir, out=tmp_path)
    rows = [ln for ln in lines if ln.startswith("| q_")]
    assert [r.split(" | ")[0][2:] for r in rows] == RUNNER_NAMES
    for row in rows:
        cells = [c.strip() for c in row.strip("|").split("|")]
        assert len(cells) == 7
        assert all(c.isdigit() for c in cells[1:6]), row
    for name in RUNNER_NAMES:
        assert (tmp_path / f"{name}.txt").read_text().strip()


@pytest.fixture(scope="module")
def replicated(tmp_path_factory):
    """sf0.001 replicated x2 by ``run_queries.py replicate``."""
    out = tmp_path_factory.mktemp("x2")
    _load_runner().replicate(SF_DIR, out, 2)
    return out


def _replica_rows(out, table, r):
    import pyarrow.parquet as pq

    return pq.read_table(sorted((out / f"{table}.parquet")
                                .glob(f"part-{r:05d}-*.parquet")))


def test_replicate_shifts_keys_and_keeps_replica_zero(replicated):
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    for path in sorted(Path(SF_DIR).glob("*.parquet")):
        src = pq.read_table(path)
        rep = pq.read_table(replicated / path.name)
        if path.stem in ("nation", "region"):
            assert rep.equals(src), path.stem
            continue
        assert rep.num_rows == 2 * src.num_rows, path.stem
        assert len(list((replicated / path.name).iterdir())) == 8
        r0, r1 = (_replica_rows(replicated, path.stem, r) for r in (0, 1))
        assert r0.equals(src), path.stem
        keys = [f.name for f in src.schema if str(f.type) == "int64"
                and f.name.endswith(("key", "_id"))]
        assert keys, path.stem
        for k in keys:
            assert not set(r0[k].to_pylist()) & set(r1[k].to_pylist()), k
    orders = pq.read_table(replicated / "orders.parquet")
    lineitem = pq.read_table(replicated / "lineitem.parquet")
    joined = lineitem.join(orders.select(["o_orderkey"]), "l_orderkey",
                           "o_orderkey", join_type="inner")
    assert joined.num_rows == 2 * pq.read_table(
        f"{SF_DIR}/lineitem.parquet").num_rows
    r1 = _replica_rows(replicated, "documents", 1)
    assert pc.all(pc.equal(pc.utf8_length(r1["text"]), r1["n_chars"])).as_py()


def test_replicate_tokens_disjoint_and_emb_dim(replicated):
    tokens = [{t for text in _replica_rows(replicated, "documents", r)
               ["text"].to_pylist() for t in text.split()} for r in (0, 1)]
    assert tokens[0] and not tokens[0] & tokens[1]
    assert queries._emb_dim(str(replicated)) == queries._emb_dim(SF_DIR)


def test_emb_dim_refuses_empty_table(tmp_path):
    import pyarrow.parquet as pq

    src = pq.read_table(f"{SF_DIR}/embeddings.parquet")
    pq.write_table(src.schema.empty_table(), tmp_path / "embeddings.parquet")
    with pytest.raises(ValueError, match="empty"):
        queries._emb_dim(str(tmp_path))


def test_emb_dim_refuses_directory_without_part_files(tmp_path):
    (tmp_path / "embeddings.parquet").mkdir()
    with pytest.raises(ValueError, match="is empty — cannot infer embedding dim"):
        queries._emb_dim(str(tmp_path))


def test_runner_times_registered_query_on_replica(spark, replicated):
    build, wall = _load_runner().passes(spark, ["q_ivfpq_topk"],
                                        str(replicated), 1, run=True)
    assert wall["q_ivfpq_topk"][0] >= build["q_ivfpq_topk"][0] > 0
