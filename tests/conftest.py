from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    from erlang_mapreduce_spark import get_spark

    s = get_spark("emr-spark-tests")
    yield s


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


# --- slow-tier assignment (r16 VERDICT task 1) -----------------------------
# The driver's test check runs `pytest tests/ -x -q` under a budget the full
# suite outgrew (~25 min; r16 recorded tests_ok=false by truncation at 89%
# with zero failures). The DEFAULT tier (pytest.ini: -m "not slow") keeps
# the complete oracle mirror (test_correctness — every registered op vs
# DuckDB) and all semantic/plan pins; the tiers below are SECONDARY sweeps
# that re-check the same operators on generated inputs, and run in the
# background verify (`-m "slow or not slow"`). Durations from the r17 full
# run (642 passed, 1504 s): the marked set removes ~900 s.
_SLOW_MODULES = {
    # random-data fuzz vs oracle (188 tests, ~500 s): every op here is
    # already oracle-mirrored on the deterministic fixtures in the default
    # tier; the fuzz re-checks robustness on random inputs
    "test_sql_fuzz",
    # hostile-content fuzz over the text family (26 tests, ~60 s)
    "test_adversarial_content",
    # reference-repo golden replays over the full bundled datasets
    "test_reference_parity",
}
_SLOW_TESTS = {
    # full-registry sweep over empty tables (67 s)
    "test_every_op_survives_empty_tables",
    # global plan anti-pattern sweep over all registered ops (27 s)
    "test_no_cartesian_products_or_row_udfs_anywhere",
    # property sweeps with many random replays (15-20 s each)
    "test_kmv_fold_is_batch_invariant",
    "test_cc_matches_union_find_on_random_graphs",
    # 12-configuration zero-norm twin matrix (~15 s post-oracle-fix)
    "test_dedup_semantic_zero_norm_twins",
    # fresh-process checks, one JVM start each (~25 s): workers import the
    # package outside the checkout; durable snapshots are gone at exit
    "test_workers_import_package_outside_checkout",
    "test_durable_snapshots_removed_at_exit",
}


def pytest_collection_modifyitems(config, items):
    for item in items:
        mod = item.module.__name__.rsplit(".", 1)[-1]
        base = item.name.split("[", 1)[0]
        if mod in _SLOW_MODULES or base in _SLOW_TESTS:
            item.add_marker(pytest.mark.slow)
