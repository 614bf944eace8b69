"""Pins for tables.load's per-table schema cache: parquet schema inference
is a Spark job, so it runs once per table version, and a table rewritten
at the same path is inferred again."""

from __future__ import annotations

import os
import shutil
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from erlang_mapreduce_spark import tables
from erlang_mapreduce_spark.tables import load


def _jobs_started(spark, fn) -> int:
    """Number of Spark jobs ``fn`` starts, counted through the status
    tracker under a job group of its own."""
    sc = spark.sparkContext
    group = f"load-probe-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    # the status store is fed asynchronously by the listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize("name", ["nation", "events"])
def test_second_load_of_unchanged_table_starts_no_job(
    spark, sf_dir, tmp_path, name
):
    shutil.copyfile(
        os.path.join(sf_dir, f"{name}.parquet"),
        tmp_path / f"{name}.parquet",
    )
    d = str(tmp_path)
    first = _jobs_started(spark, lambda: load(spark, d, name))
    assert first >= 1, "first load should infer the schema with a job"
    second = _jobs_started(spark, lambda: load(spark, d, name))
    assert second == 0, f"cached-schema load started {second} job(s)"
    rows = load(spark, d, name).collect()
    assert rows == load(spark, sf_dir, name).collect()


def test_rewritten_table_is_reinferred(spark, sf_dir, tmp_path):
    path = tmp_path / "nation.parquet"
    shutil.copyfile(os.path.join(sf_dir, "nation.parquet"), path)
    d = str(tmp_path)
    before = load(spark, d, "nation")
    assert "n_extra" not in before.columns

    st = os.stat(path)
    pq.write_table(
        pa.table({"n_nationkey": [1, 2], "n_extra": ["a", "b"]}), path
    )
    # a new size, and an mtime that differs even on coarse-clock filesystems
    os.utime(path, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000_000))
    assert tables.fingerprint(d, "nation") != (st.st_size, st.st_mtime_ns)

    jobs = _jobs_started(spark, lambda: load(spark, d, "nation"))
    assert jobs >= 1, "rewritten table was served a cached schema"
    after = load(spark, d, "nation")
    assert after.columns == ["n_nationkey", "n_extra"]
    assert sorted(r.n_extra for r in after.collect()) == ["a", "b"]

