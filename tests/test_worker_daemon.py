"""The engine's Python worker daemon (``worker_daemon``) and what it needs.

- Its stat-checked ``zipimporter.invalidate_caches`` reads an archive's
  directory once, and again only after the archive is rewritten.
- Engine sessions fork workers from it, so a task's
  ``importlib.invalidate_caches()`` reads no zip directory.
- A local engine session's workers import the package from the driver's
  checkout, whatever the working directory.
"""

from __future__ import annotations

import importlib
import os
import subprocess
import sys
import zipfile
import zipimport

from erlang_mapreduce_spark import worker_daemon

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_stat_checked_invalidation_rereads_only_a_changed_zip(
    tmp_path, monkeypatch
):
    archive = tmp_path / "daemon_probe.zip"

    def write(names, mtime):
        with zipfile.ZipFile(archive, "w") as z:
            for n in names:
                z.writestr(f"{n}.py", f"NAME = {n!r}\n")
        os.utime(archive, (mtime, mtime))

    write(["zprobe_a"], 1_000_000_000)
    monkeypatch.syspath_prepend(str(archive))
    # restore the stock method at teardown
    monkeypatch.setattr(
        zipimport.zipimporter,
        "invalidate_caches",
        zipimport.zipimporter.invalidate_caches,
    )
    worker_daemon.install()
    reads: list[str] = []
    read_directory = zipimport._read_directory

    def counting(path):
        reads.append(path)
        return read_directory(path)

    try:
        assert importlib.import_module("zprobe_a").NAME == "zprobe_a"
        monkeypatch.setattr(zipimport, "_read_directory", counting)
        importlib.invalidate_caches()
        importlib.invalidate_caches()
        assert reads.count(str(archive)) == 1

        write(["zprobe_a", "zprobe_b"], 1_000_000_100)
        importlib.invalidate_caches()
        assert reads.count(str(archive)) == 2
        assert importlib.import_module("zprobe_b").NAME == "zprobe_b"
    finally:
        sys.modules.pop("zprobe_a", None)
        sys.modules.pop("zprobe_b", None)


def test_tasks_read_no_zip_directory(spark):
    """Eight one-row partitions (two task waves on four cores): each task's
    ``importlib.invalidate_caches()`` reads no zip directory. With the
    stock daemon every task re-reads pyspark.zip once per zipimporter."""
    assert (
        spark.conf.get("spark.python.daemon.module")
        == "erlang_mapreduce_spark.worker_daemon"
    )

    def count_reads(it):
        import importlib
        import zipimport

        n = 0
        read_directory = zipimport._read_directory

        def counting(path):
            nonlocal n
            n += 1
            return read_directory(path)

        zipimport._read_directory = counting
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = read_directory
        for batch in it:
            yield batch.assign(reads=n)[["reads"]]

    rows = spark.range(0, 8, 1, 8).mapInPandas(count_reads, "reads long")
    assert [r.reads for r in rows.collect()] == [0] * 8


def test_workers_import_package_outside_checkout(tmp_path, sf_dir):
    """From a working directory outside the checkout and with PYTHONPATH
    unset, the Python UDF ops still match their oracles: the workers find
    the package through the session's executor PYTHONPATH."""
    script = (
        f"import sys; sys.path.insert(0, {REPO!r})\n"
        "from erlang_mapreduce_spark import get_spark\n"
        "from tests.oracle import run_compare\n"
        "spark = get_spark('daemon-outside-checkout')\n"
        "for op in ('dedup_minhash', 'quality_classifier_score'):\n"
        f"    run_compare(spark, op, {sf_dir!r})\n"
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.update(SPARK_GRAFT_CPUS="2", SPARK_GRAFT_DRIVER_MEM="1g")
    proc = subprocess.run(
        [sys.executable, "-c", script],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
