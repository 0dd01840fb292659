"""session.keep_unchanged_zip_dirs: a zipimporter re-reads its archive's
directory on importlib.invalidate_caches() only when the archive changed,
and an archive last changed before the process started is not re-read even
on the first call. Importing the package inside a PySpark worker installs
it."""

from __future__ import annotations

import importlib
import os
import sys
import time
import zipfile
import zipimport

import pandas as pd
import pytest
from pyspark.sql import functions as F

from isimip_qa_spark import session
from isimip_qa_spark.session import keep_unchanged_zip_dirs

MODS = ("zipdirs_a", "zipdirs_b")


def _write(path, *mods):
    """(Re)write the zip archive at `path` with one module per name."""
    with zipfile.ZipFile(path, "w") as z:
        for m in mods:
            z.writestr(f"{m}.py", f"NAME = {m!r}\n")


@pytest.fixture
def zip_path(tmp_path, monkeypatch):
    """The path of a zip archive on sys.path holding module zipdirs_a; the
    helper's install is undone after the test."""
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", zipimport.zipimporter.invalidate_caches
    )
    path = str(tmp_path / "mods.zip")
    _write(path, MODS[0])
    monkeypatch.syspath_prepend(path)
    yield path
    for m in MODS:
        sys.modules.pop(m, None)


def _importer(path):
    importlib.import_module("zipdirs_a")
    imp = sys.path_importer_cache[path]
    assert isinstance(imp, zipimport.zipimporter)
    return imp


def _count_reads(monkeypatch, path):
    reads = []
    read = zipimport._read_directory

    def counting(archive):
        if archive == path:
            reads.append(archive)
        return read(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return reads


def test_unchanged_zip_is_not_reread(zip_path, monkeypatch):
    imp = _importer(zip_path)
    reads = _count_reads(monkeypatch, zip_path)
    keep_unchanged_zip_dirs()
    importlib.invalidate_caches()  # nothing recorded yet: reads, as before
    assert len(reads) == 1
    files = imp._files
    for _ in range(3):
        importlib.invalidate_caches()
    assert len(reads) == 1
    assert imp._files is files


def test_rewritten_zip_is_reread(zip_path, monkeypatch):
    imp = _importer(zip_path)
    keep_unchanged_zip_dirs()
    importlib.invalidate_caches()
    with pytest.raises(ImportError):
        importlib.import_module("zipdirs_b")
    _write(zip_path, *MODS)  # same path, new content
    reads = _count_reads(monkeypatch, zip_path)
    importlib.invalidate_caches()
    assert reads == [zip_path]
    assert importlib.import_module("zipdirs_b").NAME == "zipdirs_b"
    assert "zipdirs_b.py" in imp._files


def test_vanished_zip_keeps_original_behaviour(zip_path):
    imp = _importer(zip_path)
    keep_unchanged_zip_dirs()
    importlib.invalidate_caches()
    os.remove(zip_path)
    importlib.invalidate_caches()  # os.stat fails: re-read, which empties it
    assert imp._files == {}


def test_second_install_wraps_once(zip_path):
    original = zipimport.zipimporter.invalidate_caches
    keep_unchanged_zip_dirs()
    wrapped = zipimport.zipimporter.invalidate_caches
    assert wrapped is not original
    keep_unchanged_zip_dirs()
    assert zipimport.zipimporter.invalidate_caches is wrapped


def _fake_proc(tmp_path, monkeypatch, start_s: int) -> None:
    """Point the process-start probe at a fake /proc whose process started
    at epoch second `start_s` (booted 10 s earlier)."""
    proc = tmp_path / "proc"
    (proc / "self").mkdir(parents=True)
    hz = os.sysconf("SC_CLK_TCK")
    fields = ["S"] + ["0"] * 18 + [str(10 * hz)] + ["0"] * 30
    (proc / "self" / "stat").write_text(f"42 (py (x) y) {' '.join(fields)}\n")
    (proc / "stat").write_text(f"cpu  1 2 3\nbtime {start_s - 10}\nprocesses 9\n")
    monkeypatch.setattr(session, "_PROC", str(proc))


def test_process_start_reads_proc(tmp_path, monkeypatch):
    real = session._process_start()
    assert real is not None and real < time.time_ns()
    _fake_proc(tmp_path, monkeypatch, 1_700_000_000)
    want = 1_700_000_000 * 10**9 - session._START_MARGIN_NS
    assert session._process_start() == want


def test_primed_importer_is_not_reread(zip_path, tmp_path, monkeypatch):
    imp = _importer(zip_path)
    files = imp._files
    # the archive was written before the (fake) process start
    _fake_proc(tmp_path, monkeypatch, int(time.time()) + 100)
    reads = _count_reads(monkeypatch, zip_path)
    keep_unchanged_zip_dirs()
    importlib.invalidate_caches()
    assert reads == []
    assert imp._files is files
    # a rewrite after the install is still seen
    _write(zip_path, *MODS)
    importlib.invalidate_caches()
    assert reads == [zip_path]
    assert importlib.import_module("zipdirs_b").NAME == "zipdirs_b"


def test_archive_newer_than_start_is_reread(zip_path, tmp_path, monkeypatch):
    imp = _importer(zip_path)
    _fake_proc(tmp_path, monkeypatch, int(time.time()) - 100)
    reads = _count_reads(monkeypatch, zip_path)
    keep_unchanged_zip_dirs()
    assert not hasattr(imp, "_dir_stat")
    importlib.invalidate_caches()
    assert reads == [zip_path]


def test_unreadable_proc_rereads(zip_path, tmp_path, monkeypatch):
    imp = _importer(zip_path)
    monkeypatch.setattr(session, "_PROC", str(tmp_path / "no-proc"))
    assert session._process_start() is None
    reads = _count_reads(monkeypatch, zip_path)
    keep_unchanged_zip_dirs()
    assert not hasattr(imp, "_dir_stat")
    importlib.invalidate_caches()
    assert reads == [zip_path]


def test_every_worker_task_keeps_zip_dirs(spark):
    """A plain pandas UDF over more partitions than workers: every task,
    a worker's first included, runs with the keeper installed and its
    pyspark.zip importers primed."""

    @F.pandas_udf("string")
    def keeper_state(ids: pd.Series) -> pd.Series:
        """Is the keeper installed in this worker, and how many of its
        pyspark.zip importers exist / hold the archive's current stat. The
        UDF refers to `session`, so unpickling it imports the package, as
        unpickling any package UDF does."""
        pz = [
            i
            for i in sys.path_importer_cache.values()
            if isinstance(i, zipimport.zipimporter)
            and i.archive.endswith("pyspark.zip")
        ]
        kept = getattr(zipimport.zipimporter.invalidate_caches, "keeps_unchanged", False)
        n_rec = sum(
            getattr(i, "_dir_stat", None) == session._zip_stat(i.archive) for i in pz
        )
        return pd.Series([f"{os.getpid()} {kept} {len(pz)} {n_rec}"] * len(ids))

    n = 3 * spark.sparkContext.defaultParallelism
    rows = (
        spark.range(0, 2 * n, numPartitions=n)
        .select(F.spark_partition_id().alias("p"), keeper_state("id").alias("s"))
        .distinct()
        .collect()
    )
    assert sorted(r["p"] for r in rows) == list(range(n))  # one state per task
    states = [r["s"].split() for r in rows]
    assert len({pid for pid, *_ in states}) < n  # workers were reused
    for _, kept, n_pz, n_rec in states:
        assert kept == "True"
        assert n_rec == n_pz
    assert not getattr(
        zipimport.zipimporter.invalidate_caches, "keeps_unchanged", False
    ), "the driver process must not install the keeper"
    if not any(int(n_pz) for _, _, n_pz, _ in states):
        pytest.skip("the workers import pyspark from no zip archive here")
