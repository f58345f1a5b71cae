"""zipstamp: a zip archive on sys.path is re-read at invalidation only when
its (mtime, size) stamp moved; and, end to end, a reused Python worker stops
re-reading pyspark.zip at the start of every task."""

from __future__ import annotations

import importlib
import json
import os
import subprocess
import sys
import zipfile
import zipimport
from pathlib import Path

import pytest

from pdf_parser_spark import zipstamp

pytestmark = pytest.mark.skipif(
    not zipstamp.install(), reason="zipstamp is only installed on CPython 3.10/3.11"
)

REPO = Path(__file__).resolve().parents[1]


def _write_zip(path: Path, modules: dict[str, str], bump_ns: int = 0) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        for name, src in modules.items():
            zf.writestr(name, src)
    if bump_ns:
        st = os.stat(path)
        os.utime(path, ns=(st.st_atime_ns, st.st_mtime_ns + bump_ns))


@pytest.fixture
def reads(monkeypatch):
    """Counts zipimport._read_directory calls (invalidate_caches calls it
    through the module global)."""
    count = [0]
    real = zipimport._read_directory

    def counting(archive):
        count[0] += 1
        return real(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return count


def test_unchanged_archive_is_not_reread(tmp_path, reads):
    arc = tmp_path / "lib.zip"
    _write_zip(arc, {"pkg/__init__.py": "", "pkg/sub/__init__.py": "", "zs_a.py": "A = 1\n"})
    top = zipimport.zipimporter(str(arc))
    sub = zipimport.zipimporter(str(arc / "pkg"))
    try:
        assert reads[0] == 1  # construction; the second importer shares it
        # the directory read at construction carries no stamp: one read
        top.invalidate_caches()
        sub.invalidate_caches()
        assert reads[0] == 2
        assert sub._files is top._files
        for _ in range(3):
            top.invalidate_caches()
            sub.invalidate_caches()
        assert reads[0] == 2
        assert top.find_spec("zs_a") is not None
    finally:
        zipimport._zip_directory_cache.pop(str(arc), None)


def test_rewritten_archive_is_reread_and_new_module_imports(tmp_path, reads, monkeypatch):
    arc = tmp_path / "lib.zip"
    _write_zip(arc, {"zs_old.py": "V = 'old'\n"})
    monkeypatch.syspath_prepend(str(arc))
    try:
        assert importlib.import_module("zs_old").V == "old"
        importlib.invalidate_caches()
        before = reads[0]
        importlib.invalidate_caches()
        assert reads[0] == before
        with pytest.raises(ImportError):
            importlib.import_module("zs_new")
        _write_zip(arc, {"zs_old.py": "V = 'old'\n", "zs_new.py": "V = 'new'\n"}, bump_ns=10**9)
        importlib.invalidate_caches()
        assert reads[0] == before + 1
        assert importlib.import_module("zs_new").V == "new"
    finally:
        for name in ("zs_old", "zs_new"):
            sys.modules.pop(name, None)
        zipimport._zip_directory_cache.pop(str(arc), None)


def test_deleted_archive_behaves_as_before(tmp_path, reads):
    arc = tmp_path / "lib.zip"
    _write_zip(arc, {"zs_gone.py": ""})
    imp = zipimport.zipimporter(str(arc))
    imp.invalidate_caches()
    os.remove(arc)
    imp.invalidate_caches()
    assert imp._files == {}
    assert str(arc) not in zipimport._zip_directory_cache
    assert imp.find_spec("zs_gone") is None
    # the unwrapped method leaves the same state behind
    _write_zip(arc, {"zs_gone.py": ""})
    raw = zipimport.zipimporter(str(arc))
    os.remove(arc)
    zipimport.zipimporter.invalidate_caches.__wrapped__(raw)
    assert raw._files == {}
    assert str(arc) not in zipimport._zip_directory_cache


_TASK_READS = r"""
import json
from pdf_parser_spark.session import get_spark

spark = get_spark("zipstamp", master="local[1]")


def reads_since_last_task(batches):
    import os
    import zipimport

    import pdf_parser_spark  # noqa: F401  (what a package UDF's unpickle does)

    state = getattr(zipimport, "_zipstamp_test_reads", None)
    if state is None:
        state = zipimport._zipstamp_test_reads = {"n": 0, "seen": 0}
        real = zipimport._read_directory

        def counting(archive):
            state["n"] += 1
            return real(archive)

        zipimport._read_directory = counting
    for pdf in batches:
        pdf = pdf.iloc[:1].copy()
        pdf["pid"] = os.getpid()
        pdf["reads"] = state["n"] - state["seen"]
        state["seen"] = state["n"]
        yield pdf


rows = (
    spark.range(0, 40, numPartitions=4)
    .mapInPandas(reads_since_last_task, "id long, pid long, reads long")
    .collect()
)
print("TASK_READS " + json.dumps(sorted((r.id, r.pid, r.reads) for r in rows)))
spark.stop()
"""


def test_reused_worker_stops_rereading_zips():
    """local[1] mapInPandas over 4 partitions: the tasks run one after
    another in one reused worker, and each reports the zip directory reads
    made since the previous task.  Task 1 installs the counter; task 2 pays
    the one stamped read per archive; later tasks read nothing (without the
    stamp each task re-reads pyspark.zip once per imported subpackage)."""
    env = dict(os.environ, SPARK_GRAFT_DRIVER_MEM="1g")
    out = subprocess.run(
        [sys.executable, "-c", _TASK_READS],
        cwd=REPO, env=env, capture_output=True, text=True, timeout=600,
    )
    line = [ln for ln in out.stdout.splitlines() if ln.startswith("TASK_READS ")]
    assert line, out.stderr[-3000:]
    tasks = json.loads(line[0].split(" ", 1)[1])
    assert [t[0] for t in tasks] == [0, 10, 20, 30]
    assert len({t[1] for t in tasks}) == 1, "tasks did not share one worker"
    assert [t[2] for t in tasks[2:]] == [0, 0], tasks
