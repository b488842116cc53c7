"""The local-master worker daemon (pears_lite_spark/worker_daemon.py):
zip directories are re-read only when the archive changed, get_spark
sessions run their tasks under it, and it starts from any cwd."""

import os
import subprocess
import sys
import textwrap
import zipfile
import zipimport

import pytest

from pears_lite_spark import worker_daemon

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as zf:
        for name, src in modules.items():
            zf.writestr(name, src)


@pytest.mark.skipif(sys.version_info >= (3, 12),
                    reason="CPython 3.12 re-reads zip directories lazily")
def test_invalidate_caches_rereads_only_changed_archives(tmp_path,
                                                         monkeypatch):
    a, b = str(tmp_path / "a.zip"), str(tmp_path / "b.zip")
    _write_zip(a, {"pkg/__init__.py": "", "pkg/one.py": "X = 1\n"})
    _write_zip(b, {"other.py": "Y = 2\n"})
    reads = []
    real_read = zipimport._read_directory
    monkeypatch.setattr(zipimport, "_read_directory",
                        lambda p: reads.append(p) or real_read(p))
    monkeypatch.setattr(worker_daemon, "_stamps", {})
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        worker_daemon._invalidate_caches)
    # two importers over a (archive root and a package dir), one over b
    importers = [zipimport.zipimporter(a),
                 zipimport.zipimporter(os.path.join(a, "pkg")),
                 zipimport.zipimporter(b)]
    for imp in importers:   # the first call reads each archive once
        imp.invalidate_caches()
    assert sorted(set(reads)) == sorted([a, b])
    reads.clear()
    for _ in range(3):
        for imp in importers:
            imp.invalidate_caches()
    assert reads == []

    _write_zip(a, {"pkg/__init__.py": "", "pkg/one.py": "X = 1\n",
                   "pkg/two.py": "X = 2\n"})   # rewritten in place
    for imp in importers:
        imp.invalidate_caches()
    assert reads == [a]
    assert importers[1].find_spec("pkg.two") is not None
    assert importers[0].find_spec("pkg") is not None


def test_get_spark_tasks_run_under_daemon_and_see_new_pyfiles(spark,
                                                              tmp_path):
    import pyarrow as pa

    def daemon_name(it):
        for _ in it:
            pass
        yield pa.RecordBatch.from_pydict(
            {"daemon": [sys.modules["__main__"].__spec__.name]})

    warm = spark.range(8, numPartitions=4)
    for _ in range(2):   # warm (and reuse) the workers
        names = {r["daemon"] for r in
                 warm.mapInArrow(daemon_name, "daemon string").collect()}
        assert names == {"pears_lite_spark.worker_daemon"}

    def daemon_and_value(it):
        for _ in it:
            pass
        import late_pyfile_mod
        yield pa.RecordBatch.from_pydict({
            "daemon": [sys.modules["__main__"].__spec__.name],
            "value": [late_pyfile_mod.VALUE]})

    z = str(tmp_path / "late_pyfile.zip")
    _write_zip(z, {"late_pyfile_mod.py": "VALUE = 42\n"})
    spark.sparkContext.addPyFile(z)
    rows = warm.mapInArrow(daemon_and_value,
                           "daemon string, value long").collect()
    assert {(r["daemon"], r["value"]) for r in rows} == {
        ("pears_lite_spark.worker_daemon", 42)}


def test_udf_runs_from_cwd_outside_repo(tmp_path):
    script = textwrap.dedent(f"""
        import sys
        sys.path.insert(0, {REPO!r})
        from pyspark.sql import functions as F
        from pears_lite_spark.session import get_spark
        spark = get_spark(master="local[1]", shuffle_partitions=1)
        plus_one = F.udf(lambda x: x + 1, "long")
        print("SUM", spark.range(10).select(plus_one("id").alias("y"))
              .agg(F.sum("y")).first()[0])
        spark.stop()
    """)
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["PEARS_DRIVER_MEM"] = "1g"
    out = subprocess.run([sys.executable, "-c", script], cwd=tmp_path,
                         env=env, capture_output=True, text=True,
                         timeout=300)
    assert out.returncode == 0, out.stderr[-2000:]
    assert "SUM 55" in out.stdout
