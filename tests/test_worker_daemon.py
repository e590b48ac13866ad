"""The engine's Python worker daemon (``worker_daemon.py``): a reused worker
stops re-reading its zip archives at the start of every task."""

from __future__ import annotations

import importlib
import os
import subprocess
import sys
import textwrap
import zipfile
import zipimport

import pytest

from detector_network_processor_spark import worker_daemon

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

needs_pre_312_zipimport = pytest.mark.skipif(
    sys.version_info >= (3, 12),
    reason="zipimporter.invalidate_caches no longer re-reads the archive on 3.12+",
)


def _write_zip(path: str, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, body in modules.items():
            z.writestr(f"{name}.py", body)


@needs_pre_312_zipimport
def test_invalidate_caches_rereads_an_archive_only_when_it_changed(tmp_path, monkeypatch):
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"dnp_zip_mod_a": "VALUE = 1\n"})
    # monkeypatch restores the stock method after the test
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        zipimport.zipimporter.invalidate_caches)
    monkeypatch.syspath_prepend(archive)
    for name in ("dnp_zip_mod_a", "dnp_zip_mod_b"):
        monkeypatch.delitem(sys.modules, name, raising=False)
    assert importlib.import_module("dnp_zip_mod_a").VALUE == 1
    importer = sys.path_importer_cache[archive]

    worker_daemon.patch_zipimport()
    assert getattr(zipimport.zipimporter.invalidate_caches, worker_daemon.PATCH_MARKER)
    importlib.invalidate_caches()  # first call reads and stamps the archive
    files = importer._files
    importlib.invalidate_caches()
    assert importer._files is files
    assert zipimport._zip_directory_cache[archive] is files

    st = os.stat(archive)
    _write_zip(archive, {"dnp_zip_mod_a": "VALUE = 1\n", "dnp_zip_mod_b": "VALUE = 2\n"})
    os.utime(archive, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000_000))
    importlib.invalidate_caches()
    assert importer._files is not files
    assert "dnp_zip_mod_b.py" in importer._files
    assert importlib.import_module("dnp_zip_mod_b").VALUE == 2


@needs_pre_312_zipimport
def test_reused_worker_does_not_reread_pyspark_zip(spark):
    """Two tasks on one reused worker see the same parsed directory of
    pyspark.zip: the second task's ``importlib.invalidate_caches()`` did not
    re-read it."""
    import pandas as pd

    conf = spark.sparkContext.getConf()
    assert conf.get("spark.python.daemon.module") == worker_daemon.__name__
    marker = worker_daemon.PATCH_MARKER

    def probe(it):
        import os
        import sys
        import zipimport

        for _ in it:
            pass
        archive = next(p for p in sys.path if p.endswith("pyspark.zip"))
        entry = zipimport._zip_directory_cache[archive]
        prev = getattr(zipimport, "_dnp_probe_entry", None)
        zipimport._dnp_probe_entry = entry  # kept alive for the worker's next task
        yield pd.DataFrame({
            "pid": [os.getpid()],
            "seen": [prev is not None],
            "same": [prev is entry],
            "patched": [bool(getattr(zipimport.zipimporter.invalidate_caches, marker, False))],
        })

    one = spark.range(1).repartition(1)
    rows = []
    for _ in range(20):
        rows += one.mapInPandas(probe, "pid long, seen boolean, same boolean, patched boolean").collect()
        if rows[-1].seen:
            break
    assert all(r.patched for r in rows), rows
    second = [r for r in rows if r.seen]
    assert second, f"no worker ran two probe tasks: {rows}"
    assert all(r.same for r in second), rows


def test_daemon_starts_outside_the_repository(tmp_path):
    """A session started from another directory, with no PYTHONPATH, still
    runs Python tasks: ``get_spark`` puts the package's parent directory on
    the workers' PYTHONPATH, so the daemon module imports."""
    script = textwrap.dedent(f"""
        import sys
        sys.path.insert(0, {REPO!r})
        import pandas as pd
        from detector_network_processor_spark.session import get_spark

        spark = get_spark(app_name="dnp-daemon-cwd", cpus=1)

        def double(it):
            for pdf in it:
                yield pd.DataFrame({{"x": pdf["id"] * 2}})

        print("ROWS", sorted(r.x for r in spark.range(3).mapInPandas(double, "x long").collect()))
        spark.stop()
    """)
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_DRIVER_MEMORY"] = "1g"
    out = subprocess.run([sys.executable, "-c", script], cwd=tmp_path, env=env,
                         capture_output=True, text=True, timeout=300)
    assert "ROWS [0, 2, 4]" in out.stdout, out.stderr[-4000:]
