"""The local-session worker daemon: archive re-reads happen only when an
archive changed, workers run the daemon's patch, and workers import the
package from any working directory."""

import importlib
import os
import subprocess
import sys
import textwrap
import zipfile
import zipimport

import pytest

from web_crawler_spark import workerd

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

needs_patch = pytest.mark.skipif(
    sys.version_info >= (3, 13), reason="zipimport reads archives lazily since 3.13"
)


@pytest.fixture
def archive(tmp_path, monkeypatch):
    """A zip on sys.path, the daemon's invalidate_caches installed, and a
    per-archive count of central-directory reads."""
    path = str(tmp_path / "mods.zip")
    reads = []
    stock_read = zipimport._read_directory

    def counted_read(archive_path):
        reads.append(archive_path)
        return stock_read(archive_path)

    monkeypatch.setattr(workerd, "_read_stamps", {})
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", workerd.invalidate_caches)
    monkeypatch.setattr(zipimport, "_read_directory", counted_read)
    monkeypatch.syspath_prepend(path)
    yield path, lambda: reads.count(path)
    for name in ("zmod_a", "zmod_b"):
        sys.modules.pop(name, None)
    sys.path_importer_cache.pop(path, None)
    zipimport._zip_directory_cache.pop(path, None)


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as z:
        for name in modules:
            z.writestr(f"{name}.py", f"NAME = {name!r}\n")


@needs_patch
def test_unchanged_archive_is_not_reread(archive):
    path, n_reads = archive
    _write_zip(path, ["zmod_a"])
    assert importlib.import_module("zmod_a").NAME == "zmod_a"
    assert n_reads() == 1
    for _ in range(3):
        importlib.invalidate_caches()
    # one read to stamp the archive, none after: stock 3.11 re-reads each time
    assert n_reads() == 2


@needs_patch
def test_rewritten_archive_is_reread(archive):
    path, n_reads = archive
    _write_zip(path, ["zmod_a"])
    importlib.import_module("zmod_a")
    importlib.invalidate_caches()
    _write_zip(path, ["zmod_a", "zmod_b"])
    importlib.invalidate_caches()
    assert importlib.import_module("zmod_b").NAME == "zmod_b"
    assert n_reads() == 3


@needs_patch
def test_workers_run_the_daemon_patch(spark):
    def probe(it):
        import zipimport

        fn = zipimport.zipimporter.invalidate_caches
        for pdf in it:
            yield pdf.assign(fn=f"{fn.__module__}.{fn.__qualname__}")

    rows = spark.range(1).mapInPandas(probe, "id long, fn string").collect()
    assert rows[0]["fn"] == "web_crawler_spark.workerd.invalidate_caches"


def test_workers_import_package_outside_repo(tmp_path):
    """A script that found the package by sys.path alone (cwd elsewhere, no
    PYTHONPATH) still gets workers that can import it."""
    script = textwrap.dedent(f"""
        import sys
        sys.path.insert(0, {REPO!r})
        from web_crawler_spark.session import get_spark

        def probe(it):
            import web_crawler_spark
            for pdf in it:
                yield pdf.assign(path=web_crawler_spark.__file__)

        spark = get_spark(master="local[1]")
        print("WORKER", spark.range(2).mapInPandas(probe, "id long, path string").first()["path"])
        spark.stop()
    """)
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_DRIVER_MEMORY"] = "1g"
    out = subprocess.run(
        [sys.executable, "-c", script], cwd=tmp_path, env=env,
        capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    line = next(l for l in out.stdout.splitlines() if l.startswith("WORKER "))
    assert line.split(" ", 1)[1] == os.path.join(REPO, "web_crawler_spark", "__init__.py")
