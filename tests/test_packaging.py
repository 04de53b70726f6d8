"""--py-files zip builder and worker-side zip-directory guard
(plans/packaging.py).

pyspark's worker calls ``importlib.invalidate_caches()`` at every task;
the guard keeps that from re-parsing unchanged zips on the import path
while still picking up a rewritten archive."""

import importlib
import json
import os
import subprocess
import sys
import zipfile
import zipimport

import pytest

from ocr_hardsubx_spark.plans import packaging

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

needs_eager_zip_invalidation = pytest.mark.skipif(
    sys.version_info >= (3, 13),
    reason="zip invalidation is already lazy on CPython 3.13+")


def _write_zip(path, modules):
    tmp = f"{path}.tmp"
    with zipfile.ZipFile(tmp, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)
    os.replace(tmp, path)


@pytest.fixture
def zip_on_path(tmp_path, monkeypatch):
    """A zip of one module on sys.path; the stock invalidate method,
    the guard's stamps and the import caches are restored afterwards."""
    path = str(tmp_path / "mods.zip")
    _write_zip(path, {"zguard_a": "X = 1\n"})
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        zipimport.zipimporter.invalidate_caches)
    monkeypatch.setattr(packaging, "_zip_stamps", {})
    monkeypatch.setattr(sys, "path_importer_cache",
                        dict(sys.path_importer_cache))
    monkeypatch.syspath_prepend(path)
    yield path
    for name in ("zguard_a", "zguard_b"):
        sys.modules.pop(name, None)
    zipimport._zip_directory_cache.pop(path, None)


def _count_reads(monkeypatch, path):
    reads = []
    stock = zipimport._read_directory

    def counting(archive):
        if archive == path:
            reads.append(archive)
        return stock(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return reads


@needs_eager_zip_invalidation
def test_unchanged_zip_is_not_reread(zip_on_path, monkeypatch):
    importlib.import_module("zguard_a")
    reads = _count_reads(monkeypatch, zip_on_path)
    importlib.invalidate_caches()
    assert reads, "the stock method re-reads the directory"

    packaging.guard_zip_directory_reads()
    importlib.invalidate_caches()  # first guarded call reads and stamps
    reads.clear()
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert reads == []
    importer = sys.path_importer_cache[zip_on_path]
    assert importer._files is zipimport._zip_directory_cache[zip_on_path]
    sys.modules.pop("zguard_a")
    assert importlib.import_module("zguard_a").X == 1


@needs_eager_zip_invalidation
def test_dropped_cache_entry_is_reread(zip_on_path, monkeypatch):
    importlib.import_module("zguard_a")
    packaging.guard_zip_directory_reads()
    importlib.invalidate_caches()
    reads = _count_reads(monkeypatch, zip_on_path)
    del zipimport._zip_directory_cache[zip_on_path]
    importlib.invalidate_caches()
    assert reads == [zip_on_path]
    assert zip_on_path in zipimport._zip_directory_cache


@pytest.mark.parametrize("guarded", [False, True])
def test_rewritten_zip_serves_its_new_module(zip_on_path, guarded):
    importlib.import_module("zguard_a")
    if guarded:
        packaging.guard_zip_directory_reads()
        importlib.invalidate_caches()
    _write_zip(zip_on_path, {"zguard_a": "X = 1\n", "zguard_b": "Y = 2\n"})
    with pytest.raises(ModuleNotFoundError):
        importlib.import_module("zguard_b")  # stale directory
    importlib.invalidate_caches()
    assert importlib.import_module("zguard_b").Y == 2


@needs_eager_zip_invalidation
def test_second_install_changes_nothing(zip_on_path):
    importlib.import_module("zguard_a")
    packaging.guard_zip_directory_reads()
    importlib.invalidate_caches()
    installed = zipimport.zipimporter.invalidate_caches
    stamps = dict(packaging._zip_stamps)
    packaging.guard_zip_directory_reads()
    assert zipimport.zipimporter.invalidate_caches is installed
    assert installed is packaging._guarded_invalidate
    assert packaging._stock_invalidate is not packaging._guarded_invalidate
    assert packaging._zip_stamps == stamps
    assert zip_on_path in stamps


def test_no_patch_on_lazy_invalidation(monkeypatch):
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        zipimport.zipimporter.invalidate_caches)
    before = zipimport.zipimporter.invalidate_caches
    monkeypatch.setattr(sys, "version_info", (3, 13, 0, "final", 0))
    packaging.guard_zip_directory_reads()
    assert zipimport.zipimporter.invalidate_caches is before


def test_pyfiles_zip_drops_deleted_module(tmp_path, monkeypatch):
    """Deleting a module changes no mtime the builder compares, yet the
    rebuilt zip must not ship it."""
    pkg = tmp_path / "repo" / "pkg"
    pkg.mkdir(parents=True)
    for name in ("__init__", "kept", "gone"):
        (pkg / f"{name}.py").write_text("X = 1\n")
        os.utime(pkg / f"{name}.py", (1e9, 1e9))  # before the zip
    monkeypatch.setattr(packaging, "_PKG_DIR", str(pkg))
    monkeypatch.setattr(packaging, "REPO_DIR", str(tmp_path / "repo"))
    zip_path = str(tmp_path / "dist" / "pkg.zip")

    packaging.build_pyfiles_zip(zip_path)
    with zipfile.ZipFile(zip_path) as z:
        assert sorted(z.namelist()) == ["pkg/__init__.py", "pkg/gone.py",
                                        "pkg/kept.py"]
    (pkg / "gone.py").unlink()
    packaging.build_pyfiles_zip(zip_path)
    with zipfile.ZipFile(zip_path) as z:
        assert sorted(z.namelist()) == ["pkg/__init__.py", "pkg/kept.py"]


_PROBE = """
import json
import pandas as pd
from ocr_hardsubx_spark.operators.extract import extract_documents
from ocr_hardsubx_spark.plans.session import get_spark
from ocr_hardsubx_spark.sources.fixtures import generate_rows

spark = get_spark(app_name="packaging-probe", cores=1)
pdf = pd.DataFrame(list(generate_rows(24)))
df = spark.createDataFrame(pdf).repartition(3)
golden = dict(zip(pdf["url"], pdf["text"]))
identical = []
for _ in range(2):
    out = extract_documents(df, spark)
    got = {r["url"]: r["extracted_text"] for r in out.collect()}
    identical.append(got == golden)
    parts = out.rdd.getNumPartitions()


def probe(batches):
    import os
    import zipimport

    from ocr_hardsubx_spark.operators import extract
    from ocr_hardsubx_spark.plans import packaging

    for _ in batches:
        pass
    yield pd.DataFrame({
        "pid": [os.getpid()],
        "guarded": [zipimport.zipimporter.invalidate_caches
                    is packaging._guarded_invalidate],
        "cache": [len(extract._MODEL_CACHE)],
    })


rows = (spark.range(1).mapInPandas(probe, "pid long, guarded boolean, "
                                          "cache int").collect())
spark.stop()
print(json.dumps({"identical": identical, "parts": parts,
                  "workers": [r.asDict() for r in rows]}))
"""


def test_worker_keeps_guard_and_one_model_entry(tmp_path):
    """local[1]: one reused Python worker runs both extraction jobs and
    then the probe; it holds the guard and one cached model pair."""
    env = dict(os.environ, SPARK_GRAFT_DRIVER_MEM="1g",
               SPARK_LOCAL_IP="127.0.0.1",
               PYTHONPATH=os.pathsep.join(
                   [REPO, os.environ.get("PYTHONPATH", "")]))
    r = subprocess.run([sys.executable, "-c", _PROBE], cwd=tmp_path, env=env,
                       capture_output=True, text=True, timeout=600)
    assert r.returncode == 0, r.stderr[-3000:]
    got = json.loads(r.stdout.strip().splitlines()[-1])
    assert got["identical"] == [True, True]
    assert got["parts"] >= 3
    [worker] = got["workers"]
    assert worker["guarded"] is (sys.version_info < (3, 13))
    assert worker["cache"] == 1
