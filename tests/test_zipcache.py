"""Spark Python workers re-read a zip archive only when it changed.

``pyspark.worker_util.setup_spark_files`` ends every task with
``importlib.invalidate_caches()``; unpatched, each cached zipimporter then
re-parses its archive (pyspark.zip, ~14 importers) once per task."""

from __future__ import annotations

import json
import os
import subprocess
import sys
import textwrap

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Runs in a fresh interpreter: the hook patches zipimport process-wide,
# and the pytest process is a Spark driver that must stay unpatched.
_ZIP_SCRIPT = textwrap.dedent("""
    import importlib, json, sys, zipfile, zipimport
    from modape_spark import zipcache

    archive = sys.argv[1]
    patched = sys.argv[2] == "1"

    def write(modules):
        with zipfile.ZipFile(archive, "w") as z:
            for name, src in modules.items():
                z.writestr(name, src)

    modules = {"zpkg/__init__.py": "", "zpkg/a.py": "X = 1\\n",
               "ztop.py": "Y = 2\\n"}
    write(modules)
    sys.path.insert(0, archive)
    import zpkg.a, ztop  # two importers: <archive> and <archive>/zpkg/
    importers = sum(isinstance(f, zipimport.zipimporter)
                    for f in sys.path_importer_cache.values())
    if patched:
        zipcache.install()

    reads = []
    read_directory = zipimport._read_directory
    def counting(path):
        reads.append(path)
        return read_directory(path)
    zipimport._read_directory = counting

    counts = []
    for _ in range(2):
        del reads[:]
        importlib.invalidate_caches()
        counts.append(len(reads))

    # a changed archive is re-read: a module added inside the package
    # resolves through the <archive>/zpkg/ importer, one added at the top
    # through <archive>
    modules.update({"zpkg/b.py": "Z = 3\\n", "znew.py": "W = 4\\n"})
    write(modules)
    importlib.invalidate_caches()
    import zpkg.b, znew
    print(json.dumps({"importers": importers, "counts": counts,
                      "installed": zipcache.installed(),
                      "values": [zpkg.a.X, ztop.Y, zpkg.b.Z, znew.W]}))
""")


def _run_zip_script(tmp_path, patched: bool) -> dict:
    out = subprocess.run(
        [sys.executable, "-c", _ZIP_SCRIPT, str(tmp_path / "mods.zip"),
         "1" if patched else "0"],
        cwd=REPO, capture_output=True, text=True, timeout=120)
    assert out.returncode == 0, out.stderr[-2000:]
    return json.loads(out.stdout.strip().splitlines()[-1])


def test_unchanged_archive_not_reparsed(tmp_path):
    res = _run_zip_script(tmp_path, patched=True)
    assert res["installed"]
    assert res["importers"] >= 2
    # the first call after install reads each archive once (no key yet),
    # every later one reads nothing while the archive is unchanged
    assert res["counts"] == [1, 0]


def test_unpatched_control_reparses_per_importer(tmp_path):
    """What the hook removes: one full read per importer per call."""
    res = _run_zip_script(tmp_path, patched=False)
    assert not res["installed"]
    assert res["counts"] == [res["importers"]] * 2


def test_rewritten_archive_is_reread(tmp_path):
    res = _run_zip_script(tmp_path, patched=True)
    assert res["values"] == [1, 2, 3, 4]


def test_install_in_worker_skips_driver():
    from modape_spark import zipcache

    assert zipcache.install_in_worker() is False
    assert not zipcache.installed()


def _worker_report(batches):
    import importlib
    import zipimport

    import pyarrow as pa

    from modape_spark import zipcache

    n = sum(b.num_rows for b in batches)
    reads = []
    read_directory = zipimport._read_directory

    def counting(path):
        reads.append(path)
        return read_directory(path)

    # the first call may read each archive once if this task is the one
    # that imported modape_spark; a second stands for the next task's
    # setup_spark_files
    importlib.invalidate_caches()
    zipimport._read_directory = counting
    try:
        importlib.invalidate_caches()
    finally:
        zipimport._read_directory = read_directory
    zip_importers = sum(isinstance(f, zipimport.zipimporter)
                        for f in sys.path_importer_cache.values())
    yield pa.RecordBatch.from_pylist([{
        "rows": n, "installed": zipcache.installed(),
        "zip_importers": zip_importers, "reads": len(reads)}])


def test_every_worker_task_installed_driver_unpatched(spark):
    from modape_spark import zipcache

    rows = (spark.range(0, 1600, numPartitions=16)
            .mapInArrow(_worker_report, "rows long, installed boolean, "
                                        "zip_importers long, reads long")
            .collect())
    assert len(rows) == 16 and sum(r.rows for r in rows) == 1600
    assert all(r.installed for r in rows)
    # pyspark itself is imported from pyspark.zip in the workers, so there
    # is something to re-read, and nothing is
    assert all(r.zip_importers > 0 for r in rows)
    assert all(r.reads == 0 for r in rows)
    assert not zipcache.installed()
