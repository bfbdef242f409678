"""The local-master Python worker daemon (``learn_hbase_spark.pyworker``):
workers import pyspark from the installed package, not from Spark's
archives, so the per-task ``importlib.invalidate_caches()`` has no zip
directory to re-read."""

from __future__ import annotations

import os
import zipfile

from learn_hbase_spark.pyworker import without_spark_archives


def test_workers_import_pyspark_outside_archives(spark):
    def report(batches):
        import sys
        import zipimport

        import pandas as pd
        import pyspark

        for _ in batches:
            pass
        zips = [
            k for k, v in sys.path_importer_cache.items()
            if isinstance(v, zipimport.zipimporter)
        ]
        yield pd.DataFrame({"file": [pyspark.__file__], "zips": [zips]})

    rows = (
        spark.range(0, 4, 1, 4)
        .mapInPandas(report, "file string, zips array<string>")
        .collect()
    )
    assert len(rows) == 4
    for r in rows:
        assert not any(
            part.endswith((".zip", ".jar")) for part in r["file"].split(os.sep)
        ), r["file"]
        assert r["zips"] == [], r["zips"]


def _archive(path, packages):
    with zipfile.ZipFile(path, "w") as z:
        for name in packages:
            z.writestr(f"{name}/__init__.py", "")
    return str(path)


def _site(root, packages):
    for name in packages:
        (root / name).mkdir(parents=True)
        (root / name / "__init__.py").write_text("")
    return str(root)


def test_path_filter_drops_archives_when_packages_import_without_them(tmp_path):
    site = _site(tmp_path / "site", ["pyspark", "py4j"])
    pyspark_zip = _archive(tmp_path / "pyspark.zip", ["pyspark"])
    py4j_zip = _archive(tmp_path / "py4j-src.zip", ["py4j"])
    jar = _archive(tmp_path / "spark-core.jar", ["org"])
    stdlib_zip = str(tmp_path / "python311.zip")
    path = [pyspark_zip, py4j_zip, jar, stdlib_zip, site]
    pythonpath = os.pathsep.join([pyspark_zip, py4j_zip, jar])
    # the interpreter's own zip is not on PYTHONPATH, so it stays
    assert without_spark_archives(path, pythonpath) == [stdlib_zip, site]


def test_path_filter_keeps_archives_that_are_the_only_source(tmp_path):
    pyspark_zip = _archive(tmp_path / "pyspark.zip", ["pyspark"])
    py4j_zip = _archive(tmp_path / "py4j-src.zip", ["py4j"])
    pythonpath = os.pathsep.join([pyspark_zip, py4j_zip])
    # only the archives provide pyspark, then only they provide py4j
    for only_in_site in (["py4j"], ["pyspark"]):
        site = _site(tmp_path / only_in_site[0], only_in_site)
        path = [pyspark_zip, py4j_zip, site]
        assert without_spark_archives(path, pythonpath) == path
