"""The Python worker daemon (scones.pydaemon): which import-path entries
it drops before pyspark starts, and what a live worker's path holds."""

import zipfile

from scones.pydaemon import worker_path


def _pyspark_zip(path, version="4.1.2"):
    with zipfile.ZipFile(path, "w") as z:
        z.writestr("pyspark/__init__.py", "")
        z.writestr("pyspark/version.py", f"__version__ = {version!r}\n")
    return str(path)


def _site(d, version="4.1.2"):
    """A site dir holding pyspark (at ``version``) and py4j."""
    (d / "pyspark").mkdir(parents=True)
    (d / "pyspark" / "__init__.py").write_text("")
    (d / "pyspark" / "version.py").write_text(f"__version__ = {version!r}\n")
    (d / "py4j").mkdir()
    (d / "py4j" / "__init__.py").write_text("")
    return str(d)


def _spark_path(tmp_path, site):
    lib = tmp_path / "spark" / "python" / "lib"
    lib.mkdir(parents=True)
    py4j = lib / "py4j-0.10.9.9-src.zip"
    with zipfile.ZipFile(py4j, "w") as z:
        z.writestr("py4j/__init__.py", "")
    jar = tmp_path / "spark" / "jars" / "spark-core_2.13-4.1.2.jar"
    jar.parent.mkdir(parents=True)
    with zipfile.ZipFile(jar, "w") as z:
        z.writestr("org/apache/spark/SparkContext.class", "")
    py_files = tmp_path / "app" / "scones.zip"
    py_files.parent.mkdir()
    with zipfile.ZipFile(py_files, "w") as z:
        z.writestr("scones/__init__.py", "")
    return [
        str(tmp_path / "cwd"),
        _pyspark_zip(lib / "pyspark.zip"),
        str(py4j),
        str(jar),
        str(py_files),
        site,
    ]


def test_drops_spark_archives_keeps_py_files(tmp_path):
    path = _spark_path(tmp_path, _site(tmp_path / "site"))
    assert worker_path(path) == [path[0], path[4], path[5]]


def test_keeps_the_path_when_pyspark_needs_the_archives(tmp_path):
    (tmp_path / "site").mkdir()
    path = _spark_path(tmp_path, str(tmp_path / "site"))  # no pyspark, no py4j
    assert worker_path(path) == path


def test_keeps_the_path_when_the_installed_pyspark_is_another_version(tmp_path):
    path = _spark_path(tmp_path, _site(tmp_path / "site", version="3.5.0"))
    assert worker_path(path) == path


def test_worker_imports_nothing_from_an_archive(spark):
    """A live worker of the suite's session: no zip or jar importer is
    cached (each one costs a directory re-read before every task on
    CPython <= 3.12), and pyspark comes from outside any archive."""

    def probe(batches):
        import sys
        import zipimport

        import pyarrow as pa
        import pyspark

        zips = [
            k for k, v in sys.path_importer_cache.items()
            if isinstance(v, zipimport.zipimporter)
        ]
        for _ in batches:
            yield pa.RecordBatch.from_pylist(
                [{"zips": "|".join(zips), "pyspark": pyspark.__file__}]
            )

    rows = spark.range(2, numPartitions=2).mapInArrow(
        probe, "zips string, pyspark string"
    ).collect()
    assert len(rows) == 2
    for r in rows:
        assert r.zips == ""
        assert ".zip" not in r.pyspark and ".jar" not in r.pyspark
