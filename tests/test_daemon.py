"""The Python worker daemon that drops Spark's pyspark/py4j archives from
the workers' path (gocrd_spark/daemon.py): the pruning rule on a
synthetic path, and its effect on a real worker."""

import os
import zipfile

import pytest

from gocrd_spark.daemon import spark_archives

VERSION = b"__version__: str = '4.1.2'\n"


def _zip(path, files: dict) -> str:
    with zipfile.ZipFile(path, "w") as z:
        for name, data in files.items():
            z.writestr(name, data)
    return str(path)


def _install(root, package: str, version: bytes) -> str:
    pkg = root / package
    pkg.mkdir(parents=True)
    (pkg / "__init__.py").write_text("")
    (pkg / "version.py").write_bytes(version)
    return str(root)


@pytest.fixture
def archives(tmp_path):
    """Spark's three worker PYTHONPATH entries, as synthetic files."""
    lib = tmp_path / "lib"
    lib.mkdir()
    pyspark_zip = _zip(lib / "pyspark.zip", {
        "pyspark/__init__.py": "", "pyspark/version.py": VERSION,
    })
    py4j_zip = _zip(lib / "py4j-0.10.9.9-src.zip", {
        "py4j/__init__.py": "", "py4j/version.py": "__version__ = '0.10.9.9'\n",
    })
    jar = _zip(lib / "spark-core_2.13-4.1.2.jar", {"org/apache/spark/A.class": ""})
    return [pyspark_zip, py4j_zip, jar]


def _site(tmp_path, pyspark_version=VERSION, py4j=True) -> str:
    site = tmp_path / "site-packages"
    if pyspark_version is not None:
        _install(site, "pyspark", pyspark_version)
    if py4j:
        _install(site, "py4j", b"__version__ = '0.10.9.9'\n")
    site.mkdir(exist_ok=True)
    return str(site)


def test_matching_install_prunes_zips_and_jar(tmp_path, archives):
    path = [str(tmp_path / "repo"), *archives, "/stdlib", _site(tmp_path)]
    assert spark_archives(path) == archives


def test_mismatched_version_keeps_path(tmp_path, archives):
    path = [*archives, _site(tmp_path, pyspark_version=b"__version__ = '4.0.0'\n")]
    assert spark_archives(path) == []


def test_missing_install_keeps_path(tmp_path, archives):
    assert spark_archives([*archives, _site(tmp_path, pyspark_version=None)]) == []
    assert spark_archives([*archives, _site(tmp_path / "b", py4j=False)]) == []


def test_no_pyspark_archive_keeps_path(tmp_path, archives):
    # nothing to replace: a jar or unrelated zip alone stays
    assert spark_archives([archives[2], _site(tmp_path)]) == []


def _driver_pyspark_is_directory_install() -> bool:
    import pyspark

    pkg = os.path.dirname(pyspark.__file__)
    shipped = os.path.join(
        os.environ.get("SPARK_HOME", ""), "python", "lib", "pyspark.zip"
    )
    if not os.path.isfile(os.path.join(pkg, "version.py")) or not os.path.isfile(shipped):
        return False
    with open(os.path.join(pkg, "version.py"), "rb") as fh, zipfile.ZipFile(shipped) as z:
        return fh.read() == z.read("pyspark/version.py")


@pytest.mark.skipif(
    not _driver_pyspark_is_directory_install(),
    reason="the driver's pyspark is not a directory install of Spark's version",
)
def test_worker_imports_pyspark_from_directory(spark):
    def probe(_):
        import sys
        import zipimport

        import pyspark

        yield (
            pyspark.__file__,
            [k for k, v in sys.path_importer_cache.items()
             if isinstance(v, zipimport.zipimporter)],
        )

    for pyspark_file, zip_importers in spark.sparkContext.parallelize(
        range(4), 4
    ).mapPartitions(probe).collect():
        assert ".zip" + os.sep not in pyspark_file
        assert zip_importers == []
