"""Session set-up: the Python workers run zip-free (``_pydaemon``)."""

import os

import pandas as pd
import pyspark
import pytest

from geotrellis_server_spark._pydaemon import _spark_archive
from geotrellis_server_spark.session import get_spark


def test_spark_archive_spots_spark_jars_and_zips_only():
    home = os.path.realpath("/srv/spark")
    assert _spark_archive("/srv/spark/python/lib/pyspark.zip", home)
    assert _spark_archive("/srv/spark/python/lib/py4j-0.10.9.9-src.zip/py4j", home)
    assert _spark_archive("/srv/spark/jars/spark-core_2.13-4.1.2.jar", home)
    assert _spark_archive("/srv/spark/jars/spark-core_2.13-4.1.2.jar/pyspark/sql", home)
    # the stdlib zip, a package's own jar and plain directories stay
    assert not _spark_archive("/usr/lib/python311.zip", home)
    assert not _spark_archive("/srv/ivy/jars/graphframes-0.8.jar", home)
    assert not _spark_archive("/srv/spark/python/pyspark", home)
    assert not _spark_archive("", home)


def test_python_workers_import_no_spark_archive(spark):
    """A worker holds no ``zipimporter`` for a Spark zip or jar, so the
    ``importlib.invalidate_caches()`` each task runs re-reads none."""

    def probe(batches):
        import sys
        import zipimport

        found = sorted(k for k, v in sys.path_importer_cache.items()
                       if isinstance(v, zipimport.zipimporter) and (".jar" in k or "spark" in k))
        for _ in batches:
            yield pd.DataFrame({"archives": ["\n".join(found)]})

    row = spark.range(1).mapInPandas(probe, "archives string").collect()[0]
    assert row.archives == "", row.archives


def test_get_spark_refuses_a_pyspark_of_another_release(spark, monkeypatch):
    """The workers import the site-packages pyspark, so a release that
    differs from the JVM's must fail at session start, not in a task."""
    monkeypatch.setattr(pyspark, "__version__", "0.0.0")
    with pytest.raises(RuntimeError, match="site-packages pyspark of Spark's release"):
        get_spark(master="local[4]", shuffle_partitions=4)


def test_get_spark_refuses_a_pyspark_from_a_spark_archive(spark, monkeypatch, tmp_path):
    """A driver that imported pyspark from ``$SPARK_HOME/python/lib``
    (spark-submit, or PYTHONPATH set to the distribution) matches the
    JVM's release, but its workers lose that zip: fail at session start."""
    monkeypatch.setenv("SPARK_HOME", str(tmp_path))
    monkeypatch.setattr(pyspark, "__file__",
                        str(tmp_path / "python" / "lib" / "pyspark.zip" / "pyspark" / "__init__.py"))
    with pytest.raises(RuntimeError, match="site-packages pyspark of Spark's release"):
        get_spark(master="local[4]", shuffle_partitions=4)
