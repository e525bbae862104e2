"""What a session is set up with: defaults that change how fast queries
build (not what they return), and the package zip shipped to Python
workers."""

from __future__ import annotations

import os
import subprocess
import sys
import tempfile
import zipfile

import pytest
from pyspark.errors import AnalysisException
from pyspark.errors.utils import is_debugging_enabled
from pyspark.sql import functions as F

from nyc_taxi_pyspark_spark.sources import io as sources_io

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_dataframe_origin_capture_is_off(spark):
    """get_spark turns off PySpark's per-call DataFrame origin capture: the
    flag is read once per process, at the first wrapped call, so it must be
    off in the builder and stay off after DataFrame work."""
    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"
    spark.range(3).select((F.col("id") + F.lit(1)).alias("x")).collect()
    assert is_debugging_enabled() is False


def test_missing_column_still_names_the_column(spark):
    """Without origin capture an analysis error still names the column."""
    df = spark.range(3)
    with pytest.raises(AnalysisException, match="no_such_col"):
        df.select(F.col("no_such_col")).collect()


def test_stale_zip_at_old_path_is_not_shipped(spark, monkeypatch, tmp_path):
    """A zip left at the old per-pid name (a reused pid) must not be
    shipped: workers would import that stale copy of the package."""
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    stale = tmp_path / f"nyc_taxi_pyspark_spark_{os.getpid()}.zip"
    with zipfile.ZipFile(stale, "w") as z:
        z.writestr("nyc_taxi_pyspark_spark/__init__.py", "raise ImportError")
    sc = spark.sparkContext
    shipped = []
    monkeypatch.setattr(sc, "addPyFile", shipped.append)
    monkeypatch.setattr(sc, "_engine_pyfile_added", False, raising=False)

    sources_io.ensure_workers_can_import(spark)

    assert len(shipped) == 1 and shipped[0] != str(stale)
    member = "nyc_taxi_pyspark_spark/sources/io.py"
    with zipfile.ZipFile(shipped[0]) as z, open(sources_io.__file__, "rb") as f:
        assert z.read(member) == f.read()


def test_package_zip_is_removed_at_exit(tmp_path):
    code = (
        "import tempfile, sys; tempfile.tempdir = sys.argv[1]; "
        "from nyc_taxi_pyspark_spark.sources.io import package_zip; "
        "print(package_zip())"
    )
    out = subprocess.run(
        [sys.executable, "-c", code, str(tmp_path)],
        cwd=REPO, capture_output=True, text=True, check=True,
    ).stdout.strip()
    assert os.path.dirname(out) == str(tmp_path)
    assert not os.path.exists(out)
