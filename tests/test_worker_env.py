"""The zipimport guard (`oxbow_spark/_worker_env.py`) patches every Python
process PySpark forks for this package — UDF workers and the planner/commit
workers behind a Python DataSource — and never the driver.

Each check runs in a fresh interpreter: the patch is process-global and is
decided when `oxbow_spark` is first imported.
"""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

pytestmark = pytest.mark.skipif(
    sys.version_info >= (3, 12),
    reason="CPython >= 3.12 guards the re-read itself; the patch is a no-op")

PATCHED = ("zipimport.zipimporter.invalidate_caches.__module__"
           " == 'oxbow_spark._worker_env'")


def _run(code: str, timeout: float = 60) -> str:
    env = dict(os.environ, PYTHONPATH=REPO, PYSPARK_PYTHON=sys.executable)
    out = subprocess.run(
        [sys.executable, "-c", textwrap.dedent(code)], cwd=REPO, env=env,
        capture_output=True, text=True, timeout=timeout)
    assert out.returncode == 0, out.stderr[-4000:]
    return out.stdout.strip().splitlines()[-1]


def test_import_patches_when_worker_util_loaded():
    assert _run(f"""
        import zipimport
        import pyspark.worker_util
        import oxbow_spark
        print({PATCHED})
    """) == "True"


def test_import_leaves_driver_unpatched():
    assert _run(f"""
        import zipimport
        import oxbow_spark
        from oxbow_spark.sources import register_all
        print({PATCHED})
    """) == "False"


def test_planner_worker_is_patched():
    # the DataSource is defined in __main__, so it is pickled by value and
    # only its schema() and partitions() bodies import oxbow_spark: inside
    # the create_data_source and plan_data_source_read workers
    out = _run(f"""
        import zipimport
        from pyspark.sql import SparkSession
        from pyspark.sql.datasource import (
            DataSource, DataSourceReader, InputPartition)

        def guard():
            import zipimport
            import oxbow_spark  # noqa: F401
            return "patched" if {PATCHED} else "unpatched"

        class Reader(DataSourceReader):
            def partitions(self):
                return [InputPartition(guard())]

            def read(self, partition):
                yield (partition.value,)

        class Probe(DataSource):
            @classmethod
            def name(cls):
                return "zip_guard_probe"

            def schema(self):
                return guard() + " string"

            def reader(self, schema):
                return Reader()

        spark = (SparkSession.builder.master("local[2]")
                 .config("spark.ui.enabled", "false").getOrCreate())
        spark.sparkContext.setLogLevel("ERROR")
        spark.dataSource.register(Probe)
        df = spark.read.format("zip_guard_probe").load()
        planned = df.collect()[0][0]
        import oxbow_spark  # noqa: F401
        print(df.columns[0], planned, {PATCHED})
        spark.stop()
    """, timeout=240)
    assert out == "patched patched False"
