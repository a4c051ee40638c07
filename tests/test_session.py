"""The session builder: Python workers import the package whatever the
driver's working directory."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

import redpanda_spark


def test_workers_find_the_package_on_their_path(spark):
    root = os.path.dirname(os.path.dirname(os.path.abspath(redpanda_spark.__file__)))

    @F.udf("boolean")
    def on_path(_):
        import os as o

        return root in o.environ.get("PYTHONPATH", "").split(o.pathsep)

    assert {r[0] for r in spark.range(2).select(on_path("id")).collect()} == {True}
