"""Vector math over `array<float>` embedding columns — pure JVM expressions.

No UDFs: dot products and norms are `zip_with` + `aggregate` folds, which
whole-stage-codegen compiles and which scale with the data, not the driver.
All arithmetic is done in double precision (cast first) so results are
deterministic and match the DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def as_double(vec: Column | str) -> Column:
    v = F.col(vec) if isinstance(vec, str) else vec
    return v.cast("array<double>")


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))
