"""Vector expressions over array<float|double> embedding columns.

Pure Column expressions: dot product / norms via zip_with + aggregate
(a sequential fold → deterministic accumulation order). Used by
operators.similarity for brute-force and LSH-bucketed ANN.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _c(c: Column | str) -> Column:
    return F.col(c) if isinstance(c, str) else c


def dot(a: Column | str, b: Column | str) -> Column:
    prod = F.zip_with(_c(a), _c(b), lambda x, y: x.cast("double") * y.cast("double"))
    return F.aggregate(prod, F.lit(0.0), lambda acc, v: acc + v)


def norm(a: Column | str) -> Column:
    sq = F.transform(_c(a), lambda x: x.cast("double") * x.cast("double"))
    return F.sqrt(F.aggregate(sq, F.lit(0.0), lambda acc, v: acc + v))


def cosine(a: Column | str, b: Column | str) -> Column:
    """Cosine similarity; null when either norm is 0."""
    d = dot(a, b)
    na, nb = norm(a), norm(b)
    return F.when((na > 0) & (nb > 0), d / (na * nb))


def srp_bits(a: Column | str, planes: list[list[float]]) -> Column:
    """Signed-random-projection LSH code: one bit per hyperplane
    (sign of <v, plane>), returned as a bit-string. Plane constants are
    baked into the plan as array literals — no UDF, no shuffle."""
    bits = []
    for p in planes:
        plane = F.array(*[F.lit(float(x)) for x in p])
        bits.append(F.when(dot(a, plane) >= 0, F.lit("1")).otherwise(F.lit("0")))
    return F.concat(*bits)
