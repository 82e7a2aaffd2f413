"""Column-expression vector references for the parity tests: the sequential
JVM dot product, L2 norm, rounded cosine and random-hyperplane bucket that
`functions.embedding`'s numpy kernels (`cosine_raw_udf`, `dot_product_udf`,
`hyperplane_buckets_udf`) compute per Arrow batch. Sequential left-to-right
summation in double is what DuckDB's `list_dot_product` does, so these are
the forms the oracle SQL (`oracle.sql_dot`/`sql_cosine`/
`sql_hyperplane_bucket`) mirrors term for term."""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from blink_reloaded_spark.functions.embedding import DIM, _hyperplanes


def dot_product(a: Column, b: Column) -> Column:
    """Dot product of two array<float/double> columns, summed sequentially
    in double."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )


def cosine_similarity(a: Column, b: Column) -> Column:
    """Cosine similarity, rounded to 6dp."""
    return F.round(
        dot_product(a, b) / F.greatest(l2_norm(a) * l2_norm(b), F.lit(1e-12)), 6
    )


def hyperplane_bucket(
    vec: Column, nplanes: int = 8, dim: int = DIM, seed: int = 42
) -> Column:
    """Random-hyperplane LSH bucket id (long): bit j = sign(vec . plane_j),
    the planes as literal arrays."""
    planes = _hyperplanes(nplanes, dim, seed)
    out = F.lit(0).cast("long")
    for j in range(nplanes):
        plane = F.array(*[F.lit(float(w)) for w in planes[j]])
        d = dot_product(vec, plane)
        out = out + (d > 0).cast("long") * F.lit(1 << j)
    return out
