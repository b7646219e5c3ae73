"""Vector expression helpers over array<float>/array<double> columns.

Sequential-fold semantics (aggregate over zip_with) so results are
bit-reproducible across engines and partitionings — the property the
DuckDB oracle comparison relies on.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _as_double(c: Column | str) -> Column:
    c = F.col(c) if isinstance(c, str) else c
    return c.cast("array<double>")


def dot(a: Column | str, b: Column | str) -> Column:
    """Elementwise product folded left-to-right (deterministic order)."""
    return F.aggregate(
        F.zip_with(_as_double(a), _as_double(b), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def l2_norm(a: Column | str) -> Column:
    return F.sqrt(dot(a, a))


def cosine_similarity(a: Column | str, b: Column | str) -> Column:
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


def normalize_l2(a: Column | str) -> Column:
    """Unit-normalize; zero vectors map to zeros (NULL-safe divide)."""
    v = _as_double(a)
    n = l2_norm(v)
    return F.when(n > 0, F.transform(v, lambda x: x / n)).otherwise(v)


def quantize_int8(a: Column | str, scale: float = 127.0) -> Column:
    """Symmetric int8 quantization of a unit-normalized vector.

    FLOOR (not round) so Spark and any SQL oracle agree on binary-double
    edge cases; reconstruction error is bounded by 1/scale per element.
    At 100 TB this is the storage lever: 4x smaller embedding columns and
    integer SIMD distance kernels downstream.
    """
    return F.transform(normalize_l2(a), lambda x: F.floor(x * scale).cast("int"))
