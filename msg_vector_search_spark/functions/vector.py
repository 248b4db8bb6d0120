"""Dense-vector scalar functions (SURVEY 2.C C10, 4 physical-design notes).

The reference computes cosine similarity per row in NumPy after
``json.loads``-ing a JSON-encoded vector (reference:
src/core/embeddings/processor.py:413-434, :501-506).  Here vectors stay
native ``array<float>`` and all vector math is built from Spark
higher-order functions (``zip_with`` + ``aggregate``) — pure JVM
expressions inside whole-stage codegen, no Python in the hot path.

All arithmetic is promoted to double: float32 inputs, double
accumulation, matching what the DuckDB oracle computes and avoiding
float32 drift (SURVEY 7 hard-point 2).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from .analysis import bind_once


def dot(a: Column | str, b: Column | str) -> Column:
    """Sequential-order double-precision dot product of two float arrays."""
    a, b = F.col(a) if isinstance(a, str) else a, F.col(b) if isinstance(b, str) else b
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column | str) -> Column:
    """L2 norm in double precision."""
    a = F.col(a) if isinstance(a, str) else a
    return F.sqrt(F.aggregate(
        a, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double")))


def cosine(a: Column | str, b: Column | str) -> Column:
    """C10 ``cosine_similarity``: dot/(|a||b|), 0.0 when either norm is 0.

    Reference: src/core/embeddings/processor.py:413-434 (zero-norm guard
    at :431-432).
    """
    # bind the norm product once: lambda variables are values, so the two
    # O(d) norm scans run once instead of once per reference
    return bind_once(
        norm(a) * norm(b),
        lambda n: F.when(n == 0.0, F.lit(0.0)).otherwise(dot(a, b) / n))


def l2_normalize(a: Column | str) -> Column:
    """Pre-normalization so that cosine == dot at query time.

    Physical-design choice (SURVEY 4): normalizing embeddings once at
    write time replaces two norms per scored row with none — at 100 TB
    the norm work is ~2/3 of brute-force scoring.  Zero vectors are kept
    as zero vectors (cosine contract: similarity 0).
    """
    a = F.col(a) if isinstance(a, str) else a
    # norm bound once — captured inside the transform lambda it would be
    # re-evaluated per ELEMENT, turning normalization into O(d^2)
    return bind_once(
        norm(a),
        lambda n: F.when(n == 0.0, a.cast("array<double>")).otherwise(
            F.transform(a, lambda x: x.cast("double") / n)))


def dequantize_int8(a: Column | str) -> Column:
    """Symmetric per-vector int8 quantize-then-dequantize: scale =
    max|x|/127, q = floor(x/scale + 0.5) (round-half-up, identical in
    both dialects — round() itself ties differently across engines),
    dequant = q*scale.

    The storage path this models writes ``array<tinyint>`` + one float
    scale per vector — 4x smaller than float32, which at 100 TB is the
    difference between an in-page-cache index and a disk-bound one.
    Here the round-trip is fused into one expression so the ACCURACY of
    quantized search is oracle-checkable end-to-end.  Zero vectors pass
    through (scale would be 0)."""
    a = F.col(a) if isinstance(a, str) else a
    return bind_once(
        F.array_max(F.transform(a, lambda x: F.abs(x.cast("double")))) / 127.0,
        lambda s: F.when(s == 0.0, a.cast("array<double>")).otherwise(
            F.transform(a, lambda x: F.floor(x.cast("double") / s + 0.5) * s)))


# ---------------------------------------------------------------------------
# DuckDB-oracle SQL fragments for the same math (kept adjacent so the two
# dialects evolve together; used by __spark_entry__.oracle_sql()).
# ---------------------------------------------------------------------------

def duck_dot(a: str, b: str) -> str:
    return (f"list_dot_product(list_transform({a}, x -> CAST(x AS DOUBLE)), "
            f"list_transform({b}, x -> CAST(x AS DOUBLE)))")


def duck_norm(a: str) -> str:
    return (f"sqrt(list_dot_product(list_transform({a}, x -> CAST(x AS DOUBLE)), "
            f"list_transform({a}, x -> CAST(x AS DOUBLE))))")


def duck_cosine(a: str, b: str) -> str:
    n = f"({duck_norm(a)} * {duck_norm(b)})"
    return (f"CASE WHEN {n} = 0.0 THEN 0.0 "
            f"ELSE {duck_dot(a, b)} / {n} END")


def duck_dequantize_int8(a: str) -> str:
    """DuckDB twin of :func:`dequantize_int8` (same scale, same
    round-half-up, same zero-vector passthrough)."""
    s = (f"(list_max(list_transform({a}, x -> abs(CAST(x AS DOUBLE)))) "
         f"/ 127.0)")
    return (f"CASE WHEN {s} = 0.0 "
            f"THEN list_transform({a}, x -> CAST(x AS DOUBLE)) "
            f"ELSE list_transform({a}, x -> "
            f"floor(CAST(x AS DOUBLE) / {s} + 0.5) * {s}) END")
