"""Vector column expressions — JVM-side, codegen-friendly.

All distance math is expressed with ``zip_with`` / ``aggregate`` higher-
order functions so it executes inside whole-stage codegen (no Python
boundary in the hot path). Inputs are cast to DOUBLE before arithmetic so
results are bit-comparable with the DuckDB oracle's
``list_distance(a::DOUBLE[], b::DOUBLE[])`` (both engines then do a
sequential double-precision fold).

Reference semantics: ChromaDB 0.4.24 default L2 distance, unnormalized
embeddings (reference storage.py:124-133; SURVEY.md §2.4).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column
from pyspark.sql import functions as F


def to_vec(values: Sequence[float]) -> Column:
    """A literal ARRAY<DOUBLE> column for a query vector."""
    return F.array(*[F.lit(float(v)) for v in values])


def to_e6(col: Column | str) -> Column:
    """ARRAY<BIGINT> of integer micro-units, round(double(x)·1e6) per
    element. ``F.round`` is HALF_UP (away from zero), identical to
    DuckDB ``round()`` — the quantize rule every exact-integer vector
    path and its oracle twin share."""
    c = F.col(col) if isinstance(col, str) else col
    return F.transform(c, lambda x: F.round(x.cast("double") * 1_000_000.0, 0).cast("long"))


def _as_double(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return c.cast("array<double>")


def _as_col_or_vec(b: Column | str | Sequence[float]) -> Column:
    """Column passes through, a string is a column NAME, any other
    sequence is a literal query vector."""
    if isinstance(b, Column):
        return b
    if isinstance(b, str):
        return F.col(b)
    return to_vec(b)


def l2_squared(a: Column | str, b: Column | str | Sequence[float]) -> Column:
    """Sum of squared differences (monotone in L2; avoids the sqrt)."""
    b = _as_col_or_vec(b)
    diffsq = F.zip_with(_as_double(a), _as_double(b), lambda x, y: (x - y) * (x - y))
    return F.aggregate(diffsq, F.lit(0.0), lambda acc, v: acc + v)


def l2_distance(a: Column | str, b: Column | Sequence[float]) -> Column:
    """Euclidean distance — matches DuckDB ``list_distance``."""
    return F.sqrt(l2_squared(a, b))


def dot(a: Column | str, b: Column | str | Sequence[float]) -> Column:
    b = _as_col_or_vec(b)
    prods = F.zip_with(_as_double(a), _as_double(b), lambda x, y: x * y)
    return F.aggregate(prods, F.lit(0.0), lambda acc, v: acc + v)


def norm(a: Column | str) -> Column:
    return F.sqrt(dot(a, F.col(a) if isinstance(a, str) else a))


def cosine_similarity(a: Column | str, b: Column | str | Sequence[float]) -> Column:
    """dot(a,b) / (|a||b|) — matches DuckDB ``list_cosine_similarity``."""
    b = _as_col_or_vec(b)
    return dot(a, b) / (norm(a) * norm(b))


def cosine_distance(a: Column | str, b: Column | str | Sequence[float]) -> Column:
    return F.lit(1.0) - cosine_similarity(a, b)


def label_centroids(
    df,
    *,
    label_col: str = "label",
    vec_col: str = "embedding",
):
    """Per-label centroid (element-wise mean) of an embedding column, in
    LONG format: (label, pos, c) — one row per label per dimension.

    posexplode + hash-aggregate on (label, pos): the shuffle key carries
    the dimension index, so the load is spread over labels × dim
    reducers regardless of label skew, and Spark's map-side partial
    aggregation means the shuffle volume is #partitions × #labels × dim
    rows, independent of corpus size — the scalable shape for a 100-TB
    corpus with a handful of labels.

    Float discipline (cross-engine determinism): per-dimension sums are
    exact DECIMAL(38,10) (order-independent), cast to DOUBLE once, then
    one IEEE double division by the count and a 6dp round — every step
    bit-identical between the JVM and the DuckDB oracle.
    """
    ex = df.select(label_col, F.posexplode(vec_col).alias("pos", "val"))
    s = F.sum(F.col("val").cast("double").cast("decimal(38,10)"))
    return ex.groupBy(label_col, "pos").agg(
        F.round(s.cast("double") / F.count("*"), 6).alias("c")
    )


def quantize_int8(
    df,
    vec_col: str = "embedding",
    *,
    code_col: str = "q8",
    scale_col: str = "q8_scale",
):
    """Per-vector symmetric int8 quantization: scale = max|v|/127,
    qᵢ = floor(vᵢ/scale + 0.5) ∈ [−127, 127]. 4× at-rest compression
    for float32 embeddings (the storage lever BEFORE PQ's 32×, with
    ~0.3% cosine error instead of PQ's lossy codes).

    Everything is a JVM-side higher-order-function expression — no
    UDF, no shuffle, scan-speed. floor(x + 0.5) instead of round():
    both engines floor the same IEEE double identically, whereas
    Spark's round() goes through a decimal-string path that can
    disagree with a binary-rounding engine on exact .5 boundaries.
    Zero vectors quantize to all-zero codes with scale 0.
    """
    from pyspark.sql import functions as F

    # compute in DOUBLE regardless of at-rest FLOAT storage: the
    # float->double cast is exact, and every engine then runs the same
    # IEEE-double divide/floor
    v = F.col(vec_col).cast("array<double>")
    max_abs = F.array_max(F.transform(v, lambda x: F.abs(x)))
    scale = max_abs / F.lit(127.0)
    codes = F.when(
        max_abs > 0,
        F.transform(
            v,
            lambda x: F.floor(x / scale + F.lit(0.5)).cast("int"),
        ),
    ).otherwise(F.transform(v, lambda x: F.lit(0)))
    return df.withColumn(scale_col, scale).withColumn(code_col, codes)


def dequantize_int8(
    df,
    code_col: str = "q8",
    scale_col: str = "q8_scale",
    *,
    out_col: str = "embedding_dq",
):
    """Inverse of `quantize_int8`: vᵢ ≈ qᵢ·scale, as a codegen'd
    transform expression."""
    from pyspark.sql import functions as F

    return df.withColumn(
        out_col,
        F.transform(
            F.col(code_col),
            lambda q: q.cast("double") * F.col(scale_col),
        ),
    )
