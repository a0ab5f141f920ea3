"""Vector math over ``array<float>`` embedding columns — pure built-in
higher-order functions (zip_with / aggregate), fully JVM-side codegen.

No UDFs: a Pandas-UDF dot product pays an Arrow round-trip per batch;
``F.aggregate`` stays inside whole-stage codegen, which at 100 TB is the
difference between a map-only scan and a Python bottleneck. The fold is
sequential left-to-right, so results are bit-deterministic for the
oracle comparison (we still round at the boundary).

The one exception is product quantization (``operators.similarity``
``pq_encode``/``pq_topk``): an argmin over ``k`` code words per
subspace and a lookup-table gather per (query, vector) are a vectorized
NumPy kernel over a whole Arrow batch, while the same work as per-row
higher-order folds (an interpreted fold over the code words) measured
slower than the exploded joins it was meant to replace. The kernel
folds in the same left-to-right order, so its unit vectors and codes
match these expressions bit for bit.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def as_double(v: Column) -> Column:
    """Cast array<float> → array<double> so arithmetic matches the
    oracle's DOUBLE[] math."""
    return v.cast("array<double>")


def dot(a: Column, b: Column) -> Column:
    """Sequential-fold dot product of two equal-length double arrays."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(v: Column) -> Column:
    return F.sqrt(dot(v, v))


def cosine(a: Column, b: Column, ndigits: int = 6) -> Column:
    """Cosine similarity rounded to ``ndigits`` — rounding makes the
    value stable across accumulation orders (engine-portable)."""
    return F.round(dot(a, b) / (norm(a) * norm(b)), ndigits)


def sign_bucket(v: Column, n_dims: int = 6) -> Column:
    """Coarse LSH/IVF bucket key: concatenated signs of the first
    ``n_dims`` coordinates (2^n_dims buckets).

    This is the scale path for similarity search: bucket both sides,
    equi-join on the bucket key, search within the bucket — turning an
    O(n·m) all-pairs cosine into a hash join. Deterministic (no random
    hyperplanes) so the DuckDB oracle reproduces it exactly.
    """
    return F.concat_ws(
        "",
        F.transform(
            F.sequence(F.lit(1), F.lit(n_dims)),
            lambda i: F.when(F.element_at(v, i) >= 0, "1").otherwise("0"),
        ),
    )


def quantize_int8(v: Column) -> Column:
    """Symmetric per-vector int8 quantization:
    ``struct(q: array<tinyint>, scale: float)`` with
    ``x ~= q * scale``, ``scale = max|x| / 127``.

    The storage tier for a 100 TB vector store: 4x smaller than
    float32 (8x vs double) with worst-case per-component error of
    ``scale / 2`` — cosine distortion well under 1 % for typical
    embedding distributions, and the exact-verify stage of every ANN
    path here re-ranks candidates anyway, so quantization error only
    moves CANDIDATE selection, never final scores, when the float
    originals are kept for verification. Pure built-ins (transform /
    array_max) — whole-stage codegen, no Python.

    All-zero vectors take the 1e-30 floor scale so the round trip is
    exact (every q is 0) rather than 0/0; vectors whose max magnitude
    sits below ~1.27e-28 flush to zero under the same floor —
    embeddings live many orders of magnitude above it.
    """
    vd = as_double(v)
    scale = F.greatest(
        F.array_max(F.transform(vd, F.abs)) / F.lit(127.0), F.lit(1e-30)
    )
    q = F.transform(vd, lambda x: F.round(x / scale).cast("tinyint"))
    return F.struct(q.alias("q"), scale.cast("float").alias("scale"))


def dequantize_int8(s: Column) -> Column:
    """Inverse of :func:`quantize_int8`: ``array<double>`` within
    ``scale / 2`` of the original per component."""
    return F.transform(s["q"], lambda x: x.cast("double") * s["scale"].cast("double"))
