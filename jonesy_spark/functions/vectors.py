"""Vector math over ``array<float>`` embedding columns as built-in
higher-order functions (zip_with / aggregate / transform).

These folds are NOT compiled: in Spark 4.1 ``ArrayAggregate``,
``ZipWith`` and ``ArrayTransform`` implement ``CodegenFallback``, so a
``Project`` holding ``norm`` plans outside whole-stage codegen (no
``*(n)`` prefix in ``explain()``) and every element is interpreted.
They stay the right tool for per-pair scores inside joins and for the
expressions the DuckDB oracles mirror. Corpus-sized vector math — the
brute-force cosine scan, the int8 and PQ candidate scans with their
quantization and IVF cell ranking, their exact re-rank and the PQ
training sample — runs in the NumPy kernel of ``operators.similarity``
instead (``_fold_dot`` over Arrow batches in ``mapInArrow``). That
kernel folds in the same left-to-right order, one rounding per step,
and rounds HALF_UP as ``round`` does, so its norms, cosines, unit
vectors and codes match these expressions bit for bit.

The fold is sequential left-to-right, so results are bit-deterministic
for the oracle comparison (we still round at the boundary).
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
    array_max), no Python; the transform is interpreted like every
    fold here.

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
