"""Vector math over array<float> columns — JVM-side higher-order functions.

These run inside whole-stage codegen (no Python), which is why brute-force
cosine top-k at sf scale beats a Pandas UDF: the dot product is a fused
zip_with+aggregate over the Arrow-free internal rows.

Determinism: elements are cast to DOUBLE before any arithmetic so Spark
and the DuckDB oracle walk the identical IEEE sequence (float*float
promotion rules differ between engines; double-in/double-out does not).

100 TB design note: brute-force is O(N·M) in (corpus, probes). The scale
path is operators/similarity.py — IVF via cluster assignment (prune to
nearest partitions) or LSH sign-buckets — which turns the cross join into
a bucket-equi-join; same scoring expressions on the surviving pairs.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def to_double(vec: Column) -> Column:
    return F.transform(vec, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    """In-order sequential sum (0 + a1·b1) + a2·b2 + … — the exact IEEE
    sequence DuckDB's list_reduce walks, so results are bit-identical."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def sq_norm(vec: Column) -> Column:
    return F.aggregate(
        F.transform(vec, lambda x: x * x), F.lit(0.0),
        lambda acc, x: acc + x)


def l2_norm(vec: Column) -> Column:
    return F.sqrt(sq_norm(vec))


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity; inputs must already be double arrays."""
    return dot(a, b) / (l2_norm(a) * l2_norm(b))
