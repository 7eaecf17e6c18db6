"""Test view of the winnowing sketch in operators/text.py.

The package exposes the sketch only through its rollups (winnow_stats,
winnow_pairs). winnow_fingerprints explodes the same per-document
selection arrays (_winnow_doc_arrays) into one row per selected
fingerprint, so tests can check the selection itself against an
independent replay.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kafka_elasticsearch_injector_spark.operators.text import (
    _winnow_doc_arrays,
)


def winnow_fingerprints(df: DataFrame, k: int = 3, w: int = 4,
                        id_col: str = "doc_id",
                        text_col: str = "text") -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken,
    SIGMOD'03 — the MOSS algorithm): hash every word k-gram, slide a
    w-window over the hash sequence, select each window's minimum
    (rightmost-minimum tie-break), and keep the DISTINCT selections.
    Guarantees any shared run of ≥ w+k-1 tokens between two documents
    shares a fingerprint, at ~2/(w+1) the density of full k-gram sets —
    the sketch plagiarism/overlap detection indexes at corpus scale.

    Returns one row per selected fingerprint: (id, sel_pos, fp).

    Determinism/oracle notes: the k-gram hash is the first 32 bits of
    md5 (same value via conv() here, '0x'||hex cast in SQL); min and
    tie-break are fused into ONE bigint key `h·2¹⁶ + (2¹⁶−1−pos)` so a
    plain MIN over each window implements rightmost-min exactly (no
    engine-specific arg_min semantics). Positions fit 16 bits (docs ≪
    65k tokens here; widen the encoding before lifting that bound).

    Scale shape: ZERO exchanges. A document's grams already live in
    one array, so the whole selection is row-local array algebra —
    transform→slice→array_min for the sliding minima, array_distinct
    for the per-doc dedup (cross-doc rows carry distinct ids, so no
    global distinct exists to pay for) — and the operator is a narrow
    projection over the scan: it parallelizes by input split and runs
    shuffle-free at any corpus size. The explode emits only the
    ~2/(w+1)-density selection set, never the full gram sequence.
    """
    arr = _winnow_doc_arrays(df, k, w, id_col, text_col)
    # explode_outer, NOT explode: InferFiltersFromGenerate adds a
    # `size(arr) > 0` filter under a non-outer Generate, and predicate
    # pushdown then substitutes the FULL nested sketch expression into
    # a scan-level DataFilter — re-deriving the O(n_grams²) inlining
    # _winnow_doc_arrays engineered away. The
    # rule skips outer generates, and `n_grams >= w` already
    # guarantees every array is non-empty, so the outer variant is
    # value-identical and never emits a null row.
    sel = arr.select(
        F.col(id_col), F.col("n_grams").cast("bigint").alias("n_grams"),
        F.explode_outer(F.array_distinct("_sels")).alias("s"))
    return sel.select(
        id_col, "n_grams",
        (F.lit(65535) - F.pmod("s", F.lit(65536)))
        .cast("bigint").alias("sel_pos"),
        F.floor(F.col("s") / F.lit(65536)).cast("bigint").alias("fp"))
