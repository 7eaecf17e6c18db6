"""Corpus maintenance: snapshot diff between corpus versions.

corpus_diff is the audit a versioned-corpus release runs between
drops: one full-outer join on the document id, digests compared as
strings, so the whole diff is codegen.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def corpus_diff(old: DataFrame, new: DataFrame, id_col: str = "doc_id",
                digest_col: str = "digest") -> DataFrame:
    """Snapshot diff between two corpus versions by content digest:
    one row per doc id present in either snapshot, with status
    `added` / `removed` / `changed` / `unchanged` and the surviving
    snapshot's columns. The audit a versioned-corpus release pipeline
    runs between drops (and the precursor of incremental re-processing:
    only `added`+`changed` re-enter the pipeline).

    Both inputs must carry (id_col, digest_col); extra columns on `new`
    (then `old`, for removed rows) pass through via coalesce. ONE
    full-outer shuffle join on the id — digests compare as strings, so
    the whole diff is codegen; at 100 TB pre-bucket both snapshots by
    id_col and the join is zero-shuffle."""
    o = old.select(*[F.col(c).alias(f"_o_{c}") for c in old.columns])
    n = new.select(*[F.col(c).alias(f"_n_{c}") for c in new.columns])
    joined = o.join(
        n, o[f"_o_{id_col}"] == n[f"_n_{id_col}"], "full_outer")
    # Null-SAFE digest compare (IS DISTINCT FROM): with a plain `!=`,
    # a null-vs-non-null digest pair evaluates to NULL and falls
    # through to 'unchanged' — a silent misclassification. The oracle
    # SQL mirrors this with IS DISTINCT FROM.
    status = (
        F.when(F.col(f"_o_{id_col}").isNull(), F.lit("added"))
        .when(F.col(f"_n_{id_col}").isNull(), F.lit("removed"))
        .when(~F.col(f"_o_{digest_col}").eqNullSafe(
            F.col(f"_n_{digest_col}")), F.lit("changed"))
        .otherwise(F.lit("unchanged")))
    passthrough = [
        F.coalesce(F.col(f"_n_{c}"), F.col(f"_o_{c}")).alias(c)
        for c in new.columns if c != id_col and c in old.columns]
    return joined.select(
        F.coalesce(F.col(f"_n_{id_col}"), F.col(f"_o_{id_col}"))
        .alias(id_col),
        status.alias("status"), *passthrough)
