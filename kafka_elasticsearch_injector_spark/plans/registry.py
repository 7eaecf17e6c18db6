"""Declared query inventory: the t2 contract.

Every operator claimed in SURVEY.md §2 is declared here as a `QueryDef`:
a PySpark plan builder plus the equivalent DuckDB oracle SQL. The driver
runs both sides at sf0.01 and hash-compares.

Determinism discipline (BASELINE.md):
- float outputs rounded to 6 decimals on BOTH sides;
- money sums routed through DECIMAL(18,2) so the aggregate is exact and
  the final double cast is bit-identical across engines;
- every sort/top-k carries a unique tie-break key;
- column names alias-matched between Spark and oracle.
"""

from __future__ import annotations

import glob
import json
import os
import re
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession


@dataclass(frozen=True)
class QueryDef:
    """One declared query: Spark plan + DuckDB oracle SQL."""

    spark: Callable[[SparkSession, str], DataFrame]
    oracle: str
    doc: str = ""


QUERIES: dict[str, QueryDef] = {}


def register(name: str, oracle: str, doc: str = ""):
    """Decorator: add a (spark_fn, oracle_sql) pair to the inventory."""

    def wrap(fn: Callable[[SparkSession, str], DataFrame]):
        QUERIES[name] = QueryDef(spark=fn, oracle=oracle, doc=doc)
        return fn

    return wrap


def _load_all() -> None:
    # Import for side effects: each module registers its queries.
    from . import (  # noqa: F401
        part_a, part_b, part_b_ext, part_b_ext2, part_c, part_c2, part_d,
        part_d2, part_d3, part_e, part_f, part_g, part_h)


# Consumers (correctness drivers, demo runs) verify a PREFIX of the
# inventory (observed cap: 50 entries per round). Order it so a
# truncated pass always buys the MOST new evidence: queries with no
# green driver row ever come first (failed/errored before never-run,
# both need re-proof), then greens stalest-first (a green from round 1
# that hasn't been re-checked since proves less than one from the
# latest round). The order is derived MECHANICALLY from the committed
# CORRECTNESS_r*.json files at import time, so a new round's results
# automatically rotate the prefix — no hand-maintained list to
# silently drop a never-verified query below the cutoff (which is
# exactly what the hand-written round-2 list did to the three round-1
# error rows). Pure presentation order: names and definitions are
# unchanged; ties break on registration order for stability.
DRIVER_PREFIX_CAP = 50


def _repo_root() -> str:
    return os.path.dirname(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))))


def _is_green(row: dict) -> bool:
    """A driver row counts as green evidence iff it ran without error,
    matched rows, and didn't fail any check the driver performed
    (hash/schema are None for rows-only queries — that's the weaker
    pass, still green for rotation purposes)."""
    return (
        isinstance(row, dict)
        and row.get("err") is None
        and row.get("rows_match") is True
        and row.get("schema_match") is not False
        and row.get("hash_match") is not False
    )


def _scan_history(root: str | None) -> tuple[
        dict[str, int], dict[str, tuple[int, bool]]]:
    """Parse every committed CORRECTNESS_r*.json → (last_green_round per
    query, latest (round, was_green) per query; its keys are the
    queries ever checked). Missing/corrupt files are skipped: with no
    history at all the order degrades to registration order, which is
    still a valid inventory."""
    last_green: dict[str, int] = {}
    latest: dict[str, tuple[int, bool]] = {}
    pattern = os.path.join(root or _repo_root(), "CORRECTNESS_r*.json")
    for path in sorted(glob.glob(pattern)):
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", path)
        if not m:
            continue
        rnd = int(m.group(1))
        try:
            with open(path) as f:
                rows = json.load(f)
        except (OSError, ValueError):
            continue
        if not isinstance(rows, dict):
            continue
        for name, row in rows.items():
            green = _is_green(row)
            if green:
                last_green[name] = max(last_green.get(name, rnd), rnd)
            if name not in latest or rnd >= latest[name][0]:
                latest[name] = (rnd, green)
    return last_green, latest


def priority_order(names: list[str], root: str | None = None) -> list[str]:
    """Mechanical verification order: queries whose MOST RECENT driver
    row is a failure come first (a red row is the strongest signal,
    even for a query that was green in some earlier round — treating
    it as a stale green would sort it behind every never-checked query
    and out of the verified prefix), then never-checked queries, then
    greens ascending by the round of their last green row (stalest
    first)."""
    last_green, latest = _scan_history(root)
    reg_idx = {n: i for i, n in enumerate(names)}

    def key(n: str):
        if n in latest and not latest[n][1]:
            return (-2, 0, reg_idx[n])          # latest evidence: failure
        if n not in last_green:
            return (-1, 0, reg_idx[n])          # never checked
        return (last_green[n], 0, reg_idx[n])   # green, stalest first

    return sorted(names, key=key)


def _ordered() -> dict[str, QueryDef]:
    return {n: QUERIES[n] for n in priority_order(list(QUERIES))}


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    _load_all()
    return {name: qd.spark for name, qd in _ordered().items()}


def oracle_sql() -> dict[str, str]:
    _load_all()
    return {name: qd.oracle for name, qd in _ordered().items()}
