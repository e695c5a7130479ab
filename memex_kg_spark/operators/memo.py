"""Session-scoped dimension memoization.

Dimension-side computations (alias winners, canonical map, claim
expansion, entity attributes) are tiny but each build is a fixed
driver-side cost — a shuffle + localCheckpoint + broadcast build — paid
per pipeline run. A long-running cluster job computes them once; paying
them 4-5x per run flattens the N->4N scaling curve (fixed cost C in
T = W/N + C dominates as N grows). Memo key = (semanticHash, source file
identity), so a regenerated input under an identical plan invalidates
the entry."""

from __future__ import annotations

import os

from pyspark.sql import DataFrame


def df_key(df: DataFrame) -> tuple:
    try:
        files = tuple(sorted(
            (f, os.path.getmtime(f.replace("file:", "")),
             os.path.getsize(f.replace("file:", "")))
            for f in df.inputFiles()))
    except OSError:
        files = ()
    return (df.semanticHash(), files)


def dim_memo(session, attr: str, key, build) -> DataFrame:
    """Return the memoized localCheckpoint of ``build()`` for ``key``,
    stored on the SparkSession under ``attr``."""
    memo = getattr(session, attr, None)
    if memo is None:
        memo = {}
        setattr(session, attr, memo)
    if key not in memo:
        memo[key] = build().localCheckpoint()
    return memo[key]
