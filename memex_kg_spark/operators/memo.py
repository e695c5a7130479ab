"""Session-scoped memoization: the package's one memo helper.

Dimension-side computations are tiny but each build is a fixed
driver-side cost — a shuffle + localCheckpoint + broadcast build — paid
per pipeline run. A long-running cluster job computes them once; paying
them 4-5x per run flattens the N->4N scaling curve (fixed cost C in
T = W/N + C dominates as N grows). Users: ``alias_winners``,
``canonical_map``, ``entity_dim``, the mention alias gate, the claim
dimension and ``q_kg_nodes``' twostar frame, keyed on ``df_key`` of the
alias dimension; ``build_fulltext_index``, on ``df_key`` of the
documents; ``queries.kg.kg_artifacts``, on the corpus files' (mtime,
size). ``df_key`` = (semanticHash, source file identity), so an input
rewritten in place under an identical plan invalidates the entry."""

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


def dim_memo(session, attr: str, key, build):
    """Return the memoized ``build()`` for ``key``, stored on the
    SparkSession under ``attr``. A DataFrame is stored localCheckpointed;
    any other result (e.g. a dict of already-materialized frames) as is."""
    memo = getattr(session, attr, None)
    if memo is None:
        memo = {}
        setattr(session, attr, memo)
    if key not in memo:
        out = build()
        memo[key] = (out.localCheckpoint() if isinstance(out, DataFrame)
                     else out)
    return memo[key]
