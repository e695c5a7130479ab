"""Session-scoped memoization: the package's one memo helper, and the
alias dimension's one memo built with it.

Dimension-side computations are tiny but each build is a fixed
driver-side cost — a shuffle + localCheckpoint + broadcast build — paid
per pipeline run. A long-running cluster job computes them once; paying
them 4-5x per run flattens the N->4N scaling curve (fixed cost C in
T = W/N + C dominates as N grows). Users: ``alias_part``, one entry per
alias dimension behind ``alias_winners``, the mention alias gate, the
claim dimension, ``entity_dim`` and ``canonical_map``, and
``q_kg_nodes``' twostar frame, both keyed on ``df_key`` of the alias
dimension; ``build_fulltext_index``, on ``df_key`` of the documents;
``queries.kg.kg_artifacts``, on the corpus files' (mtime, size).
``df_key`` = (semanticHash, source file identity), so an input
rewritten in place under an identical plan invalidates the entry."""

from __future__ import annotations

import os
import threading

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_MEMO_LOCK = threading.Lock()  # guards the per-session dicts, not builds


def df_key(df: DataFrame) -> tuple:
    try:
        files = tuple(sorted(
            (f, os.path.getmtime(f.replace("file:", "")),
             os.path.getsize(f.replace("file:", "")))
            for f in df.inputFiles()))
    except OSError:
        files = ()
    return (df.semanticHash(), files)


class _Entry:
    def __init__(self):
        self.lock = threading.Lock()
        self.done = False
        self.value = None


def dim_memo(session, attr: str, key, build):
    """Return the memoized ``build()`` for ``key``, stored on the
    SparkSession under ``attr``. A DataFrame is stored localCheckpointed;
    any other result (e.g. a dict of already-materialized frames) as is.

    Each (attr, key) entry has its own lock: threads that miss the same
    entry at once (the writer's concurrent buckets on a fresh session)
    wait for one ``build``, and different entries build independently.
    A ``build`` that raises leaves the entry empty for the next caller."""
    with _MEMO_LOCK:
        memo = getattr(session, attr, None)
        if memo is None:
            memo = {}
            setattr(session, attr, memo)
        entry = memo.setdefault(key, _Entry())
    with entry.lock:
        if not entry.done:
            out = build()
            entry.value = (out.localCheckpoint()
                           if isinstance(out, DataFrame) else out)
            entry.done = True
    return entry.value


# -- the alias dimension's broadcast derivatives -----------------------------

# the columns each derivative needs; a dimension missing some gets only
# the derivatives its columns allow
ALIAS_PARTS = {
    "winners": ("norm_alias", "qid", "label", "node_type", "prior"),
    "gate": ("norm_alias",),
    "entity": ("qid", "label", "node_type", "lat", "lon", "prop_keys",
               "prop_vals"),
    "props": ("qid", "prop_keys", "prop_vals"),
    "canonical": ("norm_alias", "qid"),
}


def alias_part(alias_dim: DataFrame, part: str) -> DataFrame:
    """One broadcast derivative of the alias dimension (a name in
    ``ALIAS_PARTS``), localCheckpointed. All of them come from one session
    memo entry keyed on ``df_key(alias_dim)``, built by ``_alias_parts``
    from one Arrow collection of the dimension."""
    parts = dim_memo(alias_dim.sparkSession, "_kg_alias_memo",
                     df_key(alias_dim), lambda: _alias_parts(alias_dim))
    if part not in parts:
        raise ValueError(f"the alias dimension has no {part!r}: it needs "
                         f"columns {ALIAS_PARTS[part]}, has "
                         f"{alias_dim.columns}")
    return parts[part]


def _first_rows(t: pa.Table, key: str, order=()) -> pa.Table:
    """The first row of ``t`` per distinct ``key`` under the stable sort
    ``order`` (row order when empty); a null key is one group.
    ``index_in`` gives each distinct key's first index in ``keys``."""
    if order:
        t = t.take(pc.sort_indices(t, order))
    keys = t[key].combine_chunks()
    return t.take(pc.index_in(pc.unique(keys), value_set=keys))


def _alias_parts(alias_dim: DataFrame) -> dict[str, DataFrame]:
    """Collect the dimension once with ``toArrow()`` and derive every
    broadcast side on the driver with pyarrow kernels:

    - ``winners``: ``score_candidates``' vectorized function over the
      dimension's (alias, alias, prior), then the first row per
      ``norm_alias`` by (score desc, qid asc);
    - ``gate``: the distinct ``norm_alias`` as ``norm_surface``: a
      projection of the checkpointed winners (no job of its own) when
      they were built, else ``pc.unique`` of the column;
    - ``entity``: the first row per qid (entity attributes repeat per
      alias, so any row is exact);
    - ``props``: those rows' aligned ``prop_keys``/``prop_vals`` as
      (qid, pred, obj), a qid with empty arrays adding none;
    - ``canonical``: ``components.canonical_components`` (a pyarrow
      contraction, then union-find over the label graph).

    Each goes back as ``createDataFrame(arrow).localCheckpoint()``: a
    plain Arrow local relation as a broadcast side slowed every warm
    build down. The collected table is dropped on return."""
    from .components import canonical_components
    from .linking import score_candidates

    have = set(alias_dim.columns)
    parts = [p for p, cols in ALIAS_PARTS.items() if have.issuperset(cols)]
    need = {c for p in parts for c in ALIAS_PARTS[p]}
    t = alias_dim.select([c for c in alias_dim.columns if c in need]
                         ).toArrow()
    spark = alias_dim.sparkSession
    out = {}
    if "winners" in parts:
        norm = t["norm_alias"].to_pandas()
        score = score_candidates.func(norm, norm, t["prior"].to_pandas())
        out["winners"] = _first_rows(
            t.select(["norm_alias", "qid", "label", "node_type"])
            .append_column("score", pa.array(score, pa.float64())),
            "norm_alias", [("score", "descending"), ("qid", "ascending")])
    if "props" in parts:  # entity's columns include props'
        by_qid = _first_rows(t.select(list(ALIAS_PARTS[
            "entity" if "entity" in parts else "props"])), "qid")
        if "entity" in parts:
            out["entity"] = by_qid
        ks, vs = by_qid["prop_keys"], by_qid["prop_vals"]
        owner = np.repeat(np.arange(by_qid.num_rows),
                          pc.list_value_length(ks).fill_null(0).to_numpy())
        out["props"] = pa.table({"qid": by_qid["qid"].take(owner),
                                 "pred": pc.list_flatten(ks),
                                 "obj": pc.list_flatten(vs)})
    frames = {p: spark.createDataFrame(a).localCheckpoint()
              for p, a in out.items()}
    if "winners" in frames:
        frames["gate"] = frames["winners"].select(
            F.col("norm_alias").alias("norm_surface"))
    elif "gate" in parts:
        frames["gate"] = spark.createDataFrame(pa.table(
            {"norm_surface": pc.unique(t["norm_alias"])})).localCheckpoint()
    if "canonical" in parts:
        frames["canonical"] = canonical_components(
            t.select(["norm_alias", "qid"]), spark).localCheckpoint()
    return frames
