"""Session-scoped memoization: the package's one memo helper, its one
input-identity key, and the alias dimension's one memo built with them.

Dimension-side computations are tiny but each build is a fixed
driver-side cost — a shuffle + localCheckpoint + broadcast build — paid
per pipeline run. A long-running cluster job computes them once; paying
them 4-5x per run flattens the N->4N scaling curve (fixed cost C in
T = W/N + C dominates as N grows). Every entry is keyed on ``files_key``
(each input file's path, mtime and size), so an input rewritten in
place invalidates it: ``df_key`` (semanticHash + ``files_key`` of the
input files) keys ``alias_part`` (the alias dimension's three frames:
``alias_winners``, also the mention gate; ``entity_dim``, whose
``canonical_id`` column is ``canonical_map``; the claim dimension),
``q_kg_nodes``' twostar frame and ``build_fulltext_index``;
``pipeline.load_synth`` and ``queries.kg.kg_artifacts`` key on
``files_key`` of the three corpus tables. Limit: ``os`` cannot stat a
path on another filesystem (``hdfs://``, ``s3a://``), so it is keyed by
name and a remote corpus rewritten during a session goes unseen: one
corpus state per writer run."""

from __future__ import annotations

import os
import threading
from urllib.parse import unquote, urlsplit

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame

_MEMO_LOCK = threading.Lock()  # guards the per-session dicts, not builds


def files_key(paths) -> tuple:
    """``(path, st_mtime_ns, st_size)`` of every file under each of
    ``paths``, directories walked, by ``os.stat`` (no Spark job). A
    ``file:`` URI is stat'ed as the local path it names; a missing local
    path raises; a path on another filesystem gives ``(path,)``."""
    files = []
    for p in paths:
        url = urlsplit(p)
        if url.scheme not in ("", "file"):
            files.append((p,))
            continue
        local = unquote(url.path) if url.scheme else p
        walked = sorted(os.path.join(d, f) for d, _, fs in os.walk(local)
                        for f in fs)
        for f in walked or [local]:
            st = os.stat(f)
            files.append((p + f[len(local):], st.st_mtime_ns, st.st_size))
    return tuple(files)


def df_key(df: DataFrame) -> tuple:
    return (df.semanticHash(), files_key(sorted(df.inputFiles())))


class _Entry:
    def __init__(self):
        self.lock = threading.Lock()
        self.done = False
        self.value = None


def dim_memo(session, attr: str, key, build):
    """Return the memoized ``build()`` for ``key``, stored on the
    SparkSession under ``attr`` as ``build`` returned it: a build that
    makes frames materializes them itself (``localCheckpoint``).

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
            entry.value = build()
            entry.done = True
    return entry.value


# -- the alias dimension's broadcast derivatives -----------------------------


def alias_part(alias_dim: DataFrame, part: str) -> DataFrame:
    """One broadcast derivative of the alias dimension (``winners``,
    ``entity`` or ``props``), localCheckpointed. All three come from one
    session memo entry keyed on ``df_key(alias_dim)``, built by
    ``_alias_parts`` from one Arrow collection of the dimension."""
    return dim_memo(alias_dim.sparkSession, "_kg_alias_memo",
                    df_key(alias_dim), lambda: _alias_parts(alias_dim))[part]


def _first_rows(t: pa.Table, key: str, order=()) -> pa.Table:
    """The first row of ``t`` per distinct ``key`` under the stable sort
    ``order`` (row order when empty); a null key is one group.
    ``index_in`` gives each distinct key's first index in ``keys``."""
    if order:
        t = t.take(pc.sort_indices(t, order))
    keys = t[key].combine_chunks()
    return t.take(pc.index_in(pc.unique(keys), value_set=keys))


def _alias_parts(alias_dim: DataFrame) -> dict[str, DataFrame]:
    """Collect the dimension's nine columns once with ``toArrow()`` (a
    missing column raises at ``select``) and derive every broadcast side
    on the driver with pyarrow kernels:

    - ``winners``: ``score_candidates``' vectorized function over the
      dimension's (alias, alias, prior), then the first row per
      ``norm_alias`` by (score desc, qid asc); its ``norm_alias`` column
      is also the mention gate;
    - ``entity``: the first row per qid (entity attributes repeat per
      alias, so any row is exact), with its ``canonical_id`` from
      ``components.canonical_components`` (a pyarrow contraction, then
      union-find over the label graph);
    - ``props``: those rows' aligned ``prop_keys``/``prop_vals`` as
      (qid, pred, obj), a qid with empty arrays adding none.

    Each goes back as ``createDataFrame(arrow).localCheckpoint()``: a
    plain Arrow local relation as a broadcast side slowed every warm
    build down. The collected table is dropped on return."""
    from .components import canonical_components
    from .linking import score_candidates

    t = alias_dim.select("norm_alias", "qid", "label", "node_type", "prior",
                         "lat", "lon", "prop_keys", "prop_vals").toArrow()
    norm = t["norm_alias"].to_pandas()
    score = score_candidates.func(norm, norm, t["prior"].to_pandas())
    winners = _first_rows(
        t.select(["norm_alias", "qid", "label", "node_type"])
        .append_column("score", pa.array(score, pa.float64())),
        "norm_alias", [("score", "descending"), ("qid", "ascending")])
    entity = _first_rows(t.select(["qid", "label", "node_type", "lat", "lon",
                                   "prop_keys", "prop_vals"]), "qid")
    # Table.join rejects the list-typed prop columns as non-key fields,
    # so the canonical ids are aligned to the entity rows by position
    canon = canonical_components(t.select(["norm_alias", "qid"]))
    entity = entity.append_column("canonical_id", canon["canonical_id"].take(
        pc.index_in(entity["qid"], value_set=canon["qid"])))
    ks, vs = entity["prop_keys"], entity["prop_vals"]
    owner = np.repeat(np.arange(entity.num_rows),
                      pc.list_value_length(ks).fill_null(0).to_numpy())
    props = pa.table({"qid": entity["qid"].take(owner),
                      "pred": pc.list_flatten(ks),
                      "obj": pc.list_flatten(vs)})
    spark = alias_dim.sparkSession
    return {p: spark.createDataFrame(a).localCheckpoint() for p, a in
            (("winners", winners), ("entity", entity), ("props", props))}
