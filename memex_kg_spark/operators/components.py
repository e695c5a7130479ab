"""Connected components over the shares-an-alias graph.

Stands in for the reference's Neo4j MERGE-based canonical dedup (unique
``wid`` constraint + swallowed ConstraintError, db/db_connection.py:51-56,
143-146): entities that share a normalized alias collapse into one
canonical cluster whose id is the minimum qid of the component.

Two builds compute it, each where its input already lives:

- ``canonical_components`` (behind ``canonical_map``, so behind every
  node's ``canonical_id``) runs on the driver during set-up, over the
  one Arrow copy of the dimension the driver holds to derive every
  broadcast side (``memo.alias_part``). One hash-to-min round in pyarrow
  (the local contraction of Łącki et al., "Connected Components at Scale
  via Local Contractions", 2018) folds each alias star into its minimum
  qid; union-find finishes the much smaller label graph. Nothing bounds
  it but the collection of the whole dimension.
- ``connected_components_twostar`` is the distributed loop:
  large-star/small-star (Kiveris et al., "Connected Components in
  MapReduce and Beyond", SoCC'14) as DataFrame self-joins, the edge set
  ``localCheckpoint``-ed every round, O(log n) rounds whatever the
  diameter. ``queries.kg.q_kg_nodes`` runs it over
  ``alias_component_edges`` so the driver artifact checks it against the
  recursive-CTE oracle (``canonical_id_twostar``).
"""

from __future__ import annotations

import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


DRIVER_CC_THRESHOLD = 100_000  # the engine no longer reads it; it stays
# only for perfbench/inputs.py, which imports it to size the hot_claims
# alias graph (its value fixes that workload's shape).


def _components(pairs) -> dict:
    """Union-find over (a, b) pairs: every vertex -> the minimum vertex
    of its component (a pair (v, v) registers v alone). Holds one entry
    per vertex."""
    parent: dict = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        a, b = find(a), find(b)
        if a != b:
            parent[max(a, b)] = min(a, b)
    return {x: find(x) for x in list(parent)}


def connected_components_twostar(edges: DataFrame, src: str = "src",
                                 dst: str = "dst",
                                 max_iter: int = 30) -> DataFrame:
    """Large-star/small-star connected components (Kiveris et al.,
    SoCC'14): converges in O(log n) alternating rounds INDEPENDENT of
    graph diameter, unlike label propagation whose round count is the
    diameter. Returns (id, component), one row per vertex of ``edges``,
    with component = min id of the component; a vertex whose only edges
    are self-loops is its own component.

    Each round is two grouped aggregations + joins (all on node-id keys,
    no driver-side state); the edge set is ``localCheckpoint``-ed per
    round to truncate lineage. Convergence = the parent-edge set reached
    a fixpoint, detected with a single (count, xxhash64-sum) aggregate
    instead of a set-difference shuffle.

    large-star(u): connect every neighbor v > u to m = min(N(u) + {u})
    small-star(u): connect u and every (smaller) parent-neighbor to the
    smallest of them. At the fixpoint every node points at its
    component's minimum (the paper's canonical-star invariant).
    """
    ids = (edges.select(F.col(src).alias("id"))
           .union(edges.select(F.col(dst).alias("id")))
           .distinct().localCheckpoint())
    # parent edges (u -> v, v < u); self-loops drop out
    e = (edges.select(F.greatest(F.col(src), F.col(dst)).alias("u"),
                      F.least(F.col(src), F.col(dst)).alias("v"))
         .filter(F.col("u") != F.col("v"))
         .distinct().localCheckpoint())

    def _sig(df: DataFrame) -> tuple:
        r = df.agg(F.count(F.lit(1)).alias("n"),
                   F.sum(F.xxhash64("u", "v").cast("decimal(38,0)"))
                   .alias("h")).first()  # decimal: ANSI-safe vs overflow
        return (r["n"], r["h"])

    sig = _sig(e)
    for _ in range(max_iter):
        # large-star over the undirected view
        sym = e.union(e.select(F.col("v").alias("u"),
                               F.col("u").alias("v")))
        mins = (sym.groupBy("u").agg(F.min("v").alias("mn"))
                .select("u", F.least("mn", F.col("u")).alias("m")))
        large = (sym.join(mins, "u")
                 .filter(F.col("v") > F.col("u"))
                 .select(F.col("v").alias("u"), F.col("m").alias("v"))
                 .filter(F.col("u") != F.col("v"))
                 .distinct())
        # checkpoint: smins AND the small-star join both consume `large`,
        # and without it each consumer re-runs the sym/groupBy/join above
        large = large.localCheckpoint()
        # small-star over the (larger -> smaller) parent edges; both
        # output branches ((v, m) and (u, m)) come out of ONE join pass
        # via explode instead of joining `large` twice
        smins = (large.groupBy("u").agg(F.min("v").alias("m")))
        small = (large.join(smins, "u")
                 .select(F.explode(F.array(
                     F.struct(F.col("v").alias("u"),
                              F.col("m").alias("v")),
                     F.struct(F.col("u").alias("u"),
                              F.col("m").alias("v")))).alias("p"))
                 .select("p.u", "p.v")
                 .filter(F.col("u") != F.col("v"))
                 .distinct().localCheckpoint())
        new_sig = _sig(small)
        e = small
        if new_sig == sig:
            break
        sig = new_sig
    # stars: u -> root; roots (and isolated ids) label themselves. At
    # the fixpoint each u holds exactly ONE parent edge, but when
    # max_iter exhausts first a node can still hold several — collapse
    # to min(v) so the (id, component) one-row-per-id contract holds
    # unconditionally (labels may be pre-fixpoint then, but never
    # duplicated/fanned out).
    parents = e.groupBy("u").agg(F.min("v").alias("v"))
    return (ids.join(parents.withColumnRenamed("u", "id"), "id", "left")
            .select("id", F.coalesce("v", "id").alias("component")))


def alias_component_edges(alias_dim: DataFrame) -> DataFrame:
    """Shares-an-alias graph: for every alias, edges from each member qid to
    the alias-minimum qid (star per alias — linear, not quadratic, in
    members, which matters for hub aliases shared by many entities)."""
    m = alias_dim.select("norm_alias", "qid")
    mins = m.groupBy("norm_alias").agg(F.min("qid").alias("root"))
    return (m.join(mins, "norm_alias")
            .filter(F.col("qid") != F.col("root"))
            .select(F.col("qid").alias("src"), F.col("root").alias("dst"))
            .distinct())


def canonical_components(alias: pa.Table, spark) -> DataFrame:
    """(qid, canonical_id) for every qid of the alias dimension, given
    its ``(norm_alias, qid)`` columns collected as ``alias``.

    One hash-to-min round, in pyarrow: every row joins its alias's
    star root (the alias's minimum qid), ``m(q)`` is the minimum root
    over q's aliases, and the label graph is the distinct (root, m(q))
    pairs with root != m(q). No Python object is made per alias row:
    union-find runs on the driver over the label graph, and each qid's
    component is its label's. A row with a null alias joins nothing;
    its qid maps to itself."""
    qids = alias.filter(pc.is_valid(alias["qid"]))
    linked = qids.filter(pc.is_valid(qids["norm_alias"]))
    root = linked.group_by("norm_alias").aggregate([("qid", "min")])
    stars = linked.join(pa.table({"norm_alias": root["norm_alias"],
                                  "root": root["qid_min"]}), "norm_alias")
    m = stars.group_by("qid").aggregate([("root", "min")])
    m = pa.table({"qid": m["qid"], "m": m["root_min"]})
    label = stars.join(m, "qid")
    label = (label.filter(pc.not_equal(label["root"], label["m"]))
             .group_by(["root", "m"]).aggregate([]))
    comp = _components(zip(label["root"].to_pylist(),
                           label["m"].to_pylist()))
    ids = pa.table({"qid": pc.unique(qids["qid"])}).join(
        m, "qid", join_type="left outer")
    return spark.createDataFrame(pa.table({
        "qid": ids["qid"],
        "canonical_id": pa.array(
            [comp.get(x, x) for x in
             pc.coalesce(ids["m"], ids["qid"]).to_pylist()],
            ids.schema.field("qid").type)}))


def canonical_map(alias_dim: DataFrame) -> DataFrame:
    """qid -> canonical_id (min qid of the shares-an-alias component);
    singleton entities map to themselves. One derivative of the alias
    dimension's session memo (``memo.alias_part``), built by
    ``canonical_components`` from the driver's Arrow copy and keyed on
    the plan AND the source files, so a dimension regenerated in place
    gets a fresh map."""
    from .memo import alias_part

    return alias_part(alias_dim, "canonical")
