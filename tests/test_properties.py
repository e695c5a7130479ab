"""Property-based tests (hypothesis) for the algebraic cores.

The reference validates these semantics with hand-picked fixtures only;
property testing pins the *laws* the operators must satisfy at any
input, which is what actually matters at 100 TB where no fixture is
representative:

- P7 label cleaning (reference ingestion/recursive_hops_ingestion.py:53-55):
  closed alphabet, deterministic, and idempotent exactly when the output
  contains no underscore (the space→`_` rewrite emits a character the
  strip pass removes — a genuine reference quirk we preserve for parity,
  pinned here rather than "fixed").
- Connected components (reference grouping logic; SURVEY §2 G2): the
  driver union-find and the distributed large-star/small-star loop must
  agree with a brute-force BFS on arbitrary graphs, ``canonical_map``'s
  contraction-plus-union-find with the pandas oracle on arbitrary alias
  dimensions, and the representative must be the component minimum (id
  stability across resumes depends on it).
- Upsert/MERGE (reference edit_story, db/db_connection.py:305-330):
  idempotent, last-writer-wins, and batch-composable — applying U1 then
  U2 equals applying the key-wise "U2 overrides U1" union once.
"""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from memex_kg_spark.synth.vocab import clean_label

# Keep Spark-backed properties cheap: tiny createDataFrame round-trips,
# few examples, no deadline (JVM warm-up would trip it).
_SPARK_SETTINGS = settings(
    max_examples=12, deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture])

_ids = st.integers(min_value=0, max_value=24).map(lambda i: f"Q{i}")
_edges = st.lists(st.tuples(_ids, _ids), min_size=0, max_size=40)


@given(st.text(max_size=60))
@settings(max_examples=300, deadline=None)
def test_clean_label_closed_alphabet_and_conditional_idempotence(raw):
    once = clean_label(raw)
    assert all(c.isalnum() or c in "_\n." for c in once)
    assert all(not c.isalpha() or c.isascii() for c in once)
    assert "3" not in once  # digit rule: 3 -> three, applied after strip
    # Reference quirk (parity-pinned): `_` produced by the space rewrite
    # is outside the strip pass's kept alphabet, so re-cleaning drops it.
    if "_" in once:
        assert clean_label(once) == once.replace("_", "")
    else:
        assert clean_label(once) == once


def _brute_components(pairs):
    """Ground truth: BFS components over the undirected edge list,
    labeled by the lexicographic minimum member."""
    adj: dict = {}
    for a, b in pairs:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    seen, out = set(), {}
    for start in adj:
        if start in seen:
            continue
        comp, stack = [], [start]
        while stack:
            x = stack.pop()
            if x in seen:
                continue
            seen.add(x)
            comp.append(x)
            stack.extend(adj[x] - seen)
        rep = min(comp)
        for x in comp:
            out[x] = rep
    return out


@given(_edges)
@settings(max_examples=200, deadline=None)
def test_union_find_matches_bfs(pairs):
    """The driver union-find, self-loops included: a pair (v, v)
    registers v as a singleton."""
    from memex_kg_spark.operators.components import _components

    assert _components(pairs) == _brute_components(pairs)


_alias_rows = st.lists(
    st.tuples(st.one_of(st.none(), st.integers(min_value=0, max_value=11)
                        .map(lambda i: f"a{i}")), _ids),
    min_size=0, max_size=40)


@given(_alias_rows)
@_SPARK_SETTINGS
def test_canonical_components_matches_oracle(spark, rows):
    """``canonical_map``'s build (one hash-to-min contraction in pyarrow,
    then union-find over the label graph) equals the pandas oracle on
    arbitrary alias dimensions: repeated rows, qids sharing several
    aliases, and null aliases, whose rows link nothing."""
    import pandas as pd
    import pyarrow as pa

    from memex_kg_spark.operators.components import canonical_components
    from memex_kg_spark.oracle import reference_impl

    aliases = [a for a, _ in rows]
    qids = [q for _, q in rows]
    got = {r["qid"]: r["canonical_id"]
           for r in canonical_components(
               pa.table({"norm_alias": pa.array(aliases, pa.string()),
                         "qid": pa.array(qids, pa.string())}),
               spark).collect()}
    want = reference_impl.connected_components(
        pd.DataFrame({"norm_alias": aliases, "qid": qids}, dtype=object))
    assert got == want


@given(_edges.map(lambda ps: [(a, b) for a, b in ps if a != b])
       .filter(lambda ps: len(ps) > 0))
@_SPARK_SETTINGS
def test_twostar_cc_matches_bfs(spark, pairs):
    """Large-star/small-star (Kiveris et al.) agrees with BFS ground
    truth on arbitrary self-loop-free graphs — same contract as the
    hash-min variant, diameter-independent round count."""
    from memex_kg_spark.operators.components import (
        connected_components_twostar)

    edges = spark.createDataFrame(pairs, ["src", "dst"])
    got = {r["id"]: r["component"]
           for r in connected_components_twostar(edges).collect()}
    assert got == _brute_components(pairs)


def test_twostar_adversarial_diameter(spark):
    """A 64-node path (diameter 63) converges within the O(log n) round
    budget where label propagation would need ~63 rounds — the
    r3-verdict adversarial-diameter case for 100x corpora with chained
    aliases. max_iter=10 >= ceil(log2(64)) + slack."""
    from memex_kg_spark.operators.components import (
        connected_components_twostar)

    n = 64
    pairs = [(f"q{i:03d}", f"q{i + 1:03d}") for i in range(n - 1)]
    edges = spark.createDataFrame(pairs, ["src", "dst"])
    got = {r["id"]: r["component"]
           for r in connected_components_twostar(edges, max_iter=10)
           .collect()}
    assert got == {f"q{i:03d}": "q000" for i in range(n)}


def test_twostar_exhaustion_keeps_one_row_per_id(spark):
    """Regression (r4 self-review): when max_iter exhausts BEFORE the
    parent-edge fixpoint, a node can still hold several parent edges;
    the final star join must not fan out into duplicate (id, component)
    rows — the one-row-per-id contract holds unconditionally (labels may
    be pre-fixpoint, exactly like an exhausted hash-min loop)."""
    from memex_kg_spark.operators.components import (
        connected_components_twostar)

    n = 40
    pairs = ([(f"q{i:03d}", f"q{i + 1:03d}") for i in range(n - 1)]
             + [(f"q{i:03d}", f"q{(i * 7) % n:03d}") for i in range(n)
                if i != (i * 7) % n])
    edges = spark.createDataFrame(pairs, ["src", "dst"])
    rows = connected_components_twostar(edges, max_iter=1).collect()
    ids = [r["id"] for r in rows]
    assert len(ids) == len(set(ids)), "duplicate ids after exhaustion"
    assert set(ids) == {f"q{i:03d}" for i in range(n)}


_kv = st.dictionaries(
    st.integers(min_value=0, max_value=9).map(lambda i: f"k{i}"),
    st.integers(min_value=0, max_value=99), min_size=0, max_size=8)


@given(_kv, _kv, _kv)
@_SPARK_SETTINGS
def test_upsert_laws(spark, base, u1, u2):
    from memex_kg_spark.operators.upsert import upsert

    def df(d):
        return spark.createDataFrame(
            [(k, v) for k, v in d.items()], "key string, val int")

    def rows(dframe):
        return {(r["key"], r["val"]) for r in dframe.collect()}

    b, once = df(base), rows(upsert(df(base), df(u1), ["key"]))
    # idempotent: same batch twice == once
    twice = rows(upsert(upsert(b, df(u1), ["key"]), df(u1), ["key"]))
    assert twice == once
    # last-writer-wins per key, new keys appended
    expect = dict(base)
    expect.update(u1)
    assert once == set(expect.items())
    # composable: (base <- u1) <- u2 == base <- (u1 overridden by u2)
    seq = rows(upsert(upsert(b, df(u1), ["key"]), df(u2), ["key"]))
    merged = dict(u1)
    merged.update(u2)
    assert seq == rows(upsert(b, df(merged), ["key"]))


@given(_edges, st.lists(_ids, max_size=6))
@_SPARK_SETTINGS
def test_detach_delete_laws(spark, pairs, victim_ids):
    """DETACH DELETE (reference delete_story, db/db_connection.py:
    348-361): victims vanish from the node set and from BOTH edge
    endpoints; edges not touching a victim are untouched; deleting an
    empty set is the identity; deleting twice equals once."""
    from memex_kg_spark.operators.upsert import detach_delete

    ids = sorted({a for a, b in pairs} | {b for _, b in pairs} | {"Q0"})
    nodes = spark.createDataFrame([(i,) for i in ids], ["qid"])
    edges = (spark.createDataFrame(pairs + [("Q0", "Q0")], ["src", "dst"])
             if pairs else spark.createDataFrame([("Q0", "Q0")],
                                                 ["src", "dst"]))
    victims = (spark.createDataFrame([(v,) for v in set(victim_ids)],
                                     ["qid"])
               if victim_ids else
               spark.createDataFrame([], "qid string"))
    n2, e2 = detach_delete(nodes, edges, victims)
    vset = set(victim_ids)
    got_nodes = {r["qid"] for r in n2.collect()}
    got_edges = {(r["src"], r["dst"]) for r in e2.collect()}
    assert got_nodes == {i for i in ids if i not in vset}
    all_edges = {(r["src"], r["dst"]) for r in edges.collect()}
    assert got_edges == {(s, d) for s, d in all_edges
                         if s not in vset and d not in vset}
    # idempotent
    n3, e3 = detach_delete(n2, e2, victims)
    assert {r["qid"] for r in n3.collect()} == got_nodes
    assert {(r["src"], r["dst"]) for r in e3.collect()} == got_edges
