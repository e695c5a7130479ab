"""Single-process pure-Python oracle for the KG-construction semantics.

This is the executable specification the Spark pipeline must match at
P/R >= 0.95 (target 1.0 — both implement the same deterministic rules).
It re-expresses the *reference semantics* of MEMEXProject/MEMEX-KG over
transcript input:

- dictionary-gated mention detection (reference: TagMe annotate + lowercase
  label lookup, ingestion/europeana_ingestion_places.py:140-152,
  db/db_connection.py:205-219) -> whole-slot alias match on statement
  pattern ``<surface> <pred-phrase> <surface>.``;
- claim -> triple emission with entity/literal typing via the Q-id predicate
  ``^Q[0-9]+$`` (reference ingestion/recursive_hops_ingestion.py:187,192);
- P7 label cleaning (reference :53-55) via vocab.clean_label;
- first-wins canonicalization made deterministic: winner = max(prior),
  tie-break min(qid) (reference relied on Neo4j unique-wid MERGE arrival
  order, db/db_connection.py:51-56,143-146 — arrival order is not stable
  under parallel execution, so both oracle and pipeline use this rule);
- edge endpoint-existence gating + (src,pred,dst) dedup (reference
  db/db_connection.py:150-203);
- canonical_id via connected components over the shares-an-alias graph
  (union-find here; in the engine a pyarrow contraction plus driver
  union-find for ``canonical_id``, and the large-star/small-star Spark
  loop for ``canonical_id_twostar``).

Everything is plain pandas/re — no Spark import — so pytest and the DuckDB
harness can run it standalone.
"""

from __future__ import annotations

import re
from collections import defaultdict

import pandas as pd

from ..synth.vocab import STATEMENT_PATTERN

_STMT_RE = re.compile(STATEMENT_PATTERN)
_QID_RE = re.compile(r"^Q[0-9]+$")


def split_sentences(text: str) -> list[tuple[int, str]]:
    """Split on '. ' keeping char offsets; strip one trailing '.'."""
    out = []
    off = 0
    for piece in text.split(". "):
        s = piece[:-1] if piece.endswith(".") else piece
        out.append((off, s))
        off += len(piece) + 2
    return out


def extract_mentions(transcripts: pd.DataFrame,
                     alias_set: set[str]) -> pd.DataFrame:
    """Mentions per turn, stable-ordered by (conv_id, turn_idx, start)."""
    rows = []
    t = transcripts.sort_values(["conv_id", "turn_idx"])
    for conv_id, turn_idx, text in zip(t["conv_id"], t["turn_idx"], t["text"]):
        if not text:
            continue
        found = []
        for sent_off, sent in split_sentences(text):
            m = _STMT_RE.match(sent)
            if not m:
                continue
            subj, phrase, obj = m.group(1), m.group(2), m.group(3)
            s_start = sent_off
            o_start = sent_off + len(subj) + 1 + len(phrase) + 1
            for surface, start in ((subj, s_start), (obj, o_start)):
                norm = surface.lower()
                if norm in alias_set:
                    found.append((start, surface, norm))
        for mid, (start, surface, norm) in enumerate(sorted(found)):
            rows.append({
                "conv_id": conv_id, "turn_idx": int(turn_idx),
                "mention_id": mid, "surface": surface, "norm_surface": norm,
                "start": start, "end": start + len(surface),
            })
    return pd.DataFrame(rows, columns=[
        "conv_id", "turn_idx", "mention_id", "surface", "norm_surface",
        "start", "end"])


def winner_map(alias_dim: pd.DataFrame) -> dict[str, str]:
    """norm_alias -> winning qid: max prior, tie-break min qid."""
    best: dict[str, tuple[float, str]] = {}
    for norm, qid, prior in zip(alias_dim["norm_alias"], alias_dim["qid"],
                                alias_dim["prior"]):
        cur = best.get(norm)
        cand = (-float(prior), qid)
        if cur is None or cand < cur:
            best[norm] = cand
    return {k: v[1] for k, v in best.items()}


def extract_triples(transcripts: pd.DataFrame, alias_dim: pd.DataFrame,
                    pred_dim: pd.DataFrame) -> pd.DataFrame:
    """Statement triples + claim-expansion triples, deduped per turn."""
    winners = winner_map(alias_dim)
    phrase2pred = dict(zip(pred_dim["phrase"], pred_dim["pred"]))
    props: dict[str, list[tuple[str, str]]] = defaultdict(list)
    seen_prop = set()
    for qid, keys, vals in zip(alias_dim["qid"], alias_dim["prop_keys"],
                               alias_dim["prop_vals"]):
        if qid not in seen_prop:
            seen_prop.add(qid)
            props[qid] = list(zip(list(keys), list(vals)))

    rows = []
    t = transcripts.sort_values(["conv_id", "turn_idx"])
    for conv_id, turn_idx, text in zip(t["conv_id"], t["turn_idx"], t["text"]):
        if not text:
            continue
        turn_triples = set()
        linked_qids = set()
        for _, sent in split_sentences(text):
            m = _STMT_RE.match(sent)
            if not m:
                continue
            s_qid = winners.get(m.group(1).lower())
            o_qid = winners.get(m.group(3).lower())
            if s_qid:
                linked_qids.add(s_qid)
            if o_qid:
                linked_qids.add(o_qid)
            if s_qid and o_qid:
                turn_triples.add(
                    (s_qid, phrase2pred[m.group(2)], o_qid, "entity"))
        for qid in sorted(linked_qids):
            for k, v in props.get(qid, []):
                obj_type = "entity" if _QID_RE.match(v) else "literal"
                turn_triples.add((qid, k, v, obj_type))
        for subj, pred, obj, obj_type in sorted(turn_triples):
            rows.append({"conv_id": conv_id, "turn_idx": int(turn_idx),
                         "subj": subj, "pred": pred, "obj": obj,
                         "obj_type": obj_type})
    return pd.DataFrame(rows, columns=[
        "conv_id", "turn_idx", "subj", "pred", "obj", "obj_type"])


def connected_components(alias_dim: pd.DataFrame) -> dict[str, str]:
    """qid -> canonical_id = min qid of its shares-an-alias component."""
    parent: dict[str, str] = {}

    def find(x: str) -> str:
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a: str, b: str) -> None:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    for _, grp in alias_dim.groupby("norm_alias")["qid"]:
        qids = sorted(grp)
        for other in qids[1:]:
            union(qids[0], other)
    # canonical = min qid in component
    comp_min: dict[str, str] = {}
    for qid in alias_dim["qid"].unique():
        r = find(qid)
        comp_min[r] = min(comp_min.get(r, qid), qid)
    return {qid: comp_min[find(qid)] for qid in alias_dim["qid"].unique()}


def build_nodes_edges(triples: pd.DataFrame, alias_dim: pd.DataFrame
                      ) -> tuple[pd.DataFrame, pd.DataFrame]:
    ent = alias_dim.drop_duplicates("qid")[
        ["qid", "label", "node_type", "lat", "lon"]]
    canon = connected_components(alias_dim)
    node_qids = set(triples["subj"]) | set(
        triples.loc[triples["obj_type"] == "entity", "obj"])
    nodes = ent[ent["qid"].isin(node_qids)].copy()
    nodes["canonical_id"] = nodes["qid"].map(canon)
    nodes = nodes.sort_values("qid").reset_index(drop=True)

    e = triples[triples["obj_type"] == "entity"]
    known = set(nodes["qid"])
    e = e[e["subj"].isin(known) & e["obj"].isin(known)]
    edges = (e[["subj", "pred", "obj"]]
             .rename(columns={"subj": "src", "obj": "dst"})
             .drop_duplicates()
             .sort_values(["src", "pred", "dst"]).reset_index(drop=True))
    return nodes, edges


def run_all(transcripts: pd.DataFrame, alias_dim: pd.DataFrame,
            pred_dim: pd.DataFrame) -> dict[str, pd.DataFrame]:
    alias_set = set(alias_dim["norm_alias"])
    mentions = extract_mentions(transcripts, alias_set)
    triples = extract_triples(transcripts, alias_dim, pred_dim)
    nodes, edges = build_nodes_edges(triples, alias_dim)
    return {"mentions": mentions, "triples": triples,
            "nodes": nodes, "edges": edges}
