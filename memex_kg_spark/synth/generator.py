"""Deterministic synthetic-corpus generator (transcripts + dimensions).

BASELINE.json mandates the input shape: an Iceberg/parquet table of
multi-turn transcripts ``(conv_id:string, turn_idx:int32, role:string,
text:string, tool:string, ts:timestamp)``, ``ts`` zone-less (Spark's
``timestamp_ntz``). No such table ships with the sandbox testdata, so
this module synthesises one deterministically
(seed=42, pure function of the conversation index) at any scale:

- ``gen_conv_batch(conv_indices)`` — pandas DataFrame for a batch of
  conversations; the SAME function backs the single-process path (pytest /
  DuckDB-oracle fixtures) and the distributed path (``mapInPandas`` over
  ``spark.range(n_convs)``), so both produce the identical logical table
  at any parallelism level.
- ``build_alias_dim()`` / ``build_pred_dim()`` — the entity-linking
  candidate dimension (reference analogue: the lowercase label lookup of
  db/db_connection.py:205-219 + the WPI property-label cache of
  ingestion/recursive_hops_ingestion.py:216-223).
- ``ensure_synth(sf, base_dir)`` — idempotent parquet materialization
  under ``.synth/sf{sf}/`` for tests, oracles and benchmarks.

Edge cases baked in (FIXTURES.md): empty / punctuation-only turns,
mentions at string start+end, quotes/backslashes/unicode in noise,
ambiguous aliases (2-3 qids), Zipf-hot entities (~100x median), and
row order shuffled within each conversation (the pipeline must restore
order via the (conv_id, turn_idx) window sort, never assume file order).
"""

from __future__ import annotations

import bisect
import os
import random
from datetime import datetime, timedelta

import numpy as np
import pandas as pd

from .vocab import (
    CLAIM_PROPS,
    N_ENTITIES,
    PREDICATES,
    SEED,
    TOOLS,
    ZIPF_S,
    NOISE_WORDS,
    ROLES,
    clean_label,
    entity_name,
    entity_qid,
)

EPOCH = datetime(2026, 1, 1, 0, 0, 0)

# ---------------------------------------------------------------------------
# dimensions (pure functions of the vocab constants)
# ---------------------------------------------------------------------------


def _entity_props(i: int) -> list[tuple[str, str]]:
    """Sparse claim properties for entity i; keys are P7-cleaned labels."""
    n = i % 4
    out: list[tuple[str, str]] = []
    if n >= 1:
        out.append((clean_label(CLAIM_PROPS[0][1]),
                    entity_qid((i * 7 + 13) % N_ENTITIES)))
    if n >= 2:
        out.append((clean_label(CLAIM_PROPS[1][1]),
                    ["listed", "vernacular", "protected"][i % 3]))
    if n >= 3:
        out.append((clean_label(CLAIM_PROPS[2][1]),
                    entity_name((i * 11 + 5) % N_ENTITIES)))
    return out


def _is_place(i: int) -> bool:
    return i % 10 < 3


def _prior(i: int) -> float:
    return round(1.0 / (1.0 + i) ** 0.8, 6)


def _extra_aliases(i: int) -> list[str]:
    """Secondary aliases: the bare noun for some entities, an 'old <name>'
    variant for others (deterministic)."""
    name = entity_name(i)
    out = []
    if i % 5 == 0:
        out.append(name.split(" ")[-1])  # bare noun — shared across entities
    if i % 7 == 0:
        out.append("old " + name)
    return out


def shared_aliases() -> list[tuple[str, int]]:
    """Deliberately ambiguous aliases: 'site {k}' maps to 2-3 entities."""
    pairs: list[tuple[str, int]] = []
    for k in range(20):
        members = [3 * k, 3 * k + 1] + ([3 * k + 2] if k % 2 else [])
        for m in members:
            if m < N_ENTITIES:
                pairs.append((f"site {k}", m))
    return pairs


def entity_alias_list(i: int) -> list[str]:
    """All surface forms under which entity i may appear in text."""
    out = [entity_name(i)] + _extra_aliases(i)
    for alias, m in shared_aliases():
        if m == i:
            out.append(alias)
    return out


def build_alias_dim() -> pd.DataFrame:
    """Entity-linking dimension: one row per (norm_alias, qid).

    Broadcast side of the linking join (reference db/db_connection.py:205-219
    did this one bolt round-trip per mention; here it is one broadcast hash
    join for the whole corpus).
    """
    rows = []
    for i in range(N_ENTITIES):
        props = _entity_props(i)
        base = {
            "qid": entity_qid(i),
            "label": entity_name(i),
            "prior": _prior(i),
            "node_type": "Place" if _is_place(i) else "Knowledge",
            "lat": (-90.0 + ((i * 711) % 18000) / 100.0) if _is_place(i) else None,
            "lon": (-180.0 + ((i * 937) % 36000) / 100.0) if _is_place(i) else None,
            "prop_keys": [k for k, _ in props],
            "prop_vals": [v for _, v in props],
        }
        for alias in entity_alias_list(i):
            rows.append({"norm_alias": alias.lower(), **base})
    df = pd.DataFrame(rows).drop_duplicates(subset=["norm_alias", "qid"])
    return df.sort_values(["norm_alias", "qid"]).reset_index(drop=True)


def build_pred_dim() -> pd.DataFrame:
    """Predicate dimension: phrase-in-text -> cleaned predicate label.

    Analogue of the reference WPI cache (pid -> cleaned en label + locale
    fallbacks, ingestion/recursive_hops_ingestion.py:35-60): predicates
    with a harvested locale label carry it (P7-cleaned like the en
    label); the rest fall back to English, per reference :50-51."""
    from .vocab import PRED_LOCALES
    rows = []
    for pid, phrase, raw in PREDICATES:
        pred = clean_label(raw)
        loc = PRED_LOCALES.get(pid, {})
        rows.append({
            "pid": pid,
            "phrase": phrase,
            "raw_label": raw,
            "pred": pred,
            "pred_fr": clean_label(loc["fr"]) if "fr" in loc else pred,
            "pred_pt": clean_label(loc["pt"]) if "pt" in loc else pred,
            "pred_es": clean_label(loc["es"]) if "es" in loc else pred,
        })
    return pd.DataFrame(rows)


# ---------------------------------------------------------------------------
# Zipf mention sampling
# ---------------------------------------------------------------------------

_zw = 1.0 / np.arange(1, N_ENTITIES + 1, dtype=np.float64) ** ZIPF_S
_ZIPF_CDF = np.cumsum(_zw / _zw.sum()).tolist()


def _sample_entity(rng: random.Random) -> int:
    return bisect.bisect_left(_ZIPF_CDF, rng.random())


# ---------------------------------------------------------------------------
# per-conversation transcript generation (the pure function of conv_idx)
# ---------------------------------------------------------------------------

_ALIAS_CACHE: list[list[str]] | None = None


def _alias_cache() -> list[list[str]]:
    global _ALIAS_CACHE
    if _ALIAS_CACHE is None:
        _ALIAS_CACHE = [entity_alias_list(i) for i in range(N_ENTITIES)]
    return _ALIAS_CACHE


def _cased(surface: str, variant: int) -> str:
    if variant == 0:
        return surface
    if variant == 1:
        return surface.title()
    if variant == 2:
        return surface.upper()
    return surface[:1].upper() + surface[1:]


def _surface_for(rng: random.Random, ent: int) -> str:
    aliases = _alias_cache()[ent]
    s = aliases[0] if (rng.random() < 0.7 or len(aliases) == 1) \
        else aliases[1 + rng.randrange(len(aliases) - 1)]
    return _cased(s, rng.randrange(4))


def _statement(rng: random.Random) -> str:
    subj = _sample_entity(rng)
    obj = _sample_entity(rng)
    _, phrase, _ = PREDICATES[rng.randrange(len(PREDICATES))]
    subj_s = (f"unknown ruin {rng.randrange(50)}" if rng.random() < 0.05
              else _surface_for(rng, subj))
    obj_s = (f"unknown ruin {rng.randrange(50)}" if rng.random() < 0.05
             else _surface_for(rng, obj))
    return f"{subj_s} {phrase} {obj_s}."


def _noise(rng: random.Random) -> str:
    n = 2 + rng.randrange(5)
    return " ".join(NOISE_WORDS[rng.randrange(len(NOISE_WORDS))]
                    for _ in range(n)) + "."


def gen_conv_rows(conv_idx: int) -> list[dict]:
    """All turn rows for one conversation — a pure function of conv_idx.

    Returned in deterministically SHUFFLED order (file order must not be
    relied on; the pipeline's window sort restores (conv_id, turn_idx))."""
    rng = random.Random(f"{SEED}:{conv_idx}")
    n_turns = rng.randint(2, 40)
    conv_id = f"conv-{conv_idx:08d}"
    rows = []
    for t in range(n_turns):
        r = rng.random()
        if r < 0.02:
            text = ""
        elif r < 0.04:
            text = "..."
        else:
            n_sent = 1 + rng.randrange(4)
            sents = [
                _statement(rng) if rng.random() < 0.65 else _noise(rng)
                for _ in range(n_sent)
            ]
            text = " ".join(sents)
        rows.append({
            "conv_id": conv_id,
            "turn_idx": t,
            "role": ROLES[t % len(ROLES)],
            "text": text,
            "tool": TOOLS[rng.randrange(len(TOOLS))],
            "ts": EPOCH + timedelta(seconds=conv_idx * 60 + t),
        })
    rng.shuffle(rows)
    return rows


def gen_conv_batch(conv_indices) -> pd.DataFrame:
    rows: list[dict] = []
    for c in conv_indices:
        rows.extend(gen_conv_rows(int(c)))
    df = pd.DataFrame(
        rows, columns=["conv_id", "turn_idx", "role", "text", "tool", "ts"])
    df["turn_idx"] = df["turn_idx"].astype("int32")
    df["ts"] = pd.to_datetime(df["ts"]).astype("datetime64[us]")
    return df


def n_convs_for_sf(sf: float) -> int:
    """~30k conversations (~630k turns) at sf=1.0, linear in sf."""
    return max(4, int(round(sf * 30000)))


# ---------------------------------------------------------------------------
# materialization
# ---------------------------------------------------------------------------

SYNTH_ROOT = os.path.join(os.path.dirname(os.path.dirname(
    os.path.dirname(os.path.abspath(__file__)))), ".synth")

DIM_VERSION = 2  # bump when alias_dim/pred_dim/manual-CSV CONTENT changes;
# ensure_dims refreshes the (tiny) dimension files of an existing synth
# dir in place — transcripts are version-independent and never touched.


def synth_dir(sf: float, base_dir: str | None = None) -> str:
    return os.path.join(base_dir or SYNTH_ROOT, f"sf{sf:g}")


def ensure_dims(d: str) -> None:
    """Refresh dimension parquet + manual CSVs inside an existing synth
    dir when they predate DIM_VERSION (idempotent, atomic per file)."""
    vpath = os.path.join(d, "_DIM_VERSION")
    try:
        with open(vpath) as f:
            if int(f.read().strip()) >= DIM_VERSION:
                return
    except (OSError, ValueError):
        pass
    for name, builder in (("alias_dim", build_alias_dim),
                          ("pred_dim", build_pred_dim)):
        tmp = os.path.join(d, f"{name}.parquet.tmp")
        builder().to_parquet(tmp, index=False)
        os.replace(tmp, os.path.join(d, f"{name}.parquet"))
    ensure_manual_csv(d, force=True)  # DIM_VERSION covers CSV content too
    tmp = vpath + ".tmp"
    with open(tmp, "w") as f:
        f.write(str(DIM_VERSION))
    os.replace(tmp, vpath)


def ensure_synth(sf: float, base_dir: str | None = None) -> str:
    """Idempotently materialize transcripts/alias_dim/pred_dim parquet for
    scale factor ``sf``. Single-process path — used for test/oracle scales
    (sf<=0.1, <=70k turns); the bench generates larger scales through Spark
    (see bench.py) with the identical per-conversation function."""
    d = synth_dir(sf, base_dir)
    marker = os.path.join(d, "_SUCCESS")
    if os.path.exists(marker):
        ensure_dims(d)
        return d
    tmp = d + ".tmp"
    os.makedirs(tmp, exist_ok=True)
    gen_conv_batch(range(n_convs_for_sf(sf))).to_parquet(
        os.path.join(tmp, "transcripts.parquet"), index=False)
    build_alias_dim().to_parquet(
        os.path.join(tmp, "alias_dim.parquet"), index=False)
    build_pred_dim().to_parquet(
        os.path.join(tmp, "pred_dim.parquet"), index=False)
    ensure_manual_csv(tmp)  # CSVs up-front: oracle SQL is self-contained
    with open(os.path.join(tmp, "_DIM_VERSION"), "w") as f:
        f.write(str(DIM_VERSION))
    with open(os.path.join(tmp, "_SUCCESS"), "w") as f:
        f.write(f"seed={SEED} sf={sf} n_convs={n_convs_for_sf(sf)}\n")
    if os.path.exists(d):  # lost a race with a parallel generator — fine
        import shutil
        shutil.rmtree(tmp)
    else:
        os.rename(tmp, d)
    ensure_manual_csv(d)  # pre-existing dirs from older generator versions
    ensure_dims(d)
    return d


def ensure_manual_csv(synth_path: str, force: bool = False) -> str:
    """Deterministic Google-Form-style manual CSV (reference S7,
    ingestion/csv_reader.py:29-38): title,description,author,category
    rows whose categories are entity labels, so the J8 label equi-join
    (ingestion/csv_reader.py:89-96) hits real KG nodes. Idempotent;
    written next to the synth parquet so DuckDB oracles can read the
    identical bytes by absolute path. ``force`` rewrites existing files
    (ensure_dims passes it so a DIM_VERSION bump refreshes CSV content
    in pre-existing synth dirs, not just the dimension parquet)."""
    import csv

    path = os.path.join(synth_path, "manual.csv")
    prev = os.path.join(synth_path, "manual_prev.csv")
    if not force and os.path.exists(path) and os.path.exists(prev):
        return path
    from .vocab import entity_name

    tmp = path + ".tmp"
    with open(tmp, "w", newline="") as f:
        w = csv.writer(f)
        w.writerow(["title", "description", "author", "category"])
        for i in range(40):
            w.writerow([
                f"story {i:03d}",
                f"a tale about {entity_name((i * 5 + 2) % N_ENTITIES)}, "
                f"vol {i}",
                f"author_{i % 7}",
                entity_name((i * 3) % N_ENTITIES),
            ])
    os.replace(tmp, path)
    # the pre-existing Manual set: the A2 rule continues ids from
    # MAX(mid) of rows already in the store (csv_reader.py:41-47) —
    # deterministic sparse mids so MAX is a real computation, not a guess
    tmp = prev + ".tmp"
    with open(tmp, "w", newline="") as f:
        w = csv.writer(f)
        w.writerow(["mid", "title"])
        for i in range(25):
            w.writerow([37 + i * 40 + (i * i) % 7, f"legacy item {i:02d}"])
    os.replace(tmp, prev)
    return path
