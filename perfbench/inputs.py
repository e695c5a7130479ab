"""Seeded input generators for the benchmark workloads.

Each workload's inputs are a pure function of (workload, seed, size) and
are written once under ``<cache>/inputs/<workload>-s<seed>-n<size>/`` as
the three parquet files ``pipeline.load_synth`` reads. The transcript table
is ONE file because the DuckDB oracle (``queries.kg._cte``) reads it with
``read_parquet``; it is written in small row groups so Spark can still
split the scan across its cores.

A build's wall barely depends on its input size at these sizes, so a
throughput varies with the triple count of the input. ``flagship``
therefore sizes its window by triples, not conversations: triples are
deduplicated per turn, so the oracle's per-conversation counts add up,
and the window ends at the first conversation that reaches the target.
"""

from __future__ import annotations

import math
import os
import random
import shutil

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from memex_kg_spark.operators.components import DRIVER_CC_THRESHOLD
from memex_kg_spark.synth.generator import (
    EPOCH,
    build_alias_dim,
    build_pred_dim,
    gen_conv_rows,
)
from memex_kg_spark.synth.vocab import (
    PRED_PHRASES,
    PREDICATES,
    ROLES,
    TOOLS,
    clean_label,
)

ROW_GROUP_ROWS = 4096

# hot_claims dimension shape. Entities come in blocks of BLOCK; inside a
# block, alias "hub <b> <j>" is shared by members j..BLOCK-1, so the
# shares-an-alias graph has BLOCK*(BLOCK-1)/2 distinct edges per block
# while every component stays one block (the oracle's recursive CTE is
# then a few hundred rows per component).
BLOCK = 64
EDGES_PER_BLOCK = BLOCK * (BLOCK - 1) // 2
N_BLOCKS = DRIVER_CC_THRESHOLD // EDGES_PER_BLOCK + 2  # crosses the cap
N_CLAIMS = 16
# the first entity-valued claims use predicate-dimension labels, so a
# statement can restate a claim and the per-turn dedup has work to do
N_ENTITY_CLAIMS = 6
CLAIM_PREDS = [(phrase, clean_label(raw))
               for _, phrase, raw in PREDICATES[:N_ENTITY_CLAIMS]]


def _write_transcripts(df: pd.DataFrame, path: str) -> None:
    table = pa.Table.from_pandas(df, preserve_index=False)
    pq.write_table(table, path, row_group_size=ROW_GROUP_ROWS)


def _frame(rows: list[dict]) -> pd.DataFrame:
    df = pd.DataFrame(
        rows, columns=["conv_id", "turn_idx", "role", "text", "tool", "ts"])
    df["turn_idx"] = df["turn_idx"].astype("int32")
    df["ts"] = pd.to_datetime(df["ts"]).astype("datetime64[us]")
    return df


# -- flagship: the package's own corpus shape ---------------------------------


# conversations between two seeds' windows; seeds wrap so that every
# window's timestamps stay within a few centuries of the epoch
WINDOW_STRIDE = 10_000
N_WINDOWS = 10_000


def _triples_per_conv(input_dir: str) -> dict[str, int]:
    import duckdb

    from memex_kg_spark.queries.kg import _wrap
    con = duckdb.connect()
    try:
        con.execute("SET threads = 2")
        return dict(con.execute(_wrap(
            input_dir, "SELECT conv_id, count(*) FROM triples "
                       "GROUP BY conv_id")).fetchall())
    finally:
        con.close()


def flagship(seed: int, n_triples: int, out: str) -> None:
    """``gen_conv_rows`` over the conversation-index window the seed picks,
    with the package's 400-entity alias and predicate dimensions. The
    window starts at ``(seed mod N_WINDOWS) * WINDOW_STRIDE`` and is as
    long as it takes for the oracle's triple count to reach
    ``n_triples``."""
    build_alias_dim().to_parquet(
        os.path.join(out, "alias_dim.parquet"), index=False)
    build_pred_dim().to_parquet(
        os.path.join(out, "pred_dim.parquet"), index=False)
    path = os.path.join(out, "transcripts.parquet")
    start = seed % N_WINDOWS * WINDOW_STRIDE
    n_convs = math.ceil(n_triples / 50)  # about 100 triples a conversation
    while True:
        convs = [gen_conv_rows(c) for c in range(start, start + n_convs)]
        _write_transcripts(_frame([r for rows in convs for r in rows]), path)
        per_conv = _triples_per_conv(out)
        total = 0
        for i, rows in enumerate(convs):
            total += per_conv.get(rows[0]["conv_id"], 0)
            if total >= n_triples:
                keep = convs[:i + 1]
                _write_transcripts(
                    _frame([r for rows in keep for r in rows]), path)
                return
        n_convs *= 2


# -- hot_claims: statement-only turns, one hot surface, wide dimension ------


def _qid(i: int) -> str:
    # fixed width, so string order (the CC root rule) equals index order
    return f"Q{1_000_000 + i}"


def _name(i: int) -> str:
    return f"ent {i}"


def _claim_target(i: int, k: int) -> int:
    return (i * 31 + k * 977 + 1) % (N_BLOCKS * BLOCK)


def hot_alias_dim(rng: random.Random) -> pd.DataFrame:
    """One row per (norm_alias, qid); every row of a qid carries the same
    attributes and the same N_CLAIMS claims (``build_alias_dim``'s per-qid
    invariants). Entity-valued claims point inside the dimension: the
    engine gates edges on built nodes while the oracle gates them on
    triple endpoints, and the two differ for a dangling Q-id."""
    n = N_BLOCKS * BLOCK
    rows = []
    for i in range(n):
        keys = [p for _, p in CLAIM_PREDS] + [
            f"claim_{k:02d}" for k in range(N_ENTITY_CLAIMS, N_CLAIMS)]
        vals = [_qid(_claim_target(i, k)) for k in range(N_ENTITY_CLAIMS)]
        vals += [f"value {k} {i % (k + 3)}"
                 for k in range(N_ENTITY_CLAIMS, N_CLAIMS)]
        place = i % 10 < 3
        base = {
            "qid": _qid(i),
            "label": _name(i),
            "prior": round(rng.random(), 6),
            "node_type": "Place" if place else "Knowledge",
            "lat": (i % 180) - 89.5 if place else None,
            "lon": (i % 360) - 179.5 if place else None,
            "prop_keys": keys,
            "prop_vals": vals,
        }
        b, j = divmod(i, BLOCK)
        aliases = [_name(i)] + [f"hub {b} {r}" for r in range(j + 1)
                                if r < BLOCK - 1]
        for a in aliases:
            rows.append({"norm_alias": a, **base})
    df = pd.DataFrame(rows)
    return df.sort_values(["norm_alias", "qid"]).reset_index(drop=True)


def hot_claims(seed: int, n_turns: int, out: str) -> None:
    """Short turns of two statements each. The hot entity's name fills
    about 35% of mention slots; the rest are other entity names, shared
    hub aliases and a few surfaces the alias gate rejects. Half the
    statements about a named entity restate one of its claims, and some
    turns repeat their first statement, so the per-turn dedup removes
    rows."""
    rng = random.Random(f"hot_claims:{seed}")
    dim = hot_alias_dim(rng)
    n = N_BLOCKS * BLOCK
    hot = rng.randrange(n)

    def surface() -> tuple[str, int | None]:
        r = rng.random()
        if r < 0.03:
            return f"nobody {rng.randrange(100)}", None
        if r < 0.25:
            b = rng.randrange(N_BLOCKS)
            return f"hub {b} {rng.randrange(BLOCK - 1)}", None
        i = rng.randrange(n)
        return _name(i), i

    def statement() -> str:
        subj, i = (_name(hot), hot) if rng.random() < 0.7 else surface()
        if i is not None and rng.random() < 0.5:
            k = rng.randrange(N_ENTITY_CLAIMS)
            return f"{subj} {CLAIM_PREDS[k][0]} {_name(_claim_target(i, k))}."
        phrase = PRED_PHRASES[rng.randrange(len(PRED_PHRASES))]
        return f"{subj} {phrase} {surface()[0]}."

    rows = []
    turns_per_conv = 8
    for t in range(n_turns):
        c, ti = divmod(t, turns_per_conv)
        first = statement()
        second = first if rng.random() < 0.3 else statement()
        rows.append({
            "conv_id": f"hot-{seed}-{c:07d}",
            "turn_idx": ti,
            "role": ROLES[ti % len(ROLES)],
            "text": f"{first} {second}",
            "tool": TOOLS[ti % len(TOOLS)],
            "ts": EPOCH + pd.Timedelta(seconds=t),
        })
    _write_transcripts(_frame(rows), os.path.join(out, "transcripts.parquet"))
    dim.to_parquet(os.path.join(out, "alias_dim.parquet"), index=False)
    build_pred_dim().to_parquet(
        os.path.join(out, "pred_dim.parquet"), index=False)


GENERATORS = {"flagship": flagship, "hot_claims": hot_claims,
              "resume_append": flagship}


def ensure(cache: str, workload: str, seed: int, size: int) -> str:
    """Generate the inputs once per (workload, seed, size); return the dir."""
    d = os.path.join(cache, "inputs", f"{workload}-s{seed}-n{size}")
    if os.path.exists(os.path.join(d, "_SUCCESS")):
        return d
    tmp = d + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    GENERATORS[workload](seed, size, tmp)
    open(os.path.join(tmp, "_SUCCESS"), "w").close()
    shutil.rmtree(d, ignore_errors=True)
    os.rename(tmp, d)
    return d
