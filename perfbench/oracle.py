"""DuckDB oracle for the benchmark's inputs.

The reference semantics are the package's own oracle CTE
(``queries.kg._wrap`` over ``_cte``), evaluated by DuckDB over the same
parquet files the engine reads. Row counts are cached next to the inputs;
the full triple set is written once as ``oracle_triples.parquet``.
"""

from __future__ import annotations

import json
import os

import duckdb

from memex_kg_spark.queries.kg import _wrap

TRIPLE_COLS = "conv_id, CAST(turn_idx AS INTEGER) AS turn_idx, subj, pred, " \
              "obj, obj_type"


def _connect(work: str):
    con = duckdb.connect()
    tmp = os.path.join(work, "duckdb-tmp")
    os.makedirs(tmp, exist_ok=True)
    con.execute("SET threads = 2")
    con.execute("SET memory_limit = '2GB'")
    con.execute(f"SET temp_directory = '{tmp}'")
    return con


def counts(input_dir: str, work: str) -> dict:
    """Oracle row counts of statements, mentions, triples, nodes, edges."""
    path = os.path.join(input_dir, "oracle.json")
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f)
    con = _connect(work)
    try:
        triples = os.path.join(input_dir, "oracle_triples.parquet")
        con.execute(f"COPY ({_wrap(input_dir, 'SELECT * FROM triples')}) "
                    f"TO '{triples}' (FORMAT parquet)")
        row = con.execute(_wrap(input_dir, """SELECT
            (SELECT count(*) FROM stmt), (SELECT count(*) FROM mentions),
            (SELECT count(*) FROM triples), (SELECT count(*) FROM nodes),
            (SELECT count(*) FROM edges)""")).fetchone()
    finally:
        con.close()
    out = dict(zip(["statements", "mentions", "triples", "nodes", "edges"],
                   map(int, row)))
    with open(path + ".tmp", "w") as f:
        json.dump(out, f)
    os.replace(path + ".tmp", path)
    return out


def precision_recall(input_dir: str, engine_glob: str,
                     work: str) -> tuple[float, float]:
    """The engine's triple rows against the oracle's triple set, both
    ways. Duplicate engine rows count against precision."""
    oracle = os.path.join(input_dir, "oracle_triples.parquet")
    con = _connect(work)
    try:
        n_eng, n_ora, n_both = con.execute(f"""
            WITH eng AS (SELECT {TRIPLE_COLS}
                         FROM read_parquet('{engine_glob}')),
                 ora AS (SELECT {TRIPLE_COLS} FROM read_parquet('{oracle}'))
            SELECT (SELECT count(*) FROM eng), (SELECT count(*) FROM ora),
                   (SELECT count(*) FROM (SELECT * FROM eng
                                          INTERSECT SELECT * FROM ora))
            """).fetchone()
    finally:
        con.close()
    return (n_both / n_eng if n_eng else 0.0,
            n_both / n_ora if n_ora else 0.0)
