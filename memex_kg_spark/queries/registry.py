"""Central query registry: every operator exposed to the driver.

Keys with an oracle_sql twin get the full row-count + schema + value-hash
check against DuckDB at sf0.01; keys without one (iterative / genuinely
non-SQL ops) get the weaker rows-only check.
"""

from __future__ import annotations

from .extra import extra_oracle_sql, extra_queries
from .graphq import graph_oracle_sql, graph_queries
from .kg import kg_oracle_sql, kg_queries
from .relational import relational_oracle_sql, relational_queries
from .service import service_oracle_sql, service_queries
from .textq import text_oracle_sql, text_queries
from .vector import vector_oracle_sql, vector_queries

DRIVER_ROW_BUDGET = 50  # the driver records at most this many
# CORRECTNESS rows per round; every registered key must fit.


def all_queries() -> dict:
    out: dict = {}
    for part in (kg_queries, relational_queries, vector_queries,
                 text_queries, graph_queries, extra_queries,
                 service_queries):
        out.update(part())
    # The driver records AT MOST `DRIVER_ROW_BUDGET` CORRECTNESS rows per
    # round (r01/r02 both truncated at exactly 50). r2 overflowed to 63
    # keys and lost 13 rows; r3 consolidated related operators into
    # tagged multi-part rows so EVERY registered key gets a driver row
    # (budget guard pinned in test_entry_contract). Keep the rows-only
    # keys early so a future budget cut can't silently drop them.
    front = [k for k in ("dominant_set_clusters", "multimodal_features")
             if k in out]
    keys = [k for k in out if k not in front]
    for i, k in enumerate(front):
        keys.insert(min(9 + i, len(keys)), k)
    if len(keys) > DRIVER_ROW_BUDGET:  # not assert: must survive -O
        raise ValueError(
            f"registry has {len(keys)} keys > driver budget "
            f"{DRIVER_ROW_BUDGET}; consolidate before registering more")
    return {k: out[k] for k in keys}


def all_oracle_sql() -> dict:
    # oracle SQL reads the synthetic corpus by absolute path; materialize
    # it up front (pure-pandas, idempotent) so an oracle-first evaluation
    # order cannot hit file-not-found (ADVICE r01)
    from ..synth.generator import ensure_synth
    ensure_synth(0.01)
    out: dict = {}
    for part in (kg_oracle_sql, relational_oracle_sql, vector_oracle_sql,
                 text_oracle_sql, graph_oracle_sql, extra_oracle_sql,
                 service_oracle_sql):
        out.update(part())
    return out
