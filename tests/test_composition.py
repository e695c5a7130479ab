"""The layer order is written down once, in ``memex_kg_spark/pipeline.py``.

Every runner (``entry``, ``bench.py``, the query cache, the resumable
writer, streaming, ``scripts/submit_pipeline.py``) reaches the layers
through ``build_triples`` / ``build_graph`` / ``build_kg``, so an engine
change made there reaches all of them. This guard parses the source, with
no Spark session, and fails on a call to a layer operator anywhere else.
``perfbench/`` is benchmark code and is not scanned.
"""

from __future__ import annotations

import ast
import glob
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
LAYER_OPERATORS = {"extract_statements", "statements_to_mentions",
                   "triples_from_statements", "build_nodes", "build_edges"}


def _sources() -> list[str]:
    files = (glob.glob(os.path.join(ROOT, "memex_kg_spark", "**", "*.py"),
                       recursive=True)
             + glob.glob(os.path.join(ROOT, "scripts", "**", "*.py"),
                         recursive=True)
             + [os.path.join(ROOT, "bench.py"),
                os.path.join(ROOT, "__spark_entry__.py")])
    return sorted(f for f in files if os.path.exists(f))


def _layer_calls(path: str) -> list[str]:
    with open(path) as f:
        tree = ast.parse(f.read(), path)
    found = []
    for node in ast.walk(tree):
        if not isinstance(node, ast.Call):
            continue
        fn = node.func
        name = (fn.id if isinstance(fn, ast.Name)
                else fn.attr if isinstance(fn, ast.Attribute) else None)
        if name in LAYER_OPERATORS:
            found.append(f"{os.path.relpath(path, ROOT)}:{node.lineno} "
                         f"{name}(")
    return found


def test_layer_composition_lives_only_in_pipeline():
    pipeline_py = os.path.join(ROOT, "memex_kg_spark", "pipeline.py")
    sources = _sources()
    assert pipeline_py in sources and len(sources) > 10
    # the guard sees the composition where it belongs
    assert {c.split()[-1] for c in _layer_calls(pipeline_py)} == {
        f"{n}(" for n in LAYER_OPERATORS}
    stray = [c for f in sources if f != pipeline_py
             for c in _layer_calls(f)]
    assert stray == [], ("layer operators composed outside pipeline.py; "
                         f"call pipeline.build_triples / build_graph: {stray}")
