"""bench.py's remaining surface: the final JSON line and its persisted,
overlapped run of the flagship pipeline."""
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench  # noqa: E402


def test_compact_bench_line_fits_driver_buffer():
    big = {"metric": "kg_pipeline_wall", "value": 24.6, "unit": "sec",
           "queries": {f"q{i}": 1.0 + i for i in range(12)},
           "sf": 0.1, "bench_corpus_sf": 3.0, "n_triples": 8992326,
           "cpus": 4, "triples_per_sec": 365408.0,
           "scaling": {"cores_lo": 2, "cores_hi": 8, "wall_lo_sec": 64.1,
                       "wall_hi_sec": 16.1, "tput_lo": 140285.9,
                       "tput_hi": 558529.6, "efficiency": 0.995,
                       "cal_inrun_max_s_lo": 0.41,
                       "cal_inrun_max_s_hi": 0.52},
           "levels": {"pad": "y" * 3000}}
    parsed = json.loads(bench.compact_bench_line(big))
    assert set(parsed) == set(bench.FINAL_KEYS)
    assert parsed["scaling"] == big["scaling"]
    assert parsed["queries"] == big["queries"]
    # per-query names that outgrow the cap degrade the line, never break it
    wide = dict(big, queries={f"q{i}" * 40: float(i) for i in range(40)})
    js = bench.compact_bench_line(wide)
    assert len(js) <= 1800
    assert json.loads(js)["metric"] == "kg_pipeline_wall"
    # pathological cap still yields valid JSON with the scalar contract
    tiny = json.loads(bench.compact_bench_line(big, cap=300))
    assert tiny["metric"] == "kg_pipeline_wall" and "value" in tiny


def test_run_pipeline_matches_build_kg(spark, sf_dir_smoke):
    """bench runs ``pipeline.build_kg`` persisted, with overlapped sinks
    and the triple count observed on the triples write; pin that count
    to the unpersisted build's."""
    from memex_kg_spark import pipeline

    out = bench.run_pipeline(spark, sf_dir_smoke)
    assert set(bench.STAGES) | {"n_triples", "pipeline_total"} <= set(out)
    assert all(out[k] >= 0 for k in bench.STAGES)
    want = pipeline.build_kg(spark, sf_dir_smoke)["triples"].count()
    assert want > 0 and out["n_triples"] == want
