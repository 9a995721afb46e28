"""bench.py contracts: the publish guard, the compact metric line (the
round-4 artifact's line outgrew the driver's 2000-char tail window ->
BENCH_r04.json parsed null; the round-3 artifact published a 2x
noisy-host headline as a regression), the atomic sidecar dump, the source
key and the scaling legs' cpuset pinning."""
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))

import bench  # noqa: E402


def _full_result():
    """A result shaped like a worst-case real run (all scaling blocks,
    3-rep wall lists, 13 per-op entries) — the shape that overflowed the
    round-4 tail window when dumped whole."""
    phases = {"input_cache": 3.65, "parse_checkpoint": 13.52,
              "gene_checkpoint": 49.81, "part_writes": 44.69,
              "dedup_write": 64.38, "count": 0.99, "label_coverage": 3.21}
    pair = {"cores_4n": 4, "cores_16n": 16, "sec_4n": 209.32,
            "sec_16n": 82.64, "steal_pct_16n": 0.1,
            "all_walls_16n": [89.7, 82.6, 87.2], "phases_16n": phases,
            "rate_4n": 142323.6, "rate_16n": 360494.3,
            "efficiency": 0.633, "cpuset_16n": "0-15"}
    execp = dict(pair, mode="local-cluster[N,4,10240]", execs_n=1,
                 execs_4n=4, cores_per_exec=4, phases_n=phases,
                 phases_4n=phases, all_walls_n=[220.1, 215.3],
                 all_walls_4n=[81.1, 79.9, 80.4], efficiency=0.709)
    return {
        "metric": "kg_pipeline wall at local[32] (checkpointed, flag-on)",
        "value": 15.4, "unit": "sec", "triples_per_sec": 8394.1,
        "headline_all_walls": [24.4, 15.4], "headline_steal_pct": [0.0, 0.0],
        "noisy_host": False,
        "queries": {f"op_{i:02d}_some_longish_query_name": 123.456
                    for i in range(13)},
        "sf": "sf0.1", "n_triples": 129276,
        "perf_guard": {"ratio": 1.5, "regressed": [], "ok": True},
        "scaling": {
            "corpus": "scaling", "n_triples": 29791231, "cores_n": 1,
            "cores_4n": 4, "sec_n": 827.65, "sec_4n": 209.32,
            "steal_pct_n": 0.0, "steal_pct_4n": 0.0,
            "all_walls_n": [827.6], "all_walls_4n": [212.3, 209.3, 215.8],
            "phases_n": phases, "phases_4n": phases,
            "rate_n": 35995.0, "rate_4n": 142323.6, "efficiency": 0.988,
            "cpuset_n": "0", "cpuset_4n": "0-3", "measured_at": 1787027561,
            "pair_4n_16n": pair, "executor_pair": execp,
            "executor_pair_1core": dict(execp, efficiency=0.548),
        },
    }


def test_metric_line_fits_driver_tail_window(tmp_path, monkeypatch):
    monkeypatch.setattr(bench, "DETAILS_PATH", str(tmp_path / "d.json"))
    line = bench._emit(_full_result(), "abc123")
    assert len(line) <= bench.METRIC_LINE_MAX < 2000
    parsed = json.loads(line)
    assert parsed["value"] == 15.4
    assert len(parsed["queries"]) == 13
    assert parsed["scaling"]["efficiency"] == 0.988
    assert parsed["scaling"]["pair_4n_16n_efficiency"] == 0.633
    assert parsed["scaling"]["executor_pair_efficiency"] == 0.709
    assert parsed["src_key"] == "abc123"
    # the bulky blocks moved to the sidecar, losslessly
    with open(tmp_path / "d.json") as fh:
        details = json.load(fh)
    assert details["scaling"]["phases_4n"]["dedup_write"] == 64.38
    assert details["scaling"]["executor_pair"]["all_walls_4n"] == \
        [81.1, 79.9, 80.4]


def test_metric_line_sheds_oversized_optional_fields():
    """A summary that only fits AFTER shedding must emit (and the
    preflight, which calls the same helper, must agree) — the round-5
    ADVICE false-red: a >limit raw line that the shedding loop rescues."""
    summary = bench._compact_summary(_full_result(), "abc123")
    summary["headline_all_walls"] = [round(14 + 0.001 * i, 3)
                                    for i in range(200)]  # bloat to >1600
    raw = json.dumps(summary, separators=(",", ":"))
    assert len(raw) > bench.METRIC_LINE_MAX
    line = bench.metric_line(summary)
    assert len(line) <= bench.METRIC_LINE_MAX
    parsed = json.loads(line)
    assert "headline_all_walls" not in parsed      # shed first
    assert parsed["queries"] and parsed["scaling"]  # never shed
    # input dict is not mutated (preflight replays it repeatedly)
    assert len(summary["headline_all_walls"]) == 200


def test_perf_guard_flags_and_ratchet(tmp_path):
    path = str(tmp_path / "best.json")
    best = bench._update_best({"q1": 10.0, "q2": 5.0}, "sf0.1", path=path)
    assert best == {"q1": 10.0, "q2": 5.0}
    # regression past ratio x best is flagged; inside the band is not
    assert bench._regressed({"q1": 16.0, "q2": 5.1},
                            bench._load_best("sf0.1", path=path)) == ["q1"]
    # the absolute grace: a 0.5s-best op at 0.9s is jitter, not regression;
    # past both the ratio and the grace it flags
    assert bench._regressed({"tiny": 0.9}, {"tiny": 0.5}) == []
    assert bench._regressed({"tiny": 2.6}, {"tiny": 0.5}) == ["tiny"]
    # min-merge: a slow run never raises a best, a fast one lowers it
    best = bench._update_best({"q1": 16.0, "q2": 3.0}, "sf0.1", path=path)
    assert best == {"q1": 10.0, "q2": 3.0}
    # unknown ops and unknown sf sections are never flagged
    assert bench._regressed({"new_op": 99.0}, best) == []
    assert bench._load_best("sf9", path=path) == {}


def test_atomic_dump_and_tolerant_cache_load(tmp_path):
    # write-temp-then-rename leaves the payload and no temp file behind
    good = tmp_path / "good.json"
    bench._atomic_json_dump({"marker": "ok"}, str(good))
    assert json.loads(good.read_text()) == {"marker": "ok"}
    assert not [p for p in os.listdir(tmp_path) if ".tmp." in p]


def test_src_key_tracks_engine_source():
    # the fingerprint covers aopwiki_spark/** and bench.py itself;
    # identical tree -> identical key
    assert bench._src_key() == bench._src_key()
    assert len(bench._src_key()) == 16


def test_pin_tree_applies_and_releases():
    # compare against the affinity at test start, not os.cpu_count():
    # under a cgroup cpuset the allowed set is narrower than the physical
    # count, and 'release' must restore the launch-time mask (never widen
    # past an operator-imposed taskset)
    import pytest
    base = sorted(os.sched_getaffinity(0))
    if len(base) < 2:
        pytest.skip("needs >= 2 allowed CPUs")
    if base != bench._BASE_AFFINITY:
        pytest.skip("process affinity changed since bench import; "
                    "baseline-restore cannot be asserted")
    got = bench._pin_tree(2)
    try:
        assert got is not None
        assert sorted(os.sched_getaffinity(0)) == base[:2]
    finally:
        rel = bench._pin_tree(None)
    assert sorted(os.sched_getaffinity(0)) == base
    assert rel is not None
