"""The scaling-measurement cache must survive a sandbox re-clone.

synthdata/scaling* is gitignored (multi-GB corpus), so the corpus-local
cache dies with any re-clone; bench.py therefore mirrors every completed
measurement block to the committed fixtures/bench_scaling_cache.json and
falls back to it on load. These tests pin the load contract: exact
src_key match required, corpus-local copy preferred, no key match ->
fresh measurement (None).
"""
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))

import bench  # noqa: E402


def _write(path, key, marker):
    with open(path, "w") as fh:
        json.dump({"src_key": key, "scaling": {"marker": marker}}, fh)


def test_fixture_fallback_used_when_corpus_cache_missing(tmp_path):
    fix = str(tmp_path / "fixture.json")
    _write(fix, "k1", "from-fixture")
    got = bench._load_cached_scaling(
        "k1", str(tmp_path / "missing.json"), fix)
    assert got["marker"] == "from-fixture"
    assert got["cached"] is True


def test_corpus_local_cache_preferred(tmp_path):
    local = str(tmp_path / "local.json")
    fix = str(tmp_path / "fixture.json")
    _write(local, "k1", "local")
    _write(fix, "k1", "fixture")
    got = bench._load_cached_scaling("k1", local, fix)
    assert got["marker"] == "local"


def test_stale_key_forces_fresh_measurement(tmp_path):
    local = str(tmp_path / "local.json")
    fix = str(tmp_path / "fixture.json")
    _write(local, "old-key", "local")
    _write(fix, "other-old-key", "fixture")
    assert bench._load_cached_scaling("k-new", local, fix) is None


def test_stale_local_falls_through_to_current_fixture(tmp_path):
    local = str(tmp_path / "local.json")
    fix = str(tmp_path / "fixture.json")
    _write(local, "old-key", "local")
    _write(fix, "k1", "fixture")
    got = bench._load_cached_scaling("k1", local, fix)
    assert got["marker"] == "fixture"


def test_other_corpus_forces_fresh_measurement(tmp_path):
    # a block measured on another corpus profile times different data:
    # same src_key is not enough to reuse it for the requested corpus
    fix = str(tmp_path / "fixture.json")
    with open(fix, "w") as fh:
        json.dump({"src_key": "k1",
                   "scaling": {"corpus": "bench", "marker": "m"}}, fh)
    assert bench._load_cached_scaling("k1", fix,
                                      corpus="scaling") is None
    got = bench._load_cached_scaling("k1", fix, corpus="bench")
    assert got["marker"] == "m"


def test_src_key_tracks_engine_source():
    # the fingerprint covers aopwiki_spark/** and bench.py itself;
    # identical tree -> identical key (determinism of the cache gate)
    assert bench._src_key() == bench._src_key()
    assert len(bench._src_key()) == 16


def test_committed_fixture_cache_is_current():
    """The committed measurement must be keyed to the committed tree.

    Skips (with the re-run command) rather than fails when absent or
    stale, so an in-flight source change doesn't red the suite before
    its re-measurement lands; the bench protocol itself refuses to
    reuse a stale cache either way.
    """
    import pytest
    fix = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "fixtures",
        "bench_scaling_cache.json")
    if not os.path.exists(fix):
        pytest.skip("no committed scaling cache yet - run: python bench.py")
    with open(fix) as fh:
        c = json.load(fh)
    assert {"src_key", "scaling"} <= set(c)
    sc = c["scaling"]
    assert {"sec_n", "sec_4n", "efficiency", "n_triples"} <= set(sc)
    assert sc["sec_n"] > 0 and sc["sec_4n"] > 0
    if c["src_key"] != bench._src_key():
        pytest.skip("scaling cache predates a source change - "
                    "re-run: python bench.py")


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
