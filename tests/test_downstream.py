"""Round-3 consumption-side surface: downstream SPARQL corpus + preflight
gate, VoID/ServiceDescription metadata, label-coverage report, and the
duplicate-subject additivity fix in the NER link stage."""

from __future__ import annotations

import json
import os
import sys

import pytest
from pyspark.sql import functions as F

sys.path.insert(0, os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"))

from preflight_downstream import (classify, flip_attributable,  # noqa: E402
                                  run_corpus_pair, save_report)


# --------------------------------------------------------------------------- #
# pure classifier (D-05 bar)
# --------------------------------------------------------------------------- #

def test_classify_bar():
    assert classify(5, 7, False) == "PASS"    # additive enrichment
    assert classify(0, 0, False) == "PASS"    # 0 -> 0
    assert classify(3, 3, False) == "PASS"    # equal
    assert classify(1, 0, False) == "FAIL"    # row regression
    assert classify(0, 5, True) == "FAIL"     # errored on flags-on


def test_flip_attributable():
    assert flip_attributable(1, 0, False, False)        # real regression
    assert flip_attributable(0, 0, False, True)         # new error
    assert not flip_attributable(1, 0, True, True)      # environmental
    assert not flip_attributable(2, 5, False, False)    # additive


# --------------------------------------------------------------------------- #
# the full gate on the smoke corpus: every ported consumer query must
# return rows on both loads and never regress under the flag flip
# --------------------------------------------------------------------------- #

def test_preflight_gate_green(spark, smoke_dir, tmp_path):
    records = run_corpus_pair(spark, smoke_dir)
    from aopwiki_spark.federated import FED_CORPUS
    from aopwiki_spark.sparqlcorpus import CORPUS
    assert {r["name"] for r in records} == set(CORPUS) | set(FED_CORPUS)
    fails = [r for r in records if r["status"] == "FAIL"]
    assert not fails, fails
    assert not any(r["flip_regression"] for r in records)
    # every query is non-vacuous on this corpus: rows on the baseline load
    for r in records:
        assert r["pre_count"] >= 1, r
        assert r["post_count"] >= r["pre_count"] or r["post_count"] >= 1, r
    report = tmp_path / "preflight.md"
    save_report(records, str(report))
    text = report.read_text()
    assert "**Result**: PASS" in text
    assert "kg_sparql_species_method" in text


def test_preflight_flags_regression_detected(spark, smoke_dir):
    """A query that loses its rows under the flip must FAIL the gate —
    injected via a fake corpus entry that filters on a flag-on-only
    predicate's ABSENCE (rows pre, zero post is simulated by an empty
    post: here we fake it with a query erroring only on the second call).
    """
    calls = {"n": 0}

    def flaky(spark_, triples):
        calls["n"] += 1
        if calls["n"] == 2:  # second (flags-on) execution errors
            raise RuntimeError("boom")
        return triples.limit(3)

    records = run_corpus_pair(spark, smoke_dir, corpus={"flaky": flaky})
    (r,) = records
    assert r["status"] == "FAIL" and r["errored"] and r["flip_regression"]


# --------------------------------------------------------------------------- #
# corpus semantics spot-checks (engine-side; DuckDB parity is the oracle
# gate's job)
# --------------------------------------------------------------------------- #

def test_species_method_shape(spark, smoke_dir):
    from aopwiki_spark.pipeline import build_all_triples
    from aopwiki_spark.sparqlcorpus import sparql_species_method
    t = build_all_triples(spark, smoke_dir)
    rows = sparql_species_method(spark, t).collect()
    assert rows, "VALUES-bound AOPs must resolve on every synthetic scale"
    aops = {r["aop"] for r in rows}
    assert aops <= {"aop:1000", "aop:1002"}
    for r in rows:
        assert r["ke"].startswith("aop.events:")
        # group_concat is sorted distinct with ' | ' separator
        parts = r["speciesnames"].split(" | ")
        assert parts == sorted(parts)


def test_aopo_usage_quirk(spark, smoke_dir):
    """The unanchored-regex quirk: the has_key_event pattern also counts
    has_key_event_relationship subjects (faithful to the reference's
    FILTER regex semantics)."""
    from aopwiki_spark.pipeline import build_all_triples
    from aopwiki_spark.sparqlcorpus import sparql_aopo_usage
    t = build_all_triples(spark, smoke_dir)
    n = {r["metric"]: r["n"] for r in sparql_aopo_usage(spark, t).collect()}
    assert n["aopo:has_key_event"] >= n["aopo:has_key_event_relationship"]
    assert n["predicates_aopo"] > 0 and n["objects_aopo"] > 0


def test_endpoint_view_modes(spark, smoke_dir, tmp_path):
    """Both endpoint-view checkpoint modes produce the same distinct triple
    set: 'local' (localCheckpoint — bench/gate default) and 'reliable'
    (checkpoint to the SparkContext checkpoint dir — survives executor
    loss, the production switch that replaced the round-5 caveat note)."""
    from aopwiki_spark.pipeline import build_all_triples
    from aopwiki_spark.sparqlcorpus import endpoint_view, evict_view
    t1 = build_all_triples(spark, smoke_dir)
    t2 = build_all_triples(spark, smoke_dir)
    spark.sparkContext.setCheckpointDir(str(tmp_path / "ckpt"))
    local = endpoint_view(t1, mode="local")
    reliable = endpoint_view(t2, mode="reliable")
    # memoized per (input DataFrame, mode): repeated same-mode calls
    # return the same view (default mode is 'local')
    assert endpoint_view(t1) is local
    assert endpoint_view(t2, mode="reliable") is reliable
    a = {tuple(r) for r in local.collect()}
    b = {tuple(r) for r in reliable.collect()}
    assert a == b and a
    # a different-mode request REBUILDS instead of silently returning the
    # wrong-durability view (round 7, ADVICE r6)
    local2 = endpoint_view(t2, mode="local")
    assert local2 is not reliable
    assert {tuple(r) for r in local2.collect()} == a
    # the reliable view wrote real checkpoint files the session can lose
    # an executor over
    ckpt_files = [p for p, _, fs in os.walk(tmp_path / "ckpt") for p in fs]
    assert ckpt_files, "reliable mode must write to the checkpoint dir"
    evict_view(t1)
    evict_view(t2)


# --------------------------------------------------------------------------- #
# VoID + ServiceDescription surface
# --------------------------------------------------------------------------- #

def test_void_linksets_and_service_desc(tmp_path):
    from aopwiki_spark.render import (service_description_triples,
                                      void_triples,
                                      write_service_description)
    v = void_triples({"main": 10, "genes": 5}, "2026-01-01")
    subs = {s for s, _, _ in v}
    assert ":HGNCgenes.txt" in subs
    assert "<https://proconsortium.org/download/current/promapping.txt>" in subs
    preds = {p for _, p, _ in v}
    assert {"void:sparqlEndpoint", "void:dataDump", "void:exampleResource",
            "pav:importedOn", "pav:createdBy",
            "dcat:downloadURL"} <= preds
    # enriched has no count -> no void:triples row for it
    assert (":AOPWikiRDF-Enriched.ttl", "void:triples", "0") not in v
    assert (":AOPWikiRDF.ttl", "void:triples", "10") in v
    # deployment params flow through
    v2 = void_triples({}, "2026-01-01",
                      params={"sparql_endpoint": "http://x/sparql"})
    assert (":AOPWikiRDF", "void:sparqlEndpoint", "<http://x/sparql>") in v2

    sd = service_description_triples("2026-02-02T00:00:00")
    assert len(sd) == len(set(sd)) == 23
    path = tmp_path / "ServiceDescription.ttl"
    n = write_service_description(str(path), "2026-02-02T00:00:00")
    text = path.read_text()
    assert n == 23 and "sd:Service" in text
    assert "@prefix sd:" in text and text.count(" .\n") >= 23


# --------------------------------------------------------------------------- #
# label coverage (D-07)
# --------------------------------------------------------------------------- #

def test_label_coverage_report(spark, smoke_dir):
    from aopwiki_spark.config import production_config
    from aopwiki_spark.pipeline import (Inputs, coverage_iri_universe,
                                        label_coverage_report)
    inp = Inputs(spark, smoke_dir, config=production_config())
    try:
        rep = label_coverage_report(inp)
        total = sum(v["labeled"] + v["unlabeled"]
                    for v in rep["per_source"].values())
        assert total == coverage_iri_universe(inp).count()
        assert rep["n_unlabeled"] == sum(
            v["unlabeled"] for v in rep["per_source"].values())
        assert rep["unlabeled_sample"] == sorted(rep["unlabeled_sample"])
        assert len(rep["unlabeled_sample"]) <= 50
        # the synthetic corpus always yields some labeled chem xrefs
        assert any(v["labeled"] > 0 for v in rep["per_source"].values())
        # every bucket key is a known source name
        from aopwiki_spark.labels import LABEL_SOURCE_PREFIXES
        known = {s for _, s in LABEL_SOURCE_PREFIXES} | {"Other"}
        assert set(rep["per_source"]) <= known
    finally:
        inp.cleanup()


def test_label_coverage_in_manifest(spark, smoke_dir, tmp_path):
    """Flag-on runs emit label-coverage-report.json + manifest embed."""
    from aopwiki_spark.config import production_config
    from aopwiki_spark.pipeline import run_pipeline_checkpointed
    out = tmp_path / "out"
    m = run_pipeline_checkpointed(spark, smoke_dir, str(out),
                                  config=production_config())
    assert "label_coverage" in m
    rep_path = out / "label-coverage-report.json"
    assert rep_path.exists()
    rep = json.loads(rep_path.read_text())
    assert rep["per_source"] == m["label_coverage"]
    # the runner also emits the VoID + ServiceDescription metadata files
    void = (out / "VoID.ttl").read_text()
    assert f'void:triples {m["graphs"]["main"]}' in void.replace('"', "")
    assert ":HGNCgenes.txt a void:Dataset" in void
    assert "sd:Service" in (out / "ServiceDescription.ttl").read_text()


# --------------------------------------------------------------------------- #
# NER link stage: duplicate-subject union additivity (COMPAT-01)
# --------------------------------------------------------------------------- #

def test_link_ncbi_hgnc_duplicate_subjects(spark):
    from aopwiki_spark.ner import link_ncbi_hgnc
    rows = spark.createDataFrame(
        [("s1", ["hgnc:1"], True, ["111"]),
         ("s1", ["hgnc:2"], False, []),     # duplicate wiki_id row
         ("s2", ["hgnc:3"], True, ["222"])],
        "subj string, genes_regex array<string>, ner_scanned boolean, "
        "ner_ncbi array<string>")
    dim = spark.createDataFrame([("111", "9"), ("222", "8")],
                                "ncbigene string, hgnc_id string")
    out = {r["subj"]: r for r in
           link_ncbi_hgnc(rows, "subj", dim).collect()}
    # union semantics: NEITHER duplicate row's regex genes are dropped
    assert set(out["s1"]["genes_regex"]) == {"hgnc:1", "hgnc:2"}
    assert out["s1"]["ner_scanned"] is True          # bool-or
    assert out["s1"]["genes_ner"] == ["hgnc:9"]
    assert out["s2"]["genes_regex"] == ["hgnc:3"]
    assert out["s2"]["genes_ner"] == ["hgnc:8"]


# --------------------------------------------------------------------------- #
# checkpoint fingerprint: same-size edits invalidate (mtime in the key)
# --------------------------------------------------------------------------- #

def test_fingerprint_same_size_edit(tmp_path):
    from aopwiki_spark.pipeline import _run_fingerprint
    d = tmp_path / "corpus"
    d.mkdir()
    f = d / "part.parquet"
    f.write_bytes(b"AAAA")
    fp1 = _run_fingerprint(str(d), None)
    assert _run_fingerprint(str(d), None) == fp1   # stable
    os.utime(f, ns=(1, 1))                         # same size, new mtime
    f.write_bytes(b"BBBB")                         # same-size content edit
    assert _run_fingerprint(str(d), None) != fp1


def test_fingerprint_content_mode_resumes_on_touch(tmp_path, monkeypatch):
    """AOPWIKI_RUN_FP_MODE=content: a metadata-only touch of identical
    bytes (cp without -p, image rebuild) keeps the fingerprint — and a
    one-byte content edit still changes it."""
    from aopwiki_spark.pipeline import _run_fingerprint
    d = tmp_path / "corpus"
    d.mkdir()
    f = d / "part.parquet"
    f.write_bytes(b"AAAA")
    monkeypatch.setenv("AOPWIKI_RUN_FP_MODE", "content")
    fp1 = _run_fingerprint(str(d), None)
    os.utime(f, ns=(1, 1))
    assert _run_fingerprint(str(d), None) == fp1   # byte-identical: resume
    f.write_bytes(b"BBBB")
    assert _run_fingerprint(str(d), None) != fp1


def test_fingerprint_snapshot_id_pins_corpus(tmp_path):
    """A _snapshot_id file (the Iceberg snapshot-id analogue) owns the
    corpus component: file churn under it is invisible, a new snapshot id
    invalidates."""
    from aopwiki_spark.pipeline import _run_fingerprint
    d = tmp_path / "corpus"
    d.mkdir()
    (d / "part.parquet").write_bytes(b"AAAA")
    (d / "_snapshot_id").write_text("snap-1")
    fp1 = _run_fingerprint(str(d), None)
    (d / "part.parquet").write_bytes(b"BBBBBBBB")   # churn under snapshot
    assert _run_fingerprint(str(d), None) == fp1
    (d / "_snapshot_id").write_text("snap-2")
    assert _run_fingerprint(str(d), None) != fp1


def test_fingerprint_ignores_dotfiles(tmp_path):
    """Dotfiles parked next to a corpus (e.g. caches) are not corpus
    content."""
    from aopwiki_spark.pipeline import _run_fingerprint
    d = tmp_path / "corpus"
    d.mkdir()
    (d / "part.parquet").write_bytes(b"AAAA")
    fp1 = _run_fingerprint(str(d), None)
    (d / ".corpus_cache.json").write_text("{}")
    (d / ".hidden").mkdir()
    (d / ".hidden" / "x").write_text("y")
    assert _run_fingerprint(str(d), None) == fp1


# --------------------------------------------------------------------------- #
# URI pattern validation (reference scripts/validation/validate_rdf_uris.py)
# --------------------------------------------------------------------------- #

def test_uri_validation(spark):
    from aopwiki_spark.qc import uri_validation
    t = spark.createDataFrame(
        [("main", "cas:50-00-0", "a", "cheminf:000446"),
         ("main", "cas:NOTACAS", "dc:title", '"a literal: skipped"'),
         ("main", "mmo:0000000", "owl:sameAs", "<http://full.iri/skip>"),
         ("main", ":AOPWikiRDF", "a", "void:Dataset")],
        "graph string, subj string, pred string, obj string")
    rows = {(r["prefix"], r["status"]): r["n"]
            for r in uri_validation(t).collect()}
    assert rows[("cas", "valid")] == 1
    assert rows[("cas", "invalid")] == 1        # cas:NOTACAS breaks pattern
    assert rows[("cheminf", "valid")] == 1
    assert rows[("mmo", "unknown")] == 1        # no declared pattern
    assert rows[("void", "valid")] == 1
    assert rows[("owl", "valid")] == 1
    assert rows[("dc", "valid")] == 1
    # literals, full IRIs, the default ':' prefix and bare 'a' never count
    assert not any(p in ("", "http", "<http") for p, _ in rows)


def test_uri_validation_engine_output(spark, smoke_dir):
    """The engine's own output contains no pattern-violating CURIEs for
    any prefix the reference declares a pattern for — EXCEPT inchikey,
    where the synthetic generator deliberately mints schematic ids
    (`inchikey:INCHIKEY…-N`, not the real 14-10-1 uppercase blocks); the
    validator flagging those is the detection path working."""
    from aopwiki_spark.pipeline import build_all_triples
    from aopwiki_spark.qc import uri_validation
    rows = uri_validation(build_all_triples(spark, smoke_dir)).collect()
    bad = {r["prefix"] for r in rows if r["status"] == "invalid"}
    assert bad == {"inchikey"}, bad
    valid = {r["prefix"] for r in rows if r["status"] == "valid"}
    assert {"cas", "aopo", "aop.events", "cheminf", "hgnc"} <= valid


# --------------------------------------------------------------------------- #
# checkpointed runner: resume on identical corpus, discard on mtime change
# --------------------------------------------------------------------------- #

def _cache_is_empty(spark) -> bool:
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_clear_caches_releases_build_all_triples_inputs(spark, smoke_dir):
    """build_all_triples returns only a lazy DataFrame; the caches of the
    Inputs behind it (docs, linking outputs, gene table) must still be
    releasable, by kgqueries.clear_caches()."""
    from aopwiki_spark.kgqueries import clear_caches
    from aopwiki_spark.pipeline import build_all_triples
    # drop what earlier tests left: a reused Inputs would not persist again
    clear_caches()
    spark.catalog.clearCache()
    assert build_all_triples(spark, smoke_dir).count() > 0
    assert not _cache_is_empty(spark)
    clear_caches()
    assert _cache_is_empty(spark)


def test_checkpointed_resume_and_stale_discard(spark, smoke_dir, tmp_path):
    """Write, full resume, and stale discard on an mtime touch. Every run
    must release every cache it made: a CacheManager entry left behind
    keeps the file lists of stage tables that the next stale discard
    deletes, and a later run that reuses the entry reads files that are
    gone."""
    import shutil
    from aopwiki_spark.pipeline import run_pipeline_checkpointed
    # start from an empty cache, so the check below sees only these runs
    # (earlier tests' Inputs keep their own caches for the session)
    spark.catalog.clearCache()
    # private corpus copy so the mtime touch can't poison other tests'
    # checkpoints against the shared smoke corpus
    corpus = str(tmp_path / "corpus")
    shutil.copytree(smoke_dir, corpus)
    out = str(tmp_path / "out")
    m1 = run_pipeline_checkpointed(spark, corpus, out)
    assert _cache_is_empty(spark)
    assert m1["stages"]["parse"] == "written"
    # identical corpus + config -> full resume, same output
    m2 = run_pipeline_checkpointed(spark, corpus, out)
    assert _cache_is_empty(spark)
    assert m2["stages"]["parse"] == "resumed"
    assert m2["stages"]["genes"] == "resumed"
    assert "stale_checkpoints" not in m2["stages"]
    assert m2["graphs"] == m1["graphs"]
    assert m2["fingerprint"] == m1["fingerprint"]
    # same-size mtime-only change -> checkpoints discarded, recomputed
    victim = os.path.join(corpus, "docs.parquet")
    target = victim if os.path.isfile(victim) else os.path.join(
        victim, sorted(f for f in os.listdir(victim)
                       if f.endswith(".parquet"))[0])
    os.utime(target, ns=(1234567890, 1234567890))
    m3 = run_pipeline_checkpointed(spark, corpus, out)
    assert _cache_is_empty(spark)
    assert m3["stages"].get("stale_checkpoints") == "discarded"
    assert m3["stages"]["parse"] == "written"
    assert m3["fingerprint"] != m1["fingerprint"]
    assert m3["graphs"] == m1["graphs"]


def test_checkpointed_arr_filter_matches_engine(spark, tmp_path):
    """filter_arr_aops: the runner gives the same triple set as
    build_all_triples under the same config, and the filter drops the
    corpus's ARR-licensed AOPs from the parse checkpoint. Scale 2 (8 AOPs,
    one ARR): the sf0.001 smoke corpus has 4 AOPs and none is ARR."""
    from aopwiki_spark.config import PipelineConfig
    from aopwiki_spark.parse import parse_entities
    from aopwiki_spark.pipeline import (build_all_triples,
                                        run_pipeline_checkpointed)
    from aopwiki_spark.session import read_docs
    from aopwiki_spark.synth.gen import generate_corpus
    corpus = generate_corpus(str(tmp_path / "corpus"), 2)
    cfg = PipelineConfig(filter_arr_aops=True)
    out = str(tmp_path / "out")
    m = run_pipeline_checkpointed(spark, corpus, out, config=cfg)
    assert m["config"]["filter_arr_aops"] is True
    got = {tuple(r) for r in spark.read.parquet(m["out_path"])
           .select("graph", "subj", "pred", "obj").collect()}
    want = {tuple(r) for r in
            build_all_triples(spark, corpus, config=cfg).collect()}
    assert got == want
    arr = F.coalesce(F.col("wiki_license"), F.lit("")) == "ARR"
    raw = parse_entities(read_docs(spark, corpus))["aops"]
    assert raw.where(arr).count() > 0
    parsed = spark.read.parquet(os.path.join(out, "stages", "parse", "aops"))
    assert parsed.where(arr).count() == 0
    assert parsed.count() == raw.where(~arr).count()
