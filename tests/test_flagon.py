"""Flag-on production path: NER enrichment semantics, degradation buckets
(A6), Turtle escaping (P7), delta guard (A7), compat invariants."""

import os

import pyspark.sql.functions as F
import pytest

from aopwiki_spark import labels as L
from aopwiki_spark import ner as N
from aopwiki_spark.config import PipelineConfig, production_config
from aopwiki_spark.pipeline import build_all_triples
from aopwiki_spark.qc import qc_delta_guard
from aopwiki_spark.refsemantics import ner_oracle as O


# ---------------------------------------------------------------------------
# Chunker: reference packing semantics (ner_el_mapper.py:361-372)
# ---------------------------------------------------------------------------

def test_chunker_matches_oracle():
    texts = [
        "Short one. Another sentence! A third? Done.",
        "A" * 2000 + ". Next sentence here. " + "B" * 1600 + "! Tail.",
        "",
        "No terminator at all",
        "x. " * 900,
    ]
    for t in texts:
        assert N.chunk_sentences(t, 1500) == O.chunk_sentences(t, 1500)


def test_chunker_packing():
    # two 800-char sentences don't fit one 1500-char chunk; overlong
    # single sentence is its own chunk, never split
    s1, s2 = "a" * 799 + ".", "b" * 799 + "."
    chunks = N.chunk_sentences(s1 + " " + s2, 1500)
    assert chunks == [s1, s2]
    big = "c" * 4000 + "."
    assert N.chunk_sentences(big, 1500) == [big]


def test_ner_prob_filter_and_reverse_map():
    mentions = [("alpha factor", "1", 0.9), ("beta factor", "2", 0.41),
                ("gamma factor", "3", None), ("delta factor", "9", 0.95)]
    text = "alpha factor and beta factor and gamma factor and delta factor."
    ids = O.ner_ncbi_ids(text, mentions, min_prob=0.70)
    assert ids == ["1", "3", "9"]  # 0.41 dropped, None kept
    hg = O.ner_hgnc_set([text], mentions, {"1": "11", "3": "33"})
    assert hg == {"hgnc:11", "hgnc:33"}  # "9" unmapped -> silent drop


def test_flagon_union_semantics():
    union, rx, nr = O.flagon_union(
        ["hgnc:5", "hgnc:2"], {"hgnc:9", "hgnc:2", "hgnc:1"})
    assert union == ["hgnc:5", "hgnc:2", "hgnc:1", "hgnc:9"]  # regex order kept
    assert rx == ["hgnc:5", "hgnc:2"]
    assert nr == ["hgnc:1", "hgnc:2", "hgnc:9"]  # FULL sorted NER set


# ---------------------------------------------------------------------------
# Degradation buckets (A6/WR-03): ok + degraded + skipped == total,
# regex baseline never thinned.
# ---------------------------------------------------------------------------

def test_apply_ner_union_buckets(spark):
    rows = [
        ("a", ["hgnc:1"], ["hgnc:2"], True, False),   # ok: additive
        ("b", ["hgnc:3"], None, True, True),          # degraded: keeps regex
        ("c", ["hgnc:4"], None, False, False),        # skipped: no NER text
        ("d", [], ["hgnc:5"], True, False),           # ok: NER-only
    ]
    df = spark.createDataFrame(
        rows, "subj string, genes_regex array<string>, "
              "genes_ner array<string>, ner_scanned boolean, "
              "ner_failed boolean")
    out = {r["subj"]: r for r in
           N.apply_ner_union(df, fallback_on_failure=True).collect()}
    assert out["a"]["genes_union"] == ["hgnc:1", "hgnc:2"]
    assert out["a"]["ner_bucket"] == "ok"
    assert out["b"]["genes_union"] == ["hgnc:3"]      # never thinned
    assert out["b"]["genes_ner"] == []
    assert out["b"]["ner_bucket"] == "degraded"
    assert out["c"]["ner_bucket"] == "skipped"
    assert out["d"]["genes_union"] == ["hgnc:5"]
    buckets = [r["ner_bucket"] for r in out.values()]
    assert len(buckets) == 4  # the three buckets partition the set
    # fallback disabled: failure takes the additive path with empty NER
    out2 = {r["subj"]: r for r in
            N.apply_ner_union(df, fallback_on_failure=False).collect()}
    assert out2["b"]["ner_bucket"] == "ok"
    assert out2["b"]["genes_union"] == ["hgnc:3"]


# ---------------------------------------------------------------------------
# Turtle escaping (P7, writer.py:114-130)
# ---------------------------------------------------------------------------

def test_turtle_escape(spark):
    df = spark.createDataFrame(
        [('back\\slash "quote"\nnl\rcr\ttab',)], "v string")
    got = df.select(L.turtle_escape(F.col("v")).alias("e")).first()["e"]
    assert got == 'back\\\\slash \\"quote\\"\\nnl\\rcr\\ttab'


# ---------------------------------------------------------------------------
# Compat invariants (reference scripts/compat_check.py): flag-off output is
# config-independent; flag-on output is strictly additive.
# ---------------------------------------------------------------------------

@pytest.fixture(scope="module")
def flagoff_triples(spark, smoke_dir):
    return set(map(tuple, build_all_triples(spark, smoke_dir).collect()))


def test_flagoff_config_identity(spark, smoke_dir, flagoff_triples):
    explicit = set(map(tuple, build_all_triples(
        spark, smoke_dir, config=PipelineConfig()).collect()))
    assert explicit == flagoff_triples


def test_flagon_additive_superset(spark, smoke_dir, flagoff_triples):
    on = set(map(tuple, build_all_triples(
        spark, smoke_dir, config=production_config()).collect()))
    assert flagoff_triples <= on
    added_preds = {p for _, _, p, _ in on - flagoff_triples}
    assert ":geneDetectedByRegex" in added_preds
    assert ":geneDetectedByNER" in added_preds
    assert "rdfs:label" in added_preds


# ---------------------------------------------------------------------------
# Delta guard (A7)
# ---------------------------------------------------------------------------

def test_delta_guard():
    base = {"graphs": {"main": 1000, "genes": 500},
            "gene_association_triples": 100}
    ok = {"graphs": {"main": 990, "genes": 510},
          "gene_association_triples": 96}
    assert qc_delta_guard(ok, base)["passed"]
    bad = {"graphs": {"main": 990, "genes": 510},
           "gene_association_triples": 94}  # >5% drop
    res = qc_delta_guard(bad, base)
    assert not res["passed"]
    failing = [c for c in res["checks"] if not c["passed"]]
    assert failing[0]["metric"] == "gene_association_triples"
    # missing baseline is a hard fail
    assert not qc_delta_guard(ok, None)["passed"]
    # an increase always passes
    up = {"graphs": {"main": 5000, "genes": 5000},
          "gene_association_triples": 5000}
    assert qc_delta_guard(up, base)["passed"]


def test_delta_guard_consumer_query_ratchet():
    """Per-consumer-query row counts (record_consumer_counts manifests)
    are guarded with the same drop floor as the totals; additive queries
    and absent blocks are never flagged."""
    base = {"graphs": {"main": 1000, "genes": 500},
            "gene_association_triples": 100,
            "consumer_query_rows": {"kg_sparql_profile": 40,
                                    "kg_fed_chem_aop": 8,
                                    "kg_sparql_empty": 0}}
    ok = {"graphs": {"main": 1000, "genes": 500},
          "gene_association_triples": 100,
          "consumer_query_rows": {"kg_sparql_profile": 39,  # -2.5%: fine
                                  "kg_fed_chem_aop": 12,    # rise: fine
                                  "kg_sparql_empty": 0,     # 0 -> 0: fine
                                  "kg_new_query": 3}}       # additive
    assert qc_delta_guard(ok, base)["passed"]
    # a >5% per-query drop fails even when the totals hold
    bad = dict(ok, consumer_query_rows=dict(
        ok["consumer_query_rows"], kg_sparql_profile=30))
    res = qc_delta_guard(bad, base)
    assert not res["passed"]
    assert [c["metric"] for c in res["checks"] if not c["passed"]] == \
        ["consumer_query_rows[kg_sparql_profile]"]
    # a query the baseline knew that errored this run (null) is a hard fail
    gone = dict(ok, consumer_query_rows=dict(
        ok["consumer_query_rows"], kg_fed_chem_aop=None))
    assert not qc_delta_guard(gone, base)["passed"]
    # manifests without the block (flag off) are guarded on totals only
    off = {"graphs": {"main": 1000, "genes": 500},
           "gene_association_triples": 100}
    assert qc_delta_guard(off, base)["passed"]
    assert qc_delta_guard(ok, off)["passed"]


def test_manifest_records_consumer_counts(spark, smoke_dir, tmp_path):
    """record_consumer_counts lands the full 12-query preflight corpus in
    the manifest, and a second run delta-guards against it per query."""
    from aopwiki_spark.config import PipelineConfig
    from aopwiki_spark.federated import FED_CORPUS
    from aopwiki_spark.pipeline import run_pipeline_checkpointed
    from aopwiki_spark.sparqlcorpus import CORPUS
    cfg = PipelineConfig(record_consumer_counts=True)
    out1 = str(tmp_path / "run1")
    m1 = run_pipeline_checkpointed(spark, smoke_dir, out1, config=cfg)
    got = m1["consumer_query_rows"]
    assert set(got) == set(CORPUS) | set(FED_CORPUS)
    assert len(got) == 12
    assert all(isinstance(v, int) for v in got.values())  # no erroring query
    m2 = run_pipeline_checkpointed(
        spark, smoke_dir, str(tmp_path / "run2"), config=cfg,
        baseline_manifest=os.path.join(out1, "manifest.json"))
    per_query = [c for c in m2["delta_guard"]["checks"]
                 if c["metric"].startswith("consumer_query_rows[")]
    assert len(per_query) == 12
    assert m2["delta_guard"]["passed"]


# ---------------------------------------------------------------------------
# SHACL-shape validation analogue (reference layer 6: generate_shapes.py +
# run_shacl_validation.py)
# ---------------------------------------------------------------------------

def test_shape_violations_mincount(spark):
    """A typed subject missing a core-identity predicate is a violation;
    fully-populated predicates are required but unviolated by
    construction; Warning-severity (partially populated, non-core)
    predicates never produce violations."""
    from aopwiki_spark.qc import property_audit, shape_violations
    rows = [
        ("main", "x:1", "a", "t:T"),
        ("main", "x:1", "dc:title", '"one"'),
        ("main", "x:1", "p:opt", "v"),
        ("main", "x:2", "a", "t:T"),
        ("main", "x:2", "dc:title", '"two"'),
        # x:3 lacks dc:title (core pred, population 2/3 -> Violation row)
        ("main", "x:3", "a", "t:T"),
    ]
    t = spark.createDataFrame(rows, ["graph", "subj", "pred", "obj"])
    out = {(r["subj"], r["missing_pred"])
           for r in shape_violations(t).collect()}
    assert out == {("x:3", "dc:title")}
    aud = {(r["pred"]): r["severity"]
           for r in property_audit(t).collect()}
    assert aud["a"] == "Violation"          # 100% + core
    assert aud["dc:title"] == "Violation"   # core despite 66.7%
    assert aud["p:opt"] == "Warning"        # partial, non-core


def test_production_shapes_conform_except_core_gaps(spark, smoke_dir):
    """On the full engine output, every violation row is a core-identity
    gap (pct=100 constraints cannot fail), mirroring pyshacl-green on the
    generated shapes."""
    from aopwiki_spark.qc import shape_violations
    t = build_all_triples(spark, smoke_dir,
                          config=production_config()).persist()
    v = shape_violations(t).collect()
    assert all(r["missing_pred"] in ("a", "dc:identifier", "dc:title")
               for r in v)
