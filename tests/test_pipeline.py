"""Pipeline materialization, QC floors, salted-join parity, resume."""

import os

import pyspark.sql.functions as F

from aopwiki_spark.linking import salted_join
from aopwiki_spark.pipeline import run_pipeline_checkpointed


def test_run_pipeline_manifest(spark, smoke_dir, tmp_path):
    out = str(tmp_path / "out")
    metrics = run_pipeline_checkpointed(spark, smoke_dir, out)
    assert metrics["total_triples"] > 0
    assert set(metrics["graphs"]) == {"main", "enriched", "genes"}
    assert all(metrics["qc"].values())
    assert os.path.exists(os.path.join(out, "manifest.json"))
    # partitioned layout by graph
    t = spark.read.parquet(metrics["out_path"])
    assert set(t.columns) == {"graph", "subj", "pred", "obj"}
    # idempotent re-run (resume semantics: same counts)
    metrics2 = run_pipeline_checkpointed(spark, smoke_dir, out)
    assert metrics2["graphs"] == metrics["graphs"]


def test_inputs_linking_outputs_are_lazy_and_cleanup_scoped(spark, smoke_dir):
    """Regression pin for the round-6 enriched-graph race: two Inputs over
    the same corpus persist IDENTICAL chem_linked/pro_links plans, which
    CacheManager dedupes onto one shared entry — a short-lived Inputs'
    cleanup() then evicted the entry mid-flight for the long-lived one.
    The fix: the linking outputs are lazy, so an Inputs that never touches
    them never creates (or later evicts) them."""
    from aopwiki_spark.pipeline import Inputs
    long_lived = Inputs(spark, smoke_dir)
    short_lived = Inputs(spark, smoke_dir)
    # constructors persist nothing beyond the docs cache
    assert all(df is long_lived.docs for df in long_lived._persisted)
    assert all(df is short_lived.docs for df in short_lived._persisted)
    # first touch on ONE instance builds+persists only there
    n_pro = long_lived.pro_links.count()
    assert long_lived._pro_links is not None
    assert short_lived._pro_links is None
    # the short-lived instance's cleanup must not evict the sibling's data
    short_lived.cleanup()
    assert long_lived.pro_links.count() == n_pro
    assert long_lived.pro_links.storageLevel.useMemory  # still persisted
    long_lived.cleanup()


def test_salted_join_parity(spark):
    """salted_join must be row-equivalent to a plain join (J5 skew path)."""
    big = spark.range(0, 1000).select(
        (F.col("id") % 3).cast("string").alias("k"), "id")
    small = spark.createDataFrame(
        [("0", "x"), ("1", "y"), ("2", "z"), ("9", "never")], "k string, v string")
    plain = big.join(small, "k", "left").select("id", "v")
    salted = salted_join(big, small, "k", n_salt=4, how="left").select("id", "v")
    assert sorted(map(tuple, plain.collect())) == \
        sorted(map(tuple, salted.collect()))


def test_salted_join_inner(spark):
    big = spark.range(0, 500).select(
        F.lit("hot").alias("k"), "id")  # one hot key
    small = spark.createDataFrame([("hot", 1)], "k string, v int")
    out = salted_join(big, small, "k", n_salt=8, how="inner")
    assert out.count() == 500


def test_all_triples_is_parquet_backed_and_cleaned(spark):
    """The shared consumption-side triple table (round 6) is a REAL
    graph-partitioned parquet table written by the checkpointed runner
    into a scratch dir (durable — no localCheckpoint lineage truncation
    to lose with an executor), and clear_caches() removes the scratch."""
    from aopwiki_spark import kgqueries as K
    t = K._all_triples(spark, "/root/testdata/sf0.001")
    assert t.columns == ["graph", "subj", "pred", "obj"]
    assert t.count() > 0
    dirs = list(K._TRIPLES_DIRS.values())
    assert dirs
    assert all(os.path.isdir(os.path.join(d, "triples")) for d in dirs)
    K.clear_caches()
    assert not K._TRIPLES_DIRS
    assert not any(os.path.isdir(d) for d in dirs)


def test_span_kind_coverage_ratchet(spark, smoke_dir):
    """Reference test layer 7: every span kind present in the corpus is
    consumed by the parser (or the media module), and coverage never
    regresses below the committed ratchet baseline."""
    import json
    import os
    from aopwiki_spark.qc import span_kind_coverage
    from aopwiki_spark.session import read_docs
    base = json.load(open(os.path.join(
        os.path.dirname(__file__), "..", "fixtures",
        "coverage-ratchet-baseline.json")))
    cov = span_kind_coverage(read_docs(spark, smoke_dir)).collect()
    unconsumed = [(r["etype"], r["kind"]) for r in cov if not r["consumed"]]
    assert unconsumed == [], f"unconsumed span kinds: {unconsumed}"
    pct = 100.0 * sum(r["consumed"] for r in cov) / len(cov)
    assert pct >= base["min_coverage_pct"]
    # the smoke corpus is tiny; the kind-count floor is ratcheted at the
    # correctness scale by the kg_span_coverage oracle (88 rows at sf0.01)
