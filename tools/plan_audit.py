"""Physical-plan + property-population audit.

1. Property-population audit (SURVEY.md A8 analogue of
   `scripts/property_audit.py`): per predicate, distinct subjects, per graph.
2. `.explain("formatted")` dumps for the load-bearing plans and for
   bench.py's per-op queries (``bench.PER_OP_QUERIES``), so shuffle/
   broadcast/pushdown decisions are reviewable (written to PLANS.md).

Usage: python tools/plan_audit.py [corpus_dir]
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402


def explain_str(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def main():
    corpus = sys.argv[1] if len(sys.argv) > 1 else "synthdata/sf0.01"
    from aopwiki_spark import pipeline as P
    from aopwiki_spark import triples as T
    from aopwiki_spark.session import get_spark

    spark = get_spark("plan-audit", cpus=8, shuffle_partitions=8)
    inp = P.Inputs(spark, corpus)

    sections = []

    # ---- property audit ----
    t = P.build_all_triples(spark, corpus)
    audit = (t.groupBy("graph", "pred")
             .agg(F.countDistinct("subj").alias("n_subjects"),
                  F.count("*").alias("n_triples"))
             .orderBy("graph", F.desc("n_triples")))
    rows = audit.collect()
    lines = ["| graph | pred | subjects | triples |", "|---|---|---|---|"]
    lines += [f"| {r['graph']} | {r['pred']} | {r['n_subjects']} | "
              f"{r['n_triples']} |" for r in rows]
    sections.append("## Property-population audit (A8)\n\n"
                    + "\n".join(lines))

    # ---- plans ----
    plans = {
        "parse (map-only, zero shuffle expected)":
            inp.ents["aops"].drop("spans"),
        "containment + backlinks (broadcast resolve + salted fan-out)":
            T.containment_and_backlink_triples(inp.ents),
        "chemical linking (broadcast dictionary join expected)":
            T.chemical_block_triples(inp.chem_linked),
        "gene associations (single Arrow UDF stage)":
            P.gene_associations(inp),
    }
    # Downstream corpus queries run against the MATERIALIZED triple table
    # (what a consumer loads), not the live construction union — plan over
    # a parquet read-back so the dump shows the real scan shape: pred
    # filters pushed to the scan, tiny slices broadcast under AQE.
    import shutil
    import tempfile
    from aopwiki_spark import sparqlcorpus as SC
    tdir = tempfile.mkdtemp(prefix="plan-audit-triples-")
    try:
        t.write.mode("overwrite").partitionBy("graph").parquet(tdir)
        t_mat = spark.read.parquet(tdir)
        plans["downstream SPARQL flagship (over the materialized triple "
              "table: pushed pred filters, AQE-broadcast slices)"] = \
            SC.sparql_species_method(spark, t_mat)
        from aopwiki_spark import federated as FED
        plans["federated chem->stressor->AOP (broadcast external-set "
              "dim, pushed pred filters)"] = \
            FED.fed_chem_aop(spark, t_mat)
        from aopwiki_spark import media as MM
        payloads = spark.read.parquet(os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            "fixtures", "media_payloads.parquet"))
        plans["media real decode (semi-join prunes payload scan to "
              "referenced refs; map-only mapInPandas decode; features "
              "fan back to spans via equi-join)"] = \
            MM.extract_media_features(inp.docs, decoder="real",
                                      payloads=payloads)
        # ---- the per-op queries bench.py times (same list) ----
        td = os.environ.get("AOPWIKI_TESTDATA", "/root/testdata/sf0.001")
        if os.path.isdir(td):
            import __spark_entry__ as E
            from bench import PER_OP_QUERIES
            qs = E.queries()
            for qname in PER_OP_QUERIES:
                plans[f"{qname} (bench.py per-op query)"] = \
                    qs[qname](spark, td)
        for name, df in plans.items():
            sections.append(f"## {name}\n\n```\n{explain_str(df)}\n```")
    finally:
        # the materialized copy exists only so the explain shows the real
        # parquet scan shape — drop it once the plans have rendered
        shutil.rmtree(tdir, ignore_errors=True)

    with open("PLANS.md", "w") as fh:
        fh.write("# PLANS — physical plan audit (generated by "
                 "tools/plan_audit.py)\n\n" + "\n\n".join(sections) + "\n")
    print("wrote PLANS.md;", len(rows), "predicate rows")


if __name__ == "__main__":
    main()
