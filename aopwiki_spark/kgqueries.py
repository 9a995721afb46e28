"""KG-construction queries (SURVEY.md §2 operator inventory) with DuckDB
SQL oracles over the flat doc_spans twin + dimension parquet.

Every query returns the DISTINCT triple slice its engine stage produces
(triple-SET semantics, matching the reference's rdflib graph dedup), so the
driver's order-insensitive compare is exact.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from aopwiki_spark import fs as FS
from aopwiki_spark import pipeline as P
from aopwiki_spark import triples as T
from aopwiki_spark.parse import BO_PREFIX, BP_PREFIX
from aopwiki_spark.queries import ORACLE_CORPUS, _corpus, register


def _inp(spark, sf_dir, cfg=None) -> P.Inputs:
    return P.shared_inputs(spark, _corpus(sf_dir), cfg)


_TRIPLES_CACHE: dict = {}
_TRIPLES_DIRS: dict = {}


def _all_triples(spark, sf_dir):
    """ONE materialized triple table per (session, corpus), shared by the
    audit-family queries (counts, property audit, shape violations, VoID)
    and the SPARQL consumption corpus.

    Materialization is the production runner (run_pipeline_checkpointed)
    writing the graph-partitioned parquet table into a scratch dir, read
    back as a flat scan — the consumption-side analogue of the reference
    loading its written TTLs into Virtuoso (the queries then run against
    the LOADED store, not the construction lineage). The runner writes
    each graph part as its own job: one union of every part ships an
    MB-scale task binary to every task (measured ~30 s vs ~13 s at
    sf0.1). The parquet read gives every family query graph partition
    pruning + predicate pushdown at the scan.

    Scratch placement (deployment seam): ``AOPWIKI_ENDPOINT_SCRATCH``
    names the parent the endpoint table is written under — any
    ``fs.py``-routable URI (``file:///...`` or a bare path locally; a
    shared-filesystem/object-store URI on a cluster, where every executor
    must reach the table). The local default is the node-local ``/dev/shm``
    fast path, which is valid ONLY for single-node sessions (bench/gate):
    on a multi-executor cluster a driver-local tmpfs is not a shared write
    target, and tmpfs pages compete with executor memory — set the env.
    Scratch dirs are removed by clear_caches()."""
    key = (id(spark), _corpus(sf_dir))
    if key not in _TRIPLES_CACHE:
        scratch_root = os.environ.get("AOPWIKI_ENDPOINT_SCRATCH")
        if scratch_root:
            import uuid
            out = FS.join(scratch_root,
                          f"aopwiki-endpoint-{uuid.uuid4().hex[:12]}")
            FS.get_io(out, spark).makedirs(out)
        else:
            import tempfile
            out = tempfile.mkdtemp(
                prefix="aopwiki-endpoint-",
                dir="/dev/shm" if os.path.isdir("/dev/shm") else None)
        P.run_pipeline_checkpointed(spark, _corpus(sf_dir), out)
        _TRIPLES_DIRS[key] = out
        _TRIPLES_CACHE[key] = (
            spark.read.parquet(FS.join(out, "triples"))
            .select("graph", "subj", "pred", "obj"))
    return _TRIPLES_CACHE[key]


def _rp(name: str) -> str:
    return f"read_parquet('{ORACLE_CORPUS}/{name}.parquet')"


# ---------------------------------------------------------------------------
# SQL fragment toolkit
# ---------------------------------------------------------------------------

SP = f"sp AS (SELECT * FROM {_rp('doc_spans')})"
W = "w AS (SELECT doc_id, text AS wiki FROM sp WHERE kind = 'wiki_id')"


def _pivot(etype: str, kinds: list[str], name: str) -> str:
    cases = ",\n    ".join(
        f"max(CASE WHEN kind = '{k}' THEN text END) AS {k}" for k in kinds)
    return (f"{name} AS (SELECT doc_id,\n    {cases}\n"
            f"  FROM sp WHERE etype = '{etype}' GROUP BY doc_id)")


def _ll(x: str) -> str:
    """Long-literal lexical form with HTML strip."""
    return f"'\"\"\"' || regexp_replace({x}, '<[^>]+>', '', 'g') || '\"\"\"'"


def _q(x: str) -> str:
    return f"'\"' || {x} || '\"'"


def _u(selects: list[str]) -> str:
    body = "\nUNION ALL\n".join(selects)
    return f"SELECT DISTINCT subj, pred, obj FROM (\n{body}\n)"


# pre-built fragments (f-string expressions cannot hold backslashes/quotes)
_REFVAL = "regexp_replace(sp.text, '^[^|]*\\|', '')"
_LL_REFVAL = _ll(_REFVAL)


CHEM_IDENT = ("chem AS (SELECT doc_id, casrn, inchikey, preferred_name, "
              "dsstox_id,\n  CASE WHEN casrn NOT LIKE '%NOCAS%' "
              "THEN 'cas:' || casrn ELSE '\"' || casrn || '\"' END AS ident,"
              "\n  'inchikey:' || CASE WHEN inchikey = '' THEN 'None' "
              "ELSE inchikey END AS ik\n  FROM (SELECT doc_id,"
              "\n    max(CASE WHEN kind='casrn' THEN text END) AS casrn,"
              "\n    max(CASE WHEN kind='inchikey' THEN text END) AS inchikey,"
              "\n    max(CASE WHEN kind='preferred_name' THEN text END) AS preferred_name,"
              "\n    max(CASE WHEN kind='dsstox_id' THEN text END) AS dsstox_id"
              "\n  FROM sp WHERE etype='chemical' GROUP BY doc_id))")

TAX_IDENT = ("tax AS (SELECT doc_id,\n"
             "  max(CASE WHEN kind='tax_source' THEN text END) AS src,\n"
             "  max(CASE WHEN kind='tax_source_id' THEN text END) AS sid,\n"
             "  max(CASE WHEN kind='title' THEN text END) AS name\n"
             "  FROM sp WHERE etype='taxonomy' GROUP BY doc_id),\n"
             "taxi AS (SELECT doc_id, src, sid, name,\n"
             "  CASE WHEN src='NCBI' THEN 'ncbitaxon:' || sid\n"
             "       ELSE '\"' || sid || '\"' END AS ident FROM tax)")


def _comp_ident_case(prefix_map: dict, fallback: str) -> str:
    whens = "\n    ".join(
        f"WHEN src = '{k}' THEN '{pfx}' || substr(sid, {off + 1})"
        for k, (pfx, off) in prefix_map.items())
    return f"CASE {whens}\n    ELSE {fallback} END"


BP_IDENT = ("bp AS (SELECT doc_id,\n"
            "  max(CASE WHEN kind='comp_source' THEN text END) AS src,\n"
            "  max(CASE WHEN kind='comp_name' THEN text END) AS name,\n"
            "  max(CASE WHEN kind='comp_source_id' THEN text END) AS sid\n"
            "  FROM sp WHERE etype='bioprocess' GROUP BY doc_id),\n"
            "bpi AS (SELECT doc_id, src, name,\n  "
            + _comp_ident_case(BP_PREFIX, "sid") + " AS ident FROM bp)")

BO_IDENT = ("bo AS (SELECT doc_id,\n"
            "  max(CASE WHEN kind='comp_source' THEN text END) AS src,\n"
            "  max(CASE WHEN kind='comp_name' THEN text END) AS name,\n"
            "  max(CASE WHEN kind='comp_source_id' THEN text END) AS sid\n"
            "  FROM sp WHERE etype='bioobject' GROUP BY doc_id),\n"
            "boi AS (SELECT doc_id, src, name,\n  "
            + _comp_ident_case(BO_PREFIX, "'\"' || sid || '\"'")
            + " AS ident FROM bo)")

BA_IDENT = ("ba AS (SELECT doc_id,\n"
            "  max(CASE WHEN kind='comp_source' THEN text END) AS src,\n"
            "  max(CASE WHEN kind='comp_name' THEN text END) AS name\n"
            "  FROM sp WHERE etype='bioaction' GROUP BY doc_id),\n"
            "bai AS (SELECT doc_id, src, name, '\"' || name || '\"' AS ident "
            "FROM ba)")


# ===========================================================================
# AOP block
# ===========================================================================

_AOP_KINDS = ["title", "short_name", "abstract", "background", "authors",
              "source", "created", "modified", "wiki_status", "oecd_status",
              "saaop_status", "wiki_license", "oa_description",
              "oa_ke_essentiality", "oa_applicability", "oa_woe",
              "oa_quantitative", "potential_applications"]

_UNION_1 = _u([
    "SELECT s AS subj, 'a' AS pred, 'aopo:AdverseOutcomePathway' AS obj FROM a",
    "SELECT s, 'dc:identifier', s FROM a",
    "SELECT s, 'rdfs:label', '\"AOP ' || wiki || '\"' FROM a",
    "SELECT s, 'rdfs:seeAlso', page FROM a",
    "SELECT s, 'foaf:page', page FROM a",
    "SELECT s, 'dc:title', " + _q("coalesce(title, '')") + " FROM a",
    f"SELECT s, 'dcterms:alternative', {_q('short_name')} FROM a",
    f"SELECT s, 'dc:source', {_q('source')} FROM a",
    f"SELECT s, 'dcterms:created', {_q('created')} FROM a",
    f"SELECT s, 'dcterms:modified', {_q('modified')} FROM a",
    f"SELECT s, 'dc:description', {_ll('background')} FROM a WHERE background IS NOT NULL",
    f"""SELECT a.s, 'dc:description', {_LL_REFVAL}
     FROM sp JOIN a ON a.doc_id = sp.doc_id
     WHERE sp.kind IN ('mie_ref', 'ao_ref')
       AND {_REFVAL} <> ''""",
    f"SELECT s, 'nci:C25217', {_ll('oa_description')} FROM a WHERE oa_description IS NOT NULL",
    f"SELECT s, 'nci:C48192', {_ll('oa_ke_essentiality')} FROM a WHERE oa_ke_essentiality IS NOT NULL",
    f"SELECT s, 'aopo:AopContext', {_ll('oa_applicability')} FROM a WHERE oa_applicability IS NOT NULL",
    f"SELECT s, 'aopo:has_evidence', {_ll('oa_woe')} FROM a WHERE oa_woe IS NOT NULL",
    f"SELECT s, 'edam:operation_3799', {_ll('oa_quantitative')} FROM a WHERE oa_quantitative IS NOT NULL",
    f"SELECT s, 'nci:C25725', {_ll('potential_applications')} FROM a WHERE potential_applications IS NOT NULL",
    f"SELECT s, 'dc:creator', {_ll('authors')} FROM a WHERE authors IS NOT NULL",
    f"SELECT s, 'dcterms:accessRights', {_q('wiki_status')} FROM a WHERE wiki_status IS NOT NULL",
    f"SELECT s, 'dcterms:abstract', {_ll('abstract')} FROM a WHERE abstract IS NOT NULL",
    f"SELECT s, 'nci:C25688', {_q('oecd_status')} FROM a WHERE oecd_status IS NOT NULL",
    f"SELECT s, 'nci:C25688', {_q('saaop_status')} FROM a WHERE saaop_status IS NOT NULL",
    """SELECT s, 'dcterms:license',
       CASE wiki_license
         WHEN 'BY-SA' THEN '<https://creativecommons.org/licenses/by-sa/4.0/>'
         WHEN 'ARR' THEN '<https://rightsstatements.org/page/InC/1.0/>' END
     FROM a WHERE wiki_license IN ('BY-SA', 'ARR')""",
    f"""SELECT a.s, 'pato:0000047', {_q("split_part(sp.text, '|', 2)")}
     FROM sp JOIN a ON a.doc_id = sp.doc_id
     WHERE sp.kind = 'sex_applicability'""",
    f"""SELECT a.s, 'aopo:LifeStageContext', {_q("split_part(sp.text, '|', 2)")}
     FROM sp JOIN a ON a.doc_id = sp.doc_id WHERE sp.kind = 'life_stage'""",
])

_AOP_SQL = f"""
WITH {SP}, {W},
{_pivot('aop', _AOP_KINDS, 'p')},
a AS (SELECT p.*, w.wiki, 'aop:' || w.wiki AS s,
      '<https://identifiers.org/aop/' || w.wiki || '>' AS page
      FROM p JOIN w USING (doc_id))
{_UNION_1}
"""


@register("kg_aop_block", _AOP_SQL)
def q_kg_aop_block(spark, sf_dir):
    return T.aop_block_triples(_inp(spark, sf_dir).ents["aops"]).distinct()


# ===========================================================================
# KE block
# ===========================================================================

_KE_KINDS = ["title", "short_name", "bio_organization_level", "description",
             "measurement_methodology", "evidence_taxonomic", "source",
             "cell_term", "organ_term"]

_CELL_CASE = """CASE WHEN split_part(cell_term, '|', 1) = 'CL'
      THEN 'cl:' || substr(split_part(cell_term, '|', 3), 4)
     WHEN split_part(cell_term, '|', 1) = 'UBERON'
      THEN 'uberon:' || substr(split_part(cell_term, '|', 3), 8)
     ELSE '"' || split_part(cell_term, '|', 3) || '"' END"""
_ORGAN_CASE = """CASE WHEN split_part(organ_term, '|', 1) = 'UBERON'
      THEN 'uberon:' || substr(split_part(organ_term, '|', 3), 8)
     ELSE '"' || split_part(organ_term, '|', 3) || '"' END"""

_UNION_2 = _u([
    "SELECT s AS subj, 'a' AS pred, 'aopo:KeyEvent' AS obj FROM k",
    "SELECT s, 'dc:identifier', s FROM k",
    "SELECT s, 'rdfs:label', '\"KE ' || wiki || '\"' FROM k",
    "SELECT s, 'foaf:page', page FROM k",
    "SELECT s, 'rdfs:seeAlso', page FROM k",
    f"SELECT s, 'dc:title', {_q('title')} FROM k",
    f"SELECT s, 'dcterms:alternative', {_q('short_name')} FROM k",
    f"SELECT s, 'dc:source', {_q('source')} FROM k",
    f"SELECT s, 'dc:description', {_ll('description')} FROM k WHERE description IS NOT NULL",
    f"SELECT s, 'mmo:0000000', {_ll('measurement_methodology')} FROM k WHERE measurement_methodology IS NOT NULL",
    "SELECT s, 'nci:C25664', '\"\"\"' || bio_organization_level || '\"\"\"' FROM k",
    f"SELECT s, 'nci:C17469', {_ll('evidence_taxonomic')} FROM k WHERE evidence_taxonomic IS NOT NULL",
    f"""SELECT k.s, 'pato:0000047', {_q("split_part(sp.text, '|', 2)")}
     FROM sp JOIN k ON k.doc_id = sp.doc_id WHERE sp.kind = 'sex_applicability'""",
    f"""SELECT k.s, 'aopo:LifeStageContext', {_q("split_part(sp.text, '|', 2)")}
     FROM sp JOIN k ON k.doc_id = sp.doc_id WHERE sp.kind = 'life_stage'""",
    f"SELECT s, 'aopo:CellTypeContext', {_CELL_CASE} FROM k WHERE cell_term IS NOT NULL",
    f"SELECT s, 'aopo:OrganContext', {_ORGAN_CASE} FROM k WHERE organ_term IS NOT NULL",
    """SELECT k.s, 'aopo:hasBiologicalEvent',
       '<' || k.wiki || '_bioevent_' || bev.idx || '>'
     FROM bev JOIN k ON k.doc_id = bev.doc_id""",
])

_KE_SQL = f"""
WITH {SP}, {W},
{_pivot('ke', _KE_KINDS, 'p')},
k AS (SELECT p.*, w.wiki, 'aop.events:' || w.wiki AS s,
      '<https://identifiers.org/aop.events/' || w.wiki || '>' AS page
      FROM p JOIN w USING (doc_id)),
bev AS (SELECT sp.doc_id, sp.text,
        row_number() OVER (PARTITION BY sp.doc_id ORDER BY sp.offset) - 1 AS idx
        FROM sp WHERE sp.etype = 'ke' AND sp.kind = 'bio_event')
{_UNION_2}
"""


@register("kg_ke_block", _KE_SQL)
def q_kg_ke_block(spark, sf_dir):
    return T.ke_block_triples(_inp(spark, sf_dir).ents["kes"]).distinct()


# ===========================================================================
# KER block
# ===========================================================================

_KER_KINDS = ["upstream_ke", "downstream_ke", "source", "created", "modified",
              "description", "bio_plausibility", "empirical_support",
              "uncertainties", "evidence_collection", "modulating_factors",
              "evidence_taxonomic", "qu_description", "qu_response_response",
              "qu_time_scale", "qu_feedback_loops"]

_KER_WOE = [("bio_plausibility", "nci:C80263"),
            ("empirical_support", "edam:data_2042"),
            ("uncertainties", "nci:C71478"),
            ("evidence_collection", "nci:C103159"),
            ("modulating_factors", "nci:C68821"),
            ("evidence_taxonomic", "nci:C17469"),
            ("qu_description", "edam:operation_3799"),
            ("qu_response_response", "edam:operation_3438"),
            ("qu_time_scale", "nci:C25207"),
            ("qu_feedback_loops", "nci:C25343")]

_UNION_3 = _u([
    "SELECT s AS subj, 'a' AS pred, 'aopo:KeyEventRelationship' AS obj FROM r",
    "SELECT s, 'dc:identifier', s FROM r",
    "SELECT s, 'rdfs:label', '\"KER ' || wiki || '\"' FROM r",
    "SELECT s, 'foaf:page', page FROM r",
    "SELECT s, 'rdfs:seeAlso', page FROM r",
    f"SELECT s, 'dcterms:created', {_q('created')} FROM r",
    f"SELECT s, 'dcterms:modified', {_q('modified')} FROM r",
    """SELECT r.s, 'aopo:has_upstream_key_event', 'aop.events:' || w.wiki
     FROM r JOIN w ON w.doc_id = r.upstream_ke""",
    """SELECT r.s, 'aopo:has_downstream_key_event', 'aop.events:' || w.wiki
     FROM r JOIN w ON w.doc_id = r.downstream_ke""",
    f"SELECT s, 'dc:description', {_ll('description')} FROM r WHERE description IS NOT NULL",
    *[
        f"SELECT s, '{pred}', replace({_ll(kind)}, '\\', '') "
        f"FROM r WHERE {kind} IS NOT NULL"
        for kind, pred in _KER_WOE
    ],
    f"""SELECT r.s, 'pato:0000047', {_q("split_part(sp.text, '|', 2)")}
     FROM sp JOIN r ON r.doc_id = sp.doc_id WHERE sp.kind = 'sex_applicability'""",
    f"""SELECT r.s, 'aopo:LifeStageContext', {_q("split_part(sp.text, '|', 2)")}
     FROM sp JOIN r ON r.doc_id = sp.doc_id WHERE sp.kind = 'life_stage'""",
])

_KER_SQL = f"""
WITH {SP}, {W},
{_pivot('ker', _KER_KINDS, 'p')},
r AS (SELECT p.*, w.wiki, 'aop.relationships:' || w.wiki AS s,
      '<https://identifiers.org/aop.relationships/' || w.wiki || '>' AS page
      FROM p JOIN w USING (doc_id))
{_UNION_3}
"""


@register("kg_ker_block", _KER_SQL)
def q_kg_ker_block(spark, sf_dir):
    inp = _inp(spark, sf_dir)
    return T.ker_block_triples(inp.ents["kers"], inp.ents["registry"]).distinct()


# ===========================================================================
# Taxonomy: applicability links + NCBI taxon blocks
# ===========================================================================

_UNION_4 = _u([
    """SELECT pref.pfx || w.wiki AS subj, 'ncbitaxon:131567' AS pred,
       taxi.ident AS obj
     FROM sp
     JOIN pref ON pref.etype = sp.etype
     JOIN w ON w.doc_id = sp.doc_id
     JOIN taxi ON taxi.doc_id = split_part(sp.text, '|', 1)
     WHERE sp.kind = 'taxonomy_ref'""",
    "SELECT ident, 'a', 'ncbitaxon:131567' FROM taxi WHERE ident NOT LIKE '%\"%'",
    "SELECT ident, 'dc:identifier', ident FROM taxi WHERE ident NOT LIKE '%\"%'",
    f"SELECT ident, 'dc:title', {_q('name')} FROM taxi WHERE ident NOT LIKE '%\"%'",
    f"SELECT ident, 'dc:source', {_q('src')} FROM taxi WHERE ident NOT LIKE '%\"%' AND src IS NOT NULL",
])

_TAX_SQL = f"""
WITH {SP}, {W}, {TAX_IDENT},
pref AS (SELECT 'aop' AS etype, 'aop:' AS pfx UNION ALL
         SELECT 'ke', 'aop.events:' UNION ALL
         SELECT 'ker', 'aop.relationships:')
{_UNION_4}
"""


@register("kg_taxonomy", _TAX_SQL)
def q_kg_taxonomy(spark, sf_dir):
    return T.taxonomy_triples(_inp(spark, sf_dir).ents).distinct()


# ===========================================================================
# Stressor block
# ===========================================================================

_UNION_5 = _u([
    "SELECT s AS subj, 'a' AS pred, 'nci:C54571' AS obj FROM st",
    "SELECT s, 'dc:identifier', s FROM st",
    "SELECT s, 'rdfs:label', '\"Stressor ' || wiki || '\"' FROM st",
    "SELECT s, 'foaf:page', page FROM st",
    f"SELECT s, 'dc:title', {_q('title')} FROM st",
    f"SELECT s, 'dcterms:created', {_q('created')} FROM st",
    f"SELECT s, 'dcterms:modified', {_q('modified')} FROM st",
    f"SELECT s, 'dc:description', {_ll('description')} FROM st WHERE description IS NOT NULL",
])

_STR_SQL = f"""
WITH {SP}, {W},
{_pivot('stressor', ['title', 'description', 'created', 'modified'], 'p')},
st AS (SELECT p.*, w.wiki, 'aop.stressor:' || w.wiki AS s,
       '<https://identifiers.org/aop.stressor/' || w.wiki || '>' AS page
       FROM p JOIN w USING (doc_id))
{_UNION_5}
"""


@register("kg_stressor_block", _STR_SQL)
def q_kg_stressor_block(spark, sf_dir):
    return T.stressor_block_triples(
        _inp(spark, sf_dir).ents["stressors"]).distinct()


# ===========================================================================
# Component blocks (bioprocess / bioobject / cell / organ)
# ===========================================================================

_UNION_6 = _u([
    "SELECT ident AS subj, 'a' AS pred, 'go:0008150' AS obj FROM bpi",
    "SELECT ident, 'dc:identifier', ident FROM bpi",
    f"SELECT ident, 'dc:title', {_q('name')} FROM bpi",
    f"SELECT ident, 'dc:source', {_q('src')} FROM bpi",
    "SELECT ident, 'a', 'pato:0001241' FROM boi WHERE ident NOT LIKE '%N/A%' AND ident NOT LIKE '%TAIR%'",
    "SELECT ident, 'dc:identifier', ident FROM boi WHERE ident NOT LIKE '%N/A%' AND ident NOT LIKE '%TAIR%'",
    f"SELECT ident, 'dc:title', {_q('name')} FROM boi WHERE ident NOT LIKE '%N/A%' AND ident NOT LIKE '%TAIR%'",
    f"SELECT ident, 'dc:source', {_q('src')} FROM boi WHERE ident NOT LIKE '%N/A%' AND ident NOT LIKE '%TAIR%'",
    "SELECT ident, 'a', 'aopo:CellTypeContext' FROM cterm WHERE ident NOT LIKE '%\"%'",
    "SELECT ident, 'dc:identifier', ident FROM cterm WHERE ident NOT LIKE '%\"%'",
    "SELECT ident, 'dc:title', name FROM cterm WHERE ident NOT LIKE '%\"%'",
    "SELECT ident, 'dc:source', src FROM cterm WHERE ident NOT LIKE '%\"%'",
    "SELECT ident, 'a', 'aopo:OrganContext' FROM oterm WHERE ident NOT LIKE '%\"%'",
    "SELECT ident, 'dc:identifier', ident FROM oterm WHERE ident NOT LIKE '%\"%'",
    "SELECT ident, 'dc:title', name FROM oterm WHERE ident NOT LIKE '%\"%'",
    "SELECT ident, 'dc:source', src FROM oterm WHERE ident NOT LIKE '%\"%'",
])

_COMP_SQL = f"""
WITH {SP}, {BP_IDENT}, {BO_IDENT},
kterm AS (SELECT doc_id, kind, text,
          CAST(split_part(doc_id, '-', 2) AS INT) AS iid
          FROM sp WHERE etype = 'ke' AND kind IN ('cell_term', 'organ_term')),
cterm AS (SELECT
    CASE WHEN split_part(text,'|',1) = 'CL' THEN 'cl:' || substr(split_part(text,'|',3), 4)
         WHEN split_part(text,'|',1) = 'UBERON' THEN 'uberon:' || substr(split_part(text,'|',3), 8)
         ELSE '"' || split_part(text,'|',3) || '"' END AS ident,
    arg_min('"' || split_part(text,'|',1) || '"', iid) AS src,
    arg_min('"' || split_part(text,'|',2) || '"', iid) AS name
  FROM kterm WHERE kind = 'cell_term' GROUP BY 1),
oterm AS (SELECT
    CASE WHEN split_part(text,'|',1) = 'UBERON' THEN 'uberon:' || substr(split_part(text,'|',3), 8)
         ELSE '"' || split_part(text,'|',3) || '"' END AS ident,
    arg_min('"' || split_part(text,'|',1) || '"', iid) AS src,
    arg_min('"' || split_part(text,'|',2) || '"', iid) AS name
  FROM kterm WHERE kind = 'organ_term' GROUP BY 1)
{_UNION_6}
"""


@register("kg_components", _COMP_SQL)
def q_kg_components(spark, sf_dir):
    inp = _inp(spark, sf_dir)
    return T.component_block_triples(inp.ents, inp.ents["kes"]).distinct()


# ===========================================================================
# Biological events
# ===========================================================================

_UNION_7 = _u([
    "SELECT be_uri AS subj, 'a' AS pred, 'aopo:BiologicalEvent' AS obj FROM ev",
    "SELECT be_uri, 'aopo:hasProcess', bp_ident FROM ev WHERE bp_ident IS NOT NULL",
    "SELECT be_uri, 'aopo:hasObject', bo_ident FROM ev WHERE bo_ident IS NOT NULL",
    "SELECT be_uri, 'aopo:hasAction', ba_ident FROM ev WHERE ba_ident IS NOT NULL",
    "SELECT ke_s, 'go:0008150', bp_ident FROM ev WHERE bp_ident IS NOT NULL",
    "SELECT ke_s, 'pato:0001241', bo_ident FROM ev WHERE bo_ident IS NOT NULL",
    "SELECT ke_s, 'pato:0000001', ba_ident FROM ev WHERE ba_ident IS NOT NULL",
])

_BEV_SQL = f"""
WITH {SP}, {W}, {BP_IDENT}, {BO_IDENT}, {BA_IDENT},
bev AS (SELECT sp.doc_id, w.wiki,
        row_number() OVER (PARTITION BY sp.doc_id ORDER BY sp.offset) - 1 AS idx,
        split_part(sp.text, '|', 1) AS bp_doc,
        split_part(sp.text, '|', 2) AS bo_doc,
        split_part(sp.text, '|', 3) AS ba_doc
        FROM sp JOIN w ON w.doc_id = sp.doc_id
        WHERE sp.etype = 'ke' AND sp.kind = 'bio_event'),
ev AS (SELECT bev.*, '<' || wiki || '_bioevent_' || idx || '>' AS be_uri,
       'aop.events:' || wiki AS ke_s,
       bpi.ident AS bp_ident, boi.ident AS bo_ident, bai.ident AS ba_ident
       FROM bev
       LEFT JOIN bpi ON bpi.doc_id = bev.bp_doc
       LEFT JOIN boi ON boi.doc_id = bev.bo_doc
       LEFT JOIN bai ON bai.doc_id = bev.ba_doc)
{_UNION_7}
"""


@register("kg_bioevents", _BEV_SQL)
def q_kg_bioevents(spark, sf_dir):
    inp = _inp(spark, sf_dir)
    return T.bioevent_triples(inp.ents["kes"], inp.ents).distinct()


# ===========================================================================
# Containment + back-links (incl. the 2-hop stressor traversal and the
# salted stressor->chemical fan-out)
# ===========================================================================

_UNION_8 = _u([
    """SELECT 'aop:' || ake.aop_wiki AS subj, 'aopo:has_key_event' AS pred,
       'aop.events:' || w.wiki AS obj FROM ake JOIN w ON w.doc_id = ake.ke_doc""",
    """SELECT 'aop:' || amie.aop_wiki, 'aopo:has_molecular_initiating_event',
       'aop.events:' || w.wiki FROM amie JOIN w ON w.doc_id = amie.ke_doc""",
    """SELECT 'aop:' || aao.aop_wiki, 'aopo:has_adverse_outcome',
       'aop.events:' || w.wiki FROM aao JOIN w ON w.doc_id = aao.ke_doc""",
    """SELECT 'aop:' || aker.aop_wiki, 'aopo:has_key_event_relationship',
       'aop.relationships:' || w.wiki FROM aker JOIN w ON w.doc_id = aker.ker_doc""",
    """SELECT 'aop:' || astr.aop_wiki, 'nci:C54571',
       'aop.stressor:' || w.wiki FROM astr JOIN w ON w.doc_id = astr.str_doc""",
    """SELECT 'aop.events:' || kstr.ke_wiki, 'nci:C54571',
       'aop.stressor:' || w.wiki FROM kstr JOIN w ON w.doc_id = kstr.str_doc""",
    """SELECT 'aop.events:' || w.wiki, 'dcterms:isPartOf',
       'aop:' || ake.aop_wiki FROM ake JOIN w ON w.doc_id = ake.ke_doc""",
    """SELECT 'aop.relationships:' || w.wiki, 'dcterms:isPartOf',
       'aop:' || aker.aop_wiki FROM aker JOIN w ON w.doc_id = aker.ker_doc""",
    """SELECT 'aop.stressor:' || schem.str_wiki, 'aopo:has_chemical_entity',
       chem.ident FROM schem JOIN chem ON chem.doc_id = schem.chem_doc""",
    """SELECT chem.ident, 'dcterms:isPartOf', 'aop.stressor:' || schem.str_wiki
     FROM schem JOIN chem ON chem.doc_id = schem.chem_doc
     WHERE chem.ident NOT LIKE '%\"%'""",
    """SELECT 'aop.stressor:' || w.wiki, 'dcterms:isPartOf',
       'aop.events:' || kstr.ke_wiki FROM kstr JOIN w ON w.doc_id = kstr.str_doc""",
    """SELECT 'aop.stressor:' || w.wiki, 'dcterms:isPartOf',
       'aop:' || ake.aop_wiki
     FROM kstr JOIN w ON w.doc_id = kstr.str_doc
     JOIN ake ON ake.ke_doc = kstr.ke_doc""",
    """SELECT 'aop.stressor:' || w.wiki, 'dcterms:isPartOf',
       'aop:' || astr.aop_wiki FROM astr JOIN w ON w.doc_id = astr.str_doc""",
])

_CONT_SQL = f"""
WITH {SP}, {W}, {CHEM_IDENT},
ake AS (  -- AOP -> KE (ke_ref U mie U ao)
  SELECT DISTINCT wa.wiki AS aop_wiki, sp.doc_id AS aop_doc,
         split_part(sp.text, '|', 1) AS ke_doc
  FROM sp JOIN w wa ON wa.doc_id = sp.doc_id
  WHERE sp.etype = 'aop' AND sp.kind IN ('ke_ref', 'mie_ref', 'ao_ref')),
amie AS (SELECT wa.wiki AS aop_wiki, split_part(sp.text, '|', 1) AS ke_doc
  FROM sp JOIN w wa ON wa.doc_id = sp.doc_id
  WHERE sp.etype = 'aop' AND sp.kind = 'mie_ref'),
aao AS (SELECT wa.wiki AS aop_wiki, split_part(sp.text, '|', 1) AS ke_doc
  FROM sp JOIN w wa ON wa.doc_id = sp.doc_id
  WHERE sp.etype = 'aop' AND sp.kind = 'ao_ref'),
aker AS (SELECT wa.wiki AS aop_wiki, split_part(sp.text, '|', 1) AS ker_doc
  FROM sp JOIN w wa ON wa.doc_id = sp.doc_id
  WHERE sp.etype = 'aop' AND sp.kind = 'ker_ref'),
astr AS (SELECT wa.wiki AS aop_wiki, split_part(sp.text, '|', 1) AS str_doc
  FROM sp JOIN w wa ON wa.doc_id = sp.doc_id
  WHERE sp.etype = 'aop' AND sp.kind = 'stressor_ref'),
kstr AS (SELECT wk.wiki AS ke_wiki, sp.doc_id AS ke_doc,
         split_part(sp.text, '|', 1) AS str_doc
  FROM sp JOIN w wk ON wk.doc_id = sp.doc_id
  WHERE sp.etype = 'ke' AND sp.kind = 'stressor_ref'),
schem AS (SELECT ws.wiki AS str_wiki, split_part(sp.text, '|', 1) AS chem_doc
  FROM sp JOIN w ws ON ws.doc_id = sp.doc_id
  WHERE sp.etype = 'stressor' AND sp.kind = 'chemical_ref')
{_UNION_8}
"""


@register("kg_containment_backlinks", _CONT_SQL)
def q_kg_containment(spark, sf_dir):
    return T.containment_and_backlink_triples(
        _inp(spark, sf_dir).ents).distinct()


# ===========================================================================
# Chemical blocks + mapped-identifier blocks
# ===========================================================================

_CHEM_XREF_UNNESTS = "\nUNION ALL\n".join(
    f"""SELECT x.x AS xref, '{pred}' AS pred, {off} AS off, '{label}' AS label
      FROM {{dim}} d JOIN chem ON chem.casrn = d.cas,
      LATERAL unnest(d.{db}) AS x(x)
      WHERE chem.ident LIKE 'cas:%'"""
    for db, pred, off, label in T.CHEM_XREF_SPEC)

_UNION_9 = _u([
    "SELECT ident AS subj, 'dc:identifier' AS pred, ident AS obj FROM real",
    "SELECT ident, 'a', 'cheminf:000000' FROM real",
    "SELECT ident, 'a', 'cheminf:000446' FROM real",
    f"SELECT ident, 'cheminf:000446', {_q('casrn')} FROM real",
    "SELECT ident, 'cheminf:000059', ik FROM real WHERE ik <> 'inchikey:None'",
    f"SELECT ident, 'dc:title', {_q('preferred_name')} FROM real WHERE preferred_name IS NOT NULL",
    "SELECT ident, 'cheminf:000568', 'comptox:' || dsstox_id FROM real WHERE dsstox_id IS NOT NULL",
    f"SELECT ident, 'dcterms:alternative', {_q('syn')} FROM syn",
    "SELECT ik, 'dc:source', '\"InChIKey\"' FROM chem",
    "SELECT 'comptox:' || dsstox_id, 'dc:source', '\"CompTox\"' FROM chem WHERE dsstox_id IS NOT NULL",
    "SELECT ident, 'dc:source', '\"CAS\"' FROM real",
    "SELECT xref, 'a', pred FROM xr",
    "SELECT xref, pred, '\"' || substr(xref, off + 1) || '\"' FROM xr",
    "SELECT xref, 'dc:identifier', '\"' || xref || '\"' FROM xr",
    "SELECT xref, 'dc:source', '\"' || label || '\"' FROM xr",
])

_CHEM_SQL = f"""
WITH {SP}, {CHEM_IDENT},
real AS (SELECT * FROM chem WHERE ident LIKE 'cas:%'),
syn AS (SELECT c.ident, substr(sp.text, 1, length(sp.text) - 1) AS syn
  FROM sp JOIN chem c ON c.doc_id = sp.doc_id
  WHERE sp.kind = 'synonym' AND c.ident LIKE 'cas:%'),
xr AS ({_CHEM_XREF_UNNESTS.format(dim=_rp('chem_xref_dim'))})
{_UNION_9}
"""


@register("kg_chemical_blocks", _CHEM_SQL)
def q_kg_chemical_blocks(spark, sf_dir):
    return T.chemical_block_triples(_inp(spark, sf_dir).chem_linked).distinct()


# ===========================================================================
# Enriched graph
# ===========================================================================

_PRO_EXTRACT = f"""
prolist AS (SELECT DISTINCT boi.ident AS pr_id FROM boi WHERE boi.src = 'PR'),
pm AS (SELECT p.pr_id, p.target FROM {_rp('promapping_dim')} p
       JOIN prolist USING (pr_id)),
pro_x AS (
  SELECT pr_id, 'hgnc:' || regexp_extract(target, 'HGNC:([^,\t]+)', 1) AS xref
  FROM pm WHERE target LIKE '%HGNC:%'
  UNION ALL
  SELECT pr_id, 'ncbigene:' || regexp_extract(target, 'NCBIGene:([^,\t]+)', 1)
  FROM pm WHERE target LIKE '%NCBIGene:%'
  UNION ALL
  SELECT pr_id, 'uniprot:' || regexp_extract(split_part(target, ',', 1),
                                             'UniProtKB:(.+)', 1)
  FROM pm WHERE target LIKE '%UniProtKB:%')
"""

_UNION_10 = _u([
    "SELECT subj, 'skos:exactMatch' AS pred, obj FROM allx",
    "SELECT subj, 'owl:sameAs', obj FROM allx",
])

_ENR_SQL = f"""
WITH {SP}, {CHEM_IDENT}, {BO_IDENT}, {_PRO_EXTRACT.strip().rstrip(',')},
cx AS (SELECT chem.ident AS subj, x.x AS obj
  FROM {_rp('chem_xref_dim')} d JOIN chem ON chem.casrn = d.cas,
  LATERAL unnest(d.chebi || d.chemspider || d.wikidata || d.chembl
                 || d.pubchem || d.drugbank || d.kegg || d.lipidmaps
                 || d.hmdb) AS x(x)
  WHERE chem.ident LIKE 'cas:%'),
px AS (SELECT pr_id AS subj, xref AS obj FROM pro_x),
allx AS (SELECT * FROM cx UNION ALL SELECT * FROM px)
{_UNION_10}
"""


@register("kg_enriched", _ENR_SQL)
def q_kg_enriched(spark, sf_dir):
    return P.enriched_graph(_inp(spark, sf_dir)).distinct()


# ===========================================================================
# Gene mentions (UDF vs reference-semantics fixture) + genes graph
# ===========================================================================

@register("kg_gene_mentions", f"""
SELECT DISTINCT subject AS subj, hgnc_id
FROM {_rp('expected_gene_mentions')}
""")
def q_kg_gene_mentions(spark, sf_dir):
    """The Arrow-batched 3-stage matcher vs the fixture precomputed by the
    independent pure-Python reference-semantics implementation."""
    return P.gene_associations(_inp(spark, sf_dir)).distinct()


_GENE_BLOCKS = """
hg AS (SELECT DISTINCT hgnc_id FROM mentions),
sym AS (SELECT 'hgnc:' || hgnc_id AS hgnc_id, symbol
        FROM {hgnc_dim} WHERE symbol NOT LIKE '%@%'),
hgs AS (SELECT hg.hgnc_id, coalesce(sym.symbol, substr(hg.hgnc_id, 6)) AS symbol
        FROM hg LEFT JOIN sym USING (hgnc_id)),
gx AS (SELECT 'hgnc:' || hgnc_id AS hgnc_id,
        list_transform(entrez, e -> 'ncbigene:' || e)
        || list_transform(ensembl, e -> 'ensembl:' || e)
        || list_transform(uniprot, u -> 'uniprot:' || u) AS xrefs,
        list_transform(entrez, e -> 'ncbigene:' || e) AS xe,
        list_transform(ensembl, e -> 'ensembl:' || e) AS xn,
        list_transform(uniprot, u -> 'uniprot:' || u) AS xu
       FROM {gene_xref_dim}),
fx AS (SELECT hg.hgnc_id, coalesce(gx.xrefs, []) AS xrefs,
        coalesce(gx.xe, []) AS xe, coalesce(gx.xn, []) AS xn,
        coalesce(gx.xu, []) AS xu
       FROM hg LEFT JOIN gx USING (hgnc_id)),
ent AS (SELECT DISTINCT x.x AS xref FROM fx, LATERAL unnest(fx.xe) x(x)),
ens AS (SELECT DISTINCT x.x AS xref FROM fx, LATERAL unnest(fx.xn) x(x)),
uni AS (SELECT DISTINCT x.x AS xref FROM fx, LATERAL unnest(fx.xu) x(x))
"""

_UNION_11 = _u([
    "SELECT DISTINCT subject AS subj, 'edam:data_1025' AS pred, hgnc_id AS obj FROM mentions",
    "SELECT fx.hgnc_id, 'skos:exactMatch', x.x FROM fx, LATERAL unnest(fx.xrefs) x(x)",
    "SELECT fx.hgnc_id, 'owl:sameAs', x.x FROM fx, LATERAL unnest(fx.xrefs) x(x)",
    "SELECT hgnc_id, 'a', 'edam:data_2298' FROM hgs",
    "SELECT hgnc_id, 'a', 'edam:data_1025' FROM hgs",
    f"SELECT hgnc_id, 'rdfs:label', {_q('symbol')} FROM hgs",
    f"SELECT hgnc_id, 'edam:data_2298', {_q('substr(hgnc_id, 6)')} FROM hgs",
    f"SELECT hgnc_id, 'dc:identifier', {_q('hgnc_id')} FROM hgs",
    "SELECT hgnc_id, 'dc:source', '\"HGNC\"' FROM hgs",
    "SELECT xref, 'a', 'edam:data_1027' FROM ent",
    "SELECT xref, 'a', 'edam:data_1025' FROM ent",
    f"SELECT xref, 'edam:data_1027', {_q('substr(xref, 10)')} FROM ent",
    f"SELECT xref, 'dc:identifier', {_q('xref')} FROM ent",
    "SELECT xref, 'dc:source', '\"Entrez Gene\"' FROM ent",
    "SELECT xref, 'a', 'edam:data_1033' FROM ens",
    "SELECT xref, 'a', 'edam:data_1025' FROM ens",
    f"SELECT xref, 'edam:data_1033', {_q('substr(xref, 9)')} FROM ens",
    f"SELECT xref, 'dc:identifier', {_q('xref')} FROM ens",
    "SELECT xref, 'dc:source', '\"Ensembl\"' FROM ens",
    "SELECT xref, 'a', 'edam:data_2291' FROM uni",
    "SELECT xref, 'a', 'edam:data_1025' FROM uni",
    f"SELECT xref, 'edam:data_2291', {_q('substr(xref, 9)')} FROM uni",
    f"SELECT xref, 'dc:identifier', {_q('xref')} FROM uni",
    "SELECT xref, 'dc:source', '\"UniProt\"' FROM uni",
])

_GENES_SQL = f"""
WITH mentions AS (SELECT subject, hgnc_id FROM {_rp('expected_gene_mentions')}),
{_GENE_BLOCKS.strip().format(hgnc_dim=_rp('hgnc_dim'),
                             gene_xref_dim=_rp('gene_xref_dim'))}
{_UNION_11}
"""


@register("kg_genes_graph", _GENES_SQL)
def q_kg_genes_graph(spark, sf_dir):
    return P.genes_graph(_inp(spark, sf_dir)).distinct()


# ===========================================================================
# Main-file gene id blocks (PRO mapping path)
# ===========================================================================

_UNION_12 = _u([
    "SELECT hgnc_id AS subj, 'a' AS pred, 'edam:data_2298' AS obj FROM hgs",
    "SELECT hgnc_id, 'a', 'edam:data_1025' FROM hgs",
    f"SELECT hgnc_id, 'rdfs:label', {_q('symbol')} FROM hgs",
    f"SELECT hgnc_id, 'edam:data_2298', {_q('substr(hgnc_id, 6)')} FROM hgs",
    f"SELECT hgnc_id, 'dc:identifier', {_q('hgnc_id')} FROM hgs",
    "SELECT hgnc_id, 'dc:source', '\"HGNC\"' FROM hgs",
    "SELECT xref, 'a', 'edam:data_1027' FROM ent",
    "SELECT xref, 'a', 'edam:data_1025' FROM ent",
    f"SELECT xref, 'edam:data_1027', {_q('substr(xref, 10)')} FROM ent",
    f"SELECT xref, 'dc:identifier', {_q('xref')} FROM ent",
    "SELECT xref, 'dc:source', '\"Entrez Gene\"' FROM ent",
    "SELECT xref, 'a', 'edam:data_2291' FROM uni",
    "SELECT xref, 'a', 'edam:data_1025' FROM uni",
    "SELECT xref, 'rdfs:seeAlso', '<http://purl.uniprot.org/uniprot/' || substr(xref, 9) || '>' FROM uni",
    "SELECT xref, 'owl:sameAs', '<http://purl.uniprot.org/uniprot/' || substr(xref, 9) || '>' FROM uni",
    f"SELECT xref, 'edam:data_2291', {_q('substr(xref, 9)')} FROM uni",
    f"SELECT xref, 'dc:identifier', {_q('xref')} FROM uni",
    "SELECT xref, 'dc:source', '\"UniProt\"' FROM uni",
])

_MAIN_GENE_SQL = f"""
WITH {SP}, {BO_IDENT}, {_PRO_EXTRACT.strip().rstrip(',')},
hg AS (SELECT DISTINCT xref AS hgnc_id FROM pro_x WHERE xref LIKE 'hgnc:%'),
sym AS (SELECT 'hgnc:' || hgnc_id AS hgnc_id, symbol
        FROM {_rp('hgnc_dim')} WHERE symbol NOT LIKE '%@%'),
hgs AS (SELECT hg.hgnc_id, coalesce(sym.symbol, substr(hg.hgnc_id, 6)) AS symbol
        FROM hg LEFT JOIN sym USING (hgnc_id)),
ent AS (SELECT DISTINCT xref FROM pro_x WHERE xref LIKE 'ncbigene:%'),
uni AS (SELECT DISTINCT xref FROM pro_x WHERE xref LIKE 'uniprot:%')
{_UNION_12}
"""


@register("kg_main_gene_ids", _MAIN_GENE_SQL)
def q_kg_main_gene_ids(spark, sf_dir):
    return P.main_gene_id_triples(_inp(spark, sf_dir)).distinct()


# ===========================================================================
# Full-graph triple counts (A4): per-graph counts vs the union of every
# per-part oracle above + the typelabels fixture — the whole engine is
# oracle-covered, not rows-only.
# ===========================================================================

_TL_CSV = f"read_csv('{P.FIXTURES_DIR}/typelabels.txt', header=true)"
_TLQ = "'\"\"\"'"  # SQL literal for the long-literal wrapper
_TYPELABEL_SQL = (
    "SELECT URI AS subj, 'rdfs:label' AS pred, '\"' || label || '\"' AS obj\n"
    f"FROM {_TL_CSV}\n"
    "UNION ALL\n"
    f"SELECT URI, 'dc:description', {_TLQ} || description || {_TLQ}\n"
    f"FROM {_TL_CSV}\nWHERE description <> '-'")

_MAIN_PART_SQLS = [_AOP_SQL, _KE_SQL, _KER_SQL, _TAX_SQL, _STR_SQL,
                   _COMP_SQL, _BEV_SQL, _CONT_SQL, _CHEM_SQL,
                   _TYPELABEL_SQL, _MAIN_GENE_SQL]

_COUNTS_SQL = f"""
SELECT 'enriched' AS graph, count(*)::BIGINT AS n_triples FROM ({_ENR_SQL})
UNION ALL
SELECT 'genes', count(*)::BIGINT FROM ({_GENES_SQL})
UNION ALL
SELECT 'main', count(*)::BIGINT FROM (
  SELECT DISTINCT subj, pred, obj FROM (
{" UNION ALL ".join(f"SELECT * FROM ({s})" for s in _MAIN_PART_SQLS)}
  ))
ORDER BY graph
"""


@register("kg_triple_counts", _COUNTS_SQL)
def q_kg_triple_counts(spark, sf_dir):
    """Per-graph distinct triple counts of the WHOLE engine (A4/A7 QC
    metric), oracle = union of all per-part SQL oracles."""
    t = _all_triples(spark, sf_dir)
    return (t.groupBy("graph").agg(F.count("*").alias("n_triples"))
            .orderBy("graph"))


# ===========================================================================
# Property-population audit (A8, reference scripts/property_audit.py)
# ===========================================================================

_ALL_GRAPH_SQL = f"""
SELECT 'main' AS graph, subj, pred, obj FROM (
  SELECT DISTINCT subj, pred, obj FROM (
{" UNION ALL ".join(f"SELECT * FROM ({s})" for s in _MAIN_PART_SQLS)}
  ))
UNION ALL SELECT 'enriched', subj, pred, obj FROM ({_ENR_SQL})
UNION ALL SELECT 'genes', subj, pred, obj FROM ({_GENES_SQL})
"""

_AUDIT_SQL = f"""
WITH t AS ({_ALL_GRAPH_SQL}),
ty AS (SELECT graph, subj, obj AS type FROM t WHERE pred = 'a'),
inst AS (SELECT graph, type, count(DISTINCT subj) AS n_instances
         FROM ty GROUP BY 1, 2),
per AS (SELECT t.graph, ty.type, t.pred,
               count(DISTINCT t.subj) AS n_subjects
        FROM t JOIN ty ON ty.graph = t.graph AND ty.subj = t.subj
        GROUP BY 1, 2, 3),
aud AS (SELECT per.graph, per.type, per.pred,
               n_subjects::BIGINT AS n_subjects,
               n_instances::BIGINT AS n_instances,
               round(100.0 * n_subjects / n_instances, 1) AS pct
        FROM per JOIN inst ON inst.graph = per.graph
                          AND inst.type = per.type)
SELECT graph, type, pred, n_subjects, n_instances, pct,
       CASE WHEN pred IN ('a', 'dc:identifier', 'dc:title')
                 OR n_subjects >= n_instances
            THEN 'Violation' ELSE 'Warning' END AS severity
FROM aud
"""


@register("kg_property_audit", _AUDIT_SQL)
def q_kg_property_audit(spark, sf_dir):
    """Per-(graph, type, predicate) population report with SHACL-severity
    classification (A8)."""
    from aopwiki_spark.qc import property_audit
    # shared persisted union: the audit self-joins the triple table
    t = _all_triples(spark, sf_dir)
    a = property_audit(t)
    return a.select("graph", "type", "pred",
                    F.col("n_subjects").cast("bigint").alias("n_subjects"),
                    F.col("n_instances").cast("bigint").alias("n_instances"),
                    "pct", "severity")


# ===========================================================================
# ARR-licence opt-in filter (P4, reference pipeline.py:182-202): AOP scope
# only — AOP blocks and AOP-sourced containment/back-link edges disappear;
# KE/KER/stressor blocks stay.
# ===========================================================================

def _arr_inp(spark, sf_dir) -> P.Inputs:
    from aopwiki_spark.config import PipelineConfig
    return _inp(spark, sf_dir, PipelineConfig(filter_arr_aops=True))


def _prod_inp(spark, sf_dir) -> P.Inputs:
    from aopwiki_spark.config import production_config
    return _inp(spark, sf_dir, production_config())


_AOP_ARR_SQL = _AOP_SQL.replace(
    "FROM p JOIN w USING (doc_id))",
    "FROM p JOIN w USING (doc_id) WHERE coalesce(p.wiki_license, '') <> 'ARR')")

_ARROK = ("aopok AS (SELECT doc_id FROM sp WHERE etype='aop' GROUP BY doc_id"
          " HAVING coalesce(max(CASE WHEN kind='wiki_license' THEN text END),"
          " '') <> 'ARR'),")

_CONT_ARR_SQL = _CONT_SQL.replace(
    f"WITH {SP}, {W},", f"WITH {SP}, {W}, {_ARROK}").replace(
    "WHERE sp.etype = 'aop'",
    "WHERE sp.etype = 'aop' AND sp.doc_id IN (SELECT doc_id FROM aopok)")


@register("kg_aop_block_arrfilter", _AOP_ARR_SQL)
def q_kg_aop_block_arr(spark, sf_dir):
    return T.aop_block_triples(_arr_inp(spark, sf_dir).ents["aops"]).distinct()


@register("kg_containment_arrfilter", _CONT_ARR_SQL)
def q_kg_containment_arr(spark, sf_dir):
    return T.containment_and_backlink_triples(
        _arr_inp(spark, sf_dir).ents).distinct()


# ===========================================================================
# Flag-on production path (enable_bern2 + enable_iri_labels — the weekly
# production configuration, rdfgeneration.yml:55)
# ===========================================================================

_FLAGON = _rp("expected_flagon_mentions")


@register("kg_gene_mentions_flagon", f"""
SELECT DISTINCT subject AS subj, hgnc_id
FROM {_FLAGON} WHERE src = 'union'
""")
def q_kg_gene_mentions_flagon(spark, sf_dir):
    """The regex U sorted-NER additive union (edam:data_1025 flag-on) vs
    the fixture precomputed by the independent pure-Python NER oracle."""
    return P.gene_associations(_prod_inp(spark, sf_dir)).distinct()


@register("kg_gene_provenance", f"""
SELECT DISTINCT subject AS subj,
  CASE src WHEN 'regex' THEN ':geneDetectedByRegex'
           ELSE ':geneDetectedByNER' END AS pred,
  hgnc_id AS obj
FROM {_FLAGON} WHERE src IN ('regex', 'ner')
""")
def q_kg_gene_provenance(spark, sf_dir):
    """Per-method provenance predicates (writer.py:212-244)."""
    tbl = _prod_inp(spark, sf_dir).assoc()
    rx = (tbl.where(F.size("genes_regex") > 0)
          .select("subj", F.lit(":geneDetectedByRegex").alias("pred"),
                  F.explode("genes_regex").alias("obj")))
    nr = (tbl.where(F.size("genes_ner") > 0)
          .select("subj", F.lit(":geneDetectedByNER").alias("pred"),
                  F.explode("genes_ner").alias("obj")))
    return rx.unionByName(nr).distinct()


def _sq(s: str) -> str:
    return "'" + s.replace("'", "''") + "'"


def _static_values(rows) -> str:
    vals = ",\n  ".join(f"({_sq(s)}, {_sq(p)}, {_sq(o)})" for s, p, o in rows)
    return f"SELECT * FROM (VALUES\n  {vals}) t(subj, pred, obj)"


from aopwiki_spark import labels as LBL  # noqa: E402

# gene label map: xref IRI -> min(symbol) over the found genes that HAVE a
# dictionary symbol (iri_labels.py:77-115, D-02)
_GLM = """
glm AS (SELECT x.x AS iri, min(sym.symbol) AS name
        FROM fx JOIN sym ON sym.hgnc_id = fx.hgnc_id,
        LATERAL unnest(fx.xrefs) x(x)
        GROUP BY 1)
"""

_GENES_FLAGON_SQL = f"""
WITH mentions AS (SELECT subject, hgnc_id FROM {_FLAGON} WHERE src='union'),
{_GENE_BLOCKS.strip().format(hgnc_dim=_rp('hgnc_dim'),
                             gene_xref_dim=_rp('gene_xref_dim'))},
{_GLM.strip()}
{_u([
    "SELECT DISTINCT subject AS subj, 'edam:data_1025' AS pred, hgnc_id AS obj FROM mentions",
    "SELECT fx.hgnc_id, 'skos:exactMatch', x.x FROM fx, LATERAL unnest(fx.xrefs) x(x)",
    "SELECT fx.hgnc_id, 'owl:sameAs', x.x FROM fx, LATERAL unnest(fx.xrefs) x(x)",
    "SELECT hgnc_id, 'a', 'edam:data_2298' FROM hgs",
    "SELECT hgnc_id, 'a', 'edam:data_1025' FROM hgs",
    f"SELECT hgnc_id, 'rdfs:label', {_q('symbol')} FROM hgs",
    f"SELECT hgnc_id, 'edam:data_2298', {_q('substr(hgnc_id, 6)')} FROM hgs",
    f"SELECT hgnc_id, 'dc:identifier', {_q('hgnc_id')} FROM hgs",
    "SELECT hgnc_id, 'dc:source', '" + '"HGNC"' + "' FROM hgs",
    "SELECT xref, 'a', 'edam:data_1027' FROM ent",
    "SELECT xref, 'a', 'edam:data_1025' FROM ent",
    f"SELECT xref, 'edam:data_1027', {_q('substr(xref, 10)')} FROM ent",
    f"SELECT xref, 'dc:identifier', {_q('xref')} FROM ent",
    "SELECT xref, 'dc:source', '" + '"Entrez Gene"' + "' FROM ent",
    "SELECT xref, 'a', 'edam:data_1033' FROM ens",
    "SELECT xref, 'a', 'edam:data_1025' FROM ens",
    f"SELECT xref, 'edam:data_1033', {_q('substr(xref, 9)')} FROM ens",
    f"SELECT xref, 'dc:identifier', {_q('xref')} FROM ens",
    "SELECT xref, 'dc:source', '" + '"Ensembl"' + "' FROM ens",
    "SELECT xref, 'a', 'edam:data_2291' FROM uni",
    "SELECT xref, 'a', 'edam:data_1025' FROM uni",
    f"SELECT xref, 'edam:data_2291', {_q('substr(xref, 9)')} FROM uni",
    f"SELECT xref, 'dc:identifier', {_q('xref')} FROM uni",
    "SELECT xref, 'dc:source', '" + '"UniProt"' + "' FROM uni",
    "SELECT subject, CASE src WHEN 'regex' THEN ':geneDetectedByRegex' "
    "ELSE ':geneDetectedByNER' END, hgnc_id FROM "
    + _FLAGON.join(["(SELECT * FROM ", ")"])
    + " WHERE src IN ('regex', 'ner')",
    _static_values(LBL.PROVENANCE_ACTIVITY_TRIPLES
                   + LBL.MINTED_PREDICATE_LABEL_TRIPLES),
    "SELECT iri, 'rdfs:label', '" + '"' + "' || name || '" + '"' + "' FROM glm",
])}
"""


@register("kg_genes_graph_flagon", _GENES_FLAGON_SQL)
def q_kg_genes_graph_flagon(spark, sf_dir):
    """The full GENES graph at the production configuration: association
    union, provenance predicates, PROV-O activity layer, minted-predicate
    labels, id blocks incl. NER-discovered genes, and gene xref labels."""
    return P.genes_graph(_prod_inp(spark, sf_dir)).distinct()


# ===========================================================================
# Main-graph IRI labels (J13/P7, enable_iri_labels)
# ===========================================================================

def _esc_sql(x: str) -> str:
    """The value-only Turtle escape (writer.py:114-130) in DuckDB SQL —
    backslash first, then quote, LF, CR, TAB."""
    e = f"replace({x}, '\\', '\\\\')"
    e = f"replace({e}, '\"', '\\\"')"
    e = f"replace({e}, chr(10), '\\n')"
    e = f"replace({e}, chr(13), '\\r')"
    e = f"replace({e}, chr(9), '\\t')"
    return e


def _lab(subj: str, name: str, frm: str) -> str:
    return (f"SELECT {subj} AS subj, 'rdfs:label' AS pred, "
            f"'\"' || {_esc_sql(name)} || '\"' AS obj FROM {frm}")


_PRED_LABEL_ROWS = [
    (p, "rdfs:label", '"' + lab + '"') for p, lab in
    LBL.EXTERNAL_PREDICATE_LABELS
    if p.split(":", 1)[0] in LBL.known_prefixes(P.FIXTURES_DIR)]

_CHEM_ALL_XREFS = ("d.chebi || d.chemspider || d.wikidata || d.chembl "
                   "|| d.pubchem || d.drugbank || d.kegg || d.lipidmaps "
                   "|| d.hmdb")

_IRI_LABELS_SQL = f"""
WITH {SP}, {W}, {TAX_IDENT}, {BP_IDENT}, {BO_IDENT}, {CHEM_IDENT},
kterm AS (SELECT doc_id, kind, text,
          CAST(split_part(doc_id, '-', 2) AS INT) AS iid
          FROM sp WHERE etype = 'ke' AND kind IN ('cell_term', 'organ_term')),
ctermb AS (SELECT
    CASE WHEN split_part(text,'|',1) = 'CL' THEN 'cl:' || substr(split_part(text,'|',3), 4)
         WHEN split_part(text,'|',1) = 'UBERON' THEN 'uberon:' || substr(split_part(text,'|',3), 8)
         ELSE '"' || split_part(text,'|',3) || '"' END AS ident,
    arg_min(split_part(text,'|',2), iid) AS name
  FROM kterm WHERE kind = 'cell_term' GROUP BY 1),
otermb AS (SELECT
    CASE WHEN split_part(text,'|',1) = 'UBERON' THEN 'uberon:' || substr(split_part(text,'|',3), 8)
         ELSE '"' || split_part(text,'|',3) || '"' END AS ident,
    arg_min(split_part(text,'|',2), iid) AS name
  FROM kterm WHERE kind = 'organ_term' GROUP BY 1),
chemname AS (SELECT * FROM chem
             WHERE preferred_name IS NOT NULL AND preferred_name <> ''),
chem_iris AS (
  SELECT ident AS iri, preferred_name AS name FROM chemname
    WHERE ident NOT LIKE '"%'
  UNION ALL SELECT ik, preferred_name FROM chemname
  UNION ALL SELECT 'comptox:' || dsstox_id, preferred_name FROM chemname
    WHERE dsstox_id IS NOT NULL
  UNION ALL SELECT x.x, c.preferred_name
    FROM {_rp('chem_xref_dim')} d JOIN chemname c ON c.casrn = d.cas,
    LATERAL unnest({_CHEM_ALL_XREFS}) x(x)
    WHERE c.ident LIKE 'cas:%'),
clm AS (SELECT iri, min(name) AS name FROM chem_iris GROUP BY 1),
{_PRO_EXTRACT.strip().rstrip(',')},
mentions AS (SELECT subject, hgnc_id FROM {_FLAGON} WHERE src='union'),
{_GENE_BLOCKS.strip().format(hgnc_dim=_rp('hgnc_dim'),
                             gene_xref_dim=_rp('gene_xref_dim'))},
{_GLM.strip()},
pro_subj AS (SELECT DISTINCT xref AS iri FROM pro_x
             WHERE xref LIKE 'ncbigene:%' OR xref LIKE 'uniprot:%')
{_u([
    _lab("ident", "name", "taxi WHERE ident NOT LIKE " + chr(39) + chr(37)
         + '"' + chr(37) + chr(39) + " AND name IS NOT NULL AND name <> ''"),
    _lab("ident", "name", "bpi WHERE name IS NOT NULL AND name <> ''"),
    _lab("ident", "name", "boi WHERE ident NOT LIKE '%N/A%' AND ident NOT "
         "LIKE '%TAIR%' AND name IS NOT NULL AND name <> ''"),
    _lab("ident", "name", "ctermb WHERE ident NOT LIKE " + chr(39) + chr(37)
         + '"' + chr(37) + chr(39) + " AND name IS NOT NULL AND name <> ''"),
    _lab("ident", "name", "otermb WHERE ident NOT LIKE " + chr(39) + chr(37)
         + '"' + chr(37) + chr(39) + " AND name IS NOT NULL AND name <> ''"),
    _lab("iri", "name", "clm"),
    _lab("p.iri", "glm.name", "pro_subj p JOIN glm ON glm.iri = p.iri"),
    _static_values(_PRED_LABEL_ROWS),
])}
"""


@register("kg_iri_labels", _IRI_LABELS_SQL)
def q_kg_iri_labels(spark, sf_dir):
    """The flag-gated main-graph rdfs:label surface at production config:
    component labels, inverted chem-name labels with min tiebreak + Turtle
    escaping, PRO-path gene xref labels, external predicate labels."""
    return P.main_label_triples(_prod_inp(spark, sf_dir)).distinct()


# ===========================================================================
# NER coverage buckets (A6/WR-03): ok + degraded + skipped partition the
# KE/KER set exactly; degraded comes from the per-run outage fact table
# (ner_el_mapper.py:981-1037 error path)
# ===========================================================================

_KE_SCAN = _pivot("ke", ["description"], "kne")
_KER_SCAN = _pivot("ker", ["description", "bio_plausibility",
                           "empirical_support"], "krn")

_NER_BUCKETS_SQL = f"""
WITH {SP}, {W}, {_KE_SCAN}, {_KER_SCAN},
og AS (SELECT subj FROM {_rp('ner_outage_dim')})
SELECT subj, ner_bucket FROM (
  SELECT 'aop.events:' || w.wiki AS subj,
    CASE WHEN coalesce(trim(description), '') = '' THEN 'skipped'
         WHEN 'aop.events:' || w.wiki IN (SELECT subj FROM og)
           THEN 'degraded'
         ELSE 'ok' END AS ner_bucket
  FROM kne JOIN w USING (doc_id)
  UNION ALL
  SELECT 'aop.relationships:' || w.wiki AS subj,
    CASE WHEN coalesce(trim(description), '') = ''
          AND coalesce(trim(bio_plausibility), '') = ''
          AND coalesce(trim(empirical_support), '') = '' THEN 'skipped'
         WHEN 'aop.relationships:' || w.wiki IN (SELECT subj FROM og)
           THEN 'degraded'
         ELSE 'ok' END AS ner_bucket
  FROM krn JOIN w USING (doc_id)
)
"""


@register("kg_ner_buckets", _NER_BUCKETS_SQL)
def q_kg_ner_buckets(spark, sf_dir):
    """Per-subject NER bucket at production config. Degraded keeps the
    regex baseline (asserted by the flagon fixture); the three buckets
    partition the KE/KER set exactly."""
    return _prod_inp(spark, sf_dir).assoc().select("subj", "ner_bucket")


# ===========================================================================
# SHACL-shape validation analogue (reference test layer 6:
# scripts/generate_shapes.py + scripts/run_shacl_validation.py): shapes are
# derived from the property audit (minCount 1 at severity Violation) and
# validated relationally — a violation is a typed subject missing a
# required predicate.
# ===========================================================================

_SHAPE_VIOLATIONS_SQL = f"""
WITH t AS ({_ALL_GRAPH_SQL}),
ty AS (SELECT graph, subj, obj AS type FROM t WHERE pred = 'a'),
inst AS (SELECT graph, type, count(DISTINCT subj) AS n_instances
         FROM ty GROUP BY 1, 2),
per AS (SELECT t.graph, ty.type, t.pred,
               count(DISTINCT t.subj) AS n_subjects
        FROM t JOIN ty ON ty.graph = t.graph AND ty.subj = t.subj
        GROUP BY 1, 2, 3),
req AS (SELECT per.graph, per.type, per.pred
        FROM per JOIN inst ON inst.graph = per.graph
                          AND inst.type = per.type
        WHERE per.pred IN ('a', 'dc:identifier', 'dc:title')
           OR 100.0 * n_subjects / n_instances >= 100.0),
reqpairs AS (SELECT ty.graph, ty.type, ty.subj, req.pred
             FROM ty JOIN req ON req.graph = ty.graph
                             AND req.type = ty.type),
have AS (SELECT DISTINCT graph, subj, pred FROM t)
SELECT rp.graph, rp.type, rp.subj, rp.pred AS missing_pred
FROM reqpairs rp LEFT JOIN have h
  ON h.graph = rp.graph AND h.subj = rp.subj AND h.pred = rp.pred
WHERE h.subj IS NULL
"""


@register("kg_shape_violations", _SHAPE_VIOLATIONS_SQL)
def q_kg_shape_violations(spark, sf_dir):
    """minCount-1 shape validation over the whole engine output: typed
    subjects missing a core-identity predicate (the only constraints that
    can fail by construction)."""
    from aopwiki_spark.qc import shape_violations
    t = _all_triples(spark, sf_dir)
    return shape_violations(t)


# ===========================================================================
# Span-kind coverage ratchet (reference test layer 7: coverage_audit.py +
# coverage-ratchet-baseline.json)
# ===========================================================================

def _consumed_values_sql() -> str:
    from aopwiki_spark.parse import CONSUMED_SPAN_KINDS
    rows = ",\n  ".join(f"('{et}', '{k}')"
                        for et, ks in sorted(CONSUMED_SPAN_KINDS.items())
                        for k in sorted(ks))
    return f"(VALUES\n  {rows}) cons(etype, kind)"


_SPAN_COVERAGE_SQL = f"""
WITH {SP},
g AS (SELECT etype, kind, count(*) AS n_spans FROM sp GROUP BY 1, 2)
SELECT g.etype, g.kind, g.n_spans,
       (cons.kind IS NOT NULL) AS consumed
FROM g LEFT JOIN {_consumed_values_sql()}
  ON cons.etype = g.etype AND cons.kind = g.kind
"""


@register("kg_span_coverage", _SPAN_COVERAGE_SQL)
def q_kg_span_coverage(spark, sf_dir):
    """Per-(etype, kind) span population with the parser's consumed flag
    (the coverage-ratchet audit surface)."""
    from aopwiki_spark.qc import span_kind_coverage
    from aopwiki_spark.session import read_docs
    return span_kind_coverage(read_docs(spark, _corpus(sf_dir)))


# ===========================================================================
# VoID dataset descriptor (S7 tail: writer.py:996-1066) — the run-date is
# injected (wall-clock-free) so the surface is driver-checkable.
# ===========================================================================

_VOID_DATE = "2026-01-01"
_SD_MODIFIED = "2026-01-01T00:00:00"

from aopwiki_spark.render import (service_description_triples,  # noqa: E402
                                  void_triples)

# static surface generated from the SAME list the engine emits (lock-step
# by construction); the per-subset void:triples counts stay relational.
_VOID_SQL = f"""
WITH t AS ({_ALL_GRAPH_SQL}),
c AS (SELECT graph, count(*) AS n FROM t GROUP BY 1)
{_static_values(void_triples({}, _VOID_DATE))}
UNION ALL
SELECT CASE graph WHEN 'main' THEN ':AOPWikiRDF.ttl'
                  WHEN 'enriched' THEN ':AOPWikiRDF-Enriched.ttl'
                  ELSE ':AOPWikiRDF-Genes.ttl' END,
       'void:triples', n::VARCHAR
FROM c WHERE n > 0
"""


@register("kg_void", _VOID_SQL)
def q_kg_void(spark, sf_dir):
    """VoID descriptor: static dataset metadata + per-subset void:triples
    counts derived from the materialized graphs (no collect — the count
    rows are generated relationally)."""
    from aopwiki_spark.render import void_triples
    t = _all_triples(spark, sf_dir)
    static = void_triples({}, _VOID_DATE)
    sdf = spark.createDataFrame(static, ["subj", "pred", "obj"])
    names = {"main": ":AOPWikiRDF.ttl",
             "enriched": ":AOPWikiRDF-Enriched.ttl",
             "genes": ":AOPWikiRDF-Genes.ttl"}
    m = F.create_map(*[F.lit(x) for kv in names.items() for x in kv])
    cnt = (t.groupBy("graph").agg(F.count("*").alias("n"))
           .where(F.col("n") > 0)
           .select(m[F.col("graph")].alias("subj"),
                   F.lit("void:triples").alias("pred"),
                   F.col("n").cast("string").alias("obj")))
    return sdf.unionByName(cnt)


@register("kg_service_desc", _static_values(
    service_description_triples(_SD_MODIFIED)))
def q_kg_service_desc(spark, sf_dir):
    """SPARQL ServiceDescription surface (writer.py:1072-1109): the static
    service contract with an injected dcterms:modified stamp; both sides
    derive from `render.service_description_triples` so the oracle checks
    presence + schema of the full surface."""
    return spark.createDataFrame(
        service_description_triples(_SD_MODIFIED),
        ["subj", "pred", "obj"])


# ===========================================================================
# Per-source label-coverage report (D-07, iri_labels.py:215-302): labeled vs
# unlabeled occurrence counts for every external xref IRI, bucketed by
# prefix scheme, at the flag-on production configuration.
# ===========================================================================

_SRC_CASE = ("CASE " + " ".join(
    f"WHEN starts_with(u.iri, '{p}') THEN '{s}'"
    for p, s in LBL.LABEL_SOURCE_PREFIXES) + " ELSE 'Other' END")

_LABEL_COVERAGE_SQL = f"""
WITH {SP}, {CHEM_IDENT},
chemname AS (SELECT * FROM chem
             WHERE preferred_name IS NOT NULL AND preferred_name <> ''),
chem_iris AS (
  SELECT ident AS iri, preferred_name AS name FROM chemname
    WHERE ident NOT LIKE '"%'
  UNION ALL SELECT ik, preferred_name FROM chemname
  UNION ALL SELECT 'comptox:' || dsstox_id, preferred_name FROM chemname
    WHERE dsstox_id IS NOT NULL
  UNION ALL SELECT x.x, c.preferred_name
    FROM {_rp('chem_xref_dim')} d JOIN chemname c ON c.casrn = d.cas,
    LATERAL unnest({_CHEM_ALL_XREFS}) x(x)
    WHERE c.ident LIKE 'cas:%'),
clm AS (SELECT iri, min(name) AS name FROM chem_iris GROUP BY 1),
mentions AS (SELECT subject, hgnc_id FROM {_FLAGON} WHERE src='union'),
{_GENE_BLOCKS.strip().format(hgnc_dim=_rp('hgnc_dim'),
                             gene_xref_dim=_rp('gene_xref_dim'))},
{_GLM.strip()},
chem_u AS (SELECT x.x AS iri
  FROM {_rp('chem_xref_dim')} d JOIN chem ON chem.casrn = d.cas,
  LATERAL unnest({_CHEM_ALL_XREFS}) x(x)
  WHERE chem.ident LIKE 'cas:%'),
gene_u AS (SELECT x.x AS iri FROM fx, LATERAL unnest(fx.xrefs) x(x)),
u AS (SELECT iri FROM chem_u UNION ALL SELECT iri FROM gene_u),
lm AS (SELECT DISTINCT iri FROM
       (SELECT iri FROM clm UNION ALL SELECT iri FROM glm)),
tg AS (SELECT {_SRC_CASE} AS source, (lm.iri IS NOT NULL) AS lab
       FROM u LEFT JOIN lm ON lm.iri = u.iri)
SELECT source, count(*) FILTER (WHERE lab)::BIGINT AS labeled,
       count(*) FILTER (WHERE NOT lab)::BIGINT AS unlabeled
FROM tg GROUP BY source
"""


@register("kg_label_coverage", _LABEL_COVERAGE_SQL)
def q_kg_label_coverage(spark, sf_dir):
    """The label-coverage-report per-source counts (A5 tail): the chem +
    found-gene xref IRI universe tagged against the combined label map."""
    inp = _prod_inp(spark, sf_dir)
    cov = LBL.label_coverage(P.coverage_iri_universe(inp),
                             P.combined_label_map(inp))
    return cov.select("source",
                      F.col("labeled").cast("bigint").alias("labeled"),
                      F.col("unlabeled").cast("bigint").alias("unlabeled"))


# ===========================================================================
# Downstream SPARQL query corpus (SPARQLQueries/SPARQLqueries:1-89) over the
# endpoint view — the consumption-side verification layer. Flag-off load
# (the committed-data baseline the reference's preflight runs first).
# ===========================================================================

from aopwiki_spark import sparqlcorpus as SC  # noqa: E402

_EV = (f"t AS MATERIALIZED (SELECT DISTINCT subj, pred, obj "
       f"FROM ({_ALL_GRAPH_SQL}))")


def _reg_sparql(name, sql):
    fn = SC.CORPUS[name]

    def runner(spark, sf_dir, fn=fn):
        return fn(spark, _all_triples(spark, sf_dir))
    runner.__name__ = f"q_{name}"
    runner.__doc__ = fn.__doc__
    register(name, sql)(runner)


# The four (metric, n)-shaped dataset-statistics queries of the corpus
# (profile, AOPO vocabulary usage, AOP-predicate reach, identifiers.org
# persistence — SPARQLqueries:1-24, 41, 43-45) register as ONE driver
# query: their metric names are disjoint, so the union loses nothing, and
# the driver's correctness artifact records at most 50 rows — round 3
# registered 53 queries and the last 3 were silently absent. The preflight
# gate (tools/preflight_downstream.py) still runs them individually via
# SC.CORPUS.
_AOPO_PATS = ",\n  ".join(f"('{p}')" for p in SC.AOPO_SUBJECT_PATTERNS)
_DATASET_STATS_SQL = f"""
WITH {_EV},
pats(metric) AS (VALUES {_AOPO_PATS}),
pfx AS (SELECT prefix
        FROM read_csv('{P.FIXTURES_DIR}/prefixes.csv', header=true)
        WHERE uri LIKE '%identifiers.org%'),
aops AS (SELECT DISTINCT subj FROM t
         WHERE pred = 'a' AND obj = 'aopo:AdverseOutcomePathway'),
per AS (SELECT p.metric, count(DISTINCT t.subj) AS n
        FROM pats p JOIN t ON starts_with(t.pred, p.metric) GROUP BY 1)
SELECT 'triples' AS metric, count(*)::BIGINT AS n FROM t
UNION ALL SELECT 'subjects', count(DISTINCT subj)::BIGINT FROM t
UNION ALL SELECT 'predicates', count(DISTINCT pred)::BIGINT FROM t
UNION ALL SELECT 'objects', count(DISTINCT obj)::BIGINT FROM t
UNION ALL
SELECT p.metric, coalesce(per.n, 0)::BIGINT AS n
FROM pats p LEFT JOIN per ON per.metric = p.metric
UNION ALL SELECT 'predicates_aopo',
  count(*) FILTER (WHERE starts_with(pred, 'aopo:'))::BIGINT FROM t
UNION ALL SELECT 'objects_aopo',
  count(*) FILTER (WHERE starts_with(obj, 'aopo:'))::BIGINT FROM t
UNION ALL SELECT 'aop_predicates', count(*)::BIGINT
FROM t JOIN aops USING (subj)
UNION ALL SELECT 'objects_identifiers_org', count(*)::BIGINT
FROM t JOIN pfx ON split_part(t.obj, ':', 1) = pfx.prefix
UNION ALL SELECT 'subjects_identifiers_org', count(*)::BIGINT
FROM t JOIN pfx ON split_part(t.subj, ':', 1) = pfx.prefix
"""


@register("kg_sparql_dataset_stats", _DATASET_STATS_SQL)
def q_kg_sparql_dataset_stats(spark, sf_dir):
    """Dataset-statistics slice of the downstream corpus: profile counts,
    AOPO vocabulary usage, AOP-predicate reach and identifiers.org
    persistence (SPARQLqueries:1-24,41,43-45) unioned on their shared
    (metric, n) shape."""
    t = _all_triples(spark, sf_dir)
    return (SC.sparql_profile(spark, t)
            .unionByName(SC.sparql_aopo_usage(spark, t))
            .unionByName(SC.sparql_aop_predicates(spark, t))
            .unionByName(SC.sparql_persistent_ids(spark, t)))


_TYPE_VALS = ",\n  ".join(f"('{x}')" for x in SC.SPARQL_TYPE_LIST)
_reg_sparql("kg_sparql_type_counts", f"""
WITH {_EV},
types(type) AS (VALUES {_TYPE_VALS}),
per AS (SELECT ty.type, count(DISTINCT t.subj) AS n
        FROM types ty JOIN t ON t.pred = 'a' AND t.obj = ty.type
        GROUP BY 1)
SELECT ty.type, coalesce(per.n, 0)::BIGINT AS n
FROM types ty LEFT JOIN per ON per.type = ty.type
""")

_PRO_TYPE_VALS = ",\n  ".join(f"('{x}')" for x in SC.PRO_GENE_TYPES)
_reg_sparql("kg_sparql_genes_pro", f"""
WITH {_EV},
types(type) AS (VALUES {_PRO_TYPE_VALS}),
pato AS (SELECT DISTINCT subj FROM t
         WHERE pred = 'a' AND obj = 'pato:0001241'),
sa AS (SELECT subj, obj AS target FROM t WHERE pred = 'owl:sameAs'),
ty AS (SELECT t.subj AS target, types.type
       FROM t JOIN types ON t.pred = 'a' AND t.obj = types.type),
per AS (SELECT ty.type, count(DISTINCT sa.target) AS n
        FROM pato JOIN sa ON sa.subj = pato.subj
        JOIN ty ON ty.target = sa.target GROUP BY 1)
SELECT types.type, coalesce(per.n, 0)::BIGINT AS n
FROM types LEFT JOIN per ON per.type = types.type
""")

_reg_sparql("kg_sparql_gene_mentions", f"""
WITH {_EV},
men AS (SELECT subj, obj AS gene FROM t WHERE pred = 'edam:data_1025'),
ke AS (SELECT DISTINCT subj FROM t
       WHERE pred = 'a' AND obj = 'aopo:KeyEvent'),
ker AS (SELECT DISTINCT subj FROM t
        WHERE pred = 'a' AND obj = 'aopo:KeyEventRelationship'),
sa AS (SELECT subj AS gene, obj AS x FROM t WHERE pred = 'owl:sameAs'),
g AS (SELECT DISTINCT gene FROM men),
xr AS (SELECT g.gene, sa.x FROM g JOIN sa ON sa.gene = g.gene)
SELECT 'kes_with_genes' AS metric, count(DISTINCT men.subj)::BIGINT AS n
FROM men JOIN ke USING (subj)
UNION ALL SELECT 'kers_with_genes', count(DISTINCT men.subj)::BIGINT
FROM men JOIN ker USING (subj)
UNION ALL SELECT 'gene_mention_objects', count(DISTINCT gene)::BIGINT FROM men
UNION ALL SELECT 'xref_data_1027', count(DISTINCT xr.x)::BIGINT
FROM xr JOIN (SELECT DISTINCT subj FROM t
              WHERE pred = 'a' AND obj = 'edam:data_1027') q ON q.subj = xr.x
UNION ALL SELECT 'xref_data_1033', count(DISTINCT xr.x)::BIGINT
FROM xr JOIN (SELECT DISTINCT subj FROM t
              WHERE pred = 'a' AND obj = 'edam:data_1033') q ON q.subj = xr.x
UNION ALL SELECT 'xref_data_2291', count(DISTINCT xr.x)::BIGINT
FROM xr JOIN (SELECT DISTINCT subj FROM t
              WHERE pred = 'a' AND obj = 'edam:data_2291') q ON q.subj = xr.x
""")

_AOP_LABEL_VALS = ", ".join(
    "'" + x.replace("'", "''") + "'" for x in SC.SPECIES_METHOD_AOP_LABELS)
_reg_sparql("kg_sparql_species_method", f"""
WITH {_EV},
lab AS (SELECT subj AS aop FROM t
        WHERE pred = 'rdfs:label' AND obj IN ({_AOP_LABEL_VALS})),
aty AS (SELECT DISTINCT subj AS aop FROM t
        WHERE pred = 'a' AND obj = 'aopo:AdverseOutcomePathway'),
hke AS (SELECT subj AS aop, obj AS ke FROM t
        WHERE pred = 'aopo:has_key_event'),
ktax AS (SELECT subj AS ke, obj AS taxon FROM t
         WHERE pred = 'ncbitaxon:131567'),
tty AS (SELECT DISTINCT subj AS taxon FROM t
        WHERE pred = 'a' AND obj = 'ncbitaxon:131567'),
ti AS (SELECT subj AS taxon, obj AS speciesname FROM t
       WHERE pred = 'dc:title'),
me AS (SELECT subj AS ke, obj AS method FROM t WHERE pred = 'mmo:0000000'),
base AS (SELECT lab.aop, hke.ke, ti.speciesname, me.method
  FROM lab JOIN aty USING (aop) JOIN hke USING (aop) JOIN ktax USING (ke)
  JOIN tty USING (taxon) JOIN ti USING (taxon) LEFT JOIN me USING (ke))
SELECT DISTINCT aop, ke,
  array_to_string(list_sort(list_distinct(list(speciesname))),
                  ' | ') AS speciesnames,
  method
FROM base GROUP BY aop, ke, method
""")


# ===========================================================================
# Federated query corpus (Federated queries:1-70): the SERVICE block
# becomes a broadcast external-set dim (aopwiki_spark/federated.py); the
# four queries register as ONE driver entry on a generic (q, k1, k2, v)
# shape — their q tags are disjoint, so the union is lossless, and the
# driver records at most 50 query rows.
# ===========================================================================

from aopwiki_spark import federated as FED  # noqa: E402

_CARC = ", ".join(f"'{d}'" for d in FED.GROUP_SLICES["carcinogen"])
_NEUR = ", ".join(f"'{d}'" for d in FED.GROUP_SLICES["neurotoxin"])
_SUBT = ", ".join(f"'{d}'" for d in FED.SUBTREE_SLICE)

_FED_SQL = f"""
WITH {_EV},
links AS (SELECT subj AS keker, obj AS taxon FROM t
          WHERE pred = 'ncbitaxon:131567'),
tty AS (SELECT DISTINCT subj AS taxon FROM t
        WHERE pred = 'a' AND obj = 'ncbitaxon:131567'),
sub AS (SELECT taxon FROM tty WHERE substr(md5(taxon), 1, 1) IN ({_SUBT})),
titles AS (SELECT subj, obj FROM t WHERE pred = 'dc:title'),
ts AS (
  SELECT 'taxon_subtree' AS q, l.taxon AS k1,
         array_to_string(list_sort(list_distinct(list(ti.obj))),
                         ' | ') AS k2,
         count(DISTINCT l.keker)::VARCHAR AS v
  FROM links l JOIN sub USING (taxon) JOIN tty USING (taxon)
  JOIN titles ti ON ti.subj = l.taxon
  GROUP BY l.taxon),
cty AS (SELECT DISTINCT subj AS chem FROM t
        WHERE pred = 'a' AND obj = 'cheminf:000000'),
ccas AS (SELECT subj AS chem, obj AS cas FROM t
         WHERE pred = 'cheminf:000446'),
ext_carc AS (SELECT DISTINCT obj AS cas FROM t
             WHERE pred = 'cheminf:000446'
               AND substr(md5(obj), 1, 1) IN ({_CARC})),
ext_neur AS (SELECT DISTINCT obj AS cas FROM t
             WHERE pred = 'cheminf:000446'
               AND substr(md5(obj), 1, 1) IN ({_NEUR})),
slice_carc AS (
  SELECT cc.cas, ti.obj AS chem_name, cc.chem
  FROM cty JOIN ccas cc USING (chem) JOIN ext_carc USING (cas)
  JOIN titles ti ON ti.subj = cc.chem),
slice_neur AS (
  SELECT cc.cas, ti.obj AS chem_name, cc.chem
  FROM cty JOIN ccas cc USING (chem) JOIN ext_neur USING (cas)
  JOIN titles ti ON ti.subj = cc.chem),
has_chem AS (SELECT subj AS stressor, obj AS chem FROM t
             WHERE pred = 'aopo:has_chemical_entity'),
carrier AS (SELECT subj AS ent, obj AS stressor FROM t
            WHERE pred = 'nci:C54571'),
ke_ty AS (SELECT DISTINCT subj AS ent FROM t
          WHERE pred = 'a' AND obj = 'aopo:KeyEvent'),
aop_ty AS (SELECT DISTINCT subj AS ent FROM t
           WHERE pred = 'a' AND obj = 'aopo:AdverseOutcomePathway'),
hops_ke AS (
  SELECT hc.chem, ti.obj AS title
  FROM has_chem hc JOIN carrier USING (stressor) JOIN ke_ty USING (ent)
  JOIN titles ti ON ti.subj = carrier.ent),
hops_aop AS (
  SELECT hc.chem, ti.obj AS title
  FROM has_chem hc JOIN carrier USING (stressor) JOIN aop_ty USING (ent)
  JOIN titles ti ON ti.subj = carrier.ent)
SELECT * FROM ts
UNION ALL
SELECT DISTINCT 'chem_group_carcinogen', cas, chem_name, '' FROM slice_carc
UNION ALL
SELECT DISTINCT 'chem_ke_carcinogen', s.cas, s.chem_name, h.title
FROM slice_carc s JOIN hops_ke h USING (chem)
UNION ALL
SELECT DISTINCT 'chem_aop_neurotoxin', s.cas, s.chem_name, h.title
FROM slice_neur s JOIN hops_aop h USING (chem)
"""


@register("kg_fed_corpus", _FED_SQL)
def q_kg_fed_corpus(spark, sf_dir):
    """The four federated consumer queries (UniProt taxonomy subtree;
    Wikidata chemical-group bare / via-stressor-to-KE / to-AOP) unioned
    on a generic (q, k1, k2, v) shape with disjoint q tags."""
    t = _all_triples(spark, sf_dir)
    ts = FED.fed_taxon_subtree(spark, t).select(
        F.lit("taxon_subtree").alias("q"), F.col("taxon").alias("k1"),
        F.col("names").alias("k2"), F.col("n").cast("string").alias("v"))
    cg = FED.fed_chem_group(spark, t).select(
        F.lit("chem_group_carcinogen").alias("q"),
        F.col("cas").alias("k1"), F.col("chem_name").alias("k2"),
        F.lit("").alias("v"))
    ck = FED.fed_chem_ke(spark, t).select(
        F.lit("chem_ke_carcinogen").alias("q"),
        F.col("cas").alias("k1"), F.col("chem_name").alias("k2"),
        F.col("ke_title").alias("v"))
    ca = FED.fed_chem_aop(spark, t).select(
        F.lit("chem_aop_neurotoxin").alias("q"),
        F.col("cas").alias("k1"), F.col("chem_name").alias("k2"),
        F.col("aop_title").alias("v"))
    return ts.unionByName(cg).unionByName(ck).unionByName(ca)


# ===========================================================================
# cache eviction (shared persisted unions are process-lifetime otherwise)
# ===========================================================================

def clear_caches():
    """Unpersist + drop every cached triple union this module pinned and
    every shared Inputs (:func:`pipeline.shared_inputs`, also behind
    ``build_all_triples``). Call at the end of a gate run
    (tools/check_oracles.py does) so a long-lived session reusing the
    module doesn't accumulate storage blocks — the failure mode
    `Inputs.cleanup()` exists to prevent."""
    for df in _TRIPLES_CACHE.values():
        SC.evict_view(df)
        try:
            df.unpersist()
        except Exception:
            pass
    _TRIPLES_CACHE.clear()
    for d in _TRIPLES_DIRS.values():
        # FS-routed (round 7): scratch may live under an
        # AOPWIKI_ENDPOINT_SCRATCH URI, not only a local tempdir
        try:
            FS.get_io(d).rmtree(d)
        except Exception:
            pass
    _TRIPLES_DIRS.clear()
    P.release_shared_inputs()


# ===========================================================================
# URI / identifier pattern validation (reference
# scripts/validation/validate_rdf_uris.py) — per-prefix valid/invalid/
# unknown CURIE counts over the whole engine output.
# ===========================================================================

from aopwiki_spark import qc as QC  # noqa: E402

_URI_PAT_VALS = ",\n  ".join(f"('{p}', '{r}')" for p, r in QC.URI_PATTERNS)

_URI_VALIDATION_SQL = f"""
WITH ag AS ({_ALL_GRAPH_SQL}),
pats(prefix, pattern) AS (VALUES {_URI_PAT_VALS}),
vals AS (SELECT subj AS v FROM ag
         UNION ALL SELECT pred FROM ag
         UNION ALL SELECT obj FROM ag),
cur AS (SELECT v, split_part(v, ':', 1) AS prefix FROM vals
        WHERE regexp_matches(v, '^[a-z][a-z0-9]*(\\.[a-z0-9]+)*:')),
j AS (SELECT cur.prefix, cur.v, pats.pattern
      FROM cur LEFT JOIN pats USING (prefix))
SELECT prefix,
  CASE WHEN pattern IS NULL THEN 'unknown'
       WHEN regexp_matches(v, pattern) THEN 'valid'
       ELSE 'invalid' END AS status,
  count(*)::BIGINT AS n
FROM j GROUP BY 1, 2
"""


@register("kg_uri_validation", _URI_VALIDATION_SQL)
def q_kg_uri_validation(spark, sf_dir):
    """Per-prefix identifier-pattern validation of every CURIE the engine
    emits (valid/invalid per the reference's expected patterns; 'unknown'
    for prefixes the reference declares no pattern for)."""
    return QC.uri_validation(_all_triples(spark, sf_dir))
