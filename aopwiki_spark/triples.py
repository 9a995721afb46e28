"""Graph materialization: entity DataFrames -> deduplicated
(graph, subj, pred, obj) triple table.

Re-expresses the reference writer's triple patterns
(`/root/reference/src/aopwiki_rdf/rdf/writer.py:251-958`) as declarative
column derivations: every entity row yields an array<struct<pred,obj>> built
entirely from JVM-side expressions (whole-stage codegen), exploded into long
form. Objects keep the reference's Turtle lexical forms inline (bare CURIEs,
``<iri>``, ``"literal"``, ``\"\"\"long literal\"\"\"``) so triple-set P/R vs
the reference is a string comparison.

Shuffle inventory (scale analysis, SURVEY.md §4):
  * scalar/array emission: map-only (no shuffle)
  * containment + back-link edges (J2/J12): joins against the entity-id
    registry — broadcast here; at 10^12 docs a shuffle hash join on doc_id
    with AQE skew splitting
  * stressor->chemical fan-out (J5): salted shuffle join (hot CAS)
  * cell/organ term first-seen dedup (writer.py:419-435): min_by aggregation
  * final ``dropDuplicates`` per graph: one hash-partition exchange on
    (graph, subj, pred, obj) — the only unavoidable global shuffle
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from aopwiki_spark.linking import salted_join
from aopwiki_spark.parse import strip_html

# writer.py:29-32
LICENCE_URI = {"BY-SA": "<https://creativecommons.org/licenses/by-sa/4.0/>",
               "ARR": "<https://rightsstatements.org/page/InC/1.0/>"}

# writer.py:674-708: db column -> (cheminf predicate, prefix len, source label)
CHEM_XREF_SPEC = [
    ("chebi", "cheminf:000407", 6, "ChEBI"),
    ("chemspider", "cheminf:000405", 11, "ChemSpider"),
    ("wikidata", "cheminf:000567", 9, "Wikidata"),
    ("chembl", "cheminf:000412", 16, "ChEMBL"),
    ("pubchem", "cheminf:000140", 17, "PubChem"),
    ("drugbank", "cheminf:000406", 9, "DrugBank"),
    ("kegg", "cheminf:000409", 14, "KEGG"),
    ("lipidmaps", "cheminf:000564", 10, "LIPID MAPS"),
    ("hmdb", "cheminf:000408", 5, "HMDB"),
]

TRIPLE_COLS = ("subj", "pred", "obj")


def q(c):
    return F.concat(F.lit('"'), c, F.lit('"'))


def qq(c):
    """Long-literal stored form with HTML strip (P1)."""
    return F.concat(F.lit('"""'), strip_html(c), F.lit('"""'))


def _p(pred, obj):
    """One (pred, obj) candidate as a 1-element struct array (null obj is
    filtered post-explode)."""
    return F.array(F.struct(F.lit(pred).alias("pred"),
                            obj.cast("string").alias("obj")))


def _m(pred, arr, fx=None):
    """Multi-valued predicate from an array column."""
    fx = fx or (lambda x: x)
    return F.transform(arr, lambda x: F.struct(F.lit(pred).alias("pred"),
                                               fx(x).alias("obj")))


def _emit(df: DataFrame, subj, *po_arrays) -> DataFrame:
    return (df.select(subj.alias("subj"),
                      F.explode(F.concat(*po_arrays)).alias("t"))
            .select("subj", F.col("t.pred").alias("pred"),
                    F.col("t.obj").alias("obj"))
            .where(F.col("obj").isNotNull()))


def _resolve(edges: DataFrame, registry: DataFrame) -> DataFrame:
    """internal doc id -> resolvable value (J1) against the unified registry.
    Broadcast: the registry is << the corpus, and because every resolve join
    broadcasts the SAME relation, Spark reuses one broadcast exchange across
    the whole plan (one driver round-trip instead of a dozen)."""
    return edges.join(F.broadcast(registry), "ref_doc_id")


def _opt(col_name, pred, form):
    c = F.col(col_name)
    return _p(pred, F.when(c.isNotNull(), form(c)))


# ---------------------------------------------------------------------------
# MAIN graph
# ---------------------------------------------------------------------------

def aop_block_triples(aops: DataFrame) -> DataFrame:
    """Scalar/array triples of the AOP block (writer.py:328-377), map-only."""
    s = F.concat(F.lit("aop:"), "wiki")
    page = F.concat(F.lit("<https://identifiers.org/aop/"), "wiki", F.lit(">"))
    lic = F.create_map(*[x for k, v in LICENCE_URI.items()
                         for x in (F.lit(k), F.lit(v))])
    return _emit(
        aops, s,
        _p("a", F.lit("aopo:AdverseOutcomePathway")),
        _p("dc:identifier", s),
        _p("rdfs:label", q(F.concat(F.lit("AOP "), "wiki"))),
        _p("rdfs:seeAlso", page), _p("foaf:page", page),
        _p("dc:title", q(F.coalesce(F.col("title"), F.lit("")))),
        _p("dcterms:alternative", q(F.col("short_name"))),
        _p("dc:source", q(F.col("source"))),
        _p("dcterms:created", q(F.col("created"))),
        _p("dcterms:modified", q(F.col("modified"))),
        # dc:description: background + MIE evidence texts + AO examples
        # (xml_parser.py:136-223 appends all three into one list)
        _opt("background", "dc:description", qq),
        _m("dc:description",
           F.filter("mie_refs", lambda x: x["val"] != ""),
           lambda x: qq(x["val"])),
        _m("dc:description",
           F.filter("ao_refs", lambda x: x["val"] != ""),
           lambda x: qq(x["val"])),
        _opt("oa_description", "nci:C25217", qq),
        _opt("oa_ke_essentiality", "nci:C48192", qq),
        _opt("oa_applicability", "aopo:AopContext", qq),
        _opt("oa_woe", "aopo:has_evidence", qq),
        _opt("oa_quantitative", "edam:operation_3799", qq),
        _opt("potential_applications", "nci:C25725", qq),
        _opt("authors", "dc:creator", qq),
        _opt("wiki_status", "dcterms:accessRights", q),
        _opt("abstract", "dcterms:abstract", qq),
        _opt("oecd_status", "nci:C25688", q),
        _opt("saaop_status", "nci:C25688", q),
        _p("dcterms:license", lic[F.coalesce(F.col("wiki_license"),
                                             F.lit("?"))]),
        _m("pato:0000047", F.col("sexes"), lambda x: q(x["val"])),
        _m("aopo:LifeStageContext", F.col("stages"), lambda x: q(x["val"])),
    )


def ke_block_triples(kes: DataFrame) -> DataFrame:
    """Scalar triples of the KE block (writer.py:386-457), map-only."""
    s = F.concat(F.lit("aop.events:"), "wiki")
    page = F.concat(F.lit("<https://identifiers.org/aop.events/"), "wiki",
                    F.lit(">"))
    cell_id = _term_ident(F.col("cell_term"), allow_cl=True)
    organ_id = _term_ident(F.col("organ_term"), allow_cl=False)
    return _emit(
        kes, s,
        _p("a", F.lit("aopo:KeyEvent")),
        _p("dc:identifier", s),
        _p("rdfs:label", q(F.concat(F.lit("KE "), "wiki"))),
        _p("foaf:page", page), _p("rdfs:seeAlso", page),
        _p("dc:title", q(F.col("title"))),
        _p("dcterms:alternative", q(F.col("short_name"))),
        _p("dc:source", q(F.col("source"))),
        _opt("description", "dc:description", qq),
        _opt("measurement_methodology", "mmo:0000000", qq),
        # nci:C25664 is unconditional but NOT html-stripped (xml_parser.py:555)
        _p("nci:C25664", F.concat(F.lit('"""'), "bio_org_level", F.lit('"""'))),
        _opt("evidence_taxonomic", "nci:C17469", qq),
        _m("pato:0000047", F.col("sexes"), lambda x: q(x["val"])),
        _m("aopo:LifeStageContext", F.col("stages"), lambda x: q(x["val"])),
        _p("aopo:CellTypeContext", cell_id),
        _p("aopo:OrganContext", organ_id),
        # bioevent membership URIs: <{public id}_bioevent_{idx}> (writer.py:440)
        F.transform(F.col("bio_events"),
                    lambda x, i: F.struct(
                        F.lit("aopo:hasBiologicalEvent").alias("pred"),
                        F.concat(F.lit("<"), F.col("wiki"),
                                 F.lit("_bioevent_"), i.cast("string"),
                                 F.lit(">")).alias("obj"))),
    )


def _term_ident(term, allow_cl: bool):
    """cell-term / organ-term identifier minting (xml_parser.py:604-624)."""
    src = F.split_part(term, F.lit("|"), F.lit(1))
    name = F.split_part(term, F.lit("|"), F.lit(2))  # noqa: F841 (doc)
    sid = F.split_part(term, F.lit("|"), F.lit(3))
    ident = F.when(src == "UBERON",
                   F.concat(F.lit("uberon:"), F.substring(sid, 8, 1 << 30)))
    if allow_cl:
        ident = F.when(src == "CL",
                       F.concat(F.lit("cl:"), F.substring(sid, 4, 1 << 30))
                       ).otherwise(ident.otherwise(q(sid)))
    else:
        ident = ident.otherwise(q(sid))
    return F.when(term.isNotNull(), ident)


def ker_block_triples(kers: DataFrame, refs: DataFrame) -> DataFrame:
    """KER block (writer.py:475-516). Upstream/downstream resolution is an
    edge join against the id registry."""
    s = F.concat(F.lit("aop.relationships:"), "wiki")
    page = F.concat(F.lit("<https://identifiers.org/aop.relationships/"),
                    "wiki", F.lit(">"))

    def woe(col_name, pred):
        # writer.py:508 strips backslashes from these free-text predicates
        c = F.col(col_name)
        return _p(pred, F.when(c.isNotNull(),
                               F.replace(qq(c), F.lit("\\"), F.lit(""))))

    scalars = _emit(
        kers, s,
        _p("a", F.lit("aopo:KeyEventRelationship")),
        _p("dc:identifier", s),
        _p("rdfs:label", q(F.concat(F.lit("KER "), "wiki"))),
        _p("foaf:page", page), _p("rdfs:seeAlso", page),
        _p("dcterms:created", q(F.col("created"))),
        _p("dcterms:modified", q(F.col("modified"))),
        _opt("description", "dc:description", qq),
        woe("bio_plausibility", "nci:C80263"),
        woe("empirical_support", "edam:data_2042"),
        woe("uncertainties", "nci:C71478"),
        woe("evidence_collection", "nci:C103159"),
        woe("modulating_factors", "nci:C68821"),
        woe("evidence_taxonomic", "nci:C17469"),
        woe("qu_description", "edam:operation_3799"),
        woe("qu_response_response", "edam:operation_3438"),
        woe("qu_time_scale", "nci:C25207"),
        woe("qu_feedback_loops", "nci:C25343"),
        _m("pato:0000047", F.col("sexes"), lambda x: q(x["val"])),
        _m("aopo:LifeStageContext", F.col("stages"), lambda x: q(x["val"])),
    )
    updown = kers.select(
        s.alias("subj"),
        F.explode(F.array(
            F.struct(F.lit("aopo:has_upstream_key_event").alias("pred"),
                     F.col("upstream_ke").alias("ref_doc_id")),
            F.struct(F.lit("aopo:has_downstream_key_event").alias("pred"),
                     F.col("downstream_ke").alias("ref_doc_id")))).alias("t"),
    ).select("subj", "t.pred", F.col("t.ref_doc_id").alias("ref_doc_id"))
    updown = _resolve(updown, refs).select(
        "subj", "pred",
        F.concat(F.lit("aop.events:"), "ref_val").alias("obj"))
    return scalars.unionByName(updown)


def taxonomy_triples(entities: dict) -> DataFrame:
    """Taxon applicability + taxon blocks (writer.py:530-538 + the
    ncbitaxon:131567 second passes, xml_parser.py:369-377/578-584/701-707)."""
    taxa = entities["taxa"]
    registry = entities["registry"]
    links = []
    for name, prefix in (("aops", "aop:"), ("kes", "aop.events:"),
                         ("kers", "aop.relationships:")):
        df = entities[name]
        links.append(df.select(
            F.concat(F.lit(prefix), "wiki").alias("subj"),
            F.explode("tax_refs").alias("t")
        ).select("subj", F.col("t.ref").alias("ref_doc_id")))
    applic = links[0].unionByName(links[1]).unionByName(links[2])
    applic = (applic.join(F.broadcast(registry), "ref_doc_id")
              .select("subj", F.lit("ncbitaxon:131567").alias("pred"),
                      F.col("ref_val").alias("obj")))
    blocks = _emit(
        taxa.where(~F.col("ident").contains('"')),
        F.col("ident"),
        _p("a", F.lit("ncbitaxon:131567")),
        _p("dc:identifier", F.col("ident")),
        _p("dc:title", q(F.col("name"))),
        _p("dc:source", F.when(F.col("src").isNotNull(), q(F.col("src")))),
    )
    return applic.unionByName(blocks)


def stressor_block_triples(stressors: DataFrame) -> DataFrame:
    s = F.concat(F.lit("aop.stressor:"), "wiki")
    page = F.concat(F.lit("<https://identifiers.org/aop.stressor/"), "wiki",
                    F.lit(">"))
    return _emit(
        stressors, s,
        _p("a", F.lit("nci:C54571")),
        _p("dc:identifier", s),
        _p("rdfs:label", q(F.concat(F.lit("Stressor "), "wiki"))),
        _p("foaf:page", page),  # stressors get NO rdfs:seeAlso (writer.py:542-552)
        _p("dc:title", q(F.col("name"))),
        _p("dcterms:created", q(F.col("created"))),
        _p("dcterms:modified", q(F.col("modified"))),
        _opt("description", "dc:description", qq),
    )


def component_block_triples(entities: dict, kes: DataFrame) -> DataFrame:
    """Bioprocess/bioobject blocks + first-seen cell/organ term blocks.
    Bioaction blocks are NEVER emitted (quoted identifier, writer.py:601)."""
    bp = _emit(entities["bioprocs"], F.col("ident"),
               _p("a", F.lit("go:0008150")),
               _p("dc:identifier", F.col("ident")),
               _p("dc:title", q(F.col("name"))),
               _p("dc:source", q(F.col("src"))))
    bo = _emit(entities["bioobjs"]
               .where(~F.col("ident").contains("N/A")
                      & ~F.col("ident").contains("TAIR")),
               F.col("ident"),
               _p("a", F.lit("pato:0001241")),
               _p("dc:identifier", F.col("ident")),
               _p("dc:title", q(F.col("name"))),
               _p("dc:source", q(F.col("src"))))

    def term_blocks(col_name, type_curie, allow_cl):
        firsts = term_firsts(kes, col_name, allow_cl)
        return _emit(firsts, F.col("ident"),
                     _p("a", F.lit(type_curie)),
                     _p("dc:identifier", F.col("ident")),
                     _p("dc:title", q(F.col("f.name"))),
                     _p("dc:source", q(F.col("f.src"))))

    cells = term_blocks("cell_term", "aopo:CellTypeContext", True)
    organs = term_blocks("organ_term", "aopo:OrganContext", False)
    return bp.unionByName(bo).unionByName(cells).unionByName(organs)


def term_firsts(kes: DataFrame, col_name: str, allow_cl: bool) -> DataFrame:
    """First-seen cell/organ term per ident, BARE src/name values
    (writer.py:422-435: cterm[id] set once, doc order)."""
    t = F.col(col_name)
    terms = (kes.where(t.isNotNull())
             .select(_term_ident(t, allow_cl).alias("ident"),
                     F.split_part(t, F.lit("|"), F.lit(1)).alias("src"),
                     F.split_part(t, F.lit("|"), F.lit(2)).alias("name"),
                     F.col("iid"))
             .where(~F.col("ident").contains('"')))
    return terms.groupBy("ident").agg(
        F.min_by(F.struct("src", "name"), "iid").alias("f"))


def bioevent_triples(kes: DataFrame, entities: dict) -> DataFrame:
    """<id_bioevent_i> blocks + the per-KE sorted-distinct component lists
    (writer.py:437-457). Component idents resolve via broadcast dim joins."""
    ev = kes.select(
        F.col("wiki"),
        F.posexplode("bio_events").alias("idx", "ev"))
    ev = ev.select(
        "wiki", "idx",
        F.col("ev.bp").alias("bp_doc"), F.col("ev.bo").alias("bo_doc"),
        F.col("ev.ba").alias("ba_doc"))
    registry = entities["registry"]
    for part in ("bp", "bo", "ba"):
        r = F.broadcast(registry)
        ev = (ev.join(r, ev[f"{part}_doc"] == r["ref_doc_id"], "left")
              .withColumnRenamed("ref_val", f"{part}_ident")
              .drop("ref_doc_id"))
    be_uri = F.concat(F.lit("<"), "wiki", F.lit("_bioevent_"),
                      F.col("idx").cast("string"), F.lit(">"))
    blocks = _emit(
        ev, be_uri,
        _p("a", F.lit("aopo:BiologicalEvent")),
        _p("aopo:hasProcess", F.col("bp_ident")),
        _p("aopo:hasObject", F.col("bo_ident")),
        _p("aopo:hasAction", F.col("ba_ident")),
    )
    ke_subj = F.concat(F.lit("aop.events:"), "wiki")
    lists = _emit(
        ev, ke_subj,
        _p("go:0008150", F.col("bp_ident")),
        _p("pato:0001241", F.col("bo_ident")),
        _p("pato:0000001", F.col("ba_ident")),
    )  # duplicates collapse in the final dropDuplicates (sorted-set semantics)
    return blocks.unionByName(lists)


def containment_and_backlink_triples(entities: dict) -> DataFrame:
    """J2 + J12: forward containment + inverse isPartOf off one resolved
    edge relation, the 2-hop stressor traversal, and the salted
    stressor->chemical fan-out (J5)."""
    aops, kes, kers = entities["aops"], entities["kes"], entities["kers"]
    stressors, chemicals = entities["stressors"], entities["chemicals"]
    registry = entities["registry"]

    aop_subj = F.concat(F.lit("aop:"), "wiki")
    ke_subj = F.concat(F.lit("aop.events:"), "wiki")

    # One tagged edge table -> ONE broadcast resolve join -> forward +
    # inverse triples projected from the same resolved relation. (The naive
    # form — one join per edge kind — costs 8 joins and 8x the plan nodes.)
    # tag -> (forward pred, target prefix, emits inverse dcterms:isPartOf)
    SPEC = {
        "ake": ("aopo:has_key_event", "aop.events:", True),
        "amie": ("aopo:has_molecular_initiating_event", "aop.events:", False),
        "aao": ("aopo:has_adverse_outcome", "aop.events:", False),
        "aker": ("aopo:has_key_event_relationship", "aop.relationships:", True),
        "astr": ("nci:C54571", "aop.stressor:", True),
        "kstr": ("nci:C54571", "aop.stressor:", True),
    }

    def edges(df, subj, arr, tag, is_struct=True):
        e = F.transform(arr, lambda x: x["ref"]) if is_struct else arr
        return df.select(subj.alias("subj"),
                         F.col("doc_id").alias("src_doc_id"),
                         F.explode(e).alias("ref_doc_id"),
                         F.lit(tag).alias("tag"))

    # ONE tagged explode over the aops table (round 7): the former
    # five-branch union scanned (and span-deserialized) the cached aops
    # relation five times per plan; concat-of-tagged-arrays yields the
    # identical edge multiset from a single scan. kes keeps its own
    # branch (different table).
    def tagged(arr, tag, is_struct=True):
        e = F.transform(arr, lambda x: x["ref"]) if is_struct else arr
        return F.transform(e, lambda r: F.struct(
            r.alias("ref_doc_id"), F.lit(tag).alias("tag")))

    aop_edges = (aops.select(
        aop_subj.alias("subj"), F.col("doc_id").alias("src_doc_id"),
        F.explode(F.concat(
            tagged(F.col("all_ke_refs"), "ake", is_struct=False),
            tagged(F.col("mie_refs"), "amie"),
            tagged(F.col("ao_refs"), "aao"),
            tagged(F.col("ker_refs"), "aker"),
            tagged(F.col("stressor_refs"), "astr"))).alias("e"))
        .select("subj", "src_doc_id",
                F.col("e.ref_doc_id").alias("ref_doc_id"),
                F.col("e.tag").alias("tag")))
    all_edges = aop_edges.unionByName(
        edges(kes, ke_subj, F.col("stressor_refs"), "kstr"))
    resolved = _resolve(all_edges, registry)

    def _map(i):
        return F.create_map(*[x for t, s in SPEC.items()
                              for x in (F.lit(t), F.lit(s[i]))])

    target = F.concat(_map(1)[F.col("tag")], F.col("ref_val"))
    fwd = resolved.select("subj", _map(0)[F.col("tag")].alias("pred"),
                          target.alias("obj"))
    inv_tags = [t for t, s in SPEC.items() if s[2]]
    # inverse edges (writer.py:459-464, 518-523, 557-579 first part)
    inv = (resolved.where(F.col("tag").isin(inv_tags))
           .select(target.alias("subj"),
                   F.lit("dcterms:isPartOf").alias("pred"),
                   F.col("subj").alias("obj")))

    # 2-hop stressor traversal (writer.py:565-571): stressor -> citing KE ->
    # AOPs containing that KE. Self-join of the resolved edge relation.
    kstr_r = resolved.where(F.col("tag") == "kstr").select(
        F.concat(F.lit("aop.stressor:"), "ref_val").alias("subj"),
        F.col("src_doc_id").alias("ke_doc"))
    # AOP->KE containment is bounded by the entity registry size (<< the
    # corpus) — broadcast it so the 2-hop traversal needs no shuffle and no
    # skew handling for popular KEs
    ake_r = F.broadcast(resolved.where(F.col("tag") == "ake").select(
        F.col("subj").alias("aop_subj"),
        F.col("ref_doc_id").alias("ke_doc")))
    hop2 = (kstr_r.join(ake_r, "ke_doc")
            .select("subj", F.lit("dcterms:isPartOf").alias("pred"),
                    F.col("aop_subj").alias("obj")))

    # stressor -> chemical (J5, the hot-key fan-out: salted shuffle join)
    sc_edges = (stressors.select(
        F.col("doc_id").alias("stressor_doc"),
        F.concat(F.lit("aop.stressor:"), "wiki").alias("stressor_subj"),
        F.explode(F.transform("chem_refs", lambda x: x["ref"]))
        .alias("chem_doc")))
    chem_dim = chemicals.select(F.col("chem_doc") if "chem_doc" in
                                chemicals.columns else
                                F.col("doc_id").alias("chem_doc"),
                                F.col("ident").alias("chem_ident"))
    sc = salted_join(sc_edges, chem_dim, "chem_doc", how="inner")
    fwd_chem = sc.select(F.col("stressor_subj").alias("subj"),
                         F.lit("aopo:has_chemical_entity").alias("pred"),
                         F.col("chem_ident").alias("obj"))
    # chemical -> stressor inverse (writer.py:641-647; only cas: subjects
    # survive the writer's quoted-identifier skip)
    inv_chem = (sc.where(~F.col("chem_ident").contains('"'))
                .select(F.col("chem_ident").alias("subj"),
                        F.lit("dcterms:isPartOf").alias("pred"),
                        F.col("stressor_subj").alias("obj")))

    return (fwd.unionByName(inv).unionByName(hop2)
            .unionByName(fwd_chem).unionByName(inv_chem))


def chemical_block_triples(chem_linked: DataFrame) -> DataFrame:
    """Chemical blocks + mapped-identifier blocks (writer.py:618-708)."""
    real = chem_linked.where(F.col("ident").startswith("cas:"))
    blocks = _emit(
        real, F.col("ident"),
        _p("dc:identifier", F.col("ident")),
        _p("a", F.lit("cheminf:000000")),
        _p("a", F.lit("cheminf:000446")),
        _p("cheminf:000446", q(F.col("casrn"))),
        _p("cheminf:000059", F.when(F.col("inchikey") != "inchikey:None",
                                    F.col("inchikey"))),
        _opt("preferred_name", "dc:title", q),
        _p("cheminf:000568",
           F.when(F.col("dsstox_id").isNotNull(),
                  F.concat(F.lit("comptox:"), "dsstox_id"))),
        # synonym trailing-';' strip quirk (xml_parser.py:325, P6)
        _m("dcterms:alternative", F.col("synonyms"),
           lambda x: q(F.substring(x, 1, F.length(x) - 1))),
    )
    # id-list rows: CAS for real chemicals; InChIKey/CompTox for ALL
    # chemicals incl. NOCAS and the inchikey:None quirk (pipeline.py:431-435)
    ids_all = _emit(
        chem_linked, F.col("inchikey"),
        _p("dc:source", F.lit('"InChIKey"')),
    ).unionByName(_emit(
        chem_linked.where(F.col("dsstox_id").isNotNull()),
        F.concat(F.lit("comptox:"), "dsstox_id"),
        _p("dc:source", F.lit('"CompTox"')),
    )).unionByName(_emit(
        real, F.col("ident"), _p("dc:source", F.lit('"CAS"')),
    ))
    # mapped xref blocks (4 triples per xref id) — all 9 databases emitted
    # through ONE tagged explode + one projection (not 9 union branches:
    # keeps the plan small and the work a single map stage)
    def _tag(db, pred, off, label):
        return F.transform(
            F.col(db),
            lambda x: F.struct(
                x.alias("x"), F.lit(pred).alias("pred"),
                F.lit(off).alias("off"), F.lit(label).alias("label")))

    tagged = real.select(F.explode(F.concat(*[
        _tag(*spec) for spec in CHEM_XREF_SPEC])).alias("t"))
    tx = tagged.select("t.x", "t.pred", "t.off", "t.label")
    xrefs = tx.select(
        F.col("x").alias("subj"),
        F.explode(F.array(
            F.struct(F.lit("a").alias("pred"), F.col("pred").alias("obj")),
            F.struct(F.col("pred").alias("pred"),
                     q(F.substr("x", F.col("off") + 1)).alias("obj")),
            F.struct(F.lit("dc:identifier").alias("pred"),
                     q(F.col("x")).alias("obj")),
            F.struct(F.lit("dc:source").alias("pred"),
                     q(F.col("label")).alias("obj")))).alias("po"),
    ).select("subj", F.col("po.pred").alias("pred"),
             F.col("po.obj").alias("obj"))
    return blocks.unionByName(ids_all).unionByName(xrefs)


def gene_id_block_triples(hgnc_df: DataFrame, entrez_df: DataFrame,
                          ensembl_df: DataFrame, uniprot_df: DataFrame,
                          main_style: bool) -> DataFrame:
    """Gene identifier blocks (writer.py:711-728 main / 929-956 genes file).
    hgnc_df must carry (hgnc_id 'hgnc:n', symbol)."""
    h = _emit(
        hgnc_df, F.col("hgnc_id"),
        _p("a", F.lit("edam:data_2298")), _p("a", F.lit("edam:data_1025")),
        _p("rdfs:label", q(F.col("symbol"))),
        _p("edam:data_2298", q(F.substring("hgnc_id", 6, 1 << 30))),
        _p("dc:identifier", q(F.col("hgnc_id"))),
        _p("dc:source", F.lit('"HGNC"')),
    )
    e = _emit(
        entrez_df, F.col("xref"),
        _p("a", F.lit("edam:data_1027")), _p("a", F.lit("edam:data_1025")),
        _p("edam:data_1027", q(F.substring("xref", 10, 1 << 30))),
        _p("dc:identifier", q(F.col("xref"))),
        _p("dc:source", F.lit('"Entrez Gene"')),
    )
    en = _emit(
        ensembl_df, F.col("xref"),
        _p("a", F.lit("edam:data_1033")), _p("a", F.lit("edam:data_1025")),
        _p("edam:data_1033", q(F.substring("xref", 9, 1 << 30))),
        _p("dc:identifier", q(F.col("xref"))),
        _p("dc:source", F.lit('"Ensembl"')),
    )
    purl = F.concat(F.lit("<http://purl.uniprot.org/uniprot/"),
                    F.substring("xref", 9, 1 << 30), F.lit(">"))
    u_extra = ([_p("rdfs:seeAlso", purl), _p("owl:sameAs", purl)]
               if main_style else [])
    u = _emit(
        uniprot_df, F.col("xref"),
        _p("a", F.lit("edam:data_2291")), _p("a", F.lit("edam:data_1025")),
        *u_extra,
        _p("edam:data_2291", q(F.substring("xref", 9, 1 << 30))),
        _p("dc:identifier", q(F.col("xref"))),
        _p("dc:source", F.lit('"UniProt"')),
    )
    return h.unionByName(e).unionByName(en).unionByName(u)


def typelabel_triples(spark: SparkSession, fixtures_dir: str) -> DataFrame:
    """Static class-label triples from typelabels.txt (writer.py:731-742)."""
    df = spark.read.csv(os.path.join(fixtures_dir, "typelabels.txt"),
                        header=True, quote='"', escape='"', multiLine=True)
    return _emit(
        df, F.col("URI"),
        _p("rdfs:label", q(F.col("label"))),
        _p("dc:description",
           F.when(F.col("description") != "-",
                  F.concat(F.lit('"""'), "description", F.lit('"""')))),
    )
