"""Staged KG-construction pipeline: docs -> (graph, subj, pred, obj).

Mirrors the reference's 10-stage orchestrator (`pipeline.py:579-590`) as a
DataFrame DAG with optional per-stage checkpoints:

    parse -> gene mention detection -> entity linking -> graph materialize

Each stage can be checkpointed to parquet (Iceberg on a real cluster) with a
manifest row (stage, rows, snapshot path) — resume = skip stages whose
manifest entry exists (north_rule resumability). Counter metrics mirror the
reference's logged stage stats (pipeline.py:620-627).
"""

from __future__ import annotations

import os
import threading
import time
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from aopwiki_spark import fs as FS
from aopwiki_spark import genes as G
from aopwiki_spark import labels as L
from aopwiki_spark import ner as N
from aopwiki_spark import triples as T
from aopwiki_spark.config import DEFAULT_CONFIG, PipelineConfig
from aopwiki_spark.linking import (link_chemical_xrefs, link_gene_xrefs,
                                   link_promapping)
from aopwiki_spark.parse import parse_entities
from aopwiki_spark.session import read_dim, read_docs

# Static writer inputs (prefixes.csv, typelabels.txt). The default resolves
# relative to the repo checkout; under spark-submit --py-files the package
# lives in a zip, so the launcher points this at a real (local or object
# store) path via AOPWIKI_FIXTURES_DIR.
FIXTURES_DIR = os.environ.get(
    "AOPWIKI_FIXTURES_DIR",
    os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "fixtures"))


def _tag(df: DataFrame, graph: str) -> DataFrame:
    return df.select(F.lit(graph).alias("graph"), "subj", "pred", "obj")


def dedup_triples(df: DataFrame) -> DataFrame:
    """Global triple dedup keyed on a 128-bit hash of the 4-tuple instead
    of the raw strings. Long-literal objects (multi-KB descriptions) make
    string-keyed partial aggregation the pipeline's single largest CPU
    line (measured ~700 core-sec at the scaling corpus vs ~280 for the
    gene UDF); two independent xxhash64s cut the agg key to 16 bytes.
    Pair-collision probability at 10^12 triples is ~2^-48 — far below
    hardware corruption rates."""
    h1 = F.xxhash64("graph", "subj", "pred", "obj")
    h2 = F.xxhash64(F.lit(1), "graph", "subj", "pred", "obj")
    return (df.withColumn("_h1", h1).withColumn("_h2", h2)
              .dropDuplicates(["_h1", "_h2"]).drop("_h1", "_h2"))


class LazyEnts(dict):
    """Entity-table mapping that loads a table on first access.

    The checkpointed runner hands this to :class:`Inputs` so each graph
    part blocks only on the parse writes of the tables IT touches, the
    moment its thunk dereferences them inside the worker thread — instead
    of every part barriering on the slowest of all ten entity writes.
    A racy double-load is benign: the loader is idempotent (a parquet
    read of the written stage table)."""

    def __init__(self, loader, names):
        super().__init__()
        self._loader = loader
        self._names = frozenset(names)

    def __getitem__(self, key):
        if key not in self and key in self._names:
            self[key] = self._loader(key)
        return super().__getitem__(key)


def cached_docs(spark: SparkSession, corpus_dir: str) -> DataFrame:
    """The corpus docs, persisted for the parse (~40 derived branches would
    otherwise rescan and re-decode the corpus). Repartitioned to 2x cores
    only when the planned file splits can't feed every core: the
    round-robin exchange is near-free in one JVM but ships the whole text
    corpus through the network stack on a real multi-executor cluster
    (measured: input_cache 10s -> 108s on local-cluster[4,4] vs [1,4]),
    and split-planned partitions keep the cache data-local to the scan.
    The .rdd probe is one driver-side plan conversion (~0.1s)."""
    docs = read_docs(spark, corpus_dir)
    par = spark.sparkContext.defaultParallelism
    if docs.rdd.getNumPartitions() < par:
        docs = docs.repartition(par * 2)
    return docs.persist()


class Inputs:
    """Lazily-built shared inputs for one corpus (all DataFrames are lazy;
    this just avoids re-deriving the plan fragments).

    Construction contract:

    * ``ents`` given: the entity tables are used as they are (e.g. the
      parse checkpoint, already ARR-filtered); the corpus is not read. A
      :class:`LazyEnts` mapping is kept as-is so its per-table gating
      survives.
    * otherwise the entities are parsed from ``docs`` (default
      :func:`cached_docs`), and the ARR filter applies to ``aops`` here.
      Inputs owns that docs cache: :meth:`cleanup` releases it.
    * ``load_assoc`` given: :meth:`assoc` returns its result (e.g. a read
      of the gene checkpoint) instead of running the detection UDFs.
    """

    def __init__(self, spark: SparkSession, corpus_dir: str,
                 config: PipelineConfig | None = None,
                 ents: dict | None = None,
                 docs: DataFrame | None = None,
                 load_assoc=None):
        self.spark = spark
        self.corpus_dir = corpus_dir
        self.config = config or DEFAULT_CONFIG
        self._persisted = []
        if ents is not None:
            self.docs = None
            self.ents = ents if isinstance(ents, LazyEnts) else dict(ents)
        else:
            self.docs = docs if docs is not None else cached_docs(
                spark, corpus_dir)
            self._persisted.append(self.docs)
            self.ents = parse_entities(self.docs)
            if self.config.filter_arr_aops:
                # Opt-in ARR-licence filter (reference pipeline.py:182-202):
                # AOP-scope only — KEs/KERs/stressors are kept regardless.
                self.ents["aops"] = self.ents["aops"].where(
                    F.coalesce(F.col("wiki_license"), F.lit("")) != "ARR")
        self.hgnc_dim = read_dim(spark, corpus_dir, "hgnc_dim")
        self.gene_xref_dim = read_dim(spark, corpus_dir, "gene_xref_dim")
        self.chem_xref_dim = read_dim(spark, corpus_dir, "chem_xref_dim")
        self.promapping_dim = read_dim(spark, corpus_dir, "promapping_dim")
        self.symbol_dim = (
            self.hgnc_dim.where(~F.col("symbol").contains("@"))
            .select(F.concat(F.lit("hgnc:"), "hgnc_id").alias("hgnc_id"),
                    "symbol"))
        self._load_assoc = load_assoc
        self._lazy_lock = threading.Lock()
        self._reset()

    def _reset(self):
        self._chem_linked = None
        self._pro_links = None
        self._detect = None
        self._ner_udf = None
        self._assoc = None
        self._found_x = None

    def cleanup(self):
        """Release every block this Inputs pinned in the unified memory
        manager. Without this, repeated runs in one long-lived session
        (bench reps, notebook reuse) accumulate storage blocks that starve
        execution memory — measured as a 161s -> 413s wall degradation on
        back-to-back identical runs."""
        for df in self._persisted:
            try:
                df.unpersist()
            except Exception:
                pass
        # Reset the handle list: a cleanup -> property re-touch -> second
        # cleanup must only release handles persisted SINCE the re-touch.
        # Spark uncaches by logical-plan match, so re-unpersisting a stale
        # handle can evict a sibling Inputs' live identical-plan cache
        # entry mid-flight.
        self._persisted = []
        self._reset()

    @property
    def chem_linked(self):
        """J4/J5 chemical xref linking, persisted lazily on first use: the
        small linking output fans into many downstream branches (id blocks,
        enriched graph, back-links). Lazy — NOT built in the constructor —
        so short-lived Inputs that never touch it (the gene-stage Inputs of
        the checkpointed runner) neither persist an identical plan (which
        CacheManager dedupes onto the long-lived Inputs' cache entry) nor
        unpersist that SHARED entry from their cleanup() while concurrent
        part jobs are mid-materialization — a race that intermittently
        emptied pro_links in the enriched part (~1/5 runs at sf0.01).
        Lock-guarded: part jobs race to first-touch."""
        with self._lazy_lock:
            if self._chem_linked is None:
                self._chem_linked = link_chemical_xrefs(
                    self.ents["chemicals"], self.chem_xref_dim).persist()
                self._persisted.append(self._chem_linked)
        return self._chem_linked

    @property
    def pro_links(self):
        """J11 PRO-mapping linking, persisted lazily on first use — same
        rationale (and the same race fix) as chem_linked."""
        with self._lazy_lock:
            if self._pro_links is None:
                self._pro_links = link_promapping(
                    self.ents["bioobjs"], self.promapping_dim).persist()
                self._persisted.append(self._pro_links)
        return self._pro_links

    @property
    def detect(self):
        if self._detect is None:
            self._detect = G.make_detector_udf(self.spark, self.hgnc_dim)
        return self._detect

    @property
    def ner_udf(self):
        if self._ner_udf is None:
            ner_dim = read_dim(self.spark, self.corpus_dir, "ner_dim")
            self._ner_udf = N.make_ner_udf(
                self.spark, ner_dim, min_prob=self.config.ner_min_prob,
                chunk_chars=self.config.ner_chunk_chars)
        return self._ner_udf

    @property
    def ncbi_hgnc_dim(self):
        return read_dim(self.spark, self.corpus_dir, "ncbi_hgnc_dim")

    @property
    def ner_outage_dim(self):
        """Per-run NER failure fact table (degraded bucket, WR-03/NER-04).
        Optional: corpora generated without it mean no outages."""
        path = FS.join(self.corpus_dir, "ner_outage_dim.parquet")
        if not FS.get_io(path, self.spark).exists(path):
            return None
        return self.spark.read.parquet(path)

    def assoc(self) -> DataFrame:
        """Per-subject gene table: (subj, genes_regex, genes_ner,
        genes_union, ner_bucket). Flag-off: genes_union == genes_regex and
        the NER columns are empty. From ``load_assoc`` when given, else
        computed and persisted — the mention-detection UDFs are the
        expensive stage and feed 6+ downstream branches. A racy double
        load is benign: the loader is a parquet read."""
        if self._assoc is None:
            if self._load_assoc is not None:
                self._assoc = self._load_assoc()
            else:
                self._assoc = gene_table(self).persist()
                self._persisted.append(self._assoc)
        return self._assoc

    def found_x(self) -> DataFrame:
        """Distinct detected genes with xref arrays (persisted fan-in)."""
        if self._found_x is None:
            found = (self.assoc()
                     .select(F.explode("genes_union").alias("hgnc_id"))
                     .distinct())
            self._found_x = link_gene_xrefs(
                found, self.gene_xref_dim).persist()
            self._persisted.append(self._found_x)
        return self._found_x

    def gene_label_map(self) -> DataFrame:
        """{gene xref IRI -> symbol} from the mention-derived gene set
        (iri_labels.py:77-115) — threaded to BOTH the main and genes
        graphs, like the reference's gene_label_by_iri."""
        return L.gene_label_map(self.found_x(), self.symbol_dim)


def main_gene_id_triples(inp: Inputs) -> DataFrame:
    """Main-file gene id blocks from the PRO mapping (pipeline.py:444-447)."""
    pro_hgnc = (inp.pro_links.where(F.col("xref").startswith("hgnc:"))
                .select(F.col("xref").alias("hgnc_id")).distinct()
                .join(F.broadcast(inp.symbol_dim), "hgnc_id", "left")
                .withColumn("symbol", F.coalesce(
                    "symbol", F.substring("hgnc_id", 6, 1 << 30))))
    pro_ncbi = (inp.pro_links.where(F.col("xref").startswith("ncbigene:"))
                .select(F.col("xref")).distinct())
    pro_uni = (inp.pro_links.where(F.col("xref").startswith("uniprot:"))
               .select(F.col("xref")).distinct())
    empty_xref = inp.spark.createDataFrame([], "xref string")
    return T.gene_id_block_triples(pro_hgnc, pro_ncbi, empty_xref, pro_uni,
                                   main_style=True)


def enriched_graph(inp: Inputs) -> DataFrame:
    """ENRICHED graph (writer.py:770-849): chemical + PRO xrefs under
    skos:exactMatch AND owl:sameAs (emit_legacy_predicates default True)."""
    chem_matches = inp.chem_linked.select(
        F.col("ident").alias("subj"),
        F.explode(F.concat(*[F.col(db) for db, *_ in T.CHEM_XREF_SPEC]))
        .alias("obj")).where(F.col("subj").startswith("cas:"))
    pro_matches = inp.pro_links.select(F.col("pr_id").alias("subj"),
                                       F.col("xref").alias("obj"))
    em = chem_matches.unionByName(pro_matches)
    return em.select(
        "subj",
        F.explode(F.array(F.lit("skos:exactMatch"),
                          F.lit("owl:sameAs"))).alias("pred"),
        "obj")


def gene_table(inp: Inputs) -> DataFrame:
    """Per-subject gene detection table: the regex matcher (J6/J7) plus,
    when ``enable_bern2``, the NER stand-in scan (J10), the NCBI->HGNC
    broadcast reverse map (J9), and the additive union with per-method
    provenance. Columns: subj, genes_regex, genes_ner, genes_union,
    ner_bucket."""
    cfg = inp.config
    ke = G.detect_ke_genes(inp.ents["kes"], inp.detect)
    ker = G.detect_ker_genes(inp.ents["kers"], inp.detect)
    ker_fields = ["description", "bio_plausibility", "empirical_support"]
    if cfg.enable_bern2:
        ke = N.detect_ner_ncbi(ke, ["description"], inp.ner_udf, G.longlit)
        ker = N.detect_ner_ncbi(ker, ker_fields, inp.ner_udf, G.longlit)
    else:
        ke = (ke.withColumn("ner_ncbi", F.array().cast("array<string>"))
                .withColumn("ner_scanned", F.lit(False)))
        ker = (ker.withColumn("ner_ncbi", F.array().cast("array<string>"))
                  .withColumn("ner_scanned", F.lit(False)))
    cols = lambda df, prefix: df.select(  # noqa: E731
        F.concat(F.lit(prefix), "wiki").alias("subj"),
        F.col("genes").alias("genes_regex"), "ner_ncbi", "ner_scanned")
    rows = (cols(ke, "aop.events:")
            .unionByName(cols(ker, "aop.relationships:")))
    if cfg.enable_bern2:
        rows = N.link_ncbi_hgnc(rows, "subj", inp.ncbi_hgnc_dim)
    else:
        rows = rows.withColumn("genes_ner",
                               F.lit(None).cast("array<string>"))
    outage = inp.ner_outage_dim if cfg.enable_bern2 else None
    if outage is not None:
        # broadcast anti-pattern-free failure flag: the outage table is a
        # tiny per-run fact (failed service requests), never a shuffle
        flag = outage.select("subj", F.lit(True).alias("_outage"))
        rows = (rows.join(F.broadcast(flag), "subj", "left")
                    .withColumn("ner_failed",
                                F.coalesce("_outage", F.lit(False)))
                    .drop("_outage"))
    else:
        rows = rows.withColumn("ner_failed", F.lit(False))
    return N.apply_ner_union(rows, cfg.ner_fallback_on_failure)


def gene_associations(inp: Inputs) -> DataFrame:
    """(subj, hgnc_id) long-form gene mentions (the edam:data_1025 union —
    identical to the regex list when enable_bern2 is off)."""
    return inp.assoc().select("subj", F.explode("genes_union").alias("hgnc_id"))


def genes_graph(inp: Inputs) -> DataFrame:
    """GENES graph (writer.py:857-958): association triples, gene id blocks
    and xrefs; flag-on additionally the per-method provenance predicates
    (writer.py:212-244), the PROV-O activity layer (namespaces.py:163-192)
    and, when iri-labels is also on, the minted-predicate labels (D-06) and
    gene xref rdfs:labels (writer.py:947-951)."""
    cfg = inp.config
    assoc = gene_associations(inp)
    gene_assoc_triples = assoc.select(
        "subj", F.lit("edam:data_1025").alias("pred"),
        F.col("hgnc_id").alias("obj"))
    found_x = inp.found_x()
    found = found_x.select("hgnc_id")
    sameas = (found_x.select("hgnc_id", F.explode("xrefs").alias("obj"))
              .select(F.col("hgnc_id").alias("subj"),
                      F.explode(F.array(F.lit("skos:exactMatch"),
                                        F.lit("owl:sameAs"))).alias("pred"),
                      "obj"))
    hgnc_blocks_src = (found.join(F.broadcast(inp.symbol_dim),
                                  "hgnc_id", "left")
                       .withColumn("symbol", F.coalesce(
                           "symbol", F.substring("hgnc_id", 6, 1 << 30))))

    def xr(col):
        # no .distinct(): found_x is per-distinct-gene already, and every
        # consumer deduplicates (the part feeds dedup_triples; the
        # declared query applies .distinct()) — that keeps three tiny-data
        # exchange stages off the gene-gated critical path.
        return found_x.select(F.explode(col).alias("xref"))

    out = (gene_assoc_triples
           .unionByName(sameas)
           .unionByName(T.gene_id_block_triples(
               hgnc_blocks_src, xr("xr_entrez"), xr("xr_ensembl"),
               xr("xr_uniprot"), main_style=False)))
    if cfg.enable_bern2:
        tbl = inp.assoc()
        prov_rx = (tbl.where(F.size("genes_regex") > 0)
                   .select("subj",
                           F.lit(":geneDetectedByRegex").alias("pred"),
                           F.explode("genes_regex").alias("obj")))
        prov_ner = (tbl.where(F.size("genes_ner") > 0)
                    .select("subj",
                            F.lit(":geneDetectedByNER").alias("pred"),
                            F.explode("genes_ner").alias("obj")))
        out = (out.unionByName(prov_rx).unionByName(prov_ner)
               .unionByName(L.static_triples(
                   inp.spark, L.PROVENANCE_ACTIVITY_TRIPLES)))
        if cfg.enable_iri_labels:
            out = out.unionByName(L.static_triples(
                inp.spark, L.MINTED_PREDICATE_LABEL_TRIPLES))
    if cfg.enable_iri_labels:
        subs = found_x.select(F.explode("xrefs").alias("iri"))
        out = out.unionByName(
            L.labels_for_subjects(subs, inp.gene_label_map()))
    return out


def main_label_triples_static(inp: Inputs, fixtures_dir: str | None = None
                              ) -> DataFrame:
    """The gene-table-independent slice of the flag-gated main-graph
    rdfs:label surface: component labels mirroring local dc:title (D-04,
    writer.py:150-173), inverted chem-name labels on every chem xref/id
    block subject (writer.py:660-706), and the external predicate labels
    filtered to known prefixes (writer.py:83-108). Split out so the runner
    writes it without waiting for the gene checkpoint — only the gene-xref
    labels below are genuinely gene-gated."""
    fixtures_dir = fixtures_dir or FIXTURES_DIR
    ents = inp.ents
    comp = [
        ents["taxa"].where(~F.col("ident").contains('"'))
            .select("ident", "name"),
        ents["bioprocs"].select("ident", "name"),
        ents["bioobjs"].where(~F.col("ident").contains("N/A")
                              & ~F.col("ident").contains("TAIR"))
            .select("ident", "name"),
        T.term_firsts(ents["kes"], "cell_term", True)
            .select("ident", F.col("f.name").alias("name")),
        T.term_firsts(ents["kes"], "organ_term", False)
            .select("ident", F.col("f.name").alias("name")),
    ]
    pairs = comp[0]
    for c in comp[1:]:
        pairs = pairs.unionByName(c)
    comp_labels = L.label_triples(L.component_label_pairs(pairs))
    chem_labels = L.label_triples(L.chem_label_map(
        inp.chem_linked, [db for db, *_ in T.CHEM_XREF_SPEC]))
    pred_labels = L.external_predicate_label_triples(inp.spark, fixtures_dir)
    return comp_labels.unionByName(chem_labels).unionByName(pred_labels)


def main_label_triples_gene(inp: Inputs) -> DataFrame:
    """Gene xref labels on the PRO-path id blocks (writer.py:723-726) —
    the only label branch that needs the detected-gene label map."""
    pro_gene_subjects = (inp.pro_links
                         .where(F.col("xref").startswith("ncbigene:")
                                | F.col("xref").startswith("uniprot:"))
                         .select(F.col("xref").alias("iri")))
    return L.labels_for_subjects(pro_gene_subjects, inp.gene_label_map())


def main_label_triples(inp: Inputs, fixtures_dir: str | None = None
                       ) -> DataFrame:
    """Flag-gated main-graph rdfs:label surface (enable_iri_labels):
    the static slice plus the gene xref labels."""
    return (main_label_triples_static(inp, fixtures_dir)
            .unionByName(main_label_triples_gene(inp)))


def coverage_iri_universe(inp: Inputs) -> DataFrame:
    """The label-coverage IRI universe (iri_labels.py:291-302): every
    occurrence of a chem BridgeDb xref (9 DB lists) or a found-gene xref
    (entrez/ensembl/uniprot lists). Occurrence semantics, no dedup."""
    chem = inp.chem_linked.select(F.explode(
        F.concat(*[F.col(db) for db, *_ in T.CHEM_XREF_SPEC])).alias("iri"))
    gene = inp.found_x().select(
        F.explode(F.concat("xr_entrez", "xr_ensembl",
                           "xr_uniprot")).alias("iri"))
    return chem.unionByName(gene)


def combined_label_map(inp: Inputs) -> DataFrame:
    """chem + gene label maps merged ({**chem, **gene},
    iri_labels.py:316): only key membership matters for coverage."""
    chem_map = L.chem_label_map(inp.chem_linked,
                                [db for db, *_ in T.CHEM_XREF_SPEC])
    return chem_map.unionByName(inp.gene_label_map())


def label_coverage_report(inp: Inputs, sample_n: int = 50) -> dict:
    """The label-coverage-report.json dict (report_label_coverage,
    iri_labels.py:215-302): per-source labeled/unlabeled counts plus the
    first-``sample_n`` sorted unlabeled IRIs. The full unlabeled list the
    reference writes is O(universe) — at scale only the sorted head is
    collected (TakeOrdered), with the honest total alongside.

    One pass: the tagged universe is persisted once and both the counts
    and the sample derive from it — the map broadcast is built exactly
    once (a naive two-query version builds the label map twice and was a
    measurable fixed cost in the benched production wall)."""
    iris = coverage_iri_universe(inp)
    keys = (combined_label_map(inp).select("iri").distinct()
            .withColumn("_lab", F.lit(True)))
    tagged = (iris.join(F.broadcast(keys), "iri", "left")
              .select("iri",
                      L.source_for_iri(F.col("iri")).alias("source"),
                      F.coalesce("_lab", F.lit(False)).alias("lab"))
              .persist())
    try:
        per_source: dict = {}
        for r in (tagged.groupBy("source", "lab")
                  .agg(F.count("*").alias("n")).collect()):
            b = per_source.setdefault(r["source"],
                                      {"labeled": 0, "unlabeled": 0})
            b["labeled" if r["lab"] else "unlabeled"] += int(r["n"])
        sample = [r["iri"] for r in
                  tagged.where(~F.col("lab")).select("iri")
                  .orderBy("iri").limit(sample_n).collect()]
    finally:
        tagged.unpersist()
    return {"per_source": dict(sorted(per_source.items())),
            "n_unlabeled": sum(v["unlabeled"] for v in per_source.values()),
            "unlabeled_sample": sample}


# Pinned run-date for the metadata files (wall-clock-free determinism,
# SURVEY §7.5): deployments stamp real dates via AOPWIKI_RUN_DATE.
VOID_RUN_DATE = os.environ.get("AOPWIKI_RUN_DATE", "2026-01-01")


def _write_metadata_files(out_dir: str, metrics: dict) -> None:
    """VoID.ttl + ServiceDescription.ttl next to the triple table (the
    reference writes both during RDF generation, writer.py:996-1109)."""
    from aopwiki_spark.render import write_service_description, write_void
    write_void(FS.join(out_dir, "VoID.ttl"),
               metrics.get("graphs", {}), VOID_RUN_DATE)
    write_service_description(
        FS.join(out_dir, "ServiceDescription.ttl"),
        f"{VOID_RUN_DATE}T00:00:00")


_SHARED_INPUTS: dict = {}


def shared_inputs(spark: SparkSession, corpus_dir: str,
                  config: PipelineConfig | None = None) -> Inputs:
    """The one :class:`Inputs` per (session, corpus, config), shared by
    :func:`build_all_triples` and the kgqueries; its caches outlive the
    returned lazy DataFrames, so :func:`release_shared_inputs` frees them."""
    key = (id(spark), corpus_dir, config or DEFAULT_CONFIG)
    if key not in _SHARED_INPUTS:
        _SHARED_INPUTS[key] = Inputs(spark, corpus_dir, config=config)
    return _SHARED_INPUTS[key]


def release_shared_inputs() -> None:
    for inp in _SHARED_INPUTS.values():
        inp.cleanup()
    _SHARED_INPUTS.clear()


def build_all_triples(spark: SparkSession, corpus_dir: str,
                      fixtures_dir: str | None = None,
                      config: PipelineConfig | None = None) -> DataFrame:
    """The full engine: returns the deduplicated triple table for all three
    graphs ('main', 'enriched', 'genes')."""
    return build_all_triples_from(shared_inputs(spark, corpus_dir, config),
                                  fixtures_dir)


def build_all_triples_from(inp: Inputs,
                           fixtures_dir: str | None = None) -> DataFrame:
    parts = [_tag(thunk(), graph) for graph, thunk
             in part_builders(inp, fixtures_dir).values()]
    # the reference's rdflib graphs deduplicate identical triples implicitly;
    # the one global shuffle of the job
    return dedup_triples(reduce(DataFrame.unionByName, parts))


def part_builders(inp: Inputs, fixtures_dir: str | None = None
                  ) -> dict[str, tuple[str, callable]]:
    """The engine as named parts: {part_name: (graph, () -> triples_df)}.
    The one list of graph parts: :func:`build_all_triples_from` unions
    them, the checkpointed runner writes each as its own job. Thunks so the
    runner can construct each part's DataFrame inside its own worker
    thread (plan construction is thousands of py4j round-trips; building
    all parts serially on the main thread is measurable driver latency)."""
    fixtures_dir = fixtures_dir or FIXTURES_DIR
    ents = inp.ents
    parts = {
        "aop_block": ("main", lambda: T.aop_block_triples(ents["aops"])),
        "ke_block": ("main", lambda: T.ke_block_triples(ents["kes"])),
        "ker_block": ("main", lambda: T.ker_block_triples(ents["kers"],
                                                          ents["registry"])),
        "taxonomy": ("main", lambda: T.taxonomy_triples(ents)),
        "stressor_block": ("main",
                           lambda: T.stressor_block_triples(ents["stressors"])),
        "components": ("main",
                       lambda: T.component_block_triples(ents, ents["kes"])),
        "bioevents": ("main", lambda: T.bioevent_triples(ents["kes"], ents)),
        # single part: the containment pieces share one resolved-edge
        # relation (one broadcast exchange)
        "containment": ("main",
                        lambda: T.containment_and_backlink_triples(ents)),
        "chem_blocks": ("main",
                        lambda: T.chemical_block_triples(inp.chem_linked)),
        "typelabels": ("main",
                       lambda: T.typelabel_triples(inp.spark, fixtures_dir)),
        "main_gene_ids": ("main", lambda: main_gene_id_triples(inp)),
        "enriched": ("enriched", lambda: enriched_graph(inp)),
        "genes": ("genes", lambda: genes_graph(inp)),
    }
    if inp.config.enable_iri_labels:
        # two parts: the static label surface writes as soon as the parse
        # tables land; only the gene-xref labels wait for the gene
        # checkpoint.
        parts["labels_static"] = (
            "main", lambda: main_label_triples_static(inp, fixtures_dir))
        parts["labels_main"] = ("main",
                                lambda: main_label_triples_gene(inp))
    return parts


# Entity tables materialized by the parse-stage checkpoint. Each carries its
# source rows' span sequences, so the per-row span invariant survives the
# lineage cut.
ENTITY_TABLES = ("aops", "kes", "kers", "stressors", "chemicals", "taxa",
                 "bioprocs", "bioobjs", "bioacts", "registry")


def _below_2mb_per_core(io, path: str, par: int) -> bool:
    """True when ``path`` holds under 2 MB of input per core: below that a
    stage is task-overhead-bound, so full-parallel spreads and writes pay
    per-task launches and commits for near-empty partitions."""
    return sum(sz for _, sz, _ in io.walk_stats(path)) < par * (2 << 20)


def _done(path: str, io=None) -> bool:
    # io threaded in by the runners: get_io's session fallback is
    # thread-local-dependent and the runners probe from pool threads
    return (io or FS.get_io(path)).exists(FS.join(path, "_SUCCESS"))


def _run_fingerprint(corpus_dir: str, config: PipelineConfig | None) -> str:
    """Content key for the checkpoint tree: every corpus file's (relative
    path, size, mtime_ns) plus the semantics-bearing config flags. Stat
    metadata rather than full content hashes keeps the check O(file count);
    mtime catches same-size edits (fixed-width parquet rewrites) that a
    size-only key silently resumed over — on Iceberg the equivalent key is
    the snapshot id, which covers content exactly.

    Two escapes from the conservative mtime default (a metadata-only touch
    of identical bytes — fresh download, cp without -p, image rebuild —
    otherwise discards every checkpoint):

    * a ``_snapshot_id`` file at the corpus root pins the corpus component
      to its content verbatim (the Iceberg-snapshot-id analogue: whoever
      materializes the corpus owns the version stamp);
    * ``AOPWIKI_RUN_FP_MODE=content`` hashes file bytes instead of stat
      metadata — O(corpus bytes) once per launch, exact.

    Dotfiles are excluded from the walk: caches parked next to a corpus
    are not corpus content.
    """
    import hashlib
    cfg = config or DEFAULT_CONFIG
    h = hashlib.sha256()
    cio = FS.get_io(corpus_dir)
    snap = FS.join(corpus_dir, "_snapshot_id")
    content_mode = os.environ.get("AOPWIKI_RUN_FP_MODE", "stat") == "content"
    if cio.isfile(snap):
        h.update(b"snapshot:" + cio.read_bytes(snap))
    else:
        # walk_stats yields sorted (relpath, size, mtime_ns) with dot
        # entries pruned; Hadoop-backed corpora report ms-granularity
        # mtimes (scaled to ns) — the fingerprint is an equality key per
        # I/O route, not a portable clock
        for rel, size, mtime_ns in cio.walk_stats(corpus_dir):
            h.update(rel.encode())
            if content_mode:
                with cio.open_read(FS.join(corpus_dir, rel)) as fh:
                    for chunk in iter(lambda: fh.read(1 << 20), b""):
                        h.update(chunk)
            else:
                h.update(str(size).encode())
                h.update(str(mtime_ns).encode())
    h.update(repr((cfg.enable_bern2, cfg.enable_iri_labels,
                   cfg.filter_arr_aops)).encode())
    return h.hexdigest()[:16]


def run_pipeline_checkpointed(spark: SparkSession, corpus_dir: str,
                              out_dir: str,
                              config: PipelineConfig | None = None,
                              baseline_manifest: str | None = None) -> dict:
    """Stage-checkpointed execution (the scale/production runner):

    1. **parse checkpoint** — one pass over the corpus writes every entity
       table to parquet (the lineage cut / Iceberg stage table of the
       north_rule). All downstream plans read these compact tables: task
       binaries stay small and the corpus is decoded exactly once.
    2. **gene checkpoint** — the mention-detection stage (the UDF compute
       center, plus NER when flag-on) materializes the per-subject gene
       table.
    3. **parts** — each graph part of :func:`part_builders` writes to its
       own staging table as soon as its inputs land.
    4. **dedup** — each graph deduplicates and writes its ``graph=``
       directory of the triple table as soon as its parts land.

    Resume: any stage directory with _SUCCESS is skipped — a rerun after a
    mid-pipeline failure recomputes only missing stages.

    Scheduling: stages run as a dependency graph on one thread pool — the
    gene stage starts as soon as its kes/kers tables land, part jobs start
    as their inputs land, and the wall clock is the critical path instead
    of the sum of phase barriers. Each part job's plan is a handful of
    branches over compact stage tables, so task binaries stay KB-sized
    (ONE 50-branch union job ships an MB-scale plan that every task
    re-deserializes — measured as the dominant cost at high core counts).
    """
    from concurrent.futures import ThreadPoolExecutor

    t0 = time.time()
    phases = {}
    par = spark.sparkContext.defaultParallelism
    stages_dir = FS.join(out_dir, "stages")
    parse_dir = FS.join(stages_dir, "parse")
    genes_path = FS.join(stages_dir, "gene_table")
    staging = FS.join(stages_dir, "parts")
    final = FS.join(out_dir, "triples")
    statuses = {}
    # Sidecar I/O route for out_dir: os for bare paths, the JVM's Hadoop
    # FileSystem for any scheme:// URI (object-store deployments get
    # resume + manifests without a POSIX mount; aopwiki_spark/fs.py).
    sio = FS.get_io(out_dir, spark)
    # 20 workers: tasks here are thin job-submitting threads that mostly
    # BLOCK on upstream futures (gene-gated parts, per-graph dedups, the
    # overlapped report jobs); with 12, the dedup futures queued behind
    # blocked part threads and a landed graph's dedup could not start.
    # Spark's scheduler, not this pool, governs actual task concurrency.
    pool = ThreadPoolExecutor(max_workers=20)

    # Stale-resume guard (completes S8: content-keyed stage cache): stage
    # checkpoints are only valid for the exact (corpus contents, config
    # flags) that produced them — the ARR filter changes the parse output
    # and enable_bern2 changes the gene table, so a _SUCCESS marker alone
    # would silently resume wrong data. Any fingerprint mismatch discards
    # the whole stage tree.
    fp = _run_fingerprint(corpus_dir, config)
    fp_path = FS.join(stages_dir, "fingerprint.json")
    if sio.isdir(stages_dir):
        old = None
        if sio.exists(fp_path):
            old = FS.read_json(fp_path, spark).get("fingerprint")
        if old != fp:
            sio.rmtree(stages_dir)
            statuses["stale_checkpoints"] = "discarded"
    sio.makedirs(stages_dir)
    FS.write_json(fp_path, {"fingerprint": fp}, spark)

    # ---- stage 1: parse checkpoint (per-table futures) ----
    todo = [n for n in ENTITY_TABLES
            if not _done(FS.join(parse_dir, n), sio)]
    inp0 = None
    if todo:
        # Kick the cache-materialize job off FIRST (its plan is one read +
        # exchange, ready in <1s), then build the ~10 entity-table plans on
        # the main thread while the scan runs — the constructor's py4j
        # plan-building seconds are driver-only and otherwise leave every
        # core idle (event-log measured an ~8s all-idle startup window).
        docs = cached_docs(spark, corpus_dir)
        f_cache = pool.submit(docs.count)
        inp0 = Inputs(spark, corpus_dir, config=config, docs=docs)
        f_cache.result()
    phases["input_cache"] = round(time.time() - t0, 2)

    # Text-heavy tables write at full parallelism (a 2-task write would
    # serialize encoding the bulk of the corpus); small tables land as
    # 2 files so the many downstream branch scans plan 1-2 tasks each
    # instead of one near-empty task per file (bytesPerCore planning).
    # 8MB row groups keep every file SPLITTABLE on read (a default 128MB
    # parquet block would make each file one row group = one task no
    # matter how many splits are planned).
    #
    # The 2-file layout is reached with repartition, NOT coalesce:
    # coalesce(2) pulls the ENTIRE cached corpus through 2 tasks — free
    # inside one JVM where every cached block is process-local, but on a
    # real multi-executor cluster those 2 tasks fetch ~(E-1)/E of the
    # cache remotely, per table (measured: parse_checkpoint 34s -> 366s
    # on local-cluster[4,4] vs [1,4]). repartition keeps the parse
    # data-local at full parallelism and shuffles only the kB-scale
    # extracted rows into the 2 output tasks.
    BIG = {"kes", "kers", "aops", "stressors"}
    # Small corpora write every table 2-wide: with ~20 MB of text the
    # "full parallelism" path emits 64 near-empty files per BIG table and
    # pays 64 task launches + commits per write. Real volumes (>= 2 MB per
    # core) keep the full-parallel encode.
    corpus_small = False
    if todo:
        try:
            corpus_small = _below_2mb_per_core(
                FS.get_io(corpus_dir, spark), corpus_dir, par)
        except Exception:
            pass

    def write_ent(name):
        if name in todo:
            df = inp0.ents[name]
            w = df if (name in BIG and not corpus_small) \
                else df.repartition(2)
            (w.write.mode("overwrite")
             .option("parquet.block.size", str(8 << 20))
             .parquet(FS.join(parse_dir, name)))
        return name

    # kes/kers first: they gate the gene stage (the compute center)
    order = ["kes", "kers"] + [n for n in ENTITY_TABLES
                               if n not in ("kes", "kers")]
    ent_futs = {n: pool.submit(write_ent, n) for n in order}
    statuses["parse"] = "written" if todo else "resumed"

    def read_ent(name):
        ent_futs[name].result()
        return spark.read.parquet(FS.join(parse_dir, name))

    # ---- stage 2: gene-mention checkpoint, gated on kes/kers only ----
    t_gene = time.time()

    def gene_stage():
        if not _done(genes_path, sio):
            # The UDF stage is CPU-bound on text: spread it to 2x cores —
            # but only when the table's bytes justify the per-task
            # overhead (each partition costs a python-worker round trip +
            # broadcast deref, measured ~8 ms; at sf0.1 the 64-way spread
            # of a 1 MB table made the stage 2x slower than reading the
            # checkpoint's natural splits: noop 1.05 s vs 0.50 s). Below
            # 2 MB per core the file splits (8 MB row groups) already feed
            # enough tasks.
            def udf_input(name):
                df = read_ent(name)
                if _below_2mb_per_core(sio, FS.join(parse_dir, name), par):
                    return df
                return df.repartition(par * 2)
            # Gated on the kes/kers writes only: gene_table touches no
            # other entity table.
            udf_inp = Inputs(spark, corpus_dir, config=config,
                             ents=LazyEnts(udf_input, ("kes", "kers")))
            # Build the broadcast dictionaries (gene matcher + NER model
            # stand-in) BEFORE gene_table blocks on the kes/kers writes:
            # they need only the dim tables, and collecting+broadcasting
            # them is driver-side seconds that otherwise serialize after
            # the parse barrier (event-log measured idle cores there).
            udf_inp.detect
            if udf_inp.config.enable_bern2:
                udf_inp.ner_udf
            # repartition, not coalesce: coalesce(2) propagates up through
            # the narrow stages and collapses the final per-subject
            # aggregation itself to 2 tasks (~7 s serial tail at 16 cores);
            # the extra exchange lets the agg run at full parallelism and
            # only the parquet encode runs 2-wide.
            gene_table(udf_inp).repartition(2).write.mode("overwrite") \
                               .option("parquet.block.size", str(8 << 20)) \
                               .parquet(genes_path)
            udf_inp.cleanup()
            statuses["genes"] = "written"
        else:
            statuses["genes"] = "resumed"
        phases["gene_checkpoint"] = round(time.time() - t_gene, 2)

    f_gene = pool.submit(gene_stage)

    # ---- stage 3: part jobs as their inputs land ----
    # LazyEnts: each part's thunk dereferences only the entity tables it
    # consumes, inside its worker thread — parts start the moment THEIR
    # tables land instead of barriering on the slowest of all ten parse
    # writes.
    ents = LazyEnts(read_ent, ENTITY_TABLES)

    def finish_parse():
        # docs-cache release + the parse phase stamp need the full write
        # barrier, but nothing downstream does — run it off-thread.
        for fut in ent_futs.values():
            fut.result()
        phases["parse_checkpoint"] = round(time.time() - t0, 2)
        if inp0 is not None:
            inp0.cleanup()

    f_parse_done = pool.submit(finish_parse)

    def load_gene_checkpoint():
        f_gene.result()
        return spark.read.parquet(genes_path)

    inp = Inputs(spark, corpus_dir, config=config, ents=ents,
                 load_assoc=load_gene_checkpoint)
    builders = part_builders(inp)
    t_parts = time.time()
    part_secs = {}
    # Pre-touch the two shared linking caches concurrently: four parts fan
    # out of chem_linked/pro_links; materializing each once here removes
    # the first-touch serialization (lock + block-store convoy) from the
    # part jobs' critical path.
    f_pretouch = [pool.submit(lambda: inp.chem_linked.count()),
                  pool.submit(lambda: inp.pro_links.count())]

    def write_part(name):
        graph, thunk = builders[name]
        if name in ("genes", "labels_main"):
            inp.assoc()  # waits on the gene checkpoint
        path = FS.join(staging, f"part={name}")
        if _done(path, sio):
            return name, "resumed"
        tp = time.time()
        # DataFrame construction happens here, inside the worker thread
        _tag(thunk(), graph).write.mode("overwrite").parquet(path)
        part_secs[name] = round(time.time() - tp, 2)
        return name, "written"

    part_futs = {n: pool.submit(write_part, n) for n in builders}

    # ---- stage 4: per-graph dedup + write, overlapped with stage 3 ----
    # Dedup keys include the graph, so the three graphs deduplicate
    # independently: each graph's exchange starts the moment ITS parts
    # land instead of barriering on the slowest part (the gene-gated GENES
    # graph). The overlap only pays when idle cores exist — exactly the
    # high-parallelism side of the N vs 4N scaling pair — and costs
    # nothing when the machine is saturated.
    by_graph: dict[str, list] = {}
    for n, (graph, _) in builders.items():
        by_graph.setdefault(graph, []).append(n)
    t3b = time.time()

    def dedup_graph(graph):
        for n in by_graph[graph]:
            part_futs[n].result()
        gdir = FS.join(final, f"graph={graph}")
        staged = spark.read.option("basePath", staging).parquet(
            *[FS.join(staging, f"part={n}") for n in by_graph[graph]])
        (dedup_triples(staged).select("subj", "pred", "obj")
         .sortWithinPartitions("pred", "subj")
         .write.mode("overwrite").parquet(gdir))
        # Per-graph manifest counts right here: each graph's count job
        # runs the moment ITS table lands, concurrent with the other
        # graphs' dedup writes.
        wrote_g = spark.read.parquet(gdir)
        n = wrote_g.count()
        n_assoc = (wrote_g.where(F.col("pred") == "edam:data_1025").count()
                   if graph == "genes" else None)
        return graph, n, n_assoc

    def ner_buckets_job():
        # WR-03 bucket counts off the gene checkpoint — needs only f_gene,
        # so it overlaps the part/dedup writes.
        return {r["ner_bucket"]: r["n"] for r in
                inp.assoc().groupBy("ner_bucket")
                .agg(F.count("*").alias("n")).collect()}

    def label_cov_job():
        # Flag-on label-coverage report (D-07): depends on the gene table
        # and the chem/pro linking only — NOT on the final triple table —
        # so it overlaps the dedup writes too. Returns (per_source, secs);
        # the JSON lands next to the manifest.
        if not inp.config.enable_iri_labels:
            return None
        inp.assoc()  # waits on the gene checkpoint
        tlc = time.time()
        report = label_coverage_report(inp)
        FS.write_json(FS.join(out_dir, "label-coverage-report.json"),
                      report, inp.spark, sort_keys=True)
        return report["per_source"], round(time.time() - tlc, 2)

    dedup_futs = [pool.submit(dedup_graph, g) for g in by_graph]
    f_buckets = pool.submit(ner_buckets_job)
    sio.makedirs(out_dir)
    f_labelcov = pool.submit(label_cov_job)
    statuses.update(dict(f.result() for f in part_futs.values()))
    f_gene.result()
    f_parse_done.result()
    for f in f_pretouch:
        f.result()
    phases["part_writes"] = round(time.time() - t_parts, 2)
    t4 = time.time()
    counts, n_gene_assoc = {}, 0
    for f in dedup_futs:
        graph, n, n_assoc = f.result()
        counts[graph] = n
        if n_assoc is not None:
            n_gene_assoc = n_assoc
    phases["dedup_write"] = round(time.time() - t3b, 2)
    buckets = f_buckets.result()
    lc = f_labelcov.result()
    pool.shutdown(wait=False)
    phases["count"] = round(time.time() - t4, 2)
    cfg = inp.config
    metrics = {
        "runner": "checkpointed",
        # the stale-guard key any resumed stage was validated against
        # (path+size+mtime_ns per corpus file + config flags; a filesystem
        # that truncates mtime to seconds weakens this to size+path —
        # recorded here so a resumed run's provenance is auditable)
        "fingerprint": fp,
        "phases": phases,
        "part_secs": part_secs,
        "graphs": counts,
        "total_triples": int(sum(counts.values())),
        "gene_association_triples": int(n_gene_assoc),
        "ner_buckets": {k: int(v) for k, v in sorted(buckets.items())},
        "config": {"enable_bern2": cfg.enable_bern2,
                   "enable_iri_labels": cfg.enable_iri_labels,
                   "filter_arr_aops": cfg.filter_arr_aops},
        "elapsed_sec": round(time.time() - t0, 2),
        "stages": statuses,
        "corpus_dir": corpus_dir,
        "out_path": final,
        "qc": {g: counts.get(g, 0) > 0 for g in ("main", "enriched", "genes")},
    }
    if lc is not None:
        metrics["label_coverage"] = lc[0]
        phases["label_coverage"] = lc[1]
    if cfg.record_consumer_counts:
        from aopwiki_spark.qc import consumer_query_counts
        metrics["consumer_query_rows"] = consumer_query_counts(
            spark, spark.read.parquet(final))
    if baseline_manifest is not None:
        from aopwiki_spark.qc import qc_delta_guard
        base = None
        if FS.get_io(baseline_manifest, spark).exists(baseline_manifest):
            base = FS.read_json(baseline_manifest, spark)
        metrics["delta_guard"] = qc_delta_guard(metrics, base)
    _write_metadata_files(out_dir, metrics)
    FS.write_json(FS.join(out_dir, "manifest.json"), metrics, spark)
    inp.cleanup()
    return metrics
