"""The traced layer walk: each engine layer's public functions called one
after another, each call inside its own span.

The walk runs after a traced runner build, in the same session, and
reuses two of that build's outputs: the staged graph parts (input of the
dedup span) and the final triple table (input of the query spans). Every
layer result is persisted and counted inside its span, so the span covers
the full computation of every column and later layers start from cached
inputs instead of recomputing their upstream.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from aopwiki_spark import genes as G
from aopwiki_spark import ner as N
from aopwiki_spark.config import production_config
from aopwiki_spark.parse import parse_entities
from aopwiki_spark.pipeline import (Inputs, dedup_triples,
                                    label_coverage_report, part_builders)
from aopwiki_spark.session import read_dim, read_docs
from aopwiki_spark.sparqlcorpus import CORPUS, endpoint_view, evict_view

KER_TEXT_FIELDS = ["description", "bio_plausibility", "empirical_support"]


def dir_mb(path: str) -> float:
    """Size of a file, or of every file under a directory, in MB."""
    if os.path.isfile(path):
        return os.path.getsize(path) / 2**20
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(path) for f in files) / 2**20


class Walk:
    def __init__(self, spark, tracer, corpus_dir: str):
        self.spark = spark
        self.tr = tracer
        self.corpus_dir = corpus_dir
        self.cfg = production_config()
        self.metrics: dict[str, float] = {}
        self.results: dict[str, list] = {}
        self._held = []

    def _force(self, df):
        """Persist and count: computes every column of ``df`` once."""
        df = df.persist()
        self._held.append(df)
        return df, df.count()

    def _dim(self, name):
        return read_dim(self.spark, self.corpus_dir, name)

    def run(self, run_out: str, total_triples: int) -> dict:
        try:
            ents = self.parse()
            self.genes(ents)
            self.ner(ents)
            inp = Inputs(self.spark, self.corpus_dir, config=self.cfg,
                         ents=ents)
            with self.tr.span("gene_table"):
                inp.assoc().count()
            self.linking(inp)
            with self.tr.span("labels"):
                label_coverage_report(inp)
            self.triples(inp)
            self.dedup(os.path.join(run_out, "stages", "parts"),
                       total_triples)
            self.queries(os.path.join(run_out, "triples"))
            inp.cleanup()
        finally:
            for df in self._held:
                df.unpersist()
        return self.metrics

    def parse(self) -> dict:
        docs, _ = self._force(read_docs(self.spark, self.corpus_dir))
        rows = 0
        with self.tr.span("parse") as sp:
            ents = parse_entities(docs)
            for name in list(ents):
                ents[name], n = self._force(ents[name])
                rows += n
        in_mb = dir_mb(os.path.join(self.corpus_dir, "docs.parquet"))
        self.metrics.update({"parse.rows_out": rows,
                             "parse.in_mb_per_s": in_mb / sp.s})
        return ents

    def genes(self, ents):
        with self.tr.span("genes"):
            detect = G.make_detector_udf(self.spark, self._dim("hgnc_dim"))
            ke, _ = self._force(G.detect_ke_genes(ents["kes"], detect))
            ker, _ = self._force(G.detect_ker_genes(ents["kers"], detect))
        # texts handed to the matcher: every non-null scanned field
        self.metrics["genes.texts"] = (
            ke.select(F.count("description")).first()[0]
            + sum(ker.select(*[F.count(c) for c in KER_TEXT_FIELDS]).first()))
        self.metrics["genes.mentions"] = sum(
            df.select(F.sum(F.size("genes"))).first()[0] or 0
            for df in (ke, ker))

    def ner(self, ents):
        with self.tr.span("ner"):
            udf = N.make_ner_udf(self.spark, self._dim("ner_dim"),
                                 min_prob=self.cfg.ner_min_prob,
                                 chunk_chars=self.cfg.ner_chunk_chars)
            found = [self._force(N.detect_ner_ncbi(
                ents[name], cols, udf, G.longlit))[0]
                for name, cols in (("kes", ["description"]),
                                   ("kers", KER_TEXT_FIELDS))]
        self.metrics["ner.mentions"] = sum(
            df.select(F.sum(F.size("ner_ncbi"))).first()[0] or 0
            for df in found)

    def linking(self, inp):
        with self.tr.span("linking"):
            # Inputs persists each of these on first touch
            rows = (inp.chem_linked.count() + inp.pro_links.count()
                    + inp.found_x().count())
        self.metrics["linking.rows"] = rows

    def triples(self, inp):
        with self.tr.span("triples"):
            for name, (_, thunk) in part_builders(inp).items():
                with self.tr.span(f"triples.{name}"):
                    thunk().write.format("noop").mode("overwrite").save()

    def dedup(self, parts_dir: str, total_triples: int):
        staged = self.spark.read.parquet(parts_dir).select(
            "graph", "subj", "pred", "obj")
        rows = staged.count()
        with self.tr.span("dedup"):
            dedup_triples(staged).write.format("noop").mode(
                "overwrite").save()
        self.metrics.update({"triples.rows_staged": rows,
                             "pipeline.dedup_ratio": total_triples / rows})

    def queries(self, triples_dir: str):
        """Endpoint load and the consumer corpus, one span each; the result
        rows are kept in ``self.results`` for the caller's checks."""
        tri = self.spark.read.parquet(triples_dir)
        with self.tr.span("sparqlcorpus"):
            with self.tr.span("sparqlcorpus.view"):
                self.metrics["sparqlcorpus.view_rows"] = \
                    endpoint_view(tri).count()
            for name, fn in CORPUS.items():
                with self.tr.span(f"sparqlcorpus.{name}"):
                    self.results[name] = fn(self.spark, tri).collect()
        evict_view(tri)
