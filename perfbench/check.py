"""Output checks that run outside every timed span.

The expected output of a build is computed from the corpus by two
implementations that share no code with the Spark engine:

- the pure-Python reference-semantics oracle
  (``refsemantics.triples_oracle``) gives the flag-off triple set;
- the DuckDB oracle SQL of ``kgqueries`` gives what the production flags
  change: the flag-on ``genes`` graph (regex + NER gene union, per-method
  provenance, gene labels) and the IRI ``rdfs:label`` triples of ``main``.

A build must write exactly that set of ``(graph, subj, pred, obj)`` rows,
each once. The consumer queries are checked the same way: each query's
DuckDB twin runs over the expected triples, and the engine's result must
equal it row for row.

A build's rows are read back from the written parquet with pyarrow (no
Spark job, so the check neither warms nor loads the engine).
"""

from __future__ import annotations

import hashlib
import os

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

from aopwiki_spark import kgqueries
from aopwiki_spark.queries import ORACLE_CORPUS, ORACLES
from aopwiki_spark.refsemantics.triples_oracle import expected_triples
from aopwiki_spark.sparqlcorpus import AOPO_SUBJECT_PATTERNS
from aopwiki_spark.synth.gen import build_model
from tests.conftest import load_dims


def _h64(parts) -> int:
    key = "\x1f".join("\x00" if p is None else str(p) for p in parts)
    return int.from_bytes(hashlib.blake2b(key.encode(), digest_size=8)
                          .digest(), "little")


def rows_digest(rows) -> tuple[int, int]:
    """(row count, order-independent hash) of an iterable of tuples."""
    n = h = 0
    for r in rows:
        n += 1
        h = (h + _h64(r)) % 2**64
    return n, h


def read_triples(triples_dir: str) -> list[tuple]:
    """Every (graph, subj, pred, obj) row of a runner's triple table."""
    rows = []
    for entry in sorted(os.listdir(triples_dir)):
        if not entry.startswith("graph="):
            continue
        graph = entry[len("graph="):]
        t = pq.read_table(os.path.join(triples_dir, entry),
                          columns=["subj", "pred", "obj"])
        rows.extend((graph, s, p, o) for s, p, o in zip(
            *(t.column(c).to_pylist() for c in ("subj", "pred", "obj"))))
    return rows


def _oracle(name: str, corpus_dir: str) -> set[tuple]:
    """Rows of one of the engine's DuckDB oracle queries, over
    ``corpus_dir`` instead of the fixed correctness corpus."""
    sql = ORACLES[name].replace(f"'{ORACLE_CORPUS}/", f"'{corpus_dir}/")
    return set(duckdb.sql(sql).fetchall())


def expected_build(corpus_dir: str, scale: int, seed: str,
                   text_mult: int) -> set[tuple]:
    """The production build's triple set for one corpus. The spans come
    from the generator's model, which every scale has (the flat
    ``doc_spans`` twin is only written at small scales)."""
    spans = [{"doc_id": d.doc_id, "etype": d.etype, "kind": k, "text": t,
              "media_ref": m, "offset": o}
             for d in build_model(scale, seed, text_mult)
             for k, t, m, o in d.spans]
    flag_off = expected_triples(spans, load_dims(corpus_dir))
    return ({r for r in flag_off if r[0] != "genes"}
            | {("genes", *r)
               for r in _oracle("kg_genes_graph_flagon", corpus_dir)}
            | {("main", *r) for r in _oracle("kg_iri_labels", corpus_dir)})


def check_build(manifest: dict, rows: list[tuple],
                expected: set[tuple]) -> list[str]:
    """Problems with one build's table; an empty list means it is exactly
    the expected one."""
    problems = []
    got = set(rows)
    if len(rows) != manifest["total_triples"]:
        problems.append(f"{len(rows)} rows on disk, manifest says "
                        f"{manifest['total_triples']}")
    if len(got) != len(rows):
        problems.append(f"{len(rows) - len(got)} duplicate triples")
    if not all(manifest["qc"].values()):
        problems.append(f"empty graph: {manifest['qc']}")
    for what, diff in (("missing", expected - got), ("extra", got - expected)):
        if diff:
            problems.append(f"{len(diff)} {what} triples, e.g. "
                            f"{sorted(diff, key=str)[:3]}")
    return problems


# the four corpus queries whose DuckDB twin is the one (metric, n) union
DATASET_STATS = {
    "kg_sparql_profile": ("triples", "subjects", "predicates", "objects"),
    "kg_sparql_aopo_usage": (*AOPO_SUBJECT_PATTERNS, "predicates_aopo",
                             "objects_aopo"),
    "kg_sparql_aop_predicates": ("aop_predicates",),
    "kg_sparql_persistent_ids": ("objects_identifiers_org",
                                 "subjects_identifiers_org"),
}
OWN_TWIN = ("kg_sparql_type_counts", "kg_sparql_genes_pro",
            "kg_sparql_gene_mentions", "kg_sparql_species_method")


def expected_queries(expected: set[tuple]) -> dict[str, set[tuple]]:
    """Each consumer query's rows, as stringified tuples, from its DuckDB
    twin run over the endpoint view (distinct ``(subj, pred, obj)``) of
    the expected triples."""
    cols = list(zip(*expected))
    tri = pa.table({"subj": cols[1], "pred": cols[2], "obj": cols[3]})
    con = duckdb.connect()
    con.register("expected_triples", tri)
    ev = "t AS (SELECT DISTINCT subj, pred, obj FROM expected_triples)"

    def run(name):
        sql = ORACLES[name]
        assert kgqueries._EV in sql, name
        return {tuple(map(str, r))
                for r in con.sql(sql.replace(kgqueries._EV, ev)).fetchall()}

    out = {name: run(name) for name in OWN_TWIN}
    stats = run("kg_sparql_dataset_stats")
    for name, metrics in DATASET_STATS.items():
        out[name] = {r for r in stats if r[0] in metrics}
    con.close()
    return out
