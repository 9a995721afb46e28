"""The repository benchmark: builds the knowledge graph with the production
runner and queries it the way its consumers do, from outside the engine.

    python3 perfbench/run.py --workload build_text --seed 1 --seconds 10 \\
        --trace 0

Run from the repository root. One process, one Spark session at
``local[<cores>]``, one client in a closed loop. Each run:

1. set-up: starts the session and generates the workload's corpus from the
   seed;
2. builds the graph once with ``pipeline.run_pipeline_checkpointed`` and
   the production flags, into a fresh directory, and checks the output;
3. loads the endpoint view and runs the eight consumer queries in turn,
   pass after pass, until ``--seconds`` have passed (at least one pass),
   checking every result.

The build is the first one in a fresh JVM, as in a scheduled production
run. ``--trace 1`` runs a separate session with Spark's event log on:
a traced build, then each layer's public functions one at a time, each in
its own span, and prints the per-layer metrics instead.

Human-readable lines come first; the last line of standard output is one
JSON object with the keys ``correct``, ``attempted``, ``failed`` and
``metrics``. Everything the run writes goes under ``.perfbench/`` in the
repository root; the run's scratch directory is removed at exit and a
record of the run (series, host, spans) is kept in ``.perfbench/results``.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shlex
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time
import traceback
from dataclasses import dataclass

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import host  # noqa: E402


@dataclass(frozen=True)
class Workload:
    scale: int      # synth.gen scale units (1 unit ~ 50 documents)
    text_mult: int  # description length multiplier


WORKLOADS = {
    # long descriptions: the gene and NER UDFs and the parse carry real
    # text volume, so text-layer changes move build_s here
    "build_text": Workload(scale=20, text_mult=4),
    # the correctness-scale corpus: almost no data, so the build is the
    # runner's fixed cost (jobs, plan building, task launches, commits)
    "build_small": Workload(scale=14, text_mult=1),
}
# --smoke swaps every workload's corpus for the smallest profile (sf0.001)
SMOKE = Workload(scale=1, text_mult=1)

with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    SPEC = json.load(_fh)
UNITS = {m["name"]: m["unit"] for m in SPEC["end_to_end"] + SPEC["per_layer"]}
# layers whose spans get task metrics and a self time, in walk order
LAYERS = ("pipeline", "parse", "genes", "ner", "linking", "labels",
          "triples", "sparqlcorpus")
# manifest phase stamps: offsets from the runner's start or from a later
# stage start, so they overlap and cannot be summed
STAMPS = ("input_cache", "parse_checkpoint", "gene_checkpoint",
          "part_writes", "dedup_write", "count", "label_coverage")


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="use the sf0.001 corpus (the benchmark's own test)")
    return ap.parse_args(argv)


# the session settings the engine reads from the environment
ENGINE_ENV = ("SPARK_MASTER", "SPARK_GRAFT_CPUS", "SPARK_DRIVER_MEMORY",
              "SPARK_EXECUTOR_MEMORY", "SPARK_MAX_PARTITION_BYTES",
              "SPARK_EXECUTOR_PYTHONPATH")


def prepare_env(work: str, trace: bool) -> None:
    """Point every file Spark, the JVM and Python write at ``work`` and put
    the repository on the UDF workers' path. Must run before the JVM
    starts."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    for key in [k for k in os.environ if k.startswith("AOPWIKI_")
                or k in ENGINE_ENV]:
        del os.environ[key]  # engine switches: the benchmark runs defaults
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    # The engine's default 8 GB cap lets the heap grow by an amount that
    # depends on when collections happen, so peak_rss_mb varied by a third
    # across seeds (IQR/median 0.32 on a shared 4-core host, vs 0.13-0.21
    # at 4 GB) with no change in build time; a 4 GB cap also keeps a run's
    # footprint near 3 GB on a host whose memory is shared.
    os.environ["SPARK_DRIVER_MEMORY"] = "4g"
    conf = {"spark.sql.warehouse.dir": os.path.join(work, "warehouse")}
    if trace:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir)
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": "file://" + log_dir,
                     # the default zstd codec has no Python reader here
                     "spark.eventLog.compress": "false",
                     "spark.eventLog.rolling.enabled": "false"})
    # A run is one short-lived JVM, as a scheduled spark-submit is. With the
    # default tiered JIT, C2 compiles and G1's concurrent threads took most
    # of a 4-core host: a cold sf0.01 build used 115 CPU s for 20 CPU s of
    # tasks. C1 only and the serial collector roughly halve the CPU and
    # cut the wall by a quarter to a third, which keeps a comparison's 48
    # runs inside its time limit on a busy host. C1 alone reserves 48 MB
    # for compiled code; a build fills that and the JIT stops, so the
    # reservation is the tiered default.
    jvm = [f"-Djava.io.tmpdir={tmp}", "-XX:TieredStopAtLevel=1",
           "-XX:ReservedCodeCacheSize=240m", "-XX:+UseSerialGC"]
    args = ["--driver-java-options", " ".join(jvm)]
    for k, v in conf.items():
        args += ["--conf", f"{k}={v}"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(args + ["pyspark-shell"])


def stop_spark(spark) -> None:
    """Stop the session, then the JVM and every process it started (the
    UDF workers' daemon outlives the JVM briefly), and wait until all have
    exited."""
    from pyspark import SparkContext
    started = [pid for pid in host.tree_pids() if pid != os.getpid()]
    proc = SparkContext._gateway.proc
    spark.stop()
    SparkContext._gateway.shutdown()
    proc.stdin.close()  # the gateway JVM exits when its stdin closes
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    deadline = time.time() + 15
    while time.time() < deadline and any(map(host.alive, started)):
        time.sleep(0.1)
    for pid in filter(host.alive, started):
        os.kill(pid, signal.SIGKILL)


class Run:
    """One benchmark run: its session, corpus, counters and records."""

    def __init__(self, args, work: str):
        self.args = args
        self.wl = SMOKE if args.smoke else WORKLOADS[args.workload]
        self.seed = f"perfbench-{args.seed}"
        self.work = work
        self.spark = None
        self.attempted = 0
        self.failed = 0
        self.metrics: dict[str, float] = {}
        # peak memory over the timed build and query passes only
        self.memory = host.MemorySampler()
        self.record: dict = {"workload": args.workload, "seed": args.seed,
                             "trace": args.trace, "smoke": args.smoke,
                             "nproc": host.nproc(),
                             "loadavg_1m_at_start": os.getloadavg()[0],
                             "warmup": {"builds": 0, "query_passes": 0}}

    def attempt(self, what: str, problems: list[str]) -> bool:
        """Count one operation; report and count it failed if it has
        problems."""
        self.attempted += 1
        for p in problems:
            print(f"FAILED {what}: {p}", file=sys.stderr)
        self.failed += bool(problems)
        return not problems

    def guarded(self, what: str, fn, *args):
        """Run ``fn``; an exception counts one failed operation."""
        try:
            return fn(*args)
        except Exception:
            traceback.print_exc()
            self.attempt(what, [f"raised {sys.exc_info()[1]!r}"])
            return None

    def setup(self):
        from aopwiki_spark.session import get_spark
        from aopwiki_spark.synth.gen import generate_corpus
        t0 = time.time()
        self.spark = get_spark("perfbench", cpus=host.nproc())
        session_s = time.time() - t0
        self.corpus = os.path.join(self.work, "corpus")
        generate_corpus(self.corpus, self.wl.scale, self.seed,
                        self.wl.text_mult)
        gen_s = time.time() - t0 - session_s
        self.metrics["setup_s"] = session_s + gen_s
        self.record["setup"] = {"session_s": session_s, "gen_s": gen_s}

    def build(self, out: str) -> dict:
        """One production build into ``out``; returns the build's wall,
        CPU, steal and manifest."""
        from aopwiki_spark.config import production_config
        from aopwiki_spark.pipeline import run_pipeline_checkpointed
        ticks, cpu0 = host.cpu_times(), host.tree_cpu_s()
        with self.memory:
            t0 = time.time()
            manifest = run_pipeline_checkpointed(
                self.spark, self.corpus, out, config=production_config())
            wall = time.time() - t0
        it = {"build_s": wall, "cpu_s": host.tree_cpu_s() - cpu0,
              "steal_pct": host.steal_pct(ticks, host.cpu_times()),
              "total_triples": manifest["total_triples"],
              "phases": manifest["phases"]}
        self.record.setdefault("builds", []).append(it)
        return it | {"manifest": manifest}

    def check_build(self, out: str, it: dict) -> bool:
        """Check the build's triple table against the oracles' triple set;
        keep what the query checks need."""
        from perfbench import check
        t0 = time.time()
        rows = check.read_triples(os.path.join(out, "triples"))
        expected = check.expected_build(self.corpus, self.wl.scale,
                                        self.seed, self.wl.text_mult)
        self.view_rows = len({r[1:] for r in expected})
        self.expected_queries = check.expected_queries(expected)
        problems = check.check_build(it["manifest"], rows, expected)
        self.record["builds"][-1].update(
            check_s=time.time() - t0, digest=check.rows_digest(rows),
            expected_digest=check.rows_digest(expected))
        return self.attempt("build", problems)

    def checked_build(self, out: str, tracer=None) -> dict | None:
        """Build (inside the tracer's ``pipeline`` span, if given) and
        check; None if either fails."""
        with tracer.span("pipeline") if tracer else contextlib.nullcontext():
            b = self.guarded("build", self.build, out)
        if b is None or not self.guarded("build check", self.check_build,
                                         out, b):
            return None
        return b

    def check_queries(self, results: dict) -> dict:
        """Each query's rows must equal its oracle's rows. Returns each
        result's (row count, hash) for the run record."""
        from perfbench import check
        digests = {}
        for name, want in self.expected_queries.items():
            got = sorted(tuple(map(str, r)) for r in results.get(name, []))
            self.attempt(f"query {name}", [] if got == sorted(want) else
                         [f"{got[:5]} != {sorted(want)[:5]}"])
            digests[name] = check.rows_digest(got)
        return digests

    def query_pass(self, triples_dir: str) -> dict:
        from aopwiki_spark.sparqlcorpus import (CORPUS, endpoint_view,
                                                evict_view)
        tri = self.spark.read.parquet(triples_dir)
        ticks, t0 = host.cpu_times(), time.time()
        view_rows = endpoint_view(tri).count()
        p = {"load_s": time.time() - t0, "query_s": {}}
        results = {}
        for name, fn in CORPUS.items():
            t0 = time.time()
            results[name] = fn(self.spark, tri).collect()
            p["query_s"][name] = time.time() - t0
        p["steal_pct"] = host.steal_pct(ticks, host.cpu_times())
        evict_view(tri)
        self.attempt("endpoint load", [] if view_rows == self.view_rows else
                     [f"view has {view_rows} rows, expected "
                      f"{self.view_rows}"])
        p["results"] = results
        return p

    def measure(self):
        out = os.path.join(self.work, "out")
        b = self.checked_build(out)
        if b is None:
            return
        self.metrics.update({"build_s": b["build_s"], "cpu_s": b["cpu_s"],
                             "triples_per_s": b["total_triples"]
                             / b["build_s"]})
        passes, t0 = [], time.time()
        while not passes or time.time() - t0 < self.args.seconds:
            with self.memory:
                p = self.guarded("query pass", self.query_pass,
                                 os.path.join(out, "triples"))
            if p is None:
                return
            p["digests"] = self.check_queries(p.pop("results"))
            passes.append(p)
        self.record["query_passes"] = passes
        lat = [s for p in passes for s in p["query_s"].values()]
        pass_s = [p["load_s"] + sum(p["query_s"].values()) for p in passes]
        self.metrics.update({
            "load_s": statistics.median(p["load_s"] for p in passes),
            "query_s_p50": statistics.median(lat),
            "queries_per_s": len(passes[0]["query_s"])
            / statistics.median(pass_s)})
        self.record["query_samples"] = len(lat)

    def measure_traced(self):
        from perfbench.layers import Walk, dir_mb
        from perfbench.trace import Tracer
        tr = Tracer(self.spark.sparkContext)
        out = os.path.join(self.work, "out")
        b = self.checked_build(out, tr)
        if b is None:
            return
        walk = Walk(self.spark, tr, self.corpus)
        m = self.guarded("layer walk", walk.run, out, b["total_triples"])
        if m is None:
            return
        self.record["query_digests"] = self.check_queries(walk.results)
        self.attempt("endpoint load",
                     [] if m["sparqlcorpus.view_rows"] == self.view_rows
                     else [f"view has {m['sparqlcorpus.view_rows']} rows"])
        self.stop()  # completes the event log
        self.record["tasks_folded"] = tr.fold_event_log(
            os.path.join(self.work, "eventlog"))
        self.record["spans"] = tr.records()
        for sp in tr.spans.values():
            if sp.name.startswith(("triples.", "sparqlcorpus.")):
                m[f"{sp.name}_s"] = sp.s
        for layer in LAYERS:
            sp = tr.by_name(layer)
            m[f"{layer}.s"] = sp.s
            m[f"{layer}.self_s"] = tr.self_s(sp)
            m.update({f"{layer}.{k}": v for k, v in tr.totals(sp).items()})
        # the parts' own time, without the loop around them
        m["triples.s"] = sum(tr.spans[c].s
                             for c in tr.by_name("triples").children)
        m.update({f"pipeline.{stamp}_s": b["phases"][stamp]
                  for stamp in STAMPS})
        m.update({"pipeline.spark_jobs": tr.by_name("pipeline").jobs,
                  "pipeline.gc_s": tr.by_name("pipeline").gc_s,
                  "pipeline.busy_cores": b["cpu_s"] / b["build_s"],
                  "pipeline.gene_table_s": tr.by_name("gene_table").s,
                  "pipeline.dedup_s": tr.by_name("dedup").s})
        stages = os.path.join(out, "stages")
        m.update({"fs.parse_mb": dir_mb(os.path.join(stages, "parse")),
                  "fs.gene_table_mb": dir_mb(os.path.join(stages,
                                                          "gene_table")),
                  "fs.parts_mb": dir_mb(os.path.join(stages, "parts")),
                  "fs.triples_mb": dir_mb(os.path.join(out, "triples")),
                  # every byte the build wrote, per corpus byte
                  "fs.write_amp": dir_mb(out) / dir_mb(self.corpus)})
        self.metrics = m

    def stop(self):
        if self.spark is not None:
            stop_spark(self.spark)
            self.spark = None


def report(run: Run) -> None:
    r = run.record
    print(f"perfbench {r['workload']} seed={r['seed']} trace={r['trace']} "
          f"nproc={r['nproc']} load1={r['loadavg_1m_at_start']:.2f}")
    if "setup" in r:
        print(f"set-up: session {r['setup']['session_s']:.2f} s, corpus "
              f"generation {r['setup']['gen_s']:.2f} s; warm-up: none (the "
              f"measured build is the first)")
    for b in r.get("builds", []):
        print(f"build: {b['build_s']:.2f} s, {b['total_triples']} triples, "
              f"cpu {b['cpu_s']:.1f} s, steal {b['steal_pct']:.2f}%, "
              f"check {b.get('check_s', 0):.2f} s (untimed)")
    for i, p in enumerate(r.get("query_passes", [])):
        print(f"query pass {i}: load {p['load_s']:.2f} s, queries "
              + " ".join(f"{s:.2f}" for s in p["query_s"].values())
              + f" s, steal {p['steal_pct']:.2f}%")
    if "query_samples" in r:
        print(f"query latency samples: {r['query_samples']} (p90 needs 100)")
    for sp in r.get("spans", []):
        print(f"span {sp['name']:<40} {sp['end'] - sp['start']:8.3f} s  "
              f"self {sp['self_s']:8.3f} s  jobs {sp['jobs']:4d}  "
              f"task cpu {sp['task_cpu_s']:7.2f} s")
    print(f"attempted {run.attempted}, failed {run.failed}, error_rate "
          f"{run.failed / max(run.attempted, 1):.4f}")
    for name, value in sorted(run.metrics.items()):
        print(f"  {name:<48} {value:14.4f} {UNITS.get(name, '?')}")


def main(argv=None) -> int:
    args = parse_args(argv)
    try:
        import aopwiki_spark
    except ImportError as e:
        print(f"perfbench: no engine in {ROOT}: {e}", file=sys.stderr)
        return 2
    if not aopwiki_spark.__file__.startswith(ROOT + os.sep):
        print(f"perfbench: the engine imported from {aopwiki_spark.__file__}"
              f", not from {ROOT}", file=sys.stderr)
        return 2
    base = os.path.join(ROOT, ".perfbench")
    work = os.path.join(base, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    prepare_env(work, bool(args.trace))
    run = Run(args, work)
    try:
        run.guarded("set-up", run.setup)
        if run.spark is not None:
            (run.measure_traced if args.trace else run.measure)()
        if not args.trace and "build_s" in run.metrics:
            run.metrics["peak_rss_mb"] = run.memory.peak_mb
    finally:
        run.stop()
        shutil.rmtree(work, ignore_errors=True)
    run.record["metrics"] = run.metrics
    os.makedirs(os.path.join(base, "results"), exist_ok=True)
    with open(os.path.join(base, "results", f"{args.workload}-seed"
                           f"{args.seed}-trace{args.trace}.json"), "w") as fh:
        json.dump(run.record, fh, indent=1, default=str)
    report(run)
    correct = run.failed == 0 and run.attempted > 0
    spec = SPEC["per_layer" if args.trace else "end_to_end"]
    print(json.dumps({"correct": correct, "attempted": run.attempted,
                      "failed": run.failed,
                      "metrics": {m["name"]: {"value": run.metrics[m["name"]],
                                              "unit": m["unit"]}
                                  for m in spec if m["name"] in run.metrics}}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
