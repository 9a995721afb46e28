"""spark-submit entrypoint for the KG-construction pipeline (north_rule:
"launched via spark-submit --py-files on multi-executor clusters at N and
4N executors").

Package the engine once:

    python tools/submit_pipeline.py --package        # -> dist/aopwiki_spark.zip

Then launch on a cluster (the session inherits master/executor topology
from spark-submit; nothing in the engine assumes local mode):

    spark-submit \
      --py-files dist/aopwiki_spark.zip \
      --num-executors $N --executor-cores 4 --executor-memory 8g \
      --conf spark.sql.adaptive.enabled=true \
      --conf spark.sql.shuffle.partitions=$((N * 8)) \
      tools/submit_pipeline.py \
      /mnt/shared/corpus /mnt/shared/out \
      --enable-bern2 --enable-iri-labels \
      --baseline-manifest /mnt/shared/last-good/manifest.json

Paths may be local POSIX paths (NFS/EFS/Lustre mounts shared across the
cluster) or any ``scheme://`` URI the cluster's Hadoop connectors resolve
(``hdfs://``, ``s3a://``, ``gs://``, ``abfs://``, ``file://``): the
runner routes resume markers, stage fingerprints, manifest.json and the
VoID/ServiceDescription sidecars through the JVM's Hadoop FileSystem
(aopwiki_spark/fs.py) alongside Spark's own parquet writers. Each URI's
FileSystem is resolved up front so a missing connector jar fails with one
clear message instead of mid-run.

Local smoke (same code path):

    spark-submit --master 'local[8]' --py-files dist/aopwiki_spark.zip \
      tools/submit_pipeline.py synthdata/sf0.001 /tmp/aop-out \
      --enable-bern2 --enable-iri-labels --fixtures-dir fixtures

The driver prints the run manifest (per-graph counts, phases, NER buckets,
delta-guard verdict) as one JSON line on stdout; a failed delta guard exits
non-zero so schedulers surface silent data loss.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import zipfile


def _repo_root() -> str:
    return os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def package(out_path: str | None = None) -> str:
    """Zip the aopwiki_spark package for --py-files shipping."""
    root = _repo_root()
    out_path = out_path or os.path.join(root, "dist", "aopwiki_spark.zip")
    os.makedirs(os.path.dirname(out_path), exist_ok=True)
    pkg = os.path.join(root, "aopwiki_spark")
    with zipfile.ZipFile(out_path, "w", zipfile.ZIP_DEFLATED) as z:
        for dirpath, _, files in sorted(os.walk(pkg)):
            for f in sorted(files):
                if not f.endswith(".py"):
                    continue
                full = os.path.join(dirpath, f)
                z.write(full, os.path.relpath(full, root))
    return out_path


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("corpus_dir", nargs="?")
    ap.add_argument("out_dir", nargs="?")
    ap.add_argument("--package", action="store_true",
                    help="build dist/aopwiki_spark.zip and exit")
    ap.add_argument("--enable-bern2", action="store_true")
    ap.add_argument("--enable-iri-labels", action="store_true")
    ap.add_argument("--filter-arr-aops", action="store_true")
    ap.add_argument("--baseline-manifest", default=None,
                    help="last-known-good manifest for the delta guard")
    ap.add_argument("--fixtures-dir", default=None,
                    help="static writer inputs (prefixes.csv, "
                         "typelabels.txt); required when the package ships "
                         "as a --py-files zip")
    args = ap.parse_args(argv)
    if args.fixtures_dir:
        os.environ["AOPWIKI_FIXTURES_DIR"] = args.fixtures_dir

    if args.package:
        print(package())
        return 0
    if not args.corpus_dir or not args.out_dir:
        ap.error("corpus_dir and out_dir are required (or use --package)")

    from pyspark.sql import SparkSession
    # Inherit everything from spark-submit; only set analysis-level
    # defaults that are safe on any cluster.
    spark = (SparkSession.builder.appName("aopwiki-kg-pipeline")
             .config("spark.sql.adaptive.enabled", "true")
             .getOrCreate())

    # Remote URIs (s3a://, gs://, abfs://, hdfs://, file://) are served by
    # the JVM's Hadoop FileSystem for both the parquet tables (Spark's own
    # writers) and the sidecar files (aopwiki_spark/fs.py routes resume
    # markers / fingerprint / manifest through the same API). Resolve each
    # URI's FileSystem up front so a missing connector fails with one clear
    # message instead of mid-run.
    from aopwiki_spark import fs as FS
    for label, path in (("corpus_dir", args.corpus_dir),
                        ("out_dir", args.out_dir),
                        ("--baseline-manifest", args.baseline_manifest)):
        if path and "://" in path:
            try:
                FS.HadoopIO(spark)._fs_path(path)
            except Exception as e:
                ap.error(
                    f"{label} '{path}': no Hadoop FileSystem connector "
                    f"resolves this scheme on the cluster classpath "
                    f"({e}). Add the connector jar (e.g. hadoop-aws for "
                    "s3a://) or use a cluster-shared POSIX mount.")

    from aopwiki_spark.config import PipelineConfig
    from aopwiki_spark.pipeline import run_pipeline_checkpointed
    cfg = PipelineConfig(enable_bern2=args.enable_bern2,
                         enable_iri_labels=args.enable_iri_labels,
                         filter_arr_aops=args.filter_arr_aops)
    manifest = run_pipeline_checkpointed(
        spark, args.corpus_dir, args.out_dir, config=cfg,
        baseline_manifest=args.baseline_manifest)
    print(json.dumps(manifest))
    guard = manifest.get("delta_guard")
    if guard is not None and not guard.get("passed"):
        return 2
    return 0


if __name__ == "__main__":
    sys.exit(main())
