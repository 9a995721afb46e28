"""Round-end preflight: verify the whole graded-artifact chain in seconds.

Run this before the driver closes a round. It checks, without starting
Spark or re-measuring anything, every contract the driver grades on:

  1. metric-line replay — rebuild the compact summary from the COMMITTED
     BENCH_DETAILS.json (``git show HEAD:...`` — the working-tree copy may
     be a stale driver overwrite) through ``bench.metric_line``, the same
     code path ``bench._emit`` runs, field-shedding loop included;
  2. roster contract — ``__spark_entry__.queries()`` is exactly the
     driver's row cap, every query has an ``oracle_sql()`` twin, and every
     oracle parses/binds in DuckDB over the driver's view layout (all via
     tools/driver_contract.py, the single copy of the contract);
  3. tree hygiene — no uncommitted changes to hashed engine source
     (aopwiki_spark/**, bench.py) NOR to the measurement record
     (BENCH_DETAILS.json, fixtures/bench_best.json, LEAKCHECK.json): an
     uncommitted sidecar means the committed record describes a different
     run than the tree claims (the round-5 residual finding).

Exit 0 all-green, 1 otherwise, one line per check. The deeper (slow)
verifications have their own tools: tools/check_oracles.py replays the full
value-hash correctness gate (~8 min), pytest tests/ is the unit surface.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import duckdb  # noqa: E402

import bench  # noqa: E402
from tools.driver_contract import (DRIVER_ROW_CAP, explain_failures,  # noqa: E402
                                   setup_views)

SF_DIR = os.environ.get("SF_DIR", "/root/testdata/sf0.001")
FAILED = False


def check(name: str, ok: bool, detail: str = "") -> None:
    global FAILED
    print(f"{'OK  ' if ok else 'FAIL'} {name}" + (f": {detail}" if detail
                                                  else ""))
    if not ok:
        FAILED = True


def main() -> int:
    key = bench._src_key()

    # 1. metric-line replay from the COMMITTED sidecar (git show: the
    # working-tree file may be a stale driver overwrite — step 3 flags
    # that separately), through the exact bench emission path, shedding
    # loop included (a summary that only fits after shedding must PASS).
    try:
        show = subprocess.run(
            ["git", "show", "HEAD:BENCH_DETAILS.json"], cwd=ROOT,
            capture_output=True, text=True)
        if show.returncode != 0:
            raise OSError(show.stderr.strip() or "git show failed")
        details = json.loads(show.stdout)
        line = bench.metric_line(bench._compact_summary(details, key))
        check("metric line fits driver tail",
              len(line) <= bench.METRIC_LINE_MAX,
              f"{len(line)} chars (limit {bench.METRIC_LINE_MAX})")
        pg = details.get("perf_guard", {})
        check("perf guard in committed record", pg.get("ok", True),
              f"regressed={pg.get('regressed')}")
    except (OSError, ValueError, AssertionError) as ex:
        check("committed BENCH_DETAILS.json emits", False, str(ex))

    # 2. roster contract
    import __spark_entry__ as E
    qs, oracles = E.queries(), E.oracle_sql()
    check("roster is the driver cap", len(qs) == DRIVER_ROW_CAP,
          f"{len(qs)} != {DRIVER_ROW_CAP}")
    check("every query has an oracle", set(qs) == set(oracles),
          f"diff={sorted(set(qs) ^ set(oracles))}")
    con = duckdb.connect()
    setup_views(con, SF_DIR)
    bad = explain_failures(con, oracles)
    check("oracle SQL parses in DuckDB", not bad, f"bad={sorted(bad)}")

    # 3. tree hygiene over hashed source + the measurement record
    out = subprocess.run(
        ["git", "status", "--porcelain", "--", "aopwiki_spark", "bench.py",
         "BENCH_DETAILS.json", "LEAKCHECK.json", "fixtures/bench_best.json"],
        cwd=ROOT, capture_output=True, text=True).stdout.strip()
    check("engine source + measurement record committed", not out,
          out.replace("\n", "; "))

    print("PREFLIGHT " + ("FAIL" if FAILED else "PASS"))
    return 1 if FAILED else 0


if __name__ == "__main__":
    sys.exit(main())
