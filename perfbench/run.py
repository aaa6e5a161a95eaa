"""The repository benchmark: one workload, one seed, one JSON result.

Run from the root of a checkout::

    python3 perfbench/run.py --workload docweb --seed 1 --seconds 10 --trace 0

Workloads (``BENCHMARK.json`` records why each was chosen):

* ``docweb``    — ``perfbench/docweb.py``: a documents web crawled to
  quiescence through ``plans.crawl.crawl``, checked against
  ``ReferenceSimulator``.
* ``analytics`` — ``perfbench/analytics.py``: 17 ``queries()`` entries,
  checked against their DuckDB ``oracle_sql()``.

The run builds its inputs from ``--seed``, times whole units (a crawl,
or a pass over the query set) until ``--seconds`` of them have been
measured, computes the oracle answer outside every timer (cached per
seed, inputs and program sources under ``.perfbench_work/``), checks
every unit's output, and prints a ``{"report": ...}`` line with
provenance and per-unit detail, then, as the last line, the result::

    {"correct": true, "attempted": N, "failed": 0, "metrics": {...}}

``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the
per-layer metrics, timed from this directory around calls into each
layer. A per-layer metric of a layer the workload does not exercise
reads 0. ``failed / attempted`` is the failed ratio: operations
(crawl rounds, queries, output checks) that raised or mismatched their
oracle, over those attempted. Any failure exits 1; running outside a
checkout exits 2 without a result.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import sys
import time
import traceback

_T0 = time.perf_counter()

if not __package__:  # run as a script: the checkout and perfbench importable
    sys.path[0:0] = [os.getcwd(), os.path.dirname(os.path.dirname(os.path.abspath(__file__)))]

from perfbench import analytics, docweb  # noqa: E402
from perfbench.analytics import QUERIES  # noqa: E402
from perfbench.common import (  # noqa: E402
    REQUIRED_FILES,
    Workdir,
    log,
    machine,
    provenance,
    source_digest,
    start_session,
    stop_session,
)

END_TO_END = {
    "setup_s": "s",
    "pages_per_s": "pages/s",
    "wall_s": "s",
}

PER_LAYER = {
    "engine.init_s": "s",
    "engine.round0_s": "s",
    "engine.round_p50_s": "s",
    "engine.round_max_s": "s",
    "engine.rounds": "count",
    "engine.jobs_per_round": "jobs",
    "engine.driver_s": "s",
    "engine.fetch_yield": "ratio",
    "tables.append_delta.pages_fetched_s": "s",
    "tables.append.seen_s": "s",
    "tables.overwrite.frontier_s": "s",
    "tables.overwrite.host_state_s": "s",
    "tables.append_delta.host_robots_s": "s",
    "tables.read_s": "s",
    "tables.compact_s": "s",
    "tables.commit_round_s": "s",
    "tables.calls": "count",
    "tables.bytes_written": "bytes",
    "tables.write_amp": "ratio",
    "functions.parse_pages_per_s": "pages/s",
    "functions.html_scan_s": "s",
    "functions.parse_udf_s": "s",
    **{f"operators.{q}_s": "s" for q in QUERIES},
    "sources.corpus_build_s": "s",
    "trace_overhead": "ratio",
}

WORKLOADS = {"docweb": docweb, "analytics": analytics}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=list(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True,
                   help="measure whole units until this many seconds are timed")
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--docs", type=int, default=0,
                   help="corpus size override (tests use a tiny corpus)")
    p.add_argument("--corrupt", action="store_true",
                   help="drop one fetched row (docweb) or alter one query row (analytics)"
                        " before the checks; tests the checks")
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    # a terminated run still stops Spark and waits for its processes
    signal.signal(signal.SIGTERM, lambda signum, frame: sys.exit(128 + signum))
    root = os.getcwd()
    missing = [f for f in REQUIRED_FILES if not os.path.isfile(os.path.join(root, f))]
    if missing:
        print(f"perfbench: not a webcrawler_spark checkout, missing {missing};"
              " run from the repository root", file=sys.stderr)
        return 2
    workload = WORKLOADS[args.workload]
    mach = machine()
    work = Workdir(root, args.workload)
    spark = None
    try:
        spark, mem_mb = start_session(root, work, mach)
        session_s = time.perf_counter() - _T0
        prov = provenance(spark, mach, mem_mb, args.seed)
        log(f"{args.workload} seed={args.seed} trace={args.trace} on {prov['master']}")
        out = workload.run(spark, work, args, session_s, source_digest(root))
    except Exception:
        traceback.print_exc()
        print(json.dumps({"correct": False, "attempted": 1, "failed": 1, "metrics": {}}))
        return 1
    finally:
        try:
            stop_session(spark)
        finally:
            work.close()
    units = PER_LAYER if args.trace else END_TO_END
    metrics = {name: {"value": float(out["metrics"].get(name, 0.0)), "unit": unit}
               for name, unit in units.items()}
    correct = out["failed"] == 0
    print(json.dumps({"report": {"workload": args.workload, "trace": args.trace,
                                 "provenance": prov, "failed_ratio": out["failed"] / out["attempted"],
                                 **out["report"]}}))
    print(json.dumps({"correct": correct, "attempted": out["attempted"],
                      "failed": out["failed"], "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    raise SystemExit(main())
