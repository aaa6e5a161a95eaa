"""``analytics`` workload: 17 ``__spark_entry__.queries()`` entries over
a seeded documents/events sample, no crawl.

The set has one or more entries per operators module (dedup, graph,
cleaning, sketches, lm, bpe, packing, langid, classifier, traps,
recrawl) plus the native politeness law. Three entries are left out so
that the benchmark's runs fit their time budget: ``host_pagerank`` and
``rank_priority`` (each one's DuckDB oracle takes ~7 s at any corpus
size; ``duplicate_clusters`` keeps the graph module covered) and
``pipeline_funnel`` (~11 s, a composition of stages measured here one
by one, except ``mixing``). It is
the read side of a crawled corpus and the only workload that measures
``operators/``. Each query is fully materialised with ``collect()``;
``bench.py``'s isolation runs between queries, outside the timers.

Every query's rows are checked against its DuckDB ``oracle_sql()``
with ``scripts/check_oracles.py``'s canonicalisation.
"""

from __future__ import annotations

import importlib.util
import os
import time

from perfbench import gen
from perfbench.common import OracleCache, file_digest, isolate, median, peak_rss_mb

QUERIES = [
    "exact_dedup", "near_dup_pipeline", "simhash", "duplicate_clusters",
    "c4_clean", "gopher_quality", "heavy_hitters",
    "hll_estimate", "cms_topk_est", "bigram_logprob", "bpe_merges",
    "pack_chunks", "nb_langid", "lr_quality",
    "trap_hosts", "recrawl_priority", "politeness_schedule",
]
N_DOCS = 500  # the sf0.01 documents size
EVENTS_PER_DOC = 20  # sf0.01: 10,000 events
BUILD_REPS = 3


def _check_oracles(root: str):
    spec = importlib.util.spec_from_file_location(
        "check_oracles", os.path.join(root, "scripts", "check_oracles.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def setup(spark, work, n_docs: int, seed: int):
    builds, sf = [], None
    for rep in range(BUILD_REPS):
        t0 = time.perf_counter()
        sf = work.sub(f"sf{rep}")
        gen.write_documents(sf, n_docs, seed)
        gen.write_events(sf, n_docs * EVENTS_PER_DOC, seed)
        for table in ("documents", "events"):
            spark.read.parquet(os.path.join(sf, f"{table}.parquet")).count()
        builds.append(time.perf_counter() - t0)
    return sf, builds


def run_pass(spark, sf: str, corrupt: bool) -> dict:
    import __spark_entry__

    qs = __spark_entry__.queries()
    seconds, outputs, errors = {}, {}, {}
    for name in QUERIES:
        isolate(spark)
        t0 = time.perf_counter()
        try:
            df = qs[name](spark, sf)
            rows = [tuple(r) for r in df.collect()]
        except Exception as e:  # a failing query is counted, not fatal
            errors[name] = f"{type(e).__name__}: {str(e)[:300]}"
            continue
        seconds[name] = time.perf_counter() - t0
        outputs[name] = (df.columns, rows)
    if corrupt:  # alter one row of the first query's output
        cols, rows = outputs[QUERIES[0]]
        outputs[QUERIES[0]] = (cols, [("corrupted",) + rows[0][1:]] + rows[1:])
    return {"seconds": seconds, "outputs": outputs, "errors": errors}


def duckdb_oracle(co, sf: str) -> dict:
    import duckdb

    import __spark_entry__

    sqls = __spark_entry__.oracle_sql()
    con = duckdb.connect()
    for table in ("documents", "events"):
        con.execute(f"create view {table} as select * from '{sf}/{table}.parquet'")
    answer = {}
    for name in QUERIES:
        try:
            # same conversion as scripts/check_oracles.py
            dpd = con.execute(sqls[name]).fetchdf()
        except Exception as e:  # recorded; the query's check then fails
            answer[name] = {"error": f"{type(e).__name__}: {str(e)[:300]}"}
            continue
        cols = list(dpd.columns)
        rows = [
            tuple(x.item() if hasattr(x, "item") else x for x in row)
            for row in dpd.itertuples(index=False, name=None)
        ]
        answer[name] = {"cols": sorted(cols), "rows": len(rows),
                        "key": [list(k) for k in co.rows_key(cols, rows)]}
    con.close()
    return answer


def check(co, outputs: dict, oracle: dict) -> list[str]:
    """Names of the queries whose rows differ from the oracle's."""
    bad = []
    for name in QUERIES:
        want = oracle[name]
        if name not in outputs or "error" in want:
            bad.append(name)
            continue
        cols, rows = outputs[name]
        if (sorted(cols) != want["cols"] or len(rows) != want["rows"]
                or [list(k) for k in co.rows_key(cols, rows)] != want["key"]):
            bad.append(name)
    return bad


def run(spark, work, args, session_s: float, source_digest: str) -> dict:
    import duckdb

    n_docs = args.docs or N_DOCS
    co = _check_oracles(os.getcwd())
    sf, builds = setup(spark, work, n_docs, args.seed)
    cache = OracleCache(work, "analytics", [
        str(args.seed), source_digest, duckdb.__version__, ",".join(QUERIES),
        file_digest(os.path.join(sf, "documents.parquet"), os.path.join(sf, "events.parquet")),
    ])
    oracle = cache.load()
    setup_s = session_s + median(builds)

    passes = []
    timed = 0.0
    while not passes or (not args.trace and timed < args.seconds):
        passes.append(run_pass(spark, sf, args.corrupt))
        timed += sum(passes[-1]["seconds"].values())
    rss = peak_rss_mb(spark)

    if oracle is None:
        oracle = duckdb_oracle(co, sf)
        cache.store(oracle)

    attempted = failed = 0
    mismatches = []
    for i, p in enumerate(passes):
        bad = check(co, p["outputs"], oracle)
        attempted += 2 * len(QUERIES)  # each query runs, then is checked
        failed += len(p["errors"]) + len(bad)
        mismatches += [f"pass{i}:{b}" for b in bad]

    walls = [sum(p["seconds"].values()) for p in passes]
    report = {
        "corpus": {"documents": n_docs, "events": n_docs * EVENTS_PER_DOC},
        "setup": {"session_s": session_s, "build_s": builds},
        "passes": [{"wall_s": w, "seconds": p["seconds"], "errors": p["errors"]}
                   for w, p in zip(walls, passes)],
        "peak_rss_mb": rss,
        "mismatches": mismatches,
    }
    if args.trace:
        metrics = {f"operators.{q}_s": median([p["seconds"].get(q, 0.0) for p in passes])
                   for q in QUERIES}
        metrics["sources.corpus_build_s"] = median(builds)
    else:
        metrics = {
            "setup_s": setup_s,
            "pages_per_s": n_docs * len(passes) / sum(walls),
            "wall_s": median(walls),
        }
    return {"attempted": attempted, "failed": failed, "metrics": metrics, "report": report}
