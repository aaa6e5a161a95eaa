"""``docweb`` workload: the documents web crawled to quiescence.

A seeded ``documents`` table (500 documents of 10-100 words on 20
hosts, the sf0.01 size) is rendered by ``sources.synthetic_web.pages_from_documents``
and crawled from 32 seeded seed documents (4 fetching rounds) with
``bench.py``'s crawl config, without its round cap. Rounds carry ~125
rows, so the per-round fixed cost (checkpoints, overwrites, job
launches) dominates the wall.

Every crawl's output is checked against ``ReferenceSimulator`` on the
same pages: seen set with fetched flags, per-host attempted counts and a
digest of the per-URL text.
"""

from __future__ import annotations

import hashlib
import os
import random
import shutil
import statistics
import time
from collections import defaultdict

from perfbench import gen
from perfbench.common import OracleCache, file_digest, isolate, last_job_id, median, peak_rss_mb
from perfbench.tracing import BytesWritten, TracingCatalog, covered_seconds

N_DOCS = 500
N_SEEDS = 32
LINKS_PER_PAGE = 6  # pages_from_documents' default
BUILD_REPS = 3
# bench.py's crawl config minus max_rounds: crawled to quiescence
CRAWL_CONFIG = dict(collect_metrics=False, max_urls_per_host_per_round=500, round_window=60.0)


def closure_depth(n_docs: int, seed_ids: list[int]) -> int:
    """BFS levels of pages_from_documents' link rule (doc d links to
    (3d + 17k + 1) mod n for k = 1..6) from ``seed_ids``: the number of
    fetching rounds a quiescent crawl takes."""
    seen, frontier, depth = set(seed_ids), list(seed_ids), 0
    while frontier:
        nxt = []
        for d in frontier:
            for k in range(1, LINKS_PER_PAGE + 1):
                t = (d * 3 + k * 17 + 1) % n_docs
                if t not in seen:
                    seen.add(t)
                    nxt.append(t)
        frontier, depth = nxt, depth + 1
    return depth


def choose_seed_docs(n_docs: int, seed: int) -> list[int]:
    """``N_SEEDS`` documents drawn with the workload seed, redrawn until
    their link closure has the corpus's modal depth, so every seed
    crawls the same number of rounds. The modal depth comes from a
    fixed draw, independent of the workload seed."""
    n_seeds = min(N_SEEDS, n_docs)
    probe = random.Random("doc-seeds/modal-depth")
    depths = [closure_depth(n_docs, probe.sample(range(n_docs), n_seeds)) for _ in range(15)]
    target = statistics.mode(depths)
    rng = random.Random(f"doc-seeds/{seed}")
    for _ in range(200):
        ids = sorted(rng.sample(range(n_docs), n_seeds))
        if closure_depth(n_docs, ids) == target:
            return ids
    raise RuntimeError(f"no seed draw reaches closure depth {target}")


def text_digest(pairs) -> str:
    h = hashlib.sha256()
    for url, text in sorted(pairs):
        h.update(f"{url}\t{text}\n".encode())
    return h.hexdigest()


def setup(spark, work, n_docs: int, seed: int):
    """Seeded documents → pages parquet, built ``BUILD_REPS`` times;
    returns the last build and every build's seconds."""
    from webcrawler_spark.sources.synthetic_web import pages_from_documents

    builds, pages_dir = [], None
    for rep in range(BUILD_REPS):
        t0 = time.perf_counter()
        sf = work.sub(f"sf{rep}")
        gen.write_documents(sf, n_docs, seed)
        pages_dir = os.path.join(work.path, f"pages{rep}")
        pages_from_documents(spark, sf).write.parquet(pages_dir)
        builds.append(time.perf_counter() - t0)
        if rep:
            shutil.rmtree(os.path.join(work.path, f"pages{rep - 1}"))
    pages = spark.read.parquet(pages_dir)
    ids = choose_seed_docs(n_docs, seed)
    seeds = spark.createDataFrame(
        [(gen.doc_url(i), order) for order, i in enumerate(ids)], "url string, seed_order int"
    )
    return pages, seeds, [gen.doc_url(i) for i in ids], builds, sf


def collect_outputs(eng, corrupt: bool) -> dict:
    seen_rows = eng.seen().select("url", "fetched").collect()
    text_rows = [(r.url, r.text) for r in eng.pages_fetched().select("url", "text").collect()]
    if corrupt:  # drop one fetched row from the engine's output
        victim = min(r.url for r in seen_rows if r.fetched)
        seen_rows = [r for r in seen_rows if r.url != victim]
        text_rows = [p for p in text_rows if p[0] != victim]
    return {
        "seen_rows": len(seen_rows),
        "seen": {r.url: bool(r.fetched) for r in seen_rows},
        "host_counts": {r.host: int(r.n) for r in eng.host_counts().collect()},
        "text_digest": text_digest(text_rows),
        "texts": len(text_rows),
    }


def simulate(pages_rows, seed_urls: list[str]) -> dict:
    from webcrawler_spark.simulator import ReferenceSimulator, pages_df_to_dict

    pages = pages_df_to_dict(pages_rows)
    res = ReferenceSimulator(pages).run(seed_urls)
    return {
        "seen": res.seen,
        "host_counts": res.host_counts,
        "text_digest": text_digest(res.texts.items()),
        "texts": len(res.texts),
        "html_bytes_fetched": sum(len(pages[u]["html"]) for u in res.fetch_order),
    }


def check(out: dict, oracle: dict) -> list[str]:
    """Names of the output checks that mismatch the oracle."""
    bad = []
    if out["seen_rows"] != len(out["seen"]) or out["seen"] != oracle["seen"]:
        bad.append("seen_fetched")
    if out["host_counts"] != oracle["host_counts"]:
        bad.append("host_counts")
    if out["text_digest"] != oracle["text_digest"] or out["texts"] != oracle["texts"]:
        bad.append("text_digest")
    return bad


N_CHECKS = 3


def crawl_unit(spark, pages, seeds, corrupt: bool) -> dict:
    """One untraced crawl through ``plans.crawl.crawl``."""
    from webcrawler_spark.engine import CrawlConfig
    from webcrawler_spark.plans.crawl import crawl

    t0 = time.perf_counter()
    session = crawl(spark, pages, seeds, config=CrawlConfig(**CRAWL_CONFIG))
    wall = time.perf_counter() - t0
    eng = session.engine
    unit = {
        "traced": False,
        "wall_s": wall,
        "pages": eng.state.total_fetched,
        "attempted_urls": eng.state.total_attempted,
        "rounds": len(session.history),
        "stopped": session.history[-1].get("stopped") if session.history else None,
        "outputs": collect_outputs(eng, corrupt),
    }
    shutil.rmtree(eng.cat.root, ignore_errors=True)
    return unit


def traced_unit(spark, pages, seeds, corrupt: bool) -> dict:
    """The same crawl driven call by call: ``init_from_seeds`` then
    ``run_round`` until done, over a span-recording catalog, with the
    Spark job-id delta and the bytes written read between rounds."""
    from webcrawler_spark.engine import CrawlConfig, CrawlEngine
    from webcrawler_spark.tables import MemoryCatalog

    inner = MemoryCatalog(spark)
    cat = TracingCatalog(inner)
    written = BytesWritten(inner.root)
    eng = CrawlEngine(spark, pages, catalog=cat, config=CrawlConfig(**CRAWL_CONFIG))
    t_start = time.perf_counter()
    eng.init_from_seeds(seeds)
    init_s = time.perf_counter() - t_start
    written.scan()
    rounds = []
    while not eng.state.done:
        j0 = last_job_id(spark)
        a = time.perf_counter()
        m = eng.run_round()
        b = time.perf_counter()
        jobs = last_job_id(spark) - j0
        written.scan()
        catalog_s = covered_seconds([(s[2], s[3]) for s in cat.spans], a, b)
        rounds.append({
            "round": m["round"], "stopped": m.get("stopped"), "attempted": m["attempted"],
            "fetched": m["fetched"], "wall_s": b - a, "catalog_s": catalog_s,
            "driver_s": (b - a) - catalog_s, "jobs": jobs,
        })
    wall = time.perf_counter() - t_start
    unit = {
        "traced": True,
        "wall_s": wall,
        "pages": eng.state.total_fetched,
        "attempted_urls": eng.state.total_attempted,
        "rounds": len(rounds),
        "stopped": rounds[-1]["stopped"] if rounds else None,
        "init_s": init_s,
        "round_detail": rounds,
        "spans": cat.spans,
        "bytes_written": written.total,
        "outputs": collect_outputs(eng, corrupt),
    }
    shutil.rmtree(inner.root, ignore_errors=True)
    return unit


def functions_layer(spark, pages, pages_rows) -> dict:
    """Parse cost on the workload's own html pages: pure-Python
    ``parse_page`` in this process; a Spark no-op write of (url, html);
    and the same rows through ``parse_page_udf``."""
    from pyspark.sql import functions as F

    from webcrawler_spark.functions.parse import parse_page, parse_page_udf
    from webcrawler_spark.functions.urltools import host_col, host_of

    html_rows = [
        (bytes(r.html), host_of(r.url))
        for r in pages_rows
        if r.content_type and "text/html" in r.content_type
    ]
    n, t0 = 0, time.perf_counter()
    while time.perf_counter() - t0 < 1.0:
        for html, host in html_rows:
            parse_page(html, host)
        n += len(html_rows)
    parse_pps = n / (time.perf_counter() - t0)

    html_pages = pages.filter(F.col("content_type").contains("text/html"))
    scan = html_pages.select("url", "html")
    udf = html_pages.select(parse_page_udf(F.col("html"), host_col(F.col("url"))).alias("p"))

    def noop_s(df) -> float:
        times = []
        for _ in range(3):
            isolate(spark)
            t = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            times.append(time.perf_counter() - t)
        return median(times)

    return {
        "functions.parse_pages_per_s": parse_pps,
        "functions.html_scan_s": noop_s(scan),
        "functions.parse_udf_s": noop_s(udf),
    }


def layer_metrics(unit: dict, html_bytes_fetched: int) -> dict:
    work = [r for r in unit["round_detail"] if r["stopped"] is None]
    per_call = defaultdict(float)
    for method, table, a, b in unit["spans"]:
        per_call[(method, table)] += b - a
    by_method = defaultdict(float)
    for (method, _table), s in per_call.items():
        by_method[method] += s
    return {
        "engine.init_s": unit["init_s"],
        "engine.round0_s": unit["round_detail"][0]["wall_s"],
        "engine.round_p50_s": median([r["wall_s"] for r in work]),
        "engine.round_max_s": max(r["wall_s"] for r in work),
        "engine.rounds": len(work),
        "engine.jobs_per_round": sum(r["jobs"] for r in work) / len(work),
        "engine.driver_s": sum(r["driver_s"] for r in unit["round_detail"]),
        "engine.fetch_yield": unit["pages"] / unit["attempted_urls"],
        "tables.append_delta.pages_fetched_s": per_call[("append_delta", "pages_fetched")],
        "tables.append.seen_s": per_call[("append", "seen")],
        "tables.overwrite.frontier_s": per_call[("overwrite", "frontier")],
        "tables.overwrite.host_state_s": per_call[("overwrite", "host_state")],
        "tables.append_delta.host_robots_s": per_call[("append_delta", "host_robots")],
        "tables.read_s": by_method["read"],
        "tables.compact_s": by_method["compact"],
        "tables.commit_round_s": by_method["commit_round"],
        "tables.calls": len(unit["spans"]),
        "tables.bytes_written": unit["bytes_written"],
        "tables.write_amp": unit["bytes_written"] / html_bytes_fetched,
    }


def run(spark, work, args, session_s: float, source_digest: str) -> dict:
    n_docs = args.docs or N_DOCS
    pages, seeds, seed_urls, builds, sf = setup(spark, work, n_docs, args.seed)
    cache = OracleCache(work, "docweb", [str(args.seed), source_digest,
                                         file_digest(os.path.join(sf, "documents.parquet")),
                                         ",".join(seed_urls)])
    oracle = cache.load()
    setup_s = session_s + median(builds)

    units = []
    if args.trace:
        # cold untraced crawl, traced crawl, warm untraced crawl: the
        # overhead compares the last two
        for traced in (False, True, False):
            units.append((traced_unit if traced else crawl_unit)(spark, pages, seeds, args.corrupt))
    else:
        timed = 0.0
        while not units or timed < args.seconds:
            units.append(crawl_unit(spark, pages, seeds, args.corrupt))
            timed += units[-1]["wall_s"]
    rss = peak_rss_mb(spark)

    pages_rows = pages.select("url", "html", "status", "content_type").collect()
    if oracle is None:
        oracle = simulate(pages_rows, seed_urls)
        cache.store(oracle)

    attempted = failed = 0
    mismatches = []
    for i, u in enumerate(units):
        bad = check(u["outputs"], oracle)
        attempted += u["rounds"] + N_CHECKS
        failed += len(bad)
        mismatches += [f"unit{i}:{b}" for b in bad]

    html_bytes = sum(len(r.html) for r in pages_rows if r.html is not None)
    report = {
        "corpus": {"documents": n_docs, "pages": len(pages_rows), "html_bytes": html_bytes,
                   "html_bytes_fetched": oracle["html_bytes_fetched"], "seed_urls": seed_urls},
        "setup": {"session_s": session_s, "build_s": builds},
        "units": [{k: v for k, v in u.items() if k not in ("outputs", "spans")} for u in units],
        "peak_rss_mb": rss,
        "mismatches": mismatches,
    }
    if args.trace:
        traced, untraced = units[1:]
        metrics = layer_metrics(traced, oracle["html_bytes_fetched"])
        metrics.update(functions_layer(spark, pages, pages_rows))
        metrics["sources.corpus_build_s"] = median(builds)
        metrics["trace_overhead"] = (traced["pages"] / traced["wall_s"]) / (untraced["pages"] / untraced["wall_s"])
    else:
        crawl_s = sum(u["wall_s"] for u in units)
        metrics = {
            "setup_s": setup_s,
            "pages_per_s": sum(u["pages"] for u in units) / crawl_s,
            "wall_s": median([u["wall_s"] for u in units]),
        }
    return {"attempted": attempted, "failed": failed, "metrics": metrics, "report": report}
