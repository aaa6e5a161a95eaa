"""Engine importance-aware scheduling (CrawlConfig.priority_mode —
round-4 verdict ask #6): under "pagerank"/"opic" the W1 host-limited
wave is ordered by a rank table rebuilt from the ACCUMULATED crawled
link graph, so well-linked hosts are fetched earlier; the default
"fifo" preserves the reference's (priority, host) order exactly.

Web shape: five seed hosts each link to ONE shared popular host
(named zzz-popular so plain host-name FIFO order puts it LAST) and
one private unpop host. After round 0 crawls the seeds, the frontier
holds six hosts but hosts_per_round admits five — the one deferred to
round 2 is the popular host under FIFO, and an unpop host under
pagerank (popular's in-degree is 5× every unpop's)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from webcrawler_spark.engine import CrawlConfig, CrawlEngine

N_SEEDS = 5


def _page(url: str, body: str) -> tuple:
    return (url, f"<html><body>{body}</body></html>".encode(), 200, "text/html")


@pytest.fixture(scope="module")
def rank_web(spark):
    rows = []
    seed_urls = []
    for i in range(N_SEEDS):
        u = f"https://s{i}.example/"
        body = (
            '<a href="https://zzz-popular.example/p">hub</a> '
            f'<a href="https://unpop{i}.example/p">leaf</a>'
        )
        rows.append(_page(u, body))
        seed_urls.append(u)
    rows.append(_page("https://zzz-popular.example/p", "the popular page"))
    for i in range(N_SEEDS):
        rows.append(_page(f"https://unpop{i}.example/p", f"leaf {i}"))
    pages = spark.createDataFrame(
        rows, "url string, html binary, status int, content_type string"
    ).localCheckpoint()
    seeds = spark.createDataFrame(
        [(u, i) for i, u in enumerate(seed_urls)],
        "url string, seed_order long",
    )
    return pages, seeds


def _crawl(spark, rank_web, **cfg_kwargs):
    pages, seeds = rank_web
    cfg = CrawlConfig(
        max_rounds=8,
        hosts_per_round=N_SEEDS,
        max_urls_per_host_per_round=5,
        round_window=1000.0,
        collect_metrics=False,
        priority_refresh_rounds=1,
        **cfg_kwargs,
    )
    eng = CrawlEngine(spark, pages, config=cfg)
    eng.run(seeds)
    return eng


def _fetch_rounds(eng) -> dict:
    return {
        r["host"]: r["rnd"]
        for r in eng.pages_fetched()
        .groupBy("host")
        .agg(F.min("round").alias("rnd"))
        .collect()
    }


@pytest.fixture(scope="module")
def fifo_rounds(spark, rank_web):
    return _fetch_rounds(_crawl(spark, rank_web))


@pytest.fixture(scope="module")
def pagerank_eng(spark, rank_web):
    return _crawl(spark, rank_web, priority_mode="pagerank")


def test_fifo_defers_the_popular_host(fifo_rounds):
    pop = fifo_rounds["https://zzz-popular.example"]
    unpops = [
        v for h, v in fifo_rounds.items() if h.startswith("https://unpop")
    ]
    assert len(unpops) == N_SEEDS
    # name-ordered FIFO: every unpop host beats zzz-popular
    assert all(pop > u for u in unpops), (pop, unpops)


def test_pagerank_fetches_the_popular_host_first(pagerank_eng, fifo_rounds):
    pr_rounds = _fetch_rounds(pagerank_eng)
    pop = pr_rounds["https://zzz-popular.example"]
    unpops = [
        v for h, v in pr_rounds.items() if h.startswith("https://unpop")
    ]
    # rank order admits the 5x-linked host in the first discovered-host
    # wave; exactly one unpop host is deferred instead
    assert pop == min(unpops + [pop]), (pop, unpops)
    assert max(unpops) > pop
    # coverage parity: the mode reorders, never drops
    assert set(pr_rounds) == set(fifo_rounds)


@pytest.mark.parametrize("mode", ["opic", "recrawl"])
def test_other_modes_complete_with_identical_coverage(
    spark, rank_web, fifo_rounds, mode
):
    eng = _crawl(spark, rank_web, priority_mode=mode)
    assert set(_fetch_rounds(eng)) == set(fifo_rounds)


def test_unknown_mode_raises():
    # rejected when the config is built, before any crawl work
    with pytest.raises(ValueError, match="priority_mode"):
        CrawlConfig(hosts_per_round=N_SEEDS, priority_mode="bogus")


@pytest.mark.parametrize("mode", ["pagerank", "opic", "recrawl"])
def test_ranked_mode_without_host_limit_raises(mode):
    # scale mode (hosts_per_round=None) has no W1 window to reorder,
    # so a ranked mode there would be silently ignored for ever
    with pytest.raises(ValueError, match="hosts_per_round"):
        CrawlConfig(priority_mode=mode)


def test_empty_per_host_budget_raises():
    with pytest.raises(ValueError, match="max_urls_per_host_per_round"):
        CrawlConfig(max_urls_per_host_per_round=0)


def test_recrawl_rank_weighs_each_url_once(spark):
    """priority_mode="recrawl" ranks a host by the mean p_stale of its
    DISTINCT URLs: a URL fetched in several rounds has one staleness
    and must not outweigh its host's other URLs."""
    from webcrawler_spark.operators.recrawl import recrawl_priority

    a, b = "https://a.example", "https://b.example"
    fetched = [(f"{a}/hot", a, r, f"v{r}") for r in range(4)]   # 4 changes
    fetched += [(f"{a}/cold", a, 0, "same"), (f"{b}/x", b, 1, "x")]
    pages_fetched = spark.createDataFrame(
        fetched, "url string, host string, round int, text string"
    )
    pages = spark.createDataFrame(
        [], "url string, html binary, status int, content_type string"
    )
    eng = CrawlEngine(
        spark, pages,
        config=CrawlConfig(hosts_per_round=1, priority_mode="recrawl"),
    )
    eng.cat.overwrite("pages_fetched", pages_fetched)
    eng.state.round = 6
    eng._refresh_host_ranks()
    got = {r["host"]: r["rank_score"] for r in eng._rank_df.collect()}

    p = {
        r["url"]: r["p_stale"]
        for r in recrawl_priority(
            pages_fetched.select("url", "round", F.md5("text").alias("digest")),
            now_round=6,
        ).collect()
    }
    assert p[f"{a}/hot"] != pytest.approx(p[f"{a}/cold"])
    assert got[a] == pytest.approx((p[f"{a}/hot"] + p[f"{a}/cold"]) / 2)
    assert got[b] == pytest.approx(p[f"{b}/x"])
