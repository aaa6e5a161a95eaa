"""Plan-audit regression tests (round-2 verdict #4).

Correctness oracles catch wrong ANSWERS; these tests catch wrong
PLANS — the regressions that stay green at sf0.01 but die at 100 TB:

* ``CartesianProduct`` — an all-pairs join sneaking back into a
  bucketed dedup/ANN pipeline;
* ``Exchange SinglePartition`` — an un-partitioned sort/window pulling
  a full scan through one task (the A1 budget-landing bug class);
* ``SortMergeJoin`` on the engine's corpus side — the wave join must
  stay broadcast (small wave) or shuffle-hash (big wave), never a
  corpus sort.

The asserted-clean plans are today's plans; if a refactor reintroduces
one of these shapes the suite fails loudly with the operator name.
"""

from __future__ import annotations

import math

import pytest

SF = "/root/testdata/sf0.001"

# queries whose executed plan must contain none of the scale-killer
# shapes; all read real testdata parquet so pushdown/pruning are live
AUDITED = [
    "cosine_topk",
    "near_dup_pipeline",
    "embedding_near_dup",
    "minhash_lsh_pairs",
    "incremental_dedup",
    "simhash_near_pairs",
    "budget_landing",
    "politeness_schedule",
    "trap_hosts",
    "rank_priority",
    "recrawl_priority",
    "c4_clean",
    "justext_blocks",
    "hdr_quantiles",
    "domain_cap",
    "sitemap_parse",
    "exact_substring_dedup",
    "bpe_pair_counts",
    "bpe_encode",
]

FORBIDDEN = ["CartesianProduct", "SinglePartition", "SortMergeJoin"]


@pytest.fixture(scope="module")
def entry():
    import __spark_entry__ as e

    return e


@pytest.fixture()
def full_plans(spark):
    """Plans must not be truncated or the forbidden-substring check can
    false-pass; restore the session's bounded plan strings afterwards."""
    key = "spark.sql.maxPlanStringLength"
    old = spark.conf.get(key)
    spark.conf.set(key, str(1 << 22))
    yield
    spark.conf.set(key, old)


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.mark.parametrize("name", AUDITED)
def test_query_plan_has_no_scale_killers(spark, entry, full_plans, name):
    plan = _plan(entry.queries()[name](spark, SF))
    for bad in FORBIDDEN:
        assert bad not in plan, f"{name}: {bad} in executed plan\n{plan}"


def test_wave_join_broadcasts_small_waves(spark, full_plans):
    """O13 size gate: a wave under the row cap broadcasts (corpus never
    shuffles); over the cap it shuffle-hashes — in neither case may the
    corpus side sort-merge."""
    from webcrawler_spark.engine import CrawlConfig, CrawlEngine

    pages = spark.range(2000).selectExpr(
        "concat('https://h', id % 50, '.x/p', id) as url",
        "cast(null as binary) as html",
        "200 as status",
        "'text/html' as content_type",
    )
    eng = CrawlEngine(spark, pages, config=CrawlConfig(wave_broadcast_max_rows=100))
    wave = pages.select("url").limit(10)

    small = _plan(eng._wave_join(eng.pages_meta, wave, "url", "inner", 10))
    assert "BroadcastHashJoin" in small and "SortMergeJoin" not in small

    big = _plan(eng._wave_join(eng.pages_meta, wave, "url", "inner", 1000))
    assert "ShuffledHashJoin" in big and "SortMergeJoin" not in big
    assert "BroadcastHashJoin" not in big


def test_mega_host_selection_is_map_side_top_b(spark, full_plans):
    """O9 mega-host skew: the W1/W3 per-host top-B selection must plan a
    map-side WindowGroupLimit (Partial) BELOW the host exchange, so a
    3,000-URL host ships at most B rows per map task to its window, and
    scale mode (hosts_per_round=None) has no single-partition stage.
    The rows are exactly the first B URLs per host in discovered_seq
    order, B = min(max_urls_per_host_per_round, floor(window/delay))."""
    from webcrawler_spark.engine import CrawlConfig, CrawlEngine

    pages = spark.createDataFrame(
        [], "url string, html binary, status int, content_type string"
    )
    cfg = CrawlConfig(max_urls_per_host_per_round=30, round_window=3.0)
    eng = CrawlEngine(spark, pages, config=cfg)
    mega, small = "https://mega.example", [f"https://s{h}.example" for h in range(5)]
    rows = [(f"{mega}/p{i}", mega, 3000 - i) for i in range(3000)]
    rows += [(f"{h}/p{i}", h, 100 + (i * 7) % 10) for h in small for i in range(10)]
    frontier = spark.createDataFrame(
        [(u, h, u[len(h):], 0, 1, s) for u, h, s in rows],
        "url string, host string, resource string, bucket int, depth int,"
        " discovered_seq long",
    ).repartition(4)
    delay = {mega: 0.1, **{h: 1.0 for h in small}}   # B = 30 and 3
    host_state = spark.createDataFrame(
        [(h, d, 0.0, False) for h, d in delay.items()],
        "host string, delay double, priority double, ever_popped boolean",
    )

    cand = eng._select_wave(frontier, host_state)
    got = sorted((r["host"], r["rn_host"], r["url"]) for r in cand.collect())

    expect = []
    for h, d in delay.items():
        fifo = sorted((s, u) for u, hh, s in rows if hh == h)
        b = min(cfg.max_urls_per_host_per_round, math.floor(cfg.round_window / d))
        expect += [(h, i + 1, u) for i, (_, u) in enumerate(fifo[:b])]
    assert got == sorted(expect)

    plan = _plan(cand)  # the executed (final adaptive) plan
    lines = plan.splitlines()
    exch = next(
        i for i, ln in enumerate(lines) if "Exchange hashpartitioning(host" in ln
    )
    partial = [
        i for i, ln in enumerate(lines)
        if "WindowGroupLimit" in ln and ln.rstrip().endswith("Partial")
    ]
    assert partial and partial[0] > exch, plan
    indent = lambda ln: len(ln) - len(ln.lstrip(" :+-"))  # noqa: E731
    assert indent(lines[partial[0]]) > indent(lines[exch]), plan
    assert "SinglePartition" not in plan, plan


def test_prefix_count_plan_is_distributed(spark, full_plans):
    """attach_prefix_count must never plan an un-partitioned window:
    the cumulative count runs as partition-local windows plus a
    broadcast of O(P) offsets."""
    from pyspark.sql import functions as F

    from webcrawler_spark.operators.prefix import attach_prefix_count
    from webcrawler_spark.sparkutil import free

    df = spark.range(5000).selectExpr(
        "id as ts", "id as event_id", "cast(id % 3 = 0 as int) as flag"
    )
    tagged = attach_prefix_count(df, ["ts", "event_id"], "flag", "_cum")
    plan = _plan(tagged)
    assert "SinglePartition" not in plan
    assert "BroadcastExchange" in plan  # offsets ship broadcast, not shuffled
    # and the law itself holds: _cum == strictly-preceding flag count
    rows = tagged.orderBy("ts").collect()
    acc = 0
    for r in rows:
        assert r["_cum"] == acc
        acc += r["flag"]
    free(tagged._prefix_ckpt)


def test_semdedup_scale_tier_stays_in_cluster(spark, full_plans):
    """The k>1 SemDeDup tier's pairwise rescoring must be an equi-join
    on centroid_id — never a cross/nested-loop product over the corpus
    (the exact n_clusters=1 oracle tier is quadratic BY DESIGN and is
    excluded here)."""
    import numpy as np

    from webcrawler_spark.operators.ivf import assign_centroids
    from webcrawler_spark.operators.semdedup import in_cluster_pairs

    emb = spark.range(200).selectExpr(
        "id as vec_id",
        "array(cast(id % 4 as double), cast(1 as double)) as embedding",
    )
    cents = np.eye(4, 2) + 0.01
    pairs = in_cluster_pairs(assign_centroids(emb, cents), 0.9)
    plan = _plan(pairs)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoop" not in plan


def test_dsir_plan_has_no_corpus_scale_killers(spark, entry, full_plans):
    """DSIR: the only single-partition stage allowed is the 1-row
    model-totals aggregate; the corpus-sized gram stream must never
    cross a sort-merge join or cartesian product, and the ratio table
    must ship broadcast."""
    q = entry.queries()
    plan = _plan(q["dsir_weights"](spark, SF))
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    assert "BroadcastExchange" in plan
    # SinglePartition may appear exactly once: the (np, nq) totals row
    assert plan.count("Exchange SinglePartition") <= 1


def test_nb_langid_plan_broadcasts_model(spark, entry, full_plans):
    """NB language ID: the model/priors joins on the scoring path must
    ship broadcast and the corpus gram stream must never cross a
    sort-merge join. The fit's vocab×langs cross join is deliberate
    (≤ max_vocab × n_langs rows, both sides capped); the vocab cap's
    TakeOrderedAndProject runs inside the fit-time collect (the
    single-pass fit materializes the model eagerly), so the scoring
    plan is asserted on the join strategy only."""
    q = entry.queries()
    plan = _plan(q["nb_langid"](spark, SF))
    assert "SortMergeJoin" not in plan
    assert "BroadcastExchange" in plan


def test_bigram_lm_plan_shapes(spark, entry, full_plans):
    """Bigram LM scoring: the unigram joins on the scoring path must
    ship broadcast and nothing may cross a cartesian product. The
    (w1, w2) bigram-table join is a keyed shuffle join BY DESIGN (the
    table scales with distinct bigrams), so SortMergeJoin is allowed
    there — the assert is no cross/nested-loop on the corpus side."""
    q = entry.queries()
    plan = _plan(q["bigram_logprob"](spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoop" not in plan
    assert "BroadcastExchange" in plan


def test_encode_docs_plan_broadcasts_vocab(spark, entry, full_plans):
    """Token-id encoding: the vocab join must be broadcast (the vocab
    is capped model-sized); the per-doc reassembly is a keyed
    aggregate, never a join back to the corpus. (vocab_build itself
    deliberately ranks over the already-capped ≤max_size table — the
    one sanctioned single-partition window — so it is not asserted
    SinglePartition-free.)"""
    q = entry.queries()
    plan = _plan(q["encode_docs"](spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoop" not in plan
    assert "BroadcastExchange" in plan
