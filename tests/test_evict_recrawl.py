"""End-to-end TTL eviction → recrawl (VERDICT r03 #9): evict a fetched
cohort from url_seen via plans/evict.py, resume the crawl, and require
(a) byte-identical state vs the exact-join leg (the sidecar is an
accelerator, never a semantics change), (b) the cohort actually gets
re-fetched, (c) url_seen stays inside the frontier throughout, and (d)
the frontier-keyed cuckoo sidecar keeps answering "maybe seen" for
every frontier key, evicted ones included (evicted URLs stay frontier
rows, so deleting their keys would be a false negative)."""

from pyspark.sql import functions as F

from pyppeteer_scraper_spark.operators.cuckoo import cuckoo_annotate
from pyppeteer_scraper_spark.plans.checkpoint import crawl, load_state
from pyppeteer_scraper_spark.plans.evict import evict_urls
from pyppeteer_scraper_spark.sources.datagen import generate_crawl_tables


def _snapshot(state):
    frontier = sorted(
        (r["url"], r["priority"], r["depth"], r["state"], r["last_fetch_round"])
        for r in state.frontier.collect()
    )
    seen = sorted(
        (r["url"], r["first_seen_round"]) for r in state.url_seen.collect()
    )
    return frontier, seen


def _assert_seen_in_frontier(state):
    """url_seen ⊆ frontier on (url_hash, url): the frontier is the
    URL-seen set the link dedup joins against."""
    outside = state.url_seen.join(
        state.frontier.select("url_hash", "url"), ["url_hash", "url"], "left_anti"
    )
    assert outside.count() == 0


def _frontier_keys_all_maybe_seen(frontier, cuckoo_dir):
    ann = cuckoo_annotate(frontier.select("url_hash", "url"), cuckoo_dir)
    return ann.filter(~F.col("maybe_seen")).count() == 0


def _fetched_cohort(state, n=20):
    """Deterministic evict set: the first n fetched URLs by name."""
    return (
        state.frontier.filter(F.col("state") == "fetched")
        .join(state.url_seen.select("url_hash", "url"), ["url_hash", "url"])
        .select("url_hash", "url")
        .orderBy("url")
        .limit(n)
    )


def _run_leg(spark, tables, ckpt, use_cuckoo):
    pages, seeds, robots = tables["pages"], tables["seeds"], tables["robots"]
    kw = dict(use_seen_filter=True) if use_cuckoo else {}
    crawl(spark, pages, seeds, robots, 2, ckpt, **kw)
    state = load_state(spark, ckpt)
    _assert_seen_in_frontier(state)
    cohort = _fetched_cohort(state)
    info = evict_urls(spark, ckpt, cohort)
    evicted = load_state(spark, ckpt)
    _assert_seen_in_frontier(evicted)
    if use_cuckoo:
        # evict leaves the sidecar alone: every frontier key, the
        # evicted cohort included, still answers "maybe seen"
        assert _frontier_keys_all_maybe_seen(evicted.frontier, f"{ckpt}/cuckoo")
    resumed = crawl(
        spark, pages, seeds, robots, 2, ckpt, resume=True, **kw
    )
    _assert_seen_in_frontier(resumed.state)
    return state, cohort, info, resumed


def test_evict_then_recrawl_cuckoo_matches_exact(spark, sf_small, tmp_path):
    tables = generate_crawl_tables(spark, sf_small)

    st_c, cohort_c, info_c, res_c = _run_leg(
        spark, tables, str(tmp_path / "cuckoo"), use_cuckoo=True
    )
    st_e, cohort_e, info_e, res_e = _run_leg(
        spark, tables, str(tmp_path / "exact"), use_cuckoo=False
    )

    # the sidecar is an accelerator: both legs pick the same cohort and
    # end in the same state after evict + resume
    assert sorted(r["url"] for r in cohort_c.collect()) == sorted(
        r["url"] for r in cohort_e.collect()
    )
    assert _snapshot(res_c.state) == _snapshot(res_e.state)
    assert info_c["evicted"] == info_e["evicted"] == 20
    # the resumed filtered leg rebuilt the sidecar from the frontier
    assert _frontier_keys_all_maybe_seen(
        res_c.state.frontier, str(tmp_path / "cuckoo" / "cuckoo")
    )


def test_evict_state_and_sidecar_transitions(spark, sf_small, tmp_path):
    tables = generate_crawl_tables(spark, sf_small)
    pages, seeds, robots = tables["pages"], tables["seeds"], tables["robots"]
    ck = str(tmp_path / "ck")
    crawl(spark, pages, seeds, robots, 2, ck, use_seen_filter=True)
    pre = load_state(spark, ck)
    cohort = _fetched_cohort(pre).cache()
    cohort_urls = set(r["url"] for r in cohort.collect())
    r_evict = evict_urls(spark, ck, cohort)["round_no"]

    # post-evict snapshot round: cohort gone from url_seen, frontier
    # rows reset to a crawlable pending state
    post = load_state(spark, ck)
    assert post.round_no == r_evict == pre.round_no + 1
    _assert_seen_in_frontier(post)
    seen_urls = set(r["url"] for r in post.url_seen.collect())
    assert not (cohort_urls & seen_urls)
    reset = post.frontier.filter(F.col("url").isin(list(cohort_urls)))
    rows = reset.collect()
    assert len(rows) == len(cohort_urls)
    assert all(
        r["state"] == "pending"
        and r["last_fetch_round"] == -1
        and r["fetch_attempt"] == 0
        for r in rows
    )

    # sidecar: untouched by the evict, so every frontier key (the
    # evicted cohort included) keeps answering "maybe seen"
    ann = cuckoo_annotate(
        post.frontier.select("url_hash", "url"), f"{ck}/cuckoo"
    ).toPandas()
    assert ann["url"].isin(cohort_urls).sum() == len(cohort_urls)
    assert ann["maybe_seen"].all()

    # recrawl: resumed rounds re-fetch evicted URLs — they re-enter
    # url_seen with a first_seen_round AFTER the eviction snapshot
    res = crawl(
        spark, pages, seeds, robots, 2, ck, resume=True, use_seen_filter=True
    )
    refetched = (
        res.state.url_seen.filter(F.col("url").isin(list(cohort_urls)))
        .filter(F.col("first_seen_round") > r_evict)
        .count()
    )
    assert refetched > 0, "no evicted URL was re-crawled in 2 rounds"
    _assert_seen_in_frontier(res.state)
    # and the re-fetched ones are back in the sidecar
    back = res.state.url_seen.filter(
        F.col("url").isin(list(cohort_urls))
    ).filter(F.col("first_seen_round") > r_evict)
    ann2 = cuckoo_annotate(
        back.select("url_hash", "url"), f"{ck}/cuckoo"
    ).toPandas()
    assert ann2["maybe_seen"].all()
    cohort.unpersist()
