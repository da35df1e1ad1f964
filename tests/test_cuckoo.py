"""Cuckoo-filter seen-sidecar: no-false-negative invariant, duplicate
inserts, overflow-stash behavior, the pluggable shard store, and
crawl-loop parity with the plain anti-join: the sidecar holds every
frontier key after a filtered crawl, and a sidecar the crawl did not
keep current (rounds run without it, or one holding only url_seen keys
and no round marker) is rebuilt on resume."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from pyppeteer_scraper_spark.operators.cuckoo import (
    CuckooParams,
    _contains,
    _insert_batch,
    anti_join_with_cuckoo,
    cuckoo_annotate,
    load_params,
    load_round,
    params_for,
    update_cuckoo_shards,
)
from pyppeteer_scraper_spark.plans.checkpoint import crawl, load_state
from pyppeteer_scraper_spark.sources.datagen import generate_crawl_tables


def _seen_df(spark, ids):
    return spark.createDataFrame([(i,) for i in ids], ["n"]).select(
        F.xxhash64(
            F.concat(F.lit("https://x/"), F.col("n").cast("string"))
        ).alias("url_hash"),
        F.concat(F.lit("https://x/"), F.col("n").cast("string")).alias("url"),
        F.lit(1).cast("int").alias("first_seen_round"),
    )


def test_cuckoo_no_false_negatives_and_exactness(spark, tmp_path):
    d = str(tmp_path / "ck")
    seen = _seen_df(spark, range(0, 2000))
    assert update_cuckoo_shards(seen, d) == 2000

    candidates = _seen_df(spark, range(1000, 4000)).drop("first_seen_round")
    ann = cuckoo_annotate(candidates, d).toPandas()
    truly_seen = ann["url"].str.removeprefix("https://x/").astype(int) < 2000
    assert ann.loc[truly_seen, "maybe_seen"].all()
    # 16-bit fingerprints: FP rate is ~1e-4-scale, far below bloom's
    fp = ann.loc[~truly_seen, "maybe_seen"].mean()
    assert fp < 0.01, f"fp rate {fp}"

    plain = set(
        r["url"]
        for r in candidates.join(
            seen.select("url_hash", "url"), ["url_hash", "url"], "left_anti"
        ).collect()
    )
    accel = set(
        r["url"]
        for r in anti_join_with_cuckoo(candidates, seen, d).collect()
    )
    assert accel == plain
    assert len(accel) == 2000


def test_cuckoo_duplicate_copy_accounting():
    """Inserting keys a second time stores a second copy of each and
    loses no key (pure numpy, single shard)."""
    rng = np.random.default_rng(11)
    p = CuckooParams(n_shards=1, n_buckets=1 << 10)
    table = np.zeros((p.n_buckets, 4), dtype=np.uint16)
    stash = np.zeros(0, dtype=np.uint64)
    keys = rng.integers(0, 2**63, size=1500, dtype=np.uint64)
    stash = _insert_batch(table, stash, keys, p)
    dup = keys[:200]
    stash = _insert_batch(table, stash, dup, p)
    assert (table != 0).sum() + len(stash) == 1700
    assert _contains(table, stash, keys, p).all(), "FN after a duplicate insert"


def test_cuckoo_overflow_stash_keeps_no_fn_guarantee():
    """Past the sizing load factor the filter must degrade to more FPs,
    never to a false negative: overfill to ~99% so eviction walks fail
    and the stash absorbs the homeless fingerprints."""
    rng = np.random.default_rng(3)
    p = CuckooParams(n_shards=1, n_buckets=1 << 10)  # 4096 slots
    table = np.zeros((p.n_buckets, 4), dtype=np.uint16)
    stash = np.zeros(0, dtype=np.uint64)
    keys = rng.integers(0, 2**63, size=4500, dtype=np.uint64)
    stash = _insert_batch(table, stash, keys, p)
    assert (table != 0).sum() + len(stash) >= 4500 * 0.99
    assert len(stash) > 0, "overload should spill to the stash"
    assert _contains(table, stash, keys, p).all(), "FN under overload"


def test_cuckoo_params_sizing_and_mismatch(spark, tmp_path):
    p = params_for(10_000_000)
    # 0.66 target load: slots must cover expected_n with ≥1.3x headroom
    assert p.n_shards * p.n_buckets * 4 >= 10_000_000 * 1.3
    d = str(tmp_path / "ckp")
    update_cuckoo_shards(
        _seen_df(spark, range(50)), d, CuckooParams(n_shards=4, n_buckets=1 << 10)
    )
    assert load_params(d).n_shards == 4
    with pytest.raises(ValueError, match="mismatch"):
        cuckoo_annotate(
            _seen_df(spark, range(5)).drop("first_seen_round"),
            d,
            CuckooParams(n_shards=8, n_buckets=1 << 10),
        )


def _snapshot(state):
    """Sorted rows, so a duplicate frontier row shows as a difference."""
    frontier = sorted(
        (r["url"], r["priority"], r["depth"], r["state"], r["last_fetch_round"])
        for r in state.frontier.collect()
    )
    seen = sorted((r["url"], r["first_seen_round"]) for r in state.url_seen.collect())
    ws = sorted(
        (r["event_code"], r["is_registered"], r["discovered_round"])
        for r in state.workshops.collect()
    )
    return frontier, seen, ws


@pytest.fixture(scope="module")
def crawl_tables(spark, sf_small):
    return generate_crawl_tables(spark, sf_small)


@pytest.fixture(scope="module")
def plain_3_rounds(spark, crawl_tables, tmp_path_factory):
    """State snapshot of a 3-round crawl without the seen filter."""
    t = crawl_tables
    ckpt = str(tmp_path_factory.mktemp("plain"))
    res = crawl(spark, t["pages"], t["seeds"], t["robots"], 3, ckpt)
    return _snapshot(res.state)


def _frontier_keys_all_maybe_seen(frontier, cuckoo_dir):
    ann = cuckoo_annotate(frontier.select("url_hash", "url"), cuckoo_dir)
    return ann.filter(~F.col("maybe_seen")).count() == 0


def test_crawl_with_cuckoo_matches_plain(
    spark, crawl_tables, plain_3_rounds, tmp_path
):
    """A filtered crawl equals the plain one, and its sidecar holds every
    frontier key — pending and blocked URLs that were never fetched
    included — so its negatives may skip the exact anti-join."""
    t = crawl_tables
    ckpt = str(tmp_path / "ck")
    cuckooed = crawl(
        spark, t["pages"], t["seeds"], t["robots"], 3, ckpt, use_seen_filter=True,
    )
    assert _snapshot(cuckooed.state) == plain_3_rounds
    frontier = cuckooed.state.frontier
    states = {r["state"] for r in frontier.select("state").distinct().collect()}
    assert {"pending", "blocked"} <= states
    assert _frontier_keys_all_maybe_seen(frontier, f"{ckpt}/cuckoo")
    assert load_round(f"{ckpt}/cuckoo") == 3


def test_enable_cuckoo_on_resume_is_exact(
    spark, crawl_tables, plain_3_rounds, tmp_path
):
    """Filtered → unfiltered → filtered legs equal a plain crawl.  The
    middle leg leaves the sidecar without its keys, and its marker at
    round 1; the last leg must rebuild it from the full frontier, or the
    missed keys would pass the 'definitely unseen' fast path and
    re-enter the frontier."""
    t = crawl_tables
    ckpt = str(tmp_path / "m")
    for resume, use_seen_filter in ((False, True), (True, False), (True, True)):
        mixed = crawl(
            spark, t["pages"], t["seeds"], t["robots"], 1, ckpt,
            resume=resume, use_seen_filter=use_seen_filter,
        )
    assert _snapshot(mixed.state) == plain_3_rounds
    assert _frontier_keys_all_maybe_seen(mixed.state.frontier, f"{ckpt}/cuckoo")


def test_url_seen_sidecar_without_marker_is_rebuilt(
    spark, crawl_tables, plain_3_rounds, tmp_path
):
    """A sidecar in the earlier layout (url_seen keys only, params but
    no round marker) is rebuilt from the frontier on resume."""
    t = crawl_tables
    ckpt = str(tmp_path / "old")
    crawl(spark, t["pages"], t["seeds"], t["robots"], 2, ckpt)
    cuckoo_dir = f"{ckpt}/cuckoo"
    update_cuckoo_shards(load_state(spark, ckpt).url_seen, cuckoo_dir)
    assert load_round(cuckoo_dir) is None
    resumed = crawl(
        spark, t["pages"], t["seeds"], t["robots"], 1, ckpt,
        resume=True, use_seen_filter=True,
    )
    assert _snapshot(resumed.state) == plain_3_rounds
    assert load_round(cuckoo_dir) == 3
    assert _frontier_keys_all_maybe_seen(resumed.state.frontier, cuckoo_dir)


def test_shard_store_seam(spark, tmp_path):
    """Shard/params I/O goes through the pluggable ShardStore: a custom
    factory (serialized into the executor closures — locally-defined
    class, as a deploy-specific S3/HDFS store would be) receives ALL
    reads and writes, the default local path stays untouched, and the
    cuckoo-accelerated anti-join stays exactly equal to the plain one."""
    import os

    from pyppeteer_scraper_spark.operators.cuckoo import LocalShardStore

    redirected = str(tmp_path / "object-store")
    logdir = str(tmp_path / "oplog")
    os.makedirs(logdir, exist_ok=True)

    class RedirectStore(LocalShardStore):
        """Stands in for a shared-storage client: ignores the engine's
        sidecar URI and places blobs in its own backend, logging ops
        (executor-visible via the shared tmp_path)."""

        def __init__(self, uri: str):
            super().__init__(redirected)
            self._uri = uri

        def write(self, name: str, data: bytes) -> None:
            super().write(name, data)
            with open(os.path.join(logdir, f"w-{name}"), "w") as f:
                f.write(self._uri)

        def read(self, name: str):
            out = super().read(name)
            if out is not None:
                with open(os.path.join(logdir, f"r-{name}"), "w") as f:
                    f.write(self._uri)
            return out

    factory = RedirectStore
    cuckoo_dir = str(tmp_path / "never-created")  # engine URI, not a real dir

    seen = _seen_df(spark, range(0, 1500))
    update_cuckoo_shards(seen, cuckoo_dir, store_factory=factory)
    assert not os.path.exists(cuckoo_dir), "default path must stay untouched"
    shard_files = [n for n in os.listdir(redirected) if n.startswith("cuckoo=")]
    assert shard_files, "custom store received no shard writes"
    assert load_params(cuckoo_dir, store_factory=factory) is not None
    assert load_params(cuckoo_dir) is None  # not visible via the default store

    candidates = _seen_df(spark, range(1000, 3000)).drop("first_seen_round")
    plain = set(
        r["url"]
        for r in candidates.join(
            seen.select("url_hash", "url"), ["url_hash", "url"], "left_anti"
        ).collect()
    )
    accel = set(
        r["url"]
        for r in anti_join_with_cuckoo(
            candidates, seen, cuckoo_dir, store_factory=factory
        ).collect()
    )
    assert accel == plain
    # executor tasks really went through the custom store (reads logged
    # from inside applyInPandas workers)
    assert any(n.startswith("r-cuckoo=") for n in os.listdir(logdir))
