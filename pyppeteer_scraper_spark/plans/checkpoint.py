"""Round-numbered state checkpointing + the driver crawl loop.

Reference analogs: the JSON state files re-read each cron run
(/root/reference/service/alert.py:91-130,460-575) and the Postgres
snapshot upsert (/root/reference/scraper/canada_ircc.py:101-119).
Here every round persists {frontier, url_seen, workshops, metrics} as
round-numbered parquet snapshots plus a manifest — the resume point.
Rounds hand state to each other through executor-pinned frames
(``localCheckpoint``), which keeps the iterative loop's plans flat; a
checkpoint is read back only on resume.  With an Iceberg runtime jar
the same seam becomes MERGE INTO on snapshot-versioned tables; the
layout below mirrors that.
"""

from __future__ import annotations

import gc
import json
import os
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pyppeteer_scraper_spark.operators import cuckoo
from pyppeteer_scraper_spark.plans.round import (
    WORKSHOPS_SCHEMA_DDL,
    CrawlState,
    RoundOutputs,
    init_state,
    prepare_pages,
    run_round,
)
from pyppeteer_scraper_spark.schemas import METRICS_SCHEMA, URL_SEEN_SCHEMA

STATE_TABLES = ["frontier", "url_seen", "workshops"]

# The cuckoo seen-filter sidecar's directory under a checkpoint dir.
SEEN_FILTER_DIR = "cuckoo"

# Delta→base compaction cadence: every k rounds the append-only tables
# (url_seen, workshops, metrics) are merged into one compacted snapshot
# and the manifest points loads at (compacted, deltas-after) — the
# parquet emulation of Iceberg's rewrite_data_files + snapshot
# expiry.  Without it a load reads one small-file directory PER ROUND
# (O(rounds) listings — the classic streaming small-file problem; the
# reference re-reads its whole JSON seen-set each run,
# /root/reference/service/alert.py:460-490).  With it a load reads
# 1 compacted dir + < k delta dirs regardless of crawl length.
COMPACT_EVERY = 16


def _bucket_col(n_buckets: int):
    return F.pmod(F.xxhash64("domain"), F.lit(n_buckets)).cast("int")


def _run_parallel(thunks) -> None:
    """Run independent Spark write jobs from threads so their fixed
    per-job scheduling latency overlaps (Spark's scheduler interleaves
    concurrently-submitted jobs across the executor pool; a round's
    write window holds up to eight writes, and the serial form pays
    their fixed latencies one after another — the seconds-scale floor
    that caps full-crawl scaling efficiency, BENCH/BASELINE.md §2).  All
    thunks read pinned state or the round's cached frames, so concurrent
    scans do not recompute heavy lineage.  Waits for every thunk, then
    re-raises the first failure: ``save_state`` commits nothing unless
    all of them landed."""
    if len(thunks) == 1:
        thunks[0]()
        return
    with ThreadPoolExecutor(max_workers=len(thunks)) as pool:
        futures = [pool.submit(t) for t in thunks]
        for fut in futures:
            fut.result()


def _pin(dfs: list[DataFrame]) -> list[DataFrame]:
    """localCheckpoint each frame, serially and in caller order, and
    return the pinned frames in input order.

    - Serial: a round's frames share intra-round caches, so concurrent
      pins would race to fill the same cold cache partitions.
    - Each frame is coalesced to at most ``spark.sql.shuffle.partitions``
      partitions first (no shuffle, contents unchanged), so the pinned
      partition count cannot grow with every round's union."""
    out = []
    for d in dfs:
        cap = int(d.sparkSession.conf.get("spark.sql.shuffle.partitions"))
        out.append(d.coalesce(cap).localCheckpoint())
    return out


def latest_round(ckpt_dir: str) -> int:
    """The last committed round: the one ``LATEST`` points at."""
    with open(os.path.join(ckpt_dir, "LATEST")) as f:
        return int(f.read().strip())


def read_manifest(ckpt_dir: str, round_no: int | None = None) -> dict:
    """Manifest of round ``round_no`` (``latest_round`` by default).
    Raises ``FileNotFoundError`` if that round has no manifest, and
    ``ValueError`` if the manifest records another round (a misplaced or
    copied round directory)."""
    if round_no is None:
        round_no = latest_round(ckpt_dir)
    path = os.path.join(ckpt_dir, f"round={round_no}", "manifest.json")
    with open(path) as f:
        manifest = json.load(f)
    if manifest["round_no"] != round_no:
        raise ValueError(f"{path} is the manifest of round {manifest['round_no']}")
    return manifest


def save_state(
    state: CrawlState,
    ckpt_dir: str,
    n_partitions: int | None = None,
    touched_domains=None,
    n_buckets: int = 64,
    compact_every: int | None = COMPACT_EVERY,
    seen_delta: DataFrame | None = None,
    workshops_delta: DataFrame | None = None,
    metrics: DataFrame | None = None,
    edges: DataFrame | None = None,
) -> str:
    """Write round ``state.round_no``'s checkpoint and commit it.

    Every file of the round is written in one parallel window; only
    after all of them have landed does ``round=N/manifest.json`` get
    written, and then ``LATEST`` moves to N.  A write that fails leaves
    ``LATEST`` at the previous round, so a resume redoes the whole round.

    - ``frontier`` (the mutating priority queue) is written as
      ``n_buckets`` domain-hash buckets under
      ``frontier_buckets/round=N/__bucket=B`` — the parquet emulation of
      Iceberg MERGE INTO on a bucket(domain) layout.  When the previous
      manifest has the same ``n_buckets`` and ``touched_domains`` is
      given, ONLY buckets containing a touched domain are rewritten;
      otherwise every bucket is.  The manifest records, per bucket, the
      round of its latest rewrite, so resume reads each bucket's newest
      file; untouched buckets cost nothing.  Per-round write cost drops
      from O(frontier) to O(active buckets) — at 10^10 URLs with 4096
      buckets, rewriting the ~budgeted domains' buckets instead of the
      whole queue.
    - ``url_seen`` and ``workshops`` are APPEND-ONLY: each round writes
      only its delta (rows first seen this round).  Rewriting them in
      full would be O(entire crawl history) per round — fatal at
      10^10-URL scale; deltas keep the round cost O(new URLs).
    - ``metrics`` (the round's ``scraper_runs`` rows) and ``edges`` (its
      link-graph delta) are written when given, to
      ``metrics/round=N`` and ``edges/round=N``.
    - every ``compact_every`` rounds the deltas are additionally merged
      into ``compacted/{table}/round=N`` and the manifest's
      ``compacted`` pointers advance, so a load reads ≤ 1 compacted dir
      + ``compact_every`` delta dirs however long the crawl ran.  The
      compacted snapshot is written straight from the in-memory state
      (already the full table — no disk re-read); old deltas are kept
      so earlier rounds stay loadable (Iceberg snapshot-expiry would
      reclaim them on a real deploy).  Compaction cost is
      O(state size) every k rounds ⇒ amortized O(state/k) per round —
      bounded, unlike the O(rounds) load it prevents.  Metrics compact
      from disk and only through round N-1, whose delta is committed.
    """
    rn = state.round_no
    spark = state.frontier.sparkSession
    if n_partitions is None:
        # Writer parallelism follows the session (I/O scales with cores).
        n_partitions = int(spark.conf.get("spark.sql.shuffle.partitions"))
    rdir = os.path.join(ckpt_dir, f"round={rn}")
    prev_manifest = read_manifest(ckpt_dir, rn - 1) if rn > 0 else {}
    compacted: dict[str, int] = dict(prev_manifest.get("compacted", {}))
    # All of the round's writes are INDEPENDENT jobs over pinned or
    # cached inputs — submit them concurrently (_run_parallel) and only
    # then commit.  Serial submission paid one fixed job-setup latency
    # per table per round, the floor that capped full-crawl N→4N
    # scaling at 0.27 (VERDICT r03 #8).
    writes = []

    def write(df: DataFrame, *path: str) -> None:
        writes.append(
            lambda: df.write.mode("overwrite").parquet(os.path.join(ckpt_dir, *path))
        )

    bdir = os.path.join(ckpt_dir, "frontier_buckets", f"round={rn}")
    fb = state.frontier.withColumn("__bucket", _bucket_col(n_buckets))
    prev_meta = prev_manifest.get("frontier", {})
    pointers: dict[str, int] = (
        dict(prev_meta["pointers"]) if prev_meta.get("n_buckets") == n_buckets else {}
    )
    if touched_domains is not None and pointers:
        # prior round is bucket-consistent → rewrite ONLY touched
        # buckets; otherwise fall through to an all-bucket write
        # (round 0, or a bucket-count change).
        tb = touched_domains.select(_bucket_col(n_buckets).alias("__b")).distinct()
        touched = sorted(r["__b"] for r in tb.collect())
        fb = fb.filter(F.col("__bucket").isin(touched))
    frontier_meta = {"layout": "bucketed", "n_buckets": n_buckets, "pointers": pointers}

    def _write_frontier():
        (
            fb.repartition(n_buckets, "__bucket")
            .write.mode("overwrite")
            .partitionBy("__bucket")
            .parquet(bdir)
        )
        # pointers: previous round's, overridden by buckets written
        # now (mutates the dict frontier_meta already references —
        # read after the parallel join, before the manifest commit)
        for name in os.listdir(bdir):
            if name.startswith("__bucket="):
                pointers[name.split("=", 1)[1]] = rn

    writes.append(_write_frontier)
    if rn > 0:
        # Callers that already hold the round's delta frames (run_round
        # exposes them) pass them in, so the append-only writes never
        # re-filter the full in-memory unions — O(delta) per round
        # instead of O(state).
        if seen_delta is None:
            seen_delta = state.url_seen.filter(F.col("first_seen_round") == rn)
        if workshops_delta is None:
            workshops_delta = state.workshops.filter(F.col("discovered_round") == rn)
        write(seen_delta.repartition(n_partitions, "url_hash"), "url_seen", f"round={rn}")
        write(workshops_delta.coalesce(1), "workshops", f"round={rn}")
    if metrics is not None:
        write(metrics, "metrics", f"round={rn}")
    if edges is not None:
        # Per-round link-graph delta (src_hash, dst_hash) — the input to
        # offline frontier re-prioritization
        # (operators/linkrank.py::reprioritize_frontier).
        write(edges, "edges", f"round={rn}")
    if compact_every and rn > 0 and rn % compact_every == 0:
        # The in-memory state IS the full table (compacted-so-far +
        # deltas) — write it once as the new base.
        write(
            state.url_seen.repartition(n_partitions, "url_hash"),
            "compacted", "url_seen", f"round={rn}",
        )
        write(state.workshops.coalesce(1), "compacted", "workshops", f"round={rn}")
        compacted["url_seen"] = rn
        compacted["workshops"] = rn
        # This round's metrics delta is being written in the same window,
        # so the metrics base covers ≤ r-1, read back from disk.
        mdirs = _delta_dirs(ckpt_dir, "metrics", rn - 1, compacted.get("metrics", 0))
        if mdirs:
            write(
                spark.read.parquet(*mdirs).coalesce(max(1, n_partitions // 8)),
                "compacted", "metrics", f"round={rn - 1}",
            )
            compacted["metrics"] = rn - 1
    _run_parallel(writes)
    manifest = {
        "round_no": rn,
        "n_partitions": n_partitions,
        "tables": STATE_TABLES,
        "frontier": frontier_meta,
        "compacted": compacted,
    }
    os.makedirs(rdir, exist_ok=True)
    with open(os.path.join(rdir, "manifest.json"), "w") as f:
        json.dump(manifest, f)
    # Latest-pointer, written last (commit point — a torn checkpoint is
    # simply not pointed at, so resume always sees a complete round).
    with open(os.path.join(ckpt_dir, "LATEST"), "w") as f:
        f.write(str(rn))
    return rdir


def _delta_dirs(
    ckpt_dir: str, table: str, round_no: int, compacted_round: int = 0
) -> list[str]:
    """Directories a load of ``table`` at ``round_no`` must read: the
    compacted base (if any) + deltas strictly after it — ≤ 1 +
    compact_every dirs regardless of crawl length."""
    dirs = []
    if compacted_round:
        dirs.append(
            os.path.join(ckpt_dir, "compacted", table, f"round={compacted_round}")
        )
    base = os.path.join(ckpt_dir, table)
    if os.path.isdir(base):
        for d in sorted(os.listdir(base)):
            if d.startswith("round="):
                r = int(d.split("=", 1)[1])
                if compacted_round < r <= round_no:
                    dirs.append(os.path.join(base, d))
    return dirs


def _load_deltas(
    spark, ckpt_dir: str, table: str, schema, round_no: int, compacted_round: int = 0
):
    dirs = _delta_dirs(ckpt_dir, table, round_no, compacted_round)
    if not dirs:
        return spark.createDataFrame([], schema)
    return spark.read.parquet(*dirs)


def load_state(spark: SparkSession, ckpt_dir: str, round_no: int | None = None) -> CrawlState:
    """State as committed at round ``round_no`` (LATEST by default): the
    frontier from each bucket's newest rewrite at or before that round
    (the manifest's bucket pointers), url_seen and workshops from their
    compacted base plus the deltas after it."""
    manifest = read_manifest(ckpt_dir, round_no)
    round_no = manifest["round_no"]
    compacted = manifest.get("compacted", {})
    frontier = spark.read.parquet(
        *(
            os.path.join(ckpt_dir, "frontier_buckets", f"round={r}", f"__bucket={b}")
            for b, r in manifest["frontier"]["pointers"].items()
        )
    )
    return CrawlState(
        frontier=frontier,
        url_seen=_load_deltas(
            spark, ckpt_dir, "url_seen", URL_SEEN_SCHEMA, round_no,
            compacted.get("url_seen", 0),
        ),
        workshops=_load_deltas(
            spark, ckpt_dir, "workshops", WORKSHOPS_SCHEMA_DDL, round_no,
            compacted.get("workshops", 0),
        ),
        round_no=round_no,
    )


def load_metrics(spark: SparkSession, ckpt_dir: str, round_no: int | None = None):
    """Per-round / per-partition crawl metrics through ``round_no``
    (LATEST by default) — compacted base + deltas, same bounded-read
    scheme as the state tables.

    ``partition_id`` is a URL partition, not a Spark task:
    ``pmod(url_hash, spark.sql.shuffle.partitions)`` of the fetched URL,
    the new link or the action row's URL, so a resumed round writes the
    same rows as one that never stopped (at the same partition setting).

    ``duration_ms`` is the same for every row of a round: the span from
    the round's ``run_round`` call until its new state is pinned and the
    seen-filter sidecar (if any) updated — the round's own critical
    path, excluding its checkpoint writes."""
    manifest = read_manifest(ckpt_dir, round_no)
    return _load_deltas(
        spark, ckpt_dir, "metrics", METRICS_SCHEMA,
        manifest["round_no"], manifest.get("compacted", {}).get("metrics", 0),
    )


@dataclass
class CrawlResult:
    state: CrawlState
    fetched_per_round: list[int]
    actions_per_round: list[int]
    wall_seconds: float
    outputs: list[RoundOutputs] | None = None  # when collect_outputs=True


def crawl(
    spark: SparkSession,
    pages: DataFrame,
    seeds: DataFrame,
    robots: DataFrame,
    n_rounds: int,
    ckpt_dir: str,
    resume: bool = False,
    collect_outputs: bool = False,
    use_seen_filter: bool = False,
    incremental_frontier: bool = True,
    n_buckets: int = 64,
    compact_every: int | None = COMPACT_EVERY,
    store_factory=None,
    track_edges: bool = False,
    global_budget: int | None = None,
    async_checkpoint: bool = False,
) -> CrawlResult:
    """Drive ``n_rounds`` scheduler rounds with per-round checkpoints.

    Every round pins its new state in executor storage
    (``localCheckpoint`` — frontier whole, url_seen/workshops as base +
    per-round deltas mirroring the on-disk layout, deltas collapsed at
    every ``compact_every`` boundary) and the next round starts from
    that in-memory state.  The round's checkpoint is one ``save_state``
    call on a writer thread: it streams the state deltas, edges and
    metrics from the pinned blocks and the round's caches, and moves
    ``LATEST`` only after all of them have landed, so a crash at any
    write resumes at the start of that round.  ``async_checkpoint`` only
    picks where the crawl waits for those writes: ``False`` waits before
    the next round starts (and then releases the round's caches);
    ``True`` lets them overlap the next round's compute and waits only
    before that round's own writes launch.  Results, checkpoints and
    resume are identical either way.  The pinned state lives in executor
    memory/disk between rounds (MEMORY_AND_DISK semantics).  A crawl
    that raises releases the page stores and every round cache it holds
    before re-raising.

    Each round's frontier is checkpointed as ``n_buckets`` domain-hash
    buckets, and only the buckets of domains whose rows changed are
    rewritten (``save_state``).  ``incremental_frontier`` is kept for
    existing callers: it must be ``True``, and ``False`` raises
    ``ValueError``.

    ``resume=True`` continues from the LATEST checkpoint in ckpt_dir —
    the reference's restart-from-state-files behavior, but exact.
    ``use_seen_filter=True`` keeps a sharded cuckoo-filter sidecar of the
    frontier's URL keys under ``<ckpt_dir>/cuckoo`` (operators/cuckoo.py):
    links it calls definitely unseen skip the exact anti-join against the
    frontier (identical results).  Each round inserts its new
    links' keys and then records its round in the sidecar's marker.  The
    crawl trusts the sidecar only when that marker equals the round it
    starts from; otherwise (a fresh crawl, a sidecar the crawl did not
    keep current: rounds run without the filter, an ``evict_urls``
    round, a crash after the insert) it rebuilds it from the full
    frontier.  The sidecar keeps its stored params, or ``CuckooParams()``
    when first built.  ``store_factory`` points shard I/O at shared
    storage on a cluster (the ``cuckoo.ShardStore`` seam — local FS by
    default).
    ``global_budget`` caps each round's TOTAL fetch batch (fetcher
    fleet capacity) on top of the per-domain politeness caps, shared
    max-min fairly across domains via water-filling
    (operators/budget.py); unfunded rows stay pending.

    ``collect_outputs=True`` RETAINS every round's intra-round caches
    (window passes, fetched, extracted, new_links) so the returned
    ``outputs`` stay cheap to re-read: executor storage memory grows
    with n_rounds.  It is a test/debug mode — long crawls should leave
    it False (per-round caches are unpersisted as each round completes)
    and read the checkpoint parquet instead.
    """
    if not incremental_frontier:
        raise ValueError(
            "incremental_frontier=False is not supported: the frontier "
            "checkpoint is always domain-bucketed"
        )
    # Primary vs fallback fetch channels (reference playwright→requests
    # fallback): rows the primary source misses are retried against the
    # fallback source inside each round, with fetch_attempt recorded.
    pp = prepare_pages(pages)
    # Hash-partition the page stores by the fetch-join key ONCE at
    # crawl start (r06, guide §2.4): every round's fetch join requires
    # hashpartitioning(url); cached un-partitioned, the heavy side
    # (URL + full html payload) was re-shuffled EVERY round — caching
    # it already distributed by url lets the per-round join reuse the
    # partitioning and shuffle only the (small) batch side.  The
    # partition count follows spark.sql.shuffle.partitions — the same
    # scale knob the join's own exchange would use.
    n_shuffle = int(spark.conf.get("spark.sql.shuffle.partitions"))
    if "fetch_via" in pp.columns:
        pages_prepared = (
            pp.filter(F.col("fetch_via") != "fallback")
            .drop("fetch_via")
            .repartition(n_shuffle, "url")
        )
        pages_fallback = (
            pp.filter(F.col("fetch_via") == "fallback")
            .drop("fetch_via")
            .repartition(n_shuffle, "url")
        )
        pages_fallback.cache().count()
    else:
        pages_prepared, pages_fallback = (
            pp.repartition(n_shuffle, "url"),
            None,
        )
    pages_prepared.cache().count()

    fetched_per_round: list[int] = []
    actions_per_round: list[int] = []
    outputs: list[RoundOutputs] = []
    out = None
    # (future, RoundOutputs) of the round whose writes are in flight;
    # its caches stay alive until _wait() has joined the writes.
    pending = None

    def _wait() -> None:
        nonlocal pending
        if pending is None:
            return
        fut, done = pending
        fut.result()
        pending = None
        if not collect_outputs:
            done.unpersist()

    try:
        if resume:
            state = load_state(spark, ckpt_dir)
        else:
            state = init_state(spark, seeds)
            save_state(
                state, ckpt_dir, n_buckets=n_buckets, compact_every=compact_every
            )
        # Domain-cardinality metadata for select_batch's join-strategy
        # pick.  The robots row count seeds the hint, but link discovery
        # adds domains ABSENT from robots (select_batch left-joins,
        # unknown domains default-allowed), so a crawl-long constant
        # would become a stale UNDER-count — exactly the OOM the
        # broadcast guard exists to prevent.  Refresh it every few
        # rounds from the frontier's distinct domain count (an upper
        # bound on pending domains; one cheap job over the pinned
        # frontier).  Order-of-magnitude accuracy is all the
        # join-strategy pick needs.
        HINT_REFRESH_ROUNDS = 8
        n_domains_hint = robots.count()
        t0 = time.time()
        target = state.round_no + n_rounds
        seen_filter_dir = (
            os.path.join(ckpt_dir, SEEN_FILTER_DIR) if use_seen_filter else None
        )
        if use_seen_filter:
            # A sidecar that missed any key of this frontier would let
            # known URLs past the exact anti-join, so anything but the
            # marker of this very round (a fresh crawl may find another
            # crawl's sidecar) means a rebuild from the full frontier.
            cuckoo.ensure_cuckoo_sidecar(
                state.frontier.select("url_hash"), seen_filter_dir,
                state.round_no, store_factory=store_factory, rebuild=not resume,
            )
        rounds_done = 0
        # One-time full pin of the resumed/initial append-only tables;
        # per-round deltas stack on top (mirrors the on-disk layout).
        mem_seen, mem_workshops = _pin([state.url_seen, state.workshops])
        state = CrawlState(state.frontier, mem_seen, mem_workshops, state.round_no)

        with ThreadPoolExecutor(max_workers=1) as writer_pool:
            while state.round_no < target:
                # py4j handles sit in reference cycles (a JavaObject
                # caches its JavaMembers, which point back at it), so JVM
                # objects that earlier rounds dropped (query plans and
                # what they reference) stay live in the driver heap until
                # Python's cyclic GC runs, which in a large process can
                # be many crawls later.
                gc.collect()
                if rounds_done and rounds_done % HINT_REFRESH_ROUNDS == 0:
                    n_domains_hint = max(
                        n_domains_hint,
                        state.frontier.select("domain").distinct().count(),
                    )
                rounds_done += 1
                t_round = time.time()
                state, out = run_round(
                    spark, state, pages_prepared, robots,
                    seen_filter_dir=seen_filter_dir, pages_fallback=pages_fallback,
                    expected_domains=n_domains_hint, store_factory=store_factory,
                    track_edges=track_edges, global_budget=global_budget,
                )
                batch_count = out.materialize()
                # Pin the new frontier whole (the mutating priority queue)
                # plus the round's own append-only deltas (O(delta), not a
                # re-filter of the full tables); the in-memory tables
                # become base ∪ deltas, collapsed at every compact
                # boundary so the union tree stays ≤ compact_every deep,
                # like the on-disk layout save_state writes.
                frontier_pin, seen_delta, ws_delta = _pin(
                    [state.frontier, out.seen_delta, out.workshops_delta]
                )
                mem_seen = mem_seen.unionByName(seen_delta)
                mem_workshops = mem_workshops.unionByName(ws_delta)
                if compact_every and state.round_no % compact_every == 0:
                    mem_seen, mem_workshops = _pin([mem_seen, mem_workshops])
                state = CrawlState(frontier_pin, mem_seen, mem_workshops, state.round_no)
                if use_seen_filter:
                    # The next round's anti-join READS the sidecar: a
                    # filter missing this round's new frontier keys would
                    # answer "definitely unseen" and bypass the exact
                    # verify, so the insert stays on the critical path
                    # (O(this round's new links)).  The marker moves only
                    # after the insert.  A crash between the two only
                    # adds positives, which are verified exactly; a
                    # crash after the marker but before the commit
                    # leaves it ahead of LATEST, and the resume rebuilds.
                    cuckoo.update_cuckoo_shards(
                        out.new_links, seen_filter_dir,
                        store_factory=store_factory,
                    )
                    cuckoo.save_round(
                        seen_filter_dir, state.round_no, store_factory
                    )
                duration_ms = int((time.time() - t_round) * 1000)
                # The previous round's commit must land before this
                # round's writes launch (manifest chain + bucket pointers).
                _wait()
                # One save_state call writes and commits the whole round.
                # The name is looked up per round so a wrapper installed
                # on this module's save_state sees every call.
                pending = (
                    writer_pool.submit(
                        save_state,
                        state,
                        ckpt_dir,
                        touched_domains=out.touched_domains,
                        n_buckets=n_buckets,
                        compact_every=compact_every,
                        seen_delta=seen_delta,
                        workshops_delta=ws_delta,
                        metrics=out.metrics.withColumn(
                            "duration_ms", F.lit(duration_ms)
                        ),
                        edges=out.edges,
                    ),
                    out,
                )
                if not async_checkpoint:
                    _wait()
                fetched_per_round.append(batch_count)
                if collect_outputs:
                    actions_per_round.append(out.actions.count())
                    outputs.append(out)
                else:
                    actions_per_round.append(0)
            _wait()
    except BaseException:
        # Nothing cached for a failed crawl is returned, so release it
        # all (the writer pool has joined its last write by now).
        for o in (*outputs, out, pending and pending[1]):
            if o is not None:
                o.unpersist()
        raise
    finally:
        pages_prepared.unpersist()
        if pages_fallback is not None:
            pages_fallback.unpersist()
    return CrawlResult(
        state,
        fetched_per_round,
        actions_per_round,
        time.time() - t0,
        outputs=outputs if collect_outputs else None,
    )
