"""Frontier benchmark workloads: the Spark process that ``run.py`` starts.

Each workload synthesizes its inputs from ``--seed``, hands only the
generated tables to the program's public entry points, times a closed
loop (the next crawl or pass starts when the previous one returns) for
``--seconds``, checks the outputs, and writes a result file for
``run.py``.  See ``perfbench/README.md`` for the metric definitions.

Run it through ``python3 perfbench/run.py``; this module expects the
environment that ``run.py`` prepares.
"""

from __future__ import annotations

import argparse
import contextlib
import functools
import json
import os
import shutil
import statistics
import sys
import time
import zlib

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)
sys.path.insert(0, HERE)

from pyspark.sql import functions as F  # noqa: E402

from pyppeteer_scraper_spark.functions.canonicalize import with_canonical_url  # noqa: E402
from pyppeteer_scraper_spark.plans import checkpoint  # noqa: E402
from pyppeteer_scraper_spark.plans.extract import extract_pages  # noqa: E402
from pyppeteer_scraper_spark.plans.round import (  # noqa: E402
    ROUND_INTERVAL_MS,
    RoundOutputs,
    select_batch,
)
from pyppeteer_scraper_spark.sources import datagen  # noqa: E402
from spans import Patches, Tracer  # noqa: E402

PIN_SEED = 0
PINS_PATH = os.path.join(HERE, "pins.json")
BASE_DOCS = 5000  # the size of one replica of the documents table
SETUP_REPEATS = 3
OPEN_CAP = 1_000_000_000

# Word list and language mix of the documents table the crawl tables are
# derived from: 8-95 words per document, 40 % en and 15 % each zh/es/fr/de.
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window big"
).split()
LANGS = [("en", 8), ("zh", 11), ("es", 14), ("fr", 17)]  # cumulative of 20; rest de

# Crawl workloads.  ``rep`` replicates the 5,000-document universe,
# ``seeds`` is the seed-list size (None: the datagen default of 50),
# ``open_caps`` lifts politeness caps and delays so the crawl measures
# scheduling volume instead of manners.
CRAWLS = {
    "polite": {
        "rep": 1,
        "rounds": 1,
        "seeds": None,
        "open_caps": False,
        "robots": {"slow_tier_mod": 11},
        # use_bloom is left off: the seen-filter sidecar adds ~14 s to a
        # crawl on 4 cores, which the run budget cannot absorb.
        "crawl": {"incremental_frontier": True, "compact_every": 1},
    },
    "discover": {
        "rep": 20,
        "rounds": 3,
        "seeds": "half",
        "open_caps": True,
        "robots": {},
        "crawl": {"async_checkpoint": True},
    },
}
KERNEL = {"urls": 100_000, "pages": 25_000}
KERNEL_MIN_PASSES = 3  # a median needs at least three samples

FORCED = ("select_batch", "fetch_extract", "workshop_actions", "link_dedup")


def seed_offset(seed: int) -> int:
    """Shift of the doc_id universe; a multiple of 20 keeps every
    doc_id-modular class (mega-host, duplicate spellings, payloads)."""
    return 20 * (seed % 16)


def median(xs):
    return statistics.median(xs) if xs else 0.0


# -- inputs --------------------------------------------------------------------


def synth_documents(spark, n: int, seed: int):
    """documents(doc_id, text, lang), a pure function of (n, seed)."""
    d = F.col("id") + F.lit(seed_offset(seed))
    vocab = F.array(*[F.lit(w) for w in VOCAB])
    n_words = (F.lit(8) + F.pmod(F.xxhash64(F.lit(seed), d, F.lit(-1)), F.lit(88))).cast("int")
    text = F.concat_ws(
        " ",
        F.transform(
            F.sequence(F.lit(1), n_words),
            lambda i: F.element_at(
                vocab, (F.pmod(F.xxhash64(F.lit(seed), d, i), F.lit(len(VOCAB))) + 1).cast("int")
            ),
        ),
    )
    bucket = F.pmod(F.xxhash64(F.lit(seed), d, F.lit(-2)), F.lit(20))
    lang = F.lit("de")
    for name, upper in reversed(LANGS):
        lang = F.when(bucket < upper, F.lit(name)).otherwise(lang)
    parts = spark.sparkContext.defaultParallelism
    return spark.range(n, numPartitions=parts).select(
        d.alias("doc_id"), text.alias("text"), lang.alias("lang")
    )


def crawl_inputs(spark, cfg: dict, seed: int) -> dict:
    n = BASE_DOCS * cfg["rep"]
    docs = synth_documents(spark, n, seed)
    pages = datagen.generate_pages(docs, n).cache()
    n_seeds = n // 2 if cfg["seeds"] == "half" else 50
    seeds = datagen.generate_seeds(docs, n, n_seeds=n_seeds).cache()
    robots_kw = dict(cfg["robots"])
    if cfg["open_caps"]:
        robots_kw.update(
            mega_cap=OPEN_CAP, default_cap=OPEN_CAP, parity_cap=OPEN_CAP,
            mega_delay_ms=0, default_delay_ms=0,
        )
    robots = datagen.generate_robots(pages, **robots_kw).cache()
    counts = {"pages": pages.count(), "seeds": seeds.count(), "robots": robots.count()}
    return {"pages": pages, "seeds": seeds, "robots": robots, "counts": counts}


def kernel_inputs(spark, seed: int) -> dict:
    """The bench_kernel.py shape: a URL universe with variant spellings
    and 30 % mega-host skew, a seen set of every other URL, per-domain
    caps that every domain exceeds, and ~4 KB pages to extract."""
    n, n_pages = KERNEL["urls"], KERNEL["pages"]
    off = seed_offset(seed)
    parts = spark.sparkContext.defaultParallelism
    i = F.col("id")
    raw = spark.range(off, off + n, numPartitions=parts).select(
        F.concat(
            F.lit("https://"),
            F.when(F.pmod(i, F.lit(10)) < 3, F.lit("MEGA-host.example")).otherwise(
                F.concat(F.lit("site-"), F.pmod(i, F.lit(197)).cast("string"), F.lit(".example"))
            ),
            F.lit("/p"),
            i.cast("string"),
            F.when(F.pmod(i, F.lit(4)) == 0, F.lit("?utm_source=x")).otherwise(F.lit("")),
        ).alias("url"),
        F.pmod(i, F.lit(2)).cast("int").alias("priority"),
        F.lit(0).cast("int").alias("depth"),
        F.timestamp_seconds(F.lit(datagen.BASE_EPOCH) + F.pmod(i, F.lit(1000))).alias(
            "discovered_ts"
        ),
    ).cache()
    seen = spark.range(off, off + n, 2, numPartitions=parts).select(
        F.xxhash64(F.concat(F.lit("k"), i.cast("string"))).alias("url_hash"),
        F.concat(F.lit("https://x/"), i.cast("string")).alias("url"),
    ).cache()
    robots = spark.createDataFrame(
        [("mega-host.example", True, 2000, 20)]
        + [(f"site-{k}.example", k % 20 != 0, 1000, 50) for k in range(197)],
        "domain string, allow boolean, crawl_delay_ms long, max_per_round int",
    ).cache()
    body = (
        "the quick brown corpus text with several repeated tokens and "
        "some entropy present in every crawled page body " * 16
    )
    pages = spark.range(off, off + n_pages, numPartitions=parts).select(
        F.concat(F.lit("https://s.example/p"), i.cast("string")).alias("url"),
        F.encode(
            F.concat(
                F.lit("<html><head><title>Doc "),
                i.cast("string"),
                F.lit("</title></head><body><p>" + body),
                i.cast("string"),
                F.lit(
                    '</p><a href="https://s.example/a">x</a>'
                    '<a href="https://s.example/b?utm_source=x">y</a>'
                    '<a href="https://s.example/c">z</a></body></html>'
                ),
            ),
            "utf-8",
        ).alias("html"),
        F.lit("en").alias("lang"),
    ).cache()
    counts = {"raw": raw.count(), "seen": seen.count(), "robots": robots.count(), "pages": pages.count()}
    return {"raw": raw, "seen": seen, "robots": robots, "pages": pages, "counts": counts}


def build_inputs(spark, workload: str, seed: int):
    """Synthesize and cache the inputs SETUP_REPEATS times; keep the last
    set.  Returns (inputs, per-repeat seconds)."""
    times, inputs = [], None
    for _ in range(SETUP_REPEATS):
        if inputs is not None:
            for v in inputs.values():
                if hasattr(v, "unpersist"):
                    v.unpersist(blocking=True)
        t = time.time()
        if workload == "kernel":
            inputs = kernel_inputs(spark, seed)
        else:
            inputs = crawl_inputs(spark, CRAWLS[workload], seed)
        times.append(time.time() - t)
    return inputs, times


# -- checks ----------------------------------------------------------------------


def effective_cap(rule: dict | None, domain: str, round_no: int) -> int:
    """Per-round fetch cap of a domain, written independently of the
    program from the documented rule: min(max_per_round,
    ROUND_INTERVAL_MS // delay); a delay past the window gives cap 1 on
    the domain's crc32-phased turn and 0 otherwise; unknown domains get
    cap 4 and no delay."""
    if rule is None:
        return 4
    cap = 4 if rule["max_per_round"] is None else int(rule["max_per_round"])
    delay = int(rule["crawl_delay_ms"] or 0)
    if delay <= 0:
        return cap
    if delay <= ROUND_INTERVAL_MS:
        return min(cap, ROUND_INTERVAL_MS // delay)
    stride = -(-delay // ROUND_INTERVAL_MS)
    return 1 if round_no % stride == zlib.crc32(domain.encode()) % stride else 0


def cap_violations(per_round_domain, robots) -> list[str]:
    """per_round_domain: rows of (round, domain, n fetched)."""
    rules = {r["domain"]: r.asDict() for r in robots.collect()}
    bad = []
    for row in per_round_domain:
        rule = rules.get(row["domain"])
        if rule is not None and rule["allow"] is False:
            bad.append(f"disallowed domain {row['domain']} fetched in round {row['rnd']}")
        elif row["n"] > effective_cap(rule, row["domain"], row["rnd"]):
            bad.append(f"domain {row['domain']} fetched {row['n']} in round {row['rnd']}")
    return bad


def hash_sum(*cols):
    """Order-independent fingerprint: exact sum of 64-bit hashes."""
    return F.sum(F.xxhash64(*cols).cast("decimal(38,0)")).cast("string")


def crawl_check(result, robots) -> tuple[dict, list[str]]:
    seen = result.state.url_seen.agg(
        F.count("*").alias("n"),
        F.countDistinct("url").alias("distinct"),
        hash_sum("url", "first_seen_round").alias("h"),
    ).first()
    frontier = result.state.frontier
    states = {r["state"]: r["count"] for r in frontier.groupBy("state").count().collect()}
    fingerprint = {
        "batches": list(result.fetched_per_round),
        "url_seen": seen["n"],
        "url_seen_hash": seen["h"],
        "states": dict(sorted(states.items())),
        "workshops": result.state.workshops.count(),
    }
    per_round = (
        frontier.filter(F.col("last_fetch_round") >= 1)
        .groupBy(F.col("last_fetch_round").alias("rnd"), "domain")
        .agg(F.count("*").alias("n"))
        .collect()
    )
    bad = cap_violations(per_round, robots)
    if seen["n"] != seen["distinct"]:
        bad.append(f"url_seen has {seen['n'] - seen['distinct']} duplicate urls")
    return fingerprint, bad


def kernel_check(spark, handoff: str, robots, links: int) -> tuple[dict, list[str]]:
    out = spark.read.parquet(handoff)
    agg = out.agg(
        F.count("*").alias("n"), F.countDistinct("url").alias("distinct"), hash_sum("url").alias("h")
    ).first()
    per_domain = (
        out.groupBy("domain").agg(F.count("*").alias("n")).withColumn("rnd", F.lit(0)).collect()
    )
    bad = cap_violations(per_domain, robots)
    if agg["n"] != agg["distinct"]:
        bad.append(f"scheduled batch has {agg['n'] - agg['distinct']} duplicate urls")
    return {"scheduled": agg["n"], "scheduled_hash": agg["h"], "extracted_links": links}, bad


def load_pin(workload: str, seed: int) -> dict | None:
    """The pinned output of ``workload``; only the pin seed has one."""
    if seed != PIN_SEED or not os.path.isfile(PINS_PATH):
        return None
    with open(PINS_PATH) as fh:
        return json.load(fh).get(workload)


def pin_problems(pin: dict | None, params: dict, fingerprint: dict) -> list[str]:
    if pin is None:
        return []
    if pin["params"] != params:
        return [f"pinned params {pin['params']} differ from {params}; re-pin"]
    if pin["fingerprint"] != fingerprint:
        return [f"fingerprint {fingerprint} != pinned {pin['fingerprint']}"]
    return []


def du(path: str) -> tuple[int, int]:
    size = files = 0
    for dirpath, _, names in os.walk(path):
        for name in names:
            size += os.path.getsize(os.path.join(dirpath, name))
            files += 1
    return size, files


# -- crawl workloads -------------------------------------------------------------


def state_hist(frontier) -> dict:
    return {r["state"]: r["count"] for r in frontier.groupBy("state").count().collect()}


def traced_round(tr: Tracer, state, new_state, out, pages_prepared, pages_fallback) -> dict:
    """Force the round's outputs layer by layer (each fills the round's
    own cache, so the crawl's materialize then reads cached data), then
    take trace-only counts inside a ``trace.extra`` span."""
    d = {}
    with tr.span("select_batch"):
        d["select.batch_rows"] = out.batch.count()
    with tr.span("fetch_extract"):
        extracted = out.extracted.count()
    with tr.span("workshop_actions"):
        d["actions.rows"] = out.actions.count()
    with tr.span("link_dedup"):
        d["links.new_rows"] = out.new_links.count()
    with tr.span("trace.extra"):
        analyzed = new_state.frontier._jdf.queryExecution().analyzed()
        d["round.plan_nodes"] = len(analyzed.treeString().splitlines())
        before, after = state_hist(state.frontier), state_hist(new_state.frontier)
        blocked = after.get("blocked", 0) - before.get("blocked", 0)
        still_pending = after.get("pending", 0) - d["links.new_rows"]
        d["select.blocked_rows"] = blocked
        d["select.pending_rows"] = d["select.batch_rows"] + blocked + still_pending
        d["select.batch_ratio"] = d["select.batch_rows"] / max(d["select.pending_rows"], 1)
        d["fetch.hit_ratio"] = extracted / max(d["select.batch_rows"], 1)
        sources = pages_prepared.select("url", "html")
        if pages_fallback is not None:
            sources = sources.union(pages_fallback.select("url", "html"))
        html = (
            out.batch.select("url").join(sources, "url")
            .agg(F.sum(F.length("html")).alias("b")).first()["b"]
        )
        d["extract.html_mb"] = (html or 0) / 1e6
        outlinks = out.extracted.agg(F.sum(F.size("links")).alias("n")).first()["n"] or 0
        d["links.novel_ratio"] = d["links.new_rows"] / max(outlinks, 1)
        d["errors.rows"] = out.errors.count()
    return d


def install_round_hook(patches: Patches, stamps: list, rounds: list, tr: Tracer | None) -> None:
    """Wrap plans.checkpoint.run_round: timestamp each entry (the round
    clock); when tracing, also force and count the round's layers."""

    def hook(original):
        @functools.wraps(original)
        def run_round(spark, state, pages_prepared, robots, **kw):
            stamps.append(time.time())
            if tr is None:
                return original(spark, state, pages_prepared, robots, **kw)
            tr.round = len(stamps)
            with tr.span("run_round"):
                new_state, out = original(spark, state, pages_prepared, robots, **kw)
            rounds.append(
                traced_round(tr, state, new_state, out, pages_prepared, kw.get("pages_fallback"))
            )
            return new_state, out

        return run_round

    patches.patch(checkpoint, "run_round", hook)


def install_layer_wrappers(tr: Tracer, raw_pages: int, layer: dict) -> None:
    def prepare_hook(original):
        @functools.wraps(original)
        def prepare_pages(pages):
            with tr.span("prepare_pages"):
                pp = original(pages)
            with tr.span("trace.extra"):
                layer["prepare.collapse_ratio"] = pp.count() / max(raw_pages, 1)
            return pp

        return prepare_pages

    tr.patches.patch(checkpoint, "prepare_pages", prepare_hook)
    tr.wrap(checkpoint, "save_state", "save_state")
    tr.wrap(checkpoint, "load_state", "load_state")
    tr.wrap(RoundOutputs, "materialize", "materialize")


def crawl_layers(tr: Tracer, t_crawl: float, stamps: list, t_end: float, rounds: list, layer: dict) -> dict:
    """Per-layer metrics of one traced crawl; per-round values are
    reported as their median over the crawl's rounds."""
    extra = [(s["start"], s["end"]) for s in tr.spans if s["name"] == "trace.extra"]

    def extra_in(a, b):
        return sum(min(e, b) - max(s, a) for s, e in extra if e > a and s < b)

    per_round = []
    bounds = stamps + [t_end]
    for r in range(1, len(stamps) + 1):
        t0, t1 = bounds[r - 1], bounds[r]
        wall = t1 - t0
        build = tr.total("run_round", r)
        compute = sum(tr.total(n, r) for n in FORCED) + tr.total("materialize", r)
        ex = extra_in(t0, t1)
        row = {
            "round.wall_s": wall,
            "round.build_s": build,
            "round.compute_s": compute,
            "round.other_s": wall - build - compute - ex,
            "select.s": tr.total("select_batch", r),
            "fetch_extract.s": tr.total("fetch_extract", r),
            "actions.s": tr.total("workshop_actions", r),
            "links.s": tr.total("link_dedup", r),
            "ckpt.save_s": tr.total("save_state", r),
            "ckpt.load_s": tr.total("load_state", r),
            "trace.overhead_s": ex,
            **rounds[r - 1],
            **tr.spark_window(t0, t1, exclude=extra),
        }
        per_round.append(row)
    out = {k: median([row[k] for row in per_round]) for k in per_round[0]}
    out["prepare.s"] = stamps[0] - t_crawl - extra_in(t_crawl, stamps[0])
    out["trace.overhead_s"] = sum(e - s for s, e in extra)
    out.update(layer)
    out["per_round"] = per_round
    return out


def run_crawl(
    spark, workload: str, seed: int, seconds: float, tr: Tracer | None, work: str, setup: dict,
    pin: dict | None,
) -> dict:
    cfg = CRAWLS[workload]
    inputs, setup["inputs_s"] = build_inputs(spark, workload, seed)
    setup["datagen.rows"] = sum(inputs["counts"].values())
    setup["ready"] = time.time()
    params = {k: cfg[k] for k in ("rep", "rounds", "seeds", "open_caps")}
    params.update(cfg["robots"], **cfg["crawl"])

    attempted = failed = 0
    walls, round_s, fetched, pages_out, bytes_per_url = [], [], [], [], []
    problems: list[str] = []
    layers: list[dict] = []
    fingerprint = None
    measured = 0.0
    i = 0
    # A traced run times a single crawl: its spans are keyed by round.
    while i == 0 or (tr is None and measured < seconds):
        ckpt = os.path.join(work, f"ckpt-{i}")
        stamps: list[float] = []
        rounds: list[dict] = []
        layer: dict = {}
        patches = Patches() if tr is None else tr.patches
        if tr is not None:
            tr.round = 0
            install_layer_wrappers(tr, inputs["counts"]["pages"], layer)
        install_round_hook(patches, stamps, rounds, tr)
        t0 = time.time()
        try:
            result = checkpoint.crawl(
                spark, inputs["pages"], inputs["seeds"], inputs["robots"], cfg["rounds"], ckpt,
                **cfg["crawl"],
            )
        except Exception as e:  # noqa: BLE001 — a failed crawl fails its rounds
            attempted += cfg["rounds"]
            failed += cfg["rounds"]
            problems.append(f"crawl raised {type(e).__name__}: {e}")
            break
        finally:
            t1 = time.time()
            patches.restore()
        i += 1
        measured += t1 - t0
        attempted += cfg["rounds"]
        walls.append(t1 - t0)
        round_s += [b - a for a, b in zip(stamps, stamps[1:] + [t1])]
        fetched.append(sum(result.fetched_per_round))
        pages_out.append(
            checkpoint.load_metrics(spark, ckpt).agg(F.sum("fetched").alias("n")).first()["n"] or 0
        )
        fingerprint, bad = crawl_check(result, inputs["robots"])
        bad += pin_problems(pin, params, fingerprint)
        size, files = du(ckpt)
        bytes_per_url.append(size / max(fingerprint["url_seen"], 1))
        if tr is not None:
            layer["ckpt.bytes_written"] = size
            layer["ckpt.files_written"] = files
            layers.append(crawl_layers(tr, t0, stamps, t1, rounds, layer))
        shutil.rmtree(ckpt, ignore_errors=True)
        if bad:
            failed += cfg["rounds"]
            problems += bad
    total = sum(walls) or 1.0
    metrics = {
        "urls_per_s": sum(fetched) / total,
        "round_p50_s": median(round_s),
        "round_max_s": max(round_s, default=0.0),
        "pages_per_s": sum(pages_out) / total,
        "ckpt_bytes_per_url": median(bytes_per_url),
    }
    return {
        "attempted": attempted,
        "failed": failed,
        "problems": problems,
        "metrics": metrics,
        "layers": layers,
        "fingerprint": fingerprint,
        "params": params,
        "detail": {"crawl_s": walls, "round_s": round_s, "fetched": fetched, "inputs": inputs["counts"]},
    }


# -- kernel workload ---------------------------------------------------------------


def kernel_pass(spark, inputs: dict, handoff: str, tr: Tracer | None) -> dict:
    """canonicalize -> robots gate -> politeness -> seen anti-join, with
    the scheduled batch handed off as parquet; then one extraction pass."""
    n_domains = inputs["counts"]["robots"]
    span = tr.span if tr is not None else (lambda name: contextlib.nullcontext())
    d: dict = {}
    t0 = time.time()
    with span("build"):
        canon = with_canonical_url(inputs["raw"])
    if tr is not None:
        with span("canonicalize"):
            canon = canon.cache()
            canon.count()
    with span("build"):
        batch, blocked, _, caches = select_batch(canon, inputs["robots"], expected_domains=n_domains)
        fresh = batch.join(inputs["seen"], ["url_hash", "url"], "left_anti")
    if tr is not None:
        with span("select_batch"):
            d["select.batch_rows"] = batch.count()
        with span("trace.extra"):
            d["select.blocked_rows"] = blocked.count()
            d["round.plan_nodes"] = len(
                fresh._jdf.queryExecution().analyzed().treeString().splitlines()
            )
    with span("seen_antijoin"):
        fresh.write.mode("overwrite").parquet(handoff)
    t1 = time.time()
    with span("extract"):
        links = (
            extract_pages(inputs["pages"]).agg(F.sum(F.size("links")).alias("n")).first()["n"]
        )
    t2 = time.time()
    with span("unpersist"):
        for df in caches:
            df.unpersist()
        if tr is not None:
            canon.unpersist()
    d.update({"sched_s": t1 - t0, "extract_s": t2 - t1, "pass_s": time.time() - t0, "links": links})
    d["t0"], d["t1"] = t0, time.time()
    return d


def kernel_layers(tr: Tracer, passes: list[dict], inputs: dict, html_mb: float, handoff_size: tuple) -> dict:
    extra = [(s["start"], s["end"]) for s in tr.spans if s["name"] == "trace.extra"]
    per_pass = []
    for k, p in enumerate(passes, start=1):
        ex = tr.total("trace.extra", k)
        build = tr.total("build", k)
        compute = sum(tr.total(n, k) for n in ("canonicalize", "select_batch", "seen_antijoin", "extract"))
        wall = p["t1"] - p["t0"]
        pending = inputs["counts"]["raw"]
        per_pass.append({
            "round.wall_s": wall,
            "round.build_s": build,
            "round.compute_s": compute,
            "round.other_s": wall - build - compute - ex,
            "round.plan_nodes": p["round.plan_nodes"],
            "canonicalize.s": tr.total("canonicalize", k),
            "select.s": tr.total("select_batch", k),
            "select.pending_rows": pending,
            "select.batch_rows": p["select.batch_rows"],
            "select.blocked_rows": p["select.blocked_rows"],
            "select.batch_ratio": p["select.batch_rows"] / max(pending, 1),
            "extract.s": tr.total("extract", k),
            "trace.overhead_s": ex,
            **tr.spark_window(p["t0"], p["t1"], exclude=extra),
        })
    out = {k: median([row[k] for row in per_pass]) for k in per_pass[0]}
    out["extract.html_mb"] = html_mb
    out["ckpt.bytes_written"], out["ckpt.files_written"] = handoff_size
    out["trace.overhead_s"] = sum(e - s for s, e in extra)
    out["per_round"] = per_pass
    return out


def run_kernel(
    spark, seed: int, seconds: float, tr: Tracer | None, work: str, setup: dict, pin: dict | None
) -> dict:
    inputs, setup["inputs_s"] = build_inputs(spark, "kernel", seed)
    setup["datagen.rows"] = sum(inputs["counts"].values())
    # Warm the Python workers and code generation with one untimed pass
    # over a quarter of the inputs.
    t = time.time()
    warm = dict(inputs, raw=inputs["raw"].limit(KERNEL["urls"] // 4),
                pages=inputs["pages"].limit(KERNEL["pages"] // 4))
    kernel_pass(spark, warm, os.path.join(work, "handoff-warm"), None)
    shutil.rmtree(os.path.join(work, "handoff-warm"), ignore_errors=True)
    setup["warm_s"] = time.time() - t
    setup["ready"] = time.time()
    params = dict(KERNEL)

    passes: list[dict] = []
    attempted = failed = 0
    problems: list[str] = []
    fingerprint, size = None, (0, 0)
    measured = 0.0
    while measured < seconds or len(passes) < KERNEL_MIN_PASSES:
        attempted += 1
        handoff = os.path.join(work, f"handoff-{len(passes)}")
        if tr is not None:
            tr.round = len(passes) + 1
        try:
            p = kernel_pass(spark, inputs, handoff, tr)
        except Exception as e:  # noqa: BLE001 — a failed pass is counted
            failed += 1
            problems.append(f"pass raised {type(e).__name__}: {e}")
            break
        passes.append(p)
        measured += p["pass_s"]
        fingerprint, bad = kernel_check(spark, handoff, inputs["robots"], p["links"])
        bad += pin_problems(pin, params, fingerprint)
        size = du(handoff)
        p["bytes_per_url"] = size[0] / max(fingerprint["scheduled"], 1)
        shutil.rmtree(handoff, ignore_errors=True)
        if bad:
            failed += 1
            problems += bad
    n = inputs["counts"]["raw"]
    metrics = {
        "urls_per_s": n * len(passes) / (sum(p["sched_s"] for p in passes) or 1.0),
        "round_p50_s": median([p["pass_s"] for p in passes]),
        "round_max_s": max((p["pass_s"] for p in passes), default=0.0),
        "pages_per_s": KERNEL["pages"] * len(passes) / (sum(p["extract_s"] for p in passes) or 1.0),
        "ckpt_bytes_per_url": median([p["bytes_per_url"] for p in passes]),
    }
    layers = []
    if tr is not None and passes:
        html_mb = inputs["pages"].agg(F.sum(F.length("html")).alias("b")).first()["b"] / 1e6
        layers.append(kernel_layers(tr, passes, inputs, html_mb, size))
    return {
        "attempted": attempted,
        "failed": failed,
        "problems": problems,
        "metrics": metrics,
        "layers": layers,
        "fingerprint": fingerprint,
        "params": params,
        "detail": {"pass_s": [p["pass_s"] for p in passes], "inputs": inputs["counts"]},
    }


# -- self-check against the oracle -------------------------------------------------


def self_check(spark, work: str) -> dict:
    """Replay the discover and polite configurations at REP=1 through
    plans.oracle.simulate; per-round batches and error rows, the URL-seen
    set and the discovered workshop events must match exactly."""
    from pyppeteer_scraper_spark.plans.oracle import simulate

    report = {}
    for name in ("discover", "polite"):
        cfg = dict(CRAWLS[name], rep=1, rounds=2)
        inputs = crawl_inputs(spark, cfg, PIN_SEED)
        batches: list[list[str]] = []
        errors: list[list[tuple]] = []

        def hook(original):
            @functools.wraps(original)
            def run_round(*args, **kw):
                new_state, out = original(*args, **kw)
                batches.append(sorted(r["url"] for r in out.batch.select("url").collect()))
                errors.append(sorted((r["url"], r["error_kind"]) for r in out.errors.collect()))
                return new_state, out

            return run_round

        patches = Patches()
        patches.patch(checkpoint, "run_round", hook)
        ckpt = os.path.join(work, f"selfcheck-{name}")
        try:
            result = checkpoint.crawl(
                spark, inputs["pages"], inputs["seeds"], inputs["robots"], cfg["rounds"], ckpt,
                **cfg["crawl"],
            )
            seen = {r["url"]: r["first_seen_round"] for r in result.state.url_seen.collect()}
            events = {r["event_code"] for r in result.state.workshops.select("event_code").collect()}
        finally:
            patches.restore()
            shutil.rmtree(ckpt, ignore_errors=True)
        oracle = simulate(
            inputs["pages"].toPandas(), inputs["seeds"].toPandas(), inputs["robots"].toPandas(),
            cfg["rounds"],
        )
        checks = {
            "batches": batches == [sorted(b) for b in oracle.batches],
            "errors": errors == oracle.errors,
            "url_seen": seen == oracle.seen,
            "workshops": events == set(oracle.workshops),
        }
        report[name] = {
            "batches": [len(b) for b in batches],
            "oracle_batches": [len(b) for b in oracle.batches],
            "errors": [len(e) for e in errors],
            "url_seen": len(seen),
            "workshops": len(events),
            "checks": checks,
            "match": all(checks.values()),
        }
        for v in inputs.values():
            if hasattr(v, "unpersist"):
                v.unpersist()
    return report


# -- main -----------------------------------------------------------------------------


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=PIN_SEED)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--work", required=True)
    ap.add_argument("--result", required=True)
    ap.add_argument("--spans", default=None)
    ap.add_argument("--t0", type=float, required=True, help="epoch time the run started")
    ap.add_argument("--repin", action="store_true", help="skip the comparison with pins.json")
    args = ap.parse_args(argv)

    from pyppeteer_scraper_spark.session import get_spark

    tmp = os.path.join(args.work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    conf = {"spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}"}
    if args.trace:
        conf.update({"spark.ui.retainedJobs": "20000", "spark.ui.retainedStages": "40000"})
    spark = get_spark(f"perfbench-{args.workload}", cores=os.environ["SPARK_GRAFT_CPUS"], extra_conf=conf)
    t_session = time.time()
    try:
        if args.workload == "self-check":
            report = self_check(spark, args.work)
            with open(args.result, "w") as fh:
                json.dump({"self_check": report}, fh)
            return 0
        tr = Tracer(spark) if args.trace else None
        setup: dict = {}
        pin = None if args.repin else load_pin(args.workload, args.seed)
        if args.workload == "kernel":
            res = run_kernel(spark, args.seed, args.seconds, tr, args.work, setup, pin)
        else:
            res = run_crawl(spark, args.workload, args.seed, args.seconds, tr, args.work, setup, pin)
        session_s = t_session - args.t0
        setup_s = session_s + median(setup["inputs_s"]) + setup.get("warm_s", 0.0)
        res["metrics"]["setup_s"] = setup_s
        res["setup"] = {"session.start_s": session_s, **setup}
        if tr is not None:
            layer = {
                "session.start_s": session_s,
                "datagen.s": median(setup["inputs_s"]),
                "datagen.rows": setup["datagen.rows"],
            }
            if res["layers"]:
                per = res["layers"][-1]
                layer.update({k: v for k, v in per.items() if k != "per_round"})
            res["layer"] = layer
            if args.spans:
                tr.dump(args.spans, {"layers": res["layers"], "setup": res["setup"]})
        res.pop("layers", None)
        with open(args.result, "w") as fh:
            json.dump(res, fh)
        return 0
    finally:
        spark.stop()


if __name__ == "__main__":
    sys.exit(main())
