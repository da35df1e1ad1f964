"""Deterministic synthesis of the crawl tables (pages / seeds / robots)
from the driver-provided ``documents`` table — FIXTURES.md §1-4.

Everything is a pure column expression over ``documents.parquet`` (no
randomness, no wall clock), so the same sf_dir always yields the same
tables and the parity oracle can read the written parquet back.

Shape (FIXTURES.md §1):
- hosts: Zipf-ish over ~200 synthetic domains with ONE deliberate
  mega-host holding ~30% of rows (skew-salting exercise);
- duplicate-variant URLs (trailing ``/``, ``?utm_source=x``, uppercase
  host) that must canonicalize to the same url_hash;
- html embeds a title, outlinks into the same URL universe (some
  dangling), body text, and — for ~5% of rows — a JSON payload in the
  reference's workshop fixture shape
  (/root/reference/tests/homedepot_sample_response.json), with the
  variant matrix of the reference e2e tests
  (/root/reference/tests/test_home_depot_e2e.py:489-597: seats=0,
  type=DIY, status=CLOSED, 08:30 vs 10:30 start).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pyppeteer_scraper_spark.schemas import BASE_EPOCH

MEGA_HOST = "mega-host.example"
N_SITES = 197
PAYLOAD_MOD = 20  # doc_id % 20 == 7 → embedded workshop payload (~5%)


def _host_expr(doc_id):
    """~30% of rows on the mega-host, rest spread over N_SITES domains."""
    return F.when(F.pmod(doc_id, F.lit(10)) < 3, F.lit(MEGA_HOST)).otherwise(
        F.concat(
            F.lit("site-"),
            F.pmod(F.pmod(doc_id, F.lit(997)), F.lit(N_SITES)).cast("string"),
            F.lit(".example"),
        )
    )


def _url_expr(doc_id):
    return F.concat(F.lit("https://"), _host_expr(doc_id), F.lit("/p"), doc_id.cast("string"))


def _workshop_payload_expr(doc_id):
    """Reference-fixture-shaped JSON, variant by doc_id % 5:
    0: sold out   1: DIY type   2: CLOSED status
    3: open KID @08:30 with 5 seats taken (→ auto-register rule fires)
    4: open KID @10:30 (→ alert only; 08:30 rule fails)
    """
    # NB: payload pages all satisfy doc_id % 20 == 7, so the variant
    # selector must not be doc_id % 5 (that would pin it to 2).
    variant = F.pmod(F.floor(doc_id / 20), F.lit(5))
    remaining = (
        F.when(variant == 0, F.lit(0))
        .when(variant == 3, F.lit(15))
        .otherwise(F.lit(12))
    )
    start_hm = F.when(variant == 4, F.lit("10:30")).otherwise(F.lit("08:30"))
    event = F.struct(
        F.concat(F.lit("EV"), doc_id.cast("string")).alias("code"),
        F.concat(F.lit("KW"), F.lpad(F.pmod(doc_id, F.lit(100)).cast("string"), 4, "0")).alias(
            "workshopId"
        ),
        F.lit(20).alias("attendeeLimit"),
        remaining.alias("remainingSeats"),
        F.lit("1 hour").alias("duration"),
        F.lit("2026-03-13").alias("closeDate"),
        F.lit("2026-03-14T12:00:00-0400").alias("endTime"),
        F.lit("2026-03-14").alias("eventDate"),
        F.concat(F.lit("2026-03-14T"), start_hm, F.lit(":00-0400")).alias("startTime"),
        F.when(variant == 2, F.lit("CLOSED")).otherwise(F.lit("ACTIVE")).alias(
            "workshopStatus"
        ),
        F.when(variant == 1, F.lit("DIY")).otherwise(F.lit("KID")).alias("workshopType"),
        F.struct(
            F.lit("ics").alias("code"), F.lit("https://x.example/ics").alias("url")
        ).alias("icsFile"),
        F.struct(
            F.concat(F.lit("WE"), F.pmod(doc_id, F.lit(50)).cast("string")).alias(
                "workshopEventId"
            ),
            F.concat(F.lit("ET"), F.pmod(doc_id, F.lit(50)).cast("string")).alias("code"),
            F.concat(F.lit("Workshop "), F.pmod(doc_id, F.lit(50)).cast("string")).alias(
                "name"
            ),
            F.lit("WS").alias("shortCode"),
            F.lit("desc").alias("description"),
            F.lit("know").alias("thingsToKnow"),
            F.lit("https://x.example/img").alias("imageUrl"),
            F.struct(
                F.lit("ph").alias("code"), F.lit("https://x.example/ph").alias("url")
            ).alias("photo"),
        ).alias("eventType"),
    )
    return F.to_json(
        F.struct(
            F.array(event).alias("workshopEventWsDTO"),
            F.lit(False).alias("dihFlag"),
            F.lit(False).alias("diyFlag"),
            F.lit(True).alias("kidFlag"),
        )
    )


def generate_pages(documents: DataFrame, n_docs: int) -> DataFrame:
    """pages(url, warc_ts, html, text, lang) — one row per document plus
    duplicate-variant rows for doc_id % 20 == 0."""
    d = F.col("doc_id")
    n = F.lit(n_docs)

    link1 = _url_expr(F.pmod(d * 7 + 1, n))
    # Every 4th page spells its second outlink with a tracking param —
    # must canonicalize onto the plain spelling.
    link2_base = _url_expr(F.pmod(d * 13 + 3, n))
    link2 = F.when(
        F.pmod(d, F.lit(4)) == 0, F.concat(link2_base, F.lit("?utm_source=x"))
    ).otherwise(link2_base)
    # Third outlink points at the payload page of this page's own
    # 20-block, so workshop-payload pages are reachable from any seed
    # by depth 1 (keeps the e2e filter-matrix exercised in few rounds).
    link3 = _url_expr(F.pmod(d - F.pmod(d, F.lit(PAYLOAD_MOD)) + 7, n))
    dangling = F.when(
        F.pmod(d, F.lit(5)) == 0,
        F.concat(
            F.lit('<a href="https://dangling-'),
            d.cast("string"),
            F.lit('.example/x">dx</a>'),
        ),
    ).otherwise(F.lit(""))
    # Error-path variant matrix (the reference e2e error scenarios,
    # /root/reference/tests/test_home_depot_e2e.py:599-700): besides the
    # good payloads (%20==7), some pages carry malformed JSON (%20==13,
    # → "JSON parsing error"), valid JSON without the expected key
    # (%20==17, → "missing expected ... key"), or an empty workshop
    # list (%20==19, → handled gracefully, NO alert).
    payload_body = (
        F.when(F.pmod(d, F.lit(PAYLOAD_MOD)) == 7, _workshop_payload_expr(d))
        .when(F.pmod(d, F.lit(PAYLOAD_MOD)) == 13, F.lit("{ not valid JSON !!!"))
        .when(F.pmod(d, F.lit(PAYLOAD_MOD)) == 17, F.lit('{"someOtherKey": []}'))
        .when(F.pmod(d, F.lit(PAYLOAD_MOD)) == 19, F.lit('{"workshopEventWsDTO": []}'))
    )
    payload = F.when(
        payload_body.isNotNull(),
        F.concat(
            F.lit('<script type="application/json">'),
            payload_body,
            F.lit("</script>"),
        ),
    ).otherwise(F.lit(""))

    html_str = F.concat(
        F.lit("<html><head><title>Doc "),
        d.cast("string"),
        F.lit("</title></head><body><p>"),
        F.col("text"),
        F.lit('</p><a href="'),
        link1,
        F.lit('">l1</a><a href="'),
        link2,
        F.lit('">l2</a><a href="'),
        link3,
        F.lit('">l3</a>'),
        dangling,
        payload,
        F.lit("</body></html>"),
    )

    # Fetch-channel split (reference fallback playwright→requests,
    # /root/reference/tests/test_home_depot_api.py:322-326): pages with
    # doc_id%20==6 are reachable only through the FALLBACK channel —
    # the primary fetch pass misses them and the retry pass must
    # recover them with fetch_attempt=2.  (%20==6 keeps them off the
    # cap-throttled mega-host — %10 ∈ {0,1,2} — and includes round-1
    # seeds, so short parity crawls exercise the fallback.)
    fetch_via = F.when(
        F.pmod(d, F.lit(PAYLOAD_MOD)) == 6, F.lit("fallback")
    ).otherwise(F.lit("primary"))

    base = documents.select(
        _url_expr(d).alias("url"),
        F.timestamp_seconds(F.lit(BASE_EPOCH) + d).alias("warc_ts"),
        F.encode(html_str, "UTF-8").alias("html"),
        F.col("text").alias("text"),
        F.col("lang").alias("lang"),
        fetch_via.alias("fetch_via"),
    )

    # Duplicate-variant spellings of every 20th page (same content);
    # all three collapse onto the base row's canonical URL.
    dup_src = documents.filter(F.pmod(d, F.lit(PAYLOAD_MOD)) == 0)
    variants = []
    for suffix_expr in (
        F.concat(_url_expr(d), F.lit("/")),
        F.concat(_url_expr(d), F.lit("?utm_source=x")),
        F.concat(
            F.lit("https://"),
            F.upper(_host_expr(d)),
            F.lit("/p"),
            d.cast("string"),
        ),
    ):
        variants.append(
            dup_src.select(
                suffix_expr.alias("url"),
                F.timestamp_seconds(F.lit(BASE_EPOCH) + d).alias("warc_ts"),
                F.encode(html_str, "UTF-8").alias("html"),
                F.col("text").alias("text"),
                F.col("lang").alias("lang"),
                F.lit("primary").alias("fetch_via"),
            )
        )
    out = base
    for v in variants:
        out = out.unionByName(v)
    return out


def generate_seeds(
    documents: DataFrame, n_docs: int, n_seeds: int = 50
) -> DataFrame:
    """Seed URLs sampled deterministically; priority 0/1 mirrors the
    reference's hourly vs daily cron tiers
    (/root/reference/.github/workflows/*.yml)."""
    # Stride of 7 (coprime to the 10-cycle of the host rule) spreads
    # seeds across the domain universe instead of pinning them all to
    # the mega-host.
    stride = max(1, min(7, n_docs // n_seeds))
    d = F.col("doc_id")
    return (
        documents.filter(F.pmod(d, F.lit(stride)) == 0)
        .orderBy(d)
        .limit(n_seeds)
        .select(
            _url_expr(d).alias("url"),
            F.pmod(d, F.lit(2)).cast("int").alias("priority"),
        )
    )


def generate_robots(
    pages: DataFrame,
    mega_cap: int = 8,
    default_cap: int = 4,
    parity_cap: int = 1,
    mega_delay_ms: int = 1000,
    slow_tier_mod: int | None = None,
    slow_delay_ms: int = 180_000,
    default_delay_ms: int = 100,
) -> DataFrame:
    """robots_rules(domain, allow, crawl_delay_ms, max_per_round).

    Reference analog: the `scrapers.is_active` gate
    (/root/reference/scraper/canada_ircc.py:63-74) + per-scraper cron
    budgets (/root/reference/docs/CRON_SCHEDULE_RECOMMENDATIONS.md).
    ~5% of domains disallowed; the mega-host gets a deliberately tight
    per-round cap so the politeness bucket visibly throttles; domains
    with hash%13==0 get cap 1 (the once-per-day-alert parity tier,
    /root/reference/scraper/home_depo.py:171-179).

    ``crawl_delay_ms`` is ENFORCED by ``select_batch`` (effective cap =
    min(max_per_round, floor(ROUND_INTERVAL_MS/delay)); a delay past
    the round window defers the domain to crc32-phased skip-round
    turns).  Defaults are non-binding so the cap tiers above stay the
    visible throttle; pass ``mega_delay_ms`` ≥ ROUND_INTERVAL_MS /
    mega_cap to make the delay bind on the mega-host, and
    ``slow_tier_mod=k`` to give domains with hash%k==3 a delay past the
    window (the skip-round tier; k ≤ 3 would select no domain, so it
    raises ``ValueError``).  Throughput benchmarks that open the
    caps should ALSO zero the delays (``mega_delay_ms=0,
    default_delay_ms=0``) — a 100 ms default delay is a 600-URL/round
    budget under the 60 s window, which silently becomes the binding
    throttle once caps stop being one.
    """
    from pyppeteer_scraper_spark.functions.canonicalize import domain_of

    if slow_tier_mod is not None and slow_tier_mod <= 3:
        raise ValueError(
            f"slow_tier_mod must be > 3 (got {slow_tier_mod}): the slow tier "
            "is hash % slow_tier_mod == 3"
        )
    domains = pages.select(domain_of(F.col("url")).alias("domain")).distinct()
    h = F.xxhash64(F.col("domain"))
    delay = F.when(F.col("domain") == MEGA_HOST, F.lit(mega_delay_ms))
    if slow_tier_mod is not None:
        delay = delay.when(
            F.pmod(h, F.lit(slow_tier_mod)) == 3, F.lit(slow_delay_ms)
        )
    return domains.select(
        F.col("domain"),
        (F.pmod(h, F.lit(20)) != 0).alias("allow"),
        delay.otherwise(F.lit(default_delay_ms)).cast("long").alias("crawl_delay_ms"),
        F.when(F.col("domain") == MEGA_HOST, F.lit(mega_cap))
        .when(F.pmod(h, F.lit(13)) == 0, F.lit(parity_cap))
        .otherwise(F.lit(default_cap))
        .cast("int")
        .alias("max_per_round"),
    )


def generate_crawl_tables(
    spark: SparkSession, sf_dir: str, out_dir: str | None = None
) -> dict[str, DataFrame]:
    """Synthesize {pages, seeds, robots} from ``{sf_dir}/documents.parquet``.

    If ``out_dir`` is given the tables are persisted as parquet
    (pages bucket-partitioned by host hash — the Iceberg
    ``bucket(host)`` layout of FIXTURES.md §1) and re-read, so
    downstream plans get real parquet scans with pushdown.
    """
    documents = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    n_docs = documents.count()
    pages = generate_pages(documents, n_docs)
    seeds = generate_seeds(documents, n_docs)
    robots = generate_robots(pages)
    if out_dir:
        pages_path = os.path.join(out_dir, "pages")
        seeds_path = os.path.join(out_dir, "seeds")
        robots_path = os.path.join(out_dir, "robots_rules")
        (
            pages.withColumn(
                "host_bucket", F.pmod(F.xxhash64(F.lower(F.parse_url("url", F.lit("HOST")))), F.lit(16))
            )
            .repartition(16, "host_bucket")
            .write.mode("overwrite")
            .partitionBy("host_bucket")
            .parquet(pages_path)
        )
        seeds.write.mode("overwrite").parquet(seeds_path)
        robots.write.mode("overwrite").parquet(robots_path)
        pages = spark.read.parquet(pages_path).drop("host_bucket")
        seeds = spark.read.parquet(seeds_path)
        robots = spark.read.parquet(robots_path)
    return {"pages": pages, "seeds": seeds, "robots": robots}
