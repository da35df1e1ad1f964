"""The crawl core's import closure: importing the crawl loop and the
modules around it (evict, expire) loads exactly this set of engine
modules.  The query registry (plans/queries.py), the bloom sidecar
(operators/bloom.py) and the synthetic-table generators (sources/) are
not part of it; the cuckoo seen filter is."""

import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

CRAWL_CLOSURE = [
    "pyppeteer_scraper_spark",
    "pyppeteer_scraper_spark.functions",
    "pyppeteer_scraper_spark.functions.canonicalize",
    "pyppeteer_scraper_spark.operators",
    "pyppeteer_scraper_spark.operators.budget",
    "pyppeteer_scraper_spark.operators.cuckoo",
    "pyppeteer_scraper_spark.plans",
    "pyppeteer_scraper_spark.plans.checkpoint",
    "pyppeteer_scraper_spark.plans.evict",
    "pyppeteer_scraper_spark.plans.expire",
    "pyppeteer_scraper_spark.plans.extract",
    "pyppeteer_scraper_spark.plans.round",
    "pyppeteer_scraper_spark.schemas",
]


def test_crawl_import_closure_is_pinned():
    code = (
        "import sys\n"
        "import pyppeteer_scraper_spark.plans.checkpoint\n"
        "import pyppeteer_scraper_spark.plans.evict\n"
        "import pyppeteer_scraper_spark.plans.expire\n"
        "print('\\n'.join(sorted(m for m in sys.modules"
        " if m.split('.')[0] == 'pyppeteer_scraper_spark')))\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", code], cwd=ROOT, check=True,
        capture_output=True, text=True,
    ).stdout.split()
    assert out == CRAWL_CLOSURE
    assert "pyppeteer_scraper_spark.operators.bloom" not in out
    assert "pyppeteer_scraper_spark.plans.queries" not in out
    assert "pyppeteer_scraper_spark.sources.datagen" not in out
