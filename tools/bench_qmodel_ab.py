"""A/B microbench (round 6): does Catalyst/codegen subexpression
elimination already share the gram/bucket subtrees that
``quality_model_score`` repeats across its three returned columns —
or do n_grams / score_raw / score each re-tokenize and re-hash?

Variant A = the Column form (``quality_model_score``; a query selects
all three columns from one dict).  Variant B = the staged DataFrame
form ``quality_model_scored``: toks → grams → raw/n → score, each
referenced by column.  Outputs must be row-identical; only evaluation
count may differ.

Usage: python tools/bench_qmodel_ab.py [sf_dir] [reps]
"""

from __future__ import annotations

import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import functions as F  # noqa: E402


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    reps = int(sys.argv[2]) if len(sys.argv) > 2 else 3

    from pyppeteer_scraper_spark.session import get_spark
    from pyppeteer_scraper_spark.sources.tables import load_table
    from pyppeteer_scraper_spark.functions.classifier import (
        quality_model_score,
        quality_model_scored,
    )

    spark = get_spark("qmodel_ab", cores=os.environ.get("SPARK_GRAFT_CPUS", "32"))
    docs = load_table(spark, sf_dir, "documents")

    def force(df):
        df.write.format("noop").mode("overwrite").save()

    # --- A: Column form, one projection --------------------------------
    def variant_a():
        cols = quality_model_score(F.col("text"))
        return docs.select(
            "doc_id",
            cols["n_grams"].alias("n_grams"),
            cols["score_raw"].alias("score_raw"),
            cols["score"].alias("score"),
        )

    # --- B: the shipped staged form ------------------------------------
    def variant_b():
        return quality_model_scored(docs, carry=("doc_id",))

    # warm-up
    force(docs.select("doc_id").limit(10))

    out = {}
    for name, fn in (("A_one_projection", variant_a), ("B_staged", variant_b)):
        times = []
        for r in range(reps):
            spark.sparkContext.setJobDescription(f"qmodel {name} rep{r}")
            t0 = time.time()
            force(fn())
            times.append(round(time.time() - t0, 3))
        out[name] = times

    # equality check: exceptAll both ways must be empty
    a, b = variant_a(), variant_b()
    diff = a.exceptAll(b).count() + b.exceptAll(a).count()
    out["rows_differ"] = diff
    print(out)


if __name__ == "__main__":
    main()
