"""One crawl job: the process whose timings the benchmark observes.

Run as ``python3 perfbench/job.py <spec.json>`` with the repository root on
``PYTHONPATH``.  The spec (written by ``run.py``) names the input tables,
the lake output directory, the Spark sizing and the ``CrawlConfig`` fields.
The job builds a session, reads the three input tables exactly as written,
calls ``run_crawl`` once, and then writes under ``<out>/_bench/``:

- ``returned.json``: written the moment ``run_crawl`` returns (its mtime is
  the job's end as seen from outside), holding when ``run_crawl`` started;
- ``trace.json`` (traced jobs only): spans and counts from ``spans.py``.

Nothing here computes a metric or checks output: ``run.py`` reads the
manifests, the lake tables and these files from outside the process.
"""

from __future__ import annotations

import json
import os
import sys
import time


def main(spec_path: str) -> None:
    with open(spec_path) as f:
        spec = json.load(f)
    bench_dir = os.path.join(spec["out"], "_bench")
    os.makedirs(bench_dir, exist_ok=True)

    tracer = None
    if spec.get("trace"):
        sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
        from spans import Tracer  # perfbench/spans.py

        tracer = Tracer()

    from mizzounewscrawler_spark.session import build_session

    spark = build_session(
        spec["cores"], app_name="perfbench", extra_conf=spec["spark_conf"]
    )
    spark.sparkContext.setLogLevel("ERROR")
    t_session = time.time()
    inputs = spec["inputs"]
    pages = spark.read.parquet(os.path.join(inputs, "pages"))
    seeds = spark.read.parquet(os.path.join(inputs, "seeds"))
    robots = spark.read.parquet(os.path.join(inputs, "robots"))
    t_read = time.time()

    from mizzounewscrawler_spark.crawl import CrawlConfig, run_crawl

    if tracer is not None:
        tracer.setup_times(t_session, t_read)
        tracer.install(spark)
    cfg = CrawlConfig(**spec["config"])
    initial = pages.select("url") if spec["seed_all"] else None
    t_crawl = time.time()
    run_crawl(spark, pages, seeds, robots, spec["out"], cfg, initial_frontier=initial)
    # written whole, then renamed: the parent polls for this file
    tmp = os.path.join(bench_dir, ".returned.json")
    with open(tmp, "w") as f:
        json.dump({"crawl_start": t_crawl}, f)
    os.replace(tmp, os.path.join(bench_dir, "returned.json"))
    if tracer is not None:
        tracer.uninstall()
        tracer.dump(os.path.join(bench_dir, "trace.json"))
    spark.stop()


if __name__ == "__main__":
    main(sys.argv[1])
