"""Workload definitions, generated inputs and the expected outputs.

Each workload's web is made with ``mizzounewscrawler_spark.sources.generator``
from the run's ``--seed`` and written once to parquet under
``.perfbench_work/inputs/<workload>-s<seed>-<key>/``, where ``<key>`` hashes
the workload's parameters and every source file of the package and of the
benchmark: a change to the generator, to a module it imports (the golden
``text`` comes from ``functions/html.py``) or to the simulator makes new
inputs without anyone bumping a tag.  The crawl job reads these tables as
written.

The expected outputs for the output check are computed from the same
generated tables and stored beside them, under the same key.
"""

from __future__ import annotations

import glob
import hashlib
import json
import os
import shutil
from dataclasses import asdict, dataclass, field
from multiprocessing import get_context

PKG = "mizzounewscrawler_spark"


@dataclass(frozen=True)
class Workload:
    name: str
    n_hosts: int
    target_pages: int
    # extra KB of article body per page ($GEN_FILLER_KB, read by the
    # generator at import)
    filler_kb: int
    # True: the whole page store is the seed frontier (seed-all regime);
    # False: homepage + feed seeds, the rest is discovered
    seed_all: bool
    # CrawlConfig fields (everything else keeps the engine's default)
    config: dict = field(default_factory=dict)


WORKLOADS = {
    w.name: w
    for w in (
        # homepage + feed seeds at default politeness: small waves of mostly
        # new links, so fixed per-wave cost, discovery and dedup dominate
        Workload(
            name="discover",
            n_hosts=50,
            target_pages=1500,
            filler_kb=0,
            seed_all=False,
            config={"max_waves": 2},
        ),
        # seed-all on a small web of ~20 KB pages with a wide politeness
        # budget: waves of heavy pages, so extraction and the articles write
        # dominate and fixed per-wave cost is diluted
        Workload(
            name="bulk",
            n_hosts=24,
            target_pages=1200,
            filler_kb=16,
            seed_all=True,
            config={"max_waves": 2, "max_per_host": 20, "wave_duration": 600.0},
        ),
    )
}


def source_hash() -> str:
    """Hash of every ``.py`` file of the package and of the benchmark."""
    h = hashlib.sha256()
    for root in (PKG, os.path.dirname(os.path.abspath(__file__))):
        for path in sorted(glob.glob(os.path.join(root, "**", "*.py"), recursive=True)):
            h.update(os.path.relpath(path, root).encode())
            with open(path, "rb") as f:
                h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def input_dir(work: str, wl: Workload, seed: int) -> str:
    key = hashlib.sha256(
        (source_hash() + json.dumps(asdict(wl), sort_keys=True)).encode()
    ).hexdigest()[:12]
    return os.path.join(work, "inputs", f"{wl.name}-s{seed}-{key}")


# -- generation -----------------------------------------------------------------


def _host_pages(args):
    """Pool task: all pages of one host (runs in a forked worker, with the
    generator the parent imported under the workload's $GEN_FILLER_KB)."""
    from mizzounewscrawler_spark.sources.generator import HostSpec, gen_host_pages_range

    spec_fields, seed = args
    spec = HostSpec(**spec_fields)
    return gen_host_pages_range(spec, seed, 0, spec.n_articles)


def _write(df, path: str, parts: int = 1) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(path, exist_ok=True)
    table = pa.Table.from_pandas(df, preserve_index=False)
    step = -(-table.num_rows // parts)
    for i in range(parts):
        pq.write_table(
            table.slice(i * step, step),
            os.path.join(path, f"part-{i:05d}.parquet"),
            coerce_timestamps="us",
        )


def generate(wl: Workload, seed: int, dest: str, procs: int) -> None:
    """Generate the workload's web into ``dest`` (pages / seeds / robots
    parquet) with ``procs`` forked generator processes."""
    import pandas as pd

    # the generator reads $GEN_FILLER_KB once, at import
    os.environ["GEN_FILLER_KB"] = str(wl.filler_kb)
    from mizzounewscrawler_spark.sources import generator

    if generator._FILLER_KB != wl.filler_kb:
        raise RuntimeError("the generator was imported before $GEN_FILLER_KB was set")
    specs = generator.make_host_specs(seed, wl.n_hosts, wl.target_pages)
    # biggest hosts first so the Zipf head does not finish last
    tasks = [(asdict(s), seed) for s in sorted(specs, key=lambda s: -s.n_articles)]
    # forked, not spawned: the workers inherit the generator as imported
    # here, and a fork pool starts no resource-tracker process that would
    # outlive the run
    with get_context("fork").Pool(procs) as pool:
        rows = [r for host_rows in pool.map(_host_pages, tasks, chunksize=1) for r in host_rows]
    pages = pd.DataFrame(rows).sort_values("url", ignore_index=True)
    # timezone-aware so parquet stores an instant (Spark TimestampType)
    pages["warc_ts"] = pages["warc_ts"].dt.tz_localize("UTC")
    seeds, robots = generator._seeds_robots(specs)
    tmp = dest + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    _write(pages, os.path.join(tmp, "pages"), parts=procs * 2)
    _write(seeds, os.path.join(tmp, "seeds"))
    _write(robots, os.path.join(tmp, "robots"))
    os.replace(tmp, dest)


def ensure_inputs(work: str, wl: Workload, seed: int, procs: int) -> str:
    dest = input_dir(work, wl, seed)
    if not os.path.isdir(dest):
        generate(wl, seed, dest, procs)
    return dest


# -- expected outputs -------------------------------------------------------------


def expected(wl: Workload, inputs: str) -> dict:
    """What the crawl must produce on these inputs, cached beside them.

    - ``discover``: the sequential simulator's URL-seen set and per-URL
      (status, content_hash), on the same inputs and config.
    - seed-all workloads: url_seen = the store's canonical URL set, and the
      golden sha256 of each page's ``text`` by canonical URL."""
    from mizzounewscrawler_spark.functions.urls import surt

    path = os.path.join(inputs, "expected.json")
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f)
    import pandas as pd

    pages, seeds, robots = (
        pd.read_parquet(os.path.join(inputs, name)) for name in ("pages", "seeds", "robots")
    )
    if wl.seed_all:
        out = {
            "seen": sorted({surt(u) for u in pages["url"]}),
            "golden": {
                surt(u): hashlib.sha256(t.encode("utf-8")).hexdigest()
                for u, t in zip(pages["url"], pages["text"])
            },
        }
    else:
        from mizzounewscrawler_spark.simulator import simulate_crawl

        cfg = wl.config
        pages["warc_ts"] = pages["warc_ts"].dt.tz_localize(None)
        sim = simulate_crawl(
            pages,
            seeds,
            robots,
            max_waves=cfg["max_waves"],
            **{k: cfg[k] for k in ("max_per_host", "wave_duration") if k in cfg},
        )
        out = {
            "seen": sorted(sim.seen),
            "articles": {u: list(v) for u, v in sim.articles.items()},
        }
    with open(path + ".tmp", "w") as f:
        json.dump(out, f)
    os.replace(path + ".tmp", path)
    return out
