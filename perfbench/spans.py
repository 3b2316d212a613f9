"""Tracing wrappers the traced crawl job installs around the engine's
layer entry points.

The wrappers replace names at their import sites in
``mizzounewscrawler_spark.crawl`` (and five ``LakeTable`` methods on the
class), so the engine runs unmodified.  Each wrapped call records spans:

- a DataFrame-returning call records a ``<layer>.plan`` span around the
  call itself (driver-side plan construction), then persists the result
  and counts it under a ``<layer>.exec`` span, so the Spark stages fused
  into that plan are charged to the layer that owns them (the layer's
  other counts ride on that counting job as observed metrics);
- every other call records one span around the call.

Spark jobs a span triggers carry the span's name as their job
description, which ties the event log's task metrics to the span.  The
description is a thread-local Spark property, so spans opened from the
crawl's staging pool threads tag their own jobs.  Spans and counts stay in
memory until :meth:`Tracer.dump`.
"""

from __future__ import annotations

import functools
import itertools
import json
import os
import threading
import time

from pyspark.sql import Observation
from pyspark.sql import functions as F


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.setup: dict[str, float] = {}
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        self._patches: list[tuple[object, str, object]] = []
        self._persisted: list = []
        self._sc = None

    # -- spans --------------------------------------------------------------

    def setup_times(self, t_session: float, t_read: float) -> None:
        self.setup = {"session_end": t_session, "read_end": t_read}

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def _open(self, name: str) -> dict:
        stack = self._stack()
        span = {
            "id": next(self._ids),
            "parent": stack[-1] if stack else None,
            "name": name,
            "start": time.time(),
            "end": None,
            "counts": {},
        }
        stack.append(span["id"])
        prev = self._sc.getLocalProperty("spark.job.description")
        self._sc.setJobDescription(name)
        span["_prev_desc"] = prev
        return span

    def _close(self, span: dict, **counts) -> None:
        span["end"] = time.time()
        span["counts"].update(counts)
        self._stack().pop()
        self._sc.setLocalProperty("spark.job.description", span.pop("_prev_desc"))
        with self._lock:
            self.spans.append(span)

    # -- wrappers -------------------------------------------------------------

    def _wrap_call(self, name, fn, counter=None):
        """One span around a non-DataFrame call; ``counter(args, result)``
        adds counts to it."""

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            span = self._open(name(args) if callable(name) else name)
            result = None
            try:
                result = fn(*args, **kwargs)
                return result
            finally:
                self._close(span, **(counter(args, result) if counter else {}))

        return wrapper

    def _wrap_df(self, layer, fn, **extra):
        """Plan span around the call, then persist and count the result in
        an exec span.  ``extra`` maps count names to boolean Columns of the
        result; their true-counts are observed by the same counting job,
        so counts cost no job of their own."""

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            span = self._open(f"{layer}.plan")
            try:
                df = fn(*args, **kwargs)
            finally:
                self._close(span)
            span = self._open(f"{layer}.exec")
            counts = {}
            try:
                df = df.persist()
                obs = Observation()
                df.observe(
                    obs,
                    F.count(F.lit(1)).alias("rows"),
                    *(F.sum(cond.cast("long")).alias(k) for k, cond in extra.items()),
                ).count()
                counts = {k: int(v or 0) for k, v in obs.get.items()}
            finally:
                self._close(span, **counts)
            with self._lock:
                self._persisted.append(df)
            return df

        return wrapper

    def _patch(self, owner, attr: str, new) -> None:
        self._patches.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, new)

    def _release(self) -> None:
        """Unpersist the results the exec spans pinned (the crawl releases
        its own wave caches; these would otherwise pile up per wave)."""
        with self._lock:
            pinned, self._persisted = self._persisted, []
        for df in pinned:
            df.unpersist()

    def install(self, spark) -> None:
        from mizzounewscrawler_spark import crawl
        from mizzounewscrawler_spark.lake import LakeTable

        self._sc = spark.sparkContext

        def build_wave(*args, **kwargs):
            self._release()  # the previous wave's pinned results
            return traced_build_wave(*args, **kwargs)

        traced_build_wave = self._wrap_df("scheduler", crawl.build_wave)
        self._patch(crawl, "build_wave", functools.wraps(crawl.build_wave)(build_wave))
        self._patch(
            crawl, "fetch_and_extract", self._wrap_df("extraction", crawl.fetch_and_extract)
        )
        self._patch(
            crawl,
            "with_status",
            self._wrap_df(
                "extraction.status",
                crawl.with_status,
                extracted=F.col("fetch_status") == "extracted",
            ),
        )
        self._patch(
            crawl,
            "discover_candidates",
            self._wrap_df(
                "discover",
                crawl.discover_candidates,
                robots_blocked=~F.col("robots_allowed"),
            ),
        )
        self._patch(
            crawl,
            "bloom_flag",
            self._wrap_df("dedup.flag", crawl.bloom_flag, maybe_seen=F.col("_maybe_seen")),
        )
        self._patch(
            crawl,
            "filter_unseen_flagged",
            self._wrap_df("dedup.filter", crawl.filter_unseen_flagged),
        )
        self._patch(
            crawl,
            "update_host_state",
            self._wrap_df("scheduler.host_state", crawl.update_host_state),
        )
        self._patch(
            crawl,
            "add_hashes",
            self._wrap_call(
                "dedup.bloom_update",
                crawl.add_hashes,
                counter=lambda args, _r: {"hashes": len(args[1])},
            ),
        )

        self._patch(crawl, "build_bloom", self._wrap_call("dedup.bloom_build", crawl.build_bloom))

        def table(args) -> str:
            return os.path.basename(args[0].path.rstrip("/"))

        self._patch(
            LakeTable,
            "stage",
            self._wrap_call(lambda a: f"lake.stage.{table(a)}", LakeTable.stage),
        )
        self._patch(
            LakeTable,
            "commit_staged",
            self._wrap_call(lambda a: f"lake.commit.{table(a)}", LakeTable.commit_staged),
        )
        # read() only plans a scan; its consumers own the scan's work, so
        # it gets a plan-time span and is not materialized
        self._patch(
            LakeTable,
            "read",
            self._wrap_call(lambda a: f"lake.read.{table(a)}", LakeTable.read),
        )
        for method in ("compact_small", "compact"):
            self._patch(
                LakeTable,
                method,
                self._wrap_call(
                    lambda a: f"lake.compact.{table(a)}", getattr(LakeTable, method)
                ),
            )

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()
        self._release()

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"setup": self.setup, "spans": self.spans}, f)
