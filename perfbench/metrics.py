"""Pure metric arithmetic: manifest-mtime waves, end-to-end metrics, span
self time and per-layer aggregation.

Every function here takes plain data (lists, dicts, numbers) so the tests
in ``perfbench/tests`` can check it on small fixed inputs without Spark.
"""

from __future__ import annotations

import glob
import json
import os
import re
import statistics

# -- frontier manifests -------------------------------------------------------


def read_manifests(table_dir: str) -> list[tuple[float, dict]]:
    """(mtime, manifest) of every snapshot manifest of a lake table, in
    version order; each manifest also carries its ``version``."""
    out = []
    for path in sorted(glob.glob(os.path.join(table_dir, "snapshots", "v*.json"))):
        with open(path) as f:
            manifest = json.load(f)
        manifest["version"] = int(os.path.basename(path)[1:-5])
        out.append((os.path.getmtime(path), manifest))
    return out


def read_commits(table_dir: str) -> list[tuple[float, dict]]:
    """(mtime, summary) of every snapshot manifest of a lake table."""
    return [(m, d.get("summary", {})) for m, d in read_manifests(table_dir)]


def wave_ends(commits: list[tuple[float, dict]]) -> dict[int, float]:
    """Wave index → time its last frontier commit landed.

    A compaction commit carries its wave's summary, so it belongs to that
    wave: the wave ends when the compaction lands, not at the checkpoint
    before it.  Wave -1 is the seed checkpoint."""
    ends: dict[int, float] = {}
    for mtime, summary in commits:
        if "wave" in summary:
            w = int(summary["wave"])
            ends[w] = max(mtime, ends.get(w, mtime))
    return ends


def wave_intervals(ends: dict[int, float]) -> dict[int, float]:
    """Wave index (≥ 0) → seconds from the previous wave's end (the seed
    checkpoint for wave 0) to its own end."""
    order = sorted(ends)
    return {
        w: ends[w] - ends[prev]
        for prev, w in zip(order, order[1:])
        if w >= 0
    }


def checkpoint_summaries(commits: list[tuple[float, dict]]) -> dict[int, dict]:
    """Wave index (≥ 0) → the checkpoint summary (compaction copies are
    skipped so no wave counts twice)."""
    return {
        int(s["wave"]): s
        for _, s in commits
        if s.get("wave", -1) >= 0 and not s.get("compaction")
    }


# -- end-to-end metrics -------------------------------------------------------


def end_to_end(
    t_start: float,
    t_returned: float,
    commits: list[tuple[float, dict]],
    extracted_per_wave: dict[int, int],
    python_mem_mb: float,
) -> dict[str, float]:
    """The benchmark's end-to-end metrics for one crawl job.

    ``t_start`` is when the job process was started; ``t_returned`` when
    ``run_crawl`` returned (mtime of the job's marker file).  Waves ≥ 1 are
    the steady-state waves."""
    ends = wave_ends(commits)
    if -1 not in ends or 0 not in ends:
        raise ValueError("job committed no seed checkpoint or no wave 0")
    iv = wave_intervals(ends)
    steady = [w for w in sorted(iv) if w >= 1]
    if not steady:
        raise ValueError("job committed no steady-state wave (wave >= 1)")
    cps = checkpoint_summaries(commits)
    steady_s = sum(iv[w] for w in steady)
    urls = sum(cps[w]["scheduled"] + cps[w]["deduped"] for w in steady)
    articles = sum(extracted_per_wave.get(w, 0) for w in steady)
    return {
        "urls_per_s": urls / steady_s,
        "articles_per_s": articles / steady_s,
        "wave_p50_s": statistics.median(iv[w] for w in steady),
        "first_wave_s": iv[0],
        "setup_s": ends[-1] - t_start,
        "job_s": t_returned - t_start,
        "python_mem_mb": python_mem_mb,
    }


def peak_heap_mb(gc_log: str) -> int:
    """Largest heap occupancy after a collection in a JVM ``-Xlog:gc`` log
    (``Pause Young ... 512M->190M(676M)``, or ``Pause Full``).  G1's
    ``Pause Remark`` and ``Pause Cleanup`` lines are left out: they free
    nothing and only report the occupancy at that moment.  The JVM's
    resident size is no measure of the program: it follows how far the
    collector grew the heap, up to its cap."""
    return max(
        (int(m) for m in re.findall(r"Pause (?:Young|Full)\b.*?\d+M->(\d+)M\(", gc_log)),
        default=0,
    )


def wave_counters(commits: list[tuple[float, dict]]) -> dict[int, tuple[int, int, int]]:
    """Wave → (scheduled, deduped, admitted): the counters the traced run
    must reproduce exactly."""
    return {
        w: (s["scheduled"], s["deduped"], s["admitted"])
        for w, s in checkpoint_summaries(commits).items()
    }


def median_of_jobs(per_job: list[dict[str, float]]) -> dict[str, float]:
    """Per-metric median over the jobs of one run."""
    return {k: statistics.median(j[k] for j in per_job) for k in per_job[0]}


# -- spans ----------------------------------------------------------------------


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    clipped = sorted(
        (max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi
    )
    total = 0.0
    cur_a = cur_b = None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id → its duration minus the part its child spans cover.

    Children may overlap each other (spans opened from concurrent driver
    threads share a parent), so the covered part is their union, not
    their sum."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.get("parent") is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {
        s["id"]: (s["end"] - s["start"])
        - covered(children.get(s["id"], []), s["start"], s["end"])
        for s in spans
    }


def assign_waves(spans: list[dict], ends: dict[int, float]) -> None:
    """Tag each span with the wave whose interval holds its start: wave -1
    up to the seed checkpoint, wave w up to its end, and the last wave
    for anything after (the job's tail)."""
    order = sorted(ends)
    for s in spans:
        s["wave"] = next((w for w in order if s["start"] < ends[w]), order[-1])


# -- Spark event log ---------------------------------------------------------


def _lines(paths: list[str]):
    for path in paths:
        with open(path) as f:
            yield from f


def parse_event_log(paths: list[str]) -> dict:
    """Jobs (description, submit/end s) and tasks (job description, launch
    /finish s, run/gc s, shuffle/spill bytes, Python bytes sent, failed)
    from an uncompressed Spark event log, given as its files in order."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    tasks = []
    for line in _lines(paths):
        if '"SparkListenerJob' not in line[:40] and '"SparkListenerTaskEnd"' not in line[:40]:
            continue
        e = json.loads(line)
        ev = e["Event"]
        if ev == "SparkListenerJobStart":
            desc = (e.get("Properties") or {}).get("spark.job.description")
            jobs[e["Job ID"]] = {
                "desc": desc or "untagged",
                "start": e["Submission Time"] / 1000.0,
                "end": None,
            }
            for sid in e["Stage IDs"]:
                stage_job[sid] = e["Job ID"]
        elif ev == "SparkListenerJobEnd":
            jobs[e["Job ID"]]["end"] = e["Completion Time"] / 1000.0
        elif ev == "SparkListenerTaskEnd":
            ti, tm = e["Task Info"], e.get("Task Metrics") or {}
            sent = sum(
                int(a.get("Update", 0))
                for a in ti.get("Accumulables", [])
                if a.get("Name") == "data sent to Python workers"
            )
            job = jobs.get(stage_job.get(e["Stage ID"], -1), {})
            tasks.append(
                {
                    "desc": job.get("desc", "untagged"),
                    "launch": ti["Launch Time"] / 1000.0,
                    "finish": ti["Finish Time"] / 1000.0,
                    "run_s": tm.get("Executor Run Time", 0) / 1000.0,
                    "gc_s": tm.get("JVM GC Time", 0) / 1000.0,
                    "shuffle_write_b": (tm.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0
                    ),
                    "spill_b": tm.get("Disk Bytes Spilled", 0),
                    "py_sent_b": sent,
                    "failed": bool(ti.get("Failed")),
                }
            )
    return {"jobs": list(jobs.values()), "tasks": tasks}


def task_skew(durations: list[float]) -> float:
    """Longest task ÷ median task (1.0 = perfectly even; 0 with no tasks)."""
    if not durations:
        return 0.0
    med = statistics.median(durations)
    return max(durations) / med if med > 0 else 1.0


# -- per-layer metrics (traced run) -------------------------------------------

LAKE_TABLES = ("articles", "url_seen", "frontier", "host_state", "order_log")
# the tracer's own materializing jobs: left out of the job count, since
# without tracing their work runs inside the program's later jobs
EXEC_SUFFIX = ".exec"


def _wave_layer(
    w: int,
    lo: float,
    hi: float,
    spans: list[dict],
    events: dict,
    tables: dict[str, list[tuple[float, dict]]],
    cores: int,
) -> dict[str, float]:
    """Per-layer values of one wave, whose interval is [lo, hi]."""
    ws = [s for s in spans if s["wave"] == w]

    def dur(prefix: str, exact: bool = True) -> float:
        return sum(
            s["end"] - s["start"]
            for s in ws
            if (s["name"] == prefix if exact else s["name"].startswith(prefix))
        )

    def count(name: str, key: str) -> int:
        return sum(s["counts"].get(key) or 0 for s in ws if s["name"] == name)

    def tasks(desc: str) -> list[dict]:
        return [t for t in events["tasks"] if t["desc"] == desc and lo <= t["launch"] < hi]

    wave_tasks = [t for t in events["tasks"] if lo <= t["launch"] < hi]
    jobs = [j for j in events["jobs"] if lo <= j["start"] < hi]
    job_iv = [(j["start"], j["end"] or hi) for j in events["jobs"]]

    cand = count("dedup.flag.exec", "rows")
    maybe = count("dedup.flag.exec", "maybe_seen")
    admitted = count("dedup.filter.exec", "rows")
    # the frontier the wave was scheduled from, as its checkpoint records it
    rows_in = checkpoint_summaries(
        [(m, d["summary"]) for m, d in tables["frontier"]]
    ).get(w, {}).get("frontier", 0)
    rows_out = count("scheduler.exec", "rows")
    ext_rows = count("extraction.exec", "rows")
    sched_tasks = tasks("scheduler.exec")
    ext_tasks = tasks("extraction.exec")

    out = {
        "crawl.plan_s": sum(s["end"] - s["start"] for s in ws if s["name"].endswith(".plan")),
        "crawl.jobs_per_wave": sum(1 for j in jobs if not j["desc"].endswith(EXEC_SUFFIX)),
        "crawl.driver_gap_s": (hi - lo) - covered(job_iv, lo, hi),
        # the wave loop's own driver time: the wave minus its layer spans
        "crawl.self_s": (hi - lo)
        - covered([(s["start"], s["end"]) for s in ws if s["parent"] is None], lo, hi),
        "scheduler.exec_s": dur("scheduler.exec"),
        "scheduler.rows_in": rows_in,
        "scheduler.rows_out": rows_out,
        "scheduler.rows_per_url": rows_in / rows_out if rows_out else 0.0,
        "scheduler.shuffle_mb": sum(t["shuffle_write_b"] for t in sched_tasks) / 1e6,
        "scheduler.task_skew": task_skew([t["finish"] - t["launch"] for t in sched_tasks]),
        "scheduler.host_state_s": dur("scheduler.host_state.exec"),
        "extraction.exec_s": dur("extraction.exec") + dur("extraction.status.exec"),
        "extraction.rows": ext_rows,
        "extraction.html_mb": sum(t["py_sent_b"] for t in ext_tasks) / 1e6,
        "extraction.ok_ratio": (
            count("extraction.status.exec", "extracted") / ext_rows if ext_rows else 0.0
        ),
        "extraction.task_skew": task_skew([t["finish"] - t["launch"] for t in ext_tasks]),
        "discover.exec_s": dur("discover.exec"),
        "discover.links_out": count("discover.exec", "rows"),
        "discover.robots_blocked": count("discover.exec", "robots_blocked"),
        "dedup.flag_s": dur("dedup.flag.exec"),
        "dedup.candidates": cand,
        "dedup.maybe_seen_ratio": maybe / cand if cand else 0.0,
        # Bloom positives the exact check found new: admitted rows minus
        # the Bloom-negative (definitely new) ones
        "dedup.fp_ratio": (admitted - (cand - maybe)) / maybe if maybe else 0.0,
        "dedup.filter_s": dur("dedup.filter.exec"),
        "dedup.admitted": admitted,
        "dedup.bloom_update_s": dur("dedup.bloom_update"),
        "lake.commit_s": dur("lake.commit.", exact=False),
        "lake.read_s": dur("lake.read.", exact=False),
        "lake.compact_s": dur("lake.compact.", exact=False),
        "spark.executor_run_s": sum(t["run_s"] for t in wave_tasks),
        "spark.cpu_util": sum(t["run_s"] for t in wave_tasks) / ((hi - lo) * cores),
        "spark.gc_s": sum(t["gc_s"] for t in wave_tasks),
        "spark.shuffle_write_mb": sum(t["shuffle_write_b"] for t in wave_tasks) / 1e6,
        "spark.spill_mb": sum(t["spill_b"] for t in wave_tasks) / 1e6,
        "spark.task_failures": sum(1 for t in wave_tasks if t["failed"]),
    }
    for name in LAKE_TABLES:
        out[f"lake.stage_s.{name}"] = dur(f"lake.stage.{name}")
    written = [
        f
        for commits in tables.values()
        for mtime, m in commits
        if lo < mtime <= hi
        for f in m.get("files", [])
    ]
    out["lake.written_mb"] = sum(f["bytes"] for f in written) / 1e6
    out["lake.files_written"] = len(written)
    live = pending = 0
    for name, commits in tables.items():
        at_end = [m for mtime, m in commits if mtime <= hi]
        if not at_end:
            continue
        live += len(at_end[-1].get("live_versions", []))
        if name == "frontier":
            dels = set(at_end[-1].get("delete_versions", []))
            pending += sum(
                f["rows"] for m in at_end if m["version"] in dels for f in m.get("delete_files", [])
            )
    out["lake.live_versions"] = live
    out["lake.pending_delete_rows"] = pending
    return out


def per_layer(
    trace: dict,
    events: dict,
    tables: dict[str, list[tuple[float, dict]]],
    t_start: float,
    crawl_start: float,
    cores: int,
) -> tuple[dict[str, float], list[dict]]:
    """Per-layer metrics of one traced job: the median over steady-state
    waves of each per-wave value, plus the set-up split.

    ``tables`` maps each lake table to its (mtime, manifest) list, where a
    manifest also carries its ``version``.  Returns the metrics and the
    per-wave rows they were taken from."""
    spans = trace["spans"]
    ends = wave_ends([(m, d["summary"]) for m, d in tables["frontier"]])
    assign_waves(spans, ends)
    by_id = {s["id"]: s for s in spans}
    for sid, self_s in self_times(spans).items():
        by_id[sid]["self_s"] = self_s
    order = sorted(ends)
    rows = []
    for prev, w in zip(order, order[1:]):
        row = _wave_layer(w, ends[prev], ends[w], spans, events, tables, cores)
        rows.append({"wave": w, **row})
    steady = [r for r in rows if r["wave"] >= 1]
    metrics = {k: statistics.median(r[k] for r in steady) for k in steady[0] if k != "wave"}
    # the job's one Bloom build over the seeded url_seen, paid in wave 0
    metrics["dedup.bloom_build_s"] = sum(
        s["end"] - s["start"] for s in spans if s["name"] == "dedup.bloom_build"
    )
    setup = trace["setup"]
    metrics["setup.session_s"] = setup["session_end"] - t_start
    metrics["setup.input_read_s"] = setup["read_end"] - setup["session_end"]
    metrics["setup.seed_s"] = ends[-1] - crawl_start
    return metrics, rows
