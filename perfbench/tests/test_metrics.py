"""Checks of the benchmark's own arithmetic on small fixed inputs.

Run with ``python3 -m pytest perfbench/tests -q`` from the repository root;
no Spark session is started.
"""

from __future__ import annotations

import json
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import metrics  # noqa: E402


def span(sid, name, start, end, parent=None, **counts):
    return {"id": sid, "parent": parent, "name": name, "start": start, "end": end, "counts": counts}


# -- intervals and self time ---------------------------------------------------


def test_covered_unions_overlaps_and_clips():
    assert metrics.covered([(0, 2), (1, 3), (5, 6)], 0, 10) == 4
    assert metrics.covered([(0, 2), (1, 3), (5, 6)], 1.5, 5.5) == pytest.approx(2.0)
    assert metrics.covered([], 0, 1) == 0
    assert metrics.covered([(2, 3)], 0, 1) == 0


def test_self_time_subtracts_union_of_children():
    spans = [
        span(1, "parent", 0.0, 10.0),
        # two concurrent children overlap on [3, 4]: covered = [2, 6] = 4 s
        span(2, "a", 2.0, 4.0, parent=1),
        span(3, "b", 3.0, 6.0, parent=1),
        # grandchild counts against its own parent only
        span(4, "c", 3.5, 5.0, parent=3),
    ]
    st = metrics.self_times(spans)
    assert st[1] == pytest.approx(6.0)
    assert st[2] == pytest.approx(2.0)
    assert st[3] == pytest.approx(1.5)
    assert st[4] == pytest.approx(1.5)


# -- manifest waves --------------------------------------------------------------

COMMITS = [
    (100.0, {"wave": -1, "frontier": 10}),
    (130.0, {"wave": 0, "scheduled": 10, "deduped": 40, "admitted": 35}),
    (142.0, {"wave": 1, "scheduled": 30, "deduped": 20, "admitted": 18}),
    # compaction commit: a copy of wave 1's summary that lands later
    (144.0, {"wave": 1, "scheduled": 30, "deduped": 20, "admitted": 18, "compaction": True}),
    (154.0, {"wave": 2, "scheduled": 25, "deduped": 5, "admitted": 5}),
    # maintenance commit without a wave key is ignored
    (155.0, {"operation": "merge"}),
]


def test_compaction_commit_extends_its_wave():
    ends = metrics.wave_ends(COMMITS)
    assert ends == {-1: 100.0, 0: 130.0, 1: 144.0, 2: 154.0}
    assert metrics.wave_intervals(ends) == {0: 30.0, 1: 14.0, 2: 10.0}


def test_checkpoint_summaries_skip_compaction_copies():
    cps = metrics.checkpoint_summaries(COMMITS)
    assert sorted(cps) == [0, 1, 2]
    assert not cps[1].get("compaction")
    assert metrics.wave_counters(COMMITS) == {0: (10, 40, 35), 1: (30, 20, 18), 2: (25, 5, 5)}


def test_end_to_end_definitions():
    e2e = metrics.end_to_end(
        t_start=90.0,
        t_returned=160.0,
        commits=COMMITS,
        extracted_per_wave={0: 7, 1: 12, 2: 6},
        python_mem_mb=512.0,
    )
    # steady waves 1 and 2: (30+20) + (25+5) URLs over 14 + 10 s
    assert e2e["urls_per_s"] == pytest.approx(80 / 24)
    assert e2e["articles_per_s"] == pytest.approx(18 / 24)
    assert e2e["wave_p50_s"] == pytest.approx(12.0)
    assert e2e["first_wave_s"] == pytest.approx(30.0)
    assert e2e["setup_s"] == pytest.approx(10.0)
    assert e2e["job_s"] == pytest.approx(70.0)
    assert e2e["python_mem_mb"] == 512.0


def test_end_to_end_needs_a_steady_wave():
    with pytest.raises(ValueError):
        metrics.end_to_end(0.0, 1.0, COMMITS[:2], {}, 1.0)


def test_peak_heap_is_the_largest_occupancy_after_a_collection():
    log = (
        "[0.004s][info][gc] Using G1\n"
        "[0.251s][info][gc] GC(0) Pause Young (Normal) (G1 Evacuation Pause) 20M->17M(254M) 7.3ms\n"
        "[2.669s][info][gc] GC(4) Concurrent Mark Cycle\n"
        "[2.685s][info][gc] GC(4) Pause Remark 29M->29M(110M) 2.7ms\n"
        "[40.11s][info][gc] GC(60) Pause Remark 663M->663M(2048M) 3.2ms\n"
        "[40.12s][info][gc] GC(60) Pause Cleanup 665M->665M(2048M) 0.3ms\n"
        "[45.43s][info][gc] GC(69) Pause Young (Concurrent Start) (G1 Humongous Allocation) "
        "1493M->398M(1907M) 60.2ms\n"
    )
    assert metrics.peak_heap_mb(log) == 398
    full = "[50.02s][info][gc] GC(71) Pause Full (System.gc()) 700M->420M(2048M) 301.5ms\n"
    assert metrics.peak_heap_mb(log + full) == 420
    assert metrics.peak_heap_mb("[0.004s][info][gc] Using G1\n") == 0


def test_median_of_jobs():
    jobs = [{"a": 1.0, "b": 5.0}, {"a": 3.0, "b": 4.0}, {"a": 2.0, "b": 9.0}]
    assert metrics.median_of_jobs(jobs) == {"a": 2.0, "b": 5.0}


def test_assign_waves_by_start_time():
    spans = [span(1, "x", 95.0, 96.0), span(2, "y", 120.0, 131.0), span(3, "z", 150.0, 151.0)]
    metrics.assign_waves(spans, {-1: 100.0, 0: 130.0, 1: 140.0})
    assert [s["wave"] for s in spans] == [-1, 0, 1]


def test_task_skew():
    assert metrics.task_skew([1.0, 1.0, 4.0]) == 4.0
    assert metrics.task_skew([]) == 0.0


# -- event log and per-layer metrics -------------------------------------------------


def _event_log(tmp_path):
    def job_start(jid, t, desc, stages):
        return {
            "Event": "SparkListenerJobStart",
            "Job ID": jid,
            "Submission Time": t,
            "Stage IDs": stages,
            "Properties": {"spark.job.description": desc} if desc else {},
        }

    def task(stage, launch, finish, run, sent=0, shuffle=0):
        return {
            "Event": "SparkListenerTaskEnd",
            "Stage ID": stage,
            "Task Info": {
                "Launch Time": launch,
                "Finish Time": finish,
                "Failed": False,
                "Accumulables": [{"Name": "data sent to Python workers", "Update": str(sent)}],
            },
            "Task Metrics": {
                "Executor Run Time": run,
                "JVM GC Time": 10,
                "Disk Bytes Spilled": 0,
                "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle},
            },
        }

    events = [
        job_start(0, 131_000, "scheduler.exec", [0]),
        task(0, 131_100, 131_600, 400, shuffle=2_000_000),
        task(0, 131_100, 132_100, 900, shuffle=1_000_000),
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 132_200},
        job_start(1, 133_000, "extraction.exec", [1]),
        task(1, 133_000, 135_000, 2000, sent=3_000_000),
        {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 135_000},
        job_start(2, 136_000, "lake.stage.url_seen", [2]),
        {"Event": "SparkListenerJobEnd", "Job ID": 2, "Completion Time": 136_500},
        job_start(3, 137_000, None, [3]),
        {"Event": "SparkListenerJobEnd", "Job ID": 3, "Completion Time": 138_000},
    ]
    a, b = tmp_path / "events_1_app", tmp_path / "events_2_app"
    a.write_text("".join(json.dumps(e) + "\n" for e in events[:5]))
    b.write_text("".join(json.dumps(e) + "\n" for e in events[5:]))
    return metrics.parse_event_log([str(a), str(b)])


def test_parse_event_log_tags_tasks_with_job_description(tmp_path):
    ev = _event_log(tmp_path)
    assert [j["desc"] for j in ev["jobs"]] == [
        "scheduler.exec",
        "extraction.exec",
        "lake.stage.url_seen",
        "untagged",
    ]
    assert [t["desc"] for t in ev["tasks"]] == ["scheduler.exec"] * 2 + ["extraction.exec"]
    assert ev["tasks"][2]["py_sent_b"] == 3_000_000
    assert ev["tasks"][1]["run_s"] == pytest.approx(0.9)


def _manifest(version, summary, live=(), deletes=(), files=(), delete_files=()):
    return {
        "version": version,
        "summary": summary,
        "live_versions": list(live),
        "delete_versions": list(deletes),
        "files": [{"rows": r, "bytes": b} for r, b in files],
        "delete_files": [{"rows": r, "bytes": b} for r, b in delete_files],
    }


def test_per_layer_on_one_steady_wave(tmp_path):
    events = _event_log(tmp_path)
    tables = {
        "frontier": [
            (100.0, _manifest(0, {"wave": -1}, live=[0], files=[(10, 1000)])),
            (130.0, _manifest(1, {"wave": 0}, live=[0, 1], deletes=[1], delete_files=[(10, 50)])),
            (140.0, _manifest(2, {"wave": 1, "frontier": 60}, live=[0, 1, 2], deletes=[1, 2],
                              files=[(3, 2_000_000)], delete_files=[(4, 50)])),
        ],
        "url_seen": [
            (100.0, _manifest(0, {"wave": -1}, live=[0])),
            (139.0, _manifest(1, {"wave": 1}, live=[0, 1], files=[(5, 500_000), (5, 500_000)])),
        ],
    }
    spans = [
        span(2, "scheduler.plan", 130.5, 131.0),
        span(3, "scheduler.exec", 131.0, 132.3, rows=20),
        span(4, "extraction.plan", 132.3, 132.5),
        span(5, "extraction.exec", 132.9, 135.1, rows=20),
        span(6, "extraction.status.exec", 135.1, 135.3, rows=20, extracted=15),
        span(7, "dedup.flag.exec", 135.3, 136.0, rows=50, maybe_seen=40),
        span(9, "dedup.filter.exec", 136.6, 136.9, rows=12),
        span(10, "lake.compact.url_seen", 137.0, 138.5),
        span(11, "lake.stage.url_seen", 137.2, 138.2, parent=10),
        span(12, "lake.commit.frontier", 139.9, 140.0),
        span(13, "dedup.bloom_build", 100.5, 102.5),
    ]
    trace = {"setup": {"session_end": 95.0, "read_end": 96.0}, "spans": spans}
    m, rows = metrics.per_layer(trace, events, tables, t_start=90.0, crawl_start=97.0, cores=4)
    assert [r["wave"] for r in rows] == [0, 1]
    assert m["crawl.plan_s"] == pytest.approx(0.7)
    # the tracer's own materializing jobs (.exec) are left out of the count
    assert m["crawl.jobs_per_wave"] == 2
    # jobs cover [131, 132.2] + [133, 135] + [136, 136.5] + [137, 138] of [130, 140]
    assert m["crawl.driver_gap_s"] == pytest.approx(10 - 4.7)
    assert m["scheduler.rows_in"] == 60 and m["scheduler.rows_out"] == 20
    assert m["scheduler.rows_per_url"] == pytest.approx(3.0)
    assert m["scheduler.shuffle_mb"] == pytest.approx(3.0)
    assert m["scheduler.task_skew"] == pytest.approx(1.0 / 0.75)
    assert m["extraction.html_mb"] == pytest.approx(3.0)
    assert m["extraction.ok_ratio"] == pytest.approx(0.75)
    # 50 candidates, 40 Bloom positives, 10 definitely new; 12 admitted ->
    # 2 of the 40 positives were false
    assert m["dedup.maybe_seen_ratio"] == pytest.approx(0.8)
    assert m["dedup.fp_ratio"] == pytest.approx(2 / 40)
    assert m["lake.stage_s.url_seen"] == pytest.approx(1.0)
    assert m["lake.compact_s"] == pytest.approx(1.5)
    assert m["lake.written_mb"] == pytest.approx(3.0)
    assert m["lake.files_written"] == 3
    assert m["lake.live_versions"] == 5
    assert m["lake.pending_delete_rows"] == 14
    assert m["spark.executor_run_s"] == pytest.approx(3.3)
    assert m["spark.cpu_util"] == pytest.approx(3.3 / 40)
    assert m["setup.session_s"] == pytest.approx(5.0)
    assert m["setup.input_read_s"] == pytest.approx(1.0)
    assert m["setup.seed_s"] == pytest.approx(3.0)
    assert m["dedup.bloom_build_s"] == pytest.approx(2.0)
    # the compaction's own time excludes the stage it wraps
    assert next(s for s in spans if s["id"] == 10)["self_s"] == pytest.approx(0.5)


# -- reading the lake and checking output ---------------------------------------------


def _lake_table(root, versions, deletes, key="url_hash"):
    """A lake table dir with one manifest over ``versions`` (version ->
    rows) and merge-on-read ``deletes`` (version -> keys)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    for v, rows in versions.items():
        os.makedirs(root / "data" / f"v{v:06d}")
        pq.write_table(pa.Table.from_pylist(rows), root / "data" / f"v{v:06d}" / "part-0.parquet")
    for v, keys in deletes.items():
        os.makedirs(root / "deletes" / f"v{v:06d}")
        pq.write_table(
            pa.table({key: pa.array(keys, pa.int64())}),
            root / "deletes" / f"v{v:06d}" / "part-0.parquet",
        )
    os.makedirs(root / "snapshots")
    top = max([*versions, *deletes])
    (root / "snapshots" / f"v{top:06d}.json").write_text(
        json.dumps(
            {
                "summary": {"wave": 0},
                "live_versions": sorted(versions),
                "delete_versions": sorted(deletes),
                "delete_key_col": key if deletes else "",
            }
        )
    )


def test_read_table_applies_deletes(tmp_path):
    import run

    _lake_table(
        tmp_path,
        {0: [{"url_hash": 1, "url": "a"}, {"url_hash": 2, "url": "b"}], 1: [{"url_hash": 3, "url": "c"}]},
        {1: [2]},
    )
    df = run.read_table(str(tmp_path), ["url"])
    assert sorted(df["url"]) == ["a", "c"]
    assert list(df.columns) == ["url"]


def test_check_flags_wrong_hash_and_missing_url(tmp_path):
    import run

    from mizzounewscrawler_spark.functions.urls import surt

    urls = ["https://www.a.test/x.html", "https://www.a.test/y.html"]
    def job(seen_urls, first_hash):
        out = tmp_path / first_hash
        _lake_table(out / "url_seen", {0: [{"url_surt": surt(u)} for u in seen_urls]}, {})
        articles = [
            {"url": urls[0], "status": "extracted", "content_hash": first_hash},
            {"url": urls[1], "status": "failed", "content_hash": None},
        ]
        _lake_table(out / "articles", {0: articles}, {})
        return {"out": str(out)}

    want = {"seen": [surt(u) for u in urls], "golden": {surt(u): "good" for u in urls}}
    wl = run.inputs.WORKLOADS["bulk"]
    problems = run.check(wl, job(urls[:1], "bad"), want)
    assert len(problems) == 2
    assert "1 missing" in problems[0]
    assert "1 extracted articles differ" in problems[1]
    assert run.check(wl, job(urls, "good"), want) == []


def test_check_compares_discover_with_the_simulator(tmp_path):
    import run

    from mizzounewscrawler_spark.functions.urls import surt

    url = "https://www.a.test/x.html"
    _lake_table(tmp_path / "url_seen", {0: [{"url_surt": surt(url)}]}, {})
    _lake_table(
        tmp_path / "articles", {0: [{"url": url, "status": "paywall", "content_hash": None}]}, {}
    )
    wl = run.inputs.WORKLOADS["discover"]
    job = {"out": str(tmp_path)}
    assert run.check(wl, job, {"seen": [surt(url)], "articles": {url: ["paywall", None]}}) == []
    problems = run.check(wl, job, {"seen": [surt(url)], "articles": {url: ["extracted", "h"]}})
    assert problems == [f"articles differ from the simulator on 1 urls, e.g. {url}"]


def test_tree_follows_parent_links_across_process_groups():
    import run

    # job 10 -> JVM 11 -> daemon 12 (its own process group) -> workers 13, 14;
    # 20 is unrelated
    procs = {10: 1, 11: 10, 12: 11, 13: 12, 14: 12, 20: 1}
    assert sorted(run._tree(10, procs)) == [10, 11, 12, 13, 14]
    assert run._tree(99, procs) == []


def test_orphaned_descendants_are_stopped_and_reaped(tmp_path):
    import subprocess

    # a shell starts a background sleep and exits at once: the sleep is
    # orphaned and, under a subreaper, re-parented to the benchmark
    script = f"""
import os, subprocess, sys, time
sys.path.insert(0, {os.path.dirname(os.path.dirname(os.path.abspath(__file__)))!r})
import run
run.become_subreaper()
subprocess.run(["sh", "-c", "sleep 300 & echo $! > orphan.pid"], check=True)
orphan = int(open("orphan.pid").read())
assert run._processes()[orphan] == os.getpid()
run.stop_descendants()
assert run._tree(os.getpid(), run._processes()) == [os.getpid()]
try:
    os.waitpid(-1, os.WNOHANG)
    sys.exit("a child was left unreaped")
except ChildProcessError:
    pass
print(orphan)
"""
    out = subprocess.run(
        [sys.executable, "-c", script], cwd=tmp_path, capture_output=True, text=True, timeout=60
    )
    assert out.returncode == 0, out.stderr
    assert not os.path.exists(f"/proc/{int(out.stdout)}")


# -- input cache key ---------------------------------------------------------------


def test_input_key_follows_every_package_source(tmp_path, monkeypatch):
    import inputs

    pkg = tmp_path / inputs.PKG
    (pkg / "sources").mkdir(parents=True)
    (pkg / "functions").mkdir()
    (pkg / "sources" / "generator.py").write_text("from ..functions.html import extract_text\n")
    (pkg / "functions" / "html.py").write_text("def extract_text(h): return h\n")
    monkeypatch.chdir(tmp_path)
    wl = inputs.WORKLOADS["bulk"]
    before = inputs.input_dir("work", wl, 1)
    assert inputs.input_dir("work", wl, 1) == before
    assert inputs.input_dir("work", wl, 2) != before
    # a module the generator imports changes: the golden text may change
    (pkg / "functions" / "html.py").write_text("def extract_text(h): return h.strip()\n")
    assert inputs.input_dir("work", wl, 1) != before


def test_traced_run_compares_only_with_the_same_inputs_and_code(tmp_path, monkeypatch):
    import run

    monkeypatch.chdir(tmp_path)
    # the inputs directory's name ends in the hash of the sources
    run.save_baseline("w/inputs/bulk-s1-aaa", {"job_s": 60.0}, {0: (434, 0, 0)})
    assert run.load_baseline("w/inputs/bulk-s1-aaa") == ({"job_s": 60.0}, {0: [434, 0, 0]})
    assert run.load_baseline("w/inputs/bulk-s1-bbb") is None
    assert run.load_baseline("w/inputs/bulk-s2-aaa") is None
