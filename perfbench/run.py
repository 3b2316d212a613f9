"""Crawl benchmark: run one workload as fresh crawl jobs, check the output,
print the metrics.

    python3 perfbench/run.py --workload discover --seed 1 --seconds 20 --trace 0

Run from the repository root.  Each job is a new ``python3 perfbench/job.py``
process (one ``run_crawl`` on ``local[nproc]``); jobs start back-to-back until
``--seconds`` have passed, and every job runs to completion.  Timings are
taken from outside the job: the process start, the mtimes of the frontier's
snapshot manifests, the mtime of the marker the job writes when
``run_crawl`` returns, the JVM's GC log, and memory samples of the job's
Python processes from ``/proc``.  See ``perfbench/README.md`` for the
metrics and workloads.

``--trace 1`` runs one traced job instead (``spans.py`` wrappers plus a
Spark event log) and prints the per-layer metrics; the spans and per-wave
layer table land under ``.perfbench_work/traces/``.

The last line of stdout is one JSON object: ``correct``, ``attempted`` and
``failed`` (crawl waves), and ``metrics``.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import inputs  # noqa: E402 — perfbench/inputs.py
import metrics  # noqa: E402 — perfbench/metrics.py

WORK = ".perfbench_work"
# a run must end within 180 s; a job that has not finished by then is killed
JOB_TIMEOUT_S = 160
UNITS = {
    "urls_per_s": "URL/s",
    "articles_per_s": "article/s",
    "wave_p50_s": "s",
    "first_wave_s": "s",
    "setup_s": "s",
    "job_s": "s",
    "python_mem_mb": "MB",
}


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def cores() -> int:
    return len(os.sched_getaffinity(0))


def driver_heap_mb() -> int:
    """A quarter of physical memory, between 1 and 2 GB.  In local mode the
    driver JVM is also the executor; these workloads hold tens of MB a wave,
    and the machine may be shared."""
    with open("/proc/meminfo") as f:
        total_kb = int(next(line for line in f if line.startswith("MemTotal")).split()[1])
    return max(1024, min(2048, total_kb // 4096))


# -- process tree ---------------------------------------------------------------


def _processes() -> dict[int, int]:
    """pid → parent pid of every process, zombies too: a zombie has still
    to be reaped, and a JVM whose main thread has exited shows as a zombie
    while its other threads run on and its children are not yet
    re-parented."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                out[int(name)] = int(f.read().rsplit(")", 1)[1].split()[1])
        except OSError:
            continue
    return out


def _tree(root: int, procs: dict[int, int]) -> list[int]:
    """``root`` and its descendants, zombies included.  Parent links, not
    the process group: the PySpark daemon puts itself and its workers in a group of
    their own."""
    children: dict[int, list[int]] = {}
    for pid, ppid in procs.items():
        children.setdefault(ppid, []).append(pid)
    tree, todo = [], [root] if root in procs else []
    while todo:
        pid = todo.pop()
        tree.append(pid)
        todo.extend(children.get(pid, []))
    return tree


def become_subreaper() -> None:
    """Make this process the child subreaper of everything it starts: a
    descendant whose parent exits (the JVM once the job's Python driver is
    gone, the PySpark daemon's workers) is re-parented here instead of to
    init, so ``stop_descendants`` still finds it."""
    import ctypes

    PR_SET_CHILD_SUBREAPER = 36
    if ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def _reap() -> None:
    """Collect the exit status of every child that has ended."""
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def stop_descendants() -> None:
    """Stop every descendant of this process, SIGTERM first and then
    SIGKILL, and wait until each has ended and been reaped.  Zombies count
    as descendants until reaped: a zombie that is not our child yet becomes
    one once its parent has ended."""
    me = os.getpid()
    for sig in (signal.SIGTERM, signal.SIGKILL):
        left = _tree(me, _processes())[1:]
        for pid in left:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        deadline = time.time() + 10
        while left and time.time() < deadline:
            _reap()
            time.sleep(0.1)
            left = _tree(me, _processes())[1:]
        if not left:
            break
    _reap()


def _exe(pid: int) -> str:
    try:
        return os.path.basename(os.readlink(f"/proc/{pid}/exe"))
    except OSError:
        return ""


def _python_pss_mb(pids: list[int]) -> float:
    """Summed PSS (proportional set size) of the tree's processes other
    than the JVM: the job's Python driver and the JVM's Python workers.
    The workers are forks of the PySpark daemon and share pages with it;
    PSS counts each shared page once across them.  The JVM's heap is read
    from its GC log instead (see ``metrics.peak_heap_mb``)."""
    total_kb = 0
    for pid in pids:
        if _exe(pid) == "java":
            continue
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                total_kb += next(int(ln.split()[1]) for ln in f if ln.startswith("Pss:"))
        except (OSError, StopIteration):
            continue
    return total_kb / 1024


class MemorySampler(threading.Thread):
    """Peak memory of the job's Python processes (its driver and the JVM's
    Python workers), sampled every 0.5 s."""

    def __init__(self, root: int) -> None:
        super().__init__(daemon=True)
        self.root = root
        self.peak = 0.0
        self._stop_evt = threading.Event()

    def sample(self) -> None:
        self.peak = max(self.peak, _python_pss_mb(_tree(self.root, _processes())))

    def run(self) -> None:
        while not self._stop_evt.wait(0.5):
            self.sample()

    def stop(self) -> float:
        self._stop_evt.set()
        self.join()
        self.sample()  # pick up processes started since the last tick
        return self.peak


# -- one crawl job ----------------------------------------------------------------


def _wait(proc: subprocess.Popen, returned: str, trace: bool) -> int | None:
    """The job's exit code, or None if it ran past JOB_TIMEOUT_S.

    An untraced job is done once ``run_crawl`` has returned: all that is
    left is ``spark.stop()`` and the JVM's exit, ~3 s of wall time a run
    that no metric includes, so the caller stops it instead.  A traced job
    still has to write its trace and close its event log."""
    deadline = time.time() + JOB_TIMEOUT_S
    while time.time() < deadline:
        rc = proc.poll()
        if rc is not None:
            return rc
        if not trace and os.path.exists(returned):
            return 0
        time.sleep(0.2)
    return None


def run_job(wl: inputs.Workload, inputs_dir: str, job_dir: str, trace: bool) -> dict:
    """Start one crawl job and observe it.  Returns the job's directory
    paths and timings; raises RuntimeError if the job fails."""
    job_dir = os.path.abspath(job_dir)
    shutil.rmtree(job_dir, ignore_errors=True)
    out = os.path.join(job_dir, "lake")
    tmp = os.path.join(job_dir, "tmp")
    os.makedirs(out)
    os.makedirs(tmp)
    heap = driver_heap_mb()
    gc_log = os.path.join(job_dir, "gc.log")
    conf = {
        "spark.driver.memory": f"{heap}m",
        # -Xms: Spark starts every executor with its whole heap, and in local
        # mode the driver JVM is the executor.  The GC log gives the heap
        # occupancy after each collection, for spark.heap_after_gc_mb.
        "spark.driver.extraJavaOptions": f"-Xms{heap}m -Xlog:gc:file={gc_log}",
    }
    if trace:
        events = os.path.join(job_dir, "events")
        os.makedirs(events)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + events,
                "spark.eventLog.compress": "false",
                # AQE re-plans log the whole physical plan each time (MBs per
                # event on the crawl's plans); the trace needs none of it
                "spark.sql.maxPlanStringLength": "1024",
            }
        )
    spec = {
        "out": out,
        "inputs": inputs_dir,
        "cores": cores(),
        "spark_conf": conf,
        "config": wl.config,
        "seed_all": wl.seed_all,
        "trace": trace,
    }
    returned = os.path.join(out, "_bench", "returned.json")
    spec_path = os.path.join(job_dir, "spec.json")
    with open(spec_path, "w") as f:
        json.dump(spec, f)
    env = dict(
        os.environ,
        PYTHONPATH=os.getcwd(),
        GEN_FILLER_KB=str(wl.filler_kb),
        SPARK_LOCAL_DIRS=os.path.join(job_dir, "spark-local"),
        TMPDIR=tmp,
        # every JVM the job starts (launcher and driver) keeps its temp
        # files in the job's directory; no hsperfdata files in /tmp
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    )
    with open(os.path.join(job_dir, "job.log"), "w") as job_log:
        t_start = time.time()
        proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "job.py"), spec_path],
            env=env,
            stdout=job_log,
            stderr=subprocess.STDOUT,
        )
        sampler = MemorySampler(proc.pid)
        sampler.start()
        try:
            rc = _wait(proc, returned, trace)
        finally:
            python_mb = sampler.stop()
            stop_descendants()
            proc.wait()
    if rc != 0:
        with open(os.path.join(job_dir, "job.log")) as f:
            tail = f.read()[-4000:]
        raise RuntimeError(
            f"crawl job {'timed out' if rc is None else f'exited {rc}'}:\n{tail}"
        )
    with open(returned) as f:
        ret = json.load(f)
    with open(gc_log) as f:
        heap_mb = metrics.peak_heap_mb(f.read())
    return {
        "out": out,
        "job_dir": job_dir,
        "t_start": t_start,
        "t_returned": os.path.getmtime(returned),
        "crawl_start": ret["crawl_start"],
        "python_mem_mb": python_mb,
        "heap_after_gc_mb": heap_mb,
    }


def read_table(table_dir: str, columns: list[str]):
    """Current view of a lake table as pandas, read with pyarrow from its
    newest manifest: the live data versions minus merge-on-read deletes."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    _, snap = metrics.read_manifests(table_dir)[-1]
    key = snap.get("delete_key_col") or None
    cols = columns + ([key] if key and key not in columns else [])
    table = pa.concat_tables(
        pq.read_table(os.path.join(table_dir, "data", f"v{v:06d}"), columns=cols)
        for v in snap["live_versions"]
    )
    if snap["delete_versions"]:
        dead = pa.concat_tables(
            pq.read_table(os.path.join(table_dir, "deletes", f"v{v:06d}"), columns=[key])
            for v in snap["delete_versions"]
        )
        table = table.filter(pc.invert(pc.is_in(table[key], value_set=dead[key])))
    return table.select(columns).to_pandas()


def observe(job: dict) -> tuple[dict, dict]:
    """End-to-end metrics and per-wave counters of a finished job."""
    commits = metrics.read_commits(os.path.join(job["out"], "frontier"))
    arts = read_table(os.path.join(job["out"], "articles"), ["status", "wave"])
    extracted = arts[arts["status"] == "extracted"]["wave"].value_counts()
    e2e = metrics.end_to_end(
        job["t_start"],
        job["t_returned"],
        commits,
        {int(w): int(n) for w, n in extracted.items()},
        job["python_mem_mb"],
    )
    return e2e, metrics.wave_counters(commits)


# -- output check -------------------------------------------------------------------


def check(wl: inputs.Workload, job: dict, want: dict) -> list[str]:
    """Compare the job's url_seen and articles with the expected outputs;
    returns the problems found (empty = correct)."""
    from mizzounewscrawler_spark.functions.urls import surt

    problems = []
    seen = read_table(os.path.join(job["out"], "url_seen"), ["url_surt"])["url_surt"]
    arts = read_table(os.path.join(job["out"], "articles"), ["url", "status", "content_hash"])
    if len(seen) != seen.nunique():
        problems.append(f"url_seen holds {len(seen) - seen.nunique()} duplicate rows")
    got_seen, want_seen = set(seen), set(want["seen"])
    if got_seen != want_seen:
        problems.append(
            f"url_seen differs: {len(got_seen - want_seen)} unexpected, "
            f"{len(want_seen - got_seen)} missing"
        )

    def opt(v):
        return v if isinstance(v, str) else None

    if wl.seed_all:
        ext = arts[arts["status"] == "extracted"]
        if ext.empty:
            problems.append("no article was extracted")
        bad = [
            u
            for u, h in zip(ext["url"], ext["content_hash"])
            if want["golden"].get(surt(u)) != h
        ]
        if bad:
            problems.append(f"{len(bad)} extracted articles differ from golden text, e.g. {bad[0]}")
    else:
        got = {u: [s, opt(h)] for u, s, h in zip(arts["url"], arts["status"], arts["content_hash"])}
        if len(got) != len(arts):
            problems.append("articles holds duplicate urls")
        diff = sorted(u for u in {*got, *want["articles"]} if got.get(u) != want["articles"].get(u))
        if diff:
            problems.append(
                f"articles differ from the simulator on {len(diff)} urls, e.g. {diff[0]}"
            )
    return problems


# -- runs ---------------------------------------------------------------------------


def _result(correct: bool, attempted: int, failed: int, values: dict, units: dict) -> str:
    return json.dumps(
        {
            "correct": correct,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": v, "unit": units[k]} for k, v in values.items()},
        }
    )


def untraced_run(wl, inputs_dir, want, seconds) -> tuple[bool, int, int, dict, dict]:
    t_begin = time.time()
    per_job, counters = [], None
    attempted = failed = 0
    n = 0
    while True:
        job = run_job(wl, inputs_dir, os.path.join(WORK, "jobs", f"{os.getpid()}-{n}"), False)
        n += 1
        e2e, counters = observe(job)
        problems = check(wl, job, want)
        waves = wl.config["max_waves"]
        attempted += waves
        if problems:
            failed += waves
            for p in problems:
                log(f"output check failed: {p}")
        per_job.append(e2e)
        log(f"job {n}: waves {counters} " + " ".join(f"{k}={v:.3f}" for k, v in e2e.items()))
        shutil.rmtree(job["job_dir"], ignore_errors=True)
        if time.time() - t_begin >= seconds:
            break
    return failed == 0, attempted, failed, metrics.median_of_jobs(per_job), counters


def _baseline_path(inputs_dir: str) -> str:
    # the inputs directory's name carries the workload, the seed and a hash
    # of the program's and the benchmark's sources
    return os.path.join(WORK, "baseline", os.path.basename(inputs_dir) + ".json")


def save_baseline(inputs_dir: str, e2e: dict, counters: dict) -> None:
    """Keep a correct untraced run's numbers for traced runs on the same
    inputs and code."""
    path = _baseline_path(inputs_dir)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        json.dump({"e2e": e2e, "counters": counters}, f)


def load_baseline(inputs_dir: str) -> tuple[dict, dict] | None:
    """(untraced e2e, untraced per-wave counters) that an earlier
    ``--trace 0`` run saved for these inputs and this code, or None."""
    path = _baseline_path(inputs_dir)
    if not os.path.exists(path):
        return None
    with open(path) as f:
        base = json.load(f)
    return base["e2e"], {int(w): list(c) for w, c in base["counters"].items()}


def traced_run(wl, inputs_dir, want) -> tuple[bool, int, int, dict]:
    """One traced job: per-layer metrics, its output check, and its
    per-wave counters and end-to-end numbers against the untraced run an
    earlier ``--trace 0`` run saved on the same inputs and code.  Without
    one, the counters go unchecked (``trace.counters_checked`` is 0) and
    the overhead is null; no untraced job is run here, because two jobs
    could overrun the 180 s a run may take."""
    base = load_baseline(inputs_dir)
    job = run_job(wl, inputs_dir, os.path.join(WORK, "jobs", f"{os.getpid()}-trace"), True)
    e2e, counters = observe(job)
    problems = check(wl, job, want)
    if base is None:
        base_e2e = overhead = None
        log("no untraced run of this code on these inputs: wave counters unchecked, "
            "no overhead; run --trace 0 on the same seed first")
    else:
        base_e2e, base_counters = base
        if {w: list(c) for w, c in counters.items()} != base_counters:
            problems.append(f"traced wave counters {counters} != untraced {base_counters}")
        # tracing overhead: traced ÷ untraced − 1 for each end-to-end metric
        overhead = {k: e2e[k] / base_e2e[k] - 1 for k in e2e}
        log(f"tracing overhead: {overhead}")
    for p in problems:
        log(f"traced run check failed: {p}")

    with open(os.path.join(job["out"], "_bench", "trace.json")) as f:
        trace = json.load(f)
    # rolling event log: events_<n>_<app> files, in n order
    parts = glob.glob(os.path.join(job["job_dir"], "events", "*", "events_*"))
    parts.sort(key=lambda p: int(os.path.basename(p).split("_")[1]))
    events = metrics.parse_event_log(parts)
    tables = {
        name: metrics.read_manifests(os.path.join(job["out"], name))
        for name in metrics.LAKE_TABLES
    }
    layer, rows = metrics.per_layer(
        trace, events, tables, job["t_start"], job["crawl_start"], cores()
    )
    layer["spark.heap_after_gc_mb"] = job["heap_after_gc_mb"]
    layer["trace.counters_checked"] = int(base is not None)

    dest = os.path.join(WORK, "traces", os.path.basename(inputs_dir))
    os.makedirs(dest, exist_ok=True)
    with open(os.path.join(dest, "spans.json"), "w") as f:
        json.dump(trace, f)
    with open(os.path.join(dest, "layers.json"), "w") as f:
        json.dump(
            {
                "waves": rows,
                "metrics": layer,
                "traced_e2e": e2e,
                "untraced_e2e": base_e2e,
                "overhead": overhead,
            },
            f,
            indent=1,
        )
    log(f"trace written to {dest}")
    shutil.rmtree(job["job_dir"], ignore_errors=True)
    waves = wl.config["max_waves"]
    return not problems, waves, waves if problems else 0, layer


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(inputs.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(inputs.PKG, "crawl.py")):
        log(f"no {inputs.PKG}/ here: run from the repository root")
        return 2
    # every way out, a SIGTERM too, goes through the finally below
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    become_subreaper()
    try:
        return run(args)
    finally:
        stop_descendants()


def run(args) -> int:
    sys.path.insert(0, os.getcwd())
    wl = inputs.WORKLOADS[args.workload]
    os.makedirs(WORK, exist_ok=True)
    t0 = time.time()
    inputs_dir = inputs.ensure_inputs(WORK, wl, args.seed, procs=cores())
    want = inputs.expected(wl, inputs_dir)
    log(f"inputs ready in {time.time() - t0:.1f}s: {inputs_dir}")

    if args.trace:
        correct, attempted, failed, layer = traced_run(wl, inputs_dir, want)
        print(_result(correct, attempted, failed, layer, {k: layer_unit(k) for k in layer}))
        return 0
    correct, attempted, failed, e2e, counters = untraced_run(wl, inputs_dir, want, args.seconds)
    if correct:
        save_baseline(inputs_dir, e2e, counters)
    print(_result(correct, attempted, failed, e2e, UNITS))
    return 0


def layer_unit(name: str) -> str:
    if name.endswith("_s") or "_s." in name:
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith(("_ratio", "_util", "_skew", "_per_url")):
        return "ratio"
    return "count"


if __name__ == "__main__":
    sys.exit(main())
