"""Spans, Spark job attribution and the arithmetic the layer metrics use.

Everything here is measured from outside the program: spans are opened
by the benchmark around its calls into the package, every span tags the
Spark jobs it causes with its own job group, and the per-job and
per-stage numbers are read from Spark's status store once the timed
window is over.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from contextlib import contextmanager

# ----------------------------------------------------------------- arithmetic


def union_intervals(intervals):
    """Merge (start, end) pairs into disjoint sorted intervals."""
    merged: list[list[float]] = []
    for a, b in sorted((a, b) for a, b in intervals if b > a):
        if merged and a <= merged[-1][1]:
            merged[-1][1] = max(merged[-1][1], b)
        else:
            merged.append([a, b])
    return [(a, b) for a, b in merged]


def covered(intervals, lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of ``intervals``."""
    return sum(
        min(b, hi) - max(a, lo)
        for a, b in union_intervals(intervals)
        if min(b, hi) > max(a, lo)
    )


def driver_gap(lo: float, hi: float, job_intervals) -> float:
    """Wall time of [lo, hi] during which no Spark job was running."""
    return (hi - lo) - covered(job_intervals, lo, hi)


def job_intervals(jobs: list[dict]) -> list[tuple[float, float]]:
    return [(j["start"], j["end"]) for j in jobs
            if j["start"] is not None and j["end"] is not None]


def unattributed_s(all_jobs: list[dict], attributed: list[dict],
                   lo: float, hi: float) -> float:
    """Time of [lo, hi] during which some job ran but none of the jobs
    attributed to the span over [lo, hi]: jobs its job group missed
    (started on another thread, or outside any span). Each of them
    would otherwise read as driver gap."""
    return (covered(job_intervals(all_jobs), lo, hi)
            - covered(job_intervals(attributed), lo, hi))


def descendants_of(spans: list[dict], root_id: int) -> set[int]:
    """Ids of span ``root_id`` and every span under it."""
    out = {root_id}
    for s in spans:  # parents are recorded before their children
        if s["parent"] in out:
            out.add(s["id"])
    return out


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id -> duration minus the part covered by its child spans."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {
        s["id"]: (s["end"] - s["start"])
        - covered(kids.get(s["id"], []), s["start"], s["end"])
        for s in spans
    }


PERCENTILES = (50.0, 90.0, 99.0, 99.9)


def tail_percentile(n: int) -> float | None:
    """Highest percentile of PERCENTILES with at least ten of ``n``
    samples beyond it; None when even the median has fewer."""
    best = None
    for p in PERCENTILES:
        if n * (1000 - round(p * 10)) >= 10 * 1000:  # per-mille, exact
            best = p
    return best


def percentile(values, p: float) -> float:
    """Nearest-rank percentile."""
    xs = sorted(values)
    k = max(0, min(len(xs) - 1, int(-(-p * len(xs) // 100)) - 1))
    return xs[k]


def median(values) -> float:
    return statistics.median(values) if values else 0.0


# --------------------------------------------------------------------- spans


class Tracer:
    """In-memory spans; with ``jobs=True`` each span also becomes the
    Spark job group of every job started while it is the innermost open
    span, so the status store can attribute jobs to spans afterwards."""

    def __init__(self, trace_id: str, jobs: bool = False):
        self.trace_id = trace_id
        self.jobs = jobs
        self.spans: list[dict] = []
        self._open: list[dict] = []
        self.sc = None  # set once the session exists

    @contextmanager
    def span(self, name: str, **attrs):
        s = {
            "id": len(self.spans),
            "name": name,
            "parent": self._open[-1]["id"] if self._open else None,
            "trace_id": self.trace_id,
            "start": time.time(),
            "end": None,
            **attrs,
        }
        self.spans.append(s)
        self._open.append(s)
        self._set_group(s)
        try:
            yield s
        finally:
            s["end"] = time.time()
            self._open.pop()
            if self._open:
                self._set_group(self._open[-1])

    def _set_group(self, s: dict) -> None:
        if self.jobs and self.sc is not None:
            self.sc.setJobGroup(str(s["id"]), s["name"])

    def descendants(self, root_id: int) -> set[int]:
        return descendants_of(self.spans, root_id)

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def dump(self, path: str, extra: dict | None = None) -> None:
        os.makedirs(os.path.dirname(os.path.abspath(path)), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"spans": self.spans, **(extra or {})}, f, indent=1)


# -------------------------------------------------------------- status store


def _opt(o):
    return o.get() if o.isDefined() else None


def _seq(s) -> list:
    return [s.apply(i) for i in range(s.size())]


def read_jobs(sc) -> list[dict]:
    """Every job the status store retained, with its stages' totals."""
    store = sc._jsc.sc().statusStore()
    stages: dict[int, dict] = {}
    jobs = []
    for j in _seq(store.jobsList(None)):
        sub, end = _opt(j.submissionTime()), _opt(j.completionTime())
        sids = [int(x) for x in _seq(j.stageIds())]
        for sid in sids:
            if sid not in stages:
                stages[sid] = _read_stage(store, sid)
        jobs.append({
            "id": int(j.jobId()),
            "group": _opt(j.jobGroup()),
            "start": sub.getTime() / 1000.0 if sub is not None else None,
            "end": end.getTime() / 1000.0 if end is not None else None,
            "stages": sids,
            "tasks": int(j.numTasks()),
        })
    return [dict(j, stage_data=[stages[s] for s in j["stages"]
                                if stages[s] is not None]) for j in jobs]


def _read_stage(store, sid: int) -> dict | None:
    from py4j.protocol import Py4JJavaError

    try:
        s = store.lastStageAttempt(sid)
    except Py4JJavaError:  # evicted, or a stage that never ran (skipped)
        return None
    return {
        "id": sid,
        "status": str(s.status()),
        "tasks": int(s.numCompleteTasks()),
        "run_s": s.executorRunTime() / 1000.0,
        "cpu_s": s.executorCpuTime() / 1e9,
        "shuffle_write_b": int(s.shuffleWriteBytes()),
        "shuffle_read_b": int(s.shuffleReadBytes()),
        "spill_b": int(s.memoryBytesSpilled()) + int(s.diskBytesSpilled()),
        "input_b": int(s.inputBytes()),
        "output_b": int(s.outputBytes()),
    }


def job_metrics(jobs: list[dict], lo: float, hi: float,
                every: list[dict] | None = None) -> dict:
    """jvm.* and io.write_job_s over ``jobs`` (already attributed to one
    window [lo, hi]). driver.gap_s is the window's time with no job of
    ``every`` (all retained jobs; default ``jobs``) running, so a job
    its job group missed shows in jvm.unattributed_s, not as gap:
    wall = driver.gap_s + jvm.job_s + jvm.unattributed_s."""
    iv = job_intervals(jobs)
    every = jobs if every is None else every
    seen: dict[int, dict] = {}
    for j in jobs:
        for s in j["stage_data"]:
            seen[s["id"]] = s
    st = list(seen.values())
    writes = [(j["start"], j["end"]) for j in jobs
              if j["end"] is not None
              and any(s["output_b"] > 0 for s in j["stage_data"])]
    mb = 1e6
    return {
        "driver.gap_s": driver_gap(lo, hi, job_intervals(every)),
        "jvm.unattributed_s": unattributed_s(every, jobs, lo, hi),
        "jvm.jobs": len(jobs),
        "jvm.tasks": sum(s["tasks"] for s in st),
        "jvm.job_s": covered(iv, lo, hi),
        "jvm.task_s": sum(s["run_s"] for s in st),
        "jvm.task_cpu_s": sum(s["cpu_s"] for s in st),
        "jvm.shuffle_write_mb": sum(s["shuffle_write_b"] for s in st) / mb,
        "jvm.shuffle_read_mb": sum(s["shuffle_read_b"] for s in st) / mb,
        "jvm.spill_mb": sum(s["spill_b"] for s in st) / mb,
        "jvm.input_mb": sum(s["input_b"] for s in st) / mb,
        "jvm.output_mb": sum(s["output_b"] for s in st) / mb,
        "io.write_job_s": covered(writes, lo, hi),
    }


def jobs_in(jobs: list[dict], span_ids: set[int]) -> list[dict]:
    ids = {str(i) for i in span_ids}
    return [j for j in jobs if j["group"] in ids]


# ------------------------------------------------------------ UDF profiler


def udf_profile(spark, path: str) -> dict:
    """Per-UDF perf-profiler totals plus the cumulative time spent in
    the page-hook parse and selector entry points."""
    import glob
    import pstats

    spark.profile.dump(path, type="perf")
    per_udf: dict[str, float] = {}
    top: dict[str, list] = {}
    parse = css = 0.0
    for f in sorted(glob.glob(os.path.join(path, "udf_*_perf.pstats"))):
        st = pstats.Stats(f)
        uid = os.path.basename(f).split("_")[1]
        per_udf[uid] = st.total_tt
        top[uid] = sorted(
            ((ct, f"{os.path.basename(k[0])}:{k[2]}")
             for k, (_cc, _nc, _tt, ct, _c) in st.stats.items()),
            reverse=True)[:8]
        for (fname, _line, func), (_cc, _nc, _tt, ct, _callers) in (
            st.stats.items()
        ):
            # the profiler stores file names without directories
            name = os.path.basename(fname)
            if func == "parse_html" and name == "parsers.py":
                parse += ct
            elif func == "match" and name == "selectors.py":
                css += ct
    return {
        "udf.python_s": sum(per_udf.values()),
        "udf.top_id_s": max(per_udf.values(), default=0.0),
        "hooks.parse_html_s": parse,
        "hooks.css_match_s": css,
        "per_udf": per_udf,
        "top_functions": top,
    }


# ------------------------------------------------------------ process tree


def children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    return kids


def child_pids(pid: int) -> list[int]:
    kids = children_map()
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        for c in kids.get(p, []):
            out.append(c)
            todo.append(c)
    return out


def tree_cpu_s(pid: int | None = None) -> float:
    """User+system CPU seconds of ``pid`` and every live descendant,
    including what each has reaped from exited children."""
    pid = pid or os.getpid()
    tick = os.sysconf("SC_CLK_TCK")
    total = 0
    for p in [pid, *child_pids(pid)]:
        try:
            with open(f"/proc/{p}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return total / tick
