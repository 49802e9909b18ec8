"""Per-layer metrics of a traced run, and the probes that collect them.

The layer map (metric -> layer -> end-to-end metric it should move) is
``layers.json`` beside this file; every name in it is reported by every
traced run, 0 where the workload does not reach that layer.
"""

from __future__ import annotations

import io
import json
import os
import re
import sys
import time
from contextlib import contextmanager

from perfbench import spans as T

HERE = os.path.dirname(os.path.abspath(__file__))
with open(os.path.join(HERE, "layers.json")) as _f:
    LAYERS: dict = json.load(_f)

_TICK = re.compile(r"\[wave (\d+)\] (.+?): ([0-9.]+)s @([0-9.]+)")
_TICK_METRIC = {
    "count": "engine.count_s",
    "emissions ckpt": "engine.emissions_s",
    "seen update": "engine.seen_update_s",
    "frontier derive": "engine.frontier_derive_s",
}


def unit(name: str) -> str:
    return LAYERS["metrics"][name]["unit"]


# ------------------------------------------------------------------ probes


class Probe:
    """Call count and wall time of one wrapped public function."""

    def __init__(self):
        self.calls = 0
        self.seconds = 0.0

    def wrap(self, fn):
        def wrapper(*a, **kw):
            t0 = time.perf_counter()
            try:
                return fn(*a, **kw)
            finally:
                self.seconds += time.perf_counter() - t0
                self.calls += 1

        wrapper.__wrapped__ = fn
        return wrapper


def install_probes() -> dict[str, Probe]:
    """Wrap ``split_by_host_budget`` (called through its module by the
    engine) and ``ShardedBloom.add_hashes_df``."""
    from spatula_spark.operators import politeness, seen

    probes = {"split": Probe(), "bloom_add": Probe()}
    politeness.split_by_host_budget = probes["split"].wrap(
        politeness.split_by_host_budget)
    seen.ShardedBloom.add_hashes_df = probes["bloom_add"].wrap(
        seen.ShardedBloom.add_hashes_df)
    return probes


def reset_window(spark, probes: dict[str, Probe]) -> None:
    for p in probes.values():
        p.calls, p.seconds = 0, 0.0
    spark.profile.clear(type="perf")


class _Lines(io.TextIOBase):
    def __init__(self):
        self.lines: list[str] = []

    def write(self, s: str) -> int:
        self.lines.extend(s.splitlines())
        return len(s)


@contextmanager
def capture(on: bool):
    """Collect what the program prints to ``sys.stderr`` (the engine's
    verbose per-wave stamps) instead of printing it."""
    buf = _Lines()
    if not on:
        yield buf
        return
    old, sys.stderr = sys.stderr, buf
    try:
        yield buf
    finally:
        sys.stderr = old


def host_controls(tmp: str) -> dict:
    """Same-window host capability: the repo's no-Spark kernel and
    parquet-write controls, run before the JVM starts."""
    sys.path.insert(0, os.path.join(os.path.dirname(HERE), "scripts"))
    import hw_io_bench
    import hw_kernel_bench

    workers = len(os.sched_getaffinity(0))
    rate, _ = hw_kernel_bench.run(workers, 400)
    io_ = hw_io_bench.run(16, workers, base=tmp)
    return {"host.cpu_items_per_s": rate,
            "host.io_write_mb_s": io_["write_mb_s"]}


# ----------------------------------------------------------------- metrics


def workload_e2e(wl, passes: list[dict]) -> dict:
    """Workload-specific user-facing numbers printed beside the JSON."""
    if wl.name != "crawl_resume":
        return {}
    med = T.median
    return {
        "urls_per_s": (med([p["fetched"] / p["wall_s"] for p in passes]),
                       "URLs/s"),
        "resume_s": (med([p["resume_s"] for p in passes]), "s"),
        "ckpt_mb": (med([p["ckpt_b"] / 1e6 for p in passes]), "MB"),
    }


def _tick_metrics(passes: list[dict], tracer) -> dict:
    """engine.* from the verbose stamps of every leg: per-pass sums, and
    wave durations (stamp to stamp) pooled over the window's passes."""
    sums = dict.fromkeys(_TICK_METRIC.values(), 0.0)
    waves, ticked, leg_wall = [], 0.0, 0.0
    for p in passes:
        stamps = [m.groups() for m in map(_TICK.search, p["ticks"]) if m]
        for leg in p["legs"]:
            sp = tracer.spans[leg["span"]]
            leg_wall += sp["end"] - sp["start"]
            ends: dict[int, float] = {}
            for w, label, dt, at in stamps:
                if not sp["start"] <= float(at) <= sp["end"]:
                    continue
                if label in _TICK_METRIC:
                    sums[_TICK_METRIC[label]] += float(dt)
                ticked += float(dt)
                ends[int(w)] = max(ends.get(int(w), 0.0), float(at))
            prev = sp["start"]
            for w in sorted(ends):
                waves.append(ends[w] - prev)
                prev = ends[w]
    n = len(passes)
    return {
        **{k: v / n for k, v in sums.items()},
        "engine.wave_p50_s": T.median(waves),
        "engine.wave_max_s": max(waves, default=0.0),
        "engine.unticked_s": (leg_wall - ticked) / n,
    }


def per_layer(spark, tracer, wl, passes, window, tmp, *, launch_s, warm_s,
              host, probes, failed, attempted) -> tuple[dict, dict]:
    """Every metric of layers.json, plus the detail behind them (the
    window's jobs and the UDF profile) for the spans file."""
    n = len(passes)
    out = dict.fromkeys(LAYERS["metrics"], 0.0)
    out.update(host)
    out["session.launch_s"] = launch_s
    out["bench.warm_s"] = warm_s
    out["trace.wall_s"] = T.median([p["wall_s"] for p in passes])
    out["error_rate"] = failed / attempted
    pages = tracer.named("synthweb.page_store")
    out["synthweb.page_store_s"] = T.median(
        [s["end"] - s["start"] for s in pages]) if pages else 0.0

    jobs = T.read_jobs(spark.sparkContext)
    mine = T.jobs_in(jobs, tracer.descendants(window["id"]))
    per_pass = [
        T.job_metrics(T.jobs_in(mine, tracer.descendants(p["span"])),
                      tracer.spans[p["span"]]["start"],
                      tracer.spans[p["span"]]["end"], every=jobs)
        for p in passes
    ]
    for k in per_pass[0]:
        out[k] = sum(m[k] for m in per_pass) / n
    prof = T.udf_profile(spark, os.path.join(tmp, "profile"))
    for k in ("udf.python_s", "udf.top_id_s", "hooks.parse_html_s",
              "hooks.css_match_s"):
        out[k] = prof[k] / n

    if wl.name == "crawl_resume":
        final = [p["final_metrics"] for p in passes]
        fetched = sum(int(m["fetched"].sum()) for m in final)
        out.update(_tick_metrics(passes, tracer))
        out["engine.waves"] = sum(sum(l["waves"] for l in p["legs"])
                                  for p in passes) / n
        useful = fetched + sum(int(m["requeued"].sum() + m["deferred"].sum())
                               for m in final)
        out["engine.useful_frac"] = fetched / useful if useful else 0.0
        out["politeness.deferred"] = sum(int(m["deferred"].sum())
                                         for m in final) / n
        out["politeness.blocked"] = sum(int(m["blocked"].sum())
                                        for m in final) / n
        out["seen.keys"] = T.median([p["seen_keys"] for p in passes])
        out["io.scratch_mb"] = T.median([p["scratch_b"] / 1e6 for p in passes])
        out["io.ckpt_files"] = T.median([p["ckpt_files"] for p in passes])
        for name, (value, _unit) in workload_e2e(wl, passes).items():
            out[name] = value
    else:
        for q in passes[0]["op_s"]:
            out[f"op.{q}_s"] = T.median([p["op_s"][q] for p in passes])
    out["seen.bloom_add_s"] = probes["bloom_add"].seconds / n
    out["seen.bloom_adds"] = probes["bloom_add"].calls / n
    out["politeness.split_s"] = probes["split"].seconds / n
    unknown = set(out) - set(LAYERS["metrics"])
    if unknown:
        raise KeyError(f"metrics missing from layers.json: {sorted(unknown)}")
    return out, {"jobs": jobs, "udf": prof}
