#!/usr/bin/env python3
"""Layer report: untraced and traced runs of every workload, one table.

    python3 perfbench/report.py [--seed 1] [--reps 1] [--out .perfbench/out]

For each workload it runs ``run.py --trace 0`` ``--reps`` times and
``run.py --trace 1`` once, writes the traced run's spans to
``<out>/spans_<workload>.json``, and prints every per-layer metric with
the layer it measures and the end-to-end metric it should move, the
largest self-time span of the timed window, the window's Spark job
durations (median and the highest percentile with at least ten jobs
beyond it), per crawl leg its wall split into driver gap and job
union together with the check that no job ran in the leg's time range
outside its job groups (exit code 1 if one did), and the tracing
overhead (traced minus untraced median ``wall_s``). The whole report is
also written to ``<out>/report.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# job times are recorded in milliseconds
ATTRIBUTION_SLACK_S = 0.002


def _run(workload: str, seed: int, trace: int, spans: str | None) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload",
           workload, "--seed", str(seed), "--seconds", "1",
           "--trace", str(trace)]
    if spans:
        cmd += ["--spans", spans]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stderr[-4000:])
        raise SystemExit(f"{workload}: run.py exited {p.returncode}")
    return json.loads(lines[-1])


def report(workload: str, seed: int, reps: int, out: str) -> dict:
    from perfbench import spans as S

    walls = [_run(workload, seed, 0, None)["metrics"]["wall_s"]["value"]
             for _ in range(reps)]
    spans_path = os.path.join(out, f"spans_{workload}.json")
    traced = _run(workload, seed, 1, spans_path)["metrics"]
    with open(spans_path) as f:
        dump = json.load(f)
    with open(os.path.join(HERE, "layers.json")) as f:
        layers = json.load(f)["metrics"]

    spans = dump["spans"]
    window = next(s for s in spans if s["name"] == "window")
    in_window = S.descendants_of(spans, window["id"])
    self_t = S.self_times(spans)
    top = max((s for s in spans if s["id"] in in_window),
              key=lambda s: self_t[s["id"]])
    legs = []
    for s in spans:
        if s["name"] != "crawl.leg" or s["id"] not in in_window:
            continue
        mine = S.jobs_in(dump["jobs"], S.descendants_of(spans, s["id"]))
        m = S.job_metrics(mine, s["start"], s["end"], every=dump["jobs"])
        legs.append({"leg": s.get("leg"), "wall_s": s["end"] - s["start"],
                     **{k: m[k] for k in ("driver.gap_s", "jvm.job_s",
                                          "jvm.unattributed_s")}})
    durations = [b - a for a, b in S.job_intervals(
        S.jobs_in(dump["jobs"], in_window))]
    tail = S.tail_percentile(len(durations))
    jobs = {"n": len(durations),
            "median_s": statistics.median(durations) if durations else 0.0,
            "tail_p": tail,
            "tail_s": S.percentile(durations, tail) if tail else None}
    untraced = statistics.median(walls)
    overhead = traced["trace.wall_s"]["value"] - untraced
    rows = [
        {"metric": k, "value": v["value"], "unit": v["unit"],
         "layer": layers[k]["layer"], "moves": layers[k]["moves"]}
        for k, v in traced.items()
    ]
    return {"workload": workload, "seed": seed, "untraced_wall_s": walls,
            "tracing_overhead_s": overhead,
            "tracing_overhead_frac": overhead / untraced,
            "largest_self_span": {"name": top["name"],
                                  "self_s": self_t[top["id"]]},
            "legs": legs, "job_durations": jobs, "metrics": rows,
            "spans": spans_path}


def main(argv=None) -> int:
    sys.path.insert(0, ROOT)
    from perfbench.run import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--reps", type=int, default=1)
    ap.add_argument("--out", default=os.path.join(ROOT, ".perfbench", "out"))
    ap.add_argument("--workload", choices=WORKLOADS, action="append")
    args = ap.parse_args(argv)
    os.makedirs(args.out, exist_ok=True)

    reports = [report(w, args.seed, args.reps, args.out)
               for w in (args.workload or WORKLOADS)]
    bad: list[str] = []
    for r in reports:
        print(f"\n== {r['workload']} (seed {r['seed']}; spans: {r['spans']})")
        print(f"{'metric':30} {'value':>12} {'unit':8} {'layer':34} should move")
        for m in r["metrics"]:
            print(f"{m['metric']:30} {m['value']:12.4g} {m['unit']:8} "
                  f"{m['layer'][:34]:34} {m['moves']}")
        top = r["largest_self_span"]
        print(f"largest self-time span in the window: {top['name']} "
              f"({top['self_s']:.3f} s)")
        j = r["job_durations"]
        tail = (f"p{j['tail_p']:g} {j['tail_s']:.3f} s" if j["tail_p"]
                else "no percentile has 10 jobs beyond it")
        print(f"Spark jobs in the window: {j['n']}, median "
              f"{j['median_s']:.3f} s, {tail}")
        for leg in r["legs"]:
            print(f"leg {leg['leg']}: wall {leg['wall_s']:.3f} s = driver gap "
                  f"{leg['driver.gap_s']:.3f} s + union of its jobs "
                  f"{leg['jvm.job_s']:.3f} s + jobs in its time range "
                  f"outside its job groups {leg['jvm.unattributed_s']:.3f} s")
            if leg["jvm.unattributed_s"] > ATTRIBUTION_SLACK_S:
                bad.append(f"{r['workload']} leg {leg['leg']}")
        print(f"tracing overhead: {r['tracing_overhead_s']:+.3f} s "
              f"({r['tracing_overhead_frac']:+.1%}) = traced wall "
              f"minus untraced median wall_s over {len(r['untraced_wall_s'])}"
              " run(s)")
    with open(os.path.join(args.out, "report.json"), "w") as f:
        json.dump(reports, f, indent=1)
    if bad:
        print(f"ATTRIBUTION FAILED: jobs missed by the job groups of "
              f"{', '.join(bad)}; their time reads as driver gap",
              file=sys.stderr)
        return 1
    return 0


if __name__ == "__main__":
    sys.exit(main())
