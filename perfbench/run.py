#!/usr/bin/env python3
"""perfbench: the repository's end-to-end and per-layer benchmark.

    python3 perfbench/run.py --workload crawl_resume --seed 1 --seconds 5 --trace 0

Run from the repository root. One run is one Python process with at
most ``nproc`` Spark task slots:

1. session launch (interpreter, JVM, py4j) - kept out of setup_s
2. one untimed warm pass of the workload, which also checks its outputs
3. set-up repeated ``setup_reps`` times (setup_s is their median)
4. the timed window: passes until ``--seconds`` have elapsed (at least
   one); wall_s and cpu_s are medians over its passes
5. output checks after each pass (untimed), then one JSON object as
   the last stdout line

``--trace 1`` runs the same steps with spans, Spark job groups, the
Python UDF profiler and wrappers around a few public functions on, and
prints the per-layer metrics instead. ``--spans PATH`` also writes the
spans and the jobs attributed to them. Every file the run writes lives
under ``.perfbench/`` in the checkout and is removed at exit, except the
``--spans`` file.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import shutil
import signal
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("crawl_resume", "ops_battery")
DRIVER_MEM = "3g"
END_TO_END = {"wall_s": "s", "cpu_s": "s", "setup_s": "s"}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--spans", help="write spans JSON here (traced run)")
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "spatula_spark")):
        print(f"perfbench: no spatula_spark package in {ROOT}",
              file=sys.stderr)
        return 2
    kill_orphan_jvms()
    tmp = os.path.join(ROOT, ".perfbench", "tmp", f"run-{os.getpid()}")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    # a plain kill must still stop the JVM and remove the temp dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        result, ok = run(args, tmp)
    finally:
        stop_jvm()
        shutil.rmtree(tmp, ignore_errors=True)
    print(json.dumps(result))
    return 0 if ok else 1


def run(args, tmp: str) -> tuple[dict, bool]:
    from perfbench import layers
    from perfbench.spans import Tracer, median, tree_cpu_s

    tracer = Tracer(f"{args.workload}-{args.seed}", jobs=bool(args.trace))
    before_host = time.time() - process_start()
    host = layers.host_controls(tmp) if args.trace else {}
    with tracer.span("session.launch") as s:
        spark = launch(tmp, bool(args.trace))
    tracer.sc = spark.sparkContext
    launch_s = before_host + s["end"] - s["start"]
    wl = make_workload(args, spark, tmp, tracer)
    probes = layers.install_probes() if args.trace else None

    attempted = failed = 0
    errors: list[str] = []
    passes: list[dict] = []
    setups: list[float] = []
    try:
        with tracer.span("warm") as warm:
            r = wl.warm()
        attempted, failed = r["ops"], min(len(r["errors"]), r["ops"])
        errors += r["errors"]
        for _ in range(wl.setup_reps):
            with tracer.span("setup") as s:
                wl.setup()
            setups.append(s["end"] - s["start"])
        if args.trace:
            layers.reset_window(spark, probes)
        with tracer.span("window") as window:
            while True:
                c0 = tree_cpu_s()
                with tracer.span("pass") as sp, layers.capture(
                        bool(args.trace)) as ticks:
                    r = wl.run_pass()
                r["wall_s"] = sp["end"] - sp["start"]
                r["cpu_s"] = tree_cpu_s() - c0
                r["span"], r["ticks"] = sp["id"], ticks.lines
                r["errors"] = wl.check(r)
                passes.append(r)
                attempted += r["ops"]
                failed += min(len(r["errors"]), r["ops"])
                errors += r["errors"]
                if window_elapsed(window) >= args.seconds:
                    break
    except Exception as e:  # noqa: BLE001 - a failed operation is reported
        import traceback

        traceback.print_exc()
        attempted += 1
        failed += 1
        errors.append(f"{type(e).__name__}: {e}")

    for e in errors:
        print(f"perfbench: CHECK FAILED: {e}", file=sys.stderr)
    for s in tracer.spans:
        if s["parent"] is None and s["end"] is not None:
            print(f"perfbench: {s['name']} {s['end'] - s['start']:.2f}s",
                  file=sys.stderr)
    ok = failed == 0 and bool(passes)
    e2e = {}
    if passes:
        e2e = {
            "wall_s": median([p["wall_s"] for p in passes]),
            "cpu_s": median([p["cpu_s"] for p in passes]),
            "setup_s": median(setups),
        }
        extra = layers.workload_e2e(wl, passes)
        extra["error_rate"] = (failed / attempted, "ratio")
        for name, (value, unit) in {
            **{k: (v, END_TO_END[k]) for k, v in e2e.items()},
            **extra,
        }.items():
            print(f"{wl.name} {name} = {value:.6g} {unit}")

    if args.trace and passes:
        values, detail = layers.per_layer(
            spark, tracer, wl, passes, window, tmp,
            launch_s=launch_s, warm_s=warm["end"] - warm["start"],
            host=host, probes=probes, failed=failed, attempted=attempted,
        )
        metrics = {k: {"value": v, "unit": layers.unit(k)}
                   for k, v in values.items()}
        if args.spans:
            tracer.dump(args.spans, {"metrics": values, **detail})
    else:
        metrics = {k: {"value": v, "unit": END_TO_END[k]}
                   for k, v in e2e.items()}
    wl.close()
    return ({"correct": ok, "attempted": attempted, "failed": failed,
             "metrics": metrics}, ok)


def process_start() -> float:
    """Epoch time this interpreter process started."""
    with open("/proc/self/stat") as f:
        started = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return time.time() - uptime + started / os.sysconf("SC_CLK_TCK")


def window_elapsed(window: dict) -> float:
    return time.time() - window["start"]


def make_workload(args, spark, tmp, tracer):
    if args.workload == "crawl_resume":
        from perfbench.crawl import CrawlResume

        return CrawlResume(spark, tmp, args.seed, tracer, bool(args.trace))
    from perfbench.battery import OpsBattery

    return OpsBattery(spark, tmp, args.seed, tracer, bool(args.trace))


def launch(tmp: str, trace: bool):
    """Local session with one task slot per usable core, every spill,
    scratch and warehouse path inside ``tmp``."""
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    local = os.path.join(tmp, "spark-local")
    os.environ["SPARK_LOCAL_DIRS"] = local
    from spatula_spark.session import get_spark

    cores = len(os.sched_getaffinity(0))
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": local,
        "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}",
        # the status store must still hold every job of the window when
        # a traced run reads it; same retention untraced
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
    }
    if trace:
        conf["spark.sql.pyspark.udf.profiler"] = "perf"
    return get_spark(app_name="perfbench", cores=cores,
                     shuffle_partitions=cores, extra_conf=conf)


# ------------------------------------------------------------ JVM hygiene

_SUBMIT = re.compile(r"deploy[.]SparkSubmit")


def _cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read().replace(b"\0", b" ").decode(errors="replace")
    except OSError:
        return ""


def kill_orphan_jvms() -> None:
    """SIGKILL SparkSubmit JVMs a killed earlier run of this checkout
    left behind (re-parented to init, working directory = this root)."""
    from perfbench.spans import children_map

    for pid in children_map().get(1, []):
        if not _SUBMIT.search(_cmdline(pid)):
            continue
        try:
            if os.path.realpath(os.readlink(f"/proc/{pid}/cwd")) != \
                    os.path.realpath(ROOT):
                continue
            os.kill(pid, signal.SIGKILL)
        except OSError:
            pass


def stop_jvm(timeout: float = 20.0) -> None:
    """Stop the session, let the JVM and its Python workers exit, and
    kill whatever is still running after ``timeout``."""
    from perfbench.spans import child_pids

    started = child_pids(os.getpid())  # JVM, Python daemon and workers
    try:
        from pyspark import SparkContext

        if SparkContext._active_spark_context is not None:
            SparkContext._active_spark_context.stop()
        gw = SparkContext._gateway
        if gw is not None and getattr(gw, "proc", None) is not None:
            gw.proc.stdin.close()  # the gateway exits on EOF
    except Exception:  # noqa: BLE001 - fall through to the kill below
        pass
    deadline = time.time() + timeout
    while _alive(started) and time.time() < deadline:
        time.sleep(0.2)
    for pid in _alive(started):
        try:
            os.kill(pid, signal.SIGKILL)
        except OSError:
            pass
    while _alive(started) and time.time() < deadline + 10:
        time.sleep(0.1)


def _alive(pids: list[int]) -> list[int]:
    """The ``pids`` still running; reaps this process's exited children."""
    try:
        while os.waitpid(-1, os.WNOHANG)[0]:
            pass
    except ChildProcessError:
        pass
    out = []
    for pid in pids:
        try:
            with open(f"/proc/{pid}/stat") as f:
                if f.read().rsplit(")", 1)[1].split()[0] != "Z":
                    out.append(pid)
        except (OSError, IndexError):
            pass
    return out


if __name__ == "__main__":
    sys.path[0] = ROOT  # import as the perfbench package, not loose modules
    sys.exit(main())
