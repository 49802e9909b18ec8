"""Tests of the benchmark's own arithmetic and bookkeeping.

    python3 -m pytest perfbench -q

The digest tests start a local Spark session; everything else is pure.
"""

from __future__ import annotations

import json
import os

import pytest

from perfbench import spans as S

HERE = os.path.dirname(os.path.abspath(__file__))


# ------------------------------------------------------------ intervals


def test_union_merges_overlapping_nested_and_touching():
    assert S.union_intervals([(5, 6), (1, 3), (2, 4), (2.5, 3), (4, 4.5)]) \
        == [(1, 4.5), (5, 6)]
    assert S.union_intervals([(3, 3), (2, 1)]) == []  # empty / reversed


def test_covered_clips_to_window():
    jobs = [(-5, 1), (2, 4), (3, 6), (9, 20)]
    assert S.covered(jobs, 0, 10) == pytest.approx(1 + 4 + 1)


def test_driver_gap_plus_job_union_is_the_window():
    jobs = [(1, 3), (2, 4), (6, 7), (12, 13)]
    gap = S.driver_gap(0, 10, jobs)
    assert gap == pytest.approx(10 - 4)
    assert gap + S.covered(jobs, 0, 10) == pytest.approx(10)


def test_job_metrics_unions_jobs_and_counts_each_stage_once():
    stage = {"id": 7, "status": "COMPLETE", "tasks": 4, "run_s": 2.0,
             "cpu_s": 1.0, "shuffle_write_b": 2_000_000,
             "shuffle_read_b": 0, "spill_b": 0, "input_b": 0,
             "output_b": 1_000_000}
    jobs = [
        {"start": 1.0, "end": 3.0, "stage_data": [stage]},
        {"start": 2.0, "end": 5.0, "stage_data": [stage]},  # shared stage
        {"start": 6.0, "end": 7.0, "stage_data": []},
    ]
    m = S.job_metrics(jobs, 0.0, 10.0)
    assert m["jvm.job_s"] == pytest.approx(5.0)
    assert m["driver.gap_s"] == pytest.approx(5.0)
    assert m["jvm.jobs"] == 3
    assert m["jvm.tasks"] == 4
    assert m["jvm.task_s"] == pytest.approx(2.0)
    assert m["jvm.shuffle_write_mb"] == pytest.approx(2.0)
    assert m["io.write_job_s"] == pytest.approx(4.0)  # only writing jobs


def test_unattributed_time_counts_jobs_outside_the_groups():
    def job(a, b):
        return {"start": a, "end": b, "stage_data": []}

    mine = [job(1, 3), job(6, 7)]
    other_thread = job(2, 5)  # overlaps an attributed job for 1 s
    before = job(-3, 0.5)     # ends before the leg starts
    everything = mine + [other_thread, before]
    assert S.unattributed_s(everything, mine, 1, 10) == pytest.approx(2)
    assert S.unattributed_s(mine, mine, 1, 10) == 0
    # the missed job is not driver gap: wall = gap + union + missed
    m = S.job_metrics(mine, 1, 10, every=everything)
    assert m["driver.gap_s"] == pytest.approx(9 - 5)
    assert m["jvm.job_s"] == pytest.approx(3)
    assert m["jvm.unattributed_s"] == pytest.approx(2)
    assert S.job_metrics(mine, 1, 10)["jvm.unattributed_s"] == 0


# ---------------------------------------------------------------- spans


def _span(i, parent, start, end):
    return {"id": i, "parent": parent, "start": start, "end": end,
            "name": f"s{i}"}


def test_self_time_subtracts_union_of_children():
    spans = [
        _span(0, None, 0, 10),
        _span(1, 0, 1, 4),
        _span(2, 0, 3, 6),   # overlaps its sibling
        _span(3, 1, 1, 2),   # grandchild: counts against span 1 only
    ]
    st = S.self_times(spans)
    assert st[0] == pytest.approx(10 - 5)
    assert st[1] == pytest.approx(3 - 1)
    assert st[2] == pytest.approx(3)
    assert st[3] == pytest.approx(1)


def test_tracer_nests_spans_and_finds_descendants():
    t = S.Tracer("t")
    with t.span("a"):
        with t.span("b"):
            with t.span("c"):
                pass
        with t.span("d"):
            pass
    with t.span("e"):
        pass
    assert [s["parent"] for s in t.spans] == [None, 0, 1, 0, None]
    assert t.descendants(1) == {1, 2}
    assert t.descendants(0) == {0, 1, 2, 3}
    assert all(s["trace_id"] == "t" and s["end"] >= s["start"]
               for s in t.spans)


# ---------------------------------------------------------- percentiles


@pytest.mark.parametrize("n,want", [
    (0, None), (19, None), (20, 50.0), (99, 50.0), (100, 90.0),
    (999, 90.0), (1000, 99.0), (10_000, 99.9),
])
def test_tail_percentile_needs_ten_samples_beyond(n, want):
    assert S.tail_percentile(n) == want


def test_percentile_nearest_rank():
    xs = list(range(1, 101))
    assert S.percentile(xs, 50) == 50
    assert S.percentile(xs, 90) == 90
    assert S.percentile([3.0], 99) == 3.0


# ------------------------------------------------------- layer map / json


def test_benchmark_json_lists_exactly_the_layer_map():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bench = json.load(f)
    with open(os.path.join(HERE, "layers.json")) as f:
        layers = json.load(f)["metrics"]
    assert {m["name"]: (m["unit"], m["better"]) for m in bench["per_layer"]} \
        == {k: (v["unit"], v["better"]) for k, v in layers.items()}
    names = [m["name"] for m in bench["end_to_end"] + bench["per_layer"]]
    assert len(names) == len(set(names))


def test_crawl_expected_items_follow_the_host_rotation():
    crawl = pytest.importorskip("perfbench.crawl")
    a = crawl.CrawlResume.__new__(crawl.CrawlResume)
    sizes = set()
    for shift in range(4):
        a.web = crawl.SynthWeb(**crawl.WEB)
        a.rot = crawl.HostRotation(4, shift)
        exp = a._expected_items()
        sizes.add(len(exp))
        hot = f"h{shift}.example.com"
        assert sum(hot in u for u in exp) > sum(
            f"h{(shift + 1) % 4}.example.com" in u for u in exp)
    # 120 + 3 x 30 details, minus one robots-blocked, one HTTP-500 and
    # one flaky page, whichever host name carries them
    assert sizes == {210 - 3}


# -------------------------------------------------------------- digests


@pytest.fixture(scope="module")
def spark():
    pytest.importorskip("pyspark")
    from pyspark.sql import SparkSession

    s = (SparkSession.builder.master("local[2]")
         .config("spark.ui.enabled", "false")
         .config("spark.sql.shuffle.partitions", "2").getOrCreate())
    yield s
    s.stop()


def test_digest_ignores_row_order_partitioning_and_float_noise(spark):
    from perfbench.battery import digest

    rows = [(i, f"w{i % 7}", i * 0.1, [0.1 * i, 0.2]) for i in range(200)]
    schema = "id long, w string, x double, v array<double>"
    a = spark.createDataFrame(rows, schema)
    b = spark.createDataFrame(list(reversed(rows)), schema).repartition(5)
    noisy = spark.createDataFrame(
        [(i, w, x + 1e-12, v) for i, w, x, v in rows], schema)
    d = digest(a)
    assert d["rows"] == 200
    assert digest(b) == d
    assert digest(noisy) == d
    changed = spark.createDataFrame([(0, "other", 0.0, [0.0, 0.2])] + rows[1:],
                                    schema)
    assert digest(changed) != d
