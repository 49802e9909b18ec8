"""crawl_resume: a reference-style hook crawl, checkpointed every wave,
run as two legs on fresh engines: stop after the first wave, then
restart from the checkpoint and finish.

Its wall is waves x the fixed per-wave cost: driver planning and py4j,
the driver-local small-wave path, the synchronous snapshot commit, the
resume read and the Arrow boundary of the Python page hooks
(``parse_html`` + ``CSS``). The shuffle-heavy big-wave work is not in it.
"""

from __future__ import annotations

import os
import random
import shutil

from pyspark.sql import functions as F

from spatula_spark import CSS, CrawlConfig, CrawlEngine, PageRegistry
from spatula_spark import html_list_page, json_page
from spatula_spark.plans.pagespec import ChildPage
from spatula_spark.sources.synthweb import SynthWeb, expected_detail_urls
from spatula_spark.urls import canonicalize_url, url_hash

# Sized so one pass is three waves: the list pages, then the details,
# where the budget defers 20 of host 0's 120 (skew 4) to the last wave.
# Host 0 also holds the flaky page (j=96), which exhausts its one retry
# in the last wave, and the HTTP-500 page (j=100).
WEB = dict(n_hosts=4, details_per_host=30, details_per_list=120, skew=4,
           with_errors=True, with_flaky=True)
HOST_BUDGET = 100
# Below the seen count after wave 0, so the resumed waves dedup through
# the broadcast bloom prefilter with the exact confirm join, the regime
# a crawl past the default threshold is always in.
BLOOM_MIN_SEEN = 1
RETRIES = 1  # SynthWeb's flaky pages reject two attempts: never accepted
LEG_WAVES = (1, None)  # stop after wave 0; restart and finish
LIST_CLS, DETAIL_CLS = "HookListPage", "HookDetailPage"
BLOCKED = ("h1.example.com", "/detail/13")  # SynthWeb.robots()


def _detail_child(el, ctx):
    return ChildPage(DETAIL_CLS, source=el.get("href"))


def _next_page(ctx):
    return ctx.next_url


def _accept(ctx):
    return ctx.attempts >= ctx.flaky_rejects


def _detail_item(ctx):
    return {"doc": ctx.json["doc"], "url": ctx.url}


def hook_registry() -> PageRegistry:
    reg = PageRegistry()
    reg.register(html_list_page(
        LIST_CLS, selector=CSS("a.d"), process_item=_detail_child,
        next_source=_next_page,
    ))
    reg.register(json_page(
        DETAIL_CLS, process_page=_detail_item, accept_response=_accept,
        retries=RETRIES, handles_errors=True,
    ))
    return reg


class HostRotation:
    """Renames host ``h{k}`` to ``h{(k + shift) % n}`` so the seed picks
    which host name carries the hot host's pages; URL count is fixed."""

    def __init__(self, n_hosts: int, shift: int):
        self.n, self.shift = n_hosts, shift % n_hosts

    def url(self, u: str) -> str:
        for k in range(self.n):
            u = u.replace(f"//h{k}.example.com", f"//x{self._to(k)}.example.com")
        return u.replace("//x", "//h")

    def _to(self, k: int) -> int:
        return (k + self.shift) % self.n

    def column(self, c):
        for k in range(self.n):
            c = F.regexp_replace(
                c, rf"(?<![A-Za-z0-9])h{k}\.example\.com",
                f"x{self._to(k)}.example.com")
        return F.regexp_replace(
            c, r"(?<![A-Za-z0-9])x([0-9]+)\.example\.com", "h$1.example.com")

    def store(self, df):
        df = df.select(
            self.column(F.col("url")).alias("url"),
            self.column(F.col("host")).alias("host"),
            "kind", "status", "payload_kind",
            self.column(F.col("payload").cast("string"))
            .cast("binary").alias("payload"),
            F.transform("links", self.column).alias("links"),
            self.column(F.col("next_url")).alias("next_url"),
            "image_id", "flaky_rejects",
        )
        return df.withColumn("canon_url", canonicalize_url(F.col("url"))) \
                 .withColumn("url_hash", url_hash(F.col("canon_url")))


class CrawlResume:
    name = "crawl_resume"
    setup_reps = 3

    def __init__(self, spark, tmp: str, seed: int, tracer, trace: bool):
        self.spark, self.tmp, self.tracer = spark, tmp, tracer
        self.trace = trace
        self.web = SynthWeb(**WEB)
        self.rot = HostRotation(self.web.n_hosts, seed)
        order = list(range(self.web.n_hosts))
        random.Random(seed).shuffle(order)
        base = self.web.seeds()
        self.seeds = [
            dict(base[k], page_cls=LIST_CLS, url=self.rot.url(base[k]["url"]),
                 seq=i)
            for i, k in enumerate(order)
        ]
        self.expected = self._expected_items()
        self.store = None
        self.verbose = False
        self._n = 0

    def _expected_items(self) -> set[str]:
        """Reachable details minus robots-blocked, HTTP-500 and flaky
        (rejected after their retries) pages."""
        w = self.web
        errors = {
            f"http://h{k}.example.com/detail/{j}"
            for k in range(w.n_hosts)
            for j in range(w.offsets[k + 1] - w.offsets[k])
            if j % 101 == 100 or j % 97 == 96
        }
        out = {self.rot.url(u) for u in expected_detail_urls(w) - errors}
        host, prefix = BLOCKED
        return {u for u in out if not u.startswith(f"http://{host}{prefix}")}

    # ------------------------------------------------------------ inputs
    def build_inputs(self) -> None:
        if self.store is not None:
            self.store.unpersist()
        with self.tracer.span("synthweb.page_store"):
            self.store = self.rot.store(self.web.page_store(self.spark))
            self.store.persist().count()
        self.robots = self.web.robots(self.spark)

    def _engine(self, ckpt: str, max_waves: int | None):
        return CrawlEngine(
            self.spark, hook_registry(), page_store=self.store,
            robots=self.robots,
            config=CrawlConfig(
                host_budget_per_wave=HOST_BUDGET, checkpoint_dir=ckpt,
                bloom_min_seen=BLOOM_MIN_SEEN,
                max_waves=max_waves, verbose=self.verbose, fail_fast=False,
                spill_dir=self._dir("spill"),
            ),
        )

    def _dir(self, kind: str) -> str:
        self._n += 1
        return os.path.join(self.tmp, f"{kind}-{self._n}")

    def setup(self) -> None:
        self.build_inputs()
        self.verbose = self.trace  # wave stamps for the traced window

    # ------------------------------------------------------------ passes
    def warm(self) -> dict:
        """One untimed pass: the same two legs on the warm-up's own
        inputs, so both the crawl and the resume path are warm."""
        self.build_inputs()
        r = self.run_pass()
        return {"errors": self.check(r), "ops": r["ops"]}

    def run_pass(self) -> dict:
        """Each leg is a start or restart: a fresh engine (its
        construction is part of the cost) crawling from the checkpoint.
        resume_s runs from the restart to the commit of its first wave's
        snapshot manifest (written last, so the wave is durable)."""
        ckpt = self._dir("ckpt")
        legs, engines = [], []
        for i, max_waves in enumerate(LEG_WAVES):
            with self.tracer.span("crawl.leg", leg=i) as sp:
                eng = self._engine(ckpt, max_waves)
                engines.append(eng)
                res = eng.crawl(self.seeds)
            legs.append({"waves": res.waves, "span": sp["id"]})
        manifest = os.path.join(ckpt, f"wave={LEG_WAVES[0]}", "MANIFEST.json")
        resume_s = os.stat(manifest).st_mtime - self.tracer.spans[
            legs[1]["span"]]["start"]
        return {
            "legs": legs, "ops": len(legs), "resume_s": resume_s,
            "ckpt_b": _dir_bytes(ckpt),
            "ckpt_files": _dir_files(ckpt),
            # a resumed crawl's metrics carry the waves of earlier legs
            "fetched": int(res.metrics["fetched"].sum()),
            "final_metrics": res.metrics, "result": res, "engines": engines,
        }

    # ------------------------------------------------------------ checks
    def check(self, r: dict) -> list[str]:
        """Output checks of a finished pass (untimed); frees its scratch.
        They are joined into one error: a bad result fails one leg."""
        res, engines = r.pop("result"), r.pop("engines")
        errors = self._check(res, self._items(res))
        errors = ["; ".join(errors)] if errors else []
        r["seen_keys"] = res.seen.count()
        spills = [e.config.spill_dir for e in engines]
        r["scratch_b"] = sum(_dir_bytes(d) for d in spills)
        for d in spills:
            shutil.rmtree(d, ignore_errors=True)
        return errors

    def _items(self, res) -> list[str]:
        rows = res.results.filter(F.col("page_cls") == DETAIL_CLS).select(
            F.get_json_object("item_json", "$.url").alias("u")).collect()
        return sorted(r["u"] for r in rows)

    def _check(self, res, items: list[str]) -> list[str]:
        """The closed-form item set is what an uninterrupted crawl of
        this web yields, so equality also shows that the restart lost
        and repeated nothing."""
        errors = []
        if len(set(items)) != len(items):
            errors.append(f"{len(items) - len(set(items))} duplicate items")
        if set(items) != self.expected:
            errors.append(
                f"item urls: {len(set(items))} got, {len(self.expected)} "
                f"expected, {len(set(items) ^ self.expected)} differ")
        paths = [r["path"] for r in res.ordered().select("path").collect()]
        if any(a >= b for a, b in zip(paths, paths[1:])):
            errors.append("ordered() paths not strictly increasing")
        return errors

    def close(self) -> None:
        if self.store is not None:
            self.store.unpersist()


def _dir_bytes(d: str) -> int:
    return sum(
        os.path.getsize(os.path.join(r, f))
        for r, _, fs in os.walk(d) for f in fs
    )


def _dir_files(d: str) -> int:
    return sum(len(fs) for _, _, fs in os.walk(d))
