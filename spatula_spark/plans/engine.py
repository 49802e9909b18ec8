"""The iterative frontier engine (wave driver).

This replaces the reference's recursive interpreter ``_to_items``
(``/root/reference/src/spatula/pages.py:206-244``): where the reference
keeps the frontier on the Python call stack and visits pages depth-first
one at a time, this engine keeps it in a DataFrame and processes one
**wave** (BFS generation) per iteration:

    seeds
      └─ wave k:
           politeness select (hot-host-only ranking window; overflow
             rides the emissions stream as 'deferred')
           robots filter (compiled CASE / broadcast-join fallback)
           URL-seen dedup (bloom prefilter -> exact check) keyed on
             page identity seen_key = (page_cls, url_hash, input)
           in-wave first-wins dedup (min_by path per (url_hash, seen_key))
           fetch = broadcast-frontier probe of the page-store on
             xxhash64(canon url) (shuffle join above broadcast_fetch_max)
           per-class transform, exactly one pass per row:
             * native specs -> pure Catalyst column exprs (JVM only)
             * hook specs   -> one Arrow mapInPandas dispatch (emits
               its own fetched markers — no shared batch cache)
           ONE parquet snapshot per wave carries every emission kind;
             the next frontier is a narrow filter over it
           seen ∪= fetched keys;  metrics via Observation;  checkpoint

Depth-first emission order is reconstructed, not executed: every row
carries a lexicographically sortable lineage ``path`` (schemas.py), and
``CrawlResult.ordered()`` = ``orderBy(path)`` equals the reference's
exact item sequence (golden tests mirror
``tests/test_page_base.py:185-191,213-239,242-308``).

Semantics matrix carried over from the reference:

* retry-until-accepted: rejected rows requeue with ``attempts+1`` into
  the next wave until ``retries+1`` attempts, then ``RejectedResponse``
  (pages.py:168-195) — requeues bypass the seen-set.
* handled fetch error => no items, **pagination still runs**
  (pages.py:210-215); unhandled => dead letter / fail-fast
  (pages.py:298-304 default re-raise).
* ``SkipItem`` in a detail page => page emits nothing and does **not**
  paginate (pages.py:218-222); ``SkipItem`` per list item => item
  dropped, siblings + pagination continue (pages.py:436-445).
* dependencies fetched once and shared (pages.py:133,141-155) — the
  dep result is computed driver-side once and closure-broadcast into
  the transform (the reference's ``_cached_dependencies``).
* scout mode projects each result to ``{data, __next__}`` without
  following children but following pagination (pages.py:19-30,225-244);
  projection is a native expression over the emissions.

Scale notes (the part that must survive 100 TB / 10^10 URLs):

* Per wave the only full-frontier shuffle is the slim dedup aggregate
  on (url_hash, seen_key); the seen check reuses that exchange, and
  the fetch broadcasts the frontier against the page store in place —
  payload bytes are NEVER shuffled (waves above broadcast_fetch_max
  fall back to a bucketed shuffle join).
* Politeness ranks only the hosts a count-aggregate proves over
  budget; cold hosts bypass the sort via a broadcast hash join. Hot
  hosts in the real-HTTP fetch path are salt-split on
  (host, xxhash64(url)); AQE skew-join handles residue.
* ONE parquet snapshot per wave (the Iceberg-commit pattern) cuts the
  iterative lineage; frontier/results/seen/dead are all narrow views
  over it.
* The seen-set check never shuffles the full frontier: the broadcast
  Bloom tier answers "definitely unseen" locally; only the
  "maybe seen" sliver (FPR-bounded) needs the exact table.
* payload ``bytes`` columns exist only between the fetch and the
  one-pass transform; frontier/results/seen stay slim, and nothing
  payload-heavy is ever cached (the wave streams it).
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field
from typing import Any, Callable

import pandas as pd
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from .. import schemas
from . import native as N
from ..operators import politeness as politeness_ops
from ..operators import seen as seen_ops
from ..operators.parsers import UnsupportedDocumentError
from ..session import scoped_conf
from ..urls import canonicalize_url, host_of, url_hash
from .pagespec import (
    ChildPage,
    HandledError,  # noqa: F401  (public API re-export)
    MissingSourceError,
    NullSource,
    PageCtx,
    PageRegistry,
    PageSpec,
    SkipItem,
    URL,
    dump_input,
    load_input,
    obj_to_dict,
)

# Ceiling on payload rows per wave-coalesce partition. The wave
# snapshot's coalesce() collapses the fetch+decode+write stage to
# the wave's partition count, so this — not the core count — is what
# bounds per-task Arrow/python/parquet memory on payload-bearing waves.
_WAVE_ROWS_PER_PART = 1 << 16

# seen-set Bloom tier: shard count and target FPR at design capacity
# (per-shard capacity is CrawlConfig.bloom_shard_capacity); the filter
# re-shards 4x wider once inserted keys pass that capacity
_BLOOM_SHARDS = 16
_BLOOM_FPR = 1e-3
# per-host salt width of the real-HTTP fetch's repartition
_SALT_BUCKETS = 8

_EMISSION_OUT_SCHEMA = ", ".join(f"{n} {t}" for n, t in N.EMISSION_FIELDS)
_EMISSION_COLS = [n for n, _ in N.EMISSION_FIELDS]
_EMIT_KINDS = ("item", "child", "next", "requeue", "skip_item",
               "skip_page", "handled_error", "error", "reject",
               "fetched", "blocked", "deferred")


class CrawlError(Exception):
    pass


@dataclass
class CrawlConfig:
    max_waves: int | None = None
    # politeness: per-wave per-host budget; None disables (reference's
    # global --rpm generalized per-host, cli.py:33)
    host_budget_per_wave: int | None = None
    use_bloom: bool = True
    # fixed per-shard capacity (blob size is set once; OR-merge keeps
    # it constant). 256k hashes/shard ≈ 460 KB/shard at fpr 1e-3; a
    # 10^10-URL deployment raises capacity (docs in seen.py).
    bloom_shard_capacity: int = 1 << 18
    # below this many seen URLs the broadcast-bloom prefilter costs
    # more than the plain anti-join it saves (measured: the per-wave
    # blob broadcast + python UDF outweigh a sub-100k-row anti-join)
    bloom_min_seen: int = 100_000
    fail_fast: bool = True
    checkpoint_dir: str | None = None
    # real-Iceberg snapshot backend: "catalog.namespace.name" table
    # prefix; takes precedence over checkpoint_dir's parquet-manifest
    # analogue when a catalog is configured (plans/iceberg.py). The
    # compaction/expiry/rollback knobs below apply to the analogue;
    # on Iceberg they map to stock catalog procedures.
    iceberg_table_prefix: str | None = None
    # Iceberg-style snapshot compaction: every K committed seen DELTAS,
    # the checkpoint rewrites the accumulated seen set as one
    # ``seen_base`` under the current wave (manifest-flagged), so
    # resume reads ONE base + at most K-1 deltas instead of every
    # wave's delta since the crawl began — a 1000-wave crawl at
    # 10^10-URL scale would otherwise fan in 1000 small parquet dirs.
    # LSM-style tradeoff: compaction costs one O(|seen|) rewrite per K
    # waves; K trades resume fan-in against rewrite amortization.
    # 0 disables (every delta kept live forever, pre-compaction shape).
    checkpoint_compact_every: int = 16
    # durable-snapshot cadence: commit the wave checkpoint every K
    # waves (1 = every wave, the round-4 behavior). Between durable
    # waves the engine keeps only its scratch-parquet lineage cuts
    # (session-local, already paid for) and ACCUMULATES the item/seen
    # deltas; the checkpoint wave writes their union since the last
    # durable wave, so the snapshot chain stays complete and resume
    # replays at most K-1 waves. This is the commit-IO knob the
    # round-4 late-session band collapse pointed at: on a shared/
    # degraded store, K>1 divides the per-wave snapshot-write exposure
    # by K at the price of K-1 waves of recovery recompute.
    checkpoint_every: int = 1
    # overlap the durable snapshot write with the next wave's compute:
    # the checkpoint job runs on ONE background thread over the wave's
    # already-materialized scratch parquet (immutable until crawl
    # end), so manifest-last atomicity is untouched; the loop joins
    # the in-flight write before starting the next one and before
    # crawl() returns. Hides snapshot-commit latency behind the next
    # wave's politeness/dedup/fetch stages instead of serializing it.
    checkpoint_async: bool = False
    # snapshot expiry (Iceberg expire_snapshots analogue): after a
    # successful compaction, delete the seen deltas and older bases the
    # new base supersedes. Keeps seen storage at ~1x instead of 2x (+
    # one full copy per retained base); the tradeoff is that rollback
    # to a wave older than the latest base becomes impossible — resume
    # detects the gap via the manifests' has_delta flags and raises
    # instead of silently rebuilding an incomplete seen set.
    checkpoint_expire_deltas: bool = False
    # time-travel resume (Iceberg rollback_to_snapshot analogue):
    # resume from the wave=N snapshot even when later snapshots exist.
    # Later wave dirs are DELETED at resume so the replayed timeline is
    # linear — without the rollback a subsequent resume would pick up
    # stale post-N state from the abandoned branch. None = latest.
    resume_upto_wave: int | None = None
    target_partitions: int | None = None  # defaults to shuffle partitions
    verbose: bool = False  # per-wave step timings to stderr
    # scratch dir of the per-wave parquet lineage cuts (default: a fresh
    # mkdtemp per crawl). The caller owns it: the lazy CrawlResult
    # DataFrames read from it, so the engine never removes it.
    spill_dir: str | None = None
    # small-wave driver materialization: when the fan-out-aware size
    # estimate (max of this wave's frontier and the previous wave's
    # total emissions) is at or below this, the wave's slim emission
    # rows are collect()ed and re-planted as a LocalRelation instead of
    # the parquet write+read — the BFS-tail analogue of AQE's
    # local-shuffle-read: deep chains (pagination tails, tree crawls)
    # stop paying the ~1s/wave spill round-trip, while big waves keep
    # the cluster path untouched. Emission rows are payload-free
    # (~200 B), so the cap bounds driver memory at a few MB. Wave 0
    # never takes this path (no fan-out history to estimate with — a
    # seed wave of list pages can explode 1000x). 0 disables.
    driver_wave_max: int = 20_000
    # fetch-join strategy: waves at or below this row count broadcast
    # the slim frontier side against the page store IN PLACE — the
    # payload-heavy store is never shuffled and the decode/transform
    # stage runs at the store's own partitioning. Bigger waves fall
    # back to the classic shuffle join against a url_hash-partitioned
    # store copy. None (default) derives the cap from a MEMORY BUDGET:
    # 10% of spark.driver.memory at ~150 B/row slim frontier — a fixed
    # 4M-row default OOM'd at Spark's stock 1 GiB driver (the round-2
    # scaling runs had to set 48g); the budget rule gives ~700k rows at
    # 1 GiB and ~17M at 24 GiB, scaling with what the deployment
    # actually provisioned. Set an int to pin it explicitly.
    broadcast_fetch_max: int | None = None
    # the 404 anti-join's store-keys broadcast is O(|store|), not
    # O(wave): above this many store rows, derive "missing" via a
    # shuffle anti-join against the url_hash-partitioned keys-only
    # store copy instead (frontier side is wave-sized; the store side
    # reuses its bucketing, key column pruned)
    broadcast_store_keys_max: int = 4_000_000


_MEM_SUFFIX = {"k": 1 << 10, "m": 1 << 20, "g": 1 << 30, "t": 1 << 40}


def _parse_jvm_mem(s: str) -> int:
    """'24g' / '4096m' / raw bytes -> bytes (JVM -Xmx spelling)."""
    s = s.strip().lower().removesuffix("b")
    if s and s[-1] in _MEM_SUFFIX:
        return int(float(s[:-1]) * _MEM_SUFFIX[s[-1]])
    return int(s)


def _broadcast_rows_budget(
    spark: SparkSession, frac: float = 0.10, row_bytes: int = 150
) -> int:
    """Rows of slim frontier a broadcast may hold: ``frac`` of the
    driver heap at ~``row_bytes``/row (url + path + input_json +
    hash-relation overhead). In cluster mode the broadcast also lands
    on every executor, so the tighter of driver/executor heap rules."""
    mems = []
    for key in ("spark.driver.memory", "spark.executor.memory"):
        try:
            mems.append(_parse_jvm_mem(spark.conf.get(key)))
        except Exception:
            pass
    heap = min(mems) if mems else 1 << 30  # Spark's stock 1 GiB
    return max(10_000, int(heap * frac) // row_bytes)


@dataclass
class CrawlResult:
    results: DataFrame
    dead: DataFrame
    seen: DataFrame
    metrics: pd.DataFrame
    waves: int

    def ordered(self) -> DataFrame:
        """Results in the reference's exact DFS emission order."""
        return self.results.orderBy("path")

    def items(self) -> list[Any]:
        """Driver-side ordered item values (test/parity helper)."""
        return [json.loads(r["item_json"]) for r in self.ordered().collect()]


@dataclass
class _CrawlState:
    """What one ``crawl()`` call owns, handed to its phase methods —
    no per-crawl state lives on the engine."""

    spill: str  # scratch dir of the wave lineage cuts
    scout: bool  # scout projection; children not followed
    frontier: DataFrame
    # seed lists are built with attempts=0; DataFrame seeds or a resume
    # may carry in-flight requeues, so the dedup splits them off. Later
    # waves know from the previous wave's requeue/deferred tallies.
    requeues_possible: bool
    # driver-resident twin of the seen set (exact (url_hash, seen_key)
    # pairs) — alive while every wave's new keys were small enough to
    # land on the driver; enables the zero-shuffle small-wave dedup.
    # Killed (None) the moment a wave outgrows it; cluster dedup takes
    # over seamlessly.
    py_seen: set[tuple[int, int]] | None
    bloom: seen_ops.ShardedBloom | None
    ice: Any = None  # IcebergSnapshots when iceberg_table_prefix is set
    wave: int = 0
    start_wave: int = 0
    tick_at: float = 0.0  # last verbose stamp
    spill_n: int = 0
    seen_slices: list[DataFrame] = field(default_factory=list)
    seen_count: int = 0
    # previous wave's frontier rows when that wave landed on the driver
    # (tuples in FRONTIER_SCHEMA order)
    frontier_rows: list[tuple] | None = None
    # previous wave's total emission count: the fan-out-aware estimate
    # of this wave's output (None before the first wave)
    prev_emissions: int | None = None
    results: list[DataFrame] = field(default_factory=list)
    dead: list[DataFrame] = field(default_factory=list)
    metrics_rows: list[dict] = field(default_factory=list)
    # item/seen deltas since the last durable checkpoint, and the
    # in-flight async commit
    ckpt_items: list[DataFrame] = field(default_factory=list)
    ckpt_seen: list[DataFrame] = field(default_factory=list)
    ckpt_future: Any = None
    ckpt_pool: ThreadPoolExecutor | None = None


@dataclass
class _Wave:
    """One wave's working set, passed from phase to phase."""

    n_frontier: int  # rows entering the wave (sizes the fetch join)
    est: int  # fan-out-aware size of the wave's output
    parts: int  # coalesce width of a cluster-landed wave
    local: bool = False  # scheduled by the driver-side dedup
    rows: list[tuple] = field(default_factory=list)  # local: to fetch
    null_rows: list[tuple] = field(default_factory=list)  # local: no URL
    fetchable: DataFrame | None = None  # cluster: deduped rows to fetch
    nullsrc: DataFrame | None = None  # cluster: rows with no URL
    blocked: DataFrame | None = None  # robots-disallowed rows
    deferred: DataFrame | None = None  # rows over the politeness budget
    emissions: DataFrame | None = None
    lrows: list | None = None  # emission rows landed on the driver
    counts: dict[str, int] = field(default_factory=dict)
    n_next: int = 0  # next frontier's row count
    new_seen: DataFrame | None = None
    items: DataFrame | None = None

    @property
    def noop(self) -> bool:
        """Driver-side dedup found every candidate already seen."""
        return self.local and not self.rows and not self.null_rows


def _hex_path(parent: str, slot: str, idx: int) -> str:
    return f"{parent}{slot}{idx:08x}"


def _resolve_child_source(
    spec: PageSpec, child: ChildPage
) -> tuple[str | None, bool]:
    """(url, is_null_source) with the reference's precedence:
    ctor arg > class attr > get_source_from_input (pages.py:157-166)."""
    src = child.source
    if src is None:
        src = spec.source
    if src is None and spec.source_from_input is not None:
        src = spec.source_from_input(child.input)
    if src is None:
        raise MissingSourceError(
            f"{spec.name} has no source or source_from_input"
        )
    if isinstance(src, NullSource):
        return None, True
    if isinstance(src, URL):
        return src.url, False
    return str(src), False


class _SkippedType:
    """Pickle-stable sentinel: cloudpickle captures nested-closure
    globals by value, so a bare ``object()`` sentinel would compare by
    identity against a different copy on the worker. ``__reduce__``
    pins deserialization to the singleton."""

    _instance = None

    def __new__(cls):
        if cls._instance is None:
            cls._instance = super().__new__(cls)
        return cls._instance

    def __reduce__(self):
        return (_SkippedType, ())


_SKIPPED = _SkippedType()


def _run_process(spec: PageSpec, ctx: PageCtx) -> list[Any]:
    """Run the page's processing hook, normalizing the reference's
    result-kind dispatch (scalar | Page | generator, pages.py:225-241)
    to a flat list."""
    if (
        spec.items_fn is not None
        or spec.selector is not None
        or spec.process_item is not None
    ):
        # ListPage semantics (pages.py:425-445)
        if spec.items_fn is not None:
            items = list(spec.items_fn(ctx))
        elif ctx.payload_kind == "csv":
            items = ctx.csv_rows
        elif ctx.payload_kind == "json":
            items = ctx.json if isinstance(ctx.json, list) else [ctx.json]
        elif ctx.payload_kind == "excel":
            from ..operators.parsers import parse_excel

            items = parse_excel(ctx.payload)
        elif spec.selector is not None:
            items = spec.selector.match(ctx.root)
        else:
            items = []
        out = []
        for item in items:
            if spec.process_item is None:
                out.append(item)
                continue
            try:
                out.append(spec.process_item(item, ctx))
            except SkipItem:
                out.append(_SKIPPED)
        return out
    if spec.process_page is None:
        return []
    result = spec.process_page(ctx)
    if result is None:
        return []
    if isinstance(result, (list, tuple)) or hasattr(result, "__next__"):
        return list(result)
    return [result]


def _make_transform(
    specs: dict[str, PageSpec], dep_values: dict[str, dict[str, Any]]
) -> Callable:
    """Build the mapInPandas body for hook-based specs: one dispatch
    over page_cls, single pass, emissions out. User hooks run here,
    Arrow-batched (same per-row semantics as the reference's hooks,
    amortized transfer)."""

    def _process_one(spec: PageSpec, row) -> list[tuple]:
        rows: list[tuple] = []
        parent_path = row.path
        attempts = int(row.attempts)
        if row.url is not None and attempts == 0:
            # fetched marker (seen-set source) emitted HERE so hook-class
            # rows are consumed in a single pass — no shared batch cache
            rows.append((
                "fetched", row.page_cls, parent_path, None, None, None,
                None, int(row.priority), int(row.page_seq), 0, None,
                int(row.url_hash), int(row.seen_key),
            ))
        payload = bytes(row.payload) if row.payload is not None else None
        links = list(row.links) if row.links is not None else None
        inp = load_input(row.input_json)
        extra_deps = {}
        if isinstance(inp, dict):
            # per-input dependency results ride reserved input keys
            # (PageRegistry._rewrite_per_input_deps); lift into deps
            pfx = PageRegistry.DEP_INPUT_PREFIX
            for k in [k for k in inp if k.startswith(pfx)]:
                extra_deps[k[len(pfx):]] = inp.pop(k)
        ctx = PageCtx(
            input=inp,
            url=row.url,
            status=int(row.status),
            payload=payload,
            links=links,
            next_url=row.next_url,
            attempts=attempts,
            page_seq=int(row.page_seq),
            payload_kind=spec.page_kind or row.payload_kind,
            image_id=row.image_id,
            flaky_rejects=int(row.flaky_rejects or 0),
            deps={**dep_values.get(spec.name, {}), **extra_deps},
            pdf_preserve_layout=spec.preserve_layout,
        )

        def paginate() -> None:
            if spec.next_source is None:
                return
            nxt = spec.next_source(ctx)
            if nxt is None:
                return
            if isinstance(nxt, NullSource):
                url = None
            else:
                url = nxt.url if isinstance(nxt, URL) else str(nxt)
            rows.append((
                "next", row.page_cls,
                _hex_path(parent_path, schemas.SLOT_PAGINATION,
                          int(row.page_seq) + 1),
                None, spec.name, url, row.input_json,
                int(row.priority), int(row.page_seq) + 1, 0, None,
            ))

        # ---- fetch-outcome gates (reference _fetch_data, pages.py:135-195)
        fetch_failed = (not row.found) or int(row.status) >= 400
        if row.url is not None and fetch_failed:
            if spec.handles_errors:
                # HandledError: nothing to emit, but pagination still
                # runs (pages.py:210-215)
                paginate()
                rows.append(("handled_error", row.page_cls, parent_path,
                             None, None, None, None, int(row.priority),
                             int(row.page_seq), 0,
                             f"status={row.status} found={row.found}"))
            else:
                rows.append(("error", row.page_cls, parent_path, None, None,
                             None, None, int(row.priority),
                             int(row.page_seq), 0,
                             f"HTTP error status={row.status} url={row.url}"))
            return rows

        if spec.accept_response is not None and row.url is not None:
            if not spec.accept_response(ctx):
                if attempts + 1 < spec.total_attempts():
                    rows.append(("requeue", row.page_cls, parent_path, None,
                                 spec.name, row.url, row.input_json,
                                 int(row.priority), int(row.page_seq),
                                 attempts + 1, None))
                else:
                    rows.append(("reject", row.page_cls, parent_path, None,
                                 None, None, None, int(row.priority),
                                 int(row.page_seq), attempts,
                                 f"RejectedResponse after "
                                 f"{spec.total_attempts()} attempts: {row.url}"))
                return rows

        # ---- process (reference process_page / ListPage loop)
        try:
            results = _run_process(spec, ctx)
        except UnsupportedDocumentError as e:
            # document shape the parser stack can't decode (LZW PDF,
            # unknown encoding, non-zip xlsx, malformed XML/JSON):
            # dead-letter with the reason instead of a silent empty
            # parse or an opaque task failure — user-code exceptions
            # still propagate (fail-fast semantics unchanged)
            rows.append(("error", row.page_cls, parent_path, None, None,
                         None, None, int(row.priority), int(row.page_seq),
                         0, f"parse_error: {e}"))
            return rows
        except SkipItem as e:
            # detail-page skip: nothing emitted, NO pagination
            # (pages.py:218-222)
            rows.append(("skip_page", row.page_cls, parent_path, None, None,
                         None, None, int(row.priority), int(row.page_seq),
                         0, str(e)))
            return rows

        idx = 0
        for res in results:
            if isinstance(res, _SkippedType):
                rows.append(("skip_item", row.page_cls, parent_path, None,
                             None, None, None, int(row.priority),
                             int(row.page_seq), 0, "SkipItem"))
                continue
            if isinstance(res, ChildPage):
                child_spec = specs[res.page_cls]
                child_url, _is_null = _resolve_child_source(child_spec, res)
                pr = (
                    res.priority if res.priority is not None
                    else int(row.priority)
                )
                rows.append((
                    "child", row.page_cls,
                    _hex_path(parent_path, schemas.SLOT_CHILD, idx),
                    None, res.page_cls, child_url,
                    dump_input(res.input), pr, 0, 0, None,
                ))
            else:
                rows.append((
                    "item", row.page_cls,
                    _hex_path(parent_path, schemas.SLOT_CHILD, idx),
                    json.dumps(obj_to_dict(res), sort_keys=True),
                    None, None, None, int(row.priority),
                    int(row.page_seq), 0, None,
                ))
            idx += 1

        paginate()
        return rows

    def transform(batches):
        for pdf in batches:
            out: list[tuple] = []
            for row in pdf.itertuples(index=False):
                out.extend(
                    t if len(t) == len(_EMISSION_COLS) else t + (None, None)
                    for t in _process_one(specs[row.page_cls], row)
                )
            res = pd.DataFrame(out, columns=_EMISSION_COLS)
            # the hash columns mix int64 with None: a plain DataFrame
            # coerces them to float64, silently rounding away the low
            # bits of any |hash| > 2^53 (~99% of xxhash64 values) and
            # breaking the cross-wave seen-set exactly-once guarantee
            # for hook classes. Rebuild them as exact nullable Int64.
            res["url_hash"] = pd.array(
                [t[11] for t in out], dtype="Int64")
            res["seen_key"] = pd.array(
                [t[12] for t in out], dtype="Int64")
            yield res

    return transform


class CrawlEngine:
    def __init__(
        self,
        spark: SparkSession,
        registry: PageRegistry,
        page_store: DataFrame | None = None,
        robots: DataFrame | None = None,
        politeness: DataFrame | None = None,
        config: CrawlConfig | None = None,
        fetch_fn=None,
    ):
        # fetch_fn: optional mapInPandas body replacing the page-store
        # join with real network fetches (sources/http_fetch.py) —
        # identical output schema, identical downstream wave
        self.fetch_fn = fetch_fn
        self.spark = spark
        self.registry = registry
        self.robots = robots
        # compile small robots rule sets ONCE into a Catalyst CASE
        # expression (politeness.robots_allow_expr); collecting the
        # rules per wave would cost one job each
        self._robots_rules = None
        self._robots_join = False
        self._robots_prefix_df = None
        self._robots_wild = None
        if robots is not None:
            rows = robots.limit(
                politeness_ops.ROBOTS_EXPR_MAX_RULES + 1
            ).collect()
            if len(rows) > politeness_ops.ROBOTS_EXPR_MAX_RULES:
                # oversized rule set: the CASE expression would silently
                # truncate to an arbitrary subset; use the broadcast-join
                # longest-match path per wave instead. Wildcard rules
                # are split out ONCE here (they ride a compiled
                # expression on top of the prefix join — collecting
                # them per wave would cost a job each).
                self._robots_join = True
                self._robots_prefix_df, self._robots_wild = (
                    politeness_ops.split_robots_rules(robots)
                )
            else:
                self._robots_rules = [
                    (r["host"], r["path_prefix"], bool(r["allow"]))
                    for r in rows
                ]
        # validate the per-host budget table ONCE here (it's
        # broadcast-small): a budget_per_wave <= 0 row would defer that
        # host's rows on every wave, so the loop never drains
        # (n_frontier never reaches 0) — an infinite crawl unless
        # max_waves caps it. Same rule as default_budget's >= 1 check.
        if politeness is not None:
            bad = politeness.filter(F.col("budget_per_wave") < 1).count()
            if bad:
                raise ValueError(
                    f"politeness table has {bad} row(s) with "
                    "budget_per_wave < 1; per-host budgets must be >= 1 "
                    "(drop the row to fall back to the default budget)"
                )
        self.politeness = politeness
        self.config = config or CrawlConfig()
        n = self.config.target_partitions or int(
            spark.conf.get("spark.sql.shuffle.partitions", "32")
        )
        self._nparts = n
        if page_store is not None:
            # projection kept in its source partitioning: the default
            # (broadcast-frontier) fetch never shuffles the store. The
            # url_hash-bucketed copy for the big-wave shuffle join is
            # built lazily on first use (the Iceberg deployment buckets
            # the table on url_hash instead).
            self.page_store = page_store.select(
                "url_hash", "status", "payload_kind", "payload",
                "links", "next_url", "image_id", "flaky_rejects",
                F.col("canon_url").alias("store_url"),
            ).persist()
        else:
            self.page_store = None
        self._store_bykey = None
        self._store_keys_bykey = None
        self._store_rows = None  # counted lazily on first fetch
        self._store_keys_py: set[int] | None | bool = False  # False=undecided
        # memory-budget default for the broadcast-fetch cap (see
        # CrawlConfig.broadcast_fetch_max)
        if self.config.broadcast_fetch_max is None:
            self._bcast_fetch_max = _broadcast_rows_budget(spark)
        else:
            self._bcast_fetch_max = self.config.broadcast_fetch_max
        # driver-python-structure caps, derived from the provisioned
        # driver heap (a fixed literal would not scale with it): the
        # store keyset enables the fast-path 404 split, the seen-set
        # twin the zero-shuffle small-wave dedup (past its cap the
        # twin is dropped and cluster dedup owns the rest of the
        # crawl). A python set key costs ~80 B (ints) to ~130 B (with
        # overhead), and 5% of heap is a safe residency budget beside
        # py4j + result buffers
        self._driver_store_keys_max = _broadcast_rows_budget(
            spark, frac=0.05, row_bytes=80)
        self._driver_seen_max = _broadcast_rows_budget(
            spark, frac=0.05, row_bytes=130)
        # lazily-built wave-invariant Column caches (see crawl() —
        # rebuilding expression trees every wave is driver-bound)
        self._dedup_agg = None
        self._fetch_cols = None

    def _store_by_key(self) -> DataFrame:
        if self._store_bykey is None:
            self._store_bykey = self.page_store.repartition(
                self._nparts, "url_hash"
            ).persist()
        return self._store_bykey

    def _store_keys(self) -> DataFrame:
        """url_hash-partitioned keys-only store copy for the 404
        anti-join when the store is too big to broadcast its keys.
        Reuses the full bucketed copy when that already exists."""
        if self._store_bykey is not None:
            return self._store_bykey.select("url_hash")
        if self._store_keys_bykey is None:
            self._store_keys_bykey = (
                self.page_store.select("url_hash")
                .repartition(self._nparts, "url_hash")
                .persist()
            )
        return self._store_keys_bykey

    # ---------------------------------------------------------------- seeds
    def seed_frontier(self, seeds: list[dict]) -> DataFrame:
        """Build wave-0 frontier from seed dicts
        (page_cls, url?, input?, priority?). Source resolution follows
        the reference precedence (pages.py:157-166)."""
        rows = []
        for i, s in enumerate(seeds):
            spec = self.registry[s["page_cls"]]
            url = s.get("url")
            if url is None:
                child = ChildPage(page_cls=spec.name, input=s.get("input"))
                url, _ = _resolve_child_source(spec, child)
            rows.append(
                (
                    s["page_cls"],
                    url,
                    dump_input(s.get("input")),
                    schemas.root_path(s.get("seq", i)),
                    int(s.get("priority", 0)),
                    0,
                    0,
                    None,
                    None,
                )
            )
        return self.spark.createDataFrame(rows, schema=schemas.FRONTIER_SCHEMA)

    # ------------------------------------------------------------ materialize
    def _materialize(
        self, st: _CrawlState, df: DataFrame, label: str,
        obs_exprs: list | None = None,
    ):
        """Cut lineage + compute once at a wave boundary (SURVEY §4:
        the iterative-loop pitfall). Parquet spill — an Iceberg
        deployment makes this the snapshot commit.

        ``obs_exprs``: optional aggregate expressions piggybacked on the
        materialization job via ``Observation`` — row counts and
        emission-kind tallies come for free instead of costing an extra
        job each per wave."""
        # a reliable lineage cut: flat ~1.3s/wave where localCheckpoint
        # grew exponentially on Spark 4.1 (see BENCH notes)
        obs = None
        if obs_exprs:
            obs = Observation()
            df = df.observe(obs, *obs_exprs)
        st.spill_n += 1
        path = os.path.join(st.spill, f"{st.spill_n:05d}_{label}")
        df.write.mode("overwrite").parquet(path)
        out = self.spark.read.parquet(path)
        return out, (obs.get if obs is not None else None)

    def _local_df(self, rows: list, schema) -> DataFrame:
        """Driver rows as a ONE-partition LocalRelation."""
        # plain createDataFrame parallelizes to defaultParallelism
        # slices, and per-wave unions then compound task counts
        # geometrically (measured 161 → 417 tasks/stage by wave 12 of a
        # tree crawl)
        return self.spark.createDataFrame(
            self.spark.sparkContext.parallelize(rows, 1), schema=schema)

    # ------------------------------------------------------------ seen union
    def _seen_union(self, st: _CrawlState) -> DataFrame:
        """The accumulated seen set as ONE DataFrame, compacting slices
        lazily: deep crawls that dedup driver-side never pay the
        compaction materialization; the first wave that actually needs
        the cluster-side table (dedup anti-join, bloom backfill/regrow)
        triggers it."""
        if len(st.seen_slices) > 8:
            u, _ = self._materialize(
                st, _union_tree(st.seen_slices).coalesce(self._nparts),
                "seen_compact",
            )
            st.seen_slices = [u]
        if not st.seen_slices:
            return self.spark.createDataFrame(
                [], "url_hash long, seen_key long")
        return _union_tree(st.seen_slices)

    # ---------------------------------------------------------------- crawl
    def crawl(
        self, seeds: list[dict] | DataFrame, _scout: bool = False
    ) -> CrawlResult:
        """Run waves until the frontier drains (or ``max_waves``). A
        wave is the phase sequence size → schedule → fetch → emit →
        land → record → seen-update → next-frontier → commit. Small
        waves run schedule..land on the driver (Python dedup over a
        LocalRelation frontier, emissions collected); big waves on the
        cluster (dedup shuffle, fetch join, one parquet snapshot with
        an Observation). ``_scout`` (see :meth:`scout`) projects results
        scout-style and follows no children."""
        cfg = self.config
        st = self._begin(seeds, _scout)
        plan = _WavePlan(self, _scout)
        n_frontier: int | None = None  # None = unknown (seeds / resume)
        while True:
            st.tick_at = time.time()
            w = self._size(st, n_frontier)
            if w.n_frontier == 0:
                break
            self._tick(st, "count")
            if (cfg.max_waves is not None
                    and st.wave >= cfg.max_waves + st.start_wave):
                break
            self._schedule(st, plan, w)
            emissions = (
                None if w.noop
                else self._emit(plan, w, self._fetch_wave(plan, w))
            )
            self._land(st, plan, w, emissions)
            self._tick(st, "emissions ckpt")
            self._record(st, w)
            self._update_seen(st, w)
            self._tick(st, "seen update")
            n_frontier = self._next_frontier(st, plan, w)
            self._tick(st, "frontier derive")
            self._commit(st, w)
            st.wave += 1
        return self._finish(st)

    def _tick(self, st: _CrawlState, label: str) -> None:
        """``verbose`` phase stamp on stderr: seconds since the last
        stamp, plus an absolute epoch stamp so two concurrent crawls'
        step streams can be aligned on one wall clock."""
        if self.config.verbose:
            now = time.time()
            print(f"  [wave {st.wave}] {label}: {now - st.tick_at:.2f}s"
                  f" @{now:.2f}", file=sys.stderr, flush=True)
            st.tick_at = now

    def _begin(self, seeds: list[dict] | DataFrame,
               scout: bool) -> _CrawlState:
        """Per-crawl state: scratch dir, wave-0 frontier and seen tiers,
        or the latest committed snapshot when one exists."""
        cfg = self.config
        spill = cfg.spill_dir or tempfile.mkdtemp(prefix="spatula_spill_")
        os.makedirs(spill, exist_ok=True)
        self._spill = spill  # the latest crawl's, for callers' cleanup
        frontier = (
            seeds if isinstance(seeds, DataFrame) else self.seed_frontier(seeds)
        )
        for c in ("url_hash", "seen_key"):
            # caller-supplied frontiers may predate hash-at-emission
            if c not in frontier.columns:
                frontier = frontier.withColumn(c, F.lit(None).cast("long"))
        st = _CrawlState(
            spill=spill, scout=scout, frontier=frontier,
            requeues_possible=isinstance(seeds, DataFrame),
            py_seen=set() if cfg.driver_wave_max else None,
            bloom=seen_ops.ShardedBloom(
                _BLOOM_SHARDS, cfg.bloom_shard_capacity, _BLOOM_FPR
            ) if cfg.use_bloom else None,
        )
        # real-Iceberg snapshot backend (explicit opt-in; requires a
        # configured catalog + runtime jar — see plans/iceberg.py).
        # Same commit/resume contract as the parquet-manifest analogue.
        if cfg.iceberg_table_prefix:
            from .iceberg import IcebergSnapshots, iceberg_available

            if not iceberg_available(self.spark):
                raise CrawlError(
                    "iceberg_table_prefix is set but no Iceberg catalog "
                    "is configured/loadable on this session (need "
                    "spark.sql.catalog.<name>=org.apache.iceberg.spark."
                    "SparkCatalog and the iceberg-spark-runtime jar); "
                    "use checkpoint_dir for the parquet-manifest analogue"
                )
            st.ice = IcebergSnapshots(self.spark, cfg.iceberg_table_prefix)
        if st.ice is not None:
            resumed = st.ice.try_resume(cfg.resume_upto_wave)
        elif cfg.checkpoint_dir:
            resumed = self._try_resume(cfg.checkpoint_dir)
        else:
            resumed = None
        if resumed is None:
            return st
        st.frontier, rseen, st.results, st.metrics_rows, st.wave = resumed
        st.start_wave = st.wave
        st.requeues_possible = True  # in-flight retries unknown
        st.py_seen = None  # unknown provenance; cluster dedup
        st.seen_count = rseen.count()
        if st.seen_count:
            rseen, _ = self._materialize(st, rseen, "seen_resume")
            st.seen_slices.append(rseen)
            if st.bloom is not None:
                # one-time rebuild from the checkpointed seen table
                st.bloom.add_hashes_df(rseen, key_col="seen_key")
        return st

    def _size(self, st: _CrawlState, n_frontier: int | None) -> _Wave:
        """Phase size: the frontier's row count and coalesce width."""
        # one count job on the first wave and after a resume; later
        # waves take it from the previous wave's tallies.
        # Tiny waves at full fan-out pay per-task/per-file overhead for
        # nothing (measured 2x on deep chains); big waves keep full
        # width. AQE handles the shuffles; this governs the coalesce +
        # snapshot file counts. The width follows the wave's likely
        # OUTPUT, not its input: a wave of list pages explodes
        # ~fan-out× emissions (1994 seeds -> 2M children), and sizing
        # by input once collapsed that whole explode+write into 8 tasks
        # — a core-count-independent serial floor. The previous wave's
        # total emission count is the fan-out-aware estimator; wave 0
        # (no history) keeps full width.
        if n_frontier is None:
            n_frontier = st.frontier.count()
        est = max(n_frontier, st.prev_emissions or 0)
        parts = self._nparts
        if self.config.target_partitions is None and st.prev_emissions:
            # cap at 2x the session width: big waves keep extra
            # partitions so per-row cost variance (image decode)
            # amortizes instead of straggling the stage tail.
            # The payload-row ceiling is the scale guard: the wave
            # coalesce collapses the whole fetch+decode+write stage
            # to this width, so a 2x-cores cap alone puts est/(2N)
            # payload rows in ONE task — 250k rows/task at N=4 on a
            # 2M-row wave, and multi-GB tasks on a 10^10-row
            # frontier regardless of cluster width. Partition count
            # must track DATA size once waves outgrow the session
            # width: ~64k payload rows per task keeps Arrow batches,
            # python worker residency, and parquet writer buffers
            # flat at any frontier size.
            parts = max(
                8 if self._nparts >= 8 else self._nparts,
                min(self._nparts * 2, est // 5000 + 1),
                min(est // _WAVE_ROWS_PER_PART + 1, 16384),
            )
        return _Wave(n_frontier=n_frontier, est=est, parts=parts)

    def _schedule(self, st: _CrawlState, plan: _WavePlan, w: _Wave) -> None:
        """Phase schedule: politeness, robots, then seen-set and
        first-wins dedup choose the rows this wave fetches."""
        # When the previous wave landed on the driver AND the exact
        # seen set has a live Python twin, the dedup runs here in plain
        # Python — the wave then needs ZERO shuffle stages: a local
        # frontier broadcast-joins the page store and the single AQE
        # round does fetch+process+collect.
        rows, st.frontier_rows = st.frontier_rows, None
        if (
            rows is not None
            and st.py_seen is not None
            and plan.driver_dedup_ok
            and all(r[1] is None or (r[7] is not None and r[8] is not None)
                    for r in rows)
        ):
            w.local = True
            w.null_rows = [r for r in rows if r[1] is None]
            w.rows = _dedup_rows(rows, st.py_seen)
            return
        cfg = self.config
        frontier = st.frontier.withColumn("host", plan.host)
        # politeness budget (F5): overflow deferred, paths untouched.
        # Disabled => no deferred branch at all: a limit(0) twin of the
        # frontier subtree would still be re-analyzed and unioned every
        # wave (measurable driver planning cost on small waves). When
        # the WHOLE wave fits inside the default budget no single host
        # can exceed it: the limiter is a provable no-op, so its
        # per-wave count aggregate + broadcast join are skipped (only
        # sound without a politeness table, whose per-host budgets can
        # undercut the default)
        if self.politeness is None and (
            cfg.host_budget_per_wave is None
            or w.n_frontier <= cfg.host_budget_per_wave
        ):
            scheduled = frontier
        else:
            scheduled, w.deferred = politeness_ops.split_by_host_budget(
                frontier, self.politeness, cfg.host_budget_per_wave,
            )
        # robots (F6): precompiled CASE expression when the rule set is
        # small; broadcast-join longest-prefix path when it isn't
        # (never a silent truncation). Blocked rows become 'blocked'
        # emissions so the count rides the wave Observation for free.
        if plan.robots_allowed is not None:
            decided = scheduled.withColumn("_allowed", plan.robots_allowed)
            scheduled = decided.filter(F.col("_allowed")).drop("_allowed")
            w.blocked = decided.filter(~F.col("_allowed")).drop("_allowed")
        elif self._robots_join:
            scheduled, w.blocked = politeness_ops.robots_broadcast_join(
                scheduled, self._robots_prefix_df, self._robots_wild,
            )
        fetchable = scheduled.filter(
            F.col("url").isNotNull()
        ).withColumn(
            "canon_url", plan.canon
        ).withColumn(
            # hash-at-emission already computed these for native-class
            # children; recompute where null
            "url_hash", F.coalesce(F.col("url_hash"), plan.uhash)
        ).withColumn(
            "seen_key", F.coalesce(F.col("seen_key"), plan.seen_key)
        )
        w.nullsrc = scheduled.filter(F.col("url").isNull())
        w.fetchable = self._dedup(st, fetchable, self._seen_union(st))

    def _fetch_wave(self, plan: _WavePlan, w: _Wave) -> DataFrame:
        """Phase fetch: the scheduled rows joined to their payloads,
        plus the null-source rows (nothing to fetch), as one batch of
        fetched rows."""
        if w.local:
            fetched = self._fetch_local(w.rows)
            nullsrc = (
                self._local_df(w.null_rows, schemas.FRONTIER_SCHEMA)
                if w.null_rows else None
            )
        else:
            fetched = self._fetch(
                w.fetchable, broadcast=w.n_frontier <= self._bcast_fetch_max)
            nullsrc = w.nullsrc
        if nullsrc is not None:
            fetched = fetched.unionByName(nullsrc.select(*plan.nullsrc_cols))
        return fetched.select(*schemas.FETCHED_COLS)

    def _emit(self, plan: _WavePlan, w: _Wave, batch: DataFrame) -> DataFrame:
        """Phase emit: the wave's emission rows."""
        # Exactly ONE consumer per batch row — native-class rows go
        # through the single native projection (marker ++ class arrays,
        # exploded once), hook-class rows through the Arrow transform
        # which emits its own markers. No shared batch cache:
        # payload-heavy rows stream straight through their one pass (a
        # per-wave payload cache is 10s of GB at 10^6-row waves and was
        # the old OOM ceiling).
        parts = [
            batch.filter(F.col("page_cls").isin(plan.native_cls))
            .select(F.explode(plan.per_row).alias("e")).select("e.*")
        ]
        if plan.hook_cls:
            parts.append(
                batch.filter(F.col("page_cls").isin(plan.hook_cls))
                .mapInPandas(plan.transform, _EMISSION_OUT_SCHEMA)
            )
        # robots-blocked rows ride the emissions stream so the count
        # lands in the Observation (no extra job) and the rows reach
        # the dead-letter output. Politeness-deferred rows ride it too:
        # ONE materialization per wave carries everything — the next
        # frontier is then a narrow filter over the written parquet
        # instead of a second write+read job (measured: the two jobs
        # were the per-wave fixed-cost floor)
        if w.blocked is not None:
            parts.append(w.blocked.select(*plan.blocked_cols))
        if w.deferred is not None:
            parts.append(w.deferred.select(*plan.deferred_cols))
        emissions = parts[0]
        for p in parts[1:]:
            emissions = emissions.unionByName(p, allowMissingColumns=True)
        return emissions

    def _land(self, st: _CrawlState, plan: _WavePlan, w: _Wave,
              emissions: DataFrame | None) -> None:
        """Phase land: compute the wave's emissions once and tally them
        by kind. ``emissions`` is None on a no-op wave (every candidate
        already seen), which runs no Spark job at all."""
        cfg = self.config
        deferred_requeues = 0
        if emissions is None:
            w.lrows, w.counts = [], dict.fromkeys(_EMIT_KINDS, 0)
            w.emissions = self._local_df([], _EMISSION_OUT_SCHEMA)
        elif (
            cfg.driver_wave_max
            and st.prev_emissions is not None
            and w.est <= cfg.driver_wave_max
        ):
            # small wave: land the slim emission rows on the driver
            # (LocalRelation) — kind counts tallied in Python, no
            # Observation, no spill round-trip. hash-at-emission
            # (emit_hash_cols) applies ONLY here: the hashes are solely
            # for the next wave's driver-side dedup, which requires THIS
            # wave's rows on the driver — big cluster waves must not pay
            # the extra per-child canonicalize+hash+write. A
            # driver-local wave's plan is one broadcast probe + explode
            # over a LocalRelation frontier — zero shuffle stages, so
            # AQE's per-stage re-planning is pure overhead there (~8% of
            # a 13-wave tree crawl measured)
            aqe_off = {"spark.sql.adaptive.enabled": "false"}
            with scoped_conf(self.spark, aqe_off if w.local else {}):
                w.lrows = emissions.select(*plan.emit_hash_cols).collect()
            w.counts = dict.fromkeys(_EMIT_KINDS, 0)
            for r in w.lrows:
                w.counts[r["emit_kind"]] += 1
                if r["emit_kind"] == "deferred" and (r["attempts"] or 0) > 0:
                    deferred_requeues += 1
            w.emissions = self._local_df(w.lrows, _EMISSION_OUT_SCHEMA)
        else:
            # coalesce is narrow (no shuffle) and bounds the partition
            # count: a union's partitioning is the SUM of its children's
            w.emissions, obs = self._materialize(
                st, emissions.coalesce(w.parts), "emissions", plan.obs_aggs)
            w.counts = {k: int(obs[k]) for k in _EMIT_KINDS}
            deferred_requeues = int(obs["_deferred_requeues"])
        st.prev_emissions = sum(w.counts.values())
        w.n_next = sum(w.counts[k] for k in plan.followed)
        # the next wave needs the requeue split only if it can actually
        # contain attempts>0 rows (fresh requeues or deferred ones)
        st.requeues_possible = bool(w.counts["requeue"] or deferred_requeues)

    def _record(self, st: _CrawlState, w: _Wave) -> None:
        """Phase record: the wave's result rows, dead letters and
        metrics row, as narrow filters over the landed emissions;
        raises on a dead letter under ``fail_fast``."""
        em, counts = w.emissions, w.counts
        w.new_seen = em.filter(
            F.col("emit_kind") == "fetched").select("url_hash", "seen_key")
        if st.scout:
            w.items = _scout_projection(em, st.wave)
        else:
            w.items = em.filter(F.col("emit_kind") == "item").select(
                F.col("path"),
                F.col("src_cls").alias("page_cls"),
                F.col("item_json"),
                F.lit(st.wave).alias("wave"),
            )
        st.results.append(w.items)
        wave_dead = em.filter(
            F.col("emit_kind").isin("error", "reject", "blocked"))
        n_dead = counts["error"] + counts["reject"]
        if self.config.fail_fast and n_dead:
            samples = wave_dead.filter(
                F.col("emit_kind").isin("error", "reject")
            ).select("error").take(3)
            raise CrawlError(
                f"wave {st.wave}: {[s['error'] for s in samples]}")
        st.dead.append(wave_dead)
        st.metrics_rows.append({
            "wave": st.wave,
            "fetched": counts["fetched"],  # fetched-marker count
            "items": counts["item"],
            "children": counts["child"],
            "next_pages": counts["next"],
            "requeued": counts["requeue"],
            "skipped_items": counts["skip_item"],
            "skipped_pages": counts["skip_page"],
            "handled_errors": counts["handled_error"],
            "dead": n_dead,
            "blocked": counts["blocked"],
            "deferred": counts["deferred"],
        })

    def _update_seen(self, st: _CrawlState, w: _Wave) -> None:
        """Phase seen-update: seen ∪= this wave's fetched keys."""
        # The keys are already unique: in-wave first-wins + seen
        # anti-join guarantee it; errored fetches are consumed too,
        # matching the reference where an attempted URL is never
        # re-fetched. No global distinct — that would reshuffle the
        # whole seen set every wave. APPEND-ONLY with zero extra
        # writes: the wave's new hashes already live in the landed
        # emissions (the 'fetched' marker rows); the seen "table" is the
        # union of those per-wave slices — parquet column pruning + the
        # emit_kind predicate keep each scan to one slim column. (An
        # Iceberg deployment appends to a real table instead; rewriting
        # the accumulated set per wave would be O(total)/wave —
        # impossible at 10^10.)
        n_new = w.counts["fetched"]
        if not n_new:
            return
        cfg = self.config
        st.seen_slices.append(w.new_seen)
        st.seen_count += n_new
        # Python seen-set twin: fed from the driver-collected rows
        # (free); a cluster wave keeps it alive with one tiny pruned
        # collect ONLY when the next wave is small enough to use it —
        # otherwise the twin dies and cluster dedup owns the rest of
        # the crawl.
        if st.py_seen is not None:
            if w.lrows is not None:
                st.py_seen.update(
                    (r["url_hash"], r["seen_key"])
                    for r in w.lrows if r["emit_kind"] == "fetched"
                )
            elif max(n_new, w.n_next) <= cfg.driver_wave_max:
                st.py_seen.update(
                    (r["url_hash"], r["seen_key"])
                    for r in w.new_seen.collect()
                )
            else:
                st.py_seen = None
            if st.py_seen is not None and (
                    len(st.py_seen) > self._driver_seen_max):
                st.py_seen = None  # driver-memory cap
        if st.bloom is None or st.seen_count < cfg.bloom_min_seen:
            return
        if st.bloom.count == 0 and st.seen_count > n_new:
            # lazy backfill: the filter only starts paying once the
            # seen set crosses the threshold; fold in everything
            # accumulated so far, once
            st.bloom.add_hashes_df(self._seen_union(st), key_col="seen_key")
        else:
            # incremental: OR this wave's shard blobs into the
            # driver-held filter (never a full rebuild)
            st.bloom.add_hashes_df(w.new_seen, key_col="seen_key")
        if st.bloom.needs_regrow():
            # fill ratio past capacity: FPR would degrade geometrically
            # from here; re-shard 4x wider from the exact seen table
            # (geometric growth keeps total rebuild work O(N) over the
            # crawl)
            st.bloom.regrow(self._seen_union(st), key_col="seen_key")

    def _next_frontier(self, st: _CrawlState, plan: _WavePlan,
                       w: _Wave) -> int:
        """Phase next-frontier: the next wave's frontier and its size."""
        # a narrow filter over the ALREADY landed emissions — no second
        # write+read. Lineage stays bounded: every wave's frontier
        # derives from exactly one parquet scan (deferred rows were
        # folded into the emissions write).
        st.frontier = w.emissions.filter(
            F.col("emit_kind").isin(plan.followed)
        ).select(*plan.frontier_cols)
        if w.lrows is not None:
            # frontier rows in FRONTIER_SCHEMA order for the next
            # wave's driver-side dedup
            st.frontier_rows = [
                (r["child_cls"], r["child_url"],
                 r["child_input_json"], r["path"],
                 int(r["priority"] or 0), int(r["attempts"] or 0),
                 int(r["page_seq"] or 0), r["url_hash"],
                 r["seen_key"])
                for r in w.lrows if r["emit_kind"] in plan.followed
            ]
        return w.n_next

    def _commit(self, st: _CrawlState, w: _Wave) -> None:
        """Phase commit: the wave's snapshot — an Iceberg commit, or
        every ``checkpoint_every`` waves a parquet-manifest checkpoint
        of the deltas accumulated since the last one."""
        cfg = self.config
        new_seen = w.new_seen if w.counts["fetched"] else None
        if st.ice is not None:
            st.ice.commit_wave(
                st.wave, st.frontier, new_seen, w.items, st.metrics_rows)
            st.frontier = (
                self.spark.table(st.ice._t("frontier"))
                .filter(F.col("wave") == st.wave).drop("wave")
            )
            return
        if not cfg.checkpoint_dir:
            return
        st.ckpt_items.append(w.items)
        if new_seen is not None:
            st.ckpt_seen.append(new_seen)
        if (st.wave + 1 - st.start_wave) % max(1, cfg.checkpoint_every):
            return
        self._commit_checkpoint(st, st.wave)
        if not cfg.checkpoint_async:
            # sync mode re-reads the just-committed frontier (the next
            # wave scans the durable copy); async keeps the
            # scratch-parquet plan so the wave never waits on the commit
            st.frontier = self.spark.read.parquet(os.path.join(
                cfg.checkpoint_dir, f"wave={st.wave}", "frontier"))

    def _finish(self, st: _CrawlState) -> CrawlResult:
        if st.ice is None and self.config.checkpoint_dir:
            if st.ckpt_items or st.ckpt_seen:
                # flush deltas from the tail waves of an every-K window
                # (frontier is the final — possibly empty — frontier, so
                # a resume from this snapshot sees the finished crawl)
                self._commit_checkpoint(st, st.wave - 1)
            self._join_checkpoint(st)
            if st.ckpt_pool is not None:
                st.ckpt_pool.shutdown()
        spark = self.spark
        return CrawlResult(
            results=_union_tree(
                [spark.createDataFrame([], schemas.RESULT_SCHEMA)]
                + st.results
            ),
            dead=_union_tree(
                [spark.createDataFrame([], _EMISSION_OUT_SCHEMA)] + st.dead,
                allow_missing=True,
            ),
            seen=self._seen_union(st),
            metrics=pd.DataFrame(st.metrics_rows),
            waves=st.wave - st.start_wave,
        )

    # ------------------------------------------------------------- internals
    def _class_emission_array(self, spec: PageSpec):
        """Per-row emission array for a native spec: error/accept gates
        (reference _fetch_data semantics) folded into one CASE — pure
        Catalyst, evaluated inline during the batch projection."""
        failed = F.col("url").isNotNull() & (
            ~F.col("found") | (F.col("status") >= 400)
        )
        if spec.handles_errors:
            # HandledError: no items, pagination still runs
            # (pages.py:210-215)
            err = F.concat(
                N.one(N.emission(
                    "handled_error",
                    error=F.format_string("status=%s", F.col("status")),
                )),
                N.paginate_if_next(),
            )
        else:
            err = N.one(N.emission(
                "error",
                error=F.format_string(
                    "HTTP error status=%s url=%s",
                    F.col("status"), F.col("url"),
                ),
            ))
        ok = spec.native_emit_array()
        if spec.accept_expr is not None:
            total = spec.total_attempts()
            # retry loop (pages.py:168-195): requeue w/ attempts+1 until
            # exhausted, then RejectedResponse
            rej = F.when(
                F.col("attempts") + 1 < F.lit(total),
                N.one(N.emission(
                    "requeue",
                    child_cls=F.col("page_cls"),
                    child_url=F.col("url"),
                    child_input_json=F.col("input_json"),
                    attempts=F.col("attempts") + 1,
                )),
            ).otherwise(
                N.one(N.emission(
                    "reject",
                    attempts=F.col("attempts"),
                    error=F.format_string(
                        "RejectedResponse after %s attempts: %s",
                        F.lit(str(total)), F.col("url"),
                    ),
                ))
            )
            return (
                F.when(failed, err)
                .when(~F.expr(spec.accept_expr), rej)
                .otherwise(ok)
            )
        return F.when(failed, err).otherwise(ok)

    def _dedup(self, st: _CrawlState, fetchable: DataFrame,
               seen: DataFrame) -> DataFrame:
        """Seen-set + in-wave dedup (F4 + E5-at-frontier, first-wins).

        Keyed on ``seen_key`` = (page_cls, url_hash, input) — page
        *identity*, not URL: the reference processes every Page
        instance (its scrapelib cache only skips the HTTP call), so
        distinct classes/inputs over one URL all process; only true
        duplicate instances collapse.

        Plan shape: ONE slim-row shuffle — the (url_hash, seen_key)
        hash aggregate — which the seen check's equi-join on the same
        keys reuses. The fetch join downstream broadcasts the frontier
        (see _fetch), so nothing payload-heavy ever shuffles.

        Requeued rows (attempts>0) bypass the seen filter — their URL
        is legitimately being re-fetched (retry loop pages.py:168-195).
        The requeue split (whose union would break the partitioning
        reuse) only happens in waves that can actually contain
        requeues, tracked from the previous wave's emission counts.
        """
        requeues = None
        first_time = fetchable
        if st.requeues_possible:
            first_time = fetchable.filter(F.col("attempts") == 0)
            requeues = fetchable.filter(F.col("attempts") > 0)

        # first-wins by lineage path: min_by under a plain hash
        # aggregate (map-side combine; no sort). Grouping carries BOTH
        # keys so the seen check's equi-join on (url_hash, seen_key)
        # reuses this exchange exactly.
        if self._dedup_agg is None:
            rest = [
                c for c in first_time.columns
                if c not in ("url_hash", "seen_key")
            ]
            self._dedup_agg = F.min_by(
                F.struct(*rest), F.col("path")
            ).alias("_r")
        first_time = (
            first_time.groupBy("url_hash", "seen_key")
            .agg(self._dedup_agg)
            .select("url_hash", "seen_key", "_r.*")
        )

        if st.seen_count > 0:
            anti_keys = ["url_hash", "seen_key"]
            if (st.bloom is not None
                    and st.seen_count >= self.config.bloom_min_seen):
                # bloom prefilter, exact confirm: left join + filter
                # instead of split/anti/union — same rows survive
                # ("definitely unseen" kept outright, "maybe" kept only
                # without an exact match), but the left side's url_hash
                # partitioning flows through to the fetch join — a
                # union of the two slivers would discard it
                maybe_seen = st.bloom.membership_udf(self.spark)
                marked = first_time.withColumn(
                    "_maybe", maybe_seen(F.col("seen_key"))
                ).join(
                    seen.select(*anti_keys).withColumn("_seen", F.lit(True)),
                    anti_keys, "left",
                )
                first_time = marked.filter(
                    (~F.col("_maybe")) | F.col("_seen").isNull()
                ).drop("_maybe", "_seen")
            else:
                first_time = first_time.join(seen, anti_keys, "left_anti")
        if requeues is not None:
            first_time = first_time.unionByName(requeues)
        return first_time

    def _fetch_out_cols(self):
        """(found-row, missing-row) projections for the fetch join,
        built once (wave-invariant Column trees)."""
        if self._fetch_cols is None:
            found = {
                "status": F.coalesce(F.col("status"), F.lit(404)),
                "found": F.col("store_url").isNotNull(),
                # synthetic flakiness: how many leading attempts the
                # "server" degrades — consumed by accept hooks
                "flaky_rejects": F.coalesce(F.col("flaky_rejects"), F.lit(0)),
            }
            self._fetch_cols = (
                [found[n].alias(n) if n in found else n
                 for n in schemas.FETCHED_COLS],
                _no_payload_cols(404, found=False),
            )
        return self._fetch_cols

    def _store_keyset(self) -> set[int] | None:
        """One-time driver copy of the store's url_hash set, or None
        when the store is too big for the driver
        (``self._driver_store_keys_max``)."""
        if self._store_keys_py is False:  # sentinel: not yet decided
            if (
                self.page_store is not None
                and self._store_rows is not None
                and self._store_rows <= self._driver_store_keys_max
            ):
                self._store_keys_py = {
                    r[0]
                    for r in self.page_store.select("url_hash").collect()
                }
            else:
                self._store_keys_py = None
        return self._store_keys_py

    def _fetch_local(self, rows: list[tuple]) -> DataFrame:
        """Small-wave fetch over driver-resident frontier rows (tuples
        in FRONTIER_SCHEMA order). With a driver-sized store keyset the
        found/missing split happens in Python, so the wave's plan has
        NO anti-join leg — one broadcast build plus the store probe.
        Falls back to the generic `_fetch` (real-HTTP fetcher, or a
        store too big for a driver keyset)."""
        if self._store_rows is None and self.page_store is not None:
            self._store_rows = self.page_store.count()
        keyset = None if self.fetch_fn is not None else self._store_keyset()
        if keyset is None:
            # a driver-local frontier always broadcasts: the build is
            # free (LocalRelation — no upstream recompute, the cost that
            # makes the broadcast path lose on tiny CLUSTER waves) and
            # the whole wave collapses to one AQE round with zero
            # shuffle stages
            fetchable = self._local_df(
                rows, schemas.FRONTIER_SCHEMA
            ).withColumn("host", host_of(F.col("url")))
            return self._fetch(fetchable, broadcast=True)
        found_cols, missing_cols = self._fetch_out_cols()
        found = [r for r in rows if r[7] in keyset]
        missing = [r for r in rows if r[7] not in keyset]
        parts = []
        if found:
            fr = self._local_df(found, schemas.FRONTIER_SCHEMA)
            parts.append(
                self.page_store.join(F.broadcast(fr), "url_hash", "inner")
                .select(*found_cols)
            )
        if missing or not parts:
            parts.append(
                self._local_df(missing, schemas.FRONTIER_SCHEMA)
                .select(*missing_cols)
            )
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    def _fetch(self, fetchable: DataFrame, broadcast: bool) -> DataFrame:
        """The fetch stage: an equi-join against the synthetic page-store
        (reference ``URL.get_response`` sources.py:42-52 becomes a join),
        or the real-HTTP mapInPandas fetcher when ``fetch_fn`` is set —
        identical output schema either way. ``broadcast``: the slim
        frontier is small (or driver-local) enough to broadcast."""
        if self.fetch_fn is not None:
            # here host-salting genuinely matters: fetch work is
            # per-host network time, and a hot host would pile onto
            # one task (north-rule skew mandate)
            fr = politeness_ops.salted_repartition(
                fetchable, self._nparts, _SALT_BUCKETS)
            return fr.mapInPandas(self.fetch_fn, schemas.FETCHED_DDL)
        if self.page_store is None:
            raise CrawlError("no page_store configured")
        # NOTE on skew: the equi-join key is xxhash64(canon url) —
        # uniform by construction, so no salting is needed HERE. The
        # salted repartition (politeness.salted_repartition) belongs in
        # front of the real-HTTP fetch variant, where work is grouped
        # per host and a hot host would pile onto one task.
        out_cols, missing_cols = self._fetch_out_cols()
        if self._store_rows is None:
            # one count, first fetch only: gates the store-keys
            # broadcast below and warms the persisted store cache
            self._store_rows = self.page_store.count()
        if broadcast:
            # default path: broadcast the SLIM frontier, probe the
            # payload-heavy store in place — no store shuffle ever, no
            # frontier shuffle at the join, and the transform/decode
            # stage inherits the store's partitioning. This is the
            # storage-side semi-join pushdown an Iceberg deployment
            # gets from bucket pruning.
            found = self.page_store.join(
                F.broadcast(fetchable), "url_hash", "inner"
            ).select(*out_cols)
            # not-in-store rows (404 path): anti-join against the
            # store's key column only. Small stores broadcast the keys
            # (pruned from the columnar cache, ~8 B/row — but still
            # O(|store|) per wave); big stores would OOM the driver, so
            # they take a shuffle anti-join where only the WAVE-sized
            # frontier moves and the store side reuses its keys-only
            # bucketed copy.
            if self._store_rows <= self.config.broadcast_store_keys_max:
                missing = fetchable.join(
                    F.broadcast(self.page_store.select("url_hash")),
                    "url_hash", "left_anti",
                ).select(*missing_cols)
            else:
                missing = fetchable.join(
                    self._store_keys(), "url_hash", "left_anti"
                ).select(*missing_cols)
            return found.unionByName(missing)
        # big-wave fallback: classic shuffle join against the
        # url_hash-bucketed store copy — the frontier side reshuffles,
        # the store side reuses its bucketing
        joined = fetchable.join(self._store_by_key(), "url_hash", "left")
        return joined.select(*out_cols)

    def _resolve_dependencies(self) -> dict[str, dict[str, Any]]:
        """Instance dependencies: fetch + process each dep page ONCE on
        the driver, share the value with every consumer (the reference's
        ``_cached_dependencies``, pages.py:133,141-155). Values are
        closure-captured into the transform => shipped once per task
        like a broadcast."""
        cache: dict[str, Any] = {}
        out: dict[str, dict[str, Any]] = {}
        for name, spec in self.registry.specs().items():
            if not spec.dependencies:
                continue
            vals: dict[str, Any] = {}
            for attr, dep_cls in spec.dependencies.items():
                if dep_cls not in cache:
                    cache[dep_cls] = self._run_dep(self.registry[dep_cls])
                vals[attr] = cache[dep_cls]
            out[name] = vals
        return out

    def _run_dep(self, spec: PageSpec) -> Any:
        child = ChildPage(page_cls=spec.name, input=None)
        url, is_null = _resolve_child_source(spec, child)
        payload = links = next_url = image_id = payload_kind = None
        status = 200
        if not is_null and url is not None:
            canon = canonicalize_url(F.lit(url))
            row = (
                self.page_store.filter(F.col("url_hash") == url_hash(canon))
                .take(1)
            )
            if row:
                r = row[0]
                payload = bytes(r["payload"]) if r["payload"] is not None else None
                links = list(r["links"]) if r["links"] is not None else None
                next_url, image_id = r["next_url"], r["image_id"]
                payload_kind, status = r["payload_kind"], r["status"]
        ctx = PageCtx(
            input=None, url=url, status=status, payload=payload, links=links,
            next_url=next_url, attempts=0, page_seq=0,
            payload_kind=payload_kind, image_id=image_id,
        )
        if spec.process_page is None:
            raise CrawlError(f"dependency {spec.name} needs process_page")
        return spec.process_page(ctx)

    # ----------------------------------------------------------- checkpoint
    def _commit_checkpoint(self, st: _CrawlState, wave: int) -> None:
        """Commit the accumulated item/seen deltas (every-K window) as
        the wave-``wave`` snapshot of ``st.frontier`` — inline, or on
        the single checkpoint thread when ``checkpoint_async``. The
        inputs are filters over the wave's already-materialized scratch
        parquet (immutable until crawl end), so the background write
        races nothing; one worker thread serializes commits so the
        manifest-last atomicity argument is unchanged."""
        cfg = self.config
        args = (
            cfg.checkpoint_dir, wave, st.frontier,
            _union_tree(st.ckpt_seen) if st.ckpt_seen else None,
            _union_tree(st.ckpt_items), list(st.metrics_rows),
        )
        st.ckpt_items, st.ckpt_seen = [], []
        if not cfg.checkpoint_async:
            self._checkpoint(*args)
            return
        if st.ckpt_pool is None:
            st.ckpt_pool = ThreadPoolExecutor(
                max_workers=1, thread_name_prefix="ckpt")
        self._join_checkpoint(st)
        st.ckpt_future = st.ckpt_pool.submit(self._checkpoint, *args)

    def _join_checkpoint(self, st: _CrawlState) -> None:
        """Wait for (and surface errors from) the in-flight async
        snapshot commit, if any."""
        if st.ckpt_future is not None:
            f, st.ckpt_future = st.ckpt_future, None
            f.result()

    def _checkpoint(self, base, wave, frontier, seen_delta, items,
                    metrics_rows):
        """Wave-granular snapshot: full frontier + this wave's seen
        DELTA (append-only — the accumulated seen set is the union of
        all wave deltas, never rewritten) + results delta + metrics +
        manifest. With an Iceberg catalog this is one atomic snapshot
        commit; on plain parquet we emulate atomicity by writing the
        manifest last."""
        d = os.path.join(base, f"wave={wave}")
        if os.path.exists(d):
            shutil.rmtree(d)
        frontier.write.mode("overwrite").parquet(os.path.join(d, "frontier"))
        if seen_delta is not None:
            seen_delta.write.mode("overwrite").parquet(
                os.path.join(d, "seen_delta")
            )
        items.write.mode("overwrite").parquet(os.path.join(d, "items"))
        has_base = self._maybe_compact_seen(base, wave, seen_delta)
        # Iceberg-manifest file stats: per-file bytes + row counts read
        # from the parquet footers (no data scan) — resumability and
        # skew diagnostics ride the snapshot itself
        stats = {
            sub: _parquet_dir_stats(os.path.join(d, sub))
            for sub in ("frontier", "seen_delta", "seen_base", "items")
            if os.path.isdir(os.path.join(d, sub))
        }
        with open(os.path.join(d, "MANIFEST.json"), "w") as f:
            json.dump({"wave": wave, "complete": True,
                       "has_delta": seen_delta is not None,
                       "seen_base": has_base, "files": stats,
                       "metrics": metrics_rows}, f)
        if has_base and self.config.checkpoint_expire_deltas:
            self._expire_superseded(base, wave)

    def _expire_superseded(self, base, new_base_wave):
        """Delete seen deltas and older seen bases that the freshly
        committed base at ``new_base_wave`` supersedes (Iceberg
        expire_snapshots). Runs only AFTER the new base's manifest is
        on disk, so a kill between compaction and expiry never loses
        state. Manifests are untouched: their ``has_delta`` flags are
        how a later rollback detects it cannot reach past the base."""
        for entry in os.listdir(base):
            if not entry.startswith("wave="):
                continue
            w = int(entry.split("=")[1])
            if w > new_base_wave:
                continue
            d = os.path.join(base, entry)
            delta = os.path.join(d, "seen_delta")
            if os.path.isdir(delta):
                shutil.rmtree(delta)
            old_base = os.path.join(d, "seen_base")
            if w < new_base_wave and os.path.isdir(old_base):
                shutil.rmtree(old_base)

    def _maybe_compact_seen(self, base, wave, seen_delta) -> bool:
        """Compact the seen set into ``wave=N/seen_base`` when
        ``checkpoint_compact_every`` deltas have accumulated since the
        last base (Iceberg manifest-rewrite analogue). Runs BEFORE this
        wave's manifest, so a kill mid-compaction leaves the previous
        snapshot chain fully intact. Per-wave deltas are disjoint by
        construction (each holds only keys NEW that wave), so the base
        is a plain union — no distinct shuffle."""
        every = self.config.checkpoint_compact_every
        if not every:
            return False
        base_wave, delta_waves = self._seen_sources(base, upto=wave - 1)
        pending = len(delta_waves) + (1 if seen_delta is not None else 0)
        if pending < every:
            return False
        parts = []
        if base_wave is not None:
            parts.append(os.path.join(base, f"wave={base_wave}", "seen_base"))
        parts += [os.path.join(base, f"wave={w}", "seen_delta")
                  for w in delta_waves]
        d = os.path.join(base, f"wave={wave}")
        if seen_delta is not None:
            parts.append(os.path.join(d, "seen_delta"))
        # one reader over all source dirs: a single scan+write job
        self.spark.read.parquet(*parts).select("url_hash", "seen_key") \
            .write.mode("overwrite").parquet(os.path.join(d, "seen_base"))
        return True

    def _seen_sources(self, base, upto):
        """(latest committed base wave <= upto or None, delta waves to
        union after it). The seen set as of wave ``upto`` is
        seen_base(base_wave) ∪ deltas of waves in (base_wave, upto] —
        bounded fan-in regardless of crawl length."""
        base_wave = None
        deltas = []
        if not os.path.isdir(base):
            return None, []
        for entry in os.listdir(base):
            if not entry.startswith("wave="):
                continue
            w = int(entry.split("=")[1])
            d = os.path.join(base, entry)
            if w > upto or not os.path.exists(
                    os.path.join(d, "MANIFEST.json")):
                continue
            if os.path.isdir(os.path.join(d, "seen_base")) and (
                    base_wave is None or w > base_wave):
                base_wave = w
            if os.path.isdir(os.path.join(d, "seen_delta")):
                deltas.append(w)
        return base_wave, sorted(
            w for w in deltas if base_wave is None or w > base_wave
        )

    def _try_resume(self, base):
        if not os.path.isdir(base):
            return None
        upto = self.config.resume_upto_wave
        waves = []
        for entry in os.listdir(base):
            m = os.path.join(base, entry, "MANIFEST.json")
            if entry.startswith("wave=") and os.path.exists(m):
                w = int(entry.split("=")[1])
                if upto is None or w <= upto:
                    waves.append(w)
        if not waves:
            if upto is not None:
                raise CrawlError(
                    f"resume_upto_wave={upto}: no committed snapshot at "
                    f"or before that wave in {base}"
                )
            return None
        last = max(waves)
        d = os.path.join(base, f"wave={last}")
        with open(os.path.join(d, "MANIFEST.json")) as f:
            manifest = json.load(f)
        frontier = self.spark.read.parquet(os.path.join(d, "frontier"))
        for c in ("url_hash", "seen_key"):
            # checkpoints written before the hash-at-emission change
            if c not in frontier.columns:
                frontier = frontier.withColumn(c, F.lit(None).cast("long"))
        seen = self.spark.createDataFrame([], "url_hash long, seen_key long")
        base_wave, delta_waves = self._seen_sources(base, upto=last)
        for w in sorted(waves):
            # expiry leaves manifests intact; a wave that HAD a delta
            # but lost the dir and isn't covered by a base at or before
            # ``last`` means this rollback target predates the latest
            # compaction — fail loudly, never rebuild an incomplete
            # seen set (it would silently refetch)
            if base_wave is not None and w <= base_wave:
                continue
            if w in delta_waves:
                continue
            with open(os.path.join(base, f"wave={w}", "MANIFEST.json")) as f:
                if json.load(f).get("has_delta"):
                    raise CrawlError(
                        f"wave {w}'s seen delta was expired by a later "
                        f"compaction; cannot resume as of wave {last} — "
                        f"resume at or after the latest seen_base snapshot"
                    )
        if upto is not None:
            # rollback: delete snapshots newer than the target so the
            # replayed timeline is linear (abandoned-branch dirs would
            # otherwise poison the NEXT resume's max-wave scan). Runs
            # only after the completeness validation above — a REFUSED
            # rollback must leave the live snapshot chain untouched.
            for entry in os.listdir(base):
                if entry.startswith("wave=") and (
                        int(entry.split("=")[1]) > last):
                    shutil.rmtree(os.path.join(base, entry))
        parts = ([os.path.join(base, f"wave={base_wave}", "seen_base")]
                 if base_wave is not None else [])
        parts += [os.path.join(base, f"wave={w}", "seen_delta")
                  for w in delta_waves]
        if parts:
            seen = seen.union(
                self.spark.read.parquet(*parts).select("url_hash", "seen_key")
            )
        # one multi-path scan: the wave number rides IN the data (the
        # checkpoint writes the wave-lit column), so a 1000-wave resume
        # costs one scan node, not 1000 union legs
        results = [self.spark.read.parquet(
            *[os.path.join(base, f"wave={w}", "items")
              for w in sorted(waves)]
        )]
        return frontier, seen, results, list(manifest["metrics"]), last + 1

    # ----------------------------------------------------------------- scout
    def scout(self, seeds: list[dict] | DataFrame) -> list[dict]:
        """Reference ``spatula scout`` (cli.py:444-468 +
        ``_to_scout_result`` pages.py:19-30): each result projected to
        {data, __next__}; children not followed, pagination followed.
        The projection is a native expression over emissions — items
        wrap their own payload, child rows their would-be input."""
        res = self.crawl(seeds, _scout=True)
        rows = res.results.orderBy("path").select("item_json").collect()
        return [json.loads(r["item_json"]) for r in rows]


def _parquet_dir_stats(d: str) -> list[dict]:
    """Per-file (relative path, bytes, rows) for every parquet part in
    a snapshot dir — rows come from the footer metadata, no data scan.
    The Iceberg-manifest analogue: size/row skew across part files is
    visible from the manifest alone."""
    import pyarrow.parquet as pq

    out = []
    for root, _, names in os.walk(d):
        for n in sorted(names):
            if not n.endswith(".parquet"):
                continue
            p = os.path.join(root, n)
            try:
                rows = pq.ParquetFile(p).metadata.num_rows
            except Exception:
                rows = None
            out.append({"path": os.path.relpath(p, d),
                        "bytes": os.path.getsize(p), "rows": rows})
    return out


def _union_tree(dfs: list, allow_missing: bool = False):
    """Union a list of DataFrames as a balanced tree. A left-deep fold
    hands Catalyst a plan whose analysis cost grows quadratically with
    leg count — at a 1000-wave crawl the one-shot final union becomes a
    driver stall; the balanced shape is O(N log N) with identical
    row-level semantics (union is associative; order of rows is not
    part of the contract — consumers sort by ``path``)."""
    assert dfs
    while len(dfs) > 1:
        dfs = [
            dfs[i].unionByName(dfs[i + 1], allowMissingColumns=allow_missing)
            if i + 1 < len(dfs) else dfs[i]
            for i in range(0, len(dfs), 2)
        ]
    return dfs[0]


def _json_string_literal(col) -> "F.Column":
    """Render a string column as a JSON string literal, escaping
    backslash, double quote, and control chars (raw concatenation would
    produce malformed JSON for a URL/class containing a quote)."""
    escaped = F.regexp_replace(col, r"\\", r"\\\\")
    escaped = F.regexp_replace(escaped, '"', '\\\\"')
    for ch, rep in (("\n", "\\\\n"), ("\r", "\\\\r"), ("\t", "\\\\t")):
        escaped = F.regexp_replace(escaped, ch, rep)
    return F.concat(F.lit('"'), escaped, F.lit('"'))


def _scout_projection(emissions: DataFrame, wave: int) -> DataFrame:
    """Native scout projection (reference ``_to_scout_result``
    pages.py:19-30): items -> {data, __next__: null}; would-be children
    -> {data: input, __next__: "Cls source=URL|NullSource"}."""
    items = emissions.filter(F.col("emit_kind") == "item").select(
        "path",
        F.col("src_cls").alias("page_cls"),
        F.concat(
            F.lit('{"data": '),
            F.coalesce(F.col("item_json"), F.lit("null")),
            F.lit(', "__next__": null}'),
        ).alias("item_json"),
        F.lit(wave).alias("wave"),
    )
    next_str = F.concat(
        F.col("child_cls"),
        F.lit(" source="),
        F.coalesce(F.col("child_url"), F.lit("NullSource")),
    )
    children = emissions.filter(F.col("emit_kind") == "child").select(
        "path",
        F.col("src_cls").alias("page_cls"),
        F.concat(
            F.lit('{"data": '),
            F.coalesce(F.col("child_input_json"), F.lit("null")),
            F.lit(', "__next__": '),
            _json_string_literal(next_str),
            F.lit("}"),
        ).alias("item_json"),
        F.lit(wave).alias("wave"),
    )
    return items.unionByName(children)


class _WavePlan:
    """Wave-invariant Column trees and class lists, built once per
    ``crawl()``, never per wave."""

    # Column objects are DataFrame-independent expression trees, but
    # BUILDING them costs real driver time (one py4j round-trip per
    # operator; a single class's emission array measured ~0.2 s to
    # construct). Rebuilding them every wave made deep-chain crawls
    # driver-bound: the event log showed ~1 s of job-free driver gap
    # per wave against ~0.3 s of actual cluster work.
    def __init__(self, eng: CrawlEngine, scout: bool):
        specs = eng.registry.specs()
        self.native_cls = [
            n for n, s in specs.items() if s.native_emit_array is not None
        ]
        self.hook_cls = [
            n for n, s in specs.items() if s.native_emit_array is None
        ]
        self.transform = _make_transform(specs, eng._resolve_dependencies())
        # frontier-bound emission kinds
        self.followed = ["next", "requeue", "deferred"] + (
            [] if scout else ["child"])
        self.robots_allowed = (
            politeness_ops.robots_allow_expr(eng._robots_rules)
            if eng._robots_rules else None
        )
        # no politeness and no robots: the driver may schedule a wave
        self.driver_dedup_ok = (
            eng.politeness is None
            and eng.config.host_budget_per_wave is None
            and self.robots_allowed is None
            and not eng._robots_join
        )
        self.host = host_of(F.col("url"))
        self.canon = canonicalize_url(F.col("url"))
        self.uhash = url_hash(F.col("canon_url"))
        # page identity = (class, canonical URL, input): the reference
        # processes every Page instance — its response cache only
        # skips the HTTP call, not processing — so the seen set /
        # first-wins dedup must NOT collapse distinct (cls, input)
        # pairs sharing one URL.
        self.seen_key = F.xxhash64(
            F.col("page_cls"), F.col("url_hash"),
            F.coalesce(F.col("input_json"), F.lit("\x00")),
        )
        # fetched marker (seen-set source) ++ per-class native arrays;
        # exactly ONE consumer per batch row
        self.per_row = F.when(
            F.col("url").isNotNull() & (F.col("attempts") == 0),
            N.one(N.emission("fetched", url_hash=F.col("url_hash"),
                             seen_key=F.col("seen_key"),
                             attempts=F.col("attempts"))),
        ).otherwise(N.empty_emissions())
        cls_arr = None
        for name in self.native_cls:
            arr = eng._class_emission_array(specs[name])
            cond = F.col("page_cls") == name
            cls_arr = (
                F.when(cond, arr) if cls_arr is None
                else cls_arr.when(cond, arr)
            )
        if cls_arr is not None:
            self.per_row = F.concat(
                self.per_row, F.coalesce(cls_arr, N.empty_emissions()))
        self.nullsrc_cols = _no_payload_cols(200, found=True)
        self.blocked_cols = _unfetched_cols("blocked", "robots.txt disallow")
        self.deferred_cols = _unfetched_cols("deferred")
        self.obs_aggs = [
            F.count(F.when(F.col("emit_kind") == k, 1)).alias(k)
            for k in _EMIT_KINDS
        ] + [F.count(F.when(
            (F.col("emit_kind") == "deferred") & (F.col("attempts") > 0), 1,
        )).alias("_deferred_requeues")]
        self.emit_hash_cols = _emit_hash_cols(self.followed)
        self.frontier_cols = [
            F.col("child_cls").alias("page_cls"),
            F.col("child_url").alias("url"),
            F.col("child_input_json").alias("input_json"),
            "path", "priority", "attempts", "page_seq",
            "url_hash", "seen_key",
        ]


def _no_payload_cols(status: int, found: bool) -> list:
    """Fetched-row projection of a frontier row that gets no payload:
    a null source (200, found) or a page-store miss (404, not found)."""
    fill = {"status": status, "found": found, "flaky_rejects": 0}
    return [
        n if n in schemas.FRONTIER_SCHEMA.names
        else F.lit(fill.get(n)).cast(t).alias(n)
        for n, t in schemas.FETCHED_FIELDS
    ]


def _unfetched_cols(kind: str, error: str | None = None) -> list:
    """Emission projection of a frontier row the wave does not fetch:
    'blocked' by robots (a dead letter) or 'deferred' by politeness
    (re-queued into the next frontier as its own child)."""
    child_cls = (
        F.col("page_cls") if kind == "deferred"
        else F.lit(None).cast("string")
    )
    return [
        F.lit(kind).alias("emit_kind"),
        F.col("page_cls").alias("src_cls"),
        "path",
        F.lit(None).cast("string").alias("item_json"),
        child_cls.alias("child_cls"),
        F.col("url").alias("child_url"),
        F.col("input_json").alias("child_input_json"),
        "priority", "page_seq", "attempts",
        F.lit(error).cast("string").alias("error"),
    ]


def _emit_hash_cols(followed: list[str]) -> list:
    """Emission projection of a driver-landed wave, hashing at emission:
    frontier-bound rows carry their child's page-identity hashes out of
    the SAME projection that built them (CSE shares the canonicalize
    subtree), so the next wave's dedup needs no recompute and runs in
    pure Python with zero Spark stages. Hook-class (Arrow) emissions
    leave them null; the cluster path coalesces a recompute in."""
    to_frontier = (
        F.col("emit_kind").isin(*followed)
        & F.col("child_url").isNotNull()
        # invalid URLs keep a null hash: parse_url THROWS on them, and
        # the legacy failure point is the next wave's fetchable prep
        # (scout mode never follows children, so a malformed child
        # link must not fail the scout wave)
        & F.try_parse_url(
            F.trim(F.col("child_url")), F.lit("HOST")).isNotNull()
    )
    uh = F.coalesce(
        F.col("url_hash"), url_hash(canonicalize_url(F.col("child_url"))))
    seen_key = F.coalesce(F.col("seen_key"), F.xxhash64(
        F.col("child_cls"), uh,
        F.coalesce(F.col("child_input_json"), F.lit("\x00")),
    ))
    return [c for c in _EMISSION_COLS if c not in ("url_hash", "seen_key")] + [
        F.when(to_frontier, uh).otherwise(F.col("url_hash")).alias("url_hash"),
        F.when(to_frontier, seen_key).otherwise(F.col("seen_key"))
        .alias("seen_key"),
    ]


def _dedup_rows(rows: list[tuple], seen: set[tuple[int, int]]) -> list[tuple]:
    """Driver-side wave dedup over FRONTIER_SCHEMA tuples (slots 1=url
    3=path 5=attempts 7=url_hash 8=seen_key): first-wins (min path) per
    page identity, minus the seen set. Requeues (attempts>0) bypass
    both; null-source rows are left out."""
    best: dict[tuple[int, int], tuple] = {}
    requeues = []
    for r in rows:
        if r[1] is None:
            continue
        if (r[5] or 0) > 0:
            requeues.append(r)
            continue
        k = (r[7], r[8])
        if k not in best or r[3] < best[k][3]:
            best[k] = r
    return [r for k, r in best.items() if k not in seen] + requeues
