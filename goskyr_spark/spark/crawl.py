"""The crawl engine: URL frontier + fetch scheduler + extraction rounds.

North-rule architecture (BASELINE.json, SURVEY §3.1): each crawl round is
a deterministic micro-batch over snapshot tables —

  pending  = frontier ANTI JOIN fetched            (append-only tables)
  dequeue  = per-host rank _host_seq by (priority, url) → per-host top-k
             → global ORDER BY (priority, url) LIMIT round_budget; the
             rank rides along as the politeness clock and salting key
  fetch    = inside the Arrow kernel, over the dequeued rows only,
             repartitioned BY HOST so per-host politeness (crawl-delay
             budgets from robots.txt) is enforceable inside one
             partition: a live crawl GETs each page, a mock crawl reads
             it from the workdir's host-bucketed pages store (per Arrow
             batch, the row groups of the batch's host buckets that can
             hold its urls); robots.txt comes the same way, once per
             host
  extract  = one Arrow kernel pass per fetched page: items + outlinks
             (pagination links depth+1 and item url fields), outlinks
             canonicalized by goskyr's URL-join during extraction (P7)
  seen-set = candidates → per-slab Bloom+cuckoo test ("definitely new"
             skips the shuffle; "maybe seen" pays the exact LEFT ANTI
             JOIN — false positives can NEVER drop a real URL)
  commit   = items / fetched / seen+slabs / frontier / metrics appended
             with round metadata; a final `rounds` row marks the round
             complete. Resume rolls every table back to the last complete
             round (snapshot isolation makes rollback free), so a crash
             mid-round replays identically; a workdir whose bootstrap
             (round -1) wrote no rounds row is emptied and bootstrapped
             again.

Round plan: each phase has at most one driver and one cluster
implementation, and which one runs is decided once per round by
round_plan(), the single size policy, from numbers the driver already
holds (manifest file bytes, slab stats, the round's dequeued and new
URL counts). The dequeue runs on the driver (pyarrow over the live files)
while its input is under DRIVER_STATE_BYTES, else as one shuffle-free
Spark job over the host buckets. A url's identity (its url,
canonicalized when asked, xxhash64 and host, all JVM expressions) is
computed in one place, _identity_cols: the kernel job projects it over
each outlink, and every later use carries it along (a fetched page keeps
its dequeued frontier row's url_hash). Seeds are round -1's outlinks:
bootstrap gives them the same identity step and new-url commit, so no
Spark job runs for them.
Rounds of at most DRIVER_ROWS URLs commit items, fetched, host_stats
and new URLs from one Arrow table of the kernel's output: the driver
groups the outlinks in pyarrow, so the new-url commit launches no Spark
job; larger rounds commit through Spark writes with a range-partitioned
fetch_seq and group the outlinks with one Spark groupBy. A mock round
that dequeues on the driver and has at most KERNEL_DRIVER_ROWS URLs
runs the kernel in the driver process, the function mapInArrow runs in
a task called on the driver's dequeued rows, and evaluates the same
identity projection over a LocalRelation of its outlinks, which Spark
folds on the driver: the round launches no Spark job. A live round
keeps the kernel in tasks, where GETs to different hosts overlap.
The seen-set test broadcasts all slab filters until their estimated size
passes SEEN_BROADCAST_BYTES, then runs partition-aligned; join sides
under BROADCAST_JOIN_BYTES get a broadcast hint. Both sides of every
phase produce byte-identical state (pytest-asserted per plan).

Layout: the host-keyed tables (frontier, fetched, host_stats) have one
layout, crc32(host) mod M buckets (the Iceberg bucket-transform
analog), with each file's (bucket, M) in the manifest. M is the
smallest power of two that puts at most BUCKET_BYTES of the measured
dequeue input in one bucket, so it follows the data: 1 (one plain file
per append, no entry, counted as (0, 1)) until the input passes
BUCKET_BYTES, then it doubles as the input grows. The cluster dequeue
runs T tasks (a power of two); task t reads file (b, n) when
t ≡ b mod min(n, T) and, when n < T, keeps only the rows with
crc32(host) mod T = t. Every host reaches exactly one task whatever
moduli its files were written under (a linear-hashing split read), so
a flat legacy workdir, a crash inside compact() or a modulus that grew
between rounds all dequeue the same rows. A mock crawl's pages are laid
out once per workdir the same way (the `pages` table: url, host, html,
one row per url, each file sorted by url in row groups of about
PAGES_ROW_GROUP_BYTES), M following the pages' bytes; a fetch reads only
the row groups whose url min/max statistics hold a url it needs.

Slabs: the driver reads slab metadata (each slab's latest file, round,
count and capacity) with pyarrow from the stat columns of the live slab
files, never through Spark (_slab_latest). _update_slabs picks on the
driver, per slab, fresh build / rebuild from the seen slice / insert;
one builder, _slab_build, makes every slab row — in-process while the
round's new URLs are under DRIVER_ROWS and the seen test broadcasts,
else once per partition of a slab-aligned shuffle whose tasks read and
write the blobs themselves. Hashes are sorted before insert, so every
plan writes the same slab rows. Every blob read goes through one
loader, _slab_blobs: a consumer (the driver probe, the broadcast the
driver builds, a partitioned seen task, a slab build) asks for the slab
ids it holds and reads each file holding their latest rows once, pruned
to those ids; nothing is cached across calls.

Determinism: every ordering is an explicit sort key (priority, url,
host); the virtual politeness clock is a pure function of the dequeue
set; no wall-clock, partition-order, or hash-seed dependence — local[8]
and local[32] produce identical crawl order and seen set (tested).
Inside a fetch task rows run round-robin across hosts, sorted by
(_host_seq, host); fetched rows are committed in (fetch_ts, host, url)
order, so only the order of item rows inside a round's file follows it.

Host state: the engine, not the Python workers, holds each host's
robots.txt body, its expiry and the time of the last request
(CrawlEngine._live_hosts), in mock and live mode alike. Each round
hands it to the kernel (a broadcast to Spark tasks, the dict itself in
the driver process); the kernel first resolves robots for every
host of an Arrow batch (from that state, or from
{scheme}://{netloc}/robots.txt of the host's page when the host has no
unexpired body), then fetches round-robin. The task reports one
_kind='host' row per host it contacted (robots body it fetched, last
request time), which the round commit folds back into the state. The
clock is the one mode difference: a live crawl also sleeps out each
host's crawl-delay from its last request, an earlier round's included,
so one host's sleep overlaps the other hosts' GETs; a mock crawl keeps
to the virtual clock and never sleeps.

Skew: hot hosts (large news domains) are bounded by per_host_budget at
dequeue. In mock mode the fetch stage also hash-partitions each host's
rows in runs of SALT_ROWS by their dequeue rank, a fixed rule with no
counting pass; the virtual politeness clock is that same rank, so it
does not depend on the fetch partition. Live mode never splits a host:
its wall-clock sleeps only hold while a host lives in one task.
"""

from __future__ import annotations

import functools
import logging
import os
import time
import zlib
from dataclasses import dataclass
from datetime import datetime, timezone
from urllib.parse import urlsplit

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from pyspark.sql import functions as F
from pyspark.sql import Window
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import (
    BinaryType, DoubleType, LongType, StringType, StructField, StructType,
    TimestampType,
)

from ..kernels.cuckoo import BloomFilter, CuckooFilter
from ..kernels.filters import filter_item, initialize_filters
from ..kernels.robots import parse_robots, robots_url
from ..kernels.scrape import scrape_page
from ..ops.urlnorm import percent_normalize_str, url_normalize_expr
from .fetchers import FetchError, StoreFetcher
from .pipeline import _field_columns, item_spark_schema
from .store import SnapshotStore

logger = logging.getLogger("goskyr_spark.crawl")

# RFC 9309 §2.3.1.3-4: a robots.txt that is UNAVAILABLE (4xx) means the
# crawler MAY access any resource (allow-all, empty rules); one that is
# UNREACHABLE (5xx / network error) MUST be assumed complete disallow.
ROBOTS_DISALLOW_ALL = b"User-agent: *\nDisallow: /\n"

# robots.txt lifetime in the engine's host state: RFC 9309
# §2.4 says crawlers SHOULD cache robots.txt up to 24 hours. Only
# resolvable outcomes are cached (2xx bodies and 4xx allow-all);
# 5xx/network-failure disallow-all holds for one round, so an
# unreachable host is re-probed the next round.
_ROBOTS_TTL_SECS = 24 * 3600.0
# bound on the host state; past it the least recently contacted
# half is dropped (those hosts fetch robots.txt again)
_LIVE_HOSTS_MAX = 100_000
# mock-mode fetch salting: each run of SALT_ROWS consecutive dequeue
# ranks of one host is its own fetch partition key (per_host_budget
# caps a host below this at the defaults, so no host is split)
SALT_ROWS = 512
# on-disk dequeue input per host bucket, and per cluster dequeue task:
# host-keyed writes use the smallest power-of-two modulus that keeps a
# bucket under it, so one bucket's pending rows fit a task
BUCKET_BYTES = 4 << 20
# parquet row group bound of the pages table: a page read decodes the
# html of the row groups holding its url, not of its whole bucket file
PAGES_ROW_GROUP_BYTES = 256 << 10
# adaptive_priority's weights: a host's error rate (failed fetches per
# fetch) delays its rows, its item yield (items per ok fetch, at most 1)
# brings them forward
ADAPTIVE_ERROR_WEIGHT = 2.0
ADAPTIVE_YIELD_WEIGHT = 0.5

# --- the size policy: read by round_plan() only ------------------------------
# dequeued (or new) URLs per round up to which the round commits on the
# driver: 8 B/hash, so 100k new URLs are 800 KB of slab input
DRIVER_ROWS = 100_000
# on-disk bytes of dequeue input (or of the seen table) the driver reads
# itself. Not a measured crossover: at 2,000,000 frontier rows over
# 20,000 hosts, 32-64 MB on disk (scripts/dequeue_scale_bench.py,
# local[4], 4 vCPU), the driver dequeue took 1.9-2.5 s with its parquet
# reads, the cluster dequeue 1.8-2.0 s over a flat layout and 0.8-1.0 s
# over the rule-written one
DRIVER_STATE_BYTES = 64 << 20
# estimated slab filter bytes up to which the seen test broadcasts them
SEEN_BROADCAST_BYTES = 64 << 20
# join sides up to this many on-disk bytes get an explicit broadcast hint
# (Catalyst overestimates multi-file unioned parquet reads)
BROADCAST_JOIN_BYTES = 32 << 20
# dequeued URLs per mock round up to which the kernel runs in the driver
# process (no Spark job). The crossover with the Spark kernel on local[4]
# (4 vCPU, fetch_partitions=4, one round of n URLs, 5 runs each) falls
# at n = 96 for the costliest mix measured, one new host per URL and
# half of them list pages (round wall 0.31 s both ways; the driver wins
# 4/5 at n = 80, 1/5 at n = 128). Detail pages of 5 hosts, like
# crawl_wide's tail rounds, stay 4x faster on the driver up to n = 160.
KERNEL_DRIVER_ROWS = 96


@dataclass(frozen=True)
class RoundPlan:
    """Where each phase of one round runs (True = driver side) and
    whether the seen join side is broadcast. Made by round_plan()
    only."""
    dequeue_driver: bool
    commit_driver: bool      # items/fetched/host_stats from one collect
    kernel_driver: bool      # fetch/extract kernel in the driver process
    new_urls_driver: bool    # outlink flag + seen confirm + appends
    seen_copy_driver: bool   # seen rows copied from the new frontier files
    slabs_driver: bool       # Bloom+cuckoo slab update
    seen_partitioned: bool   # seen test reads slabs per task, not broadcast
    broadcast_seen: bool


def round_plan(dequeue_bytes=0, seen_bytes=0, slab_bytes=0, n_dequeued=0,
               n_new=0, live=False):
    """The one size policy. Bytes are on-disk parquet sizes of the
    dequeue input (live frontier + post-compaction fetched + adaptive
    host_stats) and of the seen table; slab_bytes is the slabs'
    estimated filter size. n_dequeued and n_new are this round's counts,
    passed once known. live: the round GETs its pages over the network
    (its GETs overlap across the cluster's tasks, so its kernel never
    runs on the driver) rather than reading the pages store."""
    partitioned = slab_bytes > SEEN_BROADCAST_BYTES
    small_round = n_dequeued <= DRIVER_ROWS
    small_new = n_new <= DRIVER_ROWS
    dequeue_driver = dequeue_bytes <= DRIVER_STATE_BYTES
    return RoundPlan(
        dequeue_driver=dequeue_driver,
        commit_driver=small_round,
        kernel_driver=(dequeue_driver and small_round and not live
                       and n_dequeued <= KERNEL_DRIVER_ROWS),
        new_urls_driver=(small_round and not partitioned
                         and seen_bytes <= DRIVER_STATE_BYTES),
        seen_copy_driver=small_new,
        slabs_driver=small_new and not partitioned,
        seen_partitioned=partitioned,
        broadcast_seen=seen_bytes <= BROADCAST_JOIN_BYTES)

FRONTIER_SCHEMA = StructType([
    StructField("url", StringType()),
    StructField("url_hash", LongType()),
    StructField("host", StringType()),
    StructField("priority", DoubleType()),
    StructField("depth", LongType()),
    StructField("discovered_round", LongType()),
    # position in a pagination chain: seeds and item outlinks are page 1;
    # a pagination outlink is parent page_no + 1 and is NOT emitted once
    # paginator.max_pages is reached (reference scraper.go:574,600 —
    # max_pages 0 = unbounded)
    StructField("page_no", LongType()),
])

FETCHED_SCHEMA = StructType([
    StructField("url", StringType()),
    StructField("url_hash", LongType()),
    StructField("host", StringType()),
    StructField("round", LongType()),
    StructField("fetch_seq", LongType()),
    StructField("fetch_ts", DoubleType()),
    StructField("status", StringType()),  # ok | missing | robots
    StructField("n_items", LongType()),
    StructField("n_errors", LongType()),
])

# incremental per-host crawl feedback: one DELTA row per (host, round)
# touched that round. The adaptive dequeue aggregates THIS table (rows
# ~ hosts-active-per-round, compacted to one row per host) instead of
# re-aggregating the full fetched history — dequeue cost stays
# proportional to open work, not crawl length. Sums are mergeable, so
# compaction is groupBy(host).sum and rollback is the standard
# round-meta walk.
HOST_STATS_SCHEMA = StructType([
    StructField("host", StringType()),
    StructField("n_fetched", LongType()),
    StructField("n_ok", LongType()),
    StructField("n_items", LongType()),
    StructField("round", LongType()),
])

SEEN_SCHEMA = StructType([
    StructField("url", StringType()),
    StructField("url_hash", LongType()),
    StructField("round", LongType()),
])

# the workdir's pages store (_layout_pages): one row per url
PAGES_SCHEMA = StructType([
    StructField("url", StringType()),
    StructField("host", StringType()),
    StructField("html", BinaryType()),
])

DEBUG_SCHEMA = StructType([
    StructField("url", StringType()),
    StructField("host", StringType()),
    StructField("html", BinaryType()),
    StructField("round", LongType()),
])

SLAB_SCHEMA = StructType([
    StructField("slab_id", LongType()),
    StructField("round", LongType()),
    StructField("bloom", BinaryType()),
    StructField("cuckoo", BinaryType()),
    # stats columns: let the driver make rebuild/capacity decisions from
    # a pruned (slab_id, count, capacity) read WITHOUT deserializing the
    # filter blobs — at the 10^10-URL design point the blobs never touch
    # the driver in partitioned mode
    StructField("count", LongType()),
    StructField("capacity", LongType()),
])

METRICS_SCHEMA = StructType([
    StructField("round", LongType()),
    StructField("partition", LongType()),
    StructField("n_fetched", LongType()),
    StructField("n_items", LongType()),
    StructField("n_errors", LongType()),
    StructField("started", TimestampType()),
    StructField("ended", TimestampType()),
])

ROUNDS_SCHEMA = StructType([
    StructField("round", LongType()),
    StructField("n_dequeued", LongType()),
    StructField("n_fetched_ok", LongType()),
    StructField("n_items", LongType()),
    StructField("n_errors", LongType()),
    StructField("n_new_urls", LongType()),
    StructField("wall_secs", DoubleType()),
])

# a dequeue's output: frontier rows plus each row's rank within its host
# by (priority, url), 1..k — the virtual politeness clock and salt key
DEQUEUED_SCHEMA = StructType(FRONTIER_SCHEMA.fields +
                             [StructField("_host_seq", LongType())])

FRONTIER_COLS = FRONTIER_SCHEMA.names
_FRONTIER_ARROW = to_arrow_schema(FRONTIER_SCHEMA)
_DEQUEUED_ARROW = to_arrow_schema(DEQUEUED_SCHEMA)
_DEBUG_ARROW = to_arrow_schema(DEBUG_SCHEMA)
_FETCHED_ARROW = to_arrow_schema(FETCHED_SCHEMA)
_HOST_STATS_ARROW = to_arrow_schema(HOST_STATS_SCHEMA)
_SEEN_ARROW = to_arrow_schema(SEEN_SCHEMA)
_SLAB_ARROW = to_arrow_schema(SLAB_SCHEMA)
_URL_ARROW = pa.schema([_SEEN_ARROW.field("url")])
_URL_HASH_ARROW = pa.schema([_SEEN_ARROW.field("url"),
                             _SEEN_ARROW.field("url_hash")])
_HASH_ARROW = pa.schema([_SEEN_ARROW.field("url_hash")])
_SLAB_STATS_ARROW = pa.schema([_SLAB_ARROW.field(n) for n in
                               ("slab_id", "round", "count", "capacity")])
_HOST_SUMS_ARROW = pa.schema(list(_HOST_STATS_ARROW)[:4])


def _read_parquet(paths, schema):
    """pyarrow read of `schema`'s columns from `paths`, cast to it (files
    from different rounds disagree on nullable flags)."""
    return pa.concat_tables(
        [pq.read_table(p, columns=schema.names).cast(schema)
         for p in paths])


# --- slab blob access (executors and driver) ----------------------------------

def _slab_blobs(latest, sids):
    """{sid: (bloom, cuckoo) bytes} of the latest rows of the slabs
    `sids`, where latest is a _slab_latest() map {sid: (path, round,
    ...)} or a subset of it. Each file holding a requested latest row is
    read once, pruned to its requested slab ids (predicate pushdown), so
    a reader touches only its own slabs' bytes; an id without a row is
    absent."""
    by_file = {}
    for sid in sids:
        if sid in latest:
            by_file.setdefault(latest[sid][0], []).append(sid)
    out = {}
    for path, ids in by_file.items():
        t = pq.read_table(path, columns=["slab_id", "round", "bloom", "cuckoo"],
                          filters=[("slab_id", "in", ids)])
        for sid, rnd, bloom, cuckoo in zip(*t.to_pydict().values()):
            if rnd == latest[sid][1]:
                out[sid] = (bloom, cuckoo)
    return out


def _decode(blobs):
    """{sid: (BloomFilter, CuckooFilter)} of {sid: (bloom, cuckoo) bytes}."""
    return {sid: (BloomFilter.from_bytes(b), CuckooFilter.from_bytes(c))
            for sid, (b, c) in blobs.items()}


def _slab_ids(hashes, n_slabs):
    """The distinct slab ids (url_hash mod n_slabs) of int64 hashes."""
    return set(np.unique(_u64(hashes) % np.uint64(n_slabs)).tolist())


def _maybe_seen(hashes, n_slabs, filters):
    """Bool mask over int64 url hashes: bloom 'absent' ⇒ definitely new;
    cuckoo refines bloom positives. filters = {sid: (BloomFilter,
    CuckooFilter)}; a slab absent from it has no row, so its hashes are
    new."""
    arr = _u64(hashes)
    sids = (arr % np.uint64(n_slabs)).astype(np.int64)
    maybe = np.zeros(len(arr), dtype=bool)
    for sid in np.unique(sids):
        pair = filters.get(int(sid))
        if pair is not None:
            sel = sids == sid
            maybe[sel] = (pair[0].contains_many(arr[sel])
                          & pair[1].contains_many(arr[sel]))
    return maybe


# --- slab filters: one build / insert / growth rule for both sides -----------

def _grow_cap(stat, n):
    """Doubled capacity for a slab with stat = (count, capacity) that
    receives n more hashes (amortized doubling, like a hash table)."""
    return max(2 * stat[1], 2 * (stat[0] + n))


def _build_cap(stat, n, slab_capacity):
    """Capacity at which a slab receiving n new hashes is built from
    scratch, or None when they insert into its current filters. stat is
    the (count, capacity) of its latest row, None for a new slab; a slab
    that would pass 80% load is rebuilt at double size."""
    if stat is None:
        return max(slab_capacity, 2 * n)
    if stat[0] + n > 0.8 * stat[1]:
        return _grow_cap(stat, n)
    return None


def _fresh_filters(arr, cap):
    """Bloom+cuckoo pair holding exactly the uint64 hashes `arr`."""
    while True:
        bloom, cuckoo = BloomFilter.sized_for(cap), CuckooFilter.sized_for(cap)
        if len(arr) == 0 or cuckoo.insert_many(arr) == len(arr):
            if len(arr):
                bloom.add_many(arr)
            return bloom, cuckoo
        cap *= 2  # eviction overflow: double and retry


def _insert_filters(blobs, arr):
    """The previous slab blobs plus `arr`, or None when the cuckoo
    overflows: an eviction loop can drop a VICTIM fingerprint (a false
    negative — forbidden), so the caller rebuilds exactly from seen."""
    bloom = BloomFilter.from_bytes(blobs[0])
    cuckoo = CuckooFilter.from_bytes(blobs[1])
    bloom.add_many(arr)
    if cuckoo.insert_many(arr) != len(arr):
        return None
    return bloom, cuckoo


def _by_slab(hashes, n_slabs):
    """{sid: int64 hashes} of `hashes` grouped by url_hash mod n_slabs."""
    hashes = np.asarray(hashes, dtype=np.int64)
    sids = hashes % np.int64(n_slabs)
    return {int(s): hashes[sids == s] for s in np.unique(sids)}


def _slab_build(groups, prev, caps, round_no):
    """SLAB_SCHEMA Arrow table of one round's slab rows — the one
    builder, run in-process by the driver and once per partition by the
    cluster kernel. groups = {sid: int64 hashes}; a sid with a capacity
    in caps is built fresh from its hashes at it, any other inserts them
    into prev[sid], its previous (bloom, cuckoo) blobs. Hashes are
    sorted first, so a row depends only on the slab's hash set, previous
    blobs and capacity, never on arrival order. An insert whose cuckoo
    overflows gives a row with NULL blobs."""
    rows = []
    for sid in sorted(groups):
        arr = np.sort(_u64(groups[sid]))
        cap = caps.get(sid)
        f = (_fresh_filters(arr, cap) if cap is not None
             else _insert_filters(prev[sid], arr))
        rows.append((sid, round_no, None, None, 0, 0) if f is None else
                    (sid, round_no, f[0].to_bytes(), f[1].to_bytes(),
                     f[1].count, f[1].nbuckets * CuckooFilter.SLOTS))
    return pa.Table.from_pylist(
        [dict(zip(_SLAB_ARROW.names, r)) for r in rows], schema=_SLAB_ARROW)


# --- dequeue: the arithmetic, once -------------------------------------------

def _dequeue_frame(frontier, fetched, host_stats, per_host, budget, weights):
    """The dequeue over Arrow tables, run by the driver over all live
    files and by each cluster dequeue task over its hosts' rows:
    pending = frontier rows whose url is not in `fetched`; _eff =
    priority plus, with weights = (error, yield), the adaptive per-host
    adjustment from the host_stats deltas (integer sums then one float64
    expression, so every task computes a host's value bit-identically;
    a host with no stats, or a NaN adjustment, adds 0.0); per-host top-k
    by (_eff, url), ranked 1..k per host as _host_seq; then the round
    budget. A _DEQUEUED_ARROW table plus _eff, in (_eff, url) order."""
    if fetched is not None and fetched.num_rows:
        frontier = frontier.filter(pc.invert(pc.is_in(
            frontier["url"], value_set=fetched["url"].combine_chunks())))
    eff = frontier["priority"].to_numpy().astype(np.float64)
    if weights is not None and host_stats is not None \
            and host_stats.num_rows:
        g = host_stats.group_by("host", use_threads=False).aggregate(
            [("n_fetched", "sum"), ("n_ok", "sum"), ("n_items", "sum")])
        nf, nok, ni = (g[c].to_numpy().astype(np.float64) for c in
                       ("n_fetched_sum", "n_ok_sum", "n_items_sum"))
        with np.errstate(divide="ignore", invalid="ignore"):
            adj = (weights[0] * ((nf - nok) / nf)
                   - weights[1] * np.minimum(1.0, ni / np.maximum(nok, 1.0)))
        # a row's host index into g, len(g) (adjustment 0.0) when absent
        at = pc.index_in(frontier["host"],
                         value_set=g["host"].combine_chunks(), skip_nulls=True)
        adj = np.append(np.where(np.isnan(adj), 0.0, adj), 0.0)
        eff = eff + adj[pc.fill_null(at, len(g)).to_numpy()]
    t = frontier.append_column("_eff", pa.array(eff)).sort_by(
        [("_eff", "ascending"), ("url", "ascending")])
    # rank within host: a stable sort by host keeps each host's rows in
    # (_eff, url) order, so a row's rank is its distance from its run's
    # start
    codes = pc.fill_null(t["host"].combine_chunks().dictionary_encode()
                         .indices, -1).to_numpy()
    by_host = np.argsort(codes, kind="stable")
    sc = codes[by_host]
    pos = np.arange(len(sc))
    run = np.ones(len(sc), bool)
    run[1:] = sc[1:] != sc[:-1]
    starts = np.maximum.accumulate(np.where(run, pos, 0))
    seq = np.empty(len(sc), np.int64)
    seq[by_host] = pos - starts + 1
    t = t.add_column(len(_FRONTIER_ARROW), "_host_seq", pa.array(seq))
    return t.filter(pa.array(seq <= per_host)).slice(0, budget)


# --- the host-bucketed layout: one write rule, one read rule -----------------

def _host_bucket(hosts, mod):
    """crc32(host) mod `mod` of an Arrow host column, as int64 numpy —
    the same CRC-32 of the UTF-8 bytes as Spark's pmod(crc32(host),
    mod) in the Spark writer. Hashes each distinct host once."""
    if isinstance(hosts, pa.ChunkedArray):
        hosts = hosts.combine_chunks()
    enc = hosts.dictionary_encode()
    codes = np.array([zlib.crc32(h.encode()) % mod
                      for h in enc.dictionary.to_pylist()], dtype=np.int64)
    return codes[enc.indices.to_numpy(zero_copy_only=False)]


def _bucket_mod(nbytes):
    """M of a host-keyed write over `nbytes` of data: the smallest power
    of two with nbytes / M ≤ BUCKET_BYTES."""
    need = -(-nbytes // BUCKET_BYTES)
    return 1 << max(0, need - 1).bit_length()


def _dequeue_reads(buckets, n_tasks):
    """The cluster dequeue's read rule over buckets = {file: (b, n)}, a
    file written as crc32(host) bucket b of modulus n (powers of two):
    {task: [(file, whole)]} for tasks 0..n_tasks-1. Task t reads (b, n)
    when t ≡ b mod min(n, n_tasks); whole=False (n < n_tasks) means it
    keeps only the rows with crc32(host) mod n_tasks = t. So every
    host's rows reach exactly one task."""
    reads = {t: [] for t in range(n_tasks)}
    for f, (b, n) in sorted(buckets.items()):
        k = min(n, n_tasks)
        for t in range(b % k, n_tasks, k):
            reads[t].append((f, n >= n_tasks))
    return reads


def _read_share(files, schema, t, n_tasks):
    """pyarrow read of task t's share of `files` [(path, whole)] as
    `schema` (a file read in part is filtered on its host column), or
    None when the task reads no file."""
    parts = []
    for path, whole in files:
        cols = schema.names if whole else sorted({*schema.names, "host"})
        tbl = pq.read_table(path, columns=cols)
        if not whole:
            tbl = tbl.filter(pa.array(_host_bucket(tbl["host"], n_tasks) == t))
        parts.append(tbl.select(schema.names).cast(schema))
    return pa.concat_tables(parts) if parts else None


def _host_col(col="url"):
    """The one host identity of a url column (a name or a Column): its
    lowercased HOST as
    Spark parses it (IPv6 keeps its brackets; NULL when there is none).
    Seeds and outlinks (_identity_cols) and the pages store
    (_layout_pages) all key on it, so one site never splits into two
    politeness/robots identities."""
    return F.lower(F.try_parse_url(col, F.lit("HOST")))


def _frontier_rows(outlinks, round_no):
    """The round's outlink rows (_out_url, _out_hash, _out_host, _depth,
    _page_no), grouped on the driver into _FRONTIER_ARROW rows sorted by
    url: one per url with the min of depth+1 and the min of page_no. A
    link without a host (opaque like http:x, or not a valid URL at all)
    has no politeness or robots identity: it is never enqueued. The
    cluster commit's Spark groupBy computes the same rows."""
    t = pa.table({"url": outlinks["_out_url"],
                  "url_hash": outlinks["_out_hash"],
                  "host": outlinks["_out_host"],
                  "depth": pc.add(outlinks["_depth"], 1),
                  "page_no": outlinks["_page_no"]})
    g = (t.filter(pc.is_valid(t["host"]))
         .group_by(["url", "url_hash", "host"], use_threads=False)
         .aggregate([("depth", "min"), ("page_no", "min")])
         .sort_by("url"))
    n = g.num_rows
    return pa.table(
        [g["url"], g["url_hash"], g["host"],
         pc.cast(g["depth_min"], pa.float64()), g["depth_min"],
         pa.array(np.full(n, round_no, dtype=np.int64)), g["page_no_min"]],
        schema=_FRONTIER_ARROW)


def _u64(int64_array):
    return np.asarray(int64_array, dtype=np.int64).view(np.uint64)


class CrawlEngine:
    """Round-based crawl over a mock web (pages_df) or a live fetcher.

    scraper_factory(host) -> Scraper is called once per host per kernel
    call (each Spark task, or the driver-placed kernel, builds its own),
    plus once at construction for the item schema. It must be a pure
    function of the host: the same host gives an equal scraper in every
    task and round, in an executor or in the driver. Its cost is paid
    per host per task per round (synth.event_scraper parses one YAML
    per call).
    """

    def __init__(self, spark, workdir, pages_df, scraper_factory, seeds,
                 per_host_budget=64, round_budget=100_000, n_slabs=8,
                 slab_capacity=4096, now=None, fetch_partitions=None,
                 debug=False,
                 live_fetcher=None, compact_every=None,
                 adaptive_priority=False, canonicalize_outlinks=False):
        assert n_slabs & (n_slabs - 1) == 0, "n_slabs must be a power of two"
        self.spark = spark
        self.store = SnapshotStore(workdir)
        self.pages = pages_df
        # live mode: pages_df=None + a zero-arg factory returning a
        # Fetcher (e.g. lambda: StaticFetcher()); mock mode fetches from
        # pages_df, laid out once as the workdir's `pages` table, through
        # a StoreFetcher. Both run the same kernel: the virtual clock
        # stays the deterministic ORDER key, and only live mode paces
        # its requests with real sleeps (host-hash partitioning keeps a
        # host inside one task, so per-host crawl-delay is enforceable
        # with wall-clock sleeps; _live_hosts carries it from one
        # round's task to the next).
        self.live_fetcher = live_fetcher
        # per-host state, {host: (robots.txt body, its expiry, time of
        # the last request)}: broadcast to each round's kernel, which
        # reports back what it fetched and when (_kind='host' rows), so
        # robots.txt is fetched once per host per TTL and the
        # crawl-delay holds across round boundaries. In memory only: a
        # resumed engine fetches each host's robots.txt again.
        self._live_hosts = {}
        self._live_since = 0.0  # wall time the last broadcast was taken
        if pages_df is None and live_fetcher is None:
            raise ValueError("need pages_df (mock web) or live_fetcher")
        # run() calls compact() every N completed rounds (None = never):
        # long crawls keep the frontier at pending-size and slab/manifest
        # growth bounded without an external maintenance job
        self.compact_every = compact_every
        self.scraper_factory = scraper_factory
        self.seeds = sorted(set(seeds))
        self.per_host_budget = per_host_budget
        self.round_budget = round_budget
        self.n_slabs = n_slabs
        self.slab_capacity = slab_capacity
        self.now = now or datetime.now(timezone.utc)
        self.fetch_partitions = fetch_partitions or max(
            4, spark.sparkContext.defaultParallelism)
        # adaptive_priority=True folds per-host crawl feedback into the
        # dequeue ranking (focused-crawl scheduling): hosts that yield
        # items get dequeued earlier, hosts that fail fetches later.
        # The feedback derives ENTIRELY from the fetched-history table
        # (status / n_items per host) — no new state, so resume,
        # rollback and compaction need no changes, and the adjustment is
        # deterministic (integer sums + one double expression). Within a
        # host the adjustment is constant, so per-host ordering — and
        # politeness — is untouched; only cross-host selection/order
        # changes. Default OFF: the classic digest is bit-identical.
        #   eff_priority = priority
        #       + ADAPTIVE_ERROR_WEIGHT * (n_fetched - n_ok) / n_fetched
        #       - ADAPTIVE_YIELD_WEIGHT * min(1, n_items / max(n_ok, 1))
        self.adaptive_priority = adaptive_priority
        # canonicalize_outlinks=True applies RFC 3986 syntax-based
        # normalization (ops/urlnorm.py — lowercase scheme/host, default
        # ports, dot segments, fragments) to every outlink AND seed
        # before the seen-set test, merging trivially-distinct spellings
        # of the same resource — frontier hygiene at the 10^10 design
        # point. canonicalize_outlinks="full" additionally runs the
        # percent-encoding pass (§6.2.2.2, Arrow-vectorized kernel —
        # %7E and ~ spellings land on ONE frontier row). Opt-in:
        # goskyr's own URL-join output is the reference identity, so
        # normalization changes crawl digests by design. The percent
        # pass (_pct) runs in Python — in the kernel for outlinks, in
        # bootstrap for seeds — before the syntax passes' column
        # expression (_identity_cols), which seeds and outlinks share.
        self.canonicalize_outlinks = canonicalize_outlinks
        self._pct = (percent_normalize_str if canonicalize_outlinks == "full"
                     else (lambda u: u))
        # one schema for all hosts: factory must produce field-compatible
        # scrapers (heterogeneous configs get engine instances per config)
        self._proto = scraper_factory("proto.invalid")
        # on_subpage fields: main-page fields extract during the crawl
        # (subpage columns stay NULL in the items table); detail pages are
        # crawled as outlinks, and items_final() joins them back and runs
        # the stage-2 extraction + final filters — same semantics as the
        # batch pipeline. Filters at crawl time use the partial-item fast
        # path (absent fields skip their filters), matching the
        # reference's filter-fast ordering (scraper.go:381-389).
        self._has_subpage = any(f.on_subpage and not f.value
                                for f in self._proto.fields)

        # S8 debug dump, Spark-first: instead of one html file per fetch
        # (reference fetcher.go:80-111), debug mode appends the fetched
        # (ok) pages to a debug_pages snapshot table with round lineage.
        # The kernel emits their html as an extra output column and the
        # round commit persists it, in mock and live mode alike. A live
        # crawl has no pages table, so on_subpage there also implies
        # retention — without it items_final could never join the
        # detail-page html back.
        self._retain_html = debug or (pages_df is None and
                                      self._has_subpage)
        if pages_df is None and self._has_subpage and not debug:
            logger.info("live crawl with on_subpage fields: retaining "
                        "fetched html in debug_pages for stage-2 "
                        "extraction")
        # per-round SparkContext broadcasts (slab blobs/files) and cached
        # DataFrames; released at the end of run_round so a months-long
        # crawl (the 10^10 design point) cannot accumulate blocks
        self._round_bcs = []
        self._round_cached = []
        # (slab table HEAD, _slab_latest()) and immutable table files
        # read driver-side (_read_file_cached)
        self._slab_head = (None, {})
        self._file_cache = {}
        # the last _measure_sizes(): round_plan() inputs, and the
        # dequeue bytes that set the modulus M of the HOST-HASH BUCKETED
        # frontier, fetched and host_stats (_hostpart_write): small crawls
        # write one plain file per append, large ones one file per
        # bucket, so the cluster dequeue is a task-local job with no
        # per-round shuffle of the full pending set — the dominant
        # dequeue cost at the 10^10-URL design point
        self._sizes = {}
        self.last_phases, self._mark_t = [], time.time()
        self.t_debug = self.store.table("debug_pages")
        self.t_frontier = self.store.table("frontier")
        self.t_fetched = self.store.table("fetched")
        self.t_seen = self.store.table("seen")
        self.t_slabs = self.store.table("slabs")
        self.t_items = self.store.table("items")
        self.t_metrics = self.store.table("metrics")
        self.t_rounds = self.store.table("rounds")
        self.t_host_stats = self.store.table("host_stats")
        self.t_pages = self.store.table("pages")

    def _files_bytes(self, table, rel_files=None):
        """On-disk bytes of a table's (or a subset of its) files —
        driver-side stat calls, no Spark job; an input of round_plan()."""
        files = (rel_files if rel_files is not None
                 else table.manifest()["files"])
        total = 0
        for f in files:
            try:
                total += os.path.getsize(os.path.join(table.dir, f))
            except OSError:
                pass
        return total

    def _bc(self, value):
        """Create a round-scoped SparkContext broadcast. Handles are
        kept and unpersisted once the round's jobs have all completed
        (end of run_round) — otherwise a long-running crawl accumulates
        broadcast blocks on the driver and every executor."""
        b = self.spark.sparkContext.broadcast(value)
        self._round_bcs.append(b)
        return b

    def _cache(self, df):
        """Round-scoped DataFrame cache, released with the broadcasts."""
        df = df.cache()
        self._round_cached.append(df)
        return df

    def _release_round(self):
        for df in self._round_cached:
            df.unpersist()
        for b in self._round_bcs:
            try:
                b.unpersist(blocking=False)
            except Exception:  # already released / context gone
                pass
        self._round_bcs, self._round_cached = [], []

    def _read_file_cached(self, dirpath, rel, schema):
        """Driver-side pyarrow read of ONE table file, memoized by path:
        table files are immutable (uuid names) and the driver-side
        phases re-read the same live files every round. Only the slab
        stats and files read while round_plan() kept their phase on the
        driver get cached, and _measure_sizes drops each one once it
        leaves the live inputs."""
        key = (os.path.join(dirpath, rel), tuple(schema.names))
        t = self._file_cache.get(key)
        if t is None:
            t = self._file_cache[key] = _read_parquet([key[0]], schema)
        return t

    # ---------------------------------------------- host-bucketed layout

    def _hostpart_write(self, table, df, meta, mode="append",
                        coalesce=None, mod=None, within=None, options=None):
        """Spark append/overwrite (or "append_counted") of a host-keyed
        table under M = mod, by default _bucket_mod of the dequeue input
        as _measure_sizes() took it at round start (or at compact()),
        the frontier, fetched and host_stats modulus: at M = 1 a plain
        write (coalesced when asked), else one file per crc32(host) mod
        M bucket, each file's (bucket, M) in the manifest, repartitioned
        by bucket WITHOUT a pinned partition count — AQE coalesces the
        exchange by size, so a 65-row tail round shuffles into one task
        while a fat round still spreads. within(df, keys), when given,
        maps the partitioned rows before the write; keys is [] at M = 1,
        else ["_bucket"]. options go to the parquet writer."""
        mod = mod or _bucket_mod(self._sizes.get("dequeue_bytes", 0))
        keys = [] if mod == 1 else ["_bucket"]
        if keys:
            df = df.withColumn("_bucket", F.pmod(
                F.crc32(F.col("host")), F.lit(mod))).repartition("_bucket")
            meta = dict(meta or {}, bucket_mod=mod)
        elif coalesce:
            df = df.coalesce(coalesce)
        return getattr(table, mode)(within(df, keys) if within else df, meta,
                                    partition_by=keys[0] if keys else None,
                                    options=options)

    def _layout_pages(self):
        """Lay pages_df out once per workdir as the `pages` table the
        kernel's StoreFetcher reads: (url, host, html as binary — a
        string html column is stored as its UTF-8 bytes), rows without a
        host dropped, in crc32(host) mod M buckets with M = _bucket_mod
        of the pages' bytes, each file sorted by url and holding one row
        per url: the latest warc_ts when pages_df has one, then the
        largest html (a url's captures share a host, so the pick needs
        no shuffle past the bucket one). Row groups are bounded by
        PAGES_ROW_GROUP_BYTES, so their url min/max statistics let a
        StoreFetcher read only the row groups holding the urls it is
        asked for. A workdir that has the table (a resumed crawl) reuses
        it."""
        if self.pages is None or self.t_pages.exists():
            return
        nbytes = self.pages.select(F.sum(F.octet_length("url")
                                         + F.octet_length("html"))).first()[0]
        order = [F.desc(c) for c in ("warc_ts", "html")
                 if c in self.pages.columns]

        def latest(df, keys):
            w = Window.partitionBy(*keys, "url").orderBy(*order)
            return (df.withColumn("_rn", F.row_number().over(w))
                    .filter("_rn = 1").select("url", "host", "html", *keys))

        pages = self.pages.withColumns({
            "host": _host_col(), "html": F.col("html").cast("binary")})
        self._hostpart_write(
            self.t_pages, pages.filter(F.col("host").isNotNull()), {},
            mod=_bucket_mod(nbytes or 0), within=latest,
            options={"parquet.block.size": PAGES_ROW_GROUP_BYTES})
        self._mark("pages_layout")

    def _append_host_keyed(self, table, tbl, round_no):
        """Driver-side append of a host-keyed Arrow table under the
        Spark writer's rule: one file at M = 1, else one file per
        crc32(host) mod M bucket (M as _hostpart_write's default)."""
        mod = _bucket_mod(self._sizes.get("dequeue_bytes", 0))
        meta = {"round": round_no}
        if mod == 1:
            table.append_arrow(tbl, meta)
            return
        b = _host_bucket(tbl.column("host"), mod)
        table.append_arrow_bucketed(
            {int(k): tbl.filter(pa.array(b == k)) for k in np.unique(b)},
            dict(meta, bucket_mod=mod))

    def _frontier_compact_round(self):
        """Round of the frontier compaction currently IN EFFECT, or
        None. A compaction at round C rewrote the frontier to the
        pending set (frontier ANTI JOIN fetched through C), and a URL
        can never re-enter the frontier (the seen set blocks
        re-discovery) — so every live frontier row is guaranteed
        un-fetched as of C, and the dequeue anti-join only needs
        fetched rows from rounds > C.

        'In effect' is decided by the commit LINEAGE (robust even when
        the compacted pending set was empty): walking the frontier's
        snapshot chain oldest→newest, a compaction commit establishes
        its round; any LATER commit carrying a SMALLER round is a
        rollback that restored pre-compaction content and voids the
        guarantee (conservatively — even if an earlier compaction might
        still hold, fall back to reading all fetched files until the
        next compaction re-establishes the bound)."""
        c = None
        for m in self.t_frontier.snapshots():
            r = m["meta"].get("round")
            if m["meta"].get("compacted") and r is not None:
                c = r if c is None else max(c, r)
            elif c is not None and r is not None and r < c:
                c = None
        return c

    def _antijoin_fetched_files(self):
        """(relative fetched files the dequeue anti-join must read,
        compact_round) — files from commits at rounds > the effective
        frontier compaction (None round = unknown origin = keep)."""
        c = self._frontier_compact_round()
        fr = self.t_fetched.file_rounds()
        if c is None:
            return sorted(fr), None
        return sorted(f for f, r in fr.items()
                      if r is None or r > c), c

    # --------------------------------------------------------------- dequeue

    def _adaptive_weights(self):
        if not self.adaptive_priority:
            return None
        return ADAPTIVE_ERROR_WEIGHT, ADAPTIVE_YIELD_WEIGHT

    def _dequeue_inputs(self):
        """The dequeue's input files, relative to their tables:
        [(frontier, its live files), (fetched, the post-compaction files
        the anti-join reads), (host_stats, its files when adaptive, else
        none)]. round_plan() measures these bytes, and both dequeues
        read these files."""
        return [(self.t_frontier, self.t_frontier.manifest()["files"]),
                (self.t_fetched, self._antijoin_fetched_files()[0]),
                (self.t_host_stats, self.t_host_stats.manifest()["files"]
                 if self.adaptive_priority else [])]

    def _dequeue_driver(self):
        """Driver-side dequeue: _dequeue_frame once over all the
        _dequeue_inputs() files, read with pyarrow — zero Spark jobs. A
        _DEQUEUED_ARROW table (empty when there is no frontier)."""
        (ft, fr), (at, aj), (ht, hs) = self._dequeue_inputs()
        if not fr:
            return _DEQUEUED_ARROW.empty_table()

        def read(table, files, schema):
            return pa.concat_tables(
                [self._read_file_cached(table.dir, f, schema)
                 for f in files]) if files else None

        return _dequeue_frame(read(ft, fr, _FRONTIER_ARROW),
                              read(at, aj, _URL_ARROW),
                              read(ht, hs, _HOST_SUMS_ARROW),
                              self.per_host_budget, self.round_budget,
                              self._adaptive_weights()).drop_columns("_eff")

    def _dequeue_cluster(self):
        """Shuffle-free cluster dequeue: T tasks (a power of two, sized
        by the bytes they read and fetch_partitions), task t reading its
        share (_dequeue_reads) of the _dequeue_inputs() files with
        pyarrow and running _dequeue_frame over it; the only exchange is
        the final global TakeOrdered merge over ≤ T × round_budget
        survivors. A host's rows reach exactly one task whatever moduli
        its files were written under, so the rows equal the driver
        dequeue's."""
        maps = []
        for table, rel in self._dequeue_inputs():
            bm = table.bucket_map()
            maps.append({os.path.join(table.dir, f): bm[f] for f in rel})
        if not maps[0]:
            return self.spark.createDataFrame([], DEQUEUED_SCHEMA)
        # task count from the BYTES the tasks will read (driver-side
        # stat calls, no job): a tail round with a few KB of pending
        # rows runs as ONE task instead of paying fetch_partitions
        # Python-worker launches
        total = sum(os.path.getsize(p) for m in maps for p in m)
        cap = min(self.fetch_partitions, total // BUCKET_BYTES + 1)
        n_tasks = 1 << (cap.bit_length() - 1)
        bc = self._bc([_dequeue_reads(m, n_tasks) for m in maps])
        schemas = (_FRONTIER_ARROW, _URL_ARROW, _HOST_SUMS_ARROW)
        per_host, budget = self.per_host_budget, self.round_budget
        weights = self._adaptive_weights()
        out_spark = StructType(DEQUEUED_SCHEMA.fields +
                               [StructField("_eff", DoubleType())])

        def kernel(batches):
            for batch in batches:
                for t in batch.column(0).to_pylist():
                    frontier, fetched, host_stats = (
                        _read_share(reads[t], s, t, n_tasks)
                        for reads, s in zip(bc.value, schemas))
                    if frontier is not None:
                        yield from _dequeue_frame(
                            frontier, fetched, host_stats, per_host,
                            budget, weights).to_batches()

        # one task id per partition: task t runs in partition t
        return (self.spark.range(0, n_tasks, 1, n_tasks)
                .mapInArrow(kernel, out_spark)
                .orderBy("_eff", "url").limit(budget).drop("_eff"))

    # ------------------------------------------------------------------ state

    def last_complete_round(self):
        """The highest round with a `rounds` row: -1 once bootstrap has
        committed, None when it never did. A pyarrow read of the rounds
        files' round column, no Spark job."""
        files = self.t_rounds.manifest()["files"]
        if not files:
            return None
        t = _read_parquet([os.path.join(self.t_rounds.dir, f) for f in files],
                          pa.schema([("round", pa.int64())]))
        return pc.max(t["round"]).as_py()

    def _rollback_table(self, table, round_no):
        """Point the table back at its last snapshot with meta.round <=
        round_no (free under snapshot isolation); round_no None empties
        it."""
        target = None
        if round_no is not None:
            for m in table.snapshots():
                if m["meta"].get("round", -1) <= round_no:
                    target = m
        if target is None:
            if table.head() != 0:
                table._commit([], {"round": round_no}
                              if round_no is not None else {}, "overwrite")
        elif target["snapshot"] != table.head():
            table._commit(target["files"], {"round": round_no}, "overwrite",
                          parent=table.head())

    def recover(self):
        """Roll every table back to the last COMPLETE round; makes resume
        after a mid-round crash replay identically. A workdir whose
        bootstrap never wrote its rounds row (a crash inside it) is
        rolled back to empty and returns None: run() bootstraps it
        again."""
        last = self.last_complete_round()
        tables = [self.t_frontier, self.t_fetched, self.t_seen,
                  self.t_slabs, self.t_items, self.t_metrics,
                  self.t_host_stats]
        if self._retain_html:
            tables.append(self.t_debug)
        for t in tables:
            self._rollback_table(t, last)
        # legacy/non-adaptive workdir resumed WITH adaptive priority:
        # backfill the feedback table from fetched ONCE; every later
        # round stays incremental. Non-adaptive resumes skip this (the
        # table is only consumed by the adaptive dequeue).
        if (self.adaptive_priority and not self.t_host_stats.exists()
                and self.t_fetched.exists() and last is not None
                and last >= 0):
            fetched = self.t_fetched.read(self.spark,
                                          schema=FETCHED_SCHEMA)
            self._hostpart_write(
                self.t_host_stats,
                self._host_stats_delta(fetched)
                .withColumn("round", F.lit(last).cast("long")),
                {"round": last, "backfilled": True}, coalesce=1)
        return last

    def bootstrap(self):
        """Round -1: lay out the pages (mock mode, _layout_pages), then
        commit the seeds as round -1's new urls, outlinks of depth -1:
        the outlinks' percent pass and identity step
        (_outlink_identity), _frontier_rows (priority 0, depth 0, page
        1, one row per canonical url) and the new-url commit. Under the
        size policy no Spark job runs for them. A seed without a host is
        dropped, like an outlink."""
        self.last_phases, self._mark_t = [], time.time()
        self._layout_pages()
        self._sizes = self._measure_sizes()
        n = len(self.seeds)
        seeds = self._outlink_identity(pa.table({
            "_outlink": pa.array([self._pct(u) for u in self.seeds],
                                 pa.string()),
            "_depth": pa.array(np.full(n, -1, dtype=np.int64)),
            "_page_no": pa.array(np.ones(n, dtype=np.int64))}))
        self._mark("identity")
        if seeds["_out_host"].null_count:
            logger.warning("dropped %d seed(s) without a host",
                           seeds["_out_host"].null_count)
        n_new = self._new_urls_phase(self._plan(),
                                     _frontier_rows(seeds, -1), -1)
        self.t_rounds.append_rows(
            [(-1, 0, 0, 0, 0, n_new, 0.0)], ROUNDS_SCHEMA, {"round": -1})
        self._release_round()

    # ------------------------------------------------------------------ seen

    def _slab_latest(self):
        """{sid: (path, round, count, capacity)} of each slab's latest
        row: the slab metadata behind every slab decision, the plan's
        slab_bytes and each blob read. One pyarrow read of the four stat
        columns of the live slab files (immutable, so each is read once,
        through _read_file_cached), redone when the slab HEAD moves — no
        Spark job, and the filter blobs are never touched."""
        head = self.t_slabs.head()
        if self._slab_head[0] != head:
            latest = {}
            for f in self.t_slabs.manifest()["files"]:
                path = os.path.join(self.t_slabs.dir, f)
                t = self._read_file_cached(self.t_slabs.dir, f,
                                           _SLAB_STATS_ARROW)
                for sid, rnd, n, cap in zip(*t.to_pydict().values()):
                    if sid not in latest or rnd > latest[sid][1]:
                        latest[sid] = (path, rnd, n, cap)
            self._slab_head = (head, latest)
        return self._slab_head[1]

    def _append_seen(self, new, round_no):
        """Driver-side seen append of an Arrow table of (url, url_hash);
        returns the hashes for the slab update."""
        n = new.num_rows
        self.t_seen.append_arrow(
            pa.table([new.column("url"), new.column("url_hash"),
                      pa.array(np.full(n, round_no, dtype=np.int64))],
                     schema=_SEEN_ARROW),
            {"round": round_no})
        return new.column("url_hash").to_numpy()

    def _commit_seen(self, round_no, n_new, new=None, files=None):
        """Seen append + slab update for this round's n_new new urls:
        `new` is an Arrow table of them the driver holds, else `files`
        are the frontier files the round just wrote (copied driver-side
        or by one cheap Spark re-scan, as the plan says; row content is
        identical either way)."""
        if not n_new:
            # still mark the round on the tables for rollback bookkeeping
            for t in (self.t_seen, self.t_slabs):
                t.commit_meta({"round": round_no})
            return
        plan = self._plan(n_new=n_new)
        if new is None and plan.seen_copy_driver:
            new = _read_parquet(files, _URL_HASH_ARROW)
        if new is not None:
            hashes = self._append_seen(new, round_no)
        else:
            hashes = None
            self.t_seen.append(
                self.spark.read.parquet(*files)
                .select("url", "url_hash",
                        F.lit(round_no).cast("long").alias("round")),
                {"round": round_no})
        self._mark("seen")
        self._update_slabs(plan, round_no, hashes, files)
        self._mark("slabs")

    # --- slab update ---------------------------------------------------------

    def _update_slabs(self, plan, round_no, hashes, files):
        """Insert this round's new url hashes into their slabs'
        Bloom+cuckoo filters. Filters must never have FALSE NEGATIVES (a
        seen url missing from its slab would re-enter the frontier), so
        every touched slab is persisted each round.

        The per-slab choice is made here, once, for both sides: a new
        slab is built from its new hashes; one that would pass 80% load
        is rebuilt at double size from its seen slice (seen commits
        first, so the slice already holds this round's hashes); any
        other takes an insert, and an insert whose cuckoo overflows is
        retried once as a rebuild at _grow_cap. The plan only says where
        _slab_build runs. `hashes` are the new hashes when the driver
        holds them (always when the plan puts slabs on the driver), else
        `files` are the round's new frontier files."""
        latest = self._slab_latest()
        if hashes is not None:
            counts = {sid: len(h)
                      for sid, h in _by_slab(hashes, self.n_slabs).items()}
        else:
            sid = F.pmod(F.col("url_hash"), F.lit(self.n_slabs))
            counts = {int(r[0]): int(r[1]) for r in self.spark.read
                      .parquet(*files).groupBy(sid).count().collect()}
        caps = {sid: _build_cap(latest[sid][2:] if sid in latest else None,
                                n, self.slab_capacity)
                for sid, n in counts.items()}
        rebuild = {sid for sid in caps
                   if caps[sid] is not None and sid in latest}
        write = self._slabs_driver if plan.slabs_driver else self._slabs_cluster
        write(round_no, caps, rebuild, latest, hashes, files)
        done = self._slab_latest()
        failed = {sid for sid in caps if done[sid][1] != round_no}
        if failed:
            write(round_no, {sid: _grow_cap(latest[sid][2:], counts[sid])
                             for sid in failed}, failed, latest, hashes, files)

    def _slabs_driver(self, round_no, caps, rebuild, latest, hashes, files):
        """_slab_build in-process over the driver-held hashes and, for
        the `rebuild` slabs, their seen slices read by pyarrow, with the
        insert slabs' previous blobs from _slab_blobs; one pyarrow
        append of the rows that did not overflow."""
        groups = _by_slab(hashes, self.n_slabs)
        if rebuild:
            seen = _read_parquet(
                [os.path.join(self.t_seen.dir, f)
                 for f in self.t_seen.manifest()["files"]], _HASH_ARROW)
            by_sid = _by_slab(seen.column(0).to_numpy(), self.n_slabs)
            groups.update({sid: by_sid[sid] for sid in rebuild})
        prev = _slab_blobs(latest, [s for s in caps if caps[s] is None])
        t = _slab_build({sid: groups[sid] for sid in caps}, prev, caps,
                        round_no)
        self.t_slabs.append_arrow(t.filter(pc.is_valid(t["cuckoo"])),
                                  {"round": round_no})

    def _slabs_cluster(self, round_no, caps, rebuild, latest, hashes, files):
        """_slab_build in Spark tasks, once per partition of a
        slab-aligned shuffle of the new hashes (driver-held, or re-read
        from `files`) and, for the `rebuild` slabs, their seen slices. Each
        task reads its insert slabs' previous blobs with _slab_blobs (one
        pruned read per slab file) and the rows are written from the
        executors: blobs never reach the driver."""
        spark, n_slabs = self.spark, self.n_slabs
        sid = F.pmod(F.col("url_hash"), F.lit(n_slabs))
        if hashes is not None:
            new = spark.createDataFrame(
                pa.table({"url_hash": np.asarray(hashes, np.int64)}),
                "url_hash long")
        else:
            new = spark.read.parquet(*files).select("url_hash")
        inp = new.filter(sid.isin([s for s in caps if s not in rebuild]))
        if rebuild:
            inp = inp.unionByName(
                self.t_seen.read(spark, schema=SEEN_SCHEMA)
                .select("url_hash").filter(sid.isin(sorted(rebuild))))
        bc = self._bc({s: latest[s] for s in caps if caps[s] is None})

        def build(batches):
            hs = [np.asarray(b.column(0).to_numpy(zero_copy_only=False),
                             dtype=np.int64) for b in batches]
            if hs:
                groups = _by_slab(np.concatenate(hs), n_slabs)
                yield from _slab_build(
                    groups, _slab_blobs(bc.value, groups), caps,
                    round_no).to_batches()

        n_parts = max(1, min(n_slabs, self.fetch_partitions))
        self.t_slabs.append(inp.repartition(n_parts, sid)
                            .mapInArrow(build, SLAB_SCHEMA)
                            .filter("cuckoo IS NOT NULL"),
                            {"round": round_no})

    # --- seen-set membership test ---------------------------------------------

    def _filter_new_urls(self, candidates, plan):
        """candidates(url, url_hash, ...) → truly-new rows.

        Bloom/cuckoo 'absent' ⇒ definitely new (no join); 'maybe seen' ⇒
        exact LEFT ANTI JOIN against the seen table. False positives can
        never drop a real URL; false negatives are structurally
        impossible (per-round slab persistence)."""
        flagged = self._flag_seen(candidates, plan.seen_partitioned)
        definitely_new = flagged.filter("maybe_seen = 0").drop("maybe_seen")
        maybe_seen = flagged.filter("maybe_seen = 1").drop("maybe_seen")
        seen = self.t_seen.read(self.spark, schema=SEEN_SCHEMA) \
            .select("url_hash", "url")
        if plan.broadcast_seen:
            seen = F.broadcast(seen)
        # exact join on BOTH hash and url: a 64-bit hash collision must not
        # drop a distinct url (exactness of the seen set)
        confirmed_new = maybe_seen.join(seen, on=["url_hash", "url"],
                                        how="left_anti")
        return definitely_new.unionByName(confirmed_new)

    def _flag_seen(self, candidates, partitioned):
        """Append maybe_seen to the candidates. Broadcast: the driver
        reads all slab blobs (_slab_blobs) and every task gets them (no
        shuffle of the candidates; right up to tens of MB of filter
        bytes — broadcast, not closure capture, or the blobs would be
        pickled into every task). Partitioned (the 10^10-URL path):
        candidates shuffle by slab id and each task reads ONLY its
        slabs' blobs from slab parquet, per Arrow batch the ones it has
        not read yet, one pruned read per file. Either way a task
        decodes each slab once."""
        n_slabs = self.n_slabs
        flag_schema = StructType(candidates.schema.fields +
                                 [StructField("maybe_seen", LongType())])
        latest = self._slab_latest()
        if partitioned:
            bc = self._bc(latest)
            n_parts = max(1, min(n_slabs, self.fetch_partitions))
            candidates = (candidates
                          .withColumn("_sid", F.pmod(F.col("url_hash"),
                                                     F.lit(n_slabs)))
                          .repartition(n_parts, "_sid").drop("_sid"))
        else:
            bc = self._bc(_slab_blobs(latest, latest))

        def flag(batches):
            filters = {}
            for batch in batches:
                hashes = batch.column("url_hash")
                need = _slab_ids(hashes, n_slabs) - filters.keys()
                filters.update(_decode(
                    _slab_blobs(bc.value, need) if partitioned else
                    {s: bc.value[s] for s in need if s in bc.value}))
                maybe = _maybe_seen(hashes, n_slabs, filters)
                yield pa.RecordBatch.from_arrays(
                    [*batch.columns, pa.array(maybe.astype(np.int64))],
                    names=[*batch.schema.names, "maybe_seen"])

        return candidates.mapInArrow(flag, flag_schema)

    def _host_stats_delta(self, fetch_df):
        """One round's per-host delta rows from that round's fetch
        results (tiny: ≤ hosts touched this round)."""
        return (fetch_df.groupBy("host")
                .agg(F.count("*").alias("n_fetched"),
                     F.sum(F.when(F.col("status") == "ok", 1)
                           .otherwise(0)).alias("n_ok"),
                     F.sum("n_items").alias("n_items")))

    # ------------------------------------------------------------------ round

    def _mark(self, name):
        """Phase checkpoint for profiling: records (name, secs since the
        previous mark) into self.last_phases. Cost is one time.time()
        call per phase per round — always on, read by bench_extra.py."""
        now = time.time()
        self.last_phases.append((name, now - self._mark_t))
        self._mark_t = now

    def _measure_sizes(self):
        """round_plan() inputs that exist at round start: on-disk bytes
        from the manifests (stat calls, no job) and the slabs' estimated
        filter bytes from their stats. Also evicts _file_cache entries
        whose files are no longer among these live inputs or the live
        slab files (compacted away, or pruned from the dequeue
        anti-join)."""
        live = self._dequeue_inputs() + [
            (self.t_seen, self.t_seen.manifest()["files"])]
        slabs = (self.t_slabs, self.t_slabs.manifest()["files"])
        paths = {os.path.join(t.dir, f)
                 for t, files in live + [slabs] for f in files}
        self._file_cache = {k: v for k, v in self._file_cache.items()
                            if k[0] in paths}
        *dequeue, seen = (self._files_bytes(t, files) for t, files in live)
        return dict(
            dequeue_bytes=sum(dequeue), seen_bytes=seen,
            # bloom ≈ 1.5 B/slot (12 bits/item) + cuckoo 2 B/slot
            slab_bytes=sum(int(3.5 * v[3])
                           for v in self._slab_latest().values()))

    def _plan(self, **counts):
        """This round's plan from its start-of-round sizes and the
        counts known so far (n_dequeued, n_new)."""
        return round_plan(live=self.live_fetcher is not None, **self._sizes,
                          **counts)

    def run_round(self, round_no: int):
        t0 = time.time()
        self.last_phases, self._mark_t = [], t0
        self._sizes = self._measure_sizes()
        dequeued, n_dequeued = self._dequeue_phase(self._plan())
        self._mark("dequeue")
        if n_dequeued == 0:
            self._release_round()  # cluster dequeue's read-rule broadcast
            self.t_rounds.append_rows(
                [(round_no, 0, 0, 0, 0, 0, time.time() - t0)],
                ROUNDS_SCHEMA, {"round": round_no})
            return {"round": round_no, "n_dequeued": 0}
        plan = self._plan(n_dequeued=n_dequeued)
        if plan.commit_driver:
            started = datetime.now(timezone.utc)
            coll = (self._kernel_driver(dequeued, round_no)
                    if plan.kernel_driver else self._collect_kernel(
                        self._fetch_extract_phase(dequeued, n_dequeued,
                                                  round_no),
                        round_no, n_dequeued))
            stats, outlinks, ended = self._commit_round_driver(coll,
                                                               round_no)
        else:
            stats, outlinks, started, ended = self._commit_round_cluster(
                self._fetch_extract_phase(dequeued, n_dequeued, round_no),
                round_no, n_dequeued)
        n_new = self._new_urls_phase(plan, outlinks, round_no)
        return self._tail_phase(round_no, t0, n_dequeued, stats, n_new,
                                started, ended)

    def _dequeue_phase(self, plan):
        """(dequeued rows, row count): an Arrow table of _DEQUEUED_ARROW
        rows from the driver dequeue, else a cached DataFrame of
        DEQUEUED_SCHEMA rows from the cluster one."""
        if plan.dequeue_driver:
            t = self._dequeue_driver()
            return t, t.num_rows
        df = self._cache(self._dequeue_cluster())
        return df, df.count()

    def _kernel_fn(self, round_no, host_state):
        """The fetch/extract kernel of one round: a function from Arrow
        batches of dequeued rows, sorted by (_host_seq, host), to Arrow
        batches of _crawl_schema() rows (_kind fetch/item/outlink/host).
        The cluster hands it to mapInArrow and the driver calls it on
        its own dequeued rows. host_state() returns the engine's host
        state (a broadcast's value inside a task). Each call fetches
        through its own fetcher: the live factory's, or a StoreFetcher
        over the pages table. The politeness clock is the dequeue's
        per-host rank _host_seq, so it does not depend on physical
        partitioning; only live mode also sleeps."""
        scraper_factory = self.scraper_factory
        wall_clock = self.live_fetcher is not None
        fetcher_factory = self.live_fetcher or functools.partial(
            StoreFetcher, {os.path.join(self.t_pages.dir, f): bn
                           for f, bn in self.t_pages.bucket_map().items()})
        pct = self._pct
        now = self.now
        arrow_out = to_arrow_schema(self._crawl_schema())
        fcols = _field_columns(self._proto)
        retain_html = self._retain_html
        round_base = float(round_no) * 1e6
        self._live_since = time.time()

        def fetch_extract(batches):
            scrapers = {}
            robots_cache = {}  # host -> parsed rules, for this task
            fetcher = fetcher_factory()
            # one read per Arrow batch for a fetcher that serves a batch
            # at a time (StoreFetcher)
            prefetch = getattr(fetcher, "prefetch", None)
            # robots.txt groups are matched against the User-Agent the
            # fetcher sends; the pages store reads the "*" group
            user_agent = getattr(fetcher, "user_agent", None) or "*"
            known = host_state()
            last_at = {}  # host -> wall time of this task's last request
            robots_out = {}  # host -> cacheable robots body fetched here

            def polite_get(host, u, delay):
                # wall-clock politeness: the host lives in THIS partition
                # (host-hash partitioning), so a local sleep enforces the
                # crawl-delay budget; the first request to a host waits
                # from its last request of an earlier round
                if wall_clock:
                    prev = last_at.get(
                        host, known.get(host, (None, 0.0, float("-inf")))[2])
                    wait = prev + delay - time.time()
                    if wait > 0:
                        time.sleep(wait)
                last_at[host] = time.time()
                return fetcher.fetch(u)

            def resolve_robots(host, url):
                body, expiry, _ = known.get(host, (None, 0.0, None))
                if body is not None and expiry > time.time():
                    return parse_robots(body, user_agent)
                # a re-fetch after the TTL keeps the expired rules'
                # crawl-delay
                delay = (parse_robots(body, user_agent).crawl_delay or 0.0
                         if body is not None else 0.0)
                try:
                    body = polite_get(host, robots_url(url),
                                      delay).encode()
                    robots_out[host] = body
                except FetchError as e:
                    # RFC 9309: 4xx (unavailable) ⇒ allow-all
                    # (cacheable); 5xx (unreachable) ⇒ complete
                    # disallow, not cached — re-probed next round
                    if e.status is not None and 400 <= e.status < 500:
                        body = robots_out[host] = b""
                    else:
                        body = ROBOTS_DISALLOW_ALL
                except Exception:
                    # network-level failure = unreachable
                    body = ROBOTS_DISALLOW_ALL
                return parse_robots(body, user_agent)

            for batch in batches:
                d = batch.to_pydict()
                if prefetch is not None:
                    prefetch(d["url"] + [robots_url(u) for u in d["url"]],
                             d["host"])
                # pass 1: robots for every host of the batch before any
                # page GET, so pass 2 (rows round-robin across hosts by
                # the (_host_seq, host) sort) never waits on a robots GET
                # and one host's crawl-delay overlaps the others' GETs
                for host, url in zip(d["host"], d["url"]):
                    if host not in robots_cache:
                        robots_cache[host] = resolve_robots(host, url)
                rows = []
                for r in range(batch.num_rows):
                    url = d["url"][r]
                    url_hash = d["url_hash"][r]
                    host = d["host"][r]
                    depth = d["depth"][r]
                    page_no = d["page_no"][r] or 1
                    host_seq = d["_host_seq"][r]
                    rules = robots_cache[host]
                    delay = rules.crawl_delay or 0.0
                    fetch_ts = round_base + (host_seq - 1) * delay
                    path = urlsplit(url).path or "/"
                    if not rules.allowed(path):
                        rows.append(_fetch_row(url, url_hash, host,
                                               fetch_ts, "robots", 0, 0))
                        continue
                    try:
                        html = polite_get(host, url, delay)
                    except Exception:
                        rows.append(_fetch_row(url, url_hash, host,
                                               fetch_ts, "missing", 0, 0))
                        continue
                    if host not in scrapers:
                        sc = scraper_factory(host)
                        scrapers[host] = (sc, initialize_filters(sc, now=now))
                    scraper, filters = scrapers[host]
                    pr = scrape_page(scraper, url, html, filters=filters,
                                     now=now)
                    n_items = 0
                    for item in pr.items:
                        clean = {k: v for k, v in item.items()
                                 if not k.startswith("_")}
                        if not filter_item(filters, clean):
                            continue
                        n_items += 1
                        rows.append(_item_row(url, host, item["_item_idx"],
                                              item, fcols))
                        # item url fields are outlinks (detail pages)
                        for f in scraper.fields:
                            if f.type == "url":
                                v = item.get(f.name)
                                if v:
                                    rows.append(_outlink_row(
                                        url, host, pct(v), depth, 1))
                    # pagination outlink: page page_no+1, capped by
                    # paginator.max_pages (0 = unbounded; reference
                    # scraper.go:574,600)
                    mp = scraper.paginator.max_pages
                    if pr.next_page_url and (mp == 0 or page_no < mp):
                        rows.append(_outlink_row(
                            url, host, pct(pr.next_page_url), depth,
                            page_no + 1))
                    rows.append(_fetch_row(url, url_hash, host, fetch_ts,
                                           "ok", n_items, pr.nr_errors,
                                           html if retain_html else None))
                if rows:
                    yield pa.RecordBatch.from_pylist(rows, schema=arrow_out)
            # one row per host this task contacted, folded into the
            # engine's host state by the round commit
            hosts = [{"_kind": "host", "_host": h, "_last_at": at,
                      "_robots_out": robots_out.get(h)}
                     for h, at in last_at.items()]
            if hosts:
                yield pa.RecordBatch.from_pylist(hosts, schema=arrow_out)

        return fetch_extract

    def _identity_cols(self):
        """Each _outlink's identity as one projection, the one place a
        url's identity is computed (seeds are round -1's outlinks; a
        fetched page keeps its dequeued row's url_hash): _out_url (its
        syntax passes when canonicalize_outlinks asks), _out_hash = its
        xxhash64 and _out_host (read on outlink rows only)."""
        url = F.col("_outlink")
        if self.canonicalize_outlinks:
            url = url_normalize_expr(url)
        return [url.alias("_out_url"), F.xxhash64(url).alias("_out_hash"),
                _host_col(url).alias("_out_host")]

    def _fetch_extract_phase(self, dequeued, n_dequeued, round_no):
        """The kernel as a Spark job over the dequeued rows (an Arrow
        table the driver holds, or a DataFrame), a lazy DataFrame of
        _crawl_schema() rows with each outlink's identity
        (_identity_cols) computed in the same job."""
        if isinstance(dequeued, pa.Table):
            dequeued = self.spark.createDataFrame(dequeued, DEQUEUED_SCHEMA)
        bc = self._bc(self._live_hosts)
        fetch_extract = self._kernel_fn(round_no, lambda: bc.value)
        # partition count adapts to the round size (a 700-url round must
        # not pay 64 task launches). Live politeness needs host-locality,
        # which hash-partitioning on host gives at any width, so live
        # mode never salts; mock mode's virtual clock is partition-free,
        # so a host is split into runs of SALT_ROWS ranks. Within a task
        # rows go round-robin across hosts: every host's first page,
        # then every host's second, ...
        n_fetch_parts = max(1, min(self.fetch_partitions,
                                   (n_dequeued + 15) // 16))
        keys = [F.col("host")]
        if self.live_fetcher is None:
            keys.append(F.floor((F.col("_host_seq") - 1) / SALT_ROWS))
        return (dequeued.repartition(n_fetch_parts, *keys)
                .sortWithinPartitions("_host_seq", "host")
                .mapInArrow(fetch_extract, self._crawl_schema())
                .select("*", *self._identity_cols()))

    def _kernel_driver(self, dequeued, round_no):
        """The kernel in the driver process, no Spark job: the driver's
        dequeued Arrow rows, sorted as a fetch task sorts its rows, go
        through _kernel_fn with the host state as it stands; then each
        outlink's identity (_outlink_identity). Returns the table a
        driver commit collects from the Spark kernel."""
        rows = dequeued.take(pc.sort_indices(dequeued, sort_keys=[
            ("_host_seq", "ascending"), ("host", "ascending")]))
        fetch_extract = self._kernel_fn(round_no, lambda: self._live_hosts)
        out = pa.Table.from_batches(
            list(fetch_extract(rows.to_batches())),
            schema=to_arrow_schema(self._crawl_schema()))
        self._mark("kernel_driver")
        out = self._outlink_identity(out)
        self._mark("identity")
        return out

    def _outlink_identity(self, out):
        """out plus the _identity_cols() columns, evaluated by Spark over
        a LocalRelation of the distinct outlink strings: the optimizer
        folds the projection on the driver (ConvertToLocalRelation), so
        collect() launches no job (toArrow() would launch one)."""
        links = pc.unique(pc.drop_null(out["_outlink"]))
        rows = self.spark.createDataFrame(pa.table({"_outlink": links})) \
            .select("_outlink", *self._identity_cols()).collect() \
            if len(links) else []
        at = pc.index_in(out["_outlink"], value_set=pa.array(
            [r[0] for r in rows], pa.string()))
        for i, (name, typ) in enumerate((("_out_url", pa.string()),
                                         ("_out_hash", pa.int64()),
                                         ("_out_host", pa.string())), 1):
            out = out.append_column(name, pc.take(
                pa.array([r[i] for r in rows], typ), at))
        return out

    def _fold_live_hosts(self, rows):
        """Fold the kernel's (host, robots body, last request time) rows
        into the host state: a fetched body is cached for
        _ROBOTS_TTL_SECS from the broadcast's time (before its GET); a
        NULL body keeps the host's earlier one."""
        expiry = self._live_since + _ROBOTS_TTL_SECS
        state = self._live_hosts
        for host, body, at in rows:
            if body is not None:
                state[host] = (bytes(body), expiry, at)
            else:
                state[host] = state.get(host, (None, 0.0, at))[:2] + (at,)
        if len(state) > _LIVE_HOSTS_MAX:
            keep = sorted(state, key=lambda h: state[h][2])
            self._live_hosts = {h: state[h]
                                for h in keep[-_LIVE_HOSTS_MAX // 2:]}

    def _append_html(self, result, round_no, n_files=1):
        """html retention (debug sink / live on_subpage stage-2
        source): the ok pages' html from the kernel's output rows, the
        one debug_pages writer for mock and live mode. `result` is a
        DataFrame (a Spark write) or an Arrow table the driver holds (a
        pyarrow write of the same rows)."""
        if isinstance(result, pa.Table):
            f = result.filter(pc.and_(pc.equal(result["_kind"], "fetch"),
                                      pc.equal(result["_status"], "ok")))
            self.t_debug.append_arrow(pa.table(
                [f["_page_url"], f["_host"],
                 pc.cast(f["_html_out"], pa.binary()),
                 pa.array(np.full(f.num_rows, round_no, dtype=np.int64))],
                schema=_DEBUG_ARROW), {"round": round_no})
            return
        dbg = (result.filter("_kind = 'fetch'")
               .filter(F.col("_status") == "ok")
               .select(F.col("_page_url").alias("url"),
                       F.col("_host").alias("host"),
                       F.encode(F.col("_html_out"), "UTF-8").alias("html"),
                       F.lit(round_no).cast("long").alias("round")))
        self.t_debug.append(dbg.coalesce(n_files), {"round": round_no})

    def _collect_kernel(self, kernel, round_no, n_dequeued):
        """The Spark kernel's output collected as Arrow for the driver
        commit: ONE job. When html is retained the output is cached first
        and its html appended to debug_pages by a Spark write, so pages
        never reach the driver; the rest is collected from the
        cache."""
        if self._retain_html:
            kernel = self._cache(kernel)
            self._append_html(kernel, round_no, n_dequeued // 50_000 + 1)
            kernel = kernel.drop("_html_out")
        coll = kernel.toArrow()
        self._mark("fetch_extract")
        return coll

    def _commit_round_driver(self, coll, round_no):
        """Driver-side round commit from the kernel's output rows as an
        Arrow table — run in the driver process (_kernel_driver) or
        collected from the Spark kernel (_collect_kernel); both carry
        each outlink's identity (_identity_cols) and each page's url_hash
        from its dequeued row, so no hash or host is ever computed
        off-JVM. html still
        in the table goes to debug_pages. Items, fetched (+ fetch_seq),
        host stats, the round metrics and the grouped new frontier rows
        (_frontier_rows) derive driver-side from that table. Returns
        (stats, frontier candidates as an Arrow table, ended)."""
        if "_html_out" in coll.column_names:
            self._append_html(coll, round_no)
            coll = coll.drop_columns(["_html_out"])
        h = coll.filter(pc.equal(coll["_kind"], "host"))
        self._fold_live_hosts(zip(*(h[c].to_pylist() for c in
                                    ("_host", "_robots_out", "_last_at"))))
        self._commit_items_driver(coll, round_no)
        self._mark("items")
        fetched = self._fetched_from_arrow(coll, round_no)
        self._append_host_keyed(self.t_fetched, fetched, round_no)
        ended = datetime.now(timezone.utc)
        self._mark("fetched_write")
        ok = pc.cast(pc.equal(fetched["status"], "ok"), pa.int64())
        if self.adaptive_priority or self.t_host_stats.exists():
            g = (fetched.append_column("_ok", ok).group_by("host")
                 .aggregate([("host", "count"), ("_ok", "sum"),
                             ("n_items", "sum")]))
            self._append_host_keyed(self.t_host_stats, pa.table(
                [g["host"], g["host_count"], g["_ok_sum"], g["n_items_sum"],
                 pa.array(np.full(g.num_rows, round_no, dtype=np.int64))],
                schema=_HOST_STATS_ARROW), round_no)
            self._mark("host_stats")
        stats = [{"_pid": 0, "n_fetched": fetched.num_rows,
                  "n_ok": pc.sum(ok).as_py(),
                  "n_items": pc.sum(fetched["n_items"]).as_py(),
                  "n_errors": pc.sum(fetched["n_errors"]).as_py()}]
        ot = coll.filter(pc.equal(coll["_kind"], "outlink"))
        return stats, _frontier_rows(ot, round_no), ended

    def _commit_items_driver(self, coll, round_no):
        """Items append from the collected kernel output: one parquet
        file written driver-side, with the names and logical types of
        the Spark path's select exactly."""
        it = coll.filter(pc.equal(coll["_kind"], "item"))
        schema = to_arrow_schema(self.items_table_schema())
        cols = [it["_page_url"], it["_item_idx"],
                *[it[n] for n in schema.names[2:-1]],
                pa.array(np.full(it.num_rows, round_no, dtype=np.int64))]
        self.t_items.append_arrow(
            pa.Table.from_arrays(cols, names=schema.names).cast(schema),
            {"round": round_no})

    @staticmethod
    def _fetched_from_arrow(coll, round_no):
        """Fetched rows from the collected kernel output, sorted by the
        SAME total order the cluster side ranks by — (fetch_ts, host,
        url), strings compared as UTF-8 bytes like Spark's — with
        fetch_seq their position, so the crawl digest is identical."""
        f = coll.filter(pc.equal(coll["_kind"], "fetch"))
        f = f.take(pc.sort_indices(f, sort_keys=[
            ("_fetch_ts", "ascending"), ("_host", "ascending"),
            ("_page_url", "ascending")]))
        n = f.num_rows
        return pa.table(
            [f["_page_url"], f["_url_hash"], f["_host"],
             pa.array(np.full(n, round_no, dtype=np.int64)),
             pa.array(np.arange(1, n + 1, dtype=np.int64)), f["_fetch_ts"],
             f["_status"], f["_n_items"], f["_n_errors"]],
            schema=_FETCHED_ARROW)

    def _commit_round_cluster(self, kernel, round_no, n_dequeued):
        """Cluster-side round commit (rounds above DRIVER_ROWS): the
        kernel output is cached and items / fetched / host stats are
        Spark writes. The global fetch_seq over (fetch_ts, host, url) is
        computed WITHOUT a single-partition Window (the scale-killer
        flagged in round 1): range-partition on the sort key, take the
        partition-LOCAL position from monotonically_increasing_id
        (pid<<33 + local row number — no shuffle, no Python), then add
        an exclusive prefix-sum of per-partition counts (one tiny
        n_parts-row collect). The sort key is unique per round (one
        fetch row per dequeued url), so the ranking — and the crawl
        digest — is identical at any parallelism."""
        result = self._cache(kernel)
        out_files = n_dequeued // 50_000 + 1
        items = (result.filter("_kind = 'item'")
                 .select(F.col("_page_url").alias("page_url"),
                         F.col("_item_idx").alias("item_idx"),
                         *[n for n, _ in _field_columns(self._proto)],
                         F.lit(round_no).cast("long").alias("round")))
        self.t_items.append(items.coalesce(out_files), {"round": round_no})
        self._mark("fetch_extract+items")
        if self._retain_html:
            self._append_html(result, round_no, out_files)
        self._fold_live_hosts(
            tuple(r) for r in result.filter("_kind = 'host'")
            .select("_host", "_robots_out", "_last_at").collect())

        fetch_base = (result.filter("_kind = 'fetch'")
                      .select(F.col("_page_url").alias("url"),
                              F.col("_url_hash").alias("url_hash"),
                              F.col("_host").alias("host"),
                              F.col("_fetch_ts").alias("fetch_ts"),
                              F.col("_status").alias("status"),
                              F.col("_n_items").alias("n_items"),
                              F.col("_n_errors").alias("n_errors"))
                      .withColumn("round", F.lit(round_no).cast("long")))
        started = datetime.now(timezone.utc)
        n_seq_parts = max(1, min(self.fetch_partitions,
                                 (n_dequeued + 4095) // 4096))
        seq_sorted = (fetch_base
                      .repartitionByRange(n_seq_parts,
                                          "fetch_ts", "host", "url")
                      .sortWithinPartitions("fetch_ts", "host", "url")
                      .withColumn("_pid", F.spark_partition_id())
                      .withColumn("_local",
                                  F.monotonically_increasing_id()
                                  .bitwiseAND(F.lit((1 << 33) - 1)))
                      ).cache()
        # ONE tiny aggregation serves both the fetch_seq offsets AND the
        # per-partition lineage metrics/round summary
        stats = (seq_sorted.groupBy("_pid")
                 .agg(F.count("*").alias("n_fetched"),
                      F.sum(F.when(F.col("status") == "ok", 1)
                            .otherwise(0)).alias("n_ok"),
                      F.sum("n_items").alias("n_items"),
                      F.sum("n_errors").alias("n_errors"))
                 ).collect()
        ended = datetime.now(timezone.utc)
        self._mark("seq_stats")
        offs, acc = {}, 0
        for r in sorted(stats, key=lambda r: r["_pid"]):  # key-ordered
            offs[int(r["_pid"])] = acc
            acc += int(r["n_fetched"])
        off_map = F.create_map(*[F.lit(v) for pid in sorted(offs)
                                 for v in (pid, offs[pid])])
        fetch_rows = (seq_sorted
                      .withColumn("fetch_seq",
                                  (F.col("_local") + 1 +
                                   F.element_at(off_map, F.col("_pid")))
                                  .cast("long"))
                      .select(*FETCHED_SCHEMA.names))
        # single consumer (the append) — reads seq_sorted cache
        self._hostpart_write(self.t_fetched, fetch_rows, {"round": round_no},
                             coalesce=out_files)
        self._mark("fetched_write")
        # incremental host feedback: THIS round's per-host delta (from
        # the same seq_sorted cache — no rescan), so the adaptive
        # dequeue never re-aggregates fetched history.
        if self.adaptive_priority or self.t_host_stats.exists():
            self._hostpart_write(
                self.t_host_stats,
                self._host_stats_delta(seq_sorted)
                .withColumn("round", F.lit(round_no).cast("long")),
                {"round": round_no}, coalesce=1)
            self._mark("host_stats")
        seq_sorted.unpersist()
        # the rows _frontier_rows makes on the driver side, by one
        # Spark groupBy over the kernel's precomputed identity columns
        outlinks = (result.filter("_kind = 'outlink'")
                    .filter(F.col("_out_host").isNotNull())
                    .groupBy(F.col("_out_url").alias("url"),
                             F.col("_out_hash").alias("url_hash"),
                             F.col("_out_host").alias("host"))
                    .agg(F.min(F.col("_depth") + 1).alias("depth"),
                         F.min("_page_no").alias("page_no"))
                    .withColumn("priority", F.col("depth").cast("double"))
                    .withColumn("discovered_round",
                                F.lit(round_no).cast("long"))
                    .select(*FRONTIER_COLS))
        return stats, outlinks, started, ended

    def _new_urls_phase(self, plan, outlinks, round_no):
        """Frontier candidates (FRONTIER rows, one per url: an Arrow
        table from the driver commit, else a DataFrame) → seen-set →
        new frontier rows; returns n_new."""
        if isinstance(outlinks, pa.Table):
            if plan.new_urls_driver:
                return self._commit_new_urls_driver(outlinks, round_no)
            outlinks = self.spark.createDataFrame(outlinks, FRONTIER_SCHEMA)
        # WRITE-FIRST commit: the new-url set is appended straight to the
        # frontier (ONE job — no count() pass, no cache); n_new comes
        # from the written parquet footers, and the seen append + slab
        # update derive FROM THE WRITTEN FILES instead of recomputing
        # the flag/anti-join lineage per consumer.
        n_new, new_files = self._hostpart_write(
            self.t_frontier, self._filter_new_urls(outlinks, plan),
            {"round": round_no}, mode="append_counted")
        self._mark("frontier(new_urls)")
        self._commit_seen(round_no, n_new, files=new_files)
        return n_new

    def _commit_new_urls_driver(self, t, round_no):
        """Driver-side new-url commit, no Spark job: `t` is the round's
        frontier candidates as _frontier_rows grouped them (their hash,
        host and canonical url computed in the kernel job by the SAME
        Spark expressions as the cluster side). The Bloom+cuckoo flag,
        the exact seen confirm (url membership over the driver-read
        seen files — stricter-equivalent to the [url_hash, url]
        anti-join) and the frontier/seen/slab appends run driver-side.
        Returns n_new."""
        hashes = t.column("url_hash")
        maybe = _maybe_seen(hashes, self.n_slabs, _decode(_slab_blobs(
            self._slab_latest(), _slab_ids(hashes, self.n_slabs))))
        keep = ~maybe
        if maybe.any() and self.t_seen.exists():
            seen_urls = pa.concat_tables(
                [self._read_file_cached(self.t_seen.dir, f, _URL_ARROW)
                 for f in self.t_seen.manifest()["files"]]) \
                .column("url").combine_chunks()
            # bloom/cuckoo positives that are NOT in the exact seen set
            # are false positives — keep them (never drop a real URL)
            keep |= ~pc.is_in(t.column("url"), value_set=seen_urls) \
                .to_numpy(zero_copy_only=False)
        new = t.filter(pa.array(keep))
        if new.num_rows:
            self._append_host_keyed(self.t_frontier, new, round_no)
        else:
            self.t_frontier.commit_meta({"round": round_no})
        self._mark("frontier(new_urls)")
        self._commit_seen(round_no, new.num_rows, new=new)
        return new.num_rows

    def _tail_phase(self, round_no, t0, n_dequeued, stats, n_new, started,
                    ended):
        """Per-partition lineage metrics (from the same rows that gave
        the fetch_seq), the round summary row, and the round's
        broadcast/cache release."""
        # driver-known tiny row sets: pyarrow write, no Spark job
        self.t_metrics.append_rows(
            [(round_no, int(r["_pid"]), int(r["n_fetched"]),
              int(r["n_items"] or 0), int(r["n_errors"] or 0),
              started, ended) for r in stats],
            METRICS_SCHEMA, {"round": round_no})
        summary = {
            "round": round_no,
            "n_dequeued": n_dequeued,
            "n_fetched_ok": sum(int(r["n_ok"] or 0) for r in stats),
            "n_items": sum(int(r["n_items"] or 0) for r in stats),
            "n_errors": sum(int(r["n_errors"] or 0) for r in stats),
            "n_new_urls": n_new,
            "wall_secs": time.time() - t0,
        }
        self.t_rounds.append_rows([tuple(summary.values())],
                                  ROUNDS_SCHEMA, {"round": round_no})
        self._release_round()
        self._mark("commit_tail")
        return summary

    def run(self, max_rounds=100):
        """Bootstrap-or-resume, then crawl until the frontier drains."""
        last = self.recover()
        if last is None:  # no complete bootstrap (recover emptied it)
            self.bootstrap()
            last = -1
        else:  # resumed: lays out the pages if the workdir has none
            self._layout_pages()
        summaries = []
        r = last + 1
        while r < max_rounds:
            s = self.run_round(r)
            summaries.append(s)
            if s["n_dequeued"] == 0:
                break
            if self.compact_every and (r + 1) % self.compact_every == 0:
                self.compact()
            r += 1
        return summaries

    def compact(self):
        """Bound manifest/file growth on long crawls: rewrite each
        table's CURRENT snapshot into few files, and drop superseded
        slab generations (only the latest row per slab survives). Old
        snapshots stay readable — files are never deleted — so
        rollback/time-travel and crash-resume are unaffected; the
        compacted snapshot carries the last complete round's meta and is
        itself a valid resume point. At the 10^10 design point this is
        the maintenance job a real Iceberg deployment schedules as
        rewrite_data_files. The host-keyed tables are rewritten under
        the modulus of the dequeue input measured here."""
        last = self.last_complete_round()
        self._sizes = self._measure_sizes()
        slabs = self.t_slabs.read(self.spark, schema=SLAB_SCHEMA)
        w = Window.partitionBy("slab_id").orderBy(F.desc("round"))
        latest = (slabs.withColumn("_rn", F.row_number().over(w))
                  .filter("_rn = 1").drop("_rn"))
        self.t_slabs.overwrite(
            latest.coalesce(max(1, self.n_slabs // 64 + 1)),
            {"round": last, "compacted": True})
        # frontier: drop rows already fetched — `pending = frontier ANTI
        # JOIN fetched` is computed every round, so shrinking the
        # frontier to the actual pending set makes that the dominant
        # dequeue cost scale with the OPEN work, not crawl history
        frontier = self.t_frontier.read(self.spark, schema=FRONTIER_SCHEMA)
        fetched = self.t_fetched.read(self.spark, schema=FETCHED_SCHEMA)
        pending = frontier.join(fetched.select("url_hash", "url"),
                                on=["url_hash", "url"], how="left_anti")
        # coalesce sizing comes from parquet FOOTER row counts
        # (Table.row_count — driver-side metadata, no Spark job), so
        # each table pays exactly ONE job here: its rewrite. The
        # pending count isn't knowable from footers (it's an anti-join
        # result), so its file target uses the frontier row count as an
        # upper bound — never fewer files than optimal, a few more at
        # worst, and sizing is heuristic anyway.
        n_p = self.t_frontier.row_count()
        self._hostpart_write(self.t_frontier, pending,
                             {"round": last, "compacted": True},
                             mode="overwrite",
                             coalesce=max(1, n_p // 500_000 + 1))
        n_f = self.t_fetched.row_count()
        self._hostpart_write(self.t_fetched, fetched,
                             {"round": last, "compacted": True},
                             mode="overwrite",
                             coalesce=max(1, n_f // 500_000 + 1))
        for t, schema in ((self.t_seen, SEEN_SCHEMA),
                          (self.t_items, self.items_table_schema())):
            n = t.row_count()
            df = t.read(self.spark, schema=schema)
            t.overwrite(df.coalesce(max(1, n // 500_000 + 1)),
                        {"round": last, "compacted": True})
        # host_stats deltas are mergeable sums: collapse to ONE row per
        # host, so the adaptive dequeue's read stays O(hosts) however
        # long the crawl runs
        if self.t_host_stats.exists():
            hs = self.t_host_stats.read(self.spark,
                                        schema=HOST_STATS_SCHEMA)
            merged = (hs.groupBy("host")
                      .agg(F.sum("n_fetched").alias("n_fetched"),
                           F.sum("n_ok").alias("n_ok"),
                           F.sum("n_items").alias("n_items"))
                      .withColumn("round", F.lit(last).cast("long"))
                      .select(*[f.name for f in HOST_STATS_SCHEMA.fields]))
            self._hostpart_write(self.t_host_stats, merged,
                                 {"round": last, "compacted": True},
                                 mode="overwrite", coalesce=1)

    def items_table_schema(self):
        fields = [StructField("page_url", StringType()),
                  StructField("item_idx", LongType())]
        for f in item_spark_schema(self._proto).fields:
            if f.name not in ("page_url", "item_idx", "nr_errors"):
                fields.append(f)
        fields.append(StructField("round", LongType()))
        return StructType(fields)

    def items_final(self):
        """The user-facing item set: for configs WITHOUT on_subpage
        fields this is just the committed items table; with them, the
        detail pages were crawled as outlinks, so join their html back
        and run the batch pipeline's stage-2 extraction + FINAL filters
        (reference semantics: filters see the complete item). The join
        on the url field is also the subpage fetch-dedup (A1).

        Assumes subpage field definitions are host-independent (the
        engine already requires field-compatible scrapers across hosts).
        """
        from .pipeline import extract_stage2_subpages, finalize_items_df

        items = self.t_items.read(self.spark,
                                  schema=self.items_table_schema())
        if not self._has_subpage:
            return finalize_items_df(items.withColumn("nr_errors",
                                                      F.lit(0)), self._proto,
                                     now=self.now)
        raw = items.withColumn("nr_errors", F.lit(0).cast("long"))
        if self.pages is not None:
            # the one capture per url the crawl fetched (_layout_pages)
            pages = self.t_pages.read(self.spark, schema=PAGES_SCHEMA) \
                .select("url", "html")
        else:
            # live mode: the crawled detail-page html was retained in
            # debug_pages (_retain_html is forced on for on_subpage
            # configs); re-fetched pages keep the LATEST round's bytes
            w = Window.partitionBy("url").orderBy(F.desc("round"))
            pages = (self.t_debug.read(self.spark, schema=DEBUG_SCHEMA)
                     .withColumn("_rn", F.row_number().over(w))
                     .filter("_rn = 1").select("url", "html"))
        raw = extract_stage2_subpages(raw, pages, self._proto,
                                      now=self.now)
        return finalize_items_df(raw, self._proto, now=self.now)


    # ------------------------------------------------------------------ schema

    def _crawl_schema(self):
        # plumbing columns are underscore-prefixed so they can never
        # collide with user-config field names
        fields = [
            StructField("_kind", StringType()),
            StructField("_page_url", StringType()),
            # _kind='fetch': the dequeued row's url_hash, computed by
            # _identity_cols when the url was enqueued
            StructField("_url_hash", LongType()),
            StructField("_host", StringType()),
            StructField("_fetch_ts", DoubleType()),
            StructField("_status", StringType()),
            StructField("_n_items", LongType()),
            StructField("_n_errors", LongType()),
            StructField("_item_idx", LongType()),
            StructField("_outlink", StringType()),
            StructField("_depth", LongType()),
            StructField("_page_no", LongType()),
        ]
        if self._retain_html:
            fields.append(StructField("_html_out", StringType()))
        fields += [StructField("_robots_out", BinaryType()),  # _kind='host'
                   StructField("_last_at", DoubleType())]
        for f in item_spark_schema(self._proto).fields:
            if f.name not in ("page_url", "item_idx", "nr_errors"):
                fields.append(f)
        return StructType(fields)




# kernel output rows: dicts keyed by _crawl_schema() names;
# RecordBatch.from_pylist makes every column a row leaves out NULL (and
# drops _html_out when the engine does not retain html)

def _fetch_row(url, url_hash, host, ts, status, n_items, n_errors,
               html=None):
    return {"_kind": "fetch", "_page_url": url, "_url_hash": url_hash,
            "_host": host, "_fetch_ts": ts, "_status": status,
            "_n_items": n_items, "_n_errors": n_errors, "_html_out": html}


def _outlink_row(url, host, outlink, depth, page_no):
    return {"_kind": "outlink", "_page_url": url, "_host": host,
            "_outlink": outlink, "_depth": depth, "_page_no": page_no}


def _item_row(url, host, idx, item, fcols):
    row = {"_kind": "item", "_page_url": url, "_host": host,
           "_item_idx": idx}
    for name, kind in fcols:
        v = item.get(name)
        if kind == "ts" and v is not None:
            v = (v.astimezone(timezone.utc) if v.tzinfo
                 else v.replace(tzinfo=timezone.utc))
        row[name] = v
    return row
