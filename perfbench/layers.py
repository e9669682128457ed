"""Layer probes and output checks, all run from outside the engine.

Every function here calls the engine's public surface (kernels, filters,
fetchers, the workdir tables) the way a user script would; none reaches
into the engine's private helpers.
"""

from __future__ import annotations

import hashlib
import os
import statistics
import time
from datetime import datetime, timedelta, timezone

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

PINNED_DIGEST = "768bf8d782fb251d"  # crawl_wide at seed 42 (ROADMAP)
_EPOCH = datetime(1970, 1, 1, tzinfo=timezone.utc)
_US = timedelta(microseconds=1)


# --- workdir tables -----------------------------------------------------------

def table_arrow(table, columns):
    """Current snapshot of a workdir table, read with pyarrow (no Spark
    job). Timestamps become timestamp[us, UTC]: Spark writes INT96 and
    the engine's driver-side writes TIMESTAMP_MICROS."""
    parts = []
    for f in table.manifest()["files"]:
        t = pq.read_table(os.path.join(table.dir, f), columns=columns)
        for i, field in enumerate(t.schema):
            if pa.types.is_timestamp(field.type):
                t = t.set_column(i, field.name, t.column(i).cast(
                    pa.timestamp("us", tz="UTC")))
        parts.append(t)
    return pa.concat_tables(parts)


def store_walk(root):
    """(parquet files, total bytes) under a crawl workdir."""
    files = size = 0
    for dirpath, _, names in os.walk(root):
        for n in names:
            size += os.path.getsize(os.path.join(dirpath, n))
            files += n.endswith(".parquet")
    return files, size


# --- output checks --------------------------------------------------------------

def crawl_state_digest(eng):
    """Order-sensitive digest of fetch order, statuses and the final seen
    set, computed as bench.py's ``crawl_state_digest`` (there with Spark
    sorts; UTF-8 byte order and code point order agree). Also returns the
    fetched rows, in fetch order."""
    h = hashlib.sha256()
    fetched = sorted(table_arrow(eng.t_fetched, ["round", "fetch_seq", "url",
                                                 "status", "n_errors"])
                     .to_pylist(), key=lambda r: (r["round"], r["fetch_seq"]))
    for r in fetched:
        h.update(f"{r['round']}|{r['fetch_seq']}|{r['url']}|{r['status']}"
                 .encode())
    for url in sorted(table_arrow(eng.t_seen, ["url"]).column("url")
                      .to_pylist()):
        h.update(url.encode())
    return h.hexdigest()[:16], fetched


def failed_urls(fetched):
    """URLs that failed: not fetched (``missing``, which also holds live
    fetch errors) or with kernel error rows. A robots disallow is a
    policy outcome, not a failure."""
    return sum(1 for r in fetched
               if r["status"] == "missing" or (r["n_errors"] or 0) > 0)


def _key_value(v):
    if isinstance(v, datetime):
        if v.tzinfo is None:
            v = v.replace(tzinfo=timezone.utc)
        return (v - _EPOCH) // _US
    return v


def reference_items(scraper_for, pages, now):
    """In-process ``scrape_page`` over (url, html) pages → item keys, with
    the final filters the engine applies to complete items."""
    from goskyr_spark.kernels.filters import filter_item, initialize_filters
    from goskyr_spark.kernels.scrape import scrape_page

    filters_of = {}
    out = []
    for url, html in pages:
        sc = scraper_for(url)
        filters = filters_of.get(id(sc))
        if filters is None:
            filters = filters_of[id(sc)] = initialize_filters(sc, now=now)
        pr = scrape_page(sc, url, html, filters=filters, now=now)
        names = [f.name for f in sc.fields]
        for item in pr.items:
            clean = {k: v for k, v in item.items() if not k.startswith("_")}
            if not filter_item(filters, clean):
                continue
            out.append((url, item["_item_idx"]) +
                       tuple(_key_value(item.get(n)) for n in names))
    return out


def item_keys(table, page_col, field_names):
    """Item rows of an Arrow table → keys comparable with
    ``reference_items`` (timestamps as epoch microseconds)."""
    cols = []
    for name in [page_col, "item_idx"] + list(field_names):
        c = table.column(name)
        if pa.types.is_timestamp(c.type):
            c = c.cast(pa.int64())
        cols.append(c.to_pylist())
    return list(zip(*cols))


def compare_items(actual, expected, what):
    """[] when the multisets are equal, else one error line."""
    if sorted(actual, key=repr) == sorted(expected, key=repr):
        return []
    a, e = set(actual), set(expected)
    return [f"{what}: {len(actual)} rows vs {len(expected)} expected "
            f"({len(a - e)} unexpected, {len(e - a)} missing)"]


# --- seen set -------------------------------------------------------------------

def seen_filters(eng):
    """The final slab of each slab id, rebuilt from the workdir bytes."""
    from goskyr_spark.kernels.cuckoo import BloomFilter, CuckooFilter

    t = table_arrow(eng.t_slabs, ["slab_id", "round", "bloom", "cuckoo"])
    latest = {}
    for sid, rnd, b, c in zip(*(t.column(n).to_pylist() for n in
                                ("slab_id", "round", "bloom", "cuckoo"))):
        if sid not in latest or rnd > latest[sid][0]:
            latest[sid] = (rnd, b, c)
    return {sid: (BloomFilter.from_bytes(b), CuckooFilter.from_bytes(c))
            for sid, (_, b, c) in latest.items()}


def probe(filters, n_slabs, hashes):
    """Route uint64 url hashes to their slab as the engine does and test
    them: (bloom says maybe-seen, bloom and cuckoo say maybe-seen)."""
    sids = hashes % np.uint64(n_slabs)
    bloom = np.zeros(len(hashes), dtype=bool)
    both = np.zeros(len(hashes), dtype=bool)
    for sid in np.unique(sids):
        pair = filters.get(int(sid))
        if pair is None:
            continue
        sel = sids == sid
        sub = hashes[sel]
        b = pair[0].contains_many(sub)
        bloom[sel] = b
        both[sel] = b & pair[1].contains_many(sub)
    return bloom, both


def seen_hashes(eng):
    t = table_arrow(eng.t_seen, ["url_hash"])
    return np.asarray(t.column("url_hash").to_numpy(), dtype=np.int64) \
        .view(np.uint64)


def seen_check(eng):
    """Zero false negatives: every URL in the seen table must test as
    maybe-seen in the final filters."""
    _, both = probe(seen_filters(eng), eng.n_slabs, seen_hashes(eng))
    fn = int((~both).sum())
    return [f"seen filter: {fn} false negatives over the seen table"] \
        if fn else []


def heldout_hashes(spark, n, tag):
    """xxhash64 (the engine's url hash) of n URLs no crawl ever sees."""
    from pyspark.sql import functions as F

    df = spark.range(n).select(F.xxhash64(F.format_string(
        f"https://heldout-{tag}.invalid/never/%d", "id")).alias("h"))
    return np.asarray(df.toArrow().column("h").to_numpy(),
                      dtype=np.int64).view(np.uint64)


def seen_layer(eng, spark, tag, n_heldout, reps=5):
    filters = seen_filters(eng)
    held = heldout_hashes(spark, n_heldout, tag)
    bloom, both = probe(filters, eng.n_slabs, held)
    times = []
    for _ in range(reps):
        t0 = time.perf_counter()
        probe(filters, eng.n_slabs, held)
        times.append(time.perf_counter() - t0)
    return {"seen.fp_ratio": float(both.mean()),
            "seen.bloom_fp_ratio": float(bloom.mean()),
            "seen.probe_ns_per_key": statistics.median(times) / len(held)
            * 1e9}


# --- page kernel ----------------------------------------------------------------

def kernel_replay(pages, scraper_for, now, passes=3):
    """Single-thread replay of the page kernel over a fixed sample of
    (url, html): parse, item-selector find on the parsed tree, and the
    whole ``scrape_page``. Per-page milliseconds of the median pass."""
    from goskyr_spark.kernels import css
    from goskyr_spark.kernels.dom import parse_html
    from goskyr_spark.kernels.filters import initialize_filters
    from goskyr_spark.kernels.scrape import scrape_page

    filters_of = {}
    work = []
    for url, html in pages:
        sc = scraper_for(url)
        if id(sc) not in filters_of:
            filters_of[id(sc)] = initialize_filters(sc, now=now)
        work.append((url, html, sc, filters_of[id(sc)]))
    parse_t, select_t, scrape_t = [], [], []
    n_items = 0
    pc = time.perf_counter
    for _ in range(passes):
        tp = ts = tk = 0.0
        n_items = 0
        for url, html, sc, filters in work:
            t0 = pc()
            doc = parse_html(html)
            t1 = pc()
            css.find(doc, sc.item)
            t2 = pc()
            pr = scrape_page(sc, url, html, filters=filters, now=now)
            t3 = pc()
            tp += t1 - t0
            ts += t2 - t1
            tk += t3 - t2
            n_items += len(pr.items)
        parse_t.append(tp)
        select_t.append(ts)
        scrape_t.append(tk)
    n = len(work)
    return {"kernel.parse_ms_per_page": statistics.median(parse_t) / n * 1e3,
            "kernel.select_ms_per_page":
                statistics.median(select_t) / n * 1e3,
            "kernel.scrape_ms_per_page":
                statistics.median(scrape_t) / n * 1e3,
            "kernel.items_per_page": n_items / n}


# --- fetch ----------------------------------------------------------------------

def fetch_replay(urls, n_calls=1000):
    """``StaticFetcher.fetch`` replayed from the driver over one
    keep-alive session: per-GET p50 and p99 in milliseconds."""
    from goskyr_spark.spark.fetchers import StaticFetcher

    f = StaticFetcher(timeout=10)
    lat = []
    n = max(n_calls, len(urls))
    for i in range(n):
        t0 = time.perf_counter()
        f.fetch(urls[i % len(urls)])
        lat.append((time.perf_counter() - t0) * 1e3)
    q = statistics.quantiles(lat, n=100)
    return {"fetch.get_ms_p50": q[49], "fetch.get_ms_p99": q[98]}
