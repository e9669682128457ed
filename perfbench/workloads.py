"""The benchmark's three workloads.

Each is a batch job in a closed loop with one client: the benchmark
submits one crawl or extract job, waits for it to finish, then submits
the next. Inputs come from ``goskyr_spark.synth`` (or, for the live
crawl, the benchmark's own HTTP site) and are a pure function of the
seed; the engine only receives the generated pages and seeds.

- ``crawl_wide``: mock-web crawl, ``bench.py``'s ``crawl_spec`` at sf0.1
  (500 hosts x 2 list pages, 5 hot hosts x 4, plus detail pages: 13,390
  URLs in 9 rounds). Round machinery and page kernel both work; it
  carries the pinned crawl digest and appends to five workdir tables
  every round.
- ``extract_batch``: ``extract_stage1`` over 604 heavy list pages
  (~50 KB, 250 items each) read from parquet. The page kernel does
  nearly all the work; no frontier, commit or seen set.
- ``crawl_live``: live crawl over loopback sockets, 250 hosts x 6-page
  chains with ``Crawl-delay: 0.02`` (1,500 URLs, 19,250 items). The only
  workload that runs the fetchers, robots.txt fetching and wall-clock
  politeness.
"""

from __future__ import annotations

import contextlib
import functools
import os
import shutil
import statistics
import tempfile
import time
import zlib
from datetime import datetime, timezone
from urllib.parse import urlsplit

from . import layers
from .httpsite import Site, loopback_host

NOW = datetime(2026, 3, 1, tzinfo=timezone.utc)


class Job:
    """One timed crawl or extract pass and what the checks need of it."""

    def __init__(self, wall, urls, items, rounds, failed=0, **state):
        self.wall = wall
        self.urls = urls          # URLs (or pages) attempted
        self.items = items
        self.rounds = rounds      # [(n_urls, wall_secs)] per non-empty round
        self.failed = failed
        self.state = state


class Workload:
    name = ""
    # prefixes of the per-layer metrics of layers this workload never
    # runs; they are reported as 0
    unexercised = ()
    # timed jobs an untraced run makes at least, however short --seconds
    min_jobs = 1

    def __init__(self, ctx):
        self.ctx = ctx
        self.spark = ctx.spark
        self.tracer = ctx.tracer
        self._jobs = 0

    def setup(self):
        """Build the inputs (timed as part of ``setup_s``)."""

    def warmup(self):
        """A small job of the same kind, so the timed jobs run warm."""

    def job(self, traced):
        raise NotImplementedError

    def finish(self, job):
        """Untimed bookkeeping after a job (e.g. counting failures)."""

    def discard(self, job):
        """Free a job's outputs once it is not the one being checked."""

    def check(self, job):
        """Error lines; empty when the job's outputs are correct."""
        return []

    def corrupt(self, job):
        """Damage the job's outputs so the checks must fail (self-test)."""
        raise NotImplementedError

    def layers(self, job):
        """Per-layer metrics of a traced job, but for ``unexercised``."""
        raise NotImplementedError

    def _next_job(self):
        self._jobs += 1
        return self._jobs


# --- crawls --------------------------------------------------------------------

class _Crawl(Workload):
    max_rounds = 50

    def _engine(self, workdir, seeds):
        raise NotImplementedError

    def _crawl(self, seeds, traced, tag):
        wd = tempfile.mkdtemp(prefix=f"{tag}-", dir=self.ctx.work)
        eng = self._engine(wd, seeds)
        k = self._next_job()
        if traced:
            self._instrument(eng, k)
        with self.tracer.span("CrawlEngine.run", job=k):
            t0 = time.perf_counter()
            summaries = eng.run(max_rounds=self.max_rounds)
            wall = time.perf_counter() - t0
        rounds = [(s["n_dequeued"], s["wall_secs"]) for s in summaries
                  if s["n_dequeued"]]
        items = sum(s.get("n_items", 0) for s in summaries)
        return Job(wall, sum(n for n, _ in rounds), items, rounds, eng=eng,
                   workdir=wd, job_no=k)

    def _instrument(self, eng, k):
        """Wrap the instance's bootstrap and run_round (``run`` calls them
        through ``self``) with a span and a Spark job group each."""
        tracer, ledger = self.tracer, self.ctx.ledger
        boot, run_round = eng.bootstrap, eng.run_round

        def bootstrap():
            with tracer.span("CrawlEngine.bootstrap", job=k) as a, \
                    ledger.group(f"job{k}.bootstrap") as gid:
                a["group"] = gid
                boot()

        def traced_round(r):
            with tracer.span("CrawlEngine.run_round", job=k, round=r) as a, \
                    ledger.group(f"job{k}.round{r}") as gid:
                a["group"] = gid
                s = run_round(r)
                a["n_dequeued"] = s["n_dequeued"]
            return s

        eng.bootstrap, eng.run_round = bootstrap, traced_round

    def finish(self, job):
        t = layers.table_arrow(job.state["eng"].t_fetched,
                               ["status", "n_errors"])
        job.failed = layers.failed_urls(t.to_pylist())

    def discard(self, job):
        shutil.rmtree(job.state["workdir"], ignore_errors=True)

    def _items_check(self, eng, fetched):
        """Items table == in-process scrape_page over the fetched pages."""
        pages = [(r["url"], self._html(r["url"])) for r in fetched
                 if r["status"] == "ok" and "/list/" in r["url"]]
        expected = layers.reference_items(self._scraper, pages, NOW)
        fields = [f.name for f in eng.items_table_schema().fields
                  if f.name not in ("page_url", "item_idx", "round")]
        items = layers.table_arrow(eng.t_items,
                                   ["page_url", "item_idx"] + fields)
        actual = layers.item_keys(items, "page_url", fields)
        return layers.compare_items(actual, expected,
                                    "items vs scrape_page reference")

    def _corrupt_outputs(self, job, field):
        """Append a mark to one item's ``field`` in the items table and
        empty every cuckoo filter in one slab file, on disk."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        eng = job.state["eng"]

        def rewrite(table, column, change):
            for f in reversed(table.manifest()["files"]):
                path = os.path.join(table.dir, f)
                t = pq.read_table(path)
                if t.num_rows:
                    vals = [change(v) for v in t.column(column).to_pylist()]
                    t = t.set_column(t.schema.get_field_index(column),
                                     column, pa.array(vals,
                                                      t.schema.field(column)
                                                      .type))
                    pq.write_table(t, path, coerce_timestamps="us",
                                   allow_truncated_timestamps=True)
                    return

        rewrite(eng.t_items, field, lambda v: v and v + "#")
        rewrite(eng.t_slabs, "cuckoo", lambda c: c[:16] + bytes(len(c) - 16))

    def _crawl_layers(self, job):
        """crawl.*, store.* and pipeline.* numbers from the traced job's
        spans and job ledger, plus the seen-set replay."""
        k = job.state["job_no"]
        ledger = self.ctx.ledger
        spans = [s for s in self.tracer.spans if s.get("job") == k]
        for s in spans:
            if "group" in s:
                s["jobs"], s["tasks"], s["failed_tasks"] = \
                    ledger.counts(s["group"])
        boot = [s for s in spans if s["name"] == "CrawlEngine.bootstrap"]
        rounds = [s for s in spans if s["name"] == "CrawlEngine.run_round"]
        work = [s for s in rounds if s["n_dequeued"]]
        dur = [s["end"] - s["start"] for s in work]
        small = [d for s, d in zip(work, dur) if s["n_dequeued"] <= 100]
        fat = [(s["n_dequeued"], d) for s, d in zip(work, dur)
               if s["n_dequeued"] > 100]
        if small:
            fixed = statistics.median(small)
        else:  # no small rounds: the terminal round that dequeued nothing
            fixed = statistics.median(s["end"] - s["start"] for s in rounds
                                      if not s["n_dequeued"])
        fat_urls = sum(n for n, _ in fat)
        files, size = layers.store_walk(job.state["workdir"])
        out = {
            "crawl.bootstrap_s": boot[0]["end"] - boot[0]["start"],
            "crawl.rounds": len(work),
            "crawl.round_fixed_s": fixed,
            "crawl.ms_per_url_fat":
                (sum(d for _, d in fat) - len(fat) * fixed) / fat_urls * 1e3
                if fat_urls else 0.0,
            "crawl.jobs_per_round": statistics.median(s["jobs"]
                                                      for s in work),
            "crawl.tasks_total": sum(s["tasks"] for s in boot + rounds),
            "crawl.failed_tasks": sum(s["failed_tasks"]
                                      for s in boot + rounds),
            "store.files_per_round": files / len(work),
            "store.bytes_per_url": size / job.urls,
            "pipeline.tasks": statistics.median(s["tasks"] for s in work),
        }
        with self.tracer.span("seen_replay"):
            out.update(layers.seen_layer(job.state["eng"], self.spark,
                                         self.name,
                                         10_000 if self.ctx.tiny
                                         else 100_000))
        return out


class CrawlWide(_Crawl):
    name = "crawl_wide"
    unexercised = ("fetch.",)
    # its tail rounds are mostly Spark job launches and follow the shared
    # host's speed from one moment to the next: two crawls pool 12 tail
    # rounds over twice the time for the round median
    min_jobs = 2

    def setup(self):
        from goskyr_spark.synth import SynthSpec, host_name, synth_pages_df

        n_hosts = 12 if self.ctx.tiny else 500
        self.spec = SynthSpec(n_hosts=n_hosts, pages_per_host=2,
                              items_per_page=12,
                              hot_hosts=max(1, n_hosts // 100),
                              hot_factor=4, seed=self.ctx.seed)
        self.pages = synth_pages_df(self.spark, self.spec,
                                    include_fixtures=False,
                                    num_partitions=self.ctx.cores * 2).cache()
        self.pages.count()
        self.seeds = [f"https://{host_name(h)}/list/1"
                      for h in range(n_hosts)]
        self._scrapers = {}

    def _engine(self, workdir, seeds):
        from goskyr_spark.spark.crawl import CrawlEngine
        from goskyr_spark.synth import event_scraper

        # one fetch task per core (bench.py uses two; the digest does not
        # change): a tail round then has half the task launches and waits,
        # and measured 15% faster and no noisier on a shared 4-vCPU host
        return CrawlEngine(self.spark, workdir, self.pages, event_scraper,
                           seeds, now=NOW,
                           fetch_partitions=self.ctx.cores,
                           round_budget=10_000_000)

    def warmup(self):
        # eight plain hosts: every phase of a round runs, in three rounds
        hot = self.spec.hot_hosts
        self.discard(self._crawl(self.seeds[hot:hot + 8], False, "warmup"))

    def job(self, traced):
        return self._crawl(self.seeds, traced, "crawl")

    def _scraper(self, url):
        """The engine's per-host scraper, built once per host."""
        from goskyr_spark.synth import event_scraper

        host = urlsplit(url).hostname
        if host not in self._scrapers:
            self._scrapers[host] = event_scraper(host)
        return self._scrapers[host]

    def _html(self, url):
        """The synthetic page behind a /list/<p> or /event/<p>/<i> URL."""
        sp = urlsplit(url)
        h = int(sp.hostname[4:sp.hostname.index(".")])
        kind, *nums = sp.path.strip("/").split("/")
        p, i = int(nums[0]), int(nums[1]) if len(nums) > 1 else 0
        return self.spec.render(h, "list" if kind == "list" else "detail",
                                p, i)[0]

    def check(self, job):
        eng = job.state["eng"]
        digest, fetched = layers.crawl_state_digest(eng)
        job.state["digest"] = digest
        job.state["fetched"] = fetched
        errors = []
        if not self.ctx.tiny and digest != layers.PINNED_DIGEST:
            errors.append(f"crawl digest {digest} != pinned "
                          f"{layers.PINNED_DIGEST}")
        return errors + self._items_check(eng, fetched) + \
            layers.seen_check(eng)

    def corrupt(self, job):
        self._corrupt_outputs(job, "title")

    def layers(self, job):
        out = self._crawl_layers(job)
        # a fixed 300-page sample of the fetched pages, list and detail
        sample = sorted((r["url"] for r in job.state["fetched"]
                         if r["status"] == "ok"),
                        key=lambda u: zlib.crc32(u.encode()))[:300]
        pages = [(u, self._html(u)) for u in sample]
        with self.tracer.span("kernel_replay", pages=len(pages)):
            out.update(layers.kernel_replay(pages, self._scraper, NOW))
        return out


# --- extract --------------------------------------------------------------------

class ExtractBatch(Workload):
    name = "extract_batch"
    unexercised = ("crawl.", "store.", "seen.", "fetch.")

    def setup(self):
        from pyspark.sql import functions as F

        from goskyr_spark.synth import SynthSpec, event_scraper, \
            synth_pages_df

        n_hosts = 4 if self.ctx.tiny else 150
        self.spec = SynthSpec(n_hosts=n_hosts, pages_per_host=4,
                              items_per_page=250, hot_hosts=1, hot_factor=2,
                              include_details=False, seed=self.ctx.seed)
        path = os.path.join(self.ctx.work, "heavy.parquet")
        # ~30 MB of pages in 4 MB splits: even task sizes at local[4]
        # (more, smaller files measured slower and noisier)
        synth_pages_df(self.spark, self.spec, include_fixtures=False,
                       num_partitions=self.ctx.cores * 2).write.parquet(path)
        self.spark.conf.set("spark.sql.files.maxPartitionBytes",
                            str(4 << 20))
        self.lists = self.spark.read.parquet(path) \
            .filter(F.col("url").contains("/list/"))
        self.urls = sorted(r["url"] for r in
                           self.lists.select("url").collect())
        self.scraper = event_scraper("host0000.test")

    def _pass(self, df):
        """One extract_stage1 action: (item rows, error-marker rows)."""
        from pyspark.sql import functions as F

        from goskyr_spark.spark.pipeline import extract_stage1

        r = extract_stage1(df, self.scraper, now=NOW).agg(
            F.count("*").alias("n"),
            F.sum((F.col("item_idx") < 0).cast("long")).alias("err")) \
            .collect()[0]
        return r["n"] - (r["err"] or 0), r["err"] or 0

    def warmup(self):
        from pyspark.sql import functions as F

        # a few pages of every file: every task slot's Python worker runs
        # the kernel before the timed passes
        self._pass(self.lists.filter(F.crc32("url") % 16 == 0))

    def job(self, traced):
        k = self._next_job()
        group = self.ctx.ledger.group(f"job{k}.extract") if traced \
            else contextlib.nullcontext()
        with self.tracer.span("extract_stage1", job=k) as a, group as gid:
            a["group"] = gid
            t0 = time.perf_counter()
            items, errs = self._pass(self.lists)
            wall = time.perf_counter() - t0
        n = len(self.urls)
        return Job(wall, n, items, [(n, wall)], failed=errs, job_no=k)

    def _html(self, url):
        sp = urlsplit(url)
        h = int(sp.hostname[4:sp.hostname.index(".")])
        return self.spec.render(h, "list", int(sp.path.rsplit("/", 1)[1]),
                                0)[0]

    def _sample(self, n):
        step = max(1, len(self.urls) // n)
        return self.urls[::step][:n]

    def check(self, job):
        from pyspark.sql import functions as F

        from goskyr_spark.spark.pipeline import extract_stage1

        errors = []
        want = len(self.urls) * self.spec.items_per_page
        if job.items != want or job.failed:
            errors.append(f"extract: {job.items} items and {job.failed} "
                          f"error pages, expected {want} and 0")
        sample = self._sample(8)
        rows = extract_stage1(self.lists.filter(F.col("url").isin(sample)),
                              self.scraper, now=NOW) \
            .filter("item_idx >= 0").toArrow()
        actual = layers.item_keys(rows, "page_url",
                                  [f.name for f in self.scraper.fields])
        expected = layers.reference_items(
            lambda u: self.scraper, [(u, self._html(u)) for u in sample],
            NOW)
        return errors + layers.compare_items(
            actual, expected, "extract rows vs scrape_page reference")

    def corrupt(self, job):
        job.items -= 1

    def layers(self, job):
        k = job.state["job_no"]
        span = next(s for s in self.tracer.spans
                    if s["name"] == "extract_stage1" and s.get("job") == k)
        jobs, tasks, failed = self.ctx.ledger.counts(span["group"])
        span.update(jobs=jobs, tasks=tasks, failed_tasks=failed)
        pages = [(u, self._html(u)) for u in self._sample(20)]
        with self.tracer.span("kernel_replay", pages=len(pages)):
            out = layers.kernel_replay(pages, lambda u: self.scraper, NOW)
        out["pipeline.tasks"] = tasks
        return out


# --- live -----------------------------------------------------------------------

_LIVE_CFG = """
scrapers:
  - name: live
    url: x
    item: div.e
    fields:
      - name: t
        location: {selector: span.t}
      - name: next
        type: url
        can_be_empty: true
        location: {selector: a.next, attr: href}
"""


class CrawlLive(_Crawl):
    name = "crawl_live"
    pages_per_host = 6
    max_rounds = pages_per_host + 2

    def setup(self):
        from goskyr_spark.config import loads_config

        self.n_hosts = 6 if self.ctx.tiny else 250
        self.scraper = loads_config(_LIVE_CFG).scrapers[0]
        self.bodies = {"/robots.txt": b"User-agent: *\nCrawl-delay: 0.02\n"}
        for p in range(1, self.pages_per_host + 1):
            items = "".join(
                f'<div class="e"><span class="t">s{self.ctx.seed}-{p}-{i}'
                f'</span></div>' for i in range(12))
            nxt = (f'<div class="e"><span class="t">n</span>'
                   f'<a class="next" href="/list/{p + 1}">n</a></div>'
                   if p < self.pages_per_host else "")
            self.bodies[f"/list/{p}"] = (items + nxt).encode()

    def _site(self, traced):
        return Site(self.bodies.get, tracer=self.tracer if traced else None,
                    parent=self.tracer.current)

    def _engine(self, workdir, seeds):
        from goskyr_spark.spark.crawl import CrawlEngine
        from goskyr_spark.spark.fetchers import StaticFetcher

        scraper = self.scraper
        return CrawlEngine(self.spark, workdir, None, lambda h: scraper,
                           seeds, now=NOW,
                           fetch_partitions=self.ctx.cores * 2,
                           round_budget=10_000_000,
                           live_fetcher=functools.partial(StaticFetcher,
                                                          timeout=10))

    def _run_on_fresh_site(self, n_hosts, traced, tag, first_page=1):
        # a fresh site (and port) per job: nothing cached by one job can
        # serve the next
        site = self._site(traced)
        seeds = [f"http://{loopback_host(i)}:{site.port}/list/{first_page}"
                 for i in range(n_hosts)]
        try:
            job = self._crawl(seeds, traced, tag)
        finally:
            site.close()
        job.state["ledger"] = site.ledger
        return job

    def warmup(self):
        # eight hosts, last page only: one round of work
        self.discard(self._run_on_fresh_site(
            min(8, self.n_hosts), False, "warmup",
            first_page=self.pages_per_host))

    def job(self, traced):
        return self._run_on_fresh_site(self.n_hosts, traced, "crawl")

    def _html(self, url):
        return self.bodies[urlsplit(url).path].decode()

    def _scraper(self, url):
        return self.scraper

    def check(self, job):
        eng = job.state["eng"]
        ledger = job.state["ledger"]
        _, fetched = layers.crawl_state_digest(eng)
        job.state["fetched"] = fetched
        errors = []
        # 12 items a page, plus the "next" item on all but the last page
        want = self.n_hosts * (13 * (self.pages_per_host - 1) + 12)
        if job.items != want:
            errors.append(f"live: {job.items} items, expected {want}")
        expect = {(loopback_host(i), f"/list/{p}")
                  for i in range(self.n_hosts)
                  for p in range(1, self.pages_per_host + 1)}
        pages = {k: n for k, n in ledger.gets.items()
                 if k[1] != "/robots.txt"}
        if set(pages) != expect or any(n != 1 for n in pages.values()):
            twice = sum(1 for n in pages.values() if n != 1)
            errors.append(f"live: {len(pages)} URLs served "
                          f"({twice} not exactly once), expected "
                          f"{len(expect)} each once")
        if ledger.errors:
            errors.append(f"live: {len(ledger.errors)} error responses")
        return errors + self._items_check(eng, fetched) + \
            layers.seen_check(eng)

    def corrupt(self, job):
        self._corrupt_outputs(job, "t")
        ledger = job.state["ledger"]
        key = next(iter(ledger.gets))
        ledger.gets[(key[0], "/list/1")] += 1

    def layers(self, job):
        out = self._crawl_layers(job)
        ledger = job.state["ledger"]
        out["fetch.robots_gets_per_host"] = \
            ledger.robots_gets() / self.n_hosts
        out["fetch.page_gets"] = ledger.page_gets()
        out["fetch.errors"] = len(ledger.errors)
        sample = [(f"http://{loopback_host(i)}/list/{p}", self.bodies[
            f"/list/{p}"].decode()) for i in range(min(10, self.n_hosts))
            for p in range(1, self.pages_per_host + 1)]
        with self.tracer.span("kernel_replay", pages=len(sample)):
            out.update(layers.kernel_replay(sample, self._scraper, NOW))
        site = Site(self.bodies.get)
        try:
            urls = [f"http://{loopback_host(i)}:{site.port}/list/{p}"
                    for i in range(self.n_hosts)
                    for p in range(1, self.pages_per_host + 1)]
            with self.tracer.span("fetch_replay", calls=max(1000,
                                                            len(urls))):
                out.update(layers.fetch_replay(urls))
        finally:
            site.close()
        return out


WORKLOADS = {w.name: w for w in (CrawlWide, ExtractBatch, CrawlLive)}
