"""Fetcher strategies — parity with /root/reference/internal/fetch/.

The crawl engine's contract is "url in → html text out, or FetchError":
the fetch/extract kernel creates one fetcher per fetch task and calls
``fetch`` for every page and robots.txt it needs. These classes provide
the same strategy surface as the reference factory (fetcher.go:17-78):

- StaticFetcher: HTTP GET with the default goskyr User-Agent and
  ``Accept: */*``; non-200 → error (staticfetcher.go:24-54).
- DynamicFetcher: headless-browser fetcher — NOT implementable in this
  container (no Chrome); the class preserves the interface and raises.
- MockFetcher: url→content map from config mock_pages
  (mockfetcher.go:15-35); a url it does not hold is a 404.

StoreFetcher is the mock web of an offline crawl: the engine lays its
pages table out once per workdir in crc32(host) buckets, each file
sorted by url in bounded row groups, and the fetcher reads a whole
Arrow batch's pages and robots.txt files (``prefetch``) from the
batch's buckets, only the row groups whose url statistics can hold one
of them, before the kernel asks for them one by one; a url the store
lacks is a 404.

The engine, not the fetcher, keeps each host's robots.txt body and last
request time across tasks and rounds (``CrawlEngine._live_hosts``), and
the kernel paces the HTTP fetchers with real crawl-delay sleeps; the
store is served on the virtual clock and never sleeps.
StaticFetcher decodes bodies (pages and robots.txt) with the
Content-Type charset when there is one, else as UTF-8 with replacement,
the way stored pages are decoded.
"""

from __future__ import annotations

import logging
import zlib
from bisect import bisect_left
from dataclasses import dataclass, field as dc_field
from email.message import Message

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

logger = logging.getLogger("goskyr_spark.fetchers")

DEFAULT_USER_AGENT = "goskyr web scraper (github.com/jakopako/goskyr)"
DEFAULT_PAGE_LOAD_WAIT_MS = 2000   # dynamicfetcher.go:44-46
DEFAULT_INTERACTION_DELAY_MS = 500  # dynamicfetcher.go:91-93
# hosts whose idle keep-alive connection one StaticFetcher keeps
# (requests keeps 10). The crawl kernel fetches round-robin across its
# task's hosts, so a host's next GET comes after one GET to every other
# host; past a few hundred hosts that gap outlasts common server
# keep-alive timeouts anyway, and each kept host holds one socket.
HOST_POOLS = 256


class FetchError(Exception):
    """Fetch failure. ``status`` carries the HTTP status code when the
    failure was a non-200 response (None for network-level errors) so
    callers can apply status-dependent policy — e.g. RFC 9309 robots
    handling: 4xx robots.txt ⇒ allow-all, 5xx ⇒ disallow."""

    def __init__(self, message, status=None):
        super().__init__(message)
        self.status = status


@dataclass
class FetchOpts:
    """Per-fetch options — parity with fetch.FetchOpts (fetcher.go:43):
    the interaction list the dynamic fetcher replays after navigation."""
    interaction: list = dc_field(default_factory=list)


def write_html_debug(url: str, html: str, debug_dir: str) -> str:
    """S8 debug dump — writeHTMLToFile parity (fetcher.go:80-111): mkdir
    -p the debug dir and write the fetched html as <host>-<suffix>.html.
    The reference suffixes a RANDOM string; this uses the first 8 hex of
    md5(url) so reruns are deterministic (test- and diff-friendly) —
    content bytes are identical either way."""
    import hashlib
    import os
    from urllib.parse import urlsplit

    if debug_dir:
        os.makedirs(debug_dir, exist_ok=True)
    host = urlsplit(url).hostname or "page"
    name = f"{host}-{hashlib.md5(url.encode()).hexdigest()[:8]}.html"
    path = os.path.join(debug_dir, name)
    with open(path, "w", encoding="utf-8") as f:
        f.write(html)
    return path


def decode_body(content: bytes, content_type: str = None) -> str:
    """Response bytes as text: the Content-Type charset when it names a
    known codec, else UTF-8 with replacement. (requests' ``resp.text``
    falls back to ISO-8859-1 for any text/* type without a charset, so a
    UTF-8 page would reach the kernel garbled.)"""
    msg = Message()
    msg["Content-Type"] = content_type or ""
    try:
        return content.decode(msg.get_content_charset() or "utf-8",
                              errors="replace")
    except LookupError:  # unknown charset name
        return content.decode("utf-8", errors="replace")


class StaticFetcher:
    """HTTP fetch with connection KEEP-ALIVE: one ``requests.Session``
    per fetcher instance, keeping a connection for up to HOST_POOLS
    hosts. The fetcher lives for the whole host-aligned partition (one
    per fetch task), so requests to the same host — round-robin with
    the task's other hosts — reuse the TCP (+TLS) connection instead
    of paying a handshake per URL — on hosts with small/zero
    crawl-delay the handshake, not politeness, is otherwise the
    throughput floor. Headers and non-200
    behavior are unchanged (staticfetcher.go:24-54)."""

    def __init__(self, user_agent: str = "", timeout: float = 30.0,
                 debug_dir: str = ""):
        self.user_agent = user_agent or DEFAULT_USER_AGENT
        self.timeout = timeout
        self.debug_dir = debug_dir
        self._session = None

    def _get_session(self):
        if self._session is None:
            import requests
            from requests.adapters import HTTPAdapter

            self._session = requests.Session()
            for prefix in ("http://", "https://"):
                self._session.mount(
                    prefix, HTTPAdapter(pool_connections=HOST_POOLS))
        return self._session

    def fetch(self, url: str, opts: FetchOpts = None) -> str:
        resp = self._get_session().get(
            url,
            headers={"User-Agent": self.user_agent, "Accept": "*/*"},
            timeout=self.timeout)
        if resp.status_code != 200:
            # reference: fmt.Errorf("status code error: %d %s", ...)
            raise FetchError(
                f"status code error: {resp.status_code} {resp.reason}",
                status=resp.status_code)
        text = decode_body(resp.content, resp.headers.get("Content-Type"))
        if self.debug_dir:  # staticfetcher.go:49-51
            write_html_debug(url, text, self.debug_dir)
        return text


class DynamicFetcher:
    """Browser-rendered fetch (reference: chromedp,
    dynamicfetcher.go:29-177). ``build_actions`` compiles a FetchOpts
    into the same deterministic action plan the reference appends
    (navigate, page-load sleep, then per interaction: click xN with
    delay / scroll+delay; unknown types warned and skipped).
    ``fetch`` executes the plan with Playwright chromium when the
    ``playwright`` package is importable (optional backend — absent in
    this container, so it raises NotImplementedError here);
    ``execute_actions`` is the backend-agnostic interpreter, driven
    directly by tests with a fake page object."""

    def __init__(self, user_agent: str = "", page_load_wait_ms: int = 0):
        self.user_agent = user_agent or DEFAULT_USER_AGENT
        self.page_load_wait_ms = page_load_wait_ms or \
            DEFAULT_PAGE_LOAD_WAIT_MS

    def build_actions(self, url: str, opts: FetchOpts = None):
        """[(action, params...)] — the chromedp action list analog."""
        actions = [("navigate", url),
                   ("sleep_ms", self.page_load_wait_ms)]
        for ia in (opts.interaction if opts else []):
            delay = ia.delay if ia.delay > 0 else DEFAULT_INTERACTION_DELAY_MS
            if ia.type == "click":
                count = ia.count if ia.count > 0 else 1
                for _ in range(count):
                    # click only if the node exists (dynamicfetcher.go:103-110)
                    actions.append(("click_if_present", ia.selector))
                    actions.append(("sleep_ms", delay))
            elif ia.type == "scroll":
                actions.append(("scroll_bottom",))
                actions.append(("sleep_ms", delay))
            else:
                logger.warning("unknown interaction type %s", ia.type)
        actions.append(("outer_html",))
        return actions

    @staticmethod
    def execute_actions(page, actions) -> str:
        """Run a compiled action plan against a Playwright-shaped page
        object (goto / wait_for_timeout / query_selector+click /
        evaluate / content). Split out so the plan interpreter is
        testable without a browser."""
        html = ""
        for act in actions:
            if act[0] == "navigate":
                page.goto(act[1])
            elif act[0] == "sleep_ms":
                page.wait_for_timeout(act[1])
            elif act[0] == "click_if_present":
                # click only if the node exists (dynamicfetcher.go:103-110)
                el = page.query_selector(act[1])
                if el is not None:
                    el.click()
            elif act[0] == "scroll_bottom":
                page.evaluate(
                    "window.scrollTo(0, document.body.scrollHeight)")
            elif act[0] == "outer_html":
                html = page.content()
        return html

    def fetch(self, url: str, opts: FetchOpts = None) -> str:
        actions = self.build_actions(url, opts)  # validate the plan
        try:
            from playwright.sync_api import sync_playwright
        except ImportError:
            raise NotImplementedError(
                "dynamic (browser) fetching requires a headless browser "
                "(pip install playwright); not available in this "
                "environment")
        with sync_playwright() as p:
            browser = p.chromium.launch(headless=True)
            try:
                page = browser.new_page(user_agent=self.user_agent)
                return self.execute_actions(page, actions)
            finally:
                browser.close()


class MockFetcher:
    def __init__(self, mock_pages, debug_dir: str = ""):
        # list of {'url':..., 'content':...} like config mock_pages
        self.pages = {p["url"]: p["content"] for p in mock_pages}
        self.debug_dir = debug_dir

    def fetch(self, url: str, opts: FetchOpts = None) -> str:
        if url not in self.pages:
            raise FetchError(f"page {url} not found in mock pages",
                             status=404)
        if self.debug_dir:  # -d parity: dump fetched HTML like static
            write_html_debug(url, self.pages[url], self.debug_dir)
        return self.pages[url]


def store_files(buckets, hosts):
    """The read rule of a host-bucketed store, buckets = {file: (b, n)}
    (a file written as crc32(host) mod n bucket b): the files that can
    hold rows of `hosts`, i.e. (b, n) with crc32(h) mod n = b for one
    of them, sorted."""
    crcs = {zlib.crc32(h.encode()) for h in set(hosts)}
    mods = {n for _, n in buckets.values()}
    keep = {(c % n, n) for c in crcs for n in mods}
    return sorted(f for f, bn in buckets.items() if bn in keep)


def row_groups_holding(meta, col, want):
    """Indices of the row groups of a parquet file (meta: its
    FileMetaData) whose min/max statistics of leaf column `col` can
    hold one of the sorted strings `want` (a bisect per row group); a
    row group without statistics is always kept."""
    keep = []
    for i in range(meta.num_row_groups):
        st = meta.row_group(i).column(col).statistics
        if st is not None and st.has_min_max:
            j = bisect_left(want, st.min)
            if j == len(want) or want[j] > st.max:
                continue
        keep.append(i)
    return keep


class StoreFetcher(MockFetcher):
    """MockFetcher over the crawl engine's pages table, {file: (b, n)}
    of its (url, host, html) files, each sorted by url: ``prefetch``
    reads, per Arrow batch, the files of the batch's hosts' buckets —
    of each only the row groups whose url statistics hold a url asked
    for — filtered to those urls, and ``fetch`` serves what it read. A
    url the store lacks is a 404 (a missing page, or a host without
    robots.txt: allow-all)."""

    def __init__(self, buckets):
        super().__init__([])
        self.buckets = buckets

    def prefetch(self, urls, hosts):
        want = sorted(set(urls))
        value_set = pa.array(want, pa.string())
        self.pages = {}
        for path in store_files(self.buckets, hosts):
            with pq.ParquetFile(path) as pf:
                groups = row_groups_holding(
                    pf.metadata, pf.schema_arrow.get_field_index("url"),
                    want)
                if not groups:
                    continue
                t = pf.read_row_groups(groups, columns=["url", "html"])
            t = t.filter(pc.is_in(t["url"], value_set=value_set))
            self.pages.update(
                (u, h.decode("utf-8", errors="replace"))
                for u, h in zip(t["url"].to_pylist(), t["html"].to_pylist()))


def new_fetcher(fetcher_config):
    """Factory with the reference's defaults (fetcher.go:17-78)."""
    ftype = fetcher_config.type or "static"
    if ftype == "static":
        return StaticFetcher(fetcher_config.user_agent,
                             debug_dir=fetcher_config.debug_dir)
    if ftype == "dynamic":
        return DynamicFetcher(fetcher_config.user_agent)
    if ftype == "mock":
        return MockFetcher(fetcher_config.mock_pages,
                           debug_dir=fetcher_config.debug_dir)
    raise ValueError(f"fetcher type '{ftype}' does not exist")
