"""Round-6 pinned fixes.

- ADVICE (autoconfig): item selector is computed from ALL discovered
  candidates BEFORE field selection (reference fieldmanager.go runs
  fieldSelection on the already-built scraper), so keeping one field
  can't collapse `item` to a deeper node.
- ADVICE (cli train): goskyr.class lists first-appearance order over
  the FULL parsed label array (golearn accumulates class values while
  parsing the whole CSV), not just the 75% training split.
- ADVICE (bpe): pretokenize strips only ASCII spaces, matching the
  column path's F.trim — tab/newline padding pretokenizes identically.
- ADVICE (queries): *_indexed queries cache their parquet index per
  (kind, sf_dir) — repeated invocations reuse one directory.
- VERDICT #4: StaticFetcher keeps one requests.Session per instance
  (HTTP keep-alive) — politeness semantics unchanged.
- VERDICT #7: compact() runs no DataFrame.count() actions — coalesce
  sizing comes from parquet footer metadata (Table.row_count()).
"""

import io
import os

import numpy as np
import pytest

from goskyr_spark.ops.autoconfig import infer_scraper
from goskyr_spark.ops.bpe import pretokenize


@pytest.fixture(scope="module")
def spark():
    from goskyr_spark.spark.session import get_spark

    return get_spark(app="round6-tests", master="local[4]",
                     shuffle_partitions=4)


# --- autoconfig: selection must not move the item selector -----------------

def _event_page():
    items = "".join(
        f'<div class="event"><span class="title">Show {i}</span>'
        f'<span class="when">2025-0{i % 9 + 1}-01</span>'
        f'<a class="more" href="/e/{i}">details</a></div>'
        for i in range(8))
    return "https://ex.test/", f"<html><body><div id='list'>{items}</div></body></html>"


def test_item_selector_follows_selected_fields():
    """Reference order (round-7 advisory fix): elementsToConfig
    (fieldmanager.go:459-495) removes unselected fieldProps FIRST and
    derives the shared root selector from the kept ones — so the item
    selector is the common prefix of the SELECTED fields' paths (it may
    sit deeper than the all-fields prefix for a nested subset), and
    every kept field still extracts under it."""
    from goskyr_spark.kernels.scrape import scrape_page

    url, html = _event_page()
    full = infer_scraper(html, url, min_occ=5)
    assert full is not None and len(full.fields) >= 2
    for keep in range(len(full.fields)):
        sub = infer_scraper(html, url, min_occ=5,
                            select=lambda c, n, k=keep: [k])
        # the single kept field's item selector is a refinement: the
        # all-fields item selector is a prefix of it (common prefix of
        # a subset can only be deeper or equal)
        assert sub.item.startswith(full.item), (full.item, sub.item)
        # and the kept field still extracts non-empty values
        items = scrape_page(sub, url, html).items
        assert items and any(
            v for it in items for kk, v in it.items()
            if not kk.startswith("_"))


# --- cli train: goskyr.class covers labels absent from the train split -----

def test_goskyr_class_covers_heldout_only_labels(tmp_path, monkeypatch,
                                                capsys):
    from goskyr_spark.cli import main as cli_main
    from goskyr_spark.ops.mlfeatures import features_row, write_features_csv
    from goskyr_spark.ops.wordlist import default_words

    n = 40
    # replay train_model's deterministic split (seed=42) to find an
    # index that lands in the held-out quarter, and give it a UNIQUE
    # class — the reference's goskyr.class still lists it
    rng = np.random.default_rng(42)
    te = rng.permutation(n)[int(n * 0.75):]
    rare_idx = int(te[0])
    words = default_words()
    rows = []
    for i in range(n):
        cls = "rare" if i == rare_idx else ("title" if i % 2 else "date")
        val = f"Value {i}" if i % 2 else f"2025-01-{i % 28 + 1:02d}"
        rows.append((features_row(val, words), cls))
    csv = tmp_path / "f.csv"
    write_features_csv(rows, str(csv))
    monkeypatch.chdir(tmp_path)
    assert cli_main(["train", "-f", str(csv)]) == 0
    capsys.readouterr()
    classes = (tmp_path / "goskyr.class").read_text().split()
    assert "rare" in classes, \
        "class present only in the held-out quarter must still be listed"
    # first-appearance order over the full parsed label array
    expect = list(dict.fromkeys(c for _, c in rows))
    assert classes == expect


# --- bpe: whitespace-strip parity between python and column paths ----------

def test_pretokenize_whitespace_parity(spark):
    from goskyr_spark.ops.bpe import pretoken_counts

    texts = ["\nHello world\n", "\t tabs\tand\nnewlines \t",
             "  plain spaces  ", "mixed \n inner\ttabs"]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)],
                               "doc_id long, text string")
    dist = {r["pretoken"]: r["cnt"]
            for r in pretoken_counts(df).collect()}
    local = {}
    for t in texts:
        for tok in pretokenize(t):
            local[tok] = local.get(tok, 0) + 1
    assert dist == local


# --- queries: indexed-query parquet index is cached per process ------------

def test_indexed_query_cache_reuses_dir(spark, tmp_path):
    import goskyr_spark.queries as Q

    sf_dir = os.environ.get("GOSKYR_TEST_SF",
                            "/root/testdata/sf0.001")
    Q._INDEX_CACHE.clear()
    r1 = Q.q_sim_ann_lsh_indexed(spark, sf_dir).collect()
    path1 = Q._INDEX_CACHE[("srp", sf_dir)]
    r2 = Q.q_sim_ann_lsh_indexed(spark, sf_dir).collect()
    assert Q._INDEX_CACHE[("srp", sf_dir)] == path1  # no rebuild
    assert r1 == r2


# --- fetchers: keep-alive session ------------------------------------------

def test_static_fetcher_uses_one_session():
    """One requests.Session per StaticFetcher instance; headers carry
    the goskyr UA + Accept: */* on every call; non-200 still raises."""
    from goskyr_spark.spark import fetchers as fmod

    calls = []

    class FakeResp:
        def __init__(self, status):
            self.status_code = status
            self.reason = "OK" if status == 200 else "ERR"
            self.content = b"<html>ok</html>"
            self.headers = {"Content-Type": "text/html"}

    class FakeSession:
        instances = 0

        def __init__(self):
            FakeSession.instances += 1
            self.headers = {}

        def mount(self, prefix, adapter):
            pass

        def get(self, url, headers=None, timeout=None):
            calls.append((url, dict(headers or {}), timeout))
            return FakeResp(404 if url.endswith("/missing") else 200)

    import requests

    orig = requests.Session
    requests.Session = FakeSession
    try:
        FakeSession.instances = 0
        f = fmod.StaticFetcher(timeout=5)
        assert f.fetch("https://a.test/1") == "<html>ok</html>"
        assert f.fetch("https://a.test/2") == "<html>ok</html>"
        with pytest.raises(fmod.FetchError) as ei:
            f.fetch("https://a.test/missing")
        assert ei.value.status == 404
        assert FakeSession.instances == 1, \
            "all fetches must reuse ONE session (keep-alive)"
        for _, headers, timeout in calls:
            assert headers["User-Agent"] == fmod.DEFAULT_USER_AGENT
            assert headers["Accept"] == "*/*"
            assert timeout == 5
    finally:
        requests.Session = orig


# --- crawl compaction: no count() actions ----------------------------------

def test_compact_runs_no_dataframe_counts(spark, tmp_path, monkeypatch):
    from datetime import datetime, timezone

    from goskyr_spark.spark.crawl import CrawlEngine
    from goskyr_spark.synth import (SynthSpec, event_scraper, host_name,
                                    synth_pages_df)

    spec = SynthSpec(n_hosts=3, pages_per_host=2, items_per_page=2,
                     hot_hosts=1, hot_factor=2)
    pages = synth_pages_df(spark, spec, include_fixtures=False)
    wd = str(tmp_path / "crawl")
    eng = CrawlEngine(spark, wd, pages, event_scraper,
                      [f"https://{host_name(h)}/list/1"
                       for h in range(spec.n_hosts)],
                      now=datetime(2026, 3, 1, tzinfo=timezone.utc))
    eng.run(max_rounds=4)

    import bench as bench_mod

    digest_before = bench_mod.crawl_state_digest(eng, spark)

    from pyspark.sql import DataFrame

    def no_count(self):
        raise AssertionError(
            "compact() must not run DataFrame.count() — sizing comes "
            "from parquet footer metadata (Table.row_count)")

    monkeypatch.setattr(DataFrame, "count", no_count)
    try:
        eng.compact()
    finally:
        monkeypatch.undo()
    assert bench_mod.crawl_state_digest(eng, spark) == digest_before
    # compaction is still a valid resume point
    assert eng.last_complete_round() >= 0


def test_table_row_count_matches(spark, tmp_path):
    from goskyr_spark.spark.store import SnapshotStore

    store = SnapshotStore(str(tmp_path / "st"))
    t = store.table("x")
    df = spark.range(0, 137).selectExpr("id", "id * 2 AS v")
    t.append(df.coalesce(2))
    assert t.row_count() == 137
    t.append(spark.range(0, 5).selectExpr("id", "id * 3 AS v"))
    assert t.row_count() == 142
    t.overwrite(spark.range(0, 9).selectExpr("id", "id AS v"))
    assert t.row_count() == 9


# --- exact-substring REMOVAL (Lee et al. output shape) ---------------------

def test_substring_cut_randomized_vs_python_oracle(spark):
    """Seeded random batch through substring_dedup_cut vs an
    independent pure-Python implementation of the same contract
    (the dedup_lines test pattern, round-5)."""
    import hashlib
    import random

    from goskyr_spark.ops.dedup import substring_dedup_cut

    rng = random.Random(41)
    k = 5
    words = [f"w{i}" for i in range(25)]
    boiler = ["b1 b2 b3 b4 b5 b6 b7", "c1 c2 c3 c4 c5"]
    docs = []
    for i in range(70):
        body = " ".join(rng.choice(words)
                        for _ in range(rng.randint(2, 30)))
        roll = rng.random()
        if roll < 0.25:
            body = f"{body} {rng.choice(boiler)}"
        elif roll < 0.4:
            body = f"{rng.choice(boiler)} {body}"
        docs.append((i, body))
    # a few exact dups: the later copies must be cut entirely
    docs.append((70, docs[3][1]))
    docs.append((71, docs[3][1]))

    # pure-Python oracle
    occ = []  # (doc, start 1-based, hash)
    toks = {}
    for i, t in docs:
        w = t.strip().lower().split()
        toks[i] = w
        for s in range(len(w) - k + 1):
            occ.append((i, s + 1,
                        hashlib.md5(" ".join(w[s:s + k]).encode())
                        .hexdigest()))
    from collections import defaultdict
    by_hash = defaultdict(list)
    for d, s, g in occ:
        by_hash[g].append((d, s))
    cut_positions = defaultdict(set)
    for g, occs in by_hash.items():
        if len(occs) < 2:
            continue
        first = min(occs)
        for d, s in occs:
            if (d, s) != first:
                cut_positions[d].update(range(s, s + k))
    want = {}
    for i, _ in docs:
        w = toks[i]
        kept = [w[p - 1] for p in range(1, len(w) + 1)
                if p not in cut_positions[i]]
        want[i] = (" ".join(kept), len(kept), len(w) - len(kept))

    out = substring_dedup_cut(
        spark.createDataFrame(docs, "doc_id long, text string"),
        k=k).collect()
    got = {r["doc_id"]: (r["text_cut"], r["n_kept"], r["n_removed"])
           for r in out}
    assert got == want
    # the batch exercised the cut path, and exact-dup copies were
    # cut entirely while the first occurrence survived
    assert sum(v[2] for v in want.values()) > 0
    assert got[71][1] == 0 and got[3][1] == len(toks[3])


def test_substring_cut_keeps_first_occurrence_and_merges_spans(spark):
    from goskyr_spark.ops.dedup import substring_dedup_cut

    shared = "s1 s2 s3 s4 s5 s6"          # 6 tokens, k=4 -> 3 windows
    docs = [(0, f"alpha beta {shared} gamma"),
            (1, f"x {shared} y z"),        # later doc: span cut
            (2, "no overlap here at all")]
    out = {r["doc_id"]: r for r in substring_dedup_cut(
        spark.createDataFrame(docs, "doc_id long, text string"),
        k=4).collect()}
    assert out[0]["n_removed"] == 0       # first occurrence kept whole
    assert out[1]["text_cut"] == "x y z"  # adjacent windows merged
    assert out[1]["n_removed"] == 6
    assert out[2]["n_removed"] == 0


def test_catalog_capped_at_50():
    from goskyr_spark.queries import all_oracles, all_queries

    qs = all_queries()
    assert len(qs) <= 50
    assert "dedup_substring_cut" in qs
    assert "dedup_substring_cut" in all_oracles()


# --- 13-gram decontamination with span removal -----------------------------

def test_decontaminate_cut_removes_benchmark_spans(spark):
    from goskyr_spark.ops.curate import decontaminate_cut

    span = " ".join(f"q{i}" for i in range(13))
    bench = spark.createDataFrame(
        [(100, f"prefix words {span} suffix words")],
        "doc_id long, text string")
    docs = spark.createDataFrame(
        [(0, f"clean doc with no overlap at all right here"),
         (1, f"leading {span} trailing"),
         (2, f"{span}"),                       # exactly the span
         (3, " ".join(f"q{i}" for i in range(12)))],  # 12 of 13: no cut
        "doc_id long, text string")
    out = {r["doc_id"]: r
           for r in decontaminate_cut(docs, bench, n=13).collect()}
    assert out[0]["n_removed"] == 0 and out[0]["contaminated"] == 0
    assert out[1]["text_cut"] == "leading trailing"
    assert out[1]["n_removed"] == 13 and out[1]["contaminated"] == 1
    assert out[2]["text_cut"] == "" and out[2]["n_kept"] == 0
    assert out[3]["n_removed"] == 0  # sub-threshold overlap stays


def test_decontaminate_cut_randomized_vs_python_oracle(spark):
    import hashlib
    import random

    from goskyr_spark.ops.curate import decontaminate_cut

    rng = random.Random(47)
    n = 6
    words = [f"v{i}" for i in range(20)]
    bench_docs = [(900 + j, " ".join(rng.choice(words)
                                     for _ in range(rng.randint(8, 25))))
                  for j in range(5)]
    docs = []
    for i in range(60):
        body = " ".join(rng.choice(words)
                        for _ in range(rng.randint(2, 25)))
        if rng.random() < 0.3:
            src = rng.choice(bench_docs)[1].split()
            if len(src) >= n:
                s = rng.randrange(0, len(src) - n + 1)
                body = f"{body} {' '.join(src[s:s + n])}"
        docs.append((i, body))

    def grams(ws):
        return [hashlib.md5(" ".join(ws[s:s + n]).encode()).hexdigest()
                for s in range(len(ws) - n + 1)]

    bset = set()
    for _, t in bench_docs:
        bset.update(grams(t.split()))
    want = {}
    for i, t in docs:
        ws = t.split()
        cut = set()
        for s, g in enumerate(grams(ws)):
            if g in bset:
                cut.update(range(s + 1, s + 1 + n))
        kept = [w for p, w in enumerate(ws, 1) if p not in cut]
        want[i] = (" ".join(kept), len(kept), len(ws) - len(kept),
                   1 if len(ws) - len(kept) > 0 else 0)

    out = decontaminate_cut(
        spark.createDataFrame(docs, "doc_id long, text string"),
        spark.createDataFrame(bench_docs, "doc_id long, text string"),
        n=n).collect()
    got = {r["doc_id"]: (r["text_cut"], r["n_kept"], r["n_removed"],
                         r["contaminated"]) for r in out}
    assert got == want
    assert sum(v[3] for v in want.values()) > 0  # cut path exercised


# --- guessYear: streaming carried-state equals monolithic pass -------------

def test_guess_year_stream_carry_matches_monolithic(spark):
    """finalize_items_df now streams Arrow batches with the previous
    batch's last item carried (bounded task memory); forcing 3-row
    batches must be bit-identical to one driver-side guess_year pass
    over the full sorted item list — including rows where the guess
    field is NULL (the year-1 sentinel carry)."""
    from datetime import datetime, timezone

    from goskyr_spark.config import Field, Scraper
    from goskyr_spark.kernels.extract import guess_year
    from goskyr_spark.spark.pipeline import finalize_items_df

    now = datetime(2026, 3, 1, tzinfo=timezone.utc)
    scraper = Scraper(name="g", url="https://x/", item="div",
                      fields=[Field(name="d", type="date",
                                    guess_year=True)])
    # months that wrap backwards repeatedly -> multiple year bumps;
    # a few NULLs exercise the sentinel branch across batch edges
    # parsed years are arbitrary (guess_year rebuilds the year around
    # the reference chain); keep inputs in pandas-ns range
    months = [11, 12, 1, 2, 12, 1, 3, 2, 1, 12, 1, 2, 11, 12]
    rows = []
    for i, m in enumerate(months):
        d = datetime(2020, m, 15, 12, 0, tzinfo=timezone.utc)
        rows.append((f"https://x/p{i // 3}", i % 3, d, 0))
    df = spark.createDataFrame(
        rows, "page_url string, item_idx long, d timestamp,"
              " nr_errors long")

    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch",
                         None)
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "3")
    try:
        got = [(r["page_url"], r["item_idx"],
                r["d"].isoformat() if r["d"] else None)
               for r in finalize_items_df(df, scraper, now=now).collect()]
    finally:
        if old is not None:
            spark.conf.set(
                "spark.sql.execution.arrow.maxRecordsPerBatch", old)

    # driver-side reference: ONE monolithic guess_year pass
    srt = sorted(rows)
    items = [{"d": d} for _, _, d, _ in srt]
    guess_year([Field(name="d", type="date", guess_year=True)],
               items, now)
    want = [(u, i, it["d"].astimezone(timezone.utc).isoformat())
            for (u, i, _, _), it in zip(srt, items)]
    # collect() returns naive local datetimes; normalize both to UTC
    got_utc = [(u, i, d.astimezone(timezone.utc).isoformat()
                if d.tzinfo else
                d.replace(tzinfo=timezone.utc).isoformat())
               for u, i, d in
               [(u, i, __import__("datetime").datetime.fromisoformat(d))
                for u, i, d in got]]
    assert [g[2][5:] for g in got_utc] == [w[2][5:] for w in want]
    assert [g[:2] for g in got_utc] == [w[:2] for w in want]
    # year bumps actually happened (the chain did something) and the
    # full dates (incl. year) agree between stream and monolithic
    assert [g[2] for g in got_utc] == [w[2] for w in want]
    years = {d[:4] for _, _, d in want}
    assert len(years) >= 2, want


def test_substring_cut_incremental(spark):
    """Incremental substring cut: a persisted corpus window-hash index
    (the substring analog of minhash_index — same trim+split tokens as
    decontaminate_cut, built once) cuts a new ingest batch WITHOUT
    re-reading corpus text, and is row-identical to cutting against
    the corpus documents directly."""
    from pyspark.sql import functions as F

    from goskyr_spark.ops.curate import decontaminate_cut
    from goskyr_spark.ops.dedup import _words, window_occurrences

    k = 5
    span = "c1 c2 c3 c4 c5 c6"
    corpus = spark.createDataFrame(
        [(100, f"corpus text with {span} inside"),
         (101, "other corpus words entirely here")],
        "doc_id long, text string")
    batch = spark.createDataFrame(
        [(0, f"fresh doc copying {span} verbatim"),
         (1, "fresh doc with no overlap at all")],
        "doc_id long, text string")

    # build-once index: distinct window hashes of the corpus
    index = window_occurrences(corpus, k, _words(F.col("text"))) \
        .select("_g").distinct()

    via_index = decontaminate_cut(batch, benchmark_grams=index,
                                  n=k).collect()
    via_docs = decontaminate_cut(batch, corpus, n=k).collect()
    assert via_index == via_docs
    out = {r["doc_id"]: r for r in via_index}
    assert out[0]["n_removed"] == 6 and out[0]["contaminated"] == 1
    assert out[0]["text_cut"] == "fresh doc copying verbatim"
    assert out[1]["n_removed"] == 0
