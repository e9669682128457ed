"""Round-4 regression tests: un-forced keeper broadcast under a large
dup fraction, capped production path in keep_list, and the
dup_components non-convergence warning (VERDICT r3 items 3; ADVICE
dedup.py:256)."""

import os
import sys
import warnings

import pytest
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def spark():
    from goskyr_spark.spark.session import get_spark

    return get_spark(app="round4-tests", master="local[4]",
                     shuffle_partitions=4)


def test_keep_list_large_dup_fraction(spark):
    """100% of the corpus sits in dup classes of size 4 — the regime
    where a forced broadcast of the component table would be a
    scale-killer (the table is the corpus). The plain-join keep_list
    must still elect exactly the min-id keeper per class."""
    from goskyr_spark.ops.curate import keep_list
    from goskyr_spark.ops.text import lang_pred_expr, quality_expr
    from goskyr_spark.queries import documents

    base = documents(spark, SF_DIR).filter(F.col("doc_id") < 40) \
        .select("doc_id", "text")
    # 4 verbatim copies of every doc: ids d*10+c, keeper = d*10
    copies = base.crossJoin(
        spark.range(4).select(F.col("id").alias("_c"))) \
        .select((F.col("doc_id") * 10 + F.col("_c")).alias("doc_id"),
                "text")
    # threshold high enough that only exact copies pair (identical
    # shingle sets -> jaccard 1.0); cross-doc similarity stays below it
    got = sorted(r.doc_id for r in
                 keep_list(copies, threshold=0.95).collect())
    # expected: the min-id copy (d*10) of every base-level dup-class
    # keeper that passes the quality + language gates — base docs that
    # are themselves near-dups of each other merge classes, so compute
    # base components first (gates apply identically to all copies)
    from goskyr_spark.ops.dedup import dup_components, ngram_jaccard_pairs

    base_comp = {r.doc_id: r.component for r in dup_components(
        ngram_jaccard_pairs(base, threshold=0.95)).collect()}
    passing = sorted(
        r.doc_id * 10 for r in base.select(
            "doc_id", quality_expr().alias("q"),
            lang_pred_expr().alias("l"))
        .filter((F.col("q") >= 0.5) & (F.col("l") == "en")).collect()
        if base_comp.get(r.doc_id, r.doc_id) == r.doc_id)
    assert got == passing
    assert len(got) > 0


def test_keep_list_capped_default_matches_uncapped_here(spark):
    """The production default (max_df=512) must not change results on a
    corpus with no stopword-class shingles — the cap only removes
    ubiquitous shingles."""
    from goskyr_spark.ops.curate import keep_list
    from goskyr_spark.queries import documents

    docs = documents(spark, SF_DIR)
    capped = [r.doc_id for r in keep_list(docs).collect()]
    uncapped = [r.doc_id for r in keep_list(docs, max_df=None).collect()]
    assert capped == uncapped


def test_ann_pq_production_codebook_width(spark):
    """ADC at the production codebook width k=256, m=4 (VERDICT r3 #6):
    the element_at table lookup keeps the expression constant-size, so
    the plan compiles and the scores match a pure-Python ADC replay."""
    import math

    from goskyr_spark.ops.similarity import ann_topk_pq

    dim, m, n_cent = 64, 4, 256
    d_sub = dim // m
    # deterministic codebooks: centroid c of subspace s has components
    # ((s*31 + c*17 + i*7) % 23) - 11  (spread enough for distinct codes)
    books = [[[float(((s * 31 + c * 17 + i * 7) % 23) - 11)
               for i in range(d_sub)]
              for c in range(n_cent)] for s in range(m)]
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    got = ann_topk_pq(emb, books, query_vec_id=0, k=10).collect()
    assert len(got) == 10

    def cos_raw(a, b):
        dot = sum(float(x) * float(y) for x, y in zip(a, b))
        na = math.sqrt(sum(float(x) * float(x) for x in a))
        nb = math.sqrt(sum(float(y) * float(y) for y in b))
        return dot / (na * nb)

    rows = {r.vec_id: list(r.embedding)
            for r in emb.select("vec_id", "embedding").collect()}
    q = rows[0]
    scored = []
    for vid, vec in rows.items():
        if vid == 0:
            continue
        s_total = 0.0
        for s in range(m):
            sub = vec[s * d_sub:(s + 1) * d_sub]
            # code = UNROUNDED argmax (first max), like the Spark expr;
            # the ADC table entry is the round-6 cosine, like pycos
            sims = [cos_raw(sub, c) for c in books[s]]
            code = sims.index(max(sims))
            s_total += round(
                cos_raw(q[s * d_sub:(s + 1) * d_sub], books[s][code]), 6)
        scored.append((round(s_total, 6), vid))
    scored.sort(key=lambda t: (-t[0], t[1]))
    want = [(vid, sc) for sc, vid in scored[:10]]
    assert [(r.vec_id, r.adc_score) for r in got] == \
        [(vid, pytest.approx(sc, abs=2e-6)) for vid, sc in want]


def test_dup_components_warns_on_non_convergence(spark):
    """A dup chain with diameter > max_iter must WARN, not silently
    return partially-converged labels (ADVICE dedup.py:256)."""
    from goskyr_spark.ops.dedup import dup_components

    # path graph 0-1-2-...-9: min-label needs ~diameter rounds
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(9)], "id_a long, id_b long")
    with warnings.catch_warnings(record=True) as rec:
        warnings.simplefilter("always")
        labels = dup_components(pairs, max_iter=2).collect()
    assert any("did not converge" in str(w.message) for w in rec), \
        [str(w.message) for w in rec]
    # and with enough rounds it converges silently to component 0
    with warnings.catch_warnings(record=True) as rec:
        warnings.simplefilter("always")
        labels = dup_components(pairs, max_iter=20).collect()
    assert not any("did not converge" in str(w.message) for w in rec)
    assert {r.component for r in labels} == {0}


def _mini_engine(spark, tmp_path, **kw):
    from datetime import datetime, timezone

    from goskyr_spark.spark.crawl import CrawlEngine
    from goskyr_spark.synth import (SynthSpec, event_scraper, host_name,
                                    synth_pages_df)

    spec = SynthSpec(n_hosts=3, pages_per_host=3, items_per_page=2,
                     hot_hosts=0)
    pages = synth_pages_df(spark, spec, include_fixtures=False)
    return CrawlEngine(
        spark, str(tmp_path / "wd"), pages, event_scraper,
        [f"https://{host_name(h)}/list/1" for h in range(3)],
        now=datetime(2026, 3, 1, tzinfo=timezone.utc),
        fetch_partitions=2, **kw)


def test_host_stats_incremental_matches_fetched(spark, tmp_path):
    """The incremental per-host feedback table (one delta commit per
    round) sums to exactly the re-aggregation of the full fetched
    history it replaces (VERDICT r3 item 4) — and carries more than one
    round's delta, proving it is appended incrementally, not rebuilt."""
    from pyspark.sql import functions as F

    eng = _mini_engine(spark, tmp_path, adaptive_priority=True)
    eng.run(max_rounds=6)
    from goskyr_spark.spark.crawl import HOST_STATS_SCHEMA

    hs = eng.t_host_stats.read(spark, schema=HOST_STATS_SCHEMA)
    assert hs.select("round").distinct().count() > 1
    got = {(r["host"]): (r["nf"], r["nok"], r["ni"])
           for r in hs.groupBy("host")
           .agg(F.sum("n_fetched").alias("nf"), F.sum("n_ok").alias("nok"),
                F.sum("n_items").alias("ni")).collect()}
    want = {(r["host"]): (r["nf"], r["nok"], r["ni"])
            for r in eng.t_fetched.read(spark).groupBy("host")
            .agg(F.count("*").alias("nf"),
                 F.sum(F.when(F.col("status") == "ok", 1).otherwise(0))
                 .alias("nok"),
                 F.sum("n_items").alias("ni")).collect()}
    assert got == want


def test_compact_round_lineage(spark, tmp_path):
    """_frontier_compact_round: in effect after compact() (including a
    DRAINED crawl whose compacted pending set is empty), voided by a
    rollback to a pre-compaction round, re-established by the next
    compact (VERDICT r3 items 4/5 correctness core)."""
    eng = _mini_engine(spark, tmp_path)
    eng.run(max_rounds=10)           # drains: every page fetched
    last = eng.last_complete_round()
    eng.compact()
    c = eng._frontier_compact_round()
    assert c == last
    files, got_c = eng._antijoin_fetched_files()
    assert files == [] and got_c == last
    # rollback to round 0 (pre-compaction): guarantee voided — the
    # anti-join must read fetched files again
    eng._rollback_table(eng.t_frontier, 0)
    assert eng._frontier_compact_round() is None
    aj, _ = eng._antijoin_fetched_files()
    assert len(aj) > 0
    # a fresh compaction re-establishes the bound
    eng._rollback_table(eng.t_fetched, 0)
    eng.compact()
    assert eng._frontier_compact_round() == eng.last_complete_round()


def test_pruned_antijoin_digest_unchanged(spark, tmp_path):
    """A crawl that compacts mid-run (pruned anti-join active from the
    next round on) fetches the exact same URL set as one that never
    compacts."""
    eng_a = _mini_engine(spark, tmp_path / "a", compact_every=2)
    eng_a.run(max_rounds=10)
    eng_b = _mini_engine(spark, tmp_path / "b")
    eng_b.run(max_rounds=10)
    ua = sorted(r["url"] for r in eng_a.t_fetched.read(spark).collect())
    ub = sorted(r["url"] for r in eng_b.t_fetched.read(spark).collect())
    assert ua == ub and len(ua) > 0
    # non-adaptive crawls skip the per-round host_stats write job (only
    # the adaptive dequeue consumes the table)
    assert not eng_a.t_host_stats.exists()
    assert not eng_b.t_host_stats.exists()


def test_dedup_incremental_semantics(spark):
    """Rolling-ingest dedup: an exact copy of a corpus doc collides on
    ALL bands; an unrelated doc is absent from the output; max_bucket
    drops a degenerate index band-sig shared by most of the corpus."""
    from goskyr_spark.ops.dedup import dedup_incremental, minhash_index

    corpus_rows = [(i, f"corpus doc {i} with shared running words "
                       f"alpha beta gamma delta {i}") for i in range(10)]
    # a degenerate corpus where every doc is identical (one band-sig
    # bucket holds everything)
    degen_rows = [(100 + i, "same same same same same same")
                  for i in range(8)]
    corpus = spark.createDataFrame(corpus_rows + degen_rows,
                                   ["doc_id", "text"])
    batch = spark.createDataFrame(
        [(1000, corpus_rows[3][1]),                  # exact copy of doc 3
         (1001, "completely different text about unrelated things "
                "quux xyzzy plugh foobar grault garply"),
         (1002, "same same same same same same")],   # hits the degen class
        ["doc_id", "text"])
    idx = minhash_index(corpus)
    out = {r["doc_id"]: r for r in
           dedup_incremental(batch, idx).collect()}
    assert out[1000]["best_bands"] == 4          # all bands agree
    assert out[1000]["n_corpus_matches"] >= 1
    assert 1001 not in out
    assert out[1002]["n_corpus_matches"] == 8    # whole degen class
    # skew guard: the degenerate bucket (8 members) is dropped from the
    # index, so the copy of it no longer matches; normal dups unaffected
    capped = {r["doc_id"]: r for r in
              dedup_incremental(batch, idx, max_bucket=4).collect()}
    assert 1002 not in capped
    assert capped[1000]["best_bands"] == 4


def test_dedup_incremental_verified_exact_jaccard(spark):
    """Two-phase incremental dedup: LSH candidates then exact per-pair
    Jaccard — an exact copy verifies at 1.0, a near-copy at its true
    Jaccard, and a band-colliding-but-dissimilar pair is filtered by
    the threshold."""
    from goskyr_spark.ops.dedup import dedup_incremental_verified

    corpus = spark.createDataFrame(
        [(i, f"corpus doc {i} with shared running words "
             f"alpha beta gamma delta {i}") for i in range(10)],
        ["doc_id", "text"])
    near = ("corpus doc 3 with shared running words "
            "alpha beta gamma delta 3 extra")
    batch = spark.createDataFrame(
        [(1000, "corpus doc 3 with shared running words "
                "alpha beta gamma delta 3"),      # exact copy of doc 3
         (1001, near)],                           # near-copy of doc 3
        ["doc_id", "text"])
    out = {(r["doc_id"], r["corpus_id"]): r["jaccard"] for r in
           dedup_incremental_verified(batch, corpus,
                                      threshold=0.5).collect()}
    assert out[(1000, 3)] == 1.0
    # near-copy: 10 3-gram shingles in the 12-word copy, 11 in the
    # 13-word `near`, all 10 shared → 10/11
    assert out[(1001, 3)] == round(10 / 11, 6)
    # high threshold drops the near-copy but keeps the exact one
    strict = {(r["doc_id"], r["corpus_id"]) for r in
              dedup_incremental_verified(batch, corpus,
                                         threshold=0.95).collect()}
    assert (1000, 3) in strict and (1001, 3) not in strict
