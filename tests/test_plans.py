"""Physical-plan checks: the declarative pipeline must give Catalyst what
it needs — column pruning to the parquet scan, broadcast of the small
side, map-side partial aggregation. These are the 100-TB guarantees
(SURVEY §4); asserting on .explain output keeps regressions visible."""

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    from goskyr_spark.spark.session import get_spark

    return get_spark(app="plan-tests", master="local[4]",
                     shuffle_partitions=4)


def _plan(df):
    import io
    from contextlib import redirect_stdout

    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_extraction_prunes_to_url_html(spark, tmp_path):
    """Stage 1 must read ONLY (url, html) from the pages store even though
    the table carries warc_ts/text/lang — at 100 TB the text column alone
    is tens of TB."""
    from goskyr_spark.spark.pipeline import extract_stage1
    from goskyr_spark.synth import SynthSpec, event_scraper, synth_pages_df

    path = str(tmp_path / "pages")
    synth_pages_df(spark, SynthSpec(n_hosts=2, pages_per_host=2,
                                    items_per_page=2),
                   include_fixtures=False).write.parquet(path)
    pages = spark.read.parquet(path)
    df = extract_stage1(pages, event_scraper("host0000.test"))
    plan = _plan(df)
    scan = plan[plan.index("Scan parquet"):]
    read_schema = scan[scan.index("ReadSchema"):].splitlines()[0]
    assert "url" in read_schema and "html" in read_schema
    assert "warc_ts" not in read_schema
    assert "text" not in read_schema
    assert "lang" not in read_schema


def test_dedup_exact_partial_aggregation(spark):
    """groupBy(content_hash) must have a map-side partial HashAggregate
    before the shuffle."""
    from goskyr_spark.ops.dedup import exact_dedup

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = _plan(exact_dedup(docs))
    assert plan.count("HashAggregate") >= 2  # partial + final
    # only doc_id + text reach the scan
    scan = plan[plan.index("Scan parquet"):]
    read_schema = scan[scan.index("ReadSchema"):].splitlines()[0]
    assert "source" not in read_schema and "lang" not in read_schema


def test_topk_broadcasts_query_vector(spark):
    from goskyr_spark.ops.similarity import cosine_topk

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    plan = _plan(cosine_topk(emb, 0, 10))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    assert "TakeOrderedAndProject" in plan  # top-k without a full sort


def test_filter_pushdown_reaches_scan(spark):
    """A relational filter over documents pushes into the parquet scan."""
    from pyspark.sql import functions as F

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = _plan(docs.filter(F.col("n_chars") > 300).select("doc_id"))
    assert "PushedFilters: [IsNotNull(n_chars), GreaterThan(n_chars,300)]" \
        in plan or "GreaterThan(n_chars,300)" in plan


def test_minhash_single_signature_pass(spark):
    """Single-pass banding: the shingle explode + signature aggregation
    must appear ONCE in the plan (round 1 had 4 uncached band branches
    re-deriving it — 4x the cost)."""
    from goskyr_spark.ops.dedup import minhash_lsh_buckets
    from goskyr_spark.queries import documents

    df = minhash_lsh_buckets(documents(spark, SF_DIR))
    plan = _plan(df)
    # one Generate (explode) node for the shingles, one for the band
    # structs (formatted output lists each node twice: tree + details)
    n_generate = plan.count(") Generate")
    assert n_generate <= 2, f"signature pass duplicated:\n{plan}"
    # exactly one scan of the documents parquet
    assert plan.count(") Scan parquet") == 1, plan


def test_jaccard_no_self_join(spark):
    """Pairs come from posting-list combinations, not a shingle
    self-join: no SortMergeJoin/ShuffledHashJoin of two explode branches
    (the joins that remain are the tiny sizes lookups)."""
    from goskyr_spark.ops.dedup import ngram_jaccard_pairs
    from goskyr_spark.queries import documents

    for kw in ({}, {"max_df": 3}):
        df = ngram_jaccard_pairs(documents(spark, SF_DIR), threshold=0.2,
                                 **kw)
        plan = _plan(df)
        # no sort-merge/shuffled-hash join of two full explode branches
        assert "SortMergeJoin" not in plan, plan
        assert "ShuffledHashJoin" not in plan, plan
        # exactly ONE posting-list aggregation subtree (collect_list =
        # ObjectHashAggregate partial+final); uncapped sizes are per-doc
        # column expressions, capped sizes re-read the kept postings
        # (AQE reuses that exchange at runtime)
        # capped: the kept-postings subtree is referenced by pairs +
        # sizes(id_a) + sizes(id_b) = 3 identical exchanges (3x2 node
        # entries), deduplicated by AQE exchange reuse at runtime
        limit = 2 if not kw else 6
        assert plan.count(") ObjectHashAggregate") <= limit, plan


def test_bucketed_dequeue_no_pending_shuffle(spark, tmp_path):
    """The cluster dequeue must not shuffle the pending set: no Window,
    no join of the frontier against fetched — the only exchange is the
    final TakeOrdered merge."""
    from datetime import datetime, timezone

    from conftest import small_buckets
    from goskyr_spark.spark.crawl import CrawlEngine
    from goskyr_spark.synth import (SynthSpec, event_scraper, host_name,
                                    synth_pages_df)

    spec = SynthSpec(n_hosts=3, pages_per_host=2, items_per_page=2,
                     hot_hosts=0, hot_factor=1)
    pages = synth_pages_df(spark, spec, include_fixtures=False)
    with small_buckets():
        eng = CrawlEngine(spark, str(tmp_path / "wd"), pages, event_scraper,
                          [f"https://{host_name(h)}/list/1" for h in range(3)],
                          now=datetime(2026, 3, 1, tzinfo=timezone.utc))
        eng.run(max_rounds=2)
        plan = _plan(eng._dequeue_cluster())
    assert "Window" not in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert "BroadcastHashJoin" not in plan, plan
    # frontier/fetched parquet never enter the Spark plan at all — the
    # kernel reads them task-locally (its input is a range of task ids)
    assert plan.count(") Scan parquet") == 0, plan
    assert "TakeOrderedAndProject" in plan, plan


def _kernel_plan(spark, pages, workdir, **kw):
    """The formatted physical plan of the fetch/extract phase of round 0
    of a mock crawl over `pages` seeded with the first list page of its
    3 synth hosts, dequeued on the driver."""
    from datetime import datetime, timezone

    from goskyr_spark.spark.crawl import CrawlEngine, round_plan
    from goskyr_spark.synth import event_scraper, host_name

    eng = CrawlEngine(spark, workdir, pages, event_scraper,
                      [f"https://{host_name(h)}/list/1" for h in range(3)],
                      now=datetime(2026, 3, 1, tzinfo=timezone.utc), **kw)
    eng.bootstrap()
    eng._sizes = eng._measure_sizes()
    plan = round_plan(**eng._sizes)
    assert plan.dequeue_driver
    dequeued, n = eng._dequeue_phase(plan)
    assert n == 3
    return _plan(eng._fetch_extract_phase(dequeued, n, 0))


def _synth_pages(spark, tmp_path):
    """A 3-host synth pages table read from parquet, and its path."""
    from goskyr_spark.synth import SynthSpec, synth_pages_df

    path = str(tmp_path / "pages")
    synth_pages_df(spark, SynthSpec(n_hosts=3, pages_per_host=2,
                                    items_per_page=2, hot_hosts=0,
                                    hot_factor=1),
                   include_fixtures=False).write.parquet(path)
    return spark.read.parquet(path), path


def test_fetch_extract_phase_has_no_window(spark, tmp_path):
    """The fetch/extract phase of a driver-dequeued mock round takes its
    politeness clock (_host_seq) from the dequeue as it stands: no
    Window over host re-ranks the dequeued rows."""
    pages, _ = _synth_pages(spark, tmp_path)
    plan_text = _kernel_plan(spark, pages, str(tmp_path / "wd"))
    assert "Window" not in plan_text, plan_text
    assert "MapInArrow" in plan_text, plan_text


def test_mock_kernel_reads_no_pages(spark, tmp_path):
    """A mock round's kernel holds no join and no scan of pages_df: its
    input is the dequeued rows alone, and each fetch task reads its
    hosts' buckets of the workdir's pages table itself."""
    pages, path = _synth_pages(spark, tmp_path)
    plan_text = _kernel_plan(spark, pages, str(tmp_path / "wd"))
    assert "Join" not in plan_text, plan_text
    assert "Scan parquet" not in plan_text, plan_text
    assert os.path.basename(path) not in plan_text, plan_text


def test_full_canonicalize_kernel_runs_no_python_udf(spark, tmp_path):
    """canonicalize_outlinks="full": the percent pass runs inside the
    kernel on outlinks only, so the kernel's plan evaluates no Python
    UDF over its output rows (only the syntax passes' expression)."""
    pages, _ = _synth_pages(spark, tmp_path)
    plan_text = _kernel_plan(spark, pages, str(tmp_path / "wd"),
                             canonicalize_outlinks="full")
    assert "EvalPython" not in plan_text, plan_text
    assert "MapInArrow" in plan_text, plan_text


def test_curate_keep_single_corpus_pass(spark):
    """The curation keep-list computes quality + language as column
    expressions over ONE documents pass, and the keeper join carries NO
    forced broadcast hint (a web-scale component table force-broadcast
    is an executor/driver OOM) — AQE picks broadcast at runtime at this
    tiny scale. The keeper table itself is localCheckpoint'ed by label
    propagation, so it enters the plan as an RDD scan, never a second
    corpus scan."""
    from goskyr_spark.ops.curate import keep_list
    from goskyr_spark.queries import documents

    df = keep_list(documents(spark, SF_DIR))
    # no forced join-strategy hint anywhere in the analyzed plan
    analyzed = df._jdf.queryExecution().analyzed().toString()
    assert "ResolvedHint" not in analyzed, analyzed
    # exactly one corpus scan in the live plan (node headers appear
    # once in the details section as "(N) Scan parquet")
    plan = _plan(df)
    assert plan.count(") Scan parquet") == 1, plan
    # execute, then judge the FINAL adaptive plan: AQE must have chosen
    # a broadcast join for the (tiny) keeper table — proving the plain
    # join still broadcasts when the table fits, without the hint
    df.collect()
    final = _plan(df)
    assert "isFinalPlan=true" in final, final
    # the formatted AQE output appends the pre-execution "Initial Plan"
    # (which legitimately holds the static SortMergeJoin AQE replaced);
    # judge only the final runtime plan above it
    runtime = final.split("Initial Plan")[0]
    assert "BroadcastHashJoin" in runtime, final
    assert "SortMergeJoin" not in runtime, final


def test_pq_indexed_scans_codes_not_embeddings(spark, tmp_path):
    """The indexed ADC query must scan ONLY the persisted integer code
    table — at 100 TB that is m bytes/vector instead of 4*dim. The
    embeddings column must not appear anywhere in the plan, and the
    result must be row-identical to the recompute-from-vectors path."""
    from goskyr_spark.ops.similarity import (ann_topk_pq, ann_topk_pq_indexed,
                                             pq_index, pq_train)
    from goskyr_spark.queries import embeddings

    emb = embeddings(spark, SF_DIR)
    books, _ = pq_train(emb, m=2, n_centroids=4, n_iter=2)
    path = str(tmp_path / "codes.parquet")
    pq_index(emb, books).write.parquet(path)
    codes = spark.read.parquet(path)
    qvec = emb.filter("vec_id = 0").select("embedding").first()[0]
    df = ann_topk_pq_indexed(codes, books, qvec, query_vec_id=0, k=10)
    plan = _plan(df)
    assert "codes.parquet" in plan
    assert "embedding" not in plan
    scan = plan[plan.index("Scan parquet"):]
    read_schema = scan[scan.index("ReadSchema"):].splitlines()[0]
    assert "code_0" in read_schema and "code_1" in read_schema
    baseline = ann_topk_pq(emb, books, query_vec_id=0, k=10).collect()
    assert df.collect() == baseline


def test_ivfpq_indexed_prunes_cells_and_never_scans_embeddings(
        spark, tmp_path):
    """The composite IVF-PQ probe (round-6 top ask): the ADC stage
    must read ONLY the probed cells' partitions (PartitionFilters on
    centroid) and ONLY integer code columns — the embeddings column
    appears in the plan solely via the shortlist re-rank join, never
    in the index scan's ReadSchema."""
    from goskyr_spark.ops.similarity import (ann_topk_ivfpq_indexed,
                                             ivfpq_index,
                                             ivfpq_probe_cells, pq_train)
    from goskyr_spark.queries import embeddings

    emb = embeddings(spark, SF_DIR)
    books, _ = pq_train(emb, m=2, n_centroids=4, n_iter=2)
    cents = [list(r[0]) for r in emb.orderBy("vec_id")
             .select("embedding").limit(4).collect()]
    path = str(tmp_path / "ivfpq.parquet")
    ivfpq_index(emb, cents, books).write \
        .partitionBy("centroid").parquet(path)
    idx = spark.read.parquet(path)
    qvec = emb.filter("vec_id = 0").select("embedding").first()[0]
    cells = ivfpq_probe_cells(emb, cents, 0, n_probe=2)
    df = ann_topk_ivfpq_indexed(idx, books, qvec, cells, emb,
                                query_vec_id=0, k=10, shortlist=100)
    plan = _plan(df)
    assert "ivfpq.parquet" in plan
    # the index scan: partition-pruned on centroid, codes-only schema
    scan_at = plan.index("ivfpq.parquet")
    scan = plan[plan.rindex("Scan parquet", 0, scan_at):]
    pf = scan[scan.index("PartitionFilters"):].splitlines()[0]
    assert "centroid" in pf and ("IN" in pf or "in(" in pf.lower()), pf
    rs = scan[scan.index("ReadSchema"):].splitlines()[0]
    assert "code_0" in rs and "embedding" not in rs, rs


def test_substring_cut_text_joins_broadcast_no_cartesian(spark):
    """Exact-substring removal: the marked-starts array (minority side)
    must reach the documents scan via a broadcast join chosen by AQE —
    no cartesian products, no sort-merge shuffle of corpus text."""
    from goskyr_spark.ops.dedup import substring_dedup_cut

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    df = substring_dedup_cut(docs, k=8)
    df.collect()
    plan = _plan(df)
    runtime = plan.split("Initial Plan")[0]
    assert "CartesianProduct" not in runtime
    assert "BroadcastHashJoin" in runtime, runtime
