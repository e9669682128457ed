"""Hot-host salting: mock mode splits each host's dequeued rows into
runs of SALT_ROWS by their dequeue rank across fetch sub-partitions —
results (items, seen set, politeness schedule) must be identical with
salting forced on every row vs off."""

from datetime import datetime, timezone

import pytest

from goskyr_spark.spark import crawl
from goskyr_spark.spark.crawl import CrawlEngine
from goskyr_spark.synth import SynthSpec, event_scraper, host_name, synth_pages_df

NOW = datetime(2026, 3, 1, tzinfo=timezone.utc)


@pytest.fixture(scope="session")
def spark():
    from goskyr_spark.spark.session import get_spark

    return get_spark(app="salt-tests", master="local[4]",
                     shuffle_partitions=4)


def test_salted_crawl_identical(spark, tmp_path, monkeypatch):
    # host 0 is hot: 6 list pages vs 2 for the others
    spec = SynthSpec(n_hosts=3, pages_per_host=2, items_per_page=3,
                     hot_hosts=1, hot_factor=3)
    pages = synth_pages_df(spark, spec, include_fixtures=False).cache()
    pages.count()
    seeds = [f"https://{host_name(h)}/list/1" for h in range(spec.n_hosts)]

    def run(wd, salt_rows):
        monkeypatch.setattr(crawl, "SALT_ROWS", salt_rows)
        eng = CrawlEngine(spark, wd, pages, event_scraper, seeds, now=NOW,
                          fetch_partitions=6)
        eng.run(max_rounds=20)
        fetched = [(r["round"], r["fetch_seq"], r["url"], r["fetch_ts"],
                    r["status"])
                   for r in eng.t_fetched.read(spark)
                   .orderBy("round", "fetch_seq").collect()]
        items = sorted((r["page_url"], r["item_idx"], r["title"])
                       for r in eng.t_items.read(spark).collect())
        seen = sorted(r["url"] for r in eng.t_seen.read(spark).collect())
        return fetched, items, seen

    # 1 → every dequeued row of a host is its own salt key
    a = run(str(tmp_path / "salted"), salt_rows=1)
    b = run(str(tmp_path / "unsalted"), salt_rows=10**9)
    assert a == b
