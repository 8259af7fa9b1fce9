"""Sources + sitemap operators (S1-S3, S6, S10, S11, Q3, Q4)."""

import os
import textwrap

import pytest
from pyspark.sql import functions as F

from crawler_distributed_spark import synth
from crawler_distributed_spark.functions import sitemaps as SM
from crawler_distributed_spark.plans.frontier_loop import run_crawl
from crawler_distributed_spark.policy import CrawlPolicy
from crawler_distributed_spark.sources import seeds as SRC

SITEMAP_XML = textwrap.dedent(
    """\
    <?xml version="1.0" encoding="UTF-8"?>
    <urlset xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">
      <url><loc>https://x.com/a</loc><lastmod>2024-01-01</lastmod>
           <priority>0.9</priority><changefreq>daily</changefreq></url>
      <url><loc>https://x.com/b</loc></url>
      <url><loc>https://x.com/c</loc><lastmod>2020-01-01</lastmod>
           <changefreq>yearly</changefreq></url>
    </urlset>
    """
)

INDEX_XML = textwrap.dedent(
    """\
    <?xml version="1.0" encoding="UTF-8"?>
    <sitemapindex xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">
      <sitemap><loc>https://x.com/page-sitemap.xml</loc></sitemap>
      <sitemap><loc>https://x.com/category-sitemap.xml</loc></sitemap>
      <sitemap><loc>https://x.com/misc-sitemap.xml</loc></sitemap>
    </sitemapindex>
    """
)


def test_parse_urlset():
    out = SM.parse_sitemap_xml(SITEMAP_XML)
    assert not out["is_index"]
    assert [e["url"] for e in out["entries"]] == [
        "https://x.com/a", "https://x.com/b", "https://x.com/c",
    ]
    assert out["entries"][1]["priority"] == 0.5  # default when absent
    assert out["entries"][0]["changefreq"] == "daily"


def test_parse_index_and_garbage():
    out = SM.parse_sitemap_xml(INDEX_XML)
    assert out["is_index"]
    assert len(out["child_sitemaps"]) == 3
    assert SM.parse_sitemap_xml("not xml at all") == {
        "is_index": False, "child_sitemaps": [], "entries": [],
    }


def test_parse_udf_and_classify(spark):
    df = spark.createDataFrame(
        [(INDEX_XML,), (SITEMAP_XML,)], "content string"
    ).withColumn("parsed", SM.parse_sitemap_udf("content"))
    rows = df.select("parsed.*").collect()
    assert rows[0].is_index and not rows[1].is_index

    kids = spark.createDataFrame(
        [(u,) for u in rows[0].child_sitemaps], "url string"
    ).withColumn("cls", SM.classify_sitemap_col(F.col("url")))
    got = {r.url.split("/")[-1]: r.cls for r in kids.collect()}
    assert got["page-sitemap.xml"] == "page"
    assert got["category-sitemap.xml"] == "non_page"
    assert got["misc-sitemap.xml"] == "other"


def test_sitemap_scoring_frozen_clock(spark):
    entries = spark.createDataFrame(
        [
            ("https://x.com/a", "2024-01-01", 0.9, "daily"),
            ("https://x.com/b", None, 0.5, None),
            ("https://x.com/c", "2020-01-01", 0.5, "yearly"),
        ],
        "url string, lastmod string, priority double, changefreq string",
    )
    ranked = SM.prioritize_sitemap_entries(entries, now_date="2024-06-01").collect()
    # a: 0.9 + (1 - 152/365) + 0.3 ≈ 1.78 ; b: 0.5 ; c: 0.5 + 0 + 0.05 = 0.55
    assert [r.url for r in ranked] == [
        "https://x.com/a", "https://x.com/c", "https://x.com/b",
    ]
    assert abs(ranked[0].score - (0.9 + (1 - 152 / 365) + 0.3)) < 1e-6
    limited = SM.prioritize_sitemap_entries(entries, "2024-06-01", max_pages=1).collect()
    assert len(limited) == 1 and limited[0].url == "https://x.com/a"


def test_seed_csv_import(spark, tmp_path):
    csv = tmp_path / "seeds.csv"
    csv.write_text(
        "domain,project_id\n"
        "Example.COM,p1\n"
        "https://www.other.org/path,p2\n"
        "not a domain!,p3\n"
        "example.com,p4\n"  # dup of row 1 after normalize
    )
    seeds = SRC.import_seed_csv(spark, str(csv))
    rows = {r.domain: r for r in seeds.collect()}
    assert set(rows) == {"example.com", "other.org"}
    assert rows["example.com"].max_pages == 25
    assert rows["example.com"].crawl_id.startswith("crawl-")


def test_dedup_against_active(spark):
    new = spark.createDataFrame(
        [("a.com",), ("b.com",)], "domain string"
    ).withColumn("crawl_id", F.lit("x"))
    status = spark.createDataFrame(
        [("c1", "a.com", "crawling"), ("c2", "b.com", "completed")],
        "crawl_id string, domain string, crawl_status string",
    )
    got = {r.domain for r in SRC.dedup_against_active(new, status).collect()}
    assert got == {"b.com"}


def test_backpressure_capacity(spark):
    frontier = spark.createDataFrame(
        [("u1", "queued"), ("u2", "queued"), ("u3", "fetching"), ("u4", "done")],
        "url_norm string, state string",
    )
    assert SRC.admission_capacity(frontier, instances=2, buffer_per_instance=5) == 7
    assert SRC.admission_capacity(frontier, instances=1, buffer_per_instance=2) == 0
    pending = spark.createDataFrame(
        [("c3", 100), ("c1", 0), ("c2", 0)], "crawl_id string, priority int"
    )
    took = SRC.take_pending_seeds(pending, 2).collect()
    assert [r.crawl_id for r in took] == ["c1", "c2"]


def _small_crawl(spark, ck, **kw):
    cfg = synth.SynthConfig(n_hosts=3, pages_base=12, hot_factor=3, branching=4)
    robots = spark.createDataFrame(synth.robots_rule_rows(cfg))
    return run_crawl(spark, cfg, synth.seed_rows(cfg, max_pages=8), robots, ck,
                     CrawlPolicy(), **kw)


def test_crawl_status_view(spark, tmp_path):
    """S10: the status rollup agrees with the run's budget table and its
    last batch."""
    res = _small_crawl(spark, str(tmp_path / "ck"))
    view = SRC.crawl_status_view(res, spark).collect()
    assert {r.crawl_id: r.pages_crawled for r in view} == res.pages_dict(spark)
    assert max(r.last_batch for r in view) == res.last_batch
    assert all(r.requests >= r.pages_crawled + r.failures for r in view)


def test_purge_crawl_data(spark, tmp_path):
    """S11: purging removes the checkpoint dir, and a fresh (non-resume)
    run on it is then accepted instead of refused as dirty."""
    ck = str(tmp_path / "ck")
    _small_crawl(spark, ck, stop_after_batch=0)
    with pytest.raises(ValueError, match="already has state"):
        _small_crawl(spark, ck)
    SRC.purge_crawl_data(ck)
    assert not os.path.exists(ck)
    assert _small_crawl(spark, ck, stop_after_batch=0).last_batch == 0
