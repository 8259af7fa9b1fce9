"""Politeness scheduling: per-host quota, then the per-crawl budget cap.

Reference semantics: at most ``quota_per_host`` in-flight requests per
domain (CONCURRENT_REQUESTS_PER_DOMAIN=4, settings.py:46-48; the spider
yields next URLs only while len(currently_crawling) < quota,
domain_spider.py:538-548), here discretized to "at most q scheduled
fetches per (crawl, host) per micro-batch".

Hot-host skew (SURVEY.md §7 risk #3) is handled by Spark itself: a
``row_number() <= <literal q>`` filter over the (crawl_id, host) window
plans a Partial ``WindowGroupLimit`` BELOW the (crawl_id, host)
exchange, so every map task ships at most q rows per host and no single
task ever receives a hot host's full frontier; the Final limit after
the exchange keeps the exact host-level top-q. The Partial node needs
the literal rank filter directly over the window and no explicit
repartition under it; a per-row quota column or a ``repartition`` that
already clusters the window input leaves only the Final limit.

The per-crawl ``seq_in_batch`` window then sees at most
hosts-per-crawl × q rows per crawl — domain scoping admits exactly 2
hosts per crawl (plans/frontier_loop._crawl_dim) — so it stays small at
any frontier size.

Order key everywhere: (depth ASC, priority_score DESC, discovery_seq ASC)
— total, data-defined, parallelism-independent.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..policy import CrawlPolicy


def _order():
    return F.col("depth").asc(), F.col("priority_score").desc(), F.col("discovery_seq").asc()


def select_fetch_batch(
    eligible: DataFrame,
    budgets: DataFrame,
    policy: CrawlPolicy,
    host_quotas: DataFrame | None = None,
) -> DataFrame:
    """Pick this batch's fetch set from eligible frontier rows.

    ``budgets``: (crawl_id, remaining) — max_pages minus pages crawled so
    far; always small (one row per crawl), broadcast.

    ``host_quotas``: optional (host, quota_h) autothrottle quotas, each
    ≤ ``policy.quota_per_host``; hosts without a row keep the default.

    Returns the scheduled rows with ``seq_in_batch`` (per-crawl trace
    order, 1-based).
    """
    host_w = Window.partitionBy("crawl_id", "host").orderBy(*_order())
    capped = eligible.withColumn("_rn", F.row_number().over(host_w)).where(
        F.col("_rn") <= policy.quota_per_host
    )
    if host_quotas is not None:
        # P2 autothrottle analog: the per-host quota is ≤ the default, so
        # it filters the default-quota top-q, which stays a superset
        capped = (
            capped.join(F.broadcast(host_quotas), "host", "left")
            .where(F.col("_rn") <= F.coalesce(F.col("quota_h"), F.lit(policy.quota_per_host)))
            .drop("quota_h")
        )
    crawl_w = Window.partitionBy("crawl_id").orderBy(*_order())
    return (
        capped.drop("_rn")
        .join(F.broadcast(budgets), "crawl_id")
        .withColumn("seq_in_batch", F.row_number().over(crawl_w))
        .where(F.col("seq_in_batch") <= F.col("remaining"))
        .drop("remaining")
    )
