"""Seed ingestion sources + ops surface (SURVEY.md §2.1: S1, S2, S3, S10, S11).

Reference semantics:
- S1 seed CSV import: validate domain-ness, normalize, upsert
  (scripts/domain_importer.py:77-356)
- S2 submission dedup: a new job for a domain with an active crawl reuses
  it — anti-join on non-terminal states (crawler/scripts/submit_crawl_job.py:102-117)
- S3 backpressure ingestion: capacity = instances·buffer − in-flight,
  admit that many pending seeds (crawler/scripts/bulk_domain_ingestor.py:272-298)
- S10 status scans (scripts/job_status.py) → plain aggregations
- S11 purge (scripts/clear_data.py) → checkpoint-dir removal
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# domain validation per domain_importer.py:201-227 (hostname labels + TLD)
_DOMAIN_RE = (
    r"^([a-z0-9]([a-z0-9-]*[a-z0-9])?\.)+[a-z]{2,}$"
)

ACTIVE_STATES = ("fresh", "crawling")  # non-terminal crawl_status values


def import_seed_csv(spark: SparkSession, path: str, default_max_pages: int = 25) -> DataFrame:
    """S1: CSV (domain[,project_id[,max_pages]]) → validated, normalized,
    deduplicated seed rows (schemas.SEEDS shape)."""
    raw = spark.read.csv(path, header=True)
    dom = F.lower(F.trim(F.col("domain")))
    dom = F.regexp_replace(dom, r"^https?://", "")
    dom = F.regexp_replace(dom, r"^www\.", "")
    dom = F.regexp_replace(dom, r"/.*$", "")
    cleaned = raw.select(
        dom.alias("domain"),
        (F.col("project_id") if "project_id" in raw.columns else F.lit(None)).alias(
            "project_id"
        ),
        (
            F.col("max_pages").cast("int")
            if "max_pages" in raw.columns
            else F.lit(None).cast("int")
        ).alias("max_pages"),
    )
    valid = cleaned.where(F.col("domain").rlike(_DOMAIN_RE))
    # total-order tiebreaker (project_id, max_pages): two rows for the same
    # domain always pick a data-defined winner (determinism hard rule)
    deduped = valid.groupBy("domain").agg(
        F.min_by(
            F.struct("project_id", "max_pages"), F.struct("project_id", "max_pages")
        ).alias("w")
    )
    return deduped.select(
        F.concat(F.lit("crawl-"), F.md5("domain")).alias("crawl_id"),
        "domain",
        F.lit(None).cast("string").alias("url"),
        F.coalesce(F.col("w.max_pages"), F.lit(default_max_pages)).alias("max_pages"),
        F.lit(False).alias("single_url"),
        F.lit(False).alias("use_sitemap"),
        F.lit(0).alias("priority"),
        F.col("w.project_id").alias("project_id"),
    )


def dedup_against_active(new_seeds: DataFrame, crawl_status: DataFrame) -> DataFrame:
    """S2: drop submissions whose domain already has an active crawl.
    ``crawl_status``: (crawl_id, domain, crawl_status)."""
    active = crawl_status.where(F.col("crawl_status").isin(*ACTIVE_STATES)).select(
        "domain"
    )
    return new_seeds.join(active, "domain", "left_anti")


def admission_capacity(
    frontier: DataFrame, instances: int = 2, buffer_per_instance: int = 5
) -> int:
    """S3: capacity = instances·buffer − (queued + fetching) rows, floor 0
    (bulk_domain_ingestor.py:272-298)."""
    in_flight = frontier.where(F.col("state").isin("queued", "fetching")).count()
    return max(0, instances * buffer_per_instance - in_flight)


def take_pending_seeds(pending: DataFrame, capacity: int) -> DataFrame:
    """S3: admit up to ``capacity`` pending seeds in deterministic
    (priority, crawl_id) order — the engine's backpressure analog of
    maxOffsetsPerTrigger."""
    return pending.orderBy("priority", "crawl_id").limit(capacity)


def crawl_status_view(result, spark: SparkSession) -> DataFrame:
    """S10: per-crawl status rollup from the run's outputs: pages crawled,
    failures, last batch — job_status.py:117-360 as one aggregation."""
    from ..plans.frontier_loop import is_page

    f = result._fetched(spark)
    return f.groupBy("crawl_id").agg(
        F.sum(is_page().cast("long")).alias("pages_crawled"),
        F.sum((F.col("status") >= 400).cast("long")).alias("failures"),
        F.max("batch_id").alias("last_batch"),
        F.count("*").alias("requests"),
    )


def purge_crawl_data(checkpoint_dir: str) -> None:
    """S11: remove all engine state under a checkpoint dir."""
    if os.path.isdir(checkpoint_dir):
        shutil.rmtree(checkpoint_dir)
