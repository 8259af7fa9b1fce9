"""Partitioned bloom URL-seen pre-filter: no false negatives, mergeable."""

from pyspark.sql import functions as F

from crawler_distributed_spark.operators.seen_filter import (
    bloom_split,
    build_bloom_delta,
    merge_blooms,
)

N_BUCKETS = 8
BITS = 1 << 12


def _urls(spark, prefix, n):
    return spark.createDataFrame(
        [(f"https://h{i % 5}.example.com/{prefix}/{i}",) for i in range(n)],
        "url_norm string",
    )


def test_no_false_negatives(spark):
    seen = _urls(spark, "seen", 500)
    bloom = build_bloom_delta(seen, n_buckets=N_BUCKETS, bits_per_bucket=BITS)
    tagged = bloom_split(seen, bloom, n_buckets=N_BUCKETS, bits_per_bucket=BITS)
    # every actually-seen URL must be flagged maybe_seen
    assert tagged.where(~F.col("maybe_seen")).count() == 0


def test_misses_are_mostly_clean(spark):
    seen = _urls(spark, "seen", 500)
    fresh = _urls(spark, "fresh", 500)
    bloom = build_bloom_delta(seen, n_buckets=N_BUCKETS, bits_per_bucket=BITS)
    tagged = bloom_split(fresh, bloom, n_buckets=N_BUCKETS, bits_per_bucket=BITS)
    hits = tagged.where(F.col("maybe_seen")).count()
    # false-positive rate at this sizing should be small, and misses are
    # the common case for novel URLs
    assert hits < 100


def test_merge_is_union(spark):
    a = _urls(spark, "a", 200)
    b = _urls(spark, "b", 200)
    bloom = merge_blooms(
        build_bloom_delta(a, n_buckets=N_BUCKETS, bits_per_bucket=BITS),
        build_bloom_delta(b, n_buckets=N_BUCKETS, bits_per_bucket=BITS),
    )
    both = a.unionByName(b)
    tagged = bloom_split(both, bloom, n_buckets=N_BUCKETS, bits_per_bucket=BITS)
    assert tagged.where(~F.col("maybe_seen")).count() == 0


def test_split_preserves_columns(spark):
    seen = _urls(spark, "seen", 50)
    cand = seen.withColumn("extra", F.lit(7)).withColumn("crawl_id", F.lit("c1"))
    bloom = build_bloom_delta(seen, n_buckets=N_BUCKETS, bits_per_bucket=BITS)
    out = bloom_split(cand, bloom, n_buckets=N_BUCKETS, bits_per_bucket=BITS)
    assert set(out.columns) == {"url_norm", "extra", "crawl_id", "maybe_seen"}
    assert out.count() == 50


def test_bucketed_seen_antijoin_no_exchange(spark, tmp_path):
    """VERDICT r3 #1 / SURVEY §4 physical-plan choice #1: the compacted
    seen copy is a bucketed table clustered+sorted on the anti-join keys,
    so the exact anti-join plans with NO exchange above the seen-side
    scan — the 10^10-row side never re-shuffles per batch. Also checks
    correctness of the split (compacted + delta) against a plain union
    anti-join."""
    from crawler_distributed_spark.operators.admission import filter_unseen
    from crawler_distributed_spark.plans.plan_checks import (
        formatted_plan,
        no_exchange_above,
    )
    from crawler_distributed_spark.storage import BatchStore

    store = BatchStore(str(tmp_path / "ck"))
    mk = lambda lo, hi: spark.range(lo, hi).select(  # noqa: E731
        F.concat(F.lit("c"), (F.col("id") % 2).cast("string")).alias("crawl_id"),
        F.concat(F.lit("https://h.example.com/p/"), F.col("id").cast("string")).alias("url_norm"),
    )
    store.write_table(mk(0, 3000), 0, "admitted")
    store.compact_seen(spark, 0, n_buckets=8)
    store.write_table(mk(3000, 3100), 1, "admitted")  # post-compaction delta
    parts = store.read_seen_parts(spark, 1)
    assert parts.compacted is not None and parts.deltas is not None

    probe = spark.range(0, 6200, 2).select(
        F.concat(F.lit("c"), (F.col("id") % 2).cast("string")).alias("crawl_id"),
        F.concat(F.lit("https://h.example.com/p/"), F.col("id").cast("string")).alias("url_norm"),
        F.lit(1).alias("depth"),
    )
    out = filter_unseen(probe, parts)

    # correctness: identical to the single-DataFrame anti-join
    expect = filter_unseen(probe, store.read_seen(spark, 1))
    assert sorted(r.url_norm for r in out.collect()) == sorted(
        r.url_norm for r in expect.collect()
    )

    # plan shape at scale: force the non-broadcast (big-side) plan and
    # assert the bucketed scan feeds the join without any exchange
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        plan = formatted_plan(filter_unseen(probe, store.read_seen_parts(spark, 1)))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert "Bucketed: true" in plan, plan
    assert no_exchange_above(plan, "Scan parquet spark_catalog.default.seen_c_"), plan


def test_broadcast_and_shuffle_probes_agree(spark):
    """bloom_split has one Column ``getbit`` probe; bloom size only picks
    the join strategy — broadcast when the whole bloom fits the budget,
    a bucket-keyed shuffle join above it. Both must tag every candidate
    identically, and neither may leave the JVM."""
    seen = _urls(spark, "seen", 400)
    cand = _urls(spark, "seen", 400).unionByName(_urls(spark, "fresh", 400))
    bloom = build_bloom_delta(seen, n_buckets=N_BUCKETS, bits_per_bucket=BITS)

    def tags(broadcast_max):
        out = bloom_split(
            cand, bloom, n_buckets=N_BUCKETS, bits_per_bucket=BITS,
            broadcast_max_bytes=broadcast_max,
        )
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "FlatMapCoGroupsInPandas" not in plan and "MapInPandas" not in plan, plan
        return plan, sorted((r.url_norm, r.maybe_seen) for r in out.collect())

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        # no size-based auto-broadcast: only bloom_split's hint decides
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        plan_b, via_broadcast = tags(1 << 30)   # whole bloom under the budget
        plan_s, via_shuffle = tags(0)           # the at-scale shuffle join
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert "BroadcastHashJoin" in plan_b, plan_b
    assert "BroadcastHashJoin" not in plan_s and "hashpartitioning(_bucket" in plan_s, plan_s
    assert via_broadcast == via_shuffle
    # and the probe preserves bloom's no-false-negative contract
    seen_urls = {r.url_norm for r in seen.collect()}
    assert all(t for (u, t) in via_broadcast if u in seen_urls)
