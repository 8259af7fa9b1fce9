"""Politeness stage: the per-host top-q must be exact, and Spark must cap
a hot host before the shuffle."""

from pyspark.sql import functions as F

from crawler_distributed_spark.operators.politeness import select_fetch_batch
from crawler_distributed_spark.policy import CrawlPolicy


def _frontier(spark, rows):
    return spark.createDataFrame(
        rows,
        "crawl_id string, url_norm string, host string, depth int, "
        "priority_score double, discovery_seq long",
    )


def test_per_host_quota_and_order(spark):
    rows = []
    for h in ("a.com", "b.com"):
        for i in range(10):
            rows.append(("c1", f"https://{h}/p/{i}", h, 1, 0.0, len(rows)))
    eligible = _frontier(spark, rows)
    budgets = spark.createDataFrame([("c1", 100)], "crawl_id string, remaining int")
    policy = CrawlPolicy(quota_per_host=3)
    got = select_fetch_batch(eligible, budgets, policy).collect()
    by_host = {}
    for r in got:
        by_host.setdefault(r.host, []).append(r.discovery_seq)
    # exactly the 3 earliest seqs per host
    assert sorted(by_host["a.com"]) == [0, 1, 2]
    assert sorted(by_host["b.com"]) == [10, 11, 12]


def test_order_key_depth_then_priority_then_seq(spark):
    rows = [
        ("c1", "u1", "a.com", 2, 0.0, 0),
        ("c1", "u2", "a.com", 1, 0.0, 9),   # lower depth wins
        ("c1", "u3", "a.com", 1, 5.0, 10),  # higher priority wins within depth
        ("c1", "u4", "a.com", 1, 5.0, 3),   # earlier seq wins within (depth, prio)
    ]
    eligible = _frontier(spark, rows)
    budgets = spark.createDataFrame([("c1", 100)], "crawl_id string, remaining int")
    got = select_fetch_batch(eligible, budgets, CrawlPolicy(quota_per_host=2)).collect()
    picked = {r.url_norm for r in got}
    assert picked == {"u4", "u3"}
    seqs = {r.url_norm: r.seq_in_batch for r in got}
    assert seqs["u4"] == 1 and seqs["u3"] == 2


def test_budget_cap(spark):
    rows = [("c1", f"u{i}", f"h{i}.com", 1, 0.0, i) for i in range(10)]
    eligible = _frontier(spark, rows)
    budgets = spark.createDataFrame([("c1", 4)], "crawl_id string, remaining int")
    got = select_fetch_batch(eligible, budgets, CrawlPolicy(quota_per_host=2)).collect()
    assert sorted(r.discovery_seq for r in got) == [0, 1, 2, 3]
    assert sorted(r.seq_in_batch for r in got) == [1, 2, 3, 4]


def test_hot_host_capped_below_exchange(spark):
    """The literal ``row_number() <= quota`` filter over (crawl_id, host)
    must plan a Partial WindowGroupLimit BELOW the (crawl_id, host)
    Exchange — every map task ships at most quota rows per host, so a hot
    host never lands whole on one task — with and without autothrottle
    quotas, and with no Python stage anywhere in the plan."""
    from crawler_distributed_spark.plans.plan_checks import _indent_of

    rows = [("c1", f"https://hot/p/{i}", "hot", 1, 0.0, i) for i in range(40)]
    rows += [("c1", f"https://cold/p/{i}", "cold", 1, 0.0, 100 + i) for i in range(3)]
    eligible = _frontier(spark, rows)
    budgets = spark.createDataFrame([("c1", 100)], "crawl_id string, remaining int")
    quotas = spark.createDataFrame([("hot", 2)], "host string, quota_h int")
    for host_quotas, want in ((None, [0, 1, 2]), (quotas, [0, 1])):
        out = select_fetch_batch(eligible, budgets, CrawlPolicy(quota_per_host=3), host_quotas)
        plan = out._jdf.queryExecution().executedPlan().toString()
        lines = plan.splitlines()
        partial = [i for i, ln in enumerate(lines) if "WindowGroupLimit" in ln and "Partial" in ln]
        assert len(partial) == 1, plan
        # nothing beneath the partial limit is an Exchange ...
        ind = _indent_of(lines[partial[0]])
        subtree = []
        for ln in lines[partial[0] + 1:]:
            if _indent_of(ln) <= ind:
                break
            subtree.append(ln)
        assert not any("Exchange" in ln for ln in subtree), plan
        # ... and its parent is the (crawl_id, host) Exchange
        assert "Exchange hashpartitioning(crawl_id#" in lines[partial[0] - 1], plan
        assert ", host#" in lines[partial[0] - 1], plan
        assert "MapInPandas" not in plan and "ArrowEvalPython" not in plan, plan
        assert sorted(r.discovery_seq for r in out.collect()) == want + [100, 101, 102]


def test_hot_host_exact_top_q(spark):
    """Hot host with many URLs: exactly quota selected, the global best."""
    rows = [("c1", f"https://hot/p/{i}", "hot", 1, 0.0, 1000 - i) for i in range(200)]
    eligible = _frontier(spark, rows).repartition(8, "url_norm")
    budgets = spark.createDataFrame([("c1", 1000)], "crawl_id string, remaining int")
    policy = CrawlPolicy(quota_per_host=5)
    got = select_fetch_batch(eligible, budgets, policy).collect()
    assert sorted(r.discovery_seq for r in got) == [801, 802, 803, 804, 805]
