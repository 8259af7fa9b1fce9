"""UA rotation, escalation ladder, JS detection, text URL extraction."""

import importlib.util
import json
import os
from pathlib import Path

from pyspark.sql import functions as F

from crawler_distributed_spark.functions.urls import (
    extract_urls_col,
    extract_urls_from_text,
)
from crawler_distributed_spark.operators import strategy as ST


def test_ua_rotation_stable_and_spread(spark):
    hosts = spark.createDataFrame(
        [(f"h{i}.example.com",) for i in range(40)], "host string"
    )
    got = hosts.select("host", ST.user_agent_col(F.col("host")).alias("ua")).collect()
    by_host = {r.host: r.ua for r in got}
    again = {
        r.host: r.ua
        for r in hosts.select("host", ST.user_agent_col(F.col("host")).alias("ua")).collect()
    }
    assert by_host == again  # per-host stable
    assert len(set(by_host.values())) > 1  # pool actually used
    assert set(by_host.values()) <= set(ST.UA_POOL)


def test_strategy_escalation(spark):
    metrics = spark.createDataFrame(
        [("a.com", 0), ("b.com", 2), ("c.com", 3), ("d.com", 10)],
        "host string, failures long",
    )
    got = {r.host: r.fetch_strategy for r in ST.fetch_strategy_dim(metrics).collect()}
    assert got == {
        "a.com": "direct", "b.com": "proxy", "c.com": "proxy", "d.com": "render",
    }


def test_js_detection_two_strike(spark):
    def doc(host, n_scripts, n_text):
        spans = [
            {"kind": "script", "text": None, "media_ref": f"https://{host}/j{i}.js", "offset": i}
            for i in range(n_scripts)
        ] + [
            {"kind": "text", "text": "words here", "media_ref": None, "offset": 100 + i}
            for i in range(n_text)
        ]
        return (host, spans)

    docs = spark.createDataFrame(
        [
            doc("heavy.com", 8, 2),   # strike (count > 5)
            doc("heavy.com", 3, 2),   # strike (ratio 0.6 > 0.5)
            doc("light.com", 1, 9),
            doc("once.com", 9, 1),    # only one strike
        ],
        "host string, spans array<struct<kind:string,text:string,media_ref:string,offset:int>>",
    )
    got = {r.host for r in ST.js_required_hosts(docs).collect()}
    assert got == {"heavy.com"}


def test_extract_urls_matches_reference_behavior():
    """L3 parity with the reference's extract_urls_from_text. Its URL
    sets for both bases are frozen in extract_urls_reference.json; when
    the reference checkout is present they are also re-derived live."""
    spec = importlib.util.spec_from_file_location(
        "ref_url_utils", "/root/reference/lib/utils/url_utils.py"
    )
    ref = None
    if os.path.exists(spec.origin):
        ref = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(ref)
    text = (
        'See https://example.com/a, and "https://example.com/b?utm_source=x" '
        "or visit https://other.org/c. Relative: 'path' \"/rel/page\" end"
    )
    golden = json.loads((Path(__file__).parent / "extract_urls_reference.json").read_text())
    assert [c["base"] for c in golden["cases"]] == [None, "https://base.example.com/dir/"]
    for case in golden["cases"]:
        base, want = case["base"], set(case["urls"])
        mine = set(extract_urls_from_text(text, base))
        assert mine == want, (base, mine, want)
        if ref is not None:
            live = set(ref.extract_urls_from_text(text, base))
            assert live == want, (base, live, want)


def test_extract_urls_col(spark):
    df = spark.createDataFrame(
        [('Go to https://x.com/a. Then "https://y.org/b?q=1", done',)], "t string"
    )
    got = df.select(extract_urls_col(F.col("t")).alias("u")).collect()[0].u
    assert got == ["https://x.com/a", "https://y.org/b?q=1"]


def test_proxy_stats_and_timed_unban(spark):
    """P5: per-proxy tallies, best-score selection (proxy_manager.py:63-76)
    and the 30-min timed ban window (settings.py:69 PROXY_BLACKLIST_TIME)
    re-expressed in batches."""
    rows = [
        # p0: reliable
        ("p0", 200, 1), ("p0", 200, 2), ("p0", 200, 3),
        # p1: banned at batch 5 (403), otherwise fine
        ("p1", 200, 1), ("p1", 403, 5),
        # p2: flaky
        ("p2", 500, 1), ("p2", 200, 2),
    ]
    events = spark.createDataFrame(rows, "proxy_id string, status int, batch_id long")
    stats = {r.proxy_id: r for r in ST.proxy_stats(events).collect()}
    assert stats["p0"].success == 3 and stats["p0"].banned == 0
    assert stats["p1"].banned == 1
    assert stats["p1"].banned_until_batch == 5 + ST.PROXY_BLACKLIST_BATCHES
    assert stats["p2"].failure == 1

    st_df = ST.proxy_stats(events)
    # while p1 is banned, p0 wins (best success rate among available)
    assert ST.choose_proxy(st_df, batch_id=10).collect()[0].proxy_id == "p0"
    # p0 always beats p1 on score; ban expiry only re-admits p1 to the pool
    after = 5 + ST.PROXY_BLACKLIST_BATCHES
    avail = {r.proxy_id for r in ST.proxy_stats(events).where(
        F.col("banned_until_batch").isNull() | (F.col("banned_until_batch") <= after)
    ).collect()}
    assert "p1" in avail
    assert ST.choose_proxy(st_df, batch_id=after).collect()[0].proxy_id == "p0"
