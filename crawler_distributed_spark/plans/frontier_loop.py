"""The frontier iteration loop — batch-mode BFS crawl (SURVEY.md §3.1).

Replaces the reference's process zoo (beanstalkd tubes + crawl-job
listener + Scrapy spiders + 15 parser workers) with one iterative Spark
plan per micro-batch. ``run_crawl`` is a short driver over named stages,
each a module-level function over one ``_CrawlState``:

  _schedule (politeness top-q + budget cap + strategy level)
    → _fetch (Arrow UDF over the synthetic web, or real HTTP)
    → _advance_state (budget + P6 escalation state)
    → _candidates → _admit_batch (filters → canonicalize → dedup → seen
       anti-join → robots gate)
    → _stamp (discovery_seq) → _next_frontier → _journal
    → _commit (atomic checkpoint, storage.BatchStore)

Performance shape:
- Each heavy plan materializes EXACTLY ONCE per batch: the `fetched` and
  `admitted` parquet writes (read back) and the frontier checkpoint.
  Trace, docs, metrics, seen and blocked are read-time projections of
  the two written tables.
- The seen set is never re-materialized: admission anti-joins the
  append-only `admitted` deltas (periodically compacted, storage.py).
- Idle backoff gaps are jumped in one step (batch -> min not_before);
  nothing observable happens in the gap, so batch numbers match the oracle.
- Every batch journals per-partition lineage (north rule), and a killed
  job resumes exactly from the last manifest (tests/test_trace_equality.py).
"""

from __future__ import annotations

import datetime
import os
import time
from concurrent.futures import Future, ThreadPoolExecutor
from dataclasses import dataclass

from pyspark.sql import DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F

from .. import synth
from ..functions.sitemaps import sitemap_score_col
from ..functions.urls import allowed_hosts_for_domain, canonicalize_url, host_col
from ..operators import admission, seen_filter
from ..operators.admission import admit, dedup_in_batch, filter_unseen, gate_robots
from ..operators.fetch import fetch_scheduled
from ..operators.politeness import select_fetch_batch
from ..operators.sequence import with_sequence
from ..policy import (
    ACCEPTED_CONTENT_TYPES, REDIRECT_STATUSES, RETRY_POLICY, RETRYABLE_STATUSES, CrawlPolicy,
)
from ..storage import BatchStore

_FRONTIER_COLS = [
    "crawl_id", "url", "url_norm", "url_hash", "url_fp", "host", "depth",
    "priority_score", "discovery_seq", "state", "attempts", "not_before_batch",
    "forced_strategy",
]

_RETRYABLE_LIST = sorted(RETRYABLE_STATUSES)
_REDIRECT_LIST = sorted(REDIRECT_STATUSES)
_ACCEPTED_LIST = sorted(ACCEPTED_CONTENT_TYPES)


def is_page():
    """F6+F7: a page is a 200 response of an accepted content type
    (content_filter_middleware.py:43-51 allowlist) that is NOT a
    robots/sitemap control fetch. Non-html accepted types (xml/plain)
    count toward the budget and are stored, but carry no spans/outlinks
    in the synthetic web."""
    return ((F.col("status") == 200) & F.col("content_type").isin(_ACCEPTED_LIST)
            & (F.col("doc_class") == "content"))


def _active_pred(b: int, policy: CrawlPolicy):
    """Q6: a crawl (budget-table row) is active at batch ``b`` iff its page
    budget remains, its failure cap is unreached, AND ``b`` is below its
    batch cap (per-seed "max_batches", else policy.max_batches_per_crawl,
    else unbounded). Budgets are monotone: a crawl never un-finishes."""
    cap = policy.max_batches_per_crawl
    return (
        (F.col("pages") < F.col("max_pages"))
        & (F.col("failed") < F.lit(policy.max_failed_pages))
        & (F.lit(b) < F.coalesce(F.col("max_batches"), F.lit(1 << 30 if cap is None else cap)))
    )


@dataclass
class CrawlRunResult:
    store: BatchStore
    last_batch: int
    batch_seconds: list | None = None  # wall time of each executed batch
    policy: CrawlPolicy = CrawlPolicy()  # the policy the run used
    # {"trace_rows", "trace_hash", "seen_rows", "seen_hash"}, XOR-accumulated
    # from observe() metrics on the writes that run anyway; equals the full
    # bit_xor scan bit-for-bit (tests/test_trace_equality.py). Fresh,
    # complete runs only: resumed or stopped runs leave None (full scan).
    out_hashes: dict | None = None

    def budget(self, spark: SparkSession) -> DataFrame:
        """Per-crawl pages/failed/max_pages/max_batches — a table, never an
        O(#crawls) driver dict (r3 #7)."""
        return self.store.read_table(spark, self.last_batch, "budget")

    def pages_dict(self, spark: SparkSession) -> dict:
        """{crawl_id: pages}: an explicit O(#crawls) collect for tests/CLI."""
        return {r["crawl_id"]: r["pages"] for r in self.budget(spark).collect()}

    def _fetched(self, spark: SparkSession) -> DataFrame | None:
        return self.store.read_appendonly(spark, self.last_batch, "fetched")

    def _admitted(self, spark: SparkSession) -> DataFrame | None:
        return self.store.read_appendonly(spark, self.last_batch, "admitted")

    def trace(self, spark: SparkSession) -> DataFrame:
        f = self._fetched(spark)
        return f.select("crawl_id", "batch_id", "seq_in_batch", "url_norm", "host", "depth")

    def seen(self, spark: SparkSession) -> DataFrame:
        a = self._admitted(spark)
        return a.select("crawl_id", "url_hash", "url_norm", "first_seen_batch")

    def docs(self, spark: SparkSession) -> DataFrame | None:
        f = self._fetched(spark)
        if f is None:
            return None
        return f.where(is_page()).select(
            "crawl_id", "url_norm", "url_hash", "host", "depth", "status",
            "content_type", "doc_id", "spans", "response_headers",
            F.col("batch_id").alias("fetched_in_batch"),
        )

    def blocked(self, spark: SparkSession) -> DataFrame | None:
        a = self._admitted(spark)
        if a is None:
            return None
        return a.where(~F.col("robots_ok")).select(
            "crawl_id", "url_norm", F.col("first_seen_batch").alias("batch_id")
        )

    def metrics(self, spark: SparkSession) -> DataFrame | None:
        f = self._fetched(spark)
        if f is None:
            return None
        return f.groupBy("crawl_id", "batch_id", "host").agg(
            F.count("*").alias("requests"),
            F.sum(is_page().cast("long")).alias("successes"),
            F.sum((F.col("status") >= 400).cast("long")).alias("failures"),
            F.sum(F.when(is_page(), F.size("spans")).otherwise(0)).cast("long").alias("bytes"),
        )

    def lineage(self, spark: SparkSession) -> DataFrame | None:
        """Per-partition lineage + metrics rows, journaled with the
        frontier deltas (one write job per batch — r3 #3)."""
        j = self.store.read_appendonly(spark, self.last_batch, "frontier_delta")
        if j is None:
            return None
        return j.where(F.col("_op") == "lineage").select(
            "batch_id", "partition_id", "rows_in", "rows_fetched",
            "rows_deduped", "rows_admitted", "commit_ts",
        )

    def frontier_left(self, spark: SparkSession) -> DataFrame:
        """Frontier rows left at exit, finished crawls purged (oracle-diffed;
        also the resume path's frontier). Delta replay does not record
        purges, so the purge applies at read time (budgets are monotone)."""
        f = self.store.read_frontier(spark, self.last_batch, _FRONTIER_COLS)
        active = self.budget(spark).where(
            _active_pred(self.last_batch + 1, self.policy)
        ).select("crawl_id")
        return f.join(F.broadcast(active), "crawl_id", "left_semi")

    def health(self, spark: SparkSession) -> DataFrame:
        """A4 queue health (workers/monitor_worker.py:60-120): per crawl,
        queued rows, retry backlog (attempts>0, the buried-jobs analog),
        delayed rows (backoff not due), pages/failed vs budget, a status."""
        f = self.frontier_left(spark)
        per_crawl = f.groupBy("crawl_id").agg(
            F.count("*").alias("queued"),
            F.sum((F.col("attempts") > 0).cast("long")).alias("retry_backlog"),
            F.sum((F.col("not_before_batch") > self.last_batch).cast("long")).alias("delayed"),
        )
        return self.budget(spark).join(per_crawl, "crawl_id", "left").select(
            "crawl_id", "pages", "failed", "max_pages",
            F.coalesce(F.col("queued"), F.lit(0)).alias("queued"),
            F.coalesce(F.col("retry_backlog"), F.lit(0)).alias("retry_backlog"),
            F.coalesce(F.col("delayed"), F.lit(0)).alias("delayed"),
            F.when(F.col("pages") >= F.col("max_pages"), F.lit("completed"))
            .when(F.col("failed") >= F.lit(self.policy.max_failed_pages), F.lit("failed_out"))
            .when(F.coalesce(F.col("queued"), F.lit(0)) == 0, F.lit("exhausted"))
            .otherwise(F.lit("waiting"))
            .alias("status"),
        )


@dataclass
class _CrawlState:
    """What one batch hands the next. ``budget``/``strat``/``bloom`` may have
    a background checkpoint in flight under their name (``_Background``)."""

    frontier: DataFrame
    next_seq: int
    budget: DataFrame       # per-crawl pages/failed/max_pages/max_batches
    strat: DataFrame        # P6: per (crawl, host) count of all-fail batches
    host_lat: DataFrame | None  # P2 autothrottle per-host latency EWMA
    bloom: DataFrame | None     # partitioned bloom filter over the seen set
    acc: dict | None        # CrawlRunResult.out_hashes accumulators
    pending: tuple | None = None  # next batch's (n_elig, next_nb); None: recount


class _Background:
    """Pool overlapping the journal write and the state checkpoints with
    the critical path (under AQE a "lazy" localCheckpoint runs its shuffle
    stages at the call and would block the driver). One future per name,
    resolved before its first consumer. Leaving the ``with`` block on any
    path joins the pool and surfaces every future's error."""

    def __init__(self):
        self._pool = ThreadPoolExecutor(max_workers=4)
        self._pend: dict[str, Future] = {}

    def submit(self, name: str, fn, *args) -> None:
        self.resolve(name)
        self._pend[name] = self._pool.submit(fn, *args)

    def checkpoint(self, name: str, df: DataFrame) -> None:
        self.submit(name, df.localCheckpoint, False)

    def resolve(self, name: str, current=None):
        fut = self._pend.pop(name, None)
        return current if fut is None else fut.result()

    def __enter__(self) -> _Background:
        return self

    def __exit__(self, exc_type, exc, tb) -> None:
        self._pool.shutdown(wait=True)
        errors = [e for e in (f.exception() for f in self._pend.values()) if e is not None]
        self._pend.clear()
        if exc is None and errors:
            raise errors[0]
        for e in errors:
            exc.add_note(f"a background job also failed: {e!r}")


def _read_state(spark: SparkSession, store: BatchStore, batch: int, table: str,
                schema: str) -> DataFrame:
    """State table ``table`` as committed at ``batch``, or an empty one."""
    if os.path.isdir(store.table_path(batch, table)):
        return store.read_table(spark, batch, table)
    return spark.createDataFrame([], schema)


def _crawl_dim(spark: SparkSession, seeds: list[dict]) -> DataFrame:
    rows = []
    for s in sorted(seeds, key=lambda s: s["crawl_id"]):
        dom = s["domain"]
        rows.append((s["crawl_id"], dom, *allowed_hosts_for_domain(dom), int(s["max_pages"])))
    return spark.createDataFrame(
        rows, "crawl_id string, domain string, allowed_host_1 string, "
        "allowed_host_2 string, max_pages int"
    )


def _finish_frontier_rows(admitted_ok: DataFrame) -> DataFrame:
    """Admitted candidates (with discovery_seq) → FRONTIER-schema rows.

    url_fp is computed JVM-side as sha2(url_norm): for canonical URLs
    without path-;params the reference's fingerprint string
    (lib/utils/url_utils.py:186-190) IS the canonical URL, so this equals
    functions.urls.url_fingerprint(url_norm) on the crawl's URL space
    (property-tested) while keeping the hot loop free of Python."""
    return admitted_ok.select(
        "crawl_id", "url", "url_norm", F.col("url_hash"),
        F.sha2(F.col("url_norm"), 256).alias("url_fp"), "host",
        F.col("depth").cast("int").alias("depth"), F.col("priority_score"),
        "discovery_seq", F.lit("queued").alias("state"), F.lit(0).alias("attempts"),
        F.lit(0).cast("long").alias("not_before_batch"), F.lit(0).alias("forced_strategy"),
    )


def _admitted_wide(admitted: DataFrame, batch_id: int) -> DataFrame:
    """Durable ``admitted`` rows: the seen-set delta + robots verdicts +
    everything with_sequence/frontier-insert need downstream."""
    return admitted.select(
        "crawl_id", F.xxhash64("url_norm").alias("url_hash"), "url_norm",
        F.lit(batch_id).cast("long").alias("first_seen_batch"), "robots_ok", "url",
        "host", "parent_seq", "link_idx", "depth", "priority_score",
    )


def _observe_hash(df: DataFrame, obs: Observation, cols: str) -> DataFrame:
    """Row count ``n`` and order-insensitive ``h`` = bit_xor(xxhash64(cols))
    riding ``df``'s write as an Observation (no extra job)."""
    return df.observe(obs, F.count(F.lit(1)).alias("n"),
                      F.expr(f"bit_xor(xxhash64({cols}))").alias("h"))


def _accumulate(acc: dict | None, kind: str, obs: Observation) -> int:
    """Fold one write's ``_observe_hash`` into the run's out_hashes."""
    m = obs.get
    if acc is not None:
        acc[f"{kind}_rows"] += int(m["n"] or 0)
        acc[f"{kind}_hash"] ^= int(m["h"] or 0)
    return int(m["n"] or 0)


def _stamp(rows: DataFrame, start: int, n_hint: int,
           threshold: int) -> tuple[DataFrame, int | None]:
    """discovery_seq = ``start`` + rank in the total (parent_seq, link_idx)
    order. For ``n_hint`` up to ``threshold`` (seq_singlepart_threshold)
    one global window stamps inside the consumer's own job, with no
    range-sample / count / stamp jobs, and the count comes back None (the
    caller reads it off an Observation on that job). Above it the
    shuffle-scalable two-phase ``with_sequence`` stamps and counts."""
    if n_hint <= threshold:
        rank = F.row_number().over(Window.orderBy("parent_seq", "link_idx"))
        return rows.withColumn("discovery_seq", (rank + F.lit(start - 1)).cast("long")), None
    return with_sequence(rows, ["parent_seq", "link_idx"], start=start)


def init_crawl(
    spark: SparkSession, seeds: list[dict], robots_rules: DataFrame,
    store: BatchStore, seq_singlepart_threshold: int = 20_000,
) -> tuple[DataFrame, int, tuple[int, int]]:
    """Seed admission, committed as batch=-1 (reference: start_urls are
    enqueued unfiltered, domain_spider.py:219-265; robots gating still
    applies per north rule). Returns ``(frontier_df, next_seq, (seen_rows,
    seen_hash))`` — the last pair is the seed batch's contribution to
    ``CrawlRunResult.out_hashes``."""
    ordered = sorted(seeds, key=lambda s: s["crawl_id"])
    rows = []
    for idx, s in enumerate(ordered):
        seed_url = s["url"] or f"https://{s['domain']}/"
        # the submission's Q2 priority (e.g. an earlier epoch's PageRank,
        # pipelines/graph.submission_priorities) orders ASCENDING, the
        # loop DESCENDING on priority_score: the row carries the negation
        # (the oracle applies the same rule)
        pri = -float(s.get("priority") or 0.0)
        rows.append((s["crawl_id"], seed_url, canonicalize_url(seed_url), 0, idx, 0, pri))
    schema = ("crawl_id string, url string, url_norm string, parent_seq long, "
              "link_idx int, depth int, priority_score double")
    cand = spark.createDataFrame(rows, schema).withColumn("host", host_col(F.col("url_norm")))
    empty_seen = spark.createDataFrame([], "crawl_id string, url_norm string")
    deduped = dedup_in_batch(
        cand.withColumnRenamed("url", "raw_url")
        .withColumn("allowed_host_1", F.lit(None).cast("string"))
        .withColumn("allowed_host_2", F.lit(None).cast("string"))
    )
    admitted = gate_robots(filter_unseen(deduped, empty_seen), robots_rules)

    seed_obs = Observation("seen-init")
    wide = _admitted_wide(admitted, -1)
    store.write_table(_observe_hash(wide, seed_obs, "crawl_id, url_norm"), -1, "admitted")
    queued, n_queued = _stamp(
        store.read_table(spark, -1, "admitted").where("robots_ok"), 0, len(seeds),
        seq_singlepart_threshold,
    )
    fr_obs = Observation("frontier-init")
    store.write_table(
        _finish_frontier_rows(queued).observe(fr_obs, F.count(F.lit(1)).alias("n")),
        -1, "frontier",
    )
    if n_queued is None:
        n_queued = int(fr_obs.get["n"] or 0)
    budget = spark.createDataFrame(
        [(s["crawl_id"], 0, 0, int(s["max_pages"]), s.get("max_batches")) for s in ordered],
        "crawl_id string, pages int, failed int, max_pages int, max_batches int",
    )
    store.write_table(budget, -1, "budget")
    store.commit(-1, {"next_seq": int(n_queued)})
    sm = seed_obs.get
    return (
        store.read_table(spark, -1, "frontier"), int(n_queued),
        (int(sm["n"] or 0), int(sm["h"] or 0)),
    )


# --- batch stages ------------------------------------------------------------


def _count_eligible(avail: DataFrame, batch: int) -> tuple[int, int | None]:
    """Bootstrap / post-jump eligibility count (one driver job); every
    other batch reads it off the previous frontier checkpoint."""
    counts = avail.agg(
        F.sum((F.col("not_before_batch") <= batch).cast("long")).alias("elig"),
        F.min(F.when(F.col("not_before_batch") > batch, F.col("not_before_batch")))
        .alias("next_nb"),
    ).collect()[0]
    return counts["elig"] or 0, counts["next_nb"]


def _schedule(
    st: _CrawlState, avail: DataFrame, budgets: DataFrame, batch: int,
    policy: CrawlPolicy, bg: _Background,
) -> DataFrame:
    """Politeness top-q per host (autothrottled quotas when on) under the
    budget cap, plus each row's P6 fetch strategy level."""
    eligible = avail.where(F.col("not_before_batch") <= batch).drop("remaining", "max_pages")
    host_quotas = None
    if policy.autothrottle:
        host_quotas = st.host_lat.select("host", F.greatest(
            F.lit(1),
            F.floor(F.lit(policy.quota_per_host) / (F.lit(1.0) + F.col("ewma"))).cast("int"),
        ).alias("quota_h"))
    scheduled = select_fetch_batch(eligible, budgets, policy, host_quotas=host_quotas)
    # effective strategy = host escalation level ∨ per-URL 403 force-proxy
    # carried on the frontier row (retry_middleware.py:33-55). The strat
    # dim is O(#crawls × hosts) like the budgets dim; an explicit
    # broadcast stops an SMJ against a stats-less checkpoint scan
    st.strat = bg.resolve("strat", st.strat)
    return scheduled.join(F.broadcast(st.strat), ["crawl_id", "host"], "left").withColumn(
        "strategy_level", F.greatest(
            F.least(F.coalesce(F.col("fail_batches"), F.lit(0)), F.lit(2)),
            F.col("forced_strategy"),
        ),
    ).drop("fail_batches")


def _fetch(
    spark: SparkSession, store: BatchStore, st: _CrawlState, scheduled: DataFrame,
    batch: int, n_elig: int, cfg: synth.SynthConfig, fetcher,
) -> DataFrame:
    """Materialization #1: politeness + fetch into parquet, the trace hash
    riding the write. The row hint caps the Arrow stage's partition count
    (partitioning never affects values)."""
    fetched = (fetch_scheduled(scheduled, cfg, n_rows_hint=n_elig) if fetcher is None
               else fetcher(scheduled, n_elig))
    obs = Observation(f"trace-{batch}")
    fetched = fetched.withColumn("batch_id", F.lit(batch).cast("long"))
    store.write_table(_observe_hash(
        fetched, obs, "crawl_id, batch_id, seq_in_batch, url_norm, depth"
    ), batch, "fetched")
    _accumulate(st.acc, "trace", obs)
    return store.read_table(spark, batch, "fetched")


def _advance_state(
    st: _CrawlState, fetched: DataFrame, policy: CrawlPolicy, bg: _Background
) -> None:
    """Budget (pages + failures, ONE aggregation — r3 #3) and P6
    escalation state (hosts whose every fetch failed escalate one level;
    level = min(2, fail_batches): direct -> proxy -> render,
    base_spider.py:151-244). Both checkpoint in the background."""
    page_pred = F.lit(True) if policy.count_scheduled_in_budget else is_page()
    deltas = fetched.groupBy("crawl_id").agg(
        F.sum(page_pred.cast("long")).alias("_n"),
        F.sum((F.col("status") >= 400).cast("long")).alias("_f"),
    )
    st.budget = st.budget.join(deltas, "crawl_id", "left").select(
        "crawl_id",
        (F.col("pages") + F.coalesce(F.col("_n"), F.lit(0))).cast("int").alias("pages"),
        (F.col("failed") + F.coalesce(F.col("_f"), F.lit(0))).cast("int").alias("failed"),
        "max_pages", "max_batches",
    )
    bg.checkpoint("budget", st.budget)
    host_fail = fetched.groupBy("crawl_id", "host").agg(
        (F.max(F.when(F.col("status") < 400, 1).otherwise(0)) == 0).alias("_allfail")
    )
    st.strat = st.strat.join(host_fail, ["crawl_id", "host"], "full").select(
        "crawl_id", "host", (
            F.coalesce(F.col("fail_batches"), F.lit(0))
            + F.when(F.coalesce(F.col("_allfail"), F.lit(False)), 1).otherwise(0)
        ).cast("int").alias("fail_batches"),
    )
    bg.checkpoint("strat", st.strat)


def _retries(fetched: DataFrame, batch: int, policy: CrawlPolicy) -> DataFrame:
    """Q7/P8: per-status backoff multiplier and retry cap, backoff in
    batches, bury past the cap; 403 retries force the proxy strategy
    (retry_middleware.py:33-55)."""
    mult = F.lit(1.0)
    max_r = F.lit(0)
    for st_code, (m, r) in RETRY_POLICY.items():
        mult = F.when(F.col("status") == st_code, F.lit(m)).otherwise(mult)
        max_r = F.when(
            F.col("status") == st_code, F.lit(min(r, policy.max_attempts))
        ).otherwise(max_r)
    return (
        fetched.where(F.col("status").isin(_RETRYABLE_LIST) & (F.col("attempts") < max_r))
        .withColumn("attempts", F.col("attempts") + 1)
        .withColumn("not_before_batch", F.lit(batch) + F.least(
            F.ceil(mult * F.pow(F.lit(2.0), F.col("attempts"))),
            F.lit(policy.backoff_cap).cast("long"),
        ))
        .withColumn("forced_strategy", F.when(F.col("status") == 403, F.lit(1))
                    .otherwise(F.col("forced_strategy")))
        .select(*_FRONTIER_COLS)
    )


def _candidates(
    st: _CrawlState, fetched: DataFrame, crawls: DataFrame, batch: int,
    policy: CrawlPolicy, bg: _Background,
) -> DataFrame:
    """Outlink candidates of this batch's fetches, restricted to active
    crawls and carrying the F4 scoping dim."""
    def children(df: DataFrame, *cols) -> DataFrame:
        return df.select("crawl_id", F.col("discovery_seq").alias("parent_seq"),
                         (F.col("depth") + 1).alias("depth"), *cols)

    parsed = children(
        fetched.where(is_page()), F.posexplode("outlinks").alias("link_idx", "raw_url")
    ).withColumn("priority_score", F.lit(0.0))
    redirected = fetched.where(
        F.col("status").isin(_REDIRECT_LIST) & (F.size("outlinks") > 0)
    ).select(
        "crawl_id", F.col("discovery_seq").alias("parent_seq"), F.col("depth"),
        F.lit(0).alias("link_idx"), F.col("outlinks").getItem(0).alias("raw_url"),
        F.lit(0.0).alias("priority_score"),
    )
    # S6/Q3/Q4: sitemap-discovered URLs — scored (frozen clock), ranked by
    # score, truncated to the crawl's max_pages (sitemap_utils.py:374-433;
    # max_pages rides the fetched row from the budgets broadcast)
    sm = (
        children(
            fetched.where(F.size("sitemap_entries") > 0),
            "max_pages", F.explode("sitemap_entries").alias("e"),
        )
        .withColumn("priority_score", sitemap_score_col(
            F.col("e.priority"), F.col("e.lastmod"), F.col("e.changefreq"),
            F.lit(policy.sitemap_now_date).cast("date"),
        ))
        .withColumn("link_idx", F.row_number().over(
            Window.partitionBy("crawl_id", "parent_seq")
            .orderBy(F.desc("priority_score"), F.asc("e.url"))
        ) - 1)
        .where(F.col("link_idx") < F.col("max_pages"))
        .select("crawl_id", "parent_seq", "depth", "link_idx",
                F.col("e.url").alias("raw_url"), "priority_score")
    )
    # S5: robots.txt fetches surface the located sitemap URL as a CONTROL
    # link, admitted with the F1-F5 content filters bypassed (the
    # reference fetches it directly, sitemap_utils.py:65-121)
    ctrl = children(
        fetched.where(F.size("discovered") > 0),
        F.posexplode("discovered").alias("link_idx", "raw_url"),
    ).withColumn("priority_score", F.lit(0.0))
    # active-crawl restriction + F4 scoping dim as ONE broadcast (an isin()
    # literal list breaks the plan at 10^4+ crawls; two broadcasts were two
    # O(#crawls) build jobs per batch)
    st.budget = bg.resolve("budget", st.budget)
    active = st.budget.where(_active_pred(batch, policy)).select("crawl_id")
    cand_dim = crawls.select(
        "crawl_id", "allowed_host_1", "allowed_host_2"
    ).join(active, "crawl_id", "left_semi")
    return (
        parsed.unionByName(redirected).unionByName(sm)
        .withColumn("is_control", F.lit(False))
        .unionByName(ctrl.withColumn("is_control", F.lit(True)))
        .join(F.broadcast(cand_dim), "crawl_id")
    )


def _admit_batch(
    spark: SparkSession, store: BatchStore, st: _CrawlState, candidates: DataFrame,
    robots_agg: DataFrame, batch: int, n_elig: int, cfg: synth.SynthConfig,
    policy: CrawlPolicy, bg: _Background,
) -> tuple[DataFrame, int]:
    """Materialization #2: admission into parquet; returns the read-back
    ``admitted`` table and its row count. The bloom split is a pure
    optimization, skipped below bloom_split_min eligible rows."""
    seen = store.read_seen_parts(spark, batch - 1)
    st.bloom = bg.resolve("bloom", st.bloom)
    use_split = st.bloom is not None and n_elig >= policy.bloom_split_min
    admitted = admit(
        candidates, seen, robots_agg, bloom=st.bloom if use_split else None,
        n_rows_hint=n_elig * max(1, cfg.branching),
    )
    obs = Observation(f"adm-{batch}")
    wide = _admitted_wide(admitted, batch)
    store.write_table(_observe_hash(wide, obs, "crawl_id, url_norm"), batch, "admitted")
    n_rows = _accumulate(st.acc, "seen", obs)
    return store.read_table(spark, batch, "admitted"), n_rows


def _next_frontier(
    st: _CrawlState, fetched: DataFrame, retries: DataFrame, queued_new: DataFrame,
    batch: int, policy: CrawlPolicy,
) -> int:
    """Materialization #3: the next frontier as a checkpoint, finished
    crawls purged; the NEXT batch's eligibility rides it as an Observation.
    Returns this batch's admissions: the rows with seq >= next_seq (the
    purge cannot drop them; admission ran behind the same active set)."""
    next_active = st.budget.where(_active_pred(batch + 1, policy)).select("crawl_id")
    obs = Observation(f"elig-{batch}")
    st.frontier = (
        # scheduled seqs come from the MATERIALIZED fetched table (1:1
        # with the scheduled rows) — re-deriving them from the lazy plan
        # would recompute the whole politeness stage inside this job
        st.frontier.join(fetched.select("discovery_seq"), "discovery_seq", "left_anti")
        .select(*_FRONTIER_COLS)
        .unionByName(retries)
        .unionByName(_finish_frontier_rows(queued_new))
        .join(F.broadcast(next_active), "crawl_id", "left_semi")
        .observe(
            obs,
            F.sum((F.col("not_before_batch") <= batch + 1).cast("long")).alias("elig"),
            F.min(F.when(F.col("not_before_batch") > batch + 1, F.col("not_before_batch")))
            .alias("next_nb"),
            F.sum((F.col("discovery_seq") >= F.lit(st.next_seq)).cast("long")).alias("n_new"),
        )
    ).localCheckpoint()
    m = obs.get
    st.pending = (int(m["elig"] or 0), m["next_nb"])
    return int(m["n_new"] or 0)


def _journal(
    st: _CrawlState, fetched: DataFrame, batch: int, seq_floor: int,
    n_elig: int, n_admitted: int,
) -> DataFrame:
    """The per-batch journal, O(batch), one write (r3 #3): 'rm' rows (the
    scheduled seqs), 'add' rows (retries + new admissions) and per-partition
    'lineage' rows. storage.read_frontier replays it over the newest
    snapshot, so the durable cost per batch is not O(frontier)."""
    ftypes = {f.name: f.dataType for f in st.frontier.schema.fields}
    # `add` rows come from the checkpointed frontier, not a re-run of the
    # stamp plan: retries were scheduled this batch, new rows carry seq >=
    # seq_floor (purged crawls' rows are absent; readers re-apply the purge)
    add_rows = (
        st.frontier.join(
            fetched.select("discovery_seq").withColumn("_sch", F.lit(True)),
            "discovery_seq", "left",
        )
        .where((F.col("discovery_seq") >= F.lit(seq_floor)) | F.col("_sch").isNotNull())
        .drop("_sch")
        .select(*_FRONTIER_COLS)
        .withColumn("_op", F.lit("add"))
    )
    rm_rows = fetched.select(*[
        F.col(c) if c == "discovery_seq" else F.lit(None).cast(ftypes[c]).alias(c)
        for c in _FRONTIER_COLS
    ]).withColumn("_op", F.lit("rm"))
    lineage = fetched.groupBy(F.spark_partition_id().alias("partition_id")).agg(
        F.count("*").alias("rows_fetched"), F.sum(is_page().cast("long")).alias("rows_ok"),
    ).select(
        F.lit(batch).cast("long").alias("batch_id"), F.col("partition_id"),
        F.lit(n_elig).cast("long").alias("rows_in"), F.col("rows_fetched").cast("long"),
        F.col("rows_ok").cast("long").alias("rows_deduped"),
        F.lit(n_admitted).cast("long").alias("rows_admitted"),
        F.lit(datetime.datetime.now(datetime.timezone.utc).isoformat()).alias("commit_ts"),
        F.lit("lineage").alias("_op"),
    )
    return (
        rm_rows.unionByName(add_rows)
        .withColumn("_b", F.lit(batch).cast("long"))
        .unionByName(lineage, allowMissingColumns=True)
    )


def _update_host_lat(
    host_lat: DataFrame, fetched: DataFrame, batch: int, policy: CrawlPolicy
) -> DataFrame:
    """P2 autothrottle: per-host EWMA of observed latency. With a TTL (r3
    #8) hosts idle > ttl batches leave the table and re-seed from their
    first batch mean on return (oracle.py applies the same rule)."""
    obs = fetched.groupBy("host").agg(F.avg("latency_class").alias("_m"))
    seen_now = F.col("_m").isNotNull()
    host_lat = host_lat.join(obs, "host", "full").select(
        "host",
        F.when(
            F.col("ewma").isNotNull() & seen_now,
            F.lit(policy.ewma_alpha) * F.col("_m")
            + F.lit(1.0 - policy.ewma_alpha) * F.col("ewma"),
        ).when(seen_now, F.col("_m")).otherwise(F.col("ewma")).alias("ewma"),
        F.when(seen_now, F.lit(batch).cast("long")).otherwise(F.col("last_b")).alias("last_b"),
    )
    if policy.autothrottle_ttl_batches:
        host_lat = host_lat.where(
            F.lit(batch) - F.col("last_b") <= F.lit(policy.autothrottle_ttl_batches)
        )
    return host_lat.localCheckpoint(eager=False)  # truncates the lineage


def _commit(
    store: BatchStore, st: _CrawlState, bg: _Background, batch: int, snapshot: bool
) -> None:
    """Durable commit of ``batch``: the state tables (and a frontier
    snapshot), then the in-flight journal, then the manifest, which is the
    commit point. Anything newer than the last manifest rolls back on resume."""
    st.budget = bg.resolve("budget", st.budget)
    st.strat = bg.resolve("strat", st.strat)
    if snapshot:
        store.write_table(st.frontier, batch, "frontier")
    store.write_table(st.budget, batch, "budget")
    store.write_table(st.strat, batch, "strategy")
    if st.host_lat is not None:
        store.write_table(st.host_lat, batch, "hostlat")
    bg.resolve("journal")
    store.commit(batch, {"next_seq": st.next_seq})


def run_crawl(
    spark: SparkSession, cfg: synth.SynthConfig, seeds: list[dict],
    robots_rules: DataFrame, checkpoint_dir: str, policy: CrawlPolicy = CrawlPolicy(),
    resume: bool = False, stop_after_batch: int | None = None, fetcher=None,
) -> CrawlRunResult:
    """Run (or resume) the crawl to completion. ``stop_after_batch`` kills
    the loop right after committing that batch — used by the resume tests.

    ``fetcher(scheduled_df, n_rows_hint) -> DataFrame`` swaps the fetch
    transport (default: the deterministic synthetic web; pass
    ``operators.http_fetch.fetch_scheduled_http`` for real HTTP); the loop
    only needs the fetch output schema."""
    store = BatchStore(checkpoint_dir)
    store.rollback_uncommitted()
    last = store.last_committed()
    if not resume or last is None:
        if last is not None:
            raise ValueError(f"checkpoint {checkpoint_dir} already has state; pass resume=True")
        frontier, next_seq, (seed_n, seed_h) = init_crawl(
            spark, seeds, robots_rules, store,
            seq_singlepart_threshold=policy.seq_singlepart_threshold,
        )
        # out_hashes accumulate on fresh runs only: a resume cannot cheaply
        # reconstruct the prior batches' contributions
        acc = {"trace_rows": 0, "trace_hash": 0, "seen_rows": seed_n, "seen_hash": seed_h}
        last = -1
    else:
        next_seq = store.read_manifest(last)["next_seq"]
        frontier = CrawlRunResult(store, last, policy=policy).frontier_left(spark)
        acc = None

    crawls = _crawl_dim(spark, seeds).cache()
    robots_agg = admission.aggregate_robots_rules(robots_rules).cache()
    robots_agg.count()  # loop-invariant dimension, aggregated once
    # per-crawl state lives in Spark tables, never driver dicts: every
    # O(#crawls) driver loop/collect would serialize the batch at 10^5+
    # crawls. The bloom is rebuilt from the seen set on start/resume.
    st = _CrawlState(
        frontier=frontier, next_seq=next_seq, acc=acc,
        budget=store.read_table(spark, last, "budget").localCheckpoint(),
        strat=_read_state(
            spark, store, last, "strategy", "crawl_id string, host string, fail_batches int"
        ).localCheckpoint(),
        host_lat=_read_state(
            spark, store, last, "hostlat", "host string, ewma double, last_b long"
        ) if policy.autothrottle else None,
        bloom=seen_filter.build_bloom_delta(
            store.read_seen(spark, last).select("url_norm")
        ).localCheckpoint() if policy.use_bloom else None,
    )

    batch = last + 1
    last_committed = last
    stopped = False
    batch_seconds: list = []
    with _Background() as bg:
        while batch < policy.max_batches:
            t0 = time.time()
            # budgets carry max_pages for the fetch stage's sitemap-index
            # early break (domain_spider.py:326-354)
            budgets = st.budget.where(_active_pred(batch, policy)).select(
                "crawl_id", (F.col("max_pages") - F.col("pages")).alias("remaining"), "max_pages",
            )
            avail = st.frontier.join(F.broadcast(budgets), "crawl_id")
            n_elig, next_nb = st.pending or _count_eligible(avail, batch)
            if n_elig == 0:
                if next_nb is None:
                    break
                # jump the idle backoff gap in one step; nothing observable
                # happens in between, so batch numbering stays oracle-equal
                batch, st.pending = int(next_nb), None
                continue

            scheduled = _schedule(st, avail, budgets, batch, policy, bg)
            fetched = _fetch(spark, store, st, scheduled, batch, n_elig, cfg, fetcher)
            _advance_state(st, fetched, policy, bg)
            retries = _retries(fetched, batch, policy)
            candidates = _candidates(st, fetched, crawls, batch, policy, bg)
            admitted, n_admitted_rows = _admit_batch(
                spark, store, st, candidates, robots_agg, batch, n_elig, cfg, policy, bg
            )
            queued_new, n_admitted = _stamp(
                admitted.where("robots_ok"), st.next_seq, n_elig,
                policy.seq_singlepart_threshold,
            )
            n_new = _next_frontier(st, fetched, retries, queued_new, batch, policy)
            if n_admitted is None:
                n_admitted = n_new
            seq_floor = st.next_seq
            st.next_seq += n_admitted
            # the journal reads only the frontier checkpoint and the fetched
            # parquet, so it overlaps the rest of the batch; it only has to
            # be on disk before the next manifest (see _commit)
            bg.submit(
                "journal", store.write_table,
                _journal(st, fetched, batch, seq_floor, n_elig, n_admitted),
                batch, "frontier_delta",
            )
            stopped = stop_after_batch is not None and batch >= stop_after_batch
            # work now or after a backoff gap, and no stop or loop guard
            has_next = not stopped and batch + 1 < policy.max_batches and (
                st.pending[0] > 0 or st.pending[1] is not None)

            if policy.autothrottle:
                st.host_lat = _update_host_lat(st.host_lat, fetched, batch, policy)
            if policy.use_bloom and n_admitted_rows and has_next:
                # OR-merge this batch's seen delta; skipped when nothing was
                # admitted or no batch follows (resume rebuilds the bloom)
                st.bloom = seen_filter.merge_blooms(
                    st.bloom, seen_filter.build_bloom_delta(admitted.select("url_norm"))
                )
                bg.checkpoint("bloom", st.bloom)

            if policy.checkpoint_every <= 1 or batch % policy.checkpoint_every == 0 or stopped:
                _commit(store, st, bg, batch, batch % policy.frontier_snapshot_every == 0)
                last_committed = batch
                if policy.compact_seen_every and batch % policy.compact_seen_every == 0:
                    n_buckets = int(spark.conf.get("spark.sql.shuffle.partitions"))
                    store.compact_seen(spark, batch, n_buckets=n_buckets)
            batch_seconds.append(round(time.time() - t0, 2))
            batch += 1
            if not has_next:
                break

        # the terminal state is always durable
        if batch - 1 > last_committed:
            _commit(store, st, bg, batch - 1, snapshot=True)
    return CrawlRunResult(
        store, batch - 1, batch_seconds, policy, out_hashes=None if stopped else acc
    )
