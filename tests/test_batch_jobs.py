"""Per-batch fixed-cost budget (VERDICT r3 #3).

The thin-wave tail of the scaling runs pays a per-batch floor of fixed
driver/scheduler work; r3 measured ~4 separate post-fetch aggregation
jobs plus two separate durable writes (frontier_delta + lineage) per
batch. The fused loop journals lineage WITH the frontier deltas and
computes budget+fail deltas in one aggregation, so a steady-state
(non-durable) batch performs exactly THREE durable writes: fetched,
admitted, frontier_delta. These tests pin that floor so it cannot
silently regress.
"""

import os
import threading

import pytest

from crawler_distributed_spark import synth
from crawler_distributed_spark.plans.frontier_loop import run_crawl
from crawler_distributed_spark.policy import CrawlPolicy
from crawler_distributed_spark.storage import BatchStore

CFG = synth.SynthConfig(n_hosts=3, pages_base=12, hot_factor=3, branching=4)
SEEDS = synth.seed_rows(CFG, max_pages=8)


def test_three_writes_per_steady_state_batch(spark, tmp_path):
    """With durable commits and frontier snapshots pushed out, every
    executed batch must write exactly {fetched, admitted, frontier_delta}
    — in particular NO separate lineage table (it rides the journal) and
    no per-batch budget/strategy/frontier spills."""
    pol = CrawlPolicy(checkpoint_every=1000, frontier_snapshot_every=10_000)
    d = str(tmp_path / "ck")
    robots = spark.createDataFrame(synth.robots_rule_rows(CFG))
    res = run_crawl(spark, CFG, SEEDS, robots, d, pol)
    assert len(res.batch_seconds) >= 3, "workload too small to be meaningful"
    batches_root = os.path.join(d, "batches")
    final = res.last_batch
    # batch 0 is durable by construction (0 % checkpoint_every == 0), the
    # final batch commits durably by design — steady state is 1..final-1
    for b in range(1, final):
        bdir = os.path.join(batches_root, f"batch={b}")
        if not os.path.isdir(bdir):
            continue  # backoff-gap batch numbers are skipped, never written
        tables = sorted(
            n for n in os.listdir(bdir) if os.path.isdir(os.path.join(bdir, n))
        )
        assert tables == ["admitted", "fetched", "frontier_delta"], (b, tables)
    # lineage is still fully queryable from the journal
    lin = res.lineage(spark)
    assert lin is not None and lin.where("rows_fetched > 0").count() > 0


def test_scheduler_jobs_per_batch_bounded(spark, tmp_path):
    """Coarse ceiling on TOTAL scheduler jobs per executed batch (AQE
    stage materializations + broadcast builds included): measured ~48 on
    this workload after the r3 #3 fusion; the pre-fusion loop sat ~20%
    higher. Deterministic workload + fixed conf, so a breach means a new
    per-batch driver job slipped into the hot loop."""
    pol = CrawlPolicy(checkpoint_every=1000, frontier_snapshot_every=10_000)
    d = str(tmp_path / "jck")
    robots = spark.createDataFrame(synth.robots_rule_rows(CFG))
    sc = spark.sparkContext
    sc.setJobGroup("batch-job-count", "per-batch job ceiling")
    try:
        res = run_crawl(spark, CFG, SEEDS, robots, d, pol)
        ids = sc.statusTracker().getJobIdsForGroup("batch-job-count")
    finally:
        sc.setJobGroup(None, None)
    n_batches = len(res.batch_seconds)
    assert n_batches >= 3
    jobs_per_batch = len(ids) / n_batches
    assert jobs_per_batch <= 60, (len(ids), n_batches, jobs_per_batch)


def _pool_threads() -> set:
    return {t for t in threading.enumerate() if t.name.startswith("ThreadPoolExecutor")}


def test_background_write_failure_raises_and_joins_pool(spark, tmp_path, monkeypatch):
    """The journal write runs on the loop's background pool. When it fails,
    run_crawl must raise that error, and no pool thread may outlive the
    call."""
    write_table = BatchStore.write_table

    def failing_write(self, df, batch_id, table):
        if table == "frontier_delta" and batch_id == 1:
            raise OSError("injected journal write failure")
        return write_table(self, df, batch_id, table)

    monkeypatch.setattr(BatchStore, "write_table", failing_write)
    robots = spark.createDataFrame(synth.robots_rule_rows(CFG))
    before = _pool_threads()
    with pytest.raises(OSError, match="injected journal write failure"):
        run_crawl(spark, CFG, SEEDS, robots, str(tmp_path / "fail_ck"), CrawlPolicy())
    assert _pool_threads() <= before
