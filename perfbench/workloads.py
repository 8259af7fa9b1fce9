"""The workloads: inputs, the timed section, output checks, layer metrics.

Both run closed-loop from one driver process on ``local[nproc]``.

``crawl_wide`` drives ``plans.frontier_loop.run_crawl``: a wide synthetic
web (800 hosts, one seed per host, 24-URL per-host quota), killed after
batch 0 and resumed to completion in the same session. Every per-batch layer runs:
politeness, fetch, admission, the bloom filter (plain anti-join on batch 0,
bloom split on batch 1), discovery-seq stamping (single window on batch 0,
two-phase ``with_sequence`` on batch 1), journal, state writes, commit and
seen compaction; the resume replays the frontier and rebuilds the bloom
filter over the whole seen set.

``doc_queries`` drives ``__spark_entry__.queries()``: every entry except
the three that re-run crawls, on the seed-42 sf0.001 tables shipped in
``perfbench/data``, submitted by four closed-loop client threads. No
frontier loop runs.
"""

from __future__ import annotations

import contextlib
import hashlib
import shutil
import sys
import time
import traceback
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field
from pathlib import Path
from statistics import median

from . import harness, oracles, tracing

DATA_DIR = Path(__file__).resolve().parent / "data" / "sf0.001"
QUERY_CLIENTS = 4


@dataclass
class Iteration:
    wall_s: float
    items: int                  # URLs fetched, or queries completed
    attempted: int = 0
    failed: int = 0
    extra: dict = field(default_factory=dict)


def _mb(b: float) -> float:
    return b / 1e6


def _group_totals(tracer: tracing.Tracer, totals: dict, name: str) -> tracing.StageTotals:
    """Stage totals of the jobs started directly under spans called ``name``."""
    out = tracing.StageTotals()
    for sp in tracer.by_name(name):
        out.add(totals.get(f"{tracing.GROUP_PREFIX}{sp.id}", tracing.StageTotals()))
    return out


def _sum_totals(totals: dict) -> tracing.StageTotals:
    out = tracing.StageTotals()
    for t in totals.values():
        out.add(t)
    return out


class Workload:
    name: str

    def __init__(self, ctx: harness.RunContext, spark, seed: int, smoke: bool):
        self.ctx, self.spark, self.seed, self.smoke = ctx, spark, seed, smoke

    def setup(self) -> None:
        """Build the inputs (counted in setup_s)."""

    def iterate(self, tracer: tracing.Tracer | None) -> Iteration:
        raise NotImplementedError

    def layer_metrics(self, tracer: tracing.Tracer, iters: list[Iteration]) -> dict:
        return {}

    def finish(self) -> tuple[int, int]:
        """Checks that run after the Spark JVM has exited: (attempted, failed)."""
        return 0, 0


# --- crawl_wide -------------------------------------------------------------


@dataclass(frozen=True)
class CrawlSpec:
    synth: dict
    max_pages: int
    policy: dict


# max_batches_per_crawl bounds the crawl to two batches so one kill/resume
# fits a run; seq_singlepart_threshold sits below batch 1's frontier so the
# two-phase with_sequence path runs at this size (batch 0 keeps the
# single-window path). Both are oracle-modelled policy knobs.
_WIDE_POLICY = dict(
    quota_per_host=24, checkpoint_every=8, max_attempts=1, backoff_cap=2,
    max_batches_per_crawl=2, seq_singlepart_threshold=2000,
)
CRAWL_WIDE = CrawlSpec(
    synth=dict(n_hosts=800, pages_base=100, hot_factor=10, branching=8),
    max_pages=24, policy=_WIDE_POLICY,
)
CRAWL_SMOKE = CrawlSpec(
    synth=dict(n_hosts=3, pages_base=12, hot_factor=3, branching=4),
    max_pages=8, policy=_WIDE_POLICY,
)
KILL_AFTER_BATCH = 0


def crawl_cache_file(ctx: harness.RunContext, spec: CrawlSpec, seed: int) -> Path:
    """Where the oracle's expected values for (spec, seed) are cached."""
    key = f"{spec}|seed={seed}|{oracles.source_digest(ctx.root)}"
    return ctx.cache_dir("oracle") / f"crawl-{hashlib.sha256(key.encode()).hexdigest()[:16]}.json"


class CrawlWide(Workload):
    name = "crawl_wide"

    def setup(self) -> None:
        from crawler_distributed_spark import synth
        from crawler_distributed_spark.policy import CrawlPolicy

        self.spec = CRAWL_SMOKE if self.smoke else CRAWL_WIDE
        self.cfg = synth.SynthConfig(seed=self.seed, **self.spec.synth)
        self.seeds = synth.seed_rows(self.cfg, max_pages=self.spec.max_pages)
        self.policy = CrawlPolicy(**self.spec.policy)
        self.robots = self.spark.createDataFrame(synth.robots_rule_rows(self.cfg))
        self._warm_up()
        self.expected_file = crawl_cache_file(self.ctx, self.spec, self.seed)
        self.job_ranges: list[tuple[int, int]] = []
        self.n_iter = 0

    def _warm_up(self) -> None:
        """A one-batch 3-host crawl with the same kill and resume, so the
        timed crawl starts with the JIT, the Python workers and the code
        paths warm. Zero thresholds send even 3 hosts down the bloom-split
        and two-phase sequence paths, which the timed crawl takes on
        batch 1."""
        from crawler_distributed_spark import synth
        from crawler_distributed_spark.plans import frontier_loop
        from crawler_distributed_spark.policy import CrawlPolicy

        cfg = synth.SynthConfig(seed=self.seed, **CRAWL_SMOKE.synth)
        args = (self.spark, cfg, synth.seed_rows(cfg, max_pages=CRAWL_SMOKE.max_pages),
                self.spark.createDataFrame(synth.robots_rule_rows(cfg)),
                str(self.ctx.scratch / "ck" / "warm"),
                CrawlPolicy(**dict(self.spec.policy, max_batches_per_crawl=1,
                                   seq_singlepart_threshold=0, bloom_split_min=0)))
        frontier_loop.run_crawl(*args, stop_after_batch=KILL_AFTER_BATCH)
        frontier_loop.run_crawl(*args, resume=True)

    def iterate(self, tracer):
        from crawler_distributed_spark.plans import frontier_loop

        sc = self.spark.sparkContext
        ck = self.ctx.scratch / "ck" / f"it{self.n_iter}"
        self.n_iter += 1
        args = (self.spark, self.cfg, self.seeds, self.robots, str(ck), self.policy)
        first_job = tracing.last_job_id(sc) if tracer else 0
        t0 = time.perf_counter()
        killed = frontier_loop.run_crawl(*args, stop_after_batch=KILL_AFTER_BATCH)
        res = frontier_loop.run_crawl(*args, resume=True)
        wall = time.perf_counter() - t0
        if tracer:
            self.job_ranges.append((first_job, tracing.last_job_id(sc)))
        steps = list(killed.batch_seconds or []) + list(res.batch_seconds or [])

        # outside the timed window: a resumed run carries no out_hashes,
        # so the trace and seen set are scanned
        observed = oracles.crawl_hashes(res.trace(self.spark), res.seen(self.spark))
        expected = oracles.crawl_expected(
            self.spark, self.expected_file, self.cfg, self.seeds, self.policy,
            res.trace(self.spark).schema,
        )
        missed = oracles.compare(observed, expected)
        if missed:
            print(f"crawl_wide: oracle mismatch on {missed}: "
                  f"engine={observed} oracle={expected}", file=sys.stderr)
        it = Iteration(wall, observed["trace_rows"],
                       attempted=len(expected), failed=len(missed))
        if tracer:
            it.extra = self._counts(res, observed, ck, steps, tracer)
        shutil.rmtree(ck, ignore_errors=True)
        return it

    def _counts(self, res, observed, ck: Path, steps: list[float], tracer) -> dict:
        pages = res.docs(self.spark).count()
        blocked = res.blocked(self.spark).count()
        resumed = tracer.by_name("frontier_loop.run_crawl")[-1]
        first_fetch = min(s.start for s in tracer.by_name("storage.write.fetched")
                          if s.start >= resumed.start)
        return {
            "frontier_loop.batches": len(steps),
            "frontier_loop.batch_p50_s": median(steps),
            "frontier_loop.resume_s": first_fetch - resumed.start,
            "fetch.rows": observed["trace_rows"],
            "fetch.page_frac": pages / max(1, observed["trace_rows"]),
            "admission.rows": observed["seen_rows"],
            "admission.blocked_rows": blocked,
            "storage.disk_mb": _mb(harness.dir_bytes(ck)),
        }

    def layer_metrics(self, tracer, iters):
        totals = tracing.job_totals(self.spark.sparkContext, self.job_ranges)
        n = len(iters)
        out = {k: median(it.extra[k] for it in iters) for k in iters[0].extra}
        batches = sum(it.extra["frontier_loop.batches"] for it in iters)
        for table in ("fetched", "admitted", "frontier_delta"):
            name = f"storage.write.{table}"
            g = _group_totals(tracer, totals, name)
            out[f"{name}.s"] = tracer.total_s(name) / n
            out[f"{name}.jobs"] = g.jobs / n
            out[f"{name}.busy_core_s"] = g.run_s / n
            out[f"{name}.shuffle_write_mb"] = _mb(g.shuffle_write_b) / n
            out[f"{name}.spill_mb"] = _mb(g.spill_b) / n
        for name in (
            "storage.write.state", "storage.commit", "storage.compact_seen",
            "storage.read_frontier", "storage.read_seen",
            "seen_filter.build_bloom_delta", "seen_filter.merge_blooms",
            "sequence.with_sequence", "politeness.select_fetch_batch",
            "fetch.fetch_scheduled", "admission.admit",
            "admission.aggregate_robots_rules", "frontier_loop.init_crawl",
        ):
            out[f"{name}.s"] = tracer.total_s(name) / n
        out["sequence.with_sequence.jobs"] = (
            _group_totals(tracer, totals, "sequence.with_sequence").jobs / n
        )
        all_jobs = _sum_totals(totals)
        wall = sum(it.wall_s for it in iters)
        out["frontier_loop.run_crawl.self_s"] = tracer.self_s("frontier_loop.run_crawl") / n
        out["frontier_loop.jobs_per_batch"] = all_jobs.jobs / batches
        out["frontier_loop.stages_per_batch"] = all_jobs.stages / batches
        out["frontier_loop.tasks_per_batch"] = all_jobs.tasks / batches
        out["frontier_loop.unlabelled_jobs"] = totals.get(None, tracing.StageTotals()).jobs / n
        out["frontier_loop.cpu_util"] = all_jobs.run_s / (wall * self.ctx.cpus)
        out["session.task_failures"] = all_jobs.failed_tasks
        return out


# --- doc_queries ------------------------------------------------------------


class DocQueries(Workload):
    name = "doc_queries"

    def setup(self) -> None:
        import __spark_entry__ as entry

        # the shipped oracle/span parquet files go to the run's work dir
        entry._SHIP_DIR = str(self.ctx.scratch / "ship")
        self.queries = {n: f for n, f in entry.queries().items()
                        if n not in oracles.CRAWL_QUERIES}
        self.digests: dict[str, dict] = {}
        self.errors: set[str] = set()
        self.job_ranges: list[tuple[int, int]] = []

    def iterate(self, tracer):
        sc = self.spark.sparkContext
        frames: dict[str, tuple] = {}
        latency: dict[str, float] = {}

        def one(name: str) -> None:
            span = tracer.span(f"queries.{name}") if tracer else contextlib.nullcontext()
            t = time.perf_counter()
            try:
                with span:
                    df = self.queries[name](self.spark, str(DATA_DIR))
                    frames[name] = (df.columns, df.collect())
            except Exception:
                traceback.print_exc(file=sys.stderr)
                self.errors.add(name)
            latency[name] = time.perf_counter() - t

        first_job = tracing.last_job_id(sc) if tracer else 0
        t0 = time.perf_counter()
        with ThreadPoolExecutor(QUERY_CLIENTS) as pool:
            for fut in [pool.submit(one, n) for n in self.queries]:
                fut.result()
        wall = time.perf_counter() - t0
        if tracer:
            self.job_ranges.append((first_job, tracing.last_job_id(sc)))
        for name, (cols, rows) in frames.items():
            got = oracles.frame_digest(cols, rows)
            prev = self.digests.setdefault(name, got)
            if prev != got:
                print(f"doc_queries: {name} differs between iterations", file=sys.stderr)
                self.errors.add(name)
        it = Iteration(wall, len(frames))
        it.extra = {f"queries.{n}.s": v for n, v in latency.items()}
        return it

    def layer_metrics(self, tracer, iters):
        totals = tracing.job_totals(self.spark.sparkContext, self.job_ranges)
        n = len(iters)
        out = {}
        for name in self.queries:
            out[f"queries.{name}.s"] = median(it.extra.get(f"queries.{name}.s", 0.0) for it in iters)
            out[f"queries.{name}.jobs"] = _group_totals(tracer, totals, f"queries.{name}").jobs / n
        out["session.task_failures"] = _sum_totals(totals).failed_tasks
        return out

    def finish(self):
        expected = oracles.doc_expected(
            self.ctx.root, self.ctx.cache_dir("oracle"), DATA_DIR, self.ctx.scratch / "ship"
        )
        failed = set(self.errors)
        for name in self.queries:
            got = self.digests.get(name)
            if got is not None and got != expected.get(name):
                print(f"doc_queries: {name} differs from the DuckDB oracle: "
                      f"spark={got} duckdb={expected.get(name)}", file=sys.stderr)
                failed.add(name)
        return len(self.queries), len(failed)


WORKLOADS = {w.name: w for w in (CrawlWide, DocQueries)}
