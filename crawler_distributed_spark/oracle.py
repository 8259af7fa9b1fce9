"""Pure-Python reference-semantics crawl oracle.

A ~200-line single-threaded crawler implementing the reference's BFS
scheduling semantics (domain_spider.py:157-209,467-548: FIFO frontier +
seen-set + per-host concurrency + max_pages + retry/backoff) over the
deterministic synthetic web, made batch-deterministic per policy.py.

The Spark engine (plans/frontier_loop.py) must produce EXACTLY this
ordering trace and URL-seen set — that is the north-rule correctness gate
(BASELINE.json: "crawl ordering plus the final URL-seen set must match the
reference under the same seed list and politeness budget").
"""

from __future__ import annotations

from dataclasses import dataclass, field

from . import synth
from .functions.urls import (
    canonicalize_url,
    has_skipped_extension,
    is_denied,
    is_media_url,
    is_valid_url,
)
from .policy import (
    ACCEPTED_CONTENT_TYPES,
    REDIRECT_STATUSES,
    RETRYABLE_STATUSES,
    CrawlPolicy,
    order_key,
)


@dataclass
class _Entry:
    crawl_id: str
    url_norm: str
    host: str
    depth: int
    priority_score: float
    discovery_seq: int
    attempts: int = 0
    not_before_batch: int = 0
    forced_strategy: int = 0  # P6: 403 retries force proxy (level >= 1)

    def key(self):
        return (self.depth, -self.priority_score, self.discovery_seq)


@dataclass
class OracleResult:
    trace: list = field(default_factory=list)   # (crawl_id, batch, seq, url_norm, host, depth)
    seen: dict = field(default_factory=dict)    # crawl_id -> set[url_norm]
    robots_blocked: dict = field(default_factory=dict)
    pages_crawled: dict = field(default_factory=dict)
    failed_pages: dict = field(default_factory=dict)  # crawl_id -> failed attempts
    n_batches: int = 0
    # A4 queue-health surface: frontier entries left at exit for crawls
    # still active then — (crawl_id, url_norm, attempts, not_before_batch);
    # the engine's purged final frontier must equal this multiset
    frontier_left: list = field(default_factory=list)
    # A1 per-domain fetch stats (stats_middleware.py:86-98,214-239
    # semantics: requests / successes / failures / bytes per host, here
    # per batch): (crawl_id, batch, host) -> [requests, successes,
    # failures, bytes]; the engine's CrawlRunResult.metrics() must
    # aggregate to exactly these rows
    host_metrics: dict = field(default_factory=dict)


def _host_of_raw(url: str) -> str:
    # lowercase netloc, default ports stripped (scope check is host-exact)
    rest = url.split("://", 1)[1] if "://" in url else url
    host = rest.split("/", 1)[0].split("?", 1)[0].split("#", 1)[0].lower()
    if host.endswith(":80") or host.endswith(":443"):
        host = host.rsplit(":", 1)[0]
    return host


def _admissible(
    raw_url: str, allowed_hosts: tuple[str, str], control: bool = False
) -> bool:
    """F1-F5 on the raw href, in the engine's documented order. Control
    URLs (robots-discovered sitemaps) bypass the content filters — the
    reference fetches the located sitemap directly (sitemap_utils.py:
    65-121), never through LinkExtractor — but stay scope-checked."""
    if not control:
        if not is_valid_url(raw_url):
            return False
        if is_denied(raw_url):
            return False
        if has_skipped_extension(raw_url) or is_media_url(raw_url):
            return False
    return _host_of_raw(raw_url) in allowed_hosts


def run_oracle(
    cfg: synth.SynthConfig,
    seeds: list[dict],
    policy: CrawlPolicy = CrawlPolicy(),
) -> OracleResult:
    res = OracleResult()
    queued: list[_Entry] = []
    seen: dict[str, set] = {}
    blocked: dict[str, set] = {}
    pages: dict[str, int] = {}
    failed: dict[str, int] = {}
    max_pages: dict[str, int] = {}
    # Q6 per-crawl batch cap (CLOSESPIDER_TIMEOUT analog): per-seed
    # "max_batches", else policy.max_batches_per_crawl, else unbounded
    batch_cap: dict[str, int] = {}
    allowed: dict[str, tuple[str, str]] = {}
    # P6 escalation state: (crawl_id, host) -> count of all-fail batches;
    # effective fetch level = min(2, count) ∨ entry.forced_strategy
    fail_batches: dict[tuple, int] = {}
    # P2 autothrottle state: host -> EWMA of the batch-mean latency_class
    # (engine twin: frontier_loop.py host_lat; quota_h = max(1,
    # floor(quota / (1+ewma))), AutoThrottle's target-concurrency analog
    # made batch-deterministic)
    ewma: dict[str, float] = {}
    # batch of each host's last observation — drives TTL eviction
    # (policy.autothrottle_ttl_batches; engine twin: host_lat.last_b)
    ewma_last: dict[str, int] = {}
    next_seq = 0

    # --- seed admission, in sorted-crawl_id order (engine parity)
    for s in sorted(seeds, key=lambda s: s["crawl_id"]):
        cid = s["crawl_id"]
        seen[cid] = set()
        blocked[cid] = set()
        pages[cid] = 0
        failed[cid] = 0
        max_pages[cid] = s["max_pages"]
        cap = s.get("max_batches")
        if cap is None:
            cap = policy.max_batches_per_crawl
        batch_cap[cid] = cap if cap is not None else (1 << 30)
        dom = s["domain"]
        allowed[cid] = (
            (dom, dom[4:]) if dom.startswith("www.") else (dom, f"www.{dom}")
        )
        seed_url = s["url"] or f"https://{dom}/"
        un = canonicalize_url(seed_url)
        if un in seen[cid]:
            continue
        seen[cid].add(un)
        if not synth.robots_allowed(cfg, un):
            blocked[cid].add(un)
            continue
        # seed priority_score = -submission priority (engine init_crawl
        # applies the identical sign convention)
        queued.append(
            _Entry(
                cid, un, _host_of_raw(un), 0,
                -float(s.get("priority") or 0.0), next_seq,
            )
        )
        next_seq += 1

    # --- batch loop
    batch = 0
    while batch < policy.max_batches:
        active = {
            c
            for c in pages
            if pages[c] < max_pages[c]
            and failed[c] < policy.max_failed_pages
            and batch < batch_cap[c]
        }
        eligible = [
            e for e in queued if e.crawl_id in active and e.not_before_batch <= batch
        ]
        pending_future = any(
            e.crawl_id in active and e.not_before_batch > batch for e in queued
        )
        if not eligible:
            if pending_future:
                batch += 1
                continue
            break

        # politeness: per (crawl, host) top-quota in scheduling order
        by_host: dict[tuple, list[_Entry]] = {}
        for e in eligible:
            by_host.setdefault((e.crawl_id, e.host), []).append(e)
        selected: list[_Entry] = []
        for (_cid, host), grp in by_host.items():
            grp.sort(key=_Entry.key)
            if policy.autothrottle and host in ewma:
                q = max(1, int(policy.quota_per_host / (1.0 + ewma[host])))
            else:
                q = policy.quota_per_host
            selected.extend(grp[:q])

        # budget: per crawl top-remaining in scheduling order
        by_crawl: dict[str, list[_Entry]] = {}
        for e in selected:
            by_crawl.setdefault(e.crawl_id, []).append(e)
        scheduled: list[_Entry] = []
        for cid, grp in by_crawl.items():
            grp.sort(key=_Entry.key)
            scheduled.extend(grp[: max_pages[cid] - pages[cid]])

        scheduled.sort(key=lambda e: (e.crawl_id, e.key()))
        sched_set = {(e.crawl_id, e.url_norm, e.discovery_seq) for e in scheduled}
        queued = [
            e for e in queued if (e.crawl_id, e.url_norm, e.discovery_seq) not in sched_set
        ]

        # trace + fetch
        seq_in_batch: dict[str, int] = {}
        admissions: list[tuple] = []  # (parent_seq, link_idx, crawl_id, raw, depth)
        batch_statuses: dict[tuple, list[int]] = {}
        for e in scheduled:
            k = seq_in_batch.get(e.crawl_id, 0) + 1
            seq_in_batch[e.crawl_id] = k
            res.trace.append((e.crawl_id, batch, k, e.url_norm, e.host, e.depth))

            lvl = max(
                min(2, fail_batches.get((e.crawl_id, e.host), 0)), e.forced_strategy
            )
            st = synth.status_of(cfg, e.url_norm, lvl)
            batch_statuses.setdefault((e.crawl_id, e.host), []).append(st)
            if st >= 400:
                failed[e.crawl_id] += 1
            ct = synth.content_type_of(cfg, e.url_norm)
            sm_host = synth.is_sitemap_url(cfg, e.url_norm)
            sm_child = synth.is_child_sitemap_url(cfg, e.url_norm)
            rb_host = synth.is_robots_url(cfg, e.url_norm)
            # A1 per-domain fetch stats: a page is a 200 of an accepted
            # type that is NOT a control fetch (engine is_page); bytes =
            # span payload of page rows (0 for non-html pages, whose span
            # array is empty in the synthetic web)
            is_control = (
                sm_host is not None or sm_child is not None or rb_host is not None
            )
            is_page = (
                st == 200 and ct in ACCEPTED_CONTENT_TYPES and not is_control
            )
            m = res.host_metrics.setdefault(
                (e.crawl_id, batch, e.host), [0, 0, 0, 0]
            )
            m[0] += 1
            m[1] += 1 if is_page else 0
            m[2] += 1 if st >= 400 else 0
            m[3] += len(synth.spans_of(cfg, e.url_norm)) if is_page else 0
            if (
                st == 200
                and sm_host is not None
                and synth.sitemap_layout(cfg, sm_host) == "index"
            ):
                # <sitemapindex> root: Q4-filter the children (page-class
                # first, 'other' after, non-page dropped) and admit them as
                # CONTROL URLs fetched in later batches — the engine's
                # `discovered` fan-out (operators/fetch.py), replacing the
                # reference's serial in-fetch child loop
                # (sitemap_utils.py:222-307) with a deterministic
                # batch-parallel twin; capped at max_pages children (every
                # child carries ≥1 entry — the max_pages early break)
                from .functions.sitemaps import filter_page_sitemaps

                children, _ = filter_page_sitemaps(
                    synth.child_sitemap_urls(cfg, sm_host)
                )
                for idx, cu in enumerate(children[: max_pages[e.crawl_id]]):
                    admissions.append(
                        (e.discovery_seq, idx, e.crawl_id, cu, e.depth + 1, 0.0, True)
                    )
            elif st == 200 and (sm_host is not None or sm_child is not None):
                # urlset sitemap (flat root, or an index's child): score
                # with the frozen clock, rank, truncate to max_pages
                # (sitemap_utils.py:374-433)
                from .functions.sitemaps import sitemap_score_py

                entries = (
                    synth.sitemap_entries(cfg, sm_host)
                    if sm_host is not None
                    else synth.child_sitemap_entries(cfg, sm_child[0], sm_child[1])
                )
                scored = [
                    (
                        sitemap_score_py(
                            en["priority"], en["lastmod"], en["changefreq"],
                            policy.sitemap_now_date,
                        ),
                        en["url"],
                    )
                    for en in entries
                ]
                scored.sort(key=lambda t: (-t[0], t[1]))
                for idx, (score, raw) in enumerate(scored[: max_pages[e.crawl_id]]):
                    admissions.append(
                        (e.discovery_seq, idx, e.crawl_id, raw, e.depth + 1, score, False)
                    )
            elif st == 200 and rb_host is not None:
                # robots.txt control fetch: locate the sitemap (S5 —
                # Sitemap: directive, else common-location fallback) and
                # admit it as a control URL (bypasses F1-F5)
                from .functions.sitemaps import locate_sitemap_url

                located = locate_sitemap_url(
                    synth.robots_txt_of(cfg, rb_host), synth.host_name(rb_host)
                )
                admissions.append(
                    (e.discovery_seq, 0, e.crawl_id, located, e.depth + 1, 0.0, True)
                )
            elif st == 200 and ct in ACCEPTED_CONTENT_TYPES:
                # F6: accepted response = a page (budget); only html pages
                # carry outlinks/spans in the synthetic web
                pages[e.crawl_id] += 1
                for idx, raw in enumerate(synth.outlinks_of(cfg, e.url_norm)):
                    admissions.append(
                        (e.discovery_seq, idx, e.crawl_id, raw, e.depth + 1, 0.0, False)
                    )
            elif st in REDIRECT_STATUSES:
                redirs = synth.outlinks_of(cfg, e.url_norm)
                if redirs:
                    admissions.append(
                        (e.discovery_seq, 0, e.crawl_id, redirs[0], e.depth, 0.0, False)
                    )
            elif st in RETRYABLE_STATUSES:
                attempts = e.attempts + 1
                if attempts <= policy.max_attempts_for(st):
                    e.attempts = attempts
                    e.not_before_batch = batch + policy.backoff(attempts, st)
                    if st == 403:
                        # force the proxy strategy on the retry
                        # (retry_middleware.py:33-55)
                        e.forced_strategy = max(e.forced_strategy, 1)
                    queued.append(e)
            # 200 non-parseable / fatal statuses: terminal, nothing admitted

        # P6: hosts whose every fetch this batch failed escalate one level
        for key, sts in batch_statuses.items():
            if sts and all(s >= 400 for s in sts):
                fail_batches[key] = fail_batches.get(key, 0) + 1

        # P2: EWMA update from this batch's observed latency classes
        # (same IEEE op order as the engine's avg + alpha-blend)
        if policy.autothrottle:
            lat_obs: dict[str, list[int]] = {}
            for e in scheduled:
                lat_obs.setdefault(e.host, []).append(
                    synth.latency_class_of(cfg, e.url_norm)
                )
            for h, ls in lat_obs.items():
                m = sum(ls) / len(ls)
                if h in ewma:
                    ewma[h] = (
                        policy.ewma_alpha * m + (1.0 - policy.ewma_alpha) * ewma[h]
                    )
                else:
                    ewma[h] = m
                ewma_last[h] = batch
            if policy.autothrottle_ttl_batches:
                # TTL eviction, identical to the engine's host_lat filter:
                # a host idle > ttl batches leaves the state; its EWMA
                # re-seeds from the first observed batch mean on return
                ttl = policy.autothrottle_ttl_batches
                for h in [h for h, lb in ewma_last.items() if batch - lb > ttl]:
                    del ewma[h]
                    del ewma_last[h]

        # outlink admission: filters -> canonicalize -> batch dedup -> seen -> robots
        admissions.sort(key=lambda a: (a[0], a[1]))
        admitted_in_batch: set[tuple] = set()
        for parent_seq, idx, cid, raw, depth, prio, control in admissions:
            if (
                pages[cid] >= max_pages[cid]
                or failed[cid] >= policy.max_failed_pages
                or batch >= batch_cap[cid]
            ):
                continue
            if not _admissible(raw, allowed[cid], control):
                continue
            un = canonicalize_url(raw)
            if (cid, un) in admitted_in_batch or un in seen[cid]:
                continue
            admitted_in_batch.add((cid, un))
            seen[cid].add(un)
            if not synth.robots_allowed(cfg, un):
                blocked[cid].add(un)
                continue
            queued.append(_Entry(cid, un, _host_of_raw(un), depth, prio, next_seq))
            next_seq += 1

        batch += 1

    res.seen = seen
    res.robots_blocked = blocked
    res.pages_crawled = pages
    res.failed_pages = failed
    res.n_batches = batch
    # final-state twin of the engine's purged frontier (frontier_loop
    # purges rows of crawls that can never be scheduled again)
    final_active = {
        c
        for c in pages
        if pages[c] < max_pages[c]
        and failed[c] < policy.max_failed_pages
        and batch < batch_cap[c]
    }
    res.frontier_left = sorted(
        (e.crawl_id, e.url_norm, e.attempts, e.not_before_batch)
        for e in queued
        if e.crawl_id in final_active
    )
    return res
