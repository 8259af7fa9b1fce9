"""Deterministic synthetic web — the fetch oracle (FIXTURES.md §3).

Every property of the web (page set, statuses, content types, outlinks,
robots rules, spans) is a pure function of ``(config, url_norm)`` via a
seeded stable hash, so any process — the pure-Python oracle, a Spark
executor inside an Arrow UDF, the bench at 10^6+ URLs — regenerates
identical content with no shared state and no I/O. This replaces the
reference's live HTTP fetch (crawler/spider_project/spiders/base_spider.py:101-149)
with a deterministic stand-in, as required for trace-equality testing.

URL space:
  host j           -> https://h{j:03d}.example.com
  page (j, i)      -> https://{host}/p/{i}       (or /private/p/{i}, robots-blocked)
  homepage         -> https://{host}/
Host 0 is the hot host (``hot_factor`` × the pages) to exercise skew
handling. Outlinks are deliberately dirty — tracking params, fragments,
uppercase hosts, dot-segments, off-domain, media extensions, deny
patterns — to exercise the full admission pipeline (F1–F5 + C1–C3).
"""

from __future__ import annotations

import zlib
from dataclasses import dataclass

from .functions.urls import url_fingerprint

_VOCAB = (
    "crawl frontier spark batch queue host page link fetch parse span text "
    "media robots sitemap depth priority seed hash filter dedup admit commit"
).split()


@dataclass(frozen=True)
class SynthConfig:
    seed: int = 42
    n_hosts: int = 20
    pages_base: int = 60
    hot_factor: int = 10
    branching: int = 8
    # extra page-class child sitemaps per index host, on top of the four
    # named ones — used to build wide <sitemapindex> roots (100+ children)
    # for the bounded-per-task fetch tests
    extra_page_children: int = 0

    def n_pages(self, j: int) -> int:
        return self.pages_base * (self.hot_factor if j == 0 else 1)


def _h(*parts) -> int:
    """Stable 32-bit hash of the joined parts (crc32: fast, stdlib, stable)."""
    return zlib.crc32("|".join(str(p) for p in parts).encode("utf-8"))


def host_name(j: int) -> str:
    return f"h{j:03d}.example.com"


def page_is_private(cfg: SynthConfig, j: int, i: int) -> bool:
    return _h(cfg.seed, "priv", j, i) % 13 == 0


def page_url(cfg: SynthConfig, j: int, i: int) -> str:
    prefix = "/private" if page_is_private(cfg, j, i) else ""
    return f"https://{host_name(j)}{prefix}/p/{i}"


def parse_page_url(cfg: SynthConfig, url_norm: str):
    """Inverse of page_url over canonical URLs. Returns (j, i) or None
    (None also for homepages and any non-page URL)."""
    if not url_norm.startswith("https://h"):
        return None
    rest = url_norm[8:]
    try:
        host, _, path = rest.partition("/")
        if not host.endswith(".example.com"):
            return None
        j = int(host[1 : -len(".example.com")])
        path = "/" + path
        if path.startswith("/private/p/"):
            i = int(path[len("/private/p/"):])
        elif path.startswith("/p/"):
            i = int(path[len("/p/"):])
        else:
            return None
        if j >= cfg.n_hosts or i >= cfg.n_pages(j):
            return None
        # the private-ness must match, else the URL names a 404 variant
        if page_is_private(cfg, j, i) != path.startswith("/private/"):
            return None
        return (j, i)
    except (ValueError, IndexError):
        return None


def is_homepage(cfg: SynthConfig, url_norm: str):
    """Returns host index j if url_norm is a known homepage, else None."""
    for_scheme = url_norm.removeprefix("https://")
    if for_scheme == url_norm:
        return None
    host, _, path = for_scheme.partition("/")
    if path == "" and host.startswith("h") and host.endswith(".example.com"):
        try:
            j = int(host[1 : -len(".example.com")])
        except ValueError:
            return None
        if 0 <= j < cfg.n_hosts:
            return j
    return None


def sitemap_url(j: int) -> str:
    return f"https://{host_name(j)}/sitemap.xml"


def robots_txt_url(j: int) -> str:
    return f"https://{host_name(j)}/robots.txt"


def is_robots_url(cfg: SynthConfig, url_norm: str):
    """Returns host index j if url_norm is a robots.txt URL, else None."""
    if not url_norm.endswith("/robots.txt"):
        return None
    rest = url_norm.removeprefix("https://")
    host, _, path = rest.partition("/")
    if (
        path != "robots.txt"
        or not host.startswith("h")
        or not host.endswith(".example.com")
    ):
        return None
    try:
        j = int(host[1 : -len(".example.com")])
    except ValueError:
        return None
    return j if 0 <= j < cfg.n_hosts else None


def robots_txt_of(cfg: SynthConfig, j: int) -> str:
    """robots.txt body served at robots_txt_url(j): the /private disallow
    plus (for ~2/3 of hosts) a ``Sitemap:`` directive — the S5 discovery
    surface (lib/utils/sitemap_utils.py:65-121 scans exactly this)."""
    lines = ["User-agent: *", "Disallow: /private/"]
    if _h(cfg.seed, "smline", j) % 3 != 0:
        lines.append(f"Sitemap: {sitemap_url(j)}")
    return "\n".join(lines)


def is_sitemap_url(cfg: SynthConfig, url_norm: str):
    """Returns host index j if url_norm is a known sitemap URL, else None."""
    if not url_norm.endswith("/sitemap.xml"):
        return None
    rest = url_norm.removeprefix("https://")
    host, _, path = rest.partition("/")
    if (
        path != "sitemap.xml"
        or not host.startswith("h")
        or not host.endswith(".example.com")
    ):
        return None
    try:
        j = int(host[1 : -len(".example.com")])
    except ValueError:
        return None
    return j if 0 <= j < cfg.n_hosts else None


_CHANGEFREQS = ("always", "hourly", "daily", "weekly", "monthly", "yearly", "never")


def sitemap_entries(cfg: SynthConfig, j: int, cap: int = 60) -> list[dict]:
    """Deterministic sitemap entry metadata for host j: first `cap` pages
    with hash-derived priority / lastmod / changefreq (some fields absent,
    like real sitemaps)."""
    out = []
    for i in range(min(cfg.n_pages(j), cap)):
        h = _h(cfg.seed, "sm", j, i)
        entry = {
            "url": page_url(cfg, j, i),
            "priority": round((h % 10) / 10.0, 1) if h % 4 != 0 else 0.5,
            "lastmod": f"2024-{1 + h % 12:02d}-{1 + h % 28:02d}" if h % 3 != 0 else None,
            "changefreq": _CHANGEFREQS[h % len(_CHANGEFREQS)] if h % 5 != 0 else None,
        }
        out.append(entry)
    return out


def _urlset_xml(entries: list[dict]) -> str:
    rows = []
    for e in entries:
        parts = [f"<loc>{e['url']}</loc>"]
        if e["lastmod"]:
            parts.append(f"<lastmod>{e['lastmod']}</lastmod>")
        parts.append(f"<priority>{e['priority']}</priority>")
        if e["changefreq"]:
            parts.append(f"<changefreq>{e['changefreq']}</changefreq>")
        rows.append("<url>" + "".join(parts) + "</url>")
    return (
        '<?xml version="1.0" encoding="UTF-8"?>'
        '<urlset xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">'
        + "".join(rows)
        + "</urlset>"
    )


def sitemap_layout(cfg: SynthConfig, j: int) -> str:
    """'index' hosts serve a <sitemapindex> at /sitemap.xml (child
    sitemaps below); 'urlset' hosts serve the flat urlset."""
    return "index" if _h(cfg.seed, "smidx", j) % 2 == 0 else "urlset"


# child names exercise all three Q4 classes: pages/posts -> page-class,
# news -> non-page (dropped), misc -> other (kept after page-class)
CHILD_SITEMAP_NAMES = (
    "sitemap-pages.xml", "sitemap-posts.xml", "sitemap-news.xml",
    "sitemap-misc.xml",
)


def child_sitemap_names(cfg: SynthConfig) -> tuple[str, ...]:
    return CHILD_SITEMAP_NAMES + tuple(
        f"sitemap-pages-{k}.xml" for k in range(cfg.extra_page_children)
    )


def child_sitemap_urls(cfg: SynthConfig, j: int) -> list[str]:
    return [f"https://{host_name(j)}/{n}" for n in child_sitemap_names(cfg)]


def child_sitemap_entries(cfg: SynthConfig, j: int, name: str) -> list[dict]:
    """Entry partition per child sitemap (index hosts): pages/posts/misc
    partition the host's entries by i%3; news duplicates a head slice
    (dropped by Q4 filtering, so the duplication is never observable);
    extra page children (wide-index test shape) each carry one entry."""
    entries = sitemap_entries(cfg, j)
    if name == "sitemap-pages.xml":
        return [e for i, e in enumerate(entries) if i % 3 == 0]
    if name == "sitemap-posts.xml":
        return [e for i, e in enumerate(entries) if i % 3 == 1]
    if name == "sitemap-misc.xml":
        return [e for i, e in enumerate(entries) if i % 3 == 2]
    if name == "sitemap-news.xml":
        return entries[:6]
    if name.startswith("sitemap-pages-") and entries:
        k = int(name[len("sitemap-pages-"):-len(".xml")])
        return [entries[k % len(entries)]]
    return []


def sitemap_xml(cfg: SynthConfig, j: int) -> str:
    """The actual XML document served at sitemap_url(j): a urlset, or a
    <sitemapindex> on index-layout hosts (sitemap_utils.py:270-307)."""
    if sitemap_layout(cfg, j) == "index":
        rows = "".join(
            f"<sitemap><loc>{u}</loc></sitemap>" for u in child_sitemap_urls(cfg, j)
        )
        return (
            '<?xml version="1.0" encoding="UTF-8"?>'
            '<sitemapindex xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">'
            + rows
            + "</sitemapindex>"
        )
    return _urlset_xml(sitemap_entries(cfg, j))


def sitemap_xml_child(cfg: SynthConfig, j: int, name: str) -> str:
    return _urlset_xml(child_sitemap_entries(cfg, j, name))


def is_child_sitemap_url(cfg: SynthConfig, url_norm: str):
    """Returns (host index j, child name) if url_norm is a child sitemap
    of an index-layout host, else None. Child sitemaps are fetched as
    CONTROL frontier rows (the ``discovered`` path), not recursed in-task,
    so the fetch stage must recognize them as first-class URLs."""
    rest = url_norm.removeprefix("https://")
    host, _, path = rest.partition("/")
    if path not in child_sitemap_names(cfg):
        return None
    if not host.startswith("h") or not host.endswith(".example.com"):
        return None
    try:
        j = int(host[1 : -len(".example.com")])
    except ValueError:
        return None
    if not (0 <= j < cfg.n_hosts) or sitemap_layout(cfg, j) != "index":
        return None
    return (j, path)


def sitemap_xml_at(cfg: SynthConfig, url_norm: str) -> str | None:
    """The XML document served at any sitemap URL (root or child) — the
    single lookup the fetch stage uses, standing in for the HTTP GET."""
    j = is_sitemap_url(cfg, url_norm)
    if j is not None:
        return sitemap_xml(cfg, j)
    child = is_child_sitemap_url(cfg, url_norm)
    if child is not None:
        return sitemap_xml_child(cfg, child[0], child[1])
    return None


def host_blocked(cfg: SynthConfig, j: int) -> bool:
    """~1/7 of hosts refuse direct fetches outright (403 on every page)
    until the fetch strategy escalates to proxy — the P5/P6 surface
    (middlewares/proxy_middleware.py:40-95, base_spider.py:151-244)."""
    return _h(cfg.seed, "hostblock", j) % 7 == 0


def status_of(cfg: SynthConfig, url_norm: str, strategy_level: int = 0) -> int:
    """HTTP status SERVED to a fetch at the given strategy level
    (0=direct, 1=proxy, 2=render). Homepages/sitemaps/robots always 200
    except on blocked hosts (pages+homepage 403 at direct); hash-403
    pages succeed from proxy up (the reference force-proxies 403 retries,
    middlewares/retry_middleware.py:33-55). Unknown URLs 404."""
    if is_sitemap_url(cfg, url_norm) is not None:
        return 200
    if is_child_sitemap_url(cfg, url_norm) is not None:
        return 200
    if is_robots_url(cfg, url_norm) is not None:
        return 200
    hp = is_homepage(cfg, url_norm)
    ji = parse_page_url(cfg, url_norm)
    j = hp if hp is not None else (ji[0] if ji is not None else None)
    if j is not None and host_blocked(cfg, j) and strategy_level == 0:
        return 403
    if hp is not None:
        return 200
    if ji is None:
        return 404
    x = _h(cfg.seed, "status", url_norm) % 100
    if x < 85:
        return 200
    if x < 88:
        return 301
    if x < 90:
        return 200 if strategy_level >= 1 else 403
    if x < 92:
        return 404
    if x < 94:
        return 429
    if x < 97:
        return 500
    return 503


def content_type_of(cfg: SynthConfig, url_norm: str) -> str:
    if is_sitemap_url(cfg, url_norm) is not None:
        return "application/xml"
    if is_child_sitemap_url(cfg, url_norm) is not None:
        return "application/xml"
    if is_robots_url(cfg, url_norm) is not None:
        return "text/plain"
    if is_homepage(cfg, url_norm) is not None:
        return "text/html"
    y = _h(cfg.seed, "ctype", url_norm) % 100
    if y < 92:
        return "text/html"
    if y < 95:
        return "application/xml"
    if y < 98:
        return "image/png"
    return "text/plain"


def robots_allowed(cfg: SynthConfig, url_norm: str) -> bool:
    """Single global rule: /private/ is disallowed on every host."""
    rest = url_norm.removeprefix("https://")
    _, _, path = rest.partition("/")
    return not ("/" + path).startswith("/private/")


def _dirty_href(cfg: SynthConfig, j: int, i: int, b: int, target_url: str) -> str:
    """Wrap a clean target URL in one of several dirty encodings; all
    canonicalize back to target_url (or get filtered)."""
    style = _h(cfg.seed, "style", j, i, b) % 10
    if style <= 3:
        return target_url
    if style == 4:
        return target_url + "?utm_source=feed&utm_campaign=x"
    if style == 5:
        return target_url + "#section-2"
    if style == 6:
        scheme, rest = target_url.split("://", 1)
        host, _, path = rest.partition("/")
        return f"{scheme.upper()}://{host.upper()}/{path}"
    if style == 7:
        # redundant dot-segment: /p/<i> -> /p/./<i>
        return target_url.replace("/p/", "/p/./", 1)
    if style == 8:
        return target_url + "?ref=sidebar"  # tracking param, stripped by C1
    return target_url + "?id=7&utm_medium=mail"  # id kept, utm stripped


def outlinks_of(cfg: SynthConfig, url_norm: str) -> list[str]:
    """Raw (un-normalized) hrefs on a page. Empty unless status 200 html
    or 301 (redirect target as the single link)."""
    hp = is_homepage(cfg, url_norm)
    if hp is not None:
        n = cfg.n_pages(hp)
        return [page_url(cfg, hp, i) for i in range(min(2 * cfg.branching, n))]
    ji = parse_page_url(cfg, url_norm)
    if ji is None:
        return []
    j, i = ji
    # content identity is strategy-independent (level 2 = best access)
    st = status_of(cfg, url_norm, 2)
    if st == 301:
        return [page_url(cfg, j, (i * 7 + 1) % cfg.n_pages(j))]
    if st != 200 or content_type_of(cfg, url_norm) != "text/html":
        return []
    links: list[str] = []
    n = cfg.n_pages(j)
    host = host_name(j)
    for b in range(cfg.branching):
        kind = _h(cfg.seed, "lkind", j, i, b) % 10
        t = _h(cfg.seed, "child", j, i, b) % n
        if kind < 6:  # in-domain page link, possibly dirty
            links.append(_dirty_href(cfg, j, i, b, page_url(cfg, j, t)))
        elif kind == 6:  # cross-host (off-domain, filtered by scoping)
            oj = (j + 1 + _h(cfg.seed, "xhost", j, i, b) % 3) % cfg.n_hosts
            links.append(page_url(cfg, oj, t % cfg.n_pages(oj)))
        elif kind == 7:  # media asset (filtered by F1/F2)
            links.append(f"https://{host}/img/{t}.png")
        elif kind == 8:  # deny pattern (filtered by F5)
            links.append(f"https://{host}/tag/x{t}/")
        else:  # invalid (filtered by F3)
            links.append(f"javascript:void({t})")
    return links


# span micro-grammar (the interleaved-doc stand-in for HTML attributes;
# extract/spans.py and the test/SQL oracles all parse these shapes):
#   heading  text = "h<level>: <words>"                (level 1-6)
#   link     text = "<anchor>" or "<anchor>|a1,a2"     (attrs: nofollow,
#            sponsored, ugc, blank); media_ref may be mailto:/tel:/#frag
#   script   media_ref = src (None = inline); text = "async"/"defer"/
#            "module" csv for external scripts, or the RAW JS BODY for
#            inline scripts (the surface for W15 inline-JS signatures and
#            the W13 minified-JS heuristic)
#   style    text = the raw CSS body of a <style> tag (W13 minified-CSS,
#            W11 @media queries / text-size-adjust)
#   el       text = "<tag>|<attr text>" — element style/class/type
#            attribute signals (W11 tap targets, font sizes, fixed
#            width, overflow, interstitial classes, flash/java plugins)
#   image    media_ref = src, optionally "?w=<px>&h=<px>"; text = alt
#   meta     text = "<key>: <value>" — keys: description, canonical,
#            viewport, hreflang, jsonld, microdata, robots, og:<prop>,
#            generator, amphtml, altmobile (separate-mobile-site link),
#            bodyclass (page-builder / CSS-framework class tokens)

# the reference's 15 schema flags (structured_worker.py:76-90)
_JSONLD_TYPES = (
    "Article", "Product", "FAQPage", "Organization", "BreadcrumbList",
    "WebSite", "Event", "LocalBusiness", "Review", "AggregateRating",
    "Recipe", "Person", "VideoObject", "HowTo", "WebPage",
)
# CDN-visible slice of javascript_worker.py:224-251's 15 library indicators
_FRAMEWORK_CDNS = (
    "https://cdn.jsdelivr.net/npm/react@18/umd/react.production.min.js",
    "https://cdn.jsdelivr.net/npm/vue@3/dist/vue.global.js",
    "https://cdnjs.cloudflare.com/ajax/libs/angular.js/1.8.3/angular.min.js",
    "https://cdnjs.cloudflare.com/ajax/libs/jquery/3.7.1/jquery.min.js",
    "https://cdn.jsdelivr.net/npm/ember-source@5.4.0/dist/ember.min.js",
    "https://cdnjs.cloudflare.com/ajax/libs/backbone.js/1.5.0/backbone-min.js",
    "https://cdnjs.cloudflare.com/ajax/libs/knockout/3.5.1/knockout-min.js",
    "https://cdnjs.cloudflare.com/ajax/libs/d3/7.8.5/d3.min.js",
    "https://cdnjs.cloudflare.com/ajax/libs/gsap/3.12.2/gsap.min.js",
    "https://cdnjs.cloudflare.com/ajax/libs/three.js/r128/three.min.js",
    "https://cdnjs.cloudflare.com/ajax/libs/leaflet/1.9.4/leaflet.js",
    "https://cdnjs.cloudflare.com/ajax/libs/moment.js/2.29.4/moment.min.js",
)
# provider-domain slice of third_party_services_worker.py:44-89's ~24
# service signature sets (the span grammar carries script src URLs only,
# so inline-JS signatures like 'gtag(' are represented by their CDN hosts)
_TP_PROVIDERS = (
    "https://connect.facebook.net/en_US/fbevents.js",
    "https://static.hotjar.com/c/hotjar-1.js",
    "https://cdn.segment.com/analytics.js/v1/x/analytics.min.js",
    "https://js.intercomcdn.com/shim.latest.js",
    "https://cdn.mxpnl.com/libs/mixpanel-2-latest.min.js",
    "https://snap.licdn.com/li.lms-analytics/insight.min.js",
    "https://analytics.tiktok.com/i18n/pixel/events.js",
    "https://cdn.thirdparty.net/lib.js",
    "https://script.crazyegg.com/pages/scripts/0001/1234.js",
    "https://cdn.callrail.com/companies/1234/abcd/12/swap.js",
    "https://cdn.optimizely.com/js/12345.js",
    "https://static.zdassets.com/ekr/snippet.js",
    "https://js.driftt.com/include/2024/drift.js",
    "https://js-agent.newrelic.com/nr-1234.min.js",
    "https://dev.visualwebsiteoptimizer.com/j.php?a=1",
    "https://edge.fullstory.com/s/fs.js",
    "https://cdn.amplitude.com/libs/amplitude-8.min.js",
    "https://cdn.mouseflow.com/projects/abcd.js",
    "https://js.hs-scripts.com/1234.js",
    "https://tools.luckyorange.com/core/lo.js",
    "https://load.sumo.com/",
    "https://assets.adobedtm.com/launch-abc.min.js",
)
# inline-JS snippets carrying the reference's in-body service signatures
# (third_party_services_worker.py:44-89: 'gtag(', 'window.dataLayer',
# 'fbq(', '_gaq', 'hjSettings', 'intercomSettings', 'zE(', 'NREUM',
# 'analytics.load', 'mixpanel.init', 'FS.', 'amplitude.init',
# 'optimizelyDatafile')
_INLINE_JS_SNIPPETS = (
    "window.dataLayer = window.dataLayer || [];"
    "function gtag(){dataLayer.push(arguments);} gtag('js');",
    "fbq('init', '1234567890'); fbq('track', 'PageView');",
    "var _gaq = _gaq || []; _gaq.push(['_setAccount', 'UA-0001-1']);",
    "h._hjSettings={hjid:101,hjsv:6}; (h.hj.q=h.hj.q||[]).push(arguments);",
    "window.intercomSettings = { app_id: 'abc123' };",
    "analytics.load('WRITE_KEY'); analytics.page();",
    "mixpanel.init('token', {batch_requests: true});",
    "NREUM.info = {beacon: 'bam.nr-data.net', licenseKey: 'x'};",
    "zE(function() { zE.hide(); });",
    "FS.identify('user-1', {displayName: 'U'});",
    "amplitude.init('key', null, {includeUtm: true});",
    "window.optimizelyDatafile = {version: '4'};",
)
# element-attribute signal variants (mobile_worker.py:294-355 selectors:
# tap targets via button width/height: 2x / a padding: 0, small fonts via
# font-size: 1x/0x, fixed-width divs, body overflow-x, interstitial class
# tokens, flash/java plugin elements)
_EL_VARIANTS = (
    "button|style=width: 24px; height: 32px",
    "a|style=padding: 0 2px",
    "button|style=width: 120px; height: 48px",
    "span|style=font-size: 11px",
    "div|style=width: 960px",
    "body|style=overflow-x: visible",
    "div|class=modal overlay",
    "object|type=application/x-shockwave-flash",
    "applet|code=App.class",
    "embed|type=application/x-shockwave-flash",
    "object|type=application/x-java-applet",
    "a|style=margin: 4px 8px",
)
_CMS_NAMES = ("WordPress 6.4", "Drupal 10", "Joomla 5", "Wix.com", "Squarespace")
_WP_THEMES = ("astra", "divi", "oceanwp", "generatepress")
# body-class token sets (one builder + one CSS framework per themed page):
# third_party_services_worker.py:154-175 detects CSS frameworks and page
# builders from class attributes; the span grammar carries them as a
# single "bodyclass: <tokens>" meta
_PAGE_BUILDERS = (
    "elementor elementor-element", "vc_row wpb_column", "fl-builder fl-module",
    "siteorigin-panels so-panel", "wp-block-group has-background",
    "ct-section oxygen-body", "brz-root brz-reset-all", "thrv_wrapper tve_editable",
    "cs-content cornerstone-body",
)
_CSS_FRAMEWORKS = (
    "bootstrap container-fluid btn-primary col-md-6",
    "foundation grid-container callout",
    "bulma is-primary has-text-centered",
    "tailwind bg-white text-gray-900 flex-row",
    "materialize waves-effect collection",
    "pure-menu pure-form pure-g",
)


def spans_of(
    cfg: SynthConfig, url_norm: str, links: list[str] | None = None
) -> list[tuple]:
    """Interleaved span array for a fetched html page: list of
    (kind, text, media_ref, offset), offset strictly increasing.
    Deterministic per URL; this is the engine's parse ground truth.
    See the span micro-grammar above for how HTML attributes (heading
    level, link rel, script async/defer, image dimensions, OpenGraph
    props, CMS generator) are encoded in the fixed (kind, text,
    media_ref, offset) shape mandated by the input_hint."""
    # content identity is strategy-independent (level 2 = best access)
    st = status_of(cfg, url_norm, 2)
    if st != 200 or content_type_of(cfg, url_norm) != "text/html":
        return []
    if links is None:  # caller may pass pre-computed outlinks (hot path)
        links = outlinks_of(cfg, url_norm)
    host = url_norm.split("/")[2]
    n_spans = 4 + _h(cfg.seed, "nspan", url_norm) % 8
    spans: list[tuple] = []
    offset = 0
    title_words = [
        _VOCAB[_h(cfg.seed, "tw", url_norm, w) % len(_VOCAB)] for w in range(3)
    ]
    title = " ".join(title_words)
    spans.append(("title", title, None, offset))
    offset += len(title) + 1
    # CMS generator meta: per-page (like real sites — at most one), ~1/4
    if _h(cfg.seed, "hasgen", url_norm) % 4 == 0:
        cms = _CMS_NAMES[_h(cfg.seed, "cms", url_norm) % len(_CMS_NAMES)]
        spans.append(("meta", f"generator: {cms}", None, offset))
        offset += 15
    li = 0
    for k in range(n_spans):
        sel = _h(cfg.seed, "skind", url_norm, k) % 10
        if sel < 4:
            words = [
                _VOCAB[_h(cfg.seed, "w", url_norm, k, w) % len(_VOCAB)]
                for w in range(5 + _h(cfg.seed, "nw", url_norm, k) % 10)
            ]
            # sentence punctuation (page_elements_worker.py:285-299 counts
            # sentences by [.!?]+ splitting)
            sl = 3 + _h(cfg.seed, "snl", url_norm, k) % 4
            text = ". ".join(
                " ".join(words[i : i + sl]) for i in range(0, len(words), sl)
            ) + "."
            spans.append(("text", text, None, offset))
            offset += len(text) + 1
        elif sel < 6:
            # heading with level (headings_worker.py:167-245 per-level agg);
            # h1 overweighted so keyword-overlap/hierarchy paths light up
            lv = (1, 1, 2, 2, 3, 4, 5, 6)[_h(cfg.seed, "hlvl", url_norm, k) % 8]
            words = [
                _VOCAB[_h(cfg.seed, "hw", url_norm, k, w) % len(_VOCAB)]
                for w in range(1 + _h(cfg.seed, "hn", url_norm, k) % 3)
            ]
            text = f"h{lv}: " + " ".join(words)
            spans.append(("heading", text, None, offset))
            offset += len(text) + 1
        elif sel < 8:
            anchor = _VOCAB[_h(cfg.seed, "aw", url_norm, k) % len(_VOCAB)]
            spec = _h(cfg.seed, "lspec", url_norm, k) % 14
            if spec == 0:
                ref = f"mailto:info@{host}"
            elif spec == 1:
                ref = "tel:+1-555-0100"
            elif spec == 2:
                ref = f"#section-{k}"
            elif li < len(links):
                ref = links[li]
                li += 1
            else:
                ref = f"https://{host}/p/0"
            a = _h(cfg.seed, "lattr", url_norm, k) % 10
            attrs = ("", "", "", "", "", "", "nofollow", "sponsored,ugc",
                     "blank", "nofollow,blank")[a]
            text = f"{anchor}|{attrs}" if attrs else anchor
            spans.append(("link", text, ref, offset))
            offset += len(anchor) + 1
        elif sel == 8:
            m = _h(cfg.seed, "med", url_norm, k) % 8
            if m == 0:
                attrs = ("", "async", "defer", "async,module")[
                    _h(cfg.seed, "sattr", url_norm, k) % 4
                ]
                spans.append(
                    ("script", attrs or None, f"https://{host}/js/app{k}.js", offset)
                )
            elif m == 1:
                gid = _h(cfg.seed, "gid", url_norm) % 100000
                spans.append(
                    ("script", "async",
                     f"https://www.googletagmanager.com/gtag/js?id=G-{gid:05d}", offset)
                )
            elif m == 2:
                tp = _TP_PROVIDERS[_h(cfg.seed, "tp", url_norm, k) % len(_TP_PROVIDERS)]
                spans.append(("script", None, tp, offset))
            elif m == 3:
                fw = _FRAMEWORK_CDNS[_h(cfg.seed, "fw", url_norm) % len(_FRAMEWORK_CDNS)]
                spans.append(("script", "defer", fw, offset))
            elif m == 4:
                size = 200 + _h(cfg.seed, "isz", url_norm, k) % 5000
                spans.append(
                    ("script", _inline_js_body(cfg, url_norm, k, size), None, offset)
                )
            else:
                dims = ""
                d = _h(cfg.seed, "idim", url_norm, k) % 4
                if d == 1:
                    dims = f"?w={1200 + k * 100}&h=800"   # oversized (>1000)
                elif d == 2:
                    dims = f"?w={40 + k}&h=60"            # undersized (<100)
                elif d == 3:
                    dims = "?w=640&h=480"
                alt = (
                    _VOCAB[_h(cfg.seed, "alt", url_norm, k) % len(_VOCAB)]
                    if _h(cfg.seed, "hasalt", url_norm, k) % 3 != 0
                    else None
                )
                theme = ""
                if _h(cfg.seed, "thm", url_norm) % 5 == 0:
                    theme = f"/wp-content/themes/{_WP_THEMES[_h(cfg.seed, 'thmn', url_norm) % len(_WP_THEMES)]}"
                spans.append(
                    ("image", alt, f"https://{host}{theme}/img/{k}.png{dims}", offset)
                )
            offset += 1
        else:
            m = _h(cfg.seed, "meta", url_norm, k) % 12
            if m in (0, 1):
                word = _VOCAB[_h(cfg.seed, "dw", url_norm, k) % len(_VOCAB)]
                spans.append(("meta", f"description: {word} page", None, offset))
                offset += 20
            elif m == 2:
                # canonical: usually self, sometimes another page (dup signal)
                if _h(cfg.seed, "canon", url_norm) % 4 == 0:
                    target = url_norm.rsplit("/", 1)[0] + "/0"
                else:
                    target = url_norm
                spans.append(("meta", f"canonical: {target}", None, offset))
                offset += 12
            elif m == 3:
                vp = (
                    "width=device-width, initial-scale=1",
                    "width=device-width, initial-scale=1",
                    "width=device-width, initial-scale=1, user-scalable=no",
                    "width=1024",
                )[_h(cfg.seed, "vp", url_norm) % 4]
                spans.append(("meta", f"viewport: {vp}", None, offset))
                offset += 10
            elif m == 4:
                lang = ("en-us", "de-de", "es-es")[_h(cfg.seed, "hl", url_norm, k) % 3]
                spans.append(
                    ("meta", f"hreflang: {lang} {url_norm}?hl={lang}", None, offset)
                )
                offset += 14
            elif m == 5:
                st2 = _JSONLD_TYPES[_h(cfg.seed, "sd", url_norm) % len(_JSONLD_TYPES)]
                spans.append(("meta", f"jsonld: {st2}", None, offset))
                offset += 11
            elif m == 6:
                st2 = _JSONLD_TYPES[_h(cfg.seed, "md", url_norm, k) % 4]
                spans.append(("meta", f"microdata: {st2}", None, offset))
                offset += 11
            elif m == 7:
                # the 10-prop OpenGraph surface (page_title_worker.py:166-177)
                prop = (
                    "title", "description", "image", "url", "type",
                    "site_name", "locale", "image_width", "image_height",
                    "image_type",
                )[_h(cfg.seed, "ogp", url_norm, k) % 10]
                word = _VOCAB[_h(cfg.seed, "ogv", url_norm, k) % len(_VOCAB)]
                spans.append(("meta", f"og:{prop}: {word}", None, offset))
                offset += 13
            elif m == 8:
                spans.append(("meta", f"amphtml: {url_norm}?amp=1", None, offset))
                offset += 9
            elif m == 9:
                # class-attribute signal (third_party_services_worker.py:
                # 154-175): page builder and/or CSS framework tokens
                b = _h(cfg.seed, "pbld", url_norm) % (2 * len(_PAGE_BUILDERS))
                c = _h(cfg.seed, "cssf", url_norm) % (2 * len(_CSS_FRAMEWORKS))
                toks = []
                if b < len(_PAGE_BUILDERS):
                    toks.append(_PAGE_BUILDERS[b])
                if c < len(_CSS_FRAMEWORKS):
                    toks.append(_CSS_FRAMEWORKS[c])
                if toks:
                    cls = " ".join(toks)
                    spans.append(("meta", f"bodyclass: {cls}", None, offset))
                    offset += 10
            else:
                rb = (
                    "index,follow", "index,follow", "index,follow",
                    "index,follow", "noindex,nofollow", "noarchive,index",
                    "index,unavailable_after: 2026-12-31",
                )[_h(cfg.seed, "ridx", url_norm) % 7]
                spans.append(("meta", f"robots: {rb}", None, offset))
                offset += 22
    # trailing W11/W13/W15 surfaces: <style> body, element-attribute
    # signals, separate-mobile-site link
    if _h(cfg.seed, "styl", url_norm) % 3 != 2:
        rules = [
            f".c{r} {{ color: #1a1a2e; margin: {r}px; padding: {r % 4}px; }}"
            for r in range(6 + _h(cfg.seed, "styn", url_norm) % 5)
        ]
        if _h(cfg.seed, "stymq", url_norm) % 2 == 0:
            rules.append("@media (max-width: 600px) { .nav { display: none; } }")
        tsa = _h(cfg.seed, "stytsa", url_norm) % 4
        if tsa == 0:
            rules.append("body { -webkit-text-size-adjust: 100%; }")
        elif tsa == 1:
            rules.append("body { -webkit-text-size-adjust: none; }")
        if _h(cfg.seed, "stymin", url_norm) % 4 == 0:
            css = " ".join(rules)  # minified: one long line
            while len(css) <= 500:
                css += " " + " ".join(rules)
        else:
            css = "\n".join(rules)  # >=6 lines, never flags as minified
        spans.append(("style", css, None, offset))
        offset += 2
    for e in range(_h(cfg.seed, "nel", url_norm) % 4):
        ev = _EL_VARIANTS[_h(cfg.seed, "el", url_norm, e) % len(_EL_VARIANTS)]
        spans.append(("el", ev, None, offset))
        offset += 2
    if _h(cfg.seed, "altm", url_norm) % 8 == 0:
        spans.append(("meta", f"altmobile: https://m.{host}/", None, offset))
        offset += 9
    return spans


def _inline_js_body(cfg: SynthConfig, url_norm: str, k: int, size: int) -> str:
    """Inline <script> body: optionally leads with a third-party service
    signature snippet, then deterministic filler to ~size chars; 1/2 are
    'minified' (single line, `jsmin` hash % 2) for the W13 heuristic."""
    parts = []
    if _h(cfg.seed, "jssig", url_norm, k) % 3 == 0:
        parts.append(
            _INLINE_JS_SNIPPETS[
                _h(cfg.seed, "jssn", url_norm, k) % len(_INLINE_JS_SNIPPETS)
            ]
        )
    unit = f"var v{k} = {k}; function f{k}(x) {{ return x + {k}; }}"
    total = sum(len(p) + 1 for p in parts)
    while total < size:
        parts.append(unit)
        total += len(unit) + 1
    sep = " " if _h(cfg.seed, "jsmin", url_norm, k) % 2 == 0 else "\n"
    return sep.join(parts)


_ENCODINGS = ("gzip", "gzip", "br", None, None)


def response_headers_of(cfg: SynthConfig, url_norm: str) -> list[tuple[str, list[str]]]:
    """Deterministic response headers, keys lowercased — the engine twin of
    the reference item's ``response_headers: map<str, list<str>>``
    (crawler/spider_project/spiders/domain_spider.py:556-571). Serves the
    four header-reading workers: HTTP Link canonical
    (canonical_worker.py:47-268), X-Robots-Tag (directives_worker.py:47-461),
    header hreflang (hreflang_worker.py:51-383) and compression
    (pagespeed_worker.py:46-535)."""
    ct = content_type_of(cfg, url_norm)
    hdrs: list[tuple[str, list[str]]] = [
        ("content-type", [f"{ct}; charset=utf-8"]),
        ("content-length", [str(1000 + _h(cfg.seed, "clen", url_norm) % 90000)]),
    ]
    enc = _ENCODINGS[_h(cfg.seed, "cenc", url_norm) % len(_ENCODINGS)]
    if enc:
        hdrs.append(("content-encoding", [enc]))
    link_vals: list[str] = []
    if _h(cfg.seed, "hlink", url_norm) % 5 == 0:
        target = url_norm if _h(cfg.seed, "hlc", url_norm) % 2 else (
            url_norm.rsplit("/", 1)[0] + "/0"
        )
        link_vals.append(f'<{target}>; rel="canonical"')
    # header hreflang alternates (hreflang_worker.py:51-383 reads Link
    # headers with rel="alternate"; hreflang="...")
    hh = _h(cfg.seed, "hhl", url_norm) % 6
    if hh == 0:
        for lang in ("en-us", "de-de")[: 1 + _h(cfg.seed, "hhn", url_norm) % 2]:
            link_vals.append(
                f'<{url_norm}?hl={lang}>; rel="alternate"; hreflang="{lang}"'
            )
    if link_vals:
        hdrs.append(("link", link_vals))
    xr = _h(cfg.seed, "xrob", url_norm) % 7
    if xr == 0:
        hdrs.append(("x-robots-tag", ["noindex, nofollow"]))
    elif xr == 1:
        hdrs.append(("x-robots-tag", ["noarchive"]))
    return hdrs


def doc_id_of(url_norm: str) -> str:
    """doc_id = fingerprint hex of the canonical URL (FIXTURES.md §1)."""
    return url_fingerprint(url_norm)


def latency_class_of(cfg: SynthConfig, url_norm: str) -> int:
    """Synthetic fetch latency bucket 0..3 (autothrottle-analog input)."""
    return _h(cfg.seed, "lat", url_norm) % 4


def all_urls(cfg: SynthConfig) -> list[str]:
    """Every canonical URL in the web (homepages + pages)."""
    urls = []
    for j in range(cfg.n_hosts):
        urls.append(f"https://{host_name(j)}/")
        urls.extend(page_url(cfg, j, i) for i in range(cfg.n_pages(j)))
    return urls


def seed_rows(
    cfg: SynthConfig,
    n_crawls: int | None = None,
    max_pages: int = 25,
    use_sitemap: bool = False,
    via_robots: bool = False,
):
    """Seed-list rows (schemas.SEEDS): one crawl per host, reference-style
    (one domain per crawl job, crawler/scripts/submit_crawl_job.py:120-150).
    With use_sitemap, the crawl is seeded from the host's sitemap instead
    of the homepage (domain_spider.py use_sitemap path); with via_robots
    on top, it starts at robots.txt and DISCOVERS the sitemap from the
    ``Sitemap:`` directive / common-location fallback
    (sitemap_utils.py:65-121 locate_sitemap_url)."""
    n = n_crawls if n_crawls is not None else cfg.n_hosts
    if use_sitemap and via_robots:
        url_of = robots_txt_url
    elif use_sitemap:
        url_of = sitemap_url
    else:
        url_of = lambda j: None  # noqa: E731
    return [
        {
            "crawl_id": f"crawl-{j:03d}",
            "domain": host_name(j),
            "url": url_of(j),
            "max_pages": max_pages,
            "single_url": False,
            "use_sitemap": use_sitemap,
            "priority": 0,
            "project_id": "synth",
        }
        for j in range(n)
    ]


def robots_rule_rows(cfg: SynthConfig):
    rows = []
    for j in range(cfg.n_hosts):
        rows.append({"host": host_name(j), "path_prefix": "/private/", "allow": False})
        rows.append({"host": host_name(j), "path_prefix": "/", "allow": True})
    return rows
