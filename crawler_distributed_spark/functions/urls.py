"""URL canonicalization, fingerprinting and admission filters.

Semantics re-derived from the reference crawler (raulGuru/crawler_distributed):

- canonicalize_url  ~ lib/utils/url_utils.py:64-141 (normalize_url)
- url_fingerprint   ~ lib/utils/url_utils.py:144-196
- skipped-extension ~ crawler/spider_project/utils/url_utils.py:20-69
- media-url filter  ~ lib/utils/url_utils.py:281-313 (is_media_url)
- validity filter   ~ lib/utils/url_utils.py:316-357 (is_valid_url)
- deny patterns     ~ crawler/spider_project/spiders/domain_spider.py:138-151
- base domain       ~ lib/utils/url_utils.py:238-278

Everything is exposed twice:

1. **Pure-Python** functions — used by the reference-semantics oracle in
   tests and as the slow path inside the pandas UDFs. These must be
   *bit-identical* to the reference's outputs (golden-tested).
2. **Spark-side** — a vectorized ``pandas_udf`` for canonicalize/fingerprint
   (with a regex fast path that passes already-canonical URLs through
   without touching Python's urllib), and pure Column expressions for all
   the admission filters so they stay inside WholeStageCodegen and can be
   pushed down by Catalyst.

Scale note: the filters run on every discovered outlink (~10^10 at target
scale) so they are Column expressions, never Python. The canonicalizer is
the only Python-touching step; the fast path keeps the common case
(already-clean crawl URLs) fully vectorized in pandas str ops.
"""

from __future__ import annotations

import hashlib
import posixpath
import re
from urllib.parse import parse_qs, urlencode, urlparse, urlunparse

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

# ---------------------------------------------------------------------------
# constants (reference parity)
# ---------------------------------------------------------------------------

# tracking / session / display params stripped during canonicalization
# (lib/utils/url_utils.py:24-37)
TRACKING_PARAMS = frozenset(
    {
        "utm_source", "utm_medium", "utm_campaign", "utm_term", "utm_content",
        "fbclid", "gclid", "msclkid", "dclid", "zanpid", "igshid",
        "session_id", "sid", "user_id", "uid", "visitor_id",
        "view", "mode", "sort", "order", "display", "layout",
        "ref", "referrer", "source", "origin", "redirect_to",
    }
)

# spider-side skipped extensions (crawler/spider_project/utils/url_utils.py:20-31)
SKIPPED_EXTENSIONS = (
    ".jpg", ".jpeg", ".png", ".gif", ".bmp", ".webp", ".svg", ".ico",
    ".pdf", ".doc", ".docx", ".ppt", ".pptx", ".xls", ".xlsx", ".csv",
    ".zip", ".rar", ".gz", ".tar", ".7z",
    ".mp3", ".mp4", ".avi", ".mov", ".flv", ".wmv", ".wma", ".aac", ".ogg",
    ".css", ".js", ".json", ".rss", ".atom",
)

# broader media set used by is_media_url (lib/utils/url_utils.py:40-58)
MEDIA_EXTENSIONS = frozenset(
    SKIPPED_EXTENSIONS
    + (
        ".tiff", ".odt", ".ods", ".odp", ".rtf", ".txt", ".bz2", ".iso",
        ".wav", ".mkv", ".3gp", ".m4a", ".m4v", ".xml", ".swf", ".exe",
        ".dll", ".apk", ".dmg", ".pkg", ".deb", ".rpm",
    )
)

# LinkExtractor deny patterns (domain_spider.py:138-151)
DENY_PATTERNS = (
    r"\?sort=",
    r"\?page=\d+",
    r"\?filter=",
    r"/tag/",
    r"/category/",
    r"/author/",
    r"/search/",
    r"/feed/",
    r"/rss/",
    r"/print/",
    r"/amp/",
    r"/cdn-cgi/l/email-protection",
)

_PSEUDO_CCTLD = frozenset({"co", "com", "net", "org", "gov", "edu", "ac"})

_EXT_ALTERNATION = "|".join(e.lstrip(".") for e in SKIPPED_EXTENSIONS)
# regex form of the spider's EXTENSION_PATTERN (utils/url_utils.py:34-37)
SKIPPED_EXT_RE = re.compile(r"\.(" + _EXT_ALTERNATION + r")(\?.*)?$", re.IGNORECASE)

_VALID_URL_RE = re.compile(
    r"^(https?|ftp)://"
    r"([a-zA-Z0-9]([a-zA-Z0-9-]*[a-zA-Z0-9])?\.)+[a-zA-Z0-9]([a-zA-Z0-9-]*[a-zA-Z0-9])?"
    r"(/[^/\s]*)*$"
)

_DENY_RE = re.compile("|".join(DENY_PATTERNS), re.IGNORECASE)

# ---------------------------------------------------------------------------
# pure-Python reference-equal primitives (oracle + UDF slow path)
# ---------------------------------------------------------------------------


def _canon_query(raw_query: str) -> str:
    """Filter tracking params out of a query string and sort the rest."""
    if not raw_query:
        return ""
    params = parse_qs(raw_query, keep_blank_values=True)
    kept = {k: v for k, v in params.items() if k.lower() not in TRACKING_PARAMS}
    return urlencode(sorted(kept.items()), doseq=True)


def _canon_netloc(scheme: str, netloc: str) -> str:
    netloc = netloc.lower()
    if (scheme == "http" and netloc.endswith(":80")) or (
        scheme == "https" and netloc.endswith(":443")
    ):
        netloc = netloc.rsplit(":", 1)[0]
    return netloc


def _canon_path(raw_path: str) -> str:
    path = posixpath.normpath(raw_path)
    if path and not path.startswith("/"):
        path = "/" + path
    return path


def canonicalize_url(url: str) -> str:
    """Canonical form of a URL (reference normalize_url, url_utils.py:64-141).

    Lowercases scheme/netloc, strips default ports, normpaths the path,
    drops tracking params, sorts the surviving query params, drops the
    fragment. On any parse error the URL is returned unchanged.
    """
    if not url:
        return ""
    try:
        p = urlparse(url)
        scheme = p.scheme.lower()
        netloc = _canon_netloc(scheme, p.netloc)
        path = _canon_path(p.path)
        query = _canon_query(p.query)
        return urlunparse((scheme, netloc, path, p.params, query, ""))
    except Exception:
        return url


def url_fingerprint(url: str) -> str:
    """SHA-256 hex fingerprint (reference url_fingerprint, url_utils.py:144-196).

    Note the fingerprint string differs from the canonical URL: it is
    assembled as ``scheme://netloc{path}?{query}`` with no ;params and the
    fragment always excluded.
    """
    try:
        p = urlparse(url)
        scheme = p.scheme.lower()
        netloc = _canon_netloc(scheme, p.netloc)
        path = _canon_path(p.path)
        query = _canon_query(p.query)
        base = f"{scheme}://{netloc}{path}"
        if query:
            base += f"?{query}"
        return hashlib.sha256(base.encode("utf-8")).hexdigest()
    except Exception:
        return hashlib.sha256(url.encode("utf-8")).hexdigest()


def has_skipped_extension(url: str) -> bool:
    """Spider extension filter (crawler/spider_project/utils/url_utils.py:39-69)."""
    if SKIPPED_EXT_RE.search(url):
        return True
    try:
        path = urlparse(url).path.lower()
        if not path or path.endswith("/"):
            return False
        ext = posixpath.splitext(path)[1]
        if ext and ext in SKIPPED_EXTENSIONS:
            return True
    except Exception:
        pass
    return False


def is_media_url(url: str) -> bool:
    """Broader media filter (lib/utils/url_utils.py:281-313)."""
    if not url:
        return False
    try:
        p = urlparse(url)
        path = p.path.lower()
        ext = path.rsplit(".", 1)[1] if "." in path else ""
        if ext and f".{ext}" in MEDIA_EXTENSIONS:
            return True
        # blank values dropped here (parse_qs default), matching reference
        for param in parse_qs(p.query):
            if param.lower() in ("download", "dl", "file"):
                return True
        return False
    except Exception:
        return False


def is_valid_url(url: str) -> bool:
    """Validity filter (lib/utils/url_utils.py:316-357)."""
    if not url:
        return False
    try:
        if not _VALID_URL_RE.match(url):
            return False
        p = urlparse(url)
        return p.scheme in ("http", "https", "ftp") and bool(p.netloc)
    except Exception:
        return False


def is_denied(url: str) -> bool:
    """LinkExtractor deny patterns (domain_spider.py:138-151)."""
    return bool(_DENY_RE.search(url))


def base_domain(domain_or_url: str) -> str:
    """Parent domain with pseudo-ccTLD handling (lib/utils/url_utils.py:265-278)."""
    host = urlparse(domain_or_url).hostname or domain_or_url
    host = host.lower().rstrip(".")
    if host.startswith("www."):
        host = host[4:]
    parts = host.split(".")
    if len(parts) >= 3 and parts[-2] in _PSEUDO_CCTLD and len(parts[-1]) == 2:
        return ".".join(parts[-3:])
    return ".".join(parts[-2:]) if len(parts) >= 2 else host


def host_of(url: str) -> str:
    """Lowercased netloc without default port."""
    p = urlparse(url)
    return _canon_netloc(p.scheme.lower(), p.netloc)


def allowed_hosts_for_domain(domain: str) -> tuple[str, str]:
    """Domain-scoping pair: the domain and its www./non-www variant
    (domain_spider.py:117-122)."""
    if domain.startswith("www."):
        return (domain, domain[4:])
    return (domain, f"www.{domain}")


_ABS_URL_RE = re.compile(r'https?://[^\s\'"<>]+')
_REL_URL_RE = re.compile(r'(?<=[\'"\s])/[^\s\'"<>]+')


def extract_urls_from_text(text: str, base_url: str | None = None) -> list[str]:
    """L3: absolute (+ base-resolved relative) URL extraction from free
    text with trailing-punctuation cleanup, normalized, set-deduplicated
    (lib/utils/url_utils.py:360-405). Returns in first-seen order (the
    reference returns an unordered set; callers compare as sets)."""
    if not text:
        return []
    from urllib.parse import urljoin

    urls = _ABS_URL_RE.findall(text)
    if base_url:
        urls += [urljoin(base_url, rel) for rel in _REL_URL_RE.findall(text)]
    seen, out = set(), []
    for url in urls:
        while url and url[-1] in ".,;:'\")]}":
            url = url[:-1]
        if not url:
            continue
        norm = canonicalize_url(url)
        if norm not in seen:
            seen.add(norm)
            out.append(norm)
    return out


def extract_urls_col(text: Column) -> Column:
    """L3 (JVM path): absolute URLs in free text, trailing punctuation
    stripped — the codegen'd pre-pass before canonicalization."""
    raw = F.regexp_extract_all(text, F.lit(r"https?://[^\s'\"<>]+"), 0)
    return F.transform(
        raw, lambda u: F.regexp_replace(u, r"[.,;:'\")\]}]+$", "")
    )


def dedup_urls_keep_order(urls: list[str]) -> list[str]:
    """First-occurrence-wins dedup by fingerprint, input order preserved
    (lib/utils/url_utils.py:459-480)."""
    seen: set[str] = set()
    out: list[str] = []
    for u in urls:
        fp = url_fingerprint(u)
        if fp not in seen:
            seen.add(fp)
            out.append(u)
    return out


# ---------------------------------------------------------------------------
# Spark side: vectorized pandas UDFs
# ---------------------------------------------------------------------------

# A URL is provably already-canonical when it is all-lowercase, has a plain
# host, a plain absolute path with no dot-segments / double slashes /
# trailing slash, and no query/fragment/params/port. Everything else takes
# the stdlib slow path. This keeps the hot loop (synthetic crawl URLs,
# typical clean outlinks) in vectorized pandas string ops.
_FAST_CANON_RE = r"^https?://[a-z0-9][a-z0-9.\-]*/[a-z0-9._\-/]*[a-z0-9_\-]$"


def _canon_series(s: pd.Series) -> pd.Series:
    s = s.fillna("")
    # the scheme's "//" is at a fixed offset; exactly one "//" means no
    # empty path segments survived into the fast path. "/." excludes
    # dot-segments (and conservatively any dot-leading segment).
    fast = (
        s.str.match(_FAST_CANON_RE)
        & (s.str.count("//") == 1)
        & ~s.str.contains("/.", regex=False)
    )
    out = s.copy()
    slow = ~fast
    if slow.any():
        out.loc[slow] = s.loc[slow].map(canonicalize_url)
    return out


@F.pandas_udf(T.StringType())
def canonicalize_udf(s: pd.Series) -> pd.Series:
    return _canon_series(s)


# ---------------------------------------------------------------------------
# Spark side: Column-expression admission filters (codegen'd, no Python)
# ---------------------------------------------------------------------------


def skipped_extension_col(url: Column) -> Column:
    """F1: extension skip-filter as a pure Column expression."""
    regex_hit = url.rlike(r"(?i)\.(" + _EXT_ALTERNATION + r")(\?.*)?$")
    path = F.lower(
        F.regexp_replace(
            F.regexp_replace(url, r"^[a-zA-Z][a-zA-Z0-9+.-]*://[^/]*", ""),
            r"[?#].*$",
            "",
        )
    )
    # splitext double-check: last path segment has a skipped extension
    path_hit = (
        (F.length(path) > 0)
        & ~path.endswith("/")
        & path.rlike(r"\.(" + _EXT_ALTERNATION + r")$")
    )
    return regex_hit | path_hit


def media_url_col(url: Column) -> Column:
    """F2: broader media filter + download/dl/file query-param heuristic."""
    media_alt = "|".join(sorted(e.lstrip(".") for e in MEDIA_EXTENSIONS))
    path = F.lower(
        F.regexp_replace(
            F.regexp_replace(url, r"^[a-zA-Z][a-zA-Z0-9+.-]*://[^/]*", ""),
            r"[?#].*$",
            "",
        )
    )
    ext_hit = path.rlike(r"\.(" + media_alt + r")$")
    param_hit = url.rlike(r"(?i)[?&](download|dl|file)=[^&#]")
    return ext_hit | param_hit


def valid_url_col(url: Column) -> Column:
    """F3: validity filter."""
    return url.rlike(
        r"^(https?|ftp)://"
        r"([a-zA-Z0-9]([a-zA-Z0-9-]*[a-zA-Z0-9])?\.)+"
        r"[a-zA-Z0-9]([a-zA-Z0-9-]*[a-zA-Z0-9])?"
        r"(/[^/\s]*)*$"
    )


def denied_col(url: Column) -> Column:
    """F5: deny-pattern filter."""
    return url.rlike("(?i)" + "|".join(DENY_PATTERNS))


def host_col(url: Column) -> Column:
    """Host extraction as a Column expression (lowercase, default port stripped)."""
    h = F.regexp_replace(url, r"^[a-zA-Z][a-zA-Z0-9+.-]*://", "")
    h = F.lower(F.regexp_extract(h, r"^([^/?#]*)", 1))
    return F.regexp_replace(h, r":(80|443)$", "")
