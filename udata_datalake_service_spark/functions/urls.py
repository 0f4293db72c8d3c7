"""URL scalar helpers (F9, SURVEY §2.9).

``domain_of`` — crawl/check_resources.py:73-74 uses urlparse(url).netloc.
It is a regexp rather than ``F.parse_url(col, 'HOST')`` because the DuckDB
oracle lacks parse_url and regexp semantics are identical across engines.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# scheme:// then optional userinfo@ then capture the host up to the
# first / ? # or : (the port); RE2-portable (non-capturing group only)
DOMAIN_REGEX = r"^[a-zA-Z][a-zA-Z0-9+.-]*://(?:[^/?#@]*@)?([^/?#:]+)"
SCHEME_REGEX = r"^[a-zA-Z][a-zA-Z0-9+.-]*://"


def domain_of(url_col: Column) -> Column:
    """Hostname of a URL (userinfo and port excluded), by a regexp
    reproducible in ANSI SQL / DuckDB. NULL for a string with no
    ``scheme://`` authority, as ``parse_url`` returns."""
    ext = F.regexp_extract(url_col, DOMAIN_REGEX, 1)
    return F.when(ext != "", ext)  # '' on no-match → NULL, as parse_url


# tracking params dropped during canonicalization (the industry-standard
# utm/click-id set). One alternation consuming a RUN of consecutive
# tracking params: per-key passes would miss adjacent ones (Java/RE2
# resume scanning after the consumed separator, so "?utm_a=1&utm_b=2"
# keeps utm_b under a single per-key pass).
_TRK = r"(?:utm_[a-z]+|gclid|fbclid|msclkid|ref|mc_eid)=[^&#]*"


def canonicalize_url(url_col: Column) -> Column:
    """Canonical form for URL-level dedup — the crawl-plane twin of content
    fingerprinting (two catalog rows pointing at one resource through
    tracking-param / fragment / case noise are the same resource):

    1. lowercase scheme+host (path stays case-sensitive per RFC 3986),
    2. drop the fragment,
    3. drop default ports (:80 http, :443 https),
    4. drop tracking params (utm_*, gclid, fbclid, msclkid, ref, mc_eid),
       keeping the others in original order,
    5. collapse a now-empty query ("?" remainder) and a bare trailing "/"
       on an empty path.

    Pure regexp chain — whole-stage codegen, exactly replayable in the
    DuckDB oracle (no lookaround, no backrefs in the patterns).
    """
    # 1: scheme+host lowercase (userinfo dropped — credentials are not
    # identity for dedup). Split: scheme://[user@]host[rest] — rebuild
    # with lowered first two groups. regexp_replace can't lower a
    # backref, so lower the whole prefix via concat of extracted pieces.
    scheme = F.lower(F.regexp_extract(url_col, r"^([a-zA-Z][a-zA-Z0-9+.-]*)://", 1))
    host = F.lower(F.regexp_extract(url_col, DOMAIN_REGEX, 1))
    rest = F.regexp_replace(
        url_col, r"^[a-zA-Z][a-zA-Z0-9+.-]*://(?:[^/?#@]*@)?[^/?#:]*", ""
    )
    u = F.concat(scheme, F.lit("://"), host, rest)
    # 2: fragment
    u = F.regexp_replace(u, r"#.*$", "")
    # 3: default ports (two rules per scheme — RE2 has no lookahead)
    u = F.regexp_replace(u, r"^(http://[^/:?#]+):80([/?])", r"$1$2")
    u = F.regexp_replace(u, r"^(http://[^/:?#]+):80$", r"$1")
    u = F.regexp_replace(u, r"^(https://[^/:?#]+):443([/?])", r"$1$2")
    u = F.regexp_replace(u, r"^(https://[^/:?#]+):443$", r"$1")
    # 4: tracking params — a mid-query run hands its separator to the next
    # kept param; an end-of-query run (with its leading separator) drops
    u = F.regexp_replace(u, rf"([?&]){_TRK}(&{_TRK})*&", r"$1")
    u = F.regexp_replace(u, rf"[?&]{_TRK}(&{_TRK})*$", "")
    # 5: empty query, bare root slash
    u = F.regexp_replace(u, r"\?$", "")
    u = F.regexp_replace(u, r"^([a-z][a-z0-9+.-]*://[^/?#]+)/$", r"$1")
    # scheme-less / non-hierarchical strings pass through untouched — the
    # concat rebuild above would otherwise mangle them into '://' + url
    return F.when(url_col.rlike(SCHEME_REGEX), u).otherwise(url_col)


# bad-payload path extensions a text-corpus crawler drops outright
# (binary/installer/archive payloads; RefinedWeb Appendix G ships the same
# idea as an extension blocklist)
BAD_EXT_REGEX = r"(?i)\.(exe|zip|rar|7z|dmg|apk|iso|msi|bin|tar|gz)([?#].*)?$"
_IP_HOST_REGEX = r"^\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}$"


def url_quality_signals(url_col: Column) -> dict[str, Column]:
    """RefinedWeb/CCNet-style URL-level quality signals — the filter a
    pretraining crawl applies BEFORE fetching a byte of content (Penedo
    et al. 2023 §3.1 filter on the URL alone; the reference's analogue is
    its EXCLUDED_PATTERNS clause, crawl/select_batch.py via
    db/resource.py:116-129).

    Every signal is a pure regexp/arithmetic expression (whole-stage
    codegen, DuckDB-replayable): host, path depth, URL length, digit
    ratio, query-param count, explicit-port / raw-IP-host / bad-extension
    flags. Compose with a broadcast blocklist membership for the final
    keep verdict (see ``url_quality_filter``).
    """
    host = domain_of(url_col)
    path = F.regexp_extract(url_col, r"^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*([^?#]*)", 1)
    query = F.regexp_extract(url_col, r"\?([^#]*)", 1)
    n_digits = F.length(url_col) - F.length(F.regexp_replace(url_col, r"[0-9]", ""))
    return {
        "host": host,
        "url_len": F.length(url_col).cast("int"),
        "path_depth": (
            F.length(path) - F.length(F.regexp_replace(path, "/", ""))
        ).cast("int"),
        "digit_ratio": F.round(n_digits / F.greatest(F.length(url_col), F.lit(1)), 6),
        "n_params": F.when(query == "", F.lit(0))
        .otherwise(F.length(query) - F.length(F.regexp_replace(query, "&", "")) + 1)
        .cast("int"),
        "has_port": F.regexp_extract(
            url_col, r"^[a-zA-Z][a-zA-Z0-9+.-]*://(?:[^/?#@]*@)?[^/?#:]*:(\d+)", 1
        )
        != "",
        "is_ip_host": F.coalesce(host.rlike(_IP_HOST_REGEX), F.lit(False)),
        "bad_ext": url_col.rlike(BAD_EXT_REGEX),
    }


def url_quality_filter(
    df,
    url_col: str = "url",
    blocked_domains: tuple[str, ...] = (),
    max_len: int = 512,
    max_digit_ratio: float = 0.5,
):
    """Append the signal columns plus a ``url_keep`` verdict.

    ``blocked_domains`` becomes a literal isin — at scale pass thousands
    of domains via a broadcast join on ``host`` instead; the verdict
    expression is the same. Map-only: no shuffle, the filter runs inside
    the scan's codegen stage."""
    sig = url_quality_signals(F.col(url_col))
    out = df
    for name, col in sig.items():
        out = out.withColumn(name, col)
    blocked = (
        F.col("host").isin(*blocked_domains) if blocked_domains else F.lit(False)
    )
    keep = (
        ~blocked
        & ~F.col("is_ip_host")
        & ~F.col("bad_ext")
        & (F.col("url_len") <= max_len)
        & (F.col("digit_ratio") < max_digit_ratio)
        & F.col("host").isNotNull()
    )
    return out.withColumn("url_blocked", blocked).withColumn("url_keep", keep)
