"""URL family (~40 fns).

Reference: src/Functions/URL/ (domain.cpp, topLevelDomain.cpp, path.cpp,
queryString.cpp, extractURLParameter.cpp, cutWWW.cpp,
decodeURLComponent.cpp, netloc.cpp, firstSignificantSubdomain.cpp).

Built on Spark's parse_url + regexps — all codegen'd.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from clickhouse_23_3_19_32_lts_spark.functions.registry import chfn, col

__all__ = [
    "protocol", "domain", "domainWithoutWWW", "topLevelDomain", "port",
    "path", "pathFull", "queryString", "fragment", "queryStringAndFragment",
    "extractURLParameter", "extractURLParameters", "extractURLParameterNames",
    "cutWWW", "cutQueryString", "cutFragment", "cutQueryStringAndFragment",
    "decodeURLComponent", "encodeURLComponent", "netloc",
    "firstSignificantSubdomain", "cutToFirstSignificantSubdomain",
    "URLHierarchy", "URLPathHierarchy",
]


@chfn("protocol")
def protocol(u) -> Column:
    return F.lower(F.regexp_extract(col(u), r"^([A-Za-z][A-Za-z0-9+.-]*):", 1))


@chfn("domain")
def domain(u) -> Column:
    """The host, as written: after the scheme and any user info, before the
    port, path, query or fragment. The scheme may be missing
    (url-functions#domain: some.svn-hosting.com:80/repo/trunk gives
    some.svn-hosting.com)."""
    return F.regexp_extract(
        col(u), r"^(?:[a-zA-Z][a-zA-Z0-9+.-]*://|//)?(?:[^/?#@]*@)?([^/:?#@]*)", 1
    )


@chfn("domainWithoutWWW")
def domainWithoutWWW(u) -> Column:
    return F.regexp_replace(domain(u), r"^www\.", "")


@chfn("topLevelDomain")
def topLevelDomain(u) -> Column:
    return F.regexp_extract(domain(u), r"\.([^.]+)$", 1)


@chfn("port")
def port(u) -> Column:
    return F.coalesce(
        F.regexp_extract(col(u), r"^[a-zA-Z][a-zA-Z0-9+.-]*://[^/:?#]+:(\d+)", 1).cast("int"),
        F.lit(0),
    )


def _with_scheme(u) -> Column:
    # scheme-less URLs still parse in ClickHouse (protocol() just empty)
    c = col(u)
    return F.when(
        c.rlike("^[a-zA-Z][a-zA-Z0-9+.-]*://"), c
    ).otherwise(F.concat(F.lit("http://"), c))


@chfn("path")
def path(u) -> Column:
    return F.coalesce(F.parse_url(_with_scheme(u), F.lit("PATH")), F.lit(""))


@chfn("pathFull")
def pathFull(u) -> Column:
    p = F.parse_url(_with_scheme(u), F.lit("PATH"))
    q = F.parse_url(_with_scheme(u), F.lit("QUERY"))
    f_ = F.parse_url(_with_scheme(u), F.lit("REF"))
    return F.concat(
        F.coalesce(p, F.lit("")),
        F.when(q.isNotNull(), F.concat(F.lit("?"), q)).otherwise(F.lit("")),
        F.when(f_.isNotNull(), F.concat(F.lit("#"), f_)).otherwise(F.lit("")),
    )


@chfn("queryString")
def queryString(u) -> Column:
    return F.coalesce(F.parse_url(_with_scheme(u), F.lit("QUERY")), F.lit(""))


@chfn("fragment")
def fragment(u) -> Column:
    return F.coalesce(F.parse_url(col(u), F.lit("REF")), F.lit(""))


@chfn("queryStringAndFragment")
def queryStringAndFragment(u) -> Column:
    q, f_ = queryString(u), fragment(u)
    return F.concat(
        F.when(F.length(q) > 0, F.concat(F.lit("?"), q)).otherwise(F.lit("")),
        F.when(F.length(f_) > 0, F.concat(F.lit("#"), f_)).otherwise(F.lit("")),
    )


@chfn("extractURLParameter")
def extractURLParameter(u, name: str) -> Column:
    """The first value of parameter ``name``; '' without one."""
    c = col(u)
    return F.when(c.isNotNull(), F.coalesce(F.parse_url(c, F.lit("QUERY"), F.lit(name)), F.lit("")))


@chfn("extractURLParameters")
def extractURLParameters(u) -> Column:
    q = queryString(u)
    return F.when(F.length(q) == 0, F.array().cast("array<string>")).otherwise(
        F.split(q, "&")
    )


@chfn("extractURLParameterNames")
def extractURLParameterNames(u) -> Column:
    return F.transform(extractURLParameters(u), lambda kv: F.split(kv, "=")[0])


@chfn("cutWWW")
def cutWWW(u) -> Column:
    return F.regexp_replace(col(u), r"(://(?:[^/@]*@)?)www\.", "$1")


@chfn("cutQueryString")
def cutQueryString(u) -> Column:
    return F.regexp_replace(col(u), r"\?[^#]*", "")


@chfn("cutFragment")
def cutFragment(u) -> Column:
    return F.regexp_replace(col(u), r"#.*$", "")


@chfn("cutQueryStringAndFragment")
def cutQueryStringAndFragment(u) -> Column:
    return F.regexp_replace(col(u), r"[?#].*$", "")


@chfn("decodeURLComponent")
def decodeURLComponent(u) -> Column:
    # only %XX sequences decode — a literal '+' stays '+'
    # (decodeURLComponent.cpp), unlike java.net.URLDecoder
    return F.url_decode(F.regexp_replace(col(u), r"\+", "%2B"))


@chfn("encodeURLComponent")
def encodeURLComponent(u) -> Column:
    return F.url_encode(col(u))


@chfn("netloc")
def netloc(u) -> Column:
    return F.regexp_extract(col(u), r"^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]*)", 1)


# Public-suffix-free approximation: last two labels (matches ClickHouse's
# behavior for .com/.org etc.; 2-level TLDs like co.uk need the PSL, which
# ClickHouse also approximates with a built-in list).
@chfn("firstSignificantSubdomain")
def firstSignificantSubdomain(u) -> Column:
    return F.regexp_extract(domain(u), r"([^.]+)\.[^.]+$", 1)


@chfn("cutToFirstSignificantSubdomain")
def cutToFirstSignificantSubdomain(u) -> Column:
    return F.regexp_extract(domain(u), r"([^.]+\.[^.]+)$", 1)


@chfn("URLHierarchy")
def URLHierarchy(u) -> Column:
    """Prefixes of the URL chopped at /,?,# boundaries."""
    c = col(u)
    base = F.regexp_extract(c, r"^([a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*)", 1)
    p = path(u)
    segs = F.filter(F.split(p, "/"), lambda s: F.length(s) > 0)
    prefixes = F.transform(
        F.when(F.size(segs) > 0, F.sequence(F.lit(1), F.size(segs))).otherwise(F.array().cast("array<int>")),
        lambda i: F.concat(base, F.lit("/"), F.array_join(F.slice(segs, 1, i.cast("int")), "/")),
    )
    return F.when(F.length(base) == 0, F.array().cast("array<string>")).otherwise(
        F.concat(F.array(base), prefixes)
    )


@chfn("URLPathHierarchy")
def URLPathHierarchy(u) -> Column:
    p = path(u)
    segs = F.filter(F.split(p, "/"), lambda s: F.length(s) > 0)
    return F.transform(
        F.when(F.size(segs) > 0, F.sequence(F.lit(1), F.size(segs))).otherwise(F.array().cast("array<int>")),
        lambda i: F.concat(F.lit("/"), F.array_join(F.slice(segs, 1, i.cast("int")), "/")),
    )
