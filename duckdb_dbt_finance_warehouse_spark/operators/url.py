"""URL canonicalization — the web-corpus dedup step that collapses
raw crawl URLs differing only in case, default ports, ``www.``
prefixes, and tracking parameters onto one canonical form.

Reference parity: the reference warehouse has no URL kit; this is
part of the §7.6 large-scale training-data extension surface (crawl
dedup keys off the canonical URL before any content hashing).

Everything is built-in string/regex expressions (no UDFs): lower,
regexp_extract, regexp_replace, substring — all whole-stage-codegen
on the Spark side and RE2-safe (no lookarounds) so the DuckDB oracle
replays the identical chain (DuckDB regexp_replace needs the 'g'
flag to match Spark's replace-all default; the ``*_sql`` mirrors add
it). Scale shape: one narrow projection pass plus one canonical-key
window for the dup flag — no joins, no driver state.

Synthetic input: the documents table carries no URL column, so
``synthesize_url`` derives one deterministically in-query (the
multimodal synthesize_* precedent): ``doc_id div 3`` picks the
logical page and ``doc_id % 3`` picks one of three raw encodings of
it (HTTPS+WWW+:443+utm params / http+:80+ref param / bare host with
mixed-case domain). The two https encodings of every id-triple
collapse to one canonical URL at every sf (the http form is a
different resource — scheme is semantic), so the dup flag exercises
real collapses, not hash luck.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# tracking parameters dropped during canonicalization
_TRACK = "(utm_[a-z]+|ref)"


def synthesize_url(doc_id: Column) -> Column:
    """Deterministic raw URL for a document id (see module doc)."""
    # exact integer division at ANY long id: Spark's `div` truncates
    # toward zero exactly like DuckDB's `//` (verified incl. negatives),
    # whereas the old (x - x%3)/3 double division silently loses
    # parity above 2^53 (r10 ADVICE)
    base = F.call_function("div", doc_id, F.lit(3))
    host = F.concat(F.lit("src"), (base % 20).cast("string"))
    path = F.concat((base % 7).cast("string"), F.lit("/Page"))
    pid = (base % 211).cast("string")
    branch = doc_id % 3
    return (
        F.when(
            branch == 0,
            F.concat(
                F.lit("HTTPS://WWW."), F.upper(host),
                F.lit(".Example.COM:443/"), path,
                F.lit("?utm_source=feed&id="), pid, F.lit("&utm_medium=rss"),
            ),
        )
        .when(
            branch == 1,
            F.concat(
                F.lit("http://"), host, F.lit(".example.com:80/"), path,
                F.lit("?id="), pid, F.lit("&ref=mail"),
            ),
        )
        .otherwise(
            F.concat(
                F.lit("https://"), host, F.lit(".EXAMPLE.com/"), path,
                F.lit("?id="), pid,
            )
        )
    )


def synthesize_url_sql(doc_id: str = "doc_id") -> str:
    """DuckDB mirror of ``synthesize_url``."""
    base = f"({doc_id} // 3)"
    host = f"('src' || CAST({base} % 20 AS VARCHAR))"
    path = f"(CAST({base} % 7 AS VARCHAR) || '/Page')"
    pid = f"CAST({base} % 211 AS VARCHAR)"
    return f"""CASE {doc_id} % 3
      WHEN 0 THEN 'HTTPS://WWW.' || upper({host}) || '.Example.COM:443/'
                  || {path} || '?utm_source=feed&id=' || {pid} || '&utm_medium=rss'
      WHEN 1 THEN 'http://' || {host} || '.example.com:80/' || {path}
                  || '?id=' || {pid} || '&ref=mail'
      ELSE 'https://' || {host} || '.EXAMPLE.com/' || {path} || '?id=' || {pid}
    END"""


def canonicalize_url(url: Column) -> Column:
    """Canonical form of a raw URL: lowercase scheme and host, strip
    the scheme's default port (443/80) and a leading ``www.``, drop
    tracking query parameters (utm_*, ref) with their separators, and
    drop a then-empty query string. Path case is PRESERVED — only the
    authority section is case-insensitive by RFC 3986."""
    scheme = F.lower(F.regexp_extract(url, r"^([^:]+)://", 1))
    rest = F.regexp_replace(url, r"^[^:]+://", "")
    # authority ends at '/', '?' or '#' — a query with no path must not
    # be folded into the case-insensitive host section
    hostport = F.lower(F.regexp_extract(rest, r"^([^/?#]+)", 1))
    pathq = F.substring(rest, F.length(hostport) + 1, F.lit(1 << 30))
    host = F.regexp_replace(
        F.when(scheme == "https", F.regexp_replace(hostport, r":443$", ""))
        .when(scheme == "http", F.regexp_replace(hostport, r":80$", ""))
        .otherwise(hostport),
        r"^www\.",
        "",
    )
    # tracking params are stripped WITH their own separator, anchored on
    # it — an unanchored '(utm_|ref)=' would excise the tails of
    # innocent params like 'href=' or 'xutm_a='. Values stop at '&' OR
    # '#' so a trailing fragment survives canonicalization uniformly
    # (r10 ADVICE: '[^&]*' swallowed '#frag' after a tracking param but
    # kept it after an ordinary one). Rule order matters: every
    # '&'-separated tracking param first (non-overlapping, so
    # consecutive ones all match), then one possibly-remaining
    # ?-leading tracking param (promoting the next param to first),
    # then a left-over empty query — a bare '?' at end-of-string or
    # directly before the fragment.
    clean = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(
                F.regexp_replace(pathq, r"&" + _TRACK + r"=[^&#]*", ""),
                r"\?" + _TRACK + r"=[^&#]*&?",
                "?",
            ),
            r"\?$",
            "",
        ),
        r"\?#",
        "#",
    )
    return F.concat(scheme, F.lit("://"), host, clean)


def canonicalize_url_sql(url_expr: str) -> str:
    """DuckDB mirror of ``canonicalize_url`` (explicit 'g' flags —
    DuckDB replaces only the first match by default)."""
    scheme = f"lower(regexp_extract({url_expr}, '^([^:]+)://', 1))"
    rest = f"regexp_replace({url_expr}, '^[^:]+://', '')"
    hostport = f"lower(regexp_extract({rest}, '^([^/?#]+)', 1))"
    pathq = f"substring({rest}, length({hostport}) + 1)"
    host = (
        "regexp_replace(CASE"
        f" WHEN {scheme} = 'https' THEN regexp_replace({hostport}, ':443$', '')"
        f" WHEN {scheme} = 'http' THEN regexp_replace({hostport}, ':80$', '')"
        f" ELSE {hostport} END, '^www\\.', '')"
    )
    clean = (
        f"regexp_replace(regexp_replace(regexp_replace(regexp_replace({pathq},"
        f" '&{_TRACK}=[^&#]*', '', 'g'),"
        f" '\\?{_TRACK}=[^&#]*&?', '?', 'g'),"
        f" '\\?$', '', 'g'),"
        f" '\\?#', '#', 'g')"
    )
    return f"{scheme} || '://' || {host} || {clean}"


def url_canonical_dedup(
    df: DataFrame, id_col: str, url: Column
) -> DataFrame:
    """Per-document canonicalization + first-wins dup flag: output
    (id, url, canonical_url, is_dup) where ``is_dup`` marks every row
    after the smallest-id holder of its canonical URL. One projection
    pass + one canonical-key window exchange; the window's partition
    key is the canonical string, so skew follows true dup multiplicity
    (bounded here by the id-triple construction; a production crawl
    would salt a mega-dup host before this window)."""
    w = Window.partitionBy("canonical_url").orderBy(id_col)
    return (
        df.select(F.col(id_col), url.alias("url"))
        .withColumn("canonical_url", canonicalize_url(F.col("url")))
        .withColumn("is_dup", F.row_number().over(w) > 1)
    )

