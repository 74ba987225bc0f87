"""URL/domain blocklist filtering — the first gate of every production
crawl pipeline (RefinedWeb §3.1 runs a UT1-style blocklist before any
content-based rule; C4 applies a bad-words URL filter).

The reference repo's closest analog is the single-column membership
filter on its work-item scan (``src/scanner.py:62-63``); this is that
operator at crawl realism: a *domain* blocklist must match every
subdomain of a blocked registrable domain, and URL *pattern* rules are
literal regexes evaluated in the scan.

Scale shape (the 100 TB posture):

- The blocklist side is small relative to the corpus (UT1 is ~4M rows —
  megabytes) → every domain match is a **broadcast hash LEFT ANTI
  join**; the page side streams through in its own scan splits and
  never shuffles, and page text/blob columns never reach the join's
  build side.  Suffix matching is made *equi-joinable* by probing the
  host's label suffixes (``a.b.example.com`` probes itself,
  ``b.example.com``, ``example.com``) — one chained anti-join per
  depth, fused into a single whole-stage-codegen'd pass over the pages.
  Each probe broadcasts the same slim lowercased-domain projection
  (megabytes for a UT1-scale list; AQE's runtime exchange reuse dedupes
  the identical broadcasts) and the blocklist side itself never
  shuffles.
- Pattern rules compile to one literal ``rlike`` predicate in the scan
  filter — zero joins, zero shuffles, pushdown-eligible.  Patterns are
  restricted to the Java-regex/RE2-identical subset so the DuckDB
  oracle twin replays them exactly.
"""

from __future__ import annotations

from collections.abc import Sequence

import pandas as pd  # module-level: pandas_udf type hints resolve here
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Hosts with more labels than this only match blocklist entries exactly
# (full-host equality); public-suffix blocklists list 2-3 label domains,
# so 8 probes cover real inputs with headroom.  Documented, not silent.
DEFAULT_MAX_LABELS = 8


def host_col(url) -> F.Column:
    """Lowercased host of a URL column ('' for unparseable urls —
    ``try_parse_url``, because crawl inputs contain garbage and
    ``parse_url`` raises under ANSI mode)."""
    u = F.col(url) if isinstance(url, str) else url
    return F.lower(
        F.coalesce(F.try_parse_url(u, F.lit("HOST")), F.lit(""))
    )


def _suffix_from_labels(labels: F.Column, k: int) -> F.Column:
    """The last-``k``-labels suffix from a pre-split label array ('' when
    the host has fewer than ``k`` labels, so it never false-matches).
    Taking the ARRAY rather than the host string lets callers split the
    host once and derive every probe depth from it (r7: the per-depth
    ``F.split`` re-ran the regex max_labels times per row)."""
    return F.when(
        F.size(labels) >= k,
        F.concat_ws(
            ".", F.slice(labels, F.size(labels) - (k - 1), F.lit(k))
        ),
    ).otherwise(F.lit(""))


def label_suffix_col(host: F.Column, k: int) -> F.Column:
    """The last-``k``-labels suffix of a host ('' when the host has
    fewer than ``k`` labels, so it never false-matches)."""
    return _suffix_from_labels(F.split(host, r"\."), k)


def blocklist_filter(
    pages: DataFrame,
    blocked_domains: DataFrame | None = None,
    patterns: Sequence[str] = (),
    url_col: str = "url",
    domain_col: str = "domain",
    max_labels: int = DEFAULT_MAX_LABELS,
) -> DataFrame:
    """Drop pages whose url matches the blocklist; keep everything else,
    schema unchanged.

    A page is blocked when its host equals a blocked domain, the host is
    a subdomain of a blocked domain (label-suffix match, exact up to
    ``max_labels``-label hosts), or the raw url matches any literal
    pattern.  ``blocked_domains`` is a one-column DataFrame
    (``domain_col``) — entries are lowercased and deduplicated here, so
    callers can pass a raw list-file read.
    """
    out = pages
    if patterns:
        combined = "|".join(f"(?:{p})" for p in patterns)
        out = out.filter(~F.col(url_col).rlike(combined))
    if blocked_domains is None:
        return out
    # No .distinct() here: an anti-join's broadcast hash relation dedupes
    # keys on build, and a distinct would re-shuffle the blocklist side
    # once PER probe (observed: one hashpartitioning exchange per depth).
    bd = blocked_domains.select(
        F.lower(F.trim(F.col(domain_col))).alias("__blocked")
    ).filter(F.col("__blocked") != "")
    host = host_col(url_col)
    # split the host into labels ONCE; every probe depth derives from the
    # array (r7: label_suffix_col re-ran the split regex per depth)
    out = out.withColumn("__h0", host).withColumn(
        "__hl", F.split(F.col("__h0"), r"\.")
    )
    # full-host equality, then each label-suffix depth (k=1 included: a
    # single-label entry — a bare TLD — is suffix semantics like any
    # other, caught by property fuzz in r6); every probe is a broadcast
    # hash anti-join against the SAME broadcast relation
    out = out.join(
        F.broadcast(bd), out["__h0"] == bd["__blocked"], "left_anti"
    )
    for k in range(1, max_labels + 1):
        sfx = f"__h{k}"
        out = out.withColumn(sfx, _suffix_from_labels(F.col("__hl"), k))
        out = out.join(
            F.broadcast(bd), out[sfx] == bd["__blocked"], "left_anti"
        ).drop(sfx)
    return out.drop("__h0", "__hl")


def robots_filter(
    pages: DataFrame,
    robots: DataFrame,
    url_col: str = "url",
    domain_col: str = "domain",
    robots_col: str = "robots_txt",
    agent: str = "*",
) -> DataFrame:
    """Drop pages their own domain's robots.txt capture disallows —
    retroactive crawl politeness over an archive (RFC 9309 / original
    REP; see ``kernels/robots.py`` for the exact supported subset).

    ``robots`` is (domain, robots_txt).  Multiple captures of one domain
    (the normal shape of a crawl archive) are resolved HERE to one row —
    the lexicographically greatest text wins, deterministic across
    engines and runs — because a duplicate-keyed build side would
    otherwise multiply every page of that domain through the join.  For
    time-aware resolution, pre-resolve with
    ``webtext.latest_snapshot(robots, key_col="domain", ...)`` and pass
    the result.  Pages whose domain has no robots row, or whose url is
    unparseable, pass through (default allow).

    Scale shape: the robots side parses through an Arrow-batched pandas
    UDF into per-domain rule ARRAYS (bounded by rules-per-file), then
    broadcasts — the pages side streams through one broadcast hash left
    join with the first-match decision evaluated as an in-array
    expression; no shuffle on either side, matcher fuzz-twinned against
    ``urllib.robotparser.can_fetch`` on the shared subset.
    """
    from gemini_ocr_batch_spark.kernels.robots import parse_robots

    rules_type = "array<struct<path:string,allow:boolean>>"

    @F.pandas_udf(rules_type)
    def _parse(texts: pd.Series) -> pd.Series:
        return texts.map(
            lambda t: [
                {"path": p, "allow": bool(a)}
                for p, a in parse_robots(t or "", agent=agent)
            ]
        )

    rules_df = (
        robots.select(
            F.lower(F.trim(F.col(domain_col))).alias("__rdom"),
            F.col(robots_col).alias("__rtxt"),
        )
        # one row per domain BEFORE parsing (see docstring): duplicate
        # build-side keys would fan every page of the domain out
        .groupBy("__rdom")
        .agg(F.max("__rtxt").alias("__rtxt"))
        .select("__rdom", _parse(F.col("__rtxt")).alias("__rules"))
    )
    u = F.col(url_col)
    raw_path = F.try_parse_url(u, F.lit("PATH"))
    path = F.when(
        raw_path.isNull() | (raw_path == ""), F.lit("/")
    ).otherwise(raw_path)
    out = pages.withColumn("__rh", host_col(url_col)).withColumn(
        "__rp", path
    )
    out = out.join(
        F.broadcast(rules_df), out["__rh"] == rules_df["__rdom"], "left"
    )
    # try_element_at: an empty match list (no rule applies) must yield
    # NULL (default allow), not an ANSI index error
    first = F.try_element_at(
        F.filter(
            F.col("__rules"),
            lambda r: (r["path"] == "")
            | F.col("__rp").startswith(r["path"]),
        ),
        F.lit(1),
    )
    keep = first.isNull() | first["allow"]
    return out.filter(keep).drop("__rh", "__rp", "__rdom", "__rules")


def blocklist_flags(
    pages: DataFrame,
    blocked_domains: DataFrame | None = None,
    patterns: Sequence[str] = (),
    url_col: str = "url",
    domain_col: str = "domain",
    max_labels: int = DEFAULT_MAX_LABELS,
) -> DataFrame:
    """(url, blocked) audit table — the flag form of
    :func:`blocklist_filter`, for composing into curation passes and for
    measuring blocklist hit rates without rewriting the corpus.

    One LINEAR pass over the slim DISTINCT-url projection: the host is
    split once, each probe depth is a broadcast hash LEFT OUTER join
    against the (deduplicated) blocklist, and ``blocked`` is the OR of
    the per-depth match flags plus the pattern predicate.  This replaces
    the r6 shape — run the anti-join filter, then LEFT JOIN the
    survivor set back against the urls — which both duplicated the
    urls-distinct subtree on the two join sides and BROADCAST the
    survivor set (corpus-sized at crawl scale: a plan that cannot run at
    100 TB; the blocklist side is the only thing that may broadcast).
    One row per distinct url, ``blocked`` boolean, never NULL, and
    ``blocked`` is true exactly for the rows :func:`blocklist_filter`
    drops. NULL urls follow that rule too: flagged when ``patterns`` is
    non-empty (a NULL never passes the filter's ``~rlike`` gate), not
    flagged by the domain list alone. The r6 form flagged every NULL
    url, because its join back on url never matches NULL.
    """
    urls = pages.select(url_col).distinct()
    u = F.col(url_col)
    blocked = F.lit(False)
    if patterns:
        combined = "|".join(f"(?:{p})" for p in patterns)
        # a NULL url never passes the filter form's ~rlike gate (NULL
        # predicate → dropped → flagged); coalesce(True) replicates that
        blocked = blocked | F.coalesce(u.rlike(combined), F.lit(True))
    out = urls
    if blocked_domains is not None:
        # the LEFT OUTER probes (unlike an anti-join's build side) would
        # duplicate url rows on duplicate blocklist entries, so dedupe —
        # the blocklist is the SMALL side (UT1 is megabytes), the distinct
        # is one tiny exchange, and exchange reuse serves the 1+max_labels
        # broadcast builds from that single aggregation (no eager
        # materialization: a checkpoint job costs more than the distinct)
        bd = (
            blocked_domains.select(
                F.lower(F.trim(F.col(domain_col))).alias("__blocked")
            )
            .filter(F.col("__blocked") != "")
            .distinct()
        )
        out = out.withColumn("__h0", host_col(url_col)).withColumn(
            "__hl", F.split(F.col("__h0"), r"\.")
        )
        probes = [F.col("__h0")] + [
            _suffix_from_labels(F.col("__hl"), k)
            for k in range(1, max_labels + 1)
        ]
        for k, probe in enumerate(probes):
            b = F.col(f"__b{k}")
            out = out.withColumn(f"__p{k}", probe).join(
                F.broadcast(bd.select(F.col("__blocked").alias(f"__b{k}"))),
                F.col(f"__p{k}") == b,
                "left",
            )
            blocked = blocked | b.isNotNull()
        # the __p/__b helper columns stay until this projection — the
        # ``blocked`` OR references the match columns of every depth
    return (
        out.select(u, blocked.alias("blocked"))
        .orderBy(url_col)
    )
