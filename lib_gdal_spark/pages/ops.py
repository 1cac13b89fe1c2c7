"""Operators over the Common-Crawl page shape (url, warc_ts, html, text,
lang) — the input_hint table the engine is built around.

These are the crawl-maintenance passes a 10^12-page corpus needs before
any spatial/text analytics run, expressed as plain Catalyst (window +
aggregate) so they ride AQE and bucketing like every other operator:

- latest_snapshot: one row per url, the newest crawl wins (ties break on
  the largest secondary key — deterministic under any partitioning).
  This is the "current web" view over an append-only WARC history, and
  the batch twin of streaming/stateful.py's first-arrival dedup (keep
  LAST by time instead of keep FIRST by arrival).
- host / host_stats: host extraction (regex — identical in the duckdb
  twin) and per-host rollups, the unit of politeness/partitioning in
  crawl pipelines (hot-host skew is the salting lever's target).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, Window, functions as F

_HOST_RE = r"^[a-z]+://([^/]+)"


def host(df: DataFrame, url_col: str = "url",
         out_col: str = "host") -> DataFrame:
    """Extract the host from the url (scheme://host/...)."""
    return df.withColumn(out_col, F.regexp_extract(F.col(url_col),
                                                   _HOST_RE, 1))


def latest_snapshot(df: DataFrame, url_col: str = "url",
                    ts_col: str = "warc_ts",
                    tie_col: str | None = None) -> DataFrame:
    """One row per url: the newest warc_ts wins; equal timestamps break
    to the LARGEST tie_col (default: the ts column again, then the rest
    is already unique by contract). Deterministic, partition-invariant."""
    order = [F.col(ts_col).desc()]
    if tie_col:
        order.append(F.col(tie_col).desc())
    w = Window.partitionBy(url_col).orderBy(*order)
    return (df.withColumn("_rn", F.row_number().over(w))
            .filter("_rn = 1").drop("_rn"))


def host_stats(df: DataFrame, url_col: str = "url",
               text_col: str = "text") -> DataFrame:
    """Per-host rollup: page count + total/mean text length — the
    host-skew histogram that sizes the salting lever."""
    h = host(df, url_col)
    return h.groupBy("host").agg(
        F.count(F.lit(1)).alias("n_pages"),
        F.sum(F.length(text_col)).alias("total_chars"),
        (F.sum(F.length(text_col)) / F.count(F.lit(1))).alias("mean_chars"),
    )


_SCHEME_RE = r"^([A-Za-z][A-Za-z0-9+.-]*)://"
_HOSTPORT_RE = r"^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)"
_PATH_RE = r"^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)"
_QUERY_RE = r"^[^#]*\?([^#]*)"


def url_canonicalize(df: DataFrame, url_col: str = "url",
                     out_col: str = "canonical_url") -> DataFrame:
    """URL canonicalization — the crawl-dedup key normalizer that makes
    `latest_snapshot` / `incremental_dedup` see `HTTP://Example.COM:80/a`
    and `http://example.com/a?` as the same page:

    - scheme and host lowercased; default ports dropped (http:80,
      https:443), other explicit ports kept;
    - fragment dropped (never sent to the server);
    - empty path becomes '/';
    - query parameters split on '&', empties dropped, sorted
      bytewise, rejoined ('?a=1&b=2' == '?b=2&a=1').

    Pure regexp_extract + array column math (identical Java/RE2
    semantics: classes and bounded repeats only, and no group references
    in any REPLACEMENT string — Java spells those $1, RE2 \\1), so the
    duckdb oracle runs the same expressions. Map-only at any scale; at
    10^12 pages this runs inside the scan before the url shuffle.

    Output: input columns + out_col.
    """
    u = F.col(url_col)
    scheme = F.lower(F.regexp_extract(u, _SCHEME_RE, 1))
    hostport = F.regexp_extract(u, _HOSTPORT_RE, 1)
    host_ = F.lower(F.regexp_extract(hostport, r"^([^:]*)", 1))
    port = F.regexp_extract(hostport, r":([0-9]+)$", 1)
    path = F.regexp_extract(u, _PATH_RE, 1)
    query = F.regexp_extract(u, _QUERY_RE, 1)
    default_port = ((scheme == "http") & (port == "80")) | \
                   ((scheme == "https") & (port == "443"))
    port_part = F.when((port == "") | default_port, F.lit("")) \
        .otherwise(F.concat(F.lit(":"), port))
    path_part = F.when(path == "", F.lit("/")).otherwise(path)
    params = F.array_sort(
        F.filter(F.split(query, "&"), lambda x: F.length(x) > 0))
    query_part = F.when(F.size(params) > 0,
                        F.concat(F.lit("?"), F.array_join(params, "&"))) \
        .otherwise(F.lit(""))
    return df.withColumn(
        out_col,
        F.concat(scheme, F.lit("://"), host_, port_part, path_part,
                 query_part),
    )


def incremental_dedup(new_pages: DataFrame, seen: DataFrame,
                      url_col: str = "url",
                      expected_seen: int = 1_000_000,
                      n_hashes: int = 4,
                      bloom: bool = True) -> DataFrame:
    """Pages of the new crawl whose url has NEVER been seen — the
    incremental-ingest gate of an append-only 10^12-page corpus.

    Two-phase at scale: an explicit k-hash bitmap bloom over the seen
    side prefilters the new side IN THE SCAN, so only the ~fpp false
    positives plus genuine dups reach the exact left_anti join — the
    shuffle carries a fraction of the new crawl instead of all of it.
    The exact anti-join makes the RESULT exact regardless of fpp (the
    bloom can only ADMIT extra candidates, never drop a novel url), so
    the operator stays fully oracle-checkable.

    Bloom construction is one distributed aggregation of bit positions
    (xxhash64(url, seed) pmod m, k seeds); the driver collect is bounded
    by the BITMAP size m ~ 8 bits/key — never by data volume — and the
    packed words broadcast as a single array row, with membership tested
    by JVM shift/mask expressions. Scale bound: the bitmap must fit the
    broadcast budget (10^9 seen keys ~ 1 GB); beyond that pass
    bloom=False — the plain anti-join — and let AQE's runtime filters
    do the shuffle pruning instead."""
    out_cols = new_pages.columns
    if not bloom:
        return new_pages.join(seen.select(url_col).distinct(),
                              on=url_col, how="left_anti")
    m = max(64, 8 * int(expected_seen))
    pos = None
    for s in range(n_hashes):
        arm = seen.select(
            F.pmod(F.xxhash64(F.col(url_col), F.lit(s)), F.lit(m))
            .alias("p"))
        pos = arm if pos is None else pos.unionByName(arm)
    words = [0] * ((m + 63) // 64)
    for r in pos.distinct().collect():           # bounded by m, not data
        p = int(r.p)
        words[p // 64] |= 1 << (p % 64)
    # signed-long pack (Spark arrays are long); bit tests are unaffected
    words = [w - (1 << 64) if w >= (1 << 63) else w for w in words]
    spark = new_pages.sparkSession
    bmdf = spark.createDataFrame(pd.DataFrame({"_bm": [words]}), "_bm array<long>")
    tagged = new_pages.crossJoin(F.broadcast(bmdf))
    maybe = None
    for s in range(n_hashes):
        bit = F.expr(
            f"((element_at(_bm, cast(pmod(xxhash64({url_col}, {s}), {m})"
            f" / 64 as int) + 1)"
            f" >> cast(pmod(xxhash64({url_col}, {s}), {m}) % 64 as int))"
            f" & 1) = 1")
        maybe = bit if maybe is None else (maybe & bit)
    tagged = tagged.withColumn("_maybe", maybe)
    clean = tagged.filter(~F.col("_maybe")).select(*out_cols)
    dup_checked = (
        tagged.filter(F.col("_maybe")).select(*out_cols)
        .join(seen.select(url_col).distinct(), on=url_col, how="left_anti")
    )
    return clean.unionByName(dup_checked.select(*out_cols))
