"""Sitemap-protocol seed source (sitemaps.org — the public spec).

The web-native counterpart of the reference's seed files
(LocalFilePlanner.java:55-81 reads id-per-line objects): real crawls
bootstrap their frontier from ``/sitemap.xml`` documents advertised by
``Sitemap:`` lines in robots.txt (RFC 9309 §2.3 allows the directive
outside user-agent groups; sitemaps.org defines the XML).  Two document
kinds:

* ``<urlset>`` — leaf: ``<url><loc/><lastmod/><changefreq/><priority/>``
* ``<sitemapindex>`` — one level of ``<sitemap><loc/>`` children pointing
  at further sitemap documents (the spec nests indexes; expansion below is
  depth-bounded and cycle-safe)

Spec limits enforced: ≤ 50,000 entries per document (extra entries are
dropped and the row is flagged ``truncated``); gzip-compressed documents
(``.xml.gz``) are transparently inflated.  Parsing is stdlib
``xml.etree`` on a per-document pandas batch (documents are fetched
payloads — the same raw-body ingestion shape as
``functions.robots.robots_table_from_bodies``); malformed XML yields zero
entries, never an executor raise.

Scale: sitemap bodies are one row per document (hosts × O(1) documents —
millions of rows at web scale, not billions), exploded into entry rows by a
vectorized Arrow batch pass.  Index expansion is a driver-side loop of
``max_depth`` hash joins against the body table keyed by URL — each level
is one shuffle of (url) strings, and the visited-set anti-join makes
cyclic indexes terminate.  Seed numbering rides the scale-safe
``operators.ordering.global_row_number`` (range shuffle + offsets, never a
single-partition window).
"""

from __future__ import annotations

import gzip
import zlib

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

__all__ = [
    "parse_sitemap",
    "sitemap_entries",
    "expand_sitemap_tree",
    "seeds_from_sitemaps",
    "fixture_seed_table",
    "roots_from_robots",
]

MAX_ENTRIES = 50_000  # sitemaps.org: "no more than 50,000 URLs"


def _w3c_epoch(s: str | None) -> float | None:
    """W3C datetime (the spec's lastmod format) → epoch seconds, UTC.

    Accepts the date-only and full forms (``2004-06-04``,
    ``2004-06-04T18:02:33+00:00`` / ``...Z``); anything else → None.
    """
    if not isinstance(s, str) or not s.strip():
        return None
    import datetime as dt

    s = s.strip()
    try:
        if len(s) == 10:
            d = dt.datetime.strptime(s, "%Y-%m-%d")
            return d.replace(tzinfo=dt.timezone.utc).timestamp()
        t = dt.datetime.fromisoformat(s.replace("Z", "+00:00"))
        if t.tzinfo is None:
            t = t.replace(tzinfo=dt.timezone.utc)
        return t.timestamp()
    except ValueError:
        return None


def _local(tag: str) -> str:
    return tag.rsplit("}", 1)[-1].lower()


def parse_sitemap(data: bytes | str | None) -> dict:
    """One sitemap document → ``{kind, entries, truncated}``.

    ``kind`` is ``'urlset'``, ``'sitemapindex'`` or None (malformed/empty);
    each entry is ``{loc, lastmod (epoch|None), changefreq, priority}``
    (index entries carry loc/lastmod only).  Gzip bodies are inflated;
    every malformation degrades to fewer entries, never an exception.
    """
    import xml.etree.ElementTree as ET

    out = {"kind": None, "entries": [], "truncated": False}
    if data is None:
        return out
    if isinstance(data, str):
        data = data.encode("utf-8", "replace")
    if data[:2] == b"\x1f\x8b":
        # gzip.decompress signals corruption three ways: BadGzipFile
        # (OSError) for header damage, EOFError for truncation, zlib.error
        # for a corrupt deflate stream — all degrade to "no entries".
        try:
            data = gzip.decompress(data)
        except (OSError, EOFError, zlib.error):
            return out
    # Hostile-input guard: xml.etree expands internal DTD entities, so a
    # crafted sitemap with nested entity definitions (billion laughs) costs
    # exponential memory before ParseError can fire.  Entities are only
    # definable through a DTD and no conforming sitemap carries one
    # (sitemaps.org documents are plain urlset/sitemapindex), so any
    # document with a DOCTYPE is treated as malformed outright.  The XML
    # keyword is case-sensitive, one uppercase byte-scan suffices.
    if b"<!DOCTYPE" in data:
        return out
    try:
        root = ET.fromstring(data)
    except ET.ParseError:
        return out
    kind = _local(root.tag)
    if kind not in ("urlset", "sitemapindex"):
        return out
    out["kind"] = kind
    child_tag = "url" if kind == "urlset" else "sitemap"
    for el in root:
        if _local(el.tag) != child_tag:
            continue
        fields = {_local(c.tag): (c.text or "").strip() for c in el}
        loc = fields.get("loc")
        if not loc:
            continue
        if len(out["entries"]) >= MAX_ENTRIES:
            out["truncated"] = True
            break
        prio = None
        if kind == "urlset":
            try:
                prio = float(fields["priority"])
            except (KeyError, ValueError):
                prio = None
            # sitemaps.org: "valid values range from 0.0 to 1.0" — anything
            # outside (including NaN/inf, which would hijack the frontier's
            # priority-DESC ordering) degrades to the 0.5 default like any
            # other malformed field.  NaN fails the chained comparison.
            if prio is not None and not (0.0 <= prio <= 1.0):
                prio = None
        out["entries"].append({
            "loc": loc,
            "lastmod": _w3c_epoch(fields.get("lastmod")),
            "changefreq": fields.get("changefreq") or None,
            "priority": prio,
        })
    return out


def sitemap_entries(bodies: DataFrame, url_col: str = "url",
                    body_col: str = "body") -> DataFrame:
    """Explode sitemap documents into entry rows.

    Output: ``(sitemap_url, kind, truncated, loc, lastmod double,
    changefreq, priority double)`` — one row per entry, zero rows for
    malformed documents.  Arrow-batched ``mapInPandas`` (the bodies are
    already the row payload; no per-row Python UDF).
    """
    cols = [url_col, body_col]

    def _explode(it):
        import pandas as pd

        for pdf in it:
            rows = []
            for u, b in zip(pdf[cols[0]], pdf[cols[1]]):
                p = parse_sitemap(bytes(b) if isinstance(b, (bytes, bytearray))
                                  else b)
                for e in p["entries"]:
                    rows.append((u, p["kind"], p["truncated"], e["loc"],
                                 e["lastmod"], e["changefreq"], e["priority"]))
            yield pd.DataFrame(rows, columns=[
                "sitemap_url", "kind", "truncated", "loc", "lastmod",
                "changefreq", "priority"])

    return bodies.select(*cols).mapInPandas(_explode, schema=(
        "sitemap_url string, kind string, truncated boolean, loc string, "
        "lastmod double, changefreq string, priority double"))


def expand_sitemap_tree(bodies: DataFrame, roots: DataFrame,
                        max_depth: int = 3, url_col: str = "url",
                        body_col: str = "body") -> DataFrame:
    """Resolve sitemapindex nesting from ``roots`` (a DF of ``url``) down to
    leaf urlset entries.

    Per level: entries of the current frontier's documents; urlset rows
    accumulate, sitemapindex rows become the next frontier (anti-joined
    against every already-visited sitemap URL, so cycles and shared
    children terminate).  ``max_depth`` bounds the driver loop — the spec
    nests one level in practice; depth is a safety valve, not a tuning
    knob.
    """
    # checkpoint once: every expansion level AND the returned leaves union
    # re-reference this plan — uncached, the full-corpus XML parse would
    # re-run ~2×max_depth times instead of once
    entries = sitemap_entries(bodies, url_col, body_col).localCheckpoint()
    visited = roots.select(F.col("url")).distinct().localCheckpoint()
    frontier = visited
    leaves = None
    for _ in range(int(max_depth)):
        lvl = frontier.join(
            entries, frontier["url"] == entries["sitemap_url"], "inner"
        ).select(entries["*"])
        leaf = lvl.filter(F.col("kind") == "urlset")
        leaves = leaf if leaves is None else leaves.unionByName(leaf)
        nxt = (
            lvl.filter(F.col("kind") == "sitemapindex")
            .select(F.col("loc").alias("url")).distinct()
            .join(visited, "url", "left_anti")
            .localCheckpoint()
        )
        if nxt.isEmpty():
            break
        visited = visited.unionByName(nxt).localCheckpoint()
        frontier = nxt
    return leaves if leaves is not None else entries.limit(0)


def seeds_from_sitemaps(leaves: DataFrame) -> DataFrame:
    """Leaf entries → the engine's seed table ``(seed_id string, url)``.

    Order (the crawl priority the protocol implies): priority DESC (absent
    → the spec default 0.5), lastmod DESC (fresher first, absent last),
    then URL — fully deterministic; duplicate locs keep their best
    (priority, lastmod).  Numbering is the distributed total-order operator
    (range shuffle + per-partition offsets).
    """
    from crawler_spark.operators.ordering import seed_contract_table

    best = (
        leaves.withColumn("_eff_prio", F.coalesce("priority", F.lit(0.5)))
        .groupBy(F.col("loc").alias("url"))
        .agg(F.max("_eff_prio").alias("_prio"),
             F.coalesce(F.max("lastmod"), F.lit(float("-inf"))).alias("_lm"))
        .withColumn("_prio_neg", -F.col("_prio"))
        .withColumn("_lm_neg", -F.col("_lm"))
    )
    return seed_contract_table(best, ["_prio_neg", "_lm_neg", "url"],
                               minimal=True)


def roots_from_robots(robots: DataFrame,
                      body_col: str = "robots_txt") -> DataFrame:
    """Per-host robots.txt bodies → distinct sitemap root URLs (one ``url``
    column) via the RFC 9309 §2.3 ``Sitemap:`` directive — the discovery
    step a real crawl runs before any sitemap fetch.  Arrow-batched; a host
    with no directive (or a NULL/garbage body) contributes zero rows.
    """
    def _extract(it):
        import pandas as pd

        from crawler_spark.functions.robots import robots_sitemaps

        for pdf in it:
            urls = []
            for body in pdf[body_col]:
                if isinstance(body, (bytes, bytearray)):
                    body = bytes(body).decode("utf-8", "replace")
                urls.extend(robots_sitemaps(body))
            yield pd.DataFrame({"url": urls})

    return robots.select(body_col).mapInPandas(
        _extract, schema="url string").distinct()


def fixture_seed_table(spark: SparkSession, fix_dir: str,
                       max_depth: int = 2) -> DataFrame:
    """Resolve a fixture's ``sitemaps.parquet`` into the seed table.

    The discovery chain a real crawl walks: the root sitemapindex → per-host
    urlset documents → seed rows.  ``fixtures.generate`` encodes seed order
    in lastmod, so the result is bit-equal to ``seeds.parquet``'s
    (seed_id, url) — pinned in tests; sitemap seeds carry no cookies (the
    protocol has no such field), so cookie-seeded fixtures must use the file
    source.
    """
    import os

    bodies = spark.read.parquet(os.path.join(fix_dir, "sitemaps.parquet"))
    roots = bodies.filter(F.col("url").endswith("/sitemap-index.xml")) \
        .select("url")
    return seeds_from_sitemaps(
        expand_sitemap_tree(bodies, roots, max_depth=max_depth))


def robots_seed_table(spark: SparkSession, fix_dir: str) -> DataFrame:
    """Resolve a fixture through the full web-native discovery chain:
    robots.txt bodies → RFC 9309 ``Sitemap:`` directives → sitemap tree →
    seed rows (the order a real crawl runs in).  Needs a raw-body
    ``robots.parquet`` (``robots_txt`` column); like
    :func:`fixture_seed_table`, the result feeds ``CrawlEngine(seeds_df=)``.
    """
    import os

    raw = spark.read.parquet(os.path.join(fix_dir, "robots.parquet"))
    if "robots_txt" not in raw.columns:
        raise ValueError(
            "robots_seed_table needs a raw-body robots.parquet "
            "(robots_txt column) carrying Sitemap: directives")
    bodies = spark.read.parquet(os.path.join(fix_dir, "sitemaps.parquet"))
    return seeds_from_sitemaps(expand_sitemap_tree(bodies, roots_from_robots(raw)))
