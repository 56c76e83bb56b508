"""Sitemap-protocol seed source (sources/sitemaps.py + robots Sitemap:).

Pins: urlset/sitemapindex parsing (namespaced + bare), W3C lastmod forms,
gzip bodies, the 50k spec cap, malformed-never-raises, cycle-safe index
expansion, deterministic seed numbering, and the robots.txt directive.
"""

import gzip

import pytest

from crawler_spark.functions.robots import robots_sitemaps
from crawler_spark.sources.sitemaps import (
    MAX_ENTRIES,
    expand_sitemap_tree,
    fixture_seed_table,
    parse_sitemap,
    robots_seed_table,
    seeds_from_sitemaps,
    sitemap_entries,
)

_NS = 'xmlns="http://www.sitemaps.org/schemas/sitemap/0.9"'


def _urlset(urls, ns=True, extras=()):
    rows = []
    for i, u in enumerate(urls):
        extra = extras[i] if i < len(extras) else ""
        rows.append(f"<url><loc>{u}</loc>{extra}</url>")
    return f"<urlset {_NS if ns else ''}>{''.join(rows)}</urlset>"


def _index(locs):
    rows = "".join(f"<sitemap><loc>{u}</loc></sitemap>" for u in locs)
    return f"<sitemapindex {_NS}>{rows}</sitemapindex>"


def test_parse_urlset_fields():
    xml = _urlset(
        ["http://a/1", "http://a/2", "http://a/3"],
        extras=["<lastmod>2004-06-04</lastmod><priority>0.8</priority>"
                "<changefreq>daily</changefreq>",
                "<lastmod>2004-06-04T18:02:33+00:00</lastmod>",
                "<priority>not-a-number</priority>"])
    p = parse_sitemap(xml)
    assert p["kind"] == "urlset" and not p["truncated"]
    e = p["entries"]
    assert [x["loc"] for x in e] == ["http://a/1", "http://a/2", "http://a/3"]
    assert e[0]["priority"] == 0.8 and e[0]["changefreq"] == "daily"
    assert e[0]["lastmod"] == 1086307200.0  # 2004-06-04 UTC
    assert e[1]["lastmod"] == 1086372153.0  # 18:02:33Z
    assert e[2]["priority"] is None and e[2]["lastmod"] is None


def test_parse_gzip_and_bare_namespace():
    xml = _urlset(["http://b/x"], ns=False)
    p = parse_sitemap(gzip.compress(xml.encode()))
    assert p["kind"] == "urlset" and p["entries"][0]["loc"] == "http://b/x"


def test_parse_index():
    p = parse_sitemap(_index(["http://h/s1.xml", "http://h/s2.xml"]))
    assert p["kind"] == "sitemapindex"
    assert [e["loc"] for e in p["entries"]] == ["http://h/s1.xml",
                                                "http://h/s2.xml"]


@pytest.mark.parametrize("bad", [
    None, "", b"\x1f\x8bnot-gzip", "<html>nope</html>", "<urlset><url>",
    "<urlset><url><loc></loc></url></urlset>"])
def test_malformed_never_raises(bad):
    p = parse_sitemap(bad)
    assert p["entries"] == []


def test_spec_cap_50k():
    xml = _urlset([f"http://c/{i}" for i in range(MAX_ENTRIES + 5)])
    p = parse_sitemap(xml)
    assert len(p["entries"]) == MAX_ENTRIES and p["truncated"]


def test_robots_sitemap_directive():
    body = ("User-agent: *\nDisallow: /private\n"
            "Sitemap: http://h/sitemap.xml\n"
            "sitemap:http://h/other.xml # comment\n"
            "Sitemap: http://h/sitemap.xml\n")
    assert robots_sitemaps(body) == ["http://h/sitemap.xml",
                                     "http://h/other.xml"]
    assert robots_sitemaps(None) == [] and robots_sitemaps("junk") == []


def _bodies(spark):
    """Fetched sitemap payloads as binary rows (the raw-body ingest shape)."""
    rows = [
        ("http://h/root.xml", _index(["http://h/a.xml", "http://h/b.xml",
                                      "http://h/root.xml"]).encode()),  # self-cycle
        ("http://h/a.xml", _urlset(
            ["http://h/p1", "http://h/p2"],
            extras=["<priority>0.9</priority>",
                    "<lastmod>2020-01-02</lastmod>"]).encode()),
        ("http://h/b.xml", _index(["http://h/c.xml", "http://h/a.xml"]).encode()),
        ("http://h/c.xml", gzip.compress(_urlset(
            ["http://h/p2", "http://h/p3"],
            extras=["<priority>0.4</priority>", ""]).encode())),
        ("http://h/orphan.xml", _urlset(["http://h/zz"]).encode()),
        ("http://h/broken.xml", b"<urlset><url></urlset>"),
    ]
    return spark.createDataFrame(rows, "url string, body binary")


def test_entries_and_tree_expansion(spark):
    bodies = _bodies(spark)
    roots = spark.createDataFrame([("http://h/root.xml",)], "url string")
    leaves = expand_sitemap_tree(bodies, roots, max_depth=4).collect()
    # a.xml reached once (from root AND b — visited-set dedups), c via b,
    # orphan/broken unreachable, root's self-reference terminates
    got = sorted((r.sitemap_url, r.loc) for r in leaves)
    assert got == [("http://h/a.xml", "http://h/p1"),
                   ("http://h/a.xml", "http://h/p2"),
                   ("http://h/c.xml", "http://h/p2"),
                   ("http://h/c.xml", "http://h/p3")]


def test_seeds_ordering_and_determinism(spark):
    bodies = _bodies(spark)
    roots = spark.createDataFrame([("http://h/root.xml",)], "url string")
    leaves = expand_sitemap_tree(bodies, roots, max_depth=4)
    seeds = seeds_from_sitemaps(leaves).collect()
    # p1 prio .9 first; p2 keeps best prio (default .5 vs .4 → .5) and its
    # lastmod; p3 default .5, no lastmod → after p2
    assert [(r.seed_id, r.url) for r in sorted(seeds, key=lambda r: int(r.seed_id))] == [
        ("0", "http://h/p1"), ("1", "http://h/p2"), ("2", "http://h/p3")]
    again = seeds_from_sitemaps(expand_sitemap_tree(bodies, roots, 4)).collect()
    assert sorted(map(tuple, again)) == sorted(map(tuple, seeds))


def test_entries_count_including_unreachable(spark):
    n = sitemap_entries(_bodies(spark)).filter("kind = 'urlset'").count()
    assert n == 5  # a(2) + c gz(2) + orphan(1); broken contributes 0


def test_fixture_sitemaps_reproduce_seed_table(spark, tmp_path_factory):
    """The generated sitemap tree resolves to EXACTLY seeds.parquet —
    lastmod-encoded ordering survives index expansion and renumbering."""
    import os

    from crawler_spark.fixtures import generate

    fix = str(tmp_path_factory.mktemp("sm_fix"))
    generate(fix, n_pages=96, n_hosts=5, seed=13)
    want = sorted(
        (r.seed_id, r.url) for r in
        spark.read.parquet(os.path.join(fix, "seeds.parquet"))
        .select("seed_id", "url").collect())
    got = sorted(map(tuple, fixture_seed_table(spark, fix).collect()))
    assert got == want


def test_engine_sitemap_bootstrap_matches_file_seeds(spark, tmp_path_factory):
    """A crawl seeded from the sitemap tree reproduces the file-seeded crawl
    exactly (fetch ordering + URL-seen membership)."""
    from crawler_spark.fixtures import generate
    from crawler_spark.plans.engine import CrawlEngine
    from crawler_spark.plans.policy import CrawlConfig

    fix = str(tmp_path_factory.mktemp("sm_eng_fix"))
    generate(fix, n_pages=72, n_hosts=4, seed=17)
    runs = {}
    for src, seeds in (("files", None), ("sitemaps", fixture_seed_table(spark, fix))):
        eng = CrawlEngine(spark, fix,
                          str(tmp_path_factory.mktemp(f"sm_ckpt_{src}")),
                          CrawlConfig(max_rounds=6), seeds_df=seeds)
        eng.run()
        runs[src] = (
            sorted((r.round, r.host, r.rank, r.url, r.status)
                   for r in eng.fetch_log().collect()),
            sorted(r.url for r in eng.url_seen().collect()),
        )
    assert runs["sitemaps"] == runs["files"]


def test_engine_robots_discovery_chain(spark, tmp_path_factory):
    """robots_seed_table: robots.txt Sitemap: directives → sitemap tree →
    seeds, reproducing the file-seeded crawl exactly — the full web-native
    discovery chain in one run."""
    import os
    import shutil

    from crawler_spark.fixtures import generate
    from crawler_spark.functions.robots import write_robots_txt
    from crawler_spark.plans.engine import CrawlEngine
    from crawler_spark.plans.policy import CrawlConfig

    fix = str(tmp_path_factory.mktemp("rb_fix"))
    generate(fix, n_pages=72, n_hosts=4, seed=19)
    # rewrite robots.parquet as raw bodies carrying each host's Sitemap lines
    raw_fix = str(tmp_path_factory.mktemp("rb_rawfix"))
    shutil.copytree(fix, raw_fix, dirs_exist_ok=True)
    sm_urls = [r.url for r in spark.read.parquet(
        os.path.join(fix, "sitemaps.parquet")).select("url").collect()]
    by_host = {}
    for u in sm_urls:
        if not u.endswith("sitemap-index.xml"):
            by_host.setdefault(u.split("/")[2], []).append(u)
    structured = spark.read.parquet(os.path.join(fix, "robots.parquet")).collect()
    raw_rows = [
        (r.host, write_robots_txt(list(r.disallow_prefixes), r.crawl_delay_s,
                                  sitemaps=sorted(by_host.get(r.host, []))))
        for r in structured
    ]
    spark.createDataFrame(raw_rows, "host string, robots_txt string").coalesce(
        1).write.mode("overwrite").parquet(os.path.join(raw_fix, "robots.parquet"))

    with pytest.raises(ValueError, match="raw-body robots.parquet"):
        robots_seed_table(spark, fix)
    runs = {}
    for src, d, seeds in (("files", fix, None),
                          ("robots", raw_fix, robots_seed_table(spark, raw_fix))):
        eng = CrawlEngine(spark, d, str(tmp_path_factory.mktemp(f"rb_ck_{src}")),
                          CrawlConfig(max_rounds=6), seeds_df=seeds)
        eng.run()
        runs[src] = sorted((r.round, r.host, r.rank, r.url, r.status)
                           for r in eng.fetch_log().collect())
    assert runs["robots"] == runs["files"] and len(runs["files"]) > 0


# ---------------------------------------------------------------------------
# Hostile-input hardening + hypothesis fuzz (same discipline as the WARC
# framing fuzz in test_warc.py): the parser's documented contract is
# "every malformation degrades to fewer entries, never an exception".
# ---------------------------------------------------------------------------

from xml.sax.saxutils import escape  # noqa: E402

from hypothesis import given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402


def test_dtd_rejected_before_entity_expansion():
    # Classic billion-laughs shape: 10 levels of 10-way entity nesting would
    # expand to 10^10 bytes inside xml.etree if the DTD were parsed.  The
    # DOCTYPE byte-scan must reject it without touching expat.
    ents = ['<!ENTITY l0 "lol">'] + [
        f'<!ENTITY l{i} "{"&l%d;" % (i - 1) * 10}">' for i in range(1, 10)
    ]
    bomb = ('<?xml version="1.0"?><!DOCTYPE lolz [' + "".join(ents) + "]>"
            f'<urlset {_NS}><url><loc>&l9;</loc></url></urlset>')
    p = parse_sitemap(bomb)
    assert p["kind"] is None and p["entries"] == []
    # Any DOCTYPE is treated as malformed, even a harmless one: no
    # conforming sitemap carries a DTD.
    benign = ("<!DOCTYPE urlset SYSTEM 'x.dtd'>"
              + _urlset(["http://h/p"]))
    assert parse_sitemap(benign)["entries"] == []


def test_truncated_gzip_degrades():
    whole = gzip.compress(_urlset(["http://h/p1", "http://h/p2"]).encode())
    assert parse_sitemap(whole)["entries"]  # sanity: intact body parses
    for cut in (4, 10, len(whole) - 3):  # header / mid-deflate / no trailer
        assert parse_sitemap(whole[:cut])["entries"] == []


def test_priority_out_of_spec_degrades():
    xml = _urlset(
        ["http://a/1", "http://a/2", "http://a/3", "http://a/4"],
        extras=["<priority>NaN</priority>", "<priority>inf</priority>",
                "<priority>1.5</priority>", "<priority>-0.1</priority>"])
    assert all(e["priority"] is None
               for e in parse_sitemap(xml)["entries"])


def _shape_ok(p):
    assert p["kind"] in (None, "urlset", "sitemapindex")
    assert isinstance(p["truncated"], bool)
    for e in p["entries"]:
        assert e["loc"]
        assert e["lastmod"] is None or isinstance(e["lastmod"], float)
        assert e["priority"] is None or 0.0 <= e["priority"] <= 1.0


@settings(max_examples=150, deadline=None)
@given(data=st.one_of(st.binary(max_size=2048), st.text(max_size=2048)))
def test_fuzz_arbitrary_input_never_raises(data):
    _shape_ok(parse_sitemap(data))


_loc = st.text(
    alphabet="abcz019:/.-_%~?=&", min_size=1, max_size=40,
).map(str.strip).filter(bool)


@settings(max_examples=100, deadline=None)
@given(urls=st.lists(_loc, min_size=1, max_size=12),
       gz=st.booleans(),
       cut=st.one_of(st.none(), st.integers(min_value=0, max_value=4096)))
def test_fuzz_wellformed_roundtrip_and_truncation(urls, gz, cut):
    body = _urlset([escape(u) for u in urls]).encode()
    if gz:
        body = gzip.compress(body, mtime=0)
    if cut is None:
        p = parse_sitemap(body)
        assert [e["loc"] for e in p["entries"]] == urls
        _shape_ok(p)
    else:
        # Any prefix of a valid body parses to a (possibly empty) prefix of
        # the original entries — degradation, never an exception.
        p = parse_sitemap(body[:cut])
        _shape_ok(p)
        assert [e["loc"] for e in p["entries"]] == urls[: len(p["entries"])]
