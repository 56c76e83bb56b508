"""Unit tests for the emulator fetch path S4 + keyword param F9
(functions.emulator): routing predicate, keyword extraction, deterministic
search rendering, pagination chaining, and extraction compatibility."""

from pyspark.sql import functions as F

from crawler_spark.fixtures import DEFAULT_RULES
from crawler_spark.functions.emulator import (
    emulate_search_html,
    is_emulator_url,
    search_keyword,
)
from crawler_spark.functions.extract import extract_all

RULES = {r["extractor"]: r for r in DEFAULT_RULES}


def test_routing_predicate():
    assert is_emulator_url("http://h0.example.com/search?_kw_=fox&page=0") is True
    assert is_emulator_url("http://h0.example.com/search/more?_kw_=fox") is True
    assert is_emulator_url("http://h0.example.com/feed?_kw_=fox&cursor=0") is True
    # a script path routes only whole: at its end or a "/" boundary
    for path in ("/searchlight", "/searchable", "/feedback", "/feeds/1"):
        assert is_emulator_url(f"http://h0.example.com{path}?_kw_=fox") is False
    assert is_emulator_url("http://h0.example.com/p/7") is False
    assert is_emulator_url("not a url") is False


def test_keyword_param_f9():
    assert search_keyword("http://h/search?_kw_=fox&page=0") == "fox"
    assert search_keyword("http://h/search?page=0") is None
    # quirk parity: trailing-empty split drops '_kw_=' entirely (Java split)
    assert search_keyword("http://h/search?_kw_=") is None


def test_render_is_deterministic_and_paginates():
    u = "http://h3.example.com/search?_kw_=fox&page=1"
    h1, h2 = emulate_search_html(u), emulate_search_html(u)
    assert h1 == h2
    links, nxt, anti, records = extract_all(h1, "search", RULES)
    assert len(records) == 5 and len(links) == 5
    assert all(ln.startswith("/p/") for ln in links)
    assert nxt == "http://h3.example.com/search?_kw_=fox&page=2"
    assert anti is False
    # a different page yields different results
    other = emulate_search_html("http://h3.example.com/search?_kw_=fox&page=2")
    assert extract_all(other, "search", RULES)[0] != links


def test_keywordless_search_renders_nothing():
    assert emulate_search_html("http://h/search?page=0") is None


def test_tools_substep_narrows_and_rides_pagination():
    """SeleniumFetcher.java:193-212: clicking the time-range tool narrows the
    result set deterministically; the filter state persists across next-page
    (the scripted browser keeps the clicked tool, so the pager link must
    carry ``_tools_`` forward)."""
    plain = "http://h3.example.com/search?_kw_=fox&page=0"
    tooled = "http://h3.example.com/search?_kw_=fox&page=0&_tools_=1m"
    plain_links, _, _, _ = extract_all(emulate_search_html(plain), "search", RULES)
    tooled_links, nxt, _, _ = extract_all(emulate_search_html(tooled), "search", RULES)
    assert set(tooled_links) <= set(plain_links)
    assert 0 < len(tooled_links) < len(plain_links)
    assert nxt == "http://h3.example.com/search?_kw_=fox&page=1&_tools_=1m"
    # deterministic: same URL, same narrowed set
    assert extract_all(emulate_search_html(tooled), "search", RULES)[0] == tooled_links
    # a different tool value narrows differently (the filter is real input)
    other = "http://h3.example.com/search?_kw_=fox&page=0&_tools_=1y"
    assert extract_all(emulate_search_html(other), "search", RULES)[0] != tooled_links


def test_scroll_substep_lazy_dom():
    """SeleniumFetcher.java:215,227: the reference scrolls to the bottom
    before reading anchors — the scripted DOM lazy-loads, so an unscrolled
    (static) read sees only the eager half and no pager.  This makes the
    S3/S4 routing load-bearing: an HTTP fetch of a search URL under-extracts."""
    u = "http://h3.example.com/search?_kw_=fox&page=1"
    full_links, full_next, _, _ = extract_all(emulate_search_html(u), "search", RULES)
    lazy_links, lazy_next, _, _ = extract_all(
        emulate_search_html(u, scrolled=False), "search", RULES
    )
    assert len(full_links) == 5 and full_next is not None
    assert lazy_links == full_links[: (len(full_links) + 1) // 2]
    assert lazy_next is None


def test_next_page_retry_loop_and_exhaustion():
    """SeleniumFetcher.java:229-258 + application.properties:22: the next-page
    click takes a deterministic number of retries; the pager anchor carries it
    as data-retries, and when the cap (3) is exhausted the pager is absent —
    pagination dies exactly where the reference's retry loop gives up."""
    from crawler_spark.functions.emulator import TASK_MAX_RETRY, next_page_attempts

    # retries within the cap: pager present and annotated
    h = emulate_search_html("http://h/search?_kw_=fox&page=0")
    a = next_page_attempts("fox", 1)
    assert a < TASK_MAX_RETRY
    assert f'data-retries="{a}"' in h
    _, nxt, _, _ = extract_all(h, "search", RULES)
    assert nxt == "http://h/search?_kw_=fox&page=1"
    # exhausted: md5-nibble of ("a", page 1) >= 15 -> no pager on page 0
    assert next_page_attempts("a", 1) == TASK_MAX_RETRY
    h0 = emulate_search_html("http://h/search?_kw_=a&page=0")
    assert "pager" not in h0 and extract_all(h0, "search", RULES)[1] is None
    # attempts are a pure function of (kw, page)
    assert next_page_attempts("fox", 1) == a


# ---------------------------------------------------------------- feed script


def test_script_registry_dispatch():
    from crawler_spark.functions.emulator import (
        emulate_feed_html,
        emulate_search_html,
        emulator_script,
        is_emulator_url,
    )

    assert emulator_script("http://h/search?_kw_=fox")[0] == "search"
    assert emulator_script("http://h/search?_kw_=fox")[1] is emulate_search_html
    assert emulator_script("http://h/feed?_kw_=tree&cursor=0")[0] == "feed"
    assert emulator_script("http://h/feed?_kw_=tree&cursor=0")[1] is emulate_feed_html
    assert emulator_script("http://h/p/17") is None
    assert is_emulator_url("http://h/feed?_kw_=tree") is True


def test_feed_deterministic_and_chunked():
    from crawler_spark.functions.emulator import FEED_CHUNK_MIN, emulate_feed_html

    u = "http://h3.example.com/feed?_kw_=tree&cursor=1"
    h1, h2 = emulate_feed_html(u), emulate_feed_html(u)
    assert h1 == h2
    n_items = h1.count("<li>")
    assert FEED_CHUNK_MIN <= n_items <= FEED_CHUNK_MIN + 2
    assert "feed: tree cursor 1" in h1


def test_feed_keywordless_aborts():
    from crawler_spark.functions.emulator import emulate_feed_html

    assert emulate_feed_html("http://h/feed?cursor=0") is None


def test_feed_lazy_dom_halves_chunk_and_hides_loadmore():
    from crawler_spark.functions.emulator import emulate_feed_html

    u = "http://h/feed?_kw_=tree&cursor=0"
    full = emulate_feed_html(u, scrolled=True)
    lazy = emulate_feed_html(u, scrolled=False)
    n_full, n_lazy = full.count("<li>"), lazy.count("<li>")
    assert n_lazy == (n_full + 1) // 2
    assert 'class="pager"' not in lazy


def test_feed_terminates_deterministically():
    """Following load-more links must hit the md5 end-of-feed within a
    bounded number of cursors for every fixture keyword."""
    import hashlib

    from crawler_spark.functions.emulator import emulate_feed_html

    for kw in ("tree", "rock", "fox"):
        cursor, hops = 0, 0
        while True:
            html = emulate_feed_html(f"http://h/feed?_kw_={kw}&cursor={cursor}")
            if 'class="pager"' not in html:
                break
            cursor += 1
            hops += 1
            assert hops < 200, "feed never terminated"
        # the end matches the documented md5 rule for the NEXT cursor
        assert int(hashlib.md5(f"fdend:{kw}:{cursor + 1}".encode()).hexdigest()[0], 16) >= 13


def test_feed_extraction_compatible_with_generic_rule():
    from crawler_spark.functions.emulator import emulate_feed_html
    from crawler_spark.functions.extract import extract_all

    rules = {
        "feed": {
            "list_sel": "ul.links li a",
            "field_sels": ["self@href", "self:text"],
            "next_sel": "div.pager a",
            "anti_marker": "Robot check",
        }
    }
    html = emulate_feed_html("http://h/feed?_kw_=tree&cursor=0")
    links, nxt, anti, recs = extract_all(html, "feed", rules)
    assert links and all(l.startswith("/p/") for l in links)
    assert nxt == "http://h/feed?_kw_=tree&cursor=1" or nxt is None
    assert not anti


def test_prefix_lookalike_paths_take_http_path(spark):
    """/feedback and /searchable are ordinary pages: the fused fetch-parse
    UDF parses their fetched body with their own extractor instead of
    rendering an emulator script (which, lacking a usable page, would
    record a failed fetch)."""
    from crawler_spark.functions.extract import fetch_parse_udf

    html = '<html><body><ul class="links"><li><a href="/p/1">x</a></li></ul></body></html>'
    rows = [
        ("http://h0.example.com/feedback", html),
        ("http://h0.example.com/searchable", html),
        ("http://h0.example.com/feed?_kw_=fox&cursor=0", None),
    ]
    df = spark.createDataFrame(rows, "url string, content string")
    out = df.select(
        "url",
        fetch_parse_udf(RULES)(
            "url", F.lit(None).cast("string"), "content", F.lit("paging"), F.lit("")
        ).alias("r"),
    ).collect()
    got = {r.url: (r.r.known, r.r.extractor, list(r.r.links)) for r in out}
    for path in ("/feedback", "/searchable"):
        known, extractor, links = got[f"http://h0.example.com{path}"]
        assert known and extractor == "paging"
        assert links == ["/p/1"]
    assert got["http://h0.example.com/feed?_kw_=fox&cursor=0"][1] == "feed"
