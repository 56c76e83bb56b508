"""Browser-emulator fetch path S4 + keyword param F9 (SURVEY.md §2.1/§2.7).

The reference drives search flows through a Selenium browser: type the
keyword from the task's ``_kw_`` query param, paginate, collect result hrefs
(SeleniumFetcher.java:120-300, search flow 173-260; keyword extraction
SearchScript.java:76-85 via the ``_kw_`` constant, Crawlers.java:88).
Emulator tasks ride a separate backlog queue (EMULATOR_BACKLOG,
Crawlers.java:51) — a second fetch path beside the HTTP fetcher.

Spark-first: the emulator is an ALTERNATE FETCH UDF selected per row
(when/otherwise routing, per SURVEY §2.1 S4).  No browser exists in this
sandbox, so the "browser" is a deterministic scripted renderer: given a
``/search?_kw_=w&page=p`` URL it synthesizes the search-result markup
(result anchors + a next-page link) as a pure function of (keyword, page) —
the same scalar runs in the golden simulator, so routing, extraction,
pagination, and frontier feedback of the emulator path are all pinned by the
fetch-order/URL-seen invariants.  Routing is URL-based (the path
``/search`` or below it) instead of template-based (the reference routes on the task's
``emulator`` map) — documented deviation; observable dataflow matches.
"""

from __future__ import annotations

import hashlib
from typing import Optional

from crawler_spark.functions.urlnorm import java_url_parse, parse_params, url_path

__all__ = [
    "SEARCH_PATH_PREFIX",
    "FEED_PATH_PREFIX",
    "EMULATOR_SCRIPTS",
    "emulator_script",
    "is_emulator_url",
    "search_keyword",
    "search_tools",
    "next_page_attempts",
    "emulate_search_html",
    "emulate_feed_html",
]

SEARCH_PATH_PREFIX = "/search"
FEED_PATH_PREFIX = "/feed"
N_RESULTS = 5
TARGET_SPACE = 1024  # result links land in /p/0../p/1023; unknown pages → NO_CONTENT
TASK_MAX_RETRY = 3  # fetcher.emulator.taskmaxretrycount=3 (application.properties:22)


def emulator_script(url: str):
    """Script-registry dispatch: ``(extractor_name, render_fn)`` for the
    registered script path the URL's path equals or lies under (a ``/``
    boundary: ``/feed/x`` routes, ``/feedback`` does not), else None.

    The reference's emulator is an extensible registry — ``Task.emulator``
    maps script names to WebDriver scripts and ``SearchScript`` is just one
    member (SeleniumFetcher.java:120-300, SearchScript.java:76-85).  This
    table is that registry's Spark twin: adding a script family is one entry
    (prefix → deterministic renderer + extractor name); routing in the fused
    fetch UDF (functions/extract.fetch_parse_udf) and the golden simulator
    both consult it, so every family inherits the engine==simulator gate.
    """
    p = url_path(url)
    if p is None:
        return None
    for prefix, entry in EMULATOR_SCRIPTS.items():
        if p == prefix or p.startswith(prefix + "/"):
            return entry
    return None


def is_emulator_url(url: str) -> bool:
    """Routing predicate: script-registry URLs take the emulator fetch path."""
    return emulator_script(url) is not None


def search_keyword(url: str) -> Optional[str]:
    """F9: the ``_kw_`` query param is the search keyword
    (SearchScript.java:76-85; parse via the quirk-exact parse_params)."""
    return parse_params(url).get("_kw_")


def search_tools(url: str) -> Optional[str]:
    """The search-tools sub-step selector: ``_tools_`` query param names the
    time-range filter the reference's script clicks before reading results
    (searchToolXpath → timeRangeXpath, SeleniumFetcher.java:193-212)."""
    return parse_params(url).get("_tools_")


def next_page_attempts(kw: str, page: int) -> int:
    """Deterministic flakiness of the next-page click reaching ``page``.

    The reference retries the next-page click up to ``taskMaxRetryCount``
    times with visibility waits between tries (SeleniumFetcher.java:229-258,
    cap from application.properties:22).  The scripted browser derives the
    attempts-needed count from md5 so it is a pure function of
    (keyword, page): usually 0 (nibble < 'a'), sometimes 1-2, and with
    probability 1/16 the click never lands inside the cap — the reference's
    exhausted-retry case, where the loop gives up and that results page is
    never read.
    """
    nib = int(hashlib.md5(f"np:{kw}:{page}".encode()).hexdigest()[0], 16)
    if nib < 10:
        return 0
    if nib < 13:
        return 1
    if nib < 15:
        return 2
    return TASK_MAX_RETRY


def emulate_search_html(url: str, scrolled: bool = True) -> Optional[str]:
    """The scripted browser: deterministic search-result markup for a
    ``/search?_kw_=w&page=p[&_tools_=t]`` URL.

    Result j of page p links to ``/p/<md5(w:p:j) % TARGET_SPACE>`` (relative
    hrefs — prepare_url resolves them against the search host, F1); the
    pager emits the next results page, bounded downstream by the page-down
    machinery (O3), exactly like the reference's scripted scroll/paginate
    loop (SeleniumFetcher.java:223-260).  Returns None for a keyword-less
    URL (the reference's script aborts without ``_kw_``).

    Tools sub-step (SeleniumFetcher.java:193-212): when ``_tools_`` is set
    the scripted browser "clicks" the time-range filter before reading
    results — deterministically narrowing page p to the results j whose
    md5(w:p:j:t) leads with nibble < '8' (≈ half survive, a pure function of
    the URL).  Like the real browser's persistent state, the filter rides
    the pagination: the next-page link carries ``_tools_`` forward.

    Scroll sub-step (SeleniumFetcher.java:215,227): the reference scrolls to
    the bottom before reading result anchors on every page — the results
    list lazy-loads and the next-page control sits below the fold.  The
    scripted browser models that DOM: with ``scrolled=False`` (a static
    fetch that never runs the scroll script) only the eager half of the
    rendered results is present and the pager is absent; the emulator fetch
    path always scrolls.  S3/S4 routing is therefore load-bearing — an HTTP
    fetch of a search URL would under-extract.

    Next-page retry (SeleniumFetcher.java:229-258): reaching page ≥ 1 takes
    ``next_page_attempts(kw, page)`` clicks; when that hits the
    ``TASK_MAX_RETRY`` cap the reference's retry loop exhausts and the page
    is never read — modeled by omitting the pager link on the previous page
    (pagination ends there).  Successful retries are surfaced as a
    ``data-retries`` attribute on the pager anchor, so the exported markup
    pins the retry count.
    """
    kw = search_keyword(url)
    if kw is None:
        return None
    params = parse_params(url)
    try:
        page = int(params.get("page", "0"))
    except ValueError:
        page = 0
    tools = search_tools(url)
    items = []
    for j in range(N_RESULTS):
        if (
            tools is not None
            and hashlib.md5(f"{kw}:{page}:{j}:{tools}".encode()).hexdigest()[0] >= "8"
        ):
            continue  # outside the clicked time range
        t = int(hashlib.md5(f"{kw}:{page}:{j}".encode()).hexdigest()[:8], 16) % TARGET_SPACE
        items.append(f'<li><a href="/p/{t}">result {j}</a></li>')
    if not scrolled:
        # lazy DOM: only the above-the-fold half is loaded, no pager visible
        items = items[: (len(items) + 1) // 2]
    u = java_url_parse(url)
    nxt = f"{u.protocol}://{u.host}{SEARCH_PATH_PREFIX}?_kw_={kw}&page={page + 1}"
    if tools is not None:
        nxt += f"&_tools_={tools}"
    caption_tools = f" tools {tools}" if tools is not None else ""
    retries = next_page_attempts(kw, page + 1)
    pager = (
        f'<div class="pager"><a rel="next" href="{nxt}" data-retries="{retries}">next</a></div>'
        if scrolled and retries < TASK_MAX_RETRY
        else ""
    )
    return (
        "<html><body>"
        f'<div class="caption">search: {kw} page {page}{caption_tools}</div>'
        f'<ul class="links">{"".join(items)}</ul>'
        f"{pager}"
        "</body></html>"
    )


FEED_CHUNK_MIN = 2  # feed chunks render 2-4 items per scroll stop


def emulate_feed_html(url: str, scrolled: bool = True) -> Optional[str]:
    """Second script family: an infinite-scroll FEED (``/feed?_kw_=w&
    cursor=c``) — the other canonical browser-script shape (timeline/listing
    pages that append chunks as the user scrolls, with no page numbers).

    Proves the registry generalizes beyond SearchScript: same ``_kw_``
    keyword contract (F9), same lazy-DOM semantics (unscrolled fetches see
    only the eager half of the chunk and no load-more control), but its own
    dataflow shape — variable chunk sizes (2-4 items, md5 of (kw, cursor)),
    cursor-chained continuation instead of numbered pages, and a
    deterministic end-of-feed (md5 nibble of the NEXT cursor ≥ 13, ≈ 3/16)
    rather than a retry cap.  Items link ``/p/<md5(fd:w:c:j) % TARGET_SPACE>``;
    the load-more anchor reuses the pager markup so the generic extraction
    rule drives the continuation through the same frontier feedback (K6).
    """
    kw = search_keyword(url)
    if kw is None:
        return None
    params = parse_params(url)
    try:
        cursor = int(params.get("cursor", "0"))
    except ValueError:
        cursor = 0
    n = FEED_CHUNK_MIN + int(hashlib.md5(f"fdn:{kw}:{cursor}".encode()).hexdigest()[0], 16) % 3
    items = []
    for j in range(n):
        t = int(hashlib.md5(f"fd:{kw}:{cursor}:{j}".encode()).hexdigest()[:8], 16) % TARGET_SPACE
        items.append(f'<li><a href="/p/{t}">item {j}</a></li>')
    if not scrolled:
        # lazy DOM: only the eager half of the chunk, no load-more control
        items = items[: (len(items) + 1) // 2]
    ended = int(hashlib.md5(f"fdend:{kw}:{cursor + 1}".encode()).hexdigest()[0], 16) >= 13
    u = java_url_parse(url)
    pager = ""
    if scrolled and not ended:
        nxt = f"{u.protocol}://{u.host}{FEED_PATH_PREFIX}?_kw_={kw}&cursor={cursor + 1}"
        pager = f'<div class="pager"><a rel="next" href="{nxt}">more</a></div>'
    return (
        "<html><body>"
        f'<div class="caption">feed: {kw} cursor {cursor}</div>'
        f'<ul class="links">{"".join(items)}</ul>'
        f"{pager}"
        "</body></html>"
    )


# The registry itself (defined after the renderers): prefix → (extractor,
# render).  Order matters only for overlapping prefixes; these are disjoint.
EMULATOR_SCRIPTS = {
    SEARCH_PATH_PREFIX: ("search", emulate_search_html),
    FEED_PATH_PREFIX: ("feed", emulate_feed_html),
}


# NOTE: the renderers enter Spark plans through the fused fetch-parse UDF
# (functions/extract.fetch_parse_udf) — one Python hop per round, no
# standalone wrapper.
