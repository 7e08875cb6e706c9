"""JS-rendering fetch slot — the browser-engine fetcher family.

Reference surface:

* ``crawler/web/src/main/java/com/norconex/crawler/web/fetch/impl/
  playwright/PlaywrightFetcher.java`` (page.goto -> wait ->
  early/late page scripts -> page.content(); lines 392-463 capture the
  real HTTP status + headers from the navigation response) and
  ``PlaywrightFetcherConfig.java:51-199`` (browser/headless/timeouts/
  waitForElementSelector/early-late scripts/windowSize).
* ``crawler/core/src/main/java/com/norconex/crawler/core/fetch/
  MultiFetcher.java:110-158`` — fetchers are tried in order; each may
  ``accept`` a request, the first accepting fetcher fetches, a bad
  response falls through to the next accepting fetcher.
* ``crawler/core/.../fetch/AbstractFetcher.java:56-63`` — acceptance is
  a reference filter on the URL.

The real browser engine cannot live in this container (no browser
binaries — same constraint the reference documents by shipping a
separate ``Dockerfile.crawler-web-playwright``), so the rendering step
is injectable: ``make_browser_fetcher(cfg)`` lazily imports
``playwright.sync_api`` per executor worker when available, while CI
exercises the full slot through ``fake_browser_render_fn`` — a
deterministic, clearly-marked mini-renderer that evaluates the small
static-JS subset the test sites use (``document.write`` of literal
HTML, literal ``innerHTML`` assignment, ``location.href`` client-side
redirects). The Spark-side plumbing — batch shapes, the engine fetch
slot, the MultiFetcher chain — is real and tested either way.

Scale shape: rendering is per-URL remote work, exactly like the socket
fetcher — one Arrow batch per politeness partition flows through
``mapInPandas``; a browser (or fake) lives per worker *process* and is
reused across batches, so executor fan-out multiplies browsers, never
the driver.
"""

from __future__ import annotations

import re
from dataclasses import dataclass
from typing import Callable, Optional

import pandas as pd

# (status, html, redirect_to) — the fetch-slot row contract shared with
# webgen.fetch_batches and httpfetch.http_fetch_batches.
FetchResult = tuple  # tuple[Optional[int], Optional[str], Optional[str]]
RenderFn = Callable[[str], FetchResult]

# statuses the MultiFetcher chain treats as "this fetcher failed, let
# the next accepting fetcher try" (MultiFetcher.java:120-137: any
# non-2xx/redirect response falls through).
_BAD_STATUS_FLOOR = 400


@dataclass
class BrowserFetcherConfig:
    """PlaywrightFetcherConfig.java:51-199 analog (the fields that make
    sense outside a JVM)."""

    browser: str = "chromium"  # chromium | firefox | webkit
    headless: bool = True
    # page.goto timeout (pageLoadTimeout)
    page_load_timeout_s: float = 30.0
    # wait for this CSS selector before reading content
    # (waitForElementSelector + CSSSELECTOR type)
    wait_for_selector: Optional[str] = None
    wait_for_selector_timeout_s: float = 10.0
    # JS evaluated before / after the wait (earlyPageScript /
    # latePageScript)
    early_page_script: Optional[str] = None
    late_page_script: Optional[str] = None
    # AbstractFetcher.java:56-63 reference-filter acceptance: only URLs
    # matching fetch here (None = accept all). Lets a MultiFetcher
    # chain send only JS-heavy sections to the browser.
    accept_pattern: Optional[str] = None
    # MultiFetcher retry count for this fetcher slot
    retries: int = 0
    extra_args: tuple = ()


def accept_fn(cfg: BrowserFetcherConfig) -> Callable[[str], bool]:
    """Reference-filter acceptance (AbstractFetcher.java:56-63)."""
    if not cfg.accept_pattern:
        return lambda url: True
    rx = re.compile(cfg.accept_pattern)
    return lambda url: rx.search(url) is not None


# ---------------------------------------------------------------------------
# Real renderer (import-gated): playwright chromium per worker process.
# ---------------------------------------------------------------------------

_PW_STATE: dict = {}


def playwright_render_fn(cfg: BrowserFetcherConfig) -> RenderFn:
    """Per-worker lazy Playwright session (PlaywrightFetcher.java:392-463
    flow: goto -> early script -> wait-for-selector -> late script ->
    content; status + final URL from the navigation response).

    Import-gated: raises a clear error on first use when the
    ``playwright`` package (or its browser binaries) is absent — inject
    ``render_fn`` (e.g. :func:`fake_browser_render_fn`) in that case.
    """

    def _session():
        key = (cfg.browser, cfg.headless, cfg.extra_args)
        sess = _PW_STATE.get(key)
        if sess is None:
            try:
                from playwright.sync_api import sync_playwright
            except ImportError as e:  # pragma: no cover - env-dependent
                raise ImportError(
                    "playwright is not installed in this environment; "
                    "pass render_fn= (e.g. fake_browser_render_fn) to "
                    "make_browser_fetcher, or install playwright + "
                    "browser binaries on every executor"
                ) from e
            pw = sync_playwright().start()
            browser = getattr(pw, cfg.browser).launch(
                headless=cfg.headless, args=list(cfg.extra_args)
            )
            sess = (pw, browser)
            _PW_STATE[key] = sess
        return sess[1]

    def render(url: str) -> FetchResult:  # pragma: no cover - needs browser
        browser = _session()
        page = browser.new_page()
        try:
            resp = page.goto(
                url, timeout=cfg.page_load_timeout_s * 1000.0
            )
            if cfg.early_page_script:
                page.evaluate(cfg.early_page_script)
            if cfg.wait_for_selector:
                page.wait_for_selector(
                    cfg.wait_for_selector,
                    timeout=cfg.wait_for_selector_timeout_s * 1000.0,
                )
            if cfg.late_page_script:
                page.evaluate(cfg.late_page_script)
            html = page.content()
            status = resp.status if resp is not None else None
            final = page.url
            redirect_to = final if final and final != url else None
            return (status, html, redirect_to)
        except Exception:
            return (None, None, None)
        finally:
            page.close()

    return render


# ---------------------------------------------------------------------------
# Deterministic CI renderer (clearly-marked fake).
# ---------------------------------------------------------------------------

_SCRIPT_RX = re.compile(
    r"<script[^>]*>(.*?)</script>", re.IGNORECASE | re.DOTALL
)
_DOC_WRITE_RX = re.compile(
    r"""document\.write\(\s*(['"])(?P<html>.*?)\1\s*\)""", re.DOTALL
)
_INNER_HTML_RX = re.compile(
    r"""document\.getElementById\(\s*(['"])(?P<id>.*?)\1\s*\)\s*"""
    r"""\.innerHTML\s*=\s*(['"])(?P<html>.*?)\3""",
    re.DOTALL,
)
_LOCATION_RX = re.compile(
    r"""(?:window\.)?location(?:\.href)?\s*=\s*(['"])(?P<url>.*?)\1"""
)


def render_static_js(url: str, html: Optional[str]) -> FetchResult:
    """DETERMINISTIC FAKE of a browser's render step for CI — evaluates
    only literal-string ``document.write`` / ``innerHTML`` assignments
    and ``location.href`` redirects inside ``<script>`` blocks, the
    subset the synthetic test sites use. NOT a JS engine; the real path
    is :func:`playwright_render_fn`.

    Returns the post-"execution" DOM: each script block is replaced by
    the HTML it document.write's; innerHTML targets
    ``<x id="...">...</x>`` elements; a ``location`` assignment renders
    as a client-side redirect (status 200 + redirect_to, mirroring how
    PlaywrightFetcher surfaces the final URL after navigation).
    """
    if html is None:
        return (None, None, None)
    redirect_to = None
    inner_edits: list = []

    def run_script(m: re.Match) -> str:
        nonlocal redirect_to
        body = m.group(1)
        loc = _LOCATION_RX.search(body)
        if loc is not None and redirect_to is None:
            redirect_to = loc.group("url")
        for ih in _INNER_HTML_RX.finditer(body):
            inner_edits.append((ih.group("id"), ih.group("html")))
        return "".join(
            w.group("html") for w in _DOC_WRITE_RX.finditer(body)
        )

    # two passes: document.write replaces each script block in place,
    # then the collected innerHTML edits apply to the resulting DOM
    dom = _SCRIPT_RX.sub(run_script, html)
    for eid, ehtml in inner_edits:
        tgt = re.compile(
            r"(<[^>]*\bid=['\"]" + re.escape(eid) + r"['\"][^>]*>)"
            r"(.*?)(</)",
            re.DOTALL,
        )
        dom = tgt.sub(
            lambda t, h=ehtml: t.group(1) + h + t.group(3),
            dom,
            count=1,
        )
    return (200, dom, redirect_to)


def fake_browser_render_fn(
    pages: dict | None = None,
    base_fetch: Optional[RenderFn] = None,
) -> RenderFn:
    """CI render slot: source the raw HTML (from a ``pages`` dict
    ``url -> html`` | ``url -> (status, html, redirect_to)`` or any
    base fetch callable), then run :func:`render_static_js` over it."""
    if (pages is None) == (base_fetch is None):
        raise ValueError("provide exactly one of pages / base_fetch")

    def fetch_raw(url: str) -> FetchResult:
        if base_fetch is not None:
            return base_fetch(url)
        v = pages.get(url)
        if v is None:
            return (404, None, None)
        if isinstance(v, str):
            return (200, v, None)
        return v

    def render(url: str) -> FetchResult:
        status, html, redirect_to = fetch_raw(url)
        if status is None or html is None or (
            status is not None and int(status) >= _BAD_STATUS_FLOOR
        ):
            return (status, html, redirect_to)
        if redirect_to:  # server-side redirect: browser follows later
            return (status, html, redirect_to)
        rstatus, dom, js_redirect = render_static_js(url, html)
        return (status if status is not None else rstatus, dom, js_redirect)

    return render


# ---------------------------------------------------------------------------
# Engine fetch slot + MultiFetcher chain.
# ---------------------------------------------------------------------------


def _with_retry(render: RenderFn, retries: int) -> RenderFn:
    """MultiFetcher.java:120-124 per-fetcher retry loop (transient =
    no status or 5xx/429, same set the socket fetcher retries)."""
    from .httpfetch import TRANSIENT_STATUSES

    def go(url: str) -> FetchResult:
        r = render(url)
        attempt = 0
        while attempt < retries and (
            r[0] is None or int(r[0]) in TRANSIENT_STATUSES
        ):
            attempt += 1
            r = render(url)
        return r

    return go if retries > 0 else render


def browser_fetch_batches(
    cfg: BrowserFetcherConfig | None = None,
    render_fn: Optional[RenderFn] = None,
):
    """Generator form of the browser fetch slot — same contract as
    ``webgen.fetch_batches`` / ``httpfetch.http_fetch_batches`` so the
    engine fuses fetch+parse into one mapInPandas pass."""
    cfg = cfg or BrowserFetcherConfig()
    render = _with_retry(
        render_fn if render_fn is not None else playwright_render_fn(cfg),
        cfg.retries,
    )

    def gen(batches):
        for pdf in batches:
            res = [render(u) for u in pdf["url"]]
            out = pdf.copy()
            out["http_status"] = pd.array(
                [r[0] for r in res], dtype="Int32"
            )
            out["html"] = [r[1] for r in res]
            out["redirect_to"] = [r[2] for r in res]
            yield out

    return gen


def make_browser_fetcher(
    cfg: BrowserFetcherConfig | None = None,
    render_fn: Optional[RenderFn] = None,
):
    """Engine ``fetcher`` slot backed by a rendering browser (mirror of
    ``httpfetch.make_http_fetcher``)."""
    return browser_fetch_batches(cfg, render_fn)


def chain_fetchers(fetchers: list) -> "Callable":
    """MultiFetcher.java:110-158 as an engine fetch slot: ``fetchers``
    is an ordered list of ``(accept, render)`` pairs (``accept`` =
    ``url -> bool``, ``render`` = per-URL fetch callable, retries
    already baked in via :func:`_with_retry` or the fetcher's own
    config). Per URL: the first accepting fetcher fetches; a bad
    response (no status or >= 400) falls through to the next accepting
    fetcher; the last response wins if all are bad; no accepting
    fetcher -> unfetched row (null status), the engine's error-outcome
    ladder handles it like the reference's "No fetcher accepted"
    failure."""
    if not fetchers:
        raise ValueError("Need at least 1 fetcher.")  # MultiFetcher.java:79

    def render(url: str) -> FetchResult:
        last: FetchResult = (None, None, None)
        for acc, rnd in fetchers:
            if not acc(url):
                continue
            last = rnd(url)
            s = last[0]
            if s is not None and int(s) < _BAD_STATUS_FLOOR:
                return last
        return last

    def gen(batches):
        for pdf in batches:
            res = [render(u) for u in pdf["url"]]
            out = pdf.copy()
            out["http_status"] = pd.array(
                [r[0] for r in res], dtype="Int32"
            )
            out["html"] = [r[1] for r in res]
            out["redirect_to"] = [r[2] for r in res]
            yield out

    return gen
