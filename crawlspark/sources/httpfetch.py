"""Real-socket HTTP fetcher for the engine's fetch slot.

Re-expresses (from scratch, over urllib3) the semantics of the
reference's HTTP fetch layer:

* ``HttpClientFetcher`` (web/fetch/impl/httpclient/HttpClientFetcher
  .java:315-402): GET fetch, status + headers + body capture.
* ``HttpClientFetcherConfig`` (.java:45-48): connection/socket
  timeouts, connection-pool bounds (maxConnections /
  maxConnectionsPerRoute).
* ``MultiFetcher`` (.java:94-138): transient responses retried inside
  the fetch slot before the outcome surfaces.
* ``ApacheRedirectCaptureStrategy``: redirects are CAPTURED, never
  auto-followed — the target re-enters through the queue pipeline
  (same contract as the synthetic fetcher's ``redirect_to``).
* ``StandardRobotsTxtProvider`` (.java:104-113): robots.txt fetched
  per host root with a single redirect retry; unfetchable bodies mean
  "no rules".

Shape: the exact ``fetch_batches`` generator contract of
``sources.webgen`` — pandas frames with a ``url`` column in, the same
frames + (http_status, html, redirect_to) out — so the engine fuses
real fetching with the parse transformer into ONE ``mapInPandas``
pass and bodies never cross to the JVM. Politeness note: the engine
hands each fetch task a host-partitioned batch in schedule order, so
requests to one host run sequentially within a task while distinct
hosts fetch in parallel across tasks — per-host serialization without
sleeping in the scheduler.

One connection pool lives per Python worker process (module global,
created lazily), giving max_connections/max_per_route bounds per
worker — the direct analog of the reference's per-fetcher pool.
"""

from __future__ import annotations

from dataclasses import dataclass

import pandas as pd

from .webgen import TRANSIENT_STATUSES


@dataclass(frozen=True)
class HttpFetcherConfig:
    """Timeout/pool knobs (HttpClientFetcherConfig.java:45-48 analog;
    defaults mirror the reference's 30s timeouts and pool bounds)."""

    connect_timeout_s: float = 30.0
    read_timeout_s: float = 30.0
    max_connections: int = 200
    max_per_route: int = 20
    retries: int = 0
    user_agent: str = "crawlspark"
    # response bodies larger than this are truncated (keeps a rogue
    # endpoint from filling worker memory); <=0 disables
    max_body_bytes: int = 10 * 1024 * 1024


_POOLS: dict = {}


def _pool(cfg: HttpFetcherConfig):
    """One PoolManager per (worker process, config)."""
    key = (cfg.max_connections, cfg.max_per_route)
    p = _POOLS.get(key)
    if p is None:
        import urllib3

        p = urllib3.PoolManager(
            num_pools=cfg.max_connections,
            maxsize=cfg.max_per_route,
            retries=False,  # MultiFetcher-level retries only
        )
        _POOLS[key] = p
    return p


def _decode(data: bytes, content_type: str | None) -> str:
    charset = "utf-8"
    if content_type and "charset=" in content_type:
        charset = content_type.split("charset=", 1)[1].split(";")[0].strip()
    try:
        return data.decode(charset, errors="replace")
    except LookupError:
        return data.decode("utf-8", errors="replace")


def fetch_url(
    url: str, cfg: HttpFetcherConfig
) -> tuple[int | None, str | None, str | None]:
    """One GET, redirects captured not followed ->
    (status, body, redirect_to). Socket-level failures (timeout,
    refused, DNS) surface as (None, None, None) — the engine's
    outcome ladder treats a null status as a fetch ERROR, exactly
    like the reference maps fetch exceptions."""
    import urllib3

    try:
        r = _pool(cfg).request(
            "GET",
            url,
            redirect=False,
            timeout=urllib3.Timeout(
                connect=cfg.connect_timeout_s, read=cfg.read_timeout_s
            ),
            headers={"User-Agent": cfg.user_agent},
            preload_content=False,
        )
    except Exception:
        return None, None, None
    status = int(r.status)
    redirect_to = None
    if 300 <= status < 400:
        loc = r.headers.get("Location")
        if loc:
            from urllib.parse import urljoin

            redirect_to = urljoin(url, loc)
    # stream the body in chunks, stopping at max_body_bytes — a rogue
    # multi-GB endpoint never materializes in worker memory (the cap
    # is enforced DURING the read, not after a full buffer)
    limit = cfg.max_body_bytes
    chunks: list[bytes] = []
    read = 0
    truncated = False
    try:
        for chunk in r.stream(65536, decode_content=True):
            chunks.append(chunk)
            read += len(chunk)
            if limit > 0 and read >= limit:
                truncated = True
                break
    except Exception:
        try:
            r.close()
        except Exception:
            pass
        return None, None, None
    finally:
        try:
            if truncated:
                # partially-read connection cannot be safely reused
                r.close()
            r.release_conn()
        except Exception:
            pass
    data = b"".join(chunks)
    if limit > 0 and len(data) > limit:
        data = data[:limit]
    body = _decode(data, r.headers.get("Content-Type"))
    return status, body, redirect_to


def head_url(
    url: str, cfg: HttpFetcherConfig
) -> tuple[int | None, str | None, str | None]:
    """One HEAD (the HttpMethod.HEAD directive,
    HttpClientFetcherConfig's httpMethods) ->
    (status, last_modified, etag). No body crosses the wire — the
    real-socket form of the engine's headers-only projection."""
    import urllib3

    try:
        r = _pool(cfg).request(
            "HEAD",
            url,
            redirect=False,
            timeout=urllib3.Timeout(
                connect=cfg.connect_timeout_s, read=cfg.read_timeout_s
            ),
            headers={"User-Agent": cfg.user_agent},
        )
    except Exception:
        return None, None, None
    return (
        int(r.status),
        r.headers.get("Last-Modified"),
        r.headers.get("ETag"),
    )


def fetch_headers_df(spark, urls_df, cfg: HttpFetcherConfig | None = None):
    """urls_df(url) -> (url, h_status, last_modified, etag) over real
    HEAD requests — the schema ``CrawlEngine`` consumes as its
    headers-only dim for the metadata-checksum band / HEAD-before-GET
    directive (superstep.py builds the same projection from pages_df
    in fixture mode). Distributed mapInPandas, one pool per worker."""
    cfg = cfg or HttpFetcherConfig()

    def gen(batches):
        for pdf in batches:
            rows = [head_url(str(u), cfg) for u in pdf["url"]]
            yield pd.DataFrame(
                {
                    "url": pdf["url"],
                    "h_status": pd.array(
                        [r[0] for r in rows], dtype="Int32"
                    ),
                    "last_modified": [r[1] for r in rows],
                    "etag": [r[2] for r in rows],
                }
            )

    return urls_df.mapInPandas(
        gen,
        schema="url string, h_status int, last_modified string, etag string",
    )


def http_fetch_batches(cfg: HttpFetcherConfig | None = None):
    """The engine's fetch-slot generator over real sockets — same
    signature and retry semantics as ``webgen.fetch_batches``
    (MultiFetcher.java:94-138: transient statuses AND socket errors
    retried up to ``cfg.retries`` times inside the task)."""
    cfg = cfg or HttpFetcherConfig()

    def fetch_with_retry(u: str):
        r = fetch_url(u, cfg)
        attempt = 0
        while attempt < cfg.retries and (
            r[0] is None or int(r[0]) in TRANSIENT_STATUSES
        ):
            attempt += 1
            r = fetch_url(u, cfg)
        return r

    def gen(batches):
        for pdf in batches:
            res = [fetch_with_retry(u) for u in pdf["url"]]
            out = pdf.copy()
            out["http_status"] = pd.array(
                [r[0] for r in res], dtype="Int32"
            )
            out["html"] = [r[1] for r in res]
            out["redirect_to"] = [r[2] for r in res]
            yield out

    return gen


def make_http_fetcher(cfg: HttpFetcherConfig | None = None):
    """Engine ``fetcher`` slot over real sockets (mirror of
    ``webgen.make_fetcher``): the ``http_fetch_batches`` generator."""
    return http_fetch_batches(cfg)


def fetch_robots_df(spark, roots_df, cfg: HttpFetcherConfig | None = None):
    """(host, root) -> (host, body): fetch ``<root>/robots.txt`` per
    host over real sockets with ONE redirect retry
    (StandardRobotsTxtProvider.java:104-113). A non-200 final answer
    (or socket failure) yields a null body == no rules. Distributed:
    one request per row inside mapInPandas; feed the result to
    ``build_robots_rules`` exactly like a fixture robots table."""
    cfg = cfg or HttpFetcherConfig()

    def gen(batches):
        for pdf in batches:
            bodies = []
            for root in pdf["root"]:
                url = str(root).rstrip("/") + "/robots.txt"
                status, body, redir = fetch_url(url, cfg)
                if redir is not None:
                    status, body, _ = fetch_url(redir, cfg)
                bodies.append(body if status == 200 else None)
            yield pd.DataFrame({"host": pdf["host"], "body": bodies})

    return roots_df.mapInPandas(gen, schema="host string, body string")


def fetch_sitemaps_df(spark, locs_df, cfg: HttpFetcherConfig | None = None):
    """(host, url) -> (host, xml): fetch sitemap documents over real
    sockets (GenericSitemapResolver's HTTP fetch,
    web/.../sitemap/impl/GenericSitemapResolver.java — one redirect
    honored like the robots fetch; non-200 yields null xml == no
    sitemap). Feed the result to the engine's ``sitemaps_df`` dim
    exactly like a fixture table; ``<sitemapindex>`` recursion happens
    in the parser (functions/sitemaps.py) over the returned bodies."""
    cfg = cfg or HttpFetcherConfig()

    def gen(batches):
        for pdf in batches:
            bodies = []
            for u in pdf["url"]:
                status, body, redir = fetch_url(str(u), cfg)
                if redir is not None:
                    status, body, _ = fetch_url(redir, cfg)
                bodies.append(body if status == 200 else None)
            yield pd.DataFrame({"host": pdf["host"], "xml": bodies})

    return locs_df.mapInPandas(gen, schema="host string, xml string")


def discover_sitemaps_df(
    spark, roots_df, robots_df, cfg: HttpFetcherConfig | None = None
):
    """(host, root) + fetched robots -> (host, xml): the full
    GenericSitemapLocator + GenericSitemapResolver HTTP path — robots
    ``Sitemap:`` directives first, then the default paths
    (functions/sitemaps.sitemap_locations), candidates tried IN ORDER
    over real sockets per host and the FIRST 200 body winning (the
    resolver stops at the first resolvable sitemap, so lower-priority
    candidates are never fetched). One redirect honored per candidate
    like the robots fetch. Feed the result to
    ``CrawlEngine(..., sitemaps_df=...)``."""
    from ..functions.robots import parse_robots_txt
    from ..functions.sitemaps import sitemap_locations

    cfg = cfg or HttpFetcherConfig()
    j = roots_df.join(robots_df, "host", "left")

    def gen(batches):
        for pdf in batches:
            hosts, bodies = [], []
            for host, root, body in zip(
                pdf["host"], pdf["root"], pdf["body"]
            ):
                sm = parse_robots_txt(body, cfg.user_agent).sitemaps
                xml = None
                for u in sitemap_locations(str(root), sm):
                    status, b, redir = fetch_url(u, cfg)
                    if redir is not None:
                        status, b, _ = fetch_url(redir, cfg)
                    if status == 200 and b:
                        xml = b
                        break
                hosts.append(host)
                bodies.append(xml)
            yield pd.DataFrame({"host": hosts, "xml": bodies})

    return j.select("host", "root", "body").mapInPandas(
        gen, schema="host string, xml string"
    )
