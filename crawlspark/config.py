"""Crawl configuration shared by the Spark engine and the oracle
simulator.

Field defaults follow the reference's CrawlerConfig /
BaseDelayResolverConfig (crawler/core/.../CrawlerConfig.java;
crawler/web/.../delay/impl/BaseDelayResolverConfig.java:64 — default
politeness delay 3 s, SITE scope).
"""

from __future__ import annotations

from dataclasses import dataclass, field


@dataclass(frozen=True)
class CrawlConfig:
    user_agent: str = "crawlspark"
    # maxDepth semantics: links are not extracted from docs at
    # depth == max_depth (LinkExtractorStage.java:59-66); candidates
    # deeper than max_depth are rejected TOO_DEEP
    # (DepthValidationStage.java:29-47). -1 = unlimited.
    max_depth: int = -1
    # stop once this many docs are committed (checked at superstep
    # boundaries in the engine; CrawlerConfig maxDocuments analog).
    max_docs: int | None = None
    # stop once the politeness clock passes this (CrawlerConfig
    # maxCrawlDuration analog on the VIRTUAL clock — wall time is
    # non-deterministic; checked at superstep boundaries like
    # max_docs). Remaining entries stay QUEUED, resumable.
    max_crawl_duration_ms: int | None = None
    # politeness: robots crawl-delay > default (AbstractDelayResolver
    # precedence :100-115); per-site serialization (SiteDelay.java:44-58).
    default_delay_ms: int = 3000
    # GenericDelayResolver circular schedules, first match wins,
    # wrap-around when from > to (GenericDelayResolver.java:84-151).
    # Two forms per entry:
    #   (from_hour, to_hour, delay_ms)            — time-of-day only
    #   (dow_range, dom_range, hour_range, delay_ms)
    #     dow_range:  (from, to) ISO weekday 1=Mon..7=Sun, or None
    #     dom_range:  (from, to) day of month 1..31, or None
    #     hour_range: (from, to) inclusive hours, or None
    # Evaluated on the virtual clock (ms treated as Unix epoch — day 0
    # is a Thursday); precedence robots > schedule > pattern > default
    # (AbstractDelayResolver.java:84-115).
    delay_schedules: tuple[tuple, ...] = ()
    # ReferenceDelayResolver per-URL-pattern delays: (regex, delay_ms),
    # first match wins.
    delay_patterns: tuple[tuple[str, int], ...] = ()
    # Politeness serialization scope (BaseDelayResolverConfig.java:65,
    # 83; SiteDelay/CrawlerDelay/ThreadDelay): SITE serializes per
    # host (reference + engine default), CRAWLER one global lock,
    # THREAD per deterministic seq%K slot (the reference's thread
    # assignment is whichever worker polls next — nondeterministic;
    # seq%K is the documented deterministic analog, engine == oracle).
    delay_scope: str = "SITE"
    delay_threads: int = 2
    # GenericUrlNormalizer config (GenericUrlNormalizerConfig.java:
    # 90-102): None = the default 6-op RFC-3986 pipeline (the fused
    # fast path in functions/urls.py); a tuple of op names from
    # functions/urlnorm.NORMALIZATIONS runs the configured ordered
    # pipeline instead (engine + oracle share the same compiled
    # function). url_replacements: (java_regex, replacement-with-$N)
    # pairs applied after the named ops; 1-tuples delete the match.
    url_normalizations: tuple[str, ...] | None = None
    url_replacements: tuple[tuple, ...] = ()
    # host -> domain-or-None callable backing the
    # REPLACE_IP_WITH_DOMAIN_NAME op (must be picklable: executors
    # compile the normalizer from the config). Configuring that op
    # WITHOUT a resolver raises at engine build — a silent no-op
    # would diverge from the configured contract.
    url_ip_resolver: object | None = None
    # reference filters (GenericReferenceFilter / FilterGroupResolver
    # semantics: any exclude match rejects; if includes exist, at
    # least one must match).
    include_patterns: tuple[str, ...] = ()
    exclude_patterns: tuple[str, ...] = ()
    # ExtensionReferenceFilter analog: reject URLs whose path extension
    # (chars after the last '.' of the last segment) is in this set.
    blocked_extensions: tuple[str, ...] = ()
    # SegmentCountUrlFilter analog: reject URLs with more than this
    # many non-empty path segments (-1 = unlimited).
    max_path_segments: int = -1
    # UrlScopeResolver analog (GenericUrlScopeResolver.java:79-152):
    # candidates are checked against the *referring* URL; out-of-scope
    # links never enter the queue pipeline. Seeds are always in scope.
    stay_on_domain: bool = False
    include_subdomains: bool = False
    stay_on_protocol: bool = False
    # resolved-port comparison (default 80/http, 443/https)
    stay_on_port: bool = False
    # when the referring host's sitemap resolved PRESENT, only
    # sitemap-listed URLs stay in scope — extracted links are dropped
    # (GenericUrlScopeResolver.java:121-127). Needs use_sitemaps.
    stay_on_sitemap: bool = False
    # MultiFetcher retry policy (CrawlerConfig.java:362-369; reference
    # default 0): transient fetch failures retried inside the fetch
    # slot before an outcome is assigned.
    fetch_retries: int = 0
    # redirect trail cap (WebImporterPipelineUtil.java:103-116 —
    # one re-queue allowed, third occurrence rejected).
    max_redirect_trail: int = 2
    # the one-requeue rule (WebImporterPipelineUtil.java:103-160): a
    # redirect whose target was already PROCESSED with a BAD outcome
    # (not NEW/MODIFIED/UNMODIFIED/PREMATURE — ProcessingOutcome
    # .isGoodState) and is NOT in the current redirect trail is queued
    # once more, bypassing the queue pipeline (requeueEntry). False
    # restores the r1 blanket URL-seen rejection.
    redirect_requeue: bool = True
    honor_robots: bool = True
    # incremental crawl: orphan strategy PROCESS (default,
    # CrawlerConfig.java:281) / DELETE / IGNORE; spoiled (previously
    # committed, now 404) docs are deleted, bad-status docs get grace
    # (GenericSpoiledReferenceStrategizer default mapping; GRACE_ONCE
    # counting across >2 runs is TODO).
    orphan_strategy: str = "PROCESS"
    spoiled_delete: bool = True
    # GenericSpoiledReferenceStrategizer.java:69 state->strategy map:
    # DELETE (drop the committed doc now), GRACE_ONCE (keep it unless
    # the PREVIOUS run was also spoiled), IGNORE. Unlisted outcomes
    # fall back to IGNORE. spoiled_delete=False disables all deletes.
    spoiled_strategies: tuple[tuple[str, str], ...] = (
        ("NOT_FOUND", "DELETE"),
        ("BAD_STATUS", "GRACE_ONCE"),
    )
    # RecrawlableResolver analog (GenericRecrawlableResolver minimum
    # frequency; RecrawlableResolverStage.java:38-93): a URL crawled
    # less than this long ago (virtual-clock ms vs the previous run's
    # fetch time) is skipped PREMATURE — no fetch, no politeness slot,
    # cached data kept. None = always due.
    min_recrawl_ms: int | None = None
    # full GenericRecrawlableResolver (web/.../recrawl/impl/
    # GenericRecrawlableResolver.java:98-244): per-URL-pattern minimum
    # frequencies (first match wins; value in ms) checked after the
    # sitemap directives under the FIRST support mode, before them
    # under LAST. min_recrawl_ms above acts as the catch-all frequency
    # when no pattern matches.
    recrawl_min_frequencies: tuple[tuple[str, int], ...] = ()
    # sitemap lastmod/changefreq support: "first" (default — sitemap
    # directives beat min frequencies), "last", "never"
    recrawl_sitemap_support: str = "first"
    # opt-in: consult the baseline's sitemap lastmod/changefreq at all
    # (keeps the resolver inert for configs that never set one, so no
    # baseline join is added to their supersteps)
    recrawl_sitemap_check: bool = False
    # real epoch-ms of the virtual clock's zero — only the sitemap
    # lastmod comparison (a real calendar date vs the virtual crawl
    # time) needs the mapping
    virtual_epoch_ms: int = 0
    # virtual wall-clock at which this run starts (each run's internal
    # politeness clock starts at 0; a recrawl that begins an hour after
    # the previous run sets 3_600_000). Only the PREMATURE due-check
    # uses it: due iff prev_sched + min_recrawl <= virtual_now + avail.
    virtual_now_ms: int = 0
    # metadata checksum band (core/.../importer/stages/
    # MetadataChecksumStage.java + MetadataDedupStage.java): a checksum
    # over response HEADERS decides UNMODIFIED before the body is
    # parsed. Kinds: "last_modified" (the reference web default,
    # WebCrawlerConfig.java:557 / LastModifiedMetadataChecksummer),
    # "etag", "generic" (md5 over metadata_checksum_fields). None
    # disables the band (this port's default — opt-in, unlike the
    # reference, to keep content-checksum-only configs byte-stable).
    metadata_checksummer: str | None = None
    metadata_checksum_fields: tuple[str, ...] = ("last_modified", "etag")
    # post-fetch filter stages (core/.../importer/stages/
    # MetadataFiltersStage.java:40-70, DocumentFiltersStage.java):
    # metadata filters match named header/reference fields
    # ((field, pattern, on_match), field in url/last_modified/etag);
    # document filters match the body text ((pattern, on_match)).
    # on_match: "exclude" rejects on hit; with any "include" present at
    # least one include must hit. Rejection outcome: FILTERED. In HEAD
    # mode metadata filters run before the GET (no links extracted).
    metadata_filters: tuple[tuple[str, str, str], ...] = ()
    document_filters: tuple[tuple[str, str], ...] = ()
    # PostImportLinksStage (web/.../committer/stages/
    # PostImportLinksStage.java:42-90; WebCrawlerConfig.java:501):
    # queue URLs an importer stage surfaced into a matched field
    # (here: data-post-url attributes lifted by the parse pass) at
    # depth+1, minus the doc's regular extracted links — only for
    # docs that reach the committer (outcome NEW/MODIFIED). The
    # reference's postImportLinksKeep flag governs keeping the field
    # on the committed doc — N/A for the fixed image-payload schema.
    post_import_links: bool = False
    # within-run first-wins dedup on the metadata checksum
    # (MetadataDedupStage.java:40-70; "not 100% fool-proof" per the
    # reference — off by default there too)
    metadata_dedup: bool = False
    # HEAD-before-GET (WebDocPipelines.java:89-99 METADATA directive):
    # the metadata stages run on a headers-only fetch and a
    # meta-UNMODIFIED row skips the body fetch+parse entirely (no link
    # extraction). In the dataflow engine the "HEAD" is a column-pruned
    # scan of the fetch table (html never read). False = metadata
    # stages run after the GET, links already extracted.
    head_before_get: bool = False
    # reference-trail variant marking (ProcessFinalize.java:205-219):
    # record pre-normalization raw spellings on the winning ledger row
    # (raw_variants column). The URL-seen set keys on the normalized
    # url either way, so variants are never re-fetched; the flag only
    # adds the store-queryable trail (one collect_set shuffle per
    # superstep when on).
    record_url_variants: bool = False
    # SitemapResolutionStage analog: on a host's first QUEUED
    # candidate, parse its sitemap once and enqueue the listed URLs
    # (depth 0) ahead of the trigger. Requires a sitemaps source on
    # the engine/oracle.
    use_sitemaps: bool = False
    # engine-side knobs (no semantic effect):
    bloom_prefilter_min_ledger: int = 100_000
    # TOTAL filter bits. bloom_shards=0 keeps the driver-held bitmap
    # (fine while bits fit driver memory; it self-monitors fill and
    # auto-disables on saturation). bloom_shards=N (power of two >= 2)
    # switches to the sharded DISTRIBUTED filter — per-shard bitmaps
    # of bloom_bits/N bits living in a dim frame, cogroup-applied
    # co-partitioned with candidates — the shape that sizes to 10^10
    # URLs (~12 GB of bitmap) without a driver array.
    # 2^24 bits = 2 MB of driver array ≈ 0.33 fill at 1.7M URLs (k=4)
    # — covers multi-million-URL crawls without mid-run saturation
    # (the r4 default 2^22 auto-disabled at ~1.7M ledger rows on the
    # bench site); still trivially driver-safe. Size up or shard for
    # bigger frontiers.
    bloom_bits: int = 1 << 24
    bloom_shards: int = 0
    # URL-seen prefilter flavor — the north rule names BOTH shapes
    # ("partitioned Bloom/cuckoo filters"). "bloom" (default) probes
    # k bit positions; "cuckoo" (requires bloom_shards > 0) stores
    # 16-bit fingerprints in 4-slot buckets — slightly more memory per
    # key at low fill, but supports delete_df (recrawl eviction) and a
    # lower false-'maybe' rate near capacity. Both are PREfilters: the
    # exact anti-join always decides the real URL-seen set, so the
    # flavor has no semantic effect. bloom_bits is interpreted as the
    # TOTAL table bits either way (cuckoo: 64 bits per bucket).
    urlseen_filter: str = "bloom"
    image_w: int = 32
    image_h: int = 32


def validate(cfg: CrawlConfig) -> list[str]:
    """Config validation (CliConfigCheck analog, core/cli/ — the
    reference validates the XML config and reports errors without
    starting a crawl). Returns a list of human-readable problems;
    empty means the config is runnable."""
    import re

    errs: list[str] = []

    def _rx(pat: str, where: str) -> None:
        try:
            re.compile(pat)
        except re.error as e:
            errs.append(f"{where}: bad regex {pat!r} ({e})")

    if cfg.max_depth < -1:
        errs.append(f"max_depth must be >= -1, got {cfg.max_depth}")
    if cfg.max_docs is not None and cfg.max_docs <= 0:
        errs.append(f"max_docs must be positive, got {cfg.max_docs}")
    if (
        cfg.max_crawl_duration_ms is not None
        and cfg.max_crawl_duration_ms <= 0
    ):
        errs.append("max_crawl_duration_ms must be positive")
    if cfg.default_delay_ms < 0:
        errs.append(f"default_delay_ms must be >= 0, got {cfg.default_delay_ms}")
    if cfg.delay_scope not in ("SITE", "CRAWLER", "THREAD"):
        errs.append(
            f"delay_scope must be SITE/CRAWLER/THREAD, got {cfg.delay_scope}"
        )
    if cfg.delay_threads < 1:
        errs.append(f"delay_threads must be >= 1, got {cfg.delay_threads}")
    for p in cfg.include_patterns:
        _rx(p, "include_patterns")
    for p in cfg.exclude_patterns:
        _rx(p, "exclude_patterns")
    for p, d in cfg.delay_patterns:
        _rx(p, "delay_patterns")
        if d < 0:
            errs.append(f"delay_patterns: negative delay {d}")
    if cfg.orphan_strategy not in ("PROCESS", "DELETE", "IGNORE"):
        errs.append(f"orphan_strategy: unknown {cfg.orphan_strategy!r}")
    if cfg.urlseen_filter not in ("bloom", "cuckoo"):
        errs.append(
            f"urlseen_filter must be 'bloom' or 'cuckoo', "
            f"got {cfg.urlseen_filter!r}"
        )
    elif cfg.urlseen_filter == "cuckoo" and cfg.bloom_shards <= 0:
        errs.append(
            "urlseen_filter='cuckoo' requires bloom_shards > 0 "
            "(the cuckoo filter is distributed-only; no driver-held "
            "variant exists)"
        )
    for outcome, strat in cfg.spoiled_strategies:
        if strat not in ("DELETE", "GRACE_ONCE", "IGNORE"):
            errs.append(f"spoiled_strategies: unknown strategy {strat!r}")
        if outcome not in ("NOT_FOUND", "BAD_STATUS"):
            errs.append(f"spoiled_strategies: unknown state {outcome!r}")
    if cfg.metadata_checksummer not in (
        None,
        "last_modified",
        "etag",
        "generic",
    ):
        errs.append(
            f"metadata_checksummer: unknown {cfg.metadata_checksummer!r}"
        )
    if cfg.recrawl_sitemap_support not in ("first", "last", "never"):
        errs.append(
            f"recrawl_sitemap_support: unknown {cfg.recrawl_sitemap_support!r}"
        )
    for p, v in cfg.recrawl_min_frequencies:
        _rx(p, "recrawl_min_frequencies")
        if v < 0:
            errs.append(f"recrawl_min_frequencies: negative {v}")
    for spec in cfg.metadata_filters:
        if len(spec) != 3:
            errs.append(f"metadata_filters: need (field, pattern, on_match), got {spec!r}")
            continue
        field_, pat, om = spec
        if field_ not in ("url", "last_modified", "etag"):
            errs.append(f"metadata_filters: unknown field {field_!r}")
        _rx(pat, "metadata_filters")
        if om not in ("include", "exclude"):
            errs.append(f"metadata_filters: on_match must be include/exclude, got {om!r}")
    for spec in cfg.document_filters:
        if len(spec) != 2:
            errs.append(f"document_filters: need (pattern, on_match), got {spec!r}")
            continue
        pat, om = spec
        _rx(pat, "document_filters")
        if om not in ("include", "exclude"):
            errs.append(f"document_filters: on_match must be include/exclude, got {om!r}")
    if cfg.head_before_get and cfg.metadata_checksummer is None and not cfg.metadata_filters:
        errs.append(
            "head_before_get needs a metadata_checksummer or "
            "metadata_filters (nothing would run in the HEAD phase)"
        )
    if cfg.stay_on_sitemap and not cfg.use_sitemaps:
        errs.append("stay_on_sitemap requires use_sitemaps")
    if cfg.fetch_retries < 0:
        errs.append(f"fetch_retries must be >= 0, got {cfg.fetch_retries}")
    return errs


DEFAULT_CONFIG = CrawlConfig()
