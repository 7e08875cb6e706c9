"""The crawl engine: a driver-side BFS superstep loop over DataFrames.

Each superstep processes the entire QUEUED frontier level at once —
the batch-synchronous re-expression of the reference's
"N threads polling a FIFO queue until empty"
(cmd/crawl/pipeline/process/CrawlerProcessStep.java:41-43,162-176).
Strict FIFO is preserved as a *total order*, not a data structure:
every ledger row carries a dense ``seq`` assigned in discovery order
(parents before children, per-document link order within a parent), so
"the fetch sequence" is simply ORDER BY seq — identical to the
reference's MVStore monotone queue keys (MVStoreCacheQueue.java:27-35).

Ledger storage is one append-only *level* part per superstep, so
per-superstep writes are O(level), never O(ledger) — the property that
survives a 10^10-URL frontier. A level part holds this superstep's

* PROCESSED rows — the batch just fetched (final state),
* REJECTED rows — candidates killed by depth/filters/robots (final),
* QUEUED rows — the next frontier (consumed by the next superstep,
  superseded there by their own PROCESSED row; the URL-seen anti-join
  tolerates that one transient duplicate, ``urlseen()`` resolves it
  by latest superstep).

On Iceberg these are plain appends to a table bucketed by ``seen_key``
so the URL-seen anti-join prunes partitions.

Superstep dataflow (all declarative; Catalyst/AQE plan it):

  batch   = previous level's QUEUED rows                (parquet scan)
  sched   = per-host politeness recurrence              (applyInPandas)
  fetched = fetcher(sched)                              (the fetch slot*)
  parsed  = canonical/robots-meta/links/md5/baseline    (Arrow UDFs)
  outcome = CASE ladder + checksum first-wins window    (JVM)
  docs    = NEW/MODIFIED rows + image payload           (Arrow UDF)
  cands   = redirect ∪ canonical ∪ explode(links)
  queue pipeline: normalize → first-wins → Bloom prefilter +
                  exact anti-join vs ledger → depth/filters/robots →
                  assign dense seq
  commit  = ONE level part + host-state snapshot + documents part +
            checkpoint manifest (atomic swap last)

*The fetch slot has two implementations: ``fetcher`` — a per-batch
generator (pandas frames with ``url`` in, response columns out)
resolving each URL in the fetch task itself (zero shuffle; the real
async-HTTP fetcher with per-fetcher retries, MultiFetcher.java:94-138,
is exactly this shape — see ``webgen.make_fetcher`` for the synthetic
one) — or a LEFT JOIN against a materialized ``pages`` table
(FIXTURES.md §1, the MockWebsite analog) for arbitrary test fixtures.

Scale/efficiency notes:

* Every shuffle is sized to the level, not the cluster: the driver
  knows the exact frontier/candidate counts (they're by-products of
  the metric aggregations), so ``spark.sql.shuffle.partitions`` is set
  per superstep to ``rows / ROWS_PER_TASK`` capped at the parallelism.
  Small levels run in a handful of tasks instead of paying per-task
  Python-UDF round-trip overhead across hundreds of near-empty tasks;
  big levels still fan out to every core.
* The URL-seen Bloom bitmap is maintained *incrementally* on the
  driver: synced once from the ledger when it first crosses the size
  threshold, then fed only each superstep's new rows — O(level), not
  O(ledger), per superstep.
* ``seq`` assignment is a single-task sort below ~150k candidates
  (two fewer jobs) and range-partition + per-partition offsets above
  (no global window either way).
* The URL-seen keys and the checksum registry are served from
  per-part cached fragments (one slim cached DataFrame per committed
  level part) so per-superstep broadcast builds never re-scan the
  ledger from disk; columns like ``checksum`` ride in the ledger rows
  so no extra table or write job exists for them.
* Explicit ``repartition(n, key)`` pins the politeness and first-wins
  clustering width: those shuffles carry highly-compressible slim rows
  that AQE would coalesce into one partition, serializing the Python
  stages downstream (politeness -> fetch -> parse).
* Robots matching is a broadcast of the per-host rule lists applied
  in a zero-shuffle pandas UDF (same ``RobotsMatcher`` as the oracle).
* Join strategy is the engine's: a host- or URL-keyed dim (baseline,
  crawl delays, politeness host state, sitemap presence) is broadcast
  only while it holds at most ``BROADCAST_MAX_ROWS`` rows; beyond
  that its join goes unhinted and Catalyst/AQE pick the strategy.
* Fetch and parse are FUSED into one ``mapInPandas`` pass with the
  fetcher's generator: page bodies are parsed in the Python worker
  that fetched them and never serialize to the JVM.
* No collect() ever holds row data on the driver — only per-partition
  counts, metric dicts, and the Bloom bitmap. Run metrics live in the
  checkpoint manifest (driver json), not in Spark jobs.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass
from typing import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..config import CrawlConfig
from ..functions.links import PARSE_FIELDS, make_parse_transformer
from ..functions.urls import normalize_url_udf, url_host_col
from ..operators.dedup import (
    BloomPrefilter,
    ShardedBloomPrefilter,
    ShardedCuckooPrefilter,
    assign_seq,
    assign_seq_small,
    first_wins,
)
from ..operators.politeness import schedule_hosts
from ..operators.robots_filter import (
    build_robots_rules,
    host_delays,
    make_robots_verdict_udf,
)
from ..sources.docgen import make_document_udf
from .ledger import AppendTable, SnapshotTable

# target rows per shuffle task when sizing a superstep's shuffles; the
# per-row work (politeness numpy, regex link extraction, md5) makes a
# few thousand rows ≈ tens of ms per task, comfortably above task
# overhead while still fanning wide levels out to every core.
ROWS_PER_TASK = 2500
# below this level size AQE's per-stage re-planning round-trips cost
# more driver latency than they save (see _set_shuffle)
AQE_MIN_ROWS = 100_000
# below this many candidates, seq assignment single-task sorts instead
# of range-partitioning (saves the sampling + count jobs).
SMALL_SEQ_ROWS = 150_000
# a dim joined into the crawl is broadcast while it holds at most this
# many rows; beyond it the join goes unhinted (see _broadcastable)
BROADCAST_MAX_ROWS = 2_000_000


LEDGER_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("seen_key", T.LongType()),
        T.StructField("host", T.StringType()),
        T.StructField("depth", T.IntegerType()),
        T.StructField("seq", T.LongType()),
        # seq of the row whose processing enqueued this one (-1 for
        # seeds/orphans): the enqueue-time event order, needed by the
        # redirect one-requeue rule and useful as referrer lineage
        T.StructField("parent_seq", T.LongType()),
        T.StructField("avail_ms", T.LongType()),
        T.StructField("sched_ms", T.LongType()),
        T.StructField("status", T.StringType()),
        T.StructField("outcome", T.StringType()),
        # raw HTTP response code for PROCESSED fetches (null for
        # QUEUED/PREMATURE rows) — the reference keeps it on its doc
        # context and reports it via UrlStatusCrawlerEventListener
        T.StructField("http_status", T.IntegerType()),
        T.StructField("checksum", T.StringType()),
        T.StructField("meta_ck", T.StringType()),
        # True iff this row registered its meta_ck with the dedup
        # service (metadata_dedup) — resume rebuilds the registry from
        # it; distinguishable from cached-meta_ck rows (meta-UNMODIFIED
        # rows cache but never track)
        T.StructField("meta_tracked", T.BooleanType()),
        # sitemap directives recorded at discovery (SitemapRecord ->
        # WebCrawlerEntry), consumed by the next run's recrawlable
        # resolver (GenericRecrawlableResolver sitemap support)
        T.StructField("sm_lastmod", T.StringType()),
        T.StructField("sm_changefreq", T.StringType()),
        T.StructField("trail", T.ArrayType(T.StringType())),
        # pre-normalization spellings that resolved to this url
        # (reference-trail variant marking, ProcessFinalize.java:
        # 205-219) — populated when cfg.record_url_variants; the
        # URL-seen set keys on the normalized url, so variants can
        # never be re-fetched either way (test_url_variants), this
        # column just makes the raw spellings queryable from the store
        # like the reference's ledger.
        T.StructField("raw_variants", T.ArrayType(T.StringType())),
        T.StructField("superstep", T.IntegerType()),
    ]
)

DOCS_SCHEMA = T.StructType(
    [
        T.StructField("image_id", T.StringType()),
        T.StructField("bytes", T.BinaryType()),
        T.StructField("w", T.IntegerType()),
        T.StructField("h", T.IntegerType()),
        T.StructField("fmt", T.StringType()),
        T.StructField("caption", T.StringType()),
        T.StructField("phash", T.LongType()),
        T.StructField("checksum", T.StringType()),
        T.StructField("seq", T.LongType()),
        T.StructField("depth", T.IntegerType()),
        T.StructField("op", T.StringType()),
    ]
)

CAND_COLS = ["raw_url", "depth", "avail_ms", "trail", "parent_seq", "out_pos"]

def _recrawlable_col(cfg: CrawlConfig):
    """GenericRecrawlableResolver.java:98-244 as one Column over a
    batch joined with its baseline (base_sched / base_sm_lastmod /
    base_sm_changefreq): sitemap directives (FIRST/LAST support), then
    first-matching per-pattern minimum frequency, min_recrawl_ms as
    the catch-all, recrawlable otherwise. now = virtual clock at this
    row's availability; sitemap lastmod (a real date) maps onto the
    virtual clock via cfg.virtual_epoch_ms."""
    from ..functions.sitemaps import (
        CHANGEFREQ_CALENDAR_MONTHS,
        CHANGEFREQ_PERIOD_MS,
    )

    now = F.lit(cfg.virtual_now_ms) + F.col("avail_ms")
    sched0 = F.col("base_sched")
    lastmod_ms = F.unix_millis(F.to_timestamp(F.col("base_sm_lastmod")))
    freq = F.lower(F.col("base_sm_changefreq"))
    period = None
    for name, ms in CHANGEFREQ_PERIOD_MS.items():
        w = F.when(freq == name, F.lit(ms))
        period = w if period is None else period.when(freq == name, F.lit(ms))
    # monthly/yearly are CALENDAR periods (plusMonths/plusYears —
    # GenericRecrawlableResolver.java:224-244): project the virtual
    # clock onto real timestamps, add clamped months, compare
    epoch = F.lit(cfg.virtual_epoch_ms)
    sched_ts = F.timestamp_millis((epoch + sched0).cast("long"))
    now_ts = F.timestamp_millis((epoch + now).cast("long"))
    cal_due = None
    for name, months in CHANGEFREQ_CALENDAR_MONTHS.items():
        due = F.timestamp_add("MONTH", F.lit(months), sched_ts) <= now_ts
        w = F.when(freq == name, due)
        cal_due = w if cal_due is None else cal_due.when(freq == name, due)
    sm_recrawl = (
        F.when(
            F.col("base_sm_lastmod").isNotNull(),
            lastmod_ms > F.lit(cfg.virtual_epoch_ms) + sched0,
        )
        .when(freq == "always", F.lit(True))
        .when(freq == "never", F.lit(False))
        .when(cal_due.isNotNull(), cal_due)
        .when(period.isNotNull(), sched0 + period <= now)
        .otherwise(F.lit(True))
    )
    has_sm = (
        F.col("base_sm_lastmod").isNotNull()
        | F.col("base_sm_changefreq").isNotNull()
    )
    freq_ms = None
    for pat, v in cfg.recrawl_min_frequencies:
        cond = F.col("url").rlike(pat)
        freq_ms = (
            F.when(cond, F.lit(int(v)))
            if freq_ms is None
            else freq_ms.when(cond, F.lit(int(v)))
        )
    if cfg.min_recrawl_ms is not None:
        catch = F.lit(int(cfg.min_recrawl_ms))
        freq_ms = catch if freq_ms is None else freq_ms.otherwise(catch)
    if freq_ms is None:
        freq_ms = F.lit(None).cast("long")

    out = F.when(sched0.isNull(), F.lit(True))
    if cfg.recrawl_sitemap_check and cfg.recrawl_sitemap_support == "first":
        out = out.when(has_sm, sm_recrawl)
    out = out.when(freq_ms.isNotNull(), sched0 + freq_ms <= now)
    if cfg.recrawl_sitemap_check and cfg.recrawl_sitemap_support == "last":
        out = out.when(has_sm, sm_recrawl)
    return out.otherwise(F.lit(True))


def _event_proj():
    """Ledger row -> event row for the redirect one-requeue rule: an
    enqueue event (QUEUED/REJECTED row) happened at its parent's
    processing turn; a process event (PROCESSED row) at its own seq.
    (A function: Columns can't build before a SparkContext exists.)"""
    return (
        F.col("url"),
        F.when(F.col("status") == "PROCESSED", F.col("seq"))
        .otherwise(F.col("parent_seq"))
        .alias("turn"),
        F.col("status").alias("kind"),
        F.col("outcome").alias("ev_outcome"),
    )


@dataclass
class StepStats:
    superstep: int
    fetched: int = 0
    committed: int = 0
    queued_new: int = 0
    metrics: dict | None = None


def _persistent_rdd_ids(spark: SparkSession) -> dict:
    """{rdd id: JVM RDD handle} for every currently-persisted RDD —
    the hook release() needs because localCheckpoint storage is only
    reachable through the RDD API, not DataFrame.unpersist()."""
    out = {}
    it = spark.sparkContext._jsc.sc().getPersistentRDDs().iterator()
    while it.hasNext():
        e = it.next()
        out[int(e._1())] = e._2()
    return out


class CrawlEngine:
    def __init__(
        self,
        spark: SparkSession,
        workdir: str,
        cfg: CrawlConfig,
        pages_df: DataFrame | None,
        robots_df: DataFrame,
        baseline_df: DataFrame | None = None,
        fetcher: Callable | None = None,
        sitemaps_df: DataFrame | None = None,
        headers_df: DataFrame | None = None,
    ):
        """``baseline_df``: previous run's ledger delta input
        (url, checksum, depth, seq) — enables NEW/MODIFIED/UNMODIFIED
        outcomes, the orphan pass, and spoiled deletes (the ledger_a/
        ledger_b generation flip of CrawlerEntryLedger.java:619-658).
        Build it with ``load_baseline(spark, prev_workdir)``.

        ``fetcher``: optional fetch generator (iterator of pandas
        frames with ``url`` -> the same frames + http_status/html/
        redirect_to, e.g. ``webgen.make_fetcher``). When given,
        fetching runs inside the batch's own tasks (the real-HTTP
        shape); when None, ``pages_df`` is joined instead."""
        self.spark = spark
        self.workdir = workdir
        self.cfg = cfg
        self.baseline = baseline_df.cache() if baseline_df is not None else None
        # memoized broadcast verdicts of the static dims (_broadcastable)
        self._dim_fits: dict[str, bool] = {}
        # UrlNormalizerStage slot: the fused default pipeline unless
        # the config names its own op list (GenericUrlNormalizer
        # analog — functions/urlnorm.py; oracle builds the identical
        # function from the same config)
        if cfg.url_normalizations is None:
            self._norm_udf = normalize_url_udf
        else:
            from ..functions.urlnorm import custom_normalizer_udf

            self._norm_udf = custom_normalizer_udf(
                cfg.url_normalizations,
                cfg.url_replacements,
                cfg.url_ip_resolver,
            )
        self._orphans_done = baseline_df is None
        os.makedirs(workdir, exist_ok=True)
        self.fetcher = fetcher
        if fetcher is None:
            if pages_df is None:
                raise ValueError("need pages_df or fetcher")
            # cache the fixture table so each superstep's fetch join
            # reuses the in-memory relation instead of re-scanning.
            # link_header / x_robots response headers ride along when
            # the table has them (consumed inside the parse pass).
            hdr_cols = [
                c
                for c in ("link_header", "x_robots")
                if c in pages_df.columns
            ]
            self.pages = pages_df.select(
                F.col("url"),
                F.col("status").alias("http_status"),
                "html",
                "redirect_to",
                *hdr_cols,
            ).cache()
        else:
            self.pages = None
        # metadata checksum band (MetadataChecksumStage/-DedupStage +
        # the HEAD directive): a headers-only projection of the fetch
        # table — no html column, so the parquet scan prunes the body
        # (the dataflow equivalent of an HTTP HEAD)
        self.headers = None
        if cfg.metadata_checksummer is not None or cfg.metadata_filters:
            if headers_df is not None:
                # headers-only dim supplied directly — e.g. the
                # real-socket HEAD form (sources/httpfetch
                # .fetch_headers_df); expected columns
                # (url, h_status, last_modified, etag)
                hdr = headers_df.withColumnRenamed("h_status", "status")
            elif pages_df is None:
                raise ValueError(
                    "metadata_checksummer/metadata_filters need "
                    "response headers: pass pages_df or a headers_df "
                    "(e.g. httpfetch.fetch_headers_df over HEAD)"
                )
            else:
                hdr = pages_df
            for c in ("last_modified", "etag"):
                if c not in hdr.columns:
                    hdr = hdr.withColumn(c, F.lit(None).cast("string"))
            self.headers = hdr.select(
                "url",
                F.col("status").alias("h_status"),
                "last_modified",
                "etag",
            ).cache()
        self.rules = build_robots_rules(robots_df, cfg.user_agent).cache()
        self.delays = host_delays(self.rules).cache()
        self._robots_udf = None
        if cfg.honor_robots:
            rows = self.rules.select("host", "pattern", "allow").collect()
            self._robots_udf = make_robots_verdict_udf(spark, rows)
        self.levels = AppendTable(
            spark, os.path.join(workdir, "ledger_levels"), schema=LEDGER_SCHEMA
        )
        # durable sitemap resolved-state (trigger hosts), one tiny part
        # per resolving superstep — see _sitemap_candidates
        self.sitemap_hosts = AppendTable(
            spark, os.path.join(workdir, "sitemap_hosts"), schema="host string"
        )
        # part name of the superstep currently being built (bootstrap /
        # step / orphan pass set it before running the queue pipeline)
        self._cur_part = "0-bootstrap"
        self.host_state = SnapshotTable(spark, os.path.join(workdir, "host_state"))
        self.documents = AppendTable(
            spark, os.path.join(workdir, "documents"), schema=DOCS_SCHEMA
        )
        self.superstep = 0
        self.max_seq = 0
        # seq range of the most recently assigned level (None until the
        # first pipeline run and after resume — assign_seq then falls
        # back to its sampling path)
        self._level_bounds: tuple[int, int] | None = None
        self.committed_total = 0
        self.queued_remaining = 0
        # highest politeness-clock value scheduled so far (drives the
        # max_crawl_duration_ms boundary stop; PREMATURE rows excluded
        # — they carry the previous run's fetch time, not this clock's)
        self._max_sched_seen = 0
        self._frontier_part: str | None = None
        self._ledger_rows = 0
        if cfg.urlseen_filter == "cuckoo":
            # total-bits parity with the bloom knob: one 4-slot bucket
            # of 16-bit fingerprints = 64 bits
            per_shard = max(
                2, cfg.bloom_bits // (cfg.bloom_shards * 64)
            )
            per_shard = 1 << (per_shard - 1).bit_length()
            self.bloom = ShardedCuckooPrefilter(
                buckets_per_shard=per_shard,
                n_shards=cfg.bloom_shards,
            )
        elif cfg.bloom_shards > 0:
            self.bloom = ShardedBloomPrefilter(
                bits_per_shard=max(
                    64, cfg.bloom_bits // cfg.bloom_shards
                ),
                n_shards=cfg.bloom_shards,
            )
        else:
            self.bloom = BloomPrefilter(cfg.bloom_bits)
        self._bloom_synced = False
        # links-per-fetched-doc ratio from the previous superstep; only
        # shapes partition counts, never results
        self._branch_est = 10.0
        self._key_parts: list[DataFrame] = []
        self._registry_parts: list[DataFrame] = []
        self._meta_registry_parts: list[DataFrame] = []
        # Redirect one-requeue state: the COMPACT set of urls whose
        # latest ledger event is a PROCESSED row with a bad outcome —
        # the only urls the rule (WebImporterPipelineUtil.java:103-160)
        # can fire on. Every historical event's turn is strictly below
        # any live parent_seq (seqs are level-monotonic), so "latest
        # event before the redirecting source's turn" needs only the
        # per-url LATEST historical event; a url whose latest event is
        # QUEUED/REJECTED or a good PROCESSED can never match, so it
        # is dropped from the state. Folded incrementally per
        # superstep (O(level + |bad|)); r2 instead unioned the FULL
        # event history and scanned it every superstep — the measured
        # crawl-loop regression.
        self._bad_event_state: DataFrame | None = None
        self._resume_event_parts: list[DataFrame] = []
        # deferred pool work from step()'s commit region: the bitmap
        # fold and the bad-event-state checkpoint both overlap the next
        # superstep's parse and land at their first consumer
        self._bloom_fut = None
        self._bad_ev_fut = None
        # (host, [path,] xml) dim for SitemapResolution; hosts whose
        # sitemap has been resolved (once-per-host-ever,
        # SitemapResolutionStage.java:94-110 compute-if-absent)
        self.sitemaps = (
            sitemaps_df.cache() if sitemaps_df is not None else None
        )
        # hosts whose sitemap resolution already ran (== hosts ever
        # QUEUED), kept as dataflow fragments like _key_parts — never a
        # driver-side set, so 10^7+ hosts never ship through the driver.
        # Durable for free: each fragment is derivable from its level
        # part (distinct QUEUED hosts), rebuilt by _register_part on
        # resume.
        self._sitemap_host_parts: list[DataFrame] = []
        self._last_sitemap_stats: dict = {}
        # write-behind committer: one ordered background thread owns
        # durability (level/documents/host-state/manifest); the main
        # thread owns compute and hands the next superstep its inputs
        # in memory (localCheckpoints). FIFO single worker => manifests
        # land in superstep order.
        from concurrent.futures import ThreadPoolExecutor

        self._committer = ThreadPoolExecutor(
            max_workers=1, thread_name_prefix="crawlspark-commit"
        )
        self._ckpt_pool = ThreadPoolExecutor(
            max_workers=3, thread_name_prefix="crawlspark-memstate"
        )
        self._pending = []
        self._frontier_mem: DataFrame | None = None
        # every cross-superstep persisted frame (ledger checkpoints,
        # host-state snapshots, sitemap triggers, orphan frames)
        # registers here so release() can unpersist the lot
        self._pinned: list[DataFrame] = []
        # persistent-RDD watermark: DataFrame.unpersist() is a NO-OP
        # for localCheckpoint storage (it only uncaches
        # InMemoryRelations), so release() additionally sweeps every
        # persistent RDD created after this engine was built via the
        # JVM RDD handle. Frames persisted BEFORE the engine are
        # never touched.
        self._preexisting_rdd_ids = set(
            _persistent_rdd_ids(spark)
        )
        self._host_state_mem: DataFrame | None = None
        self._metric_rows: list[tuple[str, str, int]] = []
        self._parallelism = spark.sparkContext.defaultParallelism

    def _n_part(self, rows: int) -> int:
        # cap at 4x the core count, not 1x: the write/UDF-heavy stages
        # (image synthesis) otherwise run as one wave of core-count fat
        # tasks that cannot pack around concurrent jobs — a straggling
        # wave leaves cores idle for its whole tail. 4x keeps tasks
        # ~2500 rows (tens of ms for slim stages, ~2s for image tasks)
        # while letting the scheduler interleave the write-behind
        # commits with the next superstep's jobs.
        return max(1, min(4 * self._parallelism, rows // ROWS_PER_TASK + 1))

    def _set_shuffle(self, rows: int) -> None:
        """Size upcoming shuffles to the data, not the cluster.

        AQE is toggled with the level size: its per-stage re-planning
        costs one driver round-trip per shuffle stage, which on a
        small level (bootstrap, redirect-requeue tails) is pure
        latency — every shuffle here is already explicitly sized, and
        skew/coalesce only matter at data volumes. Big levels keep AQE
        for its skew-join splitting. run() restores the session
        default (true) on exit so the setting never leaks."""
        self.spark.conf.set(
            "spark.sql.shuffle.partitions", str(self._n_part(rows))
        )
        self.spark.conf.set(
            "spark.sql.adaptive.enabled",
            "true" if rows > AQE_MIN_ROWS else "false",
        )

    def _broadcastable(self, dim: str, df: DataFrame | None = None) -> bool:
        """Is ``dim`` driver-safe to broadcast into its join (at most
        BROADCAST_MAX_ROWS rows)? Beyond the cap the join goes unhinted
        and Catalyst/AQE pick shuffle-hash / sort-merge: at the
        10^10-URL tier a forced O(hosts) or O(prior crawl) broadcast is
        an OOM, not a plan choice.

        ``host_state`` holds one row per scope key of a fetched URL, and
        every fetched URL was first a ledger row, so the ledger row
        count the driver already holds bounds it: no job, and the
        verdict ratchets off as the ledger grows. The other dims
        (``baseline``, crawl ``delays``, sitemap ``presence``) are
        static per run: one capped count of ``df`` on first use,
        memoized by name."""
        if dim == "host_state":
            return self._ledger_rows <= BROADCAST_MAX_ROWS
        if dim not in self._dim_fits:
            self._dim_fits[dim] = (
                df.limit(BROADCAST_MAX_ROWS + 1).count() <= BROADCAST_MAX_ROWS
            )
        return self._dim_fits[dim]

    def _ledger_df(self) -> DataFrame:
        """All URL-seen rows (every level part; a QUEUED row and its
        later PROCESSED row may coexist — harmless for anti-joins)."""
        return self.levels.read()

    # -- in-memory ledger fragments ----------------------------------------
    # The URL-seen anti-join and the checksum registry need the ledger
    # every superstep; re-scanning all level parts from parquet makes
    # each superstep O(ledger) in broadcast-build time. Instead each
    # committed part contributes one independently-cached slim fragment
    # (url/seen_key; checksums of committed rows) and consumers union
    # the fragment list — O(level) new work per superstep, no nested
    # cache lineage. On a 10^10-URL cluster these fragments would not
    # fit executor memory: there the anti-join runs against the Iceberg
    # ledger bucketed by seen_key (bucket-pruned by the Bloom pass) —
    # same dataflow, different storage tier.

    def _register_part(self, part: str) -> None:
        """Resume path: rebuild fragments from the part's parquet."""
        pdf = self.levels.read_part(part)
        self._key_parts.append(
            pdf.filter(F.col("status") != "PROCESSED")
            .select("url", "seen_key")
            .cache()
        )
        self._registry_parts.append(
            pdf.filter(F.col("outcome").isin("NEW", "MODIFIED"))
            .select("checksum")
            .cache()
        )
        if self.cfg.metadata_dedup:
            self._meta_registry_parts.append(
                pdf.filter(F.col("meta_tracked")).select("meta_ck").cache()
            )
        if self.cfg.redirect_requeue:
            self._resume_event_parts.append(pdf.select(*_event_proj()))
        # (sitemap resolved-state is NOT rebuilt from ledger rows: the
        # trigger-host set is persisted in its own sidecar parts —
        # see _sitemap_candidates — and restored in resume())

    def _add_key_fragment(self, new_rows: DataFrame) -> None:
        """Live path: snapshot this superstep's ledger keys off the
        still-cached ``new_rows`` — no parquet re-read, no single-task
        scan. MUST be ``localCheckpoint`` (flat LogicalRDD plan), not
        ``cache``: a cached fragment keeps the queue-pipeline lineage,
        which references the union of all PRIOR fragments through the
        anti-join — nesting every fragment's plan inside the next and
        sending Catalyst analysis exponential. On a cluster this slot
        is the Iceberg ledger table itself (bucketed by seen_key)."""
        frag = new_rows.select("url", "seen_key").localCheckpoint(eager=True)
        if self._bloom_synced:
            self.bloom.add_df(frag)
        self._key_parts.append(frag)
        if self.cfg.redirect_requeue:
            old_ev = self._bad_event_state
            self._bad_event_state = self._merge_bad_events(
                new_rows.select(*_event_proj())
            ).localCheckpoint(eager=True)
            if old_ev is not None:
                try:
                    old_ev.unpersist()
                except Exception:
                    pass

    def _restore_parts(self) -> None:
        for name in self.levels.parts():
            self._register_part(name[len("part-"):])
        if self.cfg.redirect_requeue and self._resume_event_parts:
            # one merge over all committed parts' events rebuilds the
            # compact bad-target state (same fold the live path runs
            # per superstep — resume replays identically)
            ev = self._resume_event_parts[0]
            for p in self._resume_event_parts[1:]:
                ev = ev.unionByName(p)
            self._resume_event_parts = []
            self._bad_event_state = self._merge_bad_events(
                ev
            ).localCheckpoint(eager=True)

    def _ledger_keys(self) -> DataFrame:
        """(url, seen_key) of every ledger row — union of cached
        fragments (urls unique: PROCESSED rows are excluded, having
        already contributed their QUEUED fragment)."""
        if not self._key_parts:
            return self.spark.createDataFrame([], "url string, seen_key long")
        out = self._key_parts[0]
        for p in self._key_parts[1:]:
            out = out.unionByName(p)
        return out

    def _frontier_df(self) -> DataFrame:
        return self.levels.read_part(self._frontier_part).filter(
            F.col("status") == "QUEUED"
        )

    def _fetch_parse(self, sched: DataFrame) -> DataFrame:
        """Fetch + parse the scheduled batch.

        With a fetcher, its generator is composed with the parse
        transformer into ONE mapInPandas — bodies are fetched and
        parsed in the same Python worker pass and only the distilled
        parse fields (canonical/robots-meta/checksum/links) return to
        the JVM. Without one, the ``pages``-table join (MockWebsite
        analog) is followed by the parse transformer (html crosses
        once, then is dropped).
        """
        # a QUEUED ledger row carries a null http_status placeholder;
        # the fetch slot produces the real one — drop the placeholder
        # so the response column is unambiguous
        if "http_status" in sched.columns:
            sched = sched.drop("http_status")
        norm_fn = None
        if self.cfg.url_normalizations is not None:
            from ..functions.urlnorm import engine_normalizer

            norm_fn = engine_normalizer(
                self.cfg.url_normalizations,
                self.cfg.url_replacements,
                self.cfg.url_ip_resolver,
            )
        parse = make_parse_transformer(
            self.cfg.max_depth,
            self.cfg.document_filters,
            post_import=self.cfg.post_import_links,
            normalizer=norm_fn,
        )
        parse_names = {f.name for f in PARSE_FIELDS.fields}
        out_fields = [
            f
            for f in sched.schema.fields
            if f.name
            not in (
                "html",
                "http_status",
                "redirect_to",
                "link_header",
                "x_robots",
            )
            and f.name not in parse_names
        ]
        out_schema = T.StructType(
            out_fields
            + [
                T.StructField("http_status", T.IntegerType()),
                T.StructField("redirect_to", T.StringType()),
            ]
            + list(PARSE_FIELDS.fields)
        )
        fetch = self.fetcher
        if fetch is not None:

            def composed(batches):
                return parse(fetch(batches))

            return sched.mapInPandas(composed, schema=out_schema)
        fetched = sched.join(self.pages, "url", "left")
        return fetched.mapInPandas(parse, schema=out_schema)

    def _checksum_registry(self) -> DataFrame:
        """(checksum, ck_seen) from committed ledger rows — unique per
        checksum by construction (a checksum commits at most once per
        run; later hits become DUPLICATE). Served from the cached
        fragments, independent of image payload size."""
        if not self._registry_parts:
            base = self.spark.createDataFrame([], "checksum string")
        else:
            base = self._registry_parts[0]
            for p in self._registry_parts[1:]:
                base = base.unionByName(p)
        return base.select("checksum", F.lit(True).alias("ck_seen"))

    def _resolve_bloom(self) -> None:
        """Block on the deferred bitmap fold (submitted by step()'s
        commit region) before the bitmap is consulted again."""
        fut = self._bloom_fut
        if fut is not None:
            self._bloom_fut = None
            fut.result()

    def _resolve_bad_events(self) -> None:
        """Land the deferred bad-event-state checkpoint (see step())."""
        fut = self._bad_ev_fut
        if fut is not None:
            self._bad_ev_fut = None
            chk, old = fut.result()
            self._bad_event_state = chk
            if old is not None:
                try:
                    old.unpersist()
                except Exception:
                    pass

    def _events(self) -> DataFrame:
        """(url, turn, kind, ev_outcome) — the compact requeue state:
        per url, the latest ledger event, kept only when it is a
        bad-outcome PROCESSED (see __init__). Usually a handful of
        rows; never O(ledger)."""
        self._resolve_bad_events()
        if self._bad_event_state is None:
            return self.spark.createDataFrame(
                [], "url string, turn long, kind string, ev_outcome string"
            )
        return self._bad_event_state

    def _merge_bad_events(self, new_events: DataFrame) -> DataFrame:
        """Fold a batch of ledger events (url, turn, kind, ev_outcome)
        into the compact redirect-requeue state: keep, per url, only
        the latest event, and only when it is a PROCESSED with a bad
        outcome. A later QUEUED event (a requeue) supersedes and drops
        the url — reproducing the sequential ledger lookup's one-
        requeue behavior with O(level + |bad|) work per superstep."""
        from ..functions.checksums import GOOD_OUTCOMES

        self._resolve_bad_events()
        ev = new_events
        if self._bad_event_state is not None:
            ev = self._bad_event_state.unionByName(ev)
        latest = ev.groupBy("url").agg(
            F.max_by(
                F.struct("turn", "kind", "ev_outcome"), F.col("turn")
            ).alias("e")
        )
        return latest.filter(
            (F.col("e.kind") == "PROCESSED")
            & ~F.coalesce(
                F.col("e.ev_outcome").isin(*GOOD_OUTCOMES), F.lit(False)
            )
        ).select(
            "url",
            F.col("e.turn").alias("turn"),
            F.col("e.kind").alias("kind"),
            F.col("e.ev_outcome").alias("ev_outcome"),
        )

    def _meta_registry(self) -> DataFrame:
        """(meta_ck, mk_seen) of meta checksums tracked by the dedup
        service in prior supersteps (MetadataDedupStage's
        findOrTrackMetadata store, served like the content registry)."""
        if not self._meta_registry_parts:
            base = self.spark.createDataFrame([], "meta_ck string")
        else:
            base = self._meta_registry_parts[0]
            for p in self._meta_registry_parts[1:]:
                base = base.unionByName(p)
        return base.select("meta_ck", F.lit(True).alias("mk_seen"))

    # -- checkpoint manifest (per-run lineage) -----------------------------
    @property
    def _ckpt(self) -> str:
        return os.path.join(self.workdir, "checkpoint.json")

    def _ckpt_state(self, host_state_snapshot=None) -> dict:
        return {
            "superstep": self.superstep,
            "max_seq": self.max_seq,
            "committed_total": self.committed_total,
            "queued_remaining": self.queued_remaining,
            "orphans_done": self._orphans_done,
            "frontier_part": self._frontier_part,
            "ledger_rows": self._ledger_rows,
            "branch_est": self._branch_est,
            "max_sched_seen": self._max_sched_seen,
            "host_state_snapshot": (
                host_state_snapshot
                if host_state_snapshot is not None
                else self.host_state.latest_id()
            ),
            "metrics": list(self._metric_rows),
        }

    def _write_ckpt(self, state: dict) -> None:
        tmp = self._ckpt + ".tmp"
        with open(tmp, "w") as f:
            json.dump(state, f)
        os.replace(tmp, self._ckpt)

    def _save_ckpt(self) -> None:
        self._write_ckpt(self._ckpt_state())

    # -- write-behind committer --------------------------------------------
    def _submit_commit(self, fn) -> None:
        self._raise_failed()
        self._pending.append(self._committer.submit(fn))

    def _raise_failed(self) -> None:
        done = [f for f in self._pending if f.done()]
        for f in done:
            f.result()  # surfaces committer exceptions on the driver
            self._pending.remove(f)

    def flush(self) -> None:
        """Block until every submitted durability commit has landed —
        and until the deferred pool folds have too, so no engine job
        outlives flush() into a caller's teardown (session stop with a
        fold mid-checkpoint logs spurious 'Block does not exist'
        storms and can fail a pool task)."""
        self._resolve_bloom()
        self._resolve_bad_events()
        for f in list(self._pending):
            f.result()
        self._pending.clear()

    def release(self) -> int:
        """Unpersist every frame this engine pinned — localCheckpoint
        fragments (URL-seen keys, registries, sitemap hosts, event
        state, the in-memory frontier) and the Bloom filter's
        distributed dim — plus the textops operator cache registry.
        Returns how many frames were released. For long-lived
        sessions / CLI teardown; the engine must not step() after.
        All released frames are performance pins, not data: the
        durable state lives in the workdir parquet."""
        from ..operators.textops import release_caches

        self._resolve_bloom()
        self._resolve_bad_events()
        n = release_caches()
        frames: list = []
        frames += self._pinned
        frames += self._key_parts
        frames += self._registry_parts
        frames += self._meta_registry_parts
        frames += self._sitemap_host_parts
        for dim in (
            self.baseline, self.pages, self.headers, self.rules,
            self.delays, self.sitemaps, self._host_state_mem,
            self._bad_event_state, self._frontier_mem,
        ):
            if dim is not None:
                frames.append(dim)
        for df in frames:
            try:
                df.unpersist()
                n += 1
            except Exception:
                pass
        if hasattr(self.bloom, "release"):
            self.bloom.release()
        # sweep localCheckpoint storage (DataFrame.unpersist cannot
        # release it): every persistent RDD newer than the engine is
        # engine-created checkpoint state
        for rid, jrdd in _persistent_rdd_ids(self.spark).items():
            if rid not in self._preexisting_rdd_ids:
                try:
                    jrdd.unpersist(False)
                    n += 1
                except Exception:
                    pass
        self._pinned = []
        self._key_parts = []
        self._registry_parts = []
        self._meta_registry_parts = []
        self._sitemap_host_parts = []
        self._bad_event_state = None
        self._frontier_mem = None
        self._host_state_mem = None
        return n

    @classmethod
    def resume(
        cls,
        spark: SparkSession,
        workdir: str,
        cfg: CrawlConfig,
        pages_df: DataFrame | None,
        robots_df: DataFrame,
        baseline_df: DataFrame | None = None,
        fetcher: Callable | None = None,
        sitemaps_df: DataFrame | None = None,
    ) -> "CrawlEngine":
        """Rebuild engine state from the last committed checkpoint.

        Replays identically: level parts are immutable, the manifest is
        swapped atomically after all writes, and every downstream
        computation is a pure function of (level parts, config) — the
        analog of the reference's requeue-on-resume
        (CrawlerEntryLedger.java:206-241,487-511). The Bloom bitmap is
        not persisted; it is re-synced lazily from the ledger.
        """
        eng = cls(
            spark, workdir, cfg, pages_df, robots_df, baseline_df,
            fetcher, sitemaps_df,
        )
        with open(eng._ckpt) as f:
            state = json.load(f)
        eng.superstep = state["superstep"]
        eng.max_seq = state["max_seq"]
        eng.committed_total = state["committed_total"]
        eng.queued_remaining = state["queued_remaining"]
        eng._orphans_done = state.get("orphans_done", baseline_df is None)
        eng._frontier_part = state.get("frontier_part")
        eng._ledger_rows = state.get("ledger_rows", 0)
        eng._branch_est = state.get("branch_est", 10.0)
        eng._max_sched_seen = state.get("max_sched_seen", 0)
        eng._metric_rows = [tuple(r) for r in state.get("metrics", [])]
        # drop any partial writes from a crashed superstep
        part = (
            f"{state['superstep'] - 1:06d}"
            if state["superstep"] > 0
            else "0-bootstrap"
        )
        eng.documents.truncate_after(part)
        eng.levels.truncate_after(part)
        eng.sitemap_hosts.truncate_after(part)
        eng._restore_parts()
        if eng.sitemaps is not None and eng.sitemap_hosts.parts():
            # restore the durable resolved-state exactly as recorded
            eng._sitemap_host_parts = [eng.sitemap_hosts.read().cache()]
        # pin the host-state snapshot the manifest recorded: a crash
        # between the snapshot write and the manifest swap may have
        # left a NEWER snapshot on disk that this run must not see
        hs_id = state.get("host_state_snapshot")
        if hs_id is not None:
            eng._host_state_mem = eng.host_state.read(hs_id)
        return eng

    # -- bootstrap ---------------------------------------------------------
    def bootstrap(self, seed_urls: list[str]) -> None:
        """Seed enqueue (QueueBootstrapper analog; skipped on resume —
        QueueBootstrapper.java:74-79)."""
        rows = [(u, 0, 0, [], -1, i) for i, u in enumerate(seed_urls)]
        cand = self.spark.createDataFrame(
            rows,
            schema="raw_url string, depth int, avail_ms long, "
            "trail array<string>, parent_seq long, out_pos int",
        )
        self._set_shuffle(len(seed_urls))
        empty = self.spark.createDataFrame([], LEDGER_SCHEMA)
        new_rows, stats = self._queue_pipeline(cand, empty, len(seed_urls))
        # "0-bootstrap" sorts before "000000" so resume truncation
        # (drop parts > last completed superstep) never removes it.
        self.levels.append(new_rows, "0-bootstrap")
        self._add_key_fragment(new_rows)
        new_rows.unpersist()
        self._frontier_part = "0-bootstrap"
        self.queued_remaining = stats["DOCUMENT_QUEUED"]
        self._record_metrics(stats, "0-bootstrap")
        self._save_ckpt()

    # -- queue pipeline (§2.2 stage order) ---------------------------------
    def _queue_pipeline(
        self,
        cand: DataFrame,
        ledger: DataFrame,
        n_cand: int,
        collect: bool = True,
        extra_evaluated: DataFrame | None = None,
    ):
        """Candidates -> new ledger rows (QUEUED or REJECTED_*), plus
        metric counts. Stage order fixed at WebDocPipelines.java:58-65.
        ``n_cand`` is precomputed by the caller (avoids re-running the
        candidate lineage just for a count). With ``collect=False``
        returns (new_rows, counts_df, cleanup) so the caller can fold
        the counts into a single shared collect action."""
        cfg = self.cfg
        self._set_shuffle(n_cand)
        caches: list[DataFrame] = []
        c = self._evaluate_candidates(cand, ledger, n_cand, caches)

        # SitemapResolution (web/.../queue/stages/SitemapResolutionStage
        # .java:63-231): the first QUEUED candidate of a never-seen host
        # triggers a once-per-host sitemap parse; the sitemap's URLs are
        # enqueued BEFORE the trigger (the stage precedes
        # QueueReferenceStage), at depth 0, through the same evaluation.
        # Non-lenient parsing (SitemapParser.java:103) keeps locs on the
        # same host, bounding resolution to one round per superstep.
        if cfg.use_sitemaps and self.sitemaps is not None:
            c = c.cache()
            caches.append(c)
            locs = self._sitemap_candidates(c, caches)
            if locs is not None:
                c = c.unionByName(
                    self._evaluate_candidates(locs, ledger, n_cand, caches)
                )

        # requeued redirect targets enter pre-evaluated (requeueEntry
        # bypasses the queue pipeline) but share the total order so a
        # later duplicate requeue of the same target first-wins away
        if extra_evaluated is not None:
            c = c.unionByName(extra_evaluated)

        # variant marking must see the PRE-dedup frame: duplicate
        # same-superstep discoveries (the first_wins 'losers') carry
        # raw spellings the winner row must absorb
        # (ProcessFinalize.java:205-219 marks the trail over ALL
        # reference variations, not just the surviving row's own)
        pre_dedup = None
        if cfg.record_url_variants:
            pre_dedup = c.cache()
            caches.append(pre_dedup)
            c = pre_dedup

        # first-discovery-wins across candidates ∪ sitemap locs: the
        # total order (parent_seq, out_pos, sub) places each host's
        # sitemap URLs directly before their trigger
        c = first_wins(
            c,
            "url",
            ["parent_seq", "out_pos", "sub"],
            n_part=self._n_part(n_cand),
        )

        # second cache before assign_seq: the large path's range
        # partitioning samples its input (an extra pass), which must
        # not re-run the join lineage
        c = c.cache()
        caches.append(c)
        if n_cand <= SMALL_SEQ_ROWS:
            seq_df = assign_seq_small(
                c, ["parent_seq", "out_pos", "sub"], self.max_seq
            )
        else:
            seq_df = assign_seq(
                c,
                ["parent_seq", "out_pos", "sub"],
                self.max_seq,
                n_part=self._n_part(n_cand),
                first_col_bounds=self._level_bounds,
            )
        if cfg.record_url_variants:
            # reference-trail variant marking (ProcessFinalize.java:
            # 205-219): raw spellings that normalized to this url —
            # aggregated over the PRE-first_wins frame so the winner
            # row absorbs every variant, losers included
            variants = (
                pre_dedup.filter(
                    F.col("raw_url").isNotNull()
                    & (F.col("raw_url") != F.col("url"))
                )
                .groupBy("url")
                .agg(
                    F.array_sort(F.collect_set("raw_url")).alias(
                        "raw_variants"
                    )
                )
            )
            seq_df = seq_df.drop("raw_url").join(variants, "url", "left")
            rv_col = F.col("raw_variants")
        else:
            rv_col = F.lit(None).cast("array<string>")
        new_rows = seq_df.select(
            "url",
            "seen_key",
            "host",
            "depth",
            "seq",
            F.col("parent_seq").cast("long").alias("parent_seq"),
            "avail_ms",
            F.lit(None).cast("long").alias("sched_ms"),
            "status",
            "outcome",
            F.lit(None).cast("int").alias("http_status"),
            F.lit(None).cast("string").alias("checksum"),
            F.lit(None).cast("string").alias("meta_ck"),
            F.lit(False).alias("meta_tracked"),
            "sm_lastmod",
            "sm_changefreq",
            "trail",
            rv_col.alias("raw_variants"),
            F.lit(self.superstep).cast("int").alias("superstep"),
        )
        # Materialize as a flat LogicalRDD, not .cache(): a cached
        # frame short-circuits re-EXECUTION but every downstream
        # action (the merged metrics collect, the ledger/key-fragment
        # checkpoints, the level parquet write, the frontier filter,
        # the bad-event projection) still re-ANALYZES the full queue
        # mega-plan — politeness recurrence, normalize UDF, robots
        # join, two dedup windows, seq assignment — a ~1s driver cost
        # per action that is pure per-superstep floor (measured on the
        # scaling site; the same reason parse_ckpt exists). One
        # compile + one execution here; every consumer then optimizes
        # a one-node plan.
        new_rows = new_rows.localCheckpoint(eager=True)

        counts_df = new_rows.groupBy("status", "outcome").count()

        def cleanup():
            for df in caches:
                df.unpersist()
            if hasattr(seq_df, "_assign_seq_cache"):
                seq_df._assign_seq_cache.unpersist()

        if not collect:
            # caller folds counts_df into its own single collect and
            # calls _queue_stats + cleanup afterwards
            return new_rows, counts_df, cleanup
        by_status = {
            (r["status"], r["outcome"]): r["count"]
            for r in counts_df.collect()
        }
        stats = self._queue_stats(by_status, n_cand)
        cleanup()
        return new_rows, stats

    def _evaluate_candidates(
        self,
        cand: DataFrame,
        ledger: DataFrame,
        n_cand: int,
        caches: list,
    ) -> DataFrame:
        """Row-local queue-pipeline evaluation (stage order fixed at
        WebDocPipelines.java:58-65): normalize → URL-seen anti-join →
        depth/filters/robots → status/outcome columns. Ordering
        (first-wins, seq) is the caller's job — all checks here are
        order-independent, which is what lets sitemap locs evaluate
        separately and merge by order key afterwards."""
        cfg = self.cfg
        if "sub" not in cand.columns:
            cand = cand.withColumn("sub", F.lit(0))
        for c_ in ("sm_lastmod", "sm_changefreq"):
            if c_ not in cand.columns:
                cand = cand.withColumn(c_, F.lit(None).cast("string"))
        c = cand.withColumn("url", self._norm_udf(F.col("raw_url")))
        if not cfg.record_url_variants:
            c = c.drop("raw_url")  # else kept for the variants agg
        c = c.filter(F.col("url").isNotNull())
        c = c.withColumn("seen_key", F.xxhash64(F.col("url")))
        # cache BEFORE the Bloom split: fresh ∪ maybe (and the
        # robots-verdict join-back path) reference the candidate set
        # twice — without this cache the normalize-UDF lineage
        # re-executes up to 4x per superstep (seen in the event log as
        # four identical wide stages).
        c = c.cache()
        caches.append(c)

        # URL-seen: Bloom prefilter (probable) + exact anti-join (exact).
        # The bitmap is synced from the full ledger once, at the
        # threshold crossing; afterwards step() feeds it only new rows.
        ledger_keys = ledger.select("url", "seen_key")
        self._resolve_bloom()
        if (
            not self._bloom_synced
            and self._ledger_rows >= cfg.bloom_prefilter_min_ledger
        ):
            self.bloom.add_df(ledger_keys)
            self._bloom_synced = True
        # pin BOTH join sides' shuffle width explicitly (repartition-by-
        # num is AQE-coalesce-exempt and co-partitions the join, so no
        # extra exchange): the level's slim keys compress far below the
        # advisory partition size and AQE otherwise folds the anti-join
        # — and every stage until the next explicit repartition — into
        # one or two tasks.
        n_aj = self._n_part(max(n_cand, self._ledger_rows))
        if self._bloom_synced:
            maybe, fresh = self.bloom.filter_candidates(
                c, caches=caches
            )
            # the ledger side is large here (that's why the Bloom is
            # on): a shuffle-hash join keeps the build distributed
            # instead of collecting ~all ledger keys to the driver for
            # a broadcast every superstep
            maybe_new = maybe.repartition(n_aj, F.col("url")).join(
                ledger_keys.select("url")
                .repartition(n_aj, F.col("url"))
                .hint("shuffle_hash"),
                "url",
                "left_anti",
            )
            c = fresh.unionByName(maybe_new)
        else:
            # small-ledger regime: the ledger side fits the broadcast
            # threshold, so the anti-join is exchange-free — do NOT pin
            # widths here (a repartition would force two shuffles onto
            # a join Catalyst turns into a broadcast)
            c = c.join(ledger_keys.select("url"), "url", "left_anti")

        # url is canonical here -> JVM-side host extraction (no Python)
        c = c.withColumn("host", url_host_col(F.col("url")))

        too_deep = (
            (F.lit(cfg.max_depth) >= 0) & (F.col("depth") > cfg.max_depth)
            if cfg.max_depth >= 0
            else F.lit(False)
        )
        filtered = F.lit(False)
        for pat in cfg.exclude_patterns:
            filtered = filtered | F.col("url").rlike(pat)
        if cfg.include_patterns:
            any_inc = F.lit(False)
            for pat in cfg.include_patterns:
                any_inc = any_inc | F.col("url").rlike(pat)
            filtered = filtered | ~any_inc
        if cfg.blocked_extensions or cfg.max_path_segments >= 0:
            path = F.coalesce(F.parse_url(F.col("url"), F.lit("PATH")), F.lit(""))
            if cfg.blocked_extensions:
                # ExtensionReferenceFilter: extension = chars after the
                # last '.' of the last path segment
                ext = F.lower(F.regexp_extract(path, r"\.([^./]+)$", 1))
                filtered = filtered | ext.isin(
                    *[e.lower() for e in cfg.blocked_extensions]
                )
            if cfg.max_path_segments >= 0:
                # SegmentCountUrlFilter: non-empty path segments
                nseg = F.size(
                    F.filter(F.split(path, "/"), lambda s: s != F.lit(""))
                )
                filtered = filtered | (nseg > cfg.max_path_segments)

        # TOO_DEEP/FILTERED precede robots in the stage ladder, so rows
        # they already rejected never need a pattern match — mask them
        # out of the robots evaluation (null host short-circuits the
        # UDF). On a leaf level ~all candidates are TOO_DEEP: this turns
        # the level's robots cost from O(candidates) to O(live).
        live = ~too_deep & ~filtered
        if cfg.honor_robots:
            c = c.withColumn(
                "robots_ok",
                self._robots_udf(
                    F.when(live, F.col("url")),
                    F.when(live, F.col("host")),
                ),
            )
        else:
            c = c.withColumn("robots_ok", F.lit(True))

        return c.withColumn(
            "outcome",
            F.when(too_deep, "TOO_DEEP")
            .when(filtered, "FILTERED")
            .when(~F.col("robots_ok"), "ROBOTS_TXT")
            .otherwise(F.lit(None).cast("string")),
        ).withColumn(
            "status",
            F.when(F.col("outcome").isNull(), "QUEUED").otherwise("REJECTED"),
        ).select(
            "url",
            "seen_key",
            "host",
            "depth",
            "avail_ms",
            "trail",
            "parent_seq",
            "out_pos",
            "sub",
            "sm_lastmod",
            "sm_changefreq",
            "status",
            "outcome",
            *(["raw_url"] if cfg.record_url_variants else []),
        )

    def _sitemap_candidates(
        self, evaluated: DataFrame, caches: list
    ) -> DataFrame | None:
        """Sitemap locs for hosts first QUEUED this superstep.

        Trigger per new host = its min-(parent_seq, out_pos) surviving
        candidate (the queue-pipeline stages up to SitemapResolution
        have passed). Each loc becomes a candidate at depth 0 carrying
        the trigger's order key with a negative ``sub`` so the whole
        sitemap sorts directly before the trigger, in document order —
        byte-for-byte the recursive enqueue order of the reference
        (GenericSitemapResolver.java:84-165 urlConsumer -> queue
        pipeline) and of the oracle simulator.
        """
        from ..functions.sitemaps import resolve_sitemap_tree_udf

        triggers = (
            evaluated.filter(F.col("status") == "QUEUED")
            .groupBy("host")
            .agg(
                F.min(
                    F.struct("parent_seq", "out_pos", "avail_ms")
                ).alias("t"),
                # representative URL: anchors the sitemap base's
                # scheme+netloc so non-default ports survive the
                # non-lenient loc scope (deterministic min; one netloc
                # per host in practice)
                F.min("url").alias("rep_url"),
            )
        )
        # resolved-hosts state is DATAFLOW, not a driver set: the
        # anti-join runs against localCheckpointed host fragments (one
        # per resolving superstep, the _key_parts pattern) so nothing
        # O(hosts) ever ships through the driver — at 10^7+ hosts the
        # old createDataFrame(sorted(set)) re-ship was the bound. AQE
        # broadcasts the small side on its own. Durability rides the
        # same write-behind commit as the level part (see step()).
        if self._sitemap_host_parts:
            known = self._sitemap_host_parts[0]
            for frag in self._sitemap_host_parts[1:]:
                known = known.unionByName(frag)
            triggers = triggers.join(known, "host", "left_anti")
        trg = triggers.localCheckpoint(eager=True)
        self._pinned.append(trg)
        n_new = trg.count()
        if n_new == 0:
            return None
        self._sitemap_host_parts.append(trg.select("host"))
        # durable resolved-state: the trigger-host definition (a host's
        # first candidate REACHING this stage marks it resolved, even
        # if its rows all die at dedup afterwards — the oracle's and
        # GenericSitemapResolver.java's semantics) is not recoverable
        # from committed ledger rows, so it gets its own tiny sidecar
        # part per resolving superstep (the reference likewise persists
        # its resolvedSites cache in the store). Resume reads these
        # parts back; truncation follows the level parts'.
        self.sitemap_hosts.append(trg.select("host"), self._cur_part)
        triggers = trg
        sm = self.sitemaps
        if "path" not in sm.columns:
            sm = sm.withColumn("path", F.lit("/sitemap.xml"))
        # the host's full sitemap set rides into ONE udf call which
        # walks the <sitemapindex> tree from /sitemap.xml (child
        # "fetches" are lookups into the collected dim rows) — DFS
        # document order, matching GenericSitemapResolver.java:84-165
        smg = sm.groupBy("host").agg(
            F.collect_list("path").alias("paths"),
            F.collect_list("xml").alias("xmls"),
        )
        locs = (
            triggers.join(smg, "host", "inner")
            .withColumn(
                "recs",
                resolve_sitemap_tree_udf(
                    F.col("host"),
                    F.col("paths"),
                    F.col("xmls"),
                    F.col("rep_url"),
                ),
            )
            .select(
                "host",
                "t",
                F.size("recs").alias("n_locs"),
                F.posexplode("recs").alias("pos", "r"),
            )
            .select(
                F.col("r.url").alias("raw_url"),
                F.lit(0).alias("depth"),
                F.col("t.avail_ms").alias("avail_ms"),
                F.array().cast("array<string>").alias("trail"),
                F.col("t.parent_seq").alias("parent_seq"),
                F.col("t.out_pos").alias("out_pos"),
                # always negative (sorts before the sub=0 trigger)
                # regardless of sitemap size — no fixed -1e6 base to
                # overflow past the trigger on million-entry sitemaps
                (F.col("pos") - F.col("n_locs")).cast("int").alias("sub"),
                F.col("r.lastmod").alias("sm_lastmod"),
                F.col("r.changefreq").alias("sm_changefreq"),
            )
            .cache()
        )
        caches.append(locs)
        self._last_sitemap_stats = {
            "SITEMAP_HOSTS_RESOLVED": n_new,
            "SITEMAP_URLS": locs.count(),
        }
        return locs

    def _queue_stats(self, by_status: dict, n_cand: int) -> dict:
        """Fold per-(status,outcome) counts into queue metrics and
        advance the seq/ledger counters (exactly once per pipeline)."""
        sm_stats = self._last_sitemap_stats
        self._last_sitemap_stats = {}
        n_cand += sm_stats.get("SITEMAP_URLS", 0)
        n_new = sum(by_status.values())
        stats = {
            "DOCUMENT_QUEUED": by_status.get(("QUEUED", None), 0),
            "REJECTED_TOO_DEEP": by_status.get(("REJECTED", "TOO_DEEP"), 0),
            "REJECTED_FILTER": by_status.get(("REJECTED", "FILTERED"), 0),
            "REJECTED_ROBOTS_TXT": by_status.get(("REJECTED", "ROBOTS_TXT"), 0),
            "CANDIDATES": n_cand,
            "DUPLICATE_OR_BAD_SKIPPED": n_cand - n_new,
        }
        stats.update(sm_stats)
        # the level just assigned spans exactly [old max_seq, new max_seq):
        # next superstep's candidates carry parent_seq values from inside
        # it, so assign_seq can bucket by this range instead of sampling.
        # A stale/loose range is only a balance hint (the bucket map is
        # clamped + monotone), never a correctness input.
        lo = self.max_seq
        self.max_seq += n_new
        self._level_bounds = (lo, self.max_seq - 1) if n_new else None
        self._ledger_rows += n_new
        return stats

    # -- one superstep ------------------------------------------------------
    def step(self) -> StepStats | None:
        """Process the whole QUEUED level; None when the crawl is done."""
        cfg = self.cfg
        if self.queued_remaining <= 0:
            return None
        if cfg.max_docs is not None and self.committed_total >= cfg.max_docs:
            return None
        # maxCrawlDuration on the virtual politeness clock (ActivityChecker
        # analog; superstep-boundary check like max_docs — a documented
        # deviation from the reference's wall-clock mid-crawl stop)
        if (
            cfg.max_crawl_duration_ms is not None
            and self._max_sched_seen >= cfg.max_crawl_duration_ms
        ):
            return None
        self._cur_part = f"{self.superstep:06d}"
        self._raise_failed()
        # land the previous superstep's deferred pool folds BEFORE any
        # session-conf mutation: the bad-event fold shuffles (its
        # first_wins Window reads spark.sql.* at execution), so letting
        # _set_shuffle flip shuffle sizing / AQE mid-execution is a
        # race. They were submitted at the top of the previous commit
        # region, so they have already overlapped that superstep's
        # background parquet writes — the win this deferral exists for.
        self._resolve_bloom()
        self._resolve_bad_events()
        self._set_shuffle(self.queued_remaining)
        # sched_ms/checksum are re-derived this superstep (QUEUED rows
        # carry nulls for both). The frontier and host state are handed
        # over in memory by the previous superstep (localCheckpoints);
        # the parquet reads only serve a resumed run's first step. The
        # explicit repartition-by-num pins the politeness clustering
        # width — AQE would otherwise coalesce this slim-row shuffle
        # into one partition and serialize the whole politeness →
        # fetch → parse chain behind it.
        frontier = (
            self._frontier_mem
            if self._frontier_mem is not None
            else self._frontier_df()
        )
        # http_status is the QUEUED placeholder (always null here) —
        # dropped so the fetch/head/premature branches re-derive the
        # real response column without a name collision
        batch = frontier.drop(
            "sched_ms", "checksum", "meta_ck", "meta_tracked",
            "http_status",
        ).repartition(
            self._n_part(self.queued_remaining), F.col("host")
        )

        host_state = (
            self._host_state_mem
            if self._host_state_mem is not None
            else self.host_state.read()
        )
        # RecrawlableResolver (PREMATURE) runs before the delay
        # resolver: not-yet-due URLs bypass politeness and fetch
        # entirely (RecrawlableResolverStage.java:38-93)
        prem = None
        recrawl_active = self.baseline is not None and (
            cfg.min_recrawl_ms is not None
            or cfg.recrawl_min_frequencies
            or cfg.recrawl_sitemap_check
        )
        if recrawl_active:
            def _bcol(name):
                return (
                    F.col(name)
                    if name in self.baseline.columns
                    else F.lit(None).cast("string")
                )

            bsched = self.baseline.select(
                "url",
                F.col("sched_ms").alias("base_sched"),
                F.col("checksum").alias("base_ck_prem"),
                _bcol("meta_ck").alias("base_meta_prem"),
                _bcol("sm_lastmod").alias("base_sm_lastmod"),
                _bcol("sm_changefreq").alias("base_sm_changefreq"),
            )
            if self._broadcastable("baseline", self.baseline):
                bsched = F.broadcast(bsched)
            b2 = batch.join(bsched, "url", "left")
            is_prem = F.col("base_sched").isNotNull() & ~_recrawlable_col(
                cfg
            )
            # PREMATURE keeps the baseline's fetch time and checksum in
            # its ledger row (GenericRecrawlableResolver preserves the
            # prior fetch date + cached doc) so a 3rd-run chain still
            # sees the original due-time and UNMODIFIED/MODIFIED delta.
            prem = b2.filter(is_prem)
            batch = b2.filter(~is_prem).drop(
                "base_sched",
                "base_ck_prem",
                "base_meta_prem",
                "base_sm_lastmod",
                "base_sm_changefreq",
            )

        sched = schedule_hosts(
            batch,
            self.delays,
            host_state,
            cfg.default_delay_ms,
            schedules=cfg.delay_schedules,
            patterns=cfg.delay_patterns,
            scope=cfg.delay_scope,
            n_threads=cfg.delay_threads,
            delays_broadcast=self._broadcastable("delays", self.delays),
            state_broadcast=self._broadcastable("host_state"),
        )

        # -- metadata checksum band (MetadataChecksumStage + the HEAD
        # directive, WebDocPipelines.java:89-99): join the headers-only
        # projection (no html — the "HEAD") and compute meta_ck. In
        # head_before_get mode a meta-UNMODIFIED row skips the body
        # fetch+parse entirely (no link extraction); otherwise meta_ck
        # rides through the parse as a passthrough column and the
        # decision happens in the outcome ladder after noindex.
        head_rows_src = None
        meta_band = cfg.metadata_checksummer is not None or bool(
            cfg.metadata_filters
        )
        head_mode = bool(meta_band and cfg.head_before_get)
        if meta_band:
            from ..functions.checksums import meta_checksum_col
            from ..functions.filters import filters_reject_col

            hj = sched.join(self.headers, "url", "left").withColumn(
                "meta_ck",
                (
                    meta_checksum_col(
                        cfg.metadata_checksummer,
                        cfg.metadata_checksum_fields,
                    )
                    if cfg.metadata_checksummer is not None
                    else F.lit(None).cast("string")
                ),
            )
            # MetadataFiltersStage (before the metadata checksum in
            # stage order) over the header fields + reference
            mf = (
                filters_reject_col(cfg.metadata_filters)
                if cfg.metadata_filters
                else F.lit(False)
            )
            hj = hj.withColumn(
                "meta_filtered", mf & (F.col("h_status") == 200)
            ).drop("last_modified", "etag")
            if head_mode:
                if self.baseline is not None:
                    base_meta = self.baseline.select(
                        "url", F.col("meta_ck").alias("base_meta_head")
                    )
                    if self._broadcastable("baseline", self.baseline):
                        base_meta = F.broadcast(base_meta)
                    hj = hj.join(base_meta, "url", "left")
                    unmod_cond = (
                        F.col("base_meta_head").isNotNull()
                        & (F.col("meta_ck") == F.col("base_meta_head"))
                    )
                else:
                    hj = hj.withColumn(
                        "base_meta_head", F.lit(None).cast("string")
                    )
                    unmod_cond = F.lit(False)
                hj = hj.withColumn(
                    "head_unmod",
                    (F.col("h_status") == 200)
                    & ~F.col("meta_filtered")
                    & unmod_cond,
                )
                head_skip = F.col("meta_filtered") | F.col("head_unmod")
                head_rows_src = hj.filter(head_skip).drop("base_meta_head")
                sched = hj.filter(~head_skip).drop(
                    "base_meta_head", "h_status", "head_unmod"
                )
            else:
                sched = hj.drop("h_status")

        parsed = (
            self._fetch_parse(sched)
            .withColumn("premature", F.lit(False))
            .withColumn("head_unmod", F.lit(False))
        )
        if not meta_band:
            parsed = parsed.withColumn(
                "meta_ck", F.lit(None).cast("string")
            ).withColumn("meta_filtered", F.lit(False))
        if head_rows_src is not None:
            head_rows = head_rows_src.select(
                *[F.col(c) for c in batch.columns],
                "sched_ms",
                F.lit(200).alias("http_status"),
                F.lit(None).cast("string").alias("redirect_to"),
                F.lit(None).cast("string").alias("canonical"),
                F.lit(False).alias("noindex"),
                F.lit(False).alias("nofollow"),
                F.lit(None).cast("string").alias("checksum"),
                F.lit(None).cast(PARSE_FIELDS["links"].dataType).alias("links"),
                F.lit(False).cast("boolean").alias("doc_filtered"),
                F.lit(None)
                .cast(PARSE_FIELDS["post_links"].dataType)
                .alias("post_links"),
                F.lit(False).alias("premature"),
                "head_unmod",
                "meta_ck",
                "meta_filtered",
            )
            parsed = parsed.unionByName(head_rows)
        if prem is not None:
            base_meta_prem = (
                F.col("base_meta_prem")
                if "base_meta_prem" in prem.columns
                else F.lit(None).cast("string")
            )
            # sitemap directives: this run's enqueue-time values when
            # present (fresh sitemap resolution), else the cached ones
            prem_cols = [
                F.coalesce(F.col(c), F.col(f"base_{c}")).alias(c)
                if c in ("sm_lastmod", "sm_changefreq")
                else F.col(c)
                for c in batch.columns
            ]
            prem_rows = prem.select(
                *prem_cols,
                F.col("base_sched").alias("sched_ms"),
                F.lit(None).cast("int").alias("http_status"),
                F.lit(None).cast("string").alias("redirect_to"),
                F.lit(None).cast("string").alias("canonical"),
                F.lit(False).alias("noindex"),
                F.lit(False).alias("nofollow"),
                F.col("base_ck_prem").alias("checksum"),
                F.lit(None).cast(PARSE_FIELDS["links"].dataType).alias("links"),
                F.lit(False).cast("boolean").alias("doc_filtered"),
                F.lit(None)
                .cast(PARSE_FIELDS["post_links"].dataType)
                .alias("post_links"),
                F.lit(True).alias("premature"),
                F.lit(False).alias("head_unmod"),
                base_meta_prem.alias("meta_ck"),
                F.lit(False).alias("meta_filtered"),
            )
            parsed = parsed.unionByName(prem_rows)

        # stay-on-domain/protocol vs the referring page: out-of-scope
        # links are dropped at extraction, before the queue pipeline
        # (LinkExtractorStage.java:118-123; GenericUrlScopeResolver)
        parsed = parsed.withColumn("links_all_n", F.size("links"))
        scope_sitemap = (
            cfg.stay_on_sitemap
            and cfg.use_sitemaps
            and self.sitemaps is not None
        )
        if scope_sitemap:
            # sitemapPresence == PRESENT for the referring site
            # (GenericUrlScopeResolver.java:121-127, siteHasSitemap):
            # the fixture dim lists exactly the hosts whose sitemap
            # resolves, and resolution always precedes a host's fetches
            presence = self.sitemaps.select("host").distinct().withColumn(
                "__has_sm", F.lit(True)
            )
            # presence is O(hosts with sitemaps)
            if self._broadcastable("presence", presence):
                presence = F.broadcast(presence)
            parsed = parsed.join(presence, "host", "left")
        if (
            cfg.stay_on_domain
            or cfg.stay_on_protocol
            or cfg.stay_on_port
            or scope_sitemap
        ):
            ref_host = F.col("host")
            ref_proto = F.lower(F.parse_url(F.col("url"), F.lit("PROTOCOL")))

            def _res_port(ucol, proto):
                auth = F.parse_url(ucol, F.lit("AUTHORITY"))
                port = F.regexp_extract(
                    F.coalesce(auth, F.lit("")), r":(\d+)$", 1
                )
                return (
                    F.when(port != "", port.cast("int"))
                    .when(proto == "http", F.lit(80))
                    .when(proto == "https", F.lit(443))
                    .otherwise(F.lit(-1))
                )

            ref_port = _res_port(F.col("url"), ref_proto)

            def _in_scope_url(ucol):
                ok = F.lit(True)
                lp = F.lower(F.parse_url(ucol, F.lit("PROTOCOL")))
                if cfg.stay_on_protocol:
                    ok = ok & (lp == ref_proto)
                if cfg.stay_on_domain:
                    lh = F.lower(F.parse_url(ucol, F.lit("HOST")))
                    same = lh == ref_host
                    if cfg.include_subdomains:
                        same = same | lh.endswith(
                            F.concat(F.lit("."), ref_host)
                        )
                    ok = ok & same
                if cfg.stay_on_port:
                    ok = ok & (_res_port(ucol, lp) == ref_port)
                if scope_sitemap:
                    # extracted links are never sitemap-listed records;
                    # on a site with a present sitemap they all drop
                    ok = ok & ~F.coalesce(F.col("__has_sm"), F.lit(False))
                return ok

            parsed = parsed.withColumn(
                "links", F.filter("links", lambda l: _in_scope_url(l["url"]))
            )
            if cfg.post_import_links:
                # same UrlScopeResolver pass per post-import URL
                # (PostImportLinksStage.java:97-106)
                parsed = parsed.withColumn(
                    "post_links", F.filter("post_links", _in_scope_url)
                )

        is200 = F.col("http_status") == 200
        noncanon = (
            is200
            & F.col("canonical").isNotNull()
            & (F.col("canonical") != F.col("url"))
        )
        noindex = F.coalesce(F.col("noindex"), F.lit(False))

        # incremental delta: previous run's checksum for this url
        # (ChecksumStageUtil.java:46-104 — no baseline => NEW, equal =>
        # UNMODIFIED, different => MODIFIED)
        committable = is200 & ~noncanon & ~noindex
        if self.baseline is not None:
            has_meta = "meta_ck" in self.baseline.columns
            parsed = parsed.join(
                self.baseline.select(
                    "url",
                    F.col("checksum").alias("base_ck"),
                    (
                        F.col("meta_ck")
                        if has_meta
                        else F.lit(None).cast("string")
                    ).alias("base_meta"),
                    F.col("outcome").alias("base_outcome"),
                ),
                "url",
                "left",
            )
        else:
            parsed = (
                parsed.withColumn("base_ck", F.lit(None).cast("string"))
                .withColumn("base_meta", F.lit(None).cast("string"))
                .withColumn("base_outcome", F.lit(None).cast("string"))
            )

        # metadata checksum/dedup stages. meta_stage_ok = "the metadata
        # stages ran for this row": before the body in HEAD mode, after
        # noindex/canonical rejection in GET mode (WebDocPipelines.java
        # stage order). MetadataFiltersStage precedes the checksum, so
        # a meta-filtered row never reaches it.
        if cfg.metadata_checksummer is not None:
            meta_stage_ok = ~F.col("meta_filtered") & (
                is200 if head_mode else (is200 & ~noncanon & ~noindex)
            )
        else:
            meta_stage_ok = F.lit(False)
        meta_unmod = F.col("head_unmod") | (
            meta_stage_ok
            & F.col("base_meta").isNotNull()
            & (F.col("meta_ck") == F.col("base_meta"))
        )
        parsed = parsed.withColumn("meta_unmod", meta_unmod)
        meta_eligible = (
            meta_stage_ok
            & ~F.col("meta_unmod")
            & F.col("meta_ck").isNotNull()
        )
        if cfg.metadata_dedup and cfg.metadata_checksummer is not None:
            wm = (
                Window.partitionBy("meta_ck")
                .orderBy("seq")
                .rowsBetween(Window.unboundedPreceding, 0)
            )
            # pin the window's clustering width (see dup_rank below)
            parsed = parsed.repartition(
                self._n_part(self.queued_remaining), F.col("meta_ck")
            )
            parsed = parsed.withColumn(
                "meta_rank",
                F.when(
                    meta_eligible,
                    F.sum(F.when(meta_eligible, 1).otherwise(0)).over(wm),
                ),
            ).join(self._meta_registry(), "meta_ck", "left")
            parsed = parsed.withColumn(
                "meta_dup",
                meta_eligible
                & (
                    F.coalesce(F.col("mk_seen"), F.lit(False))
                    | (F.col("meta_rank") > 1)
                ),
            )
        else:
            parsed = parsed.withColumn("meta_dup", F.lit(False))
        parsed = parsed.withColumn(
            "meta_tracked", meta_eligible & ~F.col("meta_dup")
        )
        if head_mode:
            # a meta-duplicate is rejected BEFORE the GET in HEAD mode:
            # its body is never fetched, so no links may spawn (the
            # fixture join did parse it — a real two-phase fetcher
            # skips the GET; semantics are what matter here)
            parsed = parsed.withColumn(
                "links",
                F.when(F.col("meta_dup"), F.lit(None).cast(
                    PARSE_FIELDS["links"].dataType
                )).otherwise(F.col("links")),
            )

        unmod = (
            F.col("base_ck").isNotNull()
            & (F.col("base_ck") == F.col("checksum"))
        ) | F.col("meta_unmod")

        # importer-stage FILTERED verdicts: metadata filters (position
        # depends on the fetch directive), document filters (after the
        # meta stages, before the document checksum)
        meta_filtered_here = F.col("meta_filtered") & (
            F.lit(True) if head_mode else (is200 & ~noncanon & ~noindex)
        )
        doc_filtered_here = (
            F.coalesce(F.col("doc_filtered"), F.lit(False))
            & is200
            & ~noncanon
            & ~noindex
        )

        # first-reference-wins content dedup (DedupService.java:88-99):
        # rank only rows that would register a checksum — noindex,
        # noncanonical, UNMODIFIED, meta-duplicate and filtered rows
        # never register, so they must not occupy a rank slot.
        registers = (
            committable
            & ~unmod
            & ~F.col("meta_dup")
            & ~meta_filtered_here
            & ~doc_filtered_here
        )
        w = (
            Window.partitionBy("checksum")
            .orderBy("seq")
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        # pin the window's clustering width explicitly: its exchange is
        # AQE-coalescible and the level's slim rows compress far below
        # the advisory partition size, so AQE folds the whole level into
        # ONE partition — serializing the window AND everything after it
        # (outcome ladder, link explode, candidate build) until the
        # queue pipeline's own explicit repartition. A repartition-by-num
        # is exempt from coalescing and already satisfies the window's
        # clustering requirement, so this adds no extra exchange.
        parsed = parsed.repartition(
            self._n_part(self.queued_remaining), F.col("checksum")
        )
        parsed = parsed.withColumn(
            "dup_rank",
            F.when(
                registers, F.sum(F.when(registers, 1).otherwise(0)).over(w)
            ).otherwise(F.lit(None)),
        )
        parsed = parsed.join(self._checksum_registry(), "checksum", "left")

        content_unmod = F.col("base_ck").isNotNull() & (
            F.col("base_ck") == F.col("checksum")
        )

        # spoiled strategy (GenericSpoiledReferenceStrategizer.java:69):
        # DELETE drops the committed doc now; GRACE_ONCE only when the
        # PREVIOUS run was also spoiled (ProcessFinalize.java:192)
        strat_map = dict(cfg.spoiled_strategies)
        spoiled_out = (
            F.when(F.col("http_status").isNull(), "NOT_FOUND")
            .when(F.col("http_status") == 404, "NOT_FOUND")
            .when(F.col("http_status") >= 500, "BAD_STATUS")
        )
        strat = F.lit(None).cast("string")
        for o, s in strat_map.items():
            strat = F.when(spoiled_out == o, s).otherwise(strat)
        from ..functions.checksums import GOOD_OUTCOMES

        prev_bad = F.col("base_outcome").isNotNull() & ~F.col(
            "base_outcome"
        ).isin(*GOOD_OUTCOMES)
        spoiled_del = (
            F.lit(bool(cfg.spoiled_delete))
            & F.col("base_ck").isNotNull()
            & ~F.col("premature")
            & (
                (strat == "DELETE")
                | ((strat == "GRACE_ONCE") & prev_bad)
            )
        )
        parsed = parsed.withColumn("spoiled_del", spoiled_del)

        is_redirect = F.col("http_status").isin(301, 302)
        parsed = parsed.withColumn(
            "outcome",
            F.when(F.col("premature"), "PREMATURE")
            .when(F.col("http_status").isNull(), "NOT_FOUND")
            .when(F.col("http_status") == 404, "NOT_FOUND")
            .when(F.col("http_status") >= 500, "BAD_STATUS")
            .when(is_redirect, "REDIRECT")
            # HEAD mode: the metadata stages precede the body stages
            .when(F.lit(head_mode) & meta_filtered_here, "FILTERED")
            .when(F.lit(head_mode) & F.col("meta_unmod"), "UNMODIFIED")
            .when(F.lit(head_mode) & F.col("meta_dup"), "DUPLICATE")
            .when(noncanon, "NONCANONICAL")
            .when(noindex, "NOINDEX")
            .when(meta_filtered_here, "FILTERED")
            .when(F.col("meta_unmod"), "UNMODIFIED")
            .when(F.col("meta_dup"), "DUPLICATE")
            # DocumentFiltersStage sits between the metadata stages and
            # the document checksum (WebDocPipelines stage order)
            .when(doc_filtered_here, "FILTERED")
            .when(content_unmod, "UNMODIFIED")
            .when(
                F.coalesce(F.col("ck_seen"), F.lit(False))
                | (F.col("dup_rank") > 1),
                "DUPLICATE",
            )
            .when(F.col("base_ck").isNotNull(), "MODIFIED")
            .otherwise("NEW"),
        )
        # rows rejected before the document checksum stage never cache
        # a fresh checksum: metadata-stage rejects and graced spoiled
        # rows keep the baseline's (the committed doc still exists);
        # deleted spoiled rows keep none. PREMATURE rows already carry
        # theirs in `checksum`.
        spoiled_graced = (
            spoiled_out.isNotNull()
            & ~F.col("premature")
            & ~F.col("spoiled_del")
        )
        parsed = parsed.withColumn(
            "checksum",
            F.when(
                F.col("meta_unmod")
                | F.col("meta_dup")
                | meta_filtered_here
                | doc_filtered_here
                | spoiled_graced,
                F.col("base_ck"),
            ).otherwise(F.col("checksum")),
        ).withColumn(
            # cache meta_ck only where its stage ran (or carried on
            # PREMATURE) — mirrors the oracle's e.meta_ck rule
            "meta_ck",
            F.when(
                meta_stage_ok | F.col("premature"), F.col("meta_ck")
            ),
        )
        # Materialize the level NOW as a flat LogicalRDD plan rather
        # than a .cache(): every downstream action this superstep (seq
        # sampling + counts, the merged metrics collect, the mem-state
        # checkpoints, the write-behind level/documents jobs) would
        # otherwise re-run Catalyst analysis+optimization over the full
        # superstep mega-plan (politeness, meta band, fetch+parse UDF,
        # scope filters, two dedup windows, registry joins — hundreds
        # of expressions), a fixed multi-second driver cost PER ACTION
        # that dominates small levels and serializes the whole crawl
        # (measured: ~87 s serial floor at 6 supersteps, the scaling-
        # efficiency killer). The checkpoint runs the identical compute
        # as the first cache-filling action did, but leaves ~10 later
        # actions optimizing a one-node plan. Same pattern the frontier
        # and ledger hand-offs already use.
        parsed = parsed.localCheckpoint(eager=True)

        # ---- outputs of this level ----
        processed = parsed.select(
            "url",
            "seen_key",
            "host",
            "depth",
            "seq",
            "parent_seq",
            "avail_ms",
            "sched_ms",
            F.lit("PROCESSED").alias("status"),
            "outcome",
            F.col("http_status").cast("int").alias("http_status"),
            "checksum",
            "meta_ck",
            "meta_tracked",
            "sm_lastmod",
            "sm_changefreq",
            "trail",
            "raw_variants",
            F.lit(self.superstep).cast("int").alias("superstep"),
        )

        committed = parsed.filter(
            F.col("outcome").isin("NEW", "MODIFIED")
        ).select(F.col("url").alias("image_id"), "checksum", "seq", "depth")
        doc_udf = make_document_udf(cfg.image_w, cfg.image_h)
        docs = committed.withColumn("d", doc_udf(F.col("image_id"))).select(
            "image_id",
            F.col("d.bytes").alias("bytes"),
            F.col("d.w").alias("w"),
            F.col("d.h").alias("h"),
            F.col("d.fmt").alias("fmt"),
            F.col("d.caption").alias("caption"),
            F.col("d.phash").alias("phash"),
            "checksum",
            "seq",
            "depth",
            F.lit("upsert").alias("op"),
        )
        # spoiled: previously committed, now spoiled with a DELETE (or
        # triggered GRACE_ONCE) strategy -> delete op
        # (GenericSpoiledReferenceStrategizer state->strategy mapping)
        if cfg.spoiled_delete:
            spoiled = parsed.filter(F.col("spoiled_del")).select(
                F.col("url").alias("image_id"),
                F.lit(None).cast("binary").alias("bytes"),
                F.lit(None).cast("int").alias("w"),
                F.lit(None).cast("int").alias("h"),
                F.lit(None).cast("string").alias("fmt"),
                F.lit(None).cast("string").alias("caption"),
                F.lit(None).cast("long").alias("phash"),
                F.lit(None).cast("string").alias("checksum"),
                "seq",
                "depth",
                F.lit("delete").alias("op"),
            )
            docs = docs.unionByName(spoiled)

        # ---- next-level candidates ----
        # the redirect/canonical/post branches carry a few % of the
        # level's rows but, unioned, every downstream Arrow UDF node
        # is pushed into each branch — coalesce them (narrow, no
        # shuffle) so ~empty branches don't each spawn a full wave of
        # tasks paying the fixed per-task Python round-trip. Ordering
        # is unaffected: the queue pipeline sorts by explicit keys.
        n_slim = max(1, self._n_part(self.queued_remaining) // 16)
        redirects = parsed.filter(
            (F.col("outcome") == "REDIRECT")
            & (F.size("trail") < cfg.max_redirect_trail)
            & F.col("redirect_to").isNotNull()
        ).coalesce(n_slim).select(
            F.col("redirect_to").alias("raw_url"),
            "depth",
            F.col("sched_ms").alias("avail_ms"),
            F.concat(F.col("trail"), F.array(F.col("url"))).alias("trail"),
            F.col("seq").alias("parent_seq"),
            F.lit(0).alias("out_pos"),
        )
        canonicals = parsed.filter(
            (F.col("outcome") == "NONCANONICAL")
            & ~F.array_contains(F.col("trail"), F.col("canonical"))
        ).coalesce(n_slim).select(
            F.col("canonical").alias("raw_url"),
            "depth",
            F.col("sched_ms").alias("avail_ms"),
            F.concat(F.col("trail"), F.array(F.col("url"))).alias("trail"),
            F.col("seq").alias("parent_seq"),
            F.lit(0).alias("out_pos"),
        )
        links = (
            parsed.filter(F.col("links").isNotNull())
            .select(
                "depth",
                "sched_ms",
                F.col("seq").alias("parent_seq"),
                F.explode("links").alias("l"),
            )
            .select(
                F.col("l.url").alias("raw_url"),
                (F.col("depth") + 1).alias("depth"),
                F.col("sched_ms").alias("avail_ms"),
                F.array().cast("array<string>").alias("trail"),
                "parent_seq",
                F.col("l.pos").alias("out_pos"),
            )
        )
        cand = redirects.unionByName(canonicals).unionByName(links)
        if cfg.post_import_links:
            # PostImportLinksStage: committer-phase queueing — only docs
            # that reached the committer spawn these; out_pos places
            # them after every regular link of the same parent (href
            # positions are capped at 2048 by HtmlLinkExtractor)
            post = (
                parsed.filter(
                    F.col("outcome").isin("NEW", "MODIFIED")
                    & (F.size("post_links") > 0)
                )
                .coalesce(n_slim)
                .select(
                    "depth",
                    "sched_ms",
                    F.col("seq").alias("parent_seq"),
                    F.posexplode("post_links").alias("pos", "raw_url"),
                )
                .select(
                    "raw_url",
                    (F.col("depth") + 1).alias("depth"),
                    F.col("sched_ms").alias("avail_ms"),
                    F.array().cast("array<string>").alias("trail"),
                    "parent_seq",
                    (F.lit(1_000_000) + F.col("pos")).alias("out_pos"),
                )
            )
            cand = cand.unionByName(post)

        # redirect one-requeue rule (WebImporterPipelineUtil.java:
        # 103-160): a redirect target already PROCESSED with a bad
        # outcome and not in the current trail is queued once more via
        # requeueEntry — BYPASSING the queue pipeline (so it skips the
        # URL-seen anti-join and filters). The sequential ledger lookup
        # is reproduced by the event stream: latest event before the
        # redirecting source's own turn decides the target's state.
        # _events() is the compact bad-target state (all historical
        # turns < any live parent_seq by seq monotonicity), so only
        # current-level PROCESSED events need the turn comparison.
        requeue_eval = None
        if cfg.redirect_requeue:
            from ..functions.checksums import GOOD_OUTCOMES

            rq = redirects.withColumn(
                "url", self._norm_udf(F.col("raw_url"))
            ).filter(F.col("url").isNotNull())
            cur_ev = parsed.select(
                "url",
                F.col("seq").alias("turn"),
                F.lit("PROCESSED").alias("kind"),
                F.col("outcome").alias("ev_outcome"),
            )
            ev = self._events().unionByName(cur_ev)
            j = rq.join(ev, "url", "inner").filter(
                F.col("turn") < F.col("parent_seq")
            )
            last = j.groupBy("url", "parent_seq").agg(
                F.first("depth").alias("depth"),
                F.first("avail_ms").alias("avail_ms"),
                F.first("trail").alias("trail"),
                F.first("out_pos").alias("out_pos"),
                F.first("raw_url").alias("raw_url"),
                F.max_by(
                    F.struct(F.col("kind"), F.col("ev_outcome")),
                    F.col("turn"),
                ).alias("last"),
            )
            matched = last.filter(
                (F.col("last.kind") == "PROCESSED")
                & ~F.coalesce(
                    F.col("last.ev_outcome").isin(*GOOD_OUTCOMES),
                    F.lit(False),
                )
                & ~F.array_contains(F.col("trail"), F.col("url"))
            )
            requeue_eval = matched.select(
                "url",
                F.xxhash64(F.col("url")).alias("seen_key"),
                url_host_col(F.col("url")).alias("host"),
                "depth",
                "avail_ms",
                "trail",
                "parent_seq",
                "out_pos",
                F.lit(0).alias("sub"),
                F.lit(None).cast("string").alias("sm_lastmod"),
                F.lit(None).cast("string").alias("sm_changefreq"),
                F.lit("QUEUED").alias("status"),
                F.lit(None).cast("string").alias("outcome"),
                *(
                    [F.col("raw_url")]
                    if cfg.record_url_variants
                    else []
                ),
            )

        # ---- queue pipeline FIRST: its count action materializes the
        # whole superstep (politeness/fetch/parse cache + candidate
        # lineage) as ONE job with no barrier between parse and queue
        # stages. Partition sizing uses the previous superstep's
        # branching ratio (an estimate is fine — it only shapes the
        # physical plan); exact candidate counts come from the metrics
        # aggregation right after, which now reads the warm cache. ----
        n_est = max(1, int(self.queued_remaining * self._branch_est))
        new_rows, counts_df, qp_cleanup = self._queue_pipeline(
            cand,
            self._ledger_keys(),
            n_est,
            collect=False,
            extra_evaluated=requeue_eval,
        )

        # ---- ONE action materializes the whole superstep AND returns
        # both metric aggregations: the queue-status counts and the
        # per-outcome level metrics, unioned with a tag column ----
        agg_df = (
            parsed.groupBy("outcome")
            .agg(
                F.count("*").alias("n"),
                F.sum(F.coalesce(F.size("links"), F.lit(0))).alias("n_links"),
                F.sum(F.coalesce(F.col("links_all_n"), F.lit(0))).alias(
                    "n_links_all"
                ),
                F.sum(
                    F.when(
                        F.size("trail") >= cfg.max_redirect_trail, 1
                    ).otherwise(0)
                ).alias("n_loops"),
                F.sum(
                    F.when(
                        (F.size("trail") < cfg.max_redirect_trail)
                        & F.col("redirect_to").isNotNull(),
                        1,
                    ).otherwise(0)
                ).alias("n_redir_enq"),
                F.sum(
                    F.when(
                        ~F.coalesce(
                            F.array_contains(F.col("trail"), F.col("canonical")),
                            F.lit(False),
                        ),
                        1,
                    ).otherwise(0)
                ).alias("n_canon_enq"),
                F.sum(
                    F.when(F.col("base_ck").isNotNull(), 1).otherwise(0)
                ).alias("n_had_baseline"),
                F.sum(
                    F.when(F.col("spoiled_del"), 1).otherwise(0)
                ).alias("n_spoiled_del"),
                F.max("sched_ms").alias("max_sched"),
                F.sum(
                    F.coalesce(F.size("post_links"), F.lit(0))
                ).alias("n_post"),
            )
        )
        merged = agg_df.withColumn("__src", F.lit("agg")).unionByName(
            counts_df.withColumnRenamed("count", "qp_count").withColumn(
                "__src", F.lit("queue")
            ),
            allowMissingColumns=True,
        )
        rows = merged.collect()
        agg_rows = [r for r in rows if r["__src"] == "agg"]
        by_status = {
            (r["status"], r["outcome"]): r["qp_count"]
            for r in rows
            if r["__src"] == "queue"
        }
        qstats = self._queue_stats(by_status, n_est)
        qp_cleanup()
        out_counts = {r["outcome"]: r["n"] for r in agg_rows}
        n_links = sum(r["n_links"] for r in agg_rows)
        n_links_all = sum(r["n_links_all"] for r in agg_rows)
        redirect_loops = sum(
            r["n_loops"] for r in agg_rows if r["outcome"] == "REDIRECT"
        )
        n_post = sum(
            int(r["n_post"])
            for r in agg_rows
            if r["outcome"] in ("NEW", "MODIFIED")
        )
        n_cand = int(n_links) + n_post
        for r in agg_rows:
            if r["outcome"] == "REDIRECT":
                n_cand += int(r["n_redir_enq"])
            elif r["outcome"] == "NONCANONICAL":
                n_cand += int(r["n_canon_enq"])
        # patch the estimate-based candidate stats with exact counts
        n_new = (
            qstats["DOCUMENT_QUEUED"]
            + qstats["REJECTED_TOO_DEEP"]
            + qstats["REJECTED_FILTER"]
            + qstats["REJECTED_ROBOTS_TXT"]
        )
        n_cand += qstats.get("SITEMAP_URLS", 0)
        qstats["CANDIDATES"] = n_cand
        qstats["DUPLICATE_OR_BAD_SKIPPED"] = n_cand - n_new
        fetched_n = sum(r["n"] for r in agg_rows)
        self._branch_est = max(1.0, n_cand / max(1, fetched_n))
        self._max_sched_seen = max(
            [self._max_sched_seen]
            + [
                int(r["max_sched"])
                for r in agg_rows
                if r["outcome"] != "PREMATURE" and r["max_sched"] is not None
            ]
        )

        spoiled_deletes = (
            sum(r["n_spoiled_del"] for r in agg_rows)
            if cfg.spoiled_delete
            else 0
        )
        n_prem = out_counts.get("PREMATURE", 0)
        stats = dict(qstats)
        stats.update(
            {
                "REJECTED_PREMATURE": n_prem,
                "DOCUMENT_FETCHED": sum(out_counts.values()) - n_prem,
                "DOCUMENT_COMMITTED_UPSERT": out_counts.get("NEW", 0)
                + out_counts.get("MODIFIED", 0),
                "REJECTED_UNMODIFIED": out_counts.get("UNMODIFIED", 0),
                "DOCUMENT_COMMITTED_DELETE": spoiled_deletes,
                "REJECTED_NOTFOUND": out_counts.get("NOT_FOUND", 0),
                "REJECTED_BAD_STATUS": out_counts.get("BAD_STATUS", 0),
                "DOCUMENT_REDIRECTED": out_counts.get("REDIRECT", 0),
                "REJECTED_NONCANONICAL": out_counts.get("NONCANONICAL", 0),
                "REJECTED_NOINDEX": out_counts.get("NOINDEX", 0),
                "REJECTED_FILTER_IMPORT": out_counts.get("FILTERED", 0),
                "REJECTED_DUPLICATE": out_counts.get("DUPLICATE", 0),
                "REJECTED_REDIRECT_LOOP": redirect_loops,
                "URLS_EXTRACTED": int(n_links_all or 0),
                "URLS_OUT_OF_SCOPE": int((n_links_all or 0) - (n_links or 0)),
                "URLS_POST_IMPORTED": n_post,
            }
        )

        # ---- commit: O(level) writes only, WRITE-BEHIND ----
        # The next superstep depends only on in-memory state (frontier
        # localCheckpoint, host-state localCheckpoint, key/registry
        # fragments, Bloom bitmap, driver counters). The durable level
        # part, documents part, host-state snapshot and manifest are
        # handed to a single ordered committer thread: a crash before a
        # manifest lands simply replays that superstep identically from
        # the previous manifest. Hides the heaviest write stage (image
        # synthesis + parquet encode) under the next superstep's
        # latency-bound phases.
        # coalesce the union branches: without it each branch keeps its
        # own partitions and the write stage runs 2x-parallelism
        # concurrent tasks — oversubscribing the Python workers 2:1
        # (measured 5x core-seconds inflation on the image stage).
        n_out = self._n_part(
            stats["DOCUMENT_FETCHED"] + stats["DOCUMENT_QUEUED"]
        )
        sid = self.superstep + 1
        part = f"{self.superstep:06d}"

        # ONE localCheckpoint serves both hand-offs: the key fragment
        # (all new rows) and the next frontier (its QUEUED subset) are
        # lazy projections of the same flat snapshot, and the level
        # write below reuses the snapshot instead of the cache. The
        # registry snapshot (parsed's plan references the prior
        # registry — lineage-flattening) and the host-state fold are
        # independent reads of already-materialized caches, so all
        # three checkpoints run as CONCURRENT jobs.
        prev_state = (
            self._host_state_mem
            if self._host_state_mem is not None
            else self.host_state.read()
        )
        # premature rows never held a politeness slot — they must not
        # advance the per-host clock. The fold keys by the politeness
        # scope key (host for SITE; global/thread sentinel otherwise),
        # stored in the host_state table's `host` column.
        from ..operators.politeness import scope_key_col

        new_state_df = (
            parsed.filter(~F.col("premature"))
            .groupBy(
                scope_key_col(
                    cfg.delay_scope, cfg.delay_threads
                ).alias("host")
            )
            .agg(F.max("sched_ms").alias("last_sched_ms"))
        )
        if prev_state is not None:
            new_state_df = (
                new_state_df.unionByName(prev_state)
                .groupBy("host")
                .agg(F.max("last_sched_ms").alias("last_sched_ms"))
            )
        ckpt_dfs = {
            "ledger": new_rows.select(*[f.name for f in LEDGER_SCHEMA.fields]),
            "registry": parsed.filter(
                F.col("outcome").isin("NEW", "MODIFIED")
            ).select("checksum"),
            "host_state": new_state_df,
        }
        if cfg.metadata_dedup:
            ckpt_dfs["meta_registry"] = parsed.filter(
                F.col("meta_tracked")
            ).select("meta_ck")
        futs = {
            k: self._ckpt_pool.submit(df.localCheckpoint, True)
            for k, df in ckpt_dfs.items()
        }
        new_chk = futs["ledger"].result()
        new_state = futs["host_state"].result()
        self._pinned.append(new_chk)
        frag = new_chk.select("url", "seen_key")
        if self._bloom_synced:
            # the bitmap isn't consulted again until the NEXT
            # superstep's queue pipeline — fold the new keys in on the
            # pool and only block there (_resolve_bloom)
            self._bloom_fut = self._ckpt_pool.submit(
                self.bloom.add_df, frag
            )
        self._key_parts.append(frag)
        self._registry_parts.append(futs["registry"].result())
        if cfg.metadata_dedup:
            self._meta_registry_parts.append(futs["meta_registry"].result())
        if cfg.redirect_requeue:
            # fold this superstep's events (PROCESSED rows at their own
            # seq; new QUEUED/REJECTED rows at their parent's turn) into
            # the compact bad-target state — O(level + |bad|), replacing
            # r2's ever-growing event-fragment union. The fold's plan is
            # built here (it references the current state) but its
            # checkpoint runs on the pool — the state is next read in
            # the NEXT superstep's queue pipeline (_events), which
            # resolves the future.
            cur_events = parsed.select(
                "url",
                F.col("seq").alias("turn"),
                F.lit("PROCESSED").alias("kind"),
                F.col("outcome").alias("ev_outcome"),
            ).unionByName(new_chk.select(*_event_proj()))
            old_ev = self._bad_event_state
            merged_ev = self._merge_bad_events(cur_events)
            self._bad_ev_fut = self._ckpt_pool.submit(
                lambda df=merged_ev, old=old_ev: (
                    df.localCheckpoint(True),
                    old,
                )
            )
        next_frontier = new_chk.filter(F.col("status") == "QUEUED")
        # the superseded snapshot is dead: new_state is eagerly
        # materialized, nothing re-reads the old frame
        if (
            self._host_state_mem is not None
            and self._host_state_mem is not new_state
        ):
            try:
                self._host_state_mem.unpersist()
            except Exception:
                pass
        self._host_state_mem = new_state

        self._record_metrics(stats, part)
        self._frontier_part = part
        self.committed_total += stats["DOCUMENT_COMMITTED_UPSERT"]
        self.queued_remaining = (
            self.queued_remaining
            - stats["DOCUMENT_FETCHED"]
            - stats["REJECTED_PREMATURE"]
            + stats["DOCUMENT_QUEUED"]
        )
        st = StepStats(
            superstep=self.superstep,
            fetched=stats["DOCUMENT_FETCHED"],
            committed=stats["DOCUMENT_COMMITTED_UPSERT"],
            queued_new=stats["DOCUMENT_QUEUED"],
            metrics=stats,
        )
        self.superstep = sid
        self._frontier_mem = next_frontier

        level_df = processed.unionByName(new_chk).coalesce(n_out)
        # same 2-branch coalesce for the image-payload write (the most
        # CPU-intensive stage — worker count must equal core count)
        docs_df = docs.coalesce(n_out)
        ckpt_state = self._ckpt_state(host_state_snapshot=sid)

        # level_df/docs_df read the `parsed` cache (MEMORY_AND_DISK —
        # Spark SQL's .cache() default): eviction spills to disk rather
        # than recomputing the fetch lineage, so the background write
        # cannot silently re-fetch; the per-superstep shuffle-partition
        # mutation only affects *new* shuffles, and both writes are
        # shuffle-free (coalesce of cached partitions).
        def commit():
            self.levels.append(level_df, part)
            self.documents.append(docs_df, part)
            self.host_state.write(new_state, sid)
            parsed.unpersist()
            new_rows.unpersist()
            self._write_ckpt(ckpt_state)

        self._submit_commit(commit)
        return st

    def _inject_orphans(self) -> None:
        """Orphan pass: every baseline URL never rediscovered this run
        (RequeueOrphansForProcessingStep analog). PROCESS requeues them
        through the normal queue pipeline in baseline-seq order;
        DELETE emits delete ops for previously committed ones."""
        self.flush()
        orphans = self.baseline.join(
            self._ledger_keys().select("url"), "url", "left_anti"
        ).cache()
        self._pinned.append(orphans)
        strategy = self.cfg.orphan_strategy
        sid = self.superstep + 1
        part = f"{self.superstep:06d}"
        self._cur_part = part
        if strategy == "PROCESS":
            cand = orphans.select(
                F.col("url").alias("raw_url"),
                F.col("depth").cast("int").alias("depth"),
                F.lit(0).cast("long").alias("avail_ms"),
                F.array().cast("array<string>").alias("trail"),
                F.col("seq").cast("long").alias("parent_seq"),
                F.lit(0).alias("out_pos"),
            )
            n = orphans.count()
            new_rows, stats = self._queue_pipeline(cand, self._ledger_keys(), n)
            stats["ORPHANS_REQUEUED"] = n
            self.levels.append(new_rows, part)
            self._add_key_fragment(new_rows)
            self._frontier_mem = (
                new_rows.filter(F.col("status") == "QUEUED")
                .localCheckpoint(eager=True)
            )
            new_rows.unpersist()
            self._frontier_part = part
            self.queued_remaining += stats["DOCUMENT_QUEUED"]
            self._record_metrics(stats, part)
        elif strategy == "DELETE":
            deletes = orphans.filter(F.col("checksum").isNotNull()).select(
                F.col("url").alias("image_id"),
                F.lit(None).cast("binary").alias("bytes"),
                F.lit(None).cast("int").alias("w"),
                F.lit(None).cast("int").alias("h"),
                F.lit(None).cast("string").alias("fmt"),
                F.lit(None).cast("string").alias("caption"),
                F.lit(None).cast("long").alias("phash"),
                F.lit(None).cast("string").alias("checksum"),
                F.col("seq").cast("long").alias("seq"),
                F.col("depth").cast("int").alias("depth"),
                F.lit("delete").alias("op"),
            )
            self.documents.append(deletes, part)
            n_del = deletes.count()
            self._record_metrics({"DOCUMENT_COMMITTED_DELETE": n_del}, part)
        # IGNORE: nothing to write; the frontier is already drained
        orphans.unpersist()
        self.superstep = sid
        self._save_ckpt()

    def run(self, max_supersteps: int = 10_000) -> list[StepStats]:
        out = []
        for _ in range(max_supersteps):
            st = self.step()
            if st is None:
                hit_max_docs = (
                    self.cfg.max_docs is not None
                    and self.committed_total >= self.cfg.max_docs
                ) or (
                    self.cfg.max_crawl_duration_ms is not None
                    and self._max_sched_seen
                    >= self.cfg.max_crawl_duration_ms
                )
                if not self._orphans_done and not hit_max_docs:
                    self._orphans_done = True
                    self._inject_orphans()
                    continue
                break
            out.append(st)
        self.flush()
        # _set_shuffle may have left AQE off after a small final level;
        # restore the session default so later non-engine queries (and
        # plan tests) see it on
        self.spark.conf.set("spark.sql.adaptive.enabled", "true")
        return out

    # -- outputs -------------------------------------------------------------
    def _record_metrics(self, stats: dict, part: str) -> None:
        self._metric_rows.extend(
            (part, k, int(v)) for k, v in stats.items()
        )

    def fetch_log(self) -> DataFrame:
        """(url, host, depth, scheduled_at_ms, outcome) in fetch order."""
        self.flush()
        return (
            self.levels.read()
            .filter(F.col("status") == "PROCESSED")
            .select(
                "seq",
                "url",
                "host",
                "depth",
                F.col("sched_ms").alias("scheduled_at_ms"),
                "outcome",
            )
            .orderBy("seq")
        )

    def url_status_report(
        self,
        status_codes: str | None = None,
        out_dir: str | None = None,
        file_name_prefix: str = "urlstatuses-",
    ) -> DataFrame:
        """UrlStatusCrawlerEventListener analog (web/.../event/
        listeners/UrlStatusCrawlerEventListener.java:30-160): every
        fetched URL with its raw HTTP response code and its referrer
        (the parent row's url via parent_seq — the reference takes
        getReferrerReference()), optionally filtered to the
        comma-separated code list with inclusive ``lo-hi`` ranges
        (e.g. ``"100-199,201-599"`` = everything but 200). Returns
        the report DataFrame ordered by fetch seq; when ``out_dir``
        is set also writes ``<prefix><last-part>`` CSV part files
        there (distributed write — no driver collect)."""
        rows = (
            self.levels.read()
            .filter(
                (F.col("status") == "PROCESSED")
                & F.col("http_status").isNotNull()
            )
            .select("seq", "parent_seq", "url", "http_status")
        )
        if status_codes:
            cond = None
            for tok in str(status_codes).split(","):
                tok = tok.strip()
                if not tok:
                    continue
                if "-" in tok:
                    lo, hi = (int(x) for x in tok.split("-", 1))
                    c = F.col("http_status").between(lo, hi)
                else:
                    if not tok.isdigit():
                        raise ValueError(
                            "url_status_report: statusCodes must be "
                            f"numbers or lo-hi ranges, got {tok!r}"
                        )
                    c = F.col("http_status") == int(tok)
                cond = c if cond is None else (cond | c)
            if cond is not None:
                rows = rows.filter(cond)
        # a seq appears on both its QUEUED and PROCESSED ledger rows
        # with the same url — distinct() keeps the referrer join 1:1
        parents = (
            self.levels.read()
            .select(
                F.col("seq").alias("parent_seq"),
                F.col("url").alias("referrer"),
            )
            .distinct()
        )
        report = (
            rows.join(parents, "parent_seq", "left")
            .select(
                "seq",
                F.coalesce("referrer", F.lit("")).alias("referrer"),
                "url",
                F.col("http_status").alias("status"),
            )
            .orderBy("seq")
        )
        if out_dir is not None:
            report.drop("seq").write.mode("overwrite").option(
                "header", True
            ).csv(
                os.path.join(
                    out_dir, f"{file_name_prefix}{self._cur_part}"
                )
            )
        return report

    def urlseen(self) -> DataFrame:
        """Final per-URL state: the latest-superstep row wins (a QUEUED
        row is superseded by its PROCESSED row one level later; at the
        bootstrap/step-0 tie the higher status rank wins)."""
        self.flush()
        rank = (
            F.when(F.col("status") == "PROCESSED", 2)
            .when(F.col("status") == "REJECTED", 1)
            .otherwise(0)
        )
        w = Window.partitionBy("url").orderBy(
            F.desc("superstep"), F.desc(rank)
        )
        return (
            self.levels.read()
            .withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .select("url", "status", "outcome", "depth")
        )

    def docs_df(self) -> DataFrame | None:
        self.flush()
        return self.documents.read()

    def deletes_df(self) -> DataFrame | None:
        self.flush()
        docs = self.documents.read()
        return docs.filter(F.col("op") == "delete") if docs is not None else None

    def metrics_df(self) -> DataFrame | None:
        if not self._metric_rows:
            return None
        return self.spark.createDataFrame(
            self._metric_rows, schema="superstep string, event string, count long"
        )


def load_baseline(spark: SparkSession, prev_workdir: str) -> DataFrame:
    """Previous run's ledger as the incremental baseline:
    (url, checksum, depth, seq, sched_ms) — the ledger_a->baseline flip
    of CrawlerEntryLedger.java:619-658 re-expressed as reading the
    prior run's final state.

    The checksum is the *cached* one: present for every row that
    reached the checksum stage (NEW/MODIFIED/UNMODIFIED/DUPLICATE —
    DocumentChecksumStage stores it on the entry even when the row is
    then rejected) and carried forward on PREMATURE; null for rows
    rejected earlier (NOINDEX/NONCANONICAL/errors)."""
    ledger_dir = os.path.join(prev_workdir, "ledger_levels")
    table = AppendTable(spark, ledger_dir, schema=LEDGER_SCHEMA)
    if not table.parts():
        # a prev_workdir with no committed level parts is a wrong path
        # or an incompatible layout — silently returning an empty
        # baseline would degrade the recrawl into a full crawl
        raise FileNotFoundError(
            f"no ledger level parts under {ledger_dir}; "
            "not a completed crawlspark workdir"
        )
    levels = table.read()
    from ..functions.checksums import CACHED_OUTCOMES

    cached = F.col("outcome").isin(*CACHED_OUTCOMES)
    w = Window.partitionBy("url").orderBy(F.desc("seq"))
    return (
        levels.filter(F.col("status") == "PROCESSED")
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)  # latest row wins (redirect requeue)
        .select(
            "url",
            "depth",
            "seq",
            "sched_ms",
            F.when(cached, F.col("checksum")).alias("checksum"),
            # meta_ck is already stage-gated at write time
            "meta_ck",
            "sm_lastmod",
            "sm_changefreq",
            # prior outcome drives the GRACE_ONCE spoiled strategy
            "outcome",
        )
    )
