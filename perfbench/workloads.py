"""Benchmark workloads: each is a synthetic site plus a crawl config,
generated from the ``--seed`` argument alone.

The engine only ever sees the generated inputs: the seed URLs, a
robots DataFrame and a fetcher (``webgen.make_fetcher``). The oracle
sees the same site as plain dicts (``webgen.build_site``).

Both workloads are sized so that one crawl takes 20-30 s on a 4-core
box: every superstep pays a fixed driver floor of 5-9 s, so depth
(the number of supersteps) sets most of the cost, and the size of the
widest level sets the rest. One crawl is all a run measures: with
set-up, the oracle and the gate a run takes about a minute, and the
benchmark's 48 runs must fit in under an hour. Both spread their
pages over enough hosts that the site's size, and so every metric,
varies little from one seed to the next.

Why each workload was chosen is in ``BENCHMARK.json``. Which per-layer
metric should move which end-to-end metric, and where
(``LAYER_EFFECTS``), is part of the benchmark's definition: a change
that claims a gain on one layer names the pairing beforehand.
"""

from __future__ import annotations

from dataclasses import dataclass, replace

from crawlspark.config import CrawlConfig
from crawlspark.sources.webgen import SiteParams


@dataclass(frozen=True)
class Workload:
    name: str
    site: SiteParams  # seed is replaced per run
    cfg: CrawlConfig
    # a few-dozen-URL version of the same shape, for the smoke tests
    tiny: SiteParams

    def site_for(self, seed: int) -> SiteParams:
        return replace(self.site, seed=seed)

    def cfg_for(self) -> CrawlConfig:
        return replace(self.cfg, max_depth=self.site.depth)


WORKLOADS: dict[str, Workload] = {
    w.name: w
    for w in (
        Workload(
            name="wide-fanout",
            # today's bench.py site shape scaled to 4 cores: one level
            # of 24x300 pages under the seeds, without its redirects
            # and canonical links: those send a few URLs into pruned
            # subtrees, and whether that adds one or two tail
            # supersteps varies from seed to seed (+-10% run time)
            site=SiteParams(
                n_hosts=24, depth=1, branching=300, dup_pct=0.10,
                error_pct=0.02, variant_pct=0.05, cycle_pct=0.05,
                cross_pct=0.10, n_seed_hosts=24,
            ),
            cfg=CrawlConfig(default_delay_ms=1000, image_w=48, image_h=48),
            tiny=SiteParams(
                n_hosts=3, depth=1, branching=8, dup_pct=0.10,
                error_pct=0.02, variant_pct=0.05, cycle_pct=0.05,
                cross_pct=0.10, n_seed_hosts=3,
            ),
        ),
        Workload(
            name="deep-dup",
            # the reference dup-heavy.yaml mix at depth 2, not 5, and
            # without its canonical noise and redirects: each superstep
            # pays a driver floor of several seconds, and redirect or
            # canonical targets landing in pruned subtrees add a
            # seed-dependent number of tail supersteps (+-20% run time).
            # 64 hosts keep the site's size within a few percent from
            # seed to seed.
            site=SiteParams(
                n_hosts=64, depth=2, branching=6, dup_pct=0.35,
                variant_pct=0.30, cross_pct=0.30, n_seed_hosts=64,
            ),
            cfg=CrawlConfig(default_delay_ms=1000),
            tiny=SiteParams(
                n_hosts=2, depth=2, branching=3, dup_pct=0.35,
                variant_pct=0.30, cross_pct=0.30, n_seed_hosts=2,
            ),
        ),
    )
}


# per-layer metric -> (end-to-end metric it should move, workload)
LAYER_EFFECTS: dict[str, tuple[str, str]] = {
    "session.start_s": ("setup_s", "all"),
    "session.warmup_s": ("setup_s", "all"),
    "session.engine_init_s": ("setup_s", "all"),
    "plans.bootstrap_s": ("run_s", "deep-dup"),
    "plans.supersteps": ("run_s", "deep-dup"),
    "plans.step_s.p50": ("run_s", "deep-dup"),
    "plans.step_s.max": ("run_s", "deep-dup"),
    "plans.small_step_s": ("run_s", "deep-dup"),
    "plans.jobs_per_step": ("run_s", "deep-dup"),
    "plans.tasks_per_step": ("run_s", "deep-dup"),
    "plans.other_core_s": ("run_s", "deep-dup"),
    "plans.flush_wait_s": ("run_s", "wide-fanout"),
    "plans.ledger.write_core_s": ("run_s", "wide-fanout"),
    "plans.ledger.bytes_written": ("store_bytes_per_url", "wide-fanout"),
    "plans.ledger.baseline_load_s": ("run_s", "recrawl, not run here"),
    "sources.fetch_parse_core_s": ("urls_per_s", "wide-fanout"),
    "sources.fetch_rows_per_core_s": ("urls_per_s", "wide-fanout"),
    "sources.docgen_s": ("docs_per_s", "wide-fanout"),
    "functions.parse_s": ("urls_per_s", "wide-fanout"),
    "functions.urlnorm_s": ("run_s", "deep-dup"),
    "functions.arrow_udf_core_s": ("run_s", "deep-dup"),
    "operators.politeness.schedule_s": ("run_s", "deep-dup"),
    "operators.dedup.first_wins_s": ("run_s", "deep-dup"),
    "operators.dedup.assign_seq_s": ("run_s", "deep-dup"),
    "operators.dedup.urlseen_antijoin_s": ("run_s", "deep-dup"),
    "operators.dedup.queue_yield": ("run_s", "deep-dup"),
    "operators.robots.verdict_s": ("run_s", "deep-dup"),
    "operators.similarity.phash_neardup_s": ("run_s", "corpus queries, not run here"),
    "operators.textops.minhash_s": ("run_s", "corpus queries, not run here"),
    "sinks.export_s": ("run_s", "recrawl, not run here"),
    "spark.core_s": ("run_s", "all"),
    "spark.gc_s": ("peak_rss_mb", "all"),
    "spark.heap_after_gc_mb": ("peak_rss_mb", "all"),
}
