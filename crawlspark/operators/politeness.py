"""Per-host politeness scheduler — the one genuinely custom physical
operator (SURVEY.md §4: SiteDelay semantics).

Semantics (engine == oracle, see oracle/simulator.py):
    sched_i = max(avail_i, last_sched[host] + delay_ms)
processed per host in ``seq`` order, where ``avail`` is the
discovering parent's own scheduled time and ``delay_ms`` follows the
reference precedence robots crawl-delay > default 3 s
(AbstractDelayResolver.java:100-115; BaseDelayResolverConfig.java:64;
per-site serialization SiteDelay.java:44-58).

Physical shape: ``groupBy(host).applyInPandas`` with the recurrence
*vectorized* — for constant per-host delay,
    sched_i = i*delay + max(last+delay, running_max(avail_j - j*delay))
is a single ``np.maximum.accumulate``, so even a hot host with millions
of queued URLs costs O(n) numpy, not O(n) Python. Host groups are
hash-distributed across executors; cross-host skew is handled by AQE
(the group itself must stay whole — the recurrence is serial per host
by *definition* of politeness, so "salting" a host would change the
semantics; the scale lever is that per-row work is ~3 numpy ops).
"""

from __future__ import annotations

import re

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

MS_PER_HOUR = 3_600_000


def _in_circular(v, lo, hi) -> bool:
    """Inclusive circular-range containment (CircularRange.contains):
    wraps when lo > hi."""
    return (lo <= v <= hi) if lo <= hi else (v >= lo or v <= hi)


def resolve_delay(
    url: str,
    t_probe_ms: int,
    robots_delay_ms: int | None,
    schedules: tuple,
    patterns: list,
    default_ms: int,
) -> int:
    """Per-request politeness delay with the reference precedence
    (AbstractDelayResolver.java:84-115): robots crawl-delay >
    time-of-day schedule (GenericDelayResolver.java:84-151, circular
    windows, first match wins) > per-URL-pattern delay
    (ReferenceDelayResolver.java, first match wins) > default.

    ``t_probe_ms``: the virtual wall time the request is considered
    (the reference evaluates its schedule at 'now' before sleeping).
    ``patterns``: [(compiled_regex, delay_ms)].
    """
    if robots_delay_ms is not None:
        return int(robots_delay_ms)
    if schedules:
        hour = (t_probe_ms // MS_PER_HOUR) % 24
        for sch in schedules:
            if len(sch) == 3:  # legacy (from_hour, to_hour, delay)
                f_h, t_h, d = sch
                hit = (f_h <= hour < t_h) if f_h <= t_h else (
                    hour >= f_h or hour < t_h
                )
                if hit:
                    return int(d)
                continue
            # (dow_range, dom_range, hour_range, delay) — circular
            # inclusive ranges, any None matches (GenericDelayResolver
            # CircularSchedule.isDateTimeInSchedule)
            dow_r, dom_r, hod_r, d = sch
            if dow_r is not None:
                dow = ((t_probe_ms // 86_400_000) + 3) % 7 + 1  # 1=Mon
                if not _in_circular(dow, *dow_r):
                    continue
            if dom_r is not None:
                from datetime import datetime, timezone

                dom = datetime.fromtimestamp(
                    t_probe_ms / 1000, tz=timezone.utc
                ).day
                if not _in_circular(dom, *dom_r):
                    continue
            if hod_r is not None and not _in_circular(hour, *hod_r):
                continue
            return int(d)
    for rx, d in patterns:
        if rx.search(url):
            return int(d)
    return int(default_ms)


def scope_key_col(scope: str, n_threads: int = 2):
    """Politeness serialization key per BaseDelayResolverConfig scope
    (SiteDelay/CrawlerDelay/ThreadDelay, SURVEY §2.5): SITE -> host;
    CRAWLER -> one global lock; THREAD -> deterministic round-robin
    by ledger seq (the reference's assignment is whichever worker
    thread polls next — nondeterministic; seq % K is the documented
    deterministic analog, identical in engine and oracle)."""
    if scope == "CRAWLER":
        return F.lit("__crawler__")
    if scope == "THREAD":
        return F.concat(
            F.lit("__thread_"),
            F.pmod(F.col("seq"), F.lit(n_threads)).cast("string"),
        )
    return F.col("host")


def schedule_hosts(
    batch: DataFrame,
    host_delays: DataFrame,
    host_state: DataFrame | None,
    default_delay_ms: int,
    schedules: tuple = (),
    patterns: tuple = (),
    scope: str = "SITE",
    n_threads: int = 2,
    delays_broadcast: bool = True,
    state_broadcast: bool = True,
) -> DataFrame:
    """Add ``sched_ms`` to a QUEUED batch.

    ``host_delays``: (host, crawl_delay_ms nullable) dim.
    ``host_state``: (scope_key, last_sched_ms) carried
    across supersteps (None on the first). Both dims are O(distinct
    hosts): ``delays_broadcast``/``state_broadcast`` force the
    broadcast hint only while the caller says the dim is driver-safe
    (CrawlEngine checks both against ``BROADCAST_MAX_ROWS``, host_state
    through its ledger-size bound); when False the join goes
    unhinted and Catalyst/AQE pick shuffle-hash/sort-merge — at the
    10^10-URL tier a forced O(hosts) broadcast is an OOM, not a plan
    choice. ``schedules``/``patterns``:
    time-of-day and per-URL delay resolvers — when configured, hosts
    WITHOUT a robots crawl-delay take an O(n)-python per-row path
    (the delay varies per request, so the recurrence has no closed
    form); everything else stays on the vectorized numpy path.
    ``scope``: SITE (default) serializes per host; CRAWLER serializes
    the whole crawl (one group — inherently serial by semantics, the
    recurrence itself is still O(n) numpy); THREAD serializes per
    deterministic seq%K thread slot. Non-SITE groups span hosts, so
    the robots crawl-delay is resolved per row inside the group.
    """
    delays_dim = (
        F.broadcast(host_delays) if delays_broadcast else host_delays
    )
    b = batch.join(delays_dim, "host", "left").withColumn(
        "__scope_key", scope_key_col(scope, n_threads)
    )
    if host_state is not None:
        state_dim = host_state.withColumnRenamed("host", "__scope_key")
        if state_broadcast:
            state_dim = F.broadcast(state_dim)
        b = b.join(state_dim, "__scope_key", "left")
    else:
        b = b.withColumn("last_sched_ms", F.lit(None).cast("long"))

    out_schema = batch.sparkSession.createDataFrame(
        [], batch.schema
    ).withColumn("sched_ms", F.lit(0).cast("long")).schema
    out_cols = [f.name for f in out_schema.fields]
    compiled = [(re.compile(p), d) for p, d in patterns]
    varying = bool(schedules or compiled)

    multi_host = scope != "SITE"

    def sched_group(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("seq").reset_index(drop=True)
        cds = pdf["crawl_delay_ms"]
        last = pdf["last_sched_ms"].iloc[0]
        last = None if pd.isna(last) else int(last)
        avail = pdf["avail_ms"].to_numpy(dtype="int64")
        # constant-delay closed form holds when every row resolves the
        # same delay: the single-host group's robots delay (or default),
        # or a multi-host group with no robots delays and no varying
        # resolvers. Otherwise the per-row python recurrence runs.
        any_robots = cds.notna().any()
        if (varying and not (not multi_host and any_robots)) or (
            multi_host and any_robots and cds.nunique(dropna=False) > 1
        ):
            urls = pdf["url"].tolist()
            rds = [None if pd.isna(x) else int(x) for x in cds]
            out = np.empty(len(pdf), dtype="int64")
            for i, a in enumerate(avail):
                t_probe = a if last is None else max(int(a), last)
                d = resolve_delay(
                    urls[i], t_probe, rds[i], schedules, compiled,
                    default_delay_ms,
                )
                sched = a if last is None else max(int(a), last + d)
                out[i] = sched
                last = int(sched)
            pdf["sched_ms"] = out
            return pdf[out_cols]
        robots_d = cds.iloc[0]
        robots_d = None if pd.isna(robots_d) else int(robots_d)
        delay = robots_d if robots_d is not None else int(default_delay_ms)
        idx = np.arange(len(pdf), dtype="int64")
        v = avail - idx * delay
        run = np.maximum.accumulate(v)
        if last is not None:
            run = np.maximum(run, np.int64(last) + delay)
        pdf["sched_ms"] = run + idx * delay
        return pdf[out_cols]

    return b.groupBy("__scope_key").applyInPandas(
        sched_group, schema=out_schema
    )
