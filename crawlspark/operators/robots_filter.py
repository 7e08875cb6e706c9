"""robots.txt as dataflow: rules dim table + candidate filtering.

The reference caches parsed robots per site in a CacheMap
(StandardRobotsTxtProvider.java:88-139); we parse every host's body
once, distributed, into a flat ``robots_rules`` dim table

    (host, pattern, allow, crawl_delay_ms)

whose (host, pattern, allow) triples are collected once per run and
broadcast. Candidates are matched in a zero-shuffle pandas UDF with
the same ``RobotsMatcher`` the oracle uses, implementing
RobotsTxtFiltersStage.java:88-103 (Disallow rejects unless a
*strictly longer* Allow matches). The crawl-delay column feeds the
politeness dim (``host_delays``).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.robots import parse_robots_txt

RULES_SCHEMA = "host string, pattern string, allow boolean, crawl_delay_ms long"


def build_robots_rules(robots_df: DataFrame, user_agent: str) -> DataFrame:
    """(host, body) -> flat rules table; hosts with no rules emit one
    allow-all sentinel so crawl-delay still joins."""

    def parse(batches):
        for pdf in batches:
            rows = []
            for host, body in zip(pdf["host"], pdf["body"]):
                parsed = parse_robots_txt(body, user_agent)
                delay = (
                    int(parsed.crawl_delay * 1000)
                    if parsed.crawl_delay is not None
                    else None
                )
                if parsed.rules:
                    for p, allow in parsed.rules:
                        rows.append((host, p, allow, delay))
                else:
                    rows.append((host, None, True, delay))
            yield pd.DataFrame(
                rows, columns=["host", "pattern", "allow", "crawl_delay_ms"]
            )

    return robots_df.mapInPandas(parse, schema=RULES_SCHEMA)


def host_delays(rules_df: DataFrame) -> DataFrame:
    """Per-host politeness delay dim (null => default applies)."""
    return rules_df.groupBy("host").agg(
        F.max("crawl_delay_ms").alias("crawl_delay_ms")
    )


def make_robots_verdict_udf(spark, rules_rows: list):
    """Broadcast-dict longest-match verdict — a single projection,
    zero shuffles, zero extra jobs per superstep.

    ``rules_rows``: collected (host, pattern, allow) triples from the
    rules dim — collected ONCE per run; the per-host pattern lists are
    broadcast and candidates match in a vectorized pandas UDF using
    the *same* ``RobotsMatcher`` the pure-Python oracle uses (exact
    parity by construction).
    """
    from ..functions.robots import RobotsMatcher, RobotsRules

    by_host: dict[str, list[tuple[str, bool]]] = {}
    for host, pattern, allow in rules_rows:
        if pattern is not None:
            by_host.setdefault(host, []).append((pattern, bool(allow)))
    b = spark.sparkContext.broadcast(by_host)

    @F.pandas_udf("boolean")
    def robots_ok(url: pd.Series, host: pd.Series) -> pd.Series:
        """Vectorized by host group; null host (or a host with no
        rules) short-circuits to True with zero per-row Python —
        the caller masks out rows whose outcome is already decided
        (TOO_DEEP/FILTERED precede robots in the stage ladder), so
        only genuinely live candidates pay the pattern match."""
        import numpy as np

        rules_map = b.value
        out = np.ones(len(url), dtype=bool)
        if not len(url):
            return pd.Series(out)
        hs = host.to_numpy(dtype=object)
        for h in pd.unique(host.dropna()):
            rs = rules_map.get(h)
            if not rs:
                continue
            m = RobotsMatcher(RobotsRules(rules=rs))
            mask = hs == h
            # canonical URLs: the match target (path[?query], no
            # fragment) is everything after the authority; one
            # C-speed regex strip instead of per-row urlsplit
            targets = url[mask].str.replace(
                r"^[a-z]+://[^/]*", "", n=1, regex=True
            )
            out[mask] = [
                m.allowed(t if isinstance(t, str) and t else "/")
                for t in targets
            ]
        return pd.Series(out)

    # deterministic in fact; the marker keeps Catalyst from cloning
    # the Arrow node (fixed per-task Python round-trip) across
    # filter/projection and union branches
    return robots_ok.asNondeterministic()
