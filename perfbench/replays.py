"""Layer replays for the traced run: each public crawlspark operator is
re-run, alone, over the data the measured crawl just produced, so its
cost can be read apart from the superstep it is fused into.

Every replay's input is materialized before its timer starts; the
timed part is the operator plus one action that consumes its output
(a ``noop`` write, which runs the whole plan and keeps nothing).
"""

from __future__ import annotations

import os
import time

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from crawlspark.functions.links import PARSE_FIELDS, make_parse_transformer
from crawlspark.functions.urls import normalize_url_udf, url_host_col
from crawlspark.operators.dedup import (
    assign_seq,
    assign_seq_small,
    first_wins,
)
from crawlspark.operators.politeness import schedule_hosts
from crawlspark.operators.robots_filter import (
    build_robots_rules,
    host_delays,
    make_robots_verdict_udf,
)
from crawlspark.operators.similarity import hamming64_dup_pairs
from crawlspark.operators.textops import minhash_dup_pairs, release_caches
from crawlspark.plans.superstep import SMALL_SEQ_ROWS, load_baseline
from crawlspark.sinks.committers import parquet_committer
from crawlspark.sources.docgen import make_document_udf
from crawlspark.sources.webgen import fetch_batches

ORDER = ["parent_seq", "out_pos", "sub"]


def _consume(df: DataFrame) -> None:
    df.write.format("noop").mode("overwrite").save()


def _pin(df: DataFrame, pinned: list) -> DataFrame:
    df = df.cache()
    df.count()
    pinned.append(df)
    return df


def replay_layers(spark, eng, p, cfg, robots_df, tracer, out_dir: str,
                  n_part: int) -> dict[str, float]:
    """Seconds per replayed operator, keyed by per-layer metric name,
    plus the number of candidates the URL-seen replay probed."""
    res: dict[str, float] = {}
    pinned: list[DataFrame] = []

    def timed(metric: str, fn):
        with tracer.span(f"replay.{metric}"):
            t0 = time.perf_counter()
            fn()
            res[metric] = time.perf_counter() - t0

    ledger = _pin(eng.levels.read(), pinned)
    fetched = ledger.filter(F.col("status") == "PROCESSED")
    # the widest fetched level: its batch drives the politeness
    # replay, as the engine saw it at that superstep
    widest = (
        fetched.groupBy("superstep").count()
        .orderBy(F.desc("count"), "superstep").first()["superstep"]
    )

    # sources/functions: fetch outside the timer, then parse alone
    pages = _pin(
        fetched.select("url", "seq", "depth").mapInPandas(
            fetch_batches(p),
            schema="url string, seq long, depth int, http_status int, "
            "html string, redirect_to string",
        ),
        pinned,
    )
    parse_schema = StructType(
        pages.drop("html").schema.fields + list(PARSE_FIELDS.fields)
    )
    parse = make_parse_transformer(cfg.max_depth)
    timed("functions.parse_s", lambda: _consume(
        pages.mapInPandas(parse, schema=parse_schema)
    ))
    parsed = _pin(
        pages.mapInPandas(parse, schema=parse_schema), pinned
    )
    raw = _pin(
        parsed.select(
            "seq", F.explode("links").alias("l")
        ).select(
            F.col("l.url").alias("raw_url"),
            F.col("seq").alias("parent_seq"),
            F.col("l.pos").alias("out_pos"),
            F.lit(0).alias("sub"),
        ),
        pinned,
    )
    timed("functions.urlnorm_s", lambda: _consume(
        raw.withColumn("url", normalize_url_udf(F.col("raw_url")))
    ))
    cand = _pin(
        raw.withColumn("url", normalize_url_udf(F.col("raw_url")))
        .filter(F.col("url").isNotNull())
        .withColumn("seen_key", F.xxhash64("url"))
        .withColumn("host", url_host_col(F.col("url"))),
        pinned,
    )

    # operators.dedup
    timed("operators.dedup.first_wins_s", lambda: _consume(
        first_wins(cand, "url", ORDER, n_part=n_part)
    ))
    winners = _pin(first_wins(cand, "url", ORDER, n_part=n_part), pinned)
    n_win = winners.count()
    if n_win <= SMALL_SEQ_ROWS:
        timed("operators.dedup.assign_seq_s", lambda: _consume(
            assign_seq_small(winners, ORDER, 0)
        ))
    else:
        timed("operators.dedup.assign_seq_s", lambda: _consume(
            assign_seq(winners, ORDER, 0, n_part=n_part)
        ))

    # URL-seen: the level whose pages extracted the most candidates,
    # against the keys the ledger held when that level was checked:
    # every row up to its superstep except the ones it queued itself
    # (rows a step writes carry its superstep; bootstrap's seeds carry
    # 0, the first step's). Below cfg.bloom_prefilter_min_ledger
    # ledger rows (every workload here) the engine skips its Bloom
    # prefilter and runs this exact anti-join alone, with the ledger
    # side broadcast.
    parent_step = fetched.select(
        F.col("seq").alias("parent_seq"), "superstep"
    )
    busiest = (
        cand.join(parent_step, "parent_seq").groupBy("superstep").count()
        .orderBy(F.desc("count"), "superstep").first()["superstep"]
    )
    level = parent_step.filter(F.col("superstep") == busiest)
    seen = _pin(
        ledger.filter(F.col("superstep") <= busiest)
        .join(level.select("parent_seq"), "parent_seq", "left_anti")
        .select("url").distinct(),
        pinned,
    )
    probe = _pin(cand.join(level, "parent_seq", "left_semi"), pinned)
    timed("operators.dedup.urlseen_antijoin_s", lambda: _consume(
        probe.join(seen, "url", "left_anti")
    ))
    res["operators.dedup.urlseen_probed"] = float(probe.count())

    # operators.robots: the broadcast-rules verdict UDF the engine uses
    rules = _pin(build_robots_rules(robots_df, cfg.user_agent), pinned)
    verdict = make_robots_verdict_udf(
        spark, rules.select("host", "pattern", "allow").collect()
    )
    timed("operators.robots.verdict_s", lambda: _consume(
        cand.select(verdict(F.col("url"), F.col("host")).alias("ok"))
    ))

    # operators.politeness on the widest level's batch
    batch = _pin(
        fetched.filter(F.col("superstep") == widest)
        .select("url", "host", "seq", "depth", "avail_ms"),
        pinned,
    )
    delays = _pin(host_delays(rules), pinned)
    timed("operators.politeness.schedule_s", lambda: _consume(
        schedule_hosts(batch, delays, None, cfg.default_delay_ms)
    ))

    # sources.docgen over the committed URLs
    docs = _pin(eng.docs_df().select("image_id", "seq", "caption", "phash"),
                pinned)
    synth = make_document_udf(cfg.image_w, cfg.image_h)
    timed("sources.docgen_s", lambda: _consume(
        docs.select(synth(F.col("image_id")).alias("d"))
    ))

    # corpus operators over the crawl's own documents
    timed("operators.similarity.phash_neardup_s", lambda: _consume(
        hamming64_dup_pairs(
            docs.select(F.col("seq").alias("doc_id"), F.col("phash").alias("sig"))
        )
    ))
    timed("operators.textops.minhash_s", lambda: _consume(
        minhash_dup_pairs(
            docs.select(F.col("seq").alias("doc_id"), F.col("caption").alias("text"))
        )
    ))
    release_caches()

    # ledger read path and the committer sink
    timed("plans.ledger.baseline_load_s", lambda: _consume(
        load_baseline(spark, eng.workdir)
    ))
    timed("sinks.export_s", lambda: parquet_committer(
        eng.docs_df(), os.path.join(out_dir, "export")
    ))

    for df in pinned:
        df.unpersist()
    return res
