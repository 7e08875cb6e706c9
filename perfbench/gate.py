"""Per-run correctness gate: the engine's crawl against the pure-Python
oracle (``crawlspark.oracle.simulator.CrawlSimulator``) on the same
site and config. Runs outside the timed region."""

from __future__ import annotations

from dataclasses import dataclass

import pandas as pd

from crawlspark.oracle.simulator import CrawlSimulator, SimResult
from crawlspark.sources.docgen import caption_for, psnr_vs_oracle_udf
from crawlspark.sources.webgen import Site

MIN_PSNR_DB = 40.0
FETCH_COLS = ["url", "depth", "scheduled_at_ms", "outcome"]
SEEN_COLS = ["url", "status", "outcome", "depth"]


@dataclass
class EngineOutput:
    """What the gate compares, pulled from the engine's public API."""

    fetch_log: pd.DataFrame  # FETCH_COLS, in seq order
    urlseen: pd.DataFrame  # SEEN_COLS
    docs: pd.DataFrame  # image_id, checksum, caption, psnr


def oracle(site: Site, cfg, seeds: list[str]) -> SimResult:
    return CrawlSimulator(site.pages_dict(), site.robots_dict(), cfg).run(seeds)


def engine_output(eng) -> EngineOutput:
    psnr = psnr_vs_oracle_udf()
    docs = eng.docs_df().select(
        "image_id", "checksum", "caption",
        psnr("image_id", "bytes", "w", "h").alias("psnr"),
    )
    return EngineOutput(
        fetch_log=eng.fetch_log().toPandas()[FETCH_COLS],
        urlseen=eng.urlseen().toPandas()[SEEN_COLS],
        docs=docs.toPandas(),
    )


def _sorted(df: pd.DataFrame, cols: list[str]) -> pd.DataFrame:
    return df[cols].sort_values(cols[0]).reset_index(drop=True)


def check(out: EngineOutput, sim: SimResult) -> list[str]:
    """Every way the engine's crawl differs from the oracle's; empty
    when the run is correct."""
    problems = []
    want_log = pd.DataFrame(sim.fetch_log, columns=FETCH_COLS)
    got_log = out.fetch_log.reset_index(drop=True)
    if len(got_log) != len(want_log):
        problems.append(
            f"fetch log has {len(got_log)} rows, oracle {len(want_log)}"
        )
    else:
        for col in FETCH_COLS:
            if got_log[col].tolist() != want_log[col].tolist():
                problems.append(f"fetch log column {col} differs")

    want_seen = _sorted(pd.DataFrame(sim.urlseen(), columns=SEEN_COLS), SEEN_COLS)
    got_seen = _sorted(out.urlseen, SEEN_COLS)
    if len(got_seen) != len(want_seen) or any(
        got_seen[c].tolist() != want_seen[c].tolist() for c in SEEN_COLS
    ):
        problems.append("URL-seen set differs")

    want_docs = pd.DataFrame(sim.committed, columns=["image_id", "checksum"])
    want_docs = _sorted(want_docs, ["image_id", "checksum"])
    got_docs = _sorted(out.docs, ["image_id", "checksum", "caption", "psnr"])
    if got_docs["image_id"].tolist() != want_docs["image_id"].tolist():
        problems.append("committed-doc set differs")
    elif got_docs["checksum"].tolist() != want_docs["checksum"].tolist():
        problems.append("committed-doc checksums differ")
    bad_caption = sum(
        c != caption_for(i)
        for i, c in zip(got_docs["image_id"], got_docs["caption"])
    )
    if bad_caption:
        problems.append(f"{bad_caption} captions differ from caption_for")
    # a missing or undecodable image reads NaN and fails too
    low = int((~(got_docs["psnr"] >= MIN_PSNR_DB)).sum())
    if low:
        problems.append(f"{low} images below {MIN_PSNR_DB} dB PSNR")
    if not len(got_docs):
        problems.append("no documents committed")
    return problems

