"""The benchmark's own tests. Run from the repository root:

    python -m pytest perfbench -q

The smoke tests crawl each workload's few-dozen-URL site through the
same ``bench`` path and oracle gate the benchmark runs, in one
Spark session they share.
"""

from __future__ import annotations

import dataclasses
import json
import os

import pandas as pd
import pytest

from perfbench import gate, run, workloads
from perfbench.trace import (
    Span,
    Tracer,
    heap_after_gc_peak,
    read_event_log,
    read_gc_log,
    self_time_by_name,
    self_times,
)

with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


def test_self_time_subtracts_children_once():
    spans = [
        Span("root", 0.0, 10.0, None, "r"),
        Span("a", 1.0, 3.0, 0, "r"),
        Span("b", 2.0, 5.0, 0, "r"),  # overlaps a: [1, 5] counts once
        Span("c", 7.0, 8.0, 0, "r"),
        Span("late", 9.5, 12.0, 0, "r"),  # clipped to the parent's end
        Span("grandchild", 1.5, 2.5, 1, "r"),
    ]
    got = self_times(spans)
    assert got == pytest.approx([10 - 4 - 1 - 0.5, 1.0, 3.0, 1.0, 2.5, 1.0])
    by_name = self_time_by_name(spans + [Span("c", 8.0, 9.0, 0, "r")])
    assert by_name["c"] == pytest.approx(2.0)
    assert by_name["root"] == pytest.approx(3.5)


def test_gc_log_heap_after_pause(tmp_path):
    log = tmp_path / "gc.log"
    log.write_text(
        "[1000ms] GC(0) Pause Young (Normal) (G1 Evacuation Pause) "
        "113M->28M(2048M) 7.620ms\n"
        "[2000ms] GC(1) Pause Remark 30M->30M(2048M) 2.183ms\n"
        "[2500ms] GC(2) Concurrent Mark Cycle 12.0ms\n"
        "[5000ms] GC(3) Pause Young (Normal) (G1 Evacuation Pause) "
        "1G->300M(2048M) 44.184ms\n"
    )
    gcs = read_gc_log(str(log))
    assert gcs == [(1.0, 28 * 2**20), (2.0, 30 * 2**20), (5.0, 300 * 2**20)]
    # the pause before a window counts, later ones do not
    assert heap_after_gc_peak(gcs, [(2.5, 4.0)]) == 30 * 2**20
    assert heap_after_gc_peak(gcs, [(0.5, 1.5), (4.0, 6.0)]) == 300 * 2**20
    assert heap_after_gc_peak([], [(0.0, 1.0)]) == 0


class _Loop:
    def run(self):
        return [self.step() for _ in range(3)]

    def step(self):
        return 1


def test_patched_spans_self_calls_and_restores():
    loop = _Loop()
    tracer = Tracer("r")
    with tracer.patched(loop, {"step": "plans.step"}):
        assert loop.run() == [1, 1, 1]
    assert len(tracer.named("plans.step")) == 3
    assert "step" not in vars(loop)
    off = Tracer("r", enabled=False)
    with off.patched(loop, {"step": "plans.step"}):
        assert "step" not in vars(loop)
    assert off.spans == []


@pytest.mark.parametrize("workload,timeout_s", [
    ("no-such-workload", run.CHILD_TIMEOUT_S),  # exits without a result
    ("deep-dup", 3),  # killed while it starts up
])
def test_failed_child_counts_as_failed(monkeypatch, workload, timeout_s):
    import argparse

    monkeypatch.setattr(run, "CHILD_TIMEOUT_S", timeout_s)
    args = argparse.Namespace(workload=workload, seed=1, seconds=1, trace=1)
    got = run._untraced_child(args)
    assert (got["attempted"], got["failed"], got["metrics"]) == (1, 1, {})


def _tiny_site(name: str, seed: int = 3):
    from crawlspark.sources.webgen import build_site, seed_rows

    wl = workloads.WORKLOADS[name]
    p = dataclasses.replace(wl.tiny, seed=seed)
    cfg = dataclasses.replace(wl.cfg, max_depth=p.depth)
    site = build_site(p)
    seeds = [r["url"] for r in seed_rows(p)]
    return site, cfg, seeds


def _oracle_output(sim) -> gate.EngineOutput:
    """What a perfect engine would return."""
    from crawlspark.sources.docgen import caption_for

    docs = pd.DataFrame(sim.committed)[["image_id", "checksum"]]
    docs["caption"] = [caption_for(i) for i in docs["image_id"]]
    docs["psnr"] = float("inf")
    return gate.EngineOutput(
        fetch_log=pd.DataFrame(sim.fetch_log)[gate.FETCH_COLS],
        urlseen=pd.DataFrame(sim.urlseen())[gate.SEEN_COLS],
        docs=docs,
    )


def _swap_two_fetches(out: gate.EngineOutput) -> gate.EngineOutput:
    order = list(range(len(out.fetch_log)))
    order[1], order[2] = order[2], order[1]
    log = out.fetch_log.iloc[order].reset_index(drop=True)
    return dataclasses.replace(out, fetch_log=log)


@pytest.mark.parametrize("name", sorted(workloads.WORKLOADS))
def test_gate_accepts_oracle_and_rejects_corruption(name):
    site, cfg, seeds = _tiny_site(name)
    sim = gate.oracle(site, cfg, seeds)
    good = _oracle_output(sim)
    assert gate.check(good, sim) == []
    assert gate.check(_swap_two_fetches(good), sim)
    bad_caption = good.docs.copy()
    bad_caption.loc[0, "caption"] = "x"
    assert gate.check(dataclasses.replace(good, docs=bad_caption), sim)
    blurry = good.docs.copy()
    blurry.loc[0, "psnr"] = 39.0
    assert gate.check(dataclasses.replace(good, docs=blurry), sim)


def test_benchmark_json_matches_the_benchmark():
    assert set(SPEC) == {
        "command", "paths", "run_seconds", "workloads", "end_to_end",
        "per_layer",
    }
    assert [w["name"] for w in SPEC["workloads"]] == list(workloads.WORKLOADS)
    e2e = {m["name"] for m in SPEC["end_to_end"]}
    assert "setup_s" in e2e
    assert all(0 < m["bound"] <= 0.25 for m in SPEC["end_to_end"])
    layer_names = {m["name"] for m in SPEC["per_layer"]}
    assert set(workloads.LAYER_EFFECTS) <= layer_names


# -- Spark smoke tests -------------------------------------------------------
# One Spark session serves them all: crawlspark's module-level UDFs
# bind to the first JVM of the process.


@pytest.fixture(scope="module")
def session(tmp_path_factory):
    env = dict(os.environ)
    work = str(tmp_path_factory.mktemp("perfbench"))
    cores = run._configure_env(work)
    spark = run.start_session(work, cores)
    yield spark, work, cores
    run.stop_session(spark)
    os.environ.clear()
    os.environ.update(env)


@pytest.fixture
def tiny(session, monkeypatch, tmp_path):
    """Every workload shrunk to its tiny site; span files kept under
    ``tmp_path``."""
    for name, wl in workloads.WORKLOADS.items():
        monkeypatch.setitem(
            workloads.WORKLOADS, name, dataclasses.replace(wl, site=wl.tiny)
        )
    monkeypatch.setattr(run, "WORK_ROOT", str(tmp_path))
    spark, work, cores = session

    def bench(name, traced=False):
        r = run.bench(spark, name, 5, 0, traced, str(tmp_path), cores)
        r["start_s"] = 1.0
        return r

    bench.events = lambda: read_event_log(os.path.join(work, "eventlog"))
    bench.gcs = lambda: read_gc_log(run.gc_log_path(work))
    return bench


@pytest.mark.parametrize("name", sorted(workloads.WORKLOADS))
def test_smoke_untraced(tiny, name):
    r = tiny(name)
    assert (r["attempted"], r["failures"]) == (1, 0)
    metrics = run.end_to_end(r, tiny.gcs())
    assert {m["name"] for m in SPEC["end_to_end"]} == set(metrics)
    assert all(v > 0 for v in metrics.values())


def test_corrupted_fetch_log_counts_as_failed(tiny, monkeypatch):
    real = gate.engine_output
    monkeypatch.setattr(
        gate, "engine_output", lambda eng: _swap_two_fetches(real(eng))
    )
    r = tiny("deep-dup")
    assert (r["attempted"], r["failures"]) == (1, 1)


def test_raising_crawl_is_reported_as_failed(tiny, monkeypatch, capsys):
    def boom(self, eng, tracer, sampler):
        raise RuntimeError("crawl failed")

    monkeypatch.setattr(run.Crawl, "run", boom)
    r = tiny("deep-dup")
    assert (r["attempted"], r["failures"], r["reps"]) == (1, 1, [])
    capsys.readouterr()
    assert run.emit("deep-dup", False, r["attempted"], r["failures"], {},
                    []) == 1
    last = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert (last["correct"], last["attempted"], last["failed"]) == (
        False, 1, 1
    )


def test_smoke_traced(tiny):
    r = tiny("deep-dup", traced=True)
    assert (r["attempted"], r["failures"]) == (1, 0)
    m = run.per_layer(r, tiny.events(), tiny.gcs(), untraced_run_s=1.0)
    assert {x["name"] for x in SPEC["per_layer"]} <= set(m)
    stats = r["traced_rep"]["stats"]
    assert m["plans.supersteps"] == len(stats)
    assert m["trace.overhead_s"] == pytest.approx(m["trace.run_s"] - 1.0)
    assert m["spark.core_s"] > 0 and m["plans.jobs_per_step"] > 0
    assert {s.run_id for s in r["tracer"].spans} == {"deep-dup-seed5"}
    # one span per step() call, the last finding the frontier empty
    assert len(r["tracer"].named("plans.step")) == len(stats) + 1
