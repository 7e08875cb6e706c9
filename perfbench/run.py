"""crawlspark benchmark: crawl one generated site, check it against the
oracle, and print the end-to-end (or, traced, the per-layer) metrics.

Run from the repository root:

    python3 perfbench/run.py --workload wide-fanout --seed 7 \\
        --seconds 30 --trace 0

Each invocation is one single-driver batch job on ``local[<cores>]``
and one crawl at a time: a closed loop with one client. Set-up starts
the session and one Python worker per core. Within ``--seconds`` the
run crawls the generated site, repeats the crawl (a fresh engine on
the same inputs) while another repetition still fits, and reports
medians. Every repetition is checked against the pure-Python oracle
outside the timed region; one that raises or differs counts as
failed.

``--trace 1`` first runs the same invocation untraced in a child
process, then crawls once with spans around every public call into
the engine, runs the layer replays of ``replays.py``, and rolls
Spark's event log up into layers. It prints the per-layer metrics,
span self times, and the tracing overhead: traced minus untraced
``run_s``, both crawls the first in their JVM. Both call the same
``CrawlEngine.run()`` with the event log on; the traced one only has
its ``step`` and ``flush`` wrapped in spans, so the difference is the
cost of the spans (and run-to-run noise).

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``. Everything the
run writes stays under ``.perfbench_work/`` in the repository root;
the per-run directory is removed at exit, the span file is kept.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")
# Driver JVM heap: ample for these sites, small next to 16 GB of RAM.
# It is fixed and pre-touched at start: left to grow, the heap's size
# at the peak depends on when G1 decides to expand, which made the
# resident size bimodal from run to run. The pre-touched heap is
# therefore taken out of peak_rss_mb and the heap the program kept,
# read from the JVM's GC log, is put in its place.
DRIVER_MEM = "2g"
HEAP_BYTES = 2 * 2**30
# The driver JVM compiles with C1 only. A crawl here is a half-minute
# batch job in a fresh JVM; with tiered C2 the first crawl ran about a
# third slower than later ones, by an amount that varied with when C2
# got to the hot methods (run_s quartiles 25% apart over five seeds),
# and it was slower than the same crawl under C1 alone (35 s vs 28 s
# on the deep-dup site, 4 cores). C1's default 48 MB code cache fills
# about a minute into the process (one crawl and part of a second, or
# the traced run's replays), after which HotSpot stops compiling for
# good; the larger cache keeps the compiler on for the whole run.
JVM_OPTS = (
    f"-Xms{DRIVER_MEM} -XX:+AlwaysPreTouch -XX:TieredStopAtLevel=1 "
    "-XX:ReservedCodeCacheSize=256m"
)
# the untraced half of a traced run; the traced half takes about as
# long again, and the whole invocation has 180 s
CHILD_TIMEOUT_S = 95


def _configure_env(work: str) -> int:
    """Size Spark to the machine's cores through the existing session
    knobs and keep every temporary file inside ``work``. Must run
    before pyspark starts a JVM. Returns the core count."""
    cores = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cores),
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
        SPARK_GRAFT_LOCAL_DIR=os.path.join(work, "local"),
        TMPDIR=tmp,
    )
    os.environ.pop("CRAWLSPARK_TIMING", None)
    # executors' Python workers import crawlspark from this checkout
    prev = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + prev if prev else "")
    return cores


def gc_log_path(work: str) -> str:
    return os.path.join(work, "gc.log")


def start_session(work: str, cores: int):
    from crawlspark.session import get_spark

    tmp = os.path.join(work, "tmp")
    event_log = os.path.join(work, "eventlog")
    os.makedirs(event_log, exist_ok=True)
    return get_spark(
        "perfbench",
        cores=cores,
        shuffle_partitions=cores,
        extra_conf={
            "spark.driver.extraJavaOptions": (
                f"{JVM_OPTS} -Djava.io.tmpdir={tmp} -XX:-UsePerfData "
                f"-Xlog:gc:file={gc_log_path(work)}:timemillis"
            ),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": event_log,
            "spark.eventLog.compress": "false",
        },
    )


def stop_session(spark) -> None:
    """Stop Spark, end the gateway JVM, and wait for every process it
    started (the Python workers exit with it)."""
    from pyspark import SparkContext

    from perfbench.trace import descendants

    gw = SparkContext._gateway
    spark.stop()
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        # the gateway JVM exits when its stdin closes
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    for grace_s in (30, 10):
        deadline = time.time() + grace_s
        while descendants(os.getpid()) and time.time() < deadline:
            time.sleep(0.2)
        for pid in descendants(os.getpid()):
            try:
                os.kill(pid, signal.SIGKILL)
            except OSError:
                pass


def _noop_batches(batches):
    import pandas as pd

    for pdf in batches:
        yield pd.DataFrame({"id": pdf["id"]})


def warm_up(spark, cores: int) -> None:
    """Start one Python worker per core (pandas and Arrow imports paid
    here, not in the first superstep)."""
    spark.range(0, cores * 100, 1, cores).mapInPandas(
        _noop_batches, schema="id long"
    ).count()


def _dir_bytes(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(d, f))
            except OSError:
                pass
    return total


class Crawl:
    """The generated inputs of one run and how to crawl them."""

    def __init__(self, spark, p, cfg, site, seeds):
        self.spark, self.p, self.cfg, self.seeds = spark, p, cfg, seeds
        self.robots_df = site.spark_robots_df(spark)

    def engine(self, workdir: str):
        from crawlspark.plans.superstep import CrawlEngine
        from crawlspark.sources.webgen import make_fetcher

        shutil.rmtree(workdir, ignore_errors=True)
        return CrawlEngine(
            self.spark, workdir, self.cfg, None, self.robots_df,
            fetcher=make_fetcher(self.p),
        )

    def run(self, eng, tracer, sampler) -> dict:
        """The timed crawl: ``bootstrap`` and ``run()``, which steps
        until the frontier drains and ends with the final flush.
        Traced, each ``step`` and ``flush`` call gets its own span."""
        with sampler, tracer.span("crawl"):
            t0 = time.time()
            t = time.perf_counter()
            with tracer.span("plans.bootstrap"):
                eng.bootstrap(self.seeds)
            with tracer.patched(
                eng, {"step": "plans.step", "flush": "plans.flush"}
            ):
                stats = eng.run()
            run_s = time.perf_counter() - t
        return {
            "run_s": run_s,
            "window": (t0, time.time()),
            "fetched": sum(s.fetched for s in stats),
            "committed": sum(s.committed for s in stats),
            "stats": stats,
        }


def bench(spark, workload: str, seed: int, seconds: float, traced: bool,
          work: str, cores: int) -> dict:
    """Warm up, then crawl the workload's site for ``seconds`` or,
    traced, once with spans followed by the layer replays. A crawl that
    raises or fails the oracle gate counts as failed and the run goes
    on. The caller owns the session and adds ``start_s``, the time it
    took to start."""
    from crawlspark.sources.webgen import build_site, seed_rows
    from perfbench.gate import check, engine_output, oracle
    from perfbench.trace import MemorySampler, Tracer
    from perfbench.workloads import WORKLOADS

    wl = WORKLOADS[workload]
    p = wl.site_for(seed)
    cfg = wl.cfg_for()
    # input generation and the oracle's crawl: neither is set-up
    site = build_site(p)
    seeds = [r["url"] for r in seed_rows(p)]
    sim = oracle(site, cfg, seeds)

    run_id = f"{workload}-seed{seed}"
    tracer = Tracer(run_id, enabled=traced)
    reps: list[dict] = []
    attempted = failures = 0
    layers: dict[str, float] = {}

    t = time.perf_counter()
    warm_up(spark, cores)
    warmup_s = time.perf_counter() - t
    crawl = Crawl(spark, p, cfg, site, seeds)

    def measure(name: str) -> dict | None:
        nonlocal attempted, failures
        attempted += 1
        workdir = os.path.join(work, name)
        sampler = MemorySampler(os.getpid())
        eng = None
        try:
            with tracer.span("engine.init"):
                t = time.perf_counter()
                eng = crawl.engine(workdir)
                init_s = time.perf_counter() - t
            rep = crawl.run(eng, tracer, sampler)
            with tracer.span("gate"):
                out = engine_output(eng)
                problems = check(out, sim)
        except Exception:
            traceback.print_exc()
            failures += 1
            if eng is not None:
                try:
                    eng.release()
                except Exception:
                    pass
            return None
        if problems:
            failures += 1
            print(f"oracle gate failed: {problems}", file=sys.stderr)
        rep.update(
            eng=eng,
            init_s=init_s,
            peak_pss=sampler.peak,
            store_bytes=_dir_bytes(workdir),
            seen=len(out.urlseen),
        )
        return rep

    traced_rep = None
    if traced:
        from perfbench.replays import replay_layers

        with tracer.span("run"):
            traced_rep = measure("traced")
            if traced_rep is not None:
                eng = traced_rep.pop("eng")
                try:
                    with tracer.span("replay"):
                        layers = replay_layers(
                            spark, eng, p, cfg, crawl.robots_df, tracer,
                            work, cores,
                        )
                except Exception:
                    traceback.print_exc()
                    failures += 1
                eng.release()
        tracer.dump(os.path.join(WORK_ROOT, "spans", f"{run_id}.json"))
    else:
        # another crawl starts only while a typical one still fits
        t_meas = time.perf_counter()
        walls: list[float] = []
        while True:
            t_rep = time.perf_counter()
            rep = measure(f"crawl{attempted}")
            walls.append(time.perf_counter() - t_rep)
            if rep is not None:
                rep.pop("eng").release()
                reps.append(rep)
            elapsed = time.perf_counter() - t_meas
            if elapsed + statistics.median(walls) > seconds:
                break
    return {
        "reps": reps,
        "traced_rep": traced_rep,
        "attempted": attempted,
        "failures": failures,
        "warmup_s": warmup_s,
        "tracer": tracer,
        "layers": layers,
    }


def peak_rss_mb(reps: list[dict], gcs: list[tuple[float, int]]) -> float:
    """Peak resident memory of the JVM and its Python workers: their
    summed PSS, with the pre-touched heap replaced by the most heap in
    use after a GC during the crawls."""
    from perfbench.trace import heap_after_gc_peak

    heap = heap_after_gc_peak(gcs, [x["window"] for x in reps])
    pss = max(x["peak_pss"] for x in reps)
    return (pss - HEAP_BYTES + heap) / 2**20


def end_to_end(r: dict, gcs: list[tuple[float, int]]) -> dict[str, float]:
    reps = r["reps"]
    med = statistics.median
    return {
        "run_s": med(x["run_s"] for x in reps),
        "urls_per_s": med(x["fetched"] / x["run_s"] for x in reps),
        "docs_per_s": med(x["committed"] / x["run_s"] for x in reps),
        "setup_s": r["start_s"] + r["warmup_s"]
        + med(x["init_s"] for x in reps),
        "peak_rss_mb": peak_rss_mb(reps, gcs),
        "store_bytes_per_url": med(x["store_bytes"] / x["seen"] for x in reps),
    }


# spans whose self time is reported (replay spans are timed directly)
SPAN_SELF_TIMES = (
    "run", "engine.init", "crawl", "plans.bootstrap", "plans.step",
    "plans.flush", "gate", "replay",
)


def _dur(span) -> float:
    return span.end - span.start


def per_layer(r: dict, events: list[dict], gcs: list[tuple[float, int]],
              untraced_run_s: float | None) -> dict[str, float]:
    """The per-layer metrics of a traced run. Without the untraced
    run's ``run_s``, ``trace.untraced_run_s`` and ``trace.overhead_s``
    are left out."""
    from perfbench.trace import heap_after_gc_peak, rollup, self_time_by_name

    tracer = r["tracer"]
    rep = r["traced_rep"]
    crawl = tracer.named("crawl")[0]
    # the last step() call only finds the frontier empty
    step_spans = tracer.named("plans.step")[: len(rep["stats"])]
    steps = [_dur(s) for s in step_spans]
    small = [d for d, st in zip(steps, rep["stats"]) if st.fetched < 1000]
    m = rollup(
        events,
        (crawl.start, crawl.end),
        [(s.start, s.end) for s in step_spans],
    )
    extracted = sum(st.metrics.get("URLS_EXTRACTED", 0) for st in rep["stats"])
    queued = sum(st.metrics.get("DOCUMENT_QUEUED", 0) for st in rep["stats"])
    fp_core = m["sources.fetch_parse_core_s"]
    m.update({
        "session.start_s": r["start_s"],
        "session.warmup_s": r["warmup_s"],
        "session.engine_init_s": rep["init_s"],
        "plans.bootstrap_s": _dur(tracer.named("plans.bootstrap")[0]),
        "plans.supersteps": float(len(rep["stats"])),
        "plans.step_s.p50": statistics.median(steps),
        "plans.step_s.max": max(steps),
        "plans.small_step_s": statistics.median(small) if small else 0.0,
        # run() flushes once, after the last step
        "plans.flush_wait_s": _dur(tracer.named("plans.flush")[-1]),
        "sources.fetch_rows_per_core_s": (
            rep["fetched"] / fp_core if fp_core else 0.0
        ),
        "operators.dedup.queue_yield": queued / extracted if extracted else 0.0,
        "operators.dedup.urls_extracted": float(extracted),
        "spark.heap_after_gc_mb": heap_after_gc_peak(
            gcs, [(crawl.start, crawl.end)]
        ) / 2**20,
        "trace.run_s": rep["run_s"],
    })
    if untraced_run_s is not None:
        m["trace.untraced_run_s"] = untraced_run_s
        m["trace.overhead_s"] = rep["run_s"] - untraced_run_s
    m.update(r["layers"])
    selfs = self_time_by_name(tracer.spans)
    for name in SPAN_SELF_TIMES:
        m[f"span.{name}.self_s"] = selfs.get(name, 0.0)
    return m


def _work_dir(args, pid: int) -> str:
    return os.path.join(WORK_ROOT, f"{args.workload}-seed{args.seed}-{pid}")


def _untraced_child(args) -> dict:
    """The same invocation with tracing off, in a fresh process: the
    overhead then compares two crawls that both ran first in their
    JVM. Returns its result line; a child that times out or prints no
    result counts as one failed attempt."""
    failed = {"correct": False, "attempted": 1, "failed": 1, "metrics": {}}
    proc = subprocess.Popen(
        [
            sys.executable, os.path.abspath(__file__),
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", "0",
        ],
        cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
        text=True,
    )
    try:
        out, err = proc.communicate(timeout=CHILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        from perfbench.trace import descendants

        # pyspark's worker daemon leaves the child's process group, so
        # every process below the child is killed by pid
        for pid in descendants(proc.pid) + [proc.pid]:
            try:
                os.kill(pid, signal.SIGKILL)
            except OSError:
                pass
        proc.communicate()
        shutil.rmtree(_work_dir(args, proc.pid), ignore_errors=True)
        print(f"untraced run timed out after {CHILD_TIMEOUT_S} s",
              file=sys.stderr)
        return failed
    sys.stderr.write(err[-4000:])
    try:
        return json.loads(out.strip().splitlines()[-1])
    except (IndexError, ValueError):
        print(f"untraced run exited {proc.returncode} without a result",
              file=sys.stderr)
        return failed


def emit(workload: str, traced: bool, attempted: int, failed: int,
         metrics: dict[str, float], runs: list[float]) -> int:
    """Print every metric BENCHMARK.json declares for this mode, then
    the result line. A metric the run could not measure is left out of
    it; the run is then incorrect and exits 1."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)["per_layer" if traced else "end_to_end"]
    report = {
        m["name"]: (metrics[m["name"]], m["unit"])
        for m in spec if m["name"] in metrics
    }
    missing = [m["name"] for m in spec if m["name"] not in metrics]
    for name, (value, unit) in report.items():
        print(f"{workload} {name} {value:.6g} {unit}")
    print(f"{workload} failed_frac {failed / attempted:.6g} ratio "
          f"({failed} of {attempted} attempted)")
    if len(runs) > 1:
        q1, q2, q3 = statistics.quantiles(runs, n=4)
        print(f"{workload} run_s median {q2:.4g} s, quartiles "
              f"{q1:.4g} {q3:.4g}, {len(runs)} repetitions")
    if missing:
        print(f"not measured: {', '.join(missing)}", file=sys.stderr)
    print(json.dumps({
        "correct": failed == 0 and not missing,
        "attempted": attempted,
        "failed": failed,
        "metrics": {
            k: {"value": v, "unit": u} for k, (v, u) in report.items()
        },
    }))
    return 1 if missing else 0


def main(argv=None) -> int:
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    from perfbench.workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    from perfbench.trace import read_event_log, read_gc_log

    work = _work_dir(args, os.getpid())
    cores = _configure_env(work)
    try:
        child = _untraced_child(args) if args.trace else None
        if child is not None and not child["metrics"]:
            return emit(args.workload, True, child["attempted"],
                        child["failed"], {}, [])
        t = time.perf_counter()
        spark = start_session(work, cores)
        start_s = time.perf_counter() - t
        try:
            r = bench(spark, args.workload, args.seed, args.seconds,
                      bool(args.trace), work, cores)
        finally:
            # stopping also completes the event log read below
            stop_session(spark)
        r["start_s"] = start_s
        gcs = read_gc_log(gc_log_path(work))
        attempted, failed = r["attempted"], r["failures"]
        metrics: dict[str, float] = {}
        if child is not None:
            attempted += child["attempted"]
            failed += child["failed"]
            if r["traced_rep"] is not None:
                run_s = child["metrics"].get("run_s", {}).get("value")
                events = read_event_log(os.path.join(work, "eventlog"))
                metrics = per_layer(r, events, gcs, run_s)
        elif r["reps"]:
            metrics = end_to_end(r, gcs)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return emit(args.workload, bool(args.trace), attempted, failed, metrics,
                [x["run_s"] for x in r["reps"]])


if __name__ == "__main__":
    sys.exit(main())
