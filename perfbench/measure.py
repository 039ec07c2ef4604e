#!/usr/bin/env python3
"""The measured process of the benchmark (``run.py`` starts it).

One process, Spark ``local[nproc]``, one closed-loop client: each
operation (crawl epoch, stats query, library query) is issued only after
the previous one finished. The inputs and expected outputs already exist
(``inputs.py``) and the environment is fitted to the host (``run.py``).
A run:

1. starts the session; ``--t0`` is the time ``run.py`` launched this
   process, so the session start covers interpreter, imports, JVM and
   context. With ``--probe`` the process stops here and prints only that
   time; ``run.py`` runs probes before the measured process. Then it
   prepares: session warm-up, job built, frontier bootstrapped.
   ``setup_s`` is the median session start of the probes and this
   process, plus the preparation;
2. crawls the workload's corpus: an untimed warm-up epoch 1, then a fixed
   number of timed epochs through ``CrawlJob.run`` (end-of-run compaction
   and publish included); then times the warm persisted stats;
3. checks the crawl against the simulator, then runs the 20 headline
   queries once with every result checked against its cached DuckDB
   oracle result;
4. runs timed query passes until ``--seconds`` of query time (at least two
   passes) and reports per-query medians.

With ``--trace 1`` the run also records spans, wraps the warehouse, reads
Spark's event log and times the extraction kernel without Spark; it prints
the per-layer metrics instead of the end-to-end ones. The last stdout line
is the result JSON; the full record (host, both metric sets, the per-epoch
phase report) is written under ``.perfbench_work/results/``.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import signal
import statistics
import sys
import threading
import time
from contextlib import contextmanager

from check import crawl_mismatches, engine_result_digests, query_matches
from run import WORK, host_info, source_version
from workloads import QUERY_TABLES, WORKLOADS, corpus_spec, crawl_config

# Untimed stats calls before the timed ones: the cold call, then one more
# (timed calls still got faster over the first few in a run).
STATS_WARMUP = 2
STATS_SAMPLES = 6
MIN_QUERY_PASSES = 2
MAX_QUERY_PASSES = 8
UNATTRIBUTED_FLAG = 0.05


E2E_UNITS = {
    "setup_s": "s", "crawl_urls_per_s": "1/s", "epoch_s_p50": "s",
    "stats_s": "s", "queries_s": "s",
    "queries_geomean_s": "s", "peak_rss_mb": "MB",
}


# -- memory ----------------------------------------------------------------


def _descendants(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def _pss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as fh:
            for line in fh:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as fh:
            return fh.read().strip()
    except OSError:
        return "?"


class RssSampler(threading.Thread):
    """Peak resident memory of this process and all its descendants
    (driver JVM, Python worker daemon and workers), sampled every 0.2 s.
    Each process counts its proportional share (PSS) of pages it shares
    with others: forked Python workers share the daemon's imported
    modules, and summing plain RSS would count those once per worker."""

    def __init__(self):
        super().__init__(daemon=True)
        self.peak_kb = 0
        self.peak_parts: dict[str, int] = {}  # kB by process name at peak
        self.peak_at = 0.0
        self._halt = threading.Event()
        self._paused = threading.Event()

    def run(self) -> None:
        while not self._halt.is_set():
            if not self._paused.is_set():
                parts: dict[str, int] = {}
                for p in _descendants(os.getpid()):
                    name = _comm(p)
                    parts[name] = parts.get(name, 0) + _pss_kb(p)
                kb = sum(parts.values())
                if not self._paused.is_set() and kb > self.peak_kb:
                    self.peak_kb, self.peak_parts = kb, parts
                    self.peak_at = time.time()
            self._halt.wait(0.2)

    @contextmanager
    def paused(self):
        """Samples taken inside are dropped: the output checks collect
        rows into the driver, which is the benchmark's memory, not the
        program's."""
        self._paused.set()
        try:
            yield
        finally:
            self._paused.clear()

    def stop(self) -> None:
        self._halt.set()
        self.join(timeout=10)


# -- inputs ----------------------------------------------------------------


def load_inputs(name: str, seed: int, work: str) -> dict:
    """The cached inputs ``inputs.py`` built: corpus path, simulator
    expectation, oracle results."""
    import inputs

    paths = inputs.input_paths(name, seed, work)
    for key in ("done", "oracle"):
        if not os.path.exists(paths[key]):
            raise SystemExit(f"perfbench: missing input {paths[key]}; "
                             "run perfbench/run.py")
    with open(paths["expected"]) as fh:
        paths["expected"] = json.load(fh)
    with open(paths["oracle"]) as fh:
        paths["oracle"] = json.load(fh)
    wl = WORKLOADS[name]
    spec = corpus_spec(wl, seed)
    paths["cfg"] = crawl_config(wl, len(os.sched_getaffinity(0)))
    paths["n_seeds"] = min(spec.n_seeds, spec.n_hosts)
    return paths


# -- the run ---------------------------------------------------------------


def start_session(extra_conf: dict):
    from torspider_spark.session import get_spark

    cores = int(os.environ["SPARK_GRAFT_CPUS"])
    return get_spark(app_name="perfbench", master=f"local[{cores}]",
                     shuffle_partitions=cores, extra_conf=extra_conf,
                     warm=False)


def prepare(spark, inp: dict, run_dir: str):
    """Session warm-up, job built, frontier bootstrapped on a fresh
    warehouse: the rest of the set-up after session start. Returns (job,
    seconds)."""
    from torspider_spark.plans.crawl import CrawlJob
    from torspider_spark.session import _warm_session

    t0 = time.time()
    _warm_session(spark)
    job = CrawlJob(spark, inp["corpus"], os.path.join(run_dir, "warehouse"),
                   inp["cfg"])
    job.bootstrap()
    return job, time.time() - t0


def run_crawl(job, tracer, epochs: int) -> dict:
    """Epoch 1 (JIT, Python workers and first-use caches warming on a
    seed-sized frontier) runs untimed; ``CrawlJob.run`` then resumes at
    epoch 2 and runs the timed epochs, the end-of-run compaction and
    ``publish_tables``. Every compaction (mid-run and end-of-run) is
    timed through the job's ``compact_frontier``."""
    compactions: list[float] = []
    orig_compact = job.compact_frontier

    def timed_compact(*args, **kwargs):
        t0 = time.time()
        orig_compact(*args, **kwargs)
        compactions.append(time.time() - t0)

    job.compact_frontier = timed_compact
    with tracer.span("crawl.epoch", epoch=1):
        t0 = time.time()
        warmup = job.run_epoch(1)
        warmup_wall = time.time() - t0
    walls: list[float] = []
    orig = job.run_epoch

    def timed_epoch(epoch):
        with tracer.span("crawl.epoch", epoch=epoch):
            t0 = time.time()
            stats = orig(epoch)
            walls.append(time.time() - t0)
            stats["_end"] = time.time()
        return stats

    job.run_epoch = timed_epoch
    with tracer.span("crawl.run"):
        t0 = time.time()
        history = job.run(max_epochs=epochs - 1)
        t_end = time.time()
    job.run_epoch = orig
    job.compact_frontier = orig_compact
    if len(history) != epochs - 1 or history[-1]["empty"]:
        raise RuntimeError(f"crawl ran {len(history)} epochs after the "
                           f"warm-up, expected {epochs - 1} non-empty ones")
    last_end = history[-1]["_end"]
    return {"warmup": warmup, "warmup_wall": warmup_wall,
            "history": history, "walls": walls, "compactions": compactions,
            "crawl_wall": last_end - t0, "finalize_s": t_end - last_end,
            "inserted": sum(h["inserted"] for h in history)}


def epoch_report(crawl: dict) -> list[dict]:
    """Each epoch's phases, compaction and unattributed remainder, which
    sum to the epoch wall; epochs above UNATTRIBUTED_FLAG are flagged.
    The untimed warm-up epoch 1 comes first."""
    rows = []
    for h, wall in zip([crawl["warmup"]] + crawl["history"],
                       [crawl["warmup_wall"]] + crawl["walls"]):
        phases = dict(h.get("phases", {}))
        phases["compact"] = h.get("compact_seconds", 0.0)
        rest = wall - sum(phases.values())
        rows.append({"epoch": h["epoch"], "wall_s": wall, **{
            f"{k}_s": v for k, v in phases.items()},
            "unattributed_s": rest, "unattributed_share": rest / wall,
            "flag": rest / wall > UNATTRIBUTED_FLAG,
            "timed": h["epoch"] > 1})
    return rows


def run_queries(spark, sf_dir: str, seconds: float, tracer, oracle: dict,
                cleanup: threading.Thread, sampler: RssSampler):
    """Cold pass with every result checked against its cached oracle
    result, then timed passes to the noop sink. ``cleanup`` runs during
    the untimed cold pass and is joined before the first timed one.
    Returns (per-query times, failures)."""
    import __spark_entry__ as entry_mod

    from bench import HEADLINE

    qs = entry_mod.queries()
    failed = []
    cleanup.start()
    with tracer.span("queries.check"), sampler.paused():
        for name in HEADLINE:
            if not query_matches(oracle[name], qs[name](spark, sf_dir)):
                failed.append(name)
    cleanup.join()
    times: dict[str, list[float]] = {n: [] for n in HEADLINE}
    t_start = time.time()
    passes = 0
    while passes < MIN_QUERY_PASSES or (
            time.time() - t_start < seconds and passes < MAX_QUERY_PASSES):
        for name in HEADLINE:
            with tracer.span(f"query.{name}", pass_=passes):
                t0 = time.time()
                (qs[name](spark, sf_dir).write.mode("overwrite")
                 .format("noop").save())
                times[name].append(time.time() - t0)
        passes += 1
    return times, failed


def e2e_metrics(setup_s, crawl, stats_times, qtimes, peak_kb) -> dict:
    pass_sums = [sum(t[i] for t in qtimes.values())
                 for i in range(len(next(iter(qtimes.values()))))]
    medians = [statistics.median(t) for t in qtimes.values()]
    return {
        "setup_s": setup_s,
        "crawl_urls_per_s": crawl["inserted"] / crawl["crawl_wall"],
        "epoch_s_p50": statistics.median(crawl["walls"]),
        "stats_s": statistics.median(stats_times),
        "queries_s": statistics.median(pass_sums),
        "queries_geomean_s": math.exp(
            sum(math.log(m) for m in medians) / len(medians)),
        "peak_rss_mb": peak_kb / 1024,
    }


def layer_metrics(crawl, report, n_seeds, qtimes, probe, live_b, jobs,
                  spans, kernel, kernel_rows, cc) -> dict:
    import tracing

    # Layer metrics cover every crawl epoch, the warm-up included (the
    # robots dimension, for one, is built only in epoch 1).
    hist = [crawl["warmup"]] + crawl["history"]
    n_ep = len(hist)
    out: dict[str, float] = {}
    for phase in ("robots", "scan_agg", "dedup", "sinks", "barrier",
                  "unattributed"):
        out[f"crawl.{phase}_s"] = sum(r.get(f"{phase}_s", 0.0)
                                      for r in report)
    out["crawl.compact_s"] = sum(crawl["compactions"])
    out["crawl.finalize_s"] = crawl["finalize_s"]
    epoch_spans = [i for i, s in enumerate(spans)
                   if s["name"] == "crawl.epoch"]
    ep_jobs = [j for j in jobs if any(tracing.under(spans, j["span"], e)
                                      for e in epoch_spans)]
    per = {k: sum(j[k] for j in ep_jobs) for k in (
        "stages", "tasks", "task_s", "cpu_s", "shuffle_write_b",
        "spill_b", "python_s")}
    out.update({
        "crawl.jobs_per_epoch": len(ep_jobs) / n_ep,
        "crawl.stages_per_epoch": per["stages"] / n_ep,
        "crawl.tasks_per_epoch": per["tasks"] / n_ep,
        "crawl.task_s_per_epoch": per["task_s"] / n_ep,
        "crawl.cpu_s_per_epoch": per["cpu_s"] / n_ep,
        "crawl.shuffle_mb_per_epoch": per["shuffle_write_b"] / 1e6 / n_ep,
        "crawl.spill_mb": per["spill_b"] / 1e6,
        "udfs.python_s": per["python_s"],
    })
    kernel_s = (kernel_rows["full"] * kernel["full_s_per_page"]
                + kernel_rows["title"] * kernel["title_s_per_page"])
    out.update({k: v for k, v in kernel.items() if "." in k})
    out["udfs.kernel_s"] = kernel_s
    out["udfs.boundary_s"] = per["python_s"] - kernel_s
    discovered = sum(h["discovered"] for h in hist)
    inserted = sum(h["inserted"] for h in hist)
    out.update({
        "candidate.selected": sum(h["candidates"] + h["blocked"]
                                  for h in hist),
        "candidate.blocked": sum(h["blocked"] for h in hist),
        "dedup.discovered": discovered,
        "dedup.inserted": inserted,
        # keys the last epoch's dedup ran against: seeds + earlier inserts
        "dedup.seen_keys": n_seeds + inserted - hist[-1]["inserted"],
        "dedup.useful_ratio": inserted / discovered,
    })
    out.update({
        "warehouse.commits": probe.commits,
        "warehouse.commit_s": probe.commit_s,
        "warehouse.files_written": probe.files_written,
        "warehouse.bytes_written_mb": probe.bytes_written / 1e6,
        "warehouse.manifest_reads": probe.manifest_reads,
        "warehouse.write_amp": probe.bytes_written / live_b,
    })
    for name, t in qtimes.items():
        out[f"query.{name}_s"] = statistics.median(t)
    out["graphdedup.cc_rounds"] = cc["rounds"]
    out["graphdedup.round_edges"] = cc["edges"]
    return out


def watch_cc(tracer):
    """In traced runs, wrap graphdedup.connected_components so the calls
    made inside the dup_clusters query record their per-round stats;
    returns (restore, holder of the last such call's rounds and edges)."""
    from torspider_spark.operators import graphdedup

    orig = graphdedup.connected_components
    holder = {"rounds": 0, "edges": 0}
    if not tracer.enabled:
        return (lambda: None), holder

    def wrapped(pairs, *args, **kwargs):
        if tracer.current() != "query.dup_clusters":
            return orig(pairs, *args, **kwargs)
        stats: list = []
        kwargs["round_stats"] = stats
        out = orig(pairs, *args, **kwargs)
        holder["calls"] = stats
        return out

    graphdedup.connected_components = wrapped

    def restore():
        graphdedup.connected_components = orig
        calls = holder.pop("calls", [])
        holder["rounds"] = len(calls)
        holder["edges"] = sum(s["edges"] for s in calls)

    return restore, holder


def _start_time(pid: int) -> str | None:
    """Kernel start time of ``pid`` (identifies it across pid reuse)."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[19]
    except OSError:
        return None


def stop_spark(spark) -> None:
    """Stop the session, end the gateway JVM, and wait for every process
    the run started (JVM, Python worker daemon and workers)."""
    from pyspark import SparkContext

    started = {p: _start_time(p) for p in _descendants(os.getpid())
               if p != os.getpid()}
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits on stdin EOF
            proc.wait(timeout=60)

    def alive():
        return [p for p, t in started.items()
                if t is not None and _start_time(p) == t]

    # Left alone, the Python worker daemon and its workers take seconds to
    # notice that the JVM is gone; the session is stopped, so end them now.
    for sig, grace in ((signal.SIGTERM, 10), (signal.SIGKILL, 0)):
        for p in alive():
            os.kill(p, sig)
        deadline = time.time() + grace
        while alive() and time.time() < deadline:
            time.sleep(0.05)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--t0", type=float, required=True,
                    help="time.time() when this process was launched")
    ap.add_argument("--probe", action="store_true",
                    help="start the session, print its start time, exit")
    ap.add_argument("--session-samples", default="",
                    help="the probes' session starts, comma-separated")
    args = ap.parse_args(argv)
    sys.path.insert(0, os.getcwd())

    import tracing

    wl = WORKLOADS[args.workload]
    work = os.path.abspath(WORK)
    role = "probe" if args.probe else "run"
    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{role}-{os.getpid()}"
    run_dir = os.path.join(work, "runs", run_id)
    os.makedirs(run_dir, exist_ok=True)

    marks: dict[str, float] = {}

    def mark(stage: str) -> None:
        marks[stage] = time.time() - args.t0

    tracer = tracing.Tracer(bool(args.trace), run_id)
    extra_conf = {"spark.ui.showConsoleProgress": "false",
                  "spark.driver.extraJavaOptions":
                      f"-Djava.io.tmpdir={os.environ['TMPDIR']}"}
    ev_dir = os.path.join(run_dir, "events")
    if args.trace:
        os.makedirs(ev_dir, exist_ok=True)
        extra_conf.update(tracing.EVENT_LOG_CONF)
        extra_conf["spark.eventLog.dir"] = "file://" + ev_dir
    sampler = RssSampler()
    if not args.probe:
        sampler.start()
    spark = start_session(extra_conf)
    session_s = time.time() - args.t0
    if args.probe:
        stop_spark(spark)
        shutil.rmtree(run_dir, ignore_errors=True)
        print(json.dumps({"session_s": session_s}))
        return 0
    mark("session")
    inp = load_inputs(args.workload, args.seed, work)
    mark("inputs")

    attempted = failed = 0
    with tracer.span("workload", workload=args.workload):
        with tracer.span("setup"):
            job, prep = prepare(spark, inp, run_dir)
        sessions = [float(s) for s in args.session_samples.split(",")
                    if s] + [session_s]
        setup_rec = {"session_s": sessions, "prepare_s": prep,
                     "setup_s": statistics.median(sessions) + prep}
        mark("setup")
        probe = tracing.WarehouseProbe(tracer)
        if args.trace:
            probe.install()
        crawl = run_crawl(job, tracer, wl.epochs)
        attempted += wl.epochs + 1  # epochs (warm-up included) + finalize
        mark("crawl")
        from torspider_spark.plans import stats as st

        with tracer.span("stats.cold"):
            for _ in range(STATS_WARMUP):
                stats = st.gather_stats_persisted(job.wh)
        stats_times = []
        for _ in range(STATS_SAMPLES):
            with tracer.span("stats"):
                t1 = time.time()
                st.gather_stats_persisted(job.wh)
                stats_times.append(time.time() - t1)
        attempted += STATS_WARMUP + STATS_SAMPLES
        probe.remove()
        mark("stats")
        with tracer.span("crawl.check"), sampler.paused():
            seen = set(job.frontier_df().select("url").toPandas()["url"])
            results = job.results()
            digests = engine_result_digests(results)
            bad = crawl_mismatches([crawl["warmup"]] + crawl["history"],
                                   seen, digests, inp["expected"])
            if stats["total_urls"] != len(seen):
                bad.append("stats_total_urls")
            if args.trace:
                live_b = tracing.live_bytes(job.wh.root)
                kernel_rows = {
                    "full": results.filter("hash IS NOT NULL").count(),
                    "title": results.filter(
                        "hash IS NULL AND title IS NOT NULL").count()}
            del seen, digests
        attempted += 4
        failed += len(bad)
        mark("crawl_check")

        from bench import HEADLINE

        restore_cc, cc = watch_cc(tracer)
        # Deleting the run's warehouse is slow on some filesystems (many
        # small files and partition dirs); it overlaps the untimed check.
        cleanup = threading.Thread(target=shutil.rmtree, args=(
            os.path.join(run_dir, "warehouse"),))
        qtimes, qfailed = run_queries(spark, QUERY_TABLES, args.seconds,
                                      tracer, inp["oracle"], cleanup,
                                      sampler)
        restore_cc()
        mark("queries")
        n_passes = len(qtimes[HEADLINE[0]])
        attempted += len(HEADLINE) * (1 + n_passes)
        failed += len(qfailed)
        bad += [f"query:{q}" for q in qfailed]

    app_id = spark.sparkContext.applicationId
    sampler.stop()
    stop_spark(spark)
    mark("stopped")

    report = epoch_report(crawl)
    e2e = e2e_metrics(setup_rec["setup_s"], crawl, stats_times, qtimes,
                      sampler.peak_kb)
    host = {**host_info(), "spark": _spark_version(), **source_version()}
    record = {"run_id": run_id, "workload": args.workload, "seed": args.seed,
              "seconds": args.seconds, "trace": args.trace, "host": host,
              "setup": setup_rec, "marks": marks,
              "peak_rss": {"at_s": sampler.peak_at - args.t0, "parts_mb": {
                  k: v / 1024 for k, v in sampler.peak_parts.items()}},
              "stats_times": stats_times, "query_times": qtimes,
              "mismatches": bad,
              "epochs": report, "end_to_end": e2e}
    for row in report:
        if row["flag"]:
            print(f"perfbench: epoch {row['epoch']} unattributed "
                  f"{row['unattributed_share']:.1%} of "
                  f"{row['wall_s']:.2f}s", file=sys.stderr)
    metrics = e2e
    if args.trace:
        import kernel as kernel_mod

        kernel = kernel_mod.time_kernel(kernel_mod.load_sample(inp["corpus"]))
        jobs = tracing.parse_event_log(os.path.join(ev_dir, app_id))
        tracing.attribute_jobs(jobs, tracer.spans)
        metrics = layer_metrics(
            crawl, report, inp["n_seeds"], qtimes, probe, live_b, jobs,
            tracer.spans, kernel, kernel_rows, cc)
        record["per_layer"] = metrics
        mark("traced")
        record["kernel"] = kernel
        tracer.dump(os.path.join(run_dir, "spans.json"))
        with open(os.path.join(run_dir, "jobs.json"), "w") as fh:
            json.dump(jobs, fh)
    os.makedirs(os.path.join(work, "results"), exist_ok=True)
    with open(os.path.join(work, "results", f"{run_id}.json"), "w") as fh:
        json.dump(record, fh, indent=1, default=str)
    shutil.rmtree(os.path.join(run_dir, "events"), ignore_errors=True)
    if not args.trace:
        os.rmdir(run_dir)

    mark("recorded")
    print(f"perfbench: stage ends (s from launch) {marks}", file=sys.stderr)
    units = {**E2E_UNITS, **layer_units(metrics)} if args.trace else E2E_UNITS
    print(json.dumps({"host": host}))
    print(json.dumps({
        "correct": not bad, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]}
                    for k, v in metrics.items()}}), flush=True)
    return 0


def layer_units(metrics: dict) -> dict:
    units = {}
    for k in metrics:
        if k.endswith("_per_s") and "mb" in k:
            units[k] = "MB/s"
        elif k.endswith("_per_s"):
            units[k] = "1/s"
        elif k.endswith("_s") or k.endswith("_s_per_epoch"):
            units[k] = "s"
        elif k.endswith("_mb") or k.endswith("_mb_per_epoch"):
            units[k] = "MB"
        elif k.endswith(("_ratio", "write_amp")):
            units[k] = "ratio"
        else:
            units[k] = "count"
    return units


def _spark_version() -> str:
    import pyspark

    return pyspark.__version__


if __name__ == "__main__":
    sys.exit(main())
