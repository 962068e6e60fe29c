"""Crawl benchmark: one workload, one fresh process, one JSON result line.

    python3 perfbench/run.py --workload wide_ingest --seed 1 --seconds 30 --trace 0

Run from the root of a checkout. The process generates its workload's
corpus from ``--seed`` (outside every measured phase), starts a local
Spark session over it, then runs whole crawl jobs in a closed loop: a
job starts only after the previous one finished, and only while the
loop is expected to end within ``--seconds``, so at least one job runs.
Every output of every job is checked against the generator.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` wraps the
layers' public functions in spans and prints the per-layer metrics.
The last stdout line is ``{"correct", "attempted", "failed", "metrics"}``.
Everything the run writes stays under ``.bench_work/`` in the checkout.
"""

from __future__ import annotations

import time

T_PROCESS = time.monotonic()  # the set-up clock starts with the process

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
sys.path[:0] = [HERE, REPO]

import corpus as gen  # noqa: E402
import proctree  # noqa: E402
from spans import OWN_GROUP, Tracer, median  # noqa: E402
from workloads import WORKLOADS, check_job, crawl_config, files_and_bytes, run_job, tiny  # noqa: E402

with open(os.path.join(HERE, "spec.json")) as _f:
    SPEC = json.load(_f)
with open(os.path.join(REPO, "BENCHMARK.json")) as _f:
    CONTRACT = json.load(_f)
UNITS = {m["name"]: m["unit"] for m in CONTRACT["end_to_end"] + CONTRACT["per_layer"]}
PACKAGE = "sharepointcrawler_spark"
REPS = 3  # repetitions of each standalone layer call in a traced run


def _args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--tiny", action="store_true",
                   help="small corpus of the same shape (the benchmark's own tests)")
    p.add_argument("--corrupt", choices=("text", "fetch"),
                   help="damage one output before the checks (the benchmark's own tests)")
    return p.parse_args(argv)


def _start_spark(work: str, cpus: int):
    """Session + JVM with every scratch path inside the work directory."""
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = SPEC["driver_memory"]
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # every JVM the launch starts (spark-submit's launcher and the
    # driver): temp files in the work directory, and no hsperfdata file,
    # which the JVM would write under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData"
    from sharepointcrawler_spark.session import get_spark

    return get_spark(
        app_name="perfbench",
        cpus=cpus,
        extra_conf={"spark.sql.warehouse.dir": os.path.join(work, "warehouse")},
    )


def _stop_spark(spark) -> None:
    """Stop the session and the JVM, and wait for the JVM to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        proc.wait(timeout=60)


def _jvm_gc_s(spark) -> float:
    mf = spark._jvm.java.lang.management.ManagementFactory
    return sum(max(b.getCollectionTime(), 0) for b in mf.getGarbageCollectorMXBeans()) / 1000.0


def _jvm_heap_pools(spark):
    mf = spark._jvm.java.lang.management.ManagementFactory
    return [p for p in mf.getMemoryPoolMXBeans() if p.getType().name() == "HEAP"]


def _warm(spark, corpus) -> None:
    """One tiny job through a pandas UDF and a shuffle, so the Python
    workers exist and the shared code paths are compiled."""
    from sharepointcrawler_spark.functions.urlnorm import canonicalize_url

    df = spark.createDataFrame([(u,) for u in corpus.urls[:8]], "url string")
    df.select(canonicalize_url("url").alias("u")).groupBy("u").count().collect()


def _timed(spark, wl, pages, corpus, work, seconds, tracer):
    """Closed loop of crawl jobs: start another only if it is expected
    to finish within ``seconds`` of the loop's start."""
    heap = _jvm_heap_pools(spark)
    for p in heap:
        p.resetPeakUsage()
    gc0, cpu0 = _jvm_gc_s(spark), proctree.tree_cpu_s()
    steal0, total0 = proctree.host_cpu_jiffies()
    t0 = time.monotonic()
    jobs = []
    while True:
        t_job = time.monotonic()
        root = os.path.join(work, f"snap-{len(jobs)}")
        jobs.append(run_job(spark, wl, pages, corpus, root, tracer))
        elapsed = time.monotonic() - t0
        if elapsed + (time.monotonic() - t_job) > seconds:
            break
    wall = time.monotonic() - t0
    cpu = proctree.tree_cpu_s() - cpu0
    steal1, total1 = proctree.host_cpu_jiffies()
    return jobs, {
        "wall_s": wall,
        "cpu_s": cpu,
        "host_steal_share": (steal1 - steal0) / max(total1 - total0, 1),
        "gc_s": _jvm_gc_s(spark) - gc0,
        "heap_peak_mb": sum(p.getPeakUsage().getUsed() for p in heap) / 2**20,
    }


def _median_time(fn, reps: int = REPS) -> float:
    times = []
    for _ in range(reps):
        t = time.monotonic()
        fn()
        times.append(time.monotonic() - t)
    return median(times)


def _standalone(spark, wl, corpus, pages, job) -> dict:
    """Standalone calls into single layers, each timed by the median of
    ``REPS`` calls over this run's own inputs."""
    from pyspark.sql import functions as F

    from sharepointcrawler_spark.extraction.udfs import extract_text_udf
    from sharepointcrawler_spark.functions.urlnorm import canonicalize_url
    from sharepointcrawler_spark.operators import frontier as fr
    from sharepointcrawler_spark.operators.politeness import assign_fetch_slots, top_k_per_host
    from sharepointcrawler_spark.plans.sinks import sink_with_status

    res = job.result.crawl if wl.ingest else job.result
    out = {}

    # urlnorm: the corpus URLs plus a variant of each needing the full
    # RFC 3986 path (upper-case host, default port, dot segment)
    variants = [u.replace("https://", "HTTPS://").replace(".org/", ".ORG:443/./").replace(".com/", ".COM:443/./")
                for u in corpus.urls]
    urls = spark.createDataFrame([(u,) for u in corpus.urls + variants], "u string").persist()
    urls.count()
    t = _median_time(lambda: urls.select(F.sum(F.length(canonicalize_url("u")))).collect())
    out["urlnorm.urls_per_s"] = 2 * corpus.n / t
    urls.unpersist()

    # extraction: the whole corpus through the text UDF
    html_mb = sum(map(len, corpus.html)) / 1e6
    t = _median_time(lambda: pages.select(F.sum(F.length(extract_text_udf("html", "url")))).collect())
    out["extraction.pages_per_s"] = corpus.n / t
    out["extraction.mb_per_s"] = html_mb / t

    # sinks: one status row per golden document through the stub sink
    docs = spark.createDataFrame([(i, t) for i, t in enumerate(corpus.text)], "doc_id long, payload string").persist()
    docs.count()
    t = _median_time(lambda: sink_with_status(docs, "stub://perfbench", id_cols=["doc_id"])
                 .agg(F.sum(F.col("ok").cast("int"))).collect())
    out["sinks.rows_per_s"] = corpus.n / t
    docs.unpersist()

    # politeness: budget + slots over this job's fetched frontier
    fetched = res.frontier.filter(F.col("state") == fr.FETCHED).persist()
    n = fetched.count()
    k = wl.budget or n
    t = _median_time(lambda: assign_fetch_slots(top_k_per_host(fetched, k).drop("host_rank"), None,
                                            approx_rows=n).count())
    out["politeness.slots_s"] = t
    fetched.unpersist()
    return out


class _FirstWrite(Exception):
    pass


def _resume_read_s(spark, wl, pages, job) -> float:
    """Time from a resume call on the job's snapshot to the first table
    write of the wave it resumes: reading the merge-on-read state and
    planning the wave. The crawl is stopped at that write."""
    from sharepointcrawler_spark.extraction import udfs
    from sharepointcrawler_spark.plans import crawl
    from sharepointcrawler_spark.plans.snapshot import SnapshotStore

    store = SnapshotStore(spark, job.store_root)
    first = []

    def stop(*_args, **_kwargs):
        first.append(time.monotonic())
        spark.sparkContext.cancelAllJobs()  # the wave's other writes
        raise _FirstWrite

    store.write = store.write_partitioned = store.write_rows = stop
    t = time.monotonic()
    try:
        crawl.run_crawl(spark, store, udfs.pages_expander(pages), config=crawl_config(wl, max_waves=2),
                        resume=True, fetch_probe=udfs.pages_fetch_probe(pages))
    except Exception:  # _FirstWrite, or a write cancelled by it
        if not first:
            raise
    if not first:
        raise RuntimeError("the resumed crawl wrote nothing")
    return first[0] - t


def _install_wrappers(tracer: Tracer) -> None:
    """Span the public functions of every crawl layer for this run."""
    from sharepointcrawler_spark.extraction import udfs
    from sharepointcrawler_spark.operators import dedup, frontier
    from sharepointcrawler_spark.plans import crawl, pipelines

    def spanned_closure(name):
        return lambda fn: tracer.wrap_callable(fn, name, "extraction")

    tracer.wrap(pipelines, "crawl_extract_ingest", "pipelines")
    tracer.wrap(pipelines, "sink_with_status", "sinks")
    for mod in (pipelines, udfs):
        tracer.wrap(mod, "pages_expander", "extraction", wrap_result=spanned_closure("expand"))
        tracer.wrap(mod, "pages_fetch_probe", "extraction", wrap_result=spanned_closure("fetch_probe"))
    tracer.wrap(pipelines, "run_crawl", "crawl")
    tracer.wrap(crawl, "run_crawl", "crawl")
    tracer.wrap(crawl, "assign_fetch_slots", "politeness")
    tracer.wrap(crawl, "top_k_per_host", "politeness")
    for attr in ("seed_frontier", "expand_wave", "global_sequence"):
        tracer.wrap(frontier, attr, "frontier")
    for attr in ("anti_join_unseen", "absorb_keys_into_shards", "build_bloom_shards"):
        tracer.wrap(dedup, attr, "dedup")
    tracer.wrap(dedup, "bloom_probe", "dedup", wrap_result=tracer.note_probed)


def _per_layer(tracer, jobs, timed, completed, extras) -> dict:
    crawl_waves = tracer.per_wave()
    jt = tracer.jobs_and_tasks()
    nw = max(len(crawl_waves), 1)
    probes_maybe = sum(p["maybe"] for p in tracer.probes)
    probed = probes_maybe + sum(p["definite"] for p in tracer.probes)
    discovered = sum(w["stats"].get("discovered_new", 0) for w in crawl_waves)
    files = nbytes = 0
    for w in tracer.written:
        if w["wave"] > 0:
            f, b = files_and_bytes(w["path"])
            files, nbytes = files + f, nbytes + b
    compaction = [(w["start"], w["end"]) for w in tracer.written
                  if w["wave"] > 0 and w["name"] in ("frontier_base", "seen_base")]
    crawl_spans = [s for s in tracer.spans if s.layer == "crawl" and s.name == "run_crawl"]
    self_s = tracer.self_times()
    m = {
        "crawl.waves": len(crawl_waves) / len(jobs),
        "crawl.spark_jobs_per_wave": sum(j for j, _ in jt) / nw,
        "crawl.spark_tasks_per_wave": sum(t for _, t in jt) / nw,
        "crawl.driver_plan_s_per_wave": median(w["plan_s"] for w in crawl_waves),
        "snapshot.write_calls_per_wave": sum(w["write_calls"] for w in crawl_waves) / nw,
        "snapshot.write_busy_s_per_wave": median(w["write_busy_s"] for w in crawl_waves),
        "snapshot.commit_s_per_wave": median(w["commit_s"] for w in crawl_waves),
        "snapshot.files_per_wave": files / nw,
        "snapshot.bytes_per_wave": nbytes / nw,
        "snapshot.compaction_s": sum(e - s for s, e in compaction) / len(jobs),
        "snapshot.resume_read_s": extras.pop("resume_read_s"),
        "frontier.discovered_per_wave": discovered / nw,
        "dedup.probe_maybe_share": probes_maybe / probed if probed else 0.0,
        "dedup.new_per_probed": discovered / probed if probed else 0.0,
        "pipelines.crawl_share": sum(s.end - s.start for s in crawl_spans) / timed["wall_s"],
        "jvm.gc_s": timed["gc_s"],
        "jvm.heap_peak_mb": timed["heap_peak_mb"],
        "trace.pages_per_s": completed / timed["wall_s"],
    }
    m.update(extras)
    for layer in ("crawl", "snapshot", "frontier", "dedup", "politeness", "extraction"):
        m[f"self_s.{layer}"] = self_s.get(layer, 0.0) / len(jobs)
    return m


def run(args) -> dict:
    wl = WORKLOADS[args.workload]
    if args.tiny:
        wl = tiny(wl)
    base = os.path.join(REPO, ".bench_work")
    if os.path.isdir(base):  # work dirs of runs that were killed
        for name in os.listdir(base):
            if name.startswith("run-") and not os.path.exists(f"/proc/{name[4:]}"):
                shutil.rmtree(os.path.join(base, name), ignore_errors=True)
    work = os.path.join(base, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    sampler = proctree.PeakRss().start()
    try:
        return _run_in(args, wl, work, sampler)
    finally:
        sampler.stop()
        shutil.rmtree(work, ignore_errors=True)


def _run_in(args, wl, work, sampler) -> dict:
    # ---- load generation: finished and on disk before set-up starts
    t_gen0 = time.monotonic()
    if not args.tiny:
        canary = gen.build(wl.shape, SPEC["digest_seed"]).digest()
        if canary != SPEC["input_digests"][wl.name]:
            raise SystemExit(f"input digest mismatch for {wl.name}: the generator changed ({canary})")
    corpus = gen.build(wl.shape, args.seed)
    pages_path = os.path.join(work, "pages.parquet")
    gen.write_parquet(corpus, pages_path)
    t_gen1 = time.monotonic()

    # ---- set-up: session, inputs registered, workers warmed
    spark = _start_spark(work, min(SPEC["local_cores"], os.cpu_count() or 1))
    try:
        t_session = time.monotonic()
        pages = spark.read.parquet(pages_path)
        pages.createOrReplaceTempView("pages")
        t_registered = time.monotonic()
        _warm(spark, corpus)
        t_ready = time.monotonic()
        setup_s = (t_gen0 - T_PROCESS) + (t_ready - t_gen1)
        setup_phases = {"session.start_s": t_session - t_gen1,
                        "sources.register_s": t_registered - t_session,
                        "session.warm_s": t_ready - t_registered}

        tracer = Tracer(spark, enabled=bool(args.trace))
        if args.trace:
            _install_wrappers(tracer)
        try:
            jobs, timed = _timed(spark, wl, pages, corpus, work, args.seconds, tracer)
        finally:
            tracer.restore()

        # ---- checks of every output of every job
        outcomes = [check_job(wl, corpus, j, args.corrupt) for j in jobs]
        attempted = sum(o.attempted for o in outcomes)
        failed = sum(o.failed for o in outcomes)
        completed = sum(o.completed for o in outcomes)
        last = jobs[-1].result.crawl if wl.ingest else jobs[-1].result
        state_b = files_and_bytes(jobs[-1].store_root)[1]
        n_seen = last.seen.count()
        intervals = tracer.wave_intervals()
        e2e = {
            "setup_s": setup_s,
            "pages_per_s": completed / timed["wall_s"],
            "wave_s_p50": median(intervals),
            "cpu_s_per_kpage": timed["cpu_s"] / max(completed, 1) * 1000,
            "peak_rss_mb": 0.0,  # filled once the process tree is idle
            "state_bytes_per_url": state_b / max(n_seen, 1),
        }
        info = {
            "workload": wl.name, "seed": args.seed, "jobs": len(jobs),
            "timed_s": round(timed["wall_s"], 3), "wave_intervals_s": [round(x, 3) for x in intervals],
            "host_steal_share": round(timed["host_steal_share"], 3),
            "problems": [o.problems for o in outcomes], "load_s": round(t_gen1 - t_gen0, 3),
            "setup_phases_s": {k: round(v, 3) for k, v in setup_phases.items()},
            "driver_memory": SPEC["driver_memory"], "failed_share": failed / attempted,
        }
        metrics = None
        if args.trace:
            spark.sparkContext.setJobGroup(OWN_GROUP, "standalone layer calls")
            extras = _standalone(spark, wl, corpus, pages, jobs[-1])
            extras["resume_read_s"] = _resume_read_s(spark, wl, pages, jobs[-1])
            extras.update(setup_phases)
            metrics = _per_layer(tracer, jobs, timed, completed, extras)
            trace_dir = os.path.join(REPO, ".bench_work", "traces")
            os.makedirs(trace_dir, exist_ok=True)
            tracer.dump(os.path.join(trace_dir, f"{wl.name}-seed{args.seed}.json"),
                        {"info": info, "metrics": metrics, "per_wave": tracer.per_wave()})
    finally:
        _stop_spark(spark)
    e2e["peak_rss_mb"] = sampler.stop() / 2**20
    return {"attempted": attempted, "failed": failed, "e2e": e2e, "per_layer": metrics, "info": info}


def main(argv=None) -> int:
    args = _args(argv)
    if not os.path.isdir(os.path.join(REPO, PACKAGE)):
        print(f"perfbench: the {PACKAGE} package is not next to perfbench/", file=sys.stderr)
        return 2
    watchdog = threading.Timer(SPEC["timeout_s"], _timeout)
    watchdog.daemon = True
    watchdog.start()
    try:
        out = run(args)
    except Exception:  # a crashed run: every expected outcome is lost
        traceback.print_exc()
        print(json.dumps(_FAILED))
        return 1
    finally:
        watchdog.cancel()
    info = out["info"]
    print(f"# {info['workload']} seed={info['seed']} jobs={info['jobs']} timed_s={info['timed_s']} "
          f"waves_s={info['wave_intervals_s']} steal={info['host_steal_share']} load_s={info['load_s']} "
          f"setup={info['setup_phases_s']} "
          f"problems={info['problems']}")
    for k, v in out["e2e"].items():
        print(f"# {k} = {v:.6g} {UNITS[k]}")
    print(f"# failed_share = {info['failed_share']:.6g} ratio  ({out['failed']}/{out['attempted']})")
    chosen = out["per_layer"] if args.trace else out["e2e"]
    result = {
        "correct": out["failed"] == 0,
        "attempted": out["attempted"],
        "failed": out["failed"],
        "metrics": {k: {"value": float(v), "unit": UNITS[k]} for k, v in chosen.items()},
    }
    print(json.dumps(result))
    return 0


# a crashed or timed-out run: failed_share 1
_FAILED = {"correct": False, "attempted": 1, "failed": 1, "metrics": {}}


def _timeout() -> None:
    """A run that outlives its budget is a failure: report it and end
    the process (the JVM exits when its stdin pipe closes)."""
    print(f"perfbench: run exceeded {SPEC['timeout_s']} s", file=sys.stderr)
    print(json.dumps(_FAILED), flush=True)
    os._exit(3)


if __name__ == "__main__":
    sys.exit(main())
