"""Workloads of the crawl benchmark: their corpus shapes, the crawl job
each one times, and the checks on every output of that job.

A job is one whole crawl through the program's public API, run in a
closed loop (the next job starts only after the previous one finished).
Each job gets a fresh snapshot store.
"""

from __future__ import annotations

import math
import os
from collections import Counter
from dataclasses import dataclass, field

from corpus import Corpus, Shape


@dataclass(frozen=True)
class Workload:
    name: str
    shape: Shape
    ingest: bool  # crawl_extract_ingest (True) or bare run_crawl (False)
    budget: int | None  # per-host wave budget

    @classmethod
    def of(cls, name: str, shape: Shape, ingest: bool, budgeted: bool) -> "Workload":
        # a budget of half the hot host's pages
        return cls(name, shape, ingest, math.ceil(shape.n_hot / 2) if budgeted else None)


# Every job is a fresh crawl of one wave, seeded with the root and the
# pages that link from it, compacted when the wave commits: a fresh
# process pays ~15-20 s of fixed cost per wave on a 4-core box, and the
# run-time budget of the whole benchmark allows one wave per job.
# wide_ingest: 1200 seeded hub pages on 32 hosts, each linking to one
# page nobody has seen yet; every fetched page is extracted and posted.
# hot_host_budget: 600 seeded pages, 90% on one host, every link already
# seen; the budget lets half of the hot host through, and the empty
# pages fail and are queued for a retry.
WORKLOADS = {
    w.name: w
    for w in (
        Workload.of("wide_ingest", Shape(fanout=(1200, 1), n_hosts=32), ingest=True, budgeted=False),
        Workload.of("hot_host_budget", Shape(fanout=(599,), n_hosts=8, hot_share=0.9, n_empty=4),
                    ingest=False, budgeted=True),
    )
}


def tiny(wl: Workload) -> Workload:
    """A small version of ``wl`` with the same structure (for the
    benchmark's own tests)."""
    fanout = tuple(min(f, 39) for f in wl.shape.fanout)
    shape = Shape(fanout, wl.shape.n_hosts, wl.shape.hot_share, min(wl.shape.n_empty, 2))
    return Workload.of(wl.name, shape, wl.ingest, wl.budget is not None)


def seeds_of(corpus: Corpus) -> list[int]:
    """The seed pages (the root and its children), in crawl order."""
    return [i for i in corpus.dfs_order() if corpus.depth[i] <= 1]


@dataclass
class Expected:
    state: list[str]  # final frontier state per page ("" = never seen)
    scheduled: list[bool]  # the wave scheduled the page (fetch log row)
    errors: list[int]  # error rows per page


def expected(wl: Workload, corpus: Corpus) -> Expected:
    """Reference model of the job's one wave, written from the crawl's
    contract: the wave schedules every seed, or with a budget the first
    ``budget`` seeds of each host in seed order; an empty page fails
    with one error row and stays pending for a retry; a fetched page's
    links not seen before become pending."""
    state = [""] * corpus.n
    errors = [0] * corpus.n
    seeds = seeds_of(corpus)
    for i in seeds:
        state[i] = "pending"
    taken: Counter = Counter()
    scheduled = [False] * corpus.n
    for i in seeds:
        taken[corpus.hosts[i]] += 1
        scheduled[i] = wl.budget is None or taken[corpus.hosts[i]] <= wl.budget
    for i in seeds:
        if not scheduled[i]:
            continue
        if i in corpus.empty:
            errors[i] = 1
            continue
        state[i] = "fetched"
        for j in corpus.children[i] + [0]:
            state[j] = state[j] or "pending"
    return Expected(state, scheduled, errors)


@dataclass
class Job:
    store_root: str
    result: object  # CrawlResult, or PipelineResult when ingesting
    statuses: list = field(default_factory=list)  # (doc_id, ok) rows
    documents: object = None  # persisted envelope DataFrame


def crawl_config(wl: Workload, max_waves: int = 1):
    from sharepointcrawler_spark.plans.crawl import CrawlConfig

    return CrawlConfig(max_waves=max_waves, per_host_wave_budget=wl.budget, compact_every=1,
                       max_fetch_attempts=2)


def run_job(spark, wl: Workload, pages, corpus: Corpus, store_root: str, tracer) -> Job:
    """One crawl job. Everything the job's outputs need is computed
    before this returns; the caller times it."""
    from sharepointcrawler_spark.extraction import udfs
    from sharepointcrawler_spark.plans import crawl, pipelines
    from sharepointcrawler_spark.plans.snapshot import SnapshotStore

    store = SnapshotStore(spark, store_root)
    tracer.watch_store(store)
    seeds = [(corpus.urls[i], 0) for i in seeds_of(corpus)]
    if wl.ingest:
        res = pipelines.crawl_extract_ingest(spark, store, pages, seeds, config=crawl_config(wl))
        # the sink action computes the envelope once; keep it for the
        # text check instead of extracting every page a second time
        documents = res.documents.persist()
        statuses = res.statuses.select("doc_id", "ok").collect()
        return Job(store_root, res, statuses, documents)
    res = crawl.run_crawl(
        spark, store, udfs.pages_expander(pages), seeds=seeds, config=crawl_config(wl),
        resume=False, fetch_probe=udfs.pages_fetch_probe(pages),
    )
    return Job(store_root, res)


# ---------------------------------------------------------------- checks


@dataclass
class Outcome:
    attempted: int
    failed: int
    completed: int  # pages fetched, committed (and ingested) correctly
    problems: dict  # check name -> number of pages it failed


def _text_of_chunks(chunks: list, overlap: int) -> str:
    """Invert the sliding-window chunking: chunk 0 whole, then each
    later chunk minus its overlap with the one before."""
    chunks = sorted(chunks, key=lambda c: c["ChunkIndex"])
    if not chunks:
        return ""
    text = chunks[0]["TextContent"]
    for c in chunks[1:]:
        text += c["TextContent"][overlap:]
    return text


def check_job(wl: Workload, corpus: Corpus, job: Job, corrupt: str | None = None) -> Outcome:
    """Check every output of a job against the generator and the
    reference model; each corpus page is one expected outcome, failed if
    any check on it fails. Output rows for URLs outside the corpus count
    as failed outcomes too. ``corrupt`` damages one output first (the
    benchmark's own tests use it to prove the checks bite)."""
    from sharepointcrawler_spark.plans.crawl import crawl_order

    res = job.result.crawl if wl.ingest else job.result
    want = expected(wl, corpus)
    index = {u: i for i, u in enumerate(corpus.urls)}
    bad: dict[str, set] = {}
    extra = 0

    def fail(check: str, pages) -> None:
        bad.setdefault(check, set()).update(pages)

    # 1. final frontier state of every page
    states = {r["url_canon"]: r["state"] for r in res.frontier.select("url_canon", "state").collect()}
    if corrupt == "fetch":
        states.pop(corpus.urls[want.state.index("fetched")])
    extra += sum(1 for u in states if u not in index)
    for i, u in enumerate(corpus.urls):
        if states.get(u, "") != want.state[i]:
            fail("state", [i])

    # 2. crawl order: the generator's pre-order DFS over the pages
    #    fetched or pending
    order = [r["url_canon"] for r in crawl_order(res.frontier).orderBy("crawl_seq").collect()]
    dfs = [corpus.urls[i] for i in corpus.dfs_order() if want.state[i] in ("fetched", "pending")]
    for pos in range(max(len(order), len(dfs))):
        got = order[pos] if pos < len(order) else None
        exp = dfs[pos] if pos < len(dfs) else None
        if got != exp:
            fail("order", [index[u] for u in (got, exp) if u in index])

    # 3. fetch log: one row per page the wave scheduled, and no host
    #    over its budget
    log = res.fetch_log.select("url_canon", "host", "wave_id").collect()
    fetches = Counter(r["url_canon"] for r in log)
    extra += sum(1 for u in fetches if u not in index)
    for i, u in enumerate(corpus.urls):
        if fetches.get(u, 0) != int(want.scheduled[i]):
            fail("fetch_log", [i])
    if wl.budget is not None:
        for (wave, host), n in Counter((r["wave_id"], r["host"]) for r in log).items():
            if n > wl.budget:
                fail("budget", [index[r["url_canon"]] for r in log
                                if (r["wave_id"], r["host"]) == (wave, host) and r["url_canon"] in index])

    # 4. errors: one row per failed fetch
    errs: Counter = Counter()
    if res.errors is not None:
        errs = Counter(r["url_canon"] for r in res.errors.select("url_canon").collect())
    extra += sum(1 for u in errs if u not in index)
    for i, u in enumerate(corpus.urls):
        if errs.get(u, 0) != want.errors[i]:
            fail("errors", [i])

    # 5. ingest: byte-identical text and one OK sink status per fetched
    #    page, nothing for any other page
    if wl.ingest:
        docs = job.documents.select("doc_id", "Title", "Chunks", "ChunkOverlap").collect()
        url_of = {d["doc_id"]: d["Title"] for d in docs}
        texts: dict[str, list[str]] = {}
        for d in docs:
            texts.setdefault(d["Title"], []).append(_text_of_chunks(d["Chunks"], d["ChunkOverlap"]))
        if corrupt == "text":
            first = min(texts)
            texts[first] = [t + "x" for t in texts[first]]
        extra += sum(1 for u in texts if u not in index)
        ok: Counter = Counter()
        for st in job.statuses:
            url = url_of.get(st["doc_id"])
            if url is None:
                extra += 1
            elif st["ok"]:
                ok[url] += 1
        for i, u in enumerate(corpus.urls):
            ingested = want.state[i] == "fetched"
            if texts.get(u) != ([corpus.text[i]] if ingested else None):
                fail("text", [i])
            if ok.get(u, 0) != int(ingested) or len(job.statuses) != len(docs):
                fail("sink", [i])

    failed_pages = set().union(*bad.values()) if bad else set()
    failed = min(corpus.n, len(failed_pages) + extra)
    completed = sum(1 for i in range(corpus.n) if want.state[i] == "fetched" and i not in failed_pages)
    problems = {k: len(v) for k, v in sorted(bad.items())}
    if extra:
        problems["extra_rows"] = extra
    return Outcome(corpus.n, failed, completed, problems)


def files_and_bytes(path: str) -> tuple[int, int]:
    n = b = 0
    for d, _, files in os.walk(path):
        for f in files:
            n += 1
            b += os.path.getsize(os.path.join(d, f))
    return n, b

