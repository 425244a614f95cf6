"""The crawl workload: a seeded synthetic site, crawls through the engine's
public API, and the correctness checks on what they produced.

``timed_crawl`` is what an untraced run measures: one crawl, run as one
``run`` call. Its first ``WARM_WAVES`` waves (the seed wave, the FIFO wave
of the seeds' outlinks, the first frontier wave through the salted
per-host window) warm up Python workers, codegen and the JIT; the next
``MEASURED_WAVES`` are timed from outside (``WaveClock``).

``lifecycle`` is what one crawl operator does end to end, for the traced
run:

1. ``run`` the seed wave and the FIFO wave of the seeds' outlinks;
2. ``finalize``: the durable commit at the kill point, then drop the
   crawler (the simulated kill);
3. ``SparkCrawler.resume`` into a fresh crawler;
4. ``run`` to the limit: two frontier waves, ``2 * budget - 1`` pages;
5. ``export_snapshot``.
"""

from __future__ import annotations

import dataclasses
import os
import shutil
import threading
import time
from collections import Counter
from dataclasses import dataclass
from urllib.parse import urlsplit


@dataclass(frozen=True)
class CrawlWorkload:
    #: seeds are the first n_seeds topic-0 pages
    n_seeds: int = 4
    n_pages: int = 600
    #: pages per wave; at least the largest FIFO (12 links per seed), so
    #: the seeds' outlinks always take exactly one wave
    budget: int = 48
    per_host_budget: int = 8
    host_salt_partitions: int = 4


CRAWL = CrawlWorkload()
#: waves of a timed crawl that warm up, and that are timed
WARM_WAVES = 3
MEASURED_WAVES = 3


class Site:
    """The generated input and the generator-side facts the checks need
    (URL set, topics, seed outlinks). The engine sees only ``pages`` and
    ``robots``."""

    def __init__(self, spark, w: CrawlWorkload, seed: int):
        import pandas as pd

        from webcrawler_spark.sources.synth import SiteSpec, gen_pages, gen_robots

        spec = SiteSpec(n_pages=w.n_pages, n_hosts=16, hot_host_frac=0.25, seed=seed)
        rows = gen_pages(spec)
        self.pages = spark.createDataFrame(
            pd.DataFrame({"url": [p["url"] for p in rows], "html": [p["html"] for p in rows]}),
            "url string, html binary",
        ).persist()
        self.n_rows = self.pages.count()
        self.robots = spark.createDataFrame(
            gen_robots(spec),
            "host string, disallow_prefixes array<string>, crawl_delay_ms int",
        ).persist()
        self.robots.count()
        self.topic = {p["url"]: p["_topic"] for p in rows}
        seed_ids = [
            i for i, p in enumerate(rows)
            if p["_topic"] == 0 and "/private/" not in p["url"]
        ][: w.n_seeds]
        self.seeds = tuple(rows[i]["url"] for i in seed_ids)
        # the seeds' outlinks form the engine's FIFO wave, which is
        # dispatched without the per-host window (reference behaviour)
        self.fifo_urls = {rows[j]["url"] for i in seed_ids for j in rows[i]["_targets"]}

    def release(self):
        self.pages.unpersist()
        self.robots.unpersist()


def crawl_config(w: CrawlWorkload, site: Site, limit: int):
    from webcrawler_spark.config import CrawlConfig

    return CrawlConfig(
        seeds=site.seeds,
        limit=limit,
        budget=w.budget,
        per_host_budget=w.per_host_budget,
        host_salt_partitions=w.host_salt_partitions,
        # enter the estimating phase on the first targeted page: with the
        # default threshold some seeds end in the targeting phase with an
        # empty FIFO, which the engine reports as an aborted crawl
        targeting=-1.0,
        allhosts=True,
        # the in-loop GML dump is the export step, timed on its own
        dump_every=0,
    )


def _state(crawler) -> dict:
    """Comparable snapshot of what a resume must restore."""
    res = crawler.result
    return {
        "dispatched": list(res.dispatched),
        "accepted": list(res.accepted),
        "processed": res.processed,
        "seen": sorted(r["url"] for r in crawler.tables["seen"].collect()),
        "frontier": sorted(
            (r["url"], r["priority"])
            for r in crawler.tables["frontier"].select("url", "priority").collect()
        ),
    }


def await_idle(spark, timeout: float = 120.0):
    """Block until no Spark job runs (the engine's background pools done)."""
    st = spark.sparkContext.statusTracker()
    end = time.monotonic() + timeout
    while st.getActiveJobsIds():
        if time.monotonic() > end:
            raise TimeoutError(f"Spark jobs still running after {timeout}s")
        time.sleep(0.05)


class WaveClock:
    """Stamps wall and CPU time, from a background thread, each time a
    running crawler ends a wave (its public ``result.waves`` goes up). The
    span between two stamps is one whole wave: its dispatch, fetch, parse,
    fold, merge and commit, and the background jobs of the wave before
    that overlap it, as they do in any crawl."""

    def __init__(self, crawler, cpu_clock, period: float = 0.01):
        self._crawler = crawler
        self.cpu_clock = cpu_clock
        self._period = period
        #: (waves done, wall clock, CPU clock, pages processed)
        self.stamps: list[tuple[int, float, float, int]] = []
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._poll, daemon=True)

    def _stamp(self):
        res = self._crawler.result
        self.stamps.append((res.waves, time.perf_counter(), self.cpu_clock(), res.processed))

    def _poll(self):
        self._stamp()
        while not self._stop.wait(self._period):
            if self._crawler.result.waves != self.stamps[-1][0]:
                self._stamp()

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()

    def waves(self, first: int) -> list[tuple[int, float, float]]:
        """(pages, wall s, CPU s) of each wave from index ``first`` on whose
        start and end were both stamped."""
        at = {w: (t, c, n) for w, t, c, n in self.stamps}
        return [(at[k + 1][2] - at[k][2], at[k + 1][0] - at[k][0], at[k + 1][1] - at[k][1])
                for k in sorted(at) if k >= first and k + 1 in at]


def timed_crawl(spark, w: CrawlWorkload, site: Site, workdir: str, ops,
                cpu_clock) -> dict | None:
    """One crawl of WARM_WAVES + MEASURED_WAVES waves as one ``run`` call;
    returns the timed waves and the facts the checks need, or None when
    the run raised."""
    from webcrawler_spark.plans.crawler import SparkCrawler

    shutil.rmtree(workdir, ignore_errors=True)
    c = SparkCrawler(spark, crawl_config(w, site, limit=w.n_pages), site.pages,
                     workdir, site.robots)
    n_waves = WARM_WAVES + MEASURED_WAVES
    with WaveClock(c, cpu_clock) as clock:
        r = ops.run("run", lambda: c.run(max_waves=n_waves, finalize=False))
    await_idle(spark)  # the last wave's background jobs, before the checks
    if r is None:  # counted as failed
        return None
    ops.check("run", not r.aborted and r.waves == n_waves,
              f"crawl aborted or ended after {r.waves} of {n_waves} waves")
    return {
        "crawler": c,
        "waves": clock.waves(WARM_WAVES),
        "dispatched": list(c.result.dispatched),
        "corpus_waves": [
            (r["wave"], r["url"])
            for r in c.tables["corpus"].select("wave", "url").collect()
        ],
    }


def lifecycle(spark, w: CrawlWorkload, site: Site, workdir: str, ops) -> dict | None:
    """One kill-and-resume crawl and its export. ``ops`` records each
    step's outcome and wall time; returns the facts the checks and metrics
    need, or None when the resume raised."""
    from webcrawler_spark.plans.crawler import SparkCrawler

    shutil.rmtree(workdir, ignore_errors=True)
    cfg = crawl_config(w, site, limit=w.n_pages)
    c1 = SparkCrawler(spark, cfg, site.pages, workdir, site.robots)
    r1 = ops.run("warm_run", lambda: c1.run(max_waves=2, finalize=False))
    ops.check("warm_run", r1 is not None and not r1.aborted and r1.waves == 2,
              "warm-up crawl aborted or ended early")
    ops.run("commit", c1.finalize)
    before = _state(c1)

    # stop in the second frontier wave: the engine stops once it has
    # processed more than `limit` pages, at the page that crosses it
    cfg2 = dataclasses.replace(cfg, limit=before["processed"] + 2 * w.budget - 1)
    c2 = ops.run("resume", lambda: SparkCrawler.resume(
        spark, cfg2, site.pages, workdir, site.robots))
    if c2 is None:  # counted as failed; nothing left to run or check
        return None
    got = _state(c2)
    for k in before:
        ops.check("resume", got[k] == before[k],
                  f"resumed {k} differs from the pre-kill crawler")

    # the clock also covers the background jobs the run leaves behind
    r2 = ops.run("run", lambda: (c2.run(finalize=False), await_idle(spark))[0])
    ops.check("run", r2 is not None and not r2.aborted, "resumed crawl aborted")
    ops.check("run", c2.result.processed == cfg2.limit,
              f"processed {c2.result.processed} pages, limit is {cfg2.limit}")

    export_dir = os.path.join(workdir, "export")
    ops.run("export", lambda: c2.export_snapshot(export_dir))
    names = os.listdir(export_dir) if os.path.isdir(export_dir) else []
    vdir = os.path.join(export_dir, "vectors")
    ok = (
        "network.gml" in names
        and any(n.startswith("statistic.") and n.endswith(".txt") for n in names)
        and os.path.isdir(vdir) and len(os.listdir(vdir)) > 0
    )
    ops.check("export", ok, f"export is missing files: {sorted(names)}")

    return {
        "first": c1,
        "crawler": c2,
        "measured_pages": c2.result.processed - before["processed"],
        "dispatched": list(c2.result.dispatched),
        "corpus_waves": [
            (r["wave"], r["url"])
            for r in c2.tables["corpus"].select("wave", "url").collect()
        ],
        "export_dir": export_dir,
    }


def harvest_rate(site: Site, dispatched: list[str]) -> float:
    """Share of fetched pages whose generator topic is the target topic 0."""
    return sum(1 for u in dispatched if site.topic.get(u) == 0) / len(dispatched)


def check_crawl(ops, w: CrawlWorkload, site: Site, out: dict):
    """Output checks on a whole crawl; each failure counts against the
    run operation."""
    disp = out["dispatched"]
    processed = out["crawler"].result.processed
    # a crawl that stopped at its limit also keeps the page that crossed it
    # in the corpus; lifecycle checks that one against the limit instead
    if not out["crawler"].stopped:
        ops.check("run", processed == len(out["corpus_waves"]),
                  f"processed {processed} pages, the corpus holds {len(out['corpus_waves'])}")
    seeds = set(site.seeds)
    # documented quirk: a seed is not in the seen set before its own
    # wave, so a link back to it re-fetches it once
    dup = [u for u, n in Counter(disp).items()
           if n > 1 and not (u in seeds and n == 2)]
    ops.check("run", not dup, f"fetched more than once: {dup[:5]}")
    foreign = [u for u in set(disp) if u not in site.topic]
    ops.check("run", not foreign, f"fetched URLs not in the input: {foreign[:5]}")
    per_wave = Counter()
    fifo_waves = set()
    for wave, url in out["corpus_waves"]:
        if wave == 0 or url in site.fifo_urls:
            fifo_waves.add(wave)
        per_wave[(wave, urlsplit(url).hostname)] += 1
    over = [(k, n) for k, n in per_wave.items()
            if k[0] not in fifo_waves and n > w.per_host_budget]
    ops.check("run", not over, f"per-host window exceeded: {over[:5]}")


class Ops:
    """Outcome ledger: every timed call is one attempted operation; it
    fails when it raises, or later when a check on its output fails."""

    def __init__(self, cpu_clock=None):
        self.times: dict[str, list[float]] = {}
        #: CPU seconds per operation kind, when a cpu_clock is given
        self.cpu: dict[str, list[float]] = {}
        self.cpu_clock = cpu_clock
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self._failed_kinds: Counter = Counter()
        self._attempted_kinds: Counter = Counter()

    def run(self, kind: str, fn):
        self.attempted += 1
        self._attempted_kinds[kind] += 1
        c0 = self.cpu_clock() if self.cpu_clock else 0.0
        t0 = time.perf_counter()
        try:
            res = fn()
        except Exception as e:  # counted, reported, and the run goes on
            self._fail(kind, f"{kind} raised {type(e).__name__}: {e}")
            return None
        self.times.setdefault(kind, []).append(time.perf_counter() - t0)
        if self.cpu_clock:
            self.cpu.setdefault(kind, []).append(self.cpu_clock() - c0)
        return res

    def check(self, kind: str, ok: bool, msg: str):
        if not ok:
            self._fail(kind, msg)

    def fail(self, msg: str):
        """A failure outside any single operation (Spark task failures, an
        exception between operations)."""
        self.attempted += 1
        self._attempted_kinds["other"] += 1
        self._fail("other", msg)

    def _fail(self, kind: str, msg: str):
        self.errors.append(msg)
        # one operation fails at most once, however many of its checks fail
        if self._failed_kinds[kind] < self._attempted_kinds[kind]:
            self._failed_kinds[kind] += 1
            self.failed += 1
