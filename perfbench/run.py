"""Crawl-engine benchmark: one workload per invocation, closed loop from
one driver process.

    python3 perfbench/run.py --workload focus_small_waves --seed 1 --seconds 20 --trace 0

End-to-end metrics: ``setup_s``, ``cpu_vs_reference`` (CPU time of the
whole process tree per page in the timed waves or parse passes, over the
CPU time per page of a reference job run beside them: the standard
library's HTMLParser over the workload's pages, see ``reference_job``)
and ``worker_peak_rss_mb`` (peak resident memory of the largest Python
worker). Workloads: ``focus_small_waves`` (a kill-and-resume crawl,
crawl.py) and ``parse_heavy_pages`` (the parse pass over ~20 KB pages,
parse.py). Inputs come from ``--seed``. The run starts a local Spark
session on min(nproc, 4) cores, sets the inputs up five times (the
median is ``setup_s``), warms up, then runs whole lifecycles until
``--seconds`` have passed, at least one. Correctness checks run outside
every timed window. The last stdout line is the JSON result; with
``--trace 1`` it carries the per-layer metrics of layers.py instead.

Everything a run writes goes under ``.bench_work/`` (scratch, removed at
exit) and ``.bench_out/`` (traces, harvest record) in the checkout root.
See LAYERS.md for what each metric means and should move.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUP_REPS = 5
#: copies of the crawl site's pages in its reference input, so that one
#: reference job takes about as much CPU as a parse pass's reference
REFERENCE_COPIES = 8
#: driver JVM heap, sized so that it does not bind: a crawl run's heap
#: pools peak below half of it (the run logs them), and more heap left the
#: GC time unchanged
DRIVER_MEMORY = "1g"
WORKLOADS = ("focus_small_waves", "parse_heavy_pages")


def log(msg: str):
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def _parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _prepare_env(work: str):
    """Keep every file Spark and Python write inside the checkout, and let
    Python workers import the engine from the checkout."""
    for sub in ("spark-local", "tmp"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    tmp = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ.pop("SPARK_CRAWLER_PROFILE", None)
    java_tmp = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["JDK_JAVA_OPTIONS"] = java_tmp
    import tempfile

    tempfile.tempdir = tmp
    return java_tmp


def _make_spark(java_opts: str):
    from pyspark.sql import SparkSession

    cores = min(len(os.sched_getaffinity(0)), 4)
    spark = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName("perfbench")
        .config("spark.driver.memory", DRIVER_MEMORY)
        .config("spark.driver.extraJavaOptions", java_opts)
        .config("spark.sql.shuffle.partitions", str(cores))
        .config("spark.default.parallelism", str(cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.warehouse.dir", os.path.join(os.environ["TMPDIR"], "warehouse"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        # the status store keeps every job of a run for the task counts
        .config("spark.ui.retainedJobs", "100000")
        .config("spark.ui.retainedStages", "100000")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


class ProcessTree:
    """The Spark JVM and its Python workers, found through /proc: samples
    their summed resident memory and the largest Python process's peak,
    and waits for all of them to end."""

    def __init__(self, root_pid: int):
        self.root = root_pid
        self.peak_kb = 0
        self.peak_split = (0, 0)
        #: the largest peak resident memory (VmHWM, kept by the kernel) of
        #: any Python daemon or worker seen
        self.worker_peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._sample, daemon=True)

    def pids(self) -> set[int]:
        children: dict[int, list[int]] = {}
        for d in os.listdir("/proc"):
            if not d.isdigit():
                continue
            try:
                with open(f"/proc/{d}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(d))
        out, todo = set(), [self.root]
        while todo:
            p = todo.pop()
            out.add(p)
            todo.extend(children.get(p, []))
        return out

    def _counted(self, pid: int) -> bool:
        """The JVM and its Python daemons and workers. A child the JVM
        spawns for a shell command shares the JVM's memory until it execs
        and shows the same RSS and command line, so Python processes are
        told apart by their executable's name."""
        if pid == self.root:
            return True
        try:
            with open(f"/proc/{pid}/comm") as f:
                return f.read().startswith("python")
        except OSError:
            return False

    @staticmethod
    def _mem_kb(pid: int) -> tuple[int, int]:
        """(current, peak) resident memory of a process."""
        rss = hwm = 0
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmRSS:"):
                        rss = int(line.split()[1])
                    elif line.startswith("VmHWM:"):
                        hwm = int(line.split()[1])
        except OSError:
            pass
        return rss, hwm

    def cpu_s(self) -> float:
        """CPU seconds (user + system, reaped children included) of the
        tree. Time the hypervisor steals for other tenants is not charged
        to it, so it moves less than wall time on a shared machine."""
        ticks = 0
        for pid in self.pids():
            try:
                with open(f"/proc/{pid}/stat") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            ticks += sum(int(x) for x in fields[11:15])
        return ticks / os.sysconf("SC_CLK_TCK")

    def _sample(self):
        while not self._stop.wait(0.2):
            mem = {p: self._mem_kb(p) for p in self.pids() if self._counted(p)}
            rss = {p: m[0] for p, m in mem.items()}
            self.worker_peak_kb = max(
                [self.worker_peak_kb] + [m[1] for p, m in mem.items() if p != self.root])
            if sum(rss.values()) > self.peak_kb:
                self.peak_kb = sum(rss.values())
                #: at the peak: the JVM's own RSS and how many Python
                #: daemons and workers ran beside it
                self.peak_split = (rss[self.root], len(rss) - 1)

    def start(self):
        self._thread.start()

    def stop_sampling(self):
        self._stop.set()
        self._thread.join()

    def wait_gone(self, pids: set[int], timeout: float) -> bool:
        end = time.monotonic() + timeout
        while time.monotonic() < end:
            if not any(os.path.exists(f"/proc/{p}") for p in pids):
                return True
            time.sleep(0.1)
        return False


def _shutdown(spark, tree: ProcessTree):
    """Stop Spark and wait for the JVM and every Python worker to exit."""
    from pyspark import SparkContext

    pids = tree.pids()
    spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=10)
    if not tree.wait_gone(pids, 20):
        for p in pids:
            try:
                os.kill(p, signal.SIGKILL)
            except OSError:
                pass
        tree.wait_gone(pids, 10)


def _failed_tasks(spark) -> int:
    st = spark.sparkContext.statusTracker()
    n = 0
    for j in st.getJobIdsForGroup(None):
        info = st.getJobInfo(j)
        for s in (info.stageIds if info else []):
            si = st.getStageInfo(s)
            n += si.numFailedTasks if si else 0
    return n


def _jvm_memory(spark) -> str:
    """The driver JVM's peak use of each heap pool, the heap's maximum and
    the GC time so far, for the log."""
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    pools = ", ".join(
        f"{pool.getName()} {pool.getPeakUsage().getUsed() / 2**20:.0f}"
        for pool in mf.getMemoryPoolMXBeans() if str(pool.getType()) == "Heap memory")
    gc_s = sum(max(gc.getCollectionTime(), 0) for gc in mf.getGarbageCollectorMXBeans()) / 1e3
    max_mb = mf.getMemoryMXBean().getHeapMemoryUsage().getMax() / 2**20
    return f"heap pools peak MB: {pools}; heap max {max_mb:.0f} MB, GC {gc_s:.2f}s"


def _harvest_record(workload: str, seed: int, value: float) -> str | None:
    """harvest_rate is a pure function of the seed: compare with the value
    an earlier run of the same seed in this checkout recorded."""
    path = os.path.join(ROOT, ".bench_out", f"harvest_{workload}.json")
    os.makedirs(os.path.dirname(path), exist_ok=True)
    try:
        with open(path) as f:
            rec = json.load(f)
    except (OSError, ValueError):
        rec = {}
    prev = rec.get(str(seed))
    if prev is not None and prev != value:
        return f"harvest_rate {value!r} differs from earlier run of seed {seed}: {prev!r}"
    rec[str(seed)] = value
    tmp = path + f".{os.getpid()}"
    with open(tmp, "w") as f:
        json.dump(rec, f, sort_keys=True)
    os.replace(tmp, path)
    return None


def main(argv=None) -> int:
    args = _parse_args(argv)
    # run the finally blocks (Spark shutdown, scratch removal) on SIGTERM
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    try:
        import webcrawler_spark
    except ImportError as e:
        print(f"perfbench: cannot import the engine from {ROOT}: {e}", file=sys.stderr)
        return 2
    if not os.path.abspath(webcrawler_spark.__file__).startswith(ROOT + os.sep):
        print(f"perfbench: the engine must come from the checkout {ROOT}, "
              f"not {webcrawler_spark.__file__}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{os.getpid()}")
    java_opts = _prepare_env(work)
    try:
        return _bench(args, work, java_opts)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _bench(args, work: str, java_opts: str) -> int:
    import crawl

    t0 = time.perf_counter()
    spark = _make_spark(java_opts)
    spark.range(1).count()
    log(f"session start {time.perf_counter() - t0:.2f}s")
    from pyspark import SparkContext

    tree = ProcessTree(SparkContext._gateway.proc.pid)
    tree.start()
    ops = crawl.Ops(ProcessTree(os.getpid()).cpu_s)
    try:
        if args.trace:
            import layers

            metrics = layers.traced(spark, work, ops, args.workload, args.seed, os.path.join(
                ROOT, ".bench_out", f"trace_{args.workload}_{args.seed}.json"))
            metrics["memory.peak_rss_mb"] = (tree.peak_kb / 1024.0, "MB")
            metrics["memory.jvm_rss_at_peak_mb"] = (tree.peak_split[0] / 1024.0, "MB")
            metrics["memory.python_processes_at_peak"] = (tree.peak_split[1], "count")
        else:
            measure = _crawl if args.workload == "focus_small_waves" else _parse
            metrics = measure(spark, work, ops, args)
            metrics["worker_peak_rss_mb"] = (tree.worker_peak_kb / 1024.0, "MB")
        jvm_kb, others = tree.peak_split
        log(f"worker_peak_rss_mb {tree.worker_peak_kb / 1024.0:.0f}; whole tree peak "
            f"{tree.peak_kb / 1024.0:.0f} MB (JVM {jvm_kb / 1024.0:.0f} MB and "
            f"{others} Python processes); JVM {_jvm_memory(spark)}")
        tasks_failed = _failed_tasks(spark)
        if tasks_failed:
            ops.fail(f"{tasks_failed} Spark tasks failed")
    finally:
        tree.stop_sampling()
        _shutdown(spark, tree)

    for e in ops.errors:
        log(f"FAILED {e}")
    log(f"failed_frac = {ops.failed}/{ops.attempted}")
    result = {
        "correct": ops.failed == 0,
        "attempted": ops.attempted,
        "failed": ops.failed,
        # a step that raised leaves its metric without samples: null, and
        # the run is already marked incorrect
        "metrics": {k: {"value": v if math.isfinite(v) else None, "unit": u}
                    for k, (v, u) in sorted(metrics.items())},
    }
    print(json.dumps(result))
    return 0


def _setup(make, release) -> tuple[object, list[float]]:
    """Set the inputs up SETUP_REPS times; returns the last and the times."""
    times, obj = [], None
    for _ in range(SETUP_REPS):
        if obj is not None:
            release(obj)
        t = time.perf_counter()
        obj = make()
        times.append(time.perf_counter() - t)
    log(f"setup reps {[round(x, 2) for x in times]}")
    return obj, times


def _guarded(ops, fn, default=None):
    """Call a lifecycle; an exception from a step that is not an operation
    of its own (a check, the set-up of the next step) is one more failed
    operation, and the run goes on."""
    try:
        return fn()
    except Exception as e:
        ops.fail(f"lifecycle raised {type(e).__name__}: {e}")
        return default


def reference_job(html_df):
    """Tokenize every page of ``html_df`` (an ``html`` column) with the
    standard library's HTMLParser in the Python workers, materialized as
    the crawler's parse pass is: Python string work on the workload's own
    pages, on the same cores, and none of the engine's code. Its CPU time
    says how fast the machine runs such work at the moment."""

    def tokenize(batches):  # nested, so that it is shipped by value
        import pandas as pd
        from html.parser import HTMLParser

        class Counter(HTMLParser):
            def __init__(self):
                super().__init__()
                self.n = 0

            def handle_starttag(self, tag, attrs):
                self.n += 1 + len(attrs)

            def handle_data(self, data):
                self.n += len(data.lower().split())

        for pdf in batches:
            out = []
            for html in pdf["html"]:
                p = Counter()
                p.feed(html.decode("utf-8", "replace"))
                p.close()
                out.append(p.n)
            yield pd.DataFrame({"n": out})

    html_df.select("html").mapInPandas(tokenize, "n long").localCheckpoint()


def _ratio(num: float, den: float) -> float:
    return num / den if den > 0 else float("nan")


def _median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else float("nan")


def _crawl(spark, work: str, ops, args) -> dict:
    import crawl

    w = crawl.CRAWL
    site, gen_s = _setup(lambda: crawl.Site(spark, w, args.seed), crawl.Site.release)
    ops.check("setup", site.n_rows == w.n_pages,
              f"generated {site.n_rows} pages, expected {w.n_pages}")
    # the reference input: the site's pages, REFERENCE_COPIES times over
    ref_pages = (site.pages.select("html")
                 .crossJoin(spark.range(REFERENCE_COPIES)).select("html").persist())
    ref_rows = ref_pages.count()
    ops.run("warm_reference", lambda: reference_job(ref_pages))
    for _ in range(2):
        ops.run("reference", lambda: reference_job(ref_pages))
    rates, cpu, harvests, n = [], [], [], 0
    start = time.perf_counter()
    while n == 0 or time.perf_counter() - start < args.seconds:
        out = _guarded(ops, lambda: crawl.timed_crawl(
            spark, w, site, os.path.join(work, f"crawl{n}"), ops, ops.cpu_clock))
        n += 1
        if out is None:  # a step raised; already counted as failed
            continue
        log(f"crawl {n}: timed waves (pages, wall s, CPU s) {out['waves']}")
        crawl.check_crawl(ops, w, site, out)
        # one sample per crawl, over all its timed waves: the waves differ
        # in kind (every fourth also checkpoints the export-feed tables),
        # and the same waves are timed in every run
        pages, wall, cpu_s = (sum(x) for x in zip(*out["waves"])) if out["waves"] else (0, 0, 0)
        if pages:  # else the run check already failed: too few waves
            rates.append(pages / wall)
            cpu.append(cpu_s * 1e3 / pages)
        harvests.append(crawl.harvest_rate(site, out["dispatched"]))
    for _ in range(2):
        ops.run("reference", lambda: reference_job(ref_pages))
    if harvests:
        ops.check("run", len(set(harvests)) == 1,
                  f"harvest_rate differs between crawls: {harvests}")
        err = _harvest_record("focus_small_waves", args.seed, harvests[0])
        ops.check("run", err is None, err or "")
        log(f"harvest_rate {harvests[0]}, pages_per_s {_median(rates)}")
    refs = ops.cpu.get("reference", [])
    ref_ms = _ratio(sum(refs) * 1e3, len(refs) * ref_rows)
    log(f"reference CPU s {[round(x, 2) for x in refs]} ({ref_ms:.4f} ms per page); "
        f"crawl CPU ms per page {_median(cpu):.1f}")
    ref_pages.unpersist()
    site.release()
    return {
        "setup_s": (statistics.median(gen_s), "s"),
        "cpu_vs_reference": (_ratio(_median(cpu), ref_ms), "ratio"),
    }


def _parse(spark, work: str, ops, args) -> dict:
    import parse

    pages, gen_s = _setup(lambda: parse.Pages(spark, args.seed), parse.Pages.release)
    ops.check("setup", pages.n_rows == parse.N_PAGES,
              f"generated {pages.n_rows} pages, expected {parse.N_PAGES}")
    _guarded(ops, lambda: parse.lifecycle(pages, ops, "warm_parse", parse.WARM_PAGES))
    for _ in range(parse.WARM_PASSES):
        _guarded(ops, lambda: parse.lifecycle(pages, ops, "warm_parse"))
    ops.run("warm_reference", lambda: reference_job(pages.df))
    rates = []
    start = time.perf_counter()
    while not rates or time.perf_counter() - start < args.seconds:
        # each timed pass right after a reference pass over the same pages
        ops.run("reference", lambda: reference_job(pages.df))
        rates.append(_guarded(ops, lambda: parse.lifecycle(pages, ops), float("nan")))
    log(f"{len(rates)} lifecycles: " + ", ".join(
        f"{k} {[round(x, 2) for x in v]}" for k, v in ops.times.items()))
    log("CPU s per pass: " + ", ".join(
        f"{k} {[round(x, 2) for x in v]}" for k, v in ops.cpu.items()))
    pages.release()
    parses, refs = ops.cpu.get("parse", []), ops.cpu.get("reference", [])
    log(f"pages_per_s {_median(rates)}, CPU ms per page "
        f"{_ratio(sum(parses) * 1e3, len(parses) * pages.n_rows):.3f}")
    return {
        "setup_s": (statistics.median(gen_s), "s"),
        # the passes and the references run on the same pages
        "cpu_vs_reference": (_ratio(sum(parses) / max(len(parses), 1),
                                    sum(refs) / max(len(refs), 1)), "ratio"),
    }


if __name__ == "__main__":
    sys.exit(main())
