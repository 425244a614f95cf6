"""The traced run: per-layer metrics, measured from outside the engine.

Driver-side public functions are wrapped here (spans and counts kept in
memory, written to ``.bench_out/`` when the run ends). Lazy DataFrame and
executor-side layers are timed by standalone forced calls on the same
workload's inputs, because wrapping a lazy call would time only plan
building. ``crawler.timings`` and Spark's status tracker already exist and
are read. LAYERS.md says which end-to-end metric each layer should move.
"""

from __future__ import annotations

import json
import os
import re
import statistics
import threading
import time
from collections import Counter

import crawl
import operators
import parse

#: crawler.timings keys reported one to one; the fold_* keys are summed
#: into crawler.fold_s
PHASES = (
    "dispatch", "parse", "ids", "src_ids", "merge_build", "admission",
    "first_emit", "seen_antijoin", "vocab", "calculate", "checkpoint",
    "ckpt_fence",
)
KERNEL_SAMPLE = 96


class Tracer:
    """In-memory spans (id, name, start, end, parent, trace id) and counts
    around wrapped functions; ``restore`` puts the originals back."""

    def __init__(self, trace_id: str):
        self.trace_id = trace_id
        self.spans: list[dict] = []
        self.counts: Counter = Counter()
        self._lock = threading.Lock()
        self._local = threading.local()
        self._patched: list[tuple[object, str, object]] = []

    def wrap(self, owner, attr: str, name: str):
        orig = owner.__dict__[attr]
        is_cm = isinstance(orig, classmethod)
        fn = orig.__func__ if is_cm else orig
        tracer = self

        def traced_call(*a, **kw):
            stack = tracer._local.__dict__.setdefault("stack", [])
            span = {"name": name, "parent": stack[-1] if stack else None,
                    "trace": tracer.trace_id}
            with tracer._lock:
                span["id"] = len(tracer.spans)
                tracer.spans.append(span)
                tracer.counts[name] += 1
            stack.append(span["id"])
            span["start"] = time.perf_counter()
            try:
                return fn(*a, **kw)
            finally:
                span["end"] = time.perf_counter()
                stack.pop()

        setattr(owner, attr, classmethod(traced_call) if is_cm else traced_call)
        self._patched.append((owner, attr, orig))

    def restore(self):
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()

    def total(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.spans
                   if s["name"] == name and "end" in s)

    def write(self, path: str, extra: dict):
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "counts": dict(self.counts), **extra}, f)


def _install(tracer: Tracer):
    from webcrawler_spark.plans import exports
    from webcrawler_spark.plans.crawler import SparkCrawler
    from webcrawler_spark.plans.estimators import SemanticEstimator
    from webcrawler_spark.sources.catalog import SnapshotCatalog

    for attr in ("run", "finalize", "resume", "export_snapshot"):
        tracer.wrap(SparkCrawler, attr, f"crawler.{attr}")
    tracer.wrap(SemanticEstimator, "estimate", "estimators.estimate")
    tracer.wrap(SnapshotCatalog, "commit", "catalog.commit")
    tracer.wrap(SnapshotCatalog, "load_table", "catalog.load_table")
    # export_snapshot imports these from the module at call time
    for attr in ("render_gml", "compute_statistics", "render_linked_vectors"):
        tracer.wrap(exports, attr, f"exports.{attr}")


def _wrapper_cost_s() -> float:
    """Seconds one traced call adds over the bare call, measured on a no-op."""

    class Probe:
        def noop(self):
            return None

    n, p = 20_000, Probe()
    t = time.perf_counter()
    for _ in range(n):
        p.noop()
    bare = time.perf_counter() - t
    tracer = Tracer("probe")
    tracer.wrap(Probe, "noop", "probe")
    t = time.perf_counter()
    for _ in range(n):
        p.noop()
    wrapped = time.perf_counter() - t
    tracer.restore()
    return max(wrapped - bare, 0.0) / n


def _last_job(spark) -> int:
    return max(spark.sparkContext.statusTracker().getJobIdsForGroup(None) or [-1])


def _job_window(spark, first_job: int) -> tuple[int, int, int, int]:
    """(jobs, stages, tasks, failed tasks) of every job after first_job."""
    st = spark.sparkContext.statusTracker()
    jobs = [j for j in st.getJobIdsForGroup(None) if j > first_job]
    stages = tasks = failed = 0
    for j in jobs:
        info = st.getJobInfo(j)
        for s in (info.stageIds if info else []):
            si = st.getStageInfo(s)
            if si is not None:
                stages += 1
                tasks += si.numTasks
                failed += si.numFailedTasks
    return len(jobs), stages, tasks, failed


def _catalog_sizes(workdir: str) -> tuple[float, float]:
    """Mean bytes and files per committed wave directory."""
    waves = [d for d in os.listdir(workdir) if d.startswith("wave=")]
    nbytes = nfiles = 0
    for d in waves:
        for dirpath, _, files in os.walk(os.path.join(workdir, d)):
            for f in files:
                nbytes += os.path.getsize(os.path.join(dirpath, f))
                nfiles += 1
    n = max(len(waves), 1)
    return nbytes / n, nfiles / n


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(path) for f in fs)


def _kernels(sample: list[tuple[str, bytes]]) -> tuple[float, float]:
    """ms per page of parse_html plus the four *_doc extractors, and µs per
    canonicalized href, on a fixed page sample; median of three passes."""
    from webcrawler_spark.kernels import (
        canonicalize, extract_links_doc, extract_text_doc, link_context_doc,
        parse_html, term_counts_doc,
    )

    hrefs = [(h.decode(), url) for url, html in sample
             for h in re.findall(rb'href="([^"]*)"', html)]
    parse, canon = [], []
    for _ in range(3):
        t = time.perf_counter()
        for url, html in sample:
            doc = parse_html(html)
            extract_links_doc(doc, url, allhosts=True)
            extract_text_doc(doc)
            term_counts_doc(doc)
            link_context_doc(doc, url)
        parse.append((time.perf_counter() - t) * 1e3 / len(sample))
        t = time.perf_counter()
        for h, base in hrefs:
            canonicalize(h, base)
        canon.append((time.perf_counter() - t) * 1e6 / max(len(hrefs), 1))
    return statistics.median(parse), statistics.median(canon)


def _parse_pass(hits) -> tuple[float, float]:
    """Wall time of the engine's parse UDF over ``hits`` (dr, url, html),
    forced by an aggregate over every output row, and the share of rows
    with ok=False."""
    from pyspark.sql import functions as F

    from webcrawler_spark.functions.udfs import PARSED_SCHEMA, parse_pages

    t = time.perf_counter()
    row = (hits.mapInPandas(parse_pages, PARSED_SCHEMA)
           .agg(F.count(F.lit(1)).alias("n"),
                F.sum(F.when(F.col("ok"), 0).otherwise(1)).alias("bad"))
           .first())
    return time.perf_counter() - t, (row["bad"] or 0) / max(row["n"], 1)


def _bloom(spark, site, crawler) -> tuple[float, float, float]:
    """A partitioned bloom over the crawl's final seen table: its fpp
    estimate, bits set, and the share of all input URLs its prefilter
    sends on to the exact anti-join."""
    from pyspark.sql import functions as F

    from webcrawler_spark.sources.bloom import PartitionedBloom, _salted

    cfg = crawler.cfg
    bloom = PartitionedBloom(cfg.bloom_buckets, cfg.bloom_bits_per_bucket, cfg.bloom_k)
    bloom.add_df(crawler.tables["seen"], "url")
    probe = bloom.might_contain_udf(spark)
    row = (site.pages.select("url")
           .withColumn("maybe", probe(_salted("url", 0xB10), _salted("url", 0xF17)))
           .agg(F.count(F.lit(1)).alias("n"),
                F.sum(F.col("maybe").cast("long")).alias("maybe"))
           .first())
    return bloom.fpp_estimate(), float(bloom.total_bits_set), row["maybe"] / row["n"]


def _parse_inputs(spark, workload: str, seed: int, site, dispatched: list[str]):
    """The pages the kernel and parse-UDF probes run on: for
    ``parse_heavy_pages`` that workload's heavy pages, otherwise the pages
    the crawl fetched. Returns (kernel sample, DataFrame of dr, url, html,
    a release function)."""
    from pyspark.sql import functions as F

    if workload == "parse_heavy_pages":
        pages = parse.Pages(spark, seed)
        hits, release = pages.df.select("dr", "url", "html"), pages.release
    else:
        batch = spark.createDataFrame(
            list(enumerate(dict.fromkeys(dispatched))), "dr long, url string")
        hits, release = (site.pages.join(F.broadcast(batch), "url")
                         .select("dr", "url", "html"), lambda: None)
    sample = [(r["url"], bytes(r["html"]))
              for r in hits.orderBy("url").limit(KERNEL_SAMPLE).collect()]
    return sample, hits, release


def traced(spark, work: str, ops, workload: str, seed: int, trace_path: str) -> dict:
    """Every layer in one traced invocation: a crawl lifecycle with spans
    and an export, the standalone layer probes on its inputs and outputs
    (the parse probes on the heavy pages for ``parse_heavy_pages``), and
    the 14 operators. Returns no metrics when the crawl raised."""
    w = crawl.CRAWL
    t = time.perf_counter()
    site = crawl.Site(spark, w, seed)
    gen_s = time.perf_counter() - t

    tracer = Tracer(f"perfbench-{seed}")
    _install(tracer)
    first_job = _last_job(spark)
    try:
        out = crawl.lifecycle(spark, w, site, os.path.join(work, "crawl"), ops)
    except Exception as e:
        ops.fail(f"lifecycle raised {type(e).__name__}: {e}")
        out = None
    finally:
        tracer.restore()
    if out is None:
        return {}
    jobs, stages, tasks, failed_tasks = _job_window(spark, first_job)
    crawl.check_crawl(ops, w, site, out)
    runs = [s for s in tracer.spans if s["name"] == "crawler.run"]
    run_s = runs[-1]["end"] - runs[-1]["start"]
    calls_in_run = sum(1 for s in tracer.spans
                       if runs[-1]["start"] <= s["start"] <= runs[-1]["end"])
    waves = out["first"].result.waves + out["crawler"].result.waves

    m: dict[str, tuple[float, str]] = {}
    timings = Counter()
    for c in (out["first"], out["crawler"]):
        timings.update(c.timings)
    for p in PHASES:
        m[f"crawler.{p}_s"] = (timings[p], "s")
    m["crawler.fold_s"] = (sum(v for k, v in timings.items() if k.startswith("fold_")), "s")
    m["crawler.jobs_per_wave"] = (jobs / waves, "count")
    m["crawler.stages_per_wave"] = (stages / waves, "count")
    m["crawler.tasks_per_wave"] = (tasks / waves, "count")
    m["crawler.failed_tasks"] = (failed_tasks, "count")
    m["crawler.finalize_s"] = (tracer.total("crawler.finalize"), "s")
    m["crawler.resume_s"] = (tracer.total("crawler.resume"), "s")
    m["crawler.harvest_rate"] = (crawl.harvest_rate(site, out["dispatched"]), "ratio")

    m["estimators.estimate_calls"] = (tracer.counts["estimators.estimate"], "count")
    m["estimators.estimate_s"] = (tracer.total("estimators.estimate"), "s")

    m["catalog.commit_s"] = (tracer.total("catalog.commit"), "s")
    m["catalog.load_table_s"] = (tracer.total("catalog.load_table"), "s")
    per_wave_bytes, per_wave_files = _catalog_sizes(os.path.join(work, "crawl"))
    m["catalog.bytes_per_wave"] = (per_wave_bytes, "B")
    m["catalog.files_per_wave"] = (per_wave_files, "count")

    m["exports.export_s"] = (tracer.total("crawler.export_snapshot"), "s")
    m["exports.render_gml_s"] = (tracer.total("exports.render_gml"), "s")
    m["exports.compute_statistics_s"] = (tracer.total("exports.compute_statistics"), "s")
    m["exports.render_linked_vectors_s"] = (tracer.total("exports.render_linked_vectors"), "s")
    m["exports.bytes_out"] = (_dir_bytes(out["export_dir"]), "B")

    m["synth.gen_s"] = (gen_s, "s")

    fpp, bits, pass_frac = _bloom(spark, site, out["crawler"])
    m["bloom.fpp_estimate"] = (fpp, "ratio")
    m["bloom.bits_set"] = (bits, "count")
    m["bloom.prefilter_pass_frac"] = (pass_frac, "ratio")

    sample, hits, release = _parse_inputs(
        spark, workload, seed, site, out["dispatched"])
    parse_ms, canon_us = _kernels(sample)
    m["kernels.parse_ms_per_page"] = (parse_ms, "ms")
    m["kernels.canonicalize_us_per_url"] = (canon_us, "us")

    pass_s, fail_frac = _parse_pass(hits)
    m["functions.parse_pass_s"] = (pass_s, "s")
    m["functions.parse_fail_frac"] = (fail_frac, "ratio")
    release()
    site.release()

    sf_dir = operators.write_tables(os.path.join(work, "tables"), seed)
    op_s = operators.time_suite(spark, sf_dir, seed, ops)
    for name, secs in op_s.items():
        m[f"queries.{name}_s"] = (secs, "s")
    m["queries.suite_s"] = (sum(op_s.values()), "s")

    # this run's wall-clock crawl rate, to set against the pages_per_s an
    # untraced run logs, and the spans' own cost inside run(): per-call
    # cost on a no-op x calls
    m["trace.pages_per_s"] = (out["measured_pages"] / run_s, "1/s")
    m["trace.overhead_frac"] = (_wrapper_cost_s() * calls_in_run / run_s, "ratio")

    tracer.write(trace_path, {"metrics": {k: v for k, (v, _) in m.items()}})
    return m
