"""The heavy-page workload: the engine's per-page path without the wave
machinery. ~20 KB synthetic pages go through the crawler's single parse
pass (``mapInPandas(parse_pages)``, materialized with ``localCheckpoint``
as ``SparkCrawler`` does for every wave). One lifecycle is one timed pass
and a check of its output. A 64-page lifecycle and ``WARM_PASSES`` whole
ones warm up first; then lifecycles repeat until the run's seconds have
passed.
"""

from __future__ import annotations

#: pages per site; ~20 KB each (synth.SiteSpec.heavy_paras=28)
N_PAGES = 1200
HEAVY_PARAS = 28
#: pages of the first warm-up lifecycle, run once before the clock runs so
#: that Python workers and codegen are warm
WARM_PAGES = 64
#: whole passes after it that are not timed either: the JVM's CPU time per
#: pass falls by about half over the first few passes, as the JIT compiles
#: the Arrow and localCheckpoint paths
WARM_PASSES = 2


class Pages:
    """Seeded heavy pages with the generator's frozen text extraction,
    which the parse pass must reproduce byte for byte."""

    def __init__(self, spark, seed: int):
        from pyspark.sql import functions as F

        from webcrawler_spark.sources.synth import SiteSpec, gen_pages_df

        spec = SiteSpec(n_pages=N_PAGES, n_hosts=16, hot_host_frac=0.25,
                        seed=seed, heavy_paras=HEAVY_PARAS)
        self.df = (
            gen_pages_df(spark, spec)
            .select(F.xxhash64("url").alias("dr"), "url", "html", "text")
            .persist()
        )
        self.n_rows = self.df.count()

    def release(self):
        self.df.unpersist()


def _parse(df):
    from webcrawler_spark.functions.udfs import PARSED_SCHEMA, parse_pages

    return df.select("dr", "url", "html").mapInPandas(parse_pages, PARSED_SCHEMA)


def lifecycle(pages: Pages, ops, kind: str = "parse", n_pages: int | None = None) -> float:
    """One parse pass and its check, recorded as operation ``kind``;
    returns pages per second. ``n_pages`` parses only that many pages."""
    from pyspark.sql import functions as F

    df = pages.df if n_pages is None else pages.df.orderBy("dr").limit(n_pages)
    n = pages.n_rows if n_pages is None else n_pages
    parsed = ops.run(kind, lambda: _parse(df).localCheckpoint())
    if parsed is None:
        return float("nan")
    rate = n / ops.times[kind][-1]

    # outside the clock: every page parsed, and its text equals the frozen
    # extraction the generator stored
    row = (
        parsed.join(df.select("url", F.col("text").alias("want")), "url")
        .agg(F.count(F.lit(1)).alias("n"),
             F.sum(F.when(F.col("ok"), 0).otherwise(1)).alias("bad"),
             F.sum(F.when(F.col("text") == F.col("want"), 0).otherwise(1)).alias("diff"))
        .first()
    )
    ops.check(kind, row["n"] == n and row["bad"] == 0 and row["diff"] == 0,
              f"parse pass: {row['n']} rows of {n}, {row['bad']} not ok, "
              f"{row['diff']} texts differ from the frozen extraction")
    return rate

