"""Layer probes of the traced run.

Each probe calls one layer through its public entry point on inputs of
the workload's seed, inside its own span, so the event log attributes its
Spark work to it.  The per-layer metrics of the timed phase (rounds.*,
spark.*) come from the same log.
"""

from __future__ import annotations

import os
import statistics
import time
from typing import Dict, List, Tuple

from pyspark.sql import Window
from pyspark.sql import functions as F

from crawler_engine_spark import release_caches
from crawler_engine_spark.data import gen
from crawler_engine_spark.frontier import politeness
from crawler_engine_spark.frontier.rounds import CrawlConfig, CrawlEngine
from crawler_engine_spark.htmlkit import dom
from crawler_engine_spark.kernels.extract import extract_out_links, extract_page
from crawler_engine_spark.operators import urlops
from crawler_engine_spark.operators.extraction import extract_pages
from crawler_engine_spark.sources.warc import read_warc_pages

from .spans import EventLog, Tracer
from .workloads import WARC_FILES, robots_df, write_warc_segment

#: Seen-set probe: URLs inserted, then twice as many probed (half of them
#: inserted).  The filter is the one CrawlEngine builds, with segments
#: sized so the load is the 10^10-URL design point's ~10 bits per key.
SEEN_FETCHED = 50_000
SEEN_BITS_PER_SEGMENT = 1 << 14
#: Scheduler probe: frontier rows, the share one hot host holds, and the
#: number of cold hosts sharing the rest.
FRONTIER_ROWS = 100_000
HOT_SHARE = 0.3
COLD_HOSTS = 2000
HOT_HOST = "host0.example"
#: Pages (the first of the seed's page order) the kernel probe times.
KERNEL_SAMPLE = 200


def kernel_rate(pages: List[Tuple[str, str]], reps: int = 3) -> float:
    """Median in-process pages/s of ``extract_page`` over ``pages``."""
    rates = []
    for _ in range(reps):
        t0 = time.perf_counter()
        for url, html in pages:
            extract_page(url, html)
        rates.append(len(pages) / (time.perf_counter() - t0))
    return statistics.median(rates)


def calibration_pages() -> List[Tuple[str, str]]:
    """Fixed pages, the same in every run, for the host calibration."""
    return [(gen.url_of(i), gen.html_of(i, 300)) for i in range(30)]


def kernel_probe(pages: List[Tuple[str, str]]) -> Dict[str, float]:
    """kernels/extract + htmlkit/dom on one core, no Spark."""
    extract_page(*pages[0])  # first-call regex compilation
    t0 = time.perf_counter()
    for url, html in pages:
        extract_page(url, html)
    t1 = time.perf_counter()
    roots = [dom.parse(html) for _, html in pages]
    t2 = time.perf_counter()
    for (url, html), root in zip(pages, roots):
        extract_out_links(html, url, root=root)
    t3 = time.perf_counter()
    n = len(pages)
    return {
        "kernel.ms_per_page": (t1 - t0) * 1e3 / n,
        "kernel.parse_ms_per_page": (t2 - t1) * 1e3 / n,
        "kernel.links_ms_per_page": (t3 - t2) * 1e3 / n,
        "kernel.pages_per_s": n / (t1 - t0),
    }


def extract_probe(ctx, tr: Tracer, pages_path: str) -> int:
    """operators/extraction: extract_pages over a parquet page store into a
    no-op sink.  Returns the page count."""
    spark = ctx.spark
    n = spark.read.parquet(pages_path).count()
    with tr.span("probe.extract"):
        extract_pages(spark.read.parquet(pages_path).select("url", "html")) \
            .write.format("noop").mode("overwrite").save()
    return n


def warc_probe(ctx, tr: Tracer, warc_dir: str) -> int:
    """sources/warc: read_warc_pages, its rows counted and dropped.  Returns
    the record count."""
    with tr.span("probe.warc"):
        return read_warc_pages(ctx.spark, warc_dir).count()


def frontier_probe(ctx, tr: Tracer) -> Dict[str, float]:
    """The seen set CrawlEngine builds, and frontier/politeness, at a size
    where their per-row work dominates their fixed cost."""
    spark = ctx.spark
    salt = f"{ctx.rng.getrandbits(32):08x}"
    robots = robots_df(spark, gen.gen_robots())
    eng = CrawlEngine(
        spark, os.path.join(ctx.work, "frontier_state"), "", robots,
        CrawlConfig(bloom_bits_per_segment=SEEN_BITS_PER_SEGMENT),
    )

    def urls(lo: int, hi: int):
        url = F.concat(F.lit("https://h"), (F.col("id") % 997).cast("string"),
                       F.lit(f".example/{salt}/p"), F.col("id").cast("string"))
        return spark.range(lo, hi).select(
            url.alias("canonical_url"), (F.col("id") < SEEN_FETCHED).alias("_old")
        ).withColumn("url_hash", urlops.url_hash_col(F.col("canonical_url")))

    bloom_dir = os.path.join(ctx.work, "bloom")
    with tr.span("probe.seen.update"):
        eng.bloom.update(urls(0, SEEN_FETCHED).drop("_old"), prev_dir=None,
                         out_dir=bloom_dir)
    with tr.span("probe.seen.probe"):
        flags = {
            (r["_old"], r["maybe_seen"]): r["count"]
            for r in eng.bloom.flag_maybe_seen(urls(0, 2 * SEEN_FETCHED), bloom_dir)
            .groupBy("_old", "maybe_seen").count().collect()
        }
    false_neg = flags.get((True, False), 0)
    false_pos = flags.get((False, True), 0)
    ctx.check("seen.no_false_negatives", false_neg == 0,
              f"{false_neg} inserted URLs not flagged")
    state_bytes = sum(
        os.path.getsize(os.path.join(bloom_dir, f)) for f in os.listdir(bloom_dir)
    )

    # -- scheduler: robots gate, salted selection, global fetch sequence
    hot = int(FRONTIER_ROWS * HOT_SHARE)
    host = F.when(F.col("id") < hot, F.lit(HOT_HOST)).otherwise(
        F.concat(F.lit("c"), (F.col("id") % COLD_HOSTS).cast("string"),
                 F.lit(".example")))
    # every tenth hot-host URL sits under a prefix its robots rule disallows
    path = F.concat(
        F.when((F.col("id") < hot) & (F.col("id") % 10 == 0), F.lit("/private/"))
        .otherwise(F.lit("/")),
        F.lit(salt), F.lit("/q"), F.col("id").cast("string"))
    frontier = (
        spark.range(FRONTIER_ROWS)
        .select(host.alias("host"), path.alias("path"), "id")
        .select(
            F.concat(F.lit("https://"), "host", "path").alias("canonical_url"),
            "host", "path",
            (F.col("id") % 3).cast("int").alias("depth"),
            F.col("id").alias("parent_seq"),
            (F.col("id") % 7).cast("int").alias("link_position"),
            F.lit(None).cast("string").alias("query"),
        )
        .withColumn("url_hash", urlops.url_hash_col(F.col("canonical_url")))
    )
    with tr.span("probe.schedule.select"):
        eligible = politeness.apply_robots(
            frontier, robots, round_seconds=CrawlConfig().round_seconds
        ).where(F.col("allowed"))
        selected, _ = politeness.select_batch(eligible)
        selected = selected.persist()
        n_sel = selected.count()
    with tr.span("probe.schedule.seq"):
        seq = politeness.global_fetch_sequence(selected, est_batch_rows=n_sel)
        seq.write.format("noop").mode("overwrite").save()

    order = [F.col(c).asc() for c in politeness.PRIORITY_COLS] + [F.col("url_hash").asc()]
    plain = (
        eligible.withColumn("_r", F.row_number().over(
            Window.partitionBy("host").orderBy(*order)))
        .where(F.col("_r") <= F.col("host_budget"))
        .select("canonical_url")
    )
    got = selected.select("canonical_url")
    ctx.check(
        "schedule.selection_equals_plain_topk",
        got.exceptAll(plain).count() == 0 and plain.exceptAll(got).count() == 0,
        f"{n_sel} selected rows",
    )
    misplaced = (
        seq.withColumn("_rank", F.row_number().over(Window.orderBy(*order)) - 1)
        .where(F.col("_rank") != F.col("fetch_seq")).count()
    )
    ctx.check("schedule.fetch_seq_dense_in_priority_order", misplaced == 0,
              f"{misplaced} rows out of place")
    max_group = (
        eligible.groupBy(
            "host",
            F.pmod(F.col("url_hash"), F.lit(politeness.DEFAULT_NUM_SALTS)).alias("_s"),
        ).count().agg(F.max("count")).first()[0]
    )
    selected.unpersist()
    release_caches()
    return {
        "seen.state_bytes": state_bytes,
        "seen.maybe_seen_share": (
            sum(v for (o, m), v in flags.items() if m) / (2 * SEEN_FETCHED)),
        "seen.fpr": false_pos / SEEN_FETCHED,
        "schedule.max_group_rows": int(max_group),
    }


def layer_metrics(ctx, tr: Tracer, timed, log_path: str) -> Dict[str, float]:
    """Every per-layer metric: the timed phase's Spark account plus the
    probes, run after it."""
    spark = ctx.spark
    m: Dict[str, float] = kernel_probe([
        (gen.url_of(i), gen.html_of(i, timed.n_docs))
        for i in timed.doc_ids[:KERNEL_SAMPLE]
    ])
    warc_dir = os.path.join(ctx.work, "warc")
    if not os.path.isdir(warc_dir):
        write_warc_segment(spark, timed.doc_ids, timed.n_docs, warc_dir, WARC_FILES)
    pages_path = timed.pages_path
    if not pages_path:
        pages_path = os.path.join(ctx.work, "pages")
        read_warc_pages(spark, warc_dir).write.mode("overwrite").parquet(pages_path)
    pages = extract_probe(ctx, tr, pages_path)
    m["warc.records"] = warc_probe(ctx, tr, warc_dir)
    m.update(frontier_probe(ctx, tr))
    m["peak_rss_mb"] = ctx.peak_rss_mb()
    ctx.stop_session()  # flushes the event log

    log = EventLog(log_path)
    ctx.failed_tasks = sum(bad for _group, bad, _metrics, _accums in log.tasks)

    def cost(*spans):
        return log.cost(s.group for span in spans for s in tr.subtree(span))

    def wall(name):
        return tr.named(name)[0].wall_s

    timed_cost = cost(*tr.named("timed"))
    m["spark.jobs"] = timed_cost.jobs
    m["spark.tasks"] = timed_cost.tasks
    m["spark.gc_s"] = timed_cost.gc_s

    # the units of work do not overlap, so the union of their job
    # intervals is the sum of each unit's busy time
    rounds = tr.named("round")
    rc = cost(*rounds)
    m["rounds.jobs"] = rc.jobs
    m["rounds.stages"] = rc.stages
    m["rounds.tasks"] = rc.tasks
    m["rounds.busy_s"] = rc.busy_s
    m["rounds.driver_s"] = sum(s.wall_s for s in rounds) - rc.busy_s
    m["rounds.python_s"] = rc.python_s
    m["rounds.shuffle_bytes"] = rc.shuffle_bytes
    m["rounds.spill_bytes"] = rc.spill_bytes
    m["rounds.output_bytes"] = rc.output_bytes
    ctx.detail["rounds"] = [
        {"wall_s": s.wall_s, "jobs": c.jobs, "stages": c.stages, "tasks": c.tasks,
         "busy_s": c.busy_s, "python_s": c.python_s}
        for s, c in ((s, cost(s)) for s in rounds)
    ]

    ec = cost(*tr.named("probe.extract"))
    m["extract.python_s"] = ec.python_s
    m["extract.to_python_bytes"] = ec.to_python_bytes
    m["extract.from_python_bytes"] = ec.from_python_bytes
    m["extract.parallel_efficiency"] = (
        pages / wall("probe.extract") / (ctx.cores * m["kernel.pages_per_s"]))
    m["warc.read_s"] = wall("probe.warc")
    m["seen.update_s"] = wall("probe.seen.update")
    m["seen.probe_s"] = wall("probe.seen.probe")
    m["schedule.select_s"] = wall("probe.schedule.select")
    m["schedule.seq_s"] = wall("probe.schedule.seq")
    return m
