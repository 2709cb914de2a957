"""The two workloads: inputs made from the seed, a timed phase, and checks.

Each workload function takes the run context and returns a ``Timed``
record.  Set-up (input generation and warm-up) runs inside a ``setup``
span, the measured work inside a ``timed`` span whose children are the
units of work (``round`` spans: crawl rounds, or passes over the WARC
segment).  Checks run after the timed phase.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
from dataclasses import dataclass, field
from datetime import timedelta
from typing import Dict, List
from urllib.parse import urlsplit

import pandas as pd
from pyspark.sql import functions as F

from crawler_engine_spark.data import gen
from crawler_engine_spark.frontier.rounds import CrawlConfig, CrawlEngine
from crawler_engine_spark.frontier.simulator import SimRobots, simulate_crawl
from crawler_engine_spark.kernels.extract import extract_page
from crawler_engine_spark.kernels.urls import url_host
from crawler_engine_spark.operators.extraction import extract_pages
from crawler_engine_spark.sources.warc import build_warc, read_warc_pages

#: crawl_grow: pages in the generated world, seeds (one of them a 404),
#: the politeness round length of bench.py, and rounds, all timed.  Every
#: seed set fetches CRAWL_SEEDS URLs in round 1 (20 hosts, 240 fetches per
#: host and round) and discovers about 700 more.  A round costs about 50
#: Spark jobs whatever its batch, 6-25 s on a shared 4-core host, so a
#: warm-up round or a second timed round would add that to every run.
CRAWL_PAGES = 1000
CRAWL_SEEDS = 200
CRAWL_ROUND_SECONDS = 120.0
CRAWL_ROUNDS = 1
#: Share of the page store extract_pages runs over in set-up, so the first
#: timed round does not pay for importing the kernel in each Python worker.
WARM_FRACTION = 0.05

#: warc_extract: pages in the segment and the archives it is split into
#: (a Common Crawl segment is many archives; read_warc_pages runs one task
#: per group of archives, so one archive would run the kernel on one core).
WARC_PAGES = 2000
WARC_FILES = 8
#: Timed passes over the segment: one per PASS_SECONDS of --seconds (a
#: pass took 2-4 s on a shared 4-core host), at least MIN_PASSES.  The
#: count depends only on --seconds, so every run does the same work.
PASS_SECONDS = 4
MIN_PASSES = 2
#: Rows of one pass compared with the in-process kernel.
SAMPLE_ROWS = 64

GOLDENS = os.path.join("tests", "goldens", "extraction.json")


@dataclass
class Timed:
    """What a workload measured, in its own units of work."""

    unit_walls: List[float]  # wall of each crawl round / segment pass
    wall_s: float  # median wall of one unit of timed work
    urls_per_s: float
    attempted: int
    failed_rows: int
    pages_path: str  # parquet page store for the extraction probe
    doc_ids: List[int]  # generated pages in seed order, for the probes
    n_docs: int
    detail: Dict = field(default_factory=dict)


def _ts(doc_id: int) -> str:
    return (gen.BASE_TS + timedelta(seconds=doc_id)).strftime("%Y-%m-%dT%H:%M:%SZ")


def write_warc_segment(spark, doc_ids: List[int], n_docs: int, out_dir: str,
                       n_files: int) -> int:
    """Write ``doc_ids``' pages as ``n_files`` gzip-member WARC archives,
    archive k holding ``doc_ids[k::n_files]`` in that order.  Runs in Spark
    tasks; returns the record count."""
    files = [doc_ids[k::n_files] for k in range(n_files)]
    os.makedirs(out_dir, exist_ok=True)

    def write(batches):
        for pdf in batches:
            for k in pdf["id"]:
                ids = files[int(k)]
                recs = [
                    (gen.url_of(i), _ts(i), gen.html_of(i, n_docs).encode("utf-8"))
                    for i in ids
                ]
                path = os.path.join(out_dir, f"segment-{int(k):03d}.warc.gz")
                with open(path + ".tmp", "wb") as f:
                    f.write(build_warc(recs, gzip_members=True))
                os.replace(path + ".tmp", path)
                yield pd.DataFrame({"records": [len(ids)]})

    n_slices = min(n_files, spark.sparkContext.defaultParallelism)
    rows = (
        spark.range(0, n_files, numPartitions=n_slices)
        .mapInPandas(write, "records long")
        .collect()
    )
    return sum(r["records"] for r in rows)


def robots_df(spark, rows: List[dict]):
    """``data/gen`` robots rules as the frame CrawlEngine takes."""
    return spark.createDataFrame(
        pd.DataFrame(rows),
        "host string, disallow_prefixes array<string>, crawl_delay_s double",
    )


def write_page_store(spark, doc_ids: List[int], n_docs: int, path: str) -> None:
    """The ``data/gen`` page table, rows in ``doc_ids`` order."""

    def rows(batches):
        for pdf in batches:
            yield pd.DataFrame([gen.page_record(int(i), n_docs) for i in pdf["id"]])

    # Arrow-backed createDataFrame slices the frame in order, one slice per
    # default-parallelism partition, so the files keep the doc_ids order.
    ids = spark.createDataFrame(pd.DataFrame({"id": doc_ids}))
    ids.mapInPandas(rows, gen.PAGES_SCHEMA).write.mode("overwrite").parquet(path)


# --------------------------------------------------------------------------
# crawl_grow
# --------------------------------------------------------------------------


def crawl_grow(ctx) -> Timed:
    spark, tr = ctx.spark, ctx.tracer
    rng = ctx.rng
    with tr.span("setup"):
        doc_ids = list(range(CRAWL_PAGES))
        rng.shuffle(doc_ids)
        pages_path = os.path.join(ctx.work, "pages")
        with tr.span("gen.pages"):
            write_page_store(spark, doc_ids, CRAWL_PAGES, pages_path)
        robots_rows = gen.gen_robots()
        robots = robots_df(spark, robots_rows)
        sim_robots = SimRobots(
            disallow_prefixes={r["host"]: r["disallow_prefixes"] for r in robots_rows},
            crawl_delay_s={r["host"]: r["crawl_delay_s"] for r in robots_rows},
        )
        seed_docs = _seed_docs(rng, sim_robots)
        seeds = [
            {"url": gen.url_of(d), "seed_rank": i, "query": None}
            for i, d in enumerate(seed_docs)
        ] + [{
            "url": f"https://host0.example/news/doc{CRAWL_PAGES + 999}",
            "seed_rank": CRAWL_SEEDS - 1, "query": None,
        }]
        eng = CrawlEngine(
            spark, os.path.join(ctx.work, "state"), pages_path, robots,
            CrawlConfig(round_seconds=CRAWL_ROUND_SECONDS),
        )
        with tr.span("init_from_seeds"):
            eng.init_from_seeds(spark.createDataFrame(
                pd.DataFrame(seeds), "url string, seed_rank int, query string"))
        with tr.span("warmup.kernel"):
            extract_pages(
                spark.read.parquet(pages_path).select("url", "html")
                .sample(fraction=WARM_FRACTION, seed=ctx.seed)
            ).write.format("noop").mode("overwrite").save()

    records = []
    with tr.span("timed"):
        for k in range(1, CRAWL_ROUNDS + 1):
            with tr.span("round"):
                records.append(eng.run_round(k))
    if any(r is None for r in records):
        raise RuntimeError("crawl frontier ran dry before the last timed round")
    walls = [s.wall_s for s in tr.named("round")]
    fetched = [r["fetched"] for r in records]

    failed_rows = eng.results().where(~F.col("success")).count()

    # -- checks: the engine's crawl equals the single-threaded oracle
    html = dict(zip(*_read_columns(pages_path, ["url", "html"])))
    sim_log, sim_seen = simulate_crawl(
        seeds, html, sim_robots, round_seconds=CRAWL_ROUND_SECONDS,
        max_rounds=CRAWL_ROUNDS,
    )
    got_log = sorted(
        (r["round"], r["fetch_seq"], r["canonical_url"], r["fetch_status"], r["depth"])
        for r in eng.fetched_log().collect()
    )
    want_log = [(f.round, f.fetch_seq, f.url, f.status, f.depth) for f in sim_log]
    ctx.check("crawl.fetched_log_equals_oracle", got_log == want_log,
              f"{len(got_log)} engine rows, {len(want_log)} oracle rows")
    got_seen = {r["canonical_url"] for r in eng.seen().select("canonical_url").collect()}
    ctx.check("crawl.seen_set_equals_oracle", got_seen == sim_seen,
              f"{len(got_seen)} engine URLs, {len(sim_seen)} oracle URLs")

    return Timed(
        unit_walls=walls,
        wall_s=statistics.median(walls),
        urls_per_s=sum(fetched) / sum(walls),
        attempted=sum(fetched),
        failed_rows=failed_rows,
        pages_path=pages_path,
        doc_ids=doc_ids,
        n_docs=CRAWL_PAGES,
        detail={
            "pages": CRAWL_PAGES, "seeds": CRAWL_SEEDS,
            "round_seconds": CRAWL_ROUND_SECONDS,
            "timed_rounds": len(records),
            "fetched_per_round": fetched,
            "round_walls_s": walls,
        },
    )


def _seed_docs(rng, robots: SimRobots) -> List[int]:
    """CRAWL_SEEDS - 1 distinct pages that robots.txt allows, the i-th drawn
    from the pages with 3 + i % 10 out-links.  The seed picks the pages, but
    every seed set fetches as many pages in round 1 and has the same
    out-link total, so the crawl grows alike for every seed."""
    by_links: Dict[int, List[int]] = {}
    for d in range(CRAWL_PAGES):
        url = gen.url_of(d)
        if robots.blocked(url_host(url), urlsplit(url).path):
            continue
        by_links.setdefault(len(gen.out_link_ids(d, CRAWL_PAGES)), []).append(d)
    docs: List[int] = []
    for i in range(CRAWL_SEEDS - 1):
        pool = [d for d in by_links[3 + i % 10] if d not in docs]
        docs.append(rng.choice(pool))
    return docs


def _read_columns(path: str, cols: List[str]) -> List[list]:
    import pyarrow.parquet as pq

    t = pq.read_table(path, columns=cols)
    return [t.column(c).to_pylist() for c in cols]


# --------------------------------------------------------------------------
# warc_extract
# --------------------------------------------------------------------------


def _extract_pass(spark, warc_dir: str, out: str) -> None:
    pages = read_warc_pages(spark, warc_dir).select("url", "html")
    extract_pages(pages).write.mode("overwrite").parquet(out)


def warc_extract(ctx) -> Timed:
    spark, tr = ctx.spark, ctx.tracer
    doc_ids = list(range(WARC_PAGES))
    ctx.rng.shuffle(doc_ids)
    warc_dir = os.path.join(ctx.work, "warc")
    out_root = os.path.join(ctx.work, "extracted")
    with tr.span("setup"):
        with tr.span("gen.warc"):
            n = write_warc_segment(spark, doc_ids, WARC_PAGES, warc_dir, WARC_FILES)
        if n != WARC_PAGES:
            raise RuntimeError(f"generated {n} WARC records, expected {WARC_PAGES}")
        with tr.span("warmup.goldens"):  # JIT and Python workers
            _check_goldens(ctx)

    failed_rows = 0
    passes = max(MIN_PASSES, round(ctx.seconds / PASS_SECONDS))
    out = None
    with tr.span("timed"):
        for i in range(passes):
            if out is not None:
                shutil.rmtree(out)
            out = os.path.join(out_root, f"pass-{i}")
            with tr.span("round"):
                _extract_pass(spark, warc_dir, out)
            (success,) = _read_columns(out, ["success"])
            failed_rows += success.count(False)
            ctx.check(f"warc.pass{i}.rows", len(success) == WARC_PAGES,
                      f"{len(success)} rows")
    walls = [s.wall_s for s in tr.named("round")]

    # -- checks: Spark output is byte-identical to the in-process kernel
    pick = sorted(ctx.rng.sample(doc_ids, SAMPLE_ROWS))
    urls = {gen.url_of(i): i for i in pick}
    got = {
        u: c for u, c in zip(*_read_columns(out, ["url", "content"])) if u in urls
    }
    mismatched = [
        u for u, i in urls.items()
        if got.get(u) != extract_page(u, gen.html_of(i, WARC_PAGES))["content"]
    ]
    ctx.check("warc.sample_matches_kernel", not mismatched,
              f"{len(mismatched)} of {len(urls)} sampled rows differ")

    p50 = statistics.median(walls)
    return Timed(
        unit_walls=walls,
        wall_s=p50,
        urls_per_s=WARC_PAGES / p50,
        attempted=WARC_PAGES * passes,
        failed_rows=failed_rows,
        pages_path="",
        doc_ids=doc_ids,
        n_docs=WARC_PAGES,
        detail={"pages": WARC_PAGES, "archives": WARC_FILES, "passes": passes,
                "pass_walls_s": walls},
    )


def _check_goldens(ctx) -> None:
    """The frozen extraction goldens, sent through WARC ingest and the Spark
    operator with each case's mode and query, match byte for byte.  The
    cases sit in one archive per core and their output goes through
    parquet, so this also warms every Python worker and the pass's write
    path before the timed passes."""
    spark = ctx.spark
    path = os.path.join(ctx.root, GOLDENS)
    if not os.path.isfile(path):
        ctx.check("warc.goldens_match", False, f"{GOLDENS} is missing")
        return
    with open(path, encoding="utf-8") as f:
        goldens = json.load(f)
    n_docs = goldens["n_docs"]
    cases = goldens["cases"]
    docs = sorted({c["doc_id"] for c in cases})
    gdir = os.path.join(ctx.work, "golden_warc")
    write_warc_segment(spark, docs, n_docs, gdir, ctx.cores)
    want = pd.DataFrame({
        "url": [gen.url_of(c["doc_id"]) for c in cases],
        "mode": [c["mode"] for c in cases],
        "query": [c["query"] for c in cases],
        "case": list(range(len(cases))),
    })
    wanted = spark.createDataFrame(
        want, "url string, mode string, query string, case int")
    pages = read_warc_pages(spark, gdir).select("url", "html")
    out = os.path.join(ctx.work, "golden_out")
    extract_pages(pages.join(wanted, "url"), passthrough=["case"]) \
        .select("case", "content").write.mode("overwrite").parquet(out)
    got = dict(zip(*_read_columns(out, ["case", "content"])))
    bad = [i for i, c in enumerate(cases) if got.get(i) != c["content"]]
    ctx.check("warc.goldens_match", not bad,
              f"{len(bad)} of {len(cases)} golden cases differ")


WORKLOADS = {"crawl_grow": crawl_grow, "warc_extract": warc_extract}
