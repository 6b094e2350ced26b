"""The three workloads. Each builds its inputs from the seed, runs one
unit of timed work per ``run_unit`` call through the engine's public
functions, and checks every unit's output in ``check`` against a
computation made apart from the engine (``checks.py``).

A unit is one whole crawl to fixpoint (``frontier``, ``replay``) or one
pass of the curation query suite (``curate``); every unit of a run does
the same operations, so a run's failed share does not depend on how many
units fit in its measuring window.
"""

from __future__ import annotations

import dataclasses
import os
import time

import duckdb
import numpy as np

import checks
import gen
from layers import Tracer


@dataclasses.dataclass
class Unit:
    seconds: float      # wall time of the timed job
    items: int          # items done (fetch attempts / input rows read)
    spans: dict         # per-layer figures of this unit (traced runs)


def _duck(data_dir: str, tables) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in tables:
        path = os.path.join(data_dir, f"{t}.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
    return con


class _Crawl:
    """Common part of the two crawl workloads: one ``CrawlJob`` per
    unit (its constructor ingests the pages and is not timed), each with
    its own snapshot store under the run's work dir."""

    exact_order: bool
    job_kwargs: dict = {}

    def __init__(self, spark, work_dir: str, seed: int, tracer: Tracer | None):
        self.spark, self.work, self.seed, self.tracer = (
            spark, work_dir, seed, tracer)
        self.outputs = []           # (CrawlJob, CrawlOutput) per unit
        self._next_job = None

    def _new_job(self):
        from infinitycrawler_spark.plans.crawl_job import CrawlJob

        store = os.path.join(self.work, f"store{len(self.outputs)}")
        t0 = time.perf_counter()
        job = CrawlJob(spark=self.spark, pages=self.pages,
                       robots_map=self.robots_map,
                       sitemap_urls=self.sitemap_urls, seed_uri=self.seed_uri,
                       settings=self.settings, store_root=store,
                       exact_order=self.exact_order, **self.job_kwargs)
        return job, time.perf_counter() - t0

    def setup(self) -> None:
        self._build_inputs()
        self._next_job = self._new_job()    # cold ingest is part of set-up

    def run_unit(self) -> Unit:
        if self.outputs:    # the previous job's pages cache
            self.outputs[-1][0].pages.unpersist()
        job, ingest_s = self._next_job or self._new_job()
        self._next_job = None
        spans = self.tracer.begin(job) if self.tracer else {}
        t0 = time.perf_counter()
        out = job.run()
        seconds = time.perf_counter() - t0
        if self.tracer:
            spans = self.tracer.end(job, out, ingest_s)
        self.outputs.append((job, out))
        fetched = sum(m["fetched"] for m in out.metrics)
        return Unit(seconds, fetched, spans)

    def replay_layers(self) -> dict:
        job, _ = self.outputs[-1]
        return self.tracer.replay(job)


class Frontier(_Crawl):
    """Scale-mode crawl of the TPC-H-derived web with real image
    payloads, validated on parse, and planted payload corruptions."""

    name = "frontier"
    SF = 0.005
    N_SEEDS = 2_500          # order pages seeded: orderkey <= N_SEEDS
    CORRUPT_SHARE = 0.02     # share of the web's pages given a corrupt payload
    TABLES = ("customer", "orders", "lineitem")
    exact_order = False
    job_kwargs = {"collect_enqueue_log": False}

    def _build_inputs(self) -> None:
        from pyspark.sql import functions as F

        import __spark_entry__ as entry
        from infinitycrawler_spark.functions.robots import parse_robots_txt
        from infinitycrawler_spark.settings import (
            CrawlSettings, RequestProcessorOptions)
        from infinitycrawler_spark.synth.payload import with_real_payload

        self.data = os.path.join(self.work, "data")
        gen.write_tables(self.data, self.seed, self.SF, self.TABLES)
        entry.N_SEED_ORDERS = self.N_SEEDS
        pages, seeds, hosts = entry.build_web_from_tpch(self.spark, self.data)
        # planted corruptions: a seeded sample of the web's pages, half
        # with a byte appended to the image, half with a caption edit
        urls = web_urls(self.data)
        rng = np.random.default_rng([self.seed, 7])
        hit = rng.random(len(urls)) < self.CORRUPT_SHARE
        kind = rng.integers(0, 2, len(urls))
        planted = [(u, int(k)) for u, h, k in zip(urls, hit, kind) if h]
        self.planted = {u for u, _ in planted}
        marks = self.spark.createDataFrame(planted, "url string, corrupt int")
        pages = with_real_payload(pages, w=32, h=24, fmt="rgb8-q")
        pages = (pages.join(F.broadcast(marks), "url", "left")
                 .withColumn("bytes", F.when(
                     F.col("corrupt") == 0,
                     F.concat("bytes", F.lit(bytearray(b"\x00"))))
                     .otherwise(F.col("bytes")))
                 .withColumn("caption", F.when(
                     F.col("corrupt") == 1, F.concat("caption", F.lit(" (edited)")))
                     .otherwise(F.col("caption")))
                 .drop("corrupt"))
        # built and persisted by each CrawlJob's ingest, in set-up for the first
        self.pages = pages
        self.sitemap_urls = seeds
        self.seed_uri = "http://nation00.shop/"
        self.robots_map = {"nation00.shop": parse_robots_txt(
            "User-agent: *\nDisallow: /order/9\n")}
        self.settings = CrawlSettings(
            host_aliases=hosts, number_of_retries=2, validate_payload=True,
            request_processor_options=RequestProcessorOptions().no_delay())

    def check(self) -> tuple[int, int, list[str]]:
        import __spark_entry__ as entry

        # the closed-form outcome, computed by DuckDB over the same files
        con = _duck(self.data, self.TABLES)
        oracle_counts = {(h, s): n for h, s, n in con.execute(
            entry.oracle_sql()["crawl_fixpoint"]).fetchall()}
        oracle = con.execute(
            checks.WEB_STATUS_SQL.format(n_seeds=self.N_SEEDS)).fetchall()
        oracle_status = {u: s for u, s, _ in oracle}
        crawled_2xx = {u for u, s, c in oracle
                       if s == "Crawled" and c is not None and 200 <= c <= 299}
        errors: list[str] = []
        attempted = failed = 0
        for job, out in self.outputs:
            rows = out.results.select(
                "url", "host", "status", "n_attempts", "last_status_code",
                "image_ok", "caption_ok").collect()
            status = {r.url: r.status for r in rows}
            if len(status) != len(rows):
                errors.append(f"{len(rows) - len(status)} duplicate result URLs")
            errors += checks.check_host_status_counts(
                checks.host_status_counts(status, {r.url: r.host for r in rows}),
                oracle_counts)
            errors += checks.check_url_statuses(status, oracle_status)
            errors += checks.check_attempts_conservation(
                [m["fetched"] for m in out.metrics],
                [r.n_attempts for r in rows])
            errors += checks.check_planted(
                checks.flagged_payloads(
                    (r.url, r.status, r.last_status_code, r.image_ok,
                     r.caption_ok) for r in rows),
                self.planted, crawled_2xx)
            attempted += len(oracle_status)
            failed += len(checks.failed_urls(status, oracle_status))
        return attempted, failed, errors


def web_urls(data_dir: str) -> list[str]:
    """Every page URL of ``build_web_from_tpch``'s web over the tables in
    ``data_dir``, sorted: an order page per order (on its customer's
    nation host), a part page per part and a supplier page per supplier
    that a lineitem names."""
    import pyarrow.parquet as pq

    def col(table, name):
        return pq.read_table(os.path.join(data_dir, f"{table}.parquet"),
                             columns=[name])[name].to_numpy()

    nation = dict(zip(col("customer", "c_custkey"), col("customer", "c_nationkey")))
    urls = [f"http://nation{nation[c]:02d}.shop/order/{k}"
            for k, c in zip(col("orders", "o_orderkey"), col("orders", "o_custkey"))]
    urls += [f"http://parts.shop/part/{k}"
             for k in np.unique(col("lineitem", "l_partkey"))]
    urls += [f"http://suppliers.shop/supplier/{k}"
             for k in np.unique(col("lineitem", "l_suppkey"))]
    return sorted(urls)


class Replay(_Crawl):
    """Exact-order crawl of the Zipf ``scale_site`` fixture, checked
    against the golden FIFO interpreter."""

    name = "replay"
    #: the fixture stays fixed: its redirect-into-queued-target fault
    #: must show the same count on every run (see README)
    FIXTURE = {"n_hosts": 10, "pages_per_host": 40, "seed": 42}
    exact_order = True
    job_kwargs = {"collect_enqueue_log": True, "snapshot_every": 3}

    def _build_inputs(self) -> None:
        from infinitycrawler_spark.functions.robots import parse_robots_txt
        from infinitycrawler_spark.settings import (
            CrawlSettings, RequestProcessorOptions)
        from infinitycrawler_spark.sources.web import pages_df
        from infinitycrawler_spark.synth.fixtures import scale_site

        # every page is a sitemap seed: the crawl is 3 rounds (seeds,
        # redirect targets and retries, last retries), each one a full
        # round of the precise loop
        fx = scale_site(**self.FIXTURE)
        fx = dataclasses.replace(fx, sitemap_urls=[p["url"] for p in fx.pages])
        self.fixture = fx
        self.pages = pages_df(self.spark, fx)
        self.sitemap_urls = fx.sitemap_urls
        self.seed_uri = fx.seed_uri
        self.robots_map = {h: parse_robots_txt(t)
                           for h, t in fx.robots_txt.items()}
        self.settings = CrawlSettings(
            host_aliases=fx.host_aliases,
            request_processor_options=RequestProcessorOptions().no_delay())

    def check(self) -> tuple[int, int, list[str]]:
        from infinitycrawler_spark import golden

        g = golden.crawl(self.fixture, self.settings)
        golden_rows = g.result_set()
        errors: list[str] = []
        attempted = failed = 0
        for job, out in self.outputs:
            rows = {(r.url, r.status, r.n_attempts, len(r.redirect_chain))
                    for r in out.results.collect()}
            errors += checks.check_seen({r.url for r in out.seen.collect()},
                                        g.seen)
            attempted += len({r[0] for r in golden_rows})
            failed += len(checks.differing_urls(rows, golden_rows))
        return attempted, failed, errors


class Curate:
    """One pass of the training-data query suite per unit."""

    name = "curate"
    SF = 0.05
    #: query → (per-layer metric, input tables it reads)
    QUERIES = {
        "dedup_ngram_jaccard": ("dedup.ngram_jaccard_s", ("documents",)),
        "dedup_minhash_lsh": ("dedup.minhash_lsh_s", ("documents",)),
        "dedup_simhash": ("dedup.simhash_s", ("documents",)),
        "dedup_phash_components": ("dedup.phash_components_s", ("documents",)),
        "dedup_components": ("graph.components_s", ("documents",)),
        "dedup_components_star": ("graph.components_star_s", ("documents",)),
        "link_pagerank": ("graph.pagerank_s",
                          ("orders", "lineitem", "supplier", "customer")),
        "pairs_curate": ("pairs.curate_s", ("documents",)),
        # text_quality is left out: its oracle disagrees in the 4th
        # decimal on some seeds (see CHANGES.md)
        "text_fingerprint": ("text.fingerprint_s", ("documents",)),
        # events_sessionize is left out too: it splits sessions on
        # whole-second timestamps, its oracle on exact ones
        "events_tumbling": ("streaming.tumbling_s", ("events",)),
        "ann_lsh_topk": ("similarity.ann_lsh_topk_s", ("embeddings",)),
    }
    TABLES = ("customer", "supplier", "orders", "lineitem", "documents",
              "embeddings", "events")

    def __init__(self, spark, work_dir: str, seed: int, tracer: Tracer | None):
        self.spark, self.work, self.seed = spark, work_dir, seed
        self.outputs: list[dict] = []

    def setup(self) -> None:
        import __spark_entry__ as entry

        self.data = os.path.join(self.work, "data")
        counts = gen.write_tables(self.data, self.seed, self.SF, self.TABLES)
        self.items = sum(counts[t] for _, tables in self.QUERIES.values()
                         for t in tables)
        fns = entry.queries()
        self.fns = {q: fns[q] for q in self.QUERIES}

    def run_unit(self) -> Unit:
        spans, rows = {}, {}
        t0 = time.perf_counter()
        for q, fn in self.fns.items():
            tq = time.perf_counter()
            df = fn(self.spark, self.data)
            rows[q] = (df.columns, [tuple(r) for r in df.collect()])
            spans[self.QUERIES[q][0]] = time.perf_counter() - tq
        seconds = time.perf_counter() - t0
        self.outputs.append(rows)
        return Unit(seconds, self.items, spans)

    def check(self) -> tuple[int, int, list[str]]:
        import __spark_entry__ as entry

        con = _duck(self.data, self.TABLES)
        sql = entry.oracle_sql()
        errors: list[str] = []
        failed = 0
        oracles = {}    # by SQL text: two queries may share an oracle
        for q in self.QUERIES:
            if sql[q] not in oracles:
                cur = con.execute(sql[q])
                oracles[sql[q]] = ([d[0] for d in cur.description],
                                   cur.fetchall())
            ocols, orows = oracles[sql[q]]
            for rows in self.outputs:
                errs = checks.check_query(q, *rows[q], ocols, orows)
                failed += bool(errs)
                errors += errs
        return len(self.QUERIES) * len(self.outputs), failed, errors

    def replay_layers(self) -> dict:
        return {}


WORKLOADS = {w.name: w for w in (Frontier, Replay, Curate)}
