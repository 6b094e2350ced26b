"""Per-layer figures of a traced run, all taken from the benchmark's own
code around calls into the engine's public functions:

- spans: wrappers installed on ``plans.crawl_job``'s module attributes
  (``fetch_round``, ``split_attempts``, ``parse_round``, ``admit``) and
  on ``SnapshotStore.commit`` / ``read_table`` / ``read_deltas``;
- jobs: the crawl's job group, counted through ``statusTracker()``;
- driver idle: wall time of each crawl with no task running, from the
  Spark event log that ``SPARK_GRAFT_EVENTLOG`` turns on;
- the committed-round replay: a committed version's tables read back
  and pushed through fetch, parse and admission one layer at a time,
  each into Spark's ``noop`` sink.
"""

from __future__ import annotations

import json
import os
import statistics
import threading
import time
from collections import defaultdict


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(path) for f in files)


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _release(adm) -> None:
    """Free the caches ``admit`` made (its callers own them)."""
    for df in (adm.cached, *adm.extra_cached):
        if df is not None:
            df.unpersist()


class Tracer:
    BUILD_FNS = ("fetch_round", "split_attempts", "parse_round", "admit")

    def __init__(self, spark):
        from infinitycrawler_spark.plans import crawl_job
        from infinitycrawler_spark.state.store import SnapshotStore

        self.spark = spark
        self._lock = threading.Lock()
        self._acc: dict[str, float] = defaultdict(float)
        self.windows: list[tuple[float, float]] = []   # epoch s per crawl
        self._undo = []
        for fn in self.BUILD_FNS:
            self._wrap(crawl_job, fn, "build")
        self._wrap(SnapshotStore, "commit", "commit")
        self._wrap(SnapshotStore, "read_table", "read")
        self._wrap(SnapshotStore, "read_deltas", "read")

    def _wrap(self, owner, attr: str, key: str) -> None:
        inner = getattr(owner, attr)

        def timed(*args, **kwargs):
            t0 = time.perf_counter()
            try:
                return inner(*args, **kwargs)
            finally:
                with self._lock:
                    self._acc[key + "_s"] += time.perf_counter() - t0
                    self._acc[key + "_n"] += 1

        setattr(owner, attr, timed)
        self._undo.append((owner, attr, inner))

    def close(self) -> None:
        for owner, attr, inner in reversed(self._undo):
            setattr(owner, attr, inner)
        self._undo = []

    # ------------------------------------------------------ crawl spans
    def begin(self, job) -> dict:
        with self._lock:
            self._acc.clear()
        self._t0 = time.time()
        return {}

    def end(self, job, out, ingest_s: float) -> dict:
        self.windows.append((self._t0, time.time()))
        tracker = self.spark.sparkContext.statusTracker()
        with self._lock:
            acc = dict(self._acc)
        return {
            "plans.ingest_s": ingest_s,
            "plans.rounds": out.rounds,
            # the job group run() sets for every job of the crawl
            "plans.spark_jobs": len(tracker.getJobIdsForGroup(job._job_group)),
            "plans.build_s": acc.get("build_s", 0.0),
            "store.commit_s": acc.get("commit_s", 0.0),
            "store.commits": int(acc.get("commit_n", 0)),
            "store.read_s": acc.get("read_s", 0.0),
            "store.bytes_written": _dir_bytes(job.store_root),
        }

    # --------------------------------------------- committed-round replay
    def replay(self, job, reps: int = 2) -> dict:
        """Read back the committed version with the largest frontier and
        time fetch (+ split), parse and admission on it, each alone into
        the ``noop`` sink, over ``reps`` interleaved repetitions."""
        from pyspark.sql import functions as F

        from infinitycrawler_spark import schemas
        from infinitycrawler_spark.operators.admission import admit
        from infinitycrawler_spark.operators.fetch import fetch_round, split_attempts
        from infinitycrawler_spark.operators.parse import parse_round

        self.close()   # the replay's own store reads are not crawl spans
        spark, store = self.spark, job.store
        v = max(store.versions(),
                key=lambda v: store.read_table(spark, v, "frontier").count())
        frontier = store.read_table(spark, v, "frontier").localCheckpoint()
        seen = store.read_table(spark, v, "seen").localCheckpoint()
        states = store.read_table(spark, v, "states").localCheckpoint()
        host_state = store.read_table(spark, v, "host_state").localCheckpoint()
        att_hist = (store.read_deltas(spark, v, "attempts")
                    or spark.createDataFrame([], schemas.ATT_ROWS))
        hop_hist = (store.read_deltas(spark, v, "hops")
                    or spark.createDataFrame([], schemas.HOP_ROWS))
        pages_meta = job.pages.select(*schemas.PAGES_META_COLS)
        opts = job.settings.request_processor_options
        seq_base = frontier.agg(F.max("enqueue_seq")).first()[0] or 0

        def fetch():
            rows, _ = split_attempts(
                fetch_round(frontier, pages_meta, host_state, opts), host_state)
            return rows

        successes = (fetch().filter(
            "error is null and status_code between 200 and 299")
            .localCheckpoint())

        def parse():
            return parse_round(successes, job.pages, job.settings)

        parsed = parse().localCheckpoint()
        candidates = (
            parsed.filter("can_index and can_follow")
            .select("enqueue_seq", "depth",
                    F.posexplode("links").alias("pos", "link"))
            .filter("link.rel is null or lower(link.rel) != 'nofollow'")
            .selectExpr("link.location as url",
                        "coalesce(lower(parse_url(link.location, 'HOST')), '')"
                        " as host",
                        "'link' as kind", "enqueue_seq as parent_seq",
                        "pos as child_pos", "depth + 1 as depth",
                        "false as skip_budget",
                        "cast(null as array<string>) as moved_chain")
            .localCheckpoint())

        def admission():
            return admit(candidates, seen, states, job.robots_map,
                         job.settings, job.base_host, budget_base=0,
                         seq_base=seq_base, round_no=v + 1,
                         exact_order=job.exact_order,
                         lazy_counts=not job.exact_order,
                         att_hist=att_hist, hop_hist=hop_hist)

        times = defaultdict(list)
        for _ in range(reps):
            for name, build in (("fetch", fetch), ("parse", parse)):
                t0 = time.perf_counter()
                _noop(build())
                times[name].append(time.perf_counter() - t0)
            t0 = time.perf_counter()
            adm = admission()
            for df in (adm.frontier_add, adm.results, adm.seen_add):
                _noop(df)
            times["admit"].append(time.perf_counter() - t0)
            _release(adm)
        adm = admission()
        out = {
            "replay.version": v,
            "fetch.replay_s": statistics.median(times["fetch"]),
            "fetch.rows_in": frontier.count(),
            "fetch.attempts_out": fetch().count(),
            "parse.replay_s": statistics.median(times["parse"]),
            "parse.rows": parsed.count(),
            "parse.image_ok": parsed.filter("image_ok").count(),
            "admit.replay_s": statistics.median(times["admit"]),
            "admit.candidates_in": candidates.count(),
            "admit.admitted": adm.frontier_add.count(),
        }
        _release(adm)
        return out


def driver_idle_s(event_dir: str, windows: list[tuple[float, float]]) -> list[float]:
    """For each (start, end) wall window in epoch seconds, the time in it
    with no task running, from the Spark event log in ``event_dir`` —
    the computation of ``tools/gapprof.py``, cut to the window."""
    tasks = []
    logs = [os.path.join(d, f) for d, _, files in os.walk(event_dir)
            for f in files]
    for path in logs:
        with open(path) as f:
            for line in f:
                if '"SparkListenerTaskEnd"' not in line:
                    continue
                info = json.loads(line)["Task Info"]
                tasks.append((info["Launch Time"] / 1e3, info["Finish Time"] / 1e3))
    tasks.sort()
    out = []
    for w0, w1 in windows:
        busy, cur = 0.0, None
        for s, e in tasks:
            s, e = max(s, w0), min(e, w1)
            if s >= e:
                continue
            if cur and s <= cur[1]:
                cur[1] = max(cur[1], e)
            else:
                if cur:
                    busy += cur[1] - cur[0]
                cur = [s, e]
        if cur:
            busy += cur[1] - cur[0]
        out.append((w1 - w0) - busy)
    return out
