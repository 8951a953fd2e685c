"""The benchmark's workloads: closed loops with one client, each
operation (a crawl wave or a scheduling pass) starting when the
previous one returns. Each workload drives only the public API of
``tweetf0rm_spark`` with inputs generated from the workload seed.

A workload exposes ``setup(rep)`` (generate + materialize inputs; runs
several times, the last one's inputs are used), ``prepare()`` (once,
after the set-ups, still set-up time), ``step()`` (one timed
operation; returns whether its output matched, the frontier rows it
scheduled and deduped, and the pages it fetched or handed to fetch)
and ``finish()`` (post-run output checks: fingerprint, violations and
failed operations).
"""

from __future__ import annotations

import os
import time
from functools import partial

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from tweetf0rm_spark import wave
from tweetf0rm_spark.canon import url_hash_col
from tweetf0rm_spark.crawl import Crawl, CrawlConfig
from tweetf0rm_spark.operators.politeness import DEFAULT_BUDGET
from tweetf0rm_spark.operators.seenset import DEFAULT_P, build_seen_blobs

from . import checks, gen
from .stats import fingerprint


class Schedule:
    """One scheduling pass: ``wave.run_wave`` over a raw Zipf-skewed
    frontier (canonicalized → dedupe_within → dedupe_against_seen with
    bloom blobs and exact confirm → robots_verdict → apply_politeness →
    global_row_number), whose sink collects the fetch batch. The seen
    set, its blobs, robots rules and budgets are built in set-up; the
    page corpus is empty, since a pass stops at the fetch batch.
    """

    n_rows = 20_000
    n_domains = 1_000

    def __init__(self, spark, work: str, seed: int, tracer, seen_share: float):
        self.spark, self.work, self.seed, self.tracer = spark, work, seed, tracer
        self.seen_share = seen_share
        self.first: tuple | None = None

    # ------------------------------------------------------------ set-up
    def setup(self, rep: int) -> None:
        spark, d = self.spark, os.path.join(self.work, f"in{rep}")
        tables = gen.schedule_inputs(self.seed, self.n_rows, self.n_domains,
                                     int(round(self.seen_share * 100)))
        self.expect = (tables.pop("canon"), tables["seen_urls"],
                       tables["robots_rules"], tables["politeness_budget"])
        _write(d, tables)
        read = lambda t: spark.read.parquet(f"{d}/{t}.parquet")  # noqa: E731
        read("seen_urls").select(
            "url", url_hash_col(F.col("url")).alias("url_hash")
        ).write.parquet(f"{d}/seen.parquet")
        self.seen = read("seen")
        build_seen_blobs(self.seen, p=DEFAULT_P).write.parquet(f"{d}/blobs.parquet")
        # a raw frontier: the identity columns are recomputed by the pass
        self.frontier = read("frontier").select(
            "url", F.lit(None).cast("long").alias("url_hash"),
            F.lit(None).cast("string").alias("host"),
            F.lit(None).cast("string").alias("registered_domain"),
            "depth", "priority", "state", "wave")
        self.blobs, self.robots, self.budget = (
            read(t) for t in ("blobs", "robots_rules", "politeness_budget"))
        self.pages = spark.createDataFrame(
            [], "url string, warc_ts timestamp, html binary, lang string")

    def prepare(self) -> None:
        pass

    # -------------------------------------------------------------- pass
    def step(self) -> dict:
        """One pass; its sink hands the fetch batch (canonical url,
        domain, fetch order) to the driver, as a fetcher pool would
        receive it."""
        with self.tracer.root("schedule.pass"):
            res = wave.run_wave(self.spark, self.frontier, self.seen, self.pages,
                                self.robots, self.budget, seen_blobs=self.blobs)
            try:
                rows = res.fetch_batch.select(
                    "url", "registered_domain", "fetch_order").collect()
            finally:
                res.unpersist()
        rows.sort(key=lambda r: r.fetch_order)
        fp = fingerprint(rows)
        if self.first is None:
            self.first = (fp, rows)
        return {"ok": fp == self.first[0], "urls": self.n_rows, "pages": len(rows)}

    def finish(self) -> dict:
        """Full check of the first pass's batch against an independent
        recomputation from the generator's record of each row's
        canonical URL; later passes must match it exactly."""
        fp, rows = self.first
        canon, seen, robots_rules, budget = self.expect
        seen = set(seen["url"])
        want, blocked = checks.expected_schedule(
            canon.to_dict("records"), seen, robots_rules.to_dict("records"),
            dict(budget.itertuples(index=False)), DEFAULT_BUDGET)
        bad = checks.check_schedule(
            [r.asDict() for r in rows], want, seen, blocked)
        return {"fingerprint": fp, "violations": bad, "failed": 1 if bad else 0}


class CrawlBfs:
    """``Crawl.init`` over a wide seed list (set-up), then ``Crawl.step``
    waves: Arrow fetch+extract, BFS expansion, retry ledger (dead seeds
    fail in the first wave), snapshot commits, seen-blob update and a
    compaction after every wave (``max_seen_parts=1``). The first wave
    fetches the same number of pages for every seed (gen.crawl_corpus)."""

    n_pages = 600
    n_domains = 20
    n_seeds = 160
    n_dead_seeds = 8
    config = CrawlConfig(max_seen_parts=1)

    def __init__(self, spark, work: str, seed: int, tracer):
        self.spark, self.work, self.seed, self.tracer = spark, work, seed, tracer
        self.waves: list[int] = []

    def setup(self, rep: int) -> None:
        d = os.path.join(self.work, f"in{rep}")
        tables = gen.crawl_corpus(self.seed, self.n_pages, self.n_domains,
                                  self.n_seeds, self.n_dead_seeds)
        _write(d, tables)
        self.inputs = {n: self.spark.read.parquet(f"{d}/{n}.parquet") for n in tables}
        self.budget = {r["registered_domain"]: int(r["max_per_wave"])
                       for _, r in tables["politeness_budget"].iterrows()}

    def prepare(self) -> None:
        i = self.inputs
        self.crawl = Crawl(self.spark, os.path.join(self.work, "store"),
                           i["pages"], i["robots_rules"], i["politeness_budget"],
                           self.config)
        self.crawl.init(i["seeds"])

    def _table(self, name: str, snap: int) -> list[dict]:
        """Rows of a committed table, read with pyarrow from the store's
        documented layout ``<root>/<table>/snap=<n>/`` (no Spark job)."""
        return pq.read_table(os.path.join(
            self.crawl.store.root, name, f"snap={snap}")).to_pylist()

    def step(self) -> dict:
        frontier = len(self._table("frontier", self.crawl.store.current()))
        t, s = _timed(self.crawl.step)
        self.waves.append(s["wave"] + 1)
        return {"ok": True, "urls": frontier, "pages": s["fetched"], "t": t}

    def finish(self) -> dict:
        waves = []
        for snap in self.waves:
            log = sorted(self._table("fetch_log", snap), key=lambda r: r["fetch_order"])
            waves.append({
                "wave": snap,
                "fetches": [(r["url"], r["registered_domain"]) for r in log],
                "retry_urls": {r["url"] for r in self._table("failed", snap - 1)}})
        # the seen set is the union of the per-wave deltas
        seen = [[r["url"] for r in self._table("seen_delta", s)]
                for s in range(self.waves[-1] + 1)]
        bad = checks.check_crawl(waves, self.budget, self.config.default_budget,
                                 [u for part in seen for u in part])
        # first timed wave only: every run reaches it, traced or not
        first = self.waves[0]
        rows = [("fetch", first, u) for u, _ in waves[0]["fetches"]]
        rows += sorted(("seen", u) for part in seen[:first + 1] for u in part)
        rows += sorted(("failed", r["url"], r["retries"])
                       for r in self._table("failed", first))
        return {"fingerprint": fingerprint(rows),
                "violations": [f"wave {w}: {m}" for w, m in bad],
                "failed": len({w for w, _ in bad})}


def _write(d: str, tables: dict) -> None:
    os.makedirs(d, exist_ok=True)
    for name, pdf in tables.items():
        pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False),
                       f"{d}/{name}.parquet", coerce_timestamps="us")


def _timed(fn):
    t0 = time.perf_counter()
    out = fn()
    return time.perf_counter() - t0, out


WORKLOADS = {
    "crawl-bfs": CrawlBfs,
    "schedule-fresh": partial(Schedule, seen_share=0.2),
    "schedule-recrawl": partial(Schedule, seen_share=0.9),
}
