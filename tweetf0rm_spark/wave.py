"""One scheduling **wave** = one DataFrame job (SURVEY.md §3.2).

This is the engine's reinterpretation of the reference's crawler loop
(``[U] tweetf0rm/process/twitter_crawler.py``: BRPOP a command →
dispatch → cursor-paginate the API → hand results to handlers →
enqueue BFS expansions). One wave:

  frontier(QUEUED) → canonicalize → anti-join seen → robots filter
  → per-domain politeness top-k → global sort + limit → fetch batch
  → mapInPandas fetch+extract (Arrow) → explode(outlinks) → depth+1
  → dedupe → next frontier;   lineage counters per domain.

Everything before the fetch UDF is pure built-ins (whole-stage
codegen); the single Python crossing is the Arrow-batched
fetch+extract. Column pruning discipline: scheduling never touches
``html`` — only the fetch join reads it.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Iterable, Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .canon import (
    canon_url_col, canon_url_pandas, host_col, needs_general_canon_col,
    registered_domain_col, url_hash_col,
)
from .extract import extract_both
from .operators.dedupe import anti_join_seen_parts, dedupe_within
from .operators.politeness import DEFAULT_BUDGET, N_SALTS, apply_politeness
from .operators.priority import priority_col
from .operators.rank import global_row_number
from .operators.robots import robots_verdict
from .operators.seenset import DEFAULT_P, dedupe_against_seen

#: frontier schema (SURVEY.md §1.2)
FRONTIER_COLS = [
    "url", "url_hash", "host", "registered_domain", "depth", "priority",
    "state", "wave",
]

_FETCH_OUT_SCHEMA = (
    "url string, url_hash long, host string, registered_domain string, "
    "depth int, priority double, fetch_order int, warc_ts timestamp, "
    "html binary, text string, lang string, outlinks array<string>"
)


@dataclass
class WaveResult:
    wave: int
    fetch_batch: DataFrame      # scheduled urls in fetch order (no html)
    fetched: DataFrame          # fetch+extract output (with text/outlinks)
    frontier_next: DataFrame    # QUEUED rows for wave+1 (deferred ∪ new)
    seen_delta: DataFrame       # ONLY this wave's additions (append log)
    lineage: DataFrame          # per (wave, registered_domain) counters
    failed: DataFrame | None = None  # fetch failures (null html) this wave
    persisted: tuple = ()       # frames run_wave(persist=True) cached

    def unpersist(self) -> None:
        """Release this wave's cached blocks once outputs are
        materialized. Call this per wave REGARDLESS of the ``persist=``
        argument: the global fetch rank always persists its range
        shuffle internally (exchange-consistency, operators/rank.py), so
        even ``persist=False`` waves hold MEMORY_AND_DISK blocks until
        released (or ``spark.catalog.clearCache()``)."""
        for df in self.persisted:
            df.unpersist()


def canonicalized(frontier: DataFrame, psl: DataFrame | None = None) -> DataFrame:
    """Attach canonical identity columns — split-routed, single pass.

    URLs inside the builtin chain's grammar take the JVM whole-stage-
    codegen path (the vast majority: zero Python string work); URLs
    with %-escapes or duplicate query keys — where the chain diverges
    from the spec (canon.py module docstring) — route through the
    Arrow-vectorized ``canon_url_pandas``. The route is a per-row
    conditional, NOT a filter+union: a union of two filters evaluates
    the source twice (at cluster scale, a double parquet scan), so
    instead the pandas UDF receives ``when(needs, url)`` — null for
    conforming rows, which the kernel skips — and the final url picks
    the UDF value only where the predicate fired. One scan, one
    pipelined Arrow stage whose input/output columns are null-sparse.

    ``psl``: optional public-suffix table (psl.py). When given, the
    politeness/partition key ``registered_domain`` routes through the
    broadcast suffix joins (full PSL semantics — wildcard/exception
    rules, ``co.uk``-style suffixes) instead of the last-two-labels
    expression; on hosts whose TLD is absent from the table the two
    paths agree, so ``*.example`` golden traces are unchanged."""
    from pyspark.sql.functions import pandas_udf

    needs = needs_general_canon_col(F.col("url"))
    canon_udf = pandas_udf(canon_url_pandas, "string")
    df = frontier.withColumn(
        "url",
        F.when(needs, canon_udf(F.when(needs, F.col("url"))))
        .otherwise(canon_url_col(F.col("url"))),
    )
    df = df.withColumn("url_hash", url_hash_col(F.col("url")))
    df = df.withColumn("host", host_col(F.col("url")))
    if psl is not None:
        from .psl import with_registered_domain

        return with_registered_domain(df, psl=psl)
    return df.withColumn("registered_domain", registered_domain_col(F.col("host")))


def init_frontier(
    spark: SparkSession, seeds: DataFrame, psl: DataFrame | None = None
) -> DataFrame:
    """Wave-0 frontier from a seed list (url [, seed_rank])."""
    df = seeds.select("url")
    df = canonicalized(df, psl=psl)
    df = dedupe_within(df, order_cols=("url",))
    return (
        df.withColumn("depth", F.lit(0))
        .withColumn("priority", priority_col(1.0, F.col("depth"), 0.0))
        .withColumn("state", F.lit("QUEUED"))
        .withColumn("wave", F.lit(0))
        .select(*FRONTIER_COLS)
    )


def empty_seen(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame([], "url string, url_hash long")


def _fetch_extract(batches: Iterable[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Arrow kernel: html → (text, outlinks). Vectorized batch transfer;
    the per-document parser is the unavoidable Python interior of the
    reference's extraction step (BASELINE.json:L6 'vectorized Arrow UDFs
    that also perform HTML-to-text extraction')."""
    cols = [
        "url", "url_hash", "host", "registered_domain", "depth", "priority",
        "fetch_order", "warc_ts", "html", "text", "lang", "outlinks",
    ]
    for pdf in batches:
        pairs = [extract_both(h) for h in pdf["html"]]
        out = pdf.assign(
            text=[t for t, _ in pairs],
            outlinks=[ls for _, ls in pairs],
        )
        yield out[cols]


def run_wave(
    spark: SparkSession,
    frontier: DataFrame,
    seen: DataFrame | list[DataFrame],
    pages: DataFrame,
    robots_rules: DataFrame,
    politeness_budget: DataFrame | None = None,
    wave: int = 0,
    batch_size: int | None = None,
    n_salts: int = N_SALTS,
    default_budget: int = DEFAULT_BUDGET,
    seen_blobs: DataFrame | None = None,
    p: int = DEFAULT_P,
    persist: bool = False,
    psl: DataFrame | None = None,
    host_health: DataFrame | None = None,
) -> WaveResult:
    """Run one scheduling+fetch wave. All outputs are lazy DataFrames.

    ``seen`` is the seen set ``(url, url_hash)``, either one frame or
    its disjoint physical parts (compacted bucketed table + later
    deltas — Crawl.compact). The dedupe joins chain per part, so the
    big compacted part never re-shuffles (its bucket layout co-locates
    the join). The seen set after this wave is ``seen`` plus
    ``seen_delta``."""
    seen = seen if isinstance(seen, list) else [seen]
    cand = canonicalized(frontier.filter(F.col("state") == "QUEUED"), psl=psl)
    cand = dedupe_within(cand.select(*FRONTIER_COLS))
    if persist:
        # canonicalize+dedupe feeds the dedupe join, lineage, and (via
        # deferred) the next frontier — snapshot commit writes several
        # tables, each a separate job, so cache the common prefix once
        cand = cand.persist()

    # 1. dedupe vs seen-set: bloom pre-check (when blobs supplied) in
    #    front of the exact anti-join — result identical either way
    novel = dedupe_against_seen(
        cand, seen, blobs=seen_blobs, p=p, exact=True
    )

    # 1b. retries (§2.A A12): RETRY rows are prior fetch failures
    #    re-admitted by Crawl.step under the retry budget. They are
    #    already in the seen set (their first attempt scheduled them),
    #    so they BYPASS the dedupe and rejoin at robots/politeness with
    #    everything else; the marker routes them — no seen_delta
    #    re-entry, and deferral carries them back as RETRY, not QUEUED.
    retries = frontier.filter(F.col("state") == "RETRY").select(*FRONTIER_COLS)
    admitted = novel.withColumn("_is_retry", F.lit(False)).unionByName(
        retries.withColumn("_is_retry", F.lit(True))
    )

    # 1c. host health (§2.A A11 analogue): flapping hosts — high
    #    failure rate over the last K waves — rank at downweighted
    #    priority through politeness + fetch ordering, so they stop
    #    absorbing budget at full weight. The downweight lives in a
    #    DERIVED ``_eff_priority`` column used ONLY for ranking; the
    #    base ``priority`` column is what frontier carryover, the retry
    #    ledger and the fetch log persist (ADVICE r4: multiplying
    #    ``priority`` in place compounded 0.25^k across deferred/retried
    #    waves and starved a recovered host forever). Transient by
    #    construction: `_eff_priority` is recomputed each wave from the
    #    CURRENT health window and never written anywhere. Broadcast
    #    O(#domains) table — zero candidate-side shuffle.
    if host_health is not None:
        admitted = (
            admitted.join(
                F.broadcast(host_health.select("registered_domain", "health")),
                "registered_domain",
                "left",
            )
            .withColumn(
                "_eff_priority",
                F.col("priority") * F.coalesce(F.col("health"), F.lit(1.0)),
            )
            .drop("health")
        )
    else:
        admitted = admitted.withColumn("_eff_priority", F.col("priority"))

    # 2. robots (broadcast per-host rule cache, zero candidate shuffle).
    #    crawl_delay rides along to the schedule step — robots says WHO
    #    may fetch, crawl_delay says WHEN (fetch_at_s below).
    ruled = robots_verdict(admitted, robots_rules)
    blocked = ruled.filter(~F.col("robots_allowed"))
    allowed = ruled.filter(F.col("robots_allowed")).drop("robots_allowed")

    # 3. politeness: per-domain budget, salted exact two-phase top-k.
    #    Ranked on _eff_priority (= priority when health is off; health
    #    is per-domain and the window is per-domain, so the multiplier
    #    is constant inside each window — intra-domain order and the
    #    within_budget selection are health-invariant; health bites in
    #    the GLOBAL fetch order / batch cap below).
    polite = apply_politeness(
        allowed, politeness_budget, n_salts=n_salts,
        default_budget=default_budget, priority_col="_eff_priority",
    )
    if persist:
        # feeds fetch batch, deferred carryover AND lineage — compute once
        polite = polite.persist()
    in_budget = polite.filter(F.col("within_budget"))
    deferred = polite.filter(~F.col("within_budget"))

    # 4. global fetch order: (eff-priority desc, depth, url_hash)
    #    [+ limit]. Two-phase distributed rank — a bare Window.orderBy
    #    would pull the whole in-budget set through ONE task
    #    (operators/rank.py).
    batch = global_row_number(
        in_budget,
        [F.desc("_eff_priority"), F.asc("depth"), F.asc("url_hash")],
        name="fetch_order",
    )
    # the rank's internally-persisted range shuffle (exchange-consistency
    # requirement, operators/rank.py) — released via WaveResult.unpersist
    rank_cache = getattr(batch, "_gr_cached", None)
    if batch_size is not None:
        over = batch.filter(F.col("fetch_order") > batch_size)
        deferred = deferred.unionByName(
            over.drop("fetch_order"), allowMissingColumns=True
        )
        batch = batch.filter(F.col("fetch_order") <= batch_size)
    # 4b. wall-clock schedule (§2.A A5's other half — the reference
    #    sleeps between API calls; the engine emits the schedule as
    #    data): slot k on a domain fetches no earlier than the SUM of
    #    the preceding slots' crawl_delays into the wave (running sum,
    #    not (k−1)·own-delay — when robots gives different delays to
    #    different path prefixes of one host, the running sum keeps the
    #    schedule monotone in fetch order and honors each slot's
    #    required gap; with a host-uniform delay the two formulas agree
    #    — ADVICE r4). Slots follow the global fetch order, so a fetch
    #    worker streaming its domain in fetch_order reads fetch_at_s
    #    directly. The per-domain window is bounded by the politeness
    #    budget (≤ max_per_wave rows per domain survive), so no skew
    #    hazard at any corpus scale.
    w_slot = (
        Window.partitionBy("registered_domain")
        .orderBy("fetch_order")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    _delay = F.coalesce(F.col("crawl_delay"), F.lit(0.0))
    sched = batch.withColumn(
        "fetch_at_s",
        (F.sum(_delay).over(w_slot) - _delay).cast("double"),
    )
    fetch_batch = sched.select(
        *FRONTIER_COLS, "fetch_order", "crawl_delay", "fetch_at_s"
    ).withColumn("state", F.lit("FETCHING"))

    # 5. fetch emulation: html lookup in the pages corpus (left join —
    #    dead links surface as null html), then ONE Arrow crossing for
    #    extract. Scheduling columns only until here; html enters now.
    page_side = pages.select("url", "warc_ts", "html", "lang")
    joined = fetch_batch.drop("state", "wave", "crawl_delay", "fetch_at_s").join(
        page_side, on="url", how="left"
    )
    fetched = joined.mapInPandas(_fetch_extract, schema=_FETCH_OUT_SCHEMA)
    if persist:
        # feeds BFS expansion (frontier') AND pages_delta — one Arrow pass
        fetched = fetched.persist()

    # 6. BFS expansion: explode outlinks → canon → depth+1 (A6)
    links = (
        fetched.select(
            F.col("depth").alias("_src_depth"),
            F.explode_outer("outlinks").alias("url"),
        )
        .filter(F.col("url").isNotNull())
    )
    new_cand = canonicalized(links, psl=psl).withColumn(
        "depth", (F.col("_src_depth") + 1).cast("int")
    ).drop("_src_depth")
    new_cand = new_cand.withColumn(
        "priority", priority_col(1.0, F.col("depth"), 0.0)
    ).withColumn("state", F.lit("QUEUED")).withColumn(
        "wave", F.lit(wave + 1)
    ).select(*FRONTIER_COLS)
    new_cand = dedupe_within(new_cand)

    # 7. next state: seen' = seen ∪ scheduled; frontier' = deferred ∪ new.
    #    No distinct() needed: scheduled rows survived the anti-join
    #    (disjoint from seen) and dedupe_within (unique by url_hash), so
    #    seen_delta — the append-only increment the snapshot store
    #    persists per wave — is disjoint from every seen part.
    #    retries are already seen — only first attempts extend the set
    scheduled_urls = batch.filter(~F.col("_is_retry")).select("url", "url_hash")

    carry = deferred.withColumn(
        "state",
        F.when(F.col("_is_retry"), F.lit("RETRY")).otherwise(F.lit("QUEUED")),
    ).withColumn("wave", F.lit(wave + 1)).select(*FRONTIER_COLS)
    # admission dedupe vs seen' — chained per part (≡ anti vs union,
    # NOT IN (A∪B) == NOT IN A AND NOT IN B) so the compacted part's
    # bucket layout is preserved here too
    new_novel = anti_join_seen_parts(
        new_cand, seen + [scheduled_urls, carry]
    )
    frontier_next = carry.unionByName(new_novel)
    frontier_next = dedupe_within(frontier_next)

    # 8. lineage counters (BASELINE.json:L6 fetched/deduped/deferred)
    def _cnt(df: DataFrame, name: str) -> DataFrame:
        return df.groupBy("registered_domain").agg(F.count("*").alias(name))

    # "deduped" = candidates already in seen — semi-join per PART
    # (parts are disjoint, so the union of hits counts each candidate
    # once; no distinct on the seen side — it's a set by construction,
    # and the old distinct was a full 10^10-key hash agg per wave).
    # With a compacted bucketed part, this semi-join is also
    # exchange-free on the seen side.
    _dedup_hits = None
    for _part in seen:
        _h = cand.join(_part.select("url_hash"), "url_hash", "left_semi")
        _dedup_hits = _h if _dedup_hits is None else _dedup_hits.unionByName(_h)

    lineage = (
        _cnt(cand, "candidates")
        .join(_cnt(_dedup_hits, "deduped"), "registered_domain", "full")
        .join(_cnt(blocked, "blocked"), "registered_domain", "full")
        .join(_cnt(deferred, "deferred"), "registered_domain", "full")
        .join(_cnt(fetch_batch, "fetched"), "registered_domain", "full")
        .fillna(0)
        .withColumn("wave", F.lit(wave))
    )

    # fetch failures (dead links / transient errors surface as null
    # html in the emulation): Crawl.step folds these into the retry
    # ledger and re-injects them as RETRY rows under the retry budget
    failed = fetched.filter(F.col("text").isNull()).select(
        "url", "url_hash", "host", "registered_domain", "depth", "priority"
    )

    persisted = tuple(
        df for df in (cand, polite, fetched) if persist and df.is_cached
    ) + ((rank_cache,) if rank_cache is not None else ())
    return WaveResult(
        wave=wave,
        fetch_batch=fetch_batch,
        fetched=fetched,
        frontier_next=frontier_next,
        seen_delta=scheduled_urls,
        lineage=lineage,
        failed=failed,
        persisted=persisted,
    )
