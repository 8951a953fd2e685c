"""Wave-job invariants on the golden corpus (SURVEY.md §5.2)."""

import collections

import pytest
from pyspark.sql import functions as F

from tweetf0rm_spark.operators.seenset import build_seen_blobs
from tweetf0rm_spark.wave import empty_seen, init_frontier, run_wave


def _wave(spark, corpus_dfs, frontier, seen, w, **kw):
    return run_wave(
        spark, frontier, seen,
        corpus_dfs["pages"], corpus_dfs["robots_rules"],
        corpus_dfs["politeness_budget"], wave=w, batch_size=150, **kw,
    )


@pytest.fixture(scope="module")
def two_waves(spark, corpus_dfs):
    """Two chained waves; the seen set after each is the union of the
    waves' ``seen_delta`` outputs, which each result also keeps."""
    frontier = init_frontier(spark, corpus_dfs["seeds"])
    seen = empty_seen(spark)
    results = []
    for w in range(2):
        r = _wave(spark, corpus_dfs, frontier, seen, w)
        delta = r.seen_delta.localCheckpoint()
        results.append(
            {
                "batch": r.fetch_batch.orderBy("fetch_order").collect(),
                "fetched": r.fetched.collect(),
                "seen_delta": delta,
            }
        )
        frontier = r.frontier_next.localCheckpoint()
        seen = seen.unionByName(delta)
    return results, frontier, seen


def test_wave0_fetches_all_seeds(two_waves, corpus_dfs):
    results, _, _ = two_waves
    n_seeds = corpus_dfs["seeds"].count()
    assert len(results[0]["batch"]) == n_seeds


def test_politeness_invariant(two_waves, corpus_dfs):
    results, _, _ = two_waves
    budgets = {
        r.registered_domain: r.max_per_wave
        for r in corpus_dfs["politeness_budget"].collect()
    }
    for res in results:
        cnt = collections.Counter(x.registered_domain for x in res["batch"])
        for dom, n in cnt.items():
            assert n <= budgets.get(dom, 32), (dom, n)


def test_robots_invariant(two_waves, corpus_dfs):
    results, _, _ = two_waves
    blocked_hosts = {
        r.host
        for r in corpus_dfs["robots_rules"]
        .filter((~F.col("allow")) & (F.col("path_prefix") == "/"))
        .collect()
    }
    for res in results:
        for row in res["batch"]:
            assert row.host not in blocked_hosts


def test_no_refetch_across_waves(two_waves):
    results, _, _ = two_waves
    w0 = {r.url for r in results[0]["batch"]}
    w1 = {r.url for r in results[1]["batch"]}
    assert not (w0 & w1)


def test_fetch_order_is_priority_order(two_waves):
    results, _, _ = two_waves
    for res in results:
        rows = res["batch"]
        keys = [(-r.priority, r.depth, r.url_hash) for r in rows]
        assert keys == sorted(keys)


def test_byte_identity_of_extracted_text(two_waves, corpus):
    _, _, _ = two_waves
    results = two_waves[0]
    stored = dict(zip(corpus.pages.url, corpus.pages.text))
    checked = 0
    for res in results:
        for row in res["fetched"]:
            if row.url in stored:
                assert row.text == stored[row.url], row.url
                checked += 1
    assert checked > 0


def test_dead_links_have_null_html(two_waves):
    results, _, _ = two_waves
    dead = [r for res in results for r in res["fetched"] if r.html is None]
    for r in dead:
        assert r.text is None


def test_seen_set_is_exactly_scheduled_urls(two_waves):
    results, _, seen = two_waves
    scheduled = {r.url for res in results for r in res["batch"]}
    seen_urls = {r.url for r in seen.collect()}
    assert seen_urls == scheduled


def test_frontier_next_disjoint_from_seen(two_waves):
    _, frontier, seen = two_waves
    inter = frontier.join(seen.select("url_hash"), "url_hash", "left_semi")
    assert inter.count() == 0


def test_fetch_at_schedule(two_waves, corpus_dfs):
    """Engine-path crawl-delay schedule (VERDICT r3 "Next round" #4;
    running-sum semantics per ADVICE r4): every scheduled row carries
    the crawl_delay of its url's FIRST matching robots rule, and per
    domain the k-th row in fetch order fetches at the SUM of the
    preceding k-1 slots' delays — monotone in fetch order even when
    robots gives different delays to different path prefixes of one
    host ((k-1)*delay when host-uniform)."""
    rules = {}
    for r in (
        corpus_dfs["robots_rules"]
        .filter(F.col("agent") == "*")
        .orderBy("host", "rule_order")
        .collect()
    ):
        rules.setdefault(r.host, []).append(r)

    def expected_delay(url):
        host = url.split("://", 1)[1].split("/", 1)[0]
        path = "/" + url.split("://", 1)[1].split("/", 1)[1] if "/" in url.split("://", 1)[1] else "/"
        for r in rules.get(host, []):
            if path.startswith(r.path_prefix):
                return r.crawl_delay
        return 0.0

    results, _, _ = two_waves
    saw_nonzero = False
    prev_at = collections.defaultdict(float)
    for res in results:
        cum = collections.defaultdict(float)
        for row in res["batch"]:  # already ordered by fetch_order
            want_delay = expected_delay(row.url)
            assert row.crawl_delay == want_delay, (row.url, row.crawl_delay)
            dom = row.registered_domain
            assert row.fetch_at_s == pytest.approx(cum[dom]), row.url
            # monotone within the domain regardless of per-path delays
            assert row.fetch_at_s >= prev_at[dom] - 1e-9
            prev_at[dom] = row.fetch_at_s
            cum[dom] += want_delay
            saw_nonzero = saw_nonzero or want_delay > 0
        prev_at.clear()
    assert saw_nonzero, "corpus exercised no nonzero crawl_delay"


def test_seen_parts_equal_their_union(spark, two_waves, corpus_dfs):
    """``seen`` given as disjoint parts [a, b] schedules exactly like
    ``seen=a ∪ b``, with the bloom pre-check in front of the exact
    anti-join as in a crawl. The wave-2 frontier also carries the
    already-seen seeds, so the exact confirm, the BFS admission dedupe
    and the lineage's deduped count all probe the seen parts."""
    results, frontier, _ = two_waves
    a, b = results[0]["seen_delta"], results[1]["seen_delta"]
    blobs = build_seen_blobs(a.unionByName(b))
    seeds = init_frontier(spark, corpus_dfs["seeds"])
    frontier = frontier.unionByName(seeds.withColumn("wave", F.lit(2)))

    def by_hash(df):
        return sorted(df.collect(), key=lambda x: x.url_hash)

    def wave2(seen):
        r = _wave(spark, corpus_dfs, frontier, seen, 2,
                  seen_blobs=blobs, persist=True)
        out = {
            "batch": r.fetch_batch.orderBy("fetch_order").collect(),
            "frontier_next": by_hash(r.frontier_next),
            "seen_delta": by_hash(r.seen_delta),
            "deduped": r.lineage.agg(F.sum("deduped")).first()[0],
        }
        r.unpersist()
        return out

    as_parts = wave2([a, b])
    assert as_parts == wave2(a.unionByName(b))
    assert as_parts["batch"] and as_parts["frontier_next"]
    assert as_parts["deduped"] == seeds.count()
