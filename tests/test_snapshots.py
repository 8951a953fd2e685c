"""ParquetSnapshotStore semantics + crawl resume-equivalence (SURVEY.md §5.2.4)."""

import json
import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from tweetf0rm_spark.crawl import Crawl, CrawlConfig
from tweetf0rm_spark.sources.snapshots import ParquetSnapshotStore


@pytest.fixture()
def store(tmp_path):
    return ParquetSnapshotStore(str(tmp_path / "wh"))


def test_commit_read_time_travel(spark, store):
    df0 = spark.range(0, 5).select(F.col("id"))
    df1 = spark.range(0, 9).select(F.col("id"))
    store.commit(0, {"t": df0}, meta={"wave": 0})
    store.commit(1, {"t": df1}, meta={"wave": 1})
    assert store.current() == 1
    assert store.read(spark, "t").count() == 9          # current
    assert store.read(spark, "t", 0).count() == 5       # time travel
    assert store.meta(1)["wave"] == 1
    assert store.meta(1)["parent"] == 0


def test_commit_is_monotonic(spark, store):
    store.commit(0, {"t": spark.range(1)})
    with pytest.raises(ValueError):
        store.commit(0, {"t": spark.range(2)})


def test_unpointed_data_is_invisible(spark, store):
    """Crash emulation: a snap dir exists but the manifest was never
    swapped — reads of 'current' must not see it."""
    store.commit(0, {"t": spark.range(3)})
    # write orphan data for snap 1 without touching the manifest
    spark.range(99).write.parquet(os.path.join(store.root, "t", "snap=1"))
    assert store.current() == 0
    assert store.read(spark, "t").count() == 3
    # and a later real commit overwrites the orphan cleanly
    store.commit(1, {"t": spark.range(7)})
    assert store.read(spark, "t", 1).count() == 7


def test_missing_table_raises(spark, store):
    store.commit(0, {"t": spark.range(1)})
    with pytest.raises(FileNotFoundError):
        store.read(spark, "nope")


def _mini_crawl(spark, corpus_dfs, root, waves):
    cr = Crawl(
        spark, root,
        corpus_dfs["pages"], corpus_dfs["robots_rules"],
        corpus_dfs["politeness_budget"], CrawlConfig(batch_size=100),
    )
    cr.init(corpus_dfs["seeds"])
    cr.run(max_waves=waves)
    return cr


def test_blob_commits_are_deltas(spark, corpus_dfs):
    """Per-wave seen_blobs commits hold only new/updated chain links —
    O(delta) bytes — while _blobs_upto reconstructs the full table; the
    bloom pre-check over the merged chain stays exact (the crawl's own
    dedupe invariants are pinned elsewhere)."""
    root = tempfile.mkdtemp(prefix="crawl_blobdelta_")
    cr = _mini_crawl(spark, corpus_dfs, root, waves=3)
    snap = cr.store.current()
    assert snap >= 3
    merged = cr._blobs_upto(snap)
    last_delta = cr.store.read(spark, "seen_blobs", snap)
    p = cr.cfg.p
    # a wave's delta touches at most one updated + one appended link
    # per (partition, kind); the merged table is the whole chain
    assert last_delta.count() <= p * 2 * 2
    assert merged.count() >= last_delta.count()
    # merged chain has exactly one row per (partition, kind, link)
    dup = (
        merged.groupBy("partition_id", "kind", "link_id").count()
        .filter("count > 1").count()
    )
    assert dup == 0
    # and it covers every seen key with zero false negatives
    from tweetf0rm_spark.operators.seenset import probe_seen_blobs

    seen = cr._seen_upto(snap)
    probed = probe_seen_blobs(seen, merged, p=p, kind="bloom")
    assert probed.filter("not maybe_seen").count() == 0
    shutil.rmtree(root)


def test_resume_equivalence(spark, corpus_dfs):
    """Kill-after-wave-k + resume() must equal the uninterrupted run:
    frontier, seen set and fetch order all exceptAll-empty both ways."""
    root_a = tempfile.mkdtemp(prefix="crawl_a_")
    cr_a = _mini_crawl(spark, corpus_dfs, root_a, waves=3)

    # copy the store, roll back to snapshot 2 (≙ killed during wave 2)
    root_b = tempfile.mkdtemp(prefix="crawl_b_")
    shutil.rmtree(root_b)
    shutil.copytree(root_a, root_b)
    mp = os.path.join(root_b, "_manifest.json")
    m = json.load(open(mp))
    m["current"] = 2
    m["snapshots"] = {k: v for k, v in m["snapshots"].items() if int(k) <= 2}
    json.dump(m, open(mp, "w"))

    cr_b = Crawl(
        spark, root_b,
        corpus_dfs["pages"], corpus_dfs["robots_rules"],
        corpus_dfs["politeness_budget"], CrawlConfig(batch_size=100),
    )
    cr_b.resume()

    for table in ("frontier", "seen_delta"):
        a = cr_a.store.read(spark, table, 3)
        b = cr_b.store.read(spark, table, 3)
        assert a.exceptAll(b).count() == 0, table
        assert b.exceptAll(a).count() == 0, table
    # full accumulated seen set equal both ways too
    sa, sb = cr_a.seen_urls(3), cr_b.seen_urls(3)
    assert sa.exceptAll(sb).count() == 0
    assert sb.exceptAll(sa).count() == 0
    assert cr_a.fetch_trace(3) == cr_b.fetch_trace(3)

    shutil.rmtree(root_a)
    shutil.rmtree(root_b)

