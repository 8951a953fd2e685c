"""Seen-set compaction (Crawl.compact): crawl results must be
IDENTICAL with and without compaction, the compacted part must join
without a seen-side exchange (the point of bucketing), and the
external bucketed table must survive catalog loss (session restart)."""

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from tweetf0rm_spark.crawl import Crawl, CrawlConfig
from tweetf0rm_spark.operators.dedupe import anti_join_seen_parts


def _crawl(spark, corpus_dfs, root):
    cr = Crawl(
        spark, root,
        corpus_dfs["pages"], corpus_dfs["robots_rules"],
        corpus_dfs["politeness_budget"], CrawlConfig(batch_size=100),
    )
    cr.init(corpus_dfs["seeds"])
    return cr


@pytest.fixture(scope="module")
def compacted_pair(spark, corpus_dfs):
    """A: 4 straight waves. B: 2 waves, compact, 2 waves."""
    root_a = tempfile.mkdtemp(prefix="crawl_nocomp_")
    cr_a = _crawl(spark, corpus_dfs, root_a)
    cr_a.run(max_waves=4)

    root_b = tempfile.mkdtemp(prefix="crawl_comp_")
    cr_b = _crawl(spark, corpus_dfs, root_b)
    cr_b.step()
    cr_b.step()
    tbl = cr_b.compact(buckets=8)
    cr_b.step()
    cr_b.step()
    yield cr_a, cr_b, tbl
    spark.sql(f"DROP TABLE IF EXISTS {tbl}")
    shutil.rmtree(root_a, ignore_errors=True)
    shutil.rmtree(root_b, ignore_errors=True)


def test_compaction_preserves_crawl(compacted_pair, spark):
    cr_a, cr_b, _ = compacted_pair
    snap = cr_a.store.current()
    assert snap == cr_b.store.current()
    assert cr_a.fetch_trace(snap) == cr_b.fetch_trace(snap)
    sa, sb = cr_a.seen_urls(snap), cr_b.seen_urls(snap)
    assert sa.exceptAll(sb).count() == 0
    assert sb.exceptAll(sa).count() == 0
    # parts cover exactly the same keys as the delta chain
    parts = cr_b._seen_parts(snap)
    union = parts[0]
    for p in parts[1:]:
        union = union.unionByName(p)
    assert union.exceptAll(cr_b._seen_upto(snap)).count() == 0
    assert cr_b._seen_upto(snap).exceptAll(union).count() == 0


def test_auto_compaction_bounds_parts_and_preserves_crawl(spark, corpus_dfs):
    """Crawl.step auto-compacts when the delta chain exceeds
    max_seen_parts: the part count stays bounded across waves and the
    crawl is byte-identical to an uncompacted run."""
    root = tempfile.mkdtemp(prefix="crawl_autocomp_")
    cfg = CrawlConfig(batch_size=60, max_seen_parts=3, compact_buckets=8)
    cr = Crawl(
        spark, root, corpus_dfs["pages"], corpus_dfs["robots_rules"],
        corpus_dfs["politeness_budget"], cfg,
    )
    cr.init(corpus_dfs["seeds"])
    root_m = tempfile.mkdtemp(prefix="crawl_manual_")
    cr_m = Crawl(
        spark, root_m, corpus_dfs["pages"], corpus_dfs["robots_rules"],
        corpus_dfs["politeness_budget"],
        CrawlConfig(batch_size=60, max_seen_parts=0),
    )
    cr_m.init(corpus_dfs["seeds"])

    compactions = 0
    try:
        for _ in range(8):
            s = cr.step()
            compactions += bool(s["compacted"])
            cr_m.step()
            snap = cr.store.current()
            assert len(cr._seen_parts(snap)) <= cfg.max_seen_parts, snap
        assert compactions >= 2, "auto-compaction never re-triggered"
        snap = cr.store.current()
        assert cr.fetch_trace(snap) == cr_m.fetch_trace(snap)
        sa, sb = cr.seen_urls(snap), cr_m.seen_urls(snap)
        assert sa.exceptAll(sb).count() == 0
        assert sb.exceptAll(sa).count() == 0
        # uncompacted control really did accumulate one part per wave
        assert len(cr_m._seen_parts(snap)) == snap + 1
    finally:
        marker = cr._read_compaction()
        if marker is not None:
            spark.sql(f"DROP TABLE IF EXISTS {marker['table']}")
        shutil.rmtree(root, ignore_errors=True)
        shutil.rmtree(root_m, ignore_errors=True)


def test_compacted_join_has_no_seen_side_exchange(compacted_pair, spark):
    """The load-bearing property: an anti-join against the compacted
    part plans WITHOUT an Exchange above the bucketed scan — only the
    candidate side shuffles (broadcast disabled to force the hash-join
    regime the 10^10 design lives in)."""
    _, cr_b, tbl = compacted_pair
    cand = spark.range(1000).select(
        F.xxhash64("id").alias("url_hash")
    )
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        novel = cand.join(
            spark.table(tbl).select("url_hash"), "url_hash", "left_anti"
        )
        plan = spark._jvm.org.apache.spark.sql.api.python.PythonSQLUtils \
            .explainString(novel._jdf.queryExecution(), "simple")
        n_exch = sum(
            "Exchange hashpartitioning" in line for line in plan.splitlines()
        )
        assert n_exch == 1, plan  # candidate side only
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_compacted_table_survives_catalog_loss(compacted_pair, spark):
    """Simulate a session restart: drop the table from the (in-memory)
    catalog; _seen_parts must re-register it from the marker with the
    bucket spec intact and return the same keys."""
    _, cr_b, tbl = compacted_pair
    snap = cr_b.store.current()
    before = {r.url_hash for r in cr_b._seen_upto(snap).collect()}
    spark.sql(f"DROP TABLE {tbl}")
    parts = cr_b._seen_parts(snap)
    union = parts[0]
    for p in parts[1:]:
        union = union.unionByName(p)
    assert {r.url_hash for r in union.collect()} == before
    # bucket spec survived the DDL replay
    desc = spark.sql(f"DESCRIBE TABLE EXTENDED {tbl}").collect()
    txt = "\n".join(f"{r.col_name} {r.data_type}" for r in desc)
    assert "url_hash" in txt and "8" in txt.split("Num Buckets")[1][:6]


def test_step_reads_no_compacted_delta(spark, corpus_dfs, monkeypatch):
    """After a compaction, a step reads the compacted table plus the
    deltas committed after it — never a ``seen_delta`` snapshot the
    compacted table already holds, so the per-step read set stays
    bounded however many waves ran before. Auto-compaction is off, so
    the recorded step does not compact (compaction rebuilds from the
    whole chain by design)."""
    root = tempfile.mkdtemp(prefix="crawl_readset_")
    cr = Crawl(
        spark, root, corpus_dfs["pages"], corpus_dfs["robots_rules"],
        corpus_dfs["politeness_budget"],
        CrawlConfig(batch_size=100, max_seen_parts=0),
    )
    cr.init(corpus_dfs["seeds"])
    tbl = None
    try:
        cr.step()
        tbl = cr.compact(buckets=8)
        cr.step()  # one delta after the compacted table
        marker = cr._read_compaction()
        reads = []
        read = cr.store.read

        def recording_read(spark_, table, snap=None):
            reads.append((table, snap))
            return read(spark_, table, snap)

        monkeypatch.setattr(cr.store, "read", recording_read)
        cr.step()
        seen_snaps = [s for t, s in reads if t == "seen_delta"]
        assert seen_snaps == [marker["snap"] + 1], reads
    finally:
        if tbl is not None:
            spark.sql(f"DROP TABLE IF EXISTS {tbl}")
        shutil.rmtree(root, ignore_errors=True)
