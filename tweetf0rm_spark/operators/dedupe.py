"""Seen-set deduplication (SURVEY.md §2.A A7, §2.B anti-join row).

The reference checks a redis set before re-issuing a crawl command for
a user id (``[U] tweetf0rm/handler/crawl_user_relationship_command_handler.py``).
Distributed equivalent (BASELINE.json:L6): "dedupe new outlinks against
the seen-set via broadcast/shuffle hash join" with a bloom pre-check and
a partitioned cuckoo filter as the authoritative probabilistic state.

Scale notes (10^10-URL frontier):
- the anti-join shuffles both sides on ``url_hash`` — at cluster scale
  the seen-set side is already bucketed by ``pmod(url_hash, P)`` from
  the previous wave's build, so only the candidate side moves;
- below ``autoBroadcastJoinThreshold`` (or when ``hint='broadcast'``)
  the join is broadcast and shuffle-free;
- the bloom pre-check (``seenset.probe_seen_blobs``) is a cogroup that
  shuffles the candidates on ``partition_id`` to meet their partition's
  blob; bloom misses are novel outright, so only the bloom hits (seen
  urls plus false positives) reach the exact anti-join here.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def anti_join_seen(
    candidates: DataFrame,
    seen: DataFrame,
    key: str = "url_hash",
    hint: str | None = None,
) -> DataFrame:
    """Exact dedupe: candidates NOT IN seen (left anti hash join).

    No ``distinct()`` on the seen side: anti-join results are
    independent of right-side multiplicity, and the seen-set is a set
    by construction (every delta survived this same anti-join), so a
    dedupe pass would be a full hash-aggregate of 10^10 keys per wave
    for nothing."""
    seen_keys = seen.select(key)
    if hint == "broadcast":
        seen_keys = F.broadcast(seen_keys)
    elif hint:
        seen_keys = seen_keys.hint(hint)
    return candidates.join(seen_keys, on=key, how="left_anti")


def anti_join_seen_parts(
    candidates: DataFrame,
    parts: list[DataFrame],
    key: str = "url_hash",
) -> DataFrame:
    """Exact dedupe against a seen-set stored as several physical parts
    (compacted bucketed table + post-compaction deltas): ``NOT IN
    (A ∪ B ∪ …)`` ≡ a chain of anti-joins, so the parts never pay a
    union shuffle, and each join keeps its own physical strategy — the
    bucketed part joins WITHOUT a seen-side exchange (bucket metadata,
    see tools/bucket_demo.py), the small recent deltas broadcast."""
    out = candidates
    for p in parts:
        out = anti_join_seen(out, p, key=key)
    return out


def dedupe_within(df: DataFrame, key: str = "url_hash",
                  order_cols: tuple[str, ...] = ("depth", "url")) -> DataFrame:
    """Keep one deterministic representative per key *within* a batch
    (outlinks discovered twice in the same wave): min_by over the
    engine's total order, expressed as a struct-min aggregation —
    one shuffle, map-side partial aggregation applies."""
    cols = df.columns
    packed = df.select(
        key,
        F.struct(*[F.col(c) for c in order_cols if c != key],
                 *[F.col(c) for c in cols if c not in order_cols and c != key]
                 ).alias("_row"),
    )
    out = packed.groupBy(key).agg(F.min("_row").alias("_row"))
    return out.select(key, "_row.*").select(*cols)
