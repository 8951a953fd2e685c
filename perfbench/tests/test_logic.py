"""Unit tests for the benchmark's own logic (no Spark needed):

    python3 -m pytest perfbench/tests -q
"""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__)))))

from perfbench import checks  # noqa: E402
from perfbench.stats import (  # noqa: E402
    fingerprint, percentile, self_times, summarize, tail_q,
)


# ------------------------------------------------------------- percentiles
def test_percentile_nearest_rank():
    xs = list(range(1, 101))
    assert percentile(xs, 50) == 50
    assert percentile(xs, 90) == 90
    assert percentile(xs, 100) == 100
    assert percentile([7.0], 99) == 7.0


def test_summarize_reports_tail_only_with_ten_samples_beyond():
    assert summarize([3.0, 1.0, 2.0]) == {"p50": 2.0, "n": 3}
    assert tail_q(99) is None
    assert tail_q(100) == 90.0
    s = summarize([float(i) for i in range(1000)])
    assert s["n"] == 1000 and "p99" in s and "p99.9" not in s


# ---------------------------------------------------------------- self time
def test_self_time_subtracts_merged_child_intervals():
    spans = [
        {"id": 0, "parent": None, "start": 0.0, "end": 10.0},
        {"id": 1, "parent": 0, "start": 1.0, "end": 3.0},
        {"id": 2, "parent": 0, "start": 2.0, "end": 5.0},   # overlaps 1
        {"id": 3, "parent": 0, "start": 8.0, "end": 12.0},  # clipped at 10
        {"id": 4, "parent": 2, "start": 2.5, "end": 3.5},   # grandchild
    ]
    st = self_times(spans)
    assert st[0] == 10.0 - (5.0 - 1.0) - (10.0 - 8.0)
    assert st[1] == 2.0
    assert st[2] == 3.0 - 1.0
    assert st[4] == 1.0


# -------------------------------------------------------------- fingerprint
def test_fingerprint_is_order_sensitive_and_stable():
    a, b = (1, "x", 10), (2, "y", 20)
    assert fingerprint([a, b]) == fingerprint([a, b])
    assert fingerprint([a, b]) != fingerprint([b, a])
    assert fingerprint([a, b]) != fingerprint([a, (2, "y", 21)])
    assert fingerprint([a]) != fingerprint([a, a])


# ------------------------------------------------------------ robots rules
def test_robots_first_matching_rule_decides():
    rules = checks.rules_by_host([
        {"host": "a.site.example", "rule_order": 1, "agent": "*",
         "allow": True, "path_prefix": "/"},
        {"host": "a.site.example", "rule_order": 0, "agent": "*",
         "allow": False, "path_prefix": "/private"},
        {"host": "a.site.example", "rule_order": 0, "agent": "bot",
         "allow": True, "path_prefix": "/private"},
    ])
    assert not checks.robots_allows("https://a.site.example/private/x", rules)
    assert checks.robots_allows("https://a.site.example/p/x", rules)
    assert checks.robots_allows("https://b.site.example/private/x", rules)


# ----------------------------------------------------------- schedule check
def _schedule_case():
    def u(d, i, p="p"):
        return f"https://www.{d}.example/{p}/{i}"

    canon = [{"url": u("d1", i), "registered_domain": "d1.example"}
             for i in range(5)]
    canon += [{"url": u("d2", i), "registered_domain": "d2.example"}
              for i in range(3)]
    canon += [
        {"url": u("d2", 0, "private"), "registered_domain": "d2.example"},
        # a repeat spelling of an already-listed url
        {"url": u("d1", 0), "registered_domain": "d1.example"},
    ]
    robots = [{"host": "www.d2.example", "rule_order": 0, "agent": "*",
               "allow": False, "path_prefix": "/private"}]
    seen = {u("d1", 4), u("d2", 2)}
    want, blocked = checks.expected_schedule(
        canon, seen, robots, {"d1.example": 2}, default_budget=8)
    scheduled = [
        {"url": u("d1", 0), "registered_domain": "d1.example", "fetch_order": 1},
        {"url": u("d2", 0), "registered_domain": "d2.example", "fetch_order": 2},
        {"url": u("d1", 1), "registered_domain": "d1.example", "fetch_order": 3},
        {"url": u("d2", 1), "registered_domain": "d2.example", "fetch_order": 4},
    ]
    return scheduled, want, seen, blocked


def test_expected_schedule_counts():
    _, want, _, blocked = _schedule_case()
    # d1: 4 novel, budget 2; d2: 2 novel allowed (one seen, one blocked)
    assert want == {"d1.example": 2, "d2.example": 2}
    assert blocked == {"https://www.d2.example/private/0"}


def test_schedule_check_accepts_correct_batch():
    scheduled, want, seen, blocked = _schedule_case()
    assert checks.check_schedule(scheduled, want, seen, blocked) == []


def test_schedule_check_rejects_over_budget_domain():
    scheduled, want, seen, blocked = _schedule_case()
    scheduled.append({"url": "https://www.d1.example/p/2",
                      "registered_domain": "d1.example", "fetch_order": 5})
    bad = checks.check_schedule(scheduled, want, seen, blocked)
    assert any("wrong scheduled count" in b for b in bad)


def test_schedule_check_rejects_seen_url():
    scheduled, want, seen, blocked = _schedule_case()
    scheduled[3] = {"url": "https://www.d2.example/p/2",
                    "registered_domain": "d2.example", "fetch_order": 4}
    bad = checks.check_schedule(scheduled, want, seen, blocked)
    assert any("already seen" in b for b in bad)


def test_schedule_check_rejects_blocked_url_and_gaps():
    scheduled, want, seen, blocked = _schedule_case()
    scheduled[3] = {"url": "https://www.d2.example/private/0",
                    "registered_domain": "d2.example", "fetch_order": 7}
    bad = checks.check_schedule(scheduled, want, seen, blocked)
    assert any("robots-blocked" in b for b in bad)
    assert any("not dense" in b for b in bad)


# -------------------------------------------------------------- crawl check
def _crawl_case():
    waves = [
        {"wave": 1, "retry_urls": set(),
         "fetches": [("u1", "d1"), ("u2", "d1"), ("dead", "d2")]},
        {"wave": 2, "retry_urls": {"dead"},
         "fetches": [("u3", "d1"), ("dead", "d2")]},
    ]
    return waves, {"d1": 2}, ["u1", "u2", "u3", "dead"]


def test_crawl_check_accepts_retry_refetch():
    waves, budget, seen = _crawl_case()
    assert checks.check_crawl(waves, budget, 1, seen) == []


def test_crawl_check_rejects_over_budget_domain():
    waves, budget, seen = _crawl_case()
    waves[1]["fetches"] += [("u4", "d1"), ("u5", "d1")]
    bad = checks.check_crawl(waves, budget, 1, seen)
    assert [w for w, m in bad if "over budget" in m] == [2]


def test_crawl_check_rejects_duplicate_fetch():
    waves, budget, seen = _crawl_case()
    waves[1]["fetches"].append(("u1", "d1"))  # no retry ledger row
    bad = checks.check_crawl(waves, budget, 1, seen)
    assert any("without a retry ledger row" in m for _, m in bad)
    waves, budget, seen = _crawl_case()
    waves[0]["fetches"].append(("u2", "d3"))  # twice in one wave
    bad = checks.check_crawl(waves, budget, 1, seen)
    assert any("fetched twice" in m for _, m in bad)


def test_crawl_check_rejects_duplicate_seen_url():
    waves, budget, seen = _crawl_case()
    bad = checks.check_crawl(waves, budget, 1, seen + ["u2"])
    assert bad == [(2, "seen set has 1 duplicate(s)")]


# ---------------------------------------------------------------- generator
def test_crawl_corpus_shape_does_not_depend_on_the_seed():
    from perfbench import gen

    def shape(seed):
        t = gen.crawl_corpus(seed, 120, 6, 40, 3)
        rules = checks.rules_by_host(t["robots_rules"].to_dict("records"))
        seeds = t["seeds"]["url"].tolist()
        per_dom = sorted(u.split("/")[2].split(".", 1)[1] for u in seeds)
        allowed = sum(checks.robots_allows(u, rules) for u in seeds)
        return len(t["pages"]), per_dom, allowed, t["politeness_budget"].values.tolist()

    assert shape(1) == shape(2)
    a, b = gen.crawl_corpus(1, 120, 6, 40, 3), gen.crawl_corpus(2, 120, 6, 40, 3)
    assert a["pages"]["url"].tolist() != b["pages"]["url"].tolist()
    assert gen.crawl_corpus(1, 120, 6, 40, 3)["pages"].equals(a["pages"])
