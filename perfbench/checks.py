"""Output checks, computed independently of the scheduler's operators.

Every check takes plain Python data (collected from Spark, or kept by
the input generator) and returns its violations (empty = correct), so
the unit tests can plant violations without a Spark session.
"""

from __future__ import annotations

from collections import Counter, defaultdict
from typing import Iterable, Mapping
from urllib.parse import urlsplit


def robots_allows(url: str, rules_by_host: Mapping[str, list[tuple]]) -> bool:
    """First rule (by rule_order) whose prefix matches the URL path
    decides; no matching rule allows. ``rules_by_host[host]`` holds
    ``(rule_order, allow, path_prefix)`` tuples for agent ``*``."""
    parts = urlsplit(url)
    path = parts.path or "/"
    for _, allow, prefix in sorted(rules_by_host.get(parts.hostname or "", [])):
        if path.startswith(prefix):
            return bool(allow)
    return True


def rules_by_host(robots_rows: Iterable[Mapping]) -> dict[str, list[tuple]]:
    out: dict[str, list[tuple]] = defaultdict(list)
    for r in robots_rows:
        if r["agent"] == "*":
            out[r["host"]].append(
                (r["rule_order"], r["allow"], r["path_prefix"])
            )
    return out


def expected_schedule(
    canon_rows: Iterable[Mapping],
    seen_urls: set[str],
    robots_rows: Iterable[Mapping],
    budget: Mapping[str, int],
    default_budget: int,
) -> tuple[dict[str, int], set[str]]:
    """Per-domain scheduled count a correct pass must produce —
    min(budget, novel robots-allowed distinct URLs) — plus the novel
    URLs that robots blocks. ``canon_rows`` carry each frontier row's
    canonical ``url`` and ``registered_domain``."""
    rules = rules_by_host(robots_rows)
    allowed: dict[str, set[str]] = defaultdict(set)
    blocked: set[str] = set()
    for r in canon_rows:
        u = r["url"]
        if u in seen_urls:
            continue
        if robots_allows(u, rules):
            allowed[r["registered_domain"]].add(u)
        else:
            blocked.add(u)
    want = {
        d: min(budget.get(d, default_budget), len(hs))
        for d, hs in allowed.items()
    }
    return {d: n for d, n in want.items() if n > 0}, blocked


def check_schedule(
    scheduled: Iterable[Mapping],
    expected: Mapping[str, int],
    seen_urls: set[str],
    blocked_urls: set[str],
) -> list[str]:
    """Violations in one scheduling pass's fetch batch (rows with the
    canonical ``url``, ``registered_domain`` and ``fetch_order``)."""
    rows = list(scheduled)
    bad = []
    seen_hits = sum(1 for r in rows if r["url"] in seen_urls)
    if seen_hits:
        bad.append(f"{seen_hits} scheduled url(s) already seen")
    blocked_hits = sum(1 for r in rows if r["url"] in blocked_urls)
    if blocked_hits:
        bad.append(f"{blocked_hits} robots-blocked url(s) scheduled")
    got = Counter(r["registered_domain"] for r in rows)
    wrong = sorted(
        d for d in set(got) | set(expected) if got[d] != expected.get(d, 0)
    )
    if wrong:
        d = wrong[0]
        bad.append(
            f"{len(wrong)} domain(s) with a wrong scheduled count, e.g. "
            f"{d}: got {got[d]}, want {expected.get(d, 0)}"
        )
    orders = sorted(r["fetch_order"] for r in rows)
    if orders != list(range(1, len(rows) + 1)):
        bad.append("fetch_order is not dense from 1 to n")
    return bad


def check_crawl(
    waves: Iterable[Mapping],
    budget: Mapping[str, int],
    default_budget: int,
    seen_urls: Iterable[str],
) -> list[tuple[int, str]]:
    """(wave, violation) pairs across committed crawl waves. Each wave
    is ``{"wave", "fetches": [(url, registered_domain)], "retry_urls":
    set}`` where ``retry_urls`` is the retry ledger of the snapshot the
    wave started from (the only URLs it may fetch again). A duplicate
    in the final seen set is charged to the last wave."""
    bad = []
    fetched_before: set[str] = set()
    waves = sorted(waves, key=lambda w: w["wave"])
    for w in waves:
        n = w["wave"]
        urls = [u for u, _ in w["fetches"]]
        per_dom = Counter(d for _, d in w["fetches"])
        over = sorted(
            d for d, k in per_dom.items() if k > budget.get(d, default_budget)
        )
        if over:
            bad.append((n, f"{len(over)} domain(s) over budget, e.g. "
                           f"{over[0]} fetched {per_dom[over[0]]}"))
        dup_in_wave = [u for u, k in Counter(urls).items() if k > 1]
        if dup_in_wave:
            bad.append((n, f"{len(dup_in_wave)} url(s) fetched twice"))
        refetch = [
            u for u in set(urls)
            if u in fetched_before and u not in w["retry_urls"]
        ]
        if refetch:
            bad.append((n, f"{len(refetch)} url(s) re-fetched without a "
                           f"retry ledger row"))
        fetched_before.update(urls)
    seen = list(seen_urls)
    if waves and len(seen) != len(set(seen)):
        bad.append((waves[-1]["wave"],
                    f"seen set has {len(seen) - len(set(seen))} duplicate(s)"))
    return bad
