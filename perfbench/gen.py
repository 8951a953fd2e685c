"""Seeded input generators. Every value is a pure function of
``(seed, row)``: the same seed gives byte-identical inputs.

- :func:`crawl_corpus` — page corpus for ``crawl-bfs`` (pandas).
  Mirrors ``tweetf0rm_spark.datagen.gen_corpus`` but threads the
  workload seed through every hash (``gen_corpus`` always uses seed
  42), keeps the corpus shape independent of the seed and puts
  robots-relevant path prefixes into page URLs.
- :func:`schedule_inputs` — raw frontier, seen URLs, robots rules and
  budgets for the ``schedule-*`` passes (pandas).
"""

from __future__ import annotations

import hashlib

import pandas as pd

from tweetf0rm_spark.extract import extract_text

SUBS = ["www", "blog", "shop", "news"]
PREFIXES = ["/shop", "/private", "/tmp", "/admin"]
DELAYS = [0.0, 0.5, 1.0, 5.0]
LANGS = ["en", "es", "de", "fr", "zh", "pt"]
WORDS = (
    "lorem ipsum dolor sit amet consectetur adipiscing elit sed do eiusmod "
    "tempor incididunt ut labore et dolore magna aliqua"
).split()
EPOCH = pd.Timestamp("2026-01-01T00:00:00Z")


def h(*parts: object, seed: int) -> int:
    """Unsigned 64-bit md5 mix of ``(seed, *parts)`` — the same mix as
    ``tweetf0rm_spark.datagen.h``, kept here so that a change to the
    program's fixtures never moves the benchmark's inputs."""
    key = ":".join([str(seed)] + [str(p) for p in parts])
    return int.from_bytes(hashlib.md5(key.encode()).digest()[:8], "big")


def budget_for(j: int) -> int:
    """Per-wave budget of domain rank ``j``: hot domains get the larger
    budgets, cycling down to 2 (datagen's FIXTURES A5 shape)."""
    return max(1, 64 >> (j % 6))


# ------------------------------------------------------------ crawl-bfs
def _zipf_sizes(total: int, n: int, s: float = 1.2) -> list[int]:
    """``n`` Zipf-shaped sizes (rank j gets ~1/(j+1)^s), at least one
    each, summing to about ``total``."""
    w = [1.0 / (j + 1) ** s for j in range(n)]
    return [max(1, round(total * x / sum(w))) for x in w]


def crawl_corpus(
    seed: int,
    n_pages: int,
    n_domains: int,
    n_seeds: int,
    n_dead_seeds: int,
) -> dict[str, pd.DataFrame]:
    """Pages with HTML bodies on Zipf-sized domains, a seed list, dead
    seeds (URLs with no page, so the first wave fails them into the
    retry ledger), robots rules and per-domain budgets.

    The *shape* is fixed: how many pages and seeds each domain has,
    each page's host and path prefix, which hosts robots restricts and
    each page's link count depend only on the sizes, so the first wave
    schedules, blocks, defers and fetches the same number of URLs for
    every seed. The seed picks the URL paths, the link targets and the
    page text."""
    def hh(*parts):
        return h(*parts, seed=seed)

    sizes = _zipf_sizes(n_pages, n_domains)
    seeds_per = [min(n, k) for n, k in zip(sizes, _zipf_sizes(n_seeds, n_domains))]
    pos = [(j, k) for j, n in enumerate(sizes) for k in range(n)]
    urls = []
    for i, (j, k) in enumerate(pos):
        r = (k * 7) % 10
        pfx = PREFIXES[r] if r < len(PREFIXES) else ""
        urls.append(
            f"https://{SUBS[k % 4]}.site{j:04d}.example{pfx}"
            f"/{hh('p1', i) % 0xFFFF:x}/{hh('p2', i) % 0xFFFFFF:x}{i:x}"
        )
    first = [0]
    for n in sizes:
        first.append(first[-1] + n)

    pages = []
    for i, (j, k) in enumerate(pos):
        links = []
        for p in range(1 + (k * 5) % 20):
            r = hh("ltype", i, p) % 100
            if r < 95:  # 70% same domain, 25% any domain
                d = j if r < 70 else hh("xdom", i, p) % n_domains
                links.append(urls[first[d] + hh("ldst", i, p) % sizes[d]])
            elif r < 98:  # dead link
                links.append(f"https://void.site9999.example/{hh('dead', i, p) % 0xFFFFF:x}")
            else:  # non-canonical spelling of a live url
                host, _, path = urls[hh("vsrc", i, p) % len(urls)][8:].partition("/")
                links.append(f"HTTPS://{host.upper()}:443/{path}#frag")
        paras = "".join(
            "<p>" + " ".join(
                WORDS[hh("w", i, q, t) % len(WORDS)]
                for t in range(8 + hh("nw", i, q) % 25)
            ) + "</p>"
            for q in range(1 + hh("npar", i) % 5)
        )
        anchors = "".join(
            f'<a href="{u}">{WORDS[hh("anchor", i, p) % len(WORDS)]}</a>'
            for p, u in enumerate(links)
        )
        html = (
            f"<html><head><title>T{i}</title><script>var x={i};</script>"
            f"</head><body>{paras}{anchors}</body></html>"
        ).encode()
        pages.append((
            urls[i], EPOCH + pd.Timedelta(seconds=hh("ts", i) % (86400 * 90)),
            html, extract_text(html), LANGS[hh("lang", i) % len(LANGS)],
        ))

    seeds = [urls[first[j] + k] for j, n in enumerate(seeds_per) for k in range(n)]
    seeds += [
        f"https://www.site{k % n_domains:04d}.example/gone/{hh('dseed', k) % 0xFFFFF:x}{k:x}"
        for k in range(n_dead_seeds)
    ]
    robots = []
    for j in range(n_domains):
        for s, sub in enumerate(SUBS):
            host, hv, delay = f"{sub}.site{j:04d}.example", (j * 4 + s) % 50, DELAYS[(j + s) % 4]
            if hv == 7:
                robots.append((host, 0, "*", False, "/", delay))
            elif hv % 8 == 3:
                robots.append((host, 0, "*", False, PREFIXES[(j + s) % 4], delay))
            robots.append((host, int(hv == 7 or hv % 8 == 3), "*", True, "/", delay))
    return {
        "pages": pd.DataFrame(pages, columns=["url", "warc_ts", "html", "text", "lang"]),
        "seeds": pd.DataFrame({"url": seeds, "seed_rank": range(len(seeds))}),
        "robots_rules": pd.DataFrame(robots, columns=[
            "host", "rule_order", "agent", "allow", "path_prefix", "crawl_delay"]),
        "politeness_budget": pd.DataFrame(
            [(f"site{j:04d}.example", budget_for(j)) for j in range(n_domains)],
            columns=["registered_domain", "max_per_wave"],
        ),
    }


# ------------------------------------------------------- schedule-* passes
def _page(seed: int, pid: int, n_domains: int) -> tuple[str, str]:
    """(host, path) of page ``pid``. Domain rank floor(D^u) is
    log-uniform, so rank r gets ~1/r of the pages (Zipf-like; rank 1
    holds log 2 / log D of them)."""
    u = (h("dom", pid, seed=seed) % (1 << 40)) / float(1 << 40)
    dom = int(n_domains ** u)
    host = f"{SUBS[h('sub', pid, seed=seed) % 4]}.site{dom:05d}.example"
    pfx = (["/p"] * 6 + PREFIXES)[h("pfx", pid, seed=seed) % 10]
    return host, f"{pfx}/{h('path', pid, seed=seed) % (1 << 40):x}"


def _spelling(host: str, path: str, v: int) -> str:
    """One raw spelling of ``https://host+path``; every one canonicalizes
    to the same URL except the query spelling (its canonical form keeps
    ``?a=1&b=2``)."""
    if v == 1:
        return f"HTTPS://{host.upper()}{path}"
    if v == 2:
        return f"https://{host}:443{path}"
    if v == 3:
        return f"https://{host}{path}#frag"
    if v == 4:
        return f"https://{host}{path}?b=2&a=1&utm_source=x"
    if v == 5:  # %-escaped unreserved char: takes the pandas canonicalizer
        return f"https://{host}/%{ord(path[1]):02X}{path[2:]}"
    return f"https://{host}{path}"


def schedule_inputs(seed: int, n_rows: int, n_domains: int,
                    seen_pct: int) -> dict[str, pd.DataFrame]:
    """Raw frontier plus the inputs a scheduling pass reads.

    - ``frontier``: 90% of rows are a new page each, 10% repeat an
      earlier page under another raw spelling;
    - ``canon``: each frontier row's canonical URL and registered
      domain, known by construction (for the output check only);
    - ``seen_urls``: ``seen_pct``% of the frontier's canonical URLs plus
      canonical URLs of pages outside the frontier, one for every five
      frontier rows;
    - ``robots_rules``: 2% of hosts disallow everything, 13% one path
      prefix, every host ends with allow ``/``;
    - ``politeness_budget``: budgets for 90% of domains, the rest take
      the scheduler's default.
    """
    rows, canon = [], []
    for i in range(n_rows):
        pid = i
        if i and h("rep", i, seed=seed) % 10 == 0:
            pid = h("rpid", i, seed=seed) % i
        host, path = _page(seed, pid, n_domains)
        v = h("var", i, seed=seed) % 8
        rows.append((_spelling(host, path, v), h("depth", i, seed=seed) % 8,
                     (h("prio", i, seed=seed) % 10**9) / 1e9))
        canon.append((f"https://{host}{path}" + ("?a=1&b=2" if v == 4 else ""),
                       host.split(".", 1)[1]))
    frontier = pd.DataFrame(rows, columns=["url", "depth", "priority"]).astype(
        {"depth": "int32"})
    frontier["state"] = "QUEUED"
    frontier["wave"] = frontier["depth"] * 0
    seen = sorted({u for u, _ in canon if h("seen", u, seed=seed) % 100 < seen_pct})
    seen += ["https://%s%s" % _page(seed, pid, n_domains)
             for pid in range(n_rows, n_rows + n_rows // 5)]
    robots = []
    for dom in range(1, n_domains):
        for sub in SUBS:
            host = f"{sub}.site{dom:05d}.example"
            hv = h("rob", host, seed=seed) % 100
            delay = DELAYS[h("delay", host, seed=seed) % 4]
            if hv < 15:
                pfx = "/" if hv < 2 else PREFIXES[h("rpfx", host, seed=seed) % 4]
                robots.append((host, 0, "*", False, pfx, delay))
            robots.append((host, int(hv < 15), "*", True, "/", delay))
    budget = [
        (f"site{j:05d}.example", budget_for(j)) for j in range(1, n_domains)
        if h("nobud", j, seed=seed) % 10 != 0
    ]
    return {
        "frontier": frontier,
        "canon": pd.DataFrame(canon, columns=["url", "registered_domain"]),
        "seen_urls": pd.DataFrame({"url": seen}),
        "robots_rules": pd.DataFrame(robots, columns=[
            "host", "rule_order", "agent", "allow", "path_prefix", "crawl_delay"]),
        "politeness_budget": pd.DataFrame(
            budget, columns=["registered_domain", "max_per_wave"]),
    }
