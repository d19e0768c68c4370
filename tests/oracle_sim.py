"""Single-process reference simulator for the frontier loop — the crawl
oracle (SURVEY.md §5.3.4; north_rule: "matching the reference's crawl
ordering and URL-seen set under the same seed list + politeness budget").

Replicates FrontierEngine's batch semantics exactly in plain Python:
same host/path extraction, robots prefix gate, per-host top-k politeness
cut keyed by (priority desc, url), priority decay with max-merge, and
seen-set updates. The Spark engine must reproduce this batch-by-batch.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

import pandas as pd

_HOST_RE = re.compile(r"//([^/:?#]+)")
_PATH_RE = re.compile(r"//[^/]+(/[^?#]*)")


def host_of(url: str) -> str:
    m = _HOST_RE.search(url)
    return m.group(1).lower() if m else ""


def path_of(url: str) -> str:
    m = _PATH_RE.search(url)
    return m.group(1) if m and m.group(1) else "/"


@dataclass
class SimResult:
    batches: list[list[tuple[str, float]]] = field(default_factory=list)
    seen: set[str] = field(default_factory=set)
    metrics: list[dict] = field(default_factory=list)


def simulate_crawl(
    pages_pdf: pd.DataFrame,
    seeds: list[tuple[str, float]],
    robots: dict[str, list[str]] | None = None,
    budgets: dict[str, int] | None = None,
    default_budget: int = 4,
    decay: float = 0.8,
    max_batches: int = 20,
    min_priority: float = 1e-6,
) -> SimResult:
    from warc_spark.sources.pages import extract_links_kernel

    links_by_url: dict[str, list[str]] = dict(
        zip(pages_pdf["url"], extract_links_kernel(pages_pdf["html"]))
    )
    budgets = budgets or {}
    robots = robots or {}

    frontier: dict[str, float] = {}
    for url, pri in seeds:
        frontier[url] = max(frontier.get(url, float("-inf")), pri)
    seen: set[str] = set()
    res = SimResult()

    for _batch in range(max_batches):
        candidates = {u: p for u, p in frontier.items() if u not in seen}

        # robots gate: blocked urls permanently retired. Host rules are a
        # legacy disallow-prefix list OR a {"allow": [...], "disallow":
        # [...]} dict (RFC longest-match semantics, shared with the engine
        # via robots_blocked — the pure-Python twin of the JVM gate).
        from warc_spark.operators.robots import robots_blocked

        blocked = set()
        if robots:
            for u in list(candidates):
                rules = robots.get(host_of(u))
                if not rules:
                    continue
                if isinstance(rules, dict):
                    allow, dis = rules.get("allow", []), rules.get("disallow", [])
                else:
                    allow, dis = [], list(rules)
                if robots_blocked(path_of(u), allow, dis):
                    blocked.add(u)
                    del candidates[u]

        # politeness: per host top-k by (priority desc, url)
        by_host: dict[str, list[tuple[str, float]]] = {}
        for u, p in candidates.items():
            by_host.setdefault(host_of(u), []).append((u, p))
        scheduled: dict[str, float] = {}
        for h, items in by_host.items():
            items.sort(key=lambda t: (-t[1], t[0]))
            for u, p in items[: budgets.get(h, default_budget)]:
                scheduled[u] = p

        if not scheduled:
            break

        ordered = sorted(scheduled.items(), key=lambda t: (-t[1], t[0]))
        res.batches.append(ordered)
        seen |= set(scheduled) | blocked

        # fetch simulation + link extraction
        new_links: dict[str, float] = {}
        found = 0
        for u, p in scheduled.items():
            targets = links_by_url.get(u)
            if targets is None:
                continue
            found += 1
            child_p = p * decay
            if child_p < min_priority:
                continue
            for v in targets:
                new_links[v] = max(new_links.get(v, float("-inf")), child_p)

        # next frontier: deferred ∪ new links, max-merge, minus seen
        nxt: dict[str, float] = {
            u: p for u, p in candidates.items() if u not in scheduled
        }
        for v, p in new_links.items():
            nxt[v] = max(nxt.get(v, float("-inf")), p)
        frontier = {u: p for u, p in nxt.items() if u not in seen}

        res.metrics.append(
            {
                "scheduled": len(scheduled),
                "found": found,
                "missing": len(scheduled) - found,
                "robots_blocked": len(blocked),
                "frontier_after": len(frontier),
                # emitted candidates already seen: the engine's maybe-seen
                # sliver when its filter has no false positives
                "dupes": len(nxt) - len(frontier),
            }
        )

    res.seen = seen
    return res
