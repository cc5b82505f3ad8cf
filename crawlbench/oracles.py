"""Engine-independent expected outputs for the benchmark workloads.

Nothing here imports Spark or the engine: the synthetic web is rebuilt
from the arithmetic that ``sources.corpus.make_corpus`` documents
(page count, planted statuses, link targets, one image tag per page),
and the crawl is replayed with the engine's documented rules:

* politeness: each epoch, every host whose clock has opened
  (``next_allowed_ts <= epoch * epoch_ms``) fetches its first
  ``tokens`` frontier rows in ``(priority, depth, url_key)`` order; its
  clock then moves to ``epoch_ts + crawl_delay_ms * fetched``;
* fetch: a non-2xx row goes back to the frontier with ``retries - 1``,
  or becomes a dead letter once its retries are spent;
* parse: a 2xx page emits its links and its image at ``depth + 1``; a
  2xx image becomes an item;
* admit: one row per new url (lowest depth wins), minus every url ever
  admitted; admitted urls are stamped with the epoch in the seen set.

The image-dedup oracle closes byte-identical images and images whose
phashes differ in at most ``max_hamming`` bits into clusters with a
union-find and counts one survivor per cluster.
"""

from __future__ import annotations

import hashlib
from collections import defaultdict
from dataclasses import dataclass, field

MAX_RETRIES = 3  # engine default (schemas.DEFAULT_REQUEST_RETRIES)


@dataclass(frozen=True)
class WebModel:
    """The page graph ``make_corpus`` generates for these arguments."""

    n_hosts: int
    pages_per_host: int
    out_degree: int = 3
    images_per_host: int = 4
    hot_hosts: int = 1
    crawl_delays: tuple[int, ...] = (0, 100, 200)

    def n_pages(self, host: int) -> int:
        return self.pages_per_host * (10 if host < self.hot_hosts else 1)

    def crawl_delay_ms(self, host: int) -> int:
        return self.crawl_delays[host % len(self.crawl_delays)]

    @staticmethod
    def page_status(page: int) -> int:
        if page % 37 == 13:
            return 500
        if page % 41 == 17:
            return 404
        return 200

    def links(self, host: int, page: int) -> list[str]:
        n = self.n_pages(host)
        out = [
            f"http://h{host}.test/p/{(page * 7 + k + 1) % n}"
            for k in range(self.out_degree)
        ]
        if page % 5 == 0:
            target = (host + page + 1) % self.n_hosts
            out.append(f"http://h{target}.test/p/{page % self.pages_per_host}")
        return out

    def image_of(self, host: int, page: int) -> str | None:
        if self.images_per_host <= 0:
            return None
        return f"http://h{host}.test/img/{page % self.images_per_host}"

    def page_urls(self, host: int) -> list[str]:
        return [f"http://h{host}.test/p/{j}" for j in range(self.n_pages(host))]


def parse_url(url: str) -> tuple[int, str, int]:
    """``http://h{i}.test/{p|img}/{j}`` -> (i, kind, j)."""
    host, kind, idx = url[len("http://h"):].split("/")
    return int(host[: -len(".test")]), kind, int(idx)


def host_of(url: str) -> str:
    return url[len("http://"):].split("/", 1)[0]


@dataclass
class EpochCounts:
    epoch: int
    scheduled: int
    fetched_ok: int
    new_requests: int
    items: int
    dead: int
    frontier_size: int

    def as_tuple(self) -> tuple[int, ...]:
        return (self.epoch, self.scheduled, self.fetched_ok,
                self.new_requests, self.items, self.dead, self.frontier_size)


@dataclass
class CrawlReplay:
    """The crawl state after replaying some epochs."""

    epochs: list[EpochCounts] = field(default_factory=list)
    seen: dict[str, int] = field(default_factory=dict)
    dead: set[str] = field(default_factory=set)
    items: set[str] = field(default_factory=set)
    # url -> (depth, retries) of the rows still in the frontier
    frontier: dict[str, tuple[int, int]] = field(default_factory=dict)


def replay_crawl(
    web: WebModel,
    seeds: list[str],
    epochs: int,
    tokens: int,
    epoch_ms: int = 1000,
) -> CrawlReplay:
    """Replay ``epochs`` epochs from a seeded frontier (all priorities 0)."""
    st = CrawlReplay()
    for u in seeds:
        if u not in st.seen:
            st.seen[u] = 0
            st.frontier[u] = (0, MAX_RETRIES)
    next_allowed: dict[str, int] = defaultdict(int)
    for epoch in range(1, epochs + 1):
        ts = epoch * epoch_ms
        by_host: dict[str, list[tuple[int, str]]] = defaultdict(list)
        for u, (depth, _r) in st.frontier.items():
            by_host[host_of(u)].append((depth, u))
        scheduled: list[str] = []
        for host, rows in by_host.items():
            if next_allowed[host] > ts:
                continue
            rows.sort()
            picked = [u for _d, u in rows[:tokens]]
            scheduled.extend(picked)
            hidx = int(host[1: -len(".test")])
            next_allowed[host] = ts + web.crawl_delay_ms(hidx) * len(picked)
        ok = items = dead = 0
        links: dict[str, int] = {}
        requeue: dict[str, tuple[int, int]] = {}
        for u in scheduled:
            depth, retries = st.frontier.pop(u)
            host, kind, idx = parse_url(u)
            status = web.page_status(idx) if kind == "p" else 200
            if status != 200:
                if retries > 0:
                    requeue[u] = (depth, retries - 1)
                else:
                    dead += 1
                    st.dead.add(u)
                continue
            ok += 1
            if kind == "img":
                items += 1
                st.items.add(u)
                continue
            targets = web.links(host, idx)
            img = web.image_of(host, idx)
            if img is not None:
                targets.append(img)
            for t in targets:
                if t not in links or depth + 1 < links[t]:
                    links[t] = depth + 1
        st.frontier.update(requeue)
        admitted = 0
        for u, depth in links.items():
            if u not in st.seen:
                st.seen[u] = epoch
                st.frontier[u] = (depth, MAX_RETRIES)
                admitted += 1
        st.epochs.append(EpochCounts(
            epoch, len(scheduled), ok, admitted, items, dead, len(st.frontier)
        ))
    return st


def seen_digest(pairs) -> str:
    """Order-independent digest of admitted ``(epoch, url_key)`` pairs."""
    h = hashlib.sha256()
    for epoch, url in sorted((int(e), str(u)) for e, u in pairs):
        h.update(f"{epoch}\t{url}\n".encode())
    return h.hexdigest()[:16]


def expected_kept(rows, max_hamming: int = 3) -> int:
    """Survivor count of an exact + perceptual image dedup.

    ``rows`` are ``(image_id, content_key, phash)``; two images belong
    to one cluster when their content keys are equal or their 64-bit
    phashes differ in at most ``max_hamming`` bits, closed
    transitively.  Near pairs are found by splitting each hash into
    ``max_hamming + 1`` bands: two hashes within the distance agree on
    at least one band (pigeonhole), so comparing within equal bands is
    exhaustive."""
    rows = list(rows)
    parent = list(range(len(rows)))

    def find(i: int) -> int:
        while parent[i] != i:
            parent[i] = parent[parent[i]]
            i = parent[i]
        return i

    def union(a: int, b: int) -> None:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    by_key: dict[object, int] = {}
    for i, (_id, key, _ph) in enumerate(rows):
        if key in by_key:
            union(by_key[key], i)
        else:
            by_key[key] = i
    n_bands = max_hamming + 1
    width = -(-64 // n_bands)
    hashes = [ph & 0xFFFFFFFFFFFFFFFF for _id, _key, ph in rows]
    for b in range(n_bands):
        shift = b * width
        mask = (1 << min(width, 64 - shift)) - 1
        buckets: dict[int, list[int]] = defaultdict(list)
        for i, h in enumerate(hashes):
            buckets[(h >> shift) & mask].append(i)
        for members in buckets.values():
            for x in range(len(members)):
                for y in range(x + 1, len(members)):
                    i, j = members[x], members[y]
                    if bin(hashes[i] ^ hashes[j]).count("1") <= max_hamming:
                        union(i, j)
    return sum(1 for i in range(len(rows)) if find(i) == i)
