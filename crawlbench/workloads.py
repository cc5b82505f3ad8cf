"""The benchmark's workloads, each a closed loop over the engine's public API.

A workload sets up its inputs from the seed, then ``run.py`` calls
``run_op`` until the run's time is up: the next operation starts only
after the previous one has returned (one step() commits an epoch, one
round finishes both image passes).  ``check`` compares every output
with ``crawlbench/oracles.py``; ``layer_metrics`` is the traced run's
attribution (``crawlbench/layers.py``).
"""

from __future__ import annotations

import os
import random
import statistics
import time
from dataclasses import dataclass
from typing import Any

from crawlbench import layers, oracles


@dataclass
class Op:
    """One timed operation of the closed loop."""

    index: int
    start: float  # wall clock (time.time), to line up with Spark's REST times
    wall_s: float
    rows: int  # units of work completed: 2xx fetches, or images per round
    detail: Any


class Workload:
    MIN_OPS = 2  # timed operations, after the untimed warm-up one
    MAX_OPS = 10

    def __init__(self, work: str, seed: int) -> None:
        self.work = work
        self.seed = seed
        self.spark = None
        self.setup_times: dict[str, float] = {}
        self.spans = layers.SpanLog()

    def sizes(self) -> dict:
        """The workload's size constants (upper-case class attributes)."""
        return {k: getattr(self, k) for k in dir(self) if k.isupper()}

    def _timed(self, name: str, fn):
        t0 = time.monotonic()
        out = fn()
        self.setup_times[name] = time.monotonic() - t0
        return out


class SteadyFrontier(Workload):
    """A seeded standing frontier far above the per-epoch politeness
    budget, crawled with the stub fetcher (the corpus join): every epoch
    ranks the full frontier, rewrites it at commit, joins the scheduled
    slice against the corpus and admits the parsed links."""

    N_HOSTS = 16
    PAGES_PER_HOST = 800  # host 0 is the hot host with 10x pages
    SEED_SHARE = 0.5  # share of each host's pages in the seeded frontier
    TOKENS = 100  # per host per epoch; 16 x 100 = 1600 fetches per epoch
    # ms per fetch: at most TOKENS x delay = one 1000 ms epoch, so every
    # host is eligible every epoch while the crawl-delay path still runs
    CRAWL_DELAYS = (0, 5, 10)
    IMAGES_PER_HOST = 4

    def __init__(self, work: str, seed: int) -> None:
        super().__init__(work, seed)
        self.web = oracles.WebModel(
            self.N_HOSTS, self.PAGES_PER_HOST,
            images_per_host=self.IMAGES_PER_HOST, crawl_delays=self.CRAWL_DELAYS,
        )
        rng = random.Random(seed)
        self.seeds = []
        for h in range(self.N_HOSTS):
            urls = self.web.page_urls(h)
            self.seeds += sorted(rng.sample(urls, int(len(urls) * self.SEED_SHARE)))

    def setup(self) -> None:
        import pandas as pd

        from spider_man_spark.config import CrawlConfig
        from spider_man_spark.plans.job import CrawlJob
        from spider_man_spark.sources.corpus import make_corpus

        def build_corpus():
            corpus = make_corpus(
                self.spark, n_hosts=self.N_HOSTS,
                pages_per_host=self.PAGES_PER_HOST,
                images_per_host=self.IMAGES_PER_HOST, seed=self.seed,
                crawl_delays=self.CRAWL_DELAYS,
            ).cache()
            corpus.count()
            return corpus

        self.corpus = self._timed("corpus.gen_s", build_corpus)
        self.cfg = CrawlConfig(
            workdir=os.path.join(self.work, "crawl"), tokens_per_epoch=self.TOKENS
        )
        self.job = self._timed(
            "job.init_s", lambda: CrawlJob(self.spark, self.cfg, corpus=self.corpus)
        )
        seed_df = self.spark.createDataFrame(pd.DataFrame({"url": self.seeds}))
        self._timed("job.seed_s", lambda: self.job.insert_requests_df(seed_df))

    def run_op(self, index: int) -> Op:
        start = time.time()
        t0 = time.monotonic()
        res = self.job.step()
        return Op(index, start, time.monotonic() - t0, res.fetched_ok, res)

    def check(self, ops: list[Op]) -> tuple[int, list[str]]:
        from spider_man_spark.sources.corpus import expected_image_phash

        replay = oracles.replay_crawl(self.web, self.seeds, len(ops), self.TOKENS)
        notes = []
        failed = 0
        for op, want in zip(ops, replay.epochs):
            r = op.detail
            got = (r.epoch, r.scheduled, r.fetched_ok, r.new_requests, r.items,
                   r.dead, r.frontier_size)
            if got != want.as_tuple():
                failed += 1
                notes.append(f"epoch counts {got} != replay {want.as_tuple()}")
        store = self.job.store
        last = store.last_epoch()
        seen = {
            (r.epoch, r.url_key)
            for r in store.read_deltas("seen", last).select("epoch", "url_key").collect()
        }
        want_seen = {(e, u) for u, e in replay.seen.items()}
        self.digest = oracles.seen_digest(seen)
        if seen != want_seen:
            notes.append(
                f"admitted (epoch, url_key) digest {self.digest} != replay "
                f"{oracles.seen_digest(want_seen)} ({len(seen ^ want_seen)} differ)"
            )
        dead = {r.url_key for r in self.job.failed().select("url_key").collect()}
        if dead != replay.dead:
            notes.append(f"dead letters differ from the planted failures: "
                         f"{sorted(dead ^ replay.dead)[:5]}")
        items = {r.image_id: r.phash
                 for r in self.job.items().select("image_id", "phash").collect()}
        if set(items) != replay.items:
            notes.append(f"items differ: {sorted(set(items) ^ replay.items)[:5]}")
        for url, phash in items.items():
            host, _kind, k = oracles.parse_url(url)
            want = expected_image_phash(host, k, self.seed)
            if phash != want:
                notes.append(f"phash of {url} is {phash}, expected {want}")
        if notes and not failed:
            failed = 1
        return failed, notes

    def report(self, ops: list[Op]) -> list[str]:
        res = [o.detail for o in ops]
        return [
            f"steady_frontier: {self.N_HOSTS} hosts, {len(self.seeds)} seeded "
            f"urls, {self.TOKENS} tokens/host/epoch, {len(ops)} epochs",
            "epoch walls (s), warm-up first: "
            + ", ".join(f"{o.wall_s:.2f}" for o in ops),
            f"fetched_ok {sum(r.fetched_ok for r in res)} of scheduled "
            f"{sum(r.scheduled for r in res)}; frontier {res[0].frontier_size} "
            f"-> {res[-1].frontier_size}; admitted digest {self.digest}",
        ]

    def layer_metrics(self, ops: list[Op]) -> dict[str, float]:
        res = [o.detail for o in ops]
        out = layers.zero_metrics()
        out.update(self.setup_times)
        for key in ("downloader", "spider", "item_processor"):
            out[f"epoch.{key}_s"] = statistics.median(
                r.durations_ms.get(key, 0) / 1e3 for r in res)
        out["epoch.commit_s"] = statistics.median(
            (r.durations_ms["epoch"] - r.durations_ms.get("downloader", 0)
             - r.durations_ms.get("spider", 0)
             - r.durations_ms.get("item_processor", 0)) / 1e3
            for r in res
        )
        out["fetch.ok_ratio"] = (
            sum(r.fetched_ok for r in res) / max(sum(r.scheduled for r in res), 1)
        )
        out.update(layers.spark_op_metrics(self.spark, ops, self.spans, "step"))
        out.update(layers.state_metrics(self.cfg.workdir, [r.epoch for r in res]))
        mid = res[len(res) // 2].epoch
        out.update(layers.isolate_crawl_layers(
            self.spark, self.job, self.corpus, mid, self.work, self.spans
        ))
        self.spans.write(self.work, "steady_frontier", self.seed)
        return out


class ImageDedup(Workload):
    """A ``make_image_table`` table of image+caption rows, written once to
    parquet; each round decodes every image and verifies its stored
    phash, then runs the exact + perceptual ``image_dedup_keep`` pass."""

    N_IMAGES = 4000
    MIN_OPS = 3  # rounds are shorter than epochs

    def setup(self) -> None:
        from spider_man_spark.sources.corpus import make_image_table

        path = os.path.join(self.work, "images")

        def build_table():
            make_image_table(self.spark, self.N_IMAGES, seed=self.seed).write.parquet(path)
            return self.spark.read.parquet(path)

        self.table = self._timed("corpus.gen_s", build_table)
        self.cc_stats: dict[str, int] = {}

    def run_op(self, index: int) -> Op:
        from pyspark.sql import functions as F

        from spider_man_spark.functions.images import decode_items
        from spider_man_spark.operators.imagededup import image_dedup_keep

        sc = self.spark.sparkContext
        start = time.time()
        t0 = time.monotonic()
        sc.setJobDescription(f"round {index}: decode")
        decoded = decode_items(self.table)
        verify = (
            self.table.select("image_id", F.col("phash").alias("stored"))
            .join(decoded, "image_id")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.count(F.when(F.col("decode_ok"), 1)).alias("ok"),
                F.count(F.when(F.col("stored") == F.col("phash"), 1)).alias("eq"),
            )
            .first()
        )
        t1 = time.monotonic()
        sc.setJobDescription(f"round {index}: keep")
        kept = image_dedup_keep(self.table, cc_stats=self.cc_stats).count()
        t2 = time.monotonic()
        sc.setJobDescription(None)
        detail = {"n": verify["n"], "ok": verify["ok"], "eq": verify["eq"],
                  "kept": kept, "decode_s": t1 - t0, "keep_s": t2 - t1}
        return Op(index, start, t2 - t0, self.N_IMAGES, detail)

    def check(self, ops: list[Op]) -> tuple[int, list[str]]:
        from pyspark.sql import functions as F

        rows = self.table.select(
            "image_id", F.md5("bytes").alias("key"), "phash"
        ).collect()
        self.expected_kept = oracles.expected_kept(
            (r.image_id, r.key, r.phash) for r in rows
        )
        n = self.N_IMAGES
        notes = []
        if len(rows) != n:
            notes.append(f"table has {len(rows)} rows, expected {n}")
        if self.expected_kept > 0.8 * n:
            notes.append(f"oracle keeps {self.expected_kept} > 0.8 n: planted "
                         "duplicates missing")
        failed = 0
        for op in ops:
            d = op.detail
            bad = [f"{k}={d[k]}" for k in ("n", "ok", "eq") if d[k] != n]
            if d["kept"] != self.expected_kept:
                bad.append(f"kept={d['kept']} (expected {self.expected_kept})")
            if bad:
                failed += 1
                notes.append(f"round {op.index}: " + ", ".join(bad))
        if notes and not failed:
            failed = 1
        return failed, notes

    def report(self, ops: list[Op]) -> list[str]:
        return [
            f"image_dedup: {self.N_IMAGES} images, {len(ops)} rounds (warm-up "
            f"first), kept "
            f"{ops[-1].detail['kept']} (oracle {self.expected_kept})",
            "decode+verify pass walls (s): "
            + ", ".join(f"{o.detail['decode_s']:.2f}" for o in ops),
            "keep pass walls (s): "
            + ", ".join(f"{o.detail['keep_s']:.2f}" for o in ops),
        ]

    def layer_metrics(self, ops: list[Op]) -> dict[str, float]:
        out = layers.zero_metrics()
        out.update(self.setup_times)
        out["pass.decode_s"] = statistics.median(o.detail["decode_s"] for o in ops)
        out["pass.keep_s"] = statistics.median(o.detail["keep_s"] for o in ops)
        out["groups.cc_rounds"] = self.cc_stats.get("rounds", 0)
        out["groups.cc_edges"] = self.cc_stats.get("edges", 0)
        out.update(layers.spark_op_metrics(self.spark, ops, self.spans, "round"))
        out.update(layers.isolate_image_layers(
            self.spark, self.table, self.work, self.spans))
        self.spans.write(self.work, "image_dedup", self.seed)
        return out


WORKLOADS = {
    "steady_frontier": SteadyFrontier,
    "image_dedup": ImageDedup,
}
