"""The traced run's attribution of time to the engine's layers.

Three sources, all read from outside the engine:

1. Spark's monitoring REST API (the UI is on only in traced runs):
   every job becomes a child span of the timed operation whose wall
   interval it started in, labelled by the description ``run_epoch``
   sets (``epoch N: downloader|spider|frontier-commit|item-processor|
   write <kind>``) or the benchmark sets (``round N: decode|keep``).
2. The crawl workdir: bytes and files each committed epoch wrote.
3. A layer-isolation pass after the timed window, on one committed
   mid-run epoch: each layer's public function runs on the previous
   layer's output read back from parquet, forced by a ``noop``-format
   write so the time is execution, not plan building.

Spans are kept in memory and written once, at the end of the run.
"""

from __future__ import annotations

import json
import os
import statistics
import time
import urllib.request
from datetime import datetime

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


class SpanLog:
    """Spans (name, start, end, parent) recorded at layer boundaries."""

    def __init__(self) -> None:
        self.spans: list[dict] = []

    def add(self, span_id: str, name: str, start: float, end: float,
            parent: str | None = None, **attrs) -> None:
        self.spans.append({"id": span_id, "parent": parent, "name": name,
                           "start": start, "end": end, "attrs": attrs})

    def write(self, work: str, workload: str, seed: int) -> str:
        path = os.path.join(os.path.dirname(work), f"spans-{workload}-{seed}.json")
        with open(path, "w") as f:
            json.dump(self.spans, f, indent=1)
        return path


def zero_metrics() -> dict[str, float]:
    """Every per-layer metric at 0: a layer the workload never runs
    reports no work."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        return {m["name"]: 0.0 for m in json.load(f)["per_layer"]}


# -- Spark REST ------------------------------------------------------------

def _get(url: str):
    opener = urllib.request.build_opener(urllib.request.ProxyHandler({}))
    with opener.open(url, timeout=60) as r:
        return json.loads(r.read())


def _ts(s: str | None) -> float | None:
    if not s:
        return None
    return datetime.strptime(s.replace("GMT", "+0000"),
                             "%Y-%m-%dT%H:%M:%S.%f%z").timestamp()


def _union_s(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def _phase(description: str | None) -> str:
    """``epoch 3: write seen`` -> ``write-seen``."""
    if not description or ": " not in description:
        return "unlabeled"
    return description.split(": ", 1)[1].replace(" ", "-")


def spark_op_metrics(spark, ops, spans: SpanLog, op_name: str) -> dict[str, float]:
    """Per-operation Spark job/stage/task figures, medians over the
    timed operations (an operation is one epoch or one image round)."""
    sc = spark.sparkContext
    base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"
    jobs = _get(f"{base}/jobs")
    by_stage: dict[int, list[dict]] = {}
    for s in _get(f"{base}/stages"):
        by_stage.setdefault(s["stageId"], []).append(s)
    cores = sc.defaultParallelism
    per_op: list[dict[str, float]] = []
    for op in ops:
        t0, t1 = op.start, op.start + op.wall_s
        op_id = f"{op_name}{op.index}"
        spans.add(op_id, op_name, t0, t1, rows=op.rows)
        mine = [j for j in jobs
                if j.get("submissionTime") and t0 <= _ts(j["submissionTime"]) <= t1]
        intervals, phases = [], {}
        op_stages = []
        for j in mine:
            a = _ts(j["submissionTime"])
            b = _ts(j.get("completionTime")) or t1
            intervals.append((max(a, t0), min(b, t1)))
            ph = _phase(j.get("description"))
            phases.setdefault(ph, []).append((a, b))
            spans.add(f"job{j['jobId']}", ph, a, b, parent=op_id,
                      stages=j["stageIds"])
            for sid in j["stageIds"]:
                op_stages += [s for s in by_stage.get(sid, [])
                              if s["status"] == "COMPLETE"]
        uniq = {(s["stageId"], s["attemptId"]): s for s in op_stages}.values()
        run_ms = sum(s["executorRunTime"] for s in uniq)
        m = {
            "spark.jobs_per_epoch": len(mine),
            "spark.stages_per_epoch": len(uniq),
            "spark.tasks_per_epoch": sum(s["numCompleteTasks"] for s in uniq),
            "spark.driver_gap_s": op.wall_s - _union_s(intervals),
            "spark.busy_share": run_ms / 1e3 / (op.wall_s * cores),
            "spark.shuffle_mb": sum(s["shuffleWriteBytes"] for s in uniq) / 2**20,
            "spark.spill_mb": sum(s["diskBytesSpilled"] for s in uniq) / 2**20,
            "spark.task_skew": _task_skew(base, uniq),
        }
        for ph, iv in phases.items():
            m[f"phase.{ph}_s"] = _union_s(iv)
        per_op.append(m)
    keys = {k for m in per_op for k in m}
    return {k: statistics.median(m.get(k, 0.0) for m in per_op) for k in keys}


def _task_skew(base: str, stages) -> float:
    """Max / median task run time in the operation's widest stage."""
    stages = [s for s in stages if s["numCompleteTasks"] > 1]
    if not stages:
        return 1.0
    wide = max(stages, key=lambda s: (s["numCompleteTasks"], s["executorRunTime"]))
    q = _get(f"{base}/stages/{wide['stageId']}/{wide['attemptId']}"
             "/taskSummary?quantiles=0.5,1.0")["executorRunTime"]
    return q[1] / max(q[0], 1.0)


# -- workdir ---------------------------------------------------------------

def state_metrics(workdir: str, epochs: list[int]) -> dict[str, float]:
    """Bytes and files each committed epoch wrote into the state tables
    (medians over the timed epochs)."""
    frontier_mb, write_mb, files = [], [], []
    for e in epochs:
        total = nfiles = fbytes = 0
        for kind in sorted(os.listdir(workdir)):
            d = os.path.join(workdir, kind, f"e_{e:05d}")
            for dirpath, _dirs, names in os.walk(d):
                for name in names:
                    size = os.path.getsize(os.path.join(dirpath, name))
                    total += size
                    nfiles += 1
                    if kind == "frontier":
                        fbytes += size
        frontier_mb.append(fbytes / 2**20)
        write_mb.append(total / 2**20)
        files.append(nfiles)
    return {
        "state.frontier_mb": statistics.median(frontier_mb),
        "state.write_mb": statistics.median(write_mb),
        "state.files": statistics.median(files),
    }


# -- layer isolation -------------------------------------------------------

class _Isolation:
    """Runs one layer at a time, each on its predecessor's persisted output."""

    def __init__(self, spark, root: str, spans: SpanLog) -> None:
        self.spark = spark
        self.root = root
        self.spans = spans
        self.start = time.time()

    def timed(self, layer: str, fn):
        """``(result, wall)``: calls ``fn`` (some layers run jobs while
        building their plan) and forces every DataFrame it returns with
        a ``noop`` write, all inside the timed interval."""
        self.spark.sparkContext.setJobDescription(f"isolation: {layer}")
        start = time.time()
        t0 = time.monotonic()
        result = fn()
        for df in result if isinstance(result, tuple) else (result,):
            if isinstance(df, DataFrame):
                df.write.format("noop").mode("overwrite").save()
        wall = time.monotonic() - t0
        self.spans.add(f"iso.{layer}", layer, start, start + wall, parent="isolation")
        return result, wall

    def persist(self, name: str, df: DataFrame) -> DataFrame:
        self.spark.sparkContext.setJobDescription(f"isolation: persist {name}")
        path = os.path.join(self.root, name)
        df.write.mode("overwrite").parquet(path)
        return self.spark.read.parquet(path)

    def finish(self) -> None:
        self.spark.sparkContext.setJobDescription(None)
        self.spans.add("isolation", "isolation", self.start, time.time())


def isolate_crawl_layers(spark, job, corpus, epoch: int, work: str,
                         spans: SpanLog) -> dict[str, float]:
    """Re-run epoch ``epoch``'s hot path layer by layer from the state it
    started from (the committed snapshot of ``epoch - 1``)."""
    from spider_man_spark.functions.urls import canonicalize_frontier
    from spider_man_spark.operators.dedup import dedup_candidates
    from spider_man_spark.operators.politeness import schedule_epoch
    from spider_man_spark.schemas import FRONTIER_SCHEMA, SEEN_SCHEMA
    from spider_man_spark.sources.fetch import http_fetch, stub_fetch
    from spider_man_spark.sources.parse import default_parse

    from crawlbench.fakeweb import FakeWeb

    cfg, store = job.cfg, job.store
    iso = _Isolation(spark, os.path.join(work, "isolation"), spans)
    out: dict[str, float] = {}

    frontier = iso.persist(
        "frontier", store.read_snapshot("frontier", epoch - 1, FRONTIER_SCHEMA))
    robots = store.read_snapshot("robots", epoch - 1)
    (scheduled, _deferred, _disallowed), out["politeness.schedule_s"] = iso.timed(
        "politeness",
        lambda: schedule_epoch(
            frontier, robots, epoch * cfg.epoch_ms,
            tokens_default=cfg.tokens_per_epoch, rank_salts=cfg.rank_salts,
            max_per_epoch=cfg.max_per_epoch, need_losers=False,
        ),
    )
    scheduled = iso.persist("scheduled", scheduled)
    out["politeness.frontier_rows"] = frontier.count()
    out["politeness.scheduled_rows"] = scheduled.count()

    fetched, out["fetch.stub_s"] = iso.timed(
        "stub_fetch", lambda: stub_fetch(scheduled, corpus))
    fetched = iso.persist("fetched", fetched)

    corpus_dir = os.path.join(work, "isolation", "corpus")
    corpus.write.mode("overwrite").parquet(corpus_dir)
    with FakeWeb(corpus_dir, os.path.join(work, "fakeweb")) as web:
        web.reset()
        _, out["fetch.http_s"] = iso.timed(
            "http_fetch", lambda: http_fetch(scheduled, proxy=web.proxy))
        st = web.stats()
    out["web.requests_per_url"] = st["requests"] / max(st["urls"], 1)
    out["web.connections"] = st["connections"]
    out["web.backoff_s"] = st["retry_span_s"]
    out["web.service_ms_p50"] = st["service_ms_p50"]

    ok = fetched.filter((F.col("status") >= 200) & (F.col("status") <= 299))
    (requests, items), out["parse.parse_s"] = iso.timed(
        "parse", lambda: default_parse(ok, epoch))
    requests = iso.persist("requests", requests)
    out["parse.links_out"] = requests.count()
    out["parse.items_out"] = items.count()

    cand, out["urls.canonicalize_s"] = iso.timed(
        "canonicalize",
        lambda: canonicalize_frontier(requests, cfg.base_url, cfg.n_host_shards))
    cand = iso.persist("candidates", cand)

    seen = store.read_deltas("seen", epoch - 1, SEEN_SCHEMA)
    admitted, out["dedup.dedup_s"] = iso.timed(
        "dedup", lambda: dedup_candidates(cand, seen))
    out["dedup.candidates"] = cand.count()
    out["dedup.admitted"] = admitted.count()
    out["dedup.admit_ratio"] = out["dedup.admitted"] / max(out["dedup.candidates"], 1)
    iso.finish()
    return out


def isolate_image_layers(spark, table: DataFrame, work: str,
                         spans: SpanLog) -> dict[str, float]:
    """Decode, pair generation, and grouping + keep, one at a time."""
    from spider_man_spark.functions.images import decode_items
    from spider_man_spark.operators.groups import connected_components, keep_canonical
    from spider_man_spark.operators.imagededup import (
        exact_dup_images,
        phash_neardup_pairs,
    )

    iso = _Isolation(spark, os.path.join(work, "isolation"), spans)
    out: dict[str, float] = {}
    _, out["images.decode_s"] = iso.timed("decode", lambda: decode_items(table))
    out["images.decoded_mb"] = (
        table.agg(F.sum(F.length("bytes")).alias("b")).first()["b"] / 2**20
    )
    # identical bytes have identical phashes, so the near-pair set over
    # every row already links exact copies
    (pairs, exact), out["imagededup.pairs_s"] = iso.timed(
        "pairs", lambda: (phash_neardup_pairs(table), exact_dup_images(table)))
    pairs = iso.persist("pairs", pairs)
    out["imagededup.neardup_pairs"] = pairs.count()
    out["imagededup.exact_groups"] = exact.count()
    # the star rounds run eagerly inside connected_components
    groups, cc_s = iso.timed("components", lambda: connected_components(
        pairs, a_col="id_a", b_col="id_b", nodes=table.select("image_id")))
    groups = iso.persist("groups", groups)
    _, keep_s = iso.timed(
        "keep", lambda: keep_canonical(table, groups, id_col="image_id"))
    out["groups.keep_s"] = cc_s + keep_s
    iso.finish()
    return out
