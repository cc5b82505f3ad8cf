"""Crawl-engine benchmark: one workload, one fresh process, one JSON line.

Usage (from the repository root)::

    python3 crawlbench/run.py --workload steady_frontier --seed 1 \\
        --seconds 10 --trace 0

The run builds its inputs from ``--seed``, sets up the engine (Spark
session, corpus or image table, crawl job), runs the workload's
operations in a closed loop until ``--seconds`` have passed (at least
``MIN_OPS`` of them, after one untimed warm-up operation), checks every
output against the engine-independent oracles in
``crawlbench/oracles.py``, and prints a readable report followed by one
JSON line::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end metrics of
``BENCHMARK.json``; with ``--trace 1`` the run turns the Spark UI on,
attributes the timed window to layers and prints the per-layer
metrics instead (see ``crawlbench/README.md``).  Every file the run
writes stays under ``.crawlbench/`` at the repository root.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

WORK_DIR = os.path.join(ROOT, ".crawlbench")


class RssSampler:
    """Peak resident memory of this process and all its descendants
    (the Spark JVM and its Python workers), sampled from ``/proc``."""

    def __init__(self, interval_s: float = 1.0) -> None:
        self.interval_s = interval_s
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._page = os.sysconf("SC_PAGE_SIZE")
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def descendants(self) -> list[int]:
        children: dict[int, list[int]] = {}
        for name in os.listdir("/proc"):
            if not name.isdigit():
                continue
            try:
                with open(f"/proc/{name}/stat") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            children.setdefault(int(fields[1]), []).append(int(name))
        out, todo = [], [os.getpid()]
        while todo:
            pid = todo.pop()
            for c in children.get(pid, []):
                out.append(c)
                todo.append(c)
        return out

    def sample(self) -> None:
        total = 0
        for pid in [os.getpid(), *self.descendants()]:
            try:
                with open(f"/proc/{pid}/statm") as f:
                    total += int(f.read().split()[1]) * self._page
            except (OSError, IndexError, ValueError):
                continue
        self.peak_bytes = max(self.peak_bytes, total)

    def _loop(self) -> None:
        while not self._stop.wait(self.interval_s):
            self.sample()

    def start(self) -> None:
        self.sample()
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.sample()


def load_contract() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def result_line(contract: dict, values: dict[str, float], trace: bool,
                attempted: int, failed: int, correct: bool) -> str:
    """The final JSON line: every metric of the chosen tier, by name,
    with its unit from ``BENCHMARK.json``."""
    tier = contract["per_layer" if trace else "end_to_end"]
    missing = [m["name"] for m in tier if m["name"] not in values]
    if missing:
        raise KeyError(f"metrics not computed: {missing}")
    metrics = {
        m["name"]: {"value": float(values[m["name"]]), "unit": m["unit"]}
        for m in tier
    }
    return json.dumps({
        "correct": bool(correct),
        "attempted": int(attempted),
        "failed": int(failed),
        "metrics": metrics,
    })


def spark_session(work: str, trace: bool):
    """The engine's session (``get_spark`` defaults on ``local[nproc]``),
    with every scratch path kept inside ``work``."""
    local_dir = os.path.join(work, "spark-local")
    tmp_dir = os.path.join(work, "tmp")
    os.makedirs(local_dir, exist_ok=True)
    os.makedirs(tmp_dir, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = local_dir
    os.environ["TMPDIR"] = tmp_dir
    # no JVM (the launcher's included) writes its perf file to /tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    # Python workers unpickle engine functions by import path
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR
    from spider_man_spark.session import get_spark

    conf = {
        "spark.local.dir": local_dir,
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp_dir} -XX:-UsePerfData",
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        conf.update({
            "spark.ui.enabled": "true",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        })
    cores = len(os.sched_getaffinity(0))
    spark = get_spark("crawlbench", master=f"local[{cores}]", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark, sampler: RssSampler) -> None:
    """Stop the session, the JVM and every Python worker, and wait."""
    from pyspark import SparkContext

    pids = sampler.descendants()
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except Exception:  # noqa: BLE001 - a stuck JVM must still go
                proc.kill()
                proc.wait()
    deadline = time.monotonic() + 30
    for pid in pids:
        while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
            time.sleep(0.1)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, 9)
            except ProcessLookupError:
                pass


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description="crawl-engine benchmark")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    try:
        import spider_man_spark  # noqa: F401
    except ImportError as e:
        print(f"crawlbench: the engine package is not importable: {e}",
              file=sys.stderr)
        return 2
    from crawlbench import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"crawlbench: unknown workload {args.workload!r}; expected one "
              f"of {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    contract = load_contract()
    trace = bool(args.trace)
    work = os.path.join(WORK_DIR, f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)

    sampler = RssSampler()
    sampler.start()
    wl = workloads.WORKLOADS[args.workload](work, args.seed)
    spark = None
    try:
        t0 = time.monotonic()
        spark = spark_session(work, trace)
        wl.spark = spark
        wl.setup_times["session.start_s"] = time.monotonic() - t0
        wl.setup()
        # the first operation of a process pays JIT and codegen warm-up:
        # it is set-up, checked like the rest but not timed
        warm = wl.run_op(0)
        setup_s = time.monotonic() - t0

        ops = []
        t_win = time.monotonic()
        while len(ops) < wl.MIN_OPS or (
            time.monotonic() - t_win < args.seconds and len(ops) < wl.MAX_OPS
        ):
            ops.append(wl.run_op(len(ops) + 1))
        window_s = time.monotonic() - t_win

        failed, notes = wl.check([warm, *ops])
        values = {
            "setup_s": setup_s,
            "rows_per_s": sum(o.rows for o in ops) / window_s,
            "op_p50_s": statistics.median(o.wall_s for o in ops),
        }
        if trace:
            values.update(wl.layer_metrics(ops))
            values["trace.op_p50_s"] = values["op_p50_s"]
        sampler.stop()
        values["mem.peak_rss_mb"] = sampler.peak_bytes / 2**20
    finally:
        if spark is not None:
            stop_spark(spark, sampler)
        sampler.stop()

    attempted = 1 + len(ops)
    for line in wl.report([warm, *ops]):
        print(line)
    for note in notes:
        print(f"CHECK FAILED: {note}")
    print(f"setup_s = {setup_s:.3f} s (warm-up op {warm.wall_s:.3f} s); "
          f"window = {window_s:.3f} s; op_p50_s = {values['op_p50_s']:.3f} s "
          f"(n={len(ops)}); rows_per_s = {values['rows_per_s']:.1f}; "
          f"mem.peak_rss_mb = {values['mem.peak_rss_mb']:.0f}")
    history = os.path.join(WORK_DIR, f"untraced-{args.workload}.jsonl")
    # untraced runs of the same sizes and run length are comparable
    config = json.loads(json.dumps({"seconds": args.seconds, **wl.sizes()}))
    if trace:
        print(tracing_overhead(history, config, values["op_p50_s"]))
    else:
        with open(history, "a") as f:
            f.write(json.dumps({"config": config, "seed": args.seed,
                                "op_p50_s": values["op_p50_s"]}) + "\n")
    shutil.rmtree(work, ignore_errors=True)
    print(result_line(contract, values, trace, attempted, failed, failed == 0))
    return 0


def tracing_overhead(history: str, config: dict, traced_p50: float) -> str:
    """Traced op median against the median of the untraced runs this
    checkout has recorded for the same workload configuration."""
    base = []
    if os.path.exists(history):
        with open(history) as f:
            rows = [json.loads(line) for line in f if line.strip()]
        base = [r["op_p50_s"] for r in rows if r.get("config") == config]
    if not base:
        return ("tracing overhead: no untraced run of this workload recorded "
                f"here yet (traced op_p50_s = {traced_p50:.3f} s)")
    med = statistics.median(base)
    return (f"tracing overhead: traced op_p50_s {traced_p50:.3f} s - untraced "
            f"median {med:.3f} s over {len(base)} runs = "
            f"{traced_p50 - med:+.3f} s ({(traced_p50 / med - 1) * 100:+.1f}%)")


if __name__ == "__main__":
    sys.exit(main())
