"""Deterministic fake web: serves corpus rows to the engine's HTTP fetcher.

One separate process runs a single-threaded asyncio HTTP/1.1 server on
127.0.0.1.  The engine reaches it as its proxy
(``job.switch_fetch_options(proxy=...)`` or ``http_fetch(proxy=...)``):
the ``*.test`` hosts do not resolve, and urllib3 sends proxy-form
absolute URLs (``GET http://h0.test/p/1 HTTP/1.1``), which the server
looks up in the corpus parquet it was given.  Each row is answered with
its own status, content type, body and Set-Cookie, so the planted
404/500 pages exercise the fetcher's retry and backoff.

Origin-form paths are the control channel: ``/__stats`` returns the
counters as JSON and ``/__reset`` clears them.

Run standalone: ``python3 -m crawlbench.fakeweb --corpus DIR --port-file F``.
"""

from __future__ import annotations

import argparse
import asyncio
import http.client
import json
import os
import signal
import statistics
import subprocess
import sys
import time
from collections import defaultdict

_REASONS = {200: "OK", 404: "Not Found", 500: "Internal Server Error"}


def load_corpus(path: str) -> dict[str, tuple[int, str, bytes, str | None]]:
    import pyarrow.parquet as pq

    t = pq.read_table(
        path, columns=["url", "status", "content_type", "body", "set_cookie"]
    ).to_pydict()
    return {
        u: (int(s), ct or "application/octet-stream", b or b"", ck)
        for u, s, ct, b, ck in zip(
            t["url"], t["status"], t["content_type"], t["body"], t["set_cookie"]
        )
    }


class Counters:
    def __init__(self) -> None:
        self.reset()

    def reset(self) -> None:
        self.requests = 0
        self.connections = 0
        self.service_ns: list[int] = []
        self.by_url: dict[str, list[float]] = defaultdict(list)
        self.status_count: dict[int, int] = defaultdict(int)

    def snapshot(self) -> dict:
        gaps = 0.0
        for times in self.by_url.values():
            if len(times) > 1:
                gaps += times[-1] - times[0]
        return {
            "requests": self.requests,
            # connections that carried at least one page request
            "connections": self.connections,
            "urls": len(self.by_url),
            "statuses": {str(k): v for k, v in sorted(self.status_count.items())},
            # time between the first and last request for a url the
            # fetcher asked for more than once: its in-UDF retry backoff
            "retry_span_s": gaps,
            "service_ms_p50": (
                statistics.median(self.service_ns) / 1e6 if self.service_ns else 0.0
            ),
        }


def _response(status: int, ctype: str, body: bytes, cookie: str | None) -> bytes:
    head = [
        f"HTTP/1.1 {status} {_REASONS.get(status, 'Status')}",
        f"Content-Type: {ctype}",
        f"Content-Length: {len(body)}",
    ]
    if cookie:
        head.append(f"Set-Cookie: {cookie}")
    return ("\r\n".join(head) + "\r\n\r\n").encode() + body


async def _serve(corpus, counters: Counters, port_file: str) -> None:
    async def handle(reader: asyncio.StreamReader, writer: asyncio.StreamWriter):
        served = False
        try:
            while True:
                try:
                    head = await reader.readuntil(b"\r\n\r\n")
                except (asyncio.IncompleteReadError, ConnectionError):
                    break
                t0 = time.perf_counter_ns()
                lines = head.decode("latin-1").split("\r\n")
                _method, target, _version = lines[0].split(" ", 2)
                close = any(
                    h.lower().startswith("connection:") and "close" in h.lower()
                    for h in lines[1:]
                )
                if target.startswith("/__"):
                    if target == "/__reset":
                        counters.reset()
                    payload = json.dumps(counters.snapshot()).encode()
                    writer.write(_response(200, "application/json", payload, None))
                else:
                    row = corpus.get(target)
                    status, ctype, body, cookie = (
                        row if row is not None else (404, "text/plain", b"", None)
                    )
                    writer.write(_response(status, ctype, body, cookie))
                    if not served:
                        served = True
                        counters.connections += 1
                    counters.requests += 1
                    counters.status_count[status] += 1
                    counters.by_url[target].append(time.monotonic())
                    counters.service_ns.append(time.perf_counter_ns() - t0)
                await writer.drain()
                if close:
                    break
        finally:
            writer.close()

    server = await asyncio.start_server(handle, "127.0.0.1", 0)
    port = server.sockets[0].getsockname()[1]
    tmp = port_file + ".tmp"
    with open(tmp, "w") as f:
        f.write(str(port))
    os.replace(tmp, port_file)
    stop = asyncio.Event()
    loop = asyncio.get_running_loop()
    loop.add_signal_handler(signal.SIGTERM, stop.set)
    async with server:
        await stop.wait()


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--corpus", required=True, help="corpus parquet directory")
    ap.add_argument("--port-file", required=True, help="file to write the port to")
    args = ap.parse_args(argv)
    asyncio.run(_serve(load_corpus(args.corpus), Counters(), args.port_file))


class FakeWeb:
    """Handle on a running fake-web process (a context manager)."""

    def __init__(self, corpus_dir: str, workdir: str) -> None:
        os.makedirs(workdir, exist_ok=True)
        port_file = os.path.join(workdir, "fakeweb.port")
        if os.path.exists(port_file):
            os.remove(port_file)
        root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        self.proc = subprocess.Popen(
            [sys.executable, "-m", "crawlbench.fakeweb",
             "--corpus", corpus_dir, "--port-file", port_file],
            cwd=root,
        )
        deadline = time.monotonic() + 60
        while not os.path.exists(port_file):
            if self.proc.poll() is not None or time.monotonic() > deadline:
                self.close()
                raise RuntimeError("fake web did not start")
            time.sleep(0.05)
        with open(port_file) as f:
            self.port = int(f.read())
        self.proxy = f"http://127.0.0.1:{self.port}"

    def _control(self, path: str) -> dict:
        conn = http.client.HTTPConnection("127.0.0.1", self.port, timeout=30)
        try:
            conn.request("GET", path)
            return json.loads(conn.getresponse().read())
        finally:
            conn.close()

    def stats(self) -> dict:
        return self._control("/__stats")

    def reset(self) -> dict:
        return self._control("/__reset")

    def close(self) -> None:
        if self.proc.poll() is None:
            self.proc.terminate()
            try:
                self.proc.wait(timeout=10)
            except subprocess.TimeoutExpired:
                self.proc.kill()
                self.proc.wait()

    def __enter__(self) -> "FakeWeb":
        return self

    def __exit__(self, *exc) -> None:
        self.close()


if __name__ == "__main__":
    main()
