"""Tests for the benchmark itself: oracles, fake web, metric contract.

Run from the repository root: ``python3 -m pytest crawlbench/tests -q``.
"""

from __future__ import annotations

import json
import os
import re

import pytest

from crawlbench import oracles
from crawlbench.run import load_contract, result_line

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT_RE = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def _u(host: int, kind: str, idx: int) -> str:
    return f"http://h{host}.test/{kind}/{idx}"


# -- oracles ---------------------------------------------------------------

TWO_HOSTS = oracles.WebModel(
    n_hosts=2, pages_per_host=3, out_degree=1, images_per_host=1,
    hot_hosts=0, crawl_delays=(0,),
)


def test_two_host_graph_links_by_hand():
    # page j links to (7j + 1) mod 3 on its host, and page 0 also links
    # to page 0 of host (i + 1) mod 2; every page shows image 0
    assert TWO_HOSTS.links(0, 0) == [_u(0, "p", 1), _u(1, "p", 0)]
    assert TWO_HOSTS.links(0, 1) == [_u(0, "p", 2)]
    assert TWO_HOSTS.links(0, 2) == [_u(0, "p", 0)]
    assert TWO_HOSTS.links(1, 0) == [_u(1, "p", 1), _u(0, "p", 0)]
    assert TWO_HOSTS.image_of(1, 2) == _u(1, "img", 0)


def test_two_host_replay_by_hand():
    r = oracles.replay_crawl(TWO_HOSTS, [_u(0, "p", 0)], epochs=3, tokens=1)
    # (epoch, scheduled, fetched_ok, admitted, items, dead, frontier)
    assert [e.as_tuple() for e in r.epochs] == [
        # h0/p/0 -> admits h0/p/1, h1/p/0, h0/img/0
        (1, 1, 1, 3, 0, 0, 3),
        # one token per host: h0 takes img/0 ("img" < "p/1"), h1 takes
        # p/0, which admits h1/p/1 and h1/img/0 (h0/p/0 is seen)
        (2, 2, 2, 2, 1, 0, 3),
        # h0/p/1 admits h0/p/2; h1 takes its image
        (3, 2, 2, 1, 1, 0, 2),
    ]
    assert r.seen == {
        _u(0, "p", 0): 0,
        _u(0, "p", 1): 1, _u(1, "p", 0): 1, _u(0, "img", 0): 1,
        _u(1, "p", 1): 2, _u(1, "img", 0): 2,
        _u(0, "p", 2): 3,
    }
    assert r.items == {_u(0, "img", 0), _u(1, "img", 0)}
    assert set(r.frontier) == {_u(1, "p", 1), _u(0, "p", 2)}
    assert r.dead == set()


def test_planted_failure_retries_then_dead_letters():
    web = oracles.WebModel(n_hosts=1, pages_per_host=14, images_per_host=0,
                           hot_hosts=0, crawl_delays=(0,))
    assert web.page_status(13) == 500 and web.page_status(17) == 404
    r = oracles.replay_crawl(web, [_u(0, "p", 13)], epochs=5, tokens=1)
    # one fetch and three retries, then the dead-letter table
    assert [e.scheduled for e in r.epochs] == [1, 1, 1, 1, 0]
    assert [e.dead for e in r.epochs] == [0, 0, 0, 1, 0]
    assert r.dead == {_u(0, "p", 13)}
    assert r.frontier == {}


def test_crawl_delay_closes_host_until_its_clock_opens():
    web = oracles.WebModel(n_hosts=1, pages_per_host=10, images_per_host=0,
                           hot_hosts=0, crawl_delays=(600,))
    seeds = [_u(0, "p", j) for j in (2, 4, 6, 8)]
    r = oracles.replay_crawl(web, seeds, epochs=3, tokens=2)
    # 2 fetches x 600 ms push the clock to 2200 ms: epoch 2 (2000 ms)
    # is closed, epoch 3 (3000 ms) is open
    assert [e.scheduled for e in r.epochs] == [2, 0, 2]


def test_expected_kept_closes_exact_and_near_pairs():
    rows = [
        ("a", "k1", 0),
        ("b", "k1", 0),  # byte copy of a
        ("c", "k2", 0b111),  # 3 bits from a
        ("d", "k3", 0b1111 << 20),  # 4 bits from a
        ("e", "k4", (0b1111 << 20) | 1),  # 1 bit from d
        ("f", "k5", -1),  # all 64 bits set, far from everything
    ]
    assert oracles.expected_kept(rows) == 3
    assert oracles.expected_kept(rows, max_hamming=4) == 2


def test_seen_digest_ignores_order():
    a = [(1, "x"), (0, "y")]
    assert oracles.seen_digest(a) == oracles.seen_digest(reversed(a))
    assert oracles.seen_digest(a) != oracles.seen_digest([(2, "x"), (0, "y")])


# -- fake web --------------------------------------------------------------

def test_fake_web_serves_each_planted_status(tmp_path):
    pa = pytest.importorskip("pyarrow")
    pq = pytest.importorskip("pyarrow.parquet")
    urllib3 = pytest.importorskip("urllib3")
    from crawlbench.fakeweb import FakeWeb

    rows = {
        "url": [_u(0, "p", 0), _u(0, "p", 13), _u(0, "p", 17), _u(0, "img", 0)],
        "status": [200, 500, 404, 200],
        "content_type": ["text/html", "text/html", "text/html", "image/png"],
        "body": [b"<html>ok</html>", b"", b"", b"\x89PNG"],
        "set_cookie": ["sid=h0", None, None, None],
    }
    corpus = tmp_path / "corpus"
    corpus.mkdir()
    pq.write_table(pa.table(rows), corpus / "part-0.parquet")
    with FakeWeb(str(corpus), str(tmp_path / "web")) as web:
        pool = urllib3.ProxyManager(web.proxy)
        got = {u: pool.request("GET", u, retries=False) for u in rows["url"]}
        assert [got[u].status for u in rows["url"]] == rows["status"]
        page = got[_u(0, "p", 0)]
        assert page.data == b"<html>ok</html>"
        assert page.headers["Content-Type"] == "text/html"
        assert page.headers["Set-Cookie"] == "sid=h0"
        assert got[_u(0, "img", 0)].headers["Content-Type"] == "image/png"
        assert pool.request("GET", _u(9, "p", 0), retries=False).status == 404
        st = web.stats()
        assert st["requests"] == 5
        assert st["urls"] == 5
        assert st["statuses"] == {"200": 2, "404": 2, "500": 1}
        # one kept-alive connection carried every request
        assert st["connections"] == 1
        assert web.reset()["requests"] == 0
    assert web.proc.poll() is not None


# -- metric contract -------------------------------------------------------

def test_every_metric_name_is_valid_and_printed_with_its_unit():
    contract = load_contract()
    names = [m["name"] for tier in ("end_to_end", "per_layer") for m in contract[tier]]
    assert len(names) == len(set(names))
    for m in contract["end_to_end"] + contract["per_layer"]:
        assert NAME_RE.match(m["name"]), m["name"]
        assert UNIT_RE.match(m["unit"]), m["unit"]
        assert m["better"] in ("higher", "lower")
    for trace, tier in ((False, "end_to_end"), (True, "per_layer")):
        values = {m["name"]: 1.5 for m in contract[tier]}
        line = json.loads(result_line(contract, values, trace, 3, 0, True))
        assert set(line) == {"correct", "attempted", "failed", "metrics"}
        assert line["metrics"] == {
            m["name"]: {"value": 1.5, "unit": m["unit"]} for m in contract[tier]
        }
    with pytest.raises(KeyError):
        result_line(contract, {}, False, 1, 0, True)


def test_setup_time_has_the_largest_bound():
    e2e = {m["name"]: m for m in load_contract()["end_to_end"]}
    setup = e2e["setup_s"]
    assert setup["unit"] == "s" and setup["better"] == "lower"
    assert all(0 < m["bound"] <= setup["bound"] <= 0.25 for m in e2e.values())


# -- oracle against the engine ---------------------------------------------

@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    from spider_man_spark.session import get_spark

    s = get_spark(
        "crawlbench-tests", master="local[2]", shuffle_partitions=4,
        extra_conf={
            "spark.sql.warehouse.dir": str(tmp_path_factory.mktemp("wh")),
            "spark.ui.showConsoleProgress": "false",
        },
    )
    yield s
    s.stop()


def test_web_model_matches_make_corpus(spark):
    from spider_man_spark.sources.corpus import make_corpus

    web = oracles.WebModel(n_hosts=3, pages_per_host=45, images_per_host=2,
                           crawl_delays=(0, 5, 10))
    corpus = make_corpus(spark, n_hosts=3, pages_per_host=45, images_per_host=2,
                         crawl_delays=(0, 5, 10))
    pages = corpus.filter("url like '%/p/%'").select("url", "status", "links").collect()
    want = {
        u: (web.page_status(j), web.links(h, j))
        for h in range(3) for j in range(web.n_pages(h))
        for u in [_u(h, "p", j)]
    }
    assert {r.url: (r.status, list(r.links)) for r in pages} == want
    images = {r.url for r in corpus.filter("url like '%/img/%'").collect()}
    assert images == {web.image_of(h, j) for h in range(3) for j in range(2)}


def test_replay_matches_the_engine(spark, tmp_path):
    import pandas as pd

    from spider_man_spark.config import CrawlConfig
    from spider_man_spark.plans.job import CrawlJob
    from spider_man_spark.sources.corpus import make_corpus

    web = oracles.WebModel(n_hosts=3, pages_per_host=45, images_per_host=2,
                           crawl_delays=(0, 100, 300))
    corpus = make_corpus(spark, n_hosts=3, pages_per_host=45, images_per_host=2,
                         crawl_delays=(0, 100, 300)).cache()
    seeds = [_u(h, "p", j) for h in range(3) for j in (0, 13, 30)]
    job = CrawlJob(spark, CrawlConfig(workdir=str(tmp_path / "w"), tokens_per_epoch=4),
                   corpus=corpus)
    job.insert_requests_df(spark.createDataFrame(pd.DataFrame({"url": seeds})))
    replay = oracles.replay_crawl(web, seeds, epochs=6, tokens=4)
    for want in replay.epochs:
        r = job.step()
        assert (r.epoch, r.scheduled, r.fetched_ok, r.new_requests, r.items,
                r.dead, r.frontier_size) == want.as_tuple()
    seen = job.store.read_deltas("seen", 6).select("epoch", "url_key").collect()
    assert {(r.url_key, r.epoch) for r in seen} == set(replay.seen.items())
    assert {r.url_key for r in job.failed().collect()} == replay.dead
