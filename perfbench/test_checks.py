"""Each output check passes on a right output and fails on a corrupted
one. Spark-free: ``python3 -m pytest perfbench/test_checks.py``."""

from __future__ import annotations

import os
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import checks  # noqa: E402
import gen  # noqa: E402


@pytest.fixture(scope="module")
def web(tmp_path_factory):
    """(url → status, url → code) of the closed form over a tiny web."""
    d = str(tmp_path_factory.mktemp("web"))
    gen.write_tables(d, seed=3, sf=0.001, tables=("customer", "orders", "lineitem"))
    con = duckdb.connect()
    for t in ("customer", "orders", "lineitem"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{d}/{t}.parquet'")
    rows = con.execute(checks.WEB_STATUS_SQL.format(n_seeds=400)).fetchall()
    return {u: s for u, s, _ in rows}, {u: c for u, _, c in rows}


def _host(url: str) -> str:
    return url.split("/")[2]


def test_inputs_repeat_per_seed(tmp_path):
    a, b, c = (str(tmp_path / n) for n in "abc")
    gen.write_tables(a, 5, 0.001, ("orders", "documents"))
    gen.write_tables(b, 5, 0.001, ("orders", "documents"))
    gen.write_tables(c, 6, 0.001, ("orders", "documents"))
    for t in ("orders", "documents"):
        same = open(f"{a}/{t}.parquet", "rb").read()
        assert same == open(f"{b}/{t}.parquet", "rb").read()
        assert same != open(f"{c}/{t}.parquet", "rb").read()


def test_closed_form_covers_every_status(web):
    status, _ = web
    assert {"Crawled", "MaxRetries", "RobotsBlocked"} <= set(status.values())
    assert any("/part/" in u for u in status)
    assert any("/supplier/" in u for u in status)


def test_host_status_counts(web):
    status, _ = web
    hosts = {u: _host(u) for u in status}
    oracle = checks.host_status_counts(status, hosts)
    assert checks.check_host_status_counts(dict(oracle), oracle) == []
    url = next(u for u, s in status.items() if s == "Crawled")
    moved = dict(status, **{url: "MaxRetries"})
    assert checks.check_host_status_counts(
        checks.host_status_counts(moved, hosts), oracle)


def test_url_statuses(web):
    status, _ = web
    assert checks.check_url_statuses(dict(status), status) == []
    dropped = dict(status)
    dropped.pop(next(iter(dropped)))
    assert checks.check_url_statuses(dropped, status)
    renamed = dict(status)
    url = next(u for u in status if "/part/" in u)
    renamed[url + "0"] = renamed.pop(url)
    assert checks.check_url_statuses(renamed, status)


def test_failed_urls(web):
    status, _ = web
    assert checks.failed_urls(dict(status), status) == set()
    a, b = sorted(status)[:2]
    broken = dict(status, **{a: "Failed", "http://extra.example/": "Crawled"})
    del broken[b]
    assert checks.failed_urls(broken, status) == {a, b}


def test_attempts_conservation():
    assert checks.check_attempts_conservation([5, 3, 1], [1, 2, 3, 3]) == []
    assert checks.check_attempts_conservation([5, 3, 1], [1, 2, 3, 2])
    assert checks.check_attempts_conservation([5, 3], [1, 2, 3, 3])


def test_planted_corruptions(web):
    status, code = web
    crawled_2xx = {u for u, s in status.items()
                   if s == "Crawled" and code[u] == 200}
    planted = set(sorted(crawled_2xx)[::7]) | {"http://nowhere.example/x"}
    rows = [(u, s, code[u], u not in planted or u.endswith("1"),
             u not in planted or not u.endswith("1"))
            for u, s in status.items()]
    flagged = checks.flagged_payloads(rows)
    assert checks.check_planted(flagged, planted, crawled_2xx) == []
    # a corruption that validation missed
    missed = flagged - {min(flagged)}
    assert checks.check_planted(missed, planted, crawled_2xx)
    # a clean page flagged
    extra = flagged | {min(crawled_2xx - planted)}
    assert checks.check_planted(extra, planted, crawled_2xx)
    # a non-2xx page never counts as flagged, whatever its payload columns
    not_2xx = next(u for u, c in code.items() if c == 404)
    assert not checks.flagged_payloads([(not_2xx, "Crawled", 404, None, None)])


def test_seen_and_differing_urls():
    golden = {("a", "Crawled", 1, 0), ("b", "Crawled", 2, 1), ("c", "MaxRetries", 3, 0)}
    assert checks.check_seen({"a", "b", "c"}, {"a", "b", "c"}) == []
    assert checks.check_seen({"a", "b"}, {"a", "b", "c"})
    assert checks.differing_urls(set(golden), golden) == set()
    engine = (golden - {("b", "Crawled", 2, 1)}) | {("b", "Crawled", 1, 1)}
    assert checks.differing_urls(engine, golden) == {"b"}


def test_query_against_oracle():
    cols, rows = ["k", "v"], [(1, 0.5), (2, 0.25)]
    assert checks.check_query("q", cols, rows, ["v", "k"],
                              [(0.25, 2), (0.5, 1)]) == []
    assert checks.check_query("q", cols, rows, cols, [(1, 0.5)])
    assert checks.check_query("q", cols, rows, ["k", "w"], rows)
    assert checks.check_query("q", cols, [(1, 0.5), (2, 0.26)], cols, rows)

