"""Output checks, each against a computation made apart from the engine.

Every check takes plain Python values (collected rows, sets, counts) and
returns a list of error strings, empty when the output is right, so
``test_checks.py`` can show each one failing on a corrupted output
without starting Spark.
"""

from __future__ import annotations

import math
from collections import Counter

#: per-URL status of the TPC-H-derived web's crawl, in closed form. The
#: web is a 3-level DAG (order pages → part pages → supplier pages), so
#: the breadth-first fixpoint is a fixed set of joins; the rules mirror
#: ``__spark_entry__.build_web_from_tpch`` and the crawl settings of the
#: ``frontier`` workload (robots ``Disallow: /order/9`` on every host,
#: 500 → retried to MaxRetries, 404 → terminal Crawled, meta nofollow on
#: orderkey % 53 == 0, the authority root absent from the web).
WEB_STATUS_SQL = """
    WITH op AS (
        SELECT o_orderkey AS k,
               'http://' || printf('nation%02d.shop', c_nationkey)
                   || '/order/' || o_orderkey AS url,
               CASE WHEN o_orderkey % 37 = 0 THEN 404
                    WHEN o_orderkey % 41 = 0 THEN 500
                    ELSE 200 END AS code,
               (o_orderkey % 53 = 0) AS nofollow
        FROM orders JOIN customer ON o_custkey = c_custkey),
    seeds AS (SELECT * FROM op WHERE k <= {n_seeds}),
    fetched AS (SELECT * FROM seeds WHERE CAST(k AS VARCHAR) NOT LIKE '9%'),
    parts AS (
        SELECT DISTINCT l_partkey AS pk
        FROM lineitem JOIN fetched ON l_orderkey = k
        WHERE code = 200 AND NOT nofollow),
    supp AS (
        SELECT DISTINCT l_suppkey AS sk FROM lineitem
        WHERE l_partkey IN (SELECT pk FROM parts))
    SELECT url,
           CASE WHEN CAST(k AS VARCHAR) LIKE '9%' THEN 'RobotsBlocked'
                WHEN code = 500 THEN 'MaxRetries'
                ELSE 'Crawled' END AS status,
           CASE WHEN CAST(k AS VARCHAR) LIKE '9%' THEN NULL
                ELSE code END AS code
    FROM seeds
    UNION ALL SELECT 'http://nation00.shop/', 'MaxRetries', NULL
    UNION ALL SELECT 'http://parts.shop/part/' || pk, 'Crawled', 200 FROM parts
    UNION ALL SELECT 'http://suppliers.shop/supplier/' || sk, 'Crawled', 200
              FROM supp
"""


def _diff(what: str, got, want, limit: int = 3) -> list[str]:
    if got == want:
        return []
    if isinstance(got, dict):
        keys = sorted(set(got) | set(want), key=str)
        bad = [k for k in keys if got.get(k) != want.get(k)]
        return [f"{what}: {len(bad)} keys differ, e.g. "
                + ", ".join(f"{k}: engine={got.get(k)} expected={want.get(k)}"
                            for k in bad[:limit])]
    if isinstance(got, set):
        return [f"{what}: {len(got - want)} unexpected, {len(want - got)} "
                f"missing, e.g. unexpected={sorted(got - want, key=str)[:limit]}"
                f" missing={sorted(want - got, key=str)[:limit]}"]
    return [f"{what}: engine={got} expected={want}"]


# ------------------------------------------------------------ frontier
def host_status_counts(url_status: dict[str, str],
                       url_host: dict[str, str]) -> dict[tuple[str, str], int]:
    return dict(Counter((url_host[u], s) for u, s in url_status.items()))


def check_host_status_counts(engine: dict[tuple[str, str], int],
                             oracle: dict[tuple[str, str], int]) -> list[str]:
    """Per-(host, status) result counts against the DuckDB closed form."""
    return _diff("per-(host, status) counts", engine, oracle)


def check_url_statuses(engine: dict[str, str],
                       oracle: dict[str, str]) -> list[str]:
    """Every result URL with its status against the DuckDB closed form."""
    return _diff("URL statuses", engine, oracle)


def failed_urls(engine: dict[str, str], oracle: dict[str, str]) -> set[str]:
    """The closed form's URLs whose engine status differs or is missing:
    the failed operations of a crawl, one per URL."""
    return {u for u, s in oracle.items() if engine.get(u) != s}


def check_attempts_conservation(fetched_per_round: list[int],
                                n_attempts: list[int]) -> list[str]:
    """Fetch attempts counted per round by the loop must equal the sum
    of the results' ``n_attempts``: two totals reached by separate paths."""
    return _diff("fetch attempts (rounds vs results)",
                 sum(fetched_per_round), sum(n_attempts))


def flagged_payloads(rows) -> set[str]:
    """URLs of 2xx ``Crawled`` results whose payload validation failed;
    ``rows`` are (url, status, last_status_code, image_ok, caption_ok)."""
    return {url for url, status, code, image_ok, caption_ok in rows
            if status == "Crawled" and code is not None and 200 <= code <= 299
            and not (image_ok is True and caption_ok is True)}


def check_planted(flagged: set[str], planted: set[str],
                  crawled_2xx: set[str]) -> list[str]:
    """The rows flagged by validation must be exactly the planted
    corruptions among the pages the crawl fetched with a 2xx."""
    return _diff("payloads flagged by validation", flagged,
                 planted & crawled_2xx)


# -------------------------------------------------------------- replay
def check_seen(engine: set[str], golden: set[str]) -> list[str]:
    return _diff("seen set", engine, golden)


def differing_urls(engine_rows: set[tuple], golden_rows: set[tuple]) -> set[str]:
    """URLs whose result rows (url, status, n_attempts, chain length)
    differ between the engine and the golden interpreter."""
    return {row[0] for row in engine_rows ^ golden_rows}


# -------------------------------------------------------------- curate
def _normalize(v):
    if isinstance(v, float):
        return "nan" if math.isnan(v) else round(v, 6)
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    return v


def _canonical(cols: list[str], rows: list[tuple]) -> list[tuple]:
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(_normalize(r[i]) for i in idx) for r in rows]
    return sorted(out, key=lambda t: tuple((v is None, str(type(v)), str(v))
                                           for v in t))


def check_query(name: str, cols: list[str], rows: list[tuple],
                oracle_cols: list[str], oracle_rows: list[tuple]) -> list[str]:
    """One query against its ``oracle_sql()`` on DuckDB: row count,
    column names, and values compared order-insensitively."""
    errs = []
    if len(rows) != len(oracle_rows):
        errs.append(f"{name}: {len(rows)} rows, oracle {len(oracle_rows)}")
    if sorted(cols) != sorted(oracle_cols):
        errs.append(f"{name}: columns {sorted(cols)}, oracle {sorted(oracle_cols)}")
    elif _canonical(cols, rows) != _canonical(oracle_cols, oracle_rows):
        got = _canonical(cols, rows)
        want = _canonical(oracle_cols, oracle_rows)
        errs.append(f"{name}: values differ, e.g. engine-only "
                    f"{[r for r in got if r not in want][:2]} oracle-only "
                    f"{[r for r in want if r not in got][:2]}")
    return errs
