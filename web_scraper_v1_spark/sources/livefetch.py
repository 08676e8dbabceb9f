"""Live-fetch seam: pooled HTTP GET inside ``mapInPandas`` — the
real-network variant of the sandbox's fetch-as-join (SURVEY.md §2 O7).

Reference semantics reproduced from JobProcessor.fetchData
(/root/reference/internal/processor/job_processor.go:111-134):

* GET with a per-row ``User-Agent`` header (job_processor.go:117-118);
* ``status != 200`` is a fetch failure (job_processor.go:130-132): the row
  comes back with ``html`` null and the status recorded, so the engine's
  retry column logic (O6) can consume it exactly like a sandbox join miss;
* the body bytes pass through untouched — downstream parsing is the same
  native extraction expression, so live-fetched pages are byte-identical to
  corpus-joined ones (pytest-gated against a loopback port of the
  reference receiver, cmd/receiver/main.go:21-64).

The reference fetches through a worker pool (internal/taskqueue/
task_queue.go:32-59). Here each Arrow batch is grouped by hostname and
every host gets one thread of a per-batch thread pool, which sends that
host's URLs in input order, one request at a time. Hosts overlap; a host
never has two requests in flight from one task, and the wave's host-hash
repartition (plans/crawl.py) puts all of a host's URLs in one task, so
per-host politeness holds across the wave. ``_MAX_HOST_THREADS`` bounds
the threads, and so the sockets in use, per Python worker. Rows come
back in input order whatever order the hosts finish in.

The reference borrows a pooled client per fetch (internal/tor/
tor_pool.go:40-169 via facade.go:46-60). The Spark analog is an
EXECUTOR-LOCAL connection pool: a module-global LRU of idle keep-alive
``http.client`` connections keyed by (host, port), kept for the lifetime
of the Python worker process (worker reuse keeps it warm across tasks and
rounds) — this is the concrete seam SURVEY.md §2 maps O19 ("connection
pooling") onto. A request checks its connection out of the pool and back
in when it succeeds, so no connection is ever shared by two threads, and
only idle ones are evicted; ``_POOL_MAX`` bounds the idle sockets a
worker holds however many hosts it has seen. Rows move in Arrow batches;
the only per-element Python is the I/O call itself, which no
vectorization can remove. A pooled keep-alive connection that the server
has closed is recycled once per fetch (the pool's recycle path,
tor_pool.go:129-143); a timeout or a refusal is not retried. Each request
waits at most the caller's ``timeout``, on a pooled connection too.

SOCKS5/Tor proxying and identity rotation stay control plane (O18/O21): a
proxy would wrap ``_checkout`` here, and identity epochs rotate between
rounds in the driver loop (plans/crawl.py), never inside a task.
"""

from __future__ import annotations

import http.client
import socket
import threading
from concurrent.futures import ThreadPoolExecutor
from typing import Iterator
from urllib.parse import urlsplit

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from web_scraper_v1_spark.fixtures import (
    CHROME_OPERATING_SYSTEMS,
    CHROME_VERSIONS,
    UA_TEMPLATE,
)

FETCH_SCHEMA = (
    "canonical_url string, status int, html binary, error_kind string"
)

# failure taxonomy (error_kind): the reference logs the error class on
# fetch failure (job_processor.go:126-132); a crawl operator wants the
# same attribution in lineage — timeout vs refused vs other transport
# errors retry identically but mean different things operationally
KIND_TIMEOUT = "timeout"
KIND_REFUSED = "refused"
KIND_TRANSPORT = "transport"
KIND_NON200 = "non200"

_UA_PRE, _rest = UA_TEMPLATE.split("{os}")
_UA_MID, _UA_POST = _rest.split("{version}")


def chrome_ua_column(url: Column) -> Column:
    """Deterministic per-URL Chrome User-Agent column (O20,
    chrome.go:69-74) for the live fetcher: version/OS chosen by
    pmod(xxhash64(url)) instead of rand, entirely JVM-side, preserving the
    reference template's exact bytes including the Cyrillic look-alike
    'Mоzillа' (chrome.go:73)."""
    os_arr = F.array(*[F.lit(o) for o in CHROME_OPERATING_SYSTEMS])
    v_arr = F.array(*[F.lit(v) for v in CHROME_VERSIONS])
    return F.concat(
        F.lit(_UA_PRE),
        F.element_at(
            os_arr,
            (
                F.pmod(F.xxhash64(url), F.lit(len(CHROME_OPERATING_SYSTEMS)))
                + 1
            ).cast("int"),
        ),
        F.lit(_UA_MID),
        F.element_at(
            v_arr,
            (
                F.pmod(F.xxhash64(url), F.lit(len(CHROME_VERSIONS))) + 1
            ).cast("int"),
        ),
        F.lit(_UA_POST),
    )

# Threads per batch: one per host, at most this many. Each thread holds
# one socket while it fetches, so this bounds the OS threads and sockets a
# Python worker uses at once; a wave whose task holds more hosts than this
# queues the rest, largest first.
_MAX_HOST_THREADS = 16
# Idle keep-alive connections a Python worker keeps, least recently used
# evicted first: a few times the thread bound, so hosts that recur across
# tasks and rounds keep their connection, while a worker that has seen
# thousands of hosts holds at most this many open sockets.
_POOL_MAX = 64

# executor-local (per Python worker process) pool of IDLE keep-alive
# connections, in least- to most-recently-used order; a connection in use
# is checked out, so the pool never hands one to two threads
_POOL: dict[tuple[str, int], http.client.HTTPConnection] = {}
_POOL_LOCK = threading.Lock()


def _checkout(
    host: str, port: int, timeout: float
) -> tuple[http.client.HTTPConnection, bool]:
    """A connection to (host, port) that waits at most ``timeout`` per
    socket operation, and whether it came from the pool (an idle
    keep-alive connection the server may have closed meanwhile)."""
    with _POOL_LOCK:
        conn = _POOL.pop((host, port), None)
    if conn is None:
        return http.client.HTTPConnection(host, port, timeout=timeout), False
    # the pooled connection keeps the timeout of the call that opened it
    conn.timeout = timeout
    if conn.sock is not None:
        conn.sock.settimeout(timeout)
    return conn, True


def _checkin(host: str, port: int, conn: http.client.HTTPConnection) -> None:
    with _POOL_LOCK:
        _POOL[(host, port)] = conn
        evicted = []
        while len(_POOL) > _POOL_MAX:
            evicted.append(_POOL.pop(next(iter(_POOL))))
    for old in evicted:
        old.close()


# what a keep-alive connection the server closed while it sat idle in the
# pool raises on its next request
_STALE = (http.client.RemoteDisconnected, ConnectionResetError, BrokenPipeError)


def _classify(exc: Exception) -> str:
    """Failure-mode attribution for a transport exception — timeout vs
    connection-refused vs everything else (job_processor.go:126-128 logs
    the Go error class the same way)."""
    if isinstance(exc, (TimeoutError, socket.timeout)):
        return KIND_TIMEOUT
    if isinstance(exc, ConnectionRefusedError):
        return KIND_REFUSED
    return KIND_TRANSPORT


def _target(url: str) -> tuple[str, int, str] | None:
    """(host, port, request target) of a URL the seam can fetch, or None
    (unparseable, or not plain http)."""
    try:
        parts = urlsplit(url)
        host = parts.hostname
        if host is None or parts.scheme != "http":
            return None
        port = parts.port or 80
    except ValueError:
        return None
    target = parts.path or "/"
    if parts.query:
        target += "?" + parts.query
    return host, port, target


def _fetch_one(
    host: str, port: int, target: str, user_agent: str, timeout: float
) -> tuple[int, bytes | None, str | None]:
    """One GET through a pooled connection. Returns (status, body,
    error_kind): body None unless status == 200 (job_processor.go:130-132),
    error_kind None on success else one of timeout/refused/transport/
    non200. Status -1 marks a transport error — the live analog of the
    sandbox join miss."""
    # Send the UA as raw UTF-8 BYTES: http.client encodes str header
    # values as latin-1, which rejects the reference UA template's
    # Cyrillic look-alike codepoints (chrome.go:73 'Mоzillа'); the Go
    # client ships the raw bytes (job_processor.go:117-118), so we do too
    # (putheader passes bytes through unencoded).
    headers = {"User-Agent": user_agent.encode("utf-8"), "Accept": "*/*"}
    conn, pooled = _checkout(host, port, timeout)
    while True:
        try:
            conn.request("GET", target, headers=headers)
            resp = conn.getresponse()
            body = resp.read()
        except Exception as exc:
            conn.close()
            # a pooled keep-alive connection the server has closed fails
            # at once: recycle it, sending the GET again on a fresh
            # connection. Any other failure (a timeout, a refusal, an
            # error on a fresh connection) is the fetch's outcome: a
            # second GET would wait as long again on a host already slow.
            if not (pooled and isinstance(exc, _STALE)):
                return -1, None, _classify(exc)
            conn = http.client.HTTPConnection(host, port, timeout=timeout)
            pooled = False
            continue
        _checkin(host, port, conn)
        if resp.status != 200:
            return resp.status, None, KIND_NON200
        return 200, bytes(body), None


def _fetch_all(
    urls: list[str], user_agents: list[str | None], timeout: float
) -> list[tuple[int, bytes | None, str | None]]:
    """Fetch a batch: (status, body, error_kind) per URL, in input order.
    Each hostname's URLs go in input order through one thread of a pool
    of at most ``_MAX_HOST_THREADS``, so hosts overlap while a host has
    at most one request in flight."""
    out: list[tuple[int, bytes | None, str | None]] = [
        (-1, None, KIND_TRANSPORT)
    ] * len(urls)
    by_host: dict[str, list[tuple[int, int, str, str]]] = {}
    for i, (url, ua) in enumerate(zip(urls, user_agents)):
        t = _target(url)
        if t is not None:
            host, port, target = t
            by_host.setdefault(host, []).append((i, port, target, ua or ""))

    def fetch_host(host: str, jobs: list[tuple[int, int, str, str]]) -> None:
        for i, port, target, ua in jobs:
            out[i] = _fetch_one(host, port, target, ua, timeout)

    if by_host:
        # largest hosts first: the slowest host then starts at once
        groups = sorted(by_host.items(), key=lambda kv: -len(kv[1]))
        with ThreadPoolExecutor(
            max_workers=min(_MAX_HOST_THREADS, len(groups))
        ) as pool:
            for f in [pool.submit(fetch_host, h, j) for h, j in groups]:
                f.result()
    return out


def live_fetch(
    frontier: DataFrame,
    url_col: str = "canonical_url",
    ua_col: str = "user_agent",
    timeout: float = 30.0,
) -> DataFrame:
    """Fetch every frontier row's URL over live HTTP; returns
    (canonical_url, status, html, error_kind) with html null and
    error_kind set (timeout | refused | transport | non200) on any
    failure. Each Spark task streams its Arrow batches through the
    worker's pooled connections, fetching a batch's hosts at once and each
    host's URLs one at a time (``_fetch_all``). Politeness across tasks
    is the caller's: partition the frontier by host so one host's URLs
    share a task. How many URLs of a host a round fetches is the wave
    selector's job upstream (per_host_topk)."""

    def _fetch_batches(
        batches: Iterator[pd.DataFrame],
    ) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            urls = pdf[url_col].tolist()
            rows = _fetch_all(urls, pdf[ua_col].tolist(), timeout)
            yield pd.DataFrame(
                {
                    "canonical_url": urls,
                    "status": pd.array([r[0] for r in rows], dtype="int32"),
                    "html": [r[1] for r in rows],
                    "error_kind": [r[2] for r in rows],
                }
            )

    return frontier.mapInPandas(_fetch_batches, FETCH_SCHEMA)
