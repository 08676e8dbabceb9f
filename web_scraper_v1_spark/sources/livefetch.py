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

The reference borrows a pooled client per fetch (internal/tor/
tor_pool.go:40-169 via facade.go:46-60). The Spark analog is an
EXECUTOR-LOCAL connection pool: a module-global dict of keep-alive
``http.client`` connections keyed by (host, port), reused across Arrow
batches for the lifetime of the Python worker process (worker reuse keeps
it warm across jobs) — this is the concrete seam SURVEY.md §2 maps O19
("connection pooling") onto. Rows move in Arrow batches; the only
per-element Python is the I/O call itself, which no vectorization can
remove. A stale keep-alive connection is recycled once per fetch (the
pool's recycle path, tor_pool.go:129-143).

SOCKS5/Tor proxying and identity rotation stay control plane (O18/O21): a
proxy would wrap ``_connection`` here, and identity epochs rotate between
rounds in the driver loop (plans/crawl.py), never inside a task.
"""

from __future__ import annotations

import http.client
import socket
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

# executor-local (per Python worker process) keep-alive connection pool
_POOL: dict[tuple[str, int], http.client.HTTPConnection] = {}


def _connection(
    host: str, port: int, timeout: float
) -> http.client.HTTPConnection:
    key = (host, port)
    conn = _POOL.get(key)
    if conn is None:
        conn = http.client.HTTPConnection(host, port, timeout=timeout)
        _POOL[key] = conn
    return conn


def _drop_connection(host: str, port: int) -> None:
    conn = _POOL.pop((host, port), None)
    if conn is not None:
        try:
            conn.close()
        except Exception:
            pass


def _classify(exc: Exception) -> str:
    """Failure-mode attribution for a transport exception — timeout vs
    connection-refused vs everything else (job_processor.go:126-128 logs
    the Go error class the same way)."""
    if isinstance(exc, (TimeoutError, socket.timeout)):
        return KIND_TIMEOUT
    if isinstance(exc, ConnectionRefusedError):
        return KIND_REFUSED
    return KIND_TRANSPORT


def _fetch_one(
    url: str, user_agent: str, timeout: float
) -> tuple[int, bytes | None, str | None]:
    """One GET through the pooled connection. Returns (status, body,
    error_kind): body None unless status == 200 (job_processor.go:130-132),
    error_kind None on success else one of timeout/refused/transport/
    non200. Status -1 marks a transport error — the live analog of the
    sandbox join miss."""
    try:
        parts = urlsplit(url)
        host = parts.hostname
        if host is None or parts.scheme != "http":
            return -1, None, KIND_TRANSPORT
        port = parts.port or 80
        target = parts.path or "/"
        if parts.query:
            target += "?" + parts.query
    except ValueError:
        return -1, None, KIND_TRANSPORT
    # Send the UA as raw UTF-8 BYTES: http.client encodes str header
    # values as latin-1, which rejects the reference UA template's
    # Cyrillic look-alike codepoints (chrome.go:73 'Mоzillа'); the Go
    # client ships the raw bytes (job_processor.go:117-118), so we do too
    # (putheader passes bytes through unencoded).
    headers = {"User-Agent": user_agent.encode("utf-8"), "Accept": "*/*"}
    kind = KIND_TRANSPORT
    for attempt in (0, 1):  # one recycle for a stale keep-alive connection
        conn = _connection(host, port, timeout)
        try:
            conn.request("GET", target, headers=headers)
            resp = conn.getresponse()
            body = resp.read()
        except Exception as exc:
            _drop_connection(host, port)
            kind = _classify(exc)
            if attempt:
                return -1, None, kind
            continue
        if resp.status != 200:
            return resp.status, None, KIND_NON200
        return 200, bytes(body), None
    return -1, None, kind


def live_fetch(
    frontier: DataFrame,
    url_col: str = "canonical_url",
    ua_col: str = "user_agent",
    timeout: float = 30.0,
) -> DataFrame:
    """Fetch every frontier row's URL over live HTTP; returns
    (canonical_url, status, html, error_kind) with html null and
    error_kind set (timeout | refused | transport | non200) on any
    failure. Partition-parallel: each Spark task streams its Arrow batches
    through the worker's pooled connections; per-host politeness is the
    wave selector's job upstream (per_host_topk bounds how many URLs of
    one host are in flight in a round)."""

    def _fetch_batches(
        batches: Iterator[pd.DataFrame],
    ) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            urls = pdf[url_col].tolist()
            uas = pdf[ua_col].tolist()
            statuses = []
            bodies = []
            kinds = []
            for url, ua in zip(urls, uas):
                status, body, kind = _fetch_one(url, ua or "", timeout)
                statuses.append(status)
                bodies.append(body)
                kinds.append(kind)
            yield pd.DataFrame(
                {
                    "canonical_url": urls,
                    "status": pd.array(statuses, dtype="int32"),
                    "html": bodies,
                    "error_kind": kinds,
                }
            )

    return frontier.mapInPandas(_fetch_batches, FETCH_SCHEMA)
