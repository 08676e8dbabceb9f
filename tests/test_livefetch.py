"""Live-fetch seam: pooled-HTTP mapInPandas fetcher against a loopback
echo server reproducing the reference receiver
(/root/reference/cmd/receiver/main.go:21-64): UA/IP/Forwarded-Host echoed
as the plain-text response template, X-Forwarded-For first element or the
remote address as IP, X-Forwarded-Host or Host as forwarded host.

Gates: status!=200 rejection (job_processor.go:130-132), byte-identical
parse of live-fetched bodies through the same extraction UDF the sandbox
join path uses, and actual connection pooling (connections << requests).
Against several loopback addresses: hosts fetched at once with one
request in flight per host, a slow or failing host holding up or failing
only its own URLs, and a bounded idle-connection pool."""

from __future__ import annotations

import socket
import struct
import sys
import threading
import time
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

import pytest
from pyspark.sql import functions as F

from web_scraper_v1_spark import fixtures as fx
from web_scraper_v1_spark.functions.extraction import (
    extract_receiver_response,
    golden_text,
)
from web_scraper_v1_spark.sources.livefetch import live_fetch


class _Receiver(BaseHTTPRequestHandler):
    """Loopback port of cmd/receiver/main.go handleRequests (21-37) +
    getIPAddress (46-64)."""

    protocol_version = "HTTP/1.1"  # keep-alive, so pooling is observable

    def do_GET(self):
        if self.path.startswith("/missing"):
            body = b"not found"
            self.send_response(404)
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)
            return
        # http.server surfaces raw header bytes latin-1-decoded;
        # .encode('latin-1') recovers them losslessly, so the echo is
        # byte-transparent like the Go receiver (the UA carries the
        # reference template's Cyrillic look-alike UTF-8 bytes)
        ua = self.headers.get("User-Agent", "").encode("latin-1")
        xff = self.headers.get("X-Forwarded-For")
        # main.go:50-55: first X-Forwarded-For element; else RemoteAddr
        # minus the port (main.go:58-62)
        ip = xff.split(",")[0].strip() if xff else self.client_address[0]
        fh = self.headers.get("X-Forwarded-Host") or self.headers.get(
            "Host", ""
        )
        body = (
            b"Received User-Agent: " + ua
            + b"\nIP Address: " + ip.encode("latin-1")
            + b"\nForwarded Host: " + fh.encode("latin-1")
        )
        self.send_response(200)
        self.send_header("Content-Length", str(len(body)))
        self.end_headers()
        self.wfile.write(body)

    def setup(self):
        with _COUNTS_LOCK:
            _COUNTS["connections"] += 1
        super().setup()

    def log_message(self, *args):  # keep pytest output clean
        pass


_COUNTS = {"connections": 0}
_COUNTS_LOCK = threading.Lock()


@pytest.fixture(scope="module")
def receiver():
    srv = ThreadingHTTPServer(("127.0.0.1", 0), _Receiver)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    yield srv.server_address[1]
    srv.shutdown()


def _frontier(spark, port: int, n_ok: int, n_missing: int):
    rows = []
    for i in range(n_ok):
        url = f"http://127.0.0.1:{port}/page/{i}"
        rows.append((url, fx.chrome_user_agent(url)))
    for i in range(n_missing):
        url = f"http://127.0.0.1:{port}/missing/{i}"
        rows.append((url, fx.chrome_user_agent(url)))
    return spark.createDataFrame(rows, "canonical_url string, user_agent string")


def test_live_fetch_status_and_bytes(spark, receiver):
    port = receiver
    with _COUNTS_LOCK:
        _COUNTS["connections"] = 0
    n_ok, n_missing = 36, 6
    fetched = live_fetch(_frontier(spark, port, n_ok, n_missing)).collect()
    assert len(fetched) == n_ok + n_missing
    by_url = {r.canonical_url: r for r in fetched}
    # status != 200 => failure row with null html (job_processor.go:130-132)
    for i in range(n_missing):
        r = by_url[f"http://127.0.0.1:{port}/missing/{i}"]
        assert r.status == 404 and r.html is None
    # 200s carry the exact receiver response bytes (UA echoed per row,
    # loopback IP, Host header as forwarded host)
    for i in range(n_ok):
        url = f"http://127.0.0.1:{port}/page/{i}"
        want = fx.RESPONSE_TEMPLATE.format(
            ua=fx.chrome_user_agent(url),
            ip="127.0.0.1",
            fh=f"127.0.0.1:{port}",
        ).encode("utf-8")
        assert bytes(by_url[url].html) == want, url
    # pooling: keep-alive connections are reused across requests within
    # each Python worker — far fewer connections than requests
    with _COUNTS_LOCK:
        n_conns = _COUNTS["connections"]
    assert 0 < n_conns <= (n_ok + n_missing) // 2


def test_live_fetched_bodies_parse_byte_identically(spark, receiver):
    """The live path feeds the SAME vectorized extraction UDF as the
    fetch-as-join path, and the parse agrees byte-for-byte with the
    reference parser transliteration over the live bytes."""
    port = receiver
    fetched = live_fetch(_frontier(spark, port, 24, 4))
    parsed = (
        fetched.filter(F.col("status") == 200)
        .withColumn("r", extract_receiver_response(F.col("html")))
        .select(
            "canonical_url",
            "html",
            golden_text(F.col("r")).alias("text"),
            F.col("r.parse_error").alias("parse_error"),
        )
        .collect()
    )
    assert len(parsed) == 24
    for row in parsed:
        assert not row.parse_error
        ref = fx.parse_receiver_response(bytes(row.html).decode("utf-8"))
        assert ref is not None
        assert row.text == "\n".join(ref), row.canonical_url


def test_crawl_engine_live_mode_trace_parity(spark, tmp_path):
    """O7 end-to-end in LIVE mode: the engine crawls over real HTTP (the
    fetcher seam serving fixture page bodies from a loopback server) and
    reproduces the exact golden trace, seen set, and byte-identical
    extracted text that the fetch-as-join mode produces — fetch failures
    (404) retry-then-drop exactly like corpus join misses."""
    from pyspark.sql import functions as F

    from web_scraper_v1_spark.plans.crawl import CrawlEngine
    from web_scraper_v1_spark.sources.corpus import SEEDS_SCHEMA
    from web_scraper_v1_spark.sources.livefetch import chrome_ua_column

    n_pages, n_hosts = 60, 4
    pages_fx = fx.generate_pages(n_pages, n_hosts)
    served = {}  # path -> fixture body bytes
    gets = [0]  # GETs served, 200 or 404
    gets_lock = threading.Lock()

    class _Corpus(BaseHTTPRequestHandler):
        protocol_version = "HTTP/1.1"

        def do_GET(self):
            with gets_lock:
                gets[0] += 1
            body = served.get(self.path)
            if body is None:
                self.send_response(404)
                self.send_header("Content-Length", "0")
                self.end_headers()
                return
            self.send_response(200)
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def log_message(self, *args):
            pass

    srv = ThreadingHTTPServer(("127.0.0.1", 0), _Corpus)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    port = srv.server_address[1]
    try:
        def local_url(i: int) -> str:
            return f"http://127.0.0.1:{port}/page/{i}"

        for i, p in enumerate(pages_fx):
            served[f"/page/{i}"] = p["html"]
        # simulator's view of the same universe (parse of the served body)
        pages_local = [
            {"url": local_url(i), "text": p["text"]}
            for i, p in enumerate(pages_fx)
        ]
        seeds_local = []
        for i in range(1, 41):
            k = fx.dhash(f"live-seed-{i}", "pick") % (n_pages + 8)
            # k >= n_pages => a path the server 404s (fetch-failure analog)
            seeds_local.append(
                {"task_id": f"task-{i}", "url": local_url(k),
                 "priority": 0, "depth": 0}
            )
        seeds_df = spark.createDataFrame(
            [(s["task_id"], s["url"], s["priority"], s["depth"])
             for s in seeds_local],
            SEEDS_SCHEMA,
        )

        def fetcher(wave):
            return live_fetch(
                wave.withColumn(
                    "user_agent", chrome_ua_column(F.col("canonical_url"))
                )
            )

        eng = CrawlEngine(
            spark, str(tmp_path / "live_run"), batch_size=10, fetcher=fetcher
        )
        stats = eng.run(seeds_df)
        # a live fetch runs once: one GET per selected URL, so a re-planned
        # lineage or an evicted cache re-sending HTTP shows up here
        with gets_lock:
            assert gets[0] == sum(
                st.wave_size - st.robots_blocked for st in stats
            )
        sim = fx.simulate_crawl(seeds_local, pages_local, batch_size=10)
        got = [
            dict(seq=r.seq, url=r.url, attempt=r.attempt, outcome=r.outcome)
            for r in eng.trace().orderBy("seq").collect()
        ]
        want = [
            dict(seq=t["seq"], url=t["url"], attempt=t["attempt"],
                 outcome=t["outcome"])
            for t in sim.trace
        ]
        assert got == want and got, f"{len(got)} vs {len(want)} events"
        assert {r.url for r in eng.seen().collect()} == sim.seen_urls
        # byte-identical extracted text from live-fetched bodies
        golden = {p["url"]: p["text"] for p in pages_local}
        results = eng.results().collect()
        assert results
        for row in results:
            want_text = golden[row.url]
            got_text = "\n".join(
                [row.user_agent, row.ip_address, row.forwarded_host]
            )
            assert got_text == want_text, row.url
    finally:
        srv.shutdown()


def test_transport_errors_are_failures_not_crashes(spark):
    """Connection-refused and non-http URLs surface as status -1 rows (the
    live analog of a sandbox join miss), never task failures — and each
    carries its failure-mode attribution (error_kind), matching the
    reference's error-class logging (job_processor.go:126-132)."""
    rows = [
        ("http://127.0.0.1:9/closed", "ua"),  # discard port: refused
        ("https://127.0.0.1:9/tls", "ua"),  # scheme not handled by the seam
        ("not a url", "ua"),
    ]
    df = spark.createDataFrame(rows, "canonical_url string, user_agent string")
    got = {r.canonical_url: r for r in live_fetch(df, timeout=2.0).collect()}
    assert len(got) == 3
    for r in got.values():
        assert r.status == -1 and r.html is None
    assert got["http://127.0.0.1:9/closed"].error_kind == "refused"
    assert got["https://127.0.0.1:9/tls"].error_kind == "transport"
    assert got["not a url"].error_kind == "transport"


def test_error_kinds_distinguish_non200_timeout_and_refused(spark, receiver):
    """error_kind taxonomy against a REAL server: a 404/500 response is
    non200 (status preserved), a closed port is refused, a stalled
    response is timeout, and a 200 has no error_kind."""
    import socket as _socket

    port = receiver
    # a listener that accepts and never responds -> read timeout
    stall = _socket.socket()
    stall.bind(("127.0.0.1", 0))
    stall.listen(4)
    stall_port = stall.getsockname()[1]
    try:
        rows = [
            (f"http://127.0.0.1:{port}/page/1", "ua"),     # 200
            (f"http://127.0.0.1:{port}/missing/1", "ua"),  # 404
            ("http://127.0.0.1:9/x", "ua"),                # refused
            (f"http://127.0.0.1:{stall_port}/x", "ua"),    # timeout
        ]
        df = spark.createDataFrame(
            rows, "canonical_url string, user_agent string"
        )
        got = {
            r.canonical_url: r
            for r in live_fetch(df.coalesce(1), timeout=2.0).collect()
        }
        ok = got[f"http://127.0.0.1:{port}/page/1"]
        assert ok.status == 200 and ok.error_kind is None
        miss = got[f"http://127.0.0.1:{port}/missing/1"]
        assert miss.status == 404 and miss.error_kind == "non200"
        assert got["http://127.0.0.1:9/x"].error_kind == "refused"
        t = got[f"http://127.0.0.1:{stall_port}/x"]
        assert t.status == -1 and t.error_kind == "timeout"
    finally:
        stall.close()


def test_live_engine_round_records_failure_kinds(spark, tmp_path, receiver):
    """The engine's round lineage carries the failure-kind tally in live
    mode: 404 seeds land as non200 in both RoundStats.failure_kinds and
    the committed round meta."""
    from web_scraper_v1_spark.plans.crawl import CrawlEngine
    from web_scraper_v1_spark.sources.corpus import SEEDS_SCHEMA
    from web_scraper_v1_spark.sources.livefetch import chrome_ua_column

    port = receiver
    seeds = spark.createDataFrame(
        [
            ("task-1", f"http://127.0.0.1:{port}/page/1", 0, 0),
            ("task-2", f"http://127.0.0.1:{port}/page/2", 0, 0),
            ("task-3", f"http://127.0.0.1:{port}/missing/1", 0, 0),
        ],
        SEEDS_SCHEMA,
    )

    def fetcher(wave):
        return live_fetch(
            wave.withColumn(
                "user_agent", chrome_ua_column(F.col("canonical_url"))
            )
        )

    eng = CrawlEngine(
        spark, str(tmp_path / "kinds_run"), batch_size=10, fetcher=fetcher
    )
    stats = eng.run(seeds)
    assert stats and stats[0].failure_kinds == {"non200": 1}
    meta = max(eng.store.rounds(), key=lambda m: m["round"])
    assert meta["failure_kinds"] == {"non200": 1}


# -- the per-host thread pool -------------------------------------------------
class _Hosts:
    """Loopback web with one server per address 127.0.0.2, 127.0.0.3, ...
    A GET waits its address's delay, then answers ``<addr> <path>``; the
    addresses whose index is in ``reset`` reset each connection instead.
    Records, per address, the most requests in flight at once, the most
    addresses busy at once, and the connections open now."""

    def __init__(self, delays: list[float], reset: tuple[int, ...] = ()):
        self.lock = threading.Lock()
        self.inflight: dict[str, int] = {}
        self.max_inflight: dict[str, int] = {}
        self.max_busy_hosts = 0
        self.open_conns = 0
        self.servers = []
        self.urls_of: list[str] = []  # "http://addr:port" per host
        web = self

        class _Handler(BaseHTTPRequestHandler):
            protocol_version = "HTTP/1.1"

            def setup(self):
                with web.lock:
                    web.open_conns += 1
                super().setup()

            def finish(self):
                with web.lock:
                    web.open_conns -= 1
                super().finish()

            def do_GET(self):
                addr = self.server.server_address[0]
                if self.server.reset:
                    self.connection.setsockopt(
                        socket.SOL_SOCKET, socket.SO_LINGER,
                        struct.pack("ii", 1, 0),
                    )
                    self.close_connection = True
                    return
                with web.lock:
                    n = web.inflight[addr] = web.inflight.get(addr, 0) + 1
                    web.max_inflight[addr] = max(
                        web.max_inflight.get(addr, 0), n
                    )
                    busy = sum(1 for v in web.inflight.values() if v)
                    web.max_busy_hosts = max(web.max_busy_hosts, busy)
                time.sleep(self.server.delay)
                with web.lock:
                    web.inflight[addr] -= 1
                body = f"{addr} {self.path}".encode()
                self.send_response(200)
                self.send_header("Content-Length", str(len(body)))
                self.end_headers()
                self.wfile.write(body)

            def log_message(self, *args):
                pass

        for h, delay in enumerate(delays):
            srv = ThreadingHTTPServer((f"127.0.0.{h + 2}", 0), _Handler)
            srv.daemon_threads = True
            srv.delay, srv.reset = delay, h in reset
            threading.Thread(
                target=srv.serve_forever, args=(0.02,), daemon=True
            ).start()
            self.servers.append(srv)
            self.urls_of.append("http://%s:%d" % srv.server_address)

    def close(self) -> None:
        for srv in self.servers:
            srv.shutdown()
            srv.server_close()


@pytest.fixture
def empty_pool():
    """The test process's connection pool, empty before and after."""
    from web_scraper_v1_spark.sources import livefetch

    def drain():
        for conn in livefetch._POOL.values():
            conn.close()
        livefetch._POOL.clear()

    drain()
    yield livefetch
    drain()


def test_hosts_overlap_with_one_request_in_flight_per_host(spark):
    """One Spark task holding four hosts fetches them at once, each host's
    URLs one at a time, and its rows come back aligned to their URLs."""
    web = _Hosts([0.05] * 4)
    try:
        want = {
            f"{web.urls_of[h]}/page/{k}": f"127.0.0.{h + 2} /page/{k}".encode()
            for k in range(5) for h in range(4)
        }
        df = spark.createDataFrame(
            [(u, "ua") for u in want],
            "canonical_url string, user_agent string",
        )
        got = live_fetch(df.coalesce(1)).collect()
        assert [r.canonical_url for r in got] == list(want)
        for r in got:
            assert r.status == 200 and r.error_kind is None
            assert bytes(r.html) == want[r.canonical_url]
        assert set(web.max_inflight.values()) == {1}
        assert web.max_busy_hosts >= 2
    finally:
        web.close()


def test_slow_host_does_not_hold_up_the_others(empty_pool):
    """A host answering in 0.3 s per request sets the batch's time; the
    other hosts' requests run beside it, not after it."""
    delays = [0.3, 0.1, 0.1, 0.1]
    per_host = [3, 4, 4, 4]
    web = _Hosts(delays)
    try:
        urls = [f"{web.urls_of[h]}/page/{k}"
                for h, n in enumerate(per_host) for k in range(n)]
        t0 = time.monotonic()
        rows = empty_pool._fetch_all(urls, ["ua"] * len(urls), 5.0)
        wall = time.monotonic() - t0
        assert [r[0] for r in rows] == [200] * len(urls)
        serial = sum(d * n for d, n in zip(delays, per_host))  # 2.1 s
        assert wall < 0.7 * serial, (wall, serial)
        assert set(web.max_inflight.values()) == {1}
    finally:
        web.close()


def test_refused_and_reset_hosts_fail_only_their_own_urls(empty_pool):
    """A host that refuses connections and one that resets them fail
    their own URLs (refused / transport, after the one stale-connection
    recycle); the healthy host's URLs between them still succeed."""
    web = _Hosts([0.01, 0.01], reset=(1,))
    try:
        ok_base, reset_base = web.urls_of
        # nothing listens on this address: every connect is refused
        refused_base = "http://127.0.0.9:%d" % web.servers[0].server_address[1]
        urls = [f"{base}/page/{k}" for k in range(3)
                for base in (ok_base, refused_base, reset_base)]
        rows = empty_pool._fetch_all(urls, ["ua"] * len(urls), 5.0)
        for url, (status, body, kind) in zip(urls, rows):
            if url.startswith(ok_base):
                assert status == 200 and kind is None
                assert body == ("127.0.0.2 /" + url.split("/", 3)[3]).encode()
            else:
                want = "refused" if url.startswith(refused_base) else "transport"
                assert (status, body, kind) == (-1, None, want), url
    finally:
        web.close()


def test_pool_stays_bounded_under_many_host_threads(empty_pool, monkeypatch):
    """More hosts than cores and than the pool's bound, each on its own
    thread, with a short switch interval so the threads interleave: the
    pool keeps exactly ``_POOL_MAX`` idle connections, every evicted one
    is closed (the server sees only that many still open), and no host
    ever has two requests in flight."""
    monkeypatch.setattr(empty_pool, "_POOL_MAX", 4)
    n_hosts = 12
    web = _Hosts([0.005] * n_hosts)
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        urls = [f"{web.urls_of[h]}/page/{k}" for k in range(4)
                for h in range(n_hosts)]
        rows = empty_pool._fetch_all(urls, ["ua"] * len(urls), 5.0)
        assert [r[0] for r in rows] == [200] * len(urls)
        assert len(empty_pool._POOL) == 4
        assert set(web.max_inflight.values()) == {1}
        deadline = time.monotonic() + 5.0
        while web.open_conns > 4 and time.monotonic() < deadline:
            time.sleep(0.01)
        assert web.open_conns == 4
    finally:
        sys.setswitchinterval(interval)
        web.close()
